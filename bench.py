#!/usr/bin/env python
"""Benchmark harness (driver contract + BASELINE.md comparison).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "suite_seconds", "value": N, "unit": "sec",
     "queries": {"agg_groupby_pricing": s, ...}, "sf": 0.1}

The query set mirrors BASELINE.md's measured suite (Q1 shape, Q3 shape,
window top-k, JSON extract, tumbling window) plus this engine's LLM-pipeline
headliners, so BENCH_r{N}.json is directly comparable to both.

Methodology mirrors BASELINE.md's advice: ONE SparkSession for the whole
suite, a small warm-up to amortize codegen, per-query wall time around a
count()-style action (results are consumed, not collected to driver).
Per-query numbers are the MEDIAN of 3 warm runs (r7): robust to the
2-3 s run-to-run spread that best-of-2 let mask real regressions.

Two noise rules measured in r11 (EVIDENCE_r11.md) that any reader of a
BENCH diff needs:
- INTER-run noise floor ~8 s/14 % on the full suite: two back-to-back
  runs of an identical tree on a verified-quiet machine read 64.2 and
  56.2 s (per-key swings to 1.57x). The per-key median-of-3 bounds only
  INTRA-run noise; suite-level diffs inside that band are weather.
- Fresh-process isolated reruns (SPARK_GRAFT_ONLY — the auto-triage
  path) carry a JIT/codegen premium over in-suite medians (measured:
  graph_pagerank 5.7-6.0 s isolated vs 3.9 in-suite, same tree). They
  answer "is this regression suite-interference?" and must only be
  compared to OTHER isolated numbers, never to in-suite medians.

The first rule is ENFORCED here, not just documented (r12, VERDICT r11
item 2 — the r10→r11 drift investigation cost a round because a single
suite pass cannot see inter-run JVM drift): in full-suite mode the
suite ALWAYS runs a second pass in the same session, and the SHIPPED
per-key numbers are the per-key MIN of the two passes (r16, VERDICT
r15 item 1: machine contention only ever ADDS time, and the r15 driver
record could not distinguish 19 noise "regressions" on untouched code
from real ones — the min-of-two is the closest single-session estimate
of the quiet-machine truth). The r13 ratchet concern (ADVICE r12: a
min-of-two series reads low to a later single-pass run) is moot once
EVERY run ships min-of-two — the series is again like-for-like. Both
raw passes are preserved under "two_pass" in the detail file, and the
band check against the last driver record is still computed and
recorded under "noise_band". Subset runs (SPARK_GRAFT_ONLY — the
isolated-triage path) stay single-pass: their medians are only ever
compared to other isolated runs. SPARK_GRAFT_SINGLE_PASS=1 forces the
old single-pass behavior for quick local iteration (a flag set to 0,
false, no or the empty string counts as unset: ``env_flag``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyetl_spark import registry
from pyetl_spark.session import get_session

HEADLINE = [
    # BASELINE.md suite
    "agg_groupby_pricing",
    "join_multi_3way",
    "win_topk_per_group",
    "fn_json",
    "stream_tumbling_1h",
    # engine headliners (LLM pipeline + join surface)
    "dedup_exact",
    "text_top_terms",
    "vec_cosine_topk",
    "join_asof",
    "source_json_parse",
    # heavy-family regression sentinels (VERDICT r1 item 9): the scale
    # paths — MinHash banding, TF-IDF, SNM dedup, session windows, the
    # rollup cube — so a regression in any expensive family shows up in
    # the round-over-round BENCH diff, not just correctness
    "dedup_minhash_lsh",
    "text_tfidf_top_terms",
    "dedup_sorted_neighborhood",
    "stream_session",
    "agg_cube",
    "win_running_sum",
    "etl_latest_per_key",
    # r3: the full corpus pipeline + two-phase global rank, so the sf1
    # ratios below have same-suite sf0.1 denominators, and the new
    # winnowing dedup family's regression sentinel
    # r10: the corpus-pipeline sentinel now points at the full curation
    # funnel — pipeline_training_corpus_neardup became an id-bounded
    # planted Tier-A form (cost no longer scales with SF), the same move
    # dedup_winnowing made in r9; pipeline_curation_full runs the same
    # exact-dedup → MinHash → quality-gate chain over the NATURAL full
    # corpus (plus URL dedup and the learned gate), so the family's
    # scale regression stays visible round-over-round
    "pipeline_curation_full",
    "text_global_shuffle",
    # r9: the winnowing sentinel now points at the natural-corpus twin —
    # the hash-checked dedup_winnowing became an id-bounded planted form
    # whose cost no longer scales with SF
    "dedup_winnowing_corpus",
    # r3 additions: the new heavy families' regression sentinels — the
    # OHLC partial/final aggregate, the cascading multi-grain rollup,
    # the MERGE full-outer join, and clustered semantic dedup
    "ts_resample_ohlc",
    "events_rollup_multi_grain",
    "etl_merge_upsert",
    "text_semdedup",
    # r3 late additions: the explicit Bloom semi-join prefilter (build +
    # prefiltered join, SCALE shape 16) and the windowed point-in-time
    # training-example assembly (leakage-free feature join, Shape 4)
    "join_bloom_prefilter",
    "events_training_examples",
    # r4 additions: the distributed ECDF/prefix-sum family and the DSIR
    # importance-sampling pipeline — both exercise the two-phase
    # range-partition primitives whose regression would be silent in
    # correctness (same numbers, worse plan)
    "agg_ks_statistic",
    "text_importance_sample_dsir",
    "text_vocab_coverage",
    # r4 session 2: the TPC-H completion set — Q6 is the pure scan-
    # throughput probe (all-predicate pushdown, no join), Q9 the widest
    # star join in the suite (5-way); plus the iterative families'
    # sentinels (3-round label propagation, delta-maintained join view)
    "agg_forecast_revenue",
    "join_product_type_profit",
    "graph_label_propagation",
    "etl_incremental_join_view",
    # r4 session 3: the modern semi-structured surface — VARIANT parse +
    # typed path extraction (the schema-on-read ingest probe) and the
    # analyzer-inlined SQL-UDF aggregate (regression here would mean the
    # inlining broke and a call boundary appeared)
    "source_json_variant",
    "fn_sql_udf",
    # r5: the gaps-islands window chain (distinct→window→2 aggs on one
    # exchange), the Gopher rule scorecard (pure expression algebra over
    # documents), and the Arrow-native UDF boundary (its cost vs
    # udf_pandas_scalar above IS the boundary-overhead measurement)
    "win_gaps_islands",
    "text_gopher_rules",
    "udf_arrow_scalar",
    # r5 session 4: the newly oracle-checked sketch families' regression
    # sentinels — 60-bit simhash banding (explode + 64 flat bit-count
    # aggregates + band self-join), the CMS bounded aggregate, and the
    # SRP-LSH candidate index (signature + band join + exact re-rank)
    "dedup_simhash",
    "text_count_min_freq",
    "vec_ann_lsh",
    # r8: the exact-fold heavyweights (r7 verdict item 7) — PageRank is
    # the single most expensive key in the repo (iteration-bound; ~flat
    # in SF) and IVF is the flagship ANN build+search; both were
    # previously untracked round-over-round
    "graph_pagerank",
    "vec_ann_ivf",
    # r12: the composed IVF-PQ index (coarse fit + residual PQ fit +
    # ADC search) — the most expensive ANN build in the repo; tracked
    # so a regression in either composed half (or the residual pass
    # gluing them) is visible even if vec_ann_ivf/vec_pq stay flat.
    # r13 (VERDICT r12 item 4): _run_suite splits this entry into
    # vec_ann_ivfpq_build (single-run nightly-job number) +
    # vec_ann_ivfpq_search (median-of-3 serving number against the
    # persisted artifacts) — the recorded series changes key names
    # accordingly; r12's fused 8.6 s number = build + search.
    "vec_ann_ivfpq",
    # r9: the Arrow/mapInPandas heavyweight — the Python-worker data
    # path had no heavy sentinel (udf_arrow_scalar is sub-second), so a
    # regression in Arrow batch transfer or the mapInPandas machinery
    # was invisible round-over-round; sha256-chain decode + feature
    # fold over 5k binary payloads is the family's costliest member
    "multimodal_features",
]


# The 10× scaling spot-check (VERDICT r2 item 3): one measured point above
# sf0.1 so SCALE.md's per-shape linearity claims are empirical. Queries are
# the shapes whose scaling is argued hardest: partial/final agg, fact-fact
# shuffle join, MinHash banding + components, the full corpus pipeline,
# and the two-phase global rank.
SF1_QUERIES = [
    "agg_groupby_pricing",
    "join_multi_3way",
    "dedup_minhash_lsh",
    # r10: the corpus-pipeline 10× row follows the bench sentinel swap
    # (see HEADLINE) — the planted Tier-A pipeline_training_corpus_neardup
    # is id-bounded and deliberately does not scale with SF
    "pipeline_curation_full",
    "text_global_shuffle",
    # r3: the bloom prefilter's build+query cost must stay ~linear in the
    # dim/fact sizes — its whole pitch is cheapness relative to the join
    "join_bloom_prefilter",
    # r5 (VERDICT r4 item 6): the two remaining top-5-cost bench entries
    # without a 10×-data row — the 3-round iterative label propagation
    # (per-round edges⋈labels shuffle) and the k-means-bucketed semantic
    # dedup (centroid fit + bounded per-cluster windows)
    "graph_label_propagation",
    "text_semdedup",
    # r5 session 4: simhash's banded self-join — its signature build is
    # corpus-linear but the PAIR LISTING grows with cluster sizes (the
    # dup-heavy fixture makes this the worst-case shape; the assignment
    # form via dedup_components is the 100 TB output, see SCALE.md)
    "dedup_simhash",
    # r8 (VERDICT r7 item 7): sf1 ratios for the exact-fold heavyweights
    "graph_pagerank",
    "vec_ann_ivf",
]


def _latest_prior_bench() -> (
    tuple[int, dict[str, float], float, dict[str, float]] | None
):
    """(round, per-query medians, recorded sf, index-build timings) from
    the newest driver-recorded BENCH_r{N}.json — the comparison base for
    the regression auto-triage. The sf ride-along lets the caller skip
    triage when the current run uses a non-default SPARK_GRAFT_SF_DIR:
    comparing sf1 medians against sf0.1 priors would flag nearly every
    query and burn the whole triage budget on meaningless reruns.
    index_builds (r13, empty for pre-split records) feeds the BUILD
    regression check — the split moved the composed IVF-PQ build out of
    `queries`, and without this ride-along a build regression would
    escape all automated detection."""
    import glob
    import re

    best: tuple[int, dict[str, float], float, dict[str, float]] | None = None
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "BENCH_r[0-9]*.json")):
        m = re.search(r"BENCH_r0*(\d+)\.json$", path)
        if not m:
            continue
        n = int(m.group(1))
        if best is not None and n <= best[0]:
            continue
        try:
            with open(path) as fh:
                parsed = json.load(fh).get("parsed") or {}
            queries = parsed.get("queries") or {}
        except (OSError, json.JSONDecodeError):
            continue
        if queries:
            best = (
                n,
                {k: float(v) for k, v in queries.items()},
                float(parsed.get("sf", -1)),
                {
                    k: float(v)
                    for k, v in (parsed.get("index_builds") or {}).items()
                },
            )
    return best


def _isolated_rerun(key: str, timeout: float = 600.0) -> float | None:
    """Re-run one query in a fresh process (SPARK_GRAFT_ONLY) and return
    its isolated median, or None if the subprocess fails. ``timeout`` is
    capped by the caller to the REMAINING triage budget — a hung child
    must not push total triage wall past the documented bound."""
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
        detail = tf.name
    env = dict(os.environ)
    env["SPARK_GRAFT_ONLY"] = key
    env["SPARK_GRAFT_BENCH_DETAIL"] = detail
    try:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            timeout=timeout,
        )
        if r.returncode != 0:
            return None
        with open(detail) as fh:
            d = json.load(fh)
        # the ivfpq build half lands under index_builds, not queries;
        # explicit None check — `or` would misroute a legitimate 0.0
        v = d["queries"].get(key)
        if v is None:
            v = d.get("index_builds", {}).get(key)
        return v
    except Exception:
        return None
    finally:
        try:
            os.unlink(detail)
        except OSError:
            pass


def _sf1_dir() -> str | None:
    """testdata_sf1 lives in the repo (testdata/ is read-only) and is
    generated on demand — 84 MB of derived parquet has no business in
    git, so a fresh checkout rebuilds it deterministically (~30 s)."""
    here = os.path.dirname(os.path.abspath(__file__))
    d = os.environ.get(
        "SPARK_GRAFT_SF1_DIR", os.path.join(here, "testdata_sf1")
    )
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        import subprocess

        r = subprocess.run(
            [sys.executable, os.path.join(here, "scripts", "gen_sf1.py"), d],
            capture_output=True,
            text=True,
        )
        if r.returncode != 0:
            return None
    return d


# the measured inter-run suite noise band (EVIDENCE_r11.md: two
# identical-tree runs on a quiet machine differed 7.9 s / 14 %) — a
# pass-1 total within this band of the prior driver record is weather
# by measurement, outside it earns a confirming second pass
NOISE_BAND = 0.14


def _run_suite(
    spark, headline: list[str], sf_dir: str
) -> tuple[dict[str, float], dict[str, float], dict[str, float]]:
    """One full suite pass: per-key median-of-3 timings + intra-run
    spreads ((max-min)/median — the floor a round-over-round diff must
    exceed before it means anything; the r2→r3 "uniform slowdown" scare
    was exactly this noise). Third return: single-run index BUILD
    timings (vec_ann_ivfpq_build) — recorded separately because a
    nightly build amortizes over thousands of searches, so summing it
    into per-query suite seconds would misstate the serving shape."""
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    builds: dict[str, float] = {}
    for key in headline:
        # derived names accepted too so SPARK_GRAFT_ONLY (the triage
        # subprocess path) can target either half of the split directly
        if key in (
            "vec_ann_ivfpq",
            "vec_ann_ivfpq_build",
            "vec_ann_ivfpq_search",
        ):
            # r13 (VERDICT r12 item 4): measure the lifecycle the index
            # actually has at scale — the k-means + residual-PQ BUILD
            # once per suite pass (vec_ann_ivfpq_build, single-run: the
            # nightly-job number, still a round-over-round regression
            # sentinel for the composed fit), then median-of-3 of the
            # SEARCH against the persisted artifacts
            # (vec_ann_ivfpq_search: the serving number). r12 measured
            # build+search fused and re-fit the whole index three times
            # (8.6 s × 3) to get one sub-second search measurement.
            from pyetl_spark.queries.llm_scale import (
                ivfpq_bench_build,
                ivfpq_bench_search,
            )

            start = time.perf_counter()
            base = ivfpq_bench_build(spark, sf_dir)
            builds["vec_ann_ivfpq_build"] = round(
                time.perf_counter() - start, 3
            )
            if key == "vec_ann_ivfpq_build":
                # build-only triage target (r13 ADVICE): an isolated
                # rerun of the BUILD half must not pay the median-of-3
                # search leg for a number it would discard
                continue
            fn = ivfpq_bench_search(base)
            key = "vec_ann_ivfpq_search"
        else:
            fn = registry.QUERIES[key]
        runs = []
        # median-of-3 (r6 verdict item 9): best-of-2 let 2-3 s of
        # run-to-run spread mask real regressions on a ~47 s suite; the
        # median is robust to one outlier in either direction.
        for _ in range(3):
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            # noop sink: computes every output column (count() would let
            # Catalyst prune unprojected work), materializes nothing
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - start)
        med = sorted(runs)[len(runs) // 2]
        timings[key] = round(med, 3)
        spreads[key] = (
            round((max(runs) - min(runs)) / med, 2) if med > 0 else 0.0
        )
    return timings, spreads, builds


def main() -> None:
    # SPARK_GRAFT_ONLY=k1,k2 restricts the suite — used for the isolated
    # subset runs that separate per-query drift from suite-growth load
    # (VERDICT r3 item 3); sf1 is skipped in subset mode.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    headline = only.split(",") if only else HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1
    # cold start (VERDICT r2 item 9): the driver amortizes ONE session
    # across all of queries(), so a heavy import in load_all or a slow
    # session build would hide from per-query timings — measure it.
    t0 = time.perf_counter()
    spark = get_session("pyetl-spark-bench")
    registry.load_all()
    session_secs = time.perf_counter() - t0

    # warm-up: trigger codegen/classloading on a tiny slice of the plans
    t0 = time.perf_counter()
    registry.QUERIES["agg_groupby_pricing"](spark, sf_dir).limit(1).count()
    first_query_secs = time.perf_counter() - t0

    prior = None if only else _latest_prior_bench()
    if prior is not None and (prior[2] != sf or sf < 0):
        # prior round ran at a different sf — a median-vs-median diff is
        # meaningless, so no band check or triage at all (the detail
        # file still carries this run's own timings/spreads). sf < 0 is
        # the unknown-SF sentinel (dir name without "sf"): two unknowns
        # compare equal (-1 == -1) while the underlying data sizes may
        # differ, so unknown on either side also skips both.
        prior = None

    timings, spreads, builds = _run_suite(spark, headline, sf_dir)

    # r16 (VERDICT r15 item 1): the second pass is UNCONDITIONAL in
    # full-suite mode and the SHIPPED per-key numbers are the per-key
    # min of the two passes — contention only ever adds time, so the
    # min is the best single-session estimate of the quiet-machine
    # truth, and a one-pass cold/loaded sample can no longer print 19
    # spurious sub-second "regressions" on untouched code (the r15
    # scoreboard). Both raw passes are preserved in the detail record.
    two_pass: dict | None = None
    if only is None and not env_flag("SPARK_GRAFT_SINGLE_PASS"):
        t2, s2, b2 = _run_suite(spark, headline, sf_dir)
        two_pass = {
            "pass1_queries": dict(timings),
            "pass2_queries": dict(t2),
            "pass1_builds": dict(builds),
            "pass2_builds": dict(b2),
            "pass1_spreads": dict(spreads),
            "pass2_spreads": dict(s2),
        }
        timings = merge_min_of_two(timings, t2)
        # pass-2 rebuilds the index from the same deterministic inputs —
        # the BUILD series ships min-of-two under the same argument
        builds = merge_min_of_two(builds, b2)
        # spreads are diagnostics; ship the conservative (max) view
        spreads = {k: max(v, s2.get(k, v)) for k, v in spreads.items()}
    # the series the triage detector reads is exactly the shipped one
    triage_timings = timings

    # inter-run noise band check (VERDICT r11 item 2): recorded so a
    # reader can still see how the pass-1 total sat against the last
    # driver record (the band no longer gates the second pass — that is
    # unconditional now — but the drift diagnostic keeps its value).
    noise_band: dict | None = None
    band = float(os.environ.get("SPARK_GRAFT_NOISE_BAND", NOISE_BAND))
    if prior is not None:
        prior_q = prior[1]
        pass1_q = (
            two_pass["pass1_queries"] if two_pass is not None else timings
        )
        shared = [k for k in pass1_q if k in prior_q and prior_q[k] > 0]
        pri_total = sum(prior_q[k] for k in shared)
        cur_total = sum(pass1_q[k] for k in shared)
        if shared and pri_total > 0:
            rel = abs(cur_total - pri_total) / pri_total
            noise_band = {
                "band": band,
                "prior_round": prior[0],
                "shared_keys": len(shared),
                "shared_total_prior": round(pri_total, 3),
                "shared_total_pass1": round(cur_total, 3),
                "rel_diff_pass1": round(rel, 3),
                "second_pass": two_pass is not None,
            }
            if two_pass is not None:
                noise_band["shared_total_min2"] = round(
                    sum(timings[k] for k in shared if k in timings), 3
                )

    # regression auto-triage (VERDICT r8 item 4): any shared query whose
    # median moved >1.3x AND >0.3s vs the last driver-recorded round
    # re-runs once in a fresh isolated process — suite-interference
    # regressions (GC/JVM state) re-run at historical levels there,
    # real per-query regressions don't. r8's vec_ann_lsh slipped
    # through a manual triage that covered three other queries.
    # DETECT on triage_timings (pass-1, or min-of-two when a second
    # pass ran — so a spike the second pass already explained as
    # weather doesn't re-flag); the subprocess reruns happen AFTER
    # spark.stop() below so the parent JVM's heap isn't co-resident
    # with the child's (a memory-squeezed child would read as a fake
    # "real" regression).
    isolated: dict[str, dict[str, float | None]] = {}
    flagged: list[str] = []
    prior_all: dict[str, float] = {}
    candidates: dict[str, float] = {}
    if prior is not None:
        prior_n, prior_q, _prior_sf, prior_builds = prior
        # index builds face the same rule (r13: the build/search split
        # moved the composed IVF-PQ build out of `queries`, and without
        # this the repo's most expensive build had NO automated
        # regression detection). `builds` is already the shipped
        # min-of-two series in full-suite mode, mirroring the queries.
        candidates = {**triage_timings, **builds}
        prior_all = {**prior_q, **prior_builds}
        flagged = sorted(
            (
                k
                for k, v in candidates.items()
                if k in prior_all
                and prior_all[k] > 0
                and v > 1.3 * prior_all[k]
                and v - prior_all[k] > 0.3
            ),
            # worst regression first — the [:6] cost bound must never
            # drop the biggest mover just because it sits late in
            # HEADLINE (the exact escape this block exists to prevent)
            key=lambda k: candidates[k] / prior_all[k],
            reverse=True,
        )

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "run_spread": spreads,
        "sf": sf,
        "cold_start": {
            "session_secs": round(session_secs, 3),
            "first_query_secs": round(first_query_secs, 3),
        },
    }
    if builds:
        # index builds are nightly jobs amortized over many searches —
        # recorded first-class (single cold run each per pass, shipped
        # as min-of-two) but NOT summed into per-query suite seconds
        # (r13, VERDICT r12 item 4)
        out["index_builds"] = builds
    if two_pass is not None:
        out["two_pass"] = two_pass
    if noise_band is not None:
        out["noise_band"] = noise_band
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_detail_local.json"),
    )

    # sf1 spot-check (single run each — these are the big ones; the
    # comparison target is the sf0.1 timing of the SAME query, so the
    # interesting number is the ratio, not the absolute)
    sf1 = None if only else _sf1_dir()
    if sf1 is not None and not env_flag("SPARK_GRAFT_SKIP_SF1"):
        sf1_timings: dict[str, float] = {}
        for key in SF1_QUERIES:
            # best-of-2, not single-shot: this loop runs at the END of a
            # JVM that has churned through the whole suite, and a
            # one-off GC/compaction spike here fabricates a scaling
            # regression (measured r10: text_semdedup printed 8.4x in
            # one suite pass vs 1.8x isolated — identical code). The
            # min of two runs kills the spike while staying cheap.
            runs = []
            for _ in range(2):
                start = time.perf_counter()
                registry.QUERIES[key](spark, sf1).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - start)
            sf1_timings[key] = round(min(runs), 3)
        out["sf1"] = {
            "sf": 1.0,
            "queries": sf1_timings,
            "ratio_vs_sf01": {
                k: round(sf1_timings[k] / timings[k], 1)
                for k in sf1_timings
                if k in timings and timings[k] > 0
            },
        }

    # the suite's own JVM is done — release it BEFORE the triage
    # subprocesses so the isolated medians aren't biased by a
    # co-resident multi-GB parent heap
    spark.stop()
    # cost bounds: ≤6 subprocess runs AND ≤240s wall — a globally slow
    # machine flags MANY keys (every median inflates >1.3x) and the
    # triage must never put the driver's whole bench recording at risk
    triage_t0 = time.perf_counter()
    for k in flagged[:6]:
        remaining = 240 - (time.perf_counter() - triage_t0)
        if remaining <= 0:
            break
        isolated[k] = {
            "prior_round": prior_n,
            "prior": prior_all[k],
            # a flagged key is either a query median or an index build
            "suite": timings.get(k, builds.get(k)),
            # each child's timeout is the REMAINING budget, so one hung
            # child cannot stretch triage wall to 240s + its own 600s
            "isolated": _isolated_rerun(k, timeout=max(1.0, remaining)),
        }
    if isolated:
        out["isolated_reruns"] = isolated
    skipped = [k for k in flagged if k not in isolated]
    if skipped:
        # never silently drop a mover — the untriaged tail is recorded
        out["isolated_reruns_skipped"] = skipped

    # Two outputs (VERDICT r4 item 8): the driver preserves only a ~2 KB
    # stdout TAIL, and r4's full JSON line outgrew it (head truncated →
    # "parsed": null; r3's tail was progress-bar-polluted). So the full
    # record goes to a FILE and stdout carries ONE compact line that
    # fits the window: 2dp timings, spreads summarized to their max.
    with open(detail_path, "w") as fh:
        json.dump(out, fh, indent=1)
    compact = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "max_run_spread": max(spreads.values()) if spreads else 0.0,
        "detail_file": os.path.basename(detail_path),
    }
    if builds:
        compact["index_builds"] = {k: round(v, 2) for k, v in builds.items()}
    if "sf1" in out:
        compact["sf1_ratio_vs_sf01"] = out["sf1"]["ratio_vs_sf01"]
    if noise_band is not None:
        # the stdout line carries the verdict-facing summary; per-pass
        # key maps live in the detail file
        compact["noise_band"] = {
            k: noise_band[k]
            for k in (
                "rel_diff_pass1",
                "second_pass",
                "shared_total_prior",
                "shared_total_pass1",
                "shared_total_min2",
            )
            if k in noise_band
        }
    if isolated:
        compact["isolated_reruns"] = {
            k: v["isolated"] for k, v in isolated.items()
        }
    print(compact_stdout_line(compact))


def env_flag(name: str) -> bool:
    """Whether the environment switch ``name`` is on: set to anything
    but 0, false, no or the empty string (any case), so ``=0`` reads as
    off, the way a reader expects."""
    value = os.environ.get(name, "").strip().lower()
    return value not in ("", "0", "false", "no")


def merge_min_of_two(
    pass1: dict[str, float], pass2: dict[str, float]
) -> dict[str, float]:
    """Per-key min of two timing maps (keys come from pass1; a key the
    second pass somehow lacks keeps its pass-1 value). Contention only
    ever ADDS time, so the min is the best single-session estimate of
    the quiet-machine number — the shipped series since r16 (VERDICT
    r15 item 1)."""
    return {
        k: round(min(v, pass2[k]) if k in pass2 else v, 3)
        for k, v in pass1.items()
    }


def compact_stdout_line(compact: dict) -> str:
    # stay inside the driver's ~2 KB stdout tail window — but NEVER by
    # dropping "queries": the driver contract requires the per-query
    # map on the stdout line (r15 fix: the old overflow branch popped
    # "queries" itself, and the round's first run with isolated_reruns
    # + noise_band + sf1 ratios actually tripped it). Optional sections
    # go first, oldest-value last; everything stays in the detail file.
    line = json.dumps(compact, separators=(",", ":"))
    for optional in ("isolated_reruns", "sf1_ratio_vs_sf01", "noise_band"):
        if len(line) <= 1900:
            break
        compact.pop(optional, None)
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
