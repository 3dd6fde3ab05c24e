"""Tier-C tolerance tests for the approximate scale-path operators
(SURVEY.md §2.10 `dedup_minhash_lsh` + north-star SimHash / ANN):
each is checked against its exact counterpart on the fixtures.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyetl_spark.operators.knn import cosine_topk_bruteforce, cosine_topk_lsh
from pyetl_spark.operators.minhash import (
    lsh_candidate_pairs,
    minhash_near_dup_pairs,
    minhash_signature,
)
from pyetl_spark.operators.simhash import hamming64, simhash
from pyetl_spark.parity import phash60
from pyetl_spark.tables import load_tables
from tests.conftest import SF_ORACLE, SF_SMOKE


@pytest.fixture(scope="module")
def docs_tokens(spark):
    d = load_tables(spark, SF_ORACLE).documents
    return d.select(
        "doc_id",
        "lang",
        F.array_distinct(F.split("text", " ")).alias("tokens"),
    ).cache()


@pytest.fixture(scope="module")
def exact_pairs(spark, docs_tokens):
    """Ground truth: exact Jaccard >= 0.8 pairs (unblocked)."""
    a = docs_tokens.select(
        F.col("doc_id").alias("id_a"), F.col("tokens").alias("ta")
    )
    b = docs_tokens.select(
        F.col("doc_id").alias("id_b"), F.col("tokens").alias("tb")
    )
    jac = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_union("ta", "tb")
    ).cast("double")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
        .cache()
    )


def test_minhash_signature_deterministic(spark, docs_tokens):
    s1 = docs_tokens.select(
        "doc_id", minhash_signature(F.col("tokens"), 16, seed=7).alias("sig")
    )
    s2 = docs_tokens.select(
        "doc_id", minhash_signature(F.col("tokens"), 16, seed=7).alias("sig")
    )
    assert s1.exceptAll(s2).count() == 0
    # different seed → different signatures (overwhelmingly)
    s3 = docs_tokens.select(
        "doc_id", minhash_signature(F.col("tokens"), 16, seed=8).alias("sig")
    )
    assert s1.exceptAll(s3).count() > 0


def test_minhash_signature_sql_equals_column_form(spark, docs_tokens):
    """The compiled one-string SQL signature (`_signature_sql`, the
    production path inside `_banded` since the r11 build-cost trim) must
    be bit-identical to the public Column form — same hash family, same
    integer ops, same fold order. A drift here would silently re-band
    every corpus on the next ingest."""
    from pyetl_spark.operators.minhash import (
        _signature_sql,
        minhash_signature,
    )

    for num_hashes, seed in ((16, 7), (32, 42)):
        col_form = {
            r["doc_id"]: r["sig"]
            for r in docs_tokens.select(
                "doc_id",
                minhash_signature(
                    F.col("tokens"), num_hashes, seed=seed
                ).alias("sig"),
            ).collect()
        }
        sql_form = {
            r["doc_id"]: r["sig"]
            for r in docs_tokens.select(
                "doc_id",
                F.expr(_signature_sql("`tokens`", num_hashes, seed)).alias(
                    "sig"
                ),
            ).collect()
        }
        assert sql_form == col_form


def test_banded_factored_signature_equals_column_form(spark, docs_tokens):
    """`_banded` (r15: base token-hash array factored into its own
    projection so xxhash64 runs once per token, not once per minhash)
    must emit exactly the band hashes the public Column-form signature
    implies — same family, same fold order, same band slicing."""
    from pyetl_spark.operators.minhash import _banded, minhash_signature

    num_hashes, bands, seed = 32, 8, 42
    rows = num_hashes // bands
    sig = docs_tokens.select(
        F.col("doc_id").alias("_id"),
        minhash_signature(F.col("tokens"), num_hashes, seed=seed).alias(
            "_sig"
        ),
    )
    ref = sig.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(i), F.slice(F.col("_sig"), i * rows + 1, rows)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    got = _banded(docs_tokens, "doc_id", "tokens", num_hashes, bands, seed)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_banded_single_base_hash_pass(spark, docs_tokens):
    """Plan pin for the r15 factoring: the optimized `_banded` plan must
    evaluate the string-hash lambda (`xxhash64(lambda t...)`) exactly
    ONCE — CollapseProject must NOT inline the `_h` alias back into the
    32 affine folds (higher-order functions are interpreted, so an
    inline would re-hash every token 32×, the regression this pin
    guards). The band-key xxhash64 calls are literal/slice-based, not
    lambda-wrapped, so the needle is specific to the base pass."""
    from pyetl_spark.operators.minhash import _banded

    b = _banded(docs_tokens, "doc_id", "tokens", 32, 8, 42)
    plan = b._sc._jvm.PythonSQLUtils.explainString(
        b._jdf.queryExecution(), "formatted"
    )
    assert plan.count("xxhash64(lambda") == 1


def test_minhash_assign_self_keeps_degenerate_docs(spark):
    """Contract (form-agnostic, r15): null/empty token arrays can never
    pass the 0/0 Jaccard verify, and `minhash_dedup_assign` filters them
    out of banding entirely (F.size > 0) — they must fall through the
    final left join and keep themselves, whatever signature form
    `_banded` uses internally."""
    from pyetl_spark.operators.minhash import minhash_dedup_assign

    docs = spark.createDataFrame(
        [
            (1, ["a", "b", "c"]),
            (2, []),
            (3, None),
            (4, ["a", "b", "c"]),
        ],
        "doc_id long, tokens array<string>",
    )
    assign = {
        r["doc_id"]: r["keeper_id"]
        for r in minhash_dedup_assign(docs, threshold=0.8).collect()
    }
    assert assign[2] == 2 and assign[3] == 3
    assert assign[1] == 1 and assign[4] == 1


def test_minhash_lsh_recall_vs_exact(spark, docs_tokens, exact_pairs):
    """LSH with 32 hashes / 8 bands must recover >= 90% of true >=0.8
    pairs (S-curve: J=0.8, r=4, b=8 → P(candidate) ≈ 1-(1-0.41)^8 ≈ 0.985)
    and verification must keep precision exact."""
    got = minhash_near_dup_pairs(
        docs_tokens, threshold=0.8, num_hashes=32, bands=8
    ).select("id_a", "id_b")
    truth = exact_pairs
    n_truth = truth.count()
    if n_truth == 0:
        pytest.skip("fixture has no >=0.8 near-dup pairs at this SF")
    hits = got.intersect(truth).count()
    assert hits / n_truth >= 0.9
    # verified pairs are a subset of truth (exact-Jaccard verification)
    assert got.exceptAll(truth).count() == 0


def test_minhash_dedup_assign_cluster_recall(spark, docs_tokens, exact_pairs):
    """The scale contract (star edges + components) must agree with the
    exact all-pairs clustering: >=90% of true near-dup docs assigned a
    keeper != self, every keeper is a cluster minimum, and every doc gets
    exactly one row."""
    from pyetl_spark.operators.components import connected_components
    from pyetl_spark.operators.minhash import minhash_dedup_assign

    assign = minhash_dedup_assign(
        docs_tokens, threshold=0.8, num_hashes=32, bands=8
    ).cache()
    n_docs = docs_tokens.count()
    assert assign.count() == n_docs
    assert assign.select("doc_id").distinct().count() == n_docs
    # keeper is the min of its own cluster: keeper_id <= doc_id always
    assert assign.filter(F.col("keeper_id") > F.col("doc_id")).count() == 0

    truth = exact_pairs
    if truth.count() == 0:
        pytest.skip("fixture has no >=0.8 near-dup pairs at this SF")
    exact_comp = connected_components(truth, src="id_a", dst="id_b")
    true_losers = exact_comp.filter(
        F.col("node") != F.col("component")
    ).select(F.col("node").alias("doc_id"))
    got_losers = assign.filter(F.col("doc_id") != F.col("keeper_id")).select(
        "doc_id"
    )
    n_true = true_losers.count()
    hits = got_losers.intersect(true_losers).count()
    assert hits / n_true >= 0.9
    # no false dedup: every loser we emit is a true near-dup member
    assert got_losers.exceptAll(true_losers).count() == 0


def test_lsh_candidates_subquadratic(spark):
    """On a corpus of genuinely distinct docs the candidate set must be far
    below the full pair count. (The fixture documents share a 31-word
    vocabulary, making most pairs true near-dups — useless for a pruning
    assertion — so this test builds distinct synthetic docs.)"""
    rows = [
        (i, [f"tok{i}_{j}" for j in range(30)] + ["shared"])
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    n = 200
    cands = lsh_candidate_pairs(docs, num_hashes=32, bands=8).count()
    assert cands < n * (n - 1) / 2 * 0.05


def test_simhash_properties(spark, docs_tokens):
    """simhash is deterministic; hamming(x, x) = 0; near-identical token
    sets give small hamming."""
    sh = docs_tokens.select("doc_id", simhash(F.col("tokens")).alias("sh"))
    again = docs_tokens.select("doc_id", simhash(F.col("tokens")).alias("sh"))
    assert sh.exceptAll(again).count() == 0
    self_h = sh.select(hamming64(F.col("sh"), F.col("sh")).alias("h"))
    assert self_h.filter(F.col("h") != 0).count() == 0


def test_simhash_separates_disjoint_from_identical(spark):
    """Identical docs → hamming 0; token-disjoint docs → large hamming."""
    df = spark.createDataFrame(
        [
            (1, ["alpha", "beta", "gamma", "delta"]),
            (2, ["alpha", "beta", "gamma", "delta"]),
            (3, ["zeta", "eta", "theta", "iota"]),
        ],
        "doc_id long, tokens array<string>",
    )
    sh = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", simhash(F.col("tokens")).alias("sh")).collect()}
    assert sh[1] == sh[2]
    assert bin(sh[1] ^ sh[3]).count("1") > 10


@pytest.fixture(scope="module")
def vec_frames(spark):
    e = load_tables(spark, SF_ORACLE).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    probes = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    corpus = v.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("cand_vec")
    )
    return probes.cache(), corpus.cache()


def test_lsh_knn_recall_vs_bruteforce(spark, vec_frames):
    """SRP-LSH top-5 must recover a solid fraction of the exact top-5.

    With 16 bits / 4 bands on random (unclustered) N(0, .15) vectors the
    S-curve is unfavorable by construction — we assert recall >= 0.3 as a
    plumbing-correctness bound and, more importantly, that every returned
    neighbor's sim matches the exact sim (re-rank correctness)."""
    probes, corpus = vec_frames
    exact = cosine_topk_bruteforce(probes, corpus, k=5)
    approx = cosine_topk_lsh(probes, corpus, k=5, n_bits=16, bands=4)
    e_pairs = {(r["probe_id"], r["cand_id"]) for r in exact.collect()}
    a_rows = approx.collect()
    a_pairs = {(r["probe_id"], r["cand_id"]) for r in a_rows}
    assert len(e_pairs & a_pairs) / len(e_pairs) >= 0.3
    # re-ranked sims must equal the exact sims for the same pairs
    e_sims = {
        (r["probe_id"], r["cand_id"]): r["sim"] for r in exact.collect()
    }
    for r in a_rows:
        key = (r["probe_id"], r["cand_id"])
        if key in e_sims:
            assert abs(e_sims[key] - r["sim"]) < 1e-12


def test_simhash_df_equals_column_form(spark):
    """The Arrow-kernel simhash must equal the Column-fold form exactly
    (same majority semantics)."""
    from pyetl_spark.operators.simhash import simhash_df

    df = spark.createDataFrame(
        [
            (1, ["alpha", "beta", "gamma", "delta", "epsilon"]),
            (2, ["data", "engine", "query", "spark"]),
            (3, ["one"]),
        ],
        "doc_id long, tokens array<string>",
    )
    col_form = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", simhash(F.col("tokens")).alias("sh")
        ).collect()
    }
    df_form = {r["doc_id"]: r["sh"] for r in simhash_df(df).collect()}
    assert col_form == df_form


def _simhash_df_explode(docs, id_col="doc_id", tokens_col="tokens",
                        hash_fn=None):
    """Reference: the former ``simhash_df`` — explode to (id, token hash)
    rows, one groupBy with a 65-field struct(count, 64 bit sums)
    aggregate, then the 64-term majority fold."""
    exploded = docs.select(
        F.col(id_col).alias("_id"), F.explode(F.col(tokens_col)).alias("_t")
    ).select("_id", (hash_fn or F.xxhash64)(F.col("_t")).alias("_h"))
    counts = ", ".join(
        f"sum(cast((_h & shiftleft(1L, {j})) != 0 as long)) AS _c{j}"
        for j in range(64)
    )
    counted = exploded.groupBy("_id").agg(
        F.expr(f"struct(count(1) AS _n, {counts})").alias("_s")
    )
    majority = " | ".join(
        f"(CASE WHEN _s._c{j} * 2 > _s._n THEN shiftleft(1L, {j}) "
        "ELSE 0L END)"
        for j in range(64)
    )
    return counted.select(
        F.col("_id").alias(id_col), F.expr(majority).alias("sh")
    )


_SF001 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")

_HASH_FNS = pytest.mark.parametrize(
    "hash_fn", [None, phash60], ids=["xxhash64", "phash60"]
)


def _fingerprints(df):
    rows = df.collect()
    out = {r["doc_id"]: r["sh"] for r in rows}
    assert len(out) == len(rows)
    return out


@_HASH_FNS
@pytest.mark.parametrize("partitions", [1, 7])
def test_simhash_df_equals_explode_reference(spark, hash_fn, partitions):
    """Bit-identical to the former explode + struct-aggregate form on
    the sf0.01 documents, read as 1 and as 7 partitions."""
    from pyetl_spark.operators.simhash import simhash_df

    d = load_tables(spark, _SF001).documents
    docs = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    ).repartition(partitions)
    got = _fingerprints(simhash_df(docs, hash_fn=hash_fn))
    want = _fingerprints(_simhash_df_explode(docs, hash_fn=hash_fn))
    assert got == want
    assert len(got) == d.count()


@_HASH_FNS
def test_simhash_df_edge_rows_match_explode_reference(spark, hash_fn):
    """An empty and a null token array yield no fingerprint; a null
    token hash counts toward n but sets no bit."""
    from pyetl_spark.operators.simhash import simhash_df

    df = spark.createDataFrame(
        [
            (1, ["alpha", "beta", "gamma"]),
            (2, []),
            (3, None),
            (4, ["alpha", None, "beta"]),
            (5, [None]),
            (6, ["alpha", None]),
        ],
        "doc_id long, tokens array<string>",
    )
    # xxhash64 hashes a null token to its seed, phash60 to null: mask
    # nulls so both cases carry null token hashes
    fn = hash_fn or (
        lambda c: F.when(c.isNotNull(), F.xxhash64(c))
    )
    got = _fingerprints(simhash_df(df, hash_fn=fn))
    want = _fingerprints(_simhash_df_explode(df, hash_fn=fn))
    assert got == want
    assert set(got) == {1, 4, 5, 6}
    assert got[5] == 0


def test_simhash_df_plan_is_one_row_local_arrow_stage(spark):
    """No Generate, Exchange or HashAggregate node; one MapInArrow."""
    from pyetl_spark.operators.simhash import simhash_df

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["c"])], "doc_id long, tokens array<string>"
    )
    plan = simhash_df(df)._jdf.queryExecution().executedPlan().toString()
    for node in ("Generate", "Exchange", "HashAggregate"):
        assert node not in plan, plan
    assert plan.count("MapInArrow") == 1, plan


def test_dedup_simhash_query_call_runs_one_job(spark):
    """The query call's only job is hamming_band_pairs' eager
    localCheckpoint of the fingerprints (two with a shuffle before it)."""
    from pyetl_spark import registry

    registry.load_all()
    sc = spark.sparkContext
    registry.QUERIES["dedup_simhash"](spark, SF_SMOKE)  # warm
    sc.setJobGroup("dedup_simhash_build", "job-count pin")
    try:
        registry.QUERIES["dedup_simhash"](spark, SF_SMOKE)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("dedup_simhash_build")
    assert len(jobs) == 1, jobs


def test_approx_percentile_accuracy(spark):
    """GK sketches bound RANK error, not value error (the sketch returns a
    real sample; exact percentile interpolates between samples). Assert
    each approx quantile lies between the exact quantiles at q∓0.01 —
    generous vs the sketch's ~0.01% rank guarantee, robust to value gaps."""
    from pyetl_spark.registry import QUERIES, load_all

    load_all()
    o = load_tables(spark, SF_ORACLE).orders
    qs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    # same sketch expression the query runs (the query itself now returns
    # exact percentiles + the rank-tolerance flag; raw sketch values are
    # checked here)
    approx = {
        r["o_orderpriority"]: r
        for r in o.groupBy("o_orderpriority")
        .agg(
            *[
                F.approx_percentile(
                    "o_totalprice", F.lit(v), F.lit(10000)
                ).alias(k)
                for k, v in qs.items()
            ]
        )
        .collect()
    }
    flags = QUERIES["agg_approx_percentile"](spark, SF_ORACLE).collect()
    assert all(r["sketch_within_tol"] for r in flags)
    bounds = {
        r["o_orderpriority"]: r
        for r in o.groupBy("o_orderpriority")
        .agg(
            *[
                F.percentile("o_totalprice", max(v - 0.01, 0.0)).alias(f"{k}_lo")
                for k, v in qs.items()
            ],
            *[
                F.percentile("o_totalprice", min(v + 0.01, 1.0)).alias(f"{k}_hi")
                for k, v in qs.items()
            ],
        )
        .collect()
    }
    assert set(approx) == set(bounds)
    for prio, a in approx.items():
        b = bounds[prio]
        for k in qs:
            assert b[f"{k}_lo"] <= a[k] <= b[f"{k}_hi"], (
                prio, k, a[k], b[f"{k}_lo"], b[f"{k}_hi"],
            )


def test_hll_sketch_merge_accuracy(spark):
    """Merged per-nation HLL sketches estimate segment-level distinct
    customers within 3% of exact (HLL lgK default 12 → ~1.6% rse). The
    query now returns the exact count + a 5% tolerance flag (its r7
    oracle tier); this test recomputes the raw estimate at the tighter
    3% bar."""
    from pyetl_spark.registry import QUERIES, load_all

    load_all()
    c = load_tables(spark, SF_ORACLE).customer
    approx = {
        r["c_mktsegment"]: r["a"]
        for r in c.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.hll_sketch_agg("c_custkey").alias("sk"))
        .groupBy("c_mktsegment")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("a"))
        .collect()
    }
    exact = {
        r["c_mktsegment"]: r["n"]
        for r in c.groupBy("c_mktsegment")
        .agg(F.countDistinct("c_custkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for seg, a in approx.items():
        assert abs(a - exact[seg]) / exact[seg] < 0.03, (seg, a, exact[seg])
    flags = QUERIES["agg_hll_sketch_merge"](spark, SF_ORACLE).collect()
    assert flags and all(r["sketch_within_tol"] for r in flags)


def test_minhash_assign_adversarial_skew(spark):
    """The motivating degenerate case for the edge-construction design: a
    corpus that is 90% ONE near-identical cluster. Every LSH bucket of
    that cluster is giant; the all-pairs form would emit ~B²/2 pairs and
    a whole-bucket Window would sort it in one task. The contract here:
    candidate EDGES stay ≤ ~2·bands·n (star + salted chain + sub-hub
    chain), and the assignment still finds the one giant cluster."""
    from pyetl_spark.operators.minhash import (
        _banded,
        _candidate_edges,
        minhash_dedup_assign,
    )

    n, bands = 2000, 8
    base = [f"w{j}" for j in range(50)]
    rows = [
        # 90%: same 50-token body + one unique token → pairwise J ≈ 0.96
        (i, base + [f"u{i}"])
        if i < int(n * 0.9)
        # 10%: fully distinct vocabularies
        else (i, [f"d{i}_{j}" for j in range(30)])
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")

    banded = _banded(docs, "doc_id", "tokens", 32, bands, 42)
    edges = _candidate_edges(banded).count()
    # star ≤ bands·n, chain ≤ bands·n, sub-hub chain ≤ buckets·salt —
    # linear bound with headroom, vs ~13M for the in-bucket clique
    assert edges <= 2.2 * bands * n, edges

    assign = minhash_dedup_assign(
        docs, threshold=0.8, num_hashes=32, bands=bands
    ).cache()
    assert assign.count() == n
    giant = assign.filter(F.col("doc_id") < int(n * 0.9))
    # the whole near-identical block collapses to keeper 0
    assert giant.select("keeper_id").distinct().count() == 1
    assert giant.agg(F.min("keeper_id")).first()[0] == 0
    # the distinct tail never gets deduped
    tail = assign.filter(F.col("doc_id") >= int(n * 0.9))
    assert tail.filter(F.col("doc_id") != F.col("keeper_id")).count() == 0
    assign.unpersist()


def test_minhash_assign_degenerate_tokens_self_keep(spark):
    """Null-token and empty-token docs each keep THEMSELVES (r10 ADVICE
    fix): xxhash64 returns the bare seed for both null input and empty
    arrays, so an exact-set key over it alone would fuse every
    degenerate doc into one fake 'exact duplicate' bucket under the
    global-min id. minhash_dedup_assign excludes them from banding
    (including the exact-set band) outright — they can never pass the
    Jaccard verify — so each falls through the final left join and
    self-keeps, while real duplicates still merge via the exact-set
    band and near-dups still cluster."""
    from pyetl_spark.operators.minhash import minhash_dedup_assign

    base = [f"w{j}" for j in range(40)]
    rows = [
        (0, base),                 # \ exact dups -> keeper 0
        (1, list(reversed(base))),  # / (same token SET, any order)
        (2, base + ["x2"]),        # near-dup of 0 (J ~ 0.98) -> keeper 0
        (3, None),                 # null tokens  -> self-keep
        (4, None),                 # null tokens  -> self-keep (NOT 3)
        (5, []),                   # empty tokens -> self-keep
        (6, []),                   # empty tokens -> self-keep (NOT 5)
        (7, [f"d7_{j}" for j in range(30)]),  # distinct -> self-keep
    ]
    assign = {
        r.doc_id: r.keeper_id
        for r in minhash_dedup_assign(
            spark.createDataFrame(rows, "doc_id long, tokens array<string>"),
            threshold=0.8,
        ).collect()
    }
    assert assign == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 6, 7: 7}


def test_embedding_dedup_assign_recovers_clusters(spark):
    """SRP-banded embedding dedup must recover planted near-dup clusters:
    20 clusters of 8 members (center + small noise, pairwise cos > 0.98)
    among 100 spread singletons. Every cluster collapses to its min id;
    no singleton is merged into anything."""
    import math
    import random

    from pyetl_spark.operators.knn import embedding_dedup_assign

    rng = random.Random(7)
    dim = 64

    def rand_unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    vid = 0
    truth = {}  # vid -> cluster keeper
    for c in range(20):
        center = rand_unit()
        keeper = vid
        for _ in range(8):
            noisy = [x + rng.gauss(0, 0.01) for x in center]
            rows.append((vid, noisy))
            truth[vid] = keeper
            vid += 1
    for _ in range(100):
        rows.append((vid, rand_unit()))
        truth[vid] = vid
        vid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, e array<double>")

    got = {
        r["vec_id"]: r["keeper_id"]
        for r in embedding_dedup_assign(
            vecs, id_col="vec_id", vec_col="e", threshold=0.95,
            n_bits=32, bands=4, dim=dim,
        ).collect()
    }
    assert len(got) == len(truth)
    # singletons never merge (precision): random unit vectors in R^64
    # are nowhere near cos 0.95
    for v, k in truth.items():
        if v == k and truth.get(k) == k and v >= 160:
            assert got[v] == v
    # clusters collapse (recall): allow SRP to miss at most 1 of 160
    planted = [v for v in truth if v < 160]
    hits = sum(1 for v in planted if got[v] == truth[v])
    assert hits >= len(planted) - 1, (hits, len(planted))


def test_winnowing_dedup_partial_overlap(spark):
    """Winnowing dedup must catch ORDERED-SPAN overlap that token-set
    similarity understates: an edited copy sharing a long span clusters
    with its source; docs with disjoint vocabularies never merge; docs
    shorter than k+w-1 tokens keep themselves."""
    from pyetl_spark.operators.text import winnowing_dedup_assign

    span = " ".join(f"s{i}" for i in range(30))
    rows = [
        (0, span + " tailA tailB tailC"),
        (1, "headX headY " + span),               # shares the 30-token span
        (2, " ".join(f"d2_{i}" for i in range(30))),
        (3, " ".join(f"d3_{i}" for i in range(30))),
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["keeper_id"]
        for r in winnowing_dedup_assign(docs, threshold=0.5).collect()
    }
    assert got[0] == 0 and got[1] == 0, got    # span overlap clusters
    assert got[2] == 2 and got[3] == 3, got    # disjoint stay apart
    assert got[4] == 4, got                    # short doc keeps itself
    assert len(got) == 5


def test_minhash_incremental_matches_batch(spark, tmp_path):
    """The daily-ingest contract: building the corpus in two steps
    (batch dedup on part 1, then incremental assignment of part 2
    against the part-1 index) must agree with what batch dedup says
    about part-2 docs that near-duplicate part-1 keepers — and docs
    with fresh content must come back as their own (new) keepers."""
    import os

    from pyetl_spark.operators.minhash import (
        minhash_assign_incremental,
        minhash_dedup_assign,
        minhash_index,
    )

    base = [f"w{j}" for j in range(40)]
    fresh = [f"f{j}" for j in range(40)]
    part1 = [
        (0, base + ["a0"]), (1, base + ["a1"]),        # cluster -> keeper 0
        (2, [f"x{j}" for j in range(40)]),             # singleton
    ]
    part2 = [
        (10, base + ["a9"]),     # near-dup of the existing cluster -> 0
        (11, fresh + ["b0"]),    # genuinely new -> keeps itself
        (12, [f"y{j}" for j in range(40)]),            # new singleton
    ]
    d1 = spark.createDataFrame(part1, "doc_id long, tokens array<string>")
    d2 = spark.createDataFrame(part2, "doc_id long, tokens array<string>")

    assign1 = minhash_dedup_assign(d1, threshold=0.8)
    keepers = assign1.filter(F.col("doc_id") == F.col("keeper_id")).select(
        "doc_id"
    )
    kept = d1.join(keepers, "doc_id")
    # persist the index like a real pipeline would (parquet round-trip)
    idx_path = os.path.join(str(tmp_path), "minhash_index")
    minhash_index(kept).write.mode("overwrite").parquet(idx_path)
    index = spark.read.parquet(idx_path)

    got = {
        r["doc_id"]: r["keeper_id"]
        for r in minhash_assign_incremental(
            d2, index, kept, threshold=0.8
        ).collect()
    }
    assert got == {10: 0, 11: 11, 12: 12}, got

    # cross-check vs one-shot batch dedup over the union: doc 10 joins
    # the same cluster there too
    union_assign = {
        r["doc_id"]: r["keeper_id"]
        for r in minhash_dedup_assign(
            d1.unionByName(d2), threshold=0.8
        ).collect()
    }
    assert union_assign[10] == 0


def test_minhash_index_delta_closes_daily_ingest_loop(spark, tmp_path):
    """Three-day lifecycle: day-1 corpus builds the index; day-2 brings
    a novel doc (new keeper) whose band rows are appended via
    minhash_index_delta; day-3 brings an exact copy of the day-2 novel
    doc. WITH the append, day-3's copy maps to the day-2 keeper;
    without it, it would silently self-keep and the corpus would
    accumulate near-duplicates — the exact failure the helper closes.
    Also pins that the stamped parameter metadata survives the
    mixed-file (original + delta) parquet index, so the fail-fast
    parameter check keeps working after appends."""
    import os

    from pyetl_spark.operators.minhash import (
        minhash_assign_incremental,
        minhash_index,
        minhash_index_delta,
    )

    def toks(ns):
        return [f"{ns}:w{j}" for j in range(30)]

    corpus = spark.createDataFrame(
        [(i, toks(i)) for i in range(5)], "doc_id long, tokens array<string>"
    )
    idx_path = os.path.join(str(tmp_path), "idx_lifecycle")
    minhash_index(corpus).write.mode("overwrite").parquet(idx_path)

    # day 2: one dup of corpus doc 3, one novel doc 100
    day2 = spark.createDataFrame(
        [(100, toks(100)), (1003, toks(3))],
        "doc_id long, tokens array<string>",
    )
    index = spark.read.parquet(idx_path)
    assign2 = minhash_assign_incremental(day2, index, corpus)
    got2 = {r["doc_id"]: r["keeper_id"] for r in assign2.collect()}
    assert got2 == {100: 100, 1003: 3}

    # append ONLY the new keeper's band rows (the dup of 3 must not be
    # re-banded — the index holds keepers only)
    delta = minhash_index_delta(day2, assign2)
    assert delta.count() == 8  # bands rows for doc 100 alone
    # the DELTA ITSELF must carry the parameter stamp: a union with the
    # original index masks a missing stamp (Union takes the first
    # child's metadata), and a parquet read may sample the original
    # file's footer — this direct assertion is the only reliable pin
    dmeta = delta.schema["band_hash"].metadata
    assert dmeta["minhash.num_hashes"] == 32
    assert dmeta["minhash.bands"] == 8
    assert dmeta["minhash.seed"] == 42
    delta.write.mode("append").parquet(idx_path)

    # day 3: an exact copy of the day-2 NOVEL doc + a fresh novel doc.
    # corpus tokens for verification now include day-2's keeper.
    day3 = spark.createDataFrame(
        [(2100, toks(100)), (200, toks(200))],
        "doc_id long, tokens array<string>",
    )
    corpus_plus = corpus.unionByName(
        day2.filter(F.col("doc_id") == 100)
    )
    index2 = spark.read.parquet(idx_path)
    # the stamped params survived the mixed-file index
    assert index2.schema["band_hash"].metadata["minhash.bands"] == 8
    got3 = {
        r["doc_id"]: r["keeper_id"]
        for r in minhash_assign_incremental(
            day3, index2, corpus_plus
        ).collect()
    }
    assert got3 == {2100: 100, 200: 200}

    # and the fail-fast parameter check still fires on the appended index
    import pytest

    with pytest.raises(ValueError, match="does not match the index"):
        minhash_assign_incremental(day3, index2, corpus_plus, bands=4)


def test_minhash_incremental_param_mismatch_raises(spark, tmp_path):
    """(num_hashes, bands, seed) must match the index's build params —
    band hashes from different parameters never collide, so a mismatch
    would silently yield empty buckets and every doc would self-keep.
    `minhash_index` stamps its params into the band_hash field metadata
    (surviving the parquet round-trip a real pipeline does) and
    `minhash_assign_incremental` fails fast on a mismatch (r10 advisory,
    streaming/corpus.py run_neardup_ingest forwards these blind)."""
    import os

    import pytest

    from pyetl_spark.operators.minhash import (
        minhash_assign_incremental,
        minhash_index,
    )

    docs = spark.createDataFrame(
        [(0, [f"w{j}" for j in range(40)])],
        "doc_id long, tokens array<string>",
    )
    idx_path = os.path.join(str(tmp_path), "minhash_index_params")
    minhash_index(docs, num_hashes=32, bands=8, seed=42).write.mode(
        "overwrite"
    ).parquet(idx_path)
    index = spark.read.parquet(idx_path)

    # metadata survived the parquet round-trip
    meta = index.schema["band_hash"].metadata
    assert meta["minhash.num_hashes"] == 32
    assert meta["minhash.bands"] == 8
    assert meta["minhash.seed"] == 42

    for bad in (
        {"num_hashes": 16},
        {"bands": 4},
        {"seed": 7},
    ):
        with pytest.raises(ValueError, match="does not match the index"):
            minhash_assign_incremental(
                docs, index, docs, threshold=0.8, **bad
            )

    # an index projected without the stamped column can't be checked —
    # the call stays permissive (documented caller contract applies)
    bare = index.select(
        "keeper_id",
        "band_idx",
        F.col("band_hash").alias("band_hash", metadata={}),
    )
    assert (
        minhash_assign_incremental(docs, bare, docs, threshold=0.8).count()
        == 1
    )

    # a PARTIAL stamp (caller re-aliased keeping only some keys) is
    # equally uncheckable: permissive skip, never a KeyError
    partial = index.select(
        "keeper_id",
        "band_idx",
        F.col("band_hash").alias(
            "band_hash", metadata={"minhash.num_hashes": 32}
        ),
    )
    assert (
        minhash_assign_incremental(
            docs, partial, docs, threshold=0.8, num_hashes=16
        ).count()
        == 1
    )


def test_minhash_index_excludes_empty_and_null_token_docs(spark):
    """Empty/null token sets must NOT be banded into the index (r11
    advisory): their all-null signatures collapse into ONE shared band
    bucket, and because the incremental path appends each batch's empty
    self-keepers, that degenerate bucket would grow batch-over-batch —
    every future empty doc candidate-joining against all of it. Output
    was already correct (0/0 Jaccard never verifies); this pins the
    CANDIDATE-side exclusion, mirroring minhash_dedup_assign's."""
    from pyetl_spark.operators.minhash import (
        minhash_assign_incremental,
        minhash_index,
        minhash_index_delta,
    )

    docs = spark.createDataFrame(
        [
            (0, [f"w{j}" for j in range(30)]),
            (1, []),           # empty token set
            (2, None),         # null token set
        ],
        "doc_id long, tokens array<string>",
    )
    idx = minhash_index(docs)
    assert idx.count() == 8  # bands rows for doc 0 ONLY
    assert idx.filter(F.col("keeper_id") != 0).count() == 0

    # the delta path (rides minhash_index) excludes them the same way:
    # all three self-keep, but only doc 0 produces append rows
    assign = minhash_assign_incremental(
        docs, minhash_index(docs.limit(0)), docs.limit(0)
    )
    assert {
        r["doc_id"]: r["keeper_id"] for r in assign.collect()
    } == {0: 0, 1: 1, 2: 2}
    delta = minhash_index_delta(docs, assign)
    assert delta.count() == 8
    assert delta.filter(F.col("keeper_id") != 0).count() == 0


def test_banded_survives_backtick_and_space_column_names(spark):
    """The compiled `_signature_sql` path interpolates the token column
    NAME into SQL text; it must backtick-quote (and escape embedded
    backticks) the way F.col did before the r11 build-cost trim, so
    non-identifier names keep working (r11 advisory; same contract as
    operators/knn.py srp_signature)."""
    from pyetl_spark.operators.minhash import _banded, minhash_dedup_assign

    docs = spark.createDataFrame(
        [
            (0, [f"w{j}" for j in range(30)]),
            (1, [f"w{j}" for j in range(30)]),
            (2, [f"x{j}" for j in range(30)]),
        ],
        "doc_id long, tokens array<string>",
    )
    # space name: the whole operator path (F.col sites + compiled SQL)
    renamed = docs.withColumnRenamed("tokens", "my tokens")
    got = {
        r["doc_id"]: r["keeper_id"]
        for r in minhash_dedup_assign(
            renamed, tokens_col="my tokens", threshold=0.8
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 2}, got
    # backtick name: F.col cannot express it un-escaped anywhere, so the
    # operator-level contract stops at the SQL layer — `_banded` must
    # escape it rather than emit a parse error / mis-resolution
    plain = {
        (r["_id"], r["band_idx"]): r["band_hash"]
        for r in _banded(docs, "doc_id", "tokens", 32, 8, 42).collect()
    }
    ticked = {
        (r["_id"], r["band_idx"]): r["band_hash"]
        for r in _banded(
            docs.withColumnRenamed("tokens", "tok`ens"),
            "doc_id",
            "tok`ens",
            32,
            8,
            42,
        ).collect()
    }
    assert ticked == plain


def test_minhash_index_delta_param_mismatch_raises(spark, tmp_path):
    """minhash_index_delta optionally takes the TARGET index and fails
    fast when the append's (num_hashes, bands, seed) disagree with the
    index's stamp (r11 advisory): a mismatched append creates a
    mixed-parameter index that the probe-side check can miss (it reads
    whichever parquet footer the scan samples) — part of the index then
    silently yields empty buckets."""
    import os

    import pytest

    from pyetl_spark.operators.minhash import (
        minhash_assign_incremental,
        minhash_index,
        minhash_index_delta,
    )

    docs = spark.createDataFrame(
        [(0, [f"w{j}" for j in range(40)])],
        "doc_id long, tokens array<string>",
    )
    idx_path = os.path.join(str(tmp_path), "idx_delta_params")
    minhash_index(docs).write.mode("overwrite").parquet(idx_path)
    index = spark.read.parquet(idx_path)
    new = spark.createDataFrame(
        [(100, [f"n{j}" for j in range(40)])],
        "doc_id long, tokens array<string>",
    )
    assign = minhash_assign_incremental(new, index, docs)

    for bad in ({"num_hashes": 16}, {"bands": 4}, {"seed": 7}):
        with pytest.raises(ValueError, match="does not match the index"):
            minhash_index_delta(new, assign, index=index, **bad)

    # matching params pass the guard and produce the append rows
    assert minhash_index_delta(new, assign, index=index).count() == 8
    # omitting the index keeps the pre-r12 permissive contract
    assert minhash_index_delta(new, assign, bands=4).count() == 4


# --- count-min sketch ---------------------------------------------------------


def test_cms_overestimates_only_and_tightens_with_width(spark):
    """CMS contract on a colliding sketch: estimates NEVER undercount,
    and a wider sketch is (weakly) tighter. Width 16 over a 200-term
    vocabulary forces collisions; width 4096 should be near-exact."""
    from pyetl_spark.operators.sketches import cms_build, cms_estimate

    tokens = spark.range(20_000).select(
        F.concat(F.lit("t"), (F.col("id") % 200)).alias("token")
    )
    exact = tokens.groupBy("token").agg(F.count("*").alias("exact"))
    probes = exact.select("token")
    for width, tight in ((16, False), (4096, True)):
        sk = cms_build(tokens, depth=4, width=width)
        est = cms_estimate(probes, sk, depth=4, width=width)
        rows = est.join(exact, "token").collect()
        assert len(rows) == 200
        assert all(r["est_count"] >= r["exact"] for r in rows)
        if tight:
            assert all(r["est_count"] == r["exact"] for r in rows)


def test_cms_sketch_size_is_bounded(spark):
    """The sketch DataFrame never exceeds depth*width rows no matter the
    corpus — the property that makes it broadcastable."""
    from pyetl_spark.operators.sketches import cms_build

    tokens = spark.range(50_000).select(
        F.concat(F.lit("w"), F.col("id") % 10_000).alias("token")
    )
    sk = cms_build(tokens, depth=3, width=64)
    assert sk.count() <= 3 * 64


def test_cms_weighted_matches_unweighted(spark):
    """Weighted build over pre-aggregated (term, count) rows must equal
    the raw-stream build — integer sums are associative."""
    from pyetl_spark.operators.sketches import cms_build

    tokens = spark.range(5_000).select(
        F.concat(F.lit("x"), F.col("id") % 37).alias("token")
    )
    pre = tokens.groupBy("token").agg(F.count("*").alias("w"))
    raw = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in cms_build(tokens, depth=4, width=32).collect()
    }
    wtd = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in cms_build(pre, weight_col="w", depth=4, width=32).collect()
    }
    assert raw == wtd


# --- SemDeDup -----------------------------------------------------------------


def test_semdedup_drops_are_true_dups_and_cluster_complete(spark):
    """Every dropped vector must genuinely exceed tau cosine with its
    recorded representative (no false drops), and within any cluster the
    KEPT set must contain no pair above tau (cluster-scoped completeness
    — cross-cluster misses are the documented approximation)."""
    import numpy as np

    from pyetl_spark.operators.semdedup import semdedup_assign_exact

    e = load_tables(spark, SF_ORACLE).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    tau = 0.95
    out = semdedup_assign_exact(v, k=8, tau=tau, iters=2).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["e"], dtype=np.float64)
        for r in v.collect()
    }

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b / ((na or 1.0) * (nb or 1.0)))

    dropped = [r for r in out if not r["keep"]]
    for r in dropped:
        assert cos(vecs[r["vec_id"]], vecs[r["dup_of"]]) > tau
        assert r["dup_of"] < r["vec_id"]  # representative is earlier id
    # cluster-scoped completeness over the kept set
    from collections import defaultdict

    by_cell = defaultdict(list)
    for r in out:
        if r["keep"]:
            by_cell[r["cell"]].append(r["vec_id"])
    for ids in by_cell.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                assert cos(vecs[a], vecs[b]) <= tau, (a, b)


def test_semdedup_cell_cap_guard(spark):
    """A hot cluster beyond the cap must fail loudly (the documented
    re-quadratization guard), not OOM a task."""
    import pyspark

    from pyetl_spark.operators.semdedup import semdedup_assign_exact

    v = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("e"),  # all identical → 1 cell
    )
    with pytest.raises(pyspark.errors.PythonException, match="exceeds cap"):
        semdedup_assign_exact(v, k=2, tau=0.99, iters=1, cap=10).collect()


# --- MMR ----------------------------------------------------------------------


def test_mmr_select_prefers_diversity():
    """Hand-checkable pool: two near-identical high-relevance candidates
    and one distinct lower-relevance one — MMR must pick one of the twins
    then the distinct candidate, never both twins."""
    import numpy as np

    from pyetl_spark.operators.mmr import mmr_select

    rel = np.array([1.0, 0.99, 0.6])
    sim = np.array([[1.0, 0.999, 0.0], [0.999, 1.0, 0.0], [0.0, 0.0, 1.0]])
    ids = np.array([10, 11, 12])
    picks = [i for i, _ in mmr_select(rel, sim, ids, k=2, lam=0.5)]
    assert picks == [0, 2]


def test_mmr_rerank_matches_local_reference(spark):
    """The distributed applyInPandas path must reproduce the NumPy
    reference exactly for every probe (same vectors, same tiebreaks)."""
    import numpy as np

    from pyetl_spark import registry
    from pyetl_spark.operators.mmr import mmr_select

    registry.load_all()
    out = registry.QUERIES["vec_mmr_diversify"](spark, SF_ORACLE)
    got = [
        (r["probe_id"], r["cand_id"], r["mmr_rank"]) for r in out.collect()
    ]
    # rebuild the candidate pools exactly as the query does
    from pyetl_spark.operators.knn import cosine_topk_bruteforce

    e = load_tables(spark, SF_ORACLE).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    probes = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    corpus = v.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("cand_vec")
    )
    cands = (
        cosine_topk_bruteforce(probes, corpus, k=30)
        .select("probe_id", "cand_id", F.col("sim").alias("rel"))
        .join(corpus, "cand_id")
        .collect()
    )
    from collections import defaultdict

    pools = defaultdict(list)
    for r in cands:
        pools[r["probe_id"]].append(r)
    want = []
    for pid, rows in pools.items():
        rows.sort(key=lambda r: r["cand_id"])
        E = np.stack([np.asarray(r["cand_vec"]) for r in rows])
        norms = np.linalg.norm(E, axis=1)
        norms[norms == 0.0] = 1.0
        E = E / norms[:, None]
        picks = mmr_select(
            np.array([r["rel"] for r in rows]),
            E @ E.T,
            np.array([r["cand_id"] for r in rows]),
            k=10,
            lam=0.7,
        )
        for rank, (i, _) in enumerate(picks, 1):
            want.append((pid, rows[i]["cand_id"], rank))
    assert sorted(got) == sorted(want)


# --- exact substring spans ----------------------------------------------------


def test_exact_substring_spans_finds_planted_run(spark):
    """Two docs share an exact 12-token run; a third is disjoint. The
    k=8 span detector must flag exactly the sharing docs, and the merged
    cut range must cover the full planted run (k-window islands merge)."""
    from pyetl_spark.operators import __name__ as _  # noqa: F401
    from pyetl_spark import registry

    registry.load_all()
    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"one two three four {shared} five six"),
        (3, "totally different words " + " ".join(f"u{i}" for i in range(12))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # run the same plan as the declared query but over the planted frame
    import pyetl_spark.queries.llm_text as lt
    from unittest import mock

    class _T:
        documents = docs

    with mock.patch.object(lt, "load_tables", lambda s, d: _T()):
        out = lt.dedup_exact_substring_spans(spark, "ignored").collect()

    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    # doc 1: shared run occupies 0-based tokens 2..13 → k=8 windows start
    # at 2..6 → merged range [2, 13]
    (r1,) = by_doc[1]
    assert r1["cut_from_token"] == 2
    assert r1["cut_to_token"] == 13
    (r2,) = by_doc[2]
    assert r2["cut_from_token"] == 4
    assert r2["cut_to_token"] == 15


def test_exact_substring_spans_linear_no_pair_join(spark):
    """Plan lint: the span detector must contain no doc×doc join — its
    only joins are span-hash equi-joins (linear shapes)."""
    import contextlib
    import io

    from pyetl_spark import registry
    from tests.conftest import SF_ORACLE

    registry.load_all()
    df = registry.QUERIES["dedup_exact_substring_spans"](spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- weighted sampling --------------------------------------------------------


def test_weighted_sample_biases_toward_weight(spark):
    """Efraimidis-Spirakis property check: across 40 independent draws
    (seed folded into the hash), items with 9x weight must be included
    much more often than 1x items — and every draw is without
    replacement (k distinct ids)."""
    from collections import Counter

    n, k, draws = 200, 20, 40
    pop = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") < 20, 9.0).otherwise(1.0).alias("w"),
    )
    counts: Counter = Counter()
    for seed in range(draws):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"s{seed}-"), F.col("id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        u = (h + F.lit(1.0)) / F.lit(4503599627370496.0)
        keyed = pop.select("id", (F.log(u) / F.col("w")).alias("es"))
        ids = [r["id"] for r in keyed.orderBy(F.desc("es"), "id").limit(k).collect()]
        assert len(set(ids)) == k
        counts.update(ids)
    heavy = sum(counts[i] for i in range(20)) / 20.0
    light = sum(counts[i] for i in range(20, n)) / 180.0
    # expected inclusion ratio is well above 4x for 9x weights at this
    # sampling fraction; require a conservative 3x to avoid flakiness
    assert heavy > 3.0 * light, (heavy, light)


@pytest.mark.parametrize(
    "sf_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        # sf1 too: the canon sweeps gate these keys there, and a fixture
        # regen that breaks the property would otherwise first surface
        # as an unexplained sweep red instead of this pin
        "/root/repo/testdata_sf1",
    ],
)
def test_embedding_fixture_has_no_near_pairs(spark, sf_dir):
    """The property dedup_embedding_lsh's oracle rests on: the raw
    fixture slice (vec_id < 500) contains NO distinct pair at
    cosine >= 0.9 at any SF the sweeps run, so the only verified edges
    are the planted exact copies and the oracle's id arithmetic is the
    exact ground truth."""
    import os

    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    from pyetl_spark.operators.knn import _dot, _norm_sq

    e = (
        load_tables(spark, sf_dir)
        .embeddings.filter(F.col("vec_id") < 500)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
    )
    a = e.select(F.col("vec_id").alias("ia"), F.col("e").alias("ea"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("e").alias("eb"))
    sim = (
        _dot(F.col("ea"), F.col("eb"))
        / F.sqrt(_norm_sq(F.col("ea")))
        / F.sqrt(_norm_sq(F.col("eb")))
    )
    mx = (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .agg(F.max(sim).alias("mx"))
        .collect()[0]["mx"]
    )
    assert mx is not None and mx < 0.9, mx


def test_srp_signature_string_path_matches_column_path(spark):
    """The r9 F.expr compile of srp_signature (one parser call instead
    of ~n_bits×dim Py4J lit calls) must be bit-identical to the Column
    path it replaced, and must survive non-identifier column names the
    way F.col did (backtick quoting)."""
    from pyetl_spark.operators.knn import srp_signature

    df = spark.createDataFrame(
        [
            (i, [((i * 7 + j) % 5) - 2.0 for j in range(16)])
            for i in range(50)
        ],
        "id int, v array<double>",
    )
    fast = [
        r["s"]
        for r in df.select(srp_signature("v", 8, 16).alias("s"))
        .orderBy("id")
        .collect()
    ]
    slow = [
        r["s"]
        for r in df.select(srp_signature(F.col("v"), 8, 16).alias("s"))
        .orderBy("id")
        .collect()
    ]
    assert fast == slow
    weird = df.withColumnRenamed("v", "my vec")
    quoted = weird.select(
        srp_signature("my vec", 8, 16).alias("s")
    ).orderBy("id")
    assert [r["s"] for r in quoted.collect()] == fast


def test_namespaced_tokens_are_pairwise_disjoint(spark):
    """The property the r9 dedup_winnowing / dedup_minhash_incremental
    oracles rest on: id-namespaced tokens ("id:tok") never collide
    across distinct docs, so cross-doc Jaccard/containment is exactly 0
    and the only possible merges are the planted exact copies."""
    d = load_tables(spark, SF_ORACLE).documents.filter(
        F.col("doc_id") < 500
    )
    ns = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.array_distinct(F.split("text", " ")),
                lambda t: F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), t
                ),
            )
        ).alias("tok"),
    )
    worst = (
        ns.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .agg(F.max("n_docs"))
        .collect()[0][0]
    )
    assert worst == 1, worst


def test_winnowing_planted_copies_recovered(spark):
    """End-to-end on the declared dedup_winnowing query: every planted
    exact copy maps to its source, every base doc keeps itself."""
    from pyetl_spark.registry import QUERIES, load_all

    load_all()
    out = {
        r["doc_id"]: r["keeper_id"]
        for r in QUERIES["dedup_winnowing"](spark, SF_ORACLE).collect()
    }
    assert out, "empty result"
    for did, keeper in out.items():
        if did >= 200000:
            assert keeper == did - 200000, (did, keeper)
        elif did >= 100000:
            assert keeper == did - 100000, (did, keeper)
        else:
            assert keeper == did, (did, keeper)


def test_minhash_incremental_planted_copies_assigned(spark):
    """End-to-end on the declared dedup_minhash_incremental query: new
    natural docs (400-499) get new keepers, planted copies of corpus
    docs get their source's keeper through the prebuilt index."""
    from pyetl_spark.registry import QUERIES, load_all

    load_all()
    out = {
        r["doc_id"]: r["keeper_id"]
        for r in QUERIES["dedup_minhash_incremental"](
            spark, SF_ORACLE
        ).collect()
    }
    assert out, "empty result"
    n_planted = 0
    for did, keeper in out.items():
        if did >= 100000:
            assert keeper == did - 100000, (did, keeper)
            n_planted += 1
        else:
            assert 400 <= did < 500 and keeper == did, (did, keeper)
    assert n_planted == 20, n_planted  # 0,20,...,380


def test_embedding_lsh_planted_copies_recovered(spark):
    """End-to-end on the declared query: every planted exact copy maps
    to its original (keeper = min id of the identical-embedding group)
    and every un-copied original keeps itself."""
    from pyetl_spark.registry import QUERIES, load_all

    load_all()
    out = {
        r["vec_id"]: r["keeper_id"]
        for r in QUERIES["dedup_embedding_lsh"](spark, SF_ORACLE).collect()
    }
    assert out, "empty result"
    for vid, keeper in out.items():
        if vid >= 200000:
            assert keeper == vid - 200000, (vid, keeper)
        elif vid >= 100000:
            assert keeper == vid - 100000, (vid, keeper)
        else:
            assert keeper == vid, (vid, keeper)


def test_minhash_exact_set_band_alone_guarantees_identity_merge(
    spark, monkeypatch
):
    """The exact-set band IS the J=1.0 recovery guarantee (r10): with
    every minhash band suppressed — the worst case the band exists for,
    where interlopers (or here, an outright empty band frame) deny all
    8 probabilistic routes — identical token SETS must still merge
    through the exact-set bucket alone. Doc 1 repeats and reorders its
    tokens, so this also pins the band key's array_distinct+sort_array
    normalization (set semantics, matching the set-Jaccard verify);
    doc 2 is a distinct set and must self-keep. The planted Tier-A
    fixtures cannot isolate this band (identical sets share the
    minhash buckets too, and namespaced fixtures have no interlopers),
    which is why this pin exists."""
    from pyetl_spark.operators import minhash as MH

    real_banded = MH._banded

    def no_minhash_bands(
        docs,
        id_col,
        tokens_col,
        num_hashes,
        bands,
        seed,
        include_exact_set_band=False,
    ):
        # keep ONLY the exact-set band (band_idx == bands); since the
        # r15 fold it is emitted by _banded itself, so "suppress the
        # minhash bands" means dropping band_idx < bands rather than
        # emptying the whole frame. Fail loudly if a future caller in
        # this path stops requesting the exact band — the filter would
        # otherwise return an empty frame and the test would die with a
        # confusing identity-merge assertion (r15 ADVICE item 3).
        assert include_exact_set_band, (
            "stub expects the exact-set band to be requested"
        )
        return real_banded(
            docs,
            id_col,
            tokens_col,
            num_hashes,
            bands,
            seed,
            include_exact_set_band=include_exact_set_band,
        ).filter(F.col("band_idx") == bands)

    monkeypatch.setattr(MH, "_banded", no_minhash_bands)
    df = spark.createDataFrame(
        [
            (0, ["a", "b", "c"]),
            (1, ["c", "b", "a", "a"]),  # same SET, reordered, multiset
            (2, ["x", "y", "z"]),
        ],
        "doc_id long, tokens array<string>",
    )
    assign = {
        r.doc_id: r.keeper_id
        for r in MH.minhash_dedup_assign(df, threshold=0.8).collect()
    }
    assert assign == {0: 0, 1: 0, 2: 2}
