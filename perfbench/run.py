#!/usr/bin/env python3
"""Layer-attributed benchmark of the pyetl_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (each one process, one
closed-loop client on ``local[N]``, N = min(4, cores)):

- ``llm_curation``: simhash dedup, the Arrow multimodal features and the
  IVF ANN search (its k-means fit included), over the fixture tables; the
  work inside the query calls (plan build and eager fits) is most of each
  pass.
- ``json_ingest``: ``streaming.corpus.run_corpus_ingest`` over a JSON-lines
  feed (built from the documents table scaled 3x by
  ``scripts/gen_sf1.py``) into the corpus and quarantine parquet sinks;
  the foreachBatch sink writes are most of each run.

Tier-A SQL keys are not a workload here: ``bench.py`` already times them,
and a third workload's runs would not fit the time budget.

One run: build the inputs (once per checkout, under ``.perfbench_work/``),
set up (session, ``registry.load_all()``, the warm-up passes), run whole
passes until ``--seconds`` have passed (at least one), then check every
op's output. ``--workload all`` runs both in turn. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` alternates untraced and
traced passes, first and last untraced, and reports the per-layer
metrics, including the tracing overhead. The last stdout line is the JSON
result; the full record (per-op times, checks, calibration kernel, spans)
goes to ``.perfbench_work/records/``.

The host's speed drifts by up to 3x within minutes (other tenants share
its cores), and every op here slows with it. So a fixed calibration
kernel, which runs no pyetl_spark code, runs before the first timed op
and after every timed op, and ``wall_s`` (and ``rows_per_s`` with it) is
reported in reference seconds: each op's measured seconds x (the
kernel's reference time / the mean of its two runs around that op). The
kernel is of the workload's own kind (small batch SQL jobs, or a tiny
plain-Spark ingest), since the two kinds slow differently. A change that
alters session-wide Spark settings moves the kernel too, so judge such a
change on the raw time, which is printed and kept in the record.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
BASE_SF = 0.01
REPLICAS = 3
DATA = os.path.join(WORK, f"data-sf{BASE_SF}-x{REPLICAS}")
CORES = min(4, os.cpu_count() or 1)

WORKLOADS = ("llm_curation", "json_ingest")
LLM_KEYS = ["dedup_simhash", "multimodal_features", "vec_ann_ivf"]
FEED_ROWS = 4_000
FEED_FILES = 4
FILES_PER_TRIGGER = 2
#: (accepted, quarantined) rows the FEED_ROWS feed must land, for any seed
EXPECTED_LANDED = (1_778, 2_206)

#: per-layer metric -> (unit, better, the end-to-end metric it should move)
LAYER_METRICS = {
    "session.start_s": ("s", "lower", "setup_s, all workloads"),
    "registry.load_s": ("s", "lower", "setup_s, all workloads"),
    "queries.build_s": ("s", "lower", "wall_s, llm_curation"),
    "queries.build_jobs": ("count", "lower", "wall_s, llm_curation"),
    "queries.build_share": ("ratio", "lower", "wall_s, llm_curation"),
    "operators.build_result_bytes": (
        "bytes", "lower", "peak_rss_mb (run record), llm_curation"),
    "spark.exec_s": ("s", "lower", "wall_s, both workloads"),
    "spark.jobs": ("count", "lower", "wall_s, both workloads"),
    "spark.stages": ("count", "lower", "wall_s, both workloads"),
    "spark.tasks": ("count", "lower", "wall_s, both workloads"),
    "spark.input_bytes": ("bytes", "lower", "wall_s, both workloads"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "wall_s, both workloads"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "wall_s, both workloads"),
    "spark.spill_bytes": ("bytes", "lower", "wall_s, both workloads"),
    "spark.executor_run_ms": ("ms", "lower", "wall_s, both workloads"),
    "spark.executor_cpu_ms": ("ms", "lower", "wall_s, both workloads"),
    "spark.gc_ms": ("ms", "lower", "wall_s, both workloads"),
    "spark.slot_busy_ratio": ("ratio", "higher", "wall_s, all workloads"),
    "streaming.batches": ("count", "lower", "rows_per_s, json_ingest"),
    "streaming.batch_p50_ms": ("ms", "lower", "rows_per_s, json_ingest"),
    "streaming.add_batch_ms": ("ms", "lower", "rows_per_s, json_ingest"),
    "streaming.planning_ms": ("ms", "lower", "rows_per_s, json_ingest"),
    "streaming.offset_ms": ("ms", "lower", "rows_per_s, json_ingest"),
    "streaming.commit_ms": ("ms", "lower", "rows_per_s, json_ingest"),
    "streaming.state_rows": ("count", "lower",
                             "peak_rss_mb (run record), json_ingest"),
    "streaming.state_mem_bytes": ("bytes", "lower",
                                  "peak_rss_mb (run record), json_ingest"),
    "sinks.files_written": ("count", "lower", "rows_per_s, json_ingest"),
    "sinks.bytes_written": ("bytes", "lower", "rows_per_s, json_ingest"),
    "sinks.out_bytes_per_in_byte": ("ratio", "lower",
                                    "rows_per_s, json_ingest"),
    "sinks.landed_ratio": ("ratio", "higher", "correctness, json_ingest"),
    "trace.overhead_s": ("s", "lower", "none: traced minus untraced wall_s"),
}
#: untimed warm-up passes before the timed window: the ingest still
#: warms markedly over its first few runs
WARMUP_PASSES = {"llm_curation": 1, "json_ingest": 2}
#: the calibration kernel's typical time per workload on a 4-vCPU VM;
#: a kernel run that takes longer marks a slower moment of the machine
PROBE_REF_S = {"llm_curation": 0.25, "json_ingest": 2.3}
#: the kernel runs untimed at least twice, and for at least this long,
#: before the timed window
KERNEL_WARMUP_S = 3.0
END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
              "ok_ratio": "ratio"}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def ensure_data() -> None:
    """Build the fixture tables once per checkout (atomic rename)."""
    if os.path.isfile(os.path.join(DATA, "READY")):
        return
    import datagen

    tmp = f"{DATA}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.write_base(os.path.join(tmp, "base"), BASE_SF)
    datagen.replicate(ROOT, os.path.join(tmp, "base"),
                      os.path.join(tmp, "scaled"), REPLICAS)
    with open(os.path.join(tmp, "READY"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(DATA, ignore_errors=True)
    os.replace(tmp, DATA)


def isolate(run_dir: str) -> None:
    """Point every scratch path of Python, Spark and the JVM into
    ``run_dir`` (set before the JVM starts)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "PYETL_SCRATCH": tmp,
        "SPARK_GRAFT_CPUS": str(CORES),
        "PYETL_DRIVER_MEM": "2g",
        "PYETL_SHUFFLE_PARTITIONS": str(2 * CORES),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.local.dir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'wh')} "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    })
    import tempfile

    tempfile.tempdir = tmp


def peak_rss_mb(spark) -> float:
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm)) / 1024.0


def calibrate(spark, stream_dir: str | None = None) -> dict:
    """Fixed kernel that runs no pyetl_spark code: a pure-Python CPU loop,
    then a tiny SQL aggregate and a small shuffle, or, with ``stream_dir``,
    a tiny plain-Spark ingest of the same kind as ``json_ingest`` (two
    JSON files, two micro-batches, watermark dedup, a foreachBatch write
    to two parquet sinks, one partitioned), since the ingest slows with the machine
    differently from batch jobs."""
    spark.sparkContext.setJobGroup("calibration", "calibration kernel")
    t0 = time.perf_counter()
    acc = 0
    for i in range(100_000):
        acc += i * i
    t1 = time.perf_counter()
    if stream_dir is None:
        spark.range(0, 1_000_000, numPartitions=CORES).selectExpr(
            "sum(id % 7) AS s").collect()
        spark.range(0, 200_000, numPartitions=CORES).selectExpr(
            "id % 101 AS k").groupBy("k").count().collect()
    else:
        out = os.path.join(stream_dir, "out")

        def write(df, _):
            df.persist()
            df.filter("id % 2 = 0").selectExpr("*", "id % 5 AS part").write \
                .partitionBy("part").mode("append").parquet(
                    os.path.join(out, "even"))
            df.filter("id % 2 = 1").write.mode("append").parquet(
                os.path.join(out, "odd"))
            df.unpersist()

        q = (spark.readStream.schema("id LONG, ts TIMESTAMP, v STRING")
             .option("maxFilesPerTrigger", 1)
             .json(os.path.join(stream_dir, "src"))
             .withWatermark("ts", "1 hour").dropDuplicates(["v", "ts"])
             .writeStream.foreachBatch(write)
             .option("checkpointLocation", os.path.join(out, "checkpoint"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    t2 = time.perf_counter()
    if stream_dir is not None:
        shutil.rmtree(out)
    return {"cpu_loop_s": t1 - t0, "spark_s": t2 - t1, "total_s": t2 - t0}


def kernel_input(run_dir: str) -> str:
    """The stream kernel's two JSON-lines files; returns its directory."""
    stream_dir = os.path.join(run_dir, "kernel")
    src = os.path.join(stream_dir, "src")
    os.makedirs(src, exist_ok=True)
    for f in range(2):
        with open(os.path.join(src, f"part-{f}.json"), "w") as fh:
            for i in range(200):
                fh.write(json.dumps({
                    "id": f * 200 + i, "ts": f"2024-03-01T00:{i % 60:02d}:00Z",
                    "v": f"doc {i % 150}"}) + "\n")
    return stream_dir


def pass_order(keys: list[str], rng: random.Random) -> list[str]:
    """Seeded key order."""
    order = list(keys)
    rng.shuffle(order)
    return order


def run_pass(wl, order, tag, traced, failures, probe=None) -> list[dict]:
    """One pass over ``order``; ``probe()``, when given, runs after every
    op and its result is kept as the op's ``probe_s``."""
    recs = []
    for key in order:
        try:
            rec = wl.run_op(key, f"{tag}/{key}", traced)
        except Exception as exc:  # a failing op is a measured outcome
            rec = None
            failures.append({"op": key, "pass": tag,
                             "error": f"{type(exc).__name__}: {exc}"[:300]})
        if probe is not None:
            probe_s = probe()
            if rec is not None:
                rec["probe_s"] = probe_s
        if rec is not None:
            recs.append(rec)
    return recs


def layer_metrics(wl, traced_passes, untraced_wall, setup) -> dict:
    from workloads import IngestWorkload

    per_pass = []
    for recs in filter(None, traced_passes):
        lt = wl.layer_totals(recs)
        t, exe = lt["times"], lt["exec"]
        spark_all = dict(exe)
        for k, v in lt.get("build", {}).items():
            spark_all[k] = spark_all.get(k, 0) + v
        wall = sum(r["total_s"] for r in recs)
        m = {
            "queries.build_s": t.get("build_s", 0.0),
            "queries.build_jobs": lt.get("build", {}).get("jobs", 0),
            "queries.build_share": t.get("build_s", 0.0) / wall,
            "operators.build_result_bytes":
                lt.get("build", {}).get("result_bytes", 0),
            "spark.exec_s": t.get("exec_s", wall),
            "spark.spill_bytes": spark_all.get("memory_spill_bytes", 0)
            + spark_all.get("disk_spill_bytes", 0),
            "spark.executor_cpu_ms": spark_all.get("executor_cpu_ns", 0) / 1e6,
            "spark.slot_busy_ratio": spark_all.get("executor_run_ms", 0)
            / (wall * 1000.0 * CORES),
            "trace.wall_s": wall,
        }
        for k in ("jobs", "stages", "tasks", "input_bytes",
                  "shuffle_write_bytes", "shuffle_read_bytes",
                  "executor_run_ms", "gc_ms"):
            m[f"spark.{k}"] = spark_all.get(k, 0)
        st = lt.get("streaming", {})
        for k in ("batches", "batch_p50_ms", "add_batch_ms", "planning_ms",
                  "offset_ms", "commit_ms", "state_rows", "state_mem_bytes"):
            m[f"streaming.{k}"] = st.get(k, 0)
        sk = lt.get("sinks", {})
        m["sinks.files_written"] = sk.get("files_written", 0)
        m["sinks.bytes_written"] = sk.get("bytes_written", 0)
        if isinstance(wl, IngestWorkload):
            m["sinks.out_bytes_per_in_byte"] = (
                sk["bytes_written"] / wl.feed_bytes)
            m["sinks.landed_ratio"] = sk["accepted"] / wl.input_rows
        else:
            m["sinks.out_bytes_per_in_byte"] = 0.0
            m["sinks.landed_ratio"] = 0.0
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["trace.overhead_s"] = out.pop("trace.wall_s") - untraced_wall
    out["session.start_s"] = setup["session_s"]
    out["registry.load_s"] = setup["load_s"]
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pyetl_spark")) or not \
            os.path.isfile(os.path.join(ROOT, "scripts", "gen_sf1.py")):
        fail(f"no pyetl_spark/ and scripts/gen_sf1.py under {ROOT}; "
             "run from the root of a full checkout")
    if args.workload == "all":
        run_all(args)
        return
    run_dir = prepare()
    try:
        result = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def run_all(args) -> None:
    """Every workload in turn, each in its own process; the last line maps
    workload to result."""
    import subprocess

    results = {}
    for name in WORKLOADS:
        print(f"== {name}", flush=True)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        results[name] = json.loads(lines[-1]) if proc.returncode == 0 \
            else {"returncode": proc.returncode}
    print(json.dumps(results))


def prepare() -> str:
    """Inputs built, scratch paths isolated; returns this run's directory."""
    sys.dont_write_bytecode = True
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    ensure_data()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    return run_dir


def start(name: str, seed: int, run_dir: str, tracer):
    """Session, registry and workload: everything before the warm-up."""
    setup = {}
    with tracer.span("session", "get_session", "setup"):
        t0 = time.perf_counter()
        from pyetl_spark.session import get_session

        spark = get_session("perfbench")
        setup["session_s"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("registry", "load_all", "setup"):
        t0 = time.perf_counter()
        from pyetl_spark import registry

        registry.load_all()
        setup["load_s"] = time.perf_counter() - t0

    from workloads import IngestWorkload, QueryWorkload

    if name == "llm_curation":
        wl = QueryWorkload(spark, os.path.join(DATA, "base"),
                           LLM_KEYS,
                           ("documents", "embeddings"), tracer)
    else:
        import datagen

        feed_dir = os.path.join(run_dir, "feed")
        feed_bytes = datagen.write_feed(
            os.path.join(DATA, "scaled", "documents.parquet"), feed_dir,
            FEED_ROWS, FEED_FILES, seed)
        wl = IngestWorkload(spark, feed_dir, FEED_ROWS, feed_bytes,
                            os.path.join(run_dir, "ingest"),
                            FILES_PER_TRIGGER, EXPECTED_LANDED, tracer)
    return spark, wl, setup


def shutdown(spark) -> None:
    """Stop Spark and wait for its JVM, which exits once its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def bench(args, run_dir: str) -> dict:
    from tracing import Tracer

    rng = random.Random(args.seed)
    traced_run = bool(args.trace)
    tracer = Tracer(enabled=traced_run)
    spark, wl, setup = start(args.workload, args.seed, run_dir, tracer)

    failures: list[dict] = []
    tracer.enabled = False
    warm = []
    for w in range(WARMUP_PASSES[args.workload]):
        warm += run_pass(wl, pass_order(wl.keys, rng), f"warmup{w}", False,
                         failures)
    setup["warmup_s"] = sum(r["total_s"] for r in warm)
    setup["warmup_per_op_s"] = [(r["op"], r["total_s"]) for r in warm]
    setup_s = setup["session_s"] + setup["load_s"] + setup["warmup_s"]
    wl.after_warmup(warm)

    # the kernel warms up after the workload, so that it takes none of the
    # workload's cold start out of set-up
    stream_dir = kernel_input(run_dir) if args.workload == "json_ingest" \
        else None
    ref_s = PROBE_REF_S[args.workload]
    t0, runs = time.perf_counter(), 0
    while runs < 2 or time.perf_counter() - t0 < KERNEL_WARMUP_S:
        calib = {"probes": [calibrate(spark, stream_dir)]}
        runs += 1

    def probe() -> float:
        """Kernel time bracketing the op just run: the mean of the runs
        right before and right after it."""
        calib["probes"].append(calibrate(spark, stream_dir))
        return (calib["probes"][-2]["total_s"]
                + calib["probes"][-1]["total_s"]) / 2

    untraced, traced = [], []
    deadline = time.perf_counter() + args.seconds
    i = 0
    while True:
        trace_this = traced_run and i % 2 == 1
        tracer.enabled = trace_this
        recs = run_pass(wl, pass_order(wl.keys, rng), f"p{i}", trace_this,
                        failures, probe)
        (traced if trace_this else untraced).append(recs)
        i += 1
        # a traced run ends on an untraced pass, so the untraced passes
        # bracket the traced ones and the overhead is not the warming trend
        if time.perf_counter() >= deadline and (
                not traced_run or (traced and not trace_this)):
            break
    tracer.enabled = False

    t0 = time.perf_counter()
    checks = wl.check((untraced + traced)[-1] if untraced + traced else [])
    check_s = time.perf_counter() - t0
    rss = peak_rss_mb(spark)

    # per op: median over untraced passes; a pass's wall is their sum.
    # In reference seconds each call's time is scaled by how much slower
    # the calibration kernel ran around it than its reference time, so the
    # machine's speed of the moment cancels out.
    per_op: dict[str, list[float]] = {}
    per_op_ref: dict[str, list[float]] = {}
    for recs in untraced:
        for r in recs:
            per_op.setdefault(r["op"], []).append(r["total_s"])
            per_op_ref.setdefault(r["op"], []).append(
                r["total_s"] * ref_s / r["probe_s"])
    attempted = sum(len(wl.keys) for _ in untraced + traced)
    calls = {k: len(untraced) + len(traced) for k in wl.keys}
    failed_ops = {k for k, why in checks.items() if why}
    failed = sum(calls[k] for k in failed_ops) + sum(
        1 for f in failures if f["op"] not in failed_ops
        and not f["pass"].startswith("warmup"))
    wall = sum(statistics.median(v) for v in per_op.values())
    wall_ref = sum(statistics.median(v) for v in per_op_ref.values())
    # setup_s stays as measured: no kernel runs during set-up, and the
    # machine's speed moves within a minute. rows_per_s is the ingest
    # throughput on json_ingest; on the query workloads input_rows is a
    # constant, so there it is only 1 / wall_s
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_ref,
        "rows_per_s": wl.input_rows / wall_ref if wall_ref else 0.0,
        "ok_ratio": 1.0 - failed / attempted,
    }
    probe_s = statistics.median(p["total_s"] for p in calib["probes"])
    raw = {"wall_s": wall, "probe_s": probe_s}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": CORES,
        "setup": setup, "end_to_end": e2e, "raw": raw,
        "calibration": calib,
        "checks": checks, "check_s": check_s, "failures": failures,
        "passes": len(untraced) + len(traced), "peak_rss_mb": rss,
        "per_op_s": per_op, "per_op_ref_s": per_op_ref,
    }
    if traced_run and any(traced):
        layers = layer_metrics(wl, traced, sum(
            statistics.median(v) for v in per_op.values()), setup)
        metrics = {k: {"value": layers[k], "unit": LAYER_METRICS[k][0]}
                   for k in LAYER_METRICS}
        record["per_layer"] = layers
        record["layer_map"] = {k: v[2] for k, v in LAYER_METRICS.items()}
        for k, (unit, _, maps_to) in LAYER_METRICS.items():
            print(f"{k:32s} {layers[k]:>16.4f} {unit:6s} -> {maps_to}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
        for k, u in END_TO_END.items():
            print(f"{k:14s} {e2e[k]:>14.4f} {u}")
        print(f"{'fail_ratio':14s} {failed / attempted:>14.4f} ratio")
    print(f"raw wall_s {wall:.4f} s; "
          f"calibration kernel median {probe_s:.4f} s of "
          f"{len(calib['probes'])} (reference {ref_s} s)")
    for k, why in checks.items():
        if why:
            print(f"CHECK FAILED {k}: {why}")

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    stem = os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}-{int(time.time())}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if traced_run:
        ops = [{k: v for k, v in r.items() if k != "df"}
               for recs in traced for r in recs]
        tracer.dump(stem + ".trace.json", {"ops": ops,
                                           "calibration": calib})
    shutdown(spark)
    return {
        "correct": not failed_ops and not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    main()
