"""The two workloads: what one op is, how it is timed, how it is checked.

An op is one call the closed-loop client makes and waits for:

- ``QueryWorkload`` (llm_curation): one registry key —
  the query-function call (``queries`` layer: plan build plus the eager
  fits of ``operators/*``), then a ``noop`` write (``spark`` layer: the
  terminal execution).
- ``IngestWorkload`` (json_ingest): one availableNow run of
  ``streaming.corpus.run_corpus_ingest`` over the JSON feed into fresh
  corpus and quarantine sinks.

Checks run after the timed window. A failed check marks every call of
that op in the window as failed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

from tracing import add_counters, group_counters



def _digest(rows: list) -> list:
    return [len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()]


class QueryWorkload:
    def __init__(self, spark, data_dir: str, keys: list[str],
                 input_tables: tuple[str, ...], tracer):
        import pyarrow.parquet as pq

        from pyetl_spark import registry

        self.spark = spark
        self.data_dir = data_dir
        self.keys = keys
        self.tracer = tracer
        self.queries = registry.QUERIES
        self.oracles = registry.ORACLE
        self.warm_rows: dict[str, int] = {}
        # the workload's input size: rows of the tables its keys read
        self.input_rows = sum(
            pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet"))
            .metadata.num_rows
            for t in input_tables
        )

    def run_op(self, key: str, trace_id: str, traced: bool) -> dict:
        """Run one op; return its timings (and counters when traced)."""
        sc = self.spark.sparkContext
        span = self.tracer.span
        rec = {"op": key}
        with span("bench", key, trace_id):
            if traced:
                sc.setJobGroup(f"{trace_id}/build", key)
            t0 = time.perf_counter()
            with span("queries", key, trace_id):
                df = self.queries[key](self.spark, self.data_dir)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"{trace_id}/exec", key)
            with span("spark", "noop_write", trace_id):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, total_s=t2 - t0, df=df)
        if traced:
            rec["build"] = group_counters(self.spark, f"{trace_id}/build")
            rec["exec"] = group_counters(self.spark, f"{trace_id}/exec")
        return rec

    def after_warmup(self, recs: list[dict]) -> None:
        """Row counts the rows-only ops must reproduce (untimed)."""
        for rec in recs:
            key = rec["op"]
            if "df" in rec and key not in self.oracles:
                self.warm_rows[key] = rec["df"].count()

    def check(self, last_pass: list[dict]) -> dict[str, str | None]:
        """Per op: None when its output is right, else the reason.

        Re-runs the terminal plan of each op's DataFrame from the last
        timed pass (the fits inside the query call are not repeated).
        Keys with an oracle must equal it, run in DuckDB, after both are
        canonicalized by ``pyetl_spark.canon``; rows-only keys must repeat
        their warm-up row count. The checks are small latency-bound Spark jobs, so a few run
        at once.
        """
        from concurrent.futures import ThreadPoolExecutor

        frames = {r["op"]: r.get("df") for r in last_pass}
        with ThreadPoolExecutor(max_workers=4) as pool:
            reasons = pool.map(lambda k: self._check_op(k, frames), self.keys)
            return dict(zip(self.keys, reasons))

    def _check_op(self, key: str, frames: dict) -> str | None:
        from pyetl_spark.canon import canon_frame, frame_rows

        if key not in frames:
            return "no successful call in the last pass"
        try:
            df = frames[key]
            if key not in self.oracles:
                n = df.count()
                want = self.warm_rows.get(key)
                return None if n == want else f"rows {n} != warm-up rows {want}"
            got = _digest(frame_rows(canon_frame(df.toPandas())))
            want = self._oracle_digest(key)
            return None if got == want else (
                f"{got[0]} rows vs oracle {want[0]} (or values differ)"
            )
        except Exception as exc:  # a failing op is a measured outcome
            return f"{type(exc).__name__}: {exc}"[:300]

    def _oracle_digest(self, key: str) -> list:
        """(rows, sha256) of the key's canonical DuckDB oracle result,
        computed once per data set and oracle text, and kept beside the
        data."""
        import json

        sql = self.oracles[key]
        path = os.path.join(
            self.data_dir + "_oracle",
            f"{key}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json",
        )
        if os.path.isfile(path):
            with open(path) as fh:
                return json.load(fh)
        import duckdb

        from pyetl_spark.canon import canon_frame, frame_rows
        from pyetl_spark.tables import TABLE_NAMES

        with duckdb.connect() as duck:
            for name in TABLE_NAMES:
                duck.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.data_dir, name)}.parquet')"
                )
            digest = _digest(frame_rows(canon_frame(
                duck.execute(sql).df())))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(digest, fh)
        os.replace(path + ".tmp", path)
        return digest

    @staticmethod
    def layer_totals(recs: list[dict]) -> dict:
        """Per-pass layer numbers from traced op records."""
        t = {"build_s": 0.0, "exec_s": 0.0}
        build, exe = {}, {}
        for rec in recs:
            t["build_s"] += rec["build_s"]
            t["exec_s"] += rec["exec_s"]
            add_counters(build, rec["build"])
            add_counters(exe, rec["exec"])
        return {"times": t, "build": build, "exec": exe}


class IngestWorkload:
    def __init__(self, spark, feed_dir: str, feed_rows: int, feed_bytes: int,
                 out_root: str, files_per_trigger: int,
                 expected: tuple[int, int], tracer):
        self.spark = spark
        self.feed_dir = feed_dir
        self.input_rows = feed_rows
        self.feed_bytes = feed_bytes
        self.out_root = out_root
        self.files_per_trigger = files_per_trigger
        self.expected = expected
        self.tracer = tracer
        self.keys = ["run_corpus_ingest"]
        self.landed: list[tuple[int, int]] = []

    def run_op(self, key: str, trace_id: str, traced: bool) -> dict:
        from pyetl_spark.streaming.corpus import run_corpus_ingest

        base = os.path.join(self.out_root, trace_id.replace("/", "_"))
        shutil.rmtree(base, ignore_errors=True)
        corpus, quarantine = (os.path.join(base, d)
                              for d in ("corpus", "quarantine"))
        with self.tracer.span("bench", key, trace_id):
            t0 = time.perf_counter()
            with self.tracer.span("streaming", key, trace_id):
                q = run_corpus_ingest(
                    self.spark, self.feed_dir, corpus, quarantine,
                    os.path.join(base, "checkpoint"),
                    max_files_per_trigger=self.files_per_trigger,
                )
                q.awaitTermination()
            wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        rec = {
            "op": key,
            "total_s": wall,
            "build_s": 0.0,
            "exec_s": wall,
            "progress": [
                {"durationMs": p["durationMs"],
                 "numInputRows": p["numInputRows"],
                 "stateOperators": [
                     {"numRowsTotal": s["numRowsTotal"],
                      "memoryUsedBytes": s["memoryUsedBytes"]}
                     for s in p["stateOperators"]]}
                for p in progress
            ],
        }
        reader = self.spark.read
        rec["accepted"] = reader.parquet(corpus).count()
        rec["quarantined"] = reader.parquet(quarantine).count()
        files = sizes = 0
        for d in (corpus, quarantine):
            for dirpath, _, names in os.walk(d):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        sizes += os.path.getsize(os.path.join(dirpath, n))
        rec["files_written"], rec["bytes_written"] = files, sizes
        self.landed.append((rec["accepted"], rec["quarantined"]))
        if traced:
            rec["exec"] = group_counters(self.spark, str(q.runId))
        shutil.rmtree(base, ignore_errors=True)
        return rec

    def after_warmup(self, recs: list[dict]) -> None:
        pass

    def check(self, last_pass: list[dict]) -> dict[str, str | None]:
        """Every ingest run must land exactly ``expected`` (accepted,
        quarantined) rows: the feed's content is fixed and its watermark
        never drops a row, so the counts do not depend on the seed."""
        bad = [got for got in self.landed if got != self.expected]
        return {self.keys[0]: None if not bad else (
            f"landed {bad[0]} (accepted, quarantined), expected "
            f"{self.expected}"
        )}

    @staticmethod
    def layer_totals(recs: list[dict]) -> dict:
        rec = recs[0]
        dur = lambda k: sum(p["durationMs"].get(k, 0)  # noqa: E731
                            for p in rec["progress"])
        last = rec["progress"][-1]["stateOperators"] if rec["progress"] else []
        return {
            "times": {},
            "exec": rec["exec"],
            "streaming": {
                "batches": len(rec["progress"]),
                "batch_p50_ms": statistics.median(
                    p["durationMs"]["triggerExecution"]
                    for p in rec["progress"]),
                "add_batch_ms": dur("addBatch"),
                "planning_ms": dur("queryPlanning"),
                "offset_ms": dur("latestOffset") + dur("getBatch"),
                "commit_ms": dur("walCommit") + dur("commitOffsets"),
                "state_rows": sum(s["numRowsTotal"] for s in last),
                "state_mem_bytes": sum(s["memoryUsedBytes"] for s in last),
            },
            "sinks": {
                "files_written": rec["files_written"],
                "bytes_written": rec["bytes_written"],
                "accepted": rec["accepted"],
            },
        }
