"""Streaming distribution-drift monitor (Tier C): per-micro-batch
Population Stability Index against a frozen reference histogram.

PSI = Σ_i (p_i − q_i)·ln(p_i/q_i) over fixed buckets — the industry drift
metric for feature/score distributions (banking scorecard heritage; same
convention as the modern ML-monitoring stacks). Standard reading:
< 0.1 stable, 0.1–0.2 drifting, > 0.2 action. The batch member of this
family is `agg_ks_statistic` (exact two-sample KS); PSI is the streaming
choice because it is sketchable: ONE fixed-width histogram aggregate per
micro-batch — constant state, no sort, merges map-side — where a
streaming KS would need the full ECDF per window.

Design (all JVM expressions; foreachBatch owns the comparison):

1. ``reference_histogram`` — one batch aggregate over the training-time
   frame, collected to a python list (bucket shares). Bucket edges are
   FIXED at reference time (equal-width over [lo, hi) + two overflow
   buckets) — drift must move mass across frozen edges, never re-bin.
2. ``psi_foreach_batch`` — a foreachBatch stage: per micro-batch, the
   same bucket aggregate (tiny: n_buckets rows), then PSI computed
   driver-side against the reference (n_buckets floats — scalar work).
   Laplace-smoothed shares (+1 per bucket) keep ln() finite on empty
   buckets for BOTH sides.
3. Each batch appends one audit row (batch_id, n_rows, psi, flag) to a
   parquet ledger — the same idempotent per-batch-partition overwrite
   discipline as streaming/corpus.py, so crash-replay cannot double-count
   a batch.

At 100 TB-ingest scale the per-batch state is n_buckets longs per
executor before the final merge — the monitor's cost is one narrow
projection regardless of traffic.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.app import Sink, land

DEFAULT_BUCKETS = 20
#: PSI conventional thresholds: <0.1 stable, 0.1-0.2 drifting, >0.2 act.
PSI_ALERT = 0.2


def _bucket_expr(col, lo: float, hi: float, n_buckets: int):
    """Fixed-width bucket index with underflow→0 and overflow→n+1 —
    edges frozen at reference time (drift must cross edges, not re-bin)."""
    width = (hi - lo) / n_buckets
    raw = F.floor((col - F.lit(lo)) / F.lit(width)).cast("int") + 1
    return (
        F.when(col < lo, 0)
        .when(col >= hi, n_buckets + 1)
        .otherwise(raw)
    )


def reference_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = DEFAULT_BUCKETS,
) -> list[int]:
    """Frozen reference: COUNT per bucket (0..n_buckets+1), as a dense
    python list — the broadcast-sized monitor state."""
    rows = (
        df.select(
            _bucket_expr(F.col(value_col), lo, hi, n_buckets).alias("b")
        )
        .groupBy("b")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    counts = [0] * (n_buckets + 2)
    for r in rows:
        counts[r["b"]] = r["c"]
    return counts


def psi(ref_counts: list[int], cur_counts: list[int]) -> float:
    """Laplace-smoothed PSI between two aligned bucket-count vectors."""
    if len(ref_counts) != len(cur_counts):
        raise ValueError("bucket vectors must align (frozen edges)")
    rt = sum(ref_counts) + len(ref_counts)
    ct = sum(cur_counts) + len(cur_counts)
    out = 0.0
    for rc, cc in zip(ref_counts, cur_counts):
        p = (cc + 1) / ct
        q = (rc + 1) / rt
        out += (p - q) * math.log(p / q)
    return out


def psi_foreach_batch(
    value_col: str,
    lo: float,
    hi: float,
    ref_counts: list[int],
    ledger_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    alert: float = PSI_ALERT,
):
    """foreachBatch callable: per micro-batch bucket aggregate → PSI vs
    the frozen reference → one idempotent audit row in the parquet
    ledger (partitioned by batch_id; replay overwrites, never appends —
    the corpus.py exactly-once discipline)."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rows = (
            batch_df.select(
                _bucket_expr(F.col(value_col), lo, hi, n_buckets).alias("b")
            )
            .groupBy("b")
            .agg(F.count("*").alias("c"))
            .collect()
        )
        cur = [0] * (n_buckets + 2)
        n_rows = 0
        for r in rows:
            cur[r["b"]] = r["c"]
            n_rows += r["c"]
        score = psi(ref_counts, cur)
        audit = spark.createDataFrame(
            [(int(n_rows), float(score), score > alert)],
            "n_rows long, psi double, drift_alert boolean",
        )
        land(audit, [Sink(ledger_path)], batch_id)

    return _fn


def start_drift_monitor(
    stream: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    ref_counts: list[int],
    ledger_path: str,
    checkpoint: str,
    n_buckets: int = DEFAULT_BUCKETS,
):
    """Wire the monitor onto a streaming frame; caller owns the trigger
    and lifecycle (tests use availableNow + maxFilesPerTrigger)."""
    return (
        stream.writeStream.foreachBatch(
            psi_foreach_batch(
                value_col, lo, hi, ref_counts, ledger_path, n_buckets
            )
        )
        .option("checkpointLocation", os.path.join(checkpoint, "psi"))
        .start()
    )
