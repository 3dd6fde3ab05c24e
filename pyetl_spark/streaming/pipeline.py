"""Streaming pipeline builders (SURVEY.md §2.9 Tier C operators).

Each builder takes a *streaming* DataFrame and returns the transformed
streaming DataFrame (or, for sinks, starts the query). All are pure plan
constructors — tests own trigger/checkpoint lifecycle so micro-batch
boundaries stay deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyetl_spark.app import Sink, land
from pyetl_spark.operators.pyworker import worker_entry

#: JSON-lines schema for file-fed event streams (ts as ISO-8601 string in
#: the files, parsed to TimestampType here — FIXTURES.md Tier-C note).
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-arrival source ≙ Kafka topic (SURVEY §2.9 `stream_source_files`).

    ``maxFilesPerTrigger`` pins micro-batch boundaries for deterministic
    tests; production Kafka swaps this reader only.
    """
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def tumbling_agg(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """1-hour tumbling count+sum per event_type with event-time watermark
    (SURVEY §2.9 `stream_tumbling_1h` / `stream_watermark_late`). Late rows
    beyond the watermark are dropped by the state store GC."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """30-min windows sliding every 15 min (SURVEY §2.9 `stream_sliding`)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user with inactivity gap (SURVEY §2.9
    `stream_session`) — the built-in session_window operator; its batch
    gaps-and-islands twin is Tier-A oracle-checked."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Exactly-once-style dedup of replayed event_ids (SURVEY §2.9
    `stream_dedup`): state keeps one entry per event_id until the watermark
    passes — bounded state, unlike a global dropDuplicates."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_ANOMALY_STATE_SCHEMA = "n_errors long"
_ANOMALY_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_errors_total", LongType()),
        StructField("batch_errors", IntegerType()),
    ]
)


def stateful_anomaly_counter(events: DataFrame) -> DataFrame:
    """Arbitrary per-key state (SURVEY §2.9 `stream_stateful_custom`):
    running error-event counter per user via applyInPandasWithState.

    State is one long per user — executor-local, checkpointed, no driver
    involvement; the pattern generalizes to any per-key accumulator the
    built-in aggregates can't express.
    """

    @worker_entry
    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        batch_errors = 0
        for pdf in pdfs:
            batch_errors += int((pdf["event_type"] == "error").sum())
        (prev,) = state.get if state.exists else (0,)
        total = prev + batch_errors
        state.update((total,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_errors_total": [total],
                "batch_errors": [batch_errors],
            }
        )

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_ANOMALY_OUT_SCHEMA,
            stateStructType=_ANOMALY_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_EWMA_STATE_SCHEMA = "last_y double, n_seen long"
_EWMA_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ewma", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)


def stateful_ewma(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Streaming twin of operators/ewma.py: per-user exponential
    smoothing whose recurrence state (last smoothed value + count)
    carries ACROSS micro-batches via applyInPandasWithState — the shape
    for any "resume the recurrence where the last batch left off"
    operator (batch EWMA needs the whole history per key; the stream
    keeps one double per key instead).

    Within a batch, rows are sorted by event time and folded in order;
    state is (last_y, n_seen) per user — executor-local, checkpointed.
    Emits one row per (user, batch) with the post-batch smoothed value.
    """

    @worker_entry
    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        y, n = state.get if state.exists else (None, 0)
        for v in rows["value"]:
            v = float(v)
            y = v if y is None else alpha * v + (1.0 - alpha) * y
            n += 1
        state.update((y, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "ewma": [y], "n_seen": [n]}
        )

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_EWMA_OUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def foreach_batch_multi_sink(
    stream: DataFrame,
    parquet_path: str,
    json_path: str,
    checkpoint: str,
):
    """Per-micro-batch fan-out to two sinks (SURVEY §2.9
    `stream_foreachbatch_multisink`) — the streaming version of the
    reference's signature multi-destination write.

    Idempotency: ``app.land`` lands each batch under ``batch_id=N``
    partitions by dynamic partition overwrite, so replays after failure
    rewrite the same paths instead of duplicating — the engine-managed
    analog of the reference's temp-file + atomic-rename dance. The batch
    is persisted once and read by both sinks.
    """
    sinks = [Sink(parquet_path), Sink(json_path, fmt="json")]

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        land(batch_df, sinks, batch_id)

    return (
        stream.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, on: str = "user_id"
) -> DataFrame:
    """Stream-static join: enrich a stream against a batch dimension table
    (the reference's lookup-table pattern). The static side re-resolves per
    micro-batch, so slowly-changing dims pick up updates without restart;
    small dims broadcast into every batch."""
    return events.join(dim, on, "left")


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "10 minutes",
    interval_minutes: int = 30,
) -> DataFrame:
    """Stream-stream inner join on user_id within a bounded event-time
    interval (SURVEY §2.9 family completion).

    Both sides carry watermarks and the join condition bounds right.ts to
    [left.ts - interval, left.ts] — the bound + watermarks let the state
    store GC both buffers; an unbounded stream-stream join would retain
    state forever. Columns must be pre-aliased to avoid collisions.
    """
    lw = left.withWatermark("l_ts", watermark)
    rw = right.withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(
            f"INTERVAL {interval_minutes} MINUTES"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    return lw.join(rw, cond, "inner")


def stream_stream_interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "10 minutes",
    interval_minutes: int = 30,
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the unmatched-left rows
    question ("which errors had NO preceding purchase?") answered in a
    stream.

    Outer semantics in a stream are watermark-deferred by necessity: a
    left row can only be emitted null-padded once the watermark proves no
    matching right row can still arrive (right.ts bound + watermark), so
    unmatched outputs trail matched ones by up to watermark+interval —
    the correctness/latency trade every streaming outer join makes. Same
    state-GC contract as the inner form: the time bound lets both
    buffers evict."""
    lw = left.withWatermark("l_ts", watermark)
    rw = right.withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(
            f"INTERVAL {interval_minutes} MINUTES"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    return lw.join(rw, cond, "leftOuter")


def stateful_anomaly_counter_tws(events: DataFrame) -> DataFrame:
    """Spark 4 state-API twin of :func:`stateful_anomaly_counter`
    (`transformWithStateInPandas`): same per-user running error counter,
    rebuilt on the StatefulProcessor lifecycle (init → handleInputRows →
    close) with a named ValueState cell.

    Why both exist: applyInPandasWithState is the 3.x-era API; the
    processor form adds named state cells, timers, and TTL — the shape
    new stateful operators should take. Output parity between the twins
    is asserted in tests/test_streaming.py.

    Runtime needs: the TWS Python worker speaks protobuf to the JVM and
    the operator requires the RocksDB state-store provider — both gated
    at the test layer (protobuf isn't in this container; the operator
    itself builds fine and runs wherever Spark 4's full streaming deps
    are installed).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class ErrorCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState(
                "n_errors", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            batch_errors = 0
            for pdf in rows:
                batch_errors += int((pdf["event_type"] == "error").sum())
            prev = self._count.get()[0] if self._count.exists() else 0
            total = prev + batch_errors
            self._count.update((total,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_errors_total": [total],
                    "batch_errors": [batch_errors],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=ErrorCounter(),
            outputStructType=_ANOMALY_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def stream_scd2_enrich(
    events: DataFrame,
    scd2_dim: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Point-in-time enrichment against an SCD2 dimension — the streaming
    twin of the batch `join_point_in_time`: each event picks the dim
    version whose [valid_from, valid_to) interval covers the EVENT time,
    not the processing time (joining a type-1 "current" dim instead is the
    classic feature-leakage bug: replays and late events would see future
    attributes).

    Stream-static joins accept arbitrary non-equi conjuncts on the static
    side, so the interval predicate rides the same broadcast the plain
    enrichment uses; the static dim re-resolves per micro-batch, picking
    up SCD2 appends without restart. Versions must be non-overlapping per
    key (the SCD2 contract) — at most one match per event."""
    cond = (
        (events[on] == scd2_dim[on])
        & (events[ts_col] >= scd2_dim["valid_from"])
        & (events[ts_col] < scd2_dim["valid_to"])
    )
    return events.join(scd2_dim, cond, "left").drop(scd2_dim[on])


def windowed_topk_trending(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Hourly per-user event counts with watermark — the aggregation
    stage of the streaming top-k ("trending") pattern. Append output
    mode emits a window's rows exactly once, all together, when the
    watermark passes its end — which is the property the ranking stage
    below depends on."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )


def run_topk_trending(
    spark: SparkSession,
    src_path: str,
    out_path: str,
    checkpoint: str,
    k: int = 3,
    max_files_per_trigger: int | None = None,
):
    """Streaming top-k per window: sealed hourly windows are ranked in
    foreachBatch and the top-k users land in parquet. Rank-over-stream
    is not expressible as a streaming window function (ranks are not
    incrementally mergeable under late data); the correct decomposition
    is (1) a watermarked windowed aggregate in APPEND mode — so each
    window arrives in the ranking stage exactly once, complete — and
    (2) a per-batch row_number ranking of exactly those sealed windows.
    Replays after failure re-rank the same sealed rows and overwrite the
    same ``batch_id`` partitions (idempotent, same discipline as
    foreach_batch_multi_sink). At 100 TB the per-batch rank partitions
    by window — hundreds of rows per window after aggregation, never
    fact-sized."""
    from pyspark.sql import Window as W

    agg = windowed_topk_trending(
        read_events_stream(spark, src_path, max_files_per_trigger)
    )

    def rank_and_write(batch_df: DataFrame, batch_id: int) -> None:
        wnd = W.partitionBy("w").orderBy(
            F.desc("n_events"), F.asc("user_id")
        )
        top = (
            batch_df.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= k)
            .select(
                F.col("w.start").alias("window_start"),
                "user_id",
                "n_events",
                "rank",
            )
        )
        land(top, [Sink(out_path)], batch_id)

    return (
        agg.writeStream.foreachBatch(rank_and_write)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
