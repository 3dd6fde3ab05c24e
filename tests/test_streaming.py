"""Tier-C Structured Streaming tests (SURVEY.md §2.9, §5.2 layer 2).

Deterministic by construction: file-fed micro-batches (one file per
trigger run via availableNow + sequential restarts on one checkpoint),
never wall-clock triggers. Covers: file source, tumbling agg parity with
the batch analog, watermark late-row drop, within-watermark dedup,
session windows, custom per-key state, and foreachBatch multi-sink.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from perfbench.tracing import group_counters
from pyetl_spark.streaming import (
    dedup_within_watermark,
    foreach_batch_multi_sink,
    read_events_stream,
    session_agg,
    stateful_anomaly_counter,
    tumbling_agg,
)

BASE = "2024-01-01T{h:02d}:{m:02d}:00.000Z"


def _row(eid, h, m, user=1, etype="click", value=1.0):
    return {
        "event_id": eid,
        "ts": BASE.format(h=h, m=m),
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": '{"k": 1}',
    }


def _write_batch(dirpath, name, rows):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture
def scratch(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _run_available_now(sdf, checkpoint, out_name, spark, mode="append"):
    """Drain all currently-available files into a memory sink, then stop."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(out_name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {out_name}")


def _start_memory_query(sdf, checkpoint, out_name, mode="append"):
    """Long-lived memory-sink query; tests drive micro-batches by writing
    files then calling processAllAvailable() — state lives across batches
    inside the one run (memory sink cannot recover a checkpoint)."""
    return (
        sdf.writeStream.format("memory")
        .queryName(out_name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def test_file_source_tumbling_matches_batch(spark, scratch):
    """Streaming tumbling agg == batch groupBy(date_trunc) on same rows."""
    src = os.path.join(scratch, "src")
    rows = [_row(i, h=9 + i % 2, m=i % 50, value=2.0) for i in range(40)]
    _write_batch(src, "b1.json", rows)

    stream = read_events_stream(spark, src)
    out = _run_available_now(
        tumbling_agg(stream),
        os.path.join(scratch, "ck1"),
        "tumbling_out",
        spark,
    )
    # append mode emits only windows sealed by the watermark; drain once
    # more from a complete-history rerun using update-free comparison:
    got = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in out.collect()
    }
    batch = spark.read.json(
        spark.sparkContext.parallelize([json.dumps(r) for r in rows])
    ).withColumn("ts", F.to_timestamp("ts"))
    expect = {
        (r["h"], r["event_type"]): r["n"]
        for r in batch.groupBy(
            F.hour("ts").alias("h"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # sealed windows in the stream must match the batch truth exactly
    for k, v in got.items():
        assert expect[k] == v


def test_watermark_drops_late_rows(spark, scratch):
    """Rows older than watermark (10 min) behind max event time are dropped
    from already-advanced state on the next batch."""
    src = os.path.join(scratch, "src")
    ck = os.path.join(scratch, "ck")

    # batch 1: events up to 12:59 → watermark advances to 12:49
    _write_batch(
        src, "b1.json", [_row(i, h=12, m=50 + i % 10) for i in range(20)]
    )
    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    q = _start_memory_query(
        tumbling_agg(stream, watermark="10 minutes"), ck, "wm_out"
    )
    q.processAllAvailable()

    # batch 2: one very late row (hour 10, > watermark behind) + on-time
    # rows far ahead (hour 14) that seal the hour-12 window
    _write_batch(
        src,
        "b2.json",
        [_row(100, h=10, m=0)] + [_row(101 + i, h=14, m=i) for i in range(3)],
    )
    q.processAllAvailable()
    q.stop()

    sealed = spark.sql("SELECT * FROM wm_out").collect()
    by_hour = {r["window_start"].hour: r["n_events"] for r in sealed}
    # hour-12 window sealed with its 20 on-time rows; the late hour-10 row
    # must NOT have created or joined any window
    assert by_hour.get(12) == 20
    assert 10 not in by_hour


def test_dedup_within_watermark(spark, scratch):
    """Replayed event_ids inside the watermark are emitted exactly once."""
    src = os.path.join(scratch, "src")
    rows = [_row(i % 5, h=9, m=i) for i in range(15)]  # ids 0-4 replayed 3x
    _write_batch(src, "b1.json", rows)
    out = _run_available_now(
        dedup_within_watermark(read_events_stream(spark, src)),
        os.path.join(scratch, "ck"),
        "dedup_out",
        spark,
    )
    ids = [r["event_id"] for r in out.collect()]
    assert sorted(ids) == [0, 1, 2, 3, 4]


def test_session_window_stream(spark, scratch):
    """Two bursts 40 min apart → two sessions for the user."""
    src = os.path.join(scratch, "src")
    rows = [_row(i, h=9, m=i) for i in range(5)] + [
        _row(10 + i, h=10, m=i) for i in range(3)
    ]
    # close sessions: push watermark far forward with a sentinel user
    rows += [_row(99, h=13, m=0, user=2)]
    _write_batch(src, "b1.json", rows)
    out = _run_available_now(
        session_agg(read_events_stream(spark, src)),
        os.path.join(scratch, "ck"),
        "sess_out",
        spark,
    )
    sessions = [r for r in out.collect() if r["user_id"] == 1]
    assert len(sessions) == 2
    assert sorted(s["n_events"] for s in sessions) == [3, 5]


def test_stateful_custom_counter(spark, scratch):
    """Per-user error counter accumulates across micro-batches via
    applyInPandasWithState."""
    src = os.path.join(scratch, "src")
    ck = os.path.join(scratch, "ck")
    _write_batch(
        src,
        "b1.json",
        [_row(i, h=9, m=i, user=7, etype="error") for i in range(4)]
        + [_row(10, h=9, m=30, user=7, etype="click")],
    )
    q = _start_memory_query(
        stateful_anomaly_counter(
            read_events_stream(spark, src, max_files_per_trigger=1)
        ),
        ck,
        "state_out",
        mode="update",
    )
    q.processAllAvailable()
    r1 = {
        r["user_id"]: r["n_errors_total"]
        for r in spark.sql("SELECT * FROM state_out").collect()
    }
    assert r1[7] == 4

    _write_batch(
        src,
        "b2.json",
        [_row(20 + i, h=10, m=i, user=7, etype="error") for i in range(2)],
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM state_out").collect()
    # update mode appends one row per batch; the latest total must be 6
    assert max(r["n_errors_total"] for r in rows if r["user_id"] == 7) == 6


def test_foreachbatch_multi_sink(spark, scratch):
    """One stream lands in parquet AND json with batch_id idempotency keys
    — the streaming version of the reference's multi-destination write."""
    src = os.path.join(scratch, "src")
    pq = os.path.join(scratch, "pq")
    js = os.path.join(scratch, "js")
    rows = [_row(i, h=9, m=i % 60) for i in range(25)]
    _write_batch(src, "b1.json", rows)

    q = foreach_batch_multi_sink(
        read_events_stream(spark, src),
        pq,
        js,
        os.path.join(scratch, "ck"),
    )
    q.awaitTermination(120)

    pq_back = spark.read.parquet(pq)
    js_back = spark.read.json(js)
    assert pq_back.count() == 25
    assert js_back.count() == 25
    assert "batch_id" in pq_back.columns


def test_foreachbatch_multi_sink_reads_batch_once(spark, scratch):
    """Both sinks share one materialization of the micro-batch (the
    ``app.land`` persist): two write jobs, and input within 15 % of the
    source bytes — cached-block reads are counted as input too."""
    src = os.path.join(scratch, "src")
    rows = [_row(i, h=9, m=i % 60) for i in range(20_000)]
    for i in range(4):
        _write_batch(src, f"b{i}.json", rows[i * 5_000:(i + 1) * 5_000])
    src_bytes = sum(
        os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)
    )
    q = foreach_batch_multi_sink(
        read_events_stream(spark, src),
        os.path.join(scratch, "pq"),
        os.path.join(scratch, "js"),
        os.path.join(scratch, "ck"),
    )
    q.awaitTermination(120)
    c = group_counters(spark, str(q.runId))
    assert spark.read.parquet(os.path.join(scratch, "pq")).count() == 20_000
    assert c["jobs"] == 2, c
    assert c["input_bytes"] <= 1.15 * src_bytes, (c, src_bytes)


def test_sliding_window_stream(spark, scratch):
    """Every event lands in exactly two 30-min/15-min sliding windows
    (stream twin of the Tier-A `stream_sliding` batch analog)."""
    from pyetl_spark.streaming import sliding_agg

    src = os.path.join(scratch, "src")
    rows = [_row(i, h=9, m=i % 60) for i in range(30)]
    # sentinel far ahead so the watermark seals all hour-9 windows
    rows += [_row(999, h=13, m=0, user=2)]
    _write_batch(src, "b1.json", rows)
    out = _run_available_now(
        sliding_agg(read_events_stream(spark, src)),
        os.path.join(scratch, "ck"),
        "slide_out",
        spark,
    )
    sealed = [r for r in out.collect() if r["window_start"].hour < 13]
    # 30 events × 2 windows each
    assert sum(r["n_events"] for r in sealed) == 60


def test_foreachbatch_checkpoint_recovery_exactly_once(spark, scratch):
    """Restarting the foreachBatch query from its checkpoint must process
    only NEW files — no reprocessing, no duplicate rows (the engine-managed
    analog of the reference's offset-commit loop)."""
    src = os.path.join(scratch, "src")
    pq = os.path.join(scratch, "pq")
    js = os.path.join(scratch, "js")
    ck = os.path.join(scratch, "ck")

    _write_batch(src, "b1.json", [_row(i, h=9, m=i % 60) for i in range(10)])
    q1 = foreach_batch_multi_sink(
        read_events_stream(spark, src), pq, js, ck
    )
    q1.awaitTermination(120)
    assert spark.read.parquet(pq).count() == 10

    # second run, same checkpoint: only the new file is processed
    _write_batch(
        src, "b2.json", [_row(100 + i, h=10, m=i % 60) for i in range(7)]
    )
    q2 = foreach_batch_multi_sink(
        read_events_stream(spark, src), pq, js, ck
    )
    q2.awaitTermination(120)

    back = spark.read.parquet(pq)
    assert back.count() == 17  # 10 + 7, nothing duplicated
    ids = [r["event_id"] for r in back.select("event_id").collect()]
    assert len(ids) == len(set(ids))
    # both batches landed under distinct batch_id partitions
    assert back.select("batch_id").distinct().count() == 2


def test_kafka_builder_gated_cleanly(spark):
    """No broker/connector in this environment: the Kafka builder must
    fail fast with a clear NotImplementedError, never a classpath blowup."""
    from pyetl_spark.streaming.kafka import kafka_available, read_events_kafka

    if kafka_available(spark):
        import pytest
        pytest.skip("kafka connector present; builder would construct")
    try:
        read_events_kafka(spark, "localhost:9092", "events")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError as e:
        assert "file source" in str(e)


def test_stream_static_enrichment(spark, scratch):
    """Stream joined with a static dimension — every output row carries the
    dim attribute."""
    from pyetl_spark.streaming.pipeline import stream_static_enrich

    src = os.path.join(scratch, "src")
    _write_batch(src, "b1.json", [_row(i, h=9, m=i, user=i % 3) for i in range(12)])
    dim = spark.createDataFrame(
        [(0, "free"), (1, "pro"), (2, "enterprise")], "user_id long, tier string"
    )
    out = _run_available_now(
        stream_static_enrich(read_events_stream(spark, src), dim),
        os.path.join(scratch, "ck"),
        "enrich_out",
        spark,
    )
    rows = out.collect()
    assert len(rows) == 12
    assert all(r["tier"] in ("free", "pro", "enterprise") for r in rows)


def test_stream_stream_interval_join(spark, scratch):
    """Errors join the same user's purchases within the prior 30 minutes;
    a purchase outside the interval must not match."""
    from pyspark.sql import functions as F
    from pyetl_spark.streaming.pipeline import stream_stream_interval_join

    src = os.path.join(scratch, "src")
    rows = [
        _row(1, h=9, m=0, user=1, etype="purchase"),
        _row(2, h=9, m=20, user=1, etype="error"),     # matches (20 min)
        _row(3, h=10, m=30, user=1, etype="error"),    # no purchase in window
        _row(4, h=11, m=0, user=2, etype="purchase"),
        _row(5, h=11, m=40, user=2, etype="error"),    # 40 min → outside
        _row(9, h=13, m=0, user=3, etype="view"),      # watermark pusher
    ]
    _write_batch(src, "b1.json", rows)

    base = read_events_stream(spark, src)
    errors = base.filter("event_type = 'error'").select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
    )
    purchases = base.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
    )
    out = _run_available_now(
        stream_stream_interval_join(errors, purchases),
        os.path.join(scratch, "ck"),
        "ssj_out",
        spark,
    )
    pairs = {(r["l_id"], r["r_id"]) for r in out.collect()}
    assert pairs == {(2, 1)}


def test_session_agg_with_rocksdb_state_store(spark, scratch):
    """The 100 TB state story: the same session operator runs on the
    RocksDB state store provider (disk-backed executor state)."""
    old = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = os.path.join(scratch, "src")
        rows = [_row(i, h=9, m=i) for i in range(5)]
        rows += [_row(99, h=13, m=0, user=2)]
        _write_batch(src, "b1.json", rows)
        out = _run_available_now(
            session_agg(read_events_stream(spark, src)),
            os.path.join(scratch, "ck"),
            "rocks_out",
            spark,
        )
        sessions = [r for r in out.collect() if r["user_id"] == 1]
        assert len(sessions) == 1 and sessions[0]["n_events"] == 5
    finally:
        if old:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )

def test_stateful_custom_counter_tws(spark, scratch):
    """transformWithStateInPandas twin accumulates identically across
    micro-batches (Spark 4 StatefulProcessor + named ValueState).

    The operator's Python worker protocol needs protobuf (not shipped in
    this container) — skip cleanly where it's absent, like the optional
    multimodal decoders."""
    pytest.importorskip("google.protobuf")
    from pyetl_spark.streaming.pipeline import stateful_anomaly_counter_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    src = os.path.join(scratch, "src")
    ck = os.path.join(scratch, "ck")
    _write_batch(
        src,
        "b1.json",
        [_row(i, h=9, m=i, user=7, etype="error") for i in range(4)]
        + [_row(10, h=9, m=30, user=7, etype="click")],
    )
    q = _start_memory_query(
        stateful_anomaly_counter_tws(
            read_events_stream(spark, src, max_files_per_trigger=1)
        ),
        ck,
        "tws_out",
        mode="update",
    )
    q.processAllAvailable()
    r1 = {
        r["user_id"]: r["n_errors_total"]
        for r in spark.sql("SELECT * FROM tws_out").collect()
    }
    assert r1[7] == 4

    _write_batch(
        src,
        "b2.json",
        [_row(20 + i, h=10, m=i, user=7, etype="error") for i in range(2)],
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM tws_out").collect()
    assert max(r["n_errors_total"] for r in rows if r["user_id"] == 7) == 6


def test_stateful_ewma_carries_recurrence_across_batches(spark, scratch):
    """Streaming EWMA: the smoothed value resumes from checkpointed
    per-user state — batch 2's first input folds onto batch 1's last
    output, exactly matching the batch-operator recurrence over the
    concatenated stream."""
    from pyetl_spark.streaming.pipeline import stateful_ewma

    src = os.path.join(scratch, "src")
    ck = os.path.join(scratch, "ck")
    alpha = 0.5
    b1 = [10.0, 20.0]
    b2 = [40.0]
    _write_batch(
        src,
        "b1.json",
        [_row(i, h=9, m=i, user=3, value=v) for i, v in enumerate(b1)],
    )
    q = _start_memory_query(
        stateful_ewma(
            read_events_stream(spark, src, max_files_per_trigger=1),
            alpha=alpha,
        ),
        ck,
        "ewma_out",
        mode="update",
    )
    q.processAllAvailable()
    _write_batch(
        src,
        "b2.json",
        [_row(10, h=10, m=0, user=3, value=b2[0])],
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM ewma_out").collect()
    y = None
    for v in b1 + b2:
        y = v if y is None else alpha * v + (1 - alpha) * y
    latest = max(rows, key=lambda r: r["n_seen"])
    assert latest["n_seen"] == 3
    assert latest["ewma"] == pytest.approx(y, abs=1e-12)


def test_stream_scd2_point_in_time_enrich(spark, scratch):
    """Events pick the SCD2 dim version valid AT EVENT TIME: rows before
    the tier change enrich with v1, rows after with v2 — never the
    current version for historical events (the leakage mode this operator
    exists to prevent), and events outside all intervals stay unmatched."""
    from pyetl_spark.streaming.pipeline import stream_scd2_enrich

    src = os.path.join(scratch, "src")
    # user 1: 12 events across 09:00..09:11; tier flips at 09:06
    _write_batch(src, "b1.json", [_row(i, h=9, m=i, user=1) for i in range(12)])
    # user 2: no dim coverage after 09:03 (open interval ends)
    _write_batch(src, "b2.json", [_row(100 + i, h=9, m=i, user=2) for i in range(6)])
    dim = spark.createDataFrame(
        [
            (1, "free", "2024-01-01T00:00:00", "2024-01-01T09:06:00"),
            (1, "pro", "2024-01-01T09:06:00", "2200-01-01T00:00:00"),
            (2, "trial", "2024-01-01T00:00:00", "2024-01-01T09:03:00"),
        ],
        "user_id long, tier string, valid_from string, valid_to string",
    ).select(
        "user_id",
        "tier",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    out = _run_available_now(
        stream_scd2_enrich(read_events_stream(spark, src), dim),
        os.path.join(scratch, "ck"),
        "scd2_enrich_out",
        spark,
    )
    rows = {r["event_id"]: r for r in out.collect()}
    assert len(rows) == 18
    for i in range(12):
        want = "free" if i < 6 else "pro"
        assert rows[i]["tier"] == want, (i, rows[i]["tier"])
    for i in range(6):
        want = "trial" if i < 3 else None
        assert rows[100 + i]["tier"] == want, (i, rows[100 + i]["tier"])


def test_streaming_topk_trending_matches_batch(spark, scratch):
    """Sealed-window streaming top-3 users == batch row_number truth.
    Hour 9 gets a skewed user distribution; hour 11's late data seals
    hour 9 before the final no-op drain."""
    from pyetl_spark.streaming.pipeline import run_topk_trending

    src = os.path.join(scratch, "topk_src")
    out = os.path.join(scratch, "topk_out")
    # hour 9: user i%7 weighted so users 0,1,2 dominate; hour 11 seals it
    rows = [_row(i, h=9, m=i % 50, user=(i * i) % 7) for i in range(60)]
    rows += [_row(100 + i, h=11, m=i % 50, user=i % 5) for i in range(20)]
    _write_batch(src, "b1.json", rows)
    q = run_topk_trending(
        spark, src, out, os.path.join(scratch, "topk_ck"), k=3
    )
    q.awaitTermination()

    got = spark.read.parquet(out).filter(
        F.hour("window_start") == 9
    )
    batch = spark.read.json(
        spark.sparkContext.parallelize([json.dumps(r) for r in rows])
    ).withColumn("ts", F.to_timestamp("ts"))
    from pyspark.sql import Window as W

    truth = (
        batch.filter(F.hour("ts") == 9)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.desc("n_events"), F.asc("user_id"))
            ),
        )
        .filter(F.col("rank") <= 3)
    )
    want = {
        (r["user_id"], r["n_events"], r["rank"]) for r in truth.collect()
    }
    have = {
        (r["user_id"], r["n_events"], r["rank"]) for r in got.collect()
    }
    assert have == want and len(have) == 3


def test_state_store_reader_inspects_checkpoint_offline(spark, scratch):
    """Spark 4 state data source: after a run, the checkpoint's per-key
    state is directly readable as a DataFrame (streaming/state_inspect.py)
    — state rows must equal the aggregate the query emitted, and the
    metadata must describe the operator; a second drained batch must be
    reflected in both latest state and time-travel (batchId=0) state."""
    from pyetl_spark.streaming.state_inspect import state_metadata, state_rows

    src = os.path.join(scratch, "src_ssr")
    ckpt = os.path.join(scratch, "ckpt_ssr")
    _write_batch(src, "b1.json", [
        _row(1, 9, 0, etype="click"),
        _row(2, 9, 5, etype="click"),
        _row(3, 9, 7, etype="view"),
    ])
    def drain_noop():
        # noop sink: checkpoint-recoverable across runs (memory sink is
        # not) — the state store itself is what we assert on
        q = (
            read_events_stream(spark, src)
            .groupBy("event_type")
            .count()
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain_noop()

    meta = state_metadata(spark, ckpt).collect()
    assert len(meta) == 1
    assert meta[0]["operatorName"] == "stateStoreSave"
    assert meta[0]["minBatchId"] == 0

    st = state_rows(spark, ckpt)
    got = {r["key"]["event_type"]: r["value"]["count"] for r in st.collect()}
    assert got == {"click": 2, "view": 1}

    # batch 2 arrives, state advances; batchId=0 still shows the old state
    _write_batch(src, "b2.json", [_row(4, 9, 9, etype="view")])
    drain_noop()
    latest = {
        r["key"]["event_type"]: r["value"]["count"]
        for r in state_rows(spark, ckpt).collect()
    }
    assert latest == {"click": 2, "view": 2}
    asof0 = {
        r["key"]["event_type"]: r["value"]["count"]
        for r in state_rows(spark, ckpt, batch_id=0).collect()
    }
    assert asof0 == {"click": 2, "view": 1}

    # partition_id pushdown: reading one partition returns a subset
    one = state_rows(spark, ckpt).filter(F.col("partition_id") == 0)
    assert one.count() <= 3


def test_python_streaming_datasource_resumes_from_checkpoint(spark, scratch):
    """Custom streaming source via the Python Data Source API
    (SimpleDataSourceStreamReader, operators/pydatasource.py): two
    availableNow runs on ONE checkpoint must produce consecutive,
    non-overlapping id ranges — the offset log drives exactly-once resume
    for a source we wrote ourselves."""
    from pyetl_spark.operators.pydatasource import CounterStreamSource

    with contextlib.suppress(Exception):
        spark.dataSource.register(CounterStreamSource)
    ckpt = os.path.join(scratch, "ckpt_pyds")
    out = os.path.join(scratch, "out_pyds")

    def drain():
        q = (
            spark.readStream.format("pyetl_counter_stream")
            .option("step", 7)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert first == list(range(0, 7))

    drain()  # resumes at offset 7 — no replays, no gaps
    both = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert both == list(range(0, 14))

    # the deterministic formula matches the batch twin's contract
    rows = {
        (r["id"], r["bucket"], r["val"])
        for r in spark.read.parquet(out).collect()
    }
    assert all(b == i % 13 and v == (i * 2654435761) % 1000 for i, b, v in rows)


def test_stream_stream_interval_join_left_outer(spark, scratch):
    """LEFT OUTER stream-stream join: matched errors pair with their
    purchase; errors with no purchase in the interval surface null-padded
    — but only after the watermark proves no match can still arrive."""
    from pyetl_spark.streaming.pipeline import (
        stream_stream_interval_join_outer,
    )

    src = os.path.join(scratch, "src")
    # outer rows only emit when a LATER micro-batch advances the
    # watermark past their match bound — so the data must arrive over
    # several batches (maxFilesPerTrigger=1, one file per batch)
    _write_batch(src, "b1.json", [
        _row(1, h=9, m=0, user=1, etype="purchase"),
        _row(2, h=9, m=20, user=1, etype="error"),   # matched (20 min gap)
        _row(3, h=10, m=30, user=1, etype="error"),  # no purchase in window
        _row(5, h=11, m=40, user=2, etype="error"),  # user has none at all
    ])
    # pushers must SURVIVE the per-side filters: the global watermark is
    # min over both inputs, so advance each side with its own type (the
    # view-type pusher of the inner-join test never reaches either input)
    _write_batch(src, "b2.json", [_row(9, h=23, m=0, user=30, etype="purchase")])
    _write_batch(src, "b3.json", [_row(10, h=23, m=0, user=31, etype="error")])
    # one more batch so the post-b3 watermark (22:50) gets an eviction pass
    _write_batch(src, "b4.json", [_row(11, h=23, m=50, user=3, etype="view")])

    base = read_events_stream(spark, src, max_files_per_trigger=1)
    errors = base.filter("event_type = 'error'").select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
    )
    purchases = base.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
    )
    out = _run_available_now(
        stream_stream_interval_join_outer(errors, purchases),
        os.path.join(scratch, "ck_ssoj"),
        "ssoj_out",
        spark,
    )
    got = {(r["l_id"], r["r_id"]) for r in out.collect()}
    # id=10 (the left-side pusher) stays buffered: nothing later advances
    # the watermark past ITS bound — exactly the deferred-emission trade
    assert got == {(2, 1), (3, None), (5, None)}


def test_stream_neardup_ingest_assigns_keepers(spark, scratch):
    """Streaming near-dup ingest (foreachBatch twin of
    minhash_assign_incremental): document batches arrive as files and
    each doc gets a keeper against the STATIC corpus index — exact
    copies of corpus docs map to their source, novel docs become new
    keepers — with no corpus re-band. Namespaced tokens (the planted-
    fixture primitive) make the expectation pure id arithmetic, and the
    streamed result must equal the batch operator run on the union of
    both batches (same index, same semantics, batch boundaries
    invisible in the assignments)."""
    from pyetl_spark.operators.minhash import (
        minhash_assign_incremental,
        minhash_index,
    )
    from pyetl_spark.streaming.corpus import (
        read_docs_stream,
        run_neardup_ingest,
    )

    def text(ns: int) -> str:
        return " ".join(f"{ns}:w{j}" for j in range(20))

    corpus = spark.createDataFrame(
        [(i, text(i)) for i in range(10)], "doc_id long, text string"
    ).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )
    index = minhash_index(corpus)

    src = os.path.join(scratch, "docs_src")
    out = os.path.join(scratch, "assign_out")
    ck = os.path.join(scratch, "ck")
    b1 = [{"doc_id": 100 + i, "text": text(100 + i)} for i in range(3)]
    b1 += [{"doc_id": 1000 + s, "text": text(s)} for s in (0, 2)]
    _write_batch(src, "b1.json", b1)
    b2 = [
        {"doc_id": 105, "text": text(105)},
        {"doc_id": 1004, "text": text(4)},
    ]
    _write_batch(src, "b2.json", b2)

    q = run_neardup_ingest(
        read_docs_stream(spark, src), index, corpus, out, ck
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r["keeper_id"]
        for r in spark.read.parquet(out).collect()
    }
    expect = {100: 100, 101: 101, 102: 102, 1000: 0, 1002: 2,
              105: 105, 1004: 4}
    assert got == expect

    # batch agreement: the union of both file batches through the BATCH
    # operator gives the identical assignment
    union = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in (*b1, *b2)],
        "doc_id long, text string",
    ).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )
    batch_got = {
        r["doc_id"]: r["keeper_id"]
        for r in minhash_assign_incremental(union, index, corpus).collect()
    }
    assert batch_got == got


def test_stream_neardup_ingest_checkpoint_recovery(spark, scratch):
    """Kill/restart contract for the near-dup ingest (the sibling
    guarantee `test_foreachbatch_checkpoint_recovery_exactly_once` pins
    for the exact path): stop after part 1, restart the SAME checkpoint
    with part 2 present — only the new file is processed, every doc is
    assigned exactly once, and the assignments equal the batch operator
    on the union (restart boundaries invisible)."""
    from pyetl_spark.operators.minhash import (
        minhash_assign_incremental,
        minhash_index,
    )
    from pyetl_spark.streaming.corpus import (
        read_docs_stream,
        run_neardup_ingest,
    )

    def text(ns: int) -> str:
        return " ".join(f"{ns}:w{j}" for j in range(20))

    corpus = spark.createDataFrame(
        [(i, text(i)) for i in range(8)], "doc_id long, text string"
    ).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )
    index = minhash_index(corpus)

    src = os.path.join(scratch, "docs_src_rec")
    out = os.path.join(scratch, "assign_out_rec")
    ck = os.path.join(scratch, "ck_rec")
    b1 = [{"doc_id": 200, "text": text(200)},
          {"doc_id": 2001, "text": text(1)}]
    _write_batch(src, "b1.json", b1)

    q1 = run_neardup_ingest(read_docs_stream(spark, src), index, corpus,
                            out, ck)
    q1.awaitTermination(120)
    q1.stop()  # simulated shutdown (availableNow already drained part 1)
    first = {
        r["doc_id"]: r["keeper_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert first == {200: 200, 2001: 1}

    b2 = [{"doc_id": 201, "text": text(201)},
          {"doc_id": 2003, "text": text(3)}]
    _write_batch(src, "b2.json", b2)
    q2 = run_neardup_ingest(read_docs_stream(spark, src), index, corpus,
                            out, ck)
    q2.awaitTermination(120)

    back = spark.read.parquet(out)
    got = {r["doc_id"]: r["keeper_id"] for r in back.collect()}
    assert got == {200: 200, 2001: 1, 201: 201, 2003: 3}
    # each doc assigned exactly once — part 1 was NOT reprocessed
    assert back.count() == 4
    # the two runs landed under distinct batch_id partitions
    assert back.select("batch_id").distinct().count() == 2

    union = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in (*b1, *b2)],
        "doc_id long, text string",
    ).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )
    batch_got = {
        r["doc_id"]: r["keeper_id"]
        for r in minhash_assign_incremental(union, index, corpus).collect()
    }
    assert batch_got == got


def test_stream_neardup_replayed_batch_is_idempotent(spark, scratch):
    """foreachBatch is at-least-once: a crash between the parquet write
    and the checkpoint commit re-runs the SAME batch_id on restart. The
    per-batch dynamic partition overwrite must make that replay rewrite
    batch N's partition in place — same assignments, not doubled rows
    (the sibling guarantee `test_replayed_batch_is_idempotent` pins for
    the exact path's accept/quarantine sinks)."""
    from pyetl_spark.operators.minhash import minhash_index
    from pyetl_spark.streaming.corpus import assign_neardup_batch

    def text(ns: int) -> str:
        return " ".join(f"{ns}:w{j}" for j in range(20))

    corpus = spark.createDataFrame(
        [(i, text(i)) for i in range(5)], "doc_id long, text string"
    ).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )
    index = minhash_index(corpus)
    out = os.path.join(scratch, "assign_out_replay")

    batch = spark.createDataFrame(
        [(300, text(300)), (3002, text(2))], "doc_id long, text string"
    )
    for _ in range(3):  # crash-replay the same epoch three times
        assign_neardup_batch(batch, 7, index, corpus, out)

    back = spark.read.parquet(out)
    got = {r["doc_id"]: r["keeper_id"] for r in back.collect()}
    assert got == {300: 300, 3002: 2}
    assert back.count() == 2  # rewritten in place, not appended
    assert {r["batch_id"] for r in back.collect()} == {7}

    # a replay carrying a different batch_id must NOT clobber batch 7
    # (dynamic overwrite touches only its own partition)
    other = spark.createDataFrame(
        [(301, text(301))], "doc_id long, text string"
    )
    assign_neardup_batch(other, 8, index, corpus, out)
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert {r["batch_id"] for r in back.collect()} == {7, 8}


def test_stream_neardup_index_maintenance_between_runs(spark, scratch):
    """Streaming twin of the three-day index-maintenance lifecycle
    (test_minhash_index_delta_closes_daily_ingest_loop pins it at
    operator level): ingest run 1 assigns a NOVEL doc (self-keeps);
    BETWEEN runs — the documented maintenance point, since a per-batch
    append inside foreachBatch would double-append on crash-replay —
    its band rows are appended to the persisted index via
    minhash_index_delta; ingest run 2 (fresh checkpoint, as a new day's
    ingest would start) must then assign a dup of run 1's novel doc to
    that keeper instead of silently self-keeping. Closes the last
    untested seam of the daily-ingest contract: streaming assignment →
    between-runs append → streaming assignment."""
    from pyetl_spark.operators.minhash import (
        minhash_index,
        minhash_index_delta,
    )
    from pyetl_spark.streaming.corpus import (
        read_docs_stream,
        run_neardup_ingest,
    )

    def text(ns: int) -> str:
        return " ".join(f"{ns}:w{j}" for j in range(20))

    def tokenized(df):
        return df.select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
        )

    corpus_docs = spark.createDataFrame(
        [(i, text(i)) for i in range(6)], "doc_id long, text string"
    )
    corpus = tokenized(corpus_docs)
    idx_path = os.path.join(scratch, "maint_index")
    minhash_index(corpus).write.mode("overwrite").parquet(idx_path)

    src = os.path.join(scratch, "maint_src")
    out = os.path.join(scratch, "maint_out")

    # run 1: a novel doc 400 and a dup of corpus doc 2
    b1 = [{"doc_id": 400, "text": text(400)},
          {"doc_id": 4002, "text": text(2)}]
    _write_batch(src, "b1.json", b1)
    index1 = spark.read.parquet(idx_path)
    q1 = run_neardup_ingest(
        read_docs_stream(spark, src), index1, corpus, out,
        os.path.join(scratch, "maint_ck1"),
    )
    q1.awaitTermination(120)
    assign1 = spark.read.parquet(out).drop("batch_id")
    assert {
        r["doc_id"]: r["keeper_id"] for r in assign1.collect()
    } == {400: 400, 4002: 2}

    # between runs: append run 1's new keepers to the persisted index —
    # the index= guard proves the append params match the index's stamp
    run1_docs = tokenized(
        spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in b1],
            "doc_id long, text string",
        )
    )
    minhash_index_delta(
        run1_docs, assign1, index=index1
    ).write.mode("append").parquet(idx_path)
    # ...and fold the new keeper into the verification token lookup
    corpus2 = corpus.unionByName(
        run1_docs.join(
            assign1.filter(F.col("doc_id") == F.col("keeper_id"))
            .select("doc_id"),
            "doc_id",
        )
    )

    # run 2 (fresh source + checkpoint, like a new day's ingest): a dup
    # of run 1's NOVEL doc must now land on keeper 400, and a fresh
    # novel doc still self-keeps
    src2 = os.path.join(scratch, "maint_src2")
    out2 = os.path.join(scratch, "maint_out2")
    _write_batch(src2, "b1.json", [
        {"doc_id": 5400, "text": text(400)},
        {"doc_id": 500, "text": text(500)},
    ])
    q2 = run_neardup_ingest(
        read_docs_stream(spark, src2), spark.read.parquet(idx_path),
        corpus2, out2, os.path.join(scratch, "maint_ck2"),
    )
    q2.awaitTermination(120)
    got2 = {
        r["doc_id"]: r["keeper_id"]
        for r in spark.read.parquet(out2).collect()
    }
    assert got2 == {5400: 400, 500: 500}


def test_stream_boilerplate_strip_matches_batch_and_replays(spark, scratch):
    """Streaming twin of dedup_paragraph_global (r12): per micro-batch,
    docs are stripped against the STATIC persisted boilerplate table
    with the batch-identical kernel — streamed output equals the batch
    operator on the same docs, a crash-replayed batch_id rewrites in
    place (not doubled), and a between-runs boiler refresh (the
    minhash_index maintenance contract) changes what the NEXT run
    strips without touching this run's output."""
    from pyetl_spark.operators.text import (
        paragraph_boilerplate,
        strip_boilerplate,
    )
    from pyetl_spark.streaming.corpus import (
        read_docs_stream,
        run_boilerplate_strip,
        strip_boilerplate_batch,
    )

    boiler_txt = " ".join(f"b{j}" for j in range(10))  # one exact chunk
    def uniq(ns):
        return " ".join(f"{ns}:w{j}" for j in range(10))

    # corpus: the boiler chunk appears in 4 docs -> boilerplate at
    # min_docs=4; build and persist the table like a real pipeline
    corpus = spark.createDataFrame(
        [(i, boiler_txt + " " + uniq(i)) for i in range(4)]
        + [(9, uniq(9))],
        "doc_id long, text string",
    )
    boiler_path = os.path.join(scratch, "boiler_tbl")
    paragraph_boilerplate(corpus).write.mode("overwrite").parquet(
        boiler_path
    )
    boiler = spark.read.parquet(boiler_path)

    src = os.path.join(scratch, "strip_src")
    out = os.path.join(scratch, "strip_out")
    b1 = [
        {"doc_id": 100, "text": boiler_txt + " " + uniq(100)},
        {"doc_id": 101, "text": uniq(101)},
        {"doc_id": 102, "text": boiler_txt},  # all boilerplate
    ]
    _write_batch(src, "b1.json", b1)
    q = run_boilerplate_strip(
        read_docs_stream(spark, src), boiler, out,
        os.path.join(scratch, "strip_ck"),
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed_chunks"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        100: (uniq(100), 1),
        101: (uniq(101), 0),
        102: ("", 1),
    }
    # streamed == batch kernel on the same docs
    batch_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in b1], "doc_id long, text string"
    )
    batch_got = {
        r["doc_id"]: (r["clean_text"], r["n_removed_chunks"])
        for r in strip_boilerplate(batch_docs, boiler).collect()
    }
    assert batch_got == got

    # crash-replay: the same batch_id rewrites in place, not doubled
    for _ in range(2):
        strip_boilerplate_batch(batch_docs, 0, boiler, out)
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert {r["batch_id"] for r in back.collect()} == {0}

    # between-runs refresh: docs 100s' uniq text never crosses
    # min_docs, but a NEW chunk that now appears in 4 docs (corpus +
    # run-1 dup pushed it over) enters the refreshed table and the NEXT
    # run strips it — this run's landed output is untouched
    corpus2 = corpus.unionByName(batch_docs)
    paragraph_boilerplate(corpus2).write.mode("overwrite").parquet(
        boiler_path
    )
    src2 = os.path.join(scratch, "strip_src2")
    out2 = os.path.join(scratch, "strip_out2")
    _write_batch(src2, "b1.json", [
        {"doc_id": 200, "text": boiler_txt + " " + uniq(200)},
    ])
    q2 = run_boilerplate_strip(
        read_docs_stream(spark, src2), spark.read.parquet(boiler_path),
        out2, os.path.join(scratch, "strip_ck2"),
    )
    q2.awaitTermination(120)
    got2 = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out2).collect()
    }
    assert got2 == {200: uniq(200)}
    # run 1's output unchanged by the refresh
    assert spark.read.parquet(out).count() == 3


def test_stream_vector_ingest_checkpoint_recovery_and_replay(spark, scratch):
    """Streaming ANN ingest lifecycle (r13 — the vector twin of
    test_stream_neardup_ingest_checkpoint_recovery): day-1 artifacts are
    static; two stream runs on the SAME checkpoint encode only unseen
    files; the union of base codes + ingested partitions makes the new
    vectors searchable (verified against the BATCH delta on the union);
    a crash-replay of a batch rewrites its own partition instead of
    duplicating; the per-batch drift log lands; and a mismatched-param
    ingest fails fast against the stamped base table."""
    import math

    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit_exact
    from pyetl_spark.operators.ivfpq import (
        ivfpq_encode,
        ivfpq_index_delta,
        ivfpq_residuals,
        ivfpq_topk,
    )
    from pyetl_spark.operators.pq import pq_fit_exact
    from pyetl_spark.streaming.corpus import (
        encode_vectors_batch,
        read_vecs_stream,
        run_vector_ingest,
    )

    M, K, DIM = 4, 8, 16

    def vec(c: int, i: int) -> list:
        return [
            5.0 * ((c >> b) & 1) + 0.1 * math.cos(0.7 * (i + 1) * (b + 1))
            for b in range(DIM)
        ]

    # day-1 build: 3 clusters (corners 3, 12, 48), 20 vectors each
    corners = (3, 12, 48)
    rows = [
        (c_idx * 100 + i, vec(c, i))
        for c_idx, c in enumerate(corners)
        for i in range(20)
    ]
    base = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").alias("e")
    )
    cents = kmeans_fit_exact(base, k=3, iters=3)
    res = ivfpq_residuals(ivf_assign(base, cents), cents)
    cb = pq_fit_exact(res, id_col="vec_id", vec_col="r", m=M, k=K,
                      dim=DIM, iters=3)
    base_codes = ivfpq_encode(res, cb, m=M, dim=DIM, k=K)

    src = os.path.join(scratch, "vec_src")
    out = os.path.join(scratch, "vec_codes_out")
    log = os.path.join(scratch, "vec_mse_log")
    ck = os.path.join(scratch, "vec_ck")
    # stream batch 1: 4 new cluster-48 vectors
    b1 = [{"vec_id": 1000 + i, "embedding": vec(48, 50 + i)}
          for i in range(4)]
    _write_batch(src, "v1.json", b1)
    q1 = run_vector_ingest(
        read_vecs_stream(spark, src), cents, cb, out, ck,
        m=M, dim=DIM, k=K, codes=base_codes, mse_log_path=log,
    )
    q1.awaitTermination(120)
    q1.stop()
    assert spark.read.parquet(out).count() == 4 * M

    # restart same checkpoint with batch 2 present: only v2 processed
    b2 = [{"vec_id": 2000 + i, "embedding": vec(48, 80 + i)}
          for i in range(4)]
    _write_batch(src, "v2.json", b2)
    q2 = run_vector_ingest(
        read_vecs_stream(spark, src), cents, cb, out, ck,
        m=M, dim=DIM, k=K, codes=base_codes, mse_log_path=log,
    )
    q2.awaitTermination(120)
    ingested = spark.read.parquet(out)
    assert ingested.count() == 8 * M  # exactly once per vector
    assert ingested.select("batch_id").distinct().count() == 2

    # drift log: one record per batch, in-distribution MSE
    drift = spark.read.parquet(log).orderBy("batch_id").collect()
    assert [r["n_vectors"] for r in drift] == [4, 4]
    assert all(r["batch_mse"] is not None for r in drift)

    # the ingested partitions equal the BATCH delta on the union of
    # both stream inputs (streaming/batch parity, restart invisible)
    union = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in (*b1, *b2)],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").alias("e"))
    batch_delta = ivfpq_index_delta(union, cents, cb, m=M, dim=DIM, k=K)
    got = sorted(
        (r["id"], r["cell"], r["sub"], r["code"])
        for r in ingested.collect()
    )
    want = sorted(
        (r["id"], r["cell"], r["sub"], r["code"])
        for r in batch_delta.collect()
    )
    assert got == want

    # crash-replay batch 0 → rewrites its partition, count unchanged
    replay_df = spark.createDataFrame(
        [(r["vec_id"], None, r["embedding"]) for r in b1],
        "vec_id long, ingest_ts timestamp, embedding array<double>",
    )
    encode_vectors_batch(
        replay_df, 0, cents, cb, out, m=M, dim=DIM, k=K,
        codes=base_codes, mse_log_path=log,
    )
    assert spark.read.parquet(out).count() == 8 * M

    # search over base ∪ ingested finds the streamed vectors (re-read:
    # the replay rewrote partition 0's files, so the pre-replay frame's
    # file listing is stale — exactly what a reader-after-maintenance
    # does in production)
    merged = base_codes.unionByName(
        spark.read.parquet(out).drop("batch_id")
    )
    probes = union.filter(F.col("vec_id") == 1000).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    near = ivfpq_topk(
        probes, merged, cb, cents, m=M, dim=DIM, topk=3, nprobe=1,
        exclude_self=True,
    ).collect()
    assert len(near) == 3
    # neighbors come from cluster 48's id ranges (base 200s or streamed)
    assert all(200 <= r["id"] < 220 or r["id"] >= 1000 for r in near)

    # mismatched ingest params fail fast against the stamped base table
    with pytest.raises(ValueError, match="does not match the index"):
        encode_vectors_batch(
            replay_df, 9, cents, cb, out, m=M, dim=DIM, k=K + 8,
            codes=base_codes,
        )

    # cross-batch RE-EMISSION of an id (updated embedding in a later
    # batch): the raw table holds two generations (2·m rows for the
    # id); latest_codes keeps only the newest batch's m rows
    from pyetl_spark.streaming.corpus import latest_codes

    reemit = spark.createDataFrame(
        [(1000, None, vec(12, 7))],
        "vec_id long, ingest_ts timestamp, embedding array<double>",
    )
    encode_vectors_batch(reemit, 5, cents, cb, out, m=M, dim=DIM, k=K)
    raw = spark.read.parquet(out)
    assert raw.filter(F.col("id") == 1000).count() == 2 * M
    fresh = latest_codes(raw)
    assert fresh.filter(F.col("id") == 1000).count() == M
    # every id (8 distinct: 1000-1003, 2000-2003) has exactly m rows
    # and batch_id is dropped
    assert fresh.count() == 8 * M
    assert "batch_id" not in fresh.columns


def test_compact_ingested_codes_newest_generation_wins(spark, scratch):
    """Between-runs compaction (r13): the streamed batch partitions fold
    into a fresh cell-partitioned codes table — re-emitted ids keep only
    their newest batch's rows, ingested ids that also exist in the BASE
    table supersede the base rows, untouched base ids survive verbatim,
    the stamp rides the merged schema, and the output restores the
    cell-partitioned layout."""
    import math

    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit_exact
    from pyetl_spark.operators.ivfpq import ivfpq_encode, ivfpq_residuals
    from pyetl_spark.operators.pq import pq_fit_exact
    from pyetl_spark.streaming.corpus import (
        compact_ingested_codes,
        encode_vectors_batch,
    )

    M, K, DIM = 4, 8, 16

    def vec(c: int, i: int) -> list:
        return [
            5.0 * ((c >> b) & 1) + 0.1 * math.cos(0.7 * (i + 1) * (b + 1))
            for b in range(DIM)
        ]

    rows = [(ci * 100 + i, vec(c, i))
            for ci, c in enumerate((3, 12, 48)) for i in range(10)]
    base_v = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").alias("e")
    )
    cents = kmeans_fit_exact(base_v, k=3, iters=3)
    res = ivfpq_residuals(ivf_assign(base_v, cents), cents)
    cb = pq_fit_exact(res, id_col="vec_id", vec_col="r", m=M, k=K,
                      dim=DIM, iters=3)
    base_path = os.path.join(scratch, "base_codes")
    ivfpq_encode(res, cb, m=M, dim=DIM, k=K).write.partitionBy(
        "cell"
    ).parquet(base_path)

    ing = os.path.join(scratch, "ingested")
    # batch 0: one NEW id (500) + an UPDATE of base id 7 (moved cluster)
    b0 = spark.createDataFrame(
        [(500, None, vec(48, 99)), (7, None, vec(12, 3))],
        "vec_id long, ingest_ts timestamp, embedding array<double>",
    )
    encode_vectors_batch(b0, 0, cents, cb, ing, m=M, dim=DIM, k=K)
    # batch 1: re-emits id 500 with a different embedding
    b1 = spark.createDataFrame(
        [(500, None, vec(3, 42))],
        "vec_id long, ingest_ts timestamp, embedding array<double>",
    )
    encode_vectors_batch(b1, 1, cents, cb, ing, m=M, dim=DIM, k=K)

    out = os.path.join(scratch, "codes_v2")
    compact_ingested_codes(spark, base_path, ing, out)
    merged = spark.read.parquet(out)
    # 30 base ids, id 7 superseded (still present once), +1 new id
    assert merged.select("id").distinct().count() == 31
    assert merged.count() == 31 * M
    # newest generation won: id 500's codes equal batch 1's encoding
    b1_codes = {
        (r["sub"], r["code"])
        for r in spark.read.parquet(ing)
        .filter((F.col("id") == 500) & (F.col("batch_id") == 1))
        .collect()
    }
    got_500 = {
        (r["sub"], r["code"])
        for r in merged.filter(F.col("id") == 500).collect()
    }
    assert got_500 == b1_codes
    # base id 7 was superseded by the ingested update
    upd_7 = {
        (r["sub"], r["code"])
        for r in spark.read.parquet(ing)
        .filter(F.col("id") == 7)
        .collect()
    }
    got_7 = {
        (r["sub"], r["code"])
        for r in merged.filter(F.col("id") == 7).collect()
    }
    assert got_7 == upd_7
    # cell-partitioned layout restored; stamp survived the merge
    assert any(
        d.startswith("cell=") for d in os.listdir(out) if not d.startswith("_")
    )
    assert merged.schema["code"].metadata["ivfpq.m"] == M
    # refuses to clobber an existing output (pointer-swap contract)
    with pytest.raises(Exception):
        compact_ingested_codes(spark, base_path, ing, out)
