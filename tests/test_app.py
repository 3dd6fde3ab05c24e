"""End-to-end pipeline runner tests (pyetl_spark/app.py): the reference's
configured ETL flow — source → parse/enrich/filter → multi-sink — in batch
AND streaming with the same transform list, plus key-based upsert."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from perfbench.tracing import group_counters
from pyetl_spark.app import (
    JsonSource,
    PipelineSpec,
    Sink,
    enrich_time_transform,
    merge_upsert,
    parse_props_transform,
    quality_filter_transform,
    run_batch,
    run_streaming,
)
from pyetl_spark.streaming.pipeline import EVENTS_STREAM_SCHEMA


def _rows(n, bad_every=5):
    out = []
    for i in range(n):
        out.append(
            {
                "event_id": i,
                "ts": f"2024-01-01T09:{i % 60:02d}:00.000Z",
                "user_id": i % 4,
                "event_type": "click",
                "value": -1.0 if i % bad_every == 0 else float(i),
                "props": json.dumps({"k": i % 10}),
            }
        )
    return out


def _spec(src, pq, js):
    return PipelineSpec(
        source=JsonSource(path=src, schema=EVENTS_STREAM_SCHEMA),
        transforms=[
            parse_props_transform(),
            enrich_time_transform(),
            quality_filter_transform(min_value=0.0),
        ],
        sinks=[Sink(pq, partition_by=("dt",)), Sink(js, fmt="json")],
    )


def _write(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _traffic_source(base, n=20_000, files=4):
    """``n`` event rows in ``files`` JSON files; returns (dir, bytes)."""
    src = os.path.join(base, "src")
    rows = _rows(n)
    per = n // files
    for i in range(files):
        _write(src, f"b{i}.json", rows[i * per:(i + 1) * per])
    return src, sum(
        os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)
    )


def test_batch_pipeline_lands_both_sinks(spark, tmp_path):
    base = str(tmp_path)
    src, pq, js = (os.path.join(base, d) for d in ("src", "pq", "js"))
    _write(src, "b1.json", _rows(50))
    landed = run_batch(spark, _spec(src, pq, js))
    assert landed == 40  # 10 negative-value rows filtered, count observed
    back = spark.read.parquet(pq)
    assert back.count() == 40
    assert {"k", "dt", "event_hour"} <= set(back.columns)
    assert spark.read.json(js).count() == 40


def test_streaming_pipeline_same_transforms(spark, tmp_path):
    base = str(tmp_path)
    src, pq, js, ck = (
        os.path.join(base, d) for d in ("src", "pq", "js", "ck")
    )
    _write(src, "b1.json", _rows(50))
    q = run_streaming(spark, _spec(src, pq, js), ck)
    q.awaitTermination(120)
    back = spark.read.parquet(pq)
    assert back.count() == 40
    assert "batch_id" in back.columns
    # incremental top-up processes only the new file
    _write(src, "b2.json", _rows(25)[-5:])
    q2 = run_streaming(spark, _spec(src, pq, js), ck)
    q2.awaitTermination(120)
    assert spark.read.parquet(pq).count() == 40 + 4  # one filtered
    # BOTH sinks must retain batch-0 rows after batch 1 (dynamic
    # partition overwrite; plain overwrite would wipe the json side)
    assert spark.read.json(js).count() == 40 + 4


def test_batch_lander_reads_source_once(spark, tmp_path):
    """Two sinks cost one read of the source: the lander persists the
    transformed frame for the second write and counts the rows with an
    observe on the first, so the runner issues exactly the two write
    jobs. Cached-block reads count as input too, hence the 15 % slack."""
    base = str(tmp_path)
    src, src_bytes = _traffic_source(base)
    spec = _spec(src, os.path.join(base, "pq"), os.path.join(base, "js"))
    sc = spark.sparkContext
    sc.setJobGroup("run_batch_traffic", "lander traffic pin")
    try:
        landed = run_batch(spark, spec)
    finally:
        sc._jsc.clearJobGroup()
    c = group_counters(spark, "run_batch_traffic")
    assert landed == 16_000
    assert c["jobs"] == 2, c
    assert c["input_bytes"] <= 1.15 * src_bytes, (c, src_bytes)


def test_streaming_lander_reads_batch_once(spark, tmp_path):
    """The streaming runner's micro-batch is read once for both sinks
    (the same lander): two jobs, input within 15 % of the source."""
    base = str(tmp_path)
    src, src_bytes = _traffic_source(base)
    spec = _spec(src, os.path.join(base, "pq"), os.path.join(base, "js"))
    q = run_streaming(spark, spec, os.path.join(base, "ck"))
    q.awaitTermination(120)
    c = group_counters(spark, str(q.runId))
    assert spark.read.parquet(os.path.join(base, "pq")).count() == 16_000
    assert c["jobs"] == 2, c
    assert c["input_bytes"] <= 1.15 * src_bytes, (c, src_bytes)


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    path = os.path.join(str(tmp_path), "tbl")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, v double"
    ).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", 30.0)], "id long, name string, v double"
    )
    merge_upsert(spark, path, updates, key="id")
    got = {
        r["id"]: (r["name"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0)}
