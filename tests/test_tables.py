"""Declared fixture schemas (``tables.TABLE_SCHEMAS``, ``EVENTS_SCHEMA``):
each must equal what Spark infers from the parquet footers on every
fixture dir present, ``events.ts`` must load with the inferred path's
type and values for every storage type, and loading the tables or
registering them as views must run no Spark job."""

from __future__ import annotations

import datetime
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyetl_spark import tables
from pyetl_spark.tables import (
    TABLE_NAMES,
    TABLE_SCHEMAS,
    load_table,
    load_tables,
)
from tests.conftest import SF_SMOKE

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: every fixture scale beside the smoke one, plus the benchmark's sets
_FIXTURE_DIRS = sorted(
    d
    for d in glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "sf*"))
    + glob.glob(os.path.join(_REPO, ".perfbench_work", "data-*", "base"))
    + glob.glob(os.path.join(_REPO, ".perfbench_work", "data-*", "scaled"))
    if os.path.exists(os.path.join(d, "region.parquet"))
)


def test_every_table_but_events_is_declared():
    assert set(TABLE_SCHEMAS) == set(TABLE_NAMES) - {"events"}


def _inferred_events(spark, sf_dir, monkeypatch):
    """``events`` through the schema-inference path."""
    with monkeypatch.context() as m:
        m.setattr(tables, "_ts_type", lambda path: None)
        return load_table(spark, sf_dir, "events")


def _assert_events_equal_inferred(spark, sf_dir, monkeypatch):
    got = load_table(spark, sf_dir, "events")
    want = _inferred_events(spark, sf_dir, monkeypatch)
    assert got.schema == want.schema
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.skipif(not _FIXTURE_DIRS, reason="no fixture dirs present")
@pytest.mark.parametrize("sf_dir", _FIXTURE_DIRS)
def test_declared_schema_equals_inferred(spark, sf_dir):
    for name in TABLE_SCHEMAS:
        path = f"{sf_dir}/{name}.parquet"
        if not os.path.exists(path):
            continue
        inferred = spark.read.parquet(path).schema
        assert load_table(spark, sf_dir, name).schema == inferred, name


@pytest.mark.skipif(not _FIXTURE_DIRS, reason="no fixture dirs present")
@pytest.mark.parametrize("sf_dir", _FIXTURE_DIRS)
def test_events_ts_equals_inferred(spark, sf_dir, monkeypatch):
    _assert_events_equal_inferred(spark, sf_dir, monkeypatch)


_TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
    datetime.datetime(2024, 6, 30, 23, 59, 59, 999999),
    None,
]


@pytest.mark.parametrize(
    "ts_type, write_opts",
    [
        (pa.timestamp("ns"), {}),
        (pa.timestamp("us"), {}),
        (pa.timestamp("us", tz="UTC"), {}),
        (pa.timestamp("ms"), {}),
        (pa.timestamp("ns"), {"use_deprecated_int96_timestamps": True}),
    ],
    ids=["nanos", "micros_ntz", "micros_utc", "millis_ntz", "int96"],
)
def test_events_ts_storage_types_equal_inferred(
    spark, tmp_path, monkeypatch, ts_type, write_opts
):
    """Each ``ts`` storage Spark can read: the footer-chosen schema
    gives the inferred path's type and values, as a file and as a
    directory of part files."""
    n = len(_TS)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(_TS, ts_type),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.5] * n),
            "props": pa.array(["{}"] * n),
        }
    )
    file_dir, part_dir = tmp_path / "file", tmp_path / "dir"
    os.makedirs(file_dir)
    os.makedirs(part_dir / "events.parquet")
    pq.write_table(table, file_dir / "events.parquet", **write_opts)
    pq.write_table(
        table, part_dir / "events.parquet" / "part-0.parquet", **write_opts
    )
    for sf_dir in (file_dir, part_dir):
        assert tables._ts_type(f"{sf_dir}/events.parquet") is not None
        _assert_events_equal_inferred(spark, str(sf_dir), monkeypatch)


@pytest.mark.skipif(not _FIXTURE_DIRS, reason="no fixture dirs present")
def test_loading_declared_tables_runs_no_job(spark):
    """Every table, ``events`` included, and ``register_views()``, on
    every fixture dir present."""
    sc = spark.sparkContext
    sc.setJobGroup("load_table_jobs", "schema-inference pin")
    try:
        for sf_dir in _FIXTURE_DIRS:
            for name in TABLE_NAMES:
                load_table(spark, sf_dir, name)
            load_tables(spark, sf_dir).register_views()
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("load_table_jobs") == []
