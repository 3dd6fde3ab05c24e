"""Declared fixture schemas (``tables.TABLE_SCHEMAS``): each must equal
what Spark infers from the parquet footers on every fixture dir present,
and loading those tables must run no Spark job."""

from __future__ import annotations

import glob
import os

import pytest

from pyetl_spark.tables import TABLE_NAMES, TABLE_SCHEMAS, load_table
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
def test_loading_declared_tables_runs_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("load_table_jobs", "schema-inference pin")
    try:
        for name in TABLE_SCHEMAS:
            load_table(spark, _FIXTURE_DIRS[0], name)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("load_table_jobs") == []
