#!/usr/bin/env python3
"""Walkthrough of the engine's Spark-4-native surface (round-4 session 3):
VARIANT schema-on-read, SQL UDF/params/scripting, collation, the Python
Data Source API (batch + streaming), and offline state inspection.

Runs end-to-end on the sf0.001 fixtures:

    python examples/spark4_surface.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from pyetl_spark.session import get_session
from pyetl_spark.tables import load_tables

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    spark = get_session("spark4-surface")
    t = load_tables(spark, SF)

    # 1 — VARIANT: land heterogeneous JSON once, extract typed views later
    v = t.events.select(
        F.parse_json(F.col("props")).alias("v"), "event_type"
    )
    typed = v.select(
        "event_type", F.try_variant_get("v", "$.k", "int").alias("k")
    )
    print("variant k-sum by type:")
    typed.groupBy("event_type").agg(F.sum("k").alias("sum_k")).show(5)

    # 2 — SQL UDF: reusable expression, analyzer-inlined (no call boundary)
    t.lineitem.createOrReplaceTempView("li")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION ex_disc(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1.0 - d)"
    )
    print("SQL-UDF revenue by flag:")
    spark.sql(
        "SELECT l_returnflag, round(sum(ex_disc(l_extendedprice, l_discount)), 2) AS rev "
        "FROM li GROUP BY l_returnflag"
    ).show()

    # 3 — parameterized SQL: typed binds + IDENTIFIER for the table name
    t.orders.createOrReplaceTempView("ord")
    print("parameterized top priorities:")
    spark.sql(
        "SELECT o_orderpriority, count(*) AS n FROM IDENTIFIER(:t) "
        "WHERE o_totalprice > :min GROUP BY o_orderpriority ORDER BY n DESC",
        args={"t": "ord", "min": 100000.0},
    ).show(3)

    # 4 — collation: case-insensitive grouping without lower()-wrapping
    print("collated grouping:")
    (
        t.orders.select(
            F.col("o_orderpriority")
            .cast("string collate UTF8_LCASE")
            .alias("p")
        )
        .groupBy("p")
        .count()
        .show(3)
    )

    # 5 — custom Python data source, batch + streaming halves
    from pyetl_spark.operators.pydatasource import (
        CounterStreamSource,
        SyntheticEventsSource,
    )

    spark.dataSource.register(SyntheticEventsSource)
    spark.dataSource.register(CounterStreamSource)
    batch = (
        spark.read.format("pyetl_synth_events").option("rows", 1000).load()
    )
    print("python batch source:", batch.count(), "rows")

    d = tempfile.mkdtemp(prefix="ex_s4_")
    q = (
        spark.readStream.format("pyetl_counter_stream")
        .option("step", 50)
        .load()
        .groupBy("bucket")
        .count()
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(d, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    # 6 — offline state inspection of that run's checkpoint
    from pyetl_spark.streaming import state_metadata, state_rows

    print("state metadata:")
    state_metadata(spark, os.path.join(d, "ck")).select(
        "operatorName", "numPartitions", "maxBatchId"
    ).show()
    n_keys = state_rows(spark, os.path.join(d, "ck")).count()
    print("state rows (distinct buckets):", n_keys)

    spark.stop()


if __name__ == "__main__":
    main()
