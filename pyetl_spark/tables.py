"""Table loader — the single choke point for fixture schemas (SURVEY §7 Stage 0).

Loads the ten parquet tables the engine is tested against and absorbs the one
schema landmine centrally: ``events.ts`` has shipped as Parquet
TIMESTAMP(NANOS) (read under ``nanosAsLong=true`` as bigint epoch-nanos →
converted with integer ns→µs division; float division would lose precision at
1.7e18) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read by Spark 4 as
TIMESTAMP_NTZ → cast to TIMESTAMP, exact because the session tz is UTC).
Either way DuckDB sees the same microsecond values natively, so oracle hashes
are unaffected by the fixture's storage type.

Every table has a fixed shape, so its schema is declared here, as a catalog
would hold it, and read with ``spark.read.schema``: inferring a parquet schema
runs one Spark job per load (97 ms against 17 ms with the schema given, sf0.01
``documents``/``embeddings``, 4-core local). The one varying type,
``events.ts``, is read from the Parquet footer with ``pyarrow.parquet`` on the
driver, which runs no job; only a footer that cannot be read there, or a
``ts`` storage type not listed above, falls back to inference.
``tests/test_tables.py`` pins each declared schema, and ``ts``'s type and
values, to the inferred ones on every fixture dir present. A file that lacks a
declared column reads it as null, as any schema-on-read catalog does.

At 100 TB the loader is where partition discovery, ANALYZE stats, and bucketed
table registration would live; for the fixtures it stays a thin wrapper so
every query compiles to a plain vectorized parquet scan with pushdown intact.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyetl_spark.session import tune

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Declared schemas of the tables, except ``events``, whose ``ts`` type
#: depends on its storage (``EVENTS_SCHEMA``).
TABLE_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT,"
        " c_acctbal DOUBLE, c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING,"
        " p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ,"
        " o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
        " l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,"
        " l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,"
        " l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING,"
        " n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

#: Declared schema of ``events``; ``{ts}`` is the Spark type inference
#: would give ``ts`` (``_ts_type``).
EVENTS_SCHEMA = (
    "event_id BIGINT, ts {ts}, user_id BIGINT, event_type STRING,"
    " value DOUBLE, props STRING"
)


def _ts_type(path: str) -> str | None:
    """Spark type that schema inference reads for ``ts``, from the
    Parquet footer of ``path`` (a file, or a directory of part files):
    bigint for TIMESTAMP(NANOS) (under ``nanosAsLong``), timestamp_ntz
    for TIMESTAMP(MICROS|MILLIS, isAdjustedToUTC=false), timestamp for
    an adjusted one or INT96. None when the footer cannot be read on
    the driver or the type is none of these."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    try:
        with pq.ParquetFile(files[0] if files else path) as f:
            schema = f.schema
    except (OSError, ValueError):
        return None
    if "ts" not in schema.names:
        return None
    col = schema.column(schema.names.index("ts"))
    if col.physical_type == "INT96":
        return "timestamp"
    if col.physical_type != "INT64" or col.logical_type.type != "TIMESTAMP":
        return None
    ts = json.loads(col.logical_type.to_json())
    if ts["timeUnit"] == "nanoseconds":
        return "bigint"
    return "timestamp" if ts["isAdjustedToUTC"] else "timestamp_ntz"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema (no Spark job),
    normalizing ``events.ts``. An ``events`` footer the driver cannot
    read falls back to schema inference (one job)."""
    path = f"{sf_dir}/{name}.parquet"
    if name in TABLE_SCHEMAS:
        return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    ts = _ts_type(path) if name == "events" else None
    if ts:
        df = spark.read.schema(EVENTS_SCHEMA.format(ts=ts)).parquet(path)
    else:
        df = spark.read.parquet(path)
        ts = dict(df.dtypes).get("ts") if name == "events" else None
    if ts == "bigint":
        # ns epoch → µs timestamp; integer division matches DuckDB exactly.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts == "timestamp_ntz":
        # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark 4 infers
        # TIMESTAMP_NTZ, which unix_micros/window() reject. The session tz
        # is pinned UTC (session.py), so this cast is bit-preserving and
        # lands on the exact micros DuckDB reads natively.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


class Tables:
    """Lazy named access to the fixture tables of one scale-factor dir.

    ``t.lineitem`` etc. return DataFrames; each access builds a fresh scan
    so callers can't accidentally share cached plans across queries.
    Each costs a plan node only, no Spark job.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        tune(spark)  # driver-provided sessions need the confs too
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return load_table(self._spark, self._sf_dir, name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every table as a temp view (for spark.sql entry points)."""
        for name in TABLE_NAMES:
            load_table(self._spark, self._sf_dir, name).createOrReplaceTempView(
                name
            )


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark, sf_dir)
