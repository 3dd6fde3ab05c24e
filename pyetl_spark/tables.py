"""Table loader — the single choke point for fixture schemas (SURVEY §7 Stage 0).

Loads the ten parquet tables the engine is tested against and absorbs the one
schema landmine centrally: ``events.ts`` has shipped as Parquet
TIMESTAMP(NANOS) (read under ``nanosAsLong=true`` as bigint epoch-nanos →
converted with integer ns→µs division; float division would lose precision at
1.7e18) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (read by Spark 4 as
TIMESTAMP_NTZ → cast to TIMESTAMP, exact because the session tz is UTC).
Either way DuckDB sees the same microsecond values natively, so oracle hashes
are unaffected by the fixture's storage type.

The nine other tables have a fixed shape, so their schemas are declared here,
as a catalog would hold them, and read with ``spark.read.schema``: inferring a
parquet schema runs one Spark job per load (97 ms against 17 ms with the
schema given, sf0.01 ``documents``/``embeddings``, 4-core local).
``tests/test_tables.py`` pins each declared schema to the inferred one on
every fixture dir present. A file that lacks a declared column reads it as
null, as any schema-on-read catalog does. ``events`` keeps inference, because
its storage type is the one that has varied.

At 100 TB the loader is where partition discovery, ANALYZE stats, and bucketed
table registration would live; for the fixtures it stays a thin wrapper so
every query compiles to a plain vectorized parquet scan with pushdown intact.
"""

from __future__ import annotations

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


#: Declared schemas of the fixed-shape tables (every table but ``events``).
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing schema quirks. A table with a
    declared schema loads without a Spark job; ``events`` infers its
    schema (one job) and normalizes ``ts``."""
    path = f"{sf_dir}/{name}.parquet"
    if name in TABLE_SCHEMAS:
        return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns epoch → µs timestamp; integer division matches DuckDB exactly.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark 4 infers
            # TIMESTAMP_NTZ, which unix_micros/window() reject. The session tz
            # is pinned UTC (session.py), so this cast is bit-preserving and
            # lands on the exact micros DuckDB reads natively.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


class Tables:
    """Lazy named access to the fixture tables of one scale-factor dir.

    ``t.lineitem`` etc. return DataFrames; each access builds a fresh scan
    so callers can't accidentally share cached plans across queries. The
    nine tables with a declared schema cost a plan node only; ``events``
    also runs its schema-inference job on every access.
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
