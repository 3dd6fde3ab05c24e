"""Scans / sources (SURVEY.md §2.1 Tier A rows).

The reference's core capability is "read JSON records, enrich, write to
multiple destinations" (SURVEY §0, driver characterization). Batch scans are
plain vectorized parquet reads; `source_json_parse` rebases the JSON-ingest
path onto the `events.props` payload column. Sinks live in sinks.py (Tier B);
the streaming file source is Tier C (tests/test_streaming.py).

Scale note: `.select` right after `spark.read.parquet` prunes columns at the
reader (ReadSchema), and comparison predicates reach the parquet row-group
stats as PushedFilters — both verified via .explain in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyetl_spark.registry import query
from pyetl_spark.tables import load_tables


@query(
    "scan_parquet_project",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
    """,
)
def scan_parquet_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-only scan (SURVEY §2.1 `scan_parquet_project`): ReadSchema
    carries exactly three columns; the other three never leave the file."""
    o = load_tables(spark, sf_dir).orders
    return o.select("o_orderkey", "o_custkey", "o_orderstatus")


@query(
    "scan_pushdown_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00' AND l_quantity >= 49
    """,
)
def scan_pushdown_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective predicate scan (SURVEY §2.1 `scan_pushdown_filter`): both
    conjuncts appear as PushedFilters → row-group min/max skipping, the
    mechanism that matters at 100 TB."""
    li = load_tables(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp"))
        & (F.col("l_quantity") >= 49)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@query(
    "source_json_parse",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract(props, '$.k') AS INT) AS k,
           CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INT) IS NOT NULL
    """,
)
def source_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload ingestion (SURVEY §2.1 `source_json_parse`) — the
    reference's "parse each JSON record into typed fields" step as a typed
    `from_json` over the props column. JVM-side JSON parser, no Python."""
    ev = load_tables(spark, sf_dir).events
    parsed = ev.withColumn(
        "_p", F.from_json("props", T.StructType([T.StructField("k", T.IntegerType())]))
    )
    return (
        parsed.select(
            "event_id",
            "event_type",
            F.col("_p.k").alias("k"),
            F.pmod(F.col("_p.k"), F.lit(10)).cast("int").alias("k_bucket"),
        )
        .filter(F.col("k").isNotNull())
    )


@query(
    "source_json_corrupt_records",
    oracle="""
    WITH fed AS (
      SELECT event_type,
             CASE WHEN event_id % 13 = 0 THEN '{' || props
                  WHEN event_id % 17 = 0 THEN 'not-json'
                  ELSE props END AS payload
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE NOT json_valid(payload)) AS BIGINT)
             AS n_quarantined,
           CAST(count(*) FILTER (WHERE json_valid(payload)) AS BIGINT)
             AS n_parsed,
           CAST(sum(CASE WHEN json_valid(payload)
                    THEN CAST(json_extract(payload, '$.k') AS INT) END)
                AS BIGINT) AS sum_k
    FROM fed GROUP BY event_type
    """,
)
def source_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-JSON ingestion with dead-lettering — the reference's consumer
    loop meets real feeds: records that fail to parse must be counted and
    quarantined, never dropped silently or allowed to kill the job.

    The fixture's props are all valid, so malformedness is injected
    deterministically (event_id % 13 → truncated-brace prefix, % 17 →
    non-JSON text; both engines corrupt identically, so the oracle is
    exact). Spark-side validity is `get_json_object(payload, '$.k') IS
    NOT NULL` — the JVM parser returns NULL on malformed input, and every
    genuine fixture payload carries `k`, so null ⇔ quarantine (DuckDB
    spells the same split with json_valid; its json_extract ERRORS on
    malformed input rather than returning NULL, hence the CASE guard
    there). The full pipeline form would route `n_quarantined` rows to a
    dead-letter sink (sink_multi's second leg) with the raw payload
    preserved for replay; at 100 TB this classification is a pure
    map-side expression — no shuffle beyond the final aggregate."""
    ev = load_tables(spark, sf_dir).events
    payload = (
        F.when(F.col("event_id") % 13 == 0, F.concat(F.lit("{"), F.col("props")))
        .when(F.col("event_id") % 17 == 0, F.lit("not-json"))
        .otherwise(F.col("props"))
    )
    k = F.get_json_object(payload, "$.k").cast("int")
    fed = ev.select("event_type", k.alias("k"))
    return fed.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("n_quarantined"),
        F.count(F.when(F.col("k").isNotNull(), 1)).alias("n_parsed"),
        F.sum("k").cast("bigint").alias("sum_k"),
    )


@query(
    "source_csv_roundtrip_typed",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 3 = 0
    """,
)
def source_csv_roundtrip_typed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Typed CSV SOURCE fidelity (the reference's flat-file ingest path):
    write an orders slice to CSV, read it back with an EXPLICIT schema +
    pinned timestamp format, and hash-match against the original rows —
    the oracle is the identity query, so the hash equality IS the
    roundtrip-fidelity proof (doubles survive via shortest-repr
    round-tripping; timestamps via the pinned format; strings via
    quoting). Schema inference is deliberately NOT used: inferSchema
    costs an extra full scan and can demote types on dirty data — an
    explicit DDL schema is the production contract.

    Scale: CSV write/read parallelize per partition like any source; the
    roundtrip here is fixture-sized scratch. The lesson that matters at
    100 TB is the pinned schema + format options, not the medium."""
    from pyetl_spark.queries.sinks import _scratch

    path = _scratch("csv_roundtrip")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    # fixture timestamps are TIMESTAMP_NTZ — the NTZ format option is the
    # one that applies (timestampFormat alone is silently ignored for NTZ
    # columns: the write falls back to ISO-8601 and the typed read then
    # nulls every value — caught by the identity oracle on first run)
    ts_fmt = "yyyy-MM-dd HH:mm:ss"
    src = (
        load_tables(spark, sf_dir)
        .orders.filter(F.col("o_orderkey") % 3 == 0)
        .select(cols)
    )
    (
        src.write.mode("overwrite")
        .option("header", True)
        .option("timestampNTZFormat", ts_fmt)
        .csv(path)
    )
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string"
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampNTZFormat", ts_fmt)
        .csv(path)
        .select(cols)
    )


@query(
    "source_json_variant",
    oracle="""
    WITH fed AS (
      SELECT '{"meta":{"type":"' || event_type || '","uid":'
             || CAST(user_id AS VARCHAR) || '},"ids":['
             || CAST(event_id AS VARCHAR) || ','
             || CAST(event_id % 97 AS VARCHAR) || ']}' AS payload
      FROM events
    ), ext AS (
      SELECT json_extract_string(payload, '$.meta.type') AS vtype,
             CAST(json_extract(payload, '$.meta.uid') AS BIGINT) AS uid,
             CAST(json_extract(payload, '$.ids[1]') AS BIGINT) AS id_mod,
             CAST(json_extract(payload, '$.meta.absent') AS INT) AS absent
      FROM fed
    )
    SELECT vtype,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(uid) AS BIGINT) AS sum_uid,
           CAST(sum(id_mod) AS BIGINT) AS sum_mod,
           CAST(count(absent) AS BIGINT) AS n_absent
    FROM ext
    WHERE id_mod < 50
    GROUP BY vtype
    """,
)
def source_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via Spark 4's VARIANT type — the modern
    schema-on-read path for the reference's "parse JSON records" step when
    payloads are too heterogeneous for a fixed `from_json` struct.

    A nested payload is synthesized deterministically from event columns
    (both engines build byte-identical strings, so the oracle is exact),
    then: `parse_json` → binary VARIANT once per record, `variant_get`
    typed path extraction (`$.meta.uid`, array index `$.ids[1]`), and
    `try_variant_get` on an absent path proving null-on-missing instead of
    error (n_absent = 0 pins it). The oracle spells the same extraction
    with DuckDB's json_extract.

    Scale: VARIANT encodes to a compact binary (field-id dictionary +
    offsets), so repeated path access costs O(path) per record with no
    re-tokenization, and extraction is a pure map-side JVM expression in
    whole-stage codegen — no Python, no shuffle until the final partial/
    final aggregate. On parquet, VARIANT columns additionally support
    shredding (typed subcolumns) so hot paths get columnar pruning; here
    the source is in-flight JSON, the ingest-side half of that story."""
    ev = load_tables(spark, sf_dir).events
    payload = F.concat(
        F.lit('{"meta":{"type":"'),
        F.col("event_type"),
        F.lit('","uid":'),
        F.col("user_id").cast("string"),
        F.lit('},"ids":['),
        F.col("event_id").cast("string"),
        F.lit(","),
        (F.col("event_id") % 97).cast("string"),
        F.lit("]}"),
    )
    v = ev.select(F.parse_json(payload).alias("v"))
    ext = v.select(
        F.variant_get("v", "$.meta.type", "string").alias("vtype"),
        F.variant_get("v", "$.meta.uid", "bigint").alias("uid"),
        F.variant_get("v", "$.ids[1]", "bigint").alias("id_mod"),
        F.try_variant_get("v", "$.meta.absent", "int").alias("absent"),
    )
    return (
        ext.filter(F.col("id_mod") < 50)
        .groupBy("vtype")
        .agg(
            F.count("*").alias("n"),
            F.sum("uid").alias("sum_uid"),
            F.sum("id_mod").alias("sum_mod"),
            F.count("absent").alias("n_absent"),
        )
    )


@query(
    "source_python_datasource",
    oracle="""
    WITH gen AS (
      SELECT CAST(range AS BIGINT) AS id,
             CAST(range AS BIGINT) % 13 AS bucket,
             (CAST(range AS BIGINT) * 2654435761) % 1000 AS val
      FROM range(20000)
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(val) AS BIGINT) AS sum_val,
           CAST(min(id) AS BIGINT) AS min_id,
           CAST(max(id) AS BIGINT) AS max_id
    FROM gen
    GROUP BY bucket
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via Spark 4's Python Data Source API — the
    reference's "plug a new feed into the engine" extension point done the
    idiomatic PySpark way: a pure-Python DataSource class registered on the
    session and consumed through the ordinary `spark.read.format(...)`
    path (pyetl_spark/operators/pydatasource.py).

    The source plans 8 InputPartitions (8 independent read tasks — the
    same fan-out contract parquet splits satisfy, so a real cluster
    parallelizes it for free) and each task generates a deterministic,
    non-overlapping id slab; min/max per bucket additionally pin that no
    slab was dropped or doubled. The oracle regenerates the identical rows
    from DuckDB's range() — exact 64-bit integer arithmetic on both sides.

    Synthetic by construction, so sf-independent (like `source_range`);
    the API surface under test is partition planning + per-task iteration,
    not data volume."""
    # importing the module registers it for by-value pickling (its
    # reader methods are pyworker.worker_entry functions), so workers
    # need no repo on their PYTHONPATH
    from pyetl_spark.operators.pydatasource import SyntheticEventsSource

    # Registration is session-global and re-registration REPLACES the
    # previous entry (probed on pyspark 4.1: DataSourceManager logs a WARN
    # and overwrites), so register unconditionally — no exception-text
    # sniffing (ADVICE r5); a real failure (API absent, bad class)
    # propagates here instead of as format-not-found at read time.
    spark.dataSource.register(SyntheticEventsSource)
    gen = (
        spark.read.format("pyetl_synth_events")
        .option("rows", 20000)
        .option("parts", 8)
        .load()
    )
    return gen.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("val").alias("sum_val"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@query(
    "source_xml_parse",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
                AS BIGINT) AS n_urgent
    FROM orders
    GROUP BY status, o_year
    """,
)
def source_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion via Spark 4's native `from_xml` (spark-xml merged into
    core) — the markup twin of `source_json_parse`. Records are encoded to
    XML deterministically from orders columns (attribute + child elements,
    integers only so encoding is byte-stable), then parsed back with a
    typed schema: `_k` exercises attribute extraction, `p`/`y` element
    extraction. The oracle computes the same aggregate straight from the
    base columns, so any decode loss (dropped attr, type demotion,
    entity-escape bug in the priority string) breaks the hash.

    Scale: encode and parse are both map-side JVM expressions in
    whole-stage codegen — the same no-shuffle, no-Python contract as the
    JSON path; one partial/final aggregate ends the plan."""
    o = load_tables(spark, sf_dir).orders
    xml = F.concat(
        F.lit('<o k="'),
        F.col("o_orderkey").cast("string"),
        F.lit('"><s>'),
        F.col("o_orderstatus"),
        F.lit("</s><p>"),
        F.col("o_orderpriority"),
        F.lit("</p><y>"),
        F.year("o_orderdate").cast("string"),
        F.lit("</y></o>"),
    )
    parsed = o.select(
        F.from_xml(xml, "_k BIGINT, s STRING, p STRING, y BIGINT").alias("x")
    ).select("x.*")
    return parsed.groupBy(
        F.col("s").alias("status"), F.col("y").alias("o_year")
    ).agg(
        F.count("*").alias("n"),
        F.sum("_k").alias("key_sum"),
        F.count(F.when(F.col("p") == "1-URGENT", 1)).alias("n_urgent"),
    )


@query(
    "source_orc_roundtrip_typed",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 5 = 1
    """,
)
def source_orc_roundtrip_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC SOURCE fidelity — the columnar sibling of
    `source_csv_roundtrip_typed`: write an orders slice to ORC, read it
    back, hash-match the identity oracle. Unlike CSV, ORC carries the
    schema in the file (types survive natively — no format options to
    pin), so the roundtrip proves the second columnar format's
    encode/decode loop end-to-end. TIMESTAMP_NTZ round-trips as its own
    ORC logical type in Spark 4.

    Scale: ORC brings the same row-group statistics + predicate pushdown
    contract as parquet (min/max skipping, dictionary encoding); the
    engine treats both as interchangeable columnar stores — this key
    keeps the claim tested."""
    from pyetl_spark.queries.sinks import _scratch

    path = _scratch("orc_roundtrip")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    src = (
        load_tables(spark, sf_dir)
        .orders.filter(F.col("o_orderkey") % 5 == 1)
        .select(cols)
    )
    src.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(cols)
