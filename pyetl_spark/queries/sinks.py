"""Sinks (SURVEY.md §2.1, Tier B — rows-only checks).

The reference's signature capability is one input → multiple destinations
with date-partitioned file layout (SURVEY §0 driver characterization, §3.1).
Here each sink writes to a scratch dir and *re-reads* the result, so the
rows-only check still validates the full write→read round trip, layout
included. The streaming multi-sink twin (foreachBatch) is Tier C in
pyetl_spark/streaming/.

Scale posture: writes go through `partitionBy` (Hive layout, partition
pruning on read-back) with `mode("overwrite")` idempotency — the same call
shape a 1000-executor job uses; only the scratch path is fixture-local.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyetl_spark.app import Sink, land
from pyetl_spark.parity import FXP, fxp
from pyetl_spark.registry import query
from pyetl_spark.tables import load_tables

_SCRATCH = os.environ.get("PYETL_SCRATCH", tempfile.gettempdir())


def _scratch(name: str) -> str:
    d = os.path.join(_SCRATCH, "pyetl_spark_sinks", name)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def _events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's enrich-then-land shape: events + derived dt key."""
    ev = load_tables(spark, sf_dir).events
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("dt"),
    )


@query("sink_parquet_partitioned")  # Tier B
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned Parquet sink + read-back (SURVEY §2.1
    `sink_parquet_partitioned`): Hive `dt=YYYY-MM-DD/` layout, the
    reference's output-directory convention."""
    path = _scratch("parquet_partitioned")
    df = _events_enriched(spark, sf_dir)
    df.write.partitionBy("dt").mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    # partition pruning check-friendly shape: one partition's rows
    return back.select(
        "event_id", "user_id", "event_type", "value", "dt"
    ).orderBy("event_id")


@query("sink_json_lines")  # Tier B
def sink_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newline-delimited JSON sink + read-back (SURVEY §2.1
    `sink_json_lines`) — the reference's native record format."""
    path = _scratch("json_lines")
    df = _events_enriched(spark, sf_dir)
    df.write.mode("overwrite").json(path)
    back = spark.read.schema(df.schema).json(path)
    return back.orderBy("event_id")


@query("sink_csv")  # Tier B
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink with header + schema-pinned read-back (SURVEY §2.1
    `sink_csv`)."""
    path = _scratch("csv")
    df = _events_enriched(spark, sf_dir)
    df.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(df.schema).option("header", True).csv(path)
    return back.orderBy("event_id")


@query("sink_multi")  # Tier B
def sink_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One input → multiple destinations (SURVEY §2.1 `sink_multi`) — the
    reference's signature move. Same DataFrame lands in Parquet AND JSON;
    returns the union of both read-backs tagged by sink (so row count =
    2× input proves both destinations committed).

    Lands through ``app.land``, the lander every sink write shares: the
    input is persisted once and read by both writes. The streaming twin
    (``streaming/pipeline.foreach_batch_multi_sink``, Tier C) lands each
    micro-batch through the same lander, so it too shares one
    materialization per micro-batch.
    """
    pq_path = _scratch("multi_parquet")
    js_path = _scratch("multi_json")
    df = _events_enriched(spark, sf_dir)
    land(df, [Sink(pq_path), Sink(js_path, fmt="json")])
    pq_back = spark.read.parquet(pq_path).withColumn("sink", F.lit("parquet"))
    js_back = (
        spark.read.schema(df.schema)
        .json(js_path)
        .withColumn("sink", F.lit("json"))
    )
    return pq_back.unionByName(js_back).orderBy("sink", "event_id")


#: Read-back-equality oracle for the lossless columnar sinks: the sink
#: round-trip must reproduce the enrichment EXACTLY (ints, doubles, and
#: dates are bit-preserved by both ORC and Parquet), so the DuckDB twin
#: is simply the enrichment itself — any dropped/duplicated/corrupted
#: row or cell breaks the driver's value hash (r7: Tier B → Tier A).
_ENRICHED_ORACLE = """
SELECT event_id, user_id, event_type, value, CAST(ts AS DATE) AS dt
FROM events
"""


@query("sink_orc", oracle=_ENRICHED_ORACLE)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + read-back (columnar alternative to parquet; same
    vectorized reader path in Spark). Tier A via the read-back-equality
    oracle: ORC round-trips every cell losslessly, so the read-back must
    hash-match the enrichment computed independently in DuckDB."""
    path = _scratch("orc")
    df = _events_enriched(spark, sf_dir)
    df.write.mode("overwrite").orc(path)
    return spark.read.orc(path).orderBy("event_id")


@query("sink_parquet_zstd", oracle=_ENRICHED_ORACLE)
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet with zstd compression — the codec choice that matters at
    100 TB (zstd ≈ snappy speed at materially better ratio). Tier A via
    the read-back-equality oracle (see _ENRICHED_ORACLE)."""
    path = _scratch("parquet_zstd")
    df = _events_enriched(spark, sf_dir)
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)
    return spark.read.parquet(path).orderBy("event_id")


@query(
    "sink_compact_small_files",
    oracle="""
    SELECT 'compacted' AS phase, 1 AS n_files,
           count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM documents
    UNION ALL
    SELECT 'fragmented', 64, count(*), CAST(sum(doc_id) AS BIGINT)
    FROM documents
    ORDER BY phase
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every long-lived
    lake table needs (streaming ingests and fine-grained partitions leave
    thousands of KB-sized files; scan cost then is per-FILE, not
    per-byte). Phase 1 simulates the problem (64-way repartition write);
    phase 2 reads it back and rewrites sized-to-target via coalesce —
    coalesce, not repartition: compaction must not pay a shuffle, it
    only concatenates map-side. Output is the audit row per phase
    proving files collapsed AND content survived both rewrites.
    At 100 TB this runs per-partition with dynamic partition overwrite
    (compact only partitions whose small-file count crosses a threshold).

    Tier A (r14 conversion — the r8 ledger deferred it pending "an
    audit-schema rethink around the coalesce file count"; this is that
    rethink): the audit columns are now all oracle-statable, with both
    file counts pinned STRUCTURALLY, not by machine shape (the r14
    review caught both hazards):
    - fragmented = 64: round-robin ``repartition(64)`` fills every
      target only when each INPUT partition carries ≥64 rows (each
      input partition cycles the targets from its own offset — a
      multi-file fixture of small splits would leave gaps), so the
      simulation collapses the scan to ONE partition first
      (``coalesce(1)``; ≥64 rows at every SF) — fixture construction,
      not the production path.
    - compacted = 1: ``coalesce(k)`` can only LOWER the partition
      count, and how many read partitions 64 tiny files plan depends
      on driver cores via maxSplitBytes binning (a 2-core machine bins
      them into 2) — so the only coalesce target that is
      environment-independent is 1, which is also the classic
      compaction demo. At 100 TB the real job compacts per PARTITION
      of the table (each to one file), exactly this shape.
    ``n_rows`` + ``sum_ids`` are the content fingerprint READ BACK
    from each phase's files, so a row lost or duplicated by either
    rewrite breaks the hash against the source-table oracle. The
    environment-dependent ``n_bytes`` column (codec/layout noise, not
    replayable) was dropped — byte-level sizing stays visible in
    SCALE.md's maxPartitionBytes discussion, not in an oracle-checked
    audit."""
    import glob

    fragmented = _scratch("compact_fragmented")
    compacted = _scratch("compact_done")
    docs = load_tables(spark, sf_dir).documents
    docs.coalesce(1).repartition(64).write.mode("overwrite").parquet(
        fragmented
    )

    back = spark.read.parquet(fragmented)
    back.coalesce(1).write.mode("overwrite").parquet(compacted)

    def stats(path: str, phase: str):
        files = glob.glob(os.path.join(path, "part-*"))
        n_rows, sum_ids = (
            spark.read.parquet(path)
            .agg(F.count("*"), F.sum("doc_id"))
            .first()
        )
        return (phase, len(files), n_rows, sum_ids)

    rows = [stats(fragmented, "fragmented"), stats(compacted, "compacted")]
    return spark.createDataFrame(
        rows, "phase string, n_files int, n_rows long, sum_ids long"
    ).orderBy("phase")


@query(
    "sink_bucketed_join",
    oracle="""
    SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_orderpriority
    ORDER BY c_mktsegment, o_orderpriority
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table layout (plans/layout.py): pay the shuffle ONCE at
    write time — both tables land bucketed+sorted on the join key — and
    every subsequent join on that key plans SortMergeJoin with ZERO
    Exchange nodes (pinned in tests/test_layout.py). This is the
    100 TB fact-to-fact answer when broadcast is impossible: nightly
    jobs joining the same keys amortize one layout write across every
    downstream run. Output: per-priority order counts from the
    bucket-local join."""
    import shutil

    from pyetl_spark.plans.layout import bucketed_join, write_bucketed

    t = load_tables(spark, sf_dir)
    for tbl in ("bkt_orders_q", "bkt_cust_q"):
        # a stale warehouse dir from a previous PROCESS blocks saveAsTable
        # even after DROP (the new session's catalog never knew the table)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        loc = os.path.join(
            spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:"),
            tbl,
        )
        shutil.rmtree(loc, ignore_errors=True)
    write_bucketed(
        t.orders.select("o_custkey", "o_orderkey", "o_orderpriority"),
        "bkt_orders_q",
        "o_custkey",
    )
    write_bucketed(
        t.customer.select("c_custkey", "c_mktsegment").withColumnRenamed(
            "c_custkey", "o_custkey"
        ),
        "bkt_cust_q",
        "o_custkey",
    )
    joined = bucketed_join(spark, "bkt_orders_q", "bkt_cust_q")
    # Tier A (r7): the oracle is the plain join/aggregate over the source
    # tables, so the hash proves the bucketed WRITE+exchange-free JOIN
    # round-trip lost or duplicated nothing (the zero-Exchange plan
    # itself stays pinned in tests/test_layout.py).
    return (
        joined.groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("c_mktsegment", "o_orderpriority")
    )


#: Morton-curve bits per dimension for the z-order audit. 16 covers
#: user_id at every test SF AND sf1 (max 1,499 at sf0.1; the old
#: bits=10 already truncated there) and keeps z in 32 bits.
_ZORDER_BITS = 16
_ZORDER_TILES = 16


def _zvalue_sql(ucol: str, dcol: str, bits: int = _ZORDER_BITS) -> str:
    """DuckDB replay of plans/layout.zvalue(["u","d"], bits): column 0
    (u) contributes bit i at position 2i, column 1 (d) at 2i+1 — the
    identical shift/mask/sum arithmetic, compiled to one SQL expression
    (same technique as dedup_simhash's 64-term bit-majority SQL)."""
    terms = [f"((({ucol} >> {i}) & 1) << {2 * i})" for i in range(bits)]
    terms += [f"((({dcol} >> {i}) & 1) << {2 * i + 1})" for i in range(bits)]
    return " + ".join(terms)


@query(
    "sink_zorder_layout",
    oracle=f"""
    WITH dims AS (
      SELECT event_id, CAST(user_id AS BIGINT) AS u,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d
      FROM events
    ), zt AS (
      SELECT event_id, u, d, ({_zvalue_sql("u", "d")}) AS z FROM dims
    ), rk AS (
      SELECT u, d,
             ntile({_ZORDER_TILES}) OVER (ORDER BY z, event_id) AS tile
      FROM zt
    )
    SELECT tile, count(*) AS n_rows,
           min(u) AS min_user, max(u) AS max_user,
           min(d) AS min_day, max(d) AS max_day
    FROM rk GROUP BY tile ORDER BY tile
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit (plans/layout.py): events ordered along
    the Morton curve of (user_id, epoch-day), tiled into equal-height
    z-runs, then per tile the min/max of BOTH dimensions — the
    rectangles parquet min/max file stats would expose to the scanner.
    The audit row shape makes the data-skipping claim measurable: tight
    rectangles on both axes ⇒ a predicate on EITHER column prunes most
    files (a plain sort by user_id would give day ranges spanning the
    whole month in every file). tests/test_layout.py quantifies the
    pruning win on the zorder_repartition physical layout itself.

    Tier A (r14 conversion): the audit tile used to be
    ``spark_partition_id()`` after ``repartitionByRange`` — run-scoped
    (range bounds come from a sample of the input splits), hence
    rows-only. Tiles are now DETERMINISTIC equal-height z-runs — the
    exact ANSI ``ntile(16)`` over (z, event_id), computed as
    operators/global_rank's established pair
    (``global_order_rank`` two-phase rank + ``ntile_from_rank``, the
    same composition agg_equidepth_histogram and customer_rfm ride —
    no single-partition window, no hand-rolled tiling formula). Both
    the z arithmetic (shift/mask interleave, pure JVM codegen) and the
    native-ntile bucketing are replayed exactly by the DuckDB oracle,
    so the hash pins the whole layout computation. The range-sampled
    physical write path stays covered by tests/test_layout.py, where
    the pruning WIN — not the sampled file boundaries — is the
    asserted contract."""
    from pyetl_spark.operators.global_rank import (
        global_order_rank,
        ntile_from_rank,
    )
    from pyetl_spark.plans.layout import zvalue

    ev = load_tables(spark, sf_dir).events
    dims = ev.select(
        "event_id",
        F.col("user_id").cast("long").alias("u"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    )
    zed = dims.withColumn("z", zvalue(["u", "d"], _ZORDER_BITS))
    n = zed.count()
    ranked = global_order_rank(
        zed, ["z", "event_id"], out_col="r", num_partitions=_ZORDER_TILES
    )
    return (
        ranked.withColumn(
            "tile", ntile_from_rank(F.col("r"), n, _ZORDER_TILES)
        )
        .groupBy("tile")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("u").alias("min_user"),
            F.max("u").alias("max_user"),
            F.min("d").alias("min_day"),
            F.max("d").alias("max_day"),
        )
        .orderBy("tile")
    )


@query(
    "sink_schema_evolution",
    oracle="""
    SELECT 1 AS batch, count(*) AS n_rows, count(*) AS n_null_status,
           CAST(0 AS BIGINT) AS n_status_values
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 2, count(*), 0, count(DISTINCT o_orderstatus)
    FROM orders WHERE o_orderkey % 2 = 1
    ORDER BY batch
    """,
)
def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across landed batches — long-lived lake tables
    gain columns over time, and old files must stay readable without a
    rewrite. Batch 1 lands (o_orderkey, o_totalprice); batch 2 adds
    o_orderstatus. A plain read would serve whichever file's schema got
    sampled first; `mergeSchema=true` unions the per-file schemas and
    null-backfills the missing column for batch-1 rows — the audit output
    proves both the union (column exists everywhere) and the backfill
    (nulls confined to batch 1). At 100 TB, mergeSchema's footer-listing
    cost is why real deployments record the merged schema once in a
    catalog/table format; the read semantics verified here are the same.

    Tier A (r7): every audit cell is predictable from the source table
    (batch 1 = even orderkeys with the status column ABSENT → n_null ==
    n_rows and 0 distinct values; batch 2 = odd with real statuses), so
    the oracle pins the whole merge+backfill contract."""
    path = _scratch("schema_evolution")
    o = load_tables(spark, sf_dir).orders
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v1.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    back = spark.read.option("mergeSchema", "true").option(
        "basePath", path
    ).parquet(path)
    return (
        back.groupBy("batch")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("o_orderstatus").isNull(), 1)).alias(
                "n_null_status"
            ),
            F.countDistinct("o_orderstatus").alias("n_status_values"),
        )
        .orderBy("batch")
    )


@query(
    "sink_dpp_partitioned_join",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           count(*) AS n_orders,
           CAST(sum({FXP('o_totalprice', 100)}) AS BIGINT) AS revenue_cents
    FROM orders
    WHERE year(o_orderdate) IN (2000, 2001)
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def sink_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a Hive-partitioned sink: orders land
    partitioned by order year, then a join against a filtered dimension
    prunes fact PARTITIONS at runtime — the dim's qualifying keys become a
    `dynamicpruningexpression` on the fact scan (tests/test_plans.py pins
    it), so only 2 of the ~7 year directories are ever read. This is the
    mechanism that makes date-dimension joins cheap on a 100 TB
    partitioned lake: static pruning can't see through the join, DPP
    turns the broadcast dim into a partition filter. Output re-aggregates
    the joined slice (counts + exact cent revenue per year)."""
    path = _scratch("dpp_orders_by_year")
    t = load_tables(spark, sf_dir)
    fact = t.orders.withColumn("o_year", F.year("o_orderdate"))
    fact.write.partitionBy("o_year").mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    years = (
        fact.select("o_year")
        .distinct()
        .withColumn("is_focus", F.col("o_year").isin(2000, 2001))
    )
    dim = years.filter(F.col("is_focus")).withColumnRenamed("o_year", "d_year")
    joined = back.join(
        F.broadcast(dim), F.col("o_year") == F.col("d_year")
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(fxp(F.col("o_totalprice"), 100)).alias("revenue_cents"),
        )
        .orderBy("o_year")
    )


#: Cross-engine row fingerprint used by the manifest sinks: first 12 md5
#: hex chars of the '|'-joined stringified row, mod a prime, summed mod
#: the prime. DOUBLE columns enter the string as their exact integer
#: fixed-point (cents) — never as the raw double string, whose rendering
#: diverges between engines outside fixture ranges (Spark switches to
#: scientific notation at |x| >= 1e7; DuckDB never does). Ints, strings,
#: dates render identically on both engines.
_FP_PRIME = 1000000007


def _fp_sql(cols: str) -> str:
    return (
        f"CAST(('0x' || substring(md5({cols}), 1, 12)) AS BIGINT) "
        f"% {_FP_PRIME}"
    )


def _fp_double(c: str) -> Column:
    """FXP(col, 100) as string, with a runtime guard that the 2dp money
    grid assumption actually holds: a non-money double (ratio, score)
    would silently quantize distinct rows to one fingerprint and
    diverge from any oracle that doesn't apply FXP — fail loudly
    instead of fingerprinting garbage (r8 advisory). Null passes
    through as null (concat_ws drops it, as before)."""
    scaled = F.col(c) * 100
    # tolerance must be scale-RELATIVE: a legitimate on-grid value like
    # 134228608.14 has |x*100 - round(x*100)| ≈ 1.9e-6 (ulp of the
    # scaled double), so a bare 1e-6 would spuriously reject exactly
    # the large-magnitude rows the guard exists for. 1e-12·|scaled|
    # ≈ 4500 ulp — far above representation error, and still 11 orders
    # below a genuine 0.001-dollar grid violation until ~$2.5e9/cell
    # (past 2^53/100 ≈ $9e13 the 2dp grid itself stops being
    # representable, which no tolerance can fix).
    tol = F.greatest(F.lit(1e-6), F.abs(scaled) * F.lit(1e-12))
    return (
        F.when(
            F.abs(scaled - F.round(scaled, 0)) > tol,
            F.raise_error(
                F.lit(f"_fp_row_hash: column {c} is off the 2dp money grid")
            ).cast("string"),
        )
        .otherwise(fxp(F.col(c), 100).cast("string"))
    )


def _fp_row_hash(back: DataFrame) -> Column:
    """Spark twin of ``_fp_sql`` over ALL columns of ``back``,
    dtype-aware: doubles are fingerprinted as FXP(col, 100) longs (the
    2dp money grid every fixture double lives on — enforced at runtime
    by ``_fp_double``), everything else as its plain string cast."""
    parts = [
        _fp_double(c) if t == "double" else F.col(c).cast("string")
        for c, t in back.dtypes
    ]
    return (
        F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 12), 16, 10)
        .cast("bigint")
        % F.lit(_FP_PRIME)
    )


@query(
    "sink_manifest_atomic_publish",
    oracle=f"""
    SELECT CAST(2 AS INT) AS version, CAST(2 AS INT) AS n_files,
           count(*) AS n_rows_manifest, count(*) AS n_rows_read,
           CAST(sum(h) % {_FP_PRIME} AS BIGINT) AS fingerprint,
           true AS consistent
    FROM (
      SELECT {_fp_sql("CAST(s_suppkey AS VARCHAR) || '|' || s_name"
                      f" || '|' || CAST({FXP('s_acctbal', 100)} AS VARCHAR)")} AS h
      FROM supplier WHERE s_acctbal > 0
    )
    """,
)
def sink_manifest_atomic_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic publish via manifest — the reference's temp-write →
    atomic-rename move (SURVEY §3.1) in its lake-native form: data files
    land under a versioned directory, then ONE manifest file (the list of
    files + row count + order-free content fingerprint) is written and a
    `_LATEST` pointer is atomically renamed onto it. Readers resolve
    `_LATEST` → manifest → exactly that file set, so they never observe a
    half-written version, and a crashed writer leaves only an unpublished
    directory (garbage, not corruption). This is the commit-protocol core
    that table formats (Iceberg/Delta) industrialize; at 100 TB the
    pattern is identical — the manifest stays KB-sized because it lists
    files, not rows.

    Storage caveat: the `_LATEST` swap here is a driver-local
    ``os.replace`` — atomic on POSIX filesystems and HDFS-style renames,
    but NOT on object stores (S3 has no atomic rename). On S3 the same
    protocol needs a conditional put (If-None-Match / If-Match on the
    pointer object) or a real table format's commit service (Iceberg
    catalog swap, Delta log mutual exclusion) as the pointer primitive;
    everything else in the pattern (versioned dirs, KB manifest,
    readers resolve pointer→manifest→file set) carries over unchanged.
    See SCALE.md. Output: the audit row per published version (rows,
    files, fingerprint), read back THROUGH the manifest indirection."""
    import glob
    import json

    path = _scratch("manifest_publish")
    t = load_tables(spark, sf_dir)
    P = 1000000007

    def publish(version: int, df: DataFrame) -> None:
        vdir = os.path.join(path, f"v{version}")
        df.repartition(2).write.mode("overwrite").parquet(vdir)  # 2 files,
        # deterministically: the audit row (and its r7 oracle) pins
        # n_files == 2; round-robin repartition never leaves a
        # partition empty for >= 2 rows
        files = sorted(
            os.path.basename(f)
            for f in glob.glob(os.path.join(vdir, "part-*"))
        )
        back = spark.read.parquet(vdir)
        row_h = _fp_row_hash(back)
        stats = back.agg(
            F.count("*").alias("n"), (F.sum(row_h) % F.lit(P)).alias("fp")
        ).collect()[0]
        manifest = {
            "version": version,
            "files": files,
            "n_rows": stats["n"],
            "fingerprint": int(stats["fp"]),
        }
        mpath = os.path.join(path, f"manifest_v{version}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)  # atomic manifest write
        latest_tmp = os.path.join(path, "_LATEST.tmp")
        with open(latest_tmp, "w") as f:
            f.write(f"manifest_v{version}.json")
        os.replace(latest_tmp, os.path.join(path, "_LATEST"))  # atomic flip

    publish(1, t.supplier.select("s_suppkey", "s_name", "s_acctbal"))
    publish(
        2,
        t.supplier.filter(F.col("s_acctbal") > 0).select(
            "s_suppkey", "s_name", "s_acctbal"
        ),
    )
    # reader path: resolve the pointer, trust ONLY the manifest
    with open(os.path.join(path, "_LATEST")) as f:
        mname = f.read().strip()
    with open(os.path.join(path, mname)) as f:
        manifest = json.load(f)
    vdir = os.path.join(path, f"v{manifest['version']}")
    data = spark.read.parquet(
        *[os.path.join(vdir, fn) for fn in manifest["files"]]
    )
    n_read = data.count()
    return spark.createDataFrame(
        [
            (
                manifest["version"],
                len(manifest["files"]),
                manifest["n_rows"],
                n_read,
                manifest["fingerprint"],
                n_read == manifest["n_rows"],
            )
        ],
        "version int, n_files int, n_rows_manifest long, n_rows_read long,"
        " fingerprint long, consistent boolean",
    )


@query(
    "sink_snapshot_time_travel",
    oracle=f"""
    WITH f AS (
      SELECT year(o_orderdate) AS y,
             {_fp_sql("CAST(o_orderkey AS VARCHAR) || '|' ||"
                      " CAST(o_custkey AS VARCHAR) || '|' ||"
                      f" CAST({FXP('o_totalprice', 100)} AS VARCHAR) || '|' ||"
                      " CAST(o_orderdate AS VARCHAR)")} AS h
      FROM orders
    ),
    v AS (SELECT * FROM (VALUES (1, 2000), (2, 2001), (3, 2002))
          AS t(version, horizon)),
    agg AS (
      SELECT v.version, count(f.y) AS n_rows,
             CAST(sum(f.h) % {_FP_PRIME} AS BIGINT) AS fingerprint
      FROM v JOIN f ON f.y < v.horizon
      GROUP BY v.version
    )
    SELECT CAST(version AS INT) AS version, n_rows,
           n_rows - coalesce(lag(n_rows) OVER (ORDER BY version), 0)
             AS rows_added,
           fingerprint, true AS consistent
    FROM agg ORDER BY version
    """,
)
def sink_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over retained manifest versions — the read-side dual
    of sink_manifest_atomic_publish: because every publish keeps its
    versioned data directory AND its immutable manifest, reading the
    table AS OF version N is just resolving ``manifest_vN.json`` instead
    of the ``_LATEST`` pointer. Three append-style publishes (orders
    through 1999 / 2000 / 2001) are written, then every retained version
    is re-read THROUGH its manifest file list and audited: row count vs
    the manifest, rows added vs the previous snapshot, and the order-free
    content fingerprint chain — snapshot diffs without replaying any
    data (Iceberg snapshot / Delta VERSION AS OF semantics on plain
    parquet + JSON).

    An orphan v99 directory with data files but NO manifest is planted
    to prove the reader's trust boundary: unpublished data is invisible
    to every AS-OF read (the crash-safety invariant, also pinned in
    tests/test_invariants.py for the publish side). Retention at 100 TB:
    manifests are KB-sized forever; expiring old DATA versions is a
    manifest-driven GC (delete dirs whose version < horizon), never a
    scan."""
    import glob
    import json

    path = _scratch("time_travel")
    t = load_tables(spark, sf_dir)
    P = 1000000007

    def publish(version: int, df: DataFrame) -> None:
        vdir = os.path.join(path, f"v{version}")
        df.write.mode("overwrite").parquet(vdir)
        files = sorted(
            os.path.basename(f)
            for f in glob.glob(os.path.join(vdir, "part-*"))
        )
        back = spark.read.parquet(vdir)
        row_h = _fp_row_hash(back)
        stats = back.agg(
            F.count("*").alias("n"), (F.sum(row_h) % F.lit(P)).alias("fp")
        ).collect()[0]
        mpath = os.path.join(path, f"manifest_v{version}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "files": files,
                    "n_rows": stats["n"],
                    "fingerprint": int(stats["fp"]),
                },
                f,
            )
        os.replace(tmp, mpath)

    base = t.orders.select("o_orderkey", "o_custkey", "o_totalprice",
                           "o_orderdate")
    for v, horizon in ((1, 2000), (2, 2001), (3, 2002)):
        publish(v, base.filter(F.year("o_orderdate") < horizon))
    # planted crash: data files land, manifest never written
    base.limit(10).write.mode("overwrite").parquet(
        os.path.join(path, "v99")
    )

    versions = sorted(
        int(os.path.basename(m)[len("manifest_v"):-len(".json")])
        for m in glob.glob(os.path.join(path, "manifest_v*.json"))
    )
    rows, prev_n = [], 0
    for v in versions:
        with open(os.path.join(path, f"manifest_v{v}.json")) as f:
            man = json.load(f)
        vdir = os.path.join(path, f"v{v}")
        as_of = spark.read.parquet(
            *[os.path.join(vdir, fn) for fn in man["files"]]
        )
        n_read = as_of.count()
        rows.append(
            (
                v,
                n_read,
                n_read - prev_n,
                man["fingerprint"],
                n_read == man["n_rows"],
            )
        )
        prev_n = n_read
    out = spark.createDataFrame(
        rows,
        "version int, n_rows long, rows_added long, fingerprint long,"
        " consistent boolean",
    )
    # the orphan must be invisible: exactly the published versions appear
    assert versions == [1, 2, 3], versions
    return out.orderBy("version")


@query(
    "sink_parquet_variant",
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
             CAST(json_extract(payload, '$.ids[1]') AS BIGINT) AS id_mod
      FROM fed
    )
    SELECT vtype,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(uid) AS BIGINT) AS sum_uid,
           CAST(sum(id_mod) AS BIGINT) AS sum_mod
    FROM ext
    GROUP BY vtype
    """,
)
def sink_parquet_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT column persisted to parquet and read back — the storage half
    of the semi-structured story (`source_json_variant` is the in-flight
    half). The payload is parsed to binary VARIANT, LANDED as a parquet
    VARIANT column (Spark 4 writes the variant logical type:
    metadata+value twin binaries), re-read, and path-extracted — so the
    hash-match proves the encode→store→decode loop is lossless, not just
    the in-memory parse. Tier A via the same deterministic payload oracle.

    Scale: this is the schema-on-read landing pattern for heterogeneous
    feeds at 100 TB — land VARIANT now, extract typed views later without
    re-ingesting; parquet shredding (typed subcolumns for hot paths) is
    the engine-side upgrade that keeps columnar pruning. Write and
    read-back both parallelize per partition like any parquet IO."""
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
    path = _scratch("parquet_variant")
    ev.select(F.parse_json(payload).alias("v")).write.mode(
        "overwrite"
    ).parquet(path)
    back = spark.read.parquet(path)
    ext = back.select(
        F.variant_get("v", "$.meta.type", "string").alias("vtype"),
        F.variant_get("v", "$.meta.uid", "bigint").alias("uid"),
        F.variant_get("v", "$.ids[1]", "bigint").alias("id_mod"),
    )
    return ext.groupBy("vtype").agg(
        F.count("*").alias("n"),
        F.sum("uid").alias("sum_uid"),
        F.sum("id_mod").alias("sum_mod"),
    )
