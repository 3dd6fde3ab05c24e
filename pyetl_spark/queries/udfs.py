"""UDF / UDAF / UDTF surface (SURVEY.md §2.11).

Python is the slow path (SURVEY §0 north star): row-at-a-time UDFs pay
pickle per row, pandas UDFs move Arrow batches. Both are declared here with
*arithmetic* bodies so the DuckDB oracle is plain SQL — the point is proving
the boundary plumbing (types, nulls, batching), not hiding logic in Python.

Float note: Python floats are IEEE doubles, so `p * (1 - d)` computes the
same bits as the JVM expression; numpy reductions (grouped UDAF) may reorder
— their outputs get the 4dp parity round where ties are measure-zero.

Scale: pandas UDFs (Arrow, vectorized) are the only Python form allowed in a
100 TB hot path; udf_scalar_python exists for parity, not for scale. Every
Python body here is an ``operators/pyworker.worker_entry`` function, which
spares each task after a worker's first PySpark's ~0.2 s re-read of
``pyspark.zip``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf

from pyetl_spark.operators.pyworker import worker_entry
from pyetl_spark.parity import FXP, R, rnd
from pyetl_spark.registry import query
from pyetl_spark.tables import load_tables


def _py_net_revenue_udf():
    """Row-at-a-time Python UDF (pickled scalars per row). Built lazily —
    UDF/UDTF decorators parse DDL types and need an active session."""

    @udf("double")
    @worker_entry
    def _py_net_revenue(price: float, discount: float, tax: float) -> float:
        if price is None:
            return None
        return price * (1.0 - discount) * (1.0 + tax)

    return _py_net_revenue


def _pd_net_revenue_udf():
    """Vectorized Arrow UDF — same contract, batch at a time."""

    @pandas_udf("double")
    @worker_entry
    def _pd_net_revenue(
        price: pd.Series, discount: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1.0 - discount) * (1.0 + tax)

    return _pd_net_revenue


def _pd_weighted_mean_udf():
    """Grouped-agg pandas UDF: quantity-weighted mean price."""

    @pandas_udf("double")
    @worker_entry
    def _pd_weighted_mean(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    return _pd_weighted_mean


def _token_explode_udtf():
    """Python UDTF: one row in → N (pos, token) rows out (Spark 4 @udtf)."""

    @udtf(returnType="pos int, tok string")
    class _TokenExplode:
        @worker_entry
        def eval(self, text: str):
            if text:
                for i, tok in enumerate(text.split(" ")):
                    yield i + 1, tok

    return _TokenExplode


@query(
    "udf_scalar_python",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {R('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 2)}
             AS net_revenue
    FROM lineitem
    WHERE l_linenumber = 1 AND l_orderkey < 3000
    """,
)
def udf_scalar_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise Python UDF (SURVEY §2.11 `udf_scalar_python`): the classic
    pickle-per-row boundary; Python doubles compute the same IEEE bits as
    the SQL twin."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.filter((F.col("l_linenumber") == 1) & (F.col("l_orderkey") < 3000))
        .select(
            "l_orderkey",
            "l_linenumber",
            rnd(
                _py_net_revenue_udf()("l_extendedprice", "l_discount", "l_tax"), 2
            ).alias("net_revenue"),
        )
    )


@query(
    "udf_pandas_scalar",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {R('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 2)}
             AS net_revenue
    FROM lineitem
    WHERE l_linenumber = 1 AND l_orderkey < 3000
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF, same contract as the row UDF
    (SURVEY §2.11 `udf_pandas_scalar`) — identical result hash proves the
    two boundaries agree."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.filter((F.col("l_linenumber") == 1) & (F.col("l_orderkey") < 3000))
        .select(
            "l_orderkey",
            "l_linenumber",
            rnd(
                _pd_net_revenue_udf()("l_extendedprice", "l_discount", "l_tax"), 2
            ).alias("net_revenue"),
        )
    )


@query(
    "udaf_pandas_grouped",
    oracle=f"""
    SELECT l_returnflag,
           {R('sum(l_extendedprice * l_quantity) / sum(l_quantity)', 4)}
             AS wmean_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (SURVEY §2.11 `udaf_pandas_grouped`):
    weighted mean per group, 4dp parity-rounded (pandas/DuckDB summation
    orders differ; off-grid ties are measure-zero)."""
    li = load_tables(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        rnd(_pd_weighted_mean_udf()("l_extendedprice", "l_quantity"), 4).alias(
            "wmean_price"
        )
    )


@query(
    "udtf_python",
    oracle="""
    SELECT doc_id,
           generate_subscripts(string_split(text, ' '), 1) AS pos,
           unnest(string_split(text, ' ')) AS tok
    FROM documents
    WHERE doc_id < 100
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (SURVEY §2.11 `udtf_python`): token exploder via Spark 4
    @udtf + SQL LATERAL join."""
    load_tables(spark, sf_dir).register_views()
    spark.udtf.register("token_explode", _token_explode_udtf())
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.tok
        FROM documents d, LATERAL token_explode(d.text) t
        WHERE d.doc_id < 100
        """
    )


@query(
    "grouped_map_applyInPandas",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority,
           CAST(count(*) OVER w * {FXP("o_totalprice", 100)}
                - sum({FXP("o_totalprice", 100)}) OVER w
                AS BIGINT) AS price_dev_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority)
    ORDER BY o_orderkey
    """,
)
def grouped_map_applyInPandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group DataFrame→DataFrame transform (SURVEY §2.11
    `grouped_map_applyInPandas`): center order totals within each
    priority class. Arrow both ways; each group must fit one executor —
    partition keys at 100 TB need bounded group sizes.

    Tier A (r14 conversion — was "float-chain too fragile to hash"):
    the fragility was the transform, not the API. The old z-score ran
    pandas ``mean()``/``std()`` (pairwise summation) against DuckDB's
    sequential aggregates — same math, different last bits. The
    per-group computation is now EXACT integer arithmetic on the cent
    grid: ``price_dev_cents = n·c − Σc`` (the group-size-scaled
    deviation from the group mean — same centering signal, no
    division, no sqrt), where ``c = round(o_totalprice·100)`` is
    parity.fxp's grid and every term stays far inside int64 at sf1.
    The pandas UDF reproduces fxp's sign/floor rounding bit-for-bit
    (identical IEEE op sequence), so the oracle is the plain windowed
    SQL twin and the hash pins the whole grouped-map round-trip —
    grouping, Arrow transfer both ways, and the per-group vectorized
    compute."""
    import numpy as np

    # project BEFORE the Python boundary: applyInPandas ships every
    # input column through Arrow (no pruning past FlatMapGroupsInPandas
    # — the captured plan showed all 6 orders columns crossing for a
    # 3-column transform)
    o = load_tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    @worker_entry
    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf["o_totalprice"].to_numpy()
        # parity.fxp replayed in numpy: sign(x) * floor(|x|*100 + 0.5)
        c = (np.sign(p) * np.floor(np.abs(p) * 100.0 + 0.5)).astype(
            np.int64
        )
        n = np.int64(len(c))
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderpriority": pdf["o_orderpriority"],
                "price_dev_cents": n * c - c.sum(),
            }
        )

    return (
        o.groupBy("o_orderpriority")
        .applyInPandas(
            demean,
            "o_orderkey long, o_orderpriority string, price_dev_cents long",
        )
        .orderBy("o_orderkey")
    )


@query(
    "map_partitions_arrow",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {FXP("l_extendedprice * (1.0 - l_discount)", 10**4)}
             AS revenue_fxp
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def map_partitions_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas iterator transform (SURVEY §2.11 `map_partitions_arrow`):
    the 100 TB escape hatch for custom per-partition logic — Arrow batches
    stream through Python with constant memory; here each batch computes
    per-row discounted revenue.

    Tier A (r14 conversion — the old rows-only label predated this
    body: the output is per-ROW deterministic, nothing in it depends on
    batch or partition boundaries). The revenue lands on parity.fxp's
    4-dp fixed-point grid (price 2dp × discount 2dp), replayed in numpy
    with the identical IEEE op sequence, so the oracle is the plain
    projection twin and the hash pins the iterator round-trip — Arrow
    batching in, Python compute, Arrow batching out — across every
    batch boundary."""
    import numpy as np

    # project BEFORE the Python boundary: mapInPandas ships every input
    # column through Arrow (an 11-column lineitem crossing for a 4-column
    # transform, per the captured plan)
    li = load_tables(spark, sf_dir).lineitem.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )

    @worker_entry
    def batch_revenue(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rev = (
                pdf["l_extendedprice"] * (1.0 - pdf["l_discount"])
            ).to_numpy()
            # parity.fxp replayed in numpy on the 4-dp grid
            fx = (
                np.sign(rev) * np.floor(np.abs(rev) * 10000.0 + 0.5)
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "l_orderkey": pdf["l_orderkey"],
                    "l_linenumber": pdf["l_linenumber"],
                    "revenue_fxp": fx,
                }
            )

    return li.mapInPandas(
        batch_revenue,
        "l_orderkey long, l_linenumber int, revenue_fxp long",
    ).orderBy("l_orderkey", "l_linenumber")


def _pd_frame_sum_udf():
    """Bounded-window pandas UDAF: Arrow ships each frame's values to
    Python; pandas sums left-to-right (same order as the frame), so the
    4-value sums are bit-identical to the oracle's windowed sum."""

    @pandas_udf("double")
    @worker_entry
    def _pd_frame_sum(v: pd.Series) -> float:
        return v.sum(min_count=1)

    return _pd_frame_sum


@query(
    "win_udaf_pandas",
    oracle=f"""
    SELECT event_id, user_id,
           {R('''sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)''', 4)} AS trail_sum
    FROM events
    """,
)
def win_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF evaluated over a BOUNDED window frame (trailing 4-row
    sum per user): Spark slices each frame and feeds it to the Arrow UDF —
    the escape hatch for windowed aggregations Spark lacks natively
    (the body here is a plain sum so the oracle stays ANSI SQL)."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    frame_sum = _pd_frame_sum_udf()
    return ev.select(
        "event_id",
        "user_id",
        rnd(frame_sum("value").over(w), 4).alias("trail_sum"),
    )


@query(
    "agg_approx_percentile",
    oracle=f"""
    SELECT o_orderpriority,
           {R('quantile_cont(o_totalprice, 0.5)', 4)} AS p50_exact,
           {R('quantile_cont(o_totalprice, 0.9)', 4)} AS p90_exact,
           {R('quantile_cont(o_totalprice, 0.99)', 4)} AS p99_exact,
           true AS sketch_within_tol
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) p50/p90/p99 of order
    value per priority — the mergeable-sketch path that replaces exact
    percentile's full sort at 100 TB.

    Tier A via the pinned-rank construction (r7 conversion): the sketch
    values themselves are implementation artifacts no second engine can
    reproduce, so the query instead RETURNS the exact interpolated
    percentiles (hash-verified against quantile_cont) plus
    ``sketch_within_tol`` — computed in Spark as the GK rank-error check
    (each approx value v must admit a rank r in
    [count(x<v)+1, count(x<=v)] with |r - q·n| <= n/accuracy + 1). The
    oracle pins the flag to TRUE, so a sketch drifting out of its
    contract breaks the driver hash. Value-level accuracy is additionally
    asserted in tests/test_approx_operators.py."""
    o = load_tables(spark, sf_dir).orders
    approx = o.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "a50"
        ),
        F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias(
            "a90"
        ),
        F.approx_percentile("o_totalprice", F.lit(0.99), F.lit(10000)).alias(
            "a99"
        ),
    )
    j = o.join(F.broadcast(approx), "o_orderpriority")

    def rank_ok(v: str, q: float):
        price = F.col("o_totalprice")
        lo = F.sum(F.when(price < F.col(v), 1).otherwise(0))
        hi = F.sum(F.when(price <= F.col(v), 1).otherwise(0))
        n = F.count(F.lit(1))
        tol = n / F.lit(10000.0) + F.lit(1.0)
        target = F.lit(q) * n
        return ((lo + 1) <= target + tol) & (hi >= target - tol)

    return j.groupBy("o_orderpriority").agg(
        rnd(F.percentile("o_totalprice", 0.5), 4).alias("p50_exact"),
        rnd(F.percentile("o_totalprice", 0.9), 4).alias("p90_exact"),
        rnd(F.percentile("o_totalprice", 0.99), 4).alias("p99_exact"),
        (
            rank_ok("a50", 0.5) & rank_ok("a90", 0.9) & rank_ok("a99", 0.99)
        ).alias("sketch_within_tol"),
    )


@query(
    "text_pack_greedy",
    oracle="""
    WITH RECURSIVE base AS MATERIALIZED (
      -- MATERIALIZED: the recursion references base once per step; without
      -- it DuckDB re-splits every document's text each iteration (35 s vs
      -- >300 s at sf1). Oracle-side cost only.
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    walk AS (
      SELECT doc_id, lang, n_tokens, rn,
             CAST(0 AS BIGINT) AS pack_id, n_tokens AS used
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.doc_id, b.lang, b.n_tokens, b.rn,
             CASE WHEN w.used + b.n_tokens > 256
                  THEN w.pack_id + 1 ELSE w.pack_id END,
             CASE WHEN w.used + b.n_tokens > 256
                  THEN b.n_tokens ELSE w.used + b.n_tokens END
      FROM walk w JOIN base b ON b.lang = w.lang AND b.rn = w.rn + 1
    )
    SELECT doc_id, lang, n_tokens, pack_id FROM walk
    """,
)
def text_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT first-fit sequence packing (grouped-map applyInPandas): docs
    stream through each lang partition in doc_id order and open a new pack
    whenever the running token count would exceed the budget — the
    order-sequential semantics text_pack_sequences approximates shuffle-
    free. Per-group sequential state is exactly what the grouped-map
    escape hatch is for: one Arrow batch per lang, a tight numpy-free loop
    inside, no driver involvement.

    Tier A (r7 conversion): the sequential recurrence IS SQL-expressible —
    the oracle replays it as a DuckDB recursive CTE advancing one row per
    lang per step (pure integer state, so cross-engine exact). The
    recursion is oracle-side only; the engine side stays one Arrow pass.
    (``used > 0`` is implicit: n_tokens >= 1, so used >= 1 after row 1.)"""
    budget = 256

    @worker_entry
    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids, pid, used = [], 0, 0
        for n in pdf["n_tokens"]:
            if used > 0 and used + n > budget:
                pid, used = pid + 1, 0
            used += int(n)
            pack_ids.append(pid)
        pdf["pack_id"] = pack_ids
        return pdf

    d = load_tables(spark, sf_dir).documents
    base = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return base.groupBy("lang").applyInPandas(
        pack, "doc_id long, lang string, n_tokens long, pack_id long"
    )


@query(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT c_mktsegment,
           count(DISTINCT c_custkey) AS exact_customers,
           count(DISTINCT c_nationkey) AS n_partial_sketches,
           true AS sketch_within_tol
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (Apache DataSketches HLL):
    build per-nation customer sketches, then UNION the sketches per
    market segment and estimate — the two-level pattern that makes
    100 TB distinct-counts cheap (partial sketches are tiny, merge is
    associative, pre-aggregated sketches can be stored per partition and
    re-merged for any rollup without rescanning). Accuracy vs exact is
    asserted in tests/test_approx_operators.py.

    Tier A (r7 conversion, the agg_approx_percentile pattern): sketch
    estimates are implementation artifacts no oracle can reproduce, so
    the output carries the EXACT distinct count (hash-verified), the
    partial-sketch count (= distinct nations per segment, exact), and
    ``sketch_within_tol`` — the merged estimate within 5% relative error
    of exact (HLL lgK=12 gives ~1.6% expected), pinned TRUE by the
    oracle so a broken sketch/merge breaks the driver hash."""
    c = load_tables(spark, sf_dir).customer
    per_nation = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
    )
    merged = per_nation.groupBy("c_mktsegment").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx"),
        F.count("*").alias("n_partial_sketches"),
    )
    exact = c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").alias("exact_customers")
    )
    return (
        exact.join(merged, "c_mktsegment")
        .select(
            "c_mktsegment",
            "exact_customers",
            "n_partial_sketches",
            (
                F.abs(
                    F.col("approx").cast("double")
                    - F.col("exact_customers").cast("double")
                )
                <= F.lit(0.05) * F.col("exact_customers").cast("double")
            ).alias("sketch_within_tol"),
        )
        .orderBy("c_mktsegment")
    )


def _lang_profile_udtf():
    """Table-argument UDTF: consumes a WHOLE partition group (PARTITION BY
    lang), accumulates across eval() calls, emits one summary row from
    terminate() — the polymorphic-invocation surface Spark 4 added on top
    of scalar-arg UDTFs. Built lazily (DDL parse needs a session)."""

    @udtf(returnType="lang string, n_docs bigint, n_tokens bigint")
    class LangProfile:
        def __init__(self) -> None:
            self._lang = None
            self._docs = 0
            self._toks = 0

        @worker_entry
        def eval(self, row) -> None:  # noqa: ANN001
            if self._lang is not None and row["lang"] != self._lang:
                # PARTITION BY contract: one group per instance — fail loud
                raise ValueError(
                    f"mixed groups in one instance: {self._lang} vs {row['lang']}"
                )
            self._lang = row["lang"]
            self._docs += 1
            self._toks += len(row["text"].split(" "))

        def terminate(self):
            if self._lang is not None:
                yield self._lang, self._docs, self._toks

    return LangProfile


@query(
    "udtf_table_arg",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents
    WHERE doc_id < 2000
    GROUP BY lang
    """,
)
def udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF with a TABLE argument (Spark 4 polymorphic table functions):
    `SELECT * FROM f(TABLE(t) PARTITION BY lang)` streams each lang's rows
    through one UDTF instance — eval() per row, terminate() emits the
    group summary. This is the SQL-surfaced sibling of applyInPandas:
    user-defined per-GROUP logic invoked from a query, with Spark doing
    the partition-by shuffle. The oracle is the plain GROUP BY twin.

    Scale posture: same contract as any Python boundary — per-row pickle
    makes this the declared slow-path proof (like udf_scalar_python), so
    the input is id-bounded; the production-scale spelling of this exact
    computation is the JVM aggregate the oracle shows, or applyInPandas
    when the per-group logic genuinely needs Python. PARTITION BY
    parallelism is per-group, so a skewed group serializes — salt first
    (operators/minhash.py's sub-bucket pattern) if groups are huge."""
    load_tables(spark, sf_dir).documents.filter(
        F.col("doc_id") < 2000
    ).createOrReplaceTempView("pyetl_udtf_docs")
    spark.udtf.register("pyetl_lang_profile", _lang_profile_udtf())
    return spark.sql(
        "SELECT * FROM pyetl_lang_profile(TABLE(pyetl_udtf_docs) PARTITION BY lang)"
    )


def _arrow_net_revenue_udf():
    """PyArrow-native scalar UDF (Spark 4.1 @arrow_udf): the same
    net-revenue contract as the row/pandas twins, computed directly on
    pyarrow.Array buffers — no pandas materialization at the boundary.
    Built lazily (decorator parses DDL types against an active session)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    # functionType passed explicitly: this module's
    # `from __future__ import annotations` stringifies per-arg hints, so
    # pyspark's hint-based eval-type inference can't see pa.Array here
    @arrow_udf("double", ArrowUDFType.SCALAR)
    @worker_entry
    def _arrow_net_revenue(price, discount, tax):
        one = pa.scalar(1.0)
        return pc.multiply(
            pc.multiply(price, pc.subtract(one, discount)),
            pc.add(one, tax),
        )

    return _arrow_net_revenue


@query(
    "udf_arrow_scalar",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {R('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 2)}
             AS net_revenue
    FROM lineitem
    WHERE l_linenumber = 1 AND l_orderkey < 3000
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native scalar UDF (NEW in Spark 4.1: @arrow_udf) — the third
    Python boundary, completing the progression the family demonstrates:
    row-at-a-time pickle (udf_scalar_python) → pandas Series over Arrow
    (udf_pandas_scalar) → raw pyarrow.Array compute (this key), which
    skips the Arrow→pandas conversion entirely. Same arithmetic contract
    as both twins, so the identical result hash proves all three
    boundaries and the JVM expression agree bit-for-bit (pyarrow.compute
    runs the same IEEE double ops).

    Scale: the cheapest Python boundary Spark has — columnar end to end;
    prefer it over pandas UDFs when the body is expressible in
    pyarrow.compute kernels."""
    li = load_tables(spark, sf_dir).lineitem
    return (
        li.filter((F.col("l_linenumber") == 1) & (F.col("l_orderkey") < 3000))
        .select(
            "l_orderkey",
            "l_linenumber",
            rnd(
                _arrow_net_revenue_udf()(
                    "l_extendedprice", "l_discount", "l_tax"
                ),
                2,
            ).alias("net_revenue"),
        )
    )


def _arrow_token_stats_udtf():
    """PyArrow-native UDTF (Spark 4.1 @arrow_udtf): eval() receives whole
    RecordBatches and yields pyarrow Tables — vectorized where classic
    @udtf is row-by-row. Emits per-doc token stats computed entirely with
    pyarrow.compute kernels."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udtf

    @arrow_udtf(returnType="doc_id bigint, n_tokens bigint, n_uppercase bigint")
    class _TokenStats:
        @worker_entry
        def eval(self, batch: pa.RecordBatch):
            doc_id = batch.column("doc_id")
            text = batch.column("text")
            toks = pc.split_pattern(text, " ")
            n_tokens = pc.list_value_length(toks).cast(pa.int64())
            # tokens starting with an ASCII uppercase letter, per doc:
            # count via flattened parent indices (vectorized, no Python loop)
            flat = pc.list_flatten(toks)
            parents = pc.list_parent_indices(toks)
            is_upper = pc.match_substring_regex(flat, "^[A-Z]")
            upper_parents = pc.filter(parents, is_upper)
            counts = [0] * len(doc_id)
            for p in upper_parents.to_pylist():
                counts[p] += 1
            yield pa.table(
                {
                    "doc_id": doc_id,
                    "n_tokens": n_tokens,
                    "n_uppercase": pa.array(counts, pa.int64()),
                }
            )

    return _TokenStats


@query(
    "udtf_arrow",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> regexp_matches(t, '^[A-Z]')))
                AS BIGINT) AS n_uppercase
    FROM documents
    WHERE doc_id < 2000
    """,
)
def udtf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native UDTF (NEW in Spark 4.1: @arrow_udtf) — the batch-
    vectorized sibling of `udtf_python`: eval() consumes whole pyarrow
    RecordBatches and yields Tables, so the per-row Python dispatch that
    makes classic UDTFs the slow path disappears; the token split and
    regex run as pyarrow.compute kernels over the batch.

    Scale: same contract as mapInPandas — constant memory per batch,
    fully parallel per input split; the one remaining Python loop (the
    parent-index fold) is per-batch and bounded by batch size."""
    load_tables(spark, sf_dir).documents.filter(
        F.col("doc_id") < 2000
    ).select("doc_id", "text").createOrReplaceTempView("pyetl_arrow_docs")
    spark.udtf.register("pyetl_token_stats", _arrow_token_stats_udtf())
    return spark.sql(
        "SELECT * FROM pyetl_token_stats(TABLE(pyetl_arrow_docs))"
    )
