"""IVF (inverted-file) approximate nearest-neighbor search + the
deterministic distributed k-means that builds its cells (north-star
similarity-search scale path, complementing SRP-LSH in knn.py).

IVF beats hash-based LSH when the corpus is clustered: k-means cells adapt
to the data, so nearest-cell search prunes to the dense regions a probe
actually lives in. Pipeline:

1. ``kmeans_fit`` / ``kmeans_fit_exact``: deterministic seeds (hash
   spread, no rand()), then a fixed number of Lloyd iterations.
   ``kmeans_fit`` updates with posexplode + per-(cell, dim) means as
   DataFrame ops; ``kmeans_fit_exact`` (the oracle-replayable form every
   ANN/semdedup key uses) runs each iteration as ONE Arrow stage — a
   per-partition numpy kernel assigns every vector to its nearest
   centroid and sums its fixed-point coordinates per cell — whose
   O(k×dim) partials ``RDD.treeReduce`` folds before the driver descales
   them into the next centroids.
2. ``ivf_assign``: tag each corpus vector with its nearest cell id.
3. ``ivf_topk``: probe → nearest ``nprobe`` cells → exact cosine re-rank
   within the union of those cells only.

Scale: the k centroids (k×dim doubles) ship inside the plan or the task
closure; assignment is a stateless projection, no join. A Lloyd
iteration moves one k×dim partial per partition and no corpus rows.
Search touches |corpus| × nprobe / k vectors in expectation instead of
the full corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_sq(col):
    return F.aggregate(
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda a2, x: a2 + x
    )


def _ship_module_by_value() -> None:
    """The Arrow kernels here call module-level helpers; ship the module
    by value so executors don't need the repo on PYTHONPATH (must be
    pyspark's vendored cloudpickle — see operators/multimodal.py)."""
    from pyspark import cloudpickle

    import pyetl_spark.operators.ivf as _self

    cloudpickle.register_pickle_by_value(_self)


_NONFINITE_SQL = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def sql_double(v: float) -> str:
    """Exact Spark SQL literal for a double: finite values as
    ``repr(v) + "D"`` (shortest round-trip form, parsed back correctly
    rounded), NaN/±Inf as ``CAST('NaN'|'Infinity'|'-Infinity' AS
    DOUBLE)`` — ``repr`` spells those ``nan``/``inf``, which Spark would
    read as column names."""
    r = repr(float(v))
    special = _NONFINITE_SQL.get(r)
    return f"CAST('{special}' AS DOUBLE)" if special else r + "D"


def localize_rows(spark, rows, schema) -> DataFrame:
    """Rebuild already-collected rows of a BOUNDED frame (index state:
    centroids, codebooks — never corpus-scale) as a SQL ``VALUES``
    literal, i.e. a true LocalRelation.

    Why not ``createDataFrame(rows)``: PySpark parallelizes that into an
    RDD, so every downstream collect/broadcast still schedules a (tiny)
    job per consumer. A VALUES LocalRelation is driver-resident — a
    collect over it is ``executeCollect`` with NO job, and a broadcast
    builds straight from the local rows. Values are bit-identical:
    doubles round-trip through ``sql_double`` (shortest ``repr`` form and
    Spark's correctly-rounded literal parser; NaN/±Inf as casts); the
    final SELECT casts every column back to ``schema``.

    Supports the types index state uses (int/long, double, arrays of
    them, None); raises on anything else rather than silently coercing.
    ``rows`` items may be Rows, tuples, or anything that iterates its
    column values in ``schema`` field order. The SQL text is
    O(rows × cells) — the same driver-bounded envelope as
    ``_nearest_cell``'s literal/ndarray shipping, fine for the ≤10^4-row
    centroid/codebook frames this serves; don't point it at anything
    corpus-scale.
    """

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            raise TypeError("localize_rows: bool column unsupported")
        if isinstance(v, int):
            return f"{v}L"
        if isinstance(v, float):
            return sql_double(v)
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(lit(x) for x in v) + ")"
        raise TypeError(f"localize_rows: unsupported cell {type(v)}")

    if not rows:
        return spark.createDataFrame([], schema)
    vals = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows
    )
    cols = ", ".join(
        f"CAST(col{i + 1} AS {f.dataType.simpleString()}) AS "
        f"`{f.name.replace('`', '``')}`"
        for i, f in enumerate(schema.fields)
    )
    return spark.sql(f"SELECT {cols} FROM VALUES {vals}")


def localize_bounded(df: DataFrame) -> DataFrame:
    """Collect a BOUNDED frame and rebuild it as a VALUES LocalRelation
    (see ``localize_rows`` for the why and the exactness argument)."""
    return localize_rows(df.sparkSession, df.collect(), df.schema)


#: Above this k, nearest-centroid assignment switches from the inlined
#: JVM expression to the Arrow kernel: higher-order array functions
#: evaluate their lambda per ELEMENT (interpreted, boxed), so the
#: expression path costs ~n·k·dim lambda calls — fine for a bounded
#: centroid table, pathological once k scales with the corpus
#: (semdedup's k ∝ n contract; measured: 310 s vs 40 s at sf3).
_KERNEL_MIN_K = 17


def _nearest_cell(vec_df: DataFrame, centroids: DataFrame, vec_col: str):
    """Attach (cell, dist) of the nearest centroid to every row.

    The k centroids are collected to the driver (k×dim doubles — the
    bounded state an IVF index IS, by design) and shipped into a single
    stateless projection; no shuffle, no join, at any k. Two physical
    forms with BIT-IDENTICAL results:

    - k < _KERNEL_MIN_K: centroids inlined as two aligned array
      literals; zip the k (centroid, cell) pairs into (dist, cell)
      structs and take ``array_min`` — wholly JVM-side, keeps the ANN
      keys' plans Python-free.
    - k ≥ _KERNEL_MIN_K: Arrow-batched numpy kernel. The distance loop
      accumulates over the DIMENSION axis in ascending order — the same
      IEEE add sequence as the zip_with/aggregate expression — and
      argmin's first-minimum tie-break equals the struct form's
      lexicographic (dist, cell) min because cells are sorted ascending.
      Vectorized C replaces per-element interpreted lambdas.

    Both forms replace the original crossJoin(broadcast) + window-rank —
    an n×k-row sort keyed on embedding arrays that the r5 sf0.1→1→3
    scaling curve caught dominating the operator once k grew."""
    rows = sorted(
        centroids.select("cell", "centroid").collect(),
        key=lambda r: r["cell"],
    )
    return _nearest_cell_rows(vec_df, rows, vec_col)


def _nearest_rows(E: np.ndarray, C: np.ndarray):
    """(hit, dist) of each row of E (n×dim) against the centroids C
    (k×dim, ordered by cell) — the numpy arithmetic every Arrow kernel
    here shares. Distances accumulate over the DIMENSION axis in
    ascending order (the zip_with/aggregate fold's IEEE add sequence,
    starting from 0.0), and argmin takes the FIRST minimum, i.e. the
    lowest cell — the (dist, cell) struct min of the JVM form."""
    d = np.zeros((E.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(C.shape[1]):
        diff = E[:, j, None] - C[None, :, j]
        d += diff * diff
    hit = d.argmin(axis=1)
    return hit, d[np.arange(E.shape[0]), hit]


def _vectors(v: pd.Series) -> np.ndarray:
    """An Arrow batch's array<double> column as an n×dim float64 matrix."""
    return np.stack(v.to_numpy()).astype(np.float64)


def _centroid_matrix(rows):
    """(cells, C) from centroid rows sorted by cell; raises on none."""
    if not rows:
        # Fail loudly: an empty literal / np.stack([]) downstream would
        # crash with an opaque error instead (ADVICE r5 low item).
        raise ValueError(
            "_nearest_cell: centroids DataFrame is empty — k-means over an "
            "empty corpus produces no cells to assign to"
        )
    cells = np.array([int(r["cell"]) for r in rows], dtype=np.int64)
    C = np.array([r["centroid"] for r in rows], dtype=np.float64)
    return cells, C


def _nearest_cell_rows(vec_df: DataFrame, rows, vec_col: str):
    """``_nearest_cell`` body over already-collected centroid rows
    (sorted by cell).

    The JVM form is ONE ``F.expr`` string — cell ids, centroids (via
    ``sql_double``) and the whole ``array_min(zip_with(…))`` distance —
    so its plan build costs a handful of Py4J calls at any k×dim, not
    one per centroid coordinate. Lambda variables carry a leading
    underscore so they cannot shadow the vector column."""
    cells, C = _centroid_matrix(rows)
    if len(cells) < _KERNEL_MIN_K:
        x = "`" + vec_col.replace("`", "``") + "`"
        cents = ", ".join(
            "array(" + ", ".join(sql_double(v) for v in c) + ")" for c in C
        )
        ids = ", ".join(str(c) for c in cells)
        best = F.expr(
            f"array_min(zip_with(array({cents}), array({ids}), "
            f"(_cv, _cid) -> struct(aggregate(zip_with({x}, _cv, "
            f"(_x, _y) -> (_x - _y) * (_x - _y)), 0.0D, "
            f"(_acc, _t) -> _acc + _t) AS dist, _cid AS cell)))"
        )
    else:
        from pyspark.sql.functions import pandas_udf

        _ship_module_by_value()

        @pandas_udf("cell int, dist double")
        def _assign(v: pd.Series) -> pd.DataFrame:
            if len(v) == 0:
                return pd.DataFrame({"cell": pd.array([], dtype="int32"),
                                     "dist": pd.array([], dtype="float64")})
            hit, dist = _nearest_rows(_vectors(v), C)
            return pd.DataFrame(
                {"cell": cells[hit].astype("int32"), "dist": dist}
            )

        best = _assign(F.col(vec_col))
    # two projections, not one: the second only reads fields of the
    # first's struct, so the distance expression is evaluated once
    keep = [
        F.col("`" + c.replace("`", "``") + "`")
        for c in vec_df.columns
        if c not in ("cell", "dist")
    ]
    return vec_df.select(*keep, best.alias("_best")).select(
        *keep, "_best.cell", "_best.dist"
    )


def seed_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 8,
    spread: bool = True,
) -> DataFrame:
    """Deterministic seed selection → DataFrame(cell, centroid).

    ``spread=True`` (default): hash-spread seeding — bucket vectors by
    ``pmod(xxhash64(id), k)`` and take the min-hash vector of each bucket.
    xxhash64 decorrelates the choice from id order (adjacent ids — often
    adjacent in insert/time order, hence correlated in vector space — land
    in different buckets), approximating a uniform corpus sample with ONE
    aggregation and no rand(). Empty buckets (k close to n) are re-labeled
    densely so cells stay 0..k'-1.

    ``spread=False``: the k lowest-id vectors — kept for comparison tests;
    degenerates badly when id order correlates with position.
    """
    if not spread:
        return (
            corpus.orderBy(id_col)
            .limit(k)
            .select(F.col(vec_col).alias("centroid"))
            .withColumn(
                "cell", F.row_number().over(Window.orderBy(F.lit(1))) - 1
            )
            .select("cell", "centroid")
        )
    h = F.xxhash64(F.col(id_col))
    best = F.min(F.struct(h.alias("h"), F.col(vec_col).alias("v")))
    per_bucket = (
        corpus.groupBy(F.pmod(h, F.lit(k)).alias("bucket"))
        .agg(best.alias("b"))
        .select("bucket", F.col("b.v").alias("centroid"))
    )
    # dense re-label in bucket order → stable cell ids even with gaps
    return per_bucket.select(
        (F.row_number().over(Window.orderBy("bucket")) - 1).alias("cell"),
        "centroid",
    )


def seed_centroids_farthest(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 8,
) -> DataFrame:
    """Deterministic farthest-point (Gonzalez / k-center) seeding →
    DataFrame(cell, centroid) — the greedy, replayable stand-in for
    k-means++'s D² sampling.

    Seed 0 is the min-xxhash64 vector (a deterministic "random" pick);
    each subsequent seed is the vector FARTHEST from its nearest already-
    chosen seed (ties → lowest id). Guarantees a 2-approximation to the
    optimal k-center cover, so seeds spread across the data's extent
    instead of landing by hash luck — measurably lower inertia and
    better cell balance than hash-spread when the corpus is clustered.

    Cost model: k-1 driver rounds, each ONE scan computing
    min-distance-to-chosen via a `least()` over k literal arrays (k×dim
    doubles travel in the plan, no shuffle, no join). At 100 TB run the
    seeding on a hash-sample (~1M rows) — Lloyd refinement on the full
    corpus erases sampling noise; only the scan cost changes."""
    first = (
        corpus.select(
            F.min(
                F.struct(
                    F.xxhash64(F.col(id_col)).alias("h"),
                    F.col(vec_col).alias("v"),
                )
            ).alias("b")
        )
        .select("b.v")
        .collect()[0]["v"]
    )
    chosen = [list(first)]
    for _ in range(k - 1):
        dists = [
            _sq_dist(
                F.col(vec_col), F.array(*[F.lit(float(x)) for x in c])
            )
            for c in chosen
        ]
        dmin = dists[0] if len(dists) == 1 else F.least(*dists)
        nxt = (
            corpus.select(F.col(id_col), F.col(vec_col), dmin.alias("d"))
            .orderBy(F.col("d").desc(), F.col(id_col))
            .limit(1)
            .collect()[0]
        )
        chosen.append(list(nxt[vec_col]))
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(chosen)], ["cell", "centroid"]
    )


def kmeans_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 8,
    iters: int = 3,
    spread_seeds: bool = True,
    seeding: str | None = None,
) -> DataFrame:
    """Deterministic Lloyd k-means → DataFrame(cell int, centroid
    array<double>). ``seeding``: "farthest" (Gonzalez, best quality),
    "spread" (hash-spread, one pass), "lowid" (degenerate baseline);
    default follows ``spread_seeds`` for backward compatibility."""
    if seeding == "farthest":
        seeds = seed_centroids_farthest(corpus, id_col, vec_col, k)
    elif seeding in ("spread", "lowid"):
        seeds = seed_centroids(
            corpus, id_col, vec_col, k, spread=seeding == "spread"
        )
    else:
        seeds = seed_centroids(corpus, id_col, vec_col, k, spread=spread_seeds)
    centroids = seeds
    for _ in range(iters):
        assigned = _nearest_cell(
            corpus.select(id_col, vec_col), centroids, vec_col
        )
        exploded = assigned.select(
            "cell", F.posexplode(vec_col).alias("pos", "x")
        )
        means = exploded.groupBy("cell", "pos").agg(
            (F.sum("x") / F.count(F.lit(1))).alias("m")
        )
        centroids = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )
    return centroids


def kmeans_inertia(
    corpus: DataFrame, centroids: DataFrame, vec_col: str = "e"
) -> float:
    """Sum of squared distances to assigned centroids (convergence metric).

    Per-ROW semantics: duplicate embeddings each contribute their own
    distance term (the textbook inertia). The pre-r5 crossJoin+window
    implementation silently deduplicated identical rows; the current
    stateless projection preserves multiplicity, so values on dup-heavy
    corpora are higher than the old ones — intentionally."""
    assigned = _nearest_cell(corpus.select(vec_col), centroids, vec_col)
    return assigned.agg(F.sum("dist").alias("i")).collect()[0]["i"]


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame:
    """Tag each corpus vector with its IVF cell (the inverted file)."""
    return _nearest_cell(
        corpus.select(id_col, vec_col), centroids, vec_col
    ).select(id_col, vec_col, "cell")


def cell_size_stats(indexed_corpus: DataFrame) -> DataFrame:
    """Cell-population balance report for an inverted file: per-cell count
    plus min/max/avg over cells (one tiny two-level aggregate). Skewed
    cells are the IVF failure mode — a hot cell turns nearest-cell search
    back into brute force — so surface the histogram wherever the index is
    (re)built; at 100 TB this is the signal to re-fit or split cells."""
    sizes = indexed_corpus.groupBy("cell").agg(F.count("*").alias("n"))
    return sizes.agg(
        F.count("*").alias("n_cells"),
        F.min("n").alias("min_cell"),
        F.max("n").alias("max_cell"),
        (F.sum("n") / F.count("*")).alias("avg_cell"),
        (F.max("n") / (F.sum("n") / F.count("*"))).alias("skew_factor"),
    )


def ivf_topk(
    probes: DataFrame,
    indexed_corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    probe_id: str = "probe_id",
    probe_vec: str = "probe_vec",
    cand_id: str = "cand_id",
    cand_vec: str = "cand_vec",
) -> DataFrame:
    """Search the nprobe nearest cells per probe; exact cosine re-rank.

    `indexed_corpus` = ivf_assign output with (cand_id, cand_vec, cell).
    """
    pc = probes.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", _sq_dist(F.col(probe_vec), F.col("centroid"))
    )
    w = Window.partitionBy(probe_id).orderBy(F.col("_d"), F.col("cell"))
    probe_cells = (
        pc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(probe_id, probe_vec, "cell")
    )
    cands = probe_cells.join(indexed_corpus, "cell").filter(
        F.col(cand_id) != F.col(probe_id)
    )
    sim = (
        _dot(F.col(probe_vec), F.col(cand_vec))
        / F.sqrt(_norm_sq(F.col(probe_vec)))
        / F.sqrt(_norm_sq(F.col(cand_vec)))
    )
    w2 = Window.partitionBy(probe_id).orderBy(
        F.col("sim").desc(), F.col(cand_id)
    )
    return (
        cands.select(probe_id, cand_id, sim.alias("sim"))
        .distinct()
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def _lloyd_step(vecs: DataFrame, rows, vec_col: str, scale: int):
    """One exact Lloyd iteration → the next centroid rows (sorted by
    cell, empty cells dropped), in ONE Spark job.

    A ``mapInPandas`` kernel assigns each vector of a partition to its
    nearest centroid (``_nearest_rows``) and sums the fixed-point
    coordinates ``sign(x)·floor(|x|·scale + 0.5)`` per cell as int64,
    with the member count; it emits one k×dim partial per partition.
    ``RDD.treeReduce`` folds the partials, so the driver holds O(k×dim)
    at any partition count. Integer sums are order-free, and the descale
    ``(float(Σq) / float(n)) / scale`` is the IEEE operation sequence
    of the SQL mean it replaced — bit-identical centroids. A NaN/±Inf
    coordinate raises, as the SQL form's ANSI cast to bigint did."""
    cells, C = _centroid_matrix(rows)
    k, dim = C.shape
    fscale = float(scale)

    def partial(batches):
        q_sum = np.zeros((k, dim), dtype=np.int64)
        n = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = _vectors(pdf[vec_col])
            if not np.isfinite(E).all():
                raise ValueError(
                    "kmeans_fit_exact: NaN/Inf coordinate has no "
                    "fixed-point value"
                )
            hit, _ = _nearest_rows(E, C)
            q = np.sign(E) * np.floor(np.abs(E) * fscale + 0.5)
            np.add.at(q_sum, hit, q.astype(np.int64))
            n += np.bincount(hit, minlength=k)
        yield pd.DataFrame({"q": [q_sum.ravel()], "n": [n]})

    _ship_module_by_value()
    q_sum, n = (
        vecs.mapInPandas(partial, "q array<bigint>, n array<bigint>")
        .rdd.map(lambda r: (np.array(r.q, np.int64), np.array(r.n, np.int64)))
        .treeReduce(lambda a, b: (a[0] + b[0], a[1] + b[1]))
    )
    live = n > 0
    means = (
        q_sum.reshape(k, dim)[live].astype(np.float64)
        / n[live, None].astype(np.float64)
    ) / fscale
    return [
        {"cell": int(c), "centroid": m.tolist()}
        for c, m in zip(cells[live], means)
    ]


#: fixed-point quantization for the exact Lloyd means — the SINGLE
#: definition both the engine (here) and the DuckDB oracle generator
#: (queries/llm_scale._kmeans_ctes) read, so engine and oracle cannot
#: silently desynchronize on the descale factor.
KMEANS_SCALE = 10**4


def kmeans_fit_exact(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 8,
    iters: int = 2,
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """Oracle-replayable Lloyd k-means → DataFrame(cell int, centroid
    array<double>) — the r7 cross-engine-exact variant of ``kmeans_fit``
    (same family as pca.top_component_exact):

    - seeds are phash60-spread (md5-based, bit-identical on DuckDB)
      instead of xxhash64-spread: bucket = phash60(id) % k, seed = the
      bucket's (hash, id)-min vector, cells relabeled densely in bucket
      order;
    - each Lloyd mean is computed from EXACT integer sums of fixed-point
      quantized coordinates (round-half-away at ``scale``), then
      descaled with a fixed float expression
      ((Σq / n) / scale) — order-free under any partitioning, unlike
      float sums;
    - assignment is ``_nearest_rows``' numpy kernel, bit-identical to
      ``_nearest_cell``'s JVM expression: the same ascending-dimension
      add sequence a SQL oracle replays verbatim, the same lowest-cell
      tie-break;
    - empty cells drop out (a cell no vector chose has no mean), so the
      returned cell ids may have gaps; an empty corpus raises.

    Trade-off vs ``kmeans_fit``: centroids are quantized to ``scale``
    precision between iterations (immaterial for clustering quality at
    1e-4 of the data range) and seeds hash differently, so cell
    compositions differ from the xxhash64 variant — callers that need
    driver-hash evidence use THIS form; xxhash64 stays the default at
    scale."""
    from pyetl_spark.parity import phash60

    h = phash60(F.col(id_col))
    best = F.min(
        F.struct(
            h.alias("h"), F.col(id_col).alias("i"), F.col(vec_col).alias("v")
        )
    )
    per_bucket = (
        corpus.groupBy(F.pmod(h, F.lit(k)).alias("bucket"))
        .agg(best.alias("b"))
        .select("bucket", F.col("b.v").alias("centroid"))
    )
    # r16: the dense cell relabel runs DRIVER-SIDE over the collected
    # ≤k seed rows instead of a `row_number() OVER (ORDER BY bucket)`
    # window — that window was the bench tail's "No Partition Defined"
    # WindowExec warning source (VERDICT r15 item 9; 21 warnings per
    # vec_ann_ivf bench key, one per fit execution) and forced a
    # single-partition exchange per fit for a frame that is bounded by
    # construction. Numbering is identical: sorted-by-bucket index ==
    # row_number in bucket order (buckets are distinct post-groupBy).
    # The collect also seeds the Lloyd loop below, which previously
    # collected the same frame again on its first iteration — one job
    # saved per fit.
    rows = [
        {"cell": i, "centroid": r["centroid"]}
        for i, r in enumerate(
            sorted(per_bucket.collect(), key=lambda r: r["bucket"])
        )
    ]
    # Lloyd steps run as numpy kernels (_lloyd_step), not as a SQL
    # groupBy: interpreted zip_with/aggregate lambdas plus a 64-term mean
    # aggregate made each iteration's collect cost about twice its jobs'
    # run time. Seeding stays SQL — a Python seeding kernel was slower.
    vecs = corpus.select(vec_col)
    for _ in range(iters):
        rows = _lloyd_step(vecs, rows, vec_col, scale)
    # r16: LOCALIZE the final centroids (k rows of dim doubles — the
    # bounded state an IVF index IS, by design). A lazy centroid frame
    # would re-execute the final Lloyd step in every consumer:
    # ivf_assign collects it, ivf_topk and ivfpq_residuals/ivfpq_topk
    # each broadcast it. The loop above already holds the final rows on
    # the driver (each step ran exactly once); the VALUES LocalRelation
    # makes every
    # downstream collect driver-local (no job) and every broadcast
    # job-free (an eager localCheckpoint was A/B'd first and LOST on
    # single-consumer fits — text_semdedup +0.5 s, 3/3 pairs — because
    # the pin job is pure overhead there; localization adds none).
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("centroid", ArrayType(DoubleType())),
        ]
    )
    return localize_rows(
        corpus.sparkSession,
        [(int(r["cell"]), [float(x) for x in r["centroid"]]) for r in rows],
        schema,
    )
