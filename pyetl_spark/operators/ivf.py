"""IVF (inverted-file) approximate nearest-neighbor search and the
deterministic distributed k-means that builds its cells (the
similarity-search scale path, next to SRP-LSH in knn.py).

IVF beats hash-based LSH when the corpus is clustered: k-means cells adapt
to the data, so nearest-cell search prunes to the dense regions a probe
actually lives in. Pipeline:

1. ``kmeans_fit_exact``: phash60-spread seeds (one SQL aggregate, md5
   based, no rand()), then a fixed number of Lloyd iterations. Each
   iteration is ONE Arrow stage (``_lloyd_step``): a per-partition numpy
   kernel assigns every vector to its nearest centroid and sums its
   fixed-point coordinates per cell, ``RDD.treeReduce`` folds the
   O(k×dim) partials, and the driver descales them into the next
   centroids. The same kernel trains product quantization's m codebooks
   in one pass (pq.pq_fit_exact); a k-means fit is its one-subspace
   case. Every step is a fixed IEEE sequence a DuckDB oracle replays bit
   for bit, which is what lets the ANN keys hash-match.
2. ``ivf_assign``: tag each corpus vector with its nearest cell id.
3. ``ivf_topk``: probe → nearest ``nprobe`` cells → exact cosine re-rank
   within the union of those cells only.

Scale: the k centroids (k×dim doubles) ship in the nearest-centroid
kernel's closure; assignment is a stateless projection, no join. Fits
hand their centroids to consumers as a driver-resident LocalRelation
(``localize_rows``, capped at ``MAX_LOCAL_CELLS``). A Lloyd
iteration moves one k×dim partial per partition and no corpus rows.
Search touches |corpus| × nprobe / k vectors in expectation instead of
the full corpus. The Arrow kernels and the RDD fold are
``pyworker.worker_entry`` functions: they ship this module by value and
skip PySpark's per-task re-read of ``pyspark.zip`` (about 0.2 s per
task; see pyworker.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyetl_spark.operators.knn import _dot, _norm_sq
from pyetl_spark.operators.pyworker import worker_entry


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: Most cells (Σ over rows of one per scalar, one per array element)
#: ``localize_rows`` holds on the driver: 2^22 doubles, 32 MiB; semdedup's
#: k = n/250 passes 10^4 rows at n ≈ 2.5 M and this cap at n ≈ 16 M (dim 64).
MAX_LOCAL_CELLS = 1 << 22


def localize_rows(spark, rows, schema) -> DataFrame:
    """Rebuild already-collected rows of a BOUNDED frame (index state:
    centroids, codebooks — never corpus-scale) as a driver-resident
    LocalRelation built from one ``pyarrow.Table``.

    Why not ``createDataFrame(rows)``: PySpark parallelizes a list into
    an RDD, so every downstream collect/broadcast still schedules a
    (tiny) job per consumer. A ``pyarrow.Table`` becomes a LocalRelation
    whatever the session's Arrow conf: a collect over it runs NO job, and
    a broadcast builds straight from the local rows. Arrow carries the
    doubles' bits, so -0.0, NaN, ±Inf and subnormals round-trip exactly
    (unlike the pandas route, which turns NaN inside arrays into NULL).

    ``rows`` items may be Rows, tuples, or anything that iterates its
    column values in ``schema`` field order. Raises ValueError above
    ``MAX_LOCAL_CELLS``, before building anything: the driver holds
    every cell."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = list(zip(*rows)) or [()] * len(schema.fields)
    cells = sum(
        len(v) if isinstance(v, (list, tuple)) else 1
        for col in cols for v in col
    )
    if cells > MAX_LOCAL_CELLS:
        raise ValueError(
            f"localize_rows: {len(rows)} rows hold {cells} cells, past "
            f"MAX_LOCAL_CELLS={MAX_LOCAL_CELLS}; index state this large "
            f"does not belong on the driver"
        )
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _nearest_rows(E: np.ndarray, C: np.ndarray):
    """(hit, dist) of each row of E (n×dim) against the centroids C
    (k×dim, ordered by cell) — the numpy arithmetic every Arrow kernel
    here shares. Distances accumulate over the DIMENSION axis in
    ascending order starting from 0.0 (the IEEE add sequence of a SQL
    ``aggregate(zip_with(...))`` fold, which the DuckDB oracles replay),
    and argmin takes the FIRST minimum, i.e. the lowest cell."""
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
        # Fail loudly: np.stack([]) downstream would crash with an
        # opaque error instead (ADVICE r5 low item).
        raise ValueError(
            "_nearest_cell: centroids DataFrame is empty — k-means over an "
            "empty corpus produces no cells to assign to"
        )
    cells = np.array([int(r["cell"]) for r in rows], dtype=np.int64)
    C = np.array([r["centroid"] for r in rows], dtype=np.float64)
    return cells, C


def _nearest_structs(books, vec_col: str) -> list:
    """One struct Column (fields ``cell``, ``dist``) per subspace: the
    codeword of ``books[j]`` — a ``(cells, C)`` pair, C ordered by cell —
    nearest to slice j of ``vec_col`` (the whole vector when there is
    one subspace, as in IVF). Each is one Arrow-batched numpy kernel
    (``_nearest_rows``) whose closure carries its codebook: no shuffle,
    no join, at any k — the codebooks are the bounded driver state an
    index IS, shipped into one stateless projection.

    Vectorized numpy beats the per-element interpreted lambdas of a
    ``zip_with``/``aggregate`` expression at every k measured, from k=8
    up to semdedup's k ∝ n (310 s vs 40 s at sf3). It replaced the
    original crossJoin(broadcast) + window-rank — an n×k-row sort keyed
    on embedding arrays that the r5 sf0.1→1→3 scaling curve caught
    dominating the operator once k grew."""
    from pyspark.sql.functions import pandas_udf

    d = books[0][1].shape[1]

    def kernel(cells, C, lo):
        @pandas_udf("cell int, dist double")
        @worker_entry
        def _assign(v: pd.Series) -> pd.DataFrame:
            if len(v) == 0:
                return pd.DataFrame({"cell": pd.array([], dtype="int32"),
                                     "dist": pd.array([], dtype="float64")})
            hit, dist = _nearest_rows(_vectors(v)[:, lo:lo + d], C)
            return pd.DataFrame(
                {"cell": cells[hit].astype("int32"), "dist": dist}
            )

        return _assign(F.col(vec_col))

    return [kernel(cells, C, j * d) for j, (cells, C) in enumerate(books)]


def _nearest_cell(vec_df: DataFrame, centroids, vec_col: str):
    """Attach (cell, dist) of the nearest centroid to every row.
    ``centroids`` is a (cell, centroid) DataFrame, collected to the
    driver (k×dim doubles), or already-collected rows.

    Two projections, not one: the second only reads fields of the
    first's struct, so the kernel runs once. ``cell`` is non-nullable
    (the fallback never fires: the kernel emits a cell for every row of
    a non-empty codebook), so a join on it infers no ``isnotnull`` filter —
    that filter would be pushed below the projection and run the whole
    assignment a second time."""
    if isinstance(centroids, DataFrame):
        centroids = centroids.select("cell", "centroid").collect()
    rows = sorted(centroids, key=lambda r: r["cell"])
    (best,) = _nearest_structs([_centroid_matrix(rows)], vec_col)
    keep = [
        F.col("`" + c.replace("`", "``") + "`")
        for c in vec_df.columns
        if c not in ("cell", "dist")
    ]
    return vec_df.select(*keep, best.alias("_best")).select(
        *keep, F.coalesce("_best.cell", F.lit(-1)).alias("cell"), "_best.dist"
    )


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


def _probe_cells(
    probes: DataFrame, centroids: DataFrame, nprobe: int, probe_id: str,
    probe_vec: str,
) -> DataFrame:
    """Each probe row joined to its ``nprobe`` nearest centroids (ties →
    lowest cell); the centroid table is broadcast."""
    pc = probes.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", _sq_dist(F.col(probe_vec), F.col("centroid"))
    )
    w = Window.partitionBy(probe_id).orderBy(F.col("_d"), F.col("cell"))
    return pc.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= nprobe
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
    probe_cells = _probe_cells(
        probes, centroids, nprobe, probe_id, probe_vec
    ).select(probe_id, probe_vec, "cell")
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


def _lloyd_step(vecs: DataFrame, books, vec_col: str, scale: int):
    """One exact Lloyd iteration over m subspaces at once → the next
    codebooks, in ONE Spark job. ``books[j]`` holds subspace j's centroid
    rows sorted by cell, and subspace j is slice j of ``vec_col`` (the
    whole vector when m = 1: k-means). Returns the same shape with empty
    cells dropped, so subspaces may end with different cell counts.

    A ``mapInPandas`` kernel assigns each vector's m subvectors to their
    nearest centroids (``_nearest_rows``) and sums the fixed-point
    coordinates ``sign(x)·floor(|x|·scale + 0.5)`` per (subspace, cell)
    as int64, with the member counts; it emits one m×k×d partial per
    partition. ``RDD.treeReduce`` folds the partials, so the driver holds
    O(m×k×d) at any partition count. Integer sums are order-free, and the
    descale ``(float(Σq) / float(n)) / scale`` is the IEEE operation
    sequence of the SQL mean it replaced — bit-identical centroids.

    Where the SQL form's ANSI casts raised, this raises ValueError: for a
    coordinate whose fixed-point value is not an int64 (NaN, ±Inf or
    |x|·scale ≥ 2⁶³), and for a cell whose Σ|q| reaches 2⁶², past which
    its int64 sums could wrap (the bound is summed in float; the factor
    of two absorbs its rounding)."""
    mats = [_centroid_matrix(rows) for rows in books]
    m, k, d = len(mats), max(len(c) for c, _ in mats), mats[0][1].shape[1]
    fscale = float(scale)

    @worker_entry
    def partial(batches):
        q_sum = np.zeros((m, k, d), dtype=np.int64)
        n = np.zeros((m, k), dtype=np.int64)
        q_abs = np.zeros((m, k), dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = _vectors(pdf[vec_col])
            q = np.sign(E) * np.floor(np.abs(E) * fscale + 0.5)
            if not (np.abs(q) < 2.0**63).all():
                raise ValueError(
                    f"Lloyd step: a NaN/Inf coordinate, or one with "
                    f"|x|·{scale} ≥ 2^63, has no int64 fixed-point value"
                )
            for j, (_, C) in enumerate(mats):
                qj = q[:, j * d:(j + 1) * d]
                hit, _ = _nearest_rows(E[:, j * d:(j + 1) * d], C)
                np.add.at(q_sum[j], hit, qj.astype(np.int64))
                n[j] += np.bincount(hit, minlength=k)
                q_abs[j] += np.bincount(
                    hit, np.abs(qj).max(axis=1), minlength=k
                )
        yield pd.DataFrame(
            {"q": [q_sum.ravel()], "n": [n.ravel()], "a": [q_abs.ravel()]}
        )

    q_sum, n, q_abs = (
        vecs.mapInPandas(
            partial, "q array<bigint>, n array<bigint>, a array<double>"
        )
        .rdd.map(worker_entry(lambda r: tuple(np.array(x) for x in r)))
        .treeReduce(
            worker_entry(lambda a, b: tuple(x + y for x, y in zip(a, b)))
        )
    )
    if (q_abs >= 2.0**62).any():
        raise ValueError(
            f"Lloyd step: a cell's fixed-point coordinate sum at scale "
            f"{scale} could overflow int64"
        )
    q_sum, n = q_sum.reshape(m, k, d), n.reshape(m, k)
    out = []
    for j, (cells, _) in enumerate(mats):
        live = n[j, :len(cells)] > 0
        means = (
            q_sum[j, :len(cells)][live].astype(np.float64)
            / n[j, :len(cells)][live, None].astype(np.float64)
        ) / fscale
        out.append([
            {"cell": int(c), "centroid": mu.tolist()}
            for c, mu in zip(cells[live], means)
        ])
    return out


def _seed_books(df: DataFrame, h, k: int, m: int, id_col: str, vec_col: str):
    """Hash-spread seeds in ``_lloyd_step``'s books shape: per subspace
    (column ``sub`` when m > 1), the (h, id)-min vector of each of the k
    buckets pmod(h, k), relabeled densely in bucket order — one SQL
    aggregate, no rand().

    r16 / ADVICE r16: the dense relabel runs DRIVER-SIDE over the
    collected ≤ m·k seed rows instead of a ``row_number()`` window —
    that window was the bench tail's "No Partition Defined" WindowExec
    warning source (21 per vec_ann_ivf bench key) and forced an
    exchange for a frame that is bounded by construction. Numbering is
    identical: the sorted-by-bucket index is the row_number in bucket
    order (buckets are distinct post-groupBy). The collect also seeds
    the first Lloyd step, which would otherwise collect the same frame
    again."""
    sub = F.col("sub") if m > 1 else F.lit(0)  # a literal key is dropped
    best = F.min(
        F.struct(
            h.alias("h"), F.col(id_col).alias("i"), F.col(vec_col).alias("v")
        )
    )
    seeds = (
        df.groupBy(sub.alias("sub"), F.pmod(h, F.lit(k)).alias("bucket"))
        .agg(best.alias("b"))
        .select("sub", "bucket", F.col("b.v").alias("centroid"))
        .collect()
    )
    books = [[] for _ in range(m)]
    for r in sorted(seeds, key=lambda r: (r["sub"], r["bucket"])):
        book = books[r["sub"]]
        book.append({"cell": len(book), "centroid": r["centroid"]})
    return books


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
    array<double>), the one k-means fit every ANN/semdedup key uses:

    - seeds are phash60-spread (md5-based, bit-identical on DuckDB):
      bucket = phash60(id) % k, seed = the bucket's (hash, id)-min
      vector, cells relabeled densely in bucket order;
    - each Lloyd mean is computed from EXACT integer sums of fixed-point
      quantized coordinates (round-half-away at ``scale``), then
      descaled with a fixed float expression ((Σq / n) / scale) —
      order-free under any partitioning, unlike float sums; centroids
      are quantized to ``scale`` precision between iterations
      (immaterial for clustering quality at 1e-4 of the data range);
    - assignment is ``_nearest_rows``' numpy kernel, the one
      ``_nearest_cell`` runs: an ascending-dimension add sequence a SQL
      oracle replays verbatim, and a lowest-cell tie-break;
    - empty cells drop out (a cell no vector chose has no mean), so the
      returned cell ids may have gaps; an empty corpus raises."""
    from pyspark.sql.types import StructType

    from pyetl_spark.parity import phash60

    books = _seed_books(
        corpus, phash60(F.col(id_col)), k, 1, id_col, vec_col
    )
    # Lloyd steps run as numpy kernels (_lloyd_step), not as a SQL
    # groupBy: interpreted zip_with/aggregate lambdas plus a 64-term mean
    # aggregate made each iteration's collect cost about twice its jobs'
    # run time. Seeding stays SQL — a Python seeding kernel was slower.
    vecs = corpus.select(vec_col)
    for _ in range(iters):
        books = _lloyd_step(vecs, books, vec_col, scale)
    # r16: LOCALIZE the final centroids (k rows of dim doubles — the
    # bounded state an IVF index IS, by design). A lazy centroid frame
    # would re-execute the final Lloyd step in every consumer:
    # ivf_assign collects it, ivf_topk and ivfpq_residuals/ivfpq_topk
    # each broadcast it. The loop above already holds the final rows on
    # the driver (each step ran exactly once); the Arrow LocalRelation
    # makes every downstream collect driver-local (no job) and every
    # broadcast job-free (an eager localCheckpoint was A/B'd first and
    # LOST on single-consumer fits — text_semdedup +0.5 s, 3/3 pairs —
    # because the pin job is pure overhead there; localization adds
    # none).
    return localize_rows(
        corpus.sparkSession,
        [(r["cell"], r["centroid"]) for r in books[0]],
        StructType.fromDDL("cell int, centroid array<double>"),
    )
