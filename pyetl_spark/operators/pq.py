"""Product quantization (PQ) — the compressed-vector half of IVF-PQ,
next to operators/ivf.py (coarse cells) and knn.py (exact/LSH search).

A dim-D vector is split into m subvectors of D/m dims; each subspace
gets its own k-codeword codebook (k=16 → a 4-bit code per subspace, so
a 64-dim float vector compresses to m=8 bytes — 32× smaller than
float32, which is what makes billion-scale ANN fit in memory). Search
uses asymmetric distance (ADC): the query stays exact; per (probe,
subspace, codeword) squared distances form an m×k lookup table and a
candidate's distance is the sum of m table entries selected by its
codes.

Scale-first design decisions:
- ``pq_fit_exact`` trains ALL m codebooks in one Lloyd loop on ivf's
  k-means kernel (``ivf._lloyd_step``, of which k-means is the
  one-subspace case): each iteration is one Arrow stage that assigns
  every vector's m subvectors and sums their fixed-point coordinates per
  (subspace, cell). Only m×k×(D/m) partials leave a partition, so
  training shuffles no corpus rows at any scale.
- Seeding is phash60-spread per subspace (replayable, rand()-free, the
  same md5 hash on DuckDB): one SQL aggregate whose ≤ m·k rows the
  driver relabels.
- Encoding is a narrow projection through ivf's nearest-centroid
  numpy kernel (``ivf._nearest_structs``, one Arrow kernel per
  subspace) — no join, no shuffle.
- Codes stay in LONG format (id, sub, code) — the layout every
  downstream join wants; array assembly is a display concern.
- ADC is joins + one aggregation: probe×codebook table (m·k rows per
  probe — broadcast), join on (sub, code), sum per (probe, id), top-k
  window. No Python in the scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyetl_spark.operators.ivf import (
    _centroid_matrix,
    _lloyd_step,
    _nearest_structs,
    _seed_books,
    _sq_dist,
    localize_rows,
)


def _split(df: DataFrame, keys: list, vec_col: str, m: int, dim: int):
    """(keys..., sub, v): subvector j = slice [j·(dim/m)+1, dim/m]
    (1-based) of ``vec_col`` as doubles."""
    d_sub = dim // m
    # a non-divisible (m, dim) would silently drop the trailing dim % m
    # components from every subvector — fail fast instead
    assert d_sub * m == dim, "m must divide dim"
    subs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("sub"),
                    F.slice(
                        F.col(vec_col).cast("array<double>"),
                        j * d_sub + 1,
                        d_sub,
                    ).alias("v"),
                )
                for j in range(m)
            ]
        )
    )
    return df.select(*keys, subs.alias("s")).select(
        *keys, F.col("s.sub").alias("sub"), F.col("s.v").alias("v")
    )


def split_subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, dim: int
) -> DataFrame:
    """(id, sub, v): subvector j = slice [j·(dim/m)+1, dim/m] (1-based)."""
    return _split(
        df.select(F.col(id_col).alias("id"), vec_col), ["id"], vec_col, m, dim
    )


def _nearest_codes(
    df: DataFrame, codebook: DataFrame, vec_col: str, m: int, dim: int,
    keep: list,
) -> DataFrame:
    """``keep`` columns plus ``_b0`` … ``_b{m-1}``: the (cell, dist)
    struct of each subspace's nearest codeword — one narrow projection
    over the collected codebook (m·k rows of dim/m doubles)."""
    rows = sorted(
        codebook.select("sub", "cell", "centroid").collect(),
        key=lambda r: (r["sub"], r["cell"]),
    )
    books = [
        _centroid_matrix([r for r in rows if r["sub"] == j]) for j in range(m)
    ]
    assert books[0][1].shape[1] * m == dim, "codebook does not match (m, dim)"
    best = _nearest_structs(books, "_v")
    return df.select(
        *keep, F.col(vec_col).cast("array<double>").alias("_v")
    ).select(*keep, *[b.alias(f"_b{j}") for j, b in enumerate(best)])


def _encode(
    df: DataFrame, codebook: DataFrame, vec_col: str, m: int, dim: int,
    keep: list,
) -> DataFrame:
    """(keep..., sub, code): ``_nearest_codes`` exploded to long format."""
    best = F.array(*[F.col(f"_b{j}") for j in range(m)])
    return (
        _nearest_codes(df, codebook, vec_col, m, dim, keep)
        .select(*keep, F.posexplode(best).alias("sub", "_b"))
        .select(*keep, "sub", F.col("_b.cell").alias("code"))
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, sub, code) — m·(log2 k)-bit compressed corpus, long format;
    a narrow projection, no shuffle."""
    return _encode(
        corpus.select(F.col(id_col).alias("id"), vec_col),
        codebook, vec_col, m, dim, ["id"],
    )


def reconstruction_mse(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> float:
    """Mean over vectors of the summed squared subspace quantization
    error — the quantity PQ training minimizes. Each vector's error sums
    its m subspace distances in sub order; ``id_col`` is not read."""
    err = sum((F.col(f"_b{j}.dist") for j in range(1, m)), F.col("_b0.dist"))
    return (
        _nearest_codes(corpus, codebook, vec_col, m, dim, [])
        .agg(F.avg(err))
        .collect()[0][0]
    )


def adc_topk(
    probes: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    probe_id: str = "probe_id",
    probe_vec: str = "embedding",
    m: int = 8,
    dim: int = 64,
    topk: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """Asymmetric-distance top-k: (probe_id, id, adc_dist, rank).

    The probe×codebook distance table is m·k rows per probe —
    broadcast; candidate cost is ONE equi-join on (sub, code) + a sum,
    never a distance compute per (probe, candidate, dimension).

    ``exclude_self``: opt-in drop of candidates whose id equals the
    probe id, for probes drawn from the corpus itself. Default False
    (external probes: an id collision must not drop a real neighbor) —
    the single convention shared with ivfpq.ivfpq_topk (r12 ADVICE)."""
    p_sub = split_subvectors(probes, probe_id, probe_vec, m, dim)
    table = _adc_table(p_sub.withColumnRenamed("id", "pid"), codebook, ["pid"])
    return _adc_rank(
        codes.join(F.broadcast(table), ["sub", "code"]), probe_id, topk,
        exclude_self,
    )


def _adc_table(p_sub: DataFrame, codebook: DataFrame, keys: list):
    """(keys..., sub, code, pd): each probe subvector's squared distance
    to every codeword of its subspace — m·k rows per probe key, joined
    against a broadcast codebook."""
    cb = codebook.select("sub", F.col("cell").alias("code"), "centroid")
    pd = _sq_dist(F.col("v"), F.col("centroid")).alias("pd")
    return p_sub.join(F.broadcast(cb), "sub").select(*keys, "sub", "code", pd)


def _adc_rank(
    joined: DataFrame, probe_id: str, topk: int, exclude_self: bool
) -> DataFrame:
    """(probe_id, id, adc_dist, rank) from code rows joined to their ADC
    table entries (pid, id, sub, pd) — shared by adc_topk and
    ivfpq.ivfpq_topk.

    ADC distance = SUM of the m per-subspace table entries — folded in
    FIXED sub order (collect → sort by sub → ascending fold) instead of
    F.sum, whose float accumulation order varies with partitioning.
    Makes the distance bit-deterministic (and SQL-replayable) for the
    cost of sorting m=8 structs per candidate (r7 oracle tier)."""
    if exclude_self:
        joined = joined.filter(F.col("id") != F.col("pid"))
    scored = (
        joined.groupBy("pid", "id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "pd"))),
                    lambda st: st.getField("pd"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("pid").orderBy("adc_dist", "id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("pid").alias(probe_id), "id", "adc_dist", "rank"
        )
    )


#: fixed-point quantization for the exact Lloyd means — single source
#: shared with the DuckDB oracle generator (queries/llm_scale._pq_oracle)
#: so a parameter change cannot desynchronize engine and oracle.
PQ_SCALE = 10**4


def pq_fit_exact(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    iters: int = 2,
    scale: int = PQ_SCALE,
) -> DataFrame:
    """Train all m codebooks → DataFrame(sub int, cell int, centroid
    array<double>), oracle-replayable (same recipe as
    ivf.kmeans_fit_exact, on the same kernel):

    - seeds are phash60(sub, id)-spread per subspace (md5-based,
      cross-engine; (hash, id)-min tie-break), relabeled densely in
      bucket order on the driver;
    - each Lloyd iteration is one ``ivf._lloyd_step`` job: nearest
      codeword per subvector (ascending-dimension distance fold, lowest
      cell on ties — the min-(dist, cell) a SQL oracle replays), means
      from exact integer sums of fixed-point-quantized coordinates;
    - codebooks are quantized to ``scale`` between iterations —
      immaterial at 1e-4 of the data range, decisive for hash
      verifiability;
    - empty buckets and empty cells drop, so subspaces may end with
      different codeword counts and gaps in their cell ids; an empty
      corpus raises."""
    from pyspark.sql.types import StructType

    from pyetl_spark.parity import phash60_seeded

    sub_df = split_subvectors(corpus, id_col, vec_col, m, dim)
    books = _seed_books(
        sub_df, phash60_seeded(F.col("sub"), F.col("id")), k, m, "id", "v"
    )
    vecs = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    for _ in range(iters):
        books = _lloyd_step(vecs, books, "v", scale)
    # LOCALIZE (m·k rows of dim/m doubles — bounded index state): every
    # downstream collect and broadcast of the codebook is then job-free
    return localize_rows(
        corpus.sparkSession,
        [(j, r["cell"], r["centroid"])
         for j, book in enumerate(books) for r in book],
        StructType.fromDDL("sub int, cell int, centroid array<double>"),
    )
