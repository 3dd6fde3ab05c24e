"""Top principal component of an embedding column — distributed moment
aggregation + driver-side power iteration.

The scale-correct split: the DATA-sized work (sum of outer products
x·xᵀ, sum of x, count) runs distributed as an Arrow-batched
``mapInPandas`` partial aggregation — each batch contributes ONE
(dim², dim, 1) moment row, numpy doing the outer products vectorized —
and the DIMENSION-sized work (eigenvector of the dim×dim covariance)
runs on the driver in numpy, where a 64×64 power iteration is
microseconds. This mirrors how MLlib computes column stats: never ship
rows to the driver, only moment blocks (#partitions × dim² doubles).

A pure-DataFrame covariance via double posexplode would blow each row
up dim²× before aggregating — correct, but 4096× shuffle volume at
dim=64; the mapInPandas form keeps the blowup inside a numpy batch.

North-star relevance: the top component drives embedding whitening /
de-biasing and 1-D quantization binning during corpus curation
(see vec_quantize_int8, dedup_embedding_quantized).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.operators.pyworker import worker_entry

#: exact-path parameters — single source shared with the DuckDB oracle
#: generator (queries/llm_vec._pca_oracle) so a call-site change cannot
#: desynchronize engine and oracle.
PCA_SCALE = 1e4
PCA_ITERS = 60


def _moments(vec_col: str, dim: int):
    """mapInPandas fn: per Arrow batch, one row of flattened moments."""

    @worker_entry
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "sum_outer": [(x.T @ x).ravel().tolist()],
                    "sum_vec": [x.sum(axis=0).tolist()],
                    "n": [len(x)],
                }
            )

    return run


def top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    max_iters: int = 100,
    tol: float = 1e-10,
    seed_dim_spread: bool = True,
) -> tuple[np.ndarray, float, np.ndarray]:
    """Return (component, eigenvalue, mean) of the column's covariance.

    Deterministic: moments are exact sums reduced in numpy float64 on
    the driver (batch order affects low-order bits only — callers
    compare directions with tolerances, never hashes); the iteration
    starts from a fixed seed and the sign is canonicalized so the
    largest-|coordinate| entry is positive.
    """
    if dim is None:
        dim = len(
            df.select(vec_col).filter(F.size(vec_col) > 0).first()[0]
        )
    schema = (
        "sum_outer array<double>, sum_vec array<double>, n bigint"
    )
    parts = df.select(vec_col).mapInPandas(
        _moments(vec_col, dim), schema=schema
    ).collect()
    if not parts:
        raise ValueError("empty input")
    so = np.zeros((dim, dim))
    sv = np.zeros(dim)
    n = 0
    for r in parts:
        so += np.array(r["sum_outer"]).reshape(dim, dim)
        sv += np.array(r["sum_vec"])
        n += r["n"]
    mean = sv / n
    cov = so / n - np.outer(mean, mean)
    # fixed deterministic seed: spread over dimensions, no RNG
    v = np.cos(np.arange(dim, dtype=np.float64) + 1.0)
    v /= np.linalg.norm(v)
    lam = 0.0
    for _ in range(max_iters):
        w = cov @ v
        nw = np.linalg.norm(w)
        if nw == 0.0:
            break
        w /= nw
        if abs(nw - lam) < tol:
            v, lam = w, nw
            break
        v, lam = w, nw
    if v[np.argmax(np.abs(v))] < 0:
        v = -v
    return v, float(lam), mean


def project(
    df: DataFrame,
    component: np.ndarray,
    mean: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pc1",
):
    """Add the centered 1-D projection (x−μ)·v as ``out_col`` —
    JVM-side via zip_with/aggregate over literal arrays (no Python in
    the scan path; the component is dimension-sized, broadcast as a
    literal into the plan)."""
    comp_lit = F.array(*[F.lit(float(c)) for c in component])
    mean_lit = F.array(*[F.lit(float(m)) for m in mean])
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), mean_lit, lambda x, m: x - m
    )
    dot = F.aggregate(
        F.zip_with(centered, comp_lit, lambda x, c: x * c),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.withColumn(out_col, dot)


def _moments_quantized(vec_col: str, dim: int, scale: float):
    """mapInPandas fn: per Arrow batch, one row of EXACT integer moments
    over fixed-point-quantized coordinates (int64 matmul — numpy integer
    matmul is exact and order-free, unlike the float path above)."""

    @worker_entry
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if x.shape[1] != dim:
                # a smaller dim would IndexError in the driver fold; a
                # larger one would silently zero-pad the covariance —
                # fail loudly instead of skewing the component
                raise ValueError(
                    f"vector length {x.shape[1]} != declared dim {dim}"
                )
            q = (np.sign(x) * np.floor(np.abs(x) * scale + 0.5)).astype(
                np.int64
            )
            yield pd.DataFrame(
                {
                    "sum_outer": [(q.T @ q).ravel().tolist()],
                    "sum_vec": [q.sum(axis=0).tolist()],
                    "n": [len(q)],
                }
            )

    return run


def top_component_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: float = PCA_SCALE,
    iters: int = PCA_ITERS,
) -> tuple[list[float], list[float]]:
    """Cross-engine-EXACT top principal component: (component, mean).

    Bit-reproducible by construction, so a SQL oracle can replay it
    (the r7 Tier-A conversion of vec_pca_project):

    - moments are integer sums of fixed-point-quantized coordinates
      (round-half-away at ``scale``) — exact under ANY batch/partition
      order, unlike float accumulation;
    - covariance entries derive from those ints with a FIXED float
      expression (so/n - (sv_i/n)(sv_j/n));
    - the power iteration runs a FIXED ``iters`` count in pure Python
      with explicit ascending folds (acc starts 0.0; no BLAS, whose
      blocked summation order an oracle could not reproduce), seeded at
      v0 = normalize([1..dim]);
    - sign canonicalized: first-largest-|coordinate| entry positive.

    Every float op here is a single IEEE-754 exact-rounded step in a
    fixed order, so DuckDB executing the same expression tree yields the
    identical bits. Integer-overflow headroom: |q| <= scale·max|x|, so
    Σq_iq_j fits int64 up to ~2^63/(scale·max|x|)^2 rows — at true
    100 TB scale escalate the moment sums to DECIMAL(38,0)."""
    schema = "sum_outer array<long>, sum_vec array<long>, n bigint"
    parts = df.select(vec_col).mapInPandas(
        _moments_quantized(vec_col, dim, scale), schema=schema
    ).collect()
    if not parts:
        raise ValueError("empty input")
    so = [0] * (dim * dim)
    sv = [0] * dim
    n = 0
    for r in parts:  # python ints: exact, order-free
        for k, val in enumerate(r["sum_outer"]):
            so[k] += val
        for k, val in enumerate(r["sum_vec"]):
            sv[k] += val
        n += r["n"]
    nf = float(n)
    mean = [sv[i] / nf for i in range(dim)]
    cov = [
        [
            so[i * dim + j] / nf - (sv[i] / nf) * (sv[j] / nf)
            for j in range(dim)
        ]
        for i in range(dim)
    ]

    def _norm(xs: list[float]) -> float:
        acc = 0.0
        for x in xs:
            acc = acc + x * x
        import math

        return math.sqrt(acc)

    v = [float(i + 1) for i in range(dim)]
    nv = _norm(v)
    v = [x / nv for x in v]
    for _ in range(iters):
        w = []
        for i in range(dim):
            acc = 0.0
            for k in range(dim):
                acc = acc + cov[i][k] * v[k]
            w.append(acc)
        nw = _norm(w)
        if nw == 0.0:
            break
        v = [x / nw for x in w]
    amax, idx = -1.0, 0
    for i, x in enumerate(v):
        ax = abs(x)
        if ax > amax:
            amax, idx = ax, i
    if v[idx] < 0:
        v = [-1.0 * x for x in v]
    return v, mean
