"""SemDeDup-style semantic deduplication: k-means cluster the embedding
space, then compare pairs ONLY inside each cluster (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication" — public arXiv method description).

Scale shape: the global all-pairs O(n²) cosine comparison becomes
k × O((n/k)²) — pick k ∝ n so mean cluster size stays bounded (SemDeDup
used k=50k for LAION-scale corpora), and the per-cluster work is a small
dense matmul. Clustering is ``ivf.kmeans_fit_exact`` (one Arrow stage and
no corpus shuffle per Lloyd iteration); the per-cluster pass is ONE
applyInPandas shuffle on the cell id, NumPy-vectorized inside (a
``pyworker.worker_entry`` function, as every Python kernel is). Every
float op is a fixed-order IEEE step, so a DuckDB oracle replays the
result bit for bit.

Residual hazard (documented, same as every clustered dedup): a degenerate
hot cluster re-quadratizes — cap cluster size (split hot cells by a
secondary hash) before the pairwise pass; `cap` below enforces that
contract and fails loudly rather than OOMing a task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.operators.pyworker import worker_entry


_OUT_SCHEMA = "vec_id long, cell int, keep boolean, dup_of long"


def _dedup_cell_exact(pdf: pd.DataFrame, tau: float, cap: int) -> pd.DataFrame:
    """Keep/drop one cell, fold-order exact (r7 oracle tier):
    sim(i,j) = (dot/den_i)/den_j with the dot accumulated over the
    DIMENSION axis ascending (each S[a,b] receives += E[a,j]·E[b,j] in j
    order — the identical IEEE sequence as the zip_with/aggregate fold a
    SQL oracle computes) and den = 1.0 for zero vectors, sqrt(Σx²)
    otherwise (Σ ascending too). Rows are taken in vec_id order; a row is
    dropped when its similarity to an EARLIER row exceeds tau, and
    ``dup_of`` names the lowest such id — deterministic, independent of
    float argmax tie order."""
    if len(pdf) > cap:
        raise ValueError(
            f"semdedup cell size {len(pdf)} exceeds cap {cap}: raise k "
            "or split hot cells by a secondary hash before the pairwise pass"
        )
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    E = np.stack(pdf["e"].to_numpy()).astype(np.float64)
    n = len(pdf)
    S = np.zeros((n, n), dtype=np.float64)
    nsq = np.zeros(n, dtype=np.float64)
    for j in range(E.shape[1]):  # dim-order == aggregate fold order
        S += E[:, j, None] * E[None, :, j]
        nsq += E[:, j] * E[:, j]
    den = np.where(nsq == 0.0, 1.0, np.sqrt(nsq))
    sim = (S / den[:, None]) / den[None, :]
    ids = pdf["vec_id"].to_numpy()
    dup_of = np.full(n, -1, dtype=np.int64)
    for i in range(1, n):
        hits = np.nonzero(sim[i, :i] > tau)[0]
        if hits.size:
            dup_of[i] = ids[hits[0]]  # lowest earlier id above tau
    return pd.DataFrame(
        {
            "vec_id": ids,
            "cell": pdf["cell"].to_numpy(),
            "keep": dup_of < 0,
            "dup_of": np.where(dup_of < 0, None, dup_of),
        }
    )


def semdedup_assign_exact(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 8,
    tau: float = 0.99,
    iters: int = 2,
    cap: int = 200_000,
) -> DataFrame:
    """Assign every vector keep/drop + its representative.

    Returns DataFrame(vec_id, cell, keep, dup_of): ``keep`` rows form the
    deduplicated corpus; each dropped row points at the lowest-id vector
    in its cluster whose cosine similarity exceeds ``tau``. Clusters come
    from ``kmeans_fit_exact`` (phash60 seeds, integer-quantized means)
    and the in-cell pairwise pass from ``_dedup_cell_exact``; a cell
    larger than ``cap`` raises."""
    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit_exact

    v = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("e")
    )
    assigned = ivf_assign(v, kmeans_fit_exact(v, k=k, iters=iters))

    @worker_entry
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _dedup_cell_exact(pdf, tau, cap)

    return assigned.groupBy("cell").applyInPandas(run, schema=_OUT_SCHEMA)
