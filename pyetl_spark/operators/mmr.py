"""Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
diversify a top-k result list by greedily trading relevance against
similarity to what's already selected:

    MMR = argmax_{c ∉ S} [ λ·rel(c) − (1−λ)·max_{s ∈ S} sim(c, s) ]

Scale shape — the two-stage retrieval architecture: stage 1 (distributed)
generates a small candidate pool per query (brute-force, IVF, or LSH
top-N); stage 2 (this module) re-ranks each pool independently. The
greedy loop is inherently sequential in k but touches only the N
candidates of ONE query, so it runs inside applyInPandas — one shuffle
on the query id, NumPy matmul per group, never a driver loop. Determinism:
ties broken by candidate id, float ops identical across runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.operators.pyworker import worker_entry


_OUT_SCHEMA = "probe_id long, cand_id long, mmr_rank int, mmr_score double"


def mmr_select(
    rel: np.ndarray, sim: np.ndarray, ids: np.ndarray, k: int, lam: float
) -> list[tuple[int, float]]:
    """Greedy MMR over one candidate pool (pure NumPy, unit-testable).

    rel: (n,) relevance scores; sim: (n, n) candidate-candidate cosine;
    ids: (n,) tiebreak ids. Returns [(index, score)] in selection order.
    """
    n = rel.shape[0]
    selected: list[tuple[int, float]] = []
    chosen = np.zeros(n, dtype=bool)
    max_sim = np.zeros(n)  # max similarity to the selected set so far
    for _ in range(min(k, n)):
        score = lam * rel - (1.0 - lam) * max_sim
        score[chosen] = -np.inf
        best = score.max()
        # deterministic tiebreak: lowest id among the maximizers
        tied = np.nonzero(score == best)[0]
        pick = tied[np.argmin(ids[tied])]
        selected.append((int(pick), float(best)))
        chosen[pick] = True
        max_sim = np.maximum(max_sim, sim[:, pick])
    return selected


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    probe_col: str = "probe_id",
    id_col: str = "cand_id",
    vec_col: str = "cand_vec",
    rel_col: str = "rel",
) -> DataFrame:
    """Re-rank each probe's candidate pool with MMR.

    candidates: (probe_id, cand_id, cand_vec array<double>, rel) — the
    output shape of any top-N retrieval stage. Returns (probe_id,
    cand_id, mmr_rank, mmr_score), mmr_rank 1-based in selection order.
    """

    @worker_entry
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand_id").reset_index(drop=True)
        E = np.stack(pdf["cand_vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(E, axis=1)
        norms[norms == 0.0] = 1.0
        E = E / norms[:, None]
        sim = E @ E.T
        picks = mmr_select(
            pdf["rel"].to_numpy().astype(np.float64),
            sim,
            pdf["cand_id"].to_numpy(),
            k,
            lam,
        )
        return pd.DataFrame(
            {
                "probe_id": pdf["probe_id"].iloc[0],
                "cand_id": [pdf["cand_id"].iloc[i] for i, _ in picks],
                "mmr_rank": np.arange(1, len(picks) + 1, dtype=np.int32),
                "mmr_score": [s for _, s in picks],
            }
        )

    pool = candidates.select(
        F.col(probe_col).alias("probe_id"),
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        F.col(rel_col).alias("rel"),
    )
    return pool.groupBy("probe_id").applyInPandas(run, schema=_OUT_SCHEMA)


def mmr_rerank_exact(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    probe_col: str = "probe_id",
    id_col: str = "cand_id",
    vec_col: str = "cand_vec",
    rel_col: str = "rel",
) -> DataFrame:
    """Oracle-replayable ``mmr_rerank`` (r7): the candidate-candidate
    cosine matrix is built with dimension-ascending accumulation and the
    (dot/den_i)/den_j normalization — the identical IEEE sequence as the
    zip_with/aggregate folds a SQL oracle computes — instead of
    normalize-then-BLAS-matmul. ``mmr_select`` itself is already exact
    (elementwise score arithmetic, exact max, id tiebreak), so only the
    similarity kernel changes. Same two-stage scale shape."""

    @worker_entry
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("cand_id").reset_index(drop=True)
        E = np.stack(pdf["cand_vec"].to_numpy()).astype(np.float64)
        n = len(pdf)
        S = np.zeros((n, n), dtype=np.float64)
        nsq = np.zeros(n, dtype=np.float64)
        for j in range(E.shape[1]):  # dim-order == aggregate fold order
            S += E[:, j, None] * E[None, :, j]
            nsq += E[:, j] * E[:, j]
        den = np.where(nsq == 0.0, 1.0, np.sqrt(nsq))
        sim = (S / den[:, None]) / den[None, :]
        picks = mmr_select(
            pdf["rel"].to_numpy().astype(np.float64),
            sim,
            pdf["cand_id"].to_numpy(),
            k,
            lam,
        )
        return pd.DataFrame(
            {
                "probe_id": pdf["probe_id"].iloc[0],
                "cand_id": [pdf["cand_id"].iloc[i] for i, _ in picks],
                "mmr_rank": np.arange(1, len(picks) + 1, dtype=np.int32),
                "mmr_score": [s for _, s in picks],
            }
        )

    pool = candidates.select(
        F.col(probe_col).alias("probe_id"),
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        F.col(rel_col).alias("rel"),
    )
    return pool.groupBy("probe_id").applyInPandas(run, schema=_OUT_SCHEMA)
