"""Misra-Gries heavy hitters: bounded-memory candidate pass + exact
recount verify — the two-phase plan for "which items exceed share φ of
an unbounded stream" when a full groupBy's key space won't fit.

Phase 1 (candidates): each partition runs the Misra-Gries summary with
k = ceil(1/φ)·slack counters over its rows (mapInPandas — a dict of at
most k entries per task, O(k) memory regardless of partition size).
The MG guarantee: any item with GLOBAL frequency > n/k survives in at
least one partition summary, so the union of per-partition candidates
is a superset of the true heavy hitters (no false negatives; proof:
count decrements are bounded by n/k per item per partition, and an
item's total count exceeds the sum of decrement budgets).

Phase 2 (verify): exact counts for the candidate set only — a
semi-join-filtered groupBy whose key space is ≤ #partitions·k, however
many distinct items the stream carries. False positives die here.

Result: EXACT heavy hitters at sketch memory cost; deterministic
(no sampling — ties in the MG eviction are broken by dict insertion
order, which only affects the candidate superset, never the verified
output). The same split — "cheap lossy pass proposes, exact pass over
a small set disposes" — is SNM/LSH dedup's shape applied to counting.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.operators.pyworker import worker_entry


def _mg_pass(col: str, k: int):
    @worker_entry
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for item in pdf[col]:
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k:
                    counters[item] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd.DataFrame({col: list(counters.keys())})

    return run


def heavy_hitters(
    df: DataFrame,
    col: str,
    phi: float = 0.01,
    slack: int = 2,
) -> DataFrame:
    """DataFrame(item, c, share) of items with frequency share > phi.

    ``slack`` multiplies the counter budget k = slack/phi — more memory,
    tighter candidate superset (fewer phase-2 keys). Exactness does not
    depend on slack; only phase-2 cost does.
    """
    k = max(2, int(slack / phi))
    candidates = (
        df.select(col)
        .mapInPandas(_mg_pass(col, k), schema=f"{col} string")
        .distinct()
    )
    counted = (
        df.select(col)
        .join(F.broadcast(candidates), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("c"))
    )
    total = df.select(F.count(col).alias("n"))
    share = F.col("c").cast("double") / F.col("n").cast("double")
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(share > phi)
        .select(col, "c", share.alias("share"))
    )
