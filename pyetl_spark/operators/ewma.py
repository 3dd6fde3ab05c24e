"""Exponentially weighted moving average per key — the recursive
smoother y_t = α·x_t + (1−α)·y_{t−1} that no SQL window frame can
express (each output depends on the UNBOUNDED past through a recurrence,
not a frame aggregate; SQL's MODEL/recursive tricks don't vectorize).

Spark-first shape: ``applyInPandas`` — one shuffle on the key, each
group sorted by (ts, tiebreak) inside its task, pandas' C-implemented
``ewm(...).mean()`` doing the recurrence vectorized. Deterministic: the
recurrence is a fixed left-to-right op order once the sort is total.

Scale: per-key groups materialize in task memory (the applyInPandas
contract). Uniform user keys at 100 TB are fine (events/user ≪ task
memory); a mega-key (one sensor with 10⁹ rows) uses ``ewma_chunked``:
the timeline is cut into time-slices processed as SEQUENTIAL passes,
each pass seeding every key's recurrence with the carried last smoothed
value from the previous slices — task memory is bounded by one slice of
one key, and because the per-row op sequence is untouched (the carry IS
y_{t−1}), the output is bit-identical to the whole-group path (pinned
in tests/test_ewma.py). This is the batch shape of the streaming twin —
applyInPandasWithState keeping (last_y, last_ts) per key per micro-batch
(see streaming/stateful_anomaly_counter for the state plumbing pattern).
"""

from __future__ import annotations

from typing import Iterator  # noqa: F401  (mirrors sibling operators)

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyetl_spark.operators.pyworker import worker_entry


def ewma(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    tiebreak: str | None = None,
    out_col: str = "ewma",
) -> DataFrame:
    """DataFrame(key, ts, tiebreak?, value, ewma) — per-key EWMA in
    event-time order. ``adjust=False`` pandas semantics: the plain
    recurrence with y_0 = x_0."""
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    cols = [key, *order, value_col]

    # The recurrence is an EXPLICIT loop, not pandas' ewm C kernel:
    # y_t = om·y_{t-1} + a·x_t with the two products formed before the
    # add, so every step is the same fixed IEEE op sequence a SQL oracle
    # can replay (win_ewma's DuckDB recursive CTE computes literally
    # `om * y + a * x`). pandas ewm(adjust=False) is the same math but
    # an unspecified internal op order — equal only to ~1e-16, which a
    # value hash cannot tolerate. Cost: pure-Python steps over ≤ a few
    # hundred rows per key (the applyInPandas group), negligible next to
    # the shuffle.
    a = float(alpha)
    om = 1.0 - a

    @worker_entry
    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort")
        xs = pdf[value_col].to_numpy(dtype="float64")
        ys = []
        y = 0.0
        for i, x in enumerate(xs):
            y = float(x) if i == 0 else om * y + a * float(x)
            ys.append(y)
        pdf[out_col] = ys
        return pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*cols).schema.fields
    ) + f", {out_col} double"
    return (
        df.select(*cols)
        .groupBy(key)
        .applyInPandas(fit, schema=schema)
    )


def ewma_chunked(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    tiebreak: str | None = None,
    out_col: str = "ewma",
    n_slices: int = 4,
) -> DataFrame:
    """Bounded-memory EWMA for mega-keys — BIT-IDENTICAL to ``ewma``.

    ``ewma`` materializes each key's whole history in one task (the
    applyInPandas contract); a 10⁹-row sensor key breaks that. Here the
    timeline is cut into ``n_slices`` equal time ranges processed as
    SEQUENTIAL Spark jobs; each job runs the same per-key recurrence
    loop, seeded with the key's carried last smoothed value from the
    previous slices. The carry is exactly y_{t−1} at the slice
    boundary, so every per-row IEEE operation happens in the identical
    order as the whole-group loop → bit-identical output (pinned in
    tests/test_ewma.py), unlike a factored om^t·y_in + L_t chain, which
    reorders the float ops and drifts in the last ulps.

    Costs and bounds: one tiny min/max aggregate to fix slice
    boundaries; per slice, one shuffle of that slice's rows plus a
    broadcast-sized carry join (one row per key seen so far — persisted
    and localCheckpointed so lineage doesn't grow with slices); task
    memory is one slice of one key. Pick ``n_slices`` so
    rows(key)/n_slices fits a task — the knob trades sequential passes
    for memory. The streaming twin carries the same state per
    micro-batch via applyInPandasWithState."""
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    cols = [key, *order, value_col]
    a = float(alpha)
    om = 1.0 - a

    lo, hi = df.agg(
        F.min(F.col(ts_col).cast("long")), F.max(F.col(ts_col).cast("long"))
    ).collect()[0]
    if lo is None:
        return ewma(df, key, ts_col, value_col, alpha, tiebreak, out_col)
    span = max(int(hi) - int(lo) + 1, 1)
    width = -(-span // n_slices)  # ceil: last slice absorbs the remainder
    # null-ts rows go to the LAST slice: the base path's mergesort puts
    # NaT after every real timestamp (within them, the tiebreak orders),
    # so processing them after all non-null rows of their key preserves
    # bit-identity; dropping them (a null _slice matches no filter)
    # would silently lose rows the base path smooths
    # exact integer DIV, clamped to the top slice: double division here
    # can round (ts-lo)/width UP to exactly n_slices for spans near 2^53
    # (nanosecond-scale longs), creating a _slice no loop iteration
    # filters — the same silent-loss class the null-ts comment covers
    sliced = df.select(*cols).withColumn(
        "_slice",
        F.when(F.col(ts_col).isNull(), F.lit(n_slices - 1)).otherwise(
            F.least(
                F.lit(n_slices - 1),
                F.expr(
                    "(CAST(`{0}` AS LONG) - {1}L) DIV {2}L".format(
                        ts_col.replace("`", "``"), int(lo), width
                    )
                ),
            ).cast("int")
        ),
    )

    @worker_entry
    def fit_seeded(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort")
        seed = pdf["_y_in"].iloc[0]
        has_seed = pd.notna(seed)
        xs = pdf[value_col].to_numpy(dtype="float64")
        ys = []
        y = float(seed) if has_seed else 0.0
        for i, x in enumerate(xs):
            if i == 0 and not has_seed:
                y = float(x)  # same y_0 = x_0 anchor as ewma()
            else:
                y = om * y + a * float(x)
            ys.append(y)
        pdf[out_col] = ys
        return pdf.drop(columns=["_y_in"])

    base_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*cols).schema.fields
    )
    out_schema = f"{base_fields}, _slice int, {out_col} double"

    carry: DataFrame | None = None  # DataFrame(key, _y_carry)
    outs: list[DataFrame] = []
    for s in range(n_slices):
        part = sliced.filter(F.col("_slice") == s)
        if carry is None:
            part = part.withColumn("_y_in", F.lit(None).cast("double"))
        else:
            part = part.join(
                F.broadcast(carry.withColumnRenamed("_y_carry", "_y_in")),
                key,
                "left",
            ).select(*cols, "_slice", "_y_in")
        done = part.groupBy(key).applyInPandas(fit_seeded, schema=out_schema)
        # pin this slice's result: the carry AND the final union both
        # read it, and the next slice's lineage must not re-execute
        # every prior slice (that replay would be quadratic in slices)
        done = done.localCheckpoint(eager=True)
        outs.append(done)
        # new carry: the last smoothed value per key, folded with keys
        # this slice never saw (their state persists unchanged)
        last = done.groupBy(key).agg(
            F.max_by(out_col, F.struct(*order)).alias("_y_carry")
        )
        if carry is None:
            carry = last
        else:
            carry = (
                carry.join(last, key, "full")
                .select(
                    F.col(key),
                    F.coalesce(last["_y_carry"], carry["_y_carry"]).alias(
                        "_y_carry"
                    ),
                )
            )
        carry = carry.localCheckpoint(eager=True)

    out = outs[0]
    for d in outs[1:]:
        out = out.unionByName(d)
    return out.drop("_slice")
