"""Holt's linear-trend exponential smoothing per series (double
exponential smoothing — level + trend recursions):

    l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    forecast(h) = l_n + h·b_n

Spark-first shape — identical contract to operators/ewma.py: the
recursion is sequential WITHIN a series but independent ACROSS series,
so ``applyInPandas`` after one shuffle on the series key runs every
series in parallel with a tight NumPy loop inside. Per-series state is
two floats; group memory is the series length (chunk long series by time
range and chain the carry-in state, as the ewma docstring describes).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from pyetl_spark.operators.pyworker import worker_entry


def holt_fit_forecast(
    xs: list[float], alpha: float, beta: float, horizon: int
) -> tuple[float, float, list[float]]:
    """Pure-Python reference recursion (unit-testable): returns
    (level, trend, forecasts[1..horizon]). Needs >= 2 points; the first
    two initialize l=x0? — standard init: l_1=x_0 is biased, we use
    l=x_0, b=x_1-x_0 then iterate from the second point."""
    l, b = xs[0], xs[1] - xs[0]
    for x in xs[1:]:
        l_prev = l
        l = alpha * x + (1.0 - alpha) * (l + b)
        b = beta * (l - l_prev) + (1.0 - beta) * b
    return l, b, [l + h * b for h in range(1, horizon + 1)]


#: Holt smoothing parameters — single source shared with the DuckDB
#: oracle generator (queries/timeseries._holt_oracle) so a call-site
#: parameter change cannot desynchronize engine and oracle.
ALPHA = 0.5
BETA = 0.3
HORIZON = 3


def holt_forecast(
    series: DataFrame,
    key_col: str = "user_id",
    order_col: str = "day",
    value_col: str = "x",
    alpha: float = ALPHA,
    beta: float = BETA,
    horizon: int = HORIZON,
) -> DataFrame:
    """Per-key Holt fit + h-step-ahead forecasts.

    Output: (key, level, trend, h, forecast) — one row per key per
    horizon step. Keys with < 2 observations are dropped (no trend is
    estimable)."""

    @worker_entry
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        xs = pdf[value_col].astype(float).tolist()
        if len(xs) < 2:
            return pd.DataFrame(
                columns=[key_col, "level", "trend", "h", "forecast"]
            )
        level, trend, fcs = holt_fit_forecast(xs, alpha, beta, horizon)
        return pd.DataFrame(
            {
                key_col: pdf[key_col].iloc[0],
                "level": level,
                "trend": trend,
                "h": range(1, horizon + 1),
                "forecast": fcs,
            }
        )

    schema = f"{key_col} long, level double, trend double, h int, forecast double"
    return series.groupBy(key_col).applyInPandas(run, schema=schema)
