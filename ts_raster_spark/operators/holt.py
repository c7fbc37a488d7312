"""Holt linear-trend exponential smoothing (double smoothing) with
one-step-ahead fitted values — the engine's forecasting primitive.

Reference parity: ts-raster fits batch RandomForest models
(model.py) but has no sequential forecaster; Holt (1957) is the
standard "level + trend" smoother a tier store pairs with its rollups
("where is this metric heading next hour").  Simple exponential
smoothing is the ema operator (timeseries.py); Holt adds the trend
state:

    l_t = alpha * x_t + (1 - alpha) * (l_{t-1} + b_{t-1})
    b_t = beta  * (l_t - l_{t-1}) + (1 - beta) * b_{t-1}
    fitted_t = l_{t-1} + b_{t-1}        (one-step-ahead forecast)
    init: l_0 = x_0, b_0 = x_1 - x_0 (0 for singleton series)

Unlike ema, the two coupled states have no overflow-safe closed prefix
form (the transition matrix has complex eigenvalues for most
alpha/beta), so this is one of the engine's few genuinely iterative
kernels: an O(n) Arrow kernel at SERIES granularity over sorted key
runs (operators/kernels.map_sorted_runs: one conversation per run, one
Python call per partition; millions of entities parallelize to the
shuffle width, state never leaves a run).

Cross-engine exactness: the recursion IS replayable in SQL via a
recursive CTE (DuckDB twin in __spark_entry__) — both engines execute
the same IEEE ops in the same order, so the twin is an EXACT
value-hash oracle, not a claim.  The kernel computes ``1 - alpha`` at
run time and the twin spells ``(1.0 - {alpha})`` textually for the
same reason: the pre-folded literal 0.7 is NOT the double ``1 - 0.3``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from ts_raster_spark.operators.kernels import map_sorted_runs


def holt_smooth(df: DataFrame) -> DataFrame:
    """Per-conversation Holt smoothing of ``value`` in ``turn_idx``
    order with alpha = 0.3, beta = 0.1 (the defaults of
    :func:`holt_oracle_sql`): adds ``level``, ``trend`` and ``fitted``
    (one-step-ahead forecast; ``fitted_0 = l_0``) to every input row.
    h-step forecasts beyond the series are
    ``last(level) + h * last(trend)`` — compose at the query layer.
    """
    a, g = 0.3, 0.1
    in_cols = list(df.columns)
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("fitted", DoubleType()),
        ]
    )

    def _holt_kernel(pdf):
        pdf = pdf.sort_values("turn_idx", kind="mergesort")[in_cols].copy()
        x = pdf["value"].to_numpy(dtype=np.float64)
        n = len(x)
        lvl = np.empty(n)
        trd = np.empty(n)
        fit = np.empty(n)
        l = x[0]
        b = (x[1] - x[0]) if n > 1 else 0.0
        lvl[0], trd[0], fit[0] = l, b, l
        for t in range(1, n):
            fit[t] = l + b
            l_new = a * x[t] + (1.0 - a) * (l + b)
            b = g * (l_new - l) + (1.0 - g) * b
            l = l_new
            lvl[t], trd[t] = l, b
        pdf["level"], pdf["trend"], pdf["fitted"] = lvl, trd, fit
        return pdf

    return map_sorted_runs(df, ["conv_id"], ("turn_idx",), _holt_kernel, out_schema)


def holt_oracle_sql(turns_cte: str, alpha: float = 0.3, beta: float = 0.1) -> str:
    """DuckDB recursive-CTE twin of :func:`holt_smooth` over the
    standard ``turns`` CTE (conv_id / contiguous turn_idx / value):
    iterates the identical recursion breadth-first across all
    conversations, so every float op matches the kernel bit-for-bit.
    Kept beside the operator so the two definitions evolve together.
    """
    a, g = float(alpha), float(beta)
    return f"""{turns_cte},
seed AS (
    SELECT t0.conv_id, 0 AS t, t0.value AS x,
        t0.value AS l,
        CASE WHEN t1.value IS NULL THEN 0.0 ELSE t1.value - t0.value END AS b
    FROM turns t0
    LEFT JOIN turns t1 ON t1.conv_id = t0.conv_id AND t1.turn_idx = 1
    WHERE t0.turn_idx = 0
),
rec AS (
    WITH RECURSIVE r AS (
        SELECT conv_id, t, x, l, b, l AS fitted FROM seed
        UNION ALL
        SELECT r.conv_id, r.t + 1, nxt.value,
            {a} * nxt.value + (1.0 - {a}) * (r.l + r.b) AS l,
            {g} * (({a} * nxt.value + (1.0 - {a}) * (r.l + r.b)) - r.l)
                + (1.0 - {g}) * r.b AS b,
            r.l + r.b AS fitted
        FROM r JOIN turns nxt
          ON nxt.conv_id = r.conv_id AND nxt.turn_idx = r.t + 1
    )
    SELECT * FROM r
)
SELECT conv_id, t AS turn_idx,
    round(l, 4) AS level, round(b, 4) AS trend, round(fitted, 4) AS fitted
FROM rec
"""
