"""Mann-Kendall monotonic-trend test per entity series.

Reference parity: ts-raster's trend surface is the least-squares
``agg_linear_trend`` calculator (functions/features.py); Mann-Kendall
is its robust, distribution-free sibling — the standard "is this
metric drifting" test on tier series, insensitive to outliers and
non-normal noise.  Together with CUSUM (sudden shift,
operators/changepoint.py) and the seasonal residuals
(operators/seasonal.py) it completes the monitoring triad:
trend / shift / seasonality.

Statistic (Mann 1945, Kendall 1975):
    S   = sum over ordered pairs i<j of sign(x_j - x_i)
    Var = [n(n-1)(2n+5) - sum_ties t(t-1)(2t+5)] / 18
    z   = (S - sign(S)) / sqrt(Var)        (continuity-corrected)

Spark-first / 100 TB: the pair enumeration is a self-equi-join on the
ENTITY key (one hash shuffle; never a cross-join across entities), so
cost is sum_e n_e^2 — quadratic only within an entity.  That is the
right trade for bounded series (conversations, daily tier slices:
n <= a few thousand); for unbounded series, pre-downsample with LTTB
(operators/downsample.py) or run per-tier-slice.  S and Var are exact
integer arithmetic, so the DuckDB twin replays the test bit-for-bit —
an exact oracle, not a claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def theil_sen(df: DataFrame) -> DataFrame:
    """Per-conversation Theil-Sen robust slope of ``value`` on ``turn_idx`` (Theil 1950, Sen 1968) — the
    magnitude companion to :func:`mann_kendall` (which gives direction/
    significance): slope = median over ordered pairs of
    ``(v_j - v_i) / (x_j - x_i)``, intercept = median of
    ``v_i - slope * x_i`` (Conover's convention).  Breakdown point
    ~29% — the slope a drifting-latency monitor should alert on, since
    one outlier turn cannot move it the way it moves least squares.

    Spark-first / 100 TB: identical shape to mann_kendall — the pair
    enumeration is a self-equi-join on the ENTITY key (one hash
    shuffle, quadratic only within an entity; LTTB-downsample unbounded
    series first).  Medians are exact interpolated percentiles; every
    pairwise slope is one double division of exact integers, so the
    slope multiset — and hence the median — replays bit-identically in
    the DuckDB twin (exact oracle).

    Returns one row per conv_id: ``n``, ``slope``, ``intercept`` (both
    NULL for singleton series, where no pair exists).

    Precondition: ``turn_idx`` must be unique per conversation (the engine's
    panels guarantee dense per-conversation ``turn_idx``).  Rows sharing
    an order value form no pair (the strict ``_i < _j`` filter runs
    before the division, so no Inf/NaN can arise) — their slopes are
    silently absent from the median, which is almost never what a
    caller wants; dedupe or re-index such inputs first.
    """
    ecols = ["conv_id"]
    a = df.select(*ecols, F.col("turn_idx").alias("_i"), F.col("value").alias("_va"))
    b = df.select(*ecols, F.col("turn_idx").alias("_j"), F.col("value").alias("_vb"))
    slopes = (
        a.join(b, ecols)
        .where(F.col("_i") < F.col("_j"))
        .groupBy(*ecols)
        .agg(
            F.expr(
                "percentile((_vb - _va) / CAST(_j - _i AS DOUBLE), 0.5)"
            ).alias("slope")
        )
    )
    counts = df.groupBy(*ecols).agg(F.count(F.lit(1)).cast("long").alias("n"))
    resid = (
        df.join(slopes, ecols)
        .groupBy(*ecols)
        .agg(
            F.expr(
                "percentile(value - slope * CAST(turn_idx AS DOUBLE), 0.5)"
            ).alias("intercept")
        )
    )
    return (
        counts.join(slopes, ecols, "left")
        .join(resid, ecols, "left")
        .select(*ecols, "n", "slope", "intercept")
    )


def mann_kendall(df: DataFrame) -> DataFrame:
    """Per-conversation Mann-Kendall test of ``value`` in ``turn_idx``
    order.

    Returns one row per conv_id: ``n`` points, ``s_stat`` (exact),
    ``var_s`` (tie-corrected), ``z`` (null when Var == 0: n < 2 or all
    values tied) and ``trend`` in {'increasing','decreasing',
    'no_trend'} at the two-sided 5% level (|z| > 1.96) (boundary quantized
    at 9 dp — z is dimensionless, the q_anomaly_turns contract).
    """
    ecols = ["conv_id"]
    a = df.select(*ecols, F.col("turn_idx").alias("_i"), F.col("value").alias("_va"))
    b = df.select(*ecols, F.col("turn_idx").alias("_j"), F.col("value").alias("_vb"))
    pairs = (
        a.join(b, ecols)
        .where(F.col("_i") < F.col("_j"))
        .groupBy(*ecols)
        .agg(
            F.sum(F.signum(F.col("_vb") - F.col("_va")).cast("long")).alias("s_stat")
        )
    )
    counts = df.groupBy(*ecols).agg(F.count(F.lit(1)).cast("long").alias("n"))
    # tie correction: for each group of t equal values, t(t-1)(2t+5)
    ties = (
        df.groupBy(*ecols, F.col("value").alias("_v"))
        .agg(F.count(F.lit(1)).cast("long").alias("_t"))
        .groupBy(*ecols)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tie_term")
        )
    )
    n = F.col("n")
    var_s = (
        (n * (n - 1) * (2 * n + 5) - F.col("_tie_term")).cast("double") / F.lit(18.0)
    )
    joined = (
        counts.join(ties, ecols)
        .join(pairs, ecols, "left")  # n == 1 entities have no pairs
        .withColumn("s_stat", F.coalesce(F.col("s_stat"), F.lit(0)))
        .withColumn("var_s", var_s)
    )
    s = F.col("s_stat")
    z = F.when(
        F.col("var_s") > 0,
        (s - F.signum(s)).cast("double") / F.sqrt(F.col("var_s")),
    )
    out = joined.withColumn("z", z)
    sig = F.round(F.abs(F.col("z")) - F.lit(1.96), 9) > 0
    trend = (
        F.when(F.col("z").isNull(), F.lit("no_trend"))
        .when(sig & (F.col("z") > 0), F.lit("increasing"))
        .when(sig & (F.col("z") < 0), F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
    )
    return out.select(*ecols, "n", "s_stat", "var_s", "z", trend.alias("trend"))
