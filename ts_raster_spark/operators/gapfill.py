"""Gap-fill: dense bucket scaffold + locf / linear interpolation.

Reference: ``unmask_from_mask`` (tsraster/prep.py:490-521) builds the
dense pixel domain from the mask raster, fills non-observed pixels with
the ``-9999`` sentinel, then update-joins the computed values in. The
engine generalizes this into a time-axis scaffold: for every
(conv_id, kind) the full minute/hour/day bucket grid between that
conversation's first and last observation, left-joined to actual rollup
points, with an explicit fill policy instead of a sentinel:

- ``locf``  — last observation carried forward:
  ``last(value, ignorenulls=True) OVER (... ROWS UNBOUNDED PRECEDING)``
- ``linear``— interpolation between the bracketing observed buckets
- ``sentinel`` — reference-parity ``-9999`` fill (prep.py:502)

All native expressions; the scaffold is ``sequence()`` + ``explode`` so
bucket generation is distributed with the conversation, never
driver-side. One shuffle: the window partitions by (conv_id, kind),
which the upstream rollup already produced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts_raster_spark.operators.rollup import tier_seconds

SENTINEL = -9999.0  # reference missing-value contract, calculate.py:66


def scaffold(points: DataFrame, tier: str) -> DataFrame:
    """Dense per-(conv_id, kind) bucket grid spanning each series' extent.

    Input: rollup points ``(conv_id, kind, bucket_start, value)``.
    Output: one row per grid bucket with ``value`` null where no
    observation landed (plus ``_observed`` flag).

    Shape: each observed point emits itself plus every missing bucket
    since the previous observed point (lag window + sequence explode) —
    ONE exchange on (conv_id, kind) and zero joins.  A spans-groupBy +
    dense-grid LEFT JOIN would plan the ``points`` subtree twice (spans
    branch + join branch) and shuffle three times for the same output
    row multiset: consecutive-pair gap generation covers exactly the
    min..max span, observed buckets keep their row (non-key columns null
    on gap rows, ``_observed`` false there and for observed-but-null
    values).
    """
    step = tier_seconds(tier)
    w = Window.partitionBy("conv_id", "kind").orderBy("bucket_start")
    other = [c for c in points.columns if c not in ("conv_id", "kind", "bucket_start")]
    prev = F.lag("bucket_start").over(w)
    # duplicate-bucket guard: a row whose predecessor holds the same
    # bucket emits only itself (start == stop), like the old join shape
    start = F.when(
        F.col("_prev") < F.col("bucket_start"),
        F.col("_prev") + F.expr(f"INTERVAL {step} SECONDS"),
    ).otherwise(F.col("bucket_start"))
    d = (
        points.withColumn("_prev", prev)
        .withColumn(
            "_b",
            F.explode(
                F.sequence(start, F.col("bucket_start"), F.expr(f"INTERVAL {step} SECONDS"))
            ),
        )
    )
    is_obs_row = F.col("_b") == F.col("bucket_start")
    return d.select(
        "conv_id",
        "kind",
        F.col("_b").alias("bucket_start"),
        *[F.when(is_obs_row, F.col(c)).alias(c) for c in other],
        (is_obs_row & F.col("value").isNotNull()).alias("_observed"),
    )


def fill_locf(dense: DataFrame) -> DataFrame:
    w = (
        Window.partitionBy("conv_id", "kind")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.withColumn("value", F.last(F.col("value"), ignorenulls=True).over(w))


def fill_sentinel(dense: DataFrame) -> DataFrame:
    """Reference-parity fill: missing buckets become -9999 (prep.py:502)."""
    return dense.withColumn("value", F.coalesce(F.col("value"), F.lit(SENTINEL)))


def fill_linear(dense: DataFrame) -> DataFrame:
    """Linear interpolation between bracketing observed buckets.

    For a gap bucket at time t with previous observed (t0, v0) and next
    observed (t1, v1): v = v0 + (v1 - v0) * (t - t0) / (t1 - t0).
    Head/tail buckets with only one bracket fall back to that bracket
    (locf forward / nocb backward), matching pandas
    ``interpolate(limit_direction='both')``.
    """
    wb = (
        Window.partitionBy("conv_id", "kind")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("conv_id", "kind")
        .orderBy("bucket_start")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    from ts_raster_spark.operators.longform import epoch_seconds

    v = F.col("value")
    t = epoch_seconds(F.col("bucket_start"))
    obs_t = F.when(v.isNotNull(), t)
    d = (
        dense.withColumn("_pv", F.last(v, ignorenulls=True).over(wb))
        .withColumn("_pt", F.last(obs_t, ignorenulls=True).over(wb))
        .withColumn("_nv", F.first(v, ignorenulls=True).over(wf))
        .withColumn("_nt", F.first(obs_t, ignorenulls=True).over(wf))
    )
    interp = F.col("_pv") + (F.col("_nv") - F.col("_pv")) * (t - F.col("_pt")) / (
        F.col("_nt") - F.col("_pt")
    )
    filled = (
        F.when(v.isNotNull(), v)
        .when(F.col("_pv").isNull(), F.col("_nv"))
        .when(F.col("_nv").isNull(), F.col("_pv"))
        .otherwise(interp)
    )
    return d.withColumn("value", filled).drop("_pv", "_pt", "_nv", "_nt")


def gapfill(points: DataFrame, tier: str, policy: str = "locf") -> DataFrame:
    fills = {"locf": fill_locf, "linear": fill_linear, "sentinel": fill_sentinel}
    if policy not in fills:
        raise ValueError(f"unknown gap-fill policy {policy!r}; want one of {sorted(fills)}")
    return fills[policy](scaffold(points, tier))
