"""Retention cascade: coarser tiers re-aggregated from finer tiers.

Reference analog: ``combine_extracted_features`` merges per-period
feature folders into one table (tsraster/prep.py:553-611). Here the
merge is algebraic: minute → hour → day, where each coarser bucket is
derived from the finer tier's sufficient statistics instead of rescanning
raw turns — the core economy of a retention engine at 100 TB (the day
tier reads ~1/60² of the raw bytes).

Algebraic features (sum, count, min, max, energy; mean/variance via
sum, sum², count) re-aggregate exactly. Holistic features (median,
quantiles, strikes, cwt peaks) cannot — recompute those from the finest
retained tier or raw (SURVEY.md §2.5, hard part (d)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FINER_OF = {"hour": "minute", "day": "hour"}

# --- tier algebra of the flagship feature set ------------------------------
# Every feature the full rollup emits is classified here; the pytest tier-
# algebra suite asserts the classification is exhaustive so a new
# calculator cannot land unclassified.
#
# ALGEBRAIC_FROM_SUFFICIENT_STATS: exactly derivable from the cascade's
# (count, sum, sum², min, max) — a coarser tier needs only the finer
# tier's stats, never raw data.
ALGEBRAIC_FROM_SUFFICIENT_STATS = frozenset({
    "turn_count", "mean", "maximum", "minimum", "sum_values",
    "variance", "standard_deviation", "abs_energy", "root_mean_square",
    "variation_coefficient", "large_standard_deviation_r25",
})
# RECOMPUTE_FROM_FINEST: holistic (median/quantiles: rank-based),
# order-sensitive (lags, locations, peaks, crossings, strikes, trend,
# energy chunks, CWT), or mean-anchored (count above/below mean, ratio
# beyond r·σ, binned entropy) — the cascade recomputes these from the
# finest retained tier or raw, mirroring the holistic-quantile rule.
# benford_correlation is *mergeable* via a 9-digit-count sketch (the
# sketch-cascade pattern in operators/sketch.py) but the sufficient-stat
# cascade does not carry those counts, so it recomputes too.
RECOMPUTE_FROM_FINEST = frozenset({
    "median", "quantile_q05", "quantile_q15", "quantile_q85", "quantile_q95",
    "skewness", "kurtosis",  # algebraic only with sum³/sum⁴, not carried
    "count_above_mean", "count_below_mean",
    "ratio_beyond_r_sigma_r2", "ratio_beyond_r_sigma_r3",
    "mean_change", "mean_abs_change", "mean_second_derivative_central",
    "absolute_sum_of_changes", "cid_ce", "c3_lag1",
    "time_reversal_asymmetry_lag1", "autocorrelation_lag1",
    "last_location_of_maximum", "first_location_of_maximum",
    "last_location_of_minimum", "first_location_of_minimum",
    "number_peaks_n1", "number_peaks_n3", "number_crossing_0",
    "benford_correlation", "energy_ratio_chunk0_of10",
    "longest_strike_above_mean", "longest_strike_below_mean",
    "agg_linear_trend_slope_max_chunk3", "binned_entropy_10",
    "number_cwt_peaks_n6", "number_cwt_peaks_n12",
})


def cascade_up(finer: DataFrame, to_tier: str) -> DataFrame:
    """Re-aggregate a ``rollup_simple`` tier table one level coarser.

    Input schema: (conv_id, kind, bucket_start, turn_count, sum_values,
    sum_squares, minimum, maximum). Output: same schema at ``to_tier``
    buckets, plus derived ``mean``/``variance`` columns (exact — mean =
    Σsum/Σn, var_pop = Σsum²/Σn − mean²).
    """
    if to_tier not in _FINER_OF:
        raise ValueError(f"cascade target must be hour|day, got {to_tier!r}")
    keys = ["conv_id", "kind"]
    out = (
        finer.withColumn("bucket_start", F.date_trunc(to_tier, F.col("bucket_start")))
        .groupBy(*keys, "bucket_start")
        .agg(
            F.sum("turn_count").cast("long").alias("turn_count"),
            F.sum("sum_values").alias("sum_values"),
            F.sum("sum_squares").alias("sum_squares"),
            F.min("minimum").alias("minimum"),
            F.max("maximum").alias("maximum"),
        )
    )
    mean = F.col("sum_values") / F.col("turn_count")
    return out.withColumn("mean", mean).withColumn(
        "variance", F.col("sum_squares") / F.col("turn_count") - mean * mean
    )
