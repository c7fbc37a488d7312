from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.cascade import cascade_up
from ts_raster_spark.operators.gapfill import SENTINEL, gapfill
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.mask import mask_df, unmask_df
from ts_raster_spark.operators.rollup import rollup_simple


@pytest.fixture(scope="module")
def points(spark):
    rows = [
        # conv A: observed minutes 0, 3, 4 -> gaps at 1, 2
        ("A", "k", "2024-01-01 00:00:00", 10.0),
        ("A", "k", "2024-01-01 00:03:00", 40.0),
        ("A", "k", "2024-01-01 00:04:00", 20.0),
        # conv B: single point (degenerate grid)
        ("B", "k", "2024-01-01 09:30:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "conv_id string, kind string, b string, value double")
    return df.select("conv_id", "kind", F.col("b").cast("timestamp").alias("bucket_start"), "value")


def _by_bucket(pdf, conv):
    sub = pdf[pdf.conv_id == conv].sort_values("bucket_start")
    return list(sub["value"])


def test_gapfill_locf(points):
    out = gapfill(points, "minute", "locf").toPandas()
    assert _by_bucket(out, "A") == [10.0, 10.0, 10.0, 40.0, 20.0]
    assert _by_bucket(out, "B") == [7.0]


def test_gapfill_linear(points):
    out = gapfill(points, "minute", "linear").toPandas()
    assert _by_bucket(out, "A") == [10.0, 20.0, 30.0, 40.0, 20.0]


def test_gapfill_sentinel(points):
    out = gapfill(points, "minute", "sentinel").toPandas()
    assert _by_bucket(out, "A") == [10.0, SENTINEL, SENTINEL, 40.0, 20.0]


def test_mask_unmask_roundtrip(spark, turns_small):
    ids = [r[0] for r in turns_small.select("conv_id").distinct().collect()]
    keep = {cid: int(i % 2 == 0) for i, cid in enumerate(sorted(ids))}
    mask = spark.createDataFrame(list(keep.items()), "conv_id string, keep int")
    masked = mask_df(turns_small, mask)
    got_ids = {r[0] for r in masked.select("conv_id").distinct().collect()}
    assert got_ids == {c for c, k in keep.items() if k == 1}

    # unmask: re-expand per-conv counts onto the full domain with sentinel
    counts = masked.groupBy("conv_id").agg(F.count("*").cast("double").alias("n"))
    full = unmask_df(counts, turns_small, ["conv_id"], ["n"])
    pdf = full.toPandas().set_index("conv_id")["n"]
    assert set(pdf.index) == set(ids)
    for cid in ids:
        if keep[cid]:
            assert pdf[cid] > 0
        else:
            assert pdf[cid] == SENTINEL


def test_cascade_hour_equals_direct(spark, turns_small):
    """Tier algebra: hour tier from minute tier == hour tier from raw
    (SURVEY.md §5 item 7)."""
    long_df = to_long_panel(turns_small)
    minute = rollup_simple(long_df, "minute")
    via_cascade = cascade_up(minute, "hour").drop("mean", "variance")
    direct = rollup_simple(long_df, "hour").withColumnRenamed("sum_squares", "sum_squares")
    a = via_cascade.orderBy("conv_id", "kind", "bucket_start").toPandas()
    b = direct.orderBy("conv_id", "kind", "bucket_start").toPandas()
    b = b[a.columns]
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True), rtol=1e-12)


def test_cascade_day_mean_variance(spark, turns_small):
    long_df = to_long_panel(turns_small).where("kind = 'text_len'")
    minute = rollup_simple(long_df, "minute")
    day = cascade_up(cascade_up(minute, "hour"), "day").toPandas()
    raw = long_df.withColumn("bucket_start", F.date_trunc("day", F.col("ts"))).toPandas()
    for _, row in day.iterrows():
        sub = raw[(raw.conv_id == row.conv_id) & (raw.bucket_start == row.bucket_start)]["value"]
        assert row["mean"] == pytest.approx(sub.mean(), rel=1e-9)
        assert row["variance"] == pytest.approx(np.var(sub), rel=1e-6, abs=1e-9)


# Tier algebra of the flagship feature set: every feature the full rollup
# emits is classified here, and the test below asserts the classification
# is exhaustive so a new calculator cannot land unclassified.
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


def test_tier_algebra_classification_is_exhaustive(spark):
    """Every column the flagship rollup can emit (39 aggregate features
    + strike/trend/entropy extras + the kernel CWT peaks) must be
    classified as either cascaded-exact (sufficient statistics) or
    recompute-from-finest — a new calculator cannot land unclassified."""
    from ts_raster_spark.functions.features import feature_registry

    emitted = set(feature_registry(["default", "strikes", "trend", "entropy"])) | {
        "number_cwt_peaks_n6", "number_cwt_peaks_n12",
    }
    classified = ALGEBRAIC_FROM_SUFFICIENT_STATS | RECOMPUTE_FROM_FINEST
    assert emitted <= classified, emitted - classified
    assert not (ALGEBRAIC_FROM_SUFFICIENT_STATS & RECOMPUTE_FROM_FINEST)


def test_unknown_feature_name_raises(spark, turns_small):
    """A misspelt feature name fails loudly instead of silently dropping
    its column."""
    from ts_raster_spark.operators.rollup import rollup_features

    long_df = to_long_panel(turns_small).where(F.col("kind") == "text_len")
    with pytest.raises(ValueError, match=r"unknown feature names \['meen'\]"):
        rollup_features(long_df, tier="hour", feature_names=["mean", "meen"])
