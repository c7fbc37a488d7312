from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.sketch import (
    histogram_sketch,
    merge_sketch,
    sketch_quantiles,
    value_range,
)

BINS = 64


def test_sketch_merge_is_exact(spark, turns_small):
    """minute-sketch → merge to hour == hour-sketch built directly from
    raw (the mergeable-sketch contract: cascade loses nothing)."""
    long_df = to_long_panel(turns_small).where(F.col("kind") == "text_len")
    rng = value_range(long_df)
    via_minute = merge_sketch(histogram_sketch(long_df, "minute", rng, BINS), "hour")
    direct = histogram_sketch(long_df, "hour", rng, BINS)
    keys = ["conv_id", "kind", "bucket_start", "bin"]
    a = via_minute.orderBy(*keys).toPandas()
    b = direct.orderBy(*keys).toPandas()
    assert a.equals(b)


def test_sketch_quantile_error_bounded_by_bin_width(spark, turns_small):
    """|sketch quantile − exact quantile| ≤ one bin width, per group."""
    long_df = to_long_panel(turns_small).where(F.col("kind") == "text_len")
    rng = value_range(long_df)
    sk = histogram_sketch(long_df, None, rng, BINS)
    approx = (
        sketch_quantiles(sk, rng, bins=BINS)
        .toPandas()
        .set_index("conv_id")
    )
    r = rng.first()
    width = (r["_hi"] - r["_lo"]) / BINS

    series = (
        long_df.select("conv_id", "value").toPandas().groupby("conv_id")["value"]
    )
    checked = 0
    for conv, vals in series:
        x = np.sort(vals.to_numpy(dtype=np.float64))
        for q, col in ((0.5, "q50_sketch"), (0.95, "q95_sketch")):
            # inverted_cdf = the mass convention the sketch targets
            # (first value whose cumulative count reaches q·n); numpy's
            # default interpolates BETWEEN order statistics, which can
            # land outside any bin when samples are sparse.
            exact = np.quantile(x, q, method="inverted_cdf")
            got = float(approx.loc[conv, col])
            assert abs(got - exact) <= width + 1e-9, (conv, q, got, exact, width)
            checked += 1
    assert checked >= 50


def test_sketch_constant_kind_collapses_to_lo(spark, turns_small):
    """A constant channel (is_tool ∈ {0,1}? use a truly constant one):
    hi == lo → every quantile returns lo exactly."""
    long_df = (
        to_long_panel(turns_small)
        .where(F.col("kind") == "text_len")
        .withColumn("value", F.lit(7.0))
    )
    rng = value_range(long_df)
    sk = histogram_sketch(long_df, None, rng, BINS)
    out = sketch_quantiles(sk, rng, bins=BINS).toPandas()
    assert (out["q50_sketch"] == 7.0).all()
    assert (out["q95_sketch"] == 7.0).all()
