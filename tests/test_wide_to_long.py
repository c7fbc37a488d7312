from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.functions import oracle as ORC
from ts_raster_spark.functions.features import attach_group_stats, autocorrelation_agg
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.ml_prep import combine_periods, wide_to_long


def test_wide_to_long_roundtrips_combine_periods(spark, turns_small):
    """combine_periods → wide_to_long is the reference's
    wide_to_long_target_features inverse pair (prep.py:553-611,663-695):
    every (conv, period) row carries the original per-period values."""
    cutoff = turns_small.agg(F.expr("percentile(unix_timestamp(ts), 0.5)")).first()[0]
    halves = {
        "p1": turns_small.where(F.unix_timestamp("ts") < cutoff),
        "p2": turns_small.where(F.unix_timestamp("ts") >= cutoff),
    }
    frames = {
        label: df.groupBy("conv_id").agg(
            F.count("*").cast("long").alias("turn_count"),
            F.avg(F.length("text")).alias("mean_text_len"),
        )
        for label, df in halves.items()
    }
    wide = combine_periods(frames, ["conv_id"])
    long = wide_to_long(wide, keys=["conv_id"])

    assert set(long.columns) == {"conv_id", "period", "turn_count", "mean_text_len"}
    n_convs = wide.count()
    assert long.count() == 2 * n_convs

    got = long.where(F.col("period") == "p1").select("conv_id", "turn_count", "mean_text_len")
    ref = frames["p1"]
    joined = got.alias("g").join(ref.alias("r"), "conv_id", "full_outer")
    mism = joined.where(
        ~(
            (F.col("g.turn_count").eqNullSafe(F.col("r.turn_count")))
            & (F.col("g.mean_text_len").eqNullSafe(F.col("r.mean_text_len")))
        )
    )
    assert mism.count() == 0


def test_wide_to_long_no_shuffle(spark, turns_small):
    """The melt is a union of narrow projections — its plan must contain
    no Exchange beyond what the wide input itself already needs."""
    wide = spark.createDataFrame(
        [("c1", 1, 2.0, 3, 4.0)],
        "conv_id string, a_p1 int, b_p1 double, a_p2 int, b_p2 double",
    )
    long = wide_to_long(wide, keys=["conv_id"])
    plan = long._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_wide_to_long_rejects_unsuffixed(spark):
    wide = spark.createDataFrame([("c", 1)], "conv_id string, plain int")
    with pytest.raises(ValueError, match="period"):
        wide_to_long(wide, keys=["conv_id"])


def test_autocorrelation_arbitrary_lag_matches_numpy(spark, turns_small):
    """autocorrelation(lag) for lag 2 and 3 equals the tsfresh estimator
    computed by the independent NumPy oracle per conversation."""
    long_df = to_long_panel(turns_small).where(F.col("kind") == "text_len")
    keys = ["conv_id", "kind"]
    st = attach_group_stats(long_df, keys, lags=(1, 2, 3))
    aggs = {}
    for lag in (1, 2, 3):
        aggs.update(autocorrelation_agg(lag))
    got = (
        st.groupBy(*keys)
        .agg(*[v.alias(k) for k, v in aggs.items()])
        .toPandas()
        .set_index("conv_id")
    )
    series = (
        long_df.orderBy("conv_id", "turn_idx", "ts")
        .select("conv_id", "value")
        .toPandas()
        .groupby("conv_id")["value"]
    )
    checked = 0
    for conv, vals in series:
        x = vals.to_numpy(dtype=np.float64)
        for lag in (1, 2, 3):
            want = ORC.autocorrelation(x, lag)
            have = got.loc[conv, f"autocorrelation_lag{lag}"]
            if np.isnan(want):
                assert have is None or np.isnan(have), (conv, lag)
            else:
                assert float(have) == pytest.approx(float(want), rel=1e-9, abs=1e-12), (conv, lag)
                checked += 1
    assert checked > 0
