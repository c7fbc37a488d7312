from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.functions.cwt import number_cwt_peaks
from ts_raster_spark.operators.kernels import extract_features_kernel
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.rollup import rollup_features


def test_cwt_periodic_signal_counts_peaks():
    x = np.sin(np.linspace(0, 6 * np.pi, 120)) * 5
    n = number_cwt_peaks(x, 6)
    assert 2 <= n <= 4, n  # three humps


def test_cwt_flat_and_tiny():
    assert number_cwt_peaks(np.zeros(50), 6) == 0
    assert number_cwt_peaks(np.array([1.0]), 6) == 0
    assert number_cwt_peaks(np.array([1.0, 2.0]), 12) == 0


def test_cwt_single_spike():
    x = np.zeros(100)
    x[50] = 10.0
    assert number_cwt_peaks(x, 6) == 1


def test_cwt_deterministic():
    x = np.random.RandomState(3).normal(0, 1, 200)
    assert number_cwt_peaks(x, 12) == number_cwt_peaks(x.copy(), 12)


def test_kernel_matches_native_rollup(spark, turns_small):
    long_df = to_long_panel(turns_small).where(F.col("kind") == "text_len")
    kern = extract_features_kernel(long_df, tier=None).toPandas().set_index("conv_id")
    native = (
        rollup_features(long_df, tier=None, include_strikes=True, include_trend=True)
        .toPandas()
        .set_index("conv_id")
    )
    shared = [c for c in native.columns if c in kern.columns and c != "kind"]
    assert len(shared) > 25
    for conv in native.index:
        for c in shared:
            a, b = kern.loc[conv, c], native.loc[conv, c]
            if (a is None or (isinstance(a, float) and math.isnan(a))) and (
                b is None or (isinstance(b, float) and math.isnan(b))
            ):
                continue
            assert float(a) == pytest.approx(float(b), rel=1e-9, abs=1e-9), (conv, c)
