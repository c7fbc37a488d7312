from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.functions.cwt import number_cwt_peaks
from ts_raster_spark.operators.kernels import _feature_row, extract_features_kernel
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
    kern = extract_features_kernel(long_df).toPandas().set_index("conv_id")
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


def test_kernel_computes_only_requested_features(spark, turns_small, monkeypatch):
    """A feature list narrows the kernel's output to those columns, with
    the values the full vector holds, and no other calculator runs."""
    from ts_raster_spark.functions import oracle as ORC

    long_df = to_long_panel(turns_small).where(F.col("kind") == "text_len")
    wanted = ["turn_count", "abs_energy", "number_cwt_peaks_n12", "longest_strike_above_mean"]
    full = extract_features_kernel(long_df).select("conv_id", "kind", *wanted)
    assert sorted(full.collect()) == sorted(extract_features_kernel(long_df, features=wanted).collect())
    assert extract_features_kernel(long_df, features=wanted).columns == ["conv_id", "kind", *wanted]

    called = []

    def recording(name, fn):
        return lambda x: called.append(name) or fn(x)

    monkeypatch.setattr(ORC, "ORACLES", {k: recording(k, v) for k, v in ORC.ORACLES.items()})
    got = _feature_row(["conv_id"], ["c"], np.arange(5, dtype=float), wanted)
    assert set(got) == {"conv_id", *wanted}
    assert sorted(called) == sorted(f for f in wanted if f in ORC.ORACLES)
    with pytest.raises(ValueError, match="unknown kernel features"):
        extract_features_kernel(long_df, features=["mean", "no_such_feature"])
