"""Every native feature aggregate vs the pandas/NumPy tsfresh oracle.

Mirrors the reference's per-calculator expectations
(tsraster/tests/calculateFeatures.py:9-19 exercises the named set;
README.md:105-118 documents the semantics) but *asserted*, which the
reference never does (its only unittest body is ``pass``,
tests/tests.py:7-12).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts_raster_spark.functions import oracle as ORC
from ts_raster_spark.functions import features as FT
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.rollup import rollup_features

# Edge-case series from FIXTURES.md F1: single turn, constant channel,
# plus generic seeded series.
SERIES = {
    "single": [5.0],
    "pair": [1.0, 4.0],
    "constant": [3.0] * 8,
    "ramp": list(range(10)),
    "seeded": list(np.random.RandomState(42).normal(10, 4, 37)),
    "spiky": [0.0, 0.0, 9.0, 0.0, 0.0, -7.0, 0.0, 30.0, 0.0],
}


@pytest.fixture(scope="module")
def wide(spark):
    rows = []
    for name, xs in SERIES.items():
        for i, v in enumerate(xs):
            rows.append(
                (name, i, (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=30 * i)).to_pydatetime(), "chan", float(v))
            )
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, kind string, value double")
    out = rollup_features(df, tier=None, include_strikes=True, include_trend=True, include_entropy=True)
    pdf = out.toPandas().set_index("conv_id")
    return pdf


# Oracle names the native rollup does not produce: only the Arrow kernel
# path computes them, and it evaluates ``ORACLES`` itself.
KERNEL_ONLY = {
    "fft_aggregated_centroid",
    "fft_aggregated_variance",
    "fft_aggregated_skew",
    "fft_aggregated_kurtosis",
    "lempel_ziv_complexity_b10",
    "sample_entropy",
    "permutation_entropy",
}


def test_native_rollup_covers_every_other_oracle(wide):
    """A new native calculator with an oracle cannot go unchecked: the
    oracles ``test_feature_matches_oracle`` leaves out are exactly the
    kernel-only ones."""
    assert set(ORC.ORACLES) - set(wide.columns) == KERNEL_ONLY


@pytest.mark.parametrize("feature", sorted(set(ORC.ORACLES) - KERNEL_ONLY))
@pytest.mark.parametrize("series", sorted(SERIES))
def test_feature_matches_oracle(wide, feature, series):
    got = wide.loc[series, feature]
    exp = ORC.ORACLES[feature](np.asarray(SERIES[series], dtype=float))
    if exp is None or (isinstance(exp, float) and math.isnan(exp)):
        assert got is None or (isinstance(got, float) and math.isnan(got)), (
            f"{feature}[{series}]: expected NaN/None, got {got}"
        )
        return
    assert got == pytest.approx(exp, rel=1e-9, abs=1e-9), f"{feature}[{series}]"


def test_long_panel_channels(spark, turns_small):
    long_df = to_long_panel(turns_small)
    kinds = {r[0] for r in long_df.select("kind").distinct().collect()}
    assert {"text_len", "latency_s", "is_tool", "role_user", "role_assistant"} <= kinds
    # latency channel has n-1 rows per conversation
    tc = turns_small.groupBy("conv_id").count().toPandas().set_index("conv_id")["count"]
    lc = (
        long_df.where("kind = 'latency_s'")
        .groupBy("conv_id")
        .count()
        .toPandas()
        .set_index("conv_id")["count"]
    )
    for cid, n in tc.items():
        got = int(lc.get(cid, 0))
        assert got == max(int(n) - 1, 0), cid


def test_ordering_invariant(spark, turns_small):
    """Per-turn text equality under stable (turn_idx, ts) ordering after
    a shuffle (the prep.py:136 stable-sort contract recast)."""
    shuffled = turns_small.repartition(13, "text")
    a = (
        turns_small.orderBy("conv_id", "turn_idx", "ts")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    b = (
        shuffled.orderBy("conv_id", "turn_idx", "ts")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


# Exact rank-sum quantiles vs Spark's built-in percentile(): every q the
# engine uses (plus the endpoints), on the group shapes where the
# interpolation arithmetic has edge cases.
QUANTILE_QS = (0, 0.05, 0.15, 0.25, 0.5, 0.75, 0.85, 0.95, 1)
QUANTILE_GROUPS = {
    "ties": [3.0, 1.0, 3.0, 3.0, 2.0, 1.0, 3.0],
    "interior_nulls": [4.0, None, 1.0, None, 9.0, 2.5],
    "one_row": [7.25],
    "two_rows": [-1.5, 10.0],
    "only_nulls": [None, None, None],
    "seeded": [float(v) for v in np.round(np.random.RandomState(7).normal(0, 3, 41), 1)],
}


@pytest.fixture(scope="module")
def quantile_groups(spark):
    rows = [(g, i, v) for g, xs in QUANTILE_GROUPS.items() for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, i int, value double")
    return FT.attach_value_rank(df, ["g"])


def _assert_same_quantiles(rows, label):
    assert len(rows) == len(QUANTILE_GROUPS)
    for row in rows:
        for j, q in enumerate(QUANTILE_QS):
            got, want = row[f"rank_{j}"], row[f"pct_{j}"]
            assert got == want, f"{label} q={q} group={row['g']}: rank-sum {got!r} vs percentile {want!r}"


def test_rank_quantile_agg_equals_percentile(quantile_groups):
    aggs = []
    for j, q in enumerate(QUANTILE_QS):
        aggs += [
            FT.rank_quantile_agg(q).alias(f"rank_{j}"),
            F.expr(f"percentile(value, {q})").alias(f"pct_{j}"),
        ]
    rows = quantile_groups.groupBy("g").agg(*aggs).collect()
    _assert_same_quantiles(rows, "aggregate")
    only_nulls = next(r for r in rows if r["g"] == "only_nulls")
    assert all(only_nulls[f"rank_{j}"] is None for j in range(len(QUANTILE_QS)))


def test_rank_quantile_window_equals_percentile(quantile_groups):
    w = Window.partitionBy("g")
    cols = []
    for j, q in enumerate(QUANTILE_QS):
        cols += [
            FT.rank_quantile_window(q, ["g"]).alias(f"rank_{j}"),
            F.expr(f"percentile(value, {q})").over(w).alias(f"pct_{j}"),
        ]
    rows = quantile_groups.select("g", *cols).dropDuplicates(["g"]).collect()
    _assert_same_quantiles(rows, "window")
