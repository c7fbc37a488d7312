"""Third-implementation (NumPy) oracles for the monitoring operators:
CUSUM changepoints, seasonal climatology baseline, pairwise Pearson.
The DuckDB twins in __spark_entry__ prove cross-engine equality; these
prove both engines implement the intended math."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.changepoint import cusum
from ts_raster_spark.operators.correlate import pairwise_corr
from ts_raster_spark.operators.seasonal import seasonal_baseline


def _cusum_ref(x: np.ndarray, k: float, h: float):
    """Textbook recursion — the sequential definition the window-SQL
    prefix identity must reproduce."""
    mu, sig = x.mean(), x.std()
    sp = sn = 0.0
    out = []
    for v in x:
        sp = max(0.0, sp + (v - mu - k * sig))
        sn = max(0.0, sn + (mu - v - k * sig))
        out.append(
            (sp, sn, int(sig > 0 and round(sp / sig - h, 9) > 0),
             int(sig > 0 and round(sn / sig - h, 9) > 0))
        )
    return out


@pytest.fixture(scope="module")
def cusum_input(spark):
    rng = np.random.default_rng(11)
    rows = []
    # e0: deterministic-size series with an injected mean shift at the
    # midpoint (the detection assertions key on it)
    shift = rng.normal(50, 5, 80)
    shift[40:] += 25.0
    rows += [("e0", i, float(round(v, 3))) for i, v in enumerate(shift)]
    for e in range(1, 6):
        n = int(rng.integers(5, 120))
        base = rng.normal(50, 5, n)
        rows += [("e%d" % e, i, float(round(v, 3))) for i, v in enumerate(base)]
    # one constant series: sigma == 0 must stay all-zero / never alarm
    rows += [("const", i, 7.0) for i in range(10)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")


def test_cusum_matches_sequential_recursion(cusum_input):
    got = (
        cusum(cusum_input, "value", ("conv_id",), "turn_idx")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
    )
    pdf = cusum_input.toPandas().sort_values(["conv_id", "turn_idx"])
    for cid, grp in pdf.groupby("conv_id"):
        ref = _cusum_ref(grp["value"].to_numpy(), 0.5, 4.0)
        sub = got[got["conv_id"] == cid]
        np.testing.assert_allclose(
            sub["cusum_pos"].to_numpy(), [r[0] for r in ref], atol=1e-8
        )
        np.testing.assert_allclose(
            sub["cusum_neg"].to_numpy(), [r[1] for r in ref], atol=1e-8
        )
        assert sub["alarm_pos"].tolist() == [r[2] for r in ref]
        assert sub["alarm_neg"].tolist() == [r[3] for r in ref]


def test_cusum_shift_detected_and_clamped(cusum_input):
    got = (
        cusum(cusum_input, "value", ("conv_id",), "turn_idx")
        .toPandas()
    )
    # scores are never negative (the max(0, .) clamp)
    assert (got["cusum_pos"] >= -1e-12).all()
    assert (got["cusum_neg"] >= -1e-12).all()
    # the injected upward shift in e0 alarms on the positive side
    e0 = got[got["conv_id"] == "e0"].sort_values("turn_idx")
    assert e0["alarm_pos"].iloc[45:].any()
    assert not e0["alarm_pos"].iloc[:40].any()
    # constant series: zero scores, no alarms
    c = got[got["conv_id"] == "const"]
    assert (c[["cusum_pos", "cusum_neg", "alarm_pos", "alarm_neg"]] == 0).all().all()


def test_seasonal_baseline_profile(spark):
    # 10 days x 24 hours; value = 100 + 10*hod + noise keyed by day
    rows = []
    for d in range(10):
        for hh in range(24):
            rows.append(
                (pd.Timestamp(2024, 1, 1 + d, hh).to_pydatetime(),
                 float(100 + 10 * hh + (d % 3)))
            )
    df = spark.createDataFrame(rows, "bucket_start timestamp, v double")
    got = seasonal_baseline(df, "v", period="hod").toPandas()
    pdf = pd.DataFrame(rows, columns=["bucket_start", "v"])
    pdf["pkey"] = pd.to_datetime(pdf["bucket_start"]).dt.hour
    prof = pdf.groupby("pkey")["v"].agg(["mean", lambda s: s.std(ddof=0)])
    prof.columns = ["m", "s"]
    merged = got.merge(prof, left_on="pkey", right_index=True)
    np.testing.assert_allclose(merged["season_mean"], merged["m"], atol=1e-9)
    np.testing.assert_allclose(merged["season_sig"], merged["s"], atol=1e-9)
    np.testing.assert_allclose(
        merged["resid"], merged["v"] - merged["m"], atol=1e-9
    )
    ok = merged["s"] > 0
    np.testing.assert_allclose(
        merged.loc[ok, "resid_z"],
        (merged.loc[ok, "v"] - merged.loc[ok, "m"]) / merged.loc[ok, "s"],
        atol=1e-9,
    )


def test_seasonal_dow_matches_duckdb_convention(spark):
    # Spark dayofweek-1 must equal DuckDB/Postgres dow (0=Sunday)
    df = spark.createDataFrame(
        [(pd.Timestamp(2024, 1, 7).to_pydatetime(), 1.0),  # a Sunday
         (pd.Timestamp(2024, 1, 8).to_pydatetime(), 1.0)],  # a Monday
        "bucket_start timestamp, v double",
    )
    got = (
        seasonal_baseline(df, "v", period="dow")
        .select("bucket_start", "pkey").toPandas().sort_values("bucket_start")
    )
    assert got["pkey"].tolist() == [0, 1]


def test_pairwise_corr_matches_numpy(spark):
    rng = np.random.default_rng(3)
    t = np.arange(50)
    series = {
        "up": t * 1.0 + rng.normal(0, 1, 50).round(3),
        "down": -t * 1.0 + rng.normal(0, 1, 50).round(3),
        "noise": rng.normal(0, 5, 50).round(3),
        "flat": np.full(50, 3.0),  # constant: corr must be NULL
    }
    rows = [
        (int(i), name, float(v))
        for name, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "t int, series string, v double")
    got = (
        pairwise_corr(df, "t", "series", "v")
        .toPandas()
        .set_index(["series_a", "series_b"])
    )
    assert len(got) == 6 and (got["n_buckets"] == 50).all()
    for (a, b), row in got.iterrows():
        if a == "flat" or b == "flat":
            assert pd.isna(row["corr"])
        else:
            exp = np.corrcoef(series[a], series[b])[0, 1]
            assert abs(row["corr"] - exp) < 1e-9
    # strong signs where designed
    assert got.loc[("down", "up"), "corr"] < -0.99


def test_pairwise_corr_min_buckets(spark):
    df = spark.createDataFrame(
        [(0, "a", 1.0), (1, "a", 2.0), (0, "b", 1.0), (1, "b", 3.0), (5, "c", 9.0)],
        "t int, series string, v double",
    )
    got = pairwise_corr(df, "t", "series", "v").toPandas()
    # c co-observed with nothing: only the (a, b) pair survives
    assert got[["series_a", "series_b"]].values.tolist() == [["a", "b"]]


def test_cross_corr_detects_lead(spark):
    from ts_raster_spark.operators.correlate import cross_corr_lags

    rng = np.random.default_rng(9)
    base = rng.normal(0, 1, 60).round(3)
    t0 = pd.Timestamp(2024, 5, 1)
    rows = []
    for i in range(60):
        ts = (t0 + pd.Timedelta(hours=i)).to_pydatetime()
        rows.append((ts, "a", float(base[i])))
        # b repeats a's value 2 hours LATER: a leads b by 2
        if i >= 2:
            rows.append((ts, "b", float(base[i - 2])))
        else:
            rows.append((ts, "b", float(rng.normal(0, 1))))
    df = spark.createDataFrame(rows, "bucket_start timestamp, series string, v double")
    got = (
        cross_corr_lags(df, "bucket_start", "series", "v")
        .toPandas()
        .set_index("lag")
    )
    assert len(got) == 5
    best = got["corr"].idxmax()
    assert best == 2 and got.loc[2, "corr"] > 0.95
    assert got.loc[0, "corr"] < 0.5
    # NumPy cross-check at the peak lag
    a_al = base[:-2]
    b_al = base[:-2]  # b at t+2 equals a at t
    exp = np.corrcoef(a_al, b_al)[0, 1]
    assert abs(got.loc[2, "corr"] - exp) < 0.05  # edge rows differ


def test_classical_decompose_reconstructs_and_recovers_season(spark):
    from ts_raster_spark.operators.seasonal import classical_decompose

    # 20 days of hourly data: linear trend + clean 24h seasonality
    t0 = pd.Timestamp(2024, 6, 1)
    season = {h: 30 * np.sin(2 * np.pi * h / 24) for h in range(24)}
    rows = []
    for i in range(20 * 24):
        ts = (t0 + pd.Timedelta(hours=i)).to_pydatetime()
        v = 1000 + 0.5 * i + season[i % 24]
        rows.append((ts, float(round(v, 4))))
    df = spark.createDataFrame(rows, "bucket_start timestamp, v double")
    got = (
        classical_decompose(df, "v")
        .toPandas()
        .sort_values("bucket_start")
        .reset_index(drop=True)
    )
    # exact reconstruction everywhere (including edges)
    np.testing.assert_allclose(
        got["trend"] + got["seasonal"] + got["resid"], got["v"], atol=1e-9
    )
    # interior rows: trend tracks the line, seasonal tracks the sine,
    # residual is near zero (a 25-point centered MA over period-24
    # seasonality leaves a small leakage term — tolerance 2.0)
    mid = got.iloc[50:-50]
    np.testing.assert_allclose(
        mid["trend"], 1000 + 0.5 * mid.index.to_numpy(), atol=2.0
    )
    hod = pd.to_datetime(mid["bucket_start"]).dt.hour.map(season)
    np.testing.assert_allclose(mid["seasonal"], hod, atol=2.0)
    assert mid["resid"].abs().max() < 3.0
