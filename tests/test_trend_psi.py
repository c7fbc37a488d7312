"""NumPy third-implementation oracles for Mann-Kendall and PSI drift."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ts_raster_spark.operators.sketch import histogram_sketch, psi_drift, value_range
from ts_raster_spark.operators.trend import mann_kendall


def _mk_ref(x: np.ndarray):
    n = len(x)
    s = sum(
        np.sign(x[j] - x[i]) for i in range(n) for j in range(i + 1, n)
    )
    _, t = np.unique(x, return_counts=True)
    var = (n * (n - 1) * (2 * n + 5) - (t * (t - 1) * (2 * t + 5)).sum()) / 18.0
    z = None
    if var > 0:
        z = (s - np.sign(s)) / np.sqrt(var)
    return int(s), float(var), z


@pytest.fixture(scope="module")
def mk_input(spark):
    rng = np.random.default_rng(23)
    rows = []
    series = {
        "up": np.arange(40) * 1.0 + rng.normal(0, 2, 40).round(2),
        "down": -np.arange(40) * 0.8 + rng.normal(0, 2, 40).round(2),
        "noise": rng.normal(0, 5, 60).round(2),
        "const": np.full(12, 4.0),
        "single": np.array([1.0]),
        "tied": np.array([1.0, 2.0, 2.0, 2.0, 3.0, 1.0, 2.0]),
    }
    for name, vals in series.items():
        rows += [(name, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    return df, series


def test_mann_kendall_matches_numpy(mk_input):
    df, series = mk_input
    got = mann_kendall(df).toPandas().set_index("conv_id")
    for name, vals in series.items():
        s, var, z = _mk_ref(vals)
        row = got.loc[name]
        assert row["n"] == len(vals)
        assert row["s_stat"] == s, name
        assert abs(row["var_s"] - var) < 1e-9, name
        if z is None:
            assert pd.isna(row["z"])
        else:
            assert abs(row["z"] - z) < 1e-9, name


def test_mann_kendall_trend_labels(mk_input):
    df, _ = mk_input
    got = mann_kendall(df).toPandas().set_index("conv_id")["trend"]
    assert got["up"] == "increasing"
    assert got["down"] == "decreasing"
    assert got["const"] == "no_trend"   # var == 0
    assert got["single"] == "no_trend"  # n == 1, no pairs
    assert got["noise"] == "no_trend"


def _psi_ref(curr: np.ndarray, prev: np.ndarray, lo, hi, bins=64, eps=0.5):
    def counts(v):
        if hi > lo:
            b = np.minimum(((v - lo) / ((hi - lo) / bins)).astype(int), bins - 1)
        else:
            b = np.zeros(len(v), dtype=int)
        return np.bincount(b, minlength=bins)
    c, p = counts(curr), counts(prev)
    cp = (c + eps) / (c.sum() + eps * bins)
    pp = (p + eps) / (p.sum() + eps * bins)
    return float(((cp - pp) * np.log(cp / pp)).sum())


def test_psi_drift_matches_numpy(spark):
    rng = np.random.default_rng(5)
    # sample sizes >> bins: PSI's small-sample bias is ~2*bins/n, so
    # ~5k samples keeps the same-distribution day under the 0.1 rule
    days = {
        1: rng.normal(100, 10, 5000),
        2: rng.normal(100, 10, 4000),  # same distribution -> small PSI
        3: rng.normal(140, 10, 4500),  # shifted -> large PSI
    }
    rows = [
        ("c0", i, pd.Timestamp(2024, 3, d, 12).to_pydatetime(), "v",
         float(round(v, 3)))
        for d, vals in days.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, kind string, value double"
    )
    rng_df = value_range(df)
    sk = histogram_sketch(df, "day", rng_df, bins=64)
    got = (
        psi_drift(sk, bins=64)
        .toPandas()
        .sort_values("bucket_start")
        .reset_index(drop=True)
    )
    allv = np.concatenate(list(days.values()))
    allv = np.round(allv, 3)
    lo, hi = allv.min(), allv.max()
    d = {k: np.round(v, 3) for k, v in days.items()}
    exp12 = _psi_ref(d[2], d[1], lo, hi)
    exp23 = _psi_ref(d[3], d[2], lo, hi)
    assert len(got) == 2
    assert abs(got.loc[0, "psi"] - exp12) < 1e-9
    assert abs(got.loc[1, "psi"] - exp23) < 1e-9
    assert got.loc[0, "n_curr"] == 4000 and got.loc[0, "n_prev"] == 5000
    # same-distribution day is stable, shifted day is a major shift
    assert got.loc[0, "psi"] < 0.1 < 0.25 < got.loc[1, "psi"]


def test_psi_drift_merges_entities(spark):
    # two conversations on each day: PSI must pool them (corpus-level)
    rows = []
    for d in (1, 2):
        for cid in ("a", "b"):
            for i in range(50):
                rows.append(
                    (cid, i, pd.Timestamp(2024, 4, d, 6).to_pydatetime(),
                     "v", float(i % 10 + (5 if d == 2 and cid == "a" else 0)))
                )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, kind string, value double"
    )
    rng_df = value_range(df)
    sk = histogram_sketch(df, "day", rng_df, bins=64)
    got = psi_drift(sk).toPandas()
    assert len(got) == 1
    assert got.loc[0, "n_curr"] == 100 and got.loc[0, "n_prev"] == 100
    assert got.loc[0, "psi"] > 0  # half the corpus shifted


def _holt_ref(x, a=0.3, g=0.1):
    l = x[0]
    b = (x[1] - x[0]) if len(x) > 1 else 0.0
    out = [(l, b, l)]
    for t in range(1, len(x)):
        fit = l + b
        l_new = a * x[t] + (1.0 - a) * (l + b)
        b = g * (l_new - l) + (1.0 - g) * b
        l = l_new
        out.append((l, b, fit))
    return out


def test_holt_matches_reference_recursion(spark):
    from ts_raster_spark.operators.holt import holt_smooth

    rng = np.random.default_rng(31)
    rows = []
    series = {
        "rand": rng.normal(10, 3, 80).round(3),
        "line": 5.0 + 0.7 * np.arange(50),
        "const": np.full(20, 9.0),
        "single": np.array([4.0]),
    }
    for name, vals in series.items():
        rows += [(name, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    got = holt_smooth(df).toPandas().sort_values(["conv_id", "turn_idx"])
    for name, vals in series.items():
        ref = _holt_ref(list(vals))
        sub = got[got["conv_id"] == name]
        np.testing.assert_allclose(sub["level"], [r[0] for r in ref], atol=1e-9)
        np.testing.assert_allclose(sub["trend"], [r[1] for r in ref], atol=1e-9)
        np.testing.assert_allclose(sub["fitted"], [r[2] for r in ref], atol=1e-9)
    # exactly-linear input: the smoother locks on — trend converges to
    # the slope and late fitted errors vanish
    line = got[got["conv_id"] == "line"]
    assert abs(line["trend"].iloc[-1] - 0.7) < 1e-6
    tail_err = (line["fitted"] - (5.0 + 0.7 * line["turn_idx"])).iloc[10:]
    assert tail_err.abs().max() < 1e-6
    # constant series: level stays at the constant, trend at zero
    const = got[got["conv_id"] == "const"]
    np.testing.assert_allclose(const["level"], 9.0, atol=1e-12)
    np.testing.assert_allclose(const["trend"], 0.0, atol=1e-12)


# --- Theil-Sen robust slope ------------------------------------------------

def _ts_ref(x: np.ndarray):
    n = len(x)
    if n < 2:
        return None, None
    slopes = [
        (x[j] - x[i]) / (j - i) for i in range(n) for j in range(i + 1, n)
    ]
    slope = float(np.median(slopes))
    inter = float(np.median(x - slope * np.arange(n)))
    return slope, inter


def test_theil_sen_matches_numpy(mk_input):
    from ts_raster_spark.operators.trend import theil_sen

    df, series = mk_input
    got = theil_sen(df).toPandas().set_index("conv_id")
    for name, vals in series.items():
        slope, inter = _ts_ref(np.asarray(vals, dtype=float))
        row = got.loc[name]
        assert row["n"] == len(vals)
        if slope is None:
            assert pd.isna(row["slope"]) and pd.isna(row["intercept"])
        else:
            assert row["slope"] == pytest.approx(slope, abs=1e-9), name
            assert row["intercept"] == pytest.approx(inter, abs=1e-9), name


def test_theil_sen_outlier_robust(spark):
    """One wild outlier must not move the slope (it moves OLS)."""
    from ts_raster_spark.operators.trend import theil_sen

    vals = [float(i) for i in range(30)]
    vals[17] = 1e6  # outlier
    rows = [("c", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    got = theil_sen(df).toPandas().iloc[0]
    assert got["slope"] == pytest.approx(1.0, abs=0.05)
