"""Extended calculators (functions/features_ext.py) vs independent NumPy
reference implementations — a third implementation, not the DuckDB twin,
so a shared-mistake in the SQL mirror cannot mask an engine bug."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ts_raster_spark.functions.features_ext import rollup_ext_features


def np_ext_features(x: np.ndarray) -> dict[str, float]:
    """Reference formulas straight from the tsfresh definitions.  A NaN
    stands for a null value: the duplicate/reoccurrence family groups
    nulls as one value and its extrema and sums skip them."""
    n = len(x)
    out: dict[str, float] = {}
    vals, counts = np.unique(x, return_counts=True, equal_nan=True)
    reoc = vals[counts > 1]
    out["has_duplicate"] = float(n != len(vals))
    out["has_duplicate_max"] = float(np.sum(x == np.nanmax(x)) > 1)
    out["has_duplicate_min"] = float(np.sum(x == np.nanmin(x)) > 1)
    out["percentage_of_reoccurring_datapoints_to_all_datapoints"] = (
        float(np.sum(counts[counts > 1])) / n
    )
    out["percentage_of_reoccurring_values_to_all_values"] = len(reoc) / len(vals)
    out["sum_of_reoccurring_values"] = float(np.nansum(reoc))
    out["sum_of_reoccurring_data_points"] = float(np.nansum(reoc * counts[counts > 1]))
    out["value_count_0"] = float(np.sum(x == 0))
    out["range_count_m1_1"] = float(np.sum((x >= -1) & (x < 1)))
    out["mean_n_absolute_max_3"] = (
        float(np.mean(np.sort(np.abs(x))[-3:])) if n > 3 else np.nan
    )
    out["symmetry_looking_r25"] = float(
        abs(np.mean(x) - np.quantile(x, 0.5)) < 0.25 * (x.max() - x.min())
    )
    s = np.abs(x).sum()
    out["index_mass_quantile_q5"] = (
        (np.argmax(np.cumsum(np.abs(x)) / s >= 0.5) + 1) / n if s > 0 else np.nan
    )
    if n >= 2:
        X1 = np.fft.rfft(x)[1]
        out["fft_coefficient_k1_real"] = X1.real
        out["fft_coefficient_k1_imag"] = X1.imag
        out["fft_coefficient_k1_abs"] = abs(X1)
        # engine contract: dust components clamp to +0.0, dust magnitude
        # has NULL angle (see features_ext.fft_coefficient_aggs)
        if abs(X1) < 1e-9:
            out["fft_coefficient_k1_angle"] = np.nan
        else:
            re_c = 0.0 if abs(X1.real) < 1e-9 else X1.real
            im_c = 0.0 if abs(X1.imag) < 1e-9 else X1.imag
            out["fft_coefficient_k1_angle"] = np.degrees(np.arctan2(im_c, re_c))
    else:
        for a in ("real", "imag", "abs", "angle"):
            out[f"fft_coefficient_k1_{a}"] = np.nan
    # change_quantiles ql=.25 qh=.75 isabs mean (closed corridor)
    ql, qh = np.quantile(x, 0.25), np.quantile(x, 0.75)
    if ql >= qh:
        out["change_quantiles_ql25_qh75_abs_mean"] = 0.0
    else:
        inside = (x >= ql) & (x <= qh)
        mask = inside[1:] & inside[:-1]
        d = np.abs(np.diff(x))[mask]
        out["change_quantiles_ql25_qh75_abs_mean"] = float(d.mean()) if len(d) else 0.0
    # pacf(2), Levinson-Durbin on biased autocovariance
    mu = x.mean()
    g0 = np.sum((x - mu) ** 2)
    if n > 2 and g0 > 0:
        g1 = np.sum((x[1:] - mu) * (x[:-1] - mu))
        g2 = np.sum((x[2:] - mu) * (x[:-2] - mu))
        r1, r2 = g1 / g0, g2 / g0
        denom = 1 - r1 * r1
        out["partial_autocorrelation_lag2"] = (
            (r2 - r1 * r1) / denom if abs(denom) > 1e-12 else np.nan
        )
    else:
        out["partial_autocorrelation_lag2"] = np.nan
    # linear_trend via scipy-free closed forms
    t = np.arange(n, dtype=float)
    if n > 1:
        vx, vy = t.var(), x.var()
        cov = ((t - t.mean()) * (x - x.mean())).mean()
        slope = cov / vx
        out["linear_trend_slope"] = slope
        out["linear_trend_intercept"] = x.mean() - slope * t.mean()
        r = cov / np.sqrt(vx * vy) if vy > 0 else 0.0
        out["linear_trend_rvalue"] = r
        out["linear_trend_stderr"] = (
            np.sqrt(max(0.0, (1 - r * r) * vy * n / (n - 2)) / (n * vx))
            if n > 2
            else np.nan
        )
    else:
        for a in ("slope", "intercept", "rvalue", "stderr"):
            out[f"linear_trend_{a}"] = np.nan
    out["quantile_q25"] = np.quantile(x, 0.25)
    out["quantile_q75"] = np.quantile(x, 0.75)
    return out


SERIES = {
    "plain": np.array([3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0]),
    "with_zeros_negs": np.array([0.0, -1.0, 2.5, 0.0, -0.5, 3.0, 0.9, -2.0]),
    "constant": np.full(6, 7.0),
    "short2": np.array([2.0, 8.0]),
    "single": np.array([4.0]),
    "trendy": np.arange(20, dtype=float) * 1.5 + 2.0,
    "noisy": np.random.RandomState(3).normal(scale=5.0, size=37).round(2),
    # -0.0 and 0.0 are one value
    "signed_zero_ties": np.array([0.0, -0.0, 1.5, -0.0, 2.0, 1.5, 0.0, -3.0]),
}

# NaN = null; only the duplicate/reoccurrence family is compared, the one
# family whose result depends on how equal values are grouped
NULL_SERIES = {"zero_ties_nulls": np.array([0.0, np.nan, -0.0, 1.5, np.nan, 1.5, 0.0, 2.0, -0.0])}
DUPLICATE_FEATURES = (
    "has_duplicate", "has_duplicate_max", "has_duplicate_min",
    "percentage_of_reoccurring_datapoints_to_all_datapoints",
    "percentage_of_reoccurring_values_to_all_values",
    "sum_of_reoccurring_values", "sum_of_reoccurring_data_points",
)


@pytest.fixture(scope="module")
def ext_result(spark):
    rows = []
    for name, arr in {**SERIES, **NULL_SERIES}.items():
        for i, v in enumerate(arr):
            value = None if np.isnan(v) else float(v)
            rows.append((name, "chan", i, (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=i)).to_pydatetime(), value))
    df = spark.createDataFrame(rows, "conv_id string, kind string, turn_idx int, ts timestamp, value double")
    out = rollup_ext_features(df, ["conv_id", "kind"]).toPandas()
    return out.set_index("conv_id")


@pytest.mark.parametrize("name", list(SERIES))
def test_ext_features_match_numpy(ext_result, name):
    got = ext_result.loc[name]
    want = np_ext_features(SERIES[name])
    for feat, expect in want.items():
        g = got[feat]
        if expect is None or (isinstance(expect, float) and np.isnan(expect)):
            assert g is None or (isinstance(g, float) and np.isnan(g)), (
                f"{name}.{feat}: expected NULL, got {g}"
            )
        else:
            assert g == pytest.approx(expect, rel=1e-9, abs=1e-9), f"{name}.{feat}"


@pytest.mark.parametrize("name", list(NULL_SERIES))
def test_duplicate_features_group_nulls(ext_result, name):
    got = ext_result.loc[name]
    want = np_ext_features(NULL_SERIES[name])
    for feat in DUPLICATE_FEATURES:
        assert got[feat] == pytest.approx(want[feat], rel=1e-9, abs=1e-9), f"{name}.{feat}"


def test_spark_and_duck_ext_names_agree(spark):
    """queries() column names == oracle column names (the driver hash
    sorts by name, so a drift here is a silent mismatch)."""
    from ts_raster_spark.functions.features import feature_registry
    from ts_raster_spark.sql.duck_features_ext import EXT_EXPRS

    assert set(feature_registry(["ext"])) == set(EXT_EXPRS)


def test_ext_features_randomized_batch(spark):
    """50 random series (mixed lengths, scales, duplicates, negatives,
    integer-valued) through ONE Spark round-trip vs the NumPy reference —
    the cheap randomized sweep that catches corridor/tie/guard bugs the
    7 crafted fixtures miss."""
    rng = np.random.RandomState(11)
    series = {}
    for i in range(50):
        n = int(rng.choice([1, 2, 3, 4, 5, 8, 13, 21, 47, 96]))
        kind = i % 4
        if kind == 0:
            arr = rng.normal(scale=10 ** rng.uniform(-2, 4), size=n)
        elif kind == 1:
            arr = rng.randint(-3, 4, size=n).astype(float)  # heavy duplicates
        elif kind == 2:
            arr = np.full(n, float(rng.randint(-5, 6)))  # constant
        else:
            arr = np.round(rng.normal(size=n) * rng.choice([0.5, 100.0]), 2)
        series[f"r{i:03d}"] = arr
    rows = []
    for name, arr in series.items():
        for j, v in enumerate(arr):
            rows.append(
                (name, "chan", j,
                 (pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=j)).to_pydatetime(),
                 float(v))
            )
    df = spark.createDataFrame(
        rows, "conv_id string, kind string, turn_idx int, ts timestamp, value double"
    )
    got = rollup_ext_features(df, ["conv_id", "kind"]).toPandas().set_index("conv_id")
    bad = []
    for name, arr in series.items():
        want = np_ext_features(arr)
        g = got.loc[name]
        for feat, expect in want.items():
            have = g[feat]
            if isinstance(expect, float) and np.isnan(expect):
                if not (have is None or (isinstance(have, float) and np.isnan(have))):
                    bad.append((name, feat, have, "NaN"))
            elif not have == pytest.approx(expect, rel=1e-7, abs=1e-7):
                bad.append((name, feat, have, expect))
    assert not bad, bad[:10]


def test_boundary_contract_scale_relative(spark):
    """Round-4 fix (r3 advisor, medium): the strict-comparison boundary
    contract quantizes the RATIO diff/greatest(side_a, side_b), not the
    absolute difference, so it holds at every value magnitude:

    - |x| ~ 1e-9: genuine strict inequalities must NOT round to 0
      (the old round(diff, 9) returned 0 for x=[0,1e-9,2e-9]);
    - |x| ~ 1e6: true equalities must snap to 0 even though the
      engines' aggregation dust is ~1e-4 absolute;
    - Spark agg and DuckDB twin agree in all cases.
    """
    import duckdb

    from ts_raster_spark.functions.features import large_standard_deviation_aggs
    from ts_raster_spark.functions.features_ext import symmetry_looking_agg
    from ts_raster_spark.sql.duck_features import CORE_EXPRS
    from ts_raster_spark.sql.duck_features_ext import EXT_EXPRS

    groups = {
        "tiny_strict": [0.0, 1e-9, 2e-9],          # sigma=8.2e-10 > 5e-10 -> 1
        "huge_strict": [0.0, 1e6, 2e6],            # clear 1
        "tiny_equal": [v * 1e-9 for v in [0, 1, 1, 1, 1, 1, 1, 2]],  # sigma==bound -> 0
        "huge_equal": [v * 1e6 for v in [0, 1, 1, 1, 1, 1, 1, 2]],   # sigma==bound -> 0
        "plain": [1.0, 2.0, 2.0, 3.0, 9.0],
    }
    rows = [(g, float(v)) for g, xs in groups.items() for v in xs]
    pdf = pd.DataFrame(rows, columns=["g", "value"])
    df = spark.createDataFrame(pdf)

    # symmetry's median is a rank-sum aggregate over the value-rank
    # helper columns (the registry attaches them in rollup_ext_features)
    from ts_raster_spark.functions.features import attach_value_rank

    df = attach_value_rank(df, ["g"])
    aggs = dict(large_standard_deviation_aggs())
    aggs.update(symmetry_looking_agg())
    got = (
        df.groupBy("g")
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .toPandas()
        .set_index("g")
        .sort_index()
    )

    con = duckdb.connect()
    con.register("t", pdf)
    duck = con.sql(
        f"SELECT g, {CORE_EXPRS['large_standard_deviation_r25']} AS large_standard_deviation_r25, "
        f"{EXT_EXPRS['symmetry_looking_r25']} AS symmetry_looking_r25 "
        "FROM t GROUP BY g ORDER BY g"
    ).df().set_index("g")

    for g, xs in groups.items():
        x = np.asarray(xs)
        sigma, rng = np.std(x), x.max() - x.min()
        if abs(sigma - 0.25 * rng) > 1e-6 * max(sigma, 0.25 * rng):
            want_lsd = int(sigma > 0.25 * rng)  # plain NumPy, off-boundary
            assert got.loc[g, "large_standard_deviation_r25"] == want_lsd, g
        else:
            assert got.loc[g, "large_standard_deviation_r25"] == 0, g  # equality -> strict false
        dev, bound = abs(np.mean(x) - np.quantile(x, 0.5)), 0.25 * rng
        if abs(bound - dev) > 1e-6 * max(bound, dev, 1e-300):
            assert got.loc[g, "symmetry_looking_r25"] == int(dev < bound), g
        assert got.loc[g, "large_standard_deviation_r25"] == duck.loc[g, "large_standard_deviation_r25"], g
        assert got.loc[g, "symmetry_looking_r25"] == duck.loc[g, "symmetry_looking_r25"], g
