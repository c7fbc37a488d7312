"""Extended tsfresh-parity calculators as native Catalyst aggregates.

Breadth beyond the reference's exercised subset (SURVEY.md
§2.5): the reference pins tsfresh's default feature dictionary
(tsraster/calculate.py:103-112) but only exercises ~40 calculators in
its tests/README; this module adds the next tier of tsfresh's
dictionary — duplicate/reoccurrence statistics, value/range counts,
top-|x| means, symmetry, index mass quantile, single DFT coefficients,
corridor change statistics, Levinson-Durbin partial autocorrelation and
full OLS linear-trend attributes — still with ZERO Python in the hot
path.

Scale design: every calculator is a closed-form aggregate over row-level
helper columns, and the ``ext`` name set of
:func:`features.feature_registry` names the helpers each one reads.
:func:`rollup_ext_features` requests that set through
:func:`features.feature_rollup`, the path the flagship rollup takes
too: each helper is attached once, one sort family at a time.  Every
helper window partitions on the rollup keys, so after the one rollup-key
exchange the request sorts three times: value order (per-value
multiplicity, first-occurrence flag, value rank, corridor quantiles),
series order (group stats, |x| running sums) and |x|-descending order
(top-|x| row number); over ``to_long_panel`` the latency window adds a
fourth.  ``tests/test_plans.py::test_feature_frame_plan_shape`` asserts
the Window and Sort counts and the single exchange.

Numeric contracts (mirrored exactly by sql/duck_features_ext.py):

- ``mean_n_absolute_max(n)`` is NULL when the series has <= n points
  (tsfresh returns NaN there).
- ``fft_coefficient_k1_*`` follow ``np.fft.rfft`` sign conventions:
  X_1 = sum x_t (cos th - i sin th), th = 2*pi*(t-1)/N; ``angle`` is
  degrees (np.angle(deg=True)).  NULL when N < 2 (rfft has no k=1 bin).
- ``change_quantiles(ql, qh, isabs=True, f_agg=mean)`` uses the
  pandas-qcut corridor [quantile(ql), quantile(qh)] closed on BOTH ends
  and counts only consecutive pairs fully inside; empty selection -> 0,
  degenerate corridor (ql_val == qh_val) -> 0 (tsfresh's ValueError
  branch).
- ``partial_autocorrelation_lag2`` is the Levinson-Durbin closed form on
  the BIASED autocovariance (statsmodels ``pacf(method="ld")``, the
  estimator tsfresh requests): phi_22 = (rho2 - rho1^2) / (1 - rho1^2)
  with rho_k = gamma_k / gamma_0, gamma_k = (1/n) sum (x_t - mu)
  (x_{t+k} - mu).  NULL for n <= 2, zero variance, or |rho1| = 1.
- ``linear_trend_*`` regress value on the 0-based series index
  (scipy.stats.linregress semantics): ``rvalue`` is 0 for constant y
  (scipy convention), ``stderr`` is the slope standard error
  sqrt((1 - r^2) * n * var_pop(y) / (n - 2) / (n * var_pop(x))),
  0 for a perfect or constant fit, NULL for n <= 2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.functions.features import (
    CHANGE_QH,
    CHANGE_QL,
    CUMABS,
    LAG1,
    LAG2,
    MU,
    QH,
    QL,
    RN,
    RNABS,
    TOTABS,
    V,
    VCNT,
    VFIRST,
    VMAX,
    VMIN,
    _n,
    feature_rollup,
    rank_quantile_agg,
)


def duplicate_aggs() -> dict[str, Column]:
    """tsfresh has_duplicate / has_duplicate_max / has_duplicate_min and
    the four reoccurrence statistics, from the per-value multiplicity
    ``_vcnt`` and the first-occurrence flag ``_vfirst``."""
    v, c, first = F.col(V), F.col(VCNT), F.col(VFIRST)
    return {
        "has_duplicate": (F.max(c) > 1).cast("long"),
        "has_duplicate_max": (F.max(F.when(v == F.col(VMAX), c)) > 1).cast("long"),
        "has_duplicate_min": (F.max(F.when(v == F.col(VMIN), c)) > 1).cast("long"),
        # rows whose value occurs more than once / all rows
        "percentage_of_reoccurring_datapoints_to_all_datapoints": F.avg((c > 1).cast("double")),
        # distinct values occurring more than once / distinct values
        "percentage_of_reoccurring_values_to_all_values": (
            F.sum((first & (c > 1)).cast("double")) / F.sum(first.cast("double"))
        ),
        # each reoccurring unique value counted once
        "sum_of_reoccurring_values": F.coalesce(F.sum(F.when(first & (c > 1), v)), F.lit(0.0)),
        # each occurrence of a reoccurring value counted
        "sum_of_reoccurring_data_points": F.coalesce(F.sum(F.when(c > 1, v)), F.lit(0.0)),
    }


def count_aggs() -> dict[str, Column]:
    """tsfresh value_count(value=0) and range_count(min=-1, max=1)
    (half-open [min, max) like np.count_nonzero((x >= min) & (x < max)))."""
    v = F.col(V)
    return {
        "value_count_0": F.sum((v == 0).cast("long")),
        "range_count_m1_1": F.sum(((v >= -1) & (v < 1)).cast("long")),
    }


def mean_n_absolute_max_agg() -> dict[str, Column]:
    """Mean of the ``n_maxima`` = 3 largest |x|; NULL when len <= n_maxima
    (tsfresh contract).  Uses the |x|-descending row number ``_rnabs``
    (ties broken arbitrarily — the top-n MEAN is tie-invariant)."""
    n_maxima = 3
    return {
        f"mean_n_absolute_max_{n_maxima}": F.when(
            _n() > n_maxima,
            F.avg(F.when(F.col(RNABS) <= n_maxima, F.abs(F.col(V)))),
        )
    }


def symmetry_looking_agg() -> dict[str, Column]:
    """|mean - median| < r * (max - min) for r = 0.25, as 0/1.  Same
    SCALE-RELATIVE quantized-difference boundary contract as
    large_standard_deviation (strict comparisons on exactly-equal sides
    must not split across engines' aggregation dust, at any value
    magnitude)."""
    r = 0.25
    name = f"symmetry_looking_r{str(r).replace('0.', '')}"
    bound = F.lit(float(r)) * (F.max(V) - F.min(V))
    dev = F.abs(F.avg(F.col(V)) - rank_quantile_agg(0.5))
    scale = F.greatest(bound, dev)
    return {
        name: (
            F.when(scale > 0, F.round((bound - dev) / scale, 9) > 0)
            .otherwise(F.lit(False))
        ).cast("long")
    }


def index_mass_quantile_agg() -> dict[str, Column]:
    """Relative index where the cumulative |x| mass first reaches q = 0.5
    of the total: (argmax(cumsum(|x|)/sum(|x|) >= q) + 1) / n.  NULL
    when sum(|x|) == 0 (tsfresh NaN)."""
    q = 0.5
    name = f"index_mass_quantile_q{str(q).replace('0.', '')}"
    hit = F.when(F.col(CUMABS) >= F.lit(float(q)) * F.col(TOTABS), F.col(RN))
    return {
        name: F.when(F.max(F.col(TOTABS)) > 0, F.min(hit).cast("double") / _n())
    }


def fft_coefficient_aggs() -> dict[str, Column]:
    """Single rfft coefficient X_k = sum_t x_t * exp(-2*pi*i*k*(t-1)/N),
    k = 1, as four native sums (real / imag / abs / angle-in-degrees).
    The per-row angle uses RN and the group length from the shared
    window.  NULL when N < 2*k is NOT required — rfft exposes bin k
    whenever k <= N//2, so the guard is N >= 2k."""
    k = 1
    theta = 2.0 * 3.141592653589793 * k * (F.col(RN) - 1).cast("double") / F.col("_nrows")
    re = F.sum(F.col(V) * F.cos(theta))
    im = -F.sum(F.col(V) * F.sin(theta))
    ok = _n() >= 2 * k
    # angle is ill-conditioned where a component (or the whole
    # coefficient) is within summation noise of zero: atan2 of FP dust
    # is engine-arbitrary (e.g. sin(pi) = 1.2e-16 flips -180 vs +180).
    # Contract (mirrored in SQL twin + tests): components within 1e-9
    # are treated as +0.0, and the angle of a < 1e-9-magnitude
    # coefficient is NULL.  real/imag/abs are reported raw — the 4-dp
    # normalization already collapses the dust to 0.0.
    eps = 1e-9
    re_c = F.when(F.abs(re) < eps, F.lit(0.0)).otherwise(re)
    im_c = F.when(F.abs(im) < eps, F.lit(0.0)).otherwise(im)
    mag_ok = F.sqrt(re * re + im * im) >= eps
    return {
        f"fft_coefficient_k{k}_real": F.when(ok, re),
        f"fft_coefficient_k{k}_imag": F.when(ok, im),
        f"fft_coefficient_k{k}_abs": F.when(ok, F.sqrt(re * re + im * im)),
        f"fft_coefficient_k{k}_angle": F.when(ok & mag_ok, F.degrees(F.atan2(im_c, re_c))),
    }


def change_quantiles_agg() -> dict[str, Column]:
    """tsfresh change_quantiles(CHANGE_QL, CHANGE_QH, isabs=True,
    f_agg='mean'): mean
    |diff| over consecutive pairs whose BOTH endpoints lie inside the
    closed corridor [quantile(ql), quantile(qh)]; 0 when the corridor is
    degenerate or selects no pair.  Helper columns ``_ql``/``_qh`` carry
    the corridor bounds per group."""
    v, l1 = F.col(V), F.col(LAG1)
    inside = (v >= F.col(QL)) & (v <= F.col(QH))
    prev_inside = (l1 >= F.col(QL)) & (l1 <= F.col(QH))
    sel = F.when(l1.isNotNull() & inside & prev_inside, F.abs(v - l1))
    name = (
        "change_quantiles_ql"
        + str(CHANGE_QL).replace("0.", "")
        + "_qh"
        + str(CHANGE_QH).replace("0.", "")
        + "_abs_mean"
    )
    return {
        name: F.when(F.max(F.col(QL)) < F.max(F.col(QH)), F.coalesce(F.avg(sel), F.lit(0.0))).otherwise(F.lit(0.0))
    }


def partial_autocorrelation_agg() -> dict[str, Column]:
    """Levinson-Durbin phi_22 on biased autocovariances (see module
    docstring).  Only lag 2 has a closed form this small; lag-1 PACF is
    rho1 = ``autocorrelation_lag1`` * (n - 1) / n (the biased estimator
    against tsfresh's (n - lag) divisor)."""
    v, mu = F.col(V), F.col(MU)
    n = _n().cast("double")
    g0 = F.sum((v - mu) * (v - mu))
    g1 = F.sum(F.when(F.col(LAG1).isNotNull(), (v - mu) * (F.col(LAG1) - mu)))
    g2 = F.sum(F.when(F.col(LAG2).isNotNull(), (v - mu) * (F.col(LAG2) - mu)))
    rho1 = g1 / F.when(g0 > 0, g0)
    rho2 = g2 / F.when(g0 > 0, g0)
    denom = 1.0 - rho1 * rho1
    phi22 = (rho2 - rho1 * rho1) / F.when(F.abs(denom) > 1e-12, denom)
    return {
        "partial_autocorrelation_lag2": F.when((n > 2) & (g0 > 0), phi22)
    }


def linear_trend_aggs() -> dict[str, Column]:
    """scipy.stats.linregress of value on the 0-based index (tsfresh
    linear_trend attrs slope/intercept/rvalue/stderr).  Closed forms
    from population moments rather than regr_*/corr — under ANSI mode
    Spark's corr/regr_slope THROW on a single-point group instead of
    returning NULL, so every division here is null-safe-guarded by a
    ``when`` divisor.  rvalue falls back to 0 for constant y (scipy
    convention); stderr carries a greatest(0, .) guard against r^2
    rounding just past 1."""
    x = (F.col(RN) - 1).cast("double")
    v = F.col(V)
    n = _n().cast("double")
    cov = F.avg(v * x) - F.avg(v) * F.avg(x)
    vy = F.var_pop(v)
    vx = F.var_pop(x)
    slope = cov / F.when(vx > 0, vx)
    intercept = F.avg(v) - slope * F.avg(x)
    rval = F.when(
        _n() > 1,
        F.coalesce(cov / F.when(F.sqrt(vx * vy) > 0, F.sqrt(vx * vy)), F.lit(0.0)),
    )
    se2 = F.greatest(F.lit(0.0), (1.0 - rval * rval) * vy * n / (n - 2.0)) / F.when(vx > 0, n * vx)
    return {
        "linear_trend_slope": slope,
        "linear_trend_intercept": intercept,
        "linear_trend_rvalue": rval,
        "linear_trend_stderr": F.when(_n() > 2, F.sqrt(se2)),
    }


def rollup_ext_features(long_df: DataFrame, keys: list[str]) -> DataFrame:
    """The ``ext`` name set of :func:`features.feature_registry`
    through :func:`features.feature_rollup`."""
    return feature_rollup(long_df, keys, ("ext",), None)
