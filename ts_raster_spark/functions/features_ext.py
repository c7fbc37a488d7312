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
helper columns.  :func:`attach_ext_stats` adds the extra helpers
(per-value multiplicity, |x| cumulative/total sums, |x| rank, corridor
quantiles) using windows whose partition keys all CONTAIN the rollup
keys — Spark's ``HashPartitioning(keys)`` satisfies
``ClusteredDistribution(keys + extras)``, so the single rollup-key
exchange from :func:`features.attach_group_stats` serves every window
here too (extra sorts, no extra shuffles; plan-asserted in
tests/test_plans.py).

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
from pyspark.sql.window import Window

from ts_raster_spark.functions.features import (
    LAG1,
    MU,
    ORDER_COLS,
    RN,
    V,
    VMAX,
    VMIN,
    _n,
    attach_group_stats,
    attach_value_rank,
    quantile_aggs,
    rank_quantile_agg,
    rank_quantile_window,
)

VCNT, VRN, CUMABS, TOTABS, RNABS, QL, QH = (
    "_vcnt", "_vrn", "_cumabs", "_totabs", "_rnabs", "_ql", "_qh"
)

CHANGE_QL, CHANGE_QH = 0.25, 0.75


def attach_ext_stats(df: DataFrame, keys: list[str]) -> DataFrame:
    """Attach the extended helper columns.  Requires (and composes with)
    ``features.attach_group_stats`` — call that first so MU/RN/LAG1 exist.

    All four window specs partition on supersets of ``keys`` (or keys
    itself with a different ORDER), so they reuse the one hash exchange.
    """
    order = [F.col(c) for c in ORDER_COLS]
    wu = Window.partitionBy(*keys)
    wo = wu.orderBy(*order)
    # whole-partition aggregates ride wo's sort via an explicit
    # unbounded frame instead of a second keys-only sort (the same
    # one-sort collapse as features.attach_group_stats)
    wof = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wabs = wu.orderBy(F.abs(F.col(V)).desc(), *order)
    wval = Window.partitionBy(*keys, F.col(V))
    wval_o = wval.orderBy(*order)
    # Window specs are attached GROUPED BY SORT ORDER so each distinct
    # (partition, order) pair sorts once and every compatible spec
    # rides it: first the wo family (rides attach_group_stats' sort),
    # then the ascending-value family ((keys, V, order) sort — wval_o,
    # then wval and the value-rank/corridor columns whose required
    # (keys, V) prefix it satisfies), then the |x|-descending sort.  The
    # corridor bounds are exact rank-sum windows: a percentile() window
    # would buffer a per-group value map and force its own pass.
    out = (
        df.withColumn(CUMABS, F.sum(F.abs(F.col(V))).over(wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn(TOTABS, F.sum(F.abs(F.col(V))).over(wof))
        # first-occurrence flag: lets every DISTINCT-flavored feature be
        # a plain sum (sum(_vrn = 1) == count(DISTINCT value)), keeping
        # Spark off the expand/gid distinct-aggregate rewrite (which
        # costs an extra exchange and a 3x row expand)
        .withColumn(VRN, F.row_number().over(wval_o))
        .withColumn(VCNT, F.count("*").over(wval))
    )
    out = attach_value_rank(out, keys)
    return (
        out.withColumn(QL, rank_quantile_window(CHANGE_QL, keys))
        .withColumn(QH, rank_quantile_window(CHANGE_QH, keys))
        .withColumn(RNABS, F.row_number().over(wabs))
    )


def duplicate_aggs() -> dict[str, Column]:
    """tsfresh has_duplicate / has_duplicate_max / has_duplicate_min and
    the four reoccurrence statistics, all from the per-value multiplicity
    column ``_vcnt`` (one extra sort on the shared partitioning)."""
    v, c = F.col(V), F.col(VCNT)
    return {
        "has_duplicate": (F.max(c) > 1).cast("long"),
        "has_duplicate_max": (F.max(F.when(v == F.col(VMAX), c)) > 1).cast("long"),
        "has_duplicate_min": (F.max(F.when(v == F.col(VMIN), c)) > 1).cast("long"),
        # rows whose value occurs more than once / all rows
        "percentage_of_reoccurring_datapoints_to_all_datapoints": F.avg((c > 1).cast("double")),
        # distinct values occurring more than once / distinct values
        # (first-occurrence sums, not COUNT(DISTINCT) — see attach_ext_stats)
        "percentage_of_reoccurring_values_to_all_values": (
            F.sum(((F.col(VRN) == 1) & (c > 1)).cast("double"))
            / F.sum((F.col(VRN) == 1).cast("double"))
        ),
        # each reoccurring unique value counted once
        "sum_of_reoccurring_values": F.coalesce(
            F.sum(F.when((F.col(VRN) == 1) & (c > 1), v)), F.lit(0.0)
        ),
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
    docstring).  Only lag 2 has a closed form this small; lag 1 equals
    rho1 and is covered by ``autocorrelation_agg``-adjacent surface."""
    v, mu = F.col(V), F.col(MU)
    n = _n().cast("double")
    g0 = F.sum((v - mu) * (v - mu))
    g1 = F.sum(F.when(F.col(LAG1).isNotNull(), (v - mu) * (F.col(LAG1) - mu)))
    g2 = F.sum(F.when(F.col("_lag2").isNotNull(), (v - mu) * (F.col("_lag2") - mu)))
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


def quantile_ext_aggs() -> dict[str, Column]:
    """The quartiles, as rank-sums over ``attach_ext_stats``' value
    rank."""
    return quantile_aggs({"quantile_q25": 0.25, "quantile_q75": 0.75})


def ext_feature_aggs() -> dict[str, Column]:
    """The full extended map; requires attach_group_stats THEN
    attach_ext_stats."""
    aggs: dict[str, Column] = {}
    aggs.update(duplicate_aggs())
    aggs.update(count_aggs())
    aggs.update(mean_n_absolute_max_agg())
    aggs.update(symmetry_looking_agg())
    aggs.update(index_mass_quantile_agg())
    aggs.update(fft_coefficient_aggs())
    aggs.update(change_quantiles_agg())
    aggs.update(partial_autocorrelation_agg())
    aggs.update(linear_trend_aggs())
    aggs.update(quantile_ext_aggs())
    return aggs


def rollup_ext_features(long_df: DataFrame, keys: list[str]) -> DataFrame:
    """One-shot extended-feature rollup: helper windows + a single
    groupBy on ``keys`` sharing one hash partitioning."""
    df = attach_group_stats(long_df, keys)
    df = attach_ext_stats(df, keys)
    aggs = ext_feature_aggs()
    return df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])
