"""tsfresh-parity feature calculators as native Spark expressions.

The reference delegates per-pixel series descriptors to tsfresh
(tsraster/calculate.py:103-112, grouped by pixel_id / ordered by time /
per kind). This module re-expresses each exercised calculator
(SURVEY.md §2.5 — README.md:105-118, tests/calculateFeatures.py:9-19)
as Catalyst-native aggregate expressions so the hot path stays inside
whole-stage codegen with partial+final hash aggregation — no Python in
the loop.

Numeric contracts that matter for rolled-up point equality:

- ``variance``/``standard_deviation`` are **population** (ddof=0), the
  tsfresh/NumPy default — ``var_pop``/``stddev_pop``, not the Spark SQL
  sample defaults.
- ``skewness``/``kurtosis`` are the **bias-corrected** pandas G1/G2, not
  Spark's population g1/g2. Computed from central moments against a
  window-attached group mean (numerically stable two-pass).
- ``median``/``quantile(q)`` are exact linear-interpolation quantiles,
  bit-identical to ``percentile`` (not ``percentile_approx``), computed
  as rank-sums: :func:`attach_value_rank` ranks each row's value and
  two conditional sums per quantile pick and weight the interpolation
  neighbours (:func:`rank_quantile_agg`).
- ``autocorrelation(lag)`` uses the tsfresh estimator: global mean and
  population variance, divisor ``(n - lag) * var_pop``.

Row-level prerequisite columns (group mean/std/extrema, lag, row number)
are attached by :func:`attach_group_stats` with windows partitioned on
the rollup keys, so the window shuffle is the *only* shuffle — the
subsequent groupBy reuses the same hash partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

V = "value"
# Names of helper columns attached by attach_group_stats.
MU, SIG, VMAX, VMIN, RN, LAG1, LAG2 = "_mu", "_sigma", "_vmax", "_vmin", "_rn", "_lag1", "_lag2"

ORDER_COLS = ("turn_idx", "ts")


PEAK_NS = (1, 3)


def attach_group_stats(df: DataFrame, keys: list[str], lags=(1, 2)) -> DataFrame:
    """Attach per-group stats + ordered lag/row-number as row columns.

    One hash-partitioning on ``keys`` serves every window here and the
    downstream groupBy — verified single-Exchange in the physical plan.
    ``lags`` controls which ``_lag{n}`` columns are attached (extra lags
    feed :func:`autocorrelation_agg` at those lags; all windows share the
    same partitioning so extra lags add no exchange).
    """
    wo = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in ORDER_COLS])
    # Whole-partition stats use the SAME (partition, order) spec as the
    # ordered columns, with an explicit unbounded-unbounded frame: the
    # aggregate value is identical (whole partition), and every window
    # here collapses into ONE Window operator over ONE sort.  An
    # unordered spec would need its own sort by keys before the sort by
    # keys+order.
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    out = (
        df.withColumn(MU, F.avg(V).over(wf))
        .withColumn(SIG, F.stddev_pop(V).over(wf))
        .withColumn(VMAX, F.max(V).over(wf))
        .withColumn(VMIN, F.min(V).over(wf))
        .withColumn("_nrows", F.count(V).over(wf))
        .withColumn(RN, F.row_number().over(wo))
    )
    for lag in sorted(set(lags) | {1, 2}):
        out = out.withColumn(f"_lag{lag}", F.lag(V, lag).over(wo))
    # neighbourhood maxima for number_peaks(n): strict peak needs x >
    # every neighbour within distance n on BOTH sides (interior only)
    for n in PEAK_NS:
        out = out.withColumn(
            f"_maxp{n}", F.max(V).over(wo.rowsBetween(-n, -1))
        ).withColumn(f"_maxf{n}", F.max(V).over(wo.rowsBetween(1, n)))
    return out


def peaks_aggs() -> dict[str, Column]:
    """tsfresh number_peaks(n) for each n in ``PEAK_NS``: count of
    interior points strictly above all neighbours within distance n.
    Requires ``attach_group_stats``."""
    out = {}
    for n in PEAK_NS:
        is_peak = (
            (F.col(RN) > n)
            & (F.col(RN) <= F.col("_nrows") - n)
            & (F.col(V) > F.col(f"_maxp{n}"))
            & (F.col(V) > F.col(f"_maxf{n}"))
        )
        out[f"number_peaks_n{n}"] = F.sum(is_peak.cast("long"))
    return out


def _n() -> Column:
    return F.count(F.col(V))


RNV, NV = "_rnv", "_nv"


def attach_value_rank(df: DataFrame, keys: list[str]) -> DataFrame:
    """Attach ``_rnv`` (rank among the group's non-null values in
    ascending value order) and ``_nv`` (non-null count) — the helper
    columns behind the exact rank-sum quantiles.  count()
    skips nulls, so a null row shares its predecessor's rank and its
    null value contributes nothing to the conditional sums."""
    w_v = Window.partitionBy(*keys).orderBy(F.col(V).asc())
    return df.withColumn(
        RNV, F.count(V).over(w_v.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ).withColumn(
        NV, F.count(V).over(w_v.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    )


def _rank_quantile_terms(q: float) -> tuple[Column, Column]:
    """The two conditional per-row terms whose group-sums reproduce
    Spark Percentile's interpolation arithmetic exactly: pos = q*(n-1)
    0-based, lower = floor(pos), higher = ceil(pos), result =
    lowerVal*(higher-pos) + higherVal*(pos-lower), single-row value
    when higher == lower.  Requires :func:`attach_value_rank`."""
    v = F.col(V)
    pos = F.lit(float(q)) * (F.col(NV) - F.lit(1)).cast("double")
    lower = F.floor(pos)
    higher = F.ceil(pos)
    term_low = F.when(
        F.col(RNV) == lower + 1,
        F.when(higher == lower, v).otherwise(v * (higher.cast("double") - pos)),
    )
    term_high = F.when(
        (F.col(RNV) == higher + 1) & (higher > lower), v * (pos - lower.cast("double"))
    )
    return term_low, term_high


def rank_quantile_agg(q: float) -> Column:
    """Exact quantile as two codegen-able conditional SUM aggregates,
    bit-identical to ``percentile(value, q)``.  The holistic percentile()
    aggregate would demote every co-grouped aggregate to interpreted
    ObjectHashAggregate and buffer a per-group value map (an OOM hazard
    on mega-groups).  Requires :func:`attach_value_rank`."""
    term_low, term_high = _rank_quantile_terms(q)
    return F.sum(term_low) + F.coalesce(F.sum(term_high), F.lit(0.0))


def rank_quantile_window(q: float, keys: list[str]) -> Column:
    """Per-row group-quantile column (window form of
    :func:`rank_quantile_agg`), riding the same ascending-value sort as
    :func:`attach_value_rank`."""
    wvf = (
        Window.partitionBy(*keys)
        .orderBy(F.col(V).asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    term_low, term_high = _rank_quantile_terms(q)
    return F.sum(term_low).over(wvf) + F.coalesce(F.sum(term_high).over(wvf), F.lit(0.0))


def core_aggs() -> dict[str, Column]:
    """Closed-form aggregates.  ``count_above_mean``/``count_below_mean``
    read the group mean ``_mu`` (``attach_group_stats``); the rest need
    no helper column."""
    v = F.col(V)
    return {
        "turn_count": _n().cast("long"),
        "mean": F.avg(v),
        "maximum": F.max(v),
        "minimum": F.min(v),
        "sum_values": F.sum(v),
        "variance": F.var_pop(v),
        "standard_deviation": F.stddev_pop(v),
        "abs_energy": F.sum(v * v),
        "root_mean_square": F.sqrt(F.avg(v * v)),
        "mean_change": F.when(
            _n() > 1,
            (F.expr(f"max_by({V}, turn_idx)") - F.expr(f"min_by({V}, turn_idx)")) / (_n() - 1),
        ),
        "count_above_mean": F.sum((F.col(V) > F.col(MU)).cast("long")),
        "count_below_mean": F.sum((F.col(V) < F.col(MU)).cast("long")),
        # tsfresh variation_coefficient: σ_pop / mean, NaN-as-NULL on zero mean
        "variation_coefficient": F.when(
            F.avg(F.col(V)) != 0, F.stddev_pop(V) / F.avg(F.col(V))
        ),
    }


# column name -> q of the default feature set's exact quantiles
QUANTILES = {
    "median": 0.5, "quantile_q05": 0.05, "quantile_q15": 0.15,
    "quantile_q85": 0.85, "quantile_q95": 0.95,
}


def quantile_aggs(qs: dict[str, float] = QUANTILES) -> dict[str, Column]:
    """tsfresh ``median``/``quantile(q)`` as rank-sums, one column per
    ``name -> q`` entry (README.md:112; tests/calculateFeatures.py:16).
    Requires :func:`attach_value_rank`."""
    return {name: rank_quantile_agg(q) for name, q in qs.items()}


def moment_aggs() -> dict[str, Column]:
    """Bias-corrected skewness / kurtosis (pandas ``skew()``/``kurt()``
    semantics, the formulas tsfresh inherits). Requires ``attach_group_stats``.

    G1 = g1 * sqrt(n(n-1)) / (n-2),          n > 2, m2 > 0
    G2 = ((n+1)*g2 + 6) * (n-1)/((n-2)(n-3)), n > 3, m2 > 0
    where g1 = m3/m2^1.5, g2 = m4/m2^2 - 3 (central moments m_k).
    """
    d = F.col(V) - F.col(MU)
    n = _n().cast("double")
    m2 = F.avg(d * d)
    m3 = F.avg(d * d * d)
    m4 = F.avg(d * d * d * d)
    g1 = m3 / F.pow(m2, 1.5)
    g2 = m4 / (m2 * m2) - 3.0
    # pandas nanskew/nankurt return 0.0 for zero variance (constant series)
    # provided the length requirement holds; shorter series give NaN/NULL.
    skew = F.when(
        _n() > 2,
        F.when(m2 > 0, g1 * F.sqrt(n * (n - 1)) / (n - 2)).otherwise(F.lit(0.0)),
    )
    kurt = F.when(
        _n() > 3,
        F.when(m2 > 0, ((n + 1) * g2 + 6.0) * (n - 1) / ((n - 2) * (n - 3))).otherwise(F.lit(0.0)),
    )
    return {"skewness": skew, "kurtosis": kurt}


def change_aggs() -> dict[str, Column]:
    """Lag-based calculators. Requires ``attach_group_stats`` (LAG1)."""
    diff = F.col(V) - F.col(LAG1)
    # tsfresh mean_second_derivative_central: mean of (x_i - 2x_{i-1} + x_{i-2})/2
    sec = F.when(
        F.col(LAG2).isNotNull(), (F.col(V) - 2 * F.col(LAG1) + F.col(LAG2)) / 2.0
    )
    # c3(lag=1): mean over consecutive triples of x_t · x_{t+1} · x_{t+2}
    c3 = F.when(F.col(LAG2).isNotNull(), F.col(V) * F.col(LAG1) * F.col(LAG2))
    # time_reversal_asymmetry_statistic(lag=1): mean(x_{t+2}²x_{t+1} − x_{t+1}x_t²)
    tras = F.when(
        F.col(LAG2).isNotNull(),
        F.col(V) * F.col(V) * F.col(LAG1) - F.col(LAG1) * F.col(LAG2) * F.col(LAG2),
    )
    # tsfresh conventions for too-short series: sum-of-changes/cid give
    # 0.0 (empty diff), c3/time-reversal return 0 when n <= 2·lag.
    return {
        "mean_abs_change": F.avg(F.abs(diff)),  # README.md:110
        "mean_second_derivative_central": F.avg(sec),
        "absolute_sum_of_changes": F.coalesce(F.sum(F.abs(diff)), F.lit(0.0)),
        "cid_ce": F.sqrt(F.coalesce(F.sum(diff * diff), F.lit(0.0))),
        "c3_lag1": F.coalesce(F.avg(c3), F.lit(0.0)),
        "time_reversal_asymmetry_lag1": F.coalesce(F.avg(tras), F.lit(0.0)),
        # tsfresh number_crossing_m (m=0): sign changes of (x > 0)
        "number_crossing_0": F.coalesce(
            F.sum(
                F.when(
                    F.col(LAG1).isNotNull()
                    & ((F.col(V) > 0) != (F.col(LAG1) > 0)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long"),
    }


def ratio_beyond_r_sigma_aggs() -> dict[str, Column]:
    """mean(|x - mu| > r * sigma_pop) for r in 2, 3 — examples nb group_1."""
    out = {}
    for r in (2.0, 3.0):
        flag = (F.abs(F.col(V) - F.col(MU)) > F.lit(float(r)) * F.col(SIG)).cast("double")
        out[f"ratio_beyond_r_sigma_r{int(r)}"] = F.avg(flag)
    return out


def autocorrelation_agg(lag: int = 1) -> dict[str, Column]:
    """tsfresh autocorrelation(lag): sum((x_t-mu)(x_{t+lag}-mu)) / ((n-lag)*var_pop).

    With ``_lag{lag}`` attached, each row t>lag contributes
    (x_t-mu)(x_{t-lag}-mu) — an index shift that leaves the sum identical.
    Requires ``attach_group_stats(..., lags=(..., lag))`` for lag > 2
    (lags 1 and 2 are always attached).
    """
    lag_col = F.col(f"_lag{lag}")
    n = _n().cast("double")
    var = F.col(SIG) * F.col(SIG)
    num = F.sum(
        F.when(lag_col.isNotNull(), (F.col(V) - F.col(MU)) * (lag_col - F.col(MU)))
    )
    denom = (n - lag) * F.max(var)
    return {
        f"autocorrelation_lag{lag}": F.when((_n() > lag) & (F.max(var) > 0), num / denom)
    }


BDIGIT = "_bdigit"


def attach_benford_digit(df: DataFrame) -> DataFrame:
    """Project the leading decimal digit of |value| ONCE per row (column
    ``_bdigit``; 0 for zero values). A plain projection — no window, no
    shuffle. The digit is via floor(|x| / 10^floor(log10|x|)), which
    agrees with tsfresh's string-scientific extraction except on values
    within 1 ulp below a power of ten. Computing it here instead of
    inside :func:`benford_agg` keeps the two transcendentals (log10,
    pow) at 2 per row rather than 2 × 9 conditional aggregate branches
    on the hot rollup path."""
    absv = F.abs(F.col(V))
    digit = F.when(absv == 0, F.lit(0)).otherwise(
        F.floor(absv / F.pow(F.lit(10.0), F.floor(F.log10(absv)))).cast("int")
    )
    return df.withColumn(BDIGIT, digit)


def benford_agg() -> dict[str, Column]:
    """tsfresh benford_correlation as a closed-form native aggregate:
    Pearson r between the observed leading-digit distribution
    q_d = count(digit == d) / n (tsfresh's ``(x == d).mean()`` over the
    FULL series length — zeros count in the denominator but fill no
    digit bucket) and the constant Benford vector p.

    Pearson r is invariant to positive scaling of q, so the choice of
    normalizer (full length n, nonzero count, or none) provably cannot
    change the value, and the closed form below uses the RAW counts c_d
    (the n cancels):
        r = (Σ p_d c_d − p̄ Σc) / (σ_p · sqrt(Σ c_d² − (Σc)²/9)).
    Requires :func:`attach_benford_digit` (``_bdigit`` column).
    """
    import math

    digit = F.col(BDIGIT)
    p = [math.log10(1 + 1 / d) for d in range(1, 10)]
    pbar = sum(p) / 9.0
    sp = math.sqrt(sum((v - pbar) ** 2 for v in p))
    counts = [F.sum((digit == d).cast("double")) for d in range(1, 10)]
    csum = counts[0]
    spq = counts[0] * p[0]
    sq2 = counts[0] * counts[0]
    for d in range(1, 9):
        csum = csum + counts[d]
        spq = spq + counts[d] * p[d]
        sq2 = sq2 + counts[d] * counts[d]
    ssq = sq2 - csum * csum / 9.0  # n²·Σ(q−q̄)², zero iff all digits equal
    # null-safe denominator: ANSI mode evaluates division eagerly even
    # under a when() guard, so a zero divisor must become NULL, not 0
    r = (spq - pbar * csum) / F.when(ssq > 1e-20, F.lit(sp) * F.sqrt(ssq))
    return {
        "benford_correlation": F.when((csum > 0) & (ssq > 1e-20), r)
    }


def energy_ratio_agg() -> dict[str, Column]:
    """tsfresh energy_ratio_by_chunks(num_segments=10, segment_focus=0):
    Σx² of the focus chunk over total Σx², chunks per np.array_split
    (first n%s chunks one element longer). Requires
    ``attach_group_stats`` (RN, _nrows)."""
    n = F.col("_nrows")
    s, f = 10, 0
    k = F.floor(n / s)
    m = n % s
    lo = f * k + F.least(F.lit(f).cast("long"), m)
    hi = lo + k + F.when(F.lit(f) < m, 1).otherwise(0)
    v = F.col(V)
    in_chunk = (F.col(RN) > lo) & (F.col(RN) <= hi)
    total = F.sum(v * v)
    total_nz = F.when(total > 0, total)  # NULL divisor under ANSI, never /0
    return {
        f"energy_ratio_chunk{f}_of{s}": F.when(
            total > 0, F.coalesce(F.sum(F.when(in_chunk, v * v)), F.lit(0.0)) / total_nz
        )
    }


def location_aggs() -> dict[str, Column]:
    """Relative locations of extrema (tsfresh, 0-based argmin/argmax):

    - last_location_of_maximum  = (last  1-based rn at max) / n
    - first_location_of_maximum = (first 1-based rn at max - 1) / n
    """
    n = _n().cast("double")
    at_max = F.when(F.col(V) == F.col(VMAX), F.col(RN))
    at_min = F.when(F.col(V) == F.col(VMIN), F.col(RN))
    return {
        "last_location_of_maximum": F.max(at_max).cast("double") / n,
        "first_location_of_maximum": (F.min(at_max) - 1).cast("double") / n,
        "last_location_of_minimum": F.max(at_min).cast("double") / n,
        "first_location_of_minimum": (F.min(at_min) - 1).cast("double") / n,
    }


def large_standard_deviation_aggs() -> dict[str, Column]:
    """sigma_pop > r * (max - min) for r = 0.25 — examples/calculateFeatures.ipynb.

    The comparison goes through a SCALE-RELATIVE quantized difference:
    ``round((sigma - r*range) / greatest(sigma, r*range), 9) > 0``
    (false when both sides are 0).  When the data makes the two sides
    EXACTLY equal (e.g. sigma = 0.5 on a 50-point 3-value series with
    range 2), each engine's aggregation order leaves different ±1e-16
    dust on sigma and a strict ``>`` splits across engines; quantizing
    the RATIO snaps true equality to 0 on both sides at every value
    magnitude — an absolute round(diff, 9) broke for |x|~1e-9 (genuine
    inequalities rounded to 0) and |x|~1e6 (dust survived).  Mirrored
    textually in the DuckDB twin."""
    out = {}
    for r in (0.25,):
        sigma = F.stddev_pop(V)
        bound = F.lit(float(r)) * (F.max(V) - F.min(V))
        scale = F.greatest(sigma, bound)
        out[f"large_standard_deviation_r{str(r).replace('0.', '')}"] = (
            F.when(scale > 0, F.round((sigma - bound) / scale, 9) > 0)
            .otherwise(F.lit(False))
        ).cast("long")
    return out


def default_feature_aggs() -> dict[str, Column]:
    """The full native aggregate map (column name -> aggregate Column).

    The order is the output column order, which ``feature_names_dim``
    band positions follow: ``median`` sits after ``sum_values`` and the
    other quantiles follow the core block."""
    quantiles = quantile_aggs()
    aggs: dict[str, Column] = {}
    for name, agg in core_aggs().items():
        aggs[name] = agg
        if name == "sum_values":
            aggs["median"] = quantiles.pop("median")
    aggs.update(quantiles)
    aggs.update(moment_aggs())
    aggs.update(ratio_beyond_r_sigma_aggs())
    aggs.update(large_standard_deviation_aggs())
    aggs.update(benford_agg())
    aggs.update(change_aggs())
    aggs.update(autocorrelation_agg(1))
    aggs.update(location_aggs())
    aggs.update(peaks_aggs())
    aggs.update(energy_ratio_agg())
    return aggs


# --- strikes / entropy / chunked trend as window columns + plain -------
# aggregates.  Every helper window here partitions on the rollup keys
# (or a superset), so the subset rule keeps them all on the ONE
# rollup-key exchange and they fold into the main groupBy: no extra
# aggregation level and no join back to the per-group rows.

def attach_strike_cols(df: DataFrame, keys: list[str]) -> DataFrame:
    """Per-row running strike length for the above/below-mean flags.

    The run length ending at row t is ``RN(t) - RN(last break at or
    before t)`` (break = any row whose flag is not 1): a running max on
    the SAME (keys, ORDER_COLS) window spec every other helper uses, so
    both flags fuse into the one existing Window operator and sort.
    ``strike_aggs`` takes the max over flag rows, and the maximum
    running length over an island equals the island length.  Requires
    ``attach_group_stats`` (MU, RN)."""
    wo_cum = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in ORDER_COLS])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for suffix, above in (("a", True), ("b", False)):
        flag = (F.col(V) > F.col(MU)) if above else (F.col(V) < F.col(MU))
        out = out.withColumn(f"_flg{suffix}", flag.cast("int"))
        last_break = F.max(
            F.when(F.coalesce(F.col(f"_flg{suffix}"), F.lit(0)) == 0, F.col(RN))
        ).over(wo_cum)
        out = out.withColumn(
            f"_run{suffix}", F.col(RN) - F.coalesce(last_break, F.lit(0))
        )
    return out


def strike_aggs() -> dict[str, Column]:
    return {
        "longest_strike_above_mean": F.coalesce(
            F.max(F.when(F.col("_flga") == 1, F.col("_runa"))), F.lit(0)
        ).cast("long"),
        "longest_strike_below_mean": F.coalesce(
            F.max(F.when(F.col("_flgb") == 1, F.col("_runb"))), F.lit(0)
        ).cast("long"),
    }


ENTROPY_BINS = 10
TREND_CHUNK_LEN = 3


def attach_entropy_cols(df: DataFrame) -> DataFrame:
    """Equal-width histogram bin id (``ENTROPY_BINS`` bins) as a row
    column: a pure projection, so no per-(keys, bin) count window and no
    sort.  ``entropy_agg`` folds the fixed-width histogram with one
    conditional sum per bin in the main codegen aggregate.  Requires
    ``attach_group_stats`` (VMAX/VMIN/_nrows)."""
    bins = ENTROPY_BINS
    width = (F.col(VMAX) - F.col(VMIN)) / bins
    bin_id = F.when(
        F.col(VMAX) > F.col(VMIN),
        F.least(F.floor((F.col(V) - F.col(VMIN)) / width), F.lit(bins - 1)),
    ).otherwise(F.lit(0))
    return df.withColumn("_bin", bin_id)


def entropy_agg() -> dict[str, Column]:
    """Shannon entropy of the histogram from ``ENTROPY_BINS`` conditional
    count sums (p_b = c_b / n, term −p_b·ln(p_b) per non-empty bin) —
    plain codegen aggregates, no per-bin window."""
    bins = ENTROPY_BINS
    n = F.max(F.col("_nrows")).cast("double")
    terms = None
    for b in range(bins):
        c_b = F.sum(F.when(F.col("_bin") == b, F.lit(1.0)))
        p_b = c_b / n
        t = F.coalesce(p_b * F.log(p_b), F.lit(0.0))
        terms = t if terms is None else terms + t
    return {f"binned_entropy_{bins}": -terms}


def attach_trend_cols(df: DataFrame, keys: list[str]) -> DataFrame:
    """Chunk id, chunk aggregate (max) and first-of-chunk flag as row
    columns, ``TREND_CHUNK_LEN`` rows a chunk. Requires
    ``attach_group_stats`` (RN).

    A chunk's rows are consecutive in the (keys, ORDER_COLS) sort, so
    the chunk max seen from its FIRST row is a forward row frame
    (0 .. chunk_len-1) on the ordered spec every other helper already
    uses: no per-(keys, chunk) window partition, no extra sort.
    Non-first rows get the max of the wrong frame, which is fine:
    ``trend_agg`` only reads ``_chunk_agg`` where ``_chunk_first``."""
    chunk_len = TREND_CHUNK_LEN
    wo_fwd = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in ORDER_COLS])
        .rowsBetween(Window.currentRow, chunk_len - 1)
    )
    chunk = F.floor((F.col(RN) - 1) / chunk_len)
    out = df.withColumn("_chunk", chunk.cast("long"))
    out = out.withColumn("_chunk_agg", F.max(V).over(wo_fwd))
    return out.withColumn("_chunk_first", ((F.col(RN) - 1) % chunk_len == 0).cast("int"))


def trend_agg() -> dict[str, Column]:
    """tsfresh agg_linear_trend(attr='slope', chunk_len=TREND_CHUNK_LEN,
    f_agg='max'): OLS slope of the chunk max on the chunk index over the
    first-of-chunk rows — regr_slope semantics (NULL for <2 chunks) from
    null-safe conditional sums."""
    chunk_len = TREND_CHUNK_LEN
    first = F.col("_chunk_first") == 1
    x = F.when(first, F.col("_chunk").cast("double"))
    y = F.when(first, F.col("_chunk_agg"))
    n = F.sum(F.col("_chunk_first")).cast("double")
    sx, sy = F.sum(x), F.sum(y)
    sxx, sxy = F.sum(x * x), F.sum(x * y)
    denom = n * sxx - sx * sx
    return {
        f"agg_linear_trend_slope_max_chunk{chunk_len}": (n * sxy - sx * sy)
        / F.when(F.abs(denom) > 0, denom)
    }
