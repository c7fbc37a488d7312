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
  as rank-sums: the ``value_rank`` helper ranks each row's value and
  two conditional sums per quantile pick and weight the interpolation
  neighbours (:func:`rank_quantile_agg`).
- ``autocorrelation(lag)`` uses the tsfresh estimator: global mean and
  population variance, divisor ``(n - lag) * var_pop``.

Row-level helper columns (group mean/std/extrema, lags, row numbers,
value ranks, ...) come from one registry, :data:`HELPERS`, and every
calculator names the helpers it reads in :func:`feature_registry` (the
reference's ``fc_parameters`` dict, calculate.py:103-112, with the
helpers as data).  :func:`feature_rollup` attaches exactly the closure
of the helpers a request reads, each once, one sort family at a time.
Every helper window partitions on the rollup keys (or a superset), so
the window shuffle is the *only* shuffle — the groupBy reuses the same
hash partitioning.
"""

from __future__ import annotations

from itertools import groupby

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

V = "value"
MU, SIG, VMAX, VMIN, RN, LAG1, LAG2 = "_mu", "_sigma", "_vmax", "_vmin", "_rn", "_lag1", "_lag2"
RNV, NV, BDIGIT = "_rnv", "_nv", "_bdigit"
VCNT, VFIRST, CUMABS, TOTABS, RNABS, QL, QH = (
    "_vcnt", "_vfirst", "_cumabs", "_totabs", "_rnabs", "_ql", "_qh"
)

ORDER_COLS = ("turn_idx", "ts")
PEAK_NS = (1, 3)
CHANGE_QL, CHANGE_QH = 0.25, 0.75
ENTROPY_BINS = 10
TREND_CHUNK_LEN = 3

UNBOUNDED = (Window.unboundedPreceding, Window.unboundedFollowing)
RUNNING = (Window.unboundedPreceding, Window.currentRow)


# --- helper columns ------------------------------------------------------
# Each builder returns the columns of one helper for the rollup ``keys``.
# All windows of one sort family share one (partition, order) spec, so
# the family sorts once: whole-partition aggregates use an explicit
# unbounded frame on the ordered spec instead of an unordered spec,
# which would need a sort of its own.

def _turn_order(keys: list[str]) -> Window:
    return Window.partitionBy(*keys).orderBy(*[F.col(c) for c in ORDER_COLS])


def _value_order(keys: list[str]) -> Window:
    return Window.partitionBy(*keys).orderBy(F.col(V).asc())


def _group_stats(keys: list[str], lags) -> dict[str, Column]:
    """Group mean/std/extrema/length, row number, ``_lag{n}`` for
    ``lags`` (1 and 2 always) and the neighbourhood maxima of
    number_peaks(n): a strict peak is above every neighbour within
    distance n on BOTH sides."""
    wo = _turn_order(keys)
    wf = wo.rowsBetween(*UNBOUNDED)
    cols = {
        MU: F.avg(V).over(wf),
        SIG: F.stddev_pop(V).over(wf),
        VMAX: F.max(V).over(wf),
        VMIN: F.min(V).over(wf),
        "_nrows": F.count(V).over(wf),
        RN: F.row_number().over(wo),
    }
    cols.update({f"_lag{lag}": F.lag(V, lag).over(wo) for lag in sorted(set(lags) | {1, 2})})
    for n in PEAK_NS:
        cols[f"_maxp{n}"] = F.max(V).over(wo.rowsBetween(-n, -1))
        cols[f"_maxf{n}"] = F.max(V).over(wo.rowsBetween(1, n))
    return cols


def _abs_mass(keys: list[str]) -> dict[str, Column]:
    """Running and total |x| in series order (index_mass_quantile)."""
    wo = _turn_order(keys)
    return {
        CUMABS: F.sum(F.abs(F.col(V))).over(wo.rowsBetween(*RUNNING)),
        TOTABS: F.sum(F.abs(F.col(V))).over(wo.rowsBetween(*UNBOUNDED)),
    }


def _strikes(keys: list[str]) -> dict[str, Column]:
    """The running above/below-mean strike length ending at each row:
    ``RN - RN(last break at or before the row)``, a running max on the
    series order, where a break is any row not above (below) the mean.
    It is 0 on a break row, and its maximum over an island is the
    island length, so the longest strike is its group max."""
    wo_cum = _turn_order(keys).rowsBetween(*RUNNING)
    cols = {}
    for suffix, flag in (("a", F.col(V) > F.col(MU)), ("b", F.col(V) < F.col(MU))):
        last_break = F.max(F.when(F.coalesce(flag.cast("int"), F.lit(0)) == 0, F.col(RN))).over(wo_cum)
        cols[f"_run{suffix}"] = F.col(RN) - F.coalesce(last_break, F.lit(0))
    return cols


def _trend(keys: list[str]) -> dict[str, Column]:
    """The max of the ``TREND_CHUNK_LEN`` rows starting at each row.  A
    chunk's rows are consecutive in series order, so seen from the
    chunk's FIRST row this forward row frame is the chunk max: no
    per-(keys, chunk) partition, no extra sort.  Other rows get the max
    of the wrong frame, which ``trend_agg`` never reads."""
    return {"_chunk_agg": F.max(V).over(_turn_order(keys).rowsBetween(Window.currentRow, TREND_CHUNK_LEN - 1))}


def _value_rank(keys: list[str]) -> dict[str, Column]:
    """``_rnv`` (rank among the group's non-null values in ascending
    value order) and ``_nv`` (non-null count), behind the exact rank-sum
    quantiles.  count() skips nulls, so a null row shares its
    predecessor's rank and contributes nothing to the conditional sums."""
    w = _value_order(keys)
    return {RNV: F.count(V).over(w.rowsBetween(*RUNNING)), NV: F.count(V).over(w.rowsBetween(*UNBOUNDED))}


def _value_count(keys: list[str]) -> dict[str, Column]:
    """Per-value multiplicity ``_vcnt`` (the row's RANGE peers in value
    order) and the first-occurrence flag ``_vfirst`` (first row, or a
    value not equal to its predecessor's).  Equal values are adjacent in
    value order and both the peer test and ``<=>`` treat -0.0 = 0.0,
    NaN = NaN and null = null as one value.  The flag lets every
    DISTINCT-flavored feature be a plain sum (sum(_vfirst) ==
    count(DISTINCT value), counting null), keeping Spark off the
    expand/gid distinct-aggregate rewrite (an extra exchange and a 3x
    row expand)."""
    w = _value_order(keys)
    return {
        VCNT: F.count("*").over(w.rangeBetween(Window.currentRow, Window.currentRow)),
        VFIRST: (F.row_number().over(w) == 1) | ~F.lag(V).over(w).eqNullSafe(F.col(V)),
    }


def _corridor(keys: list[str]) -> dict[str, Column]:
    """change_quantiles' corridor bounds as exact rank-sum windows: a
    percentile() window would buffer a per-group value map."""
    return {QL: rank_quantile_window(CHANGE_QL, keys), QH: rank_quantile_window(CHANGE_QH, keys)}


def _abs_rank(keys: list[str]) -> dict[str, Column]:
    """Row number in |x|-descending order (mean_n_absolute_max)."""
    order = [F.col(c) for c in ORDER_COLS]
    return {RNABS: F.row_number().over(Window.partitionBy(*keys).orderBy(F.abs(F.col(V)).desc(), *order))}


def _benford(keys: list[str]) -> dict[str, Column]:
    """Leading decimal digit of |value| (0 for zero), projected once per
    row: 2 transcendentals a row instead of 2 x 9 conditional aggregate
    branches.  floor(|x| / 10^floor(log10|x|)) agrees with tsfresh's
    string-scientific extraction except within 1 ulp below a power of
    ten."""
    absv = F.abs(F.col(V))
    digit = F.when(absv == 0, F.lit(0)).otherwise(
        F.floor(absv / F.pow(F.lit(10.0), F.floor(F.log10(absv)))).cast("int")
    )
    return {BDIGIT: digit}


def _entropy(keys: list[str]) -> dict[str, Column]:
    """Equal-width histogram bin id (``ENTROPY_BINS`` bins): a
    projection, so no per-(keys, bin) count window and no sort."""
    bins = ENTROPY_BINS
    width = (F.col(VMAX) - F.col(VMIN)) / bins
    return {
        "_bin": F.when(
            F.col(VMAX) > F.col(VMIN),
            F.least(F.floor((F.col(V) - F.col(VMIN)) / width), F.lit(bins - 1)),
        ).otherwise(F.lit(0))
    }


# helper -> (sort family, columns(keys), helpers its columns read)
HELPERS = {
    "value_rank": ("value", _value_rank, ()),
    "value_count": ("value", _value_count, ()),
    "corridor": ("value", _corridor, ("value_rank",)),
    "group_stats": ("turn", lambda keys: _group_stats(keys, (1, 2)), ()),
    "abs_mass": ("turn", _abs_mass, ()),
    "strikes": ("turn", _strikes, ("group_stats",)),
    "trend": ("turn", _trend, ()),
    "abs_rank": ("abs", _abs_rank, ()),
    "benford": ("row", _benford, ()),
    "entropy": ("row", _entropy, ("group_stats",)),
}

# Attach order.  The value family first: its sort then runs on the
# narrow input instead of dragging the ~12 series-order doubles through
# sorter memory.  "row" helpers are projections with no sort.  The last
# sort fixes the order in which the aggregates sum their rows (series
# order, or |x| order when abs_rank is attached), so reordering the
# families can move results in the last bits.  Window outputs depend
# only on partition contents and each spec's own order: a tied row's
# _rnv can permute under a different input order, but every consumer
# selects the VALUE at a rank hit and tied rows share it.
FAMILIES = ("value", "turn", "abs", "row")


def attach_helpers(df: DataFrame, keys: list[str], helpers) -> DataFrame:
    """Attach the closure of ``helpers`` (names of :data:`HELPERS`), each
    once: one ``withColumns`` per family, or one per dependency layer
    inside it where a window reads another window's output."""
    def closure(hs) -> set[str]:
        return set(hs).union(*(closure(HELPERS[h][2]) for h in hs))

    def slot(h: str) -> tuple[int, int]:
        fam, _, needs = HELPERS[h]
        return FAMILIES.index(fam), max((slot(n)[1] + 1 for n in needs if HELPERS[n][0] == fam), default=0)

    need = closure(helpers)
    for _, batch in groupby(sorted((h for h in HELPERS if h in need), key=slot), key=slot):
        df = df.withColumns({c: col for h in batch for c, col in HELPERS[h][1](keys).items()})
    return df


def attach_group_stats(df: DataFrame, keys: list[str], lags=(1, 2)) -> DataFrame:
    """The ``group_stats`` helper with ``_lag{n}`` for ``lags`` as well
    (:func:`autocorrelation_agg` at lags beyond 2)."""
    return df.withColumns(_group_stats(keys, lags))


def attach_value_rank(df: DataFrame, keys: list[str]) -> DataFrame:
    """The ``value_rank`` helper (``_rnv``, ``_nv``)."""
    return df.withColumns(_value_rank(keys))


def peaks_aggs() -> dict[str, Column]:
    """tsfresh number_peaks(n) for each n in ``PEAK_NS``: count of
    interior points strictly above all neighbours within distance n."""
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


def _rank_quantile_terms(q: float) -> tuple[Column, Column]:
    """The two conditional per-row terms whose group-sums reproduce
    Spark Percentile's interpolation arithmetic exactly: pos = q*(n-1)
    0-based, lower = floor(pos), higher = ceil(pos), result =
    lowerVal*(higher-pos) + higherVal*(pos-lower), single-row value
    when higher == lower."""
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
    on mega-groups)."""
    term_low, term_high = _rank_quantile_terms(q)
    return F.sum(term_low) + F.coalesce(F.sum(term_high), F.lit(0.0))


def rank_quantile_window(q: float, keys: list[str]) -> Column:
    """Per-row group-quantile column (window form of
    :func:`rank_quantile_agg`) on the value family's sort."""
    wvf = _value_order(keys).rowsBetween(*UNBOUNDED)
    term_low, term_high = _rank_quantile_terms(q)
    return F.sum(term_low).over(wvf) + F.coalesce(F.sum(term_high).over(wvf), F.lit(0.0))


def core_aggs() -> dict[str, Column]:
    """Closed-form aggregates that read no helper column."""
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
        # tsfresh variation_coefficient: σ_pop / mean, NaN-as-NULL on zero mean
        "variation_coefficient": F.when(
            F.avg(F.col(V)) != 0, F.stddev_pop(V) / F.avg(F.col(V))
        ),
    }


def mean_count_aggs() -> dict[str, Column]:
    """tsfresh count_above_mean / count_below_mean against the group
    mean ``_mu``."""
    return {
        "count_above_mean": F.sum((F.col(V) > F.col(MU)).cast("long")),
        "count_below_mean": F.sum((F.col(V) < F.col(MU)).cast("long")),
    }


# column name -> q of the default feature set's exact quantiles
QUANTILES = {
    "median": 0.5, "quantile_q05": 0.05, "quantile_q15": 0.15,
    "quantile_q85": 0.85, "quantile_q95": 0.95,
}


def quantile_aggs(qs: dict[str, float] = QUANTILES) -> dict[str, Column]:
    """tsfresh ``median``/``quantile(q)`` as rank-sums, one column per
    ``name -> q`` entry (README.md:112; tests/calculateFeatures.py:16)."""
    return {name: rank_quantile_agg(q) for name, q in qs.items()}


def moment_aggs() -> dict[str, Column]:
    """Bias-corrected skewness / kurtosis (pandas ``skew()``/``kurt()``
    semantics, the formulas tsfresh inherits).

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
    """Lag-based calculators."""
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
    A lag beyond 2 needs ``attach_group_stats(..., lags=(..., lag))``.
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
    (first n%s chunks one element longer)."""
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


def strike_aggs() -> dict[str, Column]:
    return {
        "longest_strike_above_mean": F.max(F.col("_runa")).cast("long"),
        "longest_strike_below_mean": F.max(F.col("_runb")).cast("long"),
    }


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


def trend_agg() -> dict[str, Column]:
    """tsfresh agg_linear_trend(attr='slope', chunk_len=TREND_CHUNK_LEN,
    f_agg='max'): OLS slope of the chunk max on the chunk index over the
    first-of-chunk rows — regr_slope semantics (NULL for <2 chunks) from
    null-safe conditional sums."""
    chunk_len = TREND_CHUNK_LEN
    first = (F.col(RN) - 1) % chunk_len == 0
    x = F.when(first, F.floor((F.col(RN) - 1) / chunk_len).cast("double"))
    y = F.when(first, F.col("_chunk_agg"))
    n = F.sum(first.cast("int")).cast("double")
    sx, sy = F.sum(x), F.sum(y)
    sxx, sxy = F.sum(x * x), F.sum(x * y)
    denom = n * sxx - sx * sx
    return {
        f"agg_linear_trend_slope_max_chunk{chunk_len}": (n * sxy - sx * sy)
        / F.when(F.abs(denom) > 0, denom)
    }


# --- the registry --------------------------------------------------------

def feature_registry(sets) -> dict[str, tuple[Column, tuple[str, ...]]]:
    """Feature name -> (aggregate, helpers it reads) for the name
    ``sets``, in output column order: tsfresh's ``fc_parameters`` dict
    (calculate.py:103-112) with each calculator's helper columns as
    data.  ``default`` is the reference's exercised set,
    ``strikes``/``trend``/``entropy`` the optional extras and ``ext`` the
    extended set of :mod:`features_ext`."""
    from ts_raster_spark.functions import features_ext as X  # X imports this module

    stats = ("group_stats",)
    table = {
        "default": (
            (core_aggs, ()),
            (quantile_aggs, ("value_rank",)),
            (mean_count_aggs, stats),
            (moment_aggs, stats),
            (ratio_beyond_r_sigma_aggs, stats),
            (large_standard_deviation_aggs, ()),
            (benford_agg, ("benford",)),
            (change_aggs, stats),
            (lambda: autocorrelation_agg(1), stats),
            (location_aggs, stats),
            (peaks_aggs, stats),
            (energy_ratio_agg, stats),
        ),
        "strikes": ((strike_aggs, ("strikes",)),),
        "trend": ((trend_agg, ("trend", "group_stats")),),
        "entropy": ((entropy_agg, ("entropy",)),),
        "ext": (
            (X.duplicate_aggs, ("value_count", "group_stats")),
            (X.count_aggs, ()),
            (X.mean_n_absolute_max_agg, ("abs_rank",)),
            (X.symmetry_looking_agg, ("value_rank",)),
            (X.index_mass_quantile_agg, ("abs_mass", "group_stats")),
            (X.fft_coefficient_aggs, stats),
            (X.change_quantiles_agg, ("corridor", "group_stats")),
            (X.partial_autocorrelation_agg, stats),
            (X.linear_trend_aggs, stats),
            (lambda: quantile_aggs({"quantile_q25": 0.25, "quantile_q75": 0.75}), ("value_rank",)),
        ),
    }
    return {name: (agg, helpers) for s in sets for build, helpers in table[s] for name, agg in build().items()}


def feature_rollup(df: DataFrame, keys: list[str], sets, names) -> DataFrame:
    """The one feature request path: one groupBy on ``keys`` of every
    calculator in the name ``sets`` (only ``names`` of them, unless None)
    over exactly the helpers those calculators read."""
    reg = feature_registry(sets)
    if names is not None:
        if unknown := sorted(set(names) - reg.keys()):
            raise ValueError(f"unknown feature names {unknown}; want names of the sets {list(sets)}")
        reg = {n: v for n, v in reg.items() if n in set(names)}
    df = attach_helpers(df, keys, {h for _, helpers in reg.values() for h in helpers})
    return df.groupBy(*keys).agg(*[agg.alias(n) for n, (agg, _) in reg.items()])
