"""DuckDB twins of the extended calculators (functions/features_ext.py).

Same numeric contracts, same helper-column construction: an
``ext_stats`` CTE layered on duck_features.stats_cte adds per-value
multiplicity, cumulative/total |x| mass, |x|-descending rank and the
change_quantiles corridor bounds, then every feature is one aggregate
expression over it.
"""

from __future__ import annotations

from ts_raster_spark.functions.features import CHANGE_QL, CHANGE_QH
from ts_raster_spark.sql.duck_features import r


def ext_stats_cte(keys: list[str], src: str = "stats") -> str:
    part = ", ".join(keys)
    return f"""
ext_stats AS (
    SELECT *,
        count(*) OVER (PARTITION BY {part}, value) AS vcnt,
        row_number() OVER (PARTITION BY {part}, value ORDER BY turn_idx, ts) AS vrn,
        sum(abs(value)) OVER (PARTITION BY {part} ORDER BY turn_idx, ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumabs,
        sum(abs(value)) OVER (PARTITION BY {part}) AS totabs,
        row_number() OVER (PARTITION BY {part} ORDER BY abs(value) DESC, turn_idx, ts) AS rnabs,
        quantile_cont(value, {CHANGE_QL}) OVER (PARTITION BY {part}) AS cq_ql,
        quantile_cont(value, {CHANGE_QH}) OVER (PARTITION BY {part}) AS cq_qh
    FROM {src}
)
"""


def _fft_k1() -> dict[str, str]:
    # same +-0-clamp / NULL-angle contract as features_ext (angle of FP
    # dust is engine-arbitrary)
    theta = "(2 * pi() * (rn - 1) / nrows)"
    re = f"sum(value * cos({theta}))"
    im = f"(-sum(value * sin({theta})))"
    ok = "count(value) >= 2"
    rec = f"(CASE WHEN abs({re}) < 1e-9 THEN 0.0 ELSE {re} END)"
    imc = f"(CASE WHEN abs({im}) < 1e-9 THEN 0.0 ELSE {im} END)"
    return {
        "fft_coefficient_k1_real": f"CASE WHEN {ok} THEN {re} END",
        "fft_coefficient_k1_imag": f"CASE WHEN {ok} THEN {im} END",
        "fft_coefficient_k1_abs": f"CASE WHEN {ok} THEN sqrt({re} * {re} + {im} * {im}) END",
        "fft_coefficient_k1_angle": (
            f"CASE WHEN {ok} AND sqrt({re} * {re} + {im} * {im}) >= 1e-9 "
            f"THEN degrees(atan2({imc}, {rec})) END"
        ),
    }


def _pacf2() -> str:
    g0 = "sum((value - mu) * (value - mu))"
    g1 = "sum(CASE WHEN lag1 IS NOT NULL THEN (value - mu) * (lag1 - mu) END)"
    g2 = "sum(CASE WHEN lag2 IS NOT NULL THEN (value - mu) * (lag2 - mu) END)"
    rho1 = f"({g1} / {g0})"
    rho2 = f"({g2} / {g0})"
    denom = f"(1.0 - {rho1} * {rho1})"
    return (
        f"CASE WHEN count(value) > 2 AND {g0} > 0 AND abs({denom}) > 1e-12 "
        f"THEN ({rho2} - {rho1} * {rho1}) / {denom} END"
    )


def _linear_trend() -> dict[str, str]:
    """Same population-moment closed forms as the Spark side (see
    features_ext.linear_trend_aggs: avoids corr/regr_* so both engines
    run the identical arithmetic)."""
    n = "CAST(count(value) AS DOUBLE)"
    cov = "(avg(value * (rn - 1)) - avg(value) * avg(rn - 1))"
    vx = "var_pop(rn - 1)"
    vy = "var_pop(value)"
    slope = f"({cov} / (CASE WHEN {vx} > 0 THEN {vx} END))"
    rv = (
        f"CASE WHEN count(value) > 1 THEN coalesce("
        f"{cov} / (CASE WHEN sqrt({vx} * {vy}) > 0 THEN sqrt({vx} * {vy}) END), 0.0) END"
    )
    se2 = (
        f"greatest(0.0, (1.0 - ({rv}) * ({rv})) * {vy} * {n} / ({n} - 2.0))"
        f" / ({n} * {vx})"
    )
    return {
        "linear_trend_slope": slope,
        "linear_trend_intercept": f"(avg(value) - {slope} * avg(rn - 1))",
        "linear_trend_rvalue": rv,
        "linear_trend_stderr": f"CASE WHEN count(value) > 2 THEN sqrt({se2}) END",
    }


EXT_EXPRS: dict[str, str] = {
    "has_duplicate": "CAST(max(vcnt) > 1 AS INTEGER)",
    "has_duplicate_max": "CAST(max(CASE WHEN value = vmax THEN vcnt END) > 1 AS INTEGER)",
    "has_duplicate_min": "CAST(max(CASE WHEN value = vmin THEN vcnt END) > 1 AS INTEGER)",
    "percentage_of_reoccurring_datapoints_to_all_datapoints": (
        "avg(CASE WHEN vcnt > 1 THEN 1.0 ELSE 0.0 END)"
    ),
    "percentage_of_reoccurring_values_to_all_values": (
        "sum(CASE WHEN vrn = 1 AND vcnt > 1 THEN 1.0 ELSE 0.0 END)"
        " / sum(CASE WHEN vrn = 1 THEN 1.0 ELSE 0.0 END)"
    ),
    "sum_of_reoccurring_values": (
        "coalesce(sum(CASE WHEN vrn = 1 AND vcnt > 1 THEN value END), 0.0)"
    ),
    "sum_of_reoccurring_data_points": "coalesce(sum(CASE WHEN vcnt > 1 THEN value END), 0.0)",
    "value_count_0": "sum(CASE WHEN value = 0 THEN 1 ELSE 0 END)",
    "range_count_m1_1": "sum(CASE WHEN value >= -1 AND value < 1 THEN 1 ELSE 0 END)",
    "mean_n_absolute_max_3": (
        "CASE WHEN count(value) > 3 THEN avg(CASE WHEN rnabs <= 3 THEN abs(value) END) END"
    ),
    # scale-relative quantized-difference boundary contract
    # (features_ext.symmetry_looking_agg)
    "symmetry_looking_r25": (
        "CAST((CASE WHEN greatest(0.25 * (max(value) - min(value)),"
        " abs(avg(value) - quantile_cont(value, 0.5))) > 0 "
        "THEN round((0.25 * (max(value) - min(value))"
        " - abs(avg(value) - quantile_cont(value, 0.5)))"
        " / greatest(0.25 * (max(value) - min(value)),"
        " abs(avg(value) - quantile_cont(value, 0.5))), 9) > 0 "
        "ELSE FALSE END) AS INTEGER)"
    ),
    "index_mass_quantile_q5": (
        "CASE WHEN max(totabs) > 0 THEN "
        "CAST(min(CASE WHEN cumabs >= 0.5 * totabs THEN rn END) AS DOUBLE) / count(value) END"
    ),
    "change_quantiles_ql25_qh75_abs_mean": (
        "CASE WHEN max(cq_ql) < max(cq_qh) THEN coalesce(avg("
        "CASE WHEN lag1 IS NOT NULL AND value BETWEEN cq_ql AND cq_qh "
        "AND lag1 BETWEEN cq_ql AND cq_qh THEN abs(value - lag1) END), 0.0) "
        "ELSE 0.0 END"
    ),
    "partial_autocorrelation_lag2": _pacf2(),
    "quantile_q25": "quantile_cont(value, 0.25)",
    "quantile_q75": "quantile_cont(value, 0.75)",
    **_fft_k1(),
    **_linear_trend(),
}

EXT_INT_SQL = {
    "has_duplicate",
    "has_duplicate_max",
    "has_duplicate_min",
    "value_count_0",
    "range_count_m1_1",
    "symmetry_looking_r25",
}


def ext_feature_select(features: list[str], keys: list[str]) -> str:
    cols = list(keys)
    for f in features:
        e = EXT_EXPRS[f]
        cols.append(f"CAST(({e}) AS BIGINT) AS {f}" if f in EXT_INT_SQL else r(e, f))
    return ",\n        ".join(cols)
