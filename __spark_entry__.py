"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator names (SURVEY.md §2) to Spark builders from
:mod:`ts_raster_spark.queries`; ``oracle_sql()`` carries the equivalent
DuckDB SQL over the same parquet tables, built from the shared CTE
prefixes in :mod:`ts_raster_spark.sql`. Both sides apply one
normalization contract (doubles rounded to 4 decimals, timestamps
rendered as strings) so the driver's order-insensitive value hash
compares exactly.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the driver may import this module by file path; make the sibling
# package importable regardless of the caller's sys.path
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from ts_raster_spark import queries as Q
from ts_raster_spark.operators.holt import holt_oracle_sql
from ts_raster_spark.operators.ml_prep import frac_hex
from ts_raster_spark.operators.projection import projection_sql as _proj_sql
from ts_raster_spark.sql import duck_docs as DD
from ts_raster_spark.sql.duck_features import autocorr_sql, feature_select, r, sql_r4, stats_cte
from ts_raster_spark.sql.oracle_prefix import LONG_CTE, TURNS_CTE

TS_FMT = "%Y-%m-%d %H:%M:%S"
TS_FMT_US = "%Y-%m-%d %H:%M:%S.%f"

_FULL = [
    "turn_count", "mean", "maximum", "minimum", "sum_values", "median",
    "variance", "standard_deviation", "abs_energy", "root_mean_square",
    "mean_change", "count_above_mean", "count_below_mean",
    "quantile_q05", "quantile_q15", "quantile_q85", "quantile_q95",
    "skewness", "kurtosis", "ratio_beyond_r_sigma_r2", "ratio_beyond_r_sigma_r3",
    "large_standard_deviation_r25", "mean_abs_change",
    "mean_second_derivative_central", "autocorrelation_lag1",
    "last_location_of_maximum", "first_location_of_maximum",
    "last_location_of_minimum", "first_location_of_minimum",
    "variation_coefficient", "absolute_sum_of_changes", "cid_ce",
    "c3_lag1", "time_reversal_asymmetry_lag1",
    "number_peaks_n1", "number_peaks_n3", "number_crossing_0",
    "benford_correlation", "energy_ratio_chunk0_of10",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hour-tier full feature rollup over text_len + latency
    channels on sf0.001 (the end-to-end raw→rollup slice)."""
    return Q.q_rollup_hour_full(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query, by name. The order matters: the driver's
    correctness artifact records only the first 50 entries, so those
    must span every operator surface; an entry may sit past 50 only if
    an in-window sibling runs the same surface. The local gate
    (tools/check_correctness.py) runs the whole dict."""
    return {
        "turns_derivation": Q.q_turns_derivation,
        "conv_features_ext": Q.q_conv_features_ext,
        "kernel_features_cwt": Q.q_kernel_features_cwt,
        "compress_roundtrip": Q.q_compress_roundtrip,
        "time_weighted_avg": Q.q_time_weighted_avg,
        "counter_rate_hour": Q.q_counter_rate_hour,
        "state_durations": Q.q_state_durations,
        "heartbeat_uptime": Q.q_heartbeat_uptime,
        "pack_documents": Q.q_pack_documents,
        "curate_corpus": Q.q_curate_corpus,
        "late_data_merge_hour": Q.q_late_data_merge_hour,
        "sketch_merge_retention": Q.q_sketch_merge_retention,
        "sketch_kll_hour": Q.q_sketch_kll_hour,
        "mg_top_tools_hour": Q.q_mg_top_tools_hour,
        "dedup_keep_canonical": Q.q_dedup_keep_canonical,
        "repetition_stats": Q.q_repetition_stats,
        "duplicate_lines": Q.q_duplicate_lines,
        "embedding_quantize": Q.q_embedding_quantize,
        "hll_users_hour": Q.q_hll_users_hour,
        "stream_dedup_exact": Q.q_stream_dedup_exact,
        "moving_stats_time": Q.q_moving_stats_time,
        "ema_turns": Q.q_ema_turns,
        "lttb_downsample": Q.q_lttb_downsample,
        "asof_tolerance": Q.q_asof_tolerance,
        "sliding_counts_hll": Q.q_sliding_counts_hll,
        "m4_downsample": Q.q_m4_downsample,
        "theil_sen_trend": Q.q_theil_sen_trend,
        "cms_ngram_counts": Q.q_cms_ngram_counts,
        "interval_join_bursts": Q.q_interval_join_bursts,
        "funnel_tools": Q.q_funnel_tools,
        "embedding_project": Q.q_embedding_project,
        "stream_sliding_counts": Q.q_stream_sliding_counts,
        "stream_session_windows": Q.q_stream_session_windows,
        "anomaly_turns": Q.q_anomaly_turns,
        "ann_ivf": Q.q_ann_ivf,
        "moving_stats": Q.q_moving_stats,
        "sample_turns": Q.q_sample_turns,
        "unmask_conv_counts": Q.q_unmask_conv_counts,
        "rollup_minute_core": Q.q_rollup_minute_core,
        "rollup_day_full": Q.q_rollup_day_full,
        "cascade_day_from_minute": Q.q_cascade_day_from_minute,
        "dedup_embedding_cosine": Q.q_dedup_embedding_cosine,
        "latency_stats_hour": Q.q_latency_stats_hour,
        "turn_count_hour": Q.q_turn_count_hour,
        "gapfill_sentinel_hour": Q.q_gapfill_sentinel_hour,
        "autocorr_lags": Q.q_autocorr_lags,
        "feature_names_dim": Q.q_feature_names_dim,
        "feature_relevance": Q.q_feature_relevance,
        "sketch_kll_day": Q.q_sketch_kll_day,
        "mg_top_tools_day": Q.q_mg_top_tools_day,
        # ---- end of the driver window (first 50) ----
        "rollup_hour_full": Q.q_rollup_hour_full,
        "conv_features": Q.q_conv_features,
        "asof_join": Q.q_asof_join,
        "stratified_sample": Q.q_stratified_sample,
        "moving_quantiles": Q.q_moving_quantiles,
        "feature_relevance_fdr": Q.q_feature_relevance_fdr,
        "mask_rollup_hour": Q.q_mask_rollup_hour,
        "cascade_hour_from_minute": Q.q_cascade_hour_from_minute,
        "gapfill_locf_hour": Q.q_gapfill_locf_hour,
        "decontaminate": Q.q_decontaminate,
        "chunk_documents": Q.q_chunk_documents,
        "dedup_minhash_lsh": Q.q_dedup_minhash_lsh,
        "ann_signlsh": Q.q_ann_signlsh,
        "tfidf_top_terms": Q.q_tfidf_top_terms,
        "stream_stateful_counts": Q.q_stream_stateful_counts,
        "sketch_quantile_hour": Q.q_sketch_quantile_hour,
        "long_panel": Q.q_long_panel,
        "dedup_components": Q.q_dedup_components,
        "retention_ttl_hour": Q.q_retention_ttl_hour,
        "role_tool_mix_conv": Q.q_role_tool_mix_conv,
        "panel_lag1": Q.q_panel_lag1,
        "gapfill_linear_hour": Q.q_gapfill_linear_hour,
        "dedup_exact": Q.q_dedup_exact,
        "dedup_ngram_jaccard": Q.q_dedup_ngram_jaccard,
        "dedup_simhash": Q.q_dedup_simhash,
        "ann_topk_cosine": Q.q_ann_topk_cosine,
        "dedup_embedding_cosine_blocked": Q.q_dedup_embedding_cosine_blocked,
        "lang_id": Q.q_lang_id,
        "token_stats": Q.q_token_stats,
        "quality_score": Q.q_quality_score,
        "fingerprint": Q.q_fingerprint,
        "train_test_split": Q.q_train_test_split,
        "minmax_scale": Q.q_minmax_scale,
        "combine_periods": Q.q_combine_periods,
        "wide_to_long_panel": Q.q_wide_to_long_panel,
        "balanced_panel_check": Q.q_balanced_panel_check,
        "export_wide_features": Q.q_export_wide_features,
        "session_windows": Q.q_session_windows,
        "stream_rollup_minute": Q.q_stream_rollup_minute,
        "mg_ngrams_hour": Q.q_mg_ngrams_hour,
        "decontaminate_bloom": Q.q_decontaminate_bloom,
        "rollup_grouping_sets": Q.q_rollup_grouping_sets,
        "kmv_retention_hour": Q.q_kmv_retention_hour,
        "cusum_changepoints": Q.q_cusum_changepoints,
        "seasonal_anomaly_hour": Q.q_seasonal_anomaly_hour,
        "tool_corr_hour": Q.q_tool_corr_hour,
        "mann_kendall_trend": Q.q_mann_kendall_trend,
        "psi_drift_day": Q.q_psi_drift_day,
        "tool_leadlag_hour": Q.q_tool_leadlag_hour,
        "decompose_hourly": Q.q_decompose_hourly,
        "holt_smoothing": Q.q_holt_smoothing,
        "cms_ngram_counts_day": Q.q_cms_ngram_counts_day,
        "cohort_retention": Q.q_cohort_retention,
        "new_convs_hour": Q.q_new_convs_hour,
        "ohlc_hour": Q.q_ohlc_hour,
        "rollup_5min": Q.q_rollup_5min,
        "top_tools_hour": Q.q_top_tools_hour,
        "sliding_counts": Q.q_sliding_counts,
    }


def _cms_ngram_sql(d: int = 4, w: int = 256, tier: str = "hour",
                   min_cnt: int = 2) -> str:
    """Twin of queries.q_cms_ngram_counts{{,_day}}. Build cells,
    estimate, and bound flag all replay the SAME md5 integer
    arithmetic Spark executes (functions/hllsql.py), so the CMS
    estimates are bit-identical — an ordinary value-hash oracle, not a
    claim.  For the day query the twin builds day cells DIRECTLY while
    Spark merges hour cells upward: equality == the mergeable-summaries
    closure, verified cross-engine."""
    from ts_raster_spark.functions import hllsql as H

    return f"""{TURNS_CTE},
toks AS (
    SELECT ts,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
    FROM turns
),
ng AS (
    SELECT ts,
        unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS ngram
    FROM toks WHERE len(tk) >= 2
),
hb AS (SELECT date_trunc('{tier}', ts) AS b, ngram FROM ng),
rows_ AS (SELECT CAST(unnest(range({d})) AS INTEGER) AS row),
ex AS (
    SELECT hb.b, r.row,
        {H.md5_expr("hb.ngram || '|' || CAST(r.row AS STRING)")} AS h
    FROM hb CROSS JOIN rows_ r
),
cpos AS (SELECT b, row, CAST({H.hash32_expr('h')} % {w} AS INTEGER) AS pos FROM ex),
cells AS (SELECT b, row, pos, CAST(count(*) AS BIGINT) AS c FROM cpos GROUP BY 1, 2, 3),
exact AS (SELECT b, ngram, CAST(count(*) AS BIGINT) AS cnt FROM hb GROUP BY 1, 2),
probes AS (SELECT b, ngram, cnt FROM exact WHERE cnt >= {min_cnt}),
pex AS (
    SELECT p.b, p.ngram, p.cnt, r.row,
        {H.md5_expr("p.ngram || '|' || CAST(r.row AS STRING)")} AS h
    FROM probes p CROSS JOIN rows_ r
),
ppos AS (
    SELECT b, ngram, cnt, row,
        CAST({H.hash32_expr('h')} % {w} AS INTEGER) AS pos
    FROM pex
),
est AS (
    SELECT pp.b, pp.ngram, pp.cnt, min(coalesce(c.c, 0)) AS est
    FROM ppos pp
    LEFT JOIN cells c ON c.b = pp.b AND c.row = pp.row AND c.pos = pp.pos
    GROUP BY 1, 2, 3
)
SELECT strftime(b, '{TS_FMT}') AS bucket_start, ngram, cnt, CAST(est AS BIGINT) AS est,
    CAST(CASE WHEN est >= cnt THEN 1 ELSE 0 END AS INTEGER) AS ok_lower
FROM est
"""


def _kmv_retention_sql(k: int = 64) -> str:
    """Twin of queries.q_kmv_retention_hour. The sketch (k smallest
    md5 hex per bucket) and every estimator are the SAME SQL text
    Spark executes (functions/kmvsql.py), so the set-algebra estimates
    replay exactly — an ordinary value-hash oracle, not a claim."""
    from ts_raster_spark.functions import kmvsql as KV

    frac = KV.fraction_expr("h")
    d_union = KV.distinct_est_expr("agg.n_kept", "agg.v_max", k)
    d_inter = KV.scaled_est_expr("agg.n_both", "agg.n_kept", d_union)
    d_curr = f"coalesce({KV.distinct_est_expr('ea.n_kept', 'ea.v_max', k)}, 0.0)"
    d_prev = f"coalesce({KV.distinct_est_expr('eb.n_kept', 'eb.v_max', k)}, 0.0)"
    return f"""{TURNS_CTE},
cur AS (SELECT DISTINCT date_trunc('hour', ts) AS b, {KV.md5_expr('conv_id')} AS h FROM turns),
prv AS (SELECT DISTINCT date_trunc('hour', ts) + INTERVAL 1 HOUR AS b, {KV.md5_expr('conv_id')} AS h FROM turns),
ska AS (SELECT b, h FROM (SELECT b, h, row_number() OVER (PARTITION BY b ORDER BY h) AS r FROM cur) x WHERE r <= {k}),
skb AS (SELECT b, h FROM (SELECT b, h, row_number() OVER (PARTITION BY b ORDER BY h) AS r FROM prv) x WHERE r <= {k}),
merged AS (
    SELECT b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT b, h, 1 AS in_a, 0 AS in_b FROM ska
        UNION ALL
        SELECT b, h, 0 AS in_a, 1 AS in_b FROM skb
    ) u GROUP BY b, h),
top AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY b ORDER BY h) AS r FROM merged) x WHERE r <= {k}),
agg AS (SELECT b, CAST(count(*) AS BIGINT) AS n_kept, max({frac}) AS v_max,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_both FROM top GROUP BY b),
ea AS (SELECT b, CAST(count(*) AS BIGINT) AS n_kept, max({frac}) AS v_max FROM ska GROUP BY b),
eb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_kept, max({frac}) AS v_max FROM skb GROUP BY b)
SELECT strftime(agg.b, '{TS_FMT}') AS bucket_start,
    {sql_r4(d_curr)} AS d_curr,
    {sql_r4(d_prev)} AS d_prev,
    {sql_r4(d_union)} AS d_union,
    {sql_r4(d_inter)} AS d_inter,
    {sql_r4(f'greatest(0.0, {d_curr} - {d_inter})')} AS d_curr_only,
    {sql_r4(f'{d_inter} / {d_union}')} AS jaccard
FROM agg
LEFT JOIN ea ON ea.b = agg.b
LEFT JOIN eb ON eb.b = agg.b
"""


def _hll_users_hour_sql() -> str:
    """Twin of queries.q_hll_users_hour. The register math is the SAME
    SQL text Spark executes (functions/hllsql.py); direct and
    minute-merged estimates are algebraically equal, so the oracle
    computes the expression once and emits it under both names."""
    from ts_raster_spark.functions import hllsql as H

    est = H.estimate_expr("n_present", "sum_inv")
    return f"""{TURNS_CTE},
hashed AS (
    SELECT date_trunc('hour', ts) AS bucket_start, conv_id,
        {H.md5_expr("conv_id")} AS h
    FROM turns
),
hv AS (SELECT bucket_start, {H.hash32_expr("h")} AS h32 FROM hashed),
regs AS (
    SELECT bucket_start, {H.bucket_expr("h32")} AS bucket,
        max({H.rho_expr(H.w_expr("h32"))}) AS register
    FROM hv GROUP BY 1, 2
),
agg AS (
    SELECT bucket_start, count(*) AS n_present,
        sum(power(0.5, register)) AS sum_inv
    FROM regs GROUP BY 1
),
ex AS (
    SELECT date_trunc('hour', ts) AS bucket_start,
        CAST(count(DISTINCT conv_id) AS BIGINT) AS n_exact
    FROM turns GROUP BY 1
)
SELECT strftime(ex.bucket_start, '{TS_FMT}') AS bucket_start, ex.n_exact,
    round({est}, 4) AS hll_estimate,
    round({est}, 4) AS hll_from_fine
FROM ex JOIN agg USING (bucket_start)
"""


def _sliding_counts_hll_sql() -> str:
    """Twin of queries.q_sliding_counts_hll: the register math is the
    SAME SQL text Spark executes (functions/hllsql.py); registers are
    built at the 15-minute grain and expanded/max-merged into the 4
    covering hopping windows, exactly like the engine's scale path."""
    from ts_raster_spark.functions import hllsql as H

    est = H.estimate_expr("n_present", "sum_inv")
    return f"""{TURNS_CTE},
b AS (
    SELECT CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS b15, conv_id
    FROM turns
),
hashed AS (SELECT b15, conv_id, {H.md5_expr("conv_id")} AS h FROM b),
hv AS (SELECT b15, {H.hash32_expr("h")} AS h32 FROM hashed),
regs AS (
    SELECT b15, {H.bucket_expr("h32")} AS bucket,
        max({H.rho_expr(H.w_expr("h32"))}) AS register
    FROM hv GROUP BY 1, 2
),
ks AS (SELECT unnest(range(4)) AS k),
regs_x AS (
    SELECT to_timestamp(r.b15 - ks.k * 900) AS window_start, r.bucket, r.register
    FROM regs r CROSS JOIN ks
),
merged AS (
    SELECT window_start, bucket, max(register) AS register
    FROM regs_x GROUP BY 1, 2
),
agg AS (
    SELECT window_start, count(*) AS n_present,
        sum(power(0.5, register)) AS sum_inv
    FROM merged GROUP BY 1
),
cnts AS (SELECT b15, count(*) AS n FROM b GROUP BY 1),
cnts_x AS (
    SELECT to_timestamp(c.b15 - ks.k * 900) AS window_start, c.n
    FROM cnts c CROSS JOIN ks
),
nt AS (
    SELECT window_start, CAST(sum(n) AS BIGINT) AS n_turns
    FROM cnts_x GROUP BY 1
)
SELECT strftime(nt.window_start, '{TS_FMT}') AS window_start, nt.n_turns,
    round({est}, 4) AS hll_convs
FROM nt JOIN agg USING (window_start)
"""


def _tier_rollup_sql(tier: str, kinds: list[str], features: list[str]) -> str:
    kl = ", ".join(f"'{k}'" for k in kinds)
    sel = feature_select(
        features,
        keys=["conv_id", "kind", "bucket_start"],
        key_exprs=[
            "conv_id",
            "kind",
            f"strftime(bucket_start, '{TS_FMT}') AS bucket_start",
        ],
    )
    return f"""{LONG_CTE},
base AS (
    SELECT conv_id, kind, date_trunc('{tier}', ts) AS bucket_start, turn_idx, ts, value
    FROM long_panel WHERE kind IN ({kl})
),
{stats_cte(["conv_id", "kind", "bucket_start"], src="base")}
SELECT {sel}
FROM stats
GROUP BY conv_id, kind, bucket_start
"""


def _conv_features_sql() -> str:
    sel = feature_select(_FULL, keys=["conv_id", "kind"])
    return f"""{LONG_CTE},
base AS (
    SELECT conv_id, kind, turn_idx, ts, value FROM long_panel WHERE kind = 'text_len'
),
{stats_cte(["conv_id", "kind"], src="base")},
flagged AS (
    SELECT *,
        CASE WHEN value > mu THEN 1 ELSE 0 END AS flga,
        CASE WHEN value < mu THEN 1 ELSE 0 END AS flgb,
        rn - row_number() OVER (PARTITION BY conv_id, kind, CASE WHEN value > mu THEN 1 ELSE 0 END ORDER BY turn_idx, ts) AS isla,
        rn - row_number() OVER (PARTITION BY conv_id, kind, CASE WHEN value < mu THEN 1 ELSE 0 END ORDER BY turn_idx, ts) AS islb
    FROM stats
),
runs_a AS (
    SELECT conv_id, kind, isla AS island, count(*) AS run FROM flagged WHERE flga = 1 GROUP BY 1, 2, 3
),
runs_b AS (
    SELECT conv_id, kind, islb AS island, count(*) AS run FROM flagged WHERE flgb = 1 GROUP BY 1, 2, 3
),
strikes AS (
    SELECT k.conv_id, k.kind,
        coalesce((SELECT max(run) FROM runs_a a WHERE a.conv_id = k.conv_id AND a.kind = k.kind), 0) AS longest_strike_above_mean,
        coalesce((SELECT max(run) FROM runs_b b WHERE b.conv_id = k.conv_id AND b.kind = k.kind), 0) AS longest_strike_below_mean
    FROM (SELECT DISTINCT conv_id, kind FROM base) k
),
chunks AS (
    SELECT conv_id, kind, CAST(floor((rn - 1) / 3) AS BIGINT) AS chunk, max(value) AS chunk_agg
    FROM stats GROUP BY 1, 2, 3
),
trend AS (
    SELECT conv_id, kind, round(regr_slope(chunk_agg, chunk), 4) AS agg_linear_trend_slope_max_chunk3
    FROM chunks GROUP BY 1, 2
),
binc AS (
    SELECT conv_id, kind,
        CASE WHEN vmax > vmin
             THEN least(CAST(floor((value - vmin) / ((vmax - vmin) / 10)) AS INTEGER), 9)
             ELSE 0 END AS bin,
        count(*)::DOUBLE AS c
    FROM stats GROUP BY 1, 2, 3
),
binp AS (
    SELECT conv_id, kind, c / sum(c) OVER (PARTITION BY conv_id, kind) AS p FROM binc
),
entropy AS (
    SELECT conv_id, kind, round(-sum(p * ln(p)), 4) AS binned_entropy_10
    FROM binp GROUP BY 1, 2
),
feats AS (
    SELECT {sel}
    FROM stats GROUP BY conv_id, kind
)
SELECT f.*, s.longest_strike_above_mean, s.longest_strike_below_mean,
       t.agg_linear_trend_slope_max_chunk3, e.binned_entropy_10
FROM feats f
LEFT JOIN strikes s ON f.conv_id = s.conv_id AND f.kind = s.kind
LEFT JOIN trend t ON f.conv_id = t.conv_id AND f.kind = t.kind
LEFT JOIN entropy e ON f.conv_id = e.conv_id AND f.kind = e.kind
"""


def _conv_features_ext_sql() -> str:
    """Twin of queries.q_conv_features_ext (extended tsfresh dictionary,
    sql/duck_features_ext.py carries the per-feature expressions)."""
    from ts_raster_spark.sql.duck_features_ext import (
        EXT_EXPRS,
        ext_feature_select,
        ext_stats_cte,
    )

    sel = ext_feature_select(list(EXT_EXPRS), keys=["conv_id", "kind"])
    return f"""{LONG_CTE},
base AS (
    SELECT conv_id, kind, turn_idx, ts, value FROM long_panel
    WHERE kind IN ('text_len', 'value')
),
{stats_cte(["conv_id", "kind"], src="base")},
{ext_stats_cte(["conv_id", "kind"])}
SELECT {sel}
FROM ext_stats
GROUP BY conv_id, kind
"""


def _gapfill_sql(policy: str) -> str:
    if policy == "locf":
        fill = (
            "last_value(value IGNORE NULLS) OVER "
            "(PARTITION BY conv_id, kind ORDER BY bucket_start "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        filled_cte = f"filled AS (SELECT conv_id, kind, bucket_start, {fill} AS value, observed FROM dense)"
    elif policy == "sentinel":
        filled_cte = "filled AS (SELECT conv_id, kind, bucket_start, coalesce(value, -9999.0) AS value, observed FROM dense)"
    else:  # linear
        filled_cte = """
brackets AS (
    SELECT *,
        last_value(value IGNORE NULLS) OVER w_back AS pv,
        last_value(CASE WHEN value IS NOT NULL THEN epoch(bucket_start) END IGNORE NULLS) OVER w_back AS pt,
        first_value(value IGNORE NULLS) OVER w_fwd AS nv,
        first_value(CASE WHEN value IS NOT NULL THEN epoch(bucket_start) END IGNORE NULLS) OVER w_fwd AS nt
    FROM dense
    WINDOW
        w_back AS (PARTITION BY conv_id, kind ORDER BY bucket_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fwd AS (PARTITION BY conv_id, kind ORDER BY bucket_start ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
filled AS (
    SELECT conv_id, kind, bucket_start,
        CASE WHEN value IS NOT NULL THEN value
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (epoch(bucket_start) - pt) / (nt - pt)
        END AS value,
        observed
    FROM brackets
)"""
    return f"""{LONG_CTE},
points AS (
    SELECT conv_id, kind, date_trunc('hour', ts) AS bucket_start, avg(value) AS value
    FROM long_panel WHERE kind = 'text_len' GROUP BY 1, 2, 3
),
spans AS (
    SELECT conv_id, kind, min(bucket_start) AS b0, max(bucket_start) AS b1 FROM points GROUP BY 1, 2
),
grid AS (
    SELECT conv_id, kind, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket_start FROM spans
),
dense AS (
    SELECT g.conv_id, g.kind, g.bucket_start, p.value,
        CASE WHEN p.value IS NOT NULL THEN 1 ELSE 0 END AS observed
    FROM grid g LEFT JOIN points p
        ON g.conv_id = p.conv_id AND g.kind = p.kind AND g.bucket_start = p.bucket_start
),
{filled_cte}
SELECT conv_id, kind, strftime(bucket_start, '{TS_FMT}') AS bucket_start,
       round(value, 4) AS value, observed
FROM filled
"""


_CASCADE_COLS = f"""
    count(value) AS turn_count,
    {sql_r4('sum(value)')} AS sum_values,
    {sql_r4('sum(value * value)')} AS sum_squares,
    {sql_r4('min(value)')} AS minimum,
    {sql_r4('max(value)')} AS maximum,
    {sql_r4('avg(value)')} AS mean,
    {sql_r4('var_pop(value)')} AS variance
"""


def _fdr_oracle_sql() -> str:
    """checkRelevance FDR twin: Pearson p-values via a recursive-CTE
    incomplete beta + the BH step-up (sql/duck_stats.py)."""
    from ts_raster_spark.sql.duck_stats import pearson_fdr_sql

    xy_cte = f"""{TURNS_CTE},
xy AS (
    SELECT conv_id, CAST(count(*) AS DOUBLE) AS n_turns, avg(length(text)) AS mean_text_len,
        avg(CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END) AS tool_share,
        CAST(max(length(text)) AS DOUBLE) AS max_text_len, avg(value) AS y
    FROM turns GROUP BY conv_id
)"""
    return pearson_fdr_sql(
        xy_cte, ["n_turns", "mean_text_len", "tool_share", "max_text_len"], "y", 0.05
    )


def _closes_round_call(sql: str, close_idx: int) -> bool:
    """True iff the ``)`` at ``close_idx`` closes a ``round(`` call —
    walk back to the matching ``(`` and read the identifier before it."""
    depth = 0
    i = close_idx
    while i >= 0:
        c = sql[i]
        if c == ")":
            depth += 1
        elif c == "(":
            depth -= 1
            if depth == 0:
                j = i - 1
                while j >= 0 and (sql[j].isalnum() or sql[j] == "_"):
                    j -= 1
                return sql[j + 1 : i].lower() == "round"
        i -= 1
    return False


def _nudge_rounds(sql: str) -> str:
    """Apply the +1e-9 rounding nudge and the signed-zero normalizer
    (functions/norm.py contract) to every plain round(x, 4) in an oracle
    query; sql_r4-generated sites already carry both. Each candidate
    ``, 4)`` site is VERIFIED to close a round() call (balanced-paren
    backward scan) — a ``, 4)`` that is anything else (substr bound,
    4th function argument, …) raises instead of silently corrupting the
    oracle."""
    import re

    out: list[str] = []
    last = 0
    for m in re.finditer(r", 4\)", sql):
        s, e = m.span()
        if sql[max(0, s - 4) : s] == "1e-9":
            continue  # sql_r4-generated site, already nudged
        if not _closes_round_call(sql, e - 1):
            snippet = sql[max(0, s - 40) : e + 10].replace("\n", " ")
            raise ValueError(
                f"_nudge_rounds: ', 4)' at offset {s} does not close a "
                f"round() call — refusing to rewrite: …{snippet}…"
            )
        out.append(sql[last:s])
        out.append(" + 1e-9, 4) + 0.0")
        last = e
    out.append(sql[last:])
    return "".join(out)


def oracle_sql() -> dict[str, str]:
    return {k: _nudge_rounds(v) for k, v in _oracle_sql_raw().items()}


def _oracle_sql_raw() -> dict[str, str]:
    return {
        "turns_derivation": f"""{TURNS_CTE}
SELECT conv_id, turn_idx, role, text, tool, strftime(ts, '{TS_FMT_US}') AS ts FROM turns
""",
        "long_panel": f"""{LONG_CTE}
SELECT conv_id, turn_idx, strftime(ts, '{TS_FMT_US}') AS ts, kind, round(value, 4) AS value
FROM long_panel
""",
        "rollup_minute_core": _tier_rollup_sql(
            "minute",
            ["text_len"],
            ["turn_count", "mean", "maximum", "minimum", "sum_values", "median",
             "variance", "standard_deviation", "abs_energy"],
        ),
        "rollup_hour_full": _tier_rollup_sql("hour", ["text_len", "latency_s"], _FULL),
        # round 4: value-checked compression — the twin recomputes the
        # DECODED stream's aggregates from the raw long panel, so an
        # encode/decode corruption breaks the value hash (the binary
        # blocks themselves stay pytest+hypothesis-proven bit-exact)
        "compress_roundtrip": f"""{LONG_CTE}
SELECT conv_id, kind,
    CAST(count(*) AS BIGINT) AS n_points,
    {sql_r4("sum(value)")} AS sum_decoded,
    {sql_r4("min(value)")} AS min_decoded,
    {sql_r4("max(value)")} AS max_decoded,
    strftime(min(ts), '{TS_FMT_US}') AS first_ts,
    strftime(max(ts), '{TS_FMT_US}') AS last_ts,
    CAST(count(*) AS BIGINT) AS n_orig,
    {sql_r4("sum(value)")} AS sum_orig,
    CAST(1 AS INTEGER) AS roundtrip_ok
FROM long_panel WHERE kind IN ('text_len', 'latency_s')
GROUP BY conv_id, kind
""",
        "rollup_day_full": _tier_rollup_sql("day", ["text_len", "value"], _FULL),
        "conv_features": _conv_features_sql(),
        "latency_stats_hour": _tier_rollup_sql(
            "hour",
            ["latency_s"],
            ["turn_count", "mean", "maximum", "minimum", "standard_deviation",
             "median", "quantile_q95"],
        ),
        "role_tool_mix_conv": f"""{TURNS_CTE}
SELECT conv_id,
    count(*) AS n_turns,
    round(avg(CASE WHEN role = 'assistant' THEN 1.0 ELSE 0.0 END), 4) AS assistant_share,
    round(avg(CASE WHEN role = 'user' THEN 1.0 ELSE 0.0 END), 4) AS user_share,
    round(avg(CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS tool_share,
    count(DISTINCT tool) AS n_distinct_tools
FROM turns GROUP BY conv_id
""",
        "turn_count_hour": f"""{TURNS_CTE}
SELECT conv_id, strftime(date_trunc('hour', ts), '{TS_FMT}') AS bucket_start,
       count(*) AS turn_count
FROM turns GROUP BY conv_id, date_trunc('hour', ts)
""",
        "mask_rollup_hour": f"""{LONG_CTE},
filtered AS (
    SELECT * FROM long_panel
    WHERE kind = 'text_len' AND CAST(substr(conv_id, 6, 10) AS INTEGER) % 2 = 0
)
SELECT conv_id, kind, strftime(date_trunc('hour', ts), '{TS_FMT}') AS bucket_start,
    count(value) AS turn_count,
    round(avg(value), 4) AS mean,
    round(max(value), 4) AS maximum,
    round(min(value), 4) AS minimum
FROM filtered GROUP BY conv_id, kind, date_trunc('hour', ts)
""",
        "unmask_conv_counts": f"""{TURNS_CTE},
domain AS (SELECT DISTINCT conv_id FROM turns),
masked AS (
    SELECT conv_id, CAST(count(*) AS DOUBLE) AS n_turns
    FROM turns WHERE CAST(substr(conv_id, 6, 10) AS INTEGER) % 2 = 0
    GROUP BY conv_id
)
SELECT d.conv_id, round(coalesce(m.n_turns, -9999.0), 4) AS n_turns
FROM domain d LEFT JOIN masked m ON d.conv_id = m.conv_id
""",
        "panel_lag1": f"""{LONG_CTE},
lagged AS (
    SELECT conv_id, kind, turn_idx, value,
        lag(value, 1) OVER (PARTITION BY conv_id, kind ORDER BY turn_idx, ts) AS value_lag1
    FROM long_panel WHERE kind IN ('text_len', 'value')
)
SELECT conv_id, kind, turn_idx, round(value, 4) AS value, round(value_lag1, 4) AS value_lag1
FROM lagged WHERE value_lag1 IS NOT NULL
""",
        "cascade_hour_from_minute": f"""{LONG_CTE}
SELECT conv_id, kind, strftime(date_trunc('hour', ts), '{TS_FMT}') AS bucket_start,
{_CASCADE_COLS}
FROM long_panel WHERE kind = 'text_len'
GROUP BY conv_id, kind, date_trunc('hour', ts)
""",
        "cascade_day_from_minute": f"""{LONG_CTE}
SELECT conv_id, kind, strftime(date_trunc('day', ts), '{TS_FMT}') AS bucket_start,
{_CASCADE_COLS}
FROM long_panel WHERE kind IN ('text_len', 'latency_s')
GROUP BY conv_id, kind, date_trunc('day', ts)
""",
        "gapfill_locf_hour": _gapfill_sql("locf"),
        "gapfill_linear_hour": _gapfill_sql("linear"),
        "gapfill_sentinel_hour": _gapfill_sql("sentinel"),
        "sample_turns": f"""{TURNS_CTE}
SELECT conv_id, turn_idx, role, strftime(ts, '{TS_FMT_US}') AS ts
FROM turns
WHERE substr(md5(conv_id || '|' || CAST(turn_idx AS VARCHAR)), 1, 8) < '{frac_hex(0.1)}'
""",
        "train_test_split": f"""{TURNS_CTE}
SELECT conv_id,
    CASE WHEN substr(md5(conv_id), 1, 8) < '{frac_hex(0.33)}' THEN 'test' ELSE 'train' END AS split
FROM (SELECT DISTINCT conv_id FROM turns)
""",
        "minmax_scale": f"""{TURNS_CTE},
xy AS (
    SELECT conv_id, CAST(count(*) AS DOUBLE) AS n_turns, avg(length(text)) AS mean_text_len
    FROM turns GROUP BY conv_id
),
b AS (
    SELECT min(n_turns) AS mn1, max(n_turns) AS mx1,
           min(mean_text_len) AS mn2, max(mean_text_len) AS mx2 FROM xy
)
SELECT conv_id, round(n_turns, 4) AS n_turns, round(mean_text_len, 4) AS mean_text_len,
    round(CASE WHEN mx1 > mn1 THEN (n_turns - mn1) / (mx1 - mn1) ELSE 0.0 END, 4) AS n_turns_scaled,
    round(CASE WHEN mx2 > mn2 THEN (mean_text_len - mn2) / (mx2 - mn2) ELSE 0.0 END, 4) AS mean_text_len_scaled
FROM xy, b
""",
        "feature_relevance": f"""{TURNS_CTE},
xy AS (
    SELECT conv_id, CAST(count(*) AS DOUBLE) AS n_turns, avg(length(text)) AS mean_text_len,
        avg(CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END) AS tool_share,
        CAST(max(length(text)) AS DOUBLE) AS max_text_len, avg(value) AS y
    FROM turns GROUP BY conv_id
)
"""
        + "\nUNION ALL\n".join(
            f"SELECT '{c}' AS feature, round(corr({c}, y), 4) AS pearson_r, "
            f"round(abs(corr({c}, y)), 4) AS abs_r, "
            f"CASE WHEN abs(corr({c}, y)) >= 0.1 THEN 1 ELSE 0 END AS relevant FROM xy"
            for c in ["n_turns", "mean_text_len", "tool_share", "max_text_len"]
        ),
        "feature_relevance_fdr": _fdr_oracle_sql(),
        "combine_periods": f"""{TURNS_CTE},
p1 AS (
    SELECT conv_id, count(*) AS turn_count, round(avg(length(text)), 4) AS mean_text_len
    FROM turns WHERE ts < TIMESTAMP '2024-01-16' GROUP BY conv_id
),
p2 AS (
    SELECT conv_id, count(*) AS turn_count, round(avg(length(text)), 4) AS mean_text_len
    FROM turns WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY conv_id
)
SELECT coalesce(p1.conv_id, p2.conv_id) AS conv_id,
    p1.turn_count AS turn_count_p1, p1.mean_text_len AS mean_text_len_p1,
    p2.turn_count AS turn_count_p2, p2.mean_text_len AS mean_text_len_p2
FROM p1 FULL OUTER JOIN p2 ON p1.conv_id = p2.conv_id
""",
        "wide_to_long_panel": f"""{TURNS_CTE},
p1 AS (
    SELECT conv_id, count(*) AS turn_count, round(avg(length(text)), 4) AS mean_text_len
    FROM turns WHERE ts < TIMESTAMP '2024-01-16' GROUP BY conv_id
),
p2 AS (
    SELECT conv_id, count(*) AS turn_count, round(avg(length(text)), 4) AS mean_text_len
    FROM turns WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY conv_id
),
domain AS (SELECT DISTINCT conv_id FROM turns)
SELECT d.conv_id, 'p1' AS period, p1.turn_count, p1.mean_text_len
FROM domain d LEFT JOIN p1 ON d.conv_id = p1.conv_id
UNION ALL
SELECT d.conv_id, 'p2' AS period, p2.turn_count, p2.mean_text_len
FROM domain d LEFT JOIN p2 ON d.conv_id = p2.conv_id
""",
        # batch twin of the streaming windowed rollup — equality proves
        # stream/batch parity of the continuous aggregate
        "stream_rollup_minute": f"""{TURNS_CTE}
SELECT strftime(date_trunc('minute', ts), '{TS_FMT}') AS bucket_start, conv_id,
    count(*) AS turn_count,
    {sql_r4('sum(CAST(length(text) AS DOUBLE))')} AS sum_text_len,
    {sql_r4('min(CAST(length(text) AS DOUBLE))')} AS min_text_len,
    {sql_r4('max(CAST(length(text) AS DOUBLE))')} AS max_text_len,
    {sql_r4('sum(CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END)')} AS tool_turns
FROM turns GROUP BY date_trunc('minute', ts), conv_id
""",
        # batch twin of the stateful stream counter's FINAL state
        "stream_stateful_counts": f"""{TURNS_CTE},
agg AS (SELECT conv_id, count(*) AS n_turns FROM turns GROUP BY conv_id),
ranked AS (
    SELECT conv_id, ts,
        row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC, ts DESC) AS rnd
    FROM turns
),
lat AS (
    -- exact µs difference THEN /1e6, matching the kernel's integer
    -- arithmetic (epoch()-then-subtract loses ~1e-7 s on 2024 epochs)
    SELECT conv_id,
        (epoch_us(max(CASE WHEN rnd = 1 THEN ts END))
            - epoch_us(max(CASE WHEN rnd = 2 THEN ts END))) / 1e6 AS last_latency_s
    FROM ranked WHERE rnd <= 2 GROUP BY conv_id
)
SELECT a.conv_id, a.n_turns, round(l.last_latency_s, 4) AS last_latency_s
FROM agg a LEFT JOIN lat l ON a.conv_id = l.conv_id
""",
        # hour sketch computed directly from raw — equality to Spark's
        # minute→hour merged sketch proves the sketch cascade is exact
        # KLL rank-sketch claim oracle: n from raw; the in-query rank-
        # bound booleans and the weight-conservation check must all hold
        # (estimate values themselves are algorithm-reproducible only —
        # pytest-asserted in tests/test_kll.py)
        "sketch_kll_hour": f"""{LONG_CTE}
SELECT conv_id, kind,
    strftime(date_trunc('hour', ts), '{TS_FMT}') AS bucket_start,
    CAST(count(*) AS BIGINT) AS n_raw,
    CAST(1 AS INTEGER) AS count_ok,
    CAST(1 AS INTEGER) AS q50_in_bound,
    CAST(1 AS INTEGER) AS q95_in_bound
FROM long_panel WHERE kind = 'text_len'
GROUP BY 1, 2, 3
""",
        # Misra-Gries claim oracle: distinct-tool count per bucket from
        # raw; the in-query retention/undercount booleans must hold
        # (summary values are algorithm-reproducible only — pytest-
        # asserted in tests/test_mg.py)
        "mg_top_tools_hour": f"""{TURNS_CTE}
SELECT strftime(date_trunc('hour', ts), '{TS_FMT}') AS bucket_start,
    CAST(count(DISTINCT tool) AS BIGINT) AS n_tools,
    CAST(1 AS INTEGER) AS bounds_ok,
    CAST(1 AS INTEGER) AS cover_ok
FROM turns WHERE tool IS NOT NULL
GROUP BY 1
""",
        # round 5: DOUBLE-cascade (minute→hour→day) claim oracles — the
        # depth where compaction/merge error accumulates; same boolean
        # surface as the hour twins, n restated per day bucket from raw
        "sketch_kll_day": f"""{LONG_CTE}
SELECT conv_id, kind,
    strftime(date_trunc('day', ts), '{TS_FMT}') AS bucket_start,
    CAST(count(*) AS BIGINT) AS n_raw,
    CAST(1 AS INTEGER) AS count_ok,
    CAST(1 AS INTEGER) AS q50_in_bound,
    CAST(1 AS INTEGER) AS q95_in_bound
FROM long_panel WHERE kind = 'text_len'
GROUP BY 1, 2, 3
""",
        "mg_top_tools_day": f"""{TURNS_CTE}
SELECT strftime(date_trunc('day', ts), '{TS_FMT}') AS bucket_start,
    CAST(count(DISTINCT tool) AS BIGINT) AS n_tools,
    CAST(1 AS INTEGER) AS bounds_ok,
    CAST(1 AS INTEGER) AS cover_ok
FROM turns WHERE tool IS NOT NULL
GROUP BY 1
""",
        # round 5: sketch tier composed with late-MERGE + retention TTL —
        # determinism makes the merged tier equal a fresh full build, so
        # the oracle restates the exact in-window count per hour and the
        # in-query multiset-compare boolean
        "sketch_merge_retention": f"""{LONG_CTE},
pts AS (
    SELECT date_trunc('minute', ts) AS mb FROM long_panel WHERE kind = 'text_len'
),
h AS (SELECT max(mb) AS horizon FROM pts)
SELECT strftime(date_trunc('hour', mb), '{TS_FMT}') AS bucket_start,
    CAST(1 AS INTEGER) AS merge_exact,
    CAST(count(*) AS BIGINT) AS total_weight
FROM pts, h WHERE mb >= horizon - INTERVAL 7 DAY
GROUP BY 1
""",
        # round 5: capped-partials MG on word-bigrams — claim oracle
        # (exact distinct restated; bound booleans verified in-query)
        "mg_ngrams_hour": f"""{TURNS_CTE},
toks AS (
    SELECT ts,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
    FROM turns
),
ng AS (
    SELECT ts,
        unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS ngram
    FROM toks WHERE len(tk) >= 2
)
SELECT strftime(date_trunc('hour', ts), '{TS_FMT}') AS bucket_start,
    CAST(count(DISTINCT ngram) AS BIGINT) AS n_ngrams,
    CAST(1 AS INTEGER) AS bounds_ok,
    CAST(1 AS INTEGER) AS cover_ok
FROM ng GROUP BY 1
""",
        "sketch_quantile_hour": f"""{LONG_CTE},
base AS (
    SELECT conv_id, kind, ts, value FROM long_panel WHERE kind IN ('text_len', 'latency_s')
),
rng AS (SELECT kind, min(value) AS lo, max(value) AS hi FROM base GROUP BY kind),
binned AS (
    SELECT b.conv_id, b.kind, date_trunc('hour', b.ts) AS bucket_start,
        CASE WHEN r.hi > r.lo
             THEN least(CAST(floor((b.value - r.lo) / ((r.hi - r.lo) / 64)) AS INTEGER), 63)
             ELSE 0 END AS bin
    FROM base b JOIN rng r ON b.kind = r.kind
),
sk AS (
    SELECT conv_id, kind, bucket_start, bin, count(*) AS n
    FROM binned GROUP BY 1, 2, 3, 4
),
c AS (
    SELECT sk.conv_id, sk.kind, sk.bucket_start, sk.bin, sk.n, r.lo, r.hi,
        sum(sk.n) OVER (PARTITION BY sk.conv_id, sk.kind, sk.bucket_start ORDER BY sk.bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(sk.n) OVER (PARTITION BY sk.conv_id, sk.kind, sk.bucket_start) AS tot
    FROM sk JOIN rng r ON sk.kind = r.kind
)
SELECT conv_id, kind, strftime(bucket_start, '{TS_FMT}') AS bucket_start,
    {sql_r4("min(CASE WHEN cum - n < 0.5 * tot AND 0.5 * tot <= cum THEN CASE WHEN hi > lo THEN lo + (hi - lo) / 64 * (bin + (0.5 * tot - (cum - n)) / n) ELSE lo END END)")} AS q50_sketch,
    {sql_r4("min(CASE WHEN cum - n < 0.95 * tot AND 0.95 * tot <= cum THEN CASE WHEN hi > lo THEN lo + (hi - lo) / 64 * (bin + (0.95 * tot - (cum - n)) / n) ELSE lo END END)")} AS q95_sketch,
    CAST(max(tot) AS BIGINT) AS turn_count
FROM c GROUP BY conv_id, kind, bucket_start
""",
        "retention_ttl_hour": f"""{LONG_CTE},
points AS (
    SELECT conv_id, kind, date_trunc('hour', ts) AS bucket_start,
        count(value) AS turn_count, sum(value) AS sum_values,
        sum(value * value) AS sum_squares, min(value) AS minimum, max(value) AS maximum
    FROM long_panel WHERE kind = 'text_len' GROUP BY 1, 2, 3
),
h AS (SELECT max(bucket_start) AS horizon FROM points)
SELECT conv_id, kind, strftime(bucket_start, '{TS_FMT}') AS bucket_start,
    turn_count, {sql_r4('sum_values')} AS sum_values,
    {sql_r4('sum_squares')} AS sum_squares,
    {sql_r4('minimum')} AS minimum, {sql_r4('maximum')} AS maximum
FROM points, h WHERE bucket_start >= horizon - INTERVAL 7 DAY
""",
        # full recompute from ALL turns — equality to the Spark side's
        # ontime-then-merge result proves MERGE idempotence/convergence
        "late_data_merge_hour": f"""{LONG_CTE}
SELECT conv_id, kind, strftime(date_trunc('hour', ts), '{TS_FMT}') AS bucket_start,
    count(value) AS turn_count, {sql_r4('sum(value)')} AS sum_values,
    {sql_r4('sum(value * value)')} AS sum_squares,
    {sql_r4('min(value)')} AS minimum, {sql_r4('max(value)')} AS maximum
FROM long_panel WHERE kind = 'text_len'
GROUP BY conv_id, kind, date_trunc('hour', ts)
""",
        "autocorr_lags": f"""{LONG_CTE},
base AS (
    SELECT conv_id, kind, turn_idx, ts, value FROM long_panel WHERE kind = 'text_len'
),
{stats_cte(["conv_id", "kind"], src="base")}
SELECT conv_id, kind,
    {r(autocorr_sql(1), 'autocorrelation_lag1')},
    {r(autocorr_sql(2), 'autocorrelation_lag2')},
    {r(autocorr_sql(3), 'autocorrelation_lag3')}
FROM stats GROUP BY conv_id, kind
""",
        "feature_names_dim": """SELECT * FROM (VALUES
    (1, 'text_len_n', 'text_len', 'n'),
    (2, 'text_len_mean', 'text_len', 'mean'),
    (3, 'text_len_max', 'text_len', 'max'),
    (4, 'latency_s_n', 'latency_s', 'n'),
    (5, 'latency_s_mean', 'latency_s', 'mean'),
    (6, 'latency_s_max', 'latency_s', 'max')
) AS t(position, column_name, kind, feature)
""",
        "balanced_panel_check": f"""{LONG_CTE},
counts AS (
    SELECT conv_id, kind, count(DISTINCT date_trunc('day', ts)) AS n_buckets
    FROM long_panel WHERE kind IN ('text_len', 'is_tool') GROUP BY 1, 2
)
SELECT conv_id, kind, n_buckets,
    max(n_buckets) OVER () AS panel_max,
    CASE WHEN n_buckets = max(n_buckets) OVER () THEN 1 ELSE 0 END AS balanced
FROM counts
""",
        "asof_join": f"""{LONG_CTE},
points AS (
    SELECT conv_id, date_trunc('hour', ts) AS bucket_start, round(avg(value), 4) AS bucket_mean
    FROM long_panel WHERE kind = 'text_len' GROUP BY 1, 2
)
SELECT t.conv_id, t.turn_idx, strftime(t.ts, '{TS_FMT_US}') AS ts,
       round(p.bucket_mean, 4) AS bucket_mean
FROM turns t ASOF LEFT JOIN points p
    ON t.conv_id = p.conv_id AND t.ts >= p.bucket_start
""",
        "session_windows": f"""{TURNS_CTE},
flagged AS (
    SELECT conv_id, ts, turn_idx,
        CASE WHEN lag(ts) OVER w IS NULL
             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
    FROM turns
    WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
grouped AS (
    SELECT conv_id, ts,
        sum(new_s) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM flagged
)
SELECT conv_id,
    strftime(min(ts), '{TS_FMT_US}') AS session_start,
    strftime(max(ts) + INTERVAL 30 MINUTE, '{TS_FMT_US}') AS session_end,
    count(*) AS n_turns
FROM grouped GROUP BY conv_id, sid
""",
        "export_wide_features": f"""{LONG_CTE},
piv AS (
    SELECT conv_id,
        count(CASE WHEN kind = 'text_len' THEN value END) AS text_len_n,
        avg(CASE WHEN kind = 'text_len' THEN value END) AS text_len_mean,
        max(CASE WHEN kind = 'text_len' THEN value END) AS text_len_max,
        count(CASE WHEN kind = 'latency_s' THEN value END) AS latency_s_n,
        avg(CASE WHEN kind = 'latency_s' THEN value END) AS latency_s_mean,
        max(CASE WHEN kind = 'latency_s' THEN value END) AS latency_s_max
    FROM long_panel WHERE kind IN ('text_len', 'latency_s')
    GROUP BY conv_id
)
SELECT conv_id,
    text_len_n,
    coalesce(round(text_len_mean, 4), -9999.0) AS text_len_mean,
    coalesce(round(text_len_max, 4), -9999.0) AS text_len_max,
    latency_s_n,
    coalesce(round(latency_s_mean, 4), -9999.0) AS latency_s_mean,
    coalesce(round(latency_s_max, 4), -9999.0) AS latency_s_max
FROM piv
""",
        "time_weighted_avg": f"""{LONG_CTE},
base AS (
    SELECT conv_id, kind, turn_idx, ts, value,
        date_trunc('hour', ts) AS bucket_start,
        epoch(ts) AS t,
        epoch(date_trunc('hour', ts)) + 3600 AS bucket_end,
        lead(epoch(ts)) OVER w AS next_t,
        lead(date_trunc('hour', ts)) OVER w AS next_bucket
    FROM long_panel WHERE kind = 'text_len'
    WINDOW w AS (PARTITION BY conv_id, kind ORDER BY turn_idx, ts)
),
weighted AS (
    SELECT conv_id, kind, bucket_start, value,
        CASE WHEN row_number() OVER (PARTITION BY conv_id, kind, bucket_start ORDER BY turn_idx, ts) = 1
             THEN bucket_end - 3600 ELSE t END AS t_from,
        CASE WHEN next_t IS NOT NULL AND next_bucket = bucket_start THEN next_t
             ELSE bucket_end END AS t_until
    FROM base
)
SELECT conv_id, kind, strftime(bucket_start, '{TS_FMT}') AS bucket_start,
    {sql_r4('sum(value * (t_until - t_from)) / sum(t_until - t_from)')} AS twa,
    count(*) AS n_obs
FROM weighted GROUP BY conv_id, kind, bucket_start
""",
        "moving_quantiles": f"""{LONG_CTE}
SELECT conv_id, turn_idx,
    round(quantile_cont(value, 0.5) OVER w5, 4) AS rolling_median_5,
    round(quantile_cont(value, 0.95) OVER w5, 4) AS rolling_q95_5
FROM long_panel WHERE kind = 'text_len'
WINDOW w5 AS (PARTITION BY conv_id ORDER BY turn_idx, ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
        "moving_stats": f"""{LONG_CTE}
SELECT conv_id, turn_idx,
    round(avg(value) OVER w5, 4) AS rolling_mean_5,
    round(max(value) OVER w5, 4) AS rolling_max_5,
    count(value) OVER w5 AS rolling_n
FROM long_panel WHERE kind = 'text_len'
WINDOW w5 AS (PARTITION BY conv_id ORDER BY turn_idx, ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
        "stratified_sample": f"""{TURNS_CTE}
SELECT conv_id, turn_idx, role
FROM turns
WHERE substr(md5(conv_id || '|' || CAST(turn_idx AS VARCHAR)), 1, 8) <
    CASE WHEN role = 'user' THEN '{frac_hex(0.2)}'
         WHEN role = 'assistant' THEN '{frac_hex(0.1)}'
         ELSE '{frac_hex(0.5)}' END
""",
        # kernel_features_cwt: the CWT kernel has no SQL analog; the
        # oracle is a checked-in golden parquet generated independently
        # of Spark (tools/make_golden_cwt.py: DuckDB long panel + NumPy
        # reference calculators). One block per scale factor, keyed by
        # the events row count so the static SQL self-selects the right
        # block at any gate SF.
        "kernel_features_cwt": (
            "SELECT conv_id, kind, turn_count, mean, abs_energy, "
            "number_cwt_peaks_n6, number_cwt_peaks_n12, "
            "longest_strike_above_mean, longest_strike_below_mean FROM '"
            + os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "tests", "golden", "kernel_cwt_golden.parquet")
            + "' WHERE n_events = (SELECT count(*) FROM events)"
        ),
        "dedup_exact": DD.exact_dedup_sql(),
        "dedup_ngram_jaccard": DD.jaccard_sql(0.8),
        "dedup_minhash_lsh": DD.minhash_lsh_sql(8, 2),
        "dedup_simhash": DD.simhash16_sql(),
        "dedup_components": DD.components_sql(8, 2),
        "ann_topk_cosine": DD.cosine_topk_sql(Q.ANN_QUERY_IDS, 5),
        "ann_signlsh": DD.signlsh_topk_sql(Q.ANN_QUERY_IDS, 3),
        # the IVF neighbor rows are not SQL-reproducible (k-means), but
        # the quality claim is checkable: the oracle states recall@5 vs
        # brute force (computed in-query on the Spark side) is >= 0.8
        # averaged over the 20 standing query vectors (see q_ann_ivf
        # docstring for the measured margins)
        "ann_ivf": (
            "SELECT CAST(count(*) AS BIGINT) AS n_queries, "
            "CAST(1 AS INTEGER) AS mean_recall_ge_08 "
            f"FROM embeddings WHERE vec_id IN ({', '.join(str(i) for i in Q.ANN_QUERY_IDS)})"
        ),
        "dedup_embedding_cosine": f"""WITH pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        round({DD._DOT} / ({DD._NORM.format(c='a')} * {DD._NORM.format(c='b')}), 4) AS cosine
    FROM (SELECT vec_id, embedding AS a FROM embeddings) a,
         (SELECT vec_id, embedding AS b FROM embeddings) b
    WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.35
""",
        "dedup_embedding_cosine_blocked": DD.cosine_near_dup_blocked_sql(0.35),
        "lang_id": DD.lang_id_sql(),
        "token_stats": DD.token_stats_sql(),
        "quality_score": DD.quality_sql(),
        "fingerprint": DD.fingerprint_sql(),
        "tfidf_top_terms": DD.tfidf_sql(3),
        "dedup_keep_canonical": DD.keep_canonical_sql(8, 2),
        "repetition_stats": DD.repetition_sql(),
        # the gate corpus unions a doc_id-shifted copy of every 7th doc
        # (single-line unique test docs have no duplicate lines
        # otherwise); identical augmentation on the Spark side
        "duplicate_lines": DD.duplicate_lines_sql(
            10,
            2,
            source="(SELECT * FROM documents UNION ALL "
            "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
            "FROM documents WHERE doc_id % 7 = 0)",
        ),
        "decontaminate": DD.decontaminate_sql(n=4, threshold=0.1),
        # bloom variant is row-identical by construction (bloom prune +
        # exact confirm); the exact SQL is its oracle too
        "decontaminate_bloom": DD.decontaminate_sql(n=4, threshold=0.1),
        # GROUPING SETS marginals: DuckDB GROUPING(b, tool) bitmask
        # order (first arg = MSB) matches Spark grouping_id()
        "rollup_grouping_sets": f"""{TURNS_CTE},
pre AS (
    SELECT date_trunc('hour', ts) AS b, tool, conv_id,
           CAST(length(text) AS DOUBLE) AS tl
    FROM turns
)
SELECT
    CASE WHEN GROUPING(b) = 1 THEN '(all)'
         ELSE strftime(b, '{TS_FMT}') END AS bucket_start,
    CASE WHEN GROUPING(tool) = 1 THEN '(all)'
         ELSE coalesce(tool, '(none)') END AS tool,
    CAST(GROUPING(b, tool) AS INT) AS grain_id,
    CAST(count(*) AS BIGINT) AS n_turns,
    CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
    round(avg(tl), 4) AS avg_text_len
FROM pre
GROUP BY GROUPING SETS ((b, tool), (b), (tool), ())
""",
        "embedding_quantize": DD.embedding_quantize_sql(),
        "hll_users_hour": _hll_users_hour_sql(),
        "kmv_retention_hour": _kmv_retention_sql(k=64),
        "curate_corpus": DD.curate_corpus_sql(
            min_quality=0.5, n=4, threshold=0.1
        ),
        # stream dedup: survivors of double delivery == the base table
        "stream_dedup_exact": f"""{TURNS_CTE}
SELECT conv_id, turn_idx, md5(text) AS content_md5,
    strftime(ts, '{TS_FMT}') AS ts
FROM turns
""",
        "chunk_documents": DD.chunk_documents_sql(64, 16),
        "pack_documents": DD.pack_documents_sql(512, "source"),
        # trailing-1h RANGE frame over integer epoch-µs: value-based
        # frame → tie order irrelevant, exact in both engines
        "moving_stats_time": f"""{LONG_CTE}
SELECT conv_id, turn_idx,
    round(avg(value) OVER w, 4) AS rolling_mean_1h,
    round(max(value) OVER w, 4) AS rolling_max_1h,
    CAST(count(value) OVER w AS BIGINT) AS rolling_n_1h
FROM long_panel WHERE kind = 'text_len'
WINDOW w AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
        "new_convs_hour": f"""{TURNS_CTE},
active AS (SELECT date_trunc('hour', ts) AS b, conv_id FROM turns GROUP BY 1, 2),
a AS (SELECT b, CAST(count(*) AS BIGINT) AS n_active FROM active GROUP BY 1),
fs AS (SELECT conv_id, min(ts) AS first_ts FROM turns GROUP BY 1),
nn AS (SELECT date_trunc('hour', first_ts) AS b, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY 1)
SELECT strftime(a.b, '{TS_FMT}') AS bucket_start, a.n_active,
    CAST(coalesce(nn.n_new, 0) AS BIGINT) AS n_new,
    round(coalesce(nn.n_new, 0) / a.n_active, 4) AS new_frac
FROM a LEFT JOIN nn USING (b)
""",
        "cohort_retention": f"""{TURNS_CTE},
active AS (SELECT DISTINCT date_trunc('hour', ts) AS b, conv_id FROM turns),
ret AS (
    SELECT x.b, CAST(count(*) AS BIGINT) AS n_retained_1h
    FROM active x JOIN active y
      ON y.conv_id = x.conv_id AND y.b = x.b + INTERVAL 1 HOUR
    GROUP BY 1
),
cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS n_active FROM active GROUP BY 1)
SELECT strftime(cnt.b, '{TS_FMT}') AS bucket_start, cnt.n_active,
    CAST(coalesce(ret.n_retained_1h, 0) AS BIGINT) AS n_retained_1h,
    round(coalesce(ret.n_retained_1h, 0) / cnt.n_active, 4) AS retention_1h
FROM cnt LEFT JOIN ret USING (b)
""",
        "conv_features_ext": _conv_features_ext_sql(),
        "ohlc_hour": f"""{TURNS_CTE}
SELECT conv_id, strftime(date_trunc('hour', ts), '{TS_FMT}') AS bucket_start,
    round(arg_min(value, turn_idx), 4) AS open,
    round(max(value), 4) AS high,
    round(min(value), 4) AS low,
    round(arg_max(value, turn_idx), 4) AS close,
    CAST(count(value) AS BIGINT) AS n_points
FROM turns GROUP BY conv_id, date_trunc('hour', ts)
""",
        "counter_rate_hour": f"""{TURNS_CTE},
ctr AS (
    SELECT conv_id, turn_idx, ts,
        CAST(sum(length(text)) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) % 50000 AS DOUBLE) AS counter
    FROM turns
),
lagged AS (
    SELECT *, date_trunc('hour', ts) AS bucket,
        lag(counter) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS prev,
        lag(date_trunc('hour', ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS prev_bucket,
        epoch(ts) AS eps
    FROM ctr
)
SELECT conv_id, strftime(bucket, '{TS_FMT}') AS bucket_start,
    {r("coalesce(sum(CASE WHEN prev IS NOT NULL AND prev_bucket = bucket THEN CASE WHEN counter >= prev THEN counter - prev ELSE counter END END), 0.0)", "increase")},
    CAST(sum(CASE WHEN prev IS NOT NULL AND prev_bucket = bucket AND counter < prev THEN 1 ELSE 0 END) AS BIGINT) AS num_resets,
    round(arg_min(counter, turn_idx), 4) AS first_reading,
    round(arg_max(counter, turn_idx), 4) AS last_reading,
    {r("coalesce(sum(CASE WHEN prev IS NOT NULL AND prev_bucket = bucket THEN CASE WHEN counter >= prev THEN counter - prev ELSE counter END END), 0.0) / (CASE WHEN max(eps) - min(eps) > 0 THEN max(eps) - min(eps) END)", "rate_per_s")},
    CAST(count(*) AS BIGINT) AS n_points
FROM lagged GROUP BY conv_id, bucket
""",
        "state_durations": f"""{TURNS_CTE},
d AS (
    SELECT conv_id, role AS state,
        coalesce(lead(epoch(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) - epoch(ts), 0.0) AS dur
    FROM turns
)
SELECT conv_id, state, CAST(count(*) AS BIGINT) AS n_turns,
    {r("sum(dur)", "total_s")}, {r("max(dur)", "longest_s")}
FROM d GROUP BY conv_id, state
""",
        "heartbeat_uptime": f"""{TURNS_CTE},
g AS (
    SELECT conv_id, epoch(ts) AS eps,
        epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS gap
    FROM turns
)
SELECT conv_id,
    {r("coalesce(sum(CASE WHEN gap IS NOT NULL THEN least(gap, 60.0) END), 0.0) + 60.0", "uptime_s")},
    CAST(sum(CASE WHEN gap > 60.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
    {r("max(eps) - min(eps) + 60.0", "span_s")},
    {r("(coalesce(sum(CASE WHEN gap IS NOT NULL THEN least(gap, 60.0) END), 0.0) + 60.0) / (max(eps) - min(eps) + 60.0)", "uptime_ratio")},
    CAST(count(*) AS BIGINT) AS n_beats
FROM g GROUP BY conv_id
""",
        # identical arithmetic in identical order to operators/timeseries.ema
        # (rescaled cumsum closed form), so the 4-dp contract hashes equal
        "ema_turns": f"""{TURNS_CTE},
e AS (
    SELECT conv_id, turn_idx, ts, value,
        CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) - 1 AS DOUBLE) AS t
    FROM turns
),
s AS (
    SELECT conv_id, turn_idx, t,
        sum(value * power(0.7, -t)) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
    FROM e
)
SELECT conv_id, turn_idx,
    {r("(csum * power(0.7, t)) / ((1 - power(0.7, t + 1)) / 0.3)", "ema")}
FROM s
""",
        "anomaly_turns": f"""{TURNS_CTE},
z AS (
    SELECT conv_id, turn_idx, value,
        CASE WHEN stddev_pop(value) OVER (PARTITION BY conv_id) > 0
             THEN (value - avg(value) OVER (PARTITION BY conv_id))
                  / stddev_pop(value) OVER (PARTITION BY conv_id)
        END AS zscore
    FROM turns
)
SELECT conv_id, turn_idx, {r('value', 'value')}, round(zscore, 4) AS zscore
FROM z WHERE round(abs(zscore) - 2.5, 9) > 0
""",
        # batch gaps-and-islands sessions (30 min inactivity gap) —
        # equality proves the streaming EventTimeTimeout stateful
        # operator reproduces batch session semantics exactly
        "stream_session_windows": f"""{TURNS_CTE},
flagged AS (
    SELECT conv_id, turn_idx, ts,
        CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts)) > 1800
             OR lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) IS NULL
             THEN 1 ELSE 0 END AS is_new
    FROM turns
),
islands AS (
    -- cumsum window MUST order by (turn_idx, ts) like the flag window:
    -- ts-only ordering could place a tied-timestamp row before its
    -- session's is_new=1 row and split the session (round-3 advisor)
    SELECT conv_id, ts,
        sum(is_new) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
    FROM flagged
)
SELECT conv_id,
    strftime(min(ts), '{TS_FMT_US}') AS session_start,
    strftime(max(ts), '{TS_FMT_US}') AS session_end,
    CAST(count(*) AS BIGINT) AS n_turns
FROM islands GROUP BY conv_id, sess
""",
        # same 4-offset expansion as sliding_counts minus the distinct
        # (streaming aggregations cannot COUNT(DISTINCT)); equality
        # proves stream/batch parity of the HOP window path
        "stream_sliding_counts": f"""{TURNS_CTE},
expanded AS (
    SELECT t.text,
        to_timestamp(CAST(floor(epoch(t.ts) / 900) * 900 - k.k * 900 AS BIGINT)) AS window_start
    FROM turns t CROSS JOIN (SELECT unnest(range(4)) AS k) k
)
SELECT strftime(window_start, '{TS_FMT}') AS window_start,
    CAST(count(*) AS BIGINT) AS n_turns,
    round(avg(length(text)), 4) AS mean_text_len,
    {r("sum(CAST(length(text) AS DOUBLE))", "sum_text_len")}
FROM expanded GROUP BY window_start
""",
        "sliding_counts_hll": _sliding_counts_hll_sql(),
        # every turn belongs to the 4 hour-long windows whose 15-min-
        # aligned starts fall in (ts - 1h, ts]
        "sliding_counts": f"""{TURNS_CTE},
expanded AS (
    SELECT t.conv_id, t.text,
        to_timestamp(CAST(floor(epoch(t.ts) / 900) * 900 - k.k * 900 AS BIGINT)) AS window_start
    FROM turns t CROSS JOIN (SELECT unnest(range(4)) AS k) k
)
SELECT strftime(window_start, '{TS_FMT}') AS window_start,
    CAST(count(*) AS BIGINT) AS n_turns,
    round(avg(length(text)), 4) AS mean_text_len,
    CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM expanded GROUP BY window_start
""",
        # independent formulation (correlated min-subqueries), not a
        # replay of the union-window algorithm
        "asof_tolerance": f"""{TURNS_CTE},
pings AS (
    SELECT conv_id, ts AS ping_ts, tool FROM turns WHERE tool IS NOT NULL
),
m AS (
    SELECT t.conv_id, t.turn_idx, t.ts,
        (SELECT min(p.ping_ts) FROM pings p
         WHERE p.conv_id = t.conv_id AND p.ping_ts >= t.ts) AS mts
    FROM turns t
)
SELECT m.conv_id, m.turn_idx,
    CASE WHEN m.mts IS NOT NULL AND epoch(m.mts) - epoch(m.ts) <= 300.0
         THEN (SELECT min(p.tool) FROM pings p
               WHERE p.conv_id = m.conv_id AND p.ping_ts = m.mts)
    END AS next_tool
FROM m
""",
        "rollup_5min": f"""{TURNS_CTE}
SELECT conv_id,
    strftime(to_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)), '{TS_FMT}') AS bucket_start,
    CAST(count(*) AS BIGINT) AS turn_count,
    round(avg(length(text)), 4) AS mean_text_len,
    round(min(CAST(length(text) AS DOUBLE)), 4) AS min_text_len,
    round(max(CAST(length(text) AS DOUBLE)), 4) AS max_text_len,
    {r("sum(CAST(length(text) AS DOUBLE))", "sum_text_len")}
FROM turns GROUP BY conv_id, floor(epoch(ts) / 300)
""",
        "top_tools_hour": f"""{TURNS_CTE},
counts AS (
    SELECT date_trunc('hour', ts) AS b, tool, CAST(count(*) AS BIGINT) AS n_calls
    FROM turns WHERE tool IS NOT NULL GROUP BY 1, 2
),
ranked AS (
    SELECT b, tool, n_calls,
        row_number() OVER (PARTITION BY b ORDER BY n_calls DESC, tool) AS rank
    FROM counts
)
SELECT strftime(b, '{TS_FMT}') AS bucket_start, tool, n_calls,
    CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
        # lttb: sequential per-series selection, no SQL analog — golden
        # parquet oracle (tools/make_golden_lttb.py), block keyed by the
        # events row count like the CWT golden
        "lttb_downsample": (
            "SELECT conv_id, turn_idx, ts, round(text_len, 4) AS text_len FROM '"
            + os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "tests", "golden", "lttb_golden.parquet")
            + "' WHERE n_events = (SELECT count(*) FROM events)"
        ),
        # CUSUM via the prefix identity S_t = P_t - min(0, run_min(P));
        # alarm boundary quantized dimensionless at 9 dp (the
        # anomaly_turns contract) — twin of operators/changepoint.py
        "cusum_changepoints": f"""{TURNS_CTE},
stats AS (
    SELECT conv_id, turn_idx, value,
        avg(value) OVER (PARTITION BY conv_id) AS mu,
        stddev_pop(value) OVER (PARTITION BY conv_id) AS sig
    FROM turns
),
pref AS (
    SELECT conv_id, turn_idx, sig,
        sum(value - mu - 0.5 * sig) OVER w AS p_pos,
        sum(mu - value - 0.5 * sig) OVER w AS p_neg
    FROM stats
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING)
),
scored AS (
    SELECT conv_id, turn_idx, sig,
        p_pos - least(0.0, min(p_pos) OVER w) AS s_pos,
        p_neg - least(0.0, min(p_neg) OVER w) AS s_neg
    FROM pref
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING)
)
SELECT conv_id, turn_idx,
    round(s_pos, 4) AS cusum_pos,
    round(s_neg, 4) AS cusum_neg,
    CAST(CASE WHEN sig > 0 AND round(s_pos / sig - 4.0, 9) > 0
         THEN 1 ELSE 0 END AS INTEGER) AS alarm_pos,
    CAST(CASE WHEN sig > 0 AND round(s_neg / sig - 4.0, 9) > 0
         THEN 1 ELSE 0 END AS INTEGER) AS alarm_neg
FROM scored
""",
        # hour-of-day climatology over the hourly tier — twin of
        # operators/seasonal.py (extract(hour) == Spark hour())
        "seasonal_anomaly_hour": f"""{TURNS_CTE},
hourly AS (
    SELECT date_trunc('hour', ts) AS b, CAST(count(*) AS BIGINT) AS n_turns
    FROM turns GROUP BY 1
),
prof AS (
    SELECT b, n_turns,
        CAST(extract(hour FROM b) AS INTEGER) AS hod,
        avg(CAST(n_turns AS DOUBLE)) OVER w AS m,
        stddev_pop(CAST(n_turns AS DOUBLE)) OVER w AS s
    FROM hourly
    WINDOW w AS (PARTITION BY extract(hour FROM b))
)
SELECT strftime(b, '{TS_FMT}') AS bucket_start, hod, n_turns,
    round(m, 4) AS season_mean,
    round(s, 4) AS season_sig,
    round(n_turns - m, 4) AS resid,
    CASE WHEN s > 0 THEN round((n_turns - m) / s, 4) END AS resid_z
FROM prof
""",
        # all-pairs Pearson over co-observed hour buckets — twin of
        # operators/correlate.py (inner self-join; explicit raw-moment
        # Pearson so a constant side yields NULL and the sums replay
        # exactly — integer-valued inputs, not engine corr())
        "tool_corr_hour": f"""{TURNS_CTE},
tool_hourly AS (
    SELECT date_trunc('hour', ts) AS b, tool, CAST(count(*) AS DOUBLE) AS n
    FROM turns WHERE tool IS NOT NULL GROUP BY 1, 2
),
mom AS (
    SELECT a.tool AS series_a, b.tool AS series_b,
        CAST(count(*) AS BIGINT) AS n_buckets,
        sum(a.n) AS sa, sum(b.n) AS sb, sum(a.n * b.n) AS sab,
        sum(a.n * a.n) AS saa, sum(b.n * b.n) AS sbb
    FROM tool_hourly a JOIN tool_hourly b ON a.b = b.b AND a.tool < b.tool
    GROUP BY 1, 2
    HAVING count(*) >= 2
)
SELECT series_a, series_b,
    CASE WHEN (n_buckets * saa - sa * sa) > 0
          AND (n_buckets * sbb - sb * sb) > 0
         THEN round((n_buckets * sab - sa * sb)
                    / sqrt((n_buckets * saa - sa * sa)
                           * (n_buckets * sbb - sb * sb)), 4)
    END AS pearson_r,
    n_buckets
FROM mom
""",
        # Mann-Kendall: S and tie-corrected Var are exact integer
        # arithmetic — bit-exact twin of operators/trend.py; z boundary
        # quantized dimensionless at 9 dp
        "mann_kendall_trend": f"""{TURNS_CTE},
pairs AS (
    SELECT a.conv_id,
        CAST(sum(CAST(sign(b.value - a.value) AS BIGINT)) AS BIGINT) AS s_stat
    FROM turns a JOIN turns b
      ON a.conv_id = b.conv_id AND a.turn_idx < b.turn_idx
    GROUP BY 1
),
counts AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n FROM turns GROUP BY 1),
ties AS (
    SELECT conv_id, sum(t * (t - 1) * (2 * t + 5)) AS tie_term
    FROM (
        SELECT conv_id, CAST(count(*) AS BIGINT) AS t
        FROM turns GROUP BY conv_id, value
    ) GROUP BY 1
),
j AS (
    SELECT c.conv_id, c.n, coalesce(p.s_stat, 0) AS s_stat,
        CAST(c.n * (c.n - 1) * (2 * c.n + 5) - t.tie_term AS DOUBLE) / 18.0 AS var_s
    FROM counts c JOIN ties t USING (conv_id) LEFT JOIN pairs p USING (conv_id)
)
SELECT conv_id, n, s_stat, round(var_s, 4) AS var_s,
    CASE WHEN var_s > 0
         THEN round((s_stat - sign(s_stat)) / sqrt(var_s), 4) END AS z,
    CASE WHEN var_s > 0
          AND round(abs((s_stat - sign(s_stat)) / sqrt(var_s)) - 1.96, 9) > 0
         THEN CASE WHEN s_stat > 0 THEN 'increasing' ELSE 'decreasing' END
         ELSE 'no_trend' END AS trend
FROM j
""",
        # Theil-Sen: every pairwise slope is one double division of
        # exact integers, medians are exact interpolated percentiles —
        # the multiset replays bit-identically, so the twin is exact
        "theil_sen_trend": f"""{TURNS_CTE},
slopes AS (
    SELECT a.conv_id,
        median((b.value - a.value) / CAST(b.turn_idx - a.turn_idx AS DOUBLE)) AS slope
    FROM turns a JOIN turns b
      ON a.conv_id = b.conv_id AND a.turn_idx < b.turn_idx
    GROUP BY 1
),
counts AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n FROM turns GROUP BY 1),
resid AS (
    SELECT t.conv_id,
        median(t.value - s.slope * CAST(t.turn_idx AS DOUBLE)) AS intercept
    FROM turns t JOIN slopes s USING (conv_id)
    GROUP BY 1
)
SELECT c.conv_id, c.n,
    {sql_r4('s.slope')} AS slope,
    {sql_r4('r.intercept')} AS intercept
FROM counts c
LEFT JOIN slopes s USING (conv_id)
LEFT JOIN resid r USING (conv_id)
""",
        # PSI from histogram-sketch bins: binning mirrors
        # sketch_quantile_hour's twin; eps=0.5, eps*bins=32.0
        "psi_drift_day": f"""{LONG_CTE},
base AS (
    SELECT kind, ts, value FROM long_panel WHERE kind IN ('text_len', 'latency_s')
),
rng AS (SELECT kind, min(value) AS lo, max(value) AS hi FROM base GROUP BY kind),
binned AS (
    SELECT b.kind, date_trunc('day', b.ts) AS bucket_start,
        CASE WHEN r.hi > r.lo
             THEN least(CAST(floor((b.value - r.lo) / ((r.hi - r.lo) / 64)) AS INTEGER), 63)
             ELSE 0 END AS bin
    FROM base b JOIN rng r ON b.kind = r.kind
),
sk AS (
    SELECT kind, bucket_start, bin, CAST(count(*) AS BIGINT) AS n
    FROM binned GROUP BY 1, 2, 3
),
scaffold AS (
    SELECT d.kind, d.bucket_start, gs.bin
    FROM (SELECT DISTINCT kind, bucket_start FROM sk) d
    CROSS JOIN (SELECT unnest(range(64)) AS bin) gs
),
dense AS (
    SELECT s.kind, s.bucket_start, s.bin, coalesce(sk.n, 0) AS n
    FROM scaffold s LEFT JOIN sk USING (kind, bucket_start, bin)
),
lagd AS (
    SELECT kind, bucket_start, bin, n,
        lag(n) OVER (PARTITION BY kind, bin ORDER BY bucket_start) AS n_prev
    FROM dense
),
tots AS (
    SELECT kind, bucket_start, n, n_prev,
        sum(n) OVER (PARTITION BY kind, bucket_start) AS tot,
        sum(n_prev) OVER (PARTITION BY kind, bucket_start) AS tot_prev
    FROM lagd
)
SELECT kind, strftime(bucket_start, '{TS_FMT}') AS bucket_start,
    round(sum(((n + 0.5) / (tot + 32.0) - (n_prev + 0.5) / (tot_prev + 32.0))
              * ln(((n + 0.5) / (tot + 32.0))
                   / ((n_prev + 0.5) / (tot_prev + 32.0)))), 4) AS psi,
    CAST(max(tot) AS BIGINT) AS n_curr,
    CAST(max(tot_prev) AS BIGINT) AS n_prev
FROM tots WHERE tot_prev IS NOT NULL
GROUP BY 1, 2
""",
        # lead-lag Pearson: epoch-shifted equi-join + the same
        # raw-moment formula as tool_corr_hour
        "tool_leadlag_hour": f"""{TURNS_CTE},
tool_hourly AS (
    SELECT epoch(date_trunc('hour', ts)) AS e, tool,
        CAST(count(*) AS DOUBLE) AS n
    FROM turns WHERE tool IS NOT NULL GROUP BY 1, 2
),
lags AS (SELECT CAST(unnest([-2, -1, 0, 1, 2]) AS INTEGER) AS lag),
mom AS (
    SELECT a.tool AS series_a, b.tool AS series_b, l.lag AS lag,
        CAST(count(*) AS BIGINT) AS n_buckets,
        sum(a.n) AS sa, sum(b.n) AS sb, sum(a.n * b.n) AS sab,
        sum(a.n * a.n) AS saa, sum(b.n * b.n) AS sbb
    FROM tool_hourly a
    CROSS JOIN lags l
    JOIN tool_hourly b
      ON b.e = a.e + l.lag * 3600.0 AND a.tool < b.tool
    GROUP BY 1, 2, 3
    HAVING count(*) >= 2
)
SELECT series_a, series_b, lag,
    CASE WHEN (n_buckets * saa - sa * sa) > 0
          AND (n_buckets * sbb - sb * sb) > 0
         THEN round((n_buckets * sab - sa * sb)
                    / sqrt((n_buckets * saa - sa * sa)
                           * (n_buckets * sbb - sb * sb)), 4)
    END AS pearson_r,
    n_buckets
FROM mom
""",
        # classical decomposition: 25-bucket centered MA (partial at
        # edges in BOTH engines), hod seasonal centered by the
        # row-weighted grand mean, resid = value - trend - seasonal
        "decompose_hourly": f"""{TURNS_CTE},
hourly AS (
    SELECT date_trunc('hour', ts) AS b, CAST(count(*) AS BIGINT) AS n_turns
    FROM turns GROUP BY 1
),
ma AS (
    SELECT b, n_turns,
        avg(CAST(n_turns AS DOUBLE)) OVER
            (ORDER BY b ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend
    FROM hourly
),
de AS (
    SELECT b, n_turns, trend, n_turns - trend AS detr,
        extract(hour FROM b) AS hod
    FROM ma
),
se AS (
    SELECT b, n_turns, trend,
        avg(detr) OVER (PARTITION BY hod) - avg(detr) OVER () AS seasonal
    FROM de
)
SELECT strftime(b, '{TS_FMT}') AS bucket_start, n_turns,
    round(trend, 4) AS trend,
    round(seasonal, 4) AS seasonal,
    round(n_turns - trend - seasonal, 4) AS resid
FROM se
""",
        # Holt recursion replayed exactly via recursive CTE — the SQL
        # text lives beside the kernel (operators/holt.py) so the two
        # definitions evolve together
        "holt_smoothing": holt_oracle_sql(TURNS_CTE, alpha=0.3, beta=0.1),
        # M4: bucket boundary is exact integer-µs arithmetic in double
        # (< 2^53), extremes are window min/max, ties keep every row —
        # set semantics replay identically, so the twin is exact
        "m4_downsample": f"""{TURNS_CTE},
base AS (
    SELECT conv_id, turn_idx, ts, CAST(length(text) AS DOUBLE) AS text_len,
        epoch_us(ts) AS e
    FROM turns
),
sp AS (
    SELECT *, min(e) OVER (PARTITION BY conv_id) AS lo,
              max(e) OVER (PARTITION BY conv_id) AS hi
    FROM base
),
bk AS (
    SELECT conv_id, turn_idx, ts, text_len, e,
        CASE WHEN hi > lo
             THEN least(CAST(floor((CAST(e - lo AS DOUBLE) * 8.0)
                                   / CAST(hi - lo AS DOUBLE)) AS BIGINT), 7)
             ELSE 0 END AS bucket
    FROM sp
),
ex AS (
    SELECT *,
        min(text_len) OVER w AS vmin, max(text_len) OVER w AS vmax,
        min(e) OVER w AS emin, max(e) OVER w AS emax
    FROM bk
    WINDOW w AS (PARTITION BY conv_id, bucket)
)
SELECT conv_id, CAST(bucket AS INTEGER) AS bucket, turn_idx,
    strftime(ts, '{TS_FMT_US}') AS ts,
    {sql_r4('text_len')} AS text_len
FROM ex
WHERE text_len = vmin OR text_len = vmax OR e = emin OR e = emax
""",
        # CMS: engine-neutral md5 cell arithmetic — estimates replay
        # bit-for-bit, see _cms_ngram_sql
        "cms_ngram_counts": _cms_ngram_sql(),
        # day grain: Spark merges hour cells upward, the twin builds
        # day cells directly — equality IS the merge-closure proof
        "cms_ngram_counts_day": _cms_ngram_sql(tier="day", min_cnt=3),
        # interval join: islands over hot hours (integer threshold
        # comparison, exact both engines), then a DIRECT range join —
        # the banded equi-join must produce the identical pair set
        "interval_join_bursts": f"""{TURNS_CTE},
hourly AS (
    SELECT date_trunc('hour', ts) AS b, CAST(count(*) AS BIGINT) AS cnt
    FROM turns GROUP BY 1
),
tot AS (SELECT sum(cnt) AS s, CAST(count(*) AS BIGINT) AS n FROM hourly),
hot AS (
    SELECT b, cnt FROM hourly, tot WHERE cnt * tot.n >= tot.s
),
isl AS (
    SELECT b, cnt,
        CAST(epoch(b) / 3600 AS BIGINT) - row_number() OVER (ORDER BY b) AS g
    FROM hot
),
bursts AS (
    SELECT min(b) AS start, max(b) + INTERVAL 1 HOUR AS "end",
        CAST(count(*) AS BIGINT) AS n_hours
    FROM isl GROUP BY g
)
SELECT strftime(bu.start, '{TS_FMT}') AS start,
    strftime(bu."end", '{TS_FMT}') AS "end",
    bu.n_hours,
    CAST(count(*) AS BIGINT) AS n_turns,
    CAST(count(DISTINCT t.conv_id) AS BIGINT) AS n_convs
FROM bursts bu JOIN turns t
  ON t.ts >= bu.start AND t.ts < bu."end"
GROUP BY 1, 2, 3
""",
        # funnel: min-after recursion per step, exact integer-µs
        # deltas, exact interpolated medians — exact twin
        "funnel_tools": f"""{TURNS_CTE},
s1 AS (
    SELECT conv_id, min(ts) AS t1 FROM turns WHERE tool = 'search' GROUP BY 1
),
s2 AS (
    SELECT t.conv_id, min(t.ts) AS t2
    FROM turns t JOIN s1 USING (conv_id)
    WHERE t.tool = 'code' AND t.ts > s1.t1 GROUP BY 1
),
s3 AS (
    SELECT t.conv_id, min(t.ts) AS t3
    FROM turns t JOIN s2 USING (conv_id)
    WHERE t.tool = 'browser' AND t.ts > s2.t2 GROUP BY 1
),
j AS (
    SELECT s1.conv_id, s1.t1, s2.t2, s3.t3
    FROM s1 LEFT JOIN s2 USING (conv_id) LEFT JOIN s3 USING (conv_id)
)
SELECT 1 AS step, 'search' AS name, CAST(count(t1) AS BIGINT) AS n_converted,
    CAST(NULL AS DOUBLE) AS median_secs_from_start FROM j
UNION ALL
SELECT 2, 'code', CAST(count(t2) AS BIGINT),
    {sql_r4('median(epoch_us(t2) - epoch_us(t1)) / 1e6')} FROM j
UNION ALL
SELECT 3, 'browser', CAST(count(t3) AS BIGINT),
    {sql_r4('median(epoch_us(t3) - epoch_us(t1)) / 1e6')} FROM j
""",
        # JL projection: sign matrix + left-associated sum generated
        # from the SAME module (operators/projection.py), so the twin
        # is bit-exact before r4 even applies
        "embedding_project": (
            "SELECT vec_id,\n    "
            + ",\n    ".join(
                f"{sql_r4(e)} AS p{j}"
                for j, e in enumerate(_proj_sql("embedding", d=64, k=16))
            )
            + "\nFROM embeddings"
        ),
    }
