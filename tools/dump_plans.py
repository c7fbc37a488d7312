"""Physical-plan audit: dump annotated `.explain("formatted")` output for
the flagship queries into PLANS.md.

The scale argument lives or dies in the plan: this artifact lets a
reviewer check — without running anything — that the hot paths have the
shuffle/broadcast/pushdown shape the docstrings claim. Regenerate after
any operator change:  python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ts_raster_spark import queries as Q  # noqa: E402
from ts_raster_spark.session import get_spark  # noqa: E402

# (name, builder, what to check in the plan)
AUDITS = [
    (
        "rollup_hour_full",
        Q.q_rollup_hour_full,
        "ONE Exchange hashpartitioning on the rollup keys serves the "
        "window pre-pass AND the groupBy (count the Exchanges); "
        "quantiles are rank-sum aggregates over the value-ordered rank "
        "window (round 6) so the wide aggregation runs as codegen "
        "HashAggregate, not ObjectHashAggregate.",
    ),
    (
        "cascade_day_from_minute",
        Q.q_cascade_day_from_minute,
        "Tier algebra: the day tier re-aggregates minute-tier sufficient "
        "statistics — no second scan of raw, aggregates are partial "
        "(HashAggregate appears in partial+final pairs).",
    ),
    (
        "gapfill_locf_hour",
        Q.q_gapfill_locf_hour,
        "Dense scaffold via sequence()+explode stays distributed "
        "per conversation; a single window Exchange; no driver-side loop.",
    ),
    (
        "asof_join",
        Q.q_asof_join,
        "Union-based as-of join: one hash Exchange on the key, "
        "last(ignorenulls) window — no range explode, no cartesian.",
    ),
    (
        "dedup_embedding_cosine_blocked",
        Q.q_dedup_embedding_cosine_blocked,
        "Near-dup candidates from equi-joins (SortMergeJoin/ShuffledHash "
        "on band+bucket) — NO CartesianProduct / BroadcastNestedLoopJoin "
        "anywhere in the plan.",
    ),
    (
        "dedup_minhash_lsh",
        Q.q_dedup_minhash_lsh,
        "Banded self-join on band_key (equi-join); signature build is a "
        "single aggregation over exploded shingles.",
    ),
    (
        "late_data_merge_hour",
        Q.q_late_data_merge_hour,
        "MERGE shape: affected-conversations set is BROADCAST to both the "
        "anti-join (kept rows) and the semi-join (recompute input).",
    ),
    (
        "sketch_quantile_hour",
        Q.q_sketch_quantile_hour,
        "Sketch cascade: bin counts aggregate with partial aggregation; "
        "per-kind range is a broadcast join; quantile read is one window "
        "over (keys) ordered by bin.",
    ),
    (
        "balanced_panel_check",
        Q.q_balanced_panel_check,
        "Global max via 1-row aggregate + BroadcastExchange back — no "
        "unpartitioned window (no single-task Window stage). The one "
        "BroadcastNestedLoopJoin IS the intended shape: its broadcast "
        "side is the 1-row global-max aggregate, so every task streams "
        "against a single row (this is how a scalar subquery plans).",
    ),
    (
        "hll_users_hour",
        Q.q_hll_users_hour,
        "HLL registers: partial_max register aggregation before the "
        "Exchange (map-side combine caps shuffle at 256 rows/bucket); "
        "the exact/direct/merged three-way join is on bucket_start; "
        "no CartesianProduct.",
    ),
    (
        "decontaminate",
        Q.q_decontaminate,
        "LeftSemi join on the ngram key (broadcastable bench side at "
        "gate scale); both sides are narrow (doc_id, ngram) projections "
        "— no document text crosses an Exchange.",
    ),
    (
        "repetition_stats",
        Q.q_repetition_stats,
        "Line signals computed inside the row (array expressions, no "
        "Exchange); only the bigram top-count path shuffles, keyed by "
        "doc_id, then one left join back.",
    ),
    (
        "pack_documents",
        Q.q_pack_documents,
        "Sequence packing: ONE Exchange hashpartitioning(shard) feeding "
        "a per-shard window — no single-partition Window stage "
        "(the scale hazard of a global running sum).",
    ),
    (
        "chunk_documents",
        Q.q_chunk_documents,
        "Chunking: zero Exchange — explode + slice run inside the scan "
        "stage and inherit input partitioning.",
    ),
    (
        "curate_corpus",
        Q.q_curate_corpus,
        "Composition: every join is keyed by doc_id or ngram/band keys; "
        "document text feeds per-stage signal computation only — no "
        "text column crosses an Exchange; no cartesian.",
    ),
    (
        "conv_features",
        Q.q_conv_features,
        "Fused extras (round 6): strikes are running break-distances, "
        "entropy folds as 10 conditional sums, trend chunk-max is a "
        "forward row frame — ALL on the one ordered rollup-key window "
        "(2 sorts total, was 8) + plain aggregates in the one groupBy; "
        "ONE rollup-key Exchange.",
    ),
    (
        "conv_features_ext",
        Q.q_conv_features_ext,
        "Extended dictionary: 6 helper windows (per-value multiplicity/"
        "first-occurrence, cumulative |x|, |x| rank, rank-sum corridor "
        "bounds) all satisfy their distribution from the ONE "
        "rollup-key Exchange (subset rule); no expand/gid distinct "
        "rewrite (reoccurrence stats are first-occurrence sums).",
    ),
    (
        "counter_rate_hour",
        Q.q_counter_rate_hour,
        "Counter algebra: cumsum window, lag windows and the bucket "
        "groupBy all on hashpartitioning(conv_id) — one Exchange, no "
        "join; bucket membership decided row-local from lagged labels.",
    ),
    (
        "ema_turns",
        Q.q_ema_turns,
        "Routed EMA (round 4): short groups take the closed-form rescaled-cumsum window, mega-groups the pandas-ewm kernel; routing is a BroadcastExchange of the >threshold key set from a map-side-combined count (partial_count). Downstream of the turns derivation the bulk rows are hash-shuffled once (short-branch window) and the kernel branch shuffles only mega rows. The derivation lineage itself is planned once per union branch — the inherent cost of branch routing over an uncached view; at scale the input is a stored tier table, so each branch is a plain scan with its own pushdown.",
    ),
    (
        "sliding_counts_hll",
        Q.q_sliding_counts_hll,
        "Hopping-window HLL (round 4): both Generate/explode nodes sit "
        "ABOVE aggregates (register table / per-bucket counts at the "
        "15-min grain) — the 4x window expansion replicates <=256 "
        "register rows + 1 count row per bucket, never raw turns; "
        "merge is partial_max/partial_sum re-aggregation.",
    ),
    (
        "sketch_kll_hour",
        Q.q_sketch_kll_hour,
        "KLL cascade (round 4): SQL-routed — series whose every bucket "
        "fits capacity take a pure-Catalyst level-0 identity projection "
        "(no Arrow transfer at all); only over-capacity series reach "
        "the build/merge kernels. Every Exchange after the build moves "
        "only SKETCH rows (<=k*log2(n/k) per bucket), never raw turns; "
        "quantile walk + in-query rank verification are window SQL + "
        "one aggregate over the raw join, no extra kernel.",
    ),
    (
        "lttb_downsample",
        Q.q_lttb_downsample,
        "LTTB kernel: ONE Exchange hashpartitioning(conv_id), a Sort on "
        "(conv_id, turn_idx, ts) and MapInPandas (Arrow batches cut into "
        "per-conversation runs, one Python call per partition) for "
        "inherently sequential per-series selection.",
    ),
    (
        "decontaminate_bloom",
        Q.q_decontaminate_bloom,
        "Bloom-pruned decontamination (round 5): the bitmap joins in "
        "as a broadcast 1-row relation (a BroadcastNestedLoopJoin of "
        "the intended scalar shape) and the membership test is a "
        "static codegen conjunction — NO exchange is added to the "
        "probe side and no Python appears anywhere; the exact confirm "
        "semi-join sits above the bloom filter, so its shuffle carries "
        "candidates only.",
    ),
    (
        "rollup_grouping_sets",
        Q.q_rollup_grouping_sets,
        "GROUPING SETS marginals (round 5): exactly ONE Expand node "
        "over the projected columns (bucket/tool/conv_id/length — the "
        "corpus text column must NOT appear in the Expand output), "
        "feeding partial-aggregated exchanges (<=3 total incl. the "
        "two-phase distinct) — four grains from one scan.",
    ),
    (
        "kmv_retention_hour",
        Q.q_kmv_retention_hour,
        "KMV set algebra (round 5): each cohort reduces to k=64 sketch "
        "rows per bucket via map-side-combined distinct + a per-bucket "
        "sort-window top-k (spillable, skew-safe); every join/window "
        "after the sketch build moves only sketch rows; the estimators "
        "are pure projections (no kernel, no extra aggregate over raw).",
    ),
    (
        "cusum_changepoints",
        Q.q_cusum_changepoints,
        "CUSUM via the prefix identity (round 5): the sequential "
        "recursion compiles to stacked Window nodes over ONE "
        "hashpartitioning(conv_id) exchange beyond the turns "
        "derivation — no Python, no self-join, no per-row UDF; "
        "entities parallelize to the shuffle width.",
    ),
    (
        "seasonal_anomaly_hour",
        Q.q_seasonal_anomaly_hour,
        "Seasonal climatology (round 5): profile is one 24-partition "
        "window over the ALREADY-AGGREGATED hourly tier (partial "
        "aggregation below, window above) — raw turns are scanned "
        "exactly once.",
    ),
    (
        "tool_corr_hour",
        Q.q_tool_corr_hour,
        "Pairwise Pearson (round 5): alignment is an equi-join on the "
        "hour bucket (hash/broadcast, NO CartesianProduct or "
        "BroadcastNestedLoopJoin); the pair reduction is raw-moment "
        "sums with partial aggregation (map-side combine).",
    ),
    (
        "mann_kendall_trend",
        Q.q_mann_kendall_trend,
        "Mann-Kendall (round 5): the pair join is an EQUI-join on "
        "conv_id (never cartesian across entities); S / tie-term / "
        "count reductions all partial-aggregate; no Python.",
    ),
    (
        "psi_drift_day",
        Q.q_psi_drift_day,
        "PSI drift (round 5): every node above the histogram-sketch "
        "build moves only bin rows (kinds x days x 64); the dense "
        "scaffold explode sits ABOVE the count aggregation, never "
        "multiplying raw turns; lag/total windows partition on "
        "(kind,bin)/(kind,day).",
    ),
    (
        "tool_leadlag_hour",
        Q.q_tool_leadlag_hour,
        "Lead-lag xcorr (round 5): the lag explode sits ABOVE the "
        "hourly aggregation (5x on rolled-up rows, not raw turns); "
        "alignment is an EQUI-join keyed on the shifted-epoch "
        "expression — no CartesianProduct/BroadcastNestedLoopJoin.",
    ),
    (
        "decompose_hourly",
        Q.q_decompose_hourly,
        "Classical decomposition (round 5): raw turns reduce to hourly "
        "buckets BEFORE any window; the single-partition centered-MA "
        "window runs over the tiny tier series only.",
    ),
    (
        "m4_downsample",
        Q.q_m4_downsample,
        "M4 (round 5): two stacked Window nodes — the second partitions "
        "on the FINER (conv_id, bucket) key — zero Python, no "
        "generator/explode anywhere, output filter is a plain "
        "Filter over the window columns.",
    ),
    (
        "theil_sen_trend",
        Q.q_theil_sen_trend,
        "Theil-Sen (round 5): pair enumeration is a hash EQUI-join on "
        "conv_id (SortMergeJoin/ShuffledHashJoin, never nested-loop); "
        "the two percentile aggregates reuse the conv_id shuffle key.",
    ),
    (
        "cms_ngram_counts",
        Q.q_cms_ngram_counts,
        "Count-Min (round 5): the d-way explode feeds a partial+final "
        "HashAggregate pair on (bucket,row,pos) — map-side combine caps "
        "shuffle rows at d*w per bucket per partition regardless of "
        "bigram cardinality; probe joins are hash equi-joins.",
    ),
    (
        "interval_join_bursts",
        Q.q_interval_join_bursts,
        "Banded interval join (round 5): interval explode on the TINY "
        "bursts side only; the point-interval match is a hash EQUI-join "
        "(BroadcastHashJoin here — bursts are small) on the bucket key "
        "plus refining Filter. The one BroadcastNestedLoopJoin is the "
        "intended 1-ROW scalar-subquery shape (hot-threshold total), "
        "not the point-interval path.",
    ),
    (
        "funnel_tools",
        Q.q_funnel_tools,
        "Ordered funnel (round 5): every step is a conditional "
        "min-HashAggregate + equi-join on conv_id — the SAME shuffle "
        "key throughout (exchange reuse), no window over raw events, "
        "no nested-loop join, whole-stage codegen end to end.",
    ),
    (
        "embedding_project",
        Q.q_embedding_project,
        "JL projection (round 5): ZERO Exchange, zero Generate — the "
        "d*k multiply-adds fold into the scan Project inside "
        "WholeStageCodegen; ReadSchema prunes to (vec_id, embedding).",
    ),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("FATAL")
    out = [
        "# PLANS — physical-plan audit of the flagship queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` "
        "(Spark `.explain('formatted')`, sf0.001 inputs — plan SHAPE is "
        "scale-independent; AQE may re-plan exchanges at runtime).",
        "",
    ]
    for name, fn, claim in AUDITS:
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_shuffle = len(re.findall(r"(?m)^\(\d+\) Exchange\b", plan))
        n_bcast = len(re.findall(r"(?m)^\(\d+\) BroadcastExchange\b", plan))
        n_cartesian = len(re.findall(r"(?m)^\(\d+\) (CartesianProduct|BroadcastNestedLoopJoin)\b", plan))
        out += [
            f"## {name}",
            "",
            f"**Claim:** {claim}",
            "",
            f"**Plan nodes:** {n_shuffle} shuffle Exchange(s), "
            f"{n_bcast} BroadcastExchange(s), {n_cartesian} cartesian/nested-loop.",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
