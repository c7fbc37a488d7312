"""Driver-facing query builders: each returns a DataFrame whose columns
match the DuckDB oracle byte-for-byte after deterministic normalization.

Normalization contract (applies identically in the oracle SQL):
- double outputs rounded to 4 decimals (floating aggregates are
  order-of-summation sensitive across engines; 4 decimals >> both
  engines' per-value error),
- timestamps rendered as strings ``yyyy-MM-dd HH:mm:ss[.SSSSSS]`` (no
  tz/precision ambiguity across engines),
- integer counts / exact values left untouched.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ts_raster_spark.operators.cascade import cascade_up
from ts_raster_spark.operators.gapfill import gapfill
from ts_raster_spark.operators.longform import CHANNELS, to_long_panel
from ts_raster_spark.operators.mask import mask_df, unmask_df
from ts_raster_spark.operators.rollup import rollup_features, rollup_simple
from ts_raster_spark.sources.catalog import conv_bucket
from ts_raster_spark.sources.turns import TURNS_SCHEMA, derive_turns_from_events
from ts_raster_spark.streaming import rollup_stream as RS

from ts_raster_spark.functions.norm import ROUND_N, r4  # noqa: E402

# Scratch for the streaming queries' file-source input, kept inside the
# checkout (see _drain_stream).
_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_tmp")


def load_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return derive_turns_from_events(events)


def load_long(spark: SparkSession, sf_dir: str, channels: tuple[str, ...] = CHANNELS) -> DataFrame:
    """Long panel of the ``channels`` kinds; the others are pruned from
    the derivation (the latency window too when latency_s is left out —
    see longform.with_channels)."""
    return to_long_panel(load_turns(spark, sf_dir), channels=channels)


def _late() -> Column:
    """The deterministic 'late' turns of the two MERGE queries."""
    return (conv_bucket(F.col("conv_id"), 7) == 3) & (F.col("turn_idx") >= 4)


def _turn_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The turns table's own columns: the rows a turns stream reads."""
    return load_turns(spark, sf_dir).select(*TURNS_SCHEMA.fieldNames())


def _drain_stream(spark: SparkSession, inp: DataFrame, build, output_mode: str) -> DataFrame:
    """Run ``build`` over a file-source stream of ``inp`` and return the
    drained result table.

    ``inp`` is written to a fresh directory under the checkout's
    ``.bench_tmp/``; ``build(RS.stream_turns(spark, path))`` is drained
    into a memory table named after that directory (availableNow, so the
    table is complete when this returns). The table is materialized with
    ``localCheckpoint`` and its temp view dropped, and the directory is
    removed afterwards. A per-call copy means two runs from one checkout
    never overwrite or list each other's input files, and neither
    scratch nor a session view outlives the call."""
    os.makedirs(_SCRATCH, exist_ok=True)
    path = tempfile.mkdtemp(prefix="tsrs_stream_", dir=_SCRATCH)
    name = os.path.basename(path)
    try:
        inp.write.mode("overwrite").parquet(path)
        RS.run_to_memory(build(RS.stream_turns(spark, path)), name, output_mode)
        return spark.table(name).localCheckpoint()
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(path, ignore_errors=True)


def finalize(df: DataFrame, ts_fmt: str = "yyyy-MM-dd HH:mm:ss") -> DataFrame:
    """Apply the normalization contract to every column by type."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.DoubleType):
            cols.append(r4(c).alias(f.name))
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            cols.append(F.date_format(c, ts_fmt).alias(f.name))
        elif isinstance(f.dataType, T.FloatType):
            cols.append(r4(c.cast("double")).alias(f.name))
        else:
            cols.append(c.alias(f.name))
    return df.select(*cols)


# --- §2.1/§2.3: source derivation + unpivot -------------------------------

def q_turns_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived turns table itself — per-turn text equality evidence."""
    return finalize(_turn_rows(spark, sf_dir), ts_fmt="yyyy-MM-dd HH:mm:ss.SSSSSS")


def q_long_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_to_series analog: tidy long panel (prep.py:116-154)."""
    return finalize(
        load_long(spark, sf_dir).select("conv_id", "turn_idx", "ts", "kind", "value"),
        ts_fmt="yyyy-MM-dd HH:mm:ss.SSSSSS",
    )


# --- §2.5: tiered feature rollups -----------------------------------------

def _rollup(spark, sf_dir, tier, kinds=None, strikes=False, trend=False, entropy=False):
    long_df = load_long(spark, sf_dir)
    if kinds:
        long_df = long_df.where(F.col("kind").isin(*kinds))
    return finalize(
        rollup_features(
            long_df, tier=tier, include_strikes=strikes,
            include_trend=trend, include_entropy=entropy,
        )
    )


def q_rollup_minute_core(spark, sf_dir):
    df = _rollup(spark, sf_dir, "minute", kinds=["text_len"])
    keep = ["conv_id", "kind", "bucket_start", "turn_count", "mean", "maximum",
            "minimum", "sum_values", "median", "variance", "standard_deviation", "abs_energy"]
    return df.select(*keep)


def q_rollup_hour_full(spark, sf_dir):
    return _rollup(spark, sf_dir, "hour", kinds=["text_len", "latency_s"])


def q_rollup_day_full(spark, sf_dir):
    return _rollup(spark, sf_dir, "day", kinds=["text_len", "value"])


def q_conv_features(spark, sf_dir):
    """Whole-series extraction (the reference's single-period
    calculateFeatures run), incl. strikes + chunked linear trend."""
    return _rollup(spark, sf_dir, None, kinds=["text_len"], strikes=True, trend=True, entropy=True)


def q_latency_stats_hour(spark, sf_dir):
    df = _rollup(spark, sf_dir, "hour", kinds=["latency_s"])
    keep = ["conv_id", "kind", "bucket_start", "turn_count", "mean", "maximum",
            "minimum", "standard_deviation", "median", "quantile_q95"]
    return df.select(*keep)


def q_role_tool_mix_conv(spark, sf_dir):
    """North-star transcript channels: role shares / tool mix per conversation."""
    t = load_turns(spark, sf_dir)
    out = t.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.avg((F.col("role") == "assistant").cast("double")).alias("assistant_share"),
        F.avg((F.col("role") == "user").cast("double")).alias("user_share"),
        F.avg(F.col("tool").isNotNull().cast("double")).alias("tool_share"),
        F.count_distinct("tool").cast("long").alias("n_distinct_tools"),
    )
    return finalize(out)


def q_turn_count_hour(spark, sf_dir):
    t = load_turns(spark, sf_dir)
    out = (
        t.withColumn("bucket_start", F.date_trunc("hour", F.col("ts")))
        .groupBy("conv_id", "bucket_start")
        .agg(F.count("*").cast("long").alias("turn_count"))
    )
    return finalize(out)


# --- §2.4: mask / unmask joins --------------------------------------------

def _mask(spark, sf_dir):
    t = load_turns(spark, sf_dir)
    ids = t.select("conv_id").distinct()
    return ids.withColumn(
        "keep", (F.substring("conv_id", 6, 10).cast("int") % 2 == 0).cast("int")
    )


def q_mask_rollup_hour(spark, sf_dir):
    """mask_df analog: left-semi filter then rollup (calculate.py:90-91)."""
    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    masked = mask_df(long_df, _mask(spark, sf_dir))
    out = rollup_features(masked, tier="hour", feature_names=["turn_count", "mean", "maximum", "minimum"])
    return finalize(out)


def q_unmask_conv_counts(spark, sf_dir):
    """unmask_df analog: re-expand onto full domain, sentinel-fill."""
    t = load_turns(spark, sf_dir)
    masked = mask_df(t, _mask(spark, sf_dir))
    counts = masked.groupBy("conv_id").agg(F.count("*").cast("double").alias("n_turns"))
    return finalize(unmask_df(counts, t, ["conv_id"], ["n_turns"]))


# --- §2.6: windows ---------------------------------------------------------

def q_panel_lag1(spark, sf_dir):
    """panel_lag_1 analog (prep.py:705-743): per-(conv,kind) lag-1."""
    from pyspark.sql.window import Window

    long_df = load_long(spark, sf_dir).where(F.col("kind").isin("text_len", "value"))
    w = Window.partitionBy("conv_id", "kind").orderBy("turn_idx", "ts")
    out = long_df.withColumn("value_lag1", F.lag("value", 1).over(w)).where(
        F.col("value_lag1").isNotNull()
    )
    return finalize(out.select("conv_id", "kind", "turn_idx", "value", "value_lag1"))


# --- cascade ---------------------------------------------------------------

def q_cascade_hour_from_minute(spark, sf_dir):
    """Tier algebra: hour tier via minute-tier sufficient statistics.
    Oracle computes the hour tier directly from raw — equality IS the
    tier-algebra proof."""
    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    minute = rollup_simple(long_df, "minute")
    return finalize(cascade_up(minute, "hour"))


def q_cascade_day_from_minute(spark, sf_dir):
    long_df = load_long(spark, sf_dir).where(F.col("kind").isin("text_len", "latency_s"))
    minute = rollup_simple(long_df, "minute")
    return finalize(cascade_up(cascade_up(minute, "hour"), "day"))


# --- gap-fill --------------------------------------------------------------

def _gapfill_hour(spark, sf_dir, policy):
    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    points = rollup_simple(long_df, "hour", aggs={"value": F.avg("value")})
    out = gapfill(points, "hour", policy)
    return finalize(out.select("conv_id", "kind", "bucket_start", "value", F.col("_observed").cast("int").alias("observed")))


def q_gapfill_locf_hour(spark, sf_dir):
    return _gapfill_hour(spark, sf_dir, "locf")


def q_gapfill_linear_hour(spark, sf_dir):
    return _gapfill_hour(spark, sf_dir, "linear")


def q_gapfill_sentinel_hour(spark, sf_dir):
    return _gapfill_hour(spark, sf_dir, "sentinel")


# --- documents / embeddings: training-data pipeline ops ---------------------

ANN_QUERY_IDS = list(range(20))


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_dedup_exact(spark, sf_dir):
    from ts_raster_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from ts_raster_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)


def q_dedup_minhash_lsh(spark, sf_dir):
    from ts_raster_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), k=8, band_size=2)


def q_dedup_components(spark, sf_dir):
    """Near-dup clustering: connected components over the MinHash-LSH
    candidate pairs (pairs → canonical groups; component id = min
    doc_id). Oracle = recursive transitive-closure CTE."""
    from ts_raster_spark.operators.dedup import connected_components_star, minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, k=8, band_size=2)
    nodes = docs.select(F.col("doc_id").alias("node"))
    out = connected_components_star(pairs, all_nodes=nodes)
    return out.select(F.col("node").alias("doc_id"), "component")


def q_dedup_simhash(spark, sf_dir):
    from ts_raster_spark.operators.dedup import simhash16

    return simhash16(_docs(spark, sf_dir))


def q_ann_topk_cosine(spark, sf_dir):
    from ts_raster_spark.operators.similarity import cosine_topk_bruteforce

    return cosine_topk_bruteforce(_emb(spark, sf_dir), ANN_QUERY_IDS)


def q_ann_signlsh(spark, sf_dir):
    from ts_raster_spark.operators.similarity import signlsh_topk

    return signlsh_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=3)


def q_dedup_embedding_cosine(spark, sf_dir):
    """Exact all-pairs variant — oracle-parity/recall baseline only; the
    production path is q_dedup_embedding_cosine_blocked."""
    from ts_raster_spark.operators.similarity import cosine_near_dup_pairs

    return cosine_near_dup_pairs(_emb(spark, sf_dir), threshold=0.35)


def q_dedup_embedding_cosine_blocked(spark, sf_dir):
    """Sign-LSH-blocked near-dup pairs — the 100 TB default (no O(n²)
    cross join; candidates only within per-band sign buckets)."""
    from ts_raster_spark.operators.similarity import cosine_near_dup_blocked

    return cosine_near_dup_blocked(_emb(spark, sf_dir), threshold=0.35)


def q_ann_ivf(spark, sf_dir):
    """IVF (k-means cells, nprobe=8 of 16) approximate top-k, checkable
    against an oracle through its recall claim: k-means iterations are not
    SQL-reproducible, so the raw neighbor rows cannot be value-hashed —
    but the QUALITY CLAIM can.  The query computes recall@5 per query
    vs an in-query brute-force top-5 over the same vectors and emits
    one row (n_queries, mean_recall_ge_08); the oracle states the
    claim (20, 1).  A recall regression below 0.8 flips the boolean
    and breaks the hash — upgrading the one structurally-no_oracle
    entry to a checkable row (per-query detail stays pytest-asserted,
    tests/test_ivf.py).  Threshold note: the synthetic embeddings are
    near-uniform, so cell boundaries cut true neighborhoods —
    measured mean recall at nprobe=8 is 0.86/0.92/0.90 at
    sf0.001/0.01/0.1; 0.8 is the claim with honest cross-host margin
    (on clusterable real data the same config scores higher)."""
    from ts_raster_spark.operators.similarity import cosine_topk_bruteforce, ivf_topk

    emb = _emb(spark, sf_dir)
    ivf = ivf_topk(emb, ANN_QUERY_IDS, k=5, nprobe=8).select("query_id", "neighbor_id")
    brute = cosine_topk_bruteforce(emb, ANN_QUERY_IDS).select("query_id", "neighbor_id")
    hits = brute.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    per_q = (
        brute.select("query_id").distinct()
        .join(hits.groupBy("query_id").agg(F.count("*").alias("_hits")), "query_id", "left")
        .select((F.coalesce(F.col("_hits"), F.lit(0)) / 5.0).alias("_recall"))
    )
    out = per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        (F.avg("_recall") >= 0.8).cast("int").alias("mean_recall_ge_08"),
    )
    return out


def q_lang_id(spark, sf_dir):
    from ts_raster_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_token_stats(spark, sf_dir):
    from ts_raster_spark.operators.textstats import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    from ts_raster_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_tfidf_top_terms(spark, sf_dir):
    from ts_raster_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    from ts_raster_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_dedup_keep_canonical(spark, sf_dir):
    """End-to-end near-dup dedup: MinHash-LSH pairs → components → keep
    the component-min doc + singletons, with cluster-size accounting."""
    from ts_raster_spark.operators.dedup import dedup_keep_canonical

    out = dedup_keep_canonical(_docs(spark, sf_dir))
    return out.select("doc_id", "source", "n_chars", "component", "n_dups")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals (dup-line / dup-char / top-bigram
    fractions) — the boilerplate filter of a pretraining pipeline."""
    from ts_raster_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_duplicate_lines(spark, sf_dir):
    """Corpus-level duplicated-line index (CCNet/C4 line dedup). The
    test corpus is single-line unique docs, so the gate unions a
    doc_id-shifted copy of every 7th document — deterministic, mirrored
    exactly in the oracle — to exercise the multi-doc/multi-occurrence
    accounting."""
    from ts_raster_spark.operators.textstats import duplicate_lines

    docs = _docs(spark, sf_dir)
    shifted = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return duplicate_lines(docs.unionByName(shifted))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: word 4-gram overlap of every training
    doc (doc_id % 20 != 0) against the held-out benchmark split
    (doc_id % 20 == 0); ≥10% overlap flags the doc contaminated."""
    from ts_raster_spark.operators.dedup import decontaminate_ngrams

    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 20 != 0)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return decontaminate_ngrams(train, bench, n=4, threshold=0.1)


def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-pruned decontamination: the same contract as
    `q_decontaminate` (identical rows by the no-false-negative
    property — the oracle IS the exact SQL), but the training-side
    n-gram stream is pre-filtered by a broadcast ~256 KiB Bloom bitmap
    before the exact confirm semi-join, so at 100 TB the confirm
    shuffle carries candidates (~FPR of clean mass), not the corpus."""
    from ts_raster_spark.operators.bloom import decontaminate_ngrams_bloom

    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 20 != 0)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return decontaminate_ngrams_bloom(train, bench, n=4)


def q_chunk_documents(spark, sf_dir):
    """Fixed-token chunking with overlap (RAG / pretraining windows) —
    pure array explode at scan speed, no shuffle."""
    from ts_raster_spark.operators.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, overlap=16)


def q_pack_documents(spark, sf_dir):
    """Sequence packing: per-shard (source) cumulative-token pack
    assignment under a 512-token budget — the window partitions by
    shard, so no global single-task stage exists at scale."""
    from ts_raster_spark.operators.chunking import pack_documents

    return pack_documents(_docs(spark, sf_dir), budget=512)


def q_stream_dedup_exact(spark, sf_dir):
    """Streaming at-least-once dedup exposed to the batch gate: the
    turns table is delivered TWICE (duplicate-delivery simulation,
    copies co-located per key by a range repartition so every duplicate
    pair shares a micro-batch), drained through
    dropDuplicatesWithinWatermark, and the surviving rows must equal the
    original table exactly — the oracle is the base turns projection."""
    turns = _turn_rows(spark, sf_dir)
    doubled = turns.unionByName(turns).repartitionByRange(8, "conv_id", "turn_idx")
    return finalize(_drain_stream(spark, doubled, RS.stream_dedup_exact, "append"))


def q_curate_corpus(spark, sf_dir):
    """The composed curation pass (quality → decontaminate → exact dedup
    → near-dup dedup) over the full corpus, benchmark = doc_id % 20 == 0
    (benchmark members curate to 'contaminated' — they overlap
    themselves). One verdict row per document, first failing stage wins;
    oracle composes the four primitive twins."""
    from ts_raster_spark.operators.curation import curate_corpus

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return curate_corpus(docs, bench)


def q_hll_users_hour(spark, sf_dir):
    """Distinct conversations per hour three ways: exact, HLL-direct,
    and HLL merged up from minute-tier registers (the 100 TB path: 256
    narrow register rows per bucket instead of shuffling every distinct
    (bucket, conv) pair; minute→hour merge = MAX, never rescans raw).
    Direct and merged are algebraically equal, so one oracle expression
    attests both columns — a hash match proves the merge exact."""
    from ts_raster_spark.operators.hll import hll_distinct_over_tiers

    t = load_turns(spark, sf_dir)
    return finalize(hll_distinct_over_tiers(t, entity="conv_id"))


def q_kmv_retention_hour(spark, sf_dir):
    """Cross-period distinct SET ALGEBRA from KMV sketches (the op HLL
    registers cannot express): per hour, this hour's conversations vs
    the previous hour's — estimated distincts for each cohort, their
    union, intersection (returning), difference (new), and Jaccard —
    computed entirely from two k=64-row-per-bucket sketches. Every
    number is a deterministic function of the entity sets via the
    engine-neutral kmvsql expressions, so the DuckDB twin replays the
    estimates EXACTLY (no claim oracle needed)."""
    from ts_raster_spark.operators.kmv import kmv_set_ops, kmv_sketch

    t = load_turns(spark, sf_dir)
    cur = t.withColumn("bucket_start", F.date_trunc("hour", F.col("ts")))
    prev = t.withColumn(
        "bucket_start",
        F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR"),
    )
    sa = kmv_sketch(cur, "conv_id", ["bucket_start"], k=64)
    sb = kmv_sketch(prev, "conv_id", ["bucket_start"], k=64)
    out = kmv_set_ops(sa, sb, ["bucket_start"], k=64, names=("curr", "prev"))
    return finalize(out)


def q_embedding_quantize(spark, sf_dir):
    """Absmax int8 quantization of the embedding column with checksum +
    reconstruction-error attestation (pure array expressions, no UDF)."""
    from ts_raster_spark.operators.similarity import embedding_quantize

    return embedding_quantize(_emb(spark, sf_dir))


# --- ML-prep tail (sample/split/scale/relevance/combine) --------------------

def q_sample_turns(spark, sf_dir):
    """sample.py analog: deterministic 10% content-hash sample."""
    from ts_raster_spark.operators.ml_prep import hash_sample

    t = load_turns(spark, sf_dir)
    return finalize(
        hash_sample(t, ["conv_id", "turn_idx"], 0.1).select("conv_id", "turn_idx", "role", "ts"),
        ts_fmt="yyyy-MM-dd HH:mm:ss.SSSSSS",
    )


def q_train_test_split(spark, sf_dir):
    """model.py:59-76 analog: 0.67/0.33 deterministic conv-level split."""
    from ts_raster_spark.operators.ml_prep import hash_split

    ids = load_turns(spark, sf_dir).select("conv_id").distinct()
    return hash_split(ids, ["conv_id"])


def _conv_features_xy(spark, sf_dir):
    t = load_turns(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.count("*").cast("double").alias("n_turns"),
        F.avg(F.length("text")).alias("mean_text_len"),
        F.avg(F.col("tool").isNotNull().cast("double")).alias("tool_share"),
        F.max(F.length("text")).cast("double").alias("max_text_len"),
        F.avg("value").alias("y"),
    )


def q_minmax_scale(spark, sf_dir):
    """model.py:50-53 analog: global min-max scaling of feature columns."""
    from ts_raster_spark.operators.ml_prep import minmax_scale

    xy = _conv_features_xy(spark, sf_dir)
    out = minmax_scale(xy, ["n_turns", "mean_text_len"])
    return finalize(
        out.select("conv_id", "n_turns", "mean_text_len", "n_turns_scaled", "mean_text_len_scaled")
    )


def q_feature_relevance(spark, sf_dir):
    """checkRelevance analog (calculate.py:366-423): per-feature Pearson
    correlation against the target, ranked by |r|."""
    from ts_raster_spark.operators.ml_prep import feature_relevance

    xy = _conv_features_xy(spark, sf_dir)
    return feature_relevance(xy, "y", ["n_turns", "mean_text_len", "tool_share", "max_text_len"])


def q_feature_relevance_fdr(spark, sf_dir):
    """checkRelevance FDR tail (calculate.py:366-423 → tsfresh
    select_features): per-feature Pearson t-test p-values + the
    Benjamini-Hochberg step-up decision at the tsfresh default 0.05.
    Oracle: sql/duck_stats.py evaluates the same regularized incomplete
    beta as a recursive-CTE power series — p-values agree to <4e-13."""
    from ts_raster_spark.operators.ml_prep import feature_relevance_fdr

    xy = _conv_features_xy(spark, sf_dir)
    out = feature_relevance_fdr(
        xy, "y", ["n_turns", "mean_text_len", "tool_share", "max_text_len"]
    )
    # NaN (constant feature) renders as SQL NULL on the oracle side
    pr = F.when(~F.isnan("pearson_r"), F.col("pearson_r"))
    pp = F.when(~F.isnan("p_value"), F.col("p_value"))
    return out.select(
        "feature",
        r4(pr).alias("pearson_r"),
        r4(pp).alias("p_value"),
        F.col("relevant").cast("int").alias("relevant"),
    )


def q_combine_periods(spark, sf_dir):
    """combine_extracted_features analog (prep.py:553-611): horizontal
    join of per-period feature frames with period-suffixed columns."""
    from ts_raster_spark.operators.ml_prep import combine_periods

    t = load_turns(spark, sf_dir)
    halves = {
        "p1": t.where(F.col("ts") < F.lit("2024-01-16").cast("timestamp")),
        "p2": t.where(F.col("ts") >= F.lit("2024-01-16").cast("timestamp")),
    }
    frames = {
        label: df.groupBy("conv_id").agg(
            F.count("*").cast("long").alias("turn_count"),
            r4(F.avg(F.length("text"))).alias("mean_text_len"),
        )
        for label, df in halves.items()
    }
    return combine_periods(frames, ["conv_id"])


def q_asof_join(spark, sf_dir):
    """As-of backward join: each turn picks up the latest hour-bucket
    mean text_len at-or-before its timestamp (DuckDB native ASOF JOIN is
    the oracle)."""
    from ts_raster_spark.operators.asof import asof_join

    t = load_turns(spark, sf_dir).select("conv_id", "turn_idx", "ts")
    pts = rollup_simple(
        load_long(spark, sf_dir).where(F.col("kind") == "text_len"),
        "hour",
        aggs={"bucket_mean": F.avg("value")},
    ).select("conv_id", "bucket_start", r4(F.col("bucket_mean")).alias("bucket_mean"))
    out = asof_join(t, pts, key="conv_id", left_ts="ts", right_ts="bucket_start",
                    value_cols=["bucket_mean"], direction="backward")
    return finalize(out.select("conv_id", "turn_idx", "ts", "bucket_mean"),
                    ts_fmt="yyyy-MM-dd HH:mm:ss.SSSSSS")


def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted hourly average of text_len (irregular sampling)."""
    from ts_raster_spark.operators.asof import time_weighted_avg_hour

    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    return finalize(time_weighted_avg_hour(long_df))


def q_session_windows(spark, sf_dir):
    """Native merging session windows (30 min inactivity gap)."""
    from ts_raster_spark.operators.asof import session_windows

    out = session_windows(load_turns(spark, sf_dir))
    return finalize(out, ts_fmt="yyyy-MM-dd HH:mm:ss.SSSSSS")


def q_export_wide_features(spark, sf_dir):
    """CreateTiff / features_to_array analog (calculate.py:23-55,
    314-332): the banded export layout — one row per conv_id, one column
    per (kind × feature), deterministic column order, sentinel-filled
    where a channel is absent (e.g. single-turn convs have no latency)."""
    long_df = load_long(spark, sf_dir).where(F.col("kind").isin("text_len", "latency_s"))
    wide = long_df.groupBy("conv_id").pivot("kind", ["text_len", "latency_s"]).agg(
        F.count("value").alias("n"),
        F.avg("value").alias("mean"),
        F.max("value").alias("max"),
    )
    out = wide.select(
        "conv_id",
        F.coalesce(F.col("text_len_n").cast("long"), F.lit(0)).alias("text_len_n"),
        F.coalesce(r4(F.col("text_len_mean")), F.lit(-9999.0)).alias("text_len_mean"),
        F.coalesce(r4(F.col("text_len_max")), F.lit(-9999.0)).alias("text_len_max"),
        F.coalesce(F.col("latency_s_n").cast("long"), F.lit(0)).alias("latency_s_n"),
        F.coalesce(r4(F.col("latency_s_mean")), F.lit(-9999.0)).alias("latency_s_mean"),
        F.coalesce(r4(F.col("latency_s_max")), F.lit(-9999.0)).alias("latency_s_max"),
    )
    return out


def q_stream_stateful_counts(spark, sf_dir):
    """applyInPandasWithState exposed to the batch gate: per-conversation
    running state (cumulative turn count + latency of the most recent
    turn) drained with an availableNow trigger. The input is written as
    MULTIPLE range-partitioned files (each conversation whole within one
    file — the scale-safe shape: no global sort, no single-task funnel);
    the stateful kernel itself sorts each key's rows within the
    micro-batch, which is all the per-key order it needs. The oracle is
    the batch SQL for the same final state."""
    inp = (
        _turn_rows(spark, sf_dir)
        .repartitionByRange(8, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    counted = _drain_stream(spark, inp, RS.stateful_turn_counter, "update")
    # n_turns is monotone per conv, so the final state row is max(n_turns)
    final = counted.groupBy("conv_id").agg(
        F.max("n_turns").cast("long").alias("n_turns"),
        F.expr("max_by(last_latency_s, n_turns)").alias("last_latency_s"),
    )
    return finalize(final)


def _kll_rank_claim(spark, sf_dir, cascade):
    """Deterministic KLL rank-sketch cascade (operators/kll.py):
    minute-grain sketches merged through each tier of ``cascade``,
    q50/q95 read from the coarsest sketch.  The estimates themselves
    are only reproducible by running the compaction algorithm (not
    SQL), so the oracle-checked surface is the CLAIM, verified
    in-query against raw: the estimate's rank interval must sit within
    the sketch's closed-form worst-case rank bound H·n/(2k) of the
    target rank, and the sketch's conserved weight must equal the exact
    count.  The oracle recomputes n from raw and states the booleans;
    estimate accuracy/determinism/merge-parity are pytest-asserted
    (tests/test_kll.py)."""
    from ts_raster_spark.operators.kll import kll_merge, kll_quantiles, kll_sketch

    k = 64
    long_df = load_long(spark, sf_dir, channels=("text_len",)).where(
        F.col("kind") == "text_len"
    )
    sk = kll_sketch(long_df, "minute", k=k)
    for tier in cascade:
        sk = kll_merge(sk, tier, k=k)
    est = kll_quantiles(sk)
    raw = long_df.withColumn("bucket_start", F.date_trunc(cascade[-1], F.col("ts")))
    joined = raw.join(est, ["conv_id", "kind", "bucket_start"])
    n = F.count("*")
    # worst-case rank bound of the deterministic compaction (kll.py):
    # H = log2(max(n/k, 2)) + 1 levels, each compaction at level l
    # shifts a rank by <= 2^l, summing to H*n/(2k)
    h = F.greatest(F.lit(1.0), F.log2(F.greatest(n.cast("double") / k, F.lit(2.0))) + 1.0)
    bound = h * n.cast("double") / (2.0 * k)

    def _in_bound(est_col, q):
        lo = F.sum((F.col("value") < F.col(est_col)).cast("long")).cast("double")
        hi = F.sum((F.col("value") <= F.col(est_col)).cast("long")).cast("double")
        target = F.lit(q) * n.cast("double")
        return ((hi >= target - bound) & (lo <= target + bound)).cast("int")

    out = joined.groupBy("conv_id", "kind", "bucket_start").agg(
        n.cast("long").alias("n_raw"),
        (F.max("total_weight") == n).cast("int").alias("count_ok"),
        _in_bound("q50_kll", 0.5).alias("q50_in_bound"),
        _in_bound("q95_kll", 0.95).alias("q95_in_bound"),
    )
    return finalize(out)


def _mg_claim(sk, src, item, tier, n_alias):
    """The Misra-Gries GUARANTEE of summary ``sk`` (per ``tier`` bucket),
    verified in-query against exact per-bucket counts of ``src``'s
    ``item`` column: every retained counter satisfies true−err ≤ weight
    ≤ true, and every item whose true count exceeds the bucket's err
    bound is retained.  The summary itself is only reproducible by
    running the algorithm, so these booleans (plus the distinct-item
    count, ``n_alias``) are the oracle-checked surface; the oracle
    restates them from raw."""
    errs = sk.groupBy("bucket_start").agg(F.max("err").alias("_err"))
    real = sk.where(F.col("item").isNotNull()).select(
        "bucket_start", F.col("item").alias(item), "weight"
    )
    exact = (
        src.where(F.col(item).isNotNull())
        .groupBy(F.date_trunc(tier, F.col("ts")).alias("bucket_start"), item)
        .agg(F.count("*").cast("long").alias("_cnt"))
    )
    j = exact.join(real, ["bucket_start", item], "left").join(errs, "bucket_start")
    in_bounds = F.when(
        F.col("weight").isNotNull(),
        (F.col("weight") <= F.col("_cnt"))
        & (F.col("weight") >= F.col("_cnt") - F.col("_err")),
    ).otherwise(F.lit(True))
    covered = F.when(
        F.col("_cnt") > F.col("_err"), F.col("weight").isNotNull()
    ).otherwise(F.lit(True))
    out = j.groupBy("bucket_start").agg(
        F.count("*").cast("long").alias(n_alias),
        F.min(in_bounds.cast("int")).alias("bounds_ok"),
        F.min(covered.cast("int")).alias("cover_ok"),
    )
    return finalize(out)


def q_sketch_kll_hour(spark, sf_dir):
    """KLL rank-sketch claim (``_kll_rank_claim``): minute sketches
    merged to hour."""
    return _kll_rank_claim(spark, sf_dir, ("hour",))


def q_sketch_kll_day(spark, sf_dir):
    """The DOUBLE cascade minute→hour→day of the KLL rank sketch — the
    depth where compaction error actually accumulates (each tier merge
    re-compacts over-capacity levels); same claim as sketch_kll_hour
    against the exact day count."""
    return _kll_rank_claim(spark, sf_dir, ("hour", "day"))


def q_mg_top_tools_hour(spark, sf_dir):
    """Misra-Gries heavy-hitters cascade (operators/mg.py): minute-grain
    k=2 summaries of the tool column merged to hour, checked by
    ``_mg_claim``.  k=2 over a 4-tool column forces real counter
    cancellation, so the bound is genuinely exercised; exact
    top_tools_hour is the parity sibling."""
    from ts_raster_spark.operators.mg import mg_merge, mg_sketch

    k = 2
    t = load_turns(spark, sf_dir)
    sk = mg_merge(mg_sketch(t, "tool", "minute", k=k), "hour", k=k)
    return _mg_claim(sk, t, "tool", "hour", "n_tools")


def q_mg_top_tools_day(spark, sf_dir):
    """The DOUBLE Misra-Gries cascade minute→hour→day (k=2) — two
    Agarwal-et-al merges, each adding tracked subtraction error, so the
    day-grain err column carries the accumulated bound; same claim as
    mg_top_tools_hour against exact day counts."""
    from ts_raster_spark.operators.mg import mg_merge, mg_sketch

    k = 2
    t = load_turns(spark, sf_dir)
    sk = mg_merge(mg_merge(mg_sketch(t, "tool", "minute", k=k), "hour", k=k), "day", k=k)
    return _mg_claim(sk, t, "tool", "day", "n_tools")


def q_sketch_merge_retention(spark, sf_dir):
    """The KLL sketch TIER composed with the
    late-data idempotent MERGE and the retention TTL — proof that
    sketch columns survive both tier-maintenance rules.

    A deterministic late subset of turns is withheld (same hash rule as
    q_late_data_merge_hour); the minute-grain sketch tier is built from
    the on-time rows, the late rows are merged by recomputing exactly
    the affected conversations' sketches from raw+late and upserting
    (operators/retention.merge_late), then retention drops buckets older
    than 7 days before the tier's own horizon (operators/retention.
    within_ttl: the cutoff is a function of the data, never wall clock).

    The sketch build is DETERMINISTIC (operators/kll.py), so the merged
    tier must equal a fresh build from ALL turns over the same window —
    asserted in-query by a full-outer multiset compare, emitted as a
    per-hour ``merge_exact`` flag; conservation gives
    ``total_weight`` = the exact in-window raw count per hour, which
    the DuckDB oracle restates from raw."""
    from ts_raster_spark.operators.kll import kll_sketch
    from ts_raster_spark.operators.retention import merge_late, within_ttl

    k = 64
    turns = load_turns(spark, sf_dir)

    def sketch(t):
        return kll_sketch(to_long_panel(t, channels=("text_len",)), "minute", k=k)

    merged = merge_late(turns, _late(), sketch)

    horizon = F.broadcast(merged.agg(F.max("bucket_start").alias("_horizon")))

    def retain(tier):
        return within_ttl(tier.crossJoin(horizon), "7 days", F.col("_horizon")).drop("_horizon")

    retained = retain(merged)
    fresh_ret = retain(sketch(turns))

    cols = ["conv_id", "kind", "bucket_start", "level", "value"]
    a = retained.groupBy(*cols).agg(F.count("*").alias("_ca"))
    b = fresh_ret.groupBy(*cols).agg(F.count("*").alias("_cb"))
    j = a.join(b, cols, "full_outer")
    out = (
        j.withColumn("_hour", F.date_trunc("hour", F.col("bucket_start")))
        .groupBy(F.col("_hour").alias("bucket_start"))
        .agg(
            F.min(
                (F.col("_ca").isNotNull() & (F.col("_ca") == F.col("_cb"))).cast("int")
            ).alias("merge_exact"),
            F.sum(F.coalesce(F.col("_ca"), F.lit(0)) * F.pow(F.lit(2.0), F.col("level")))
            .cast("long")
            .alias("total_weight"),
        )
    )
    return finalize(out)


def _bigrams(turns):
    """(ts, ngram) rows: every adjacent pair of lower-cased alphanumeric
    words in each turn's text, space-joined — an unbounded-cardinality
    item column."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit("")
    )
    grams = F.expr(
        "CASE WHEN size(_toks) >= 2 THEN "
        "transform(sequence(0, size(_toks)-2), i -> concat(_toks[i], ' ', _toks[i+1])) "
        "ELSE array() END"
    )
    return turns.withColumn("_toks", toks).select("ts", F.explode(grams).alias("ngram"))


def q_mg_ngrams_hour(spark, sf_dir):
    """The CAPPED-PARTIALS Misra-Gries path
    (operators/mg.mg_sketch_capped → mg_partials) on text word-bigrams —
    the shape the per-partition cap exists for (the pure-Catalyst
    build's map-side dictionary is one row per distinct (bucket, item)
    per partition, which for n-grams IS the shuffle).  The capped
    summary is partition-layout dependent, but its emitted ERROR BOUND
    is exact for any layout, so the surface is ``_mg_claim``."""
    from ts_raster_spark.operators.mg import mg_sketch_capped

    t2 = _bigrams(load_turns(spark, sf_dir))
    return _mg_claim(mg_sketch_capped(t2, "ngram", "hour", k=8), t2, "ngram", "hour", "n_ngrams")


def q_sketch_quantile_hour(spark, sf_dir):
    """Mergeable-sketch quantile cascade: minute-tier histogram sketches
    merged (bin-count sums) up to hour, quantiles read off the merged
    sketch. The oracle computes the HOUR sketch directly from raw — so
    equality proves the sketch merge is exact, the quantile rule is
    engine-independent, and the hour tier never re-reads raw data."""
    from ts_raster_spark.operators.sketch import (
        histogram_sketch,
        merge_sketch,
        sketch_quantiles,
        value_range,
    )

    long_df = load_long(spark, sf_dir).where(F.col("kind").isin("text_len", "latency_s"))
    rng = value_range(long_df)
    minute = histogram_sketch(long_df, "minute", rng, bins=64)
    hour = merge_sketch(minute, "hour")
    return finalize(sketch_quantiles(hour, rng, bins=64))


def q_stream_rollup_minute(spark, sf_dir):
    """Structured-Streaming continuous aggregate exposed to the batch
    gate: the turns table is drained through a file-source stream →
    tumbling-window rollup → memory sink with an availableNow trigger
    (complete mode), and the final table is returned. The oracle is the
    equivalent BATCH rollup — equality proves stream/batch parity of
    the windowed aggregate (streaming/rollup_stream.py)."""
    rolled = _drain_stream(
        spark, _turn_rows(spark, sf_dir), lambda s: RS.stream_rollup(s, tier="minute"), "complete"
    )
    return finalize(rolled)


def q_retention_ttl_hour(spark, sf_dir):
    """Retention TTL enforcement (north rule): hour-tier buckets older
    than 7 days before the panel's own horizon (max bucket_start) are
    dropped. The cutoff is a deterministic function of the data, never
    of wall clock (operators/retention.within_ttl)."""
    from ts_raster_spark.operators.retention import within_ttl

    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    hour = rollup_simple(long_df, "hour")
    horizon = hour.agg(F.max("bucket_start").alias("_horizon"))
    kept = within_ttl(hour.crossJoin(F.broadcast(horizon)), "7 days", F.col("_horizon")).drop("_horizon")
    return finalize(kept)


def q_late_data_merge_hour(spark, sf_dir):
    """Late-data idempotent MERGE (north rule, operators/retention.
    merge_late): a deterministic 'late' subset of turns is withheld, the
    hour tier is built from the on-time rows, then the late rows are
    merged by recomputing exactly the affected conversations' buckets and
    upserting them. The oracle recomputes the tier from ALL turns:
    equality IS the proof that the merge converges to the full
    recompute."""
    from ts_raster_spark.operators.retention import merge_late

    def hour(t):
        return rollup_simple(to_long_panel(t).where(F.col("kind") == "text_len"), "hour")

    return finalize(merge_late(load_turns(spark, sf_dir), _late(), hour))


def q_wide_to_long_panel(spark, sf_dir):
    """wide_to_long_target_features analog (prep.py:663-695): melt the
    period-suffixed combined table back to one row per (conv, period)."""
    from ts_raster_spark.operators.ml_prep import wide_to_long

    wide = q_combine_periods(spark, sf_dir)
    return wide_to_long(wide, keys=["conv_id"])


def q_autocorr_lags(spark, sf_dir):
    """tsfresh autocorrelation at lags 1..3 per conversation (general-lag
    form; lag>1 exercises the parameterized _lag{n} helper columns)."""
    from ts_raster_spark.functions.features import attach_group_stats, autocorrelation_agg

    keys = ["conv_id", "kind"]
    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    st = attach_group_stats(long_df, keys, lags=(1, 2, 3))
    aggs = {}
    for lag in (1, 2, 3):
        aggs.update(autocorrelation_agg(lag))
    out = st.groupBy(*keys).agg(*[v.alias(k) for k, v in aggs.items()])
    return finalize(out)


def q_feature_names_dim(spark, sf_dir):
    """features_names dim sink (calculate.py:139-144): the persisted
    band-position → (kind, feature) lookup for the wide export."""
    from ts_raster_spark.sources.catalog import feature_names_dim

    wide = q_export_wide_features(spark, sf_dir)
    return feature_names_dim(spark, wide)


def q_kernel_features_cwt(spark, sf_dir):
    """Arrow sorted-run kernel path incl. number_cwt_peaks (golden-table
    check: CWT has no SQL analog); the kernel computes only the seven
    features kept."""
    from ts_raster_spark.operators.kernels import extract_features_kernel

    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    features = ["turn_count", "mean", "abs_energy",
                "number_cwt_peaks_n6", "number_cwt_peaks_n12",
                "longest_strike_above_mean", "longest_strike_below_mean"]
    return finalize(extract_features_kernel(long_df, features=features))


def q_compress_roundtrip(spark, sf_dir):
    """Gorilla/DoD blocks, VALUE-CHECKED: the binary blocks
    themselves have no SQL analog, but the aggregates of the DECODED
    stream do — per-(conv_id, kind) n/sum/min/max of decoded values and
    first/last decoded timestamp (from the DoD stream).  The DuckDB twin
    recomputes every column from the raw long panel, so a corrupted
    encode/decode breaks the driver's value hash, not just a pytest.
    Bit-exactness of the codec itself stays pytest-proven
    (tests/test_compression.py)."""
    from ts_raster_spark.operators.compress import compress_blocks, decompress_blocks

    long_df = load_long(spark, sf_dir).where(F.col("kind").isin("text_len", "latency_s"))
    blocks = compress_blocks(long_df)
    # sums carry the surface-standard r4 contract (4-dp + sig-digit cap,
    # functions/norm.py);
    # decode is bit-exact so only order-of-summation noise (~1e-7 abs at
    # these magnitudes) needs absorbing, far inside the 1e-4 quantum
    decoded = decompress_blocks(blocks).groupBy("conv_id", "kind").agg(
        F.count("*").cast("long").alias("n_points"),
        r4(F.sum("value")).alias("sum_decoded"),
        F.min("value").alias("min_decoded"),
        F.max("value").alias("max_decoded"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    original = long_df.groupBy("conv_id", "kind").agg(
        F.count("*").cast("long").alias("n_orig"),
        r4(F.sum("value")).alias("sum_orig"),
    )
    return finalize(
        decoded.join(original, ["conv_id", "kind"])
        .withColumn("roundtrip_ok", ((F.col("n_points") == F.col("n_orig")) & (F.col("sum_decoded") == F.col("sum_orig"))).cast("int")),
        ts_fmt="yyyy-MM-dd HH:mm:ss.SSSSSS",
    )


def q_moving_stats(spark, sf_dir):
    """Rolling per-conversation stats over the trailing 5 turns
    (frame-spec window breadth: ROWS BETWEEN 4 PRECEDING AND CURRENT)."""
    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "ts")
        .rowsBetween(-4, Window.currentRow)
    )
    out = long_df.select(
        "conv_id",
        "turn_idx",
        r4(F.avg("value").over(w)).alias("rolling_mean_5"),
        r4(F.max("value").over(w)).alias("rolling_max_5"),
        F.count("value").over(w).cast("long").alias("rolling_n"),
    )
    return out


def q_moving_stats_time(spark, sf_dir):
    """Rolling per-conversation stats over a trailing ONE-HOUR time
    window (RANGE frame on integer epoch-microseconds — value-based, so
    tie order is irrelevant and both engines agree exactly). The
    time-interval twin of the row-frame moving_stats."""
    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = (
        Window.partitionBy("conv_id")
        .orderBy(epoch_us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return long_df.select(
        "conv_id",
        "turn_idx",
        r4(F.avg("value").over(w)).alias("rolling_mean_1h"),
        r4(F.max("value").over(w)).alias("rolling_max_1h"),
        F.count("value").over(w).cast("long").alias("rolling_n_1h"),
    )


def q_new_convs_hour(spark, sf_dir):
    """Cohort entry: per hour, conversations active vs seen for the
    FIRST time (the new-vs-returning split of a usage rollup). First-seen
    is one groupBy(conv) min(ts); no global window."""
    t = load_turns(spark, sf_dir)
    hour = F.date_trunc("hour", F.col("ts")).alias("bucket_start")
    active = (
        t.select(hour, "conv_id").distinct()
        .groupBy("bucket_start")
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    first_seen = (
        t.groupBy("conv_id").agg(F.min("ts").alias("first_ts"))
        .select(F.date_trunc("hour", F.col("first_ts")).alias("bucket_start"))
        .groupBy("bucket_start")
        .agg(F.count("*").cast("long").alias("n_new"))
    )
    out = active.join(first_seen, "bucket_start", "left").fillna({"n_new": 0})
    return finalize(
        out.select(
            "bucket_start",
            "n_active",
            "n_new",
            r4(F.col("n_new") / F.col("n_active")).alias("new_frac"),
        )
    )


def q_cohort_retention(spark, sf_dir):
    """Hour-over-hour retention: of the conversations active in bucket
    b, how many are also active in b+1h. Distinct (conv, hour) pairs
    self-join on (conv, hour+1) — equi-join keyed by conv AND hour, so
    a heavy conversation spreads across buckets; no window."""
    t = load_turns(spark, sf_dir)
    active = t.select(
        F.date_trunc("hour", F.col("ts")).alias("bucket_start"), "conv_id"
    ).distinct()
    nxt = active.select(
        (F.col("bucket_start") - F.expr("INTERVAL 1 HOUR")).alias("bucket_start"),
        F.col("conv_id").alias("conv_id"),
    )
    retained = (
        active.join(nxt, ["bucket_start", "conv_id"], "left_semi")
        .groupBy("bucket_start")
        .agg(F.count("*").cast("long").alias("n_retained_1h"))
    )
    counts = active.groupBy("bucket_start").agg(F.count("*").cast("long").alias("n_active"))
    out = counts.join(retained, "bucket_start", "left").fillna({"n_retained_1h": 0})
    return finalize(
        out.select(
            "bucket_start",
            "n_active",
            "n_retained_1h",
            r4(F.col("n_retained_1h") / F.col("n_active")).alias("retention_1h"),
        )
    )


def q_moving_quantiles(spark, sf_dir):
    """Rolling exact quantiles over the trailing 5 turns (moving median
    and p95) — holistic aggregates as frame-spec window functions, kept
    JVM-side (percentile is a Catalyst window aggregate, no Python)."""
    long_df = load_long(spark, sf_dir).where(F.col("kind") == "text_len")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "ts")
        .rowsBetween(-4, Window.currentRow)
    )
    return long_df.select(
        "conv_id",
        "turn_idx",
        r4(F.expr("percentile(value, 0.5)").over(w)).alias("rolling_median_5"),
        r4(F.expr("percentile(value, 0.95)").over(w)).alias("rolling_q95_5"),
    )


def q_stratified_sample(spark, sf_dir):
    """sampleBy analog: per-role hash-sampling fractions (user 20%,
    assistant 10%, rest 50%) — deterministic, engine-independent."""
    from ts_raster_spark.operators.ml_prep import frac_hex, hash_bucket

    t = hash_bucket(load_turns(spark, sf_dir), ["conv_id", "turn_idx"])
    thresh = (
        F.when(F.col("role") == "user", F.lit(frac_hex(0.2)))
        .when(F.col("role") == "assistant", F.lit(frac_hex(0.1)))
        .otherwise(F.lit(frac_hex(0.5)))
    )
    out = t.where(F.col("_h8") < thresh).select("conv_id", "turn_idx", "role")
    return out


def q_balanced_panel_check(spark, sf_dir):
    """prep.py:721-724 analog: per-(conv, kind) bucket-count balance
    check against the panel-wide maximum."""
    long_df = load_long(spark, sf_dir).where(F.col("kind").isin("text_len", "is_tool"))
    counts = (
        long_df.withColumn("bucket_start", F.date_trunc("day", F.col("ts")))
        .groupBy("conv_id", "kind")
        .agg(F.count_distinct("bucket_start").cast("long").alias("n_buckets"))
    )
    # 1-row global agg broadcast back (ml_prep.minmax_scale pattern) —
    # an unpartitioned window would funnel every row through one task
    panel_max = counts.agg(F.max("n_buckets").alias("panel_max"))
    return counts.crossJoin(F.broadcast(panel_max)).withColumn(
        "balanced", (F.col("n_buckets") == F.col("panel_max")).cast("int")
    )


# --- §2.5 extended tsfresh dictionary (features_ext.py) --------------------

def q_conv_features_ext(spark, sf_dir):
    """Whole-series extraction of the EXTENDED tsfresh dictionary
    (duplicates / reoccurrence, value & range counts, top-|x| mean,
    symmetry, index mass quantile, rfft k=1, corridor change stats,
    Levinson-Durbin pacf(2), full linear-trend attrs, q25/q75) over two
    channels. Same one-exchange shape as the flagship rollup: every
    helper window and the final groupBy share hashpartitioning on
    (conv_id, kind)."""
    from ts_raster_spark.functions.features_ext import rollup_ext_features

    long_df = load_long(spark, sf_dir).where(F.col("kind").isin("text_len", "value"))
    return finalize(rollup_ext_features(long_df, ["conv_id", "kind"]))


# --- timeseries counter/state/heartbeat algebra (operators/timeseries.py) --

def q_ohlc_hour(spark, sf_dir):
    """Gauge OHLC downsample per (conv, hour) on the value channel."""
    from ts_raster_spark.operators.timeseries import ohlc

    return finalize(ohlc(load_turns(spark, sf_dir)))


def q_counter_rate_hour(spark, sf_dir):
    """counter_agg increase/resets/rate per (conv, hour) over the
    deterministic wrap-at-50k cumulative-text-length counter fixture."""
    from ts_raster_spark.operators.timeseries import counter_rollup, with_synthetic_counter

    t = with_synthetic_counter(load_turns(spark, sf_dir))
    return finalize(counter_rollup(t))


def q_state_durations(spark, sf_dir):
    """Time-in-state per (conv, role) — state_agg analog."""
    from ts_raster_spark.operators.timeseries import state_durations

    return finalize(state_durations(load_turns(spark, sf_dir)))


def q_heartbeat_uptime(spark, sf_dir):
    """Per-conversation liveness from turn heartbeats (60 s tolerance)."""
    from ts_raster_spark.operators.timeseries import heartbeat_uptime

    return finalize(heartbeat_uptime(load_turns(spark, sf_dir)))


def q_ema_turns(spark, sf_dir):
    """Closed-form exponential moving average (alpha=0.3, pandas
    adjust=True semantics) of the value channel per conversation."""
    from ts_raster_spark.operators.timeseries import ema

    t = ema(load_turns(spark, sf_dir), alpha=0.3)
    return finalize(t.select("conv_id", "turn_idx", "ema"))


def q_lttb_downsample(spark, sf_dir):
    """LTTB visual downsample of each conversation's text_len series to
    20 points (operators/downsample.py). Golden-parquet oracle — the
    selection is sequential per series, not SQL-expressible."""
    from ts_raster_spark.operators.downsample import lttb

    t = load_turns(spark, sf_dir).withColumn("text_len", F.length("text").cast("double"))
    out = lttb(t, n_out=20)
    return finalize(out, ts_fmt="yyyy-MM-dd HH:mm:ss.SSSSSS")


def q_m4_downsample(spark, sf_dir):
    """M4 pixel-exact downsample (Jugel et al. VLDB 2014) of each
    conversation's text_len series into 8 pixel-column buckets
    (operators/downsample.py m4): the four per-bucket extremes that
    render identically to full resolution. Unlike LTTB this is pure
    stacked-window SQL (zero Python, set semantics on ties), so the
    DuckDB twin is EXACT, not golden."""
    from ts_raster_spark.operators.downsample import m4

    t = load_turns(spark, sf_dir).withColumn("text_len", F.length("text").cast("double"))
    out = m4(t, width=8, y_col="text_len")
    return finalize(out, ts_fmt="yyyy-MM-dd HH:mm:ss.SSSSSS")


def q_rollup_5min(spark, sf_dir):
    """Arbitrary-width tumbling buckets (TimescaleDB time_bucket
    analog): 300-second buckets via epoch floor — the tier system only
    covers unit widths (minute/hour/day); this is the general form.
    Pure projection + one hash aggregate."""
    from ts_raster_spark.operators.longform import epoch_seconds

    t = load_turns(spark, sf_dir)
    bucket = F.timestamp_seconds(
        (F.floor(epoch_seconds(F.col("ts")) / 300) * 300).cast("long")
    )
    tl = F.length("text").cast("double")
    out = t.groupBy("conv_id", bucket.alias("bucket_start")).agg(
        F.count("*").cast("long").alias("turn_count"),
        F.avg(tl).alias("mean_text_len"),
        F.min(tl).alias("min_text_len"),
        F.max(tl).alias("max_text_len"),
        F.sum(tl).alias("sum_text_len"),
    )
    return finalize(out)


def q_rollup_grouping_sets(spark, sf_dir):
    """Multi-grain marginals in ONE pass (GROUPING SETS): per
    (hour, tool), per hour, per tool, and grand total — the scan-once
    pattern that replaces four separate jobs at 100 TB. Catalyst plans
    ONE Expand (x4 row replication of the PROJECTED columns only, not
    the corpus text) feeding partial-aggregated shuffles; the distinct
    n_convs rides the same expand (two-phase distinct adds its one
    extra exchange over (grain, conv_id) partials — still one scan,
    plan-asserted: 1 Expand / 3 exchanges / zero Python). Marginal cells are
    disambiguated from data NULLs by grouping flags: '(all)' marks an
    aggregated-away axis, '(none)' a genuine NULL tool, and grain_id
    is Spark's grouping_id() (first grouping column = MSB — verified
    identical to DuckDB's GROUPING(b, tool))."""
    t = load_turns(spark, sf_dir)
    pre = t.select(
        F.date_trunc("hour", F.col("ts")).alias("b"),
        "tool",
        "conv_id",
        F.length("text").cast("double").alias("tl"),
    )
    out = (
        pre.groupingSets([["b", "tool"], ["b"], ["tool"], []], "b", "tool")
        .agg(
            F.grouping_id().cast("int").alias("grain_id"),
            F.count("*").cast("long").alias("n_turns"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.avg("tl").alias("avg_text_len"),
        )
        .select(
            # grain_id bits recover the grouping flags outside agg
            # context: first grouping column (b) is the MSB
            F.when(F.expr("grain_id & 2") != 0, F.lit("(all)"))
            .otherwise(F.date_format("b", "yyyy-MM-dd HH:mm:ss"))
            .alias("bucket_start"),
            F.when(F.expr("grain_id & 1") != 0, F.lit("(all)"))
            .otherwise(F.coalesce("tool", F.lit("(none)")))
            .alias("tool"),
            "grain_id",
            "n_turns",
            "n_convs",
            "avg_text_len",
        )
    )
    return finalize(out)


def q_top_tools_hour(spark, sf_dir):
    """Top-3 tools per hour by call count (heavy-hitters per bucket):
    grouped count + dense window rank, deterministic tie-break on tool
    name. The rank window partitions by the bucket only — fine because
    tool cardinality per bucket is tiny (the aggregate ran first)."""
    t = load_turns(spark, sf_dir).where(F.col("tool").isNotNull())
    counts = t.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_start"), "tool"
    ).agg(F.count("*").cast("long").alias("n_calls"))
    w = Window.partitionBy("bucket_start").orderBy(
        F.col("n_calls").desc(), F.col("tool")
    )
    out = counts.withColumn("rank", F.row_number().over(w).cast("long")).where(
        F.col("rank") <= 3
    )
    return finalize(out)


def q_asof_tolerance(spark, sf_dir):
    """Forward as-of join with a 300 s tolerance: each turn picks up the
    value of the conversation's NEXT tool call within 5 minutes (NULL if
    none) — pandas merge_asof(direction='forward', tolerance) semantics.
    Oracle is an independent correlated-subquery formulation."""
    from ts_raster_spark.operators.asof import asof_join

    t = load_turns(spark, sf_dir).select("conv_id", "turn_idx", "ts")
    pings = (
        load_turns(spark, sf_dir)
        .where(F.col("tool").isNotNull())
        .select("conv_id", F.col("ts").alias("ping_ts"), F.col("tool").alias("next_tool"))
    )
    out = asof_join(
        t, pings, key="conv_id", left_ts="ts", right_ts="ping_ts",
        value_cols=["next_tool"], direction="forward", tolerance_s=300.0,
    )
    return finalize(out.select("conv_id", "turn_idx", "next_tool"))


def q_sliding_counts(spark, sf_dir):
    """Hopping-window rollup: 1-hour windows sliding every 15 minutes
    (each turn lands in 4 overlapping windows). Native F.window
    generator — the tumbling tier system cannot express overlap; the
    oracle replays it as an explicit 4-offset window-start expansion."""
    t = load_turns(spark, sf_dir)
    w = F.window(F.col("ts"), "1 hour", "15 minutes")
    out = t.groupBy(w.alias("w")).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.avg(F.length("text").cast("double")).alias("mean_text_len"),
        F.count_distinct("conv_id").cast("long").alias("n_convs"),
    )
    out = out.select(
        F.col("w.start").alias("window_start"),
        "n_turns", "mean_text_len", "n_convs",
    )
    return finalize(out)


def q_sliding_counts_hll(spark, sf_dir):
    """Scale path for hopping-window distinct counts: exact
    ``count_distinct`` over 1-hour/15-min hopping windows shuffles every
    distinct (window, conv_id) pair FOUR times — the distinct-pair
    shuffle the HLL register table (operators/hll.py) exists to avoid.
    Here the register table is built ONCE at the base 15-minute grain
    (≤256 narrow rows per bucket regardless of input size), and only
    REGISTERS are expanded into the 4 covering windows and max-merged;
    per-bucket turn counts ride the same expand-and-sum algebra, so no
    raw row is ever replicated. The exact-distinct sibling
    (``sliding_counts``) stays as the parity gate; at sf scale the HLL
    estimate's own accuracy is pytest-asserted (tests/test_hll.py)."""
    from ts_raster_spark.operators.hll import hll_estimate, hll_merge, hll_registers
    from ts_raster_spark.operators.longform import epoch_seconds

    t = load_turns(spark, sf_dir)
    b15 = (F.floor(epoch_seconds(F.col("ts")) / 900) * 900).cast("long")
    base = t.select(b15.alias("b15"), "conv_id")
    regs = hll_registers(base, "conv_id", ["b15"])
    counts = base.groupBy("b15").agg(F.count("*").cast("long").alias("_n"))
    k = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k")
    win_start = F.timestamp_seconds(F.col("b15") - F.col("k") * 900).alias("window_start")
    regs_x = regs.select("b15", "bucket", "register", k).select(win_start, "bucket", "register")
    merged = hll_estimate(
        hll_merge(regs_x, ["window_start"]), ["window_start"], out_col="hll_convs"
    )
    counts_x = counts.select("b15", "_n", k).select(win_start, "_n")
    n_turns = counts_x.groupBy("window_start").agg(F.sum("_n").cast("long").alias("n_turns"))
    return finalize(n_turns.join(merged, "window_start"))


def q_stream_sliding_counts(spark, sf_dir):
    """Hopping-window rollup through Structured Streaming (file source →
    sliding window agg → memory sink, availableNow): stream/batch parity
    for OVERLAPPING windows — the tumbling stream query can't attest the
    hop path."""
    return finalize(_drain_stream(spark, _turn_rows(spark, sf_dir), RS.stream_sliding, "complete"))


def q_stream_session_windows(spark, sf_dir):
    """Session windows computed by the STREAMING stateful operator
    (applyInPandasWithState + EventTimeTimeout): every session must
    close, so the input carries one far-future flush row whose watermark
    advance fires all pending event-time timeouts (Spark's no-data
    micro-batch). Oracle = batch gaps-and-islands sessions over the same
    turns — equality proves the custom stateful path agrees with batch
    semantics exactly."""
    flush = spark.sql(
        "SELECT '~flush' AS conv_id, 0 AS turn_idx, 'system' AS role, "
        "'' AS text, CAST(NULL AS STRING) AS tool, "
        "timestamp'2099-01-01 00:00:00' AS ts"
    )
    inp = _turn_rows(spark, sf_dir).unionByName(flush)
    sessions = _drain_stream(spark, inp, RS.stateful_session_windows, "append")
    out = sessions.where(F.col("conv_id") != "~flush")
    return finalize(out, ts_fmt="yyyy-MM-dd HH:mm:ss.SSSSSS")


def q_anomaly_turns(spark, sf_dir):
    """Per-conversation z-score outliers on the value channel: turns
    with |x - mu| > 2.5*sigma_pop (monitoring-style anomaly flags). One
    stats window + filter on the conv_id partitioning."""
    t = load_turns(spark, sf_dir)
    w = Window.partitionBy("conv_id")
    mu = F.avg("value").over(w)
    sig = F.stddev_pop("value").over(w)
    out = (
        t.withColumn("_z", F.when(sig > 0, (F.col("value") - mu) / sig))
        # quantized-difference boundary contract (features.py): a turn
        # whose |z| sits within aggregation dust of 2.5 must not split
        # across engines. z is dimensionless O(1), so the absolute 9-dp
        # quantum IS scale-appropriate here; mirrored in the oracle.
        .where(F.round(F.abs(F.col("_z")) - 2.5, 9) > 0)
        .select("conv_id", "turn_idx", "value", F.col("_z").alias("zscore"))
    )
    return finalize(out)


def q_cusum_changepoints(spark, sf_dir):
    """Two-sided CUSUM drift scores on the per-conversation value
    channel (operators/changepoint.py): sustained mean shifts the
    per-point z-flags of q_anomaly_turns miss. Pure window SQL via the
    prefix identity S_t = P_t - min(0, running_min(P)); one exchange
    on conv_id. Alarm boundary quantized dimensionless (9-dp on
    S/sigma, the q_anomaly_turns contract)."""
    from ts_raster_spark.operators.changepoint import cusum

    t = load_turns(spark, sf_dir)
    return finalize(cusum(t))


def q_seasonal_anomaly_hour(spark, sf_dir):
    """Hour-of-day climatology over the hourly turn-count tier
    (operators/seasonal.py): per-bucket residual and z against the
    same-hour profile across all days. One groupBy + one 24-partition
    window over the (already tiny) hourly tier."""
    from ts_raster_spark.operators.seasonal import seasonal_baseline

    t = load_turns(spark, sf_dir)
    hourly = (
        t.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_start"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
    )
    out = seasonal_baseline(hourly, "n_turns", period="hod")
    return finalize(
        out.select(
            "bucket_start",
            F.col("pkey").alias("hod"),
            "n_turns",
            "season_mean",
            "season_sig",
            "resid",
            "resid_z",
        )
    )


def q_tool_corr_hour(spark, sf_dir):
    """All-pairs Pearson correlation of hourly per-tool activity
    (operators/correlate.py): alignment is a self-equi-join on the
    hour bucket (hash join, never cartesian), reduction is a map-side
    combinable corr over pairs. Compose with mg_top for wide series
    spaces (docstring, correlate.py)."""
    from ts_raster_spark.operators.correlate import pairwise_corr

    t = load_turns(spark, sf_dir)
    tool_hourly = (
        t.where(F.col("tool").isNotNull())
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
            "tool",
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    out = pairwise_corr(tool_hourly, "bucket_start", "tool", "n")
    return finalize(
        out.select(
            "series_a", "series_b",
            F.col("corr").alias("pearson_r"),
            F.col("n_buckets").cast("long").alias("n_buckets"),
        )
    )


def q_mann_kendall_trend(spark, sf_dir):
    """Per-conversation Mann-Kendall monotonic-trend test on the value
    channel (operators/trend.py): robust drift companion to CUSUM
    (shift) and agg_linear_trend (least-squares slope). Pair join is an
    equi-join on conv_id; S/Var are exact integer arithmetic, so the
    twin replays the test exactly."""
    from ts_raster_spark.operators.trend import mann_kendall

    t = load_turns(spark, sf_dir)
    return finalize(mann_kendall(t))


def q_embedding_project(spark, sf_dir):
    """Deterministic JL ±1 random projection 64 -> 16 of the embedding
    column (operators/projection.py) — the dimensionality-reduction
    scale path in front of LSH/IVF. Pure Catalyst scan-speed column
    arithmetic (no UDF/explode/shuffle); the md5-derived sign matrix
    and the left-associated sum make the projection BIT-exact
    cross-engine."""
    from ts_raster_spark.operators.projection import random_projection

    emb = _emb(spark, sf_dir)
    out = random_projection(emb)
    return finalize(out.select("vec_id", *[f"p{j}" for j in range(16)]))


def q_funnel_tools(spark, sf_dir):
    """Ordered tool funnel search -> code -> browser per conversation
    (operators/funnel.py): first-occurrence, strictly-increasing-ts
    semantics (the windowFunnel contract). k conditional min-aggregates
    + equi-joins all keyed on conv_id; medians are exact interpolated
    percentiles of integer-µs deltas, so the twin is exact."""
    from ts_raster_spark.operators.funnel import funnel_summary, funnel_times

    t = load_turns(spark, sf_dir)
    steps = [
        ("search", F.col("tool") == "search"),
        ("code", F.col("tool") == "code"),
        ("browser", F.col("tool") == "browser"),
    ]
    times = funnel_times(t, steps)
    return finalize(funnel_summary(times, [n for n, _ in steps]))


def q_interval_join_bursts(spark, sf_dir):
    """Banded interval join (operators/intervals.py): burst windows =
    maximal runs of above-average-traffic hours (gaps-and-islands over
    the hourly tier), then every turn is joined to its containing
    burst via the bucket-banding equi-join — never a nested-loop range
    join. The hot threshold is the integer comparison
    cnt * n_hours >= total_turns (exact in both engines). Output: one
    row per burst with its turn/conversation mass; exact twin does the
    same islands + a direct range join."""
    from ts_raster_spark.operators.intervals import interval_join

    t = load_turns(spark, sf_dir)
    hourly = t.groupBy(F.date_trunc("hour", F.col("ts")).alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = hourly.agg(
        F.sum("cnt").alias("_s"), F.count(F.lit(1)).cast("long").alias("_n")
    )
    hot = (
        hourly.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * F.col("_n") >= F.col("_s"))
        .select("b", "cnt")
    )
    w = Window.orderBy("b")
    islands = (
        hot.withColumn(
            "_isl",
            (F.unix_micros(F.col("b").cast("timestamp_ltz")) / 3_600_000_000).cast("long")
            - F.row_number().over(w),
        )
        .groupBy("_isl")
        .agg(
            F.min("b").alias("start"),
            (F.max("b") + F.expr("INTERVAL 1 HOUR")).alias("end"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
        )
        .drop("_isl")
    )
    joined = interval_join(
        t.select("conv_id", "ts"), islands, bucket_seconds=3600
    )
    out = joined.groupBy("start", "end", "n_hours").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
    )
    return finalize(out)


def _cms_ngram_probes(spark, sf_dir, tier, min_cnt):
    """Count-Min point-frequency estimates (operators/cms.py) over
    per-``tier`` text word-bigrams.  Cells are built per hour (one
    map-side-combinable aggregate capped at d*w cell rows per bucket
    per partition) and merged cell-wise up to a coarser ``tier``.
    Probes are every bigram with exact count >= ``min_cnt``, joined
    back so the one-sided guarantee (est >= exact) is visible in-query.
    All hashing is the engine-neutral md5 arithmetic (functions/hllsql),
    so the ESTIMATES replay bit-for-bit in DuckDB — an exact twin, not
    a claim."""
    from ts_raster_spark.operators.cms import cms_build, cms_estimate, cms_merge

    t2 = _bigrams(load_turns(spark, sf_dir))
    cells = cms_build(t2, "ngram", tier="hour")
    if tier != "hour":
        cells = cms_merge(cells, tier=tier)
    exact = t2.groupBy(
        F.date_trunc(tier, F.col("ts")).alias("bucket_start"), "ngram"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    probes = exact.where(F.col("cnt") >= min_cnt)
    est = cms_estimate(
        cells, probes.select("bucket_start", F.col("ngram").alias("item"))
    ).withColumnRenamed("item", "ngram")
    out = probes.join(est, ["bucket_start", "ngram"]).select(
        "bucket_start", "ngram", "cnt", "est",
        F.when(F.col("est") >= F.col("cnt"), 1).otherwise(0)
        .cast("int").alias("ok_lower"),
    )
    return finalize(out)


def q_cms_ngram_counts(spark, sf_dir):
    """Hour-grain CMS estimates, probes with exact count >= 2."""
    return _cms_ngram_probes(spark, sf_dir, "hour", 2)


def q_cms_ngram_counts_day(spark, sf_dir):
    """Day-grain CMS double path: HOUR cells merged to day via
    cell-wise sum (cms_merge), probes with exact count >= 3. The DuckDB
    twin builds the day cells DIRECTLY from raw — equality holds iff
    the mergeable-summaries closure holds, so the oracle
    cross-engine-verifies the merge itself (the same pattern as the
    KLL/MG day cascades)."""
    return _cms_ngram_probes(spark, sf_dir, "day", 3)


def q_theil_sen_trend(spark, sf_dir):
    """Per-conversation Theil-Sen robust slope + intercept on the value
    channel (operators/trend.py theil_sen) — magnitude companion to
    mann_kendall_trend. Pair join is the same conv_id equi-join; the
    slope multiset is exact-integer ratios, so the median replays
    bit-identically in the twin."""
    from ts_raster_spark.operators.trend import theil_sen

    t = load_turns(spark, sf_dir)
    return finalize(theil_sen(t))


def q_psi_drift_day(spark, sf_dir):
    """Day-over-day Population Stability Index per channel, computed
    from histogram-sketch bins (operators/sketch.py psi_drift) — the
    distribution-shift monitor runs off the sketch tier, never
    rescanning raw. Dense 64-bin scaffold + per-(kind,bin) lag +
    per-day window; fully deterministic, exact twin."""
    from ts_raster_spark.operators.sketch import histogram_sketch, psi_drift, value_range

    long_df = load_long(spark, sf_dir, channels=("text_len", "latency_s"))
    rng = value_range(long_df)
    sk = histogram_sketch(long_df, "day", rng, bins=64)
    out = psi_drift(sk, bins=64)
    return finalize(out.select("kind", "bucket_start", "psi", "n_curr", "n_prev"))


def q_tool_leadlag_hour(spark, sf_dir):
    """Lead-lag cross-correlation of hourly per-tool activity
    (operators/correlate.py cross_corr_lags): Pearson(A_t, B_{t+lag})
    for lags -2..2 hours — which tool's activity LEADS which. The lag
    set explodes onto the tiny rolled-up side; alignment is an
    equi-join on the shifted epoch key."""
    from ts_raster_spark.operators.correlate import cross_corr_lags

    t = load_turns(spark, sf_dir)
    tool_hourly = (
        t.where(F.col("tool").isNotNull())
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
            "tool",
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    out = cross_corr_lags(tool_hourly, "bucket_start", "tool", "n")
    return finalize(
        out.select(
            "series_a", "series_b", "lag",
            F.col("corr").alias("pearson_r"),
            F.col("n_buckets").cast("long").alias("n_buckets"),
        )
    )


def q_decompose_hourly(spark, sf_dir):
    """Classical additive decomposition of the corpus hourly turn-count
    series (operators/seasonal.py classical_decompose): trend (25-bucket
    centered MA), hour-of-day seasonal (row-weighted centered), and
    residual — value = trend + seasonal + resid by construction. Trend
    is bit-exact across engines (integer inputs sum exactly)."""
    from ts_raster_spark.operators.seasonal import classical_decompose

    t = load_turns(spark, sf_dir)
    hourly = (
        t.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_start"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
    )
    out = classical_decompose(hourly, "n_turns")
    return finalize(
        out.select("bucket_start", "n_turns", "trend", "seasonal", "resid")
    )


def q_holt_smoothing(spark, sf_dir):
    """Holt linear-trend smoothing per conversation on the value
    channel (operators/holt.py): level/trend states + one-step-ahead
    fitted forecast. Genuinely iterative (coupled states, no stable
    closed form) — an O(n) Arrow kernel at series granularity; the
    DuckDB twin replays the identical recursion via a recursive CTE,
    so the oracle is exact."""
    from ts_raster_spark.operators.holt import holt_smooth

    t = load_turns(spark, sf_dir)
    out = holt_smooth(t)
    return finalize(out.select("conv_id", "turn_idx", "level", "trend", "fitted"))
