"""End-to-end corpus curation: the composed filter pass a pretraining
pipeline runs over a raw document corpus, built entirely from the
already-attested primitive ops:

1. quality gate      — textstats.quality_score >= 0.5
2. decontamination   — dedup.decontaminate_ngrams 4-gram overlap < 0.1
3. exact dedup       — keep the md5(text) canonical (min doc_id)
4. near-dup dedup    — dedup_keep_canonical survivor set (MinHash-LSH →
                       connected components → component-min doc)

Every document gets a verdict row: kept, or the FIRST stage that
rejected it (stage order above — deterministic attribution). The whole
pass is joins/aggregations over narrow keys; document text never
crosses an Exchange after its per-stage signals are computed.

Scale: each stage is individually bounded (see the per-op docstrings);
composition adds only doc_id-keyed left joins, all broadcastable when
the reject sets are small and shuffle-joins on the high-cardinality
doc_id otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Verdict table: (doc_id, verdict) where verdict ∈ {'kept',
    'low_quality', 'contaminated', 'exact_dup', 'near_dup'} — first
    failing stage wins. ``benchmark`` is the held-out eval set used for
    decontamination (never part of the output corpus).  A document is
    low quality below a 0.5 quality score and contaminated by 4-gram
    overlap (:func:`decontaminate_ngrams`); near duplicates come from
    :func:`dedup_keep_canonical`'s MinHash-LSH defaults."""
    from ts_raster_spark.operators.dedup import (
        dedup_keep_canonical,
        decontaminate_ngrams,
        exact_dedup,
    )
    from ts_raster_spark.operators.textstats import quality_score

    qual = quality_score(docs).select(
        "doc_id", (F.col("quality") >= 0.5).alias("_q_ok")
    )
    cont = decontaminate_ngrams(docs, benchmark, n=4).select(
        "doc_id", (F.col("contaminated") == 1).alias("_cont")
    )
    exact_canon = exact_dedup(docs).select(
        F.col("canonical_doc_id").alias("doc_id"), F.lit(True).alias("_exact_keep")
    )
    near_keep = dedup_keep_canonical(docs).select(
        "doc_id", F.lit(True).alias("_near_keep")
    )
    out = (
        docs.select("doc_id")
        .join(qual, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .join(exact_canon, "doc_id", "left")
        .join(near_keep, "doc_id", "left")
    )
    verdict = (
        F.when(~F.coalesce(F.col("_q_ok"), F.lit(False)), F.lit("low_quality"))
        # docs too short for any n-gram have no contamination row: clean
        .when(F.coalesce(F.col("_cont"), F.lit(False)), F.lit("contaminated"))
        .when(~F.coalesce(F.col("_exact_keep"), F.lit(False)), F.lit("exact_dup"))
        .when(~F.coalesce(F.col("_near_keep"), F.lit(False)), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return out.select("doc_id", verdict.alias("verdict"))
