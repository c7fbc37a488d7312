"""Retention cascade: coarser tiers re-aggregated from finer tiers.

Reference analog: ``combine_extracted_features`` merges per-period
feature folders into one table (tsraster/prep.py:553-611). Here the
merge is algebraic: minute → hour → day, where each coarser bucket is
derived from the finer tier's sufficient statistics instead of rescanning
raw turns — the core economy of a retention engine at 100 TB (the day
tier reads ~1/60² of the raw bytes).

Algebraic features (sum, count, min, max, energy; mean/variance via
sum, sum², count) re-aggregate exactly. Holistic features (median,
quantiles, strikes, cwt peaks) cannot — recompute those from the finest
retained tier or raw (SURVEY.md §2.5, hard part (d)). The classification
of every flagship feature lives in tests/test_gapfill_mask_cascade.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.operators.rollup import TIERS


def cascade_up(finer: DataFrame, to_tier: str) -> DataFrame:
    """Re-aggregate a ``rollup_simple`` tier table one level coarser.

    Input schema: (conv_id, kind, bucket_start, turn_count, sum_values,
    sum_squares, minimum, maximum). Output: same schema at ``to_tier``
    buckets, plus derived ``mean``/``variance`` columns (exact — mean =
    Σsum/Σn, var_pop = Σsum²/Σn − mean²).
    """
    if to_tier not in list(TIERS)[1:]:
        raise ValueError(f"cascade target must be one of {list(TIERS)[1:]}, got {to_tier!r}")
    keys = ["conv_id", "kind"]
    out = (
        finer.withColumn("bucket_start", F.date_trunc(to_tier, F.col("bucket_start")))
        .groupBy(*keys, "bucket_start")
        .agg(
            F.sum("turn_count").cast("long").alias("turn_count"),
            F.sum("sum_values").alias("sum_values"),
            F.sum("sum_squares").alias("sum_squares"),
            F.min("minimum").alias("minimum"),
            F.max("maximum").alias("maximum"),
        )
    )
    mean = F.col("sum_values") / F.col("turn_count")
    return out.withColumn("mean", mean).withColumn(
        "variance", F.col("sum_squares") / F.col("turn_count") - mean * mean
    )
