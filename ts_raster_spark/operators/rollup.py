"""Tiered rollup: the ``calculateFeatures`` analog (tsraster/calculate.py:58-181).

Computes the wide per-conversation feature table — one row per
``(conv_id, kind[, bucket_start])``, one column per descriptor — using
the native aggregate library in :mod:`ts_raster_spark.functions.features`.
Retention tiers (minute/hour/day) are tumbling ``date_trunc`` buckets;
``tier=None`` reproduces the reference's whole-series extraction (the
reference's period label ``"{min}_{max}"``, calculate.py:118, becomes the
explicit ``bucket_start`` key).

Scale design: :func:`FT.feature_rollup` attaches exactly the helper
columns the requested calculators read, each once and one sort family
at a time, and aggregates them in one groupBy.  Every helper window
partitions on the rollup keys, so the windows and the groupBy share one
hash partitioning: a single shuffle for the whole feature block.  The
default hour request sorts twice after that exchange (value order for
the quantile ranks, series order for the group stats, lags and
peaks); strikes and trend ride the series-order sort and entropy is a
projection, so the whole-conversation request with every extra sorts
twice too.  Over ``to_long_panel`` the latency window adds one sort.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.functions import features as FT

# the retention tiers, finest first: name (also its ``date_trunc`` unit)
# → bucket width in seconds
TIERS = {"minute": 60, "hour": 3600, "day": 86400}


def tier_seconds(tier: str) -> int:
    """Bucket width of ``tier`` in seconds; ValueError on an unknown tier."""
    if tier not in TIERS:
        raise ValueError(f"unknown tier {tier!r}; want one of {sorted(TIERS)}")
    return TIERS[tier]


def bucketize(long_df: DataFrame, tier: str | None) -> tuple[DataFrame, list[str]]:
    """Add ``bucket_start`` for the tier; return (df, rollup keys)."""
    keys = ["conv_id", "kind"]
    if tier is None:
        return long_df, keys
    tier_seconds(tier)
    out = long_df.withColumn("bucket_start", F.date_trunc(tier, F.col("ts")))
    return out, keys + ["bucket_start"]


def rollup_features(
    long_df: DataFrame,
    tier: str | None = "minute",
    include_strikes: bool = False,
    include_trend: bool = False,
    include_entropy: bool = False,
    feature_names: list[str] | None = None,
) -> DataFrame:
    """Wide feature rollup at a retention tier: the ``default`` name set
    of :func:`FT.feature_registry`, plus the ``strikes``/``trend``/
    ``entropy`` sets the ``include_*`` flags name.

    ``feature_names`` optionally restricts the output columns (the
    reference's ``parameters`` dict of requested calculators,
    calculate.py:103-112) to names of those sets; any other name raises
    ``ValueError``.
    """
    df, keys = bucketize(long_df, tier)
    extras = {"strikes": include_strikes, "trend": include_trend, "entropy": include_entropy}
    sets = ["default"] + [s for s, on in extras.items() if on]
    return FT.feature_rollup(df, keys, sets, feature_names)


def rollup_simple_wide(turns: DataFrame, tier: str, channels: tuple[str, ...] | None = None) -> DataFrame:
    """Same output as ``rollup_simple(to_long_panel(turns), tier)`` but
    ~6× cheaper: aggregates each channel COLUMN on the wide frame (one
    row per turn through the shuffle, not one per channel), then
    unpivots the already-aggregated rows. The unpivot of N_groups×5
    columns is trivial next to a 6×-multiplied pre-agg shuffle.

    This is the production tier path; the long-form variant remains the
    reference-parity IR (and feeds the full feature rollup)."""
    from ts_raster_spark.operators.longform import CHANNELS, with_channels

    tier_seconds(tier)
    chans = list(channels or CHANNELS)
    wide = with_channels(turns).withColumn("bucket_start", F.date_trunc(tier, F.col("ts")))
    aggs = []
    for c in chans:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"{c}__n"),
            F.sum(col).alias(f"{c}__s"),
            F.sum(col * col).alias(f"{c}__s2"),
            F.min(col).alias(f"{c}__mn"),
            F.max(col).alias(f"{c}__mx"),
        ]
    g = wide.groupBy("conv_id", "bucket_start").agg(*aggs)
    pairs = ", ".join(
        f"'{c}', {c}__n, {c}__s, {c}__s2, {c}__mn, {c}__mx" for c in chans
    )
    stacked = g.selectExpr(
        "conv_id",
        "bucket_start",
        f"stack({len(chans)}, {pairs}) AS (kind, turn_count, sum_values, sum_squares, minimum, maximum)",
    )
    return stacked.where(F.col("turn_count") > 0).select(
        "conv_id", "kind", "bucket_start",
        F.col("turn_count").cast("long").alias("turn_count"),
        "sum_values", "sum_squares", "minimum", "maximum",
    )


def rollup_simple(
    long_df: DataFrame, tier: str, aggs: dict | None = None
) -> DataFrame:
    """Cheap tier rollup with only algebraic aggregates (the cascade base).

    Carries the sufficient statistics (count / sum / sum² / min / max)
    from which every algebraic feature of a coarser tier is derivable —
    see :mod:`ts_raster_spark.operators.cascade`.
    """
    df, keys = bucketize(long_df, tier)
    v = F.col("value")
    default = {
        "turn_count": F.count(v).cast("long"),
        "sum_values": F.sum(v),
        "sum_squares": F.sum(v * v),
        "minimum": F.min(v),
        "maximum": F.max(v),
    }
    use = aggs or default
    return df.groupBy(*keys).agg(*[c.alias(n) for n, c in use.items()])
