"""Tiered rollup: the ``calculateFeatures`` analog (tsraster/calculate.py:58-181).

Computes the wide per-conversation feature table — one row per
``(conv_id, kind[, bucket_start])``, one column per descriptor — using
the native aggregate library in :mod:`ts_raster_spark.functions.features`.
Retention tiers (minute/hour/day) are tumbling ``date_trunc`` buckets;
``tier=None`` reproduces the reference's whole-series extraction (the
reference's period label ``"{min}_{max}"``, calculate.py:118, becomes the
explicit ``bucket_start`` key).

Scale design: the window pre-pass and the groupBy share one hash
partitioning on the rollup keys → a single shuffle for the whole feature
block. Strike/trend/entropy features ride the SAME exchange: their
helper windows partition on the rollup keys or supersets of them
(Spark's subset rule), so they reduce to extra row columns + plain
aggregates in the one groupBy, with no second aggregation level joined
back to the groups.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.functions import features as FT

TIERS = {"minute": "minute", "hour": "hour", "day": "day"}


def bucketize(long_df: DataFrame, tier: str | None) -> tuple[DataFrame, list[str]]:
    """Add ``bucket_start`` for the tier; return (df, rollup keys)."""
    keys = ["conv_id", "kind"]
    if tier is None:
        return long_df, keys
    if tier not in TIERS:
        raise ValueError(f"unknown tier {tier!r}; want one of {sorted(TIERS)} or None")
    out = long_df.withColumn("bucket_start", F.date_trunc(TIERS[tier], F.col("ts")))
    return out, keys + ["bucket_start"]


def rollup_features(
    long_df: DataFrame,
    tier: str | None = "minute",
    include_strikes: bool = False,
    include_trend: bool = False,
    include_entropy: bool = False,
    feature_names: list[str] | None = None,
) -> DataFrame:
    """Wide feature rollup at a retention tier.

    ``feature_names`` optionally restricts the output columns (the
    reference's ``parameters`` dict of requested calculators,
    calculate.py:103-112) to names of :func:`FT.default_feature_aggs`;
    any other name raises ``ValueError``.
    """
    df, keys = bucketize(long_df, tier)
    aggs = FT.default_feature_aggs()
    if feature_names is not None:
        wanted = set(feature_names)
        if unknown := sorted(wanted - aggs.keys()):
            raise ValueError(f"unknown feature names {unknown}; want names of default_feature_aggs()")
        aggs = {k: v for k, v in aggs.items() if k in wanted}

    # The value-rank, group-stat and Benford columns are attached for
    # every request; Catalyst prunes the windows and projections that no
    # requested aggregate reads, so a helper-free request plans as a
    # plain groupBy.  The quantiles are rank-sums over the value-rank
    # columns.  Attached FIRST, before the helper windows: the value sort
    # then runs on the narrow input frame and the turn-order sort carries
    # only the two rank longs, instead of the value sort dragging all ~12
    # helper doubles through sorter memory.  Window outputs depend only
    # on partition contents and each spec's own order, so attachment
    # order cannot change any value: a tied row's _rnv can permute under
    # a different input order, but every consumer selects the VALUE at a
    # rank hit and tied rows share that value.  The Benford digit is a
    # cheap per-row projection (2 transcendentals/row, no shuffle)
    # instead of re-deriving the digit in 9 aggregate branches.
    df = FT.attach_value_rank(df, keys)
    df = FT.attach_group_stats(df, keys)
    df = FT.attach_benford_digit(df)
    # extras: window columns on the shared partitioning + plain
    # aggregates in the SAME groupBy — one exchange, no join-backs.  They
    # are off by default and attached only when requested: a frame is
    # re-optimized on every action, and pruning unread extras cost each
    # action of a default hour-tier request ~50 ms of planning.
    if include_strikes:
        df = FT.attach_strike_cols(df, keys)
        aggs.update(FT.strike_aggs())
    if include_trend:
        df = FT.attach_trend_cols(df, keys)
        aggs.update(FT.trend_agg())
    if include_entropy:
        df = FT.attach_entropy_cols(df)
        aggs.update(FT.entropy_agg())

    return df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def rollup_simple_wide(turns: DataFrame, tier: str, channels: tuple[str, ...] | None = None) -> DataFrame:
    """Same output as ``rollup_simple(to_long_panel(turns), tier)`` but
    ~6× cheaper: aggregates each channel COLUMN on the wide frame (one
    row per turn through the shuffle, not one per channel), then
    unpivots the already-aggregated rows. The unpivot of N_groups×5
    columns is trivial next to a 6×-multiplied pre-agg shuffle.

    This is the production tier path; the long-form variant remains the
    reference-parity IR (and feeds the full feature rollup)."""
    from ts_raster_spark.operators.longform import CHANNELS, with_channels

    if tier not in TIERS:
        raise ValueError(f"unknown tier {tier!r}; want one of {sorted(TIERS)}")
    chans = list(channels or CHANNELS)
    wide = with_channels(turns).withColumn("bucket_start", F.date_trunc(TIERS[tier], F.col("ts")))
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
