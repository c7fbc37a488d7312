"""As-of join + session windows — time-series operators Spark lacks as
built-in joins, composed from DataFrame primitives.

- :func:`asof_join` — for every left row, the most recent right row
  at-or-before its timestamp within the same key (``"backward"``), or
  the earliest at-or-after it (``"forward"``) (the operator
  implicit in the reference's locf gap-fill, SURVEY.md §2.4). Built as
  union → ordered window `last(ignorenulls)` → filter: one shuffle on
  the key, no range-explode, no per-row Python. (DuckDB's native
  ``ASOF JOIN`` is the oracle.)
- :func:`session_windows` — conversations chunked by inactivity gaps
  via native ``F.session_window`` (Catalyst's merging session
  aggregation; the oracle replays it as gaps-and-islands SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
    tolerance_s: float | None = None,
) -> DataFrame:
    """Left as-of join: attach the nearest right ``value_cols`` per
    ``key`` — the latest with ``right_ts <= left_ts`` (backward) or the
    earliest with ``right_ts >= left_ts`` (forward); ``tolerance_s``
    nulls out matches farther than that many seconds (pandas
    merge_asof semantics).

    Union-based plan: tag both sides, sort within key by (ts, tag) with
    the RIGHT side winning timestamp ties in both directions, carry
    values across with ``last``/``first(ignorenulls)``, keep left rows.
    Exactly one hash exchange on ``key``; skew on a hot key is bounded
    by the window sort (salt the key by time bucket if a single key
    exceeds a task, SURVEY.md §4).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    # tie order: the side that must be INSIDE the frame at equal ts
    # sorts toward the frame. backward frame ends at current row ->
    # right first (0,1); forward frame starts at current row -> right
    # after left (left 0, right 1).
    l_ord, r_ord = (1, 0) if direction == "backward" else (0, 1)
    l_tag = left.select(
        F.col(key), F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"), F.lit(l_ord).alias("_ord"),
        F.lit(None).cast("double").alias("_rt"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}") for c in value_cols],
        F.struct(*left.columns).alias("_row"),
    )
    from ts_raster_spark.operators.longform import epoch_seconds

    r_tag = right.select(
        F.col(key), F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"), F.lit(r_ord).alias("_ord"),
        epoch_seconds(F.col(right_ts)).alias("_rt"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
        F.lit(None).cast(l_tag.schema["_row"].dataType).alias("_row"),
    )
    u = l_tag.unionByName(r_tag)
    # total order: several RIGHT rows can share a timestamp; without a
    # deterministic tiebreak the picked value is partition-layout
    # dependent. Struct of the value columns breaks the tie (forward
    # resolves to the smallest value tuple, backward to the largest —
    # mirrored in oracles). Left rows are unaffected (each is its own
    # output row).
    tb = F.struct(*[F.col(f"_r_{c}") for c in value_cols])
    base = Window.partitionBy(key).orderBy("_t", "_ord", tb)
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pick = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        pick = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    # ONE struct pick (match ts + all value cols together), not one pick
    # per column: per-column last/first(ignorenulls) would skip a NULL
    # value in the matched row and fetch that column from a FARTHER row
    # while the tolerance gate still judged the nearer row's timestamp.
    # merge_asof attaches the matched row wholesale,
    # NULLs included — so the whole right row travels as one nullable
    # struct (NULL on left rows; a struct of NULLs is non-NULL, hence
    # the explicit _side guard).
    rstruct = F.when(
        F.col("_side") == 0,
        F.struct(F.col("_rt").alias("_rt"), *[F.col(f"_r_{c}").alias(f"_r_{c}") for c in value_cols]),
    )
    u = u.withColumn("_m", pick(rstruct))
    u = u.select(
        *[c for c in u.columns if c not in ("_m", "_rt", *[f"_r_{v}" for v in value_cols])],
        F.col("_m._rt").alias("_rt"),
        *[F.col(f"_m._r_{c}").alias(f"_r_{c}") for c in value_cols],
    )
    out = u.where(F.col("_side") == 1)
    if tolerance_s is not None:
        dist = F.abs(F.col("_rt") - epoch_seconds(F.col("_t")))
        ok = F.col("_rt").isNotNull() & (dist <= float(tolerance_s))
        for c in value_cols:
            out = out.withColumn(f"_r_{c}", F.when(ok, F.col(f"_r_{c}")))
    return out.select(
        *[F.col(f"_row.{c}").alias(c) for c in left.columns],
        *[F.col(f"_r_{c}").alias(c) for c in value_cols],
    )


def time_weighted_avg_hour(long_df: DataFrame) -> DataFrame:
    """Time-weighted average per (conv_id, kind, hour bucket) for
    irregularly-sampled series (the TimescaleDB-style continuous
    aggregate): each observation is weighted by how long it 'held' —
    until the next observation or the bucket end, whichever is sooner;
    the bucket's first observation also back-fills from the bucket start
    (locf-at-boundary convention). Pure window + aggregate SQL.

    Output: (conv_id, kind, bucket_start, twa, n_obs)."""
    from ts_raster_spark.operators.longform import epoch_seconds

    w = Window.partitionBy("conv_id", "kind").orderBy("turn_idx", "ts")
    d = (
        long_df.withColumn("bucket_start", F.date_trunc("hour", F.col("ts")))
        .withColumn("_t", epoch_seconds(F.col("ts")))
        .withColumn("_bucket_end", epoch_seconds(F.col("bucket_start")) + 3600)
        .withColumn("_next_t", F.lead("_t").over(w))
        .withColumn("_next_bucket", F.lead("bucket_start").over(w))
    )
    # weight: from max(obs time, bucket start at first obs) to
    # min(next obs in same bucket, bucket end)
    hold_until = F.when(
        F.col("_next_t").isNotNull() & (F.col("_next_bucket") == F.col("bucket_start")),
        F.col("_next_t"),
    ).otherwise(F.col("_bucket_end"))
    w_first = Window.partitionBy("conv_id", "kind", "bucket_start").orderBy("turn_idx", "ts")
    d = d.withColumn("_rn_b", F.row_number().over(w_first)).withColumn(
        "_from",
        F.when(F.col("_rn_b") == 1, F.col("_bucket_end") - 3600).otherwise(F.col("_t")),
    )
    d = d.withColumn("_wt", hold_until - F.col("_from"))
    return d.groupBy("conv_id", "kind", "bucket_start").agg(
        (F.sum(F.col("value") * F.col("_wt")) / F.sum("_wt")).alias("twa"),
        F.count("*").cast("long").alias("n_obs"),
    )


def session_windows(turns: DataFrame) -> DataFrame:
    """Per-conversation activity sessions: turns closer than 30 minutes
    merge into one session (native merging session aggregation).

    Output: (conv_id, session_start, session_end, n_turns)."""
    return (
        turns.groupBy("conv_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").cast("long").alias("n_turns"))
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
        )
    )
