"""Wide→long unpivot: the ``image_to_series`` analog.

Reference: tsraster/prep.py:116-154 stacks rasters, reshapes to a wide
pixel frame, lexically sorts columns (prep.py:136 — the stable-ordering
contract), then ``stack()``s into the tidy long panel
``(pixel_id, time, value, kind)``.

Engine: derive per-turn numeric channels ("kinds") from the transcript
columns, then unpivot with ``stack`` into
``(conv_id, turn_idx, ts, kind, value)``. Stable ordering is explicit:
every order-sensitive computation sorts by ``(turn_idx, ts)`` within the
conversation. All expressions are native Catalyst (whole-stage codegen);
the only window is the lag for inter-turn latency, partitioned by
``conv_id`` so it shuffles once on the key every downstream group-by
reuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Channel definitions: name -> Column expression over the turns schema.
# (the "kind" axis; reference kinds were variable prefixes like 'tmx',
# prep.py:140-141).
CHANNELS = ("text_len", "latency_s", "is_tool", "role_user", "role_assistant", "value")


def epoch_seconds(col) -> F.Column:
    """µs-exact epoch seconds as double, tolerant of TIMESTAMP_NTZ scans.

    NTZ→LTZ conversion uses the session time zone (pinned UTC in
    session.py), so the wall clock is preserved and matches DuckDB's
    ``epoch()`` over the same naive parquet timestamps.
    """
    return col.cast("timestamp_ltz").cast("double")


def with_channels(
    turns: DataFrame,
    dense_turn_idx: bool = True,
    channels: tuple[str, ...] = CHANNELS,
) -> DataFrame:
    """Add the derived numeric channel columns to a turns DataFrame.

    ``latency_s`` is µs-exact: timestamps cast to double epoch seconds
    (microseconds are exactly representable in double for modern epochs).

    ``channels`` prunes the derivation: only the requested channel
    expressions are computed, and — the part Catalyst cannot do itself,
    because a filter on ``stack``'s generated ``kind`` column does not
    push through the generator — the latency self-join is SKIPPED
    entirely when ``latency_s`` is not requested.  Callers that filter
    the long panel to specific kinds should pass them here so the scan
    and join shrink to match.

    Skew note (SURVEY.md §4): a per-conversation window puts a
    mega-conversation into ONE task — the lone straggler that caps
    scaling. With the schema's dense-``turn_idx`` contract (FIXTURES.md
    F1) the predecessor is addressable, so latency becomes a self
    equi-join on ``(conv_id, turn_idx)``: the join key includes turn_idx,
    every conversation spreads across all partitions, and AQE skew-join
    splitting applies. ``dense_turn_idx=False`` falls back to the window
    for inputs without the density guarantee.
    """
    df = turns
    want = set(channels)
    if "value" in want and "value" not in df.columns:
        df = df.withColumn("value", F.lit(None).cast("double"))
    need_latency = "latency_s" in want
    # Project to the narrow channel frame FIRST: downstream exchanges
    # ship ~40 bytes/row instead of the text payload (at 100 TB the text
    # column dominates raw bytes; only its length leaves the scan).
    chan_exprs = {
        "value": F.col("value"),
        "text_len": F.length("text").cast("double").alias("text_len"),
        "is_tool": F.col("tool").isNotNull().cast("double").alias("is_tool"),
        "role_user": (F.col("role") == "user").cast("double").alias("role_user"),
        "role_assistant": (F.col("role") == "assistant").cast("double").alias("role_assistant"),
    }
    narrow = df.select(
        "conv_id",
        "turn_idx",
        "ts",
        *[chan_exprs[c] for c in chan_exprs if c in want],
        *([epoch_seconds(F.col("ts")).alias("_epoch")] if need_latency else []),
    )
    if not need_latency:
        return narrow
    if dense_turn_idx:
        prev = narrow.select(
            "conv_id",
            (F.col("turn_idx") + 1).alias("turn_idx"),
            F.col("_epoch").alias("_prev_epoch"),
        )
        # Join strategy (round 6): no hint — small inputs auto-broadcast
        # the 3-column prev frame (no shuffle at all), and for large
        # inputs AQE's maxShuffledHashJoinLocalMapThreshold (session.py)
        # rewrites the planned sort-merge to shuffled-hash at runtime,
        # skipping both SMJ sorts while keeping the per-partition build
        # bounded.  A hard shuffle_hash hint here measured faster only
        # on the biggest input and overrode the broadcast choice
        # everywhere else.
        out = narrow.join(prev, ["conv_id", "turn_idx"], "left").withColumn(
            "latency_s", F.col("_epoch") - F.col("_prev_epoch")
        )
        return out.drop("_epoch", "_prev_epoch")
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return narrow.withColumn(
        "latency_s", F.col("_epoch") - F.lag("_epoch").over(w)
    ).drop("_epoch")


def to_long_panel(
    turns: DataFrame, channels: tuple[str, ...] = CHANNELS, dense_turn_idx: bool = True
) -> DataFrame:
    """Unpivot channel columns into the tidy long panel.

    Output: ``(conv_id, turn_idx, ts, kind, value)``. Null channel values
    are dropped (the head turn has no latency), mirroring the reference's
    sentinel-row drop at sources (prep.py:421-428) — except nulls here
    are real nulls, not ``-9999``. ``dense_turn_idx`` selects the latency
    implementation (see :func:`with_channels`).
    """
    wide = with_channels(turns, dense_turn_idx=dense_turn_idx, channels=channels)
    chan_cols = [c for c in channels if c != "value"] + (["value"] if "value" in channels else [])
    pairs = ", ".join(f"'{c}', {'value' if c == 'value' else c}" for c in chan_cols)
    stacked = wide.selectExpr(
        "conv_id",
        "turn_idx",
        "ts",
        f"stack({len(chan_cols)}, {pairs}) AS (kind, value_out)",
    )
    return (
        stacked.where(F.col("value_out").isNotNull())
        .withColumnRenamed("value_out", "value")
    )

