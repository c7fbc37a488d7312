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


def with_channels(turns: DataFrame) -> DataFrame:
    """Add the derived numeric channel columns to a turns DataFrame.

    ``latency_s`` is µs-exact (timestamps cast to double epoch seconds;
    microseconds are exactly representable in double for modern epochs)
    and is the oracle's definition, ``ts − lag(ts)`` over the
    conversation ordered by ``(turn_idx, ts)`` (sql/oracle_prefix.py):
    duplicate, gapped and out-of-order ``turn_idx`` need no contract.

    Callers select the channels they use and Catalyst prunes the rest:
    ColumnPruning drops unreferenced channel expressions and removes the
    ``Window`` (and its exchange) once nothing reads ``latency_s``.

    Skew note (SURVEY.md §4): the window puts each conversation in one
    task, and a downstream per-conversation group-by reuses that
    partitioning, so a mega-conversation's rollup runs in that task too.
    """
    df = turns
    if "value" not in df.columns:
        df = df.withColumn("value", F.lit(None).cast("double"))
    # Project to the narrow channel frame FIRST: downstream exchanges
    # ship ~40 bytes/row instead of the text payload (at 100 TB the text
    # column dominates raw bytes; only its length leaves the scan).
    narrow = df.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.col("value"),
        F.length("text").cast("double").alias("text_len"),
        F.col("tool").isNotNull().cast("double").alias("is_tool"),
        (F.col("role") == "user").cast("double").alias("role_user"),
        (F.col("role") == "assistant").cast("double").alias("role_assistant"),
        epoch_seconds(F.col("ts")).alias("_epoch"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return narrow.withColumn(
        "latency_s", F.col("_epoch") - F.lag("_epoch").over(w)
    ).drop("_epoch")


def to_long_panel(turns: DataFrame, channels: tuple[str, ...] = CHANNELS) -> DataFrame:
    """Unpivot channel columns into the tidy long panel.

    Output: ``(conv_id, turn_idx, ts, kind, value)``. Null channel values
    are dropped (the head turn has no latency), mirroring the reference's
    sentinel-row drop at sources (prep.py:421-428) — except nulls here
    are real nulls, not ``-9999``. ``channels`` picks the kinds ``stack``
    emits; the channels left out are pruned from the derivation (see
    :func:`with_channels`).
    """
    wide = with_channels(turns)
    chan_cols = [c for c in channels if c != "value"] + (["value"] if "value" in channels else [])
    pairs = ", ".join(f"'{c}', {c}" for c in chan_cols)
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

