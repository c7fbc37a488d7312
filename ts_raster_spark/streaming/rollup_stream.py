"""Structured-Streaming rollups: continuous aggregates over arriving turns.

The reference is strictly batch (SURVEY.md §2.9); its incremental path
is the ``reset_df=False`` cached-panel resume (tsraster/calculate.py:79-81).
The engine's primary incremental story is likewise batch (idempotent
MERGE per bucket — operators/cascade.py + plans/checkpoint.py), but the
same rollup composes as a stream:

- :func:`stream_turns` — file-source stream of turns (schema declared,
  never inferred),
- :func:`stream_rollup` — tumbling ``window(ts, tier)`` aggregate with a
  watermark for late data; append mode emits a bucket once the
  watermark passes it (late rows for an emitted bucket belong to the
  batch MERGE path, not the stream),
- :func:`stateful_turn_counter` — ``applyInPandasWithState`` custom
  stateful operator: per-conversation running turn count + last-seen
  ts, the streaming analog of the per-pixel accumulation loop.

Inter-turn latency needs cross-row state and is intentionally NOT in the
stream's derived channels; it comes from the stateful operator instead.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ts_raster_spark.operators.rollup import tier_seconds
from ts_raster_spark.sources.turns import TURNS_SCHEMA


def stream_turns(spark: SparkSession, input_path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(TURNS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_path)


def stream_rollup(turns_stream: DataFrame, tier: str = "minute", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window continuous aggregate on the text_len channel."""
    ch = turns_stream.select(
        "conv_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.length("text").cast("double").alias("text_len"),
        F.col("tool").isNotNull().cast("double").alias("is_tool"),
    )
    return (
        ch.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{tier_seconds(tier)} seconds").alias("w"), F.col("conv_id"))
        .agg(
            F.count("*").cast("long").alias("turn_count"),
            F.sum("text_len").alias("sum_text_len"),
            F.min("text_len").alias("min_text_len"),
            F.max("text_len").alias("max_text_len"),
            F.sum("is_tool").alias("tool_turns"),
        )
        .select(F.col("w.start").alias("bucket_start"), "conv_id", "turn_count",
                "sum_text_len", "min_text_len", "max_text_len", "tool_turns")
    )


_STATE_SCHEMA = "n_turns LONG, last_ts_us LONG"
_OUT_SCHEMA = "conv_id STRING, n_turns LONG, last_latency_s DOUBLE"


def _counter_fn(
    key, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    n, last_us = state.get if state.exists else (0, None)
    latest_latency = None
    # A key's rows can arrive as several Arrow chunks in ARBITRARY order
    # within one micro-batch: concat + one sort per (key, micro-batch)
    # establishes turn order locally, so the caller never needs a global
    # input sort (only cross-MICRO-BATCH order is the source's contract,
    # e.g. watermarked ingestion or per-conversation files).
    pdfs = list(batches)
    if pdfs:
        pdf = pd.concat(pdfs, ignore_index=True).sort_values(["turn_idx", "ts"])
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        if len(ts_us):
            if len(ts_us) >= 2:
                latest_latency = (int(ts_us[-1]) - int(ts_us[-2])) / 1e6
            elif last_us is not None:
                latest_latency = (int(ts_us[-1]) - int(last_us)) / 1e6
            n += len(ts_us)
            last_us = int(ts_us[-1])
    state.update((n, int(last_us) if last_us is not None else None))
    yield pd.DataFrame(
        {"conv_id": [conv_id], "n_turns": [n], "last_latency_s": [latest_latency]}
    )


def stateful_turn_counter(turns_stream: DataFrame) -> DataFrame:
    """Per-conversation running state across micro-batches: cumulative
    turn count + latency of the most recent turn. The custom-stateful-
    operator pattern (applyInPandasWithState) for anything the built-in
    windowed aggregates can't express."""
    return (
        turns_stream.select("conv_id", "turn_idx", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _counter_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_exact(turns_stream: DataFrame) -> DataFrame:
    """At-least-once-source dedup: duplicate deliveries of the same turn
    (same conv_id/turn_idx/content hash) arriving within the 720-hour
    watermark are dropped via ``dropDuplicatesWithinWatermark`` — the bounded-state
    streaming dedup (state for a key is evicted once the watermark
    passes it, unlike plain dropDuplicates whose state grows forever).
    The 100 TB story: dedup state is capped by the watermark horizon,
    not the stream's lifetime."""
    keyed = turns_stream.select(
        "conv_id",
        "turn_idx",
        F.col("ts").cast("timestamp").alias("ts"),
        F.md5("text").alias("content_md5"),
    ).withWatermark("ts", "720 hours")
    return keyed.dropDuplicatesWithinWatermark(["conv_id", "turn_idx", "content_md5"])


def run_to_memory(sdf: DataFrame, query_name: str, output_mode: str) -> None:
    """Drain the finite file-source backlog into an in-memory table
    (availableNow trigger), then stop — the batch-parity test harness."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_sliding(turns_stream: DataFrame) -> DataFrame:
    """Hopping-window continuous aggregate under a 2-hour watermark: each
    turn contributes to the 4 overlapping 1-hour windows that start every
    15 minutes (Structured Streaming's native sliding
    ``window(ts, "1 hour", "15 minutes")``). COUNT(DISTINCT) is not
    available in streaming aggregations, so the hop rollup carries
    count/mean/sum only — the batch twin proves parity."""
    return (
        turns_stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.avg(F.length("text").cast("double")).alias("mean_text_len"),
            F.sum(F.length("text").cast("double")).alias("sum_text_len"),
        )
        .select(F.col("w.start").alias("window_start"), "n_turns", "mean_text_len", "sum_text_len")
    )


_SESSION_OUT = "conv_id string, session_start timestamp, session_end timestamp, n_turns long"
_SESSION_STATE = "start_us long, last_us long, n long"
_SESSION_GAP_US = 1800 * 1_000_000


def _session_fn(
    key, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Event-time-timeout sessionizer: a conversation's open session
    closes (and emits) either when a later turn arrives past the gap, or
    when the WATERMARK passes last_turn + gap (state.hasTimedOut) — the
    bounded-state guarantee: no conversation holds state past gap beyond
    the watermark horizon."""
    (conv_id,) = key

    def _emit(rows):
        return pd.DataFrame(
            {
                "conv_id": [conv_id] * len(rows),
                "session_start": [pd.Timestamp(r[0], unit="us") for r in rows],
                "session_end": [pd.Timestamp(r[1], unit="us") for r in rows],
                "n_turns": [r[2] for r in rows],
            }
        )

    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield _emit([(start_us, last_us, n)])
        return
    pdfs = list(batches)
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True).sort_values(["turn_idx", "ts"])
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    start_us, last_us, n = state.get if state.exists else (None, None, 0)
    closed = []
    for t in ts_us:
        t = int(t)
        if last_us is None:
            start_us, last_us, n = t, t, 1
        elif t - last_us > _SESSION_GAP_US:
            closed.append((start_us, last_us, n))
            start_us, last_us, n = t, t, 1
        else:
            last_us, n = t, n + 1
    state.update((start_us, last_us, n))
    # close the open session once the event-time watermark passes it
    state.setTimeoutTimestamp((last_us + _SESSION_GAP_US) // 1000)
    if closed:
        yield _emit(closed)


def stateful_session_windows(turns_stream: DataFrame) -> DataFrame:
    """Streaming session windows via applyInPandasWithState +
    EventTimeTimeout (the custom stateful operator the built-in
    ``session_window`` aggregation generalizes from). Emits one row per
    CLOSED session; open sessions flush when the final watermark passes
    them under the 1-second watermark (Spark's no-data micro-batch fires
    the pending timeouts)."""
    return (
        turns_stream.select("conv_id", "turn_idx", "ts")
        .withWatermark("ts", "1 second")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
