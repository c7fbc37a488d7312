"""Compressed rollup blocks: Arrow kernels around Gorilla/DoD.

The at-rest format for raw-resolution series under a retention tier:
one row per (conv_id, kind, block_start) carrying
``(n, codec, ts_block binary, val_block binary)`` — the engine analog of
the reference's multi-band GTiff sink with float32 downcast
(tsraster/calculate.py:23-55, prep.py:132), upgraded to bit-exact
lossless blocks.  Timestamps are delta-of-delta coded and values are
Gorilla XOR coded (compression/gorilla.py); ``codec`` is always
``"gorilla"``, and decoding rejects any other tag because blocks are
read back from tables on disk.

``compress_blocks`` runs ``_encode_series`` on every sorted
``(conv_id, kind)`` run of one ``mapInPandas`` per partition
(operators/kernels.map_sorted_runs): the long panel arrives
hash-partitioned by ``conv_id`` from the latency window, each partition
is sorted by ``(conv_id, kind, turn_idx, ts)``, and its Arrow batches are
cut into series.  A series therefore costs a slice of a batch, not a
Python call of its own: the grouped-map shape paid a call per series,
which took far longer than the Gorilla bit loop it wrapped.  For the
same reason the per-series body works on NumPy arrays and returns plain
row tuples (one frame per batch, not a pandas sort, groupby and frame
per series).  ``decompress_blocks`` inverts it.  Blocks default to day
granularity so the output rows stay bounded (SURVEY.md §4); a series
must still fit in one task's memory, and a point without a timestamp
fails the job rather than being dropped from its series.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.compression.gorilla import (
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
)
from ts_raster_spark.operators.kernels import map_sorted_runs

CODEC = "gorilla"

BLOCK_SCHEMA = (
    "conv_id string, kind string, block_start timestamp, "
    "n long, codec string, ts_block binary, val_block binary"
)

POINT_SCHEMA = "conv_id string, kind string, ts timestamp, value double"


def _encode_series(pdf: pd.DataFrame) -> list[tuple]:
    """The blocks of one (conv_id, kind) series as ``BLOCK_SCHEMA`` rows.
    Rows arrive ordered by (turn_idx, ts); a stable sort on the block
    start keeps that order inside each block."""
    conv_id, kind = pdf["conv_id"].iat[0], pdf["kind"].iat[0]
    day = pdf["block_start"].to_numpy(dtype="datetime64[us]")
    if np.isnat(day).any():
        raise ValueError(f"compress_blocks: null ts in series {conv_id!r}/{kind!r}")
    pos = np.argsort(day, kind="stable")
    day = day[pos]
    ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").view(np.int64)[pos]
    vals = pdf["value"].to_numpy(dtype=np.float64)[pos]
    ends = np.append(np.flatnonzero(day[1:] != day[:-1]) + 1, len(day))
    return [
        (conv_id, kind, day[a], b - a, CODEC, encode_timestamps(ts_us[a:b]), encode_values(vals[a:b]))
        for a, b in zip(np.append(0, ends[:-1]), ends)
    ]


def compress_blocks(long_df: DataFrame) -> DataFrame:
    """long panel (conv_id, turn_idx, ts, kind, value) → Gorilla blocks,
    one per (conv_id, kind, day).

    One sorted run per (conv_id, kind); a mega-conversation's full
    channel must fit a task (~16 MB per 1M turns) — beyond that, add a
    coarse time salt to the keys (SURVEY.md §4)."""
    keyed = long_df.withColumn("block_start", F.date_trunc("day", F.col("ts")))
    order = [c for c in ("turn_idx", "ts") if c in long_df.columns]
    return map_sorted_runs(keyed, ("conv_id", "kind"), order, _encode_series, BLOCK_SCHEMA)


def _decode_batches(batches):
    """One frame of points per Arrow batch of blocks: the decoded arrays
    are concatenated and each block's keys repeated over its points."""
    for pdf in batches:
        if pdf.empty:
            continue
        ts, vals = [], []
        for codec, ts_block, val_block in zip(pdf["codec"], pdf["ts_block"], pdf["val_block"]):
            if codec != CODEC:
                raise ValueError(f"unsupported block codec {codec!r}; only {CODEC!r} blocks decode")
            ts.append(decode_timestamps(bytes(ts_block)))
            vals.append(decode_values(bytes(val_block)))
        counts = [len(t) for t in ts]
        yield pd.DataFrame(
            {
                "conv_id": np.repeat(pdf["conv_id"].to_numpy(), counts),
                "kind": np.repeat(pdf["kind"].to_numpy(), counts),
                "ts": np.concatenate(ts).view("datetime64[us]"),
                "value": np.concatenate(vals),
            }
        )


def decompress_blocks(blocks: DataFrame) -> DataFrame:
    """Gorilla blocks → points. ``mapInPandas`` streams Arrow batches of
    whole blocks; no shuffle needed (blocks are self-contained).  A
    block whose ``codec`` is not ``"gorilla"`` fails the job with a
    ``ValueError``."""
    return blocks.mapInPandas(_decode_batches, schema=POINT_SCHEMA)
