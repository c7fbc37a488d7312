"""Compressed rollup blocks: grouped Arrow kernels around Gorilla/DoD.

The at-rest format for raw-resolution series under a retention tier:
one row per (conv_id, kind, block_start) carrying
``(n, codec, ts_block binary, val_block binary)`` — the engine analog of
the reference's multi-band GTiff sink with float32 downcast
(tsraster/calculate.py:23-55, prep.py:132), upgraded to bit-exact
lossless blocks.  Timestamps are delta-of-delta coded and values are
Gorilla XOR coded (compression/gorilla.py); ``codec`` is always
``"gorilla"``, and decoding rejects any other tag because blocks are
read back from tables on disk.

``compress_blocks`` is a ``groupBy(...).applyInPandas`` grouped-map
Arrow kernel (one Arrow batch per group, vectorized sort + int64 view,
loop only over in-block elements). ``decompress_blocks`` inverts it.
Blocks default to day granularity so a mega-conversation still fits a
task (the salting discussion in SURVEY.md §4 — a group must fit in one
task's memory, so the block key includes the time bucket).
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

CODEC = "gorilla"

BLOCK_SCHEMA = (
    "conv_id string, kind string, block_start timestamp, "
    "n long, codec string, ts_block binary, val_block binary"
)

POINT_SCHEMA = "conv_id string, kind string, ts timestamp, value double"


def _encode_series(pdf: pd.DataFrame) -> pd.DataFrame:
    """Encode every time block of one (conv_id, kind) series in a single
    kernel call — grouping at block granularity would pay the Arrow
    per-group overhead (~ms) for every tiny block; per-series grouping
    amortizes it ~30× while a block-keyed output still bounds the rows."""
    pdf = pdf.sort_values(["turn_idx", "ts"]) if "turn_idx" in pdf.columns else pdf.sort_values("ts")
    rows = []
    for b, sub in pdf.groupby("block_start", sort=True):
        ts_us = sub["ts"].to_numpy(dtype="datetime64[us]").view(np.int64)
        vals = sub["value"].to_numpy(dtype=np.float64)
        rows.append(
            (
                sub["conv_id"].iloc[0],
                sub["kind"].iloc[0],
                b,
                len(sub),
                CODEC,
                encode_timestamps(ts_us),
                encode_values(vals),
            )
        )
    return pd.DataFrame(rows, columns=["conv_id", "kind", "block_start", "n", "codec", "ts_block", "val_block"])


def compress_blocks(long_df: DataFrame, block: str = "day") -> DataFrame:
    """long panel (conv_id, turn_idx, ts, kind, value) → Gorilla blocks.

    One applyInPandas group per (conv_id, kind); a mega-conversation's
    full channel must fit a task (~16 MB per 1M turns) — beyond that,
    add a coarse time salt to the grouping keys (SURVEY.md §4)."""
    keyed = long_df.withColumn("block_start", F.date_trunc(block, F.col("ts")))
    return keyed.groupBy("conv_id", "kind").applyInPandas(_encode_series, schema=BLOCK_SCHEMA)


def _decode_batches(batches):
    for pdf in batches:
        frames = []
        for row in pdf.itertuples(index=False):
            if row.codec != CODEC:
                raise ValueError(f"unsupported block codec {row.codec!r}; only {CODEC!r} blocks decode")
            ts = decode_timestamps(bytes(row.ts_block)).view("datetime64[us]")
            vals = decode_values(bytes(row.val_block))
            frames.append(
                pd.DataFrame(
                    {
                        "conv_id": row.conv_id,
                        "kind": row.kind,
                        "ts": ts,
                        "value": vals,
                    }
                )
            )
        if frames:
            yield pd.concat(frames, ignore_index=True)


def decompress_blocks(blocks: DataFrame) -> DataFrame:
    """Gorilla blocks → points. ``mapInPandas`` streams Arrow batches of
    whole blocks; no shuffle needed (blocks are self-contained).  A
    block whose ``codec`` is not ``"gorilla"`` fails the job with a
    ``ValueError``."""
    return blocks.mapInPandas(_decode_batches, schema=POINT_SCHEMA)
