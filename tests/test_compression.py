"""FIXTURES.md F5: Gorilla/DoD round-trip bit-exactness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.compression.gorilla import (
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
)

VALUE_VECTORS = {
    "empty": np.array([], dtype=np.float64),
    "single": np.array([3.14159]),
    "constant": np.full(100, 42.5),
    "ramp": np.arange(200, dtype=np.float64),
    "walk": np.cumsum(np.random.RandomState(1).normal(0, 1, 500)),
    "mixed_magnitude": np.array([1e-300, 1e300, -0.0, 0.0, 1.0, -1.0, np.inf, -np.inf]),
    "with_nan": np.array([1.0, np.nan, 2.0, np.nan, np.nan, 3.0]),
    "repeats": np.array([5.0, 5.0, 5.0, 7.0, 7.0, 5.0, 5.0]),
}

TS_VECTORS = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([1_700_000_000_000_000], dtype=np.int64),
    "regular": 1_700_000_000_000_000 + 60_000_000 * np.arange(300, dtype=np.int64),
    "irregular": 1_700_000_000_000_000
    + np.cumsum(np.random.RandomState(2).randint(1, 10**10, 300)).astype(np.int64),
    "jumps": np.array([0, 10**6, 2 * 10**6, 10**13, 10**13 + 5, 10**13 + 10], dtype=np.int64),
    "negative_epoch": np.array([-10**15, -10**15 + 7, -10**15 + 14], dtype=np.int64),
}


@pytest.mark.parametrize("name", sorted(VALUE_VECTORS))
def test_values_roundtrip_bitexact(name):
    x = VALUE_VECTORS[name]
    out = decode_values(encode_values(x))
    assert out.view(np.uint64).tolist() == x.view(np.uint64).tolist(), name


@pytest.mark.parametrize("name", sorted(TS_VECTORS))
def test_timestamps_roundtrip(name):
    x = TS_VECTORS[name]
    out = decode_timestamps(encode_timestamps(x))
    assert out.tolist() == x.tolist(), name


def test_compression_ratio_on_regular_series():
    """Sanity: regular cadence + slowly-varying values should beat raw
    16 bytes/point comfortably (Gorilla paper's core claim)."""
    n = 1000
    ts = 1_700_000_000_000_000 + 60_000_000 * np.arange(n, dtype=np.int64)
    vals = np.round(np.sin(np.arange(n) / 50) * 4, 2) + 100
    total = len(encode_timestamps(ts)) + len(encode_values(vals))
    assert total < 16 * n * 0.5, f"compressed {total}B vs raw {16*n}B"


def test_spark_block_roundtrip(spark, turns_small):
    from ts_raster_spark.operators.compress import compress_blocks, decompress_blocks
    from ts_raster_spark.operators.longform import to_long_panel

    long_df = to_long_panel(turns_small).where(F.col("kind").isin("text_len", "latency_s"))
    blocks = compress_blocks(long_df, block="day")
    back = decompress_blocks(blocks)

    a = (
        long_df.select("conv_id", "kind", "ts", "value")
        .orderBy("conv_id", "kind", "ts", "value")
        .toPandas()
    )
    b = back.orderBy("conv_id", "kind", "ts", "value").toPandas()
    assert len(a) == len(b)
    assert (a["conv_id"].values == b["conv_id"].values).all()
    assert (a["ts"].values == b["ts"].values).all()
    assert np.array_equal(
        a["value"].to_numpy(np.float64).view(np.uint64),
        b["value"].to_numpy(np.float64).view(np.uint64),
    )
    # blocks really are smaller than raw
    sizes = blocks.select(
        F.sum(F.length("ts_block") + F.length("val_block")).alias("c"),
        F.sum(F.col("n") * 16).alias("raw"),
    ).first()
    assert sizes["c"] < sizes["raw"]


def test_decompress_rejects_unknown_codec(spark):
    """Blocks are read back from tables on disk: a block tagged with any
    codec other than gorilla must fail the decode, not be misread."""
    import datetime as dt

    from ts_raster_spark.operators.compress import BLOCK_SCHEMA, decompress_blocks

    ts = np.array([1_700_000_000_000_000, 1_700_000_060_000_000], dtype=np.int64)
    vals = np.array([1.5, 2.5])

    def blocks(codec):
        row = ("c", "k", dt.datetime(2023, 11, 14), 2, codec, encode_timestamps(ts), encode_values(vals))
        return spark.createDataFrame([row], BLOCK_SCHEMA)

    assert [r["value"] for r in decompress_blocks(blocks("gorilla")).collect()] == [1.5, 2.5]
    with pytest.raises(Exception, match="unsupported block codec 'chimp'"):
        decompress_blocks(blocks("chimp")).collect()
