"""FIXTURES.md F5: Gorilla/DoD round-trip bit-exactness."""

from __future__ import annotations

import numpy as np
import pandas as pd
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
    blocks = compress_blocks(long_df)
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


def _encode_in_process(pdf):
    """The blocks compress_blocks must build, encoded series by series in
    this process: one block per (conv_id, kind, day), points ordered by
    (turn_idx, ts)."""
    pdf = pdf.assign(day=pdf["ts"].dt.floor("D")).sort_values(["turn_idx", "ts"])
    return {
        (c, k, d, len(sub),
         encode_timestamps(sub["ts"].to_numpy(dtype="datetime64[us]").view(np.int64)),
         encode_values(sub["value"].to_numpy(dtype=np.float64)))
        for (c, k, d), sub in pdf.groupby(["conv_id", "kind", "day"], sort=True)
    }


def test_sorted_runs_carry_over_batches():
    """Runs cut from sorted batches of 7 rows: a run ending exactly on a
    batch boundary, a one-row run, a run spanning three batches, an empty
    batch, and the last run of the partition each come out whole."""
    from ts_raster_spark.operators.kernels import _sorted_runs

    lengths = {"a": 7, "b": 1, "c": 17, "d": 3}  # a: rows 0-6, c: rows 8-24
    pdf = pd.DataFrame({
        "k": [k for k, n in lengths.items() for _ in range(n)],
        "i": [i for n in lengths.values() for i in range(n)],
    })
    batches = [pdf.iloc[s:s + 7] for s in range(0, len(pdf), 7)]
    batches.insert(2, pdf.iloc[:0])
    per_batch = list(_sorted_runs(iter(batches), ["k"]))
    runs = [r for done in per_batch for r in done]
    assert [(r["k"].iloc[0], r["i"].tolist()) for r in runs] == [
        (k, list(range(n))) for k, n in lengths.items()
    ]
    assert [len(done) for done in per_batch] == [0, 2, 0, 1, 1]
    assert list(_sorted_runs(iter([pdf.iloc[:0]]), ["k"])) == []


@pytest.fixture
def arrow_batches_of_seven(spark):
    """Arrow batches of 7 rows and no partition coalescing, so series
    cross batch boundaries and most shuffle partitions are empty."""
    confs = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_compress_blocks_across_arrow_batches(spark, arrow_batches_of_seven):
    """compress_blocks over 7-row Arrow batches is byte-identical to a
    per-series in-process encode.  Conversation c0 sorts first in its
    partition, so its series fall on fixed rows: a (7 rows) ends exactly
    on the first batch boundary, b is one row, c (17 rows, crossing
    midnight into a second day block) spans three batches, d ends the
    conversation; c1 and c2 add runs elsewhere, and 3 conversations over
    8 partitions leave at least 5 partitions empty."""
    import datetime as dt

    from ts_raster_spark.operators.compress import compress_blocks

    rng = np.random.RandomState(11)
    t0 = dt.datetime(2024, 1, 1, 23, 50)
    rows = []
    for conv, kinds in {"c0": {"a": 7, "b": 1, "c": 17, "d": 3}, "c1": {"a": 9}, "c2": {"x": 1}}.items():
        for kind, n in kinds.items():
            for i in range(n):
                rows.append((conv, i, t0 + dt.timedelta(seconds=67 * i), kind, float(np.round(rng.normal(), 3))))
    rng.shuffle(rows)
    long_df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, kind string, value double")

    got = {
        (r["conv_id"], r["kind"], pd.Timestamp(r["block_start"]), r["n"], bytes(r["ts_block"]), bytes(r["val_block"]))
        for r in compress_blocks(long_df).collect()
    }
    assert got == _encode_in_process(pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "kind", "value"]))
    assert len(got) == 7  # c splits into two day blocks


def test_compress_blocks_plan_adds_no_exchange(spark, turns_small):
    """The encode reuses the long panel's conv_id partitioning (the
    latency window's): one MapInPandas over a sort, no new Exchange."""
    from ts_raster_spark.operators.compress import compress_blocks
    from ts_raster_spark.operators.longform import to_long_panel

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    long_df = to_long_panel(turns_small)
    base, blocks = plan(long_df), plan(compress_blocks(long_df))
    assert blocks.count("Exchange") == base.count("Exchange") >= 1, blocks
    assert "MapInPandas" in blocks and "FlatMapGroupsInPandas" not in blocks, blocks


def test_compress_blocks_rejects_null_ts(spark):
    """A point without a timestamp belongs to no block: the encode fails
    the job instead of dropping the point from its series."""
    import datetime as dt

    from ts_raster_spark.operators.compress import compress_blocks

    rows = [("c", 0, dt.datetime(2024, 1, 1), "k", 1.0), ("c", 1, None, "k", 2.0)]
    long_df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, kind string, value double")
    with pytest.raises(Exception, match="null ts in series 'c'/'k'"):
        compress_blocks(long_df).collect()
