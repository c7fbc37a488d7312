from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.streaming.rollup_stream import (
    run_to_memory,
    stateful_turn_counter,
    stream_rollup,
    stream_turns,
)


@pytest.fixture(scope="module")
def turns_dir(spark, turns_small, tmp_path_factory):
    """Finite file-source backlog: turns split over 3 files (micro-batch
    boundaries when maxFilesPerTrigger=1)."""
    d = str(tmp_path_factory.mktemp("stream_in"))
    turns_small.repartition(3).write.mode("overwrite").parquet(d)
    return d


def test_stream_rollup_matches_batch(spark, turns_small, turns_dir):
    sdf = stream_rollup(stream_turns(spark, turns_dir), tier="hour")
    run_to_memory(sdf, "rollup_stream_t", output_mode="complete")
    got = spark.table("rollup_stream_t").orderBy("conv_id", "bucket_start").toPandas()

    batch = (
        turns_small.select(
            "conv_id",
            F.date_trunc("hour", "ts").alias("bucket_start"),
            F.length("text").cast("double").alias("text_len"),
            F.col("tool").isNotNull().cast("double").alias("is_tool"),
        )
        .groupBy("conv_id", "bucket_start")
        .agg(
            F.count("*").cast("long").alias("turn_count"),
            F.sum("text_len").alias("sum_text_len"),
            F.min("text_len").alias("min_text_len"),
            F.max("text_len").alias("max_text_len"),
            F.sum("is_tool").alias("tool_turns"),
        )
        .orderBy("conv_id", "bucket_start")
        .toPandas()
    )
    got = got[batch.columns].reset_index(drop=True)
    assert got.equals(batch.reset_index(drop=True))


def test_stateful_counter_totals(spark, turns_small, turns_dir):
    sdf = stateful_turn_counter(stream_turns(spark, turns_dir, max_files_per_trigger=1))
    run_to_memory(sdf, "counter_t", output_mode="update")
    # update mode emits one row per conv per micro-batch; the final row
    # (max n_turns) must equal the batch count
    got = (
        spark.table("counter_t")
        .groupBy("conv_id")
        .agg(F.max("n_turns").alias("n_turns"))
        .toPandas()
        .set_index("conv_id")["n_turns"]
    )
    exp = turns_small.groupBy("conv_id").count().toPandas().set_index("conv_id")["count"]
    for cid, n in exp.items():
        assert int(got[cid]) == int(n), cid


def test_stateful_counter_unordered_multifile(spark, tmp_path):
    """The de-funneled gate shape: a conversation's rows arrive as
    several Arrow chunks in arbitrary order within ONE micro-batch
    (multi-file availableNow input, no global sort anywhere). The
    kernel's per-key sort must still produce the correct latency of the
    final turn pair."""
    import datetime as dt

    rows = [
        ("conv-x", i, "user", f"t{i}", None,
         dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=7 * i))
        for i in range(30)
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    d = str(tmp_path / "unordered_in")
    # hash-repartition on turn_idx: rows of conv-x scatter over 5 files
    # in non-turn order — the adversarial layout for per-key ordering
    turns.repartition(5, "turn_idx").write.mode("overwrite").parquet(d)
    sdf = stateful_turn_counter(stream_turns(spark, d))
    run_to_memory(sdf, "counter_unordered_t", output_mode="update")
    got = (
        spark.table("counter_unordered_t")
        .orderBy(F.col("n_turns").desc())
        .limit(1)
        .toPandas()
        .iloc[0]
    )
    assert int(got["n_turns"]) == 30
    assert got["last_latency_s"] == 7.0


def test_stream_append_mode_respects_watermark(spark, turns_dir):
    """Append mode + finite input: buckets not passed by the watermark
    stay pending (the late-data contract) — the emitted set must be a
    subset of the complete result."""
    sdf_c = stream_rollup(stream_turns(spark, turns_dir), tier="hour", watermark="1 minute")
    run_to_memory(sdf_c, "wm_complete", output_mode="complete")
    n_complete = spark.table("wm_complete").count()

    sdf_a = stream_rollup(stream_turns(spark, turns_dir), tier="hour", watermark="1 minute")
    run_to_memory(sdf_a, "wm_append", output_mode="append")
    n_append = spark.table("wm_append").count()
    assert n_append <= n_complete


def test_stream_dedup_exact_parity(spark, tmp_path):
    """Triple-delivered rows collapse to the distinct set (batch parity),
    state bounded by the watermark."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from ts_raster_spark.streaming.rollup_stream import (
        run_to_memory,
        stream_dedup_exact,
        stream_turns,
    )

    t0 = datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        (f"conv-{i % 5}", i // 5, "user", f"text-{i}", None, t0 + timedelta(minutes=i))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    tripled = df.unionByName(df).unionByName(df)
    path = str(tmp_path / "in")
    tripled.repartitionByRange(4, "conv_id", "turn_idx").write.parquet(path)
    out = stream_dedup_exact(stream_turns(spark, path))
    run_to_memory(out, "sdedup_test", "append")
    got = spark.table("sdedup_test")
    assert got.count() == 40
    assert got.select("conv_id", "turn_idx").distinct().count() == 40
    want = {(r["conv_id"], r["turn_idx"]) for r in df.collect()}
    assert {(r["conv_id"], r["turn_idx"]) for r in got.collect()} == want


@pytest.mark.parametrize(
    "query",
    [
        "q_stream_dedup_exact",
        "q_stream_stateful_counts",
        "q_stream_rollup_minute",
        "q_stream_sliding_counts",
        "q_stream_session_windows",
    ],
)
def test_stream_query_calls_use_own_directories(spark, turns_small, monkeypatch, query):
    """Two runs of a declared streaming query in one session feed their
    streams from distinct input directories, remove them, leave no
    ``tsrs_stream_*`` table in the session, and return the same rows (for
    stream_dedup_exact: the base turns projection, the query's oracle)."""
    import os

    from ts_raster_spark import queries as Q
    from ts_raster_spark.streaming import rollup_stream as RS

    paths = []
    stream_turns = RS.stream_turns

    def recording_stream_turns(spark_, path, *args):
        paths.append(path)
        return stream_turns(spark_, path, *args)

    monkeypatch.setattr(RS, "stream_turns", recording_stream_turns)
    monkeypatch.setattr(Q, "load_turns", lambda spark_, sf_dir: turns_small)
    first, second = (sorted(getattr(Q, query)(spark, "unused").collect()) for _ in range(2))
    assert first and first == second
    if query == "q_stream_dedup_exact":
        want = Q.finalize(turns_small.select("conv_id", "turn_idx", "ts", F.md5("text").alias("content_md5")))
        assert first == sorted(want.collect())
    assert len(paths) == 2 and paths[0] != paths[1], paths
    assert not any(os.path.exists(p) for p in paths), paths
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("tsrs_stream_")]
    assert not left, left
