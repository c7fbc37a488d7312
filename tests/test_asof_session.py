from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.asof import asof_join, session_windows


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            ("A", 0, _ts("2024-01-01 00:00:30")),
            ("A", 1, _ts("2024-01-01 00:05:00")),   # tie with right row
            ("A", 2, _ts("2024-01-01 00:09:59")),
            ("B", 0, _ts("2024-01-01 00:00:10")),   # before any right row
        ],
        "conv_id string, turn_idx int, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 00:00:00"), 1.0),
            ("A", _ts("2024-01-01 00:05:00"), 2.0),
            ("A", _ts("2024-01-01 00:10:00"), 3.0),
            ("B", _ts("2024-01-01 00:01:00"), 9.0),
        ],
        "conv_id string, bucket_start timestamp, v double",
    )
    return left, right


def test_asof_backward_semantics(frames):
    left, right = frames
    out = asof_join(left, right, "conv_id", "ts", "bucket_start", ["v"], "backward").toPandas()
    got = {(r.conv_id, r.turn_idx): r.v for r in out.itertuples()}
    assert got[("A", 0)] == 1.0          # strictly-before match
    assert got[("A", 1)] == 2.0          # tie: at-or-before includes equal ts
    assert got[("A", 2)] == 2.0          # 00:10 bucket is in the future
    v = got[("B", 0)]
    assert v is None or v != v  # no prior right row -> null/NaN


def test_asof_preserves_left_rows(frames):
    left, right = frames
    out = asof_join(left, right, "conv_id", "ts", "bucket_start", ["v"], "backward")
    assert out.count() == left.count()
    assert set(out.columns) == {"conv_id", "turn_idx", "ts", "v"}


def test_session_windows_gap_semantics(spark):
    rows = [
        ("C", 0, _ts("2024-01-01 10:00:00")),
        ("C", 1, _ts("2024-01-01 10:10:00")),  # within 30 min -> same session
        ("C", 2, _ts("2024-01-01 11:00:00")),  # 50 min gap -> new session
        ("C", 3, _ts("2024-01-01 11:29:59")),  # 29:59 gap -> same session
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    out = session_windows(t).orderBy("session_start").toPandas()
    assert list(out["n_turns"]) == [2, 2]
    assert out.iloc[0]["session_end"] == _ts("2024-01-01 10:40:00")  # last + gap


def test_session_windows_cover_all_turns(spark, turns_small):
    s = session_windows(turns_small)
    assert s.agg(F.sum("n_turns")).first()[0] == turns_small.count()
    # sessions within a conversation must not overlap
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("session_start")
    bad = (
        s.withColumn("_prev_end", F.lag("session_end").over(w))
        .where(F.col("_prev_end") > F.col("session_start"))
        .count()
    )
    assert bad == 0
