"""Counter/state/heartbeat/OHLC algebra (operators/timeseries.py) on
hand-built conversations with known answers."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.timeseries import (
    counter_rollup,
    heartbeat_uptime,
    ohlc,
    state_durations,
    with_synthetic_counter,
)


def _t(minute, second=0):
    return dt.datetime(2024, 3, 1, 10, minute, second)


@pytest.fixture(scope="module")
def toy(spark):
    rows = [
        # conv a: one hour bucket, counter goes 5, 12, 3 (reset), 9
        ("a", 0, "user", "x" * 5, None, _t(0), 5.0),
        ("a", 1, "assistant", "x" * 7, None, _t(1), 12.0),
        ("a", 2, "user", "x" * 2, None, _t(30), 3.0),
        ("a", 3, "assistant", "x" * 6, None, _t(45), 9.0),
        # conv b: single turn
        ("b", 0, "user", "x" * 4, None, _t(5), 2.0),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, value double"
    )


def test_ohlc(toy):
    out = {r["conv_id"]: r for r in ohlc(toy).collect()}
    a = out["a"]
    assert (a["open"], a["high"], a["low"], a["close"], a["n_points"]) == (5.0, 12.0, 3.0, 9.0, 4)
    b = out["b"]
    assert (b["open"], b["high"], b["low"], b["close"], b["n_points"]) == (2.0, 2.0, 2.0, 2.0, 1)


def test_counter_rollup_counts_resets(spark, toy):
    # use the value column directly as the counter: 5 -> 12 (+7),
    # 12 -> 3 (reset, +3), 3 -> 9 (+6) => increase 16, 1 reset
    out = counter_rollup(toy.withColumn("counter", F.col("value"))).collect()
    a = next(r for r in out if r["conv_id"] == "a")
    assert a["increase"] == pytest.approx(16.0)
    assert a["num_resets"] == 1
    assert a["first_reading"] == 5.0 and a["last_reading"] == 9.0
    # span = 45 min; rate = 16 / 2700 s
    assert a["rate_per_s"] == pytest.approx(16.0 / 2700.0)
    b = next(r for r in out if r["conv_id"] == "b")
    assert b["increase"] == 0.0 and b["rate_per_s"] is None and b["num_resets"] == 0


def test_counter_bucket_boundary_is_hard_cut(spark):
    # two points in hour 10, one in hour 11: the 10->11 pair must NOT count
    rows = [
        ("c", 0, "u", "x", None, dt.datetime(2024, 3, 1, 10, 50), 0.0),
        ("c", 1, "u", "x", None, dt.datetime(2024, 3, 1, 10, 55), 4.0),
        ("c", 2, "u", "x", None, dt.datetime(2024, 3, 1, 11, 5), 10.0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, value double"
    ).withColumn("counter", F.col("value"))
    out = {r["bucket_start"].hour: r for r in counter_rollup(df).collect()}
    assert out[10]["increase"] == pytest.approx(4.0)
    assert out[11]["increase"] == 0.0  # no in-bucket pair
    assert out[11]["n_points"] == 1


def test_synthetic_counter_wraps(spark, toy):
    got = (
        with_synthetic_counter(toy, modulus=10)
        .where("conv_id = 'a'")
        .orderBy("turn_idx")
        .select("counter")
        .collect()
    )
    # cumulative text lens: 5, 12, 14, 20 -> mod 10: 5, 2, 4, 0
    assert [r["counter"] for r in got] == [5.0, 2.0, 4.0, 0.0]


def test_state_durations(toy):
    out = {(r["conv_id"], r["state"]): r for r in state_durations(toy).collect()}
    # a-user: turn0 holds 60s (to t1), turn2 holds 900s (to t3) => 960
    assert out[("a", "user")]["total_s"] == pytest.approx(960.0)
    assert out[("a", "user")]["longest_s"] == pytest.approx(900.0)
    # a-assistant: turn1 holds 1740s (to t2), turn3 is last (0)
    assert out[("a", "assistant")]["total_s"] == pytest.approx(1740.0)
    assert out[("b", "user")]["total_s"] == 0.0


def test_heartbeat_uptime(toy):
    out = {r["conv_id"]: r for r in heartbeat_uptime(toy).collect()}
    a = out["a"]
    # gaps: 60 (live), 1740 (gap), 900 (gap); uptime = 60+60+60 + trailing 60
    assert a["uptime_s"] == pytest.approx(240.0)
    assert a["n_gaps"] == 2
    assert a["span_s"] == pytest.approx(2700.0 + 60.0)
    b = out["b"]
    assert b["uptime_s"] == pytest.approx(60.0)
    assert b["n_gaps"] == 0
    assert b["uptime_ratio"] == pytest.approx(1.0)


def test_counter_rollup_single_exchange(spark, toy):
    """lag windows + groupBy share the conv_id hash partitioning."""
    plan = (
        counter_rollup(with_synthetic_counter(toy))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan
