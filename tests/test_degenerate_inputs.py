"""Operator behavior on empty / degenerate inputs — a 100 TB pipeline
meets empty partitions, empty filters and single-row groups constantly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.cascade import cascade_up
from ts_raster_spark.operators.gapfill import gapfill
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.rollup import rollup_features, rollup_simple
from ts_raster_spark.sources.turns import TURNS_SCHEMA


@pytest.fixture(scope="module")
def empty_turns(spark):
    return spark.createDataFrame([], TURNS_SCHEMA)


def test_long_panel_empty(spark, empty_turns):
    assert to_long_panel(empty_turns).count() == 0


def test_rollup_empty(spark, empty_turns):
    out = rollup_features(to_long_panel(empty_turns), tier="hour")
    assert out.count() == 0
    assert "skewness" in out.columns  # schema is stable even when empty


def test_cascade_empty(spark, empty_turns):
    minute = rollup_simple(to_long_panel(empty_turns), "minute")
    assert cascade_up(minute, "hour").count() == 0


def test_gapfill_empty(spark, empty_turns):
    pts = rollup_simple(to_long_panel(empty_turns), "hour", aggs={"value": F.avg("value")})
    assert gapfill(pts, "hour", "locf").count() == 0


def test_single_turn_conversation(spark):
    import datetime as dt

    t = spark.createDataFrame(
        [("solo", 0, "user", "hi", None, dt.datetime(2024, 1, 1))], TURNS_SCHEMA
    )
    wide = rollup_features(to_long_panel(t), tier=None).toPandas()
    row = wide[(wide.conv_id == "solo") & (wide.kind == "text_len")].iloc[0]
    assert row["turn_count"] == 1
    assert row["mean"] == 2.0  # len("hi")
    assert row["variance"] == 0.0
    import math

    assert row["mean_change"] is None or math.isnan(row["mean_change"])


def test_dedup_empty_docs(spark):
    from ts_raster_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_jaccard_pairs(docs).count() == 0
    assert minhash_lsh_pairs(docs).count() == 0


def test_session_windows_empty(spark, empty_turns):
    from ts_raster_spark.operators.asof import session_windows

    assert session_windows(empty_turns).count() == 0


def test_null_text_turns(spark):
    """Schema allows null text; length(null) is null, so the text_len
    channel simply drops those turns (sentinel-free null policy)."""
    import datetime as dt

    rows = [
        ("n1", 0, "user", None, None, dt.datetime(2024, 1, 1, 0, 0)),
        ("n1", 1, "assistant", "ok", None, dt.datetime(2024, 1, 1, 0, 1)),
    ]
    t = spark.createDataFrame(rows, TURNS_SCHEMA)
    long_df = to_long_panel(t)
    tl = long_df.where("kind = 'text_len'").toPandas()
    assert len(tl) == 1 and tl.iloc[0]["value"] == 2.0
    # role/tool channels still cover both turns
    assert long_df.where("kind = 'role_user'").count() == 2


def test_irregular_turn_idx_matches_lag_definition(spark, irregular_turns):
    """Duplicate, gapped and out-of-order ``turn_idx``: every channel keeps
    one row per input turn, and latency is the oracle's
    ``ts - lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts)``."""
    turns = irregular_turns.toPandas()
    long_df = to_long_panel(irregular_turns).toPandas()
    key = ["conv_id", "turn_idx", "ts"]
    for kind in ("text_len", "is_tool", "role_user", "role_assistant"):
        got = long_df[long_df.kind == kind]
        assert len(got) == len(turns), kind
        assert not got.duplicated(key).any(), kind
        assert got.value.notna().all(), kind

    ordered = turns.sort_values(["conv_id", "turn_idx", "ts"])
    ordered["latency_s"] = ordered.groupby("conv_id").ts.diff().dt.total_seconds()
    want = ordered.dropna(subset=["latency_s"])[key + ["latency_s"]]
    got = long_df[long_df.kind == "latency_s"][key + ["value"]]
    assert not got.duplicated(key).any()
    merged = want.merge(got, on=key, how="outer", validate="one_to_one")
    assert merged.value.notna().all() and merged.latency_s.notna().all(), merged
    assert (merged.value == merged.latency_s).all(), merged
    # the retried turn: 4 text_len turns, latencies 2 + 3 + 4
    dup = long_df[long_df.conv_id == "dup"]
    assert (dup.kind == "text_len").sum() == 4
    assert dup[dup.kind == "latency_s"].value.sum() == 9.0
