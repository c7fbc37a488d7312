from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.retention import merge_late, within_ttl
from ts_raster_spark.operators.rollup import rollup_simple

KINDS = ("text_len", "is_tool")
KEYS = ["conv_id", "kind", "bucket_start"]


def _minute(turns):
    return rollup_simple(to_long_panel(turns).where(F.col("kind").isin(*KINDS)), "minute")


def _assert_same(got, ref):
    ref = ref.orderBy(*KEYS).toPandas()
    pd.testing.assert_frame_equal(got.orderBy(*KEYS).toPandas()[ref.columns], ref)


def test_late_merge_equals_full_recompute(turns_small):
    """Holding out 10% of turns, rolling up, then merging the late rows
    must reproduce the single-shot rollup exactly — no duplicates, no
    missing buckets (idempotent MERGE keyed (conv_id, kind, bucket))."""
    _assert_same(merge_late(turns_small, F.col("turn_idx") % 10 == 3, _minute), _minute(turns_small))


def test_late_merge_idempotent(turns_small):
    """Merging rows the tier already holds changes nothing: with every
    conversation late, or none, the MERGE is the plain rollup."""
    for is_late in (F.col("turn_idx") == 0, F.lit(False)):
        _assert_same(merge_late(turns_small, is_late, _minute), _minute(turns_small))


def test_retention_ttl(turns_small):
    """``within_ttl`` keeps the cutoff bucket and every later one, and
    drops the older ones."""
    tier = _minute(turns_small)
    starts = sorted(r[0] for r in tier.select("bucket_start").distinct().collect())
    cutoff = starts[len(starts) // 2]
    kept = within_ttl(tier, "7 days", F.lit(cutoff + dt.timedelta(days=7)))
    assert kept.agg(F.min("bucket_start")).first()[0] == cutoff
    assert kept.count() == tier.where(F.col("bucket_start") >= F.lit(cutoff)).count()
    assert kept.count() < tier.count()
