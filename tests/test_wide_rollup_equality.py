from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.rollup import rollup_simple, rollup_simple_wide


def test_wide_path_equals_long_path(spark, turns_small, irregular_turns):
    """rollup_simple_wide (production: aggregates channel COLUMNS, then
    unpivots the aggregated rows) must equal rollup_simple over the long
    panel exactly — same rows, same values, bit-for-bit — on generated
    turns and on duplicate/gapped/out-of-order ``turn_idx``."""
    for turns in (turns_small, irregular_turns):
        a = (
            rollup_simple(to_long_panel(turns), "minute")
            .orderBy("conv_id", "kind", "bucket_start")
            .toPandas()
            .reset_index(drop=True)
        )
        b = (
            rollup_simple_wide(turns, "minute")
            .orderBy("conv_id", "kind", "bucket_start")
            .toPandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b[a.columns], rtol=1e-12)


def test_wide_path_channel_subset(spark, turns_small):
    out = rollup_simple_wide(turns_small, "hour", channels=("text_len", "is_tool"))
    kinds = {r[0] for r in out.select("kind").distinct().collect()}
    assert kinds == {"text_len", "is_tool"}
    # latency-less channels: every turn contributes
    n = out.where("kind = 'text_len'").agg(F.sum("turn_count")).first()[0]
    assert n == turns_small.count()
    with pytest.raises(ValueError, match="unknown tier"):
        rollup_simple_wide(turns_small, "week")
