"""Physical-plan assertions: the optimizations we rely on at 100 TB must
be visible in the executed plan, not assumed (task brief: '.explain the
plan and iterate until it's the plan you'd want')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.functions import features as FT
from ts_raster_spark.functions.features_ext import rollup_ext_features
from ts_raster_spark.operators.longform import to_long_panel, with_channels
from ts_raster_spark.operators.mask import mask_df
from ts_raster_spark.operators.rollup import bucketize, rollup_features, rollup_simple_wide

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.where(F.col("user_id") == 7).select("event_id", "ts")
    plan = _plan(q)
    assert "PushedFilters" in plan and "user_id" in plan.split("PushedFilters")[1][:200], plan


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read the text/props payload
    (ReadSchema pruning — calculate.py:381's manual column drops, free
    from Catalyst here)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.select("user_id", "ts")
    plan = _plan(q)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema and "event_type" not in read_schema, read_schema


def test_rollup_single_exchange(spark, turns_small):
    """attach_group_stats windows + the groupBy must share ONE hash
    exchange on the rollup keys (the single-shuffle design claim in
    functions/features.py)."""
    long_df = to_long_panel(turns_small).where(F.col("kind") == "text_len")
    df, keys = bucketize(long_df, "hour")
    stats = FT.attach_group_stats(df, keys)
    agg = stats.groupBy(*keys).agg(*[c.alias(n) for n, c in FT.core_aggs().items()])
    plan = _plan(agg)
    # the latency window's conv_id partitioning already clusters the
    # rollup keys, so the windows and the groupBy reuse its exchange
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"expected <=1 hash exchange (conv_id, shared by the latency window and the rollup), got {n_exchanges}:\n{plan[:2000]}"


def test_helper_free_rollup_prunes_helper_windows(spark, turns_small):
    """rollup_features attaches only the helpers its names read: a
    helper-free request (q_mask_rollup_hour's four features) plans as many
    Window nodes as a plain groupBy of the same aggregates over the same
    input, while a request that reads a helper plans more."""
    names = ["turn_count", "mean", "maximum", "minimum"]
    long_df = to_long_panel(turns_small).where(F.col("kind") == "text_len")
    df, keys = bucketize(long_df, "hour")
    aggs = FT.feature_registry(["default"])
    plain = _plan(df.groupBy(*keys).agg(*[aggs[n][0].alias(n) for n in names])).count("Window")
    assert _plan(rollup_features(long_df, tier="hour", feature_names=names)).count("Window") == plain
    assert _plan(rollup_features(long_df, tier="hour", include_strikes=True)).count("Window") > plain


# (Window, Sort) ceilings of the perfbench feature frames over
# to_long_panel: one Sort per helper sort family plus the latency window's
FRAME_SHAPES = {
    "hour": (lambda long_df: rollup_features(long_df, tier="hour"), 3, 3),
    "conv": (
        lambda long_df: rollup_features(
            long_df, tier=None, include_strikes=True, include_trend=True, include_entropy=True
        ),
        4,
        3,
    ),
    "ext": (lambda long_df: rollup_ext_features(long_df, ["conv_id", "kind"]), 5, 4),
}


@pytest.mark.parametrize("frame", list(FRAME_SHAPES))
def test_feature_frame_plan_shape(spark, turns_small, frame):
    """Each sort family of the helper registry sorts once, and every
    helper window and the groupBy share one rollup-key exchange: the
    latency window's conv_id partitioning, which clusters the rollup
    keys."""
    import re

    query, max_windows, max_sorts = FRAME_SHAPES[frame]
    # the cached fixture's own plan prints below InMemoryRelation
    plan = _plan(query(to_long_panel(turns_small))).split("InMemoryRelation")[0]

    def nodes(name):
        return len(re.findall(rf"^[\s:+-]*\*?(?:\(\d+\) )?{name} \[", plan, re.M))

    assert nodes("Window") <= max_windows and nodes("Sort") <= max_sorts, plan
    assert plan.count("Exchange hashpartitioning(conv_id") == 1 and plan.count("Exchange") == 1, plan


def test_wide_rollup_prunes_latency_window(spark, turns_small):
    """A latency-free channel subset must not derive latency: Catalyst
    prunes the lag Window, and there is no join to prune by hand."""
    out = rollup_simple_wide(turns_small, "hour", channels=("text_len", "is_tool"))
    out.collect()
    plan = _plan(out)
    assert "Join" not in plan, plan[:2000]
    # the cached fixture's own plan (below InMemoryRelation) has a Window
    above_cache = plan.split("InMemoryRelation")[0]
    assert "Window" not in above_cache and "lag(" not in plan, above_cache


def test_long_panel_latency_is_a_window(spark, turns_small):
    """Latency is the lag window alone: no join in the channel plans, and
    a latency-free long panel prunes the window too."""
    for df in (with_channels(turns_small), to_long_panel(turns_small)):
        plan = _plan(df)
        assert "Join" not in plan and "lag(" in plan, plan[:2000]
    plan = _plan(to_long_panel(turns_small, channels=("text_len",)))
    assert "lag(" not in plan and "Exchange" not in plan, plan[:2000]


def test_mask_join_broadcasts(spark, turns_small):
    ids = turns_small.select("conv_id").distinct().withColumn("keep", F.lit(1))
    masked = mask_df(turns_small, ids)
    plan = _plan(masked)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:1500]


def test_whole_stage_codegen_covers_channels(spark, turns_small):
    long_df = to_long_panel(turns_small)
    long_df.collect()  # execute THIS plan so AQE finalizes it
    plan = _plan(long_df)
    # codegen stages print as "*(n) Operator" in the finalized plan
    assert "*(" in plan and "isFinalPlan=true" in plan, plan[:800]
    # the channel projection + unpivot must be inside a codegen stage
    assert "*(2) Generate stack" in plan or "* Generate" in plan.replace("*(1)", "*").replace("*(2)", "*"), plan[:1500]


def test_bucket_pruning_in_catalog(spark, turns_small, tmp_path, assert_one_bucket_scanned):
    from ts_raster_spark.sources.catalog import ParquetTierCatalog

    cat = ParquetTierCatalog(str(tmp_path / "t"), n_buckets=8)
    cat.write(turns_small.select("conv_id", "turn_idx", "ts"), "x")
    conv_id = turns_small.first()["conv_id"]
    one = cat.read_conv(spark, "x", conv_id)
    # the bucket transform folds into a literal partition filter, and the
    # scan reads one of the 8 bucket dirs
    assert_one_bucket_scanned(one, conv_id, 8)
    assert one.count() > 0


def test_grouping_sets_single_expand_no_python(spark):
    """q_rollup_grouping_sets: four grains from ONE scan — exactly one
    Expand over projected columns, the standard two-phase-distinct
    exchange budget (3), zero Python stages."""
    import re

    from ts_raster_spark import queries as Q

    plan = _plan(Q.q_rollup_grouping_sets(spark, SF))
    assert plan.count("Expand") == 1, plan
    assert len(re.findall(r"Exchange", plan)) <= 3, plan
    assert "Python" not in plan
    # the Expand happens after projection: corpus text must not be in
    # its output (only the derived length rides the replication)
    expand_block = plan.split("Expand")[1][:400]
    assert "text#" not in expand_block, expand_block
