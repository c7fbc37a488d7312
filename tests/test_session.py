"""Session defaults that change how the engine runs, not what it computes."""

from __future__ import annotations

from ts_raster_spark.functions.features_ext import rollup_ext_features
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.rollup import rollup_features


def _classes_compiled(spark) -> int:
    """Classes Spark has compiled in this JVM: one per miss of its
    generated-class cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_feature_plans_compile_once(spark, turns_small):
    """Re-executing the hour, whole-conversation and extended feature plans
    compiles no class: their working set fits in the cache, which is an
    LRU and so would miss on every access of a larger cyclic set."""
    long_df = to_long_panel(turns_small)
    frames = [
        rollup_features(long_df, tier="hour"),
        rollup_features(long_df, tier=None, include_strikes=True, include_trend=True, include_entropy=True),
        rollup_ext_features(long_df, ["conv_id", "kind"]),
    ]

    def cycle() -> None:
        for df in frames:
            df.write.format("noop").mode("overwrite").save()

    cycle()
    before = _classes_compiled(spark)
    cycle()
    assert _classes_compiled(spark) - before == 0
