"""Session defaults that change how the engine runs, not what it computes."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from ts_raster_spark import daemon
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


def test_python_daemon_module(spark):
    assert spark.conf.get("spark.python.daemon.module") == "ts_raster_spark.daemon"


def test_worker_rereads_no_unchanged_archive(spark):
    """In a Python worker, ``importlib.invalidate_caches()`` (which
    PySpark's worker calls at the start of every task) re-reads no zip
    archive that has not changed since the task started."""

    def archive_reads(batches):
        import importlib

        import pandas as pd

        reads = []
        read_directory = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return read_directory(archive)

        importers = [i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)]
        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [len(importers)], "reads": [len(reads)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(archive_reads, "importers long, reads long").collect()
    if rows[0]["importers"] == 0:
        pytest.skip("the Python worker has no zip importer on its path")
    assert rows[0]["reads"] == 0


def test_changed_archive_is_reread_by_every_importer(tmp_path):
    """The daemon's guard keeps its archive stats per importer: when an
    archive two importers share changes, each of them re-reads it."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("old_mod.py", "X = 1\n")
    importers = [zipimport.zipimporter(str(archive)) for _ in range(2)]
    for importer in importers:
        daemon.invalidate_caches(importer)
        assert importer.find_spec("new_mod") is None

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("old_mod.py", "X = 1\n")
        z.writestr("new_mod.py", "X = 2\n")
    for importer in importers:
        daemon.invalidate_caches(importer)
        assert importer.find_spec("new_mod") is not None


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
