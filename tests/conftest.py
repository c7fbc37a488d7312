from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ts_raster_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def assert_one_bucket_scanned(spark):
    """Check that a catalog point lookup prunes to the conversation's
    bucket ``k`` (Spark's own ``pmod(xxhash64(conv_id), n_buckets)``):
    the scan's PartitionFilters hold ``bucket_id = k`` and every file the
    executed scan reads lies under ``bucket_id=k``.  The files come from
    the scan node, not ``DataFrame.inputFiles()``, which lists every file
    of a path-based table because Spark prunes its partitions only when
    it plans the scan."""

    def check(df, conv_id: str, n_buckets: int) -> None:
        k = spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(conv_id)), F.lit(n_buckets)).cast("int")
        ).first()[0]
        plan = df._jdf.queryExecution().executedPlan()
        text = plan.toString()
        assert re.search(rf"PartitionFilters: \[[^\]]*\(bucket_id#\d+ = {k}\)[,\]]", text), text
        leaves = plan.collectLeaves()
        scans = [leaves.apply(i) for i in range(leaves.size())]
        scans = [s for s in scans if s.getClass().getSimpleName() == "FileSourceScanExec"]
        assert len(scans) == 1, text
        files = [f.filePath().toString() for p in scans[0].inputRDDs().head().partitions() for f in p.files()]
        assert files and {os.path.basename(os.path.dirname(f)) for f in files} == {f"bucket_id={k}"}, files

    return check


@pytest.fixture(scope="session")
def turns_small(spark):
    from ts_raster_spark.datagen import gen_turns

    df = gen_turns(spark, n_convs=40, min_turns=1, max_turns=30, seed=7).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def irregular_turns(spark):
    """Three conversations outside the dense, ordered ``turn_idx`` layout:
    a retried turn (duplicate ``turn_idx=1``), a gap (0, 1, 3), and rows
    created out of order."""
    import datetime as dt

    from ts_raster_spark.sources.turns import TURNS_SCHEMA

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        ("dup", 0, "user", "hello", None, at(0)),
        ("dup", 1, "assistant", "first try", None, at(2)),
        ("dup", 1, "assistant", "retry", "search", at(5)),
        ("dup", 2, "user", "thanks", None, at(9)),
        ("gap", 0, "user", "a", None, at(0)),
        ("gap", 1, "assistant", "bb", "calc", at(10)),
        ("gap", 3, "user", "ccc", None, at(30)),
        ("ooo", 2, "assistant", "third", None, at(70)),
        ("ooo", 0, "user", "first", None, at(0)),
        ("ooo", 3, "tool", "fourth", "code", at(75)),
        ("ooo", 1, "system", "second", None, at(40)),
    ]
    return spark.createDataFrame(rows, TURNS_SCHEMA)
