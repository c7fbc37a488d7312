"""Pure-Catalyst Bloom filter (operators/bloom.py): no false
negatives, empirical FPR near the analytic rate, exact-equality of the
bloom-pruned decontamination with the plain exact path, and plan shape
(broadcast bitmap, no exchange added to the probe side, no Python)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
    decontaminate_ngrams_bloom,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def keys(spark):
    return spark.range(10_000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )


def test_no_false_negatives(spark, keys):
    bloom = bloom_build(keys, "k")
    probed = bloom_might_contain(keys, "k", bloom)
    n = probed.count()
    hits = probed.where("bloom_might_contain").count()
    assert n == 10_000 and hits == n


def test_fpr_near_analytic(spark, keys):
    m, k = 1 << 17, 5
    n_keys = 10_000
    bloom = bloom_build(keys, "k", m_bits=m, k_hashes=k)
    others = spark.range(50_000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("k")
    )
    fp = (
        bloom_might_contain(others, "k", bloom, m_bits=m, k_hashes=k)
        .where("bloom_might_contain")
        .count()
    )
    fpr = fp / 50_000
    analytic = (1.0 - math.exp(-k * n_keys / m)) ** k
    # xxhash64 positions are not perfectly independent; allow 2x + floor
    assert fpr <= 2.0 * analytic + 0.002, (fpr, analytic)
    assert fpr > 0.0  # a bloom this loaded must show SOME false positives


def test_determinism(spark, keys):
    a = bloom_build(keys, "k").collect()[0]["bloom_map"]
    b = bloom_build(keys.repartition(7), "k").collect()[0]["bloom_map"]
    assert a == b


def test_decontaminate_bloom_equals_exact(spark, docs):
    from ts_raster_spark.operators.dedup import decontaminate_ngrams

    train = docs.where(F.col("doc_id") % 20 != 0)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    exact = decontaminate_ngrams(train, bench, n=4, threshold=0.1)
    bloomed = decontaminate_ngrams_bloom(train, bench, n=4)
    a = sorted(map(tuple, exact.collect()))
    b = sorted(map(tuple, bloomed.collect()))
    assert a == b and len(a) > 0
    assert exact.columns == bloomed.columns


def test_probe_plan_shape(spark, keys):
    """The probe adds a broadcast of the 1-row bitmap and NO exchange
    or Python stage on the probe side."""
    large = spark.range(1000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    bloom = bloom_build(keys, "k")
    probed = bloom_might_contain(large, "k", bloom)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    left, _, _ = plan.partition("BroadcastNestedLoopJoin")
    # nothing above the join (the probe-side stream) shuffles or
    # leaves the JVM
    assert "Exchange" not in left
    assert "Python" not in plan and "FlatMapGroups" not in plan
