"""KMV set-algebra sketch (operators/kmv.py): estimate accuracy vs the
analytic error bound, merge closure, intersection on planted overlaps,
determinism under repartition, and exactness below k."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.kmv import (
    kmv_estimate,
    kmv_merge,
    kmv_set_ops,
    kmv_sketch,
)


def _entities(spark, n, prefix, group="g"):
    return spark.range(n).select(
        F.lit(group).alias("grp"),
        F.concat(F.lit(prefix), F.col("id")).alias("e"),
    )


def test_exact_below_k(spark):
    df = _entities(spark, 40, "u-")
    est = kmv_estimate(kmv_sketch(df, "e", ["grp"], k=64), ["grp"], k=64)
    assert est.collect()[0]["d_est"] == 40.0


def test_estimate_within_bound(spark):
    """Relative error of the KMV estimator is ~1/sqrt(k-2) (Beyer et
    al. 2007): k=256 over 20k distincts -> sd ~6.3%; assert 4 sd."""
    n, k = 20_000, 256
    df = _entities(spark, n, "user-")
    est = kmv_estimate(kmv_sketch(df, "e", ["grp"], k=k), ["grp"], k=k)
    d = est.collect()[0]["d_est"]
    assert abs(d - n) / n < 4 / (k - 2) ** 0.5, d


def test_merge_closure(spark):
    """kmin_k(A ∪ B) == kmin_k(kmin_k(A) ∪ kmin_k(B)) — the mergeable
    -summaries property that makes sketch tiers composable."""
    a = _entities(spark, 5000, "x-")
    b = _entities(spark, 5000, "y-")
    k = 32
    direct = kmv_sketch(a.unionByName(b), "e", ["grp"], k=k)
    merged = kmv_merge(
        kmv_sketch(a, "e", ["grp"], k=k).unionByName(
            kmv_sketch(b, "e", ["grp"], k=k)
        ),
        ["grp"],
        k=k,
    )
    assert sorted(r.h for r in direct.collect()) == sorted(
        r.h for r in merged.collect()
    )


def test_determinism_under_repartition(spark):
    df = _entities(spark, 3000, "d-")
    s1 = kmv_sketch(df, "e", ["grp"], k=16).collect()
    s2 = kmv_sketch(df.repartition(13), "e", ["grp"], k=16).collect()
    assert sorted(r.h for r in s1) == sorted(r.h for r in s2)


def test_intersection_planted_overlap(spark):
    """A = 0..9999, B = 5000..14999 -> |A∩B| = 5000, J = 1/3. k=512
    -> sd ~4.4% on the union; intersection inherits it scaled."""
    k = 512
    a = spark.range(10_000).select(
        F.lit("g").alias("grp"), F.concat(F.lit("n-"), F.col("id")).alias("e")
    )
    b = spark.range(5_000, 15_000).select(
        F.lit("g").alias("grp"), F.concat(F.lit("n-"), F.col("id")).alias("e")
    )
    out = kmv_set_ops(
        kmv_sketch(a, "e", ["grp"], k=k),
        kmv_sketch(b, "e", ["grp"], k=k),
        ["grp"],
        k=k,
        names=("curr", "prev"),
    ).collect()[0]
    assert abs(out["d_union"] - 15_000) / 15_000 < 0.15
    assert abs(out["d_inter"] - 5_000) / 5_000 < 0.25
    assert abs(out["jaccard"] - 1 / 3) < 0.1
    assert out["d_curr_only"] >= 0.0


def test_set_ops_exact_when_small(spark):
    """Below k everything is exact: disjoint 20+30 with 10 shared."""
    a = _entities(spark, 20, "s-")
    b = spark.range(10, 40).select(
        F.lit("g").alias("grp"), F.concat(F.lit("s-"), F.col("id")).alias("e")
    )
    out = kmv_set_ops(
        kmv_sketch(a, "e", ["grp"], k=64),
        kmv_sketch(b, "e", ["grp"], k=64),
        ["grp"],
        k=64,
        names=("curr", "prev"),
    ).collect()[0]
    assert out["d_curr"] == 20.0 and out["d_prev"] == 30.0
    assert out["d_union"] == 40.0 and out["d_inter"] == 10.0
    assert out["d_curr_only"] == 10.0
    assert out["jaccard"] == pytest.approx(0.25)

