"""HyperLogLog distinct-count rollups with a mergeable tier cascade.

The distinct-counting twin of the histogram-sketch quantile cascade
(operators/sketch.py): exact COUNT(DISTINCT entity) per bucket shuffles
every distinct (bucket, entity) pair — at 100 TB that is the dominant
shuffle of a "unique users per hour" rollup. The HLL register table
caps it at 2^P = 256 narrow rows per bucket, and registers merge across
tiers (minute → hour → day) and partitions with MAX, so coarser tiers
never rescan raw data — the same sufficient-statistics discipline as
cascade.py, in REGISTER space.

Engine parity: the register computation (md5 → 32-bit h → bucket/rho)
is built from SQL text shared verbatim with the DuckDB oracle
(functions/hllsql.py), so the sketch is deterministic and
cross-engine reproducible — unlike Spark's built-in
``approx_count_distinct`` whose HLL++ register hashing is JVM-private
(that built-in remains the right choice when no oracle twin is needed).

Reference scope note: ts-raster has no distinct-count surface; this is
an engine addition for the training-pipeline/rollup tier (task brief),
same family as retention/late-data/sketch-quantiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.functions import hllsql as H
from ts_raster_spark.functions.norm import r4


def hll_registers(df: DataFrame, entity: str, keys: list[str]) -> DataFrame:
    """Sparse HLL register table: one row per (*keys, bucket) with the
    max rho observed. |rows| ≤ 2^P per key group regardless of input
    size; map-side partial MAX keeps the shuffle tiny."""
    # md5 once, 32-bit hash once, THEN bucket/rho — each withColumn
    # stage references the previous column so nothing is recomputed
    return (
        df.withColumn("_hll_md5", F.expr(H.md5_expr(entity)))
        .withColumn("_hll_h32", F.expr(H.hash32_expr("_hll_md5")))
        .withColumn("_hll_bucket", F.expr(H.bucket_expr("_hll_h32")))
        .withColumn("_hll_rho", F.expr(H.rho_expr(H.w_expr("_hll_h32"))))
        .groupBy(*keys, "_hll_bucket")
        .agg(F.max("_hll_rho").cast("int").alias("register"))
        .withColumnRenamed("_hll_bucket", "bucket")
    )


def hll_merge(registers: DataFrame, keys: list[str]) -> DataFrame:
    """Merge registers to a coarser key set (e.g. minute → hour): MAX
    per (*keys, bucket). Exactly the algebra a 1000-executor cluster
    uses to combine per-partition sketches."""
    return (
        registers.groupBy(*keys, "bucket")
        .agg(F.max("register").cast("int").alias("register"))
    )


def hll_estimate(registers: DataFrame, keys: list[str], out_col: str = "hll_estimate") -> DataFrame:
    """Cardinality estimate per key group from its sparse registers."""
    agg = registers.groupBy(*keys).agg(
        F.count("*").alias("_n_present"),
        F.sum(F.pow(F.lit(0.5), F.col("register"))).alias("_sum_inv"),
    )
    est = F.expr(H.estimate_expr("_n_present", "_sum_inv"))
    return agg.select(*keys, r4(est).alias(out_col))


def hll_distinct_over_tiers(turns: DataFrame, entity: str = "conv_id") -> DataFrame:
    """Per-hour distinct count three ways: exact, HLL direct from raw,
    and HLL merged up from the minute tier's register table. Direct and
    merged are equal BY ALGEBRA (max is associative); emitting both lets
    the correctness gate attest the merge path against an oracle that
    computes the register math once.

    Output: (bucket_start, n_exact, hll_estimate, hll_from_fine).
    """
    coarse_b = F.date_trunc("hour", F.col("ts")).alias("bucket_start")
    exact = turns.select(coarse_b, entity).groupBy("bucket_start").agg(
        F.countDistinct(entity).cast("long").alias("n_exact")
    )
    fine_regs = hll_registers(
        turns.select(
            F.date_trunc("minute", F.col("ts")).alias("fine_bucket"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
            entity,
        ),
        entity,
        ["fine_bucket", "bucket_start"],
    )
    # The direct coarse register table IS the max-merge of the fine one
    # (max over (fine, coarse, bucket) then over coarse == max over
    # coarse — associativity), so one md5/register pass serves both
    # columns instead of a second scan and hash of raw for the direct one.
    # The DuckDB twin still computes the register math independently, so
    # the cross-engine attestation is unchanged.
    merged = hll_estimate(hll_merge(fine_regs, ["bucket_start"]), ["bucket_start"])
    # both output columns are the same value by the algebra above, so
    # compute the estimate once and alias it — planning two identical
    # estimate subtrees would cost an extra aggregation pass
    return (
        exact.join(merged, "bucket_start")
        .withColumn("hll_from_fine", F.col("hll_estimate"))
    )
