"""KMV (k-minimum-values) distinct sketch: the SET-ALGEBRA member of
the sketch family (HLL = distinct counts + union; KLL = quantiles;
MG = heavy hitters; KMV = intersection / difference / Jaccard across
cohorts — the ops HLL registers cannot express).

Sketch = the k lexicographically-smallest distinct md5(entity) per
group (functions/kmvsql.py; Bar-Yossef et al. 2002, Beyer et al. 2007,
public). Deterministic — a pure function of the entity set — and
mergeable: kmin_k(A ∪ B) = kmin_k(kmin_k(A) ∪ kmin_k(B)), so sketch
tiers compose across periods without rescanning raw (the 100 TB value:
store k rows per bucket, answer "returning users", "churn", "overlap
between any two periods" later from sketches alone).

Build = merge of singleton sketches (one md5 per row), so build and
tier merge are one code path.  Its cost: one distinct (map-side-
combined — the shuffle carries one row per distinct (group, entity),
exactly like exact COUNT DISTINCT)
plus a per-group sort-based top-k window (spillable, skew-safe). The
build is NOT cheaper than one exact distinct — the win is downstream
reuse and cross-period algebra on k-row summaries.

Reference parity: the reference engine has no sketch surface; this is
engine-added like operators/hll.py, kll.py, mg.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ts_raster_spark.functions import kmvsql as K


def kmv_sketch(
    df: DataFrame, entity: str, keys: list[str], k: int = 64
) -> DataFrame:
    """k smallest distinct entity hashes per key group: the merge of
    each row's singleton sketch {md5(entity)}.

    Output: (*keys, h) — at most k rows per group, lexicographically
    the smallest md5 hex strings. Deterministic across partitionings.
    """
    return kmv_merge(
        df.select(*keys, F.expr(K.md5_expr(entity)).alias("h")), keys, k
    )


def kmv_merge(sketches: DataFrame, keys: list[str], k: int = 64) -> DataFrame:
    """Re-minimize a union of sketch rows (tier merge / cohort union):
    k smallest distinct h per group. Input rows are (*keys, h)."""
    d = sketches.select(*keys, "h").distinct()
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .drop("rnk")
    )


def kmv_estimate(
    sketch: DataFrame, keys: list[str], k: int = 64, out: str = "d_est"
) -> DataFrame:
    """Distinct-count estimate per group: exact below k, (k-1)/v_k at
    or above (engine-neutral expression — same SQL text as the DuckDB
    twin)."""
    agg = sketch.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max(F.expr(K.fraction_expr("h"))).alias("v_max"),
    )
    return agg.select(
        *keys,
        F.expr(K.distinct_est_expr("n_kept", "v_max", k)).alias(out),
    )


def kmv_set_ops(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    k: int = 64,
    names: tuple[str, str] = ("a", "b"),
) -> DataFrame:
    """Per-group set algebra between two sketches built with the same
    k: distinct estimates for each side, their union, intersection,
    difference (a minus b), and Jaccard.

    Method (Beyer et al. 2007): K = k smallest of the merged sketch
    rows; membership of x ∈ K in side s is x ∈ sketch_s (exact for
    K's elements — see kmvsql docstring); intersection scales the
    hit fraction by the union estimate. All downstream numbers are
    deterministic functions of the two entity sets.
    """
    na, nb = names
    fa = (
        a.select(*keys, "h")
        .withColumn("in_a", F.lit(1))
        .withColumn("in_b", F.lit(0))
    )
    fb = (
        b.select(*keys, "h")
        .withColumn("in_a", F.lit(0))
        .withColumn("in_b", F.lit(1))
    )
    merged = (
        fa.unionByName(fb)
        .groupBy(*keys, "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy(*keys).orderBy("h")
    top = merged.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= k
    )
    agg = top.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max(F.expr(K.fraction_expr("h"))).alias("v_max"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
    )
    d_union = K.distinct_est_expr("n_kept", "v_max", k)
    d_inter = K.scaled_est_expr("n_both", "n_kept", d_union)
    ests = agg.select(
        *keys,
        F.expr(d_union).alias("d_union"),
        F.expr(d_inter).alias("d_inter"),
    )
    ea = kmv_estimate(a, keys, k, out=f"d_{na}")
    eb = kmv_estimate(b, keys, k, out=f"d_{nb}")
    out = (
        ests.join(ea, keys, "left")
        .join(eb, keys, "left")
        .fillna({f"d_{na}": 0.0, f"d_{nb}": 0.0})
    )
    return out.select(
        *keys,
        f"d_{na}",
        f"d_{nb}",
        "d_union",
        "d_inter",
        F.greatest(
            F.lit(0.0), F.col(f"d_{na}") - F.col("d_inter")
        ).alias(f"d_{na}_only"),
        (F.col("d_inter") / F.col("d_union")).alias("jaccard"),
    )
