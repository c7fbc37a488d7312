"""Pairwise series correlation over an aligned long tier table.

Reference parity: ts-raster's checkRelevance (model.py) scores each
feature against ONE target; this generalizes to the all-pairs Pearson
matrix over co-observed time buckets — "which tools' hourly activity
moves together" — the cross-series counterpart of the per-series
feature calculators.

Spark-first / 100 TB: the input is an already-rolled-up long table
(time bucket, series key, value), so rows = buckets x series, tiny
relative to raw.  Alignment is a self-equi-join on the time bucket
(hash shuffle on the bucket, never a cartesian) and the pair fan-out
per bucket is C(s, 2) for the s series present in that bucket — for
wide series spaces, bound s first by composing with the Misra-Gries
top-k operator (operators/mg.py) so the join output stays k^2 per
bucket.  The final groupBy(pair) reduces with partial aggregation
(corr's co-moments are map-side combinable), so the wire carries one
co-moment tuple per pair per map partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pairwise_corr(
    df: DataFrame,
    time_col: str,
    series_col: str,
    value_col: str,
) -> DataFrame:
    """Pearson correlation for every unordered series pair.

    Pairs are aligned on buckets where BOTH series are present (inner
    join — absent means not-observed, not zero; pre-gapfill with the
    gapfill operator for dense-zero semantics).  Returns one row per
    pair ``series_a < series_b``: ``corr`` (sample Pearson, null when a
    side is constant), ``n_buckets`` co-observed.  Pairs co-observed in
    fewer than 2 buckets are dropped (corr undefined / meaningless).
    """
    a = df.select(
        F.col(time_col).alias("_t"),
        F.col(series_col).alias("series_a"),
        F.col(value_col).cast("double").alias("_va"),
    )
    b = df.select(
        F.col(time_col).alias("_t"),
        F.col(series_col).alias("series_b"),
        F.col(value_col).cast("double").alias("_vb"),
    )
    # Pearson from explicit raw moments rather than F.corr: (a) Spark 4
    # ANSI mode raises DIVIDE_BY_ZERO inside corr() when one side is
    # constant, where the contract wants NULL; (b) the engines'
    # incremental co-moment updates differ in rounding, while plain
    # sums are exact for integer-valued inputs, so the twin replays
    # bit-stably. All five sums are map-side combinable.
    agg = (
        a.join(b, "_t")
        .where(F.col("series_a") < F.col("series_b"))
        .groupBy("series_a", "series_b")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("_va").alias("_sa"),
            F.sum("_vb").alias("_sb"),
            F.sum(F.col("_va") * F.col("_vb")).alias("_sab"),
            F.sum(F.col("_va") * F.col("_va")).alias("_saa"),
            F.sum(F.col("_vb") * F.col("_vb")).alias("_sbb"),
        )
        .where(F.col("n_buckets") >= 2)
    )
    n = F.col("n_buckets").cast("double")
    cov = n * F.col("_sab") - F.col("_sa") * F.col("_sb")
    va = n * F.col("_saa") - F.col("_sa") * F.col("_sa")
    vb = n * F.col("_sbb") - F.col("_sb") * F.col("_sb")
    return agg.select(
        "series_a",
        "series_b",
        F.when((va > 0) & (vb > 0), cov / F.sqrt(va * vb)).alias("corr"),
        "n_buckets",
    )


def cross_corr_lags(
    df: DataFrame,
    time_col: str,
    series_col: str,
    value_col: str,
) -> DataFrame:
    """Lead-lag cross-correlation: Pearson(A_t, B_{t + lag*step}) for
    every unordered pair and every lag in -2..2, step = 1 hour — "does
    search activity lead browser activity by an hour".  lag > 0 means
    series_a LEADS series_b by that many steps; negative lags cover the
    reverse, so ``series_a < series_b`` with the symmetric lag set spans
    all ordered relationships.  Pairs co-observed at a lag in fewer
    than 2 buckets are dropped, as in :func:`pairwise_corr`.

    Scale shape: the lag set explodes onto the (tiny, post-rollup)
    left side, alignment stays an EQUI-join on the shifted epoch key
    (Catalyst hashes the ``_ta + lag*step`` expression — never a
    cartesian), and the reduction is the same map-side-combinable
    raw-moment sums as :func:`pairwise_corr`.
    """
    from ts_raster_spark.operators.longform import epoch_seconds

    a = df.select(
        epoch_seconds(F.col(time_col)).alias("_ta"),
        F.col(series_col).alias("series_a"),
        F.col(value_col).cast("double").alias("_va"),
    ).withColumn("lag", F.explode(F.array(*[F.lit(k) for k in (-2, -1, 0, 1, 2)])))
    b = df.select(
        epoch_seconds(F.col(time_col)).alias("_tb"),
        F.col(series_col).alias("series_b"),
        F.col(value_col).cast("double").alias("_vb"),
    )
    agg = (
        a.join(
            b,
            (F.col("_tb") == F.col("_ta") + F.col("lag") * F.lit(3600.0))
            & (F.col("series_a") < F.col("series_b")),
        )
        .groupBy("series_a", "series_b", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("_va").alias("_sa"),
            F.sum("_vb").alias("_sb"),
            F.sum(F.col("_va") * F.col("_vb")).alias("_sab"),
            F.sum(F.col("_va") * F.col("_va")).alias("_saa"),
            F.sum(F.col("_vb") * F.col("_vb")).alias("_sbb"),
        )
        .where(F.col("n_buckets") >= 2)
    )
    n = F.col("n_buckets").cast("double")
    cov = n * F.col("_sab") - F.col("_sa") * F.col("_sb")
    va = n * F.col("_saa") - F.col("_sa") * F.col("_sa")
    vb = n * F.col("_sbb") - F.col("_sb") * F.col("_sb")
    return agg.select(
        "series_a",
        "series_b",
        "lag",
        F.when((va > 0) & (vb > 0), cov / F.sqrt(va * vb)).alias("corr"),
        "n_buckets",
    )
