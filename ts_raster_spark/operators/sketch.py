"""Mergeable histogram sketch: cascading quantiles across retention tiers.

The algebraic cascade (operators/cascade.py) re-aggregates count / sum /
sum² / min / max from finer tiers — but quantiles are not algebraic: the
hour-tier q95 cannot be computed from minute-tier exact quantiles. The
standard engine answer is a **mergeable sketch** (t-digest / KLL in
TimescaleDB/Druid); this module ships the deterministic variant — an
equal-width histogram over a per-kind global value range:

- merge = summing bin counts (exactly re-aggregable tier over tier,
  like the algebraic stats),
- quantile = cumulative-bin walk with within-bin linear interpolation,
- error ≤ one bin width by construction (pytest-asserted vs exact),
- fully deterministic → the DuckDB oracle reproduces it bit-for-bit
  (unlike randomized KLL, which would be rows-only at the gate).

Sketches are stored EXPLODED — one row per (keys, bin) — not as arrays:
bin rows aggregate with plain ``sum`` through any groupBy, so the merge
inherits Spark's partial aggregation and never builds per-group arrays
in memory. At 100 TB this is just another narrow tier table keyed like
every other rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts_raster_spark.operators.rollup import bucketize


def value_range(long_df: DataFrame) -> DataFrame:
    """Per-kind global (lo, hi) — the sketch's bin domain. One tiny
    aggregate, broadcast everywhere it is joined."""
    return long_df.groupBy("kind").agg(
        F.min("value").alias("_lo"), F.max("value").alias("_hi")
    )


def histogram_sketch(
    long_df: DataFrame, tier: str | None, rng: DataFrame, bins: int = 64
) -> DataFrame:
    """Equal-width histogram sketch per (conv_id, kind[, bucket_start]):
    one row per non-empty bin with its count. Values at hi land in the
    last bin; a constant kind (hi == lo) collapses to bin 0."""
    df, keys = bucketize(long_df, tier)
    df = df.join(F.broadcast(rng), "kind")
    width = (F.col("_hi") - F.col("_lo")) / bins
    bin_id = F.when(
        F.col("_hi") > F.col("_lo"),
        F.least(F.floor((F.col("value") - F.col("_lo")) / width), F.lit(bins - 1)),
    ).otherwise(F.lit(0))
    return (
        df.withColumn("bin", bin_id.cast("int"))
        .groupBy(*keys, "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )


def merge_sketch(sketch: DataFrame, coarser_tier: str) -> DataFrame:
    """Tier cascade for sketches: re-bucket bucket_start and SUM bin
    counts — the whole point of a mergeable sketch (hour sketch from
    minute sketch reads 1/60 of the rows, never the raw data)."""
    return (
        sketch.withColumn("bucket_start", F.date_trunc(coarser_tier, F.col("bucket_start")))
        .groupBy("conv_id", "kind", "bucket_start", "bin")
        .agg(F.sum("n").alias("n"))
    )


def sketch_quantiles(sketch: DataFrame, rng: DataFrame, bins: int = 64) -> DataFrame:
    """Approximate median and p95 (``q50_sketch``, ``q95_sketch``) from a
    histogram sketch.

    Deterministic rule (mirrored in the DuckDB oracle): with bins in
    ascending order, target = q·total; the selected bin is the first
    whose cumulative count reaches the target, and the estimate
    interpolates linearly inside it:
        est = lo + width · (bin + (target − cum_before) / n_bin)
    Error ≤ one bin width. Constant kinds return lo exactly.
    """
    keys = [c for c in ("conv_id", "kind", "bucket_start") if c in sketch.columns]
    w_cum = Window.partitionBy(*keys).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy(*keys)
    d = (
        sketch.join(F.broadcast(rng), "kind")
        .withColumn("_cum", F.sum("n").over(w_cum))
        .withColumn("_tot", F.sum("n").over(w_all))
    )
    width = (F.col("_hi") - F.col("_lo")) / bins
    aggs = []
    for q in (0.5, 0.95):
        target = F.lit(float(q)) * F.col("_tot")
        hit = (F.col("_cum") - F.col("n") < target) & (target <= F.col("_cum"))
        est = F.when(
            F.col("_hi") > F.col("_lo"),
            F.col("_lo")
            + width * (F.col("bin") + (target - (F.col("_cum") - F.col("n"))) / F.col("n")),
        ).otherwise(F.col("_lo"))
        name = f"q{int(round(q * 100)):02d}_sketch"
        aggs.append(F.min(F.when(hit, est)).alias(name))
    aggs.append(F.max("_tot").cast("long").alias("turn_count"))
    return d.groupBy(*keys).agg(*aggs)


def psi_drift(sketch: DataFrame, bins: int = 64) -> DataFrame:
    """Population Stability Index between consecutive buckets, straight
    from histogram-sketch bins — the distribution-shift monitor for
    training-data pipelines ("did yesterday's feature distribution move"),
    computed WITHOUT rescanning raw data.

        PSI = sum_bins (p_i - q_i) * ln(p_i / q_i)

    with Laplace smoothing ``p_i = (n_i + eps) / (N + eps*bins)`` so
    empty bins are defined (standard practice; eps=0.5 = Jeffreys).
    Common reading: <0.1 stable, 0.1-0.25 moderate, >0.25 major shift.

    Input is the exploded sketch (kind[, conv_id], bucket_start, bin, n);
    entity keys are summed out (PSI is a corpus-level monitor).  The
    per-(kind, bin) lag aligns each bucket with the previous OBSERVED
    bucket over a dense bin scaffold, so the whole operator is two
    windows + one explode over bin rows — |kinds| * |buckets| * bins
    rows total, trivially small next to raw at any scale, and entirely
    deterministic: the DuckDB twin replays it exactly.
    """
    g = sketch.groupBy("kind", "bucket_start", "bin").agg(F.sum("n").alias("n"))
    scaffold = (
        g.select("kind", "bucket_start")
        .distinct()
        .select(
            "kind",
            "bucket_start",
            F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin"),
        )
    )
    dense = scaffold.join(g, ["kind", "bucket_start", "bin"], "left").fillna({"n": 0})
    w_prev = Window.partitionBy("kind", "bin").orderBy("bucket_start")
    w_day = Window.partitionBy("kind", "bucket_start")
    d = (
        dense.withColumn("n_prev", F.lag("n").over(w_prev))
        .withColumn("_tot", F.sum("n").over(w_day))
        # sum() skips nulls: the first observed bucket (all n_prev null)
        # yields null _tot_prev and is dropped below
        .withColumn("_tot_prev", F.sum("n_prev").over(w_day))
        .where(F.col("_tot_prev").isNotNull())
    )
    e = F.lit(0.5)
    denom = e * bins
    p = (F.col("n") + e) / (F.col("_tot") + denom)
    q = (F.col("n_prev") + e) / (F.col("_tot_prev") + denom)
    term = (p - q) * F.log(p / q)
    return (
        d.withColumn("_term", term)
        .groupBy("kind", "bucket_start")
        .agg(
            F.sum("_term").alias("psi"),
            F.max("_tot").cast("long").alias("n_curr"),
            F.max("_tot_prev").cast("long").alias("n_prev"),
        )
    )
