"""Seasonal-profile baseline + residual scoring for tier series.

Reference parity: ts-raster's period handling stops at labelling
(set_df_mindex/path_to_var period columns); this adds the monitoring
layer built on top of tier rollups — a climatology baseline (mean /
sigma of the value at the same hour-of-day or day-of-week across the
whole series) and the residual z-score against it, the standard way to
flag "unusual for 3 AM" rather than "unusual overall".

Spark-first: the profile is a window aggregate partitioned by the
period key (24 or 7 groups), so the plan is one exchange + one window
over an already-aggregated tier table — at 100 TB the input here is
the hourly tier (~1/3600 of raw), and the tiny period-key fan-in is a
single AQE-coalesced stage.  Zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def period_key(ts_col: str, period: str) -> F.Column:
    """hod: hour-of-day 0-23.  dow: day-of-week 0=Sunday..6 (Spark's
    dayofweek is 1=Sunday; the -1 shift matches DuckDB/Postgres
    ``extract(dow ...)`` so oracles mirror it verbatim)."""
    if period == "hod":
        return F.hour(ts_col)
    if period == "dow":
        return F.dayofweek(ts_col) - F.lit(1)
    raise ValueError(f"unknown period {period!r} (want 'hod' or 'dow')")


def seasonal_baseline(df: DataFrame, value_col: str = "n_turns", period: str = "hod") -> DataFrame:
    """Attach the seasonal profile and residual z-score to each row of a
    ``bucket_start``-keyed series.

    Output adds: ``pkey`` (the period key), ``season_mean`` /
    ``season_sig`` (profile across all rows sharing the key, population
    sigma), ``resid`` (value - mean) and ``resid_z`` (null when the
    profile is degenerate, sigma == 0).
    """
    pk = period_key("bucket_start", period).alias("pkey")
    base = df.select(*df.columns, pk)
    w = Window.partitionBy(F.col("pkey"))
    x = F.col(value_col).cast("double")
    mean = F.avg(x).over(w)
    sig = F.stddev_pop(x).over(w)
    return (
        base.withColumn("season_mean", mean)
        .withColumn("season_sig", sig)
        .withColumn("resid", x - F.col("season_mean"))
        .withColumn(
            "resid_z",
            F.when(F.col("season_sig") > 0, F.col("resid") / F.col("season_sig")),
        )
    )


def classical_decompose(df: DataFrame, value_col: str = "n_turns") -> DataFrame:
    """Classical additive decomposition of a ``bucket_start``-keyed
    series: value = trend + seasonal + resid.

    trend    = centered moving average over 25 buckets (12 either side;
               partial at series edges — both engines average the
               available frame, so the twin mirrors exactly);
    seasonal = per-hour-of-day mean of the detrended series, centered by
               the row-weighted grand mean so components sum back to
               the input (on balanced panels this equals the textbook
               distinct-key centering);
    resid    = value - trend - seasonal.

    Designed for one corpus-level TIER series (hundreds-thousands of
    buckets): the moving average runs in a single window partition.
    """
    pk = period_key("bucket_start", "hod").alias("pkey")
    base = df.select(*df.columns, pk)
    x = F.col(value_col).cast("double")
    w_ma = Window.orderBy("bucket_start").rowsBetween(-12, 12)
    d = base.withColumn("trend", F.avg(x).over(w_ma)).withColumn(
        "_detr", x - F.col("trend")
    )
    w_pk = Window.partitionBy(F.col("pkey"))
    w_all = Window.partitionBy()
    d = d.withColumn(
        "seasonal",
        F.avg("_detr").over(w_pk) - F.avg("_detr").over(w_all),
    )
    return d.withColumn(
        "resid", x - F.col("trend") - F.col("seasonal")
    ).drop("_detr")
