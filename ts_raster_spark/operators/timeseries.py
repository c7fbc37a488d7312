"""Timeseries-engine operators beyond the tsfresh dictionary: the
counter/gauge/state/heartbeat algebra a production rollup engine ships
(the TimescaleDB-toolkit surface re-expressed in Catalyst), over the
conversation-as-series model (conv_id keyed, (turn_idx, ts) ordered).

All four operators are window + groupBy compositions on ONE hash
partitioning (conv_id) — the lag/lead windows partition by conv_id and
the rollup groupBy keys start with conv_id, so Spark reuses the exchange
(subset rule; plan-asserted in tests).  At 100 TB the shapes hold: no
self-joins, no collects, per-conversation state never materializes more
than a row's lag.

Reference anchor: the reference has no counter/state algebra (it is a
batch feature extractor, tsraster/calculate.py); these are engine
additions required by the north-star rollup/retention surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts_raster_spark.operators.kernels import map_sorted_runs
from ts_raster_spark.operators.longform import epoch_seconds

ORDER = ("turn_idx", "ts")


def _wo(*keys: str):
    return Window.partitionBy(*keys).orderBy(*[F.col(c) for c in ORDER])


def ohlc(df: DataFrame) -> DataFrame:
    """Open/high/low/close of ``value`` per (conv_id, hour bucket): the
    canonical gauge downsample.  open/close via min_by/max_by on
    turn_idx (unique within a conversation) — one pure hash aggregate,
    no window needed."""
    b = F.date_trunc("hour", F.col("ts")).alias("bucket_start")
    v = F.col("value")
    return df.groupBy("conv_id", b).agg(
        F.expr("min_by(value, turn_idx)").alias("open"),
        F.max(v).alias("high"),
        F.min(v).alias("low"),
        F.expr("max_by(value, turn_idx)").alias("close"),
        F.count(v).cast("long").alias("n_points"),
    )


def with_synthetic_counter(df: DataFrame, modulus: int = 50_000) -> DataFrame:
    """Deterministic monotonic-counter-with-resets fixture: cumulative
    text length per conversation, wrapped at ``modulus`` (the wrap is the
    documented stand-in for real counter resets — process restarts,
    uint32 wraps).  Pure window cumsum, no shuffle beyond conv_id."""
    cum = F.sum(F.length("text")).over(
        _wo("conv_id").rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn("counter", (cum % modulus).cast("double"))


def counter_rollup(df: DataFrame) -> DataFrame:
    """TimescaleDB ``counter_agg`` semantics of ``counter`` per (conv_id,
    hour bucket):

    - ``increase``: sum over consecutive same-bucket pairs of
      (v - prev) when v >= prev else v (a reset contributes the new
      post-reset reading);
    - ``num_resets``: count of same-bucket pairs with v < prev;
    - ``rate_per_s``: increase / (last_ts - first_ts) within the bucket,
      NULL for single-point buckets.

    Only in-bucket pairs count (the bucket boundary is a hard cut, as in
    counter_agg over time_bucket).  prev comes from ONE lag window on
    conv_id; bucket membership of the pair is decided by comparing the
    two rows' bucket labels — no join.
    """
    v = F.col("counter")
    w = _wo("conv_id")
    b = F.date_trunc("hour", F.col("ts"))
    d = (
        df.withColumn("_bucket", b)
        .withColumn("_prev", F.lag(v).over(w))
        .withColumn("_prev_bucket", F.lag(b).over(w))
        .withColumn("_eps", epoch_seconds(F.col("ts")))
    )
    same = F.col("_prev").isNotNull() & (F.col("_prev_bucket") == F.col("_bucket"))
    delta = F.when(same & (v >= F.col("_prev")), v - F.col("_prev")).when(same, v)
    span = F.max("_eps") - F.min("_eps")
    out = d.groupBy("conv_id", F.col("_bucket").alias("bucket_start")).agg(
        F.coalesce(F.sum(delta), F.lit(0.0)).alias("increase"),
        F.sum((same & (v < F.col("_prev"))).cast("long")).alias("num_resets"),
        F.expr("min_by(counter, turn_idx)").alias("first_reading"),
        F.expr("max_by(counter, turn_idx)").alias("last_reading"),
        (F.coalesce(F.sum(delta), F.lit(0.0)) / F.when(span > 0, span)).alias("rate_per_s"),
        F.count("*").cast("long").alias("n_points"),
    )
    return out


def state_durations(df: DataFrame) -> DataFrame:
    """Time-in-state per (conv_id, state = role): each turn holds its state
    until the next turn's timestamp (the last turn holds for 0 s —
    no information past the series end).  TimescaleDB ``state_agg``
    analog.  One lead window on conv_id, one groupBy starting with
    conv_id — shared partitioning."""
    eps = epoch_seconds(F.col("ts"))
    nxt = F.lead(eps).over(_wo("conv_id"))
    d = df.withColumn("_dur", F.coalesce(nxt - eps, F.lit(0.0)))
    return d.groupBy("conv_id", F.col("role").alias("state")).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum("_dur").alias("total_s"),
        F.max("_dur").alias("longest_s"),
    )


def heartbeat_uptime(df: DataFrame) -> DataFrame:
    """Liveness from heartbeats (every turn is a heartbeat): the
    conversation is "live" for tol = 60 s after each turn, so
    uptime = sum(min(gap, tol)) over consecutive pairs + tol for the
    trailing beat; covered span = last - first + tol.  TimescaleDB
    ``heartbeat_agg`` analog (live_time / dead_time / interpolated
    coverage)."""
    eps = epoch_seconds(F.col("ts"))
    gap = eps - F.lag(eps).over(_wo("conv_id"))
    d = df.withColumn("_gap", gap).withColumn("_eps", eps)
    tol = F.lit(60.0)
    # least() SKIPS nulls (least(NULL, tol) == tol), so the first beat's
    # NULL gap must be masked out explicitly or every conversation gains
    # a phantom tolerance window
    live = F.when(F.col("_gap").isNotNull(), F.least(F.col("_gap"), tol))
    return d.groupBy("conv_id").agg(
        (F.coalesce(F.sum(live), F.lit(0.0)) + tol).alias("uptime_s"),
        # when(...).otherwise(0), not a bare cast: a single-beat group has
        # only a NULL gap, and sum(NULL-only) is NULL while the oracle's
        # CASE..ELSE 0 yields 0
        F.sum(F.when(F.col("_gap") > tol, 1).otherwise(0)).cast("long").alias("n_gaps"),
        (F.max("_eps") - F.min("_eps") + tol).alias("span_s"),
        (
            (F.coalesce(F.sum(live), F.lit(0.0)) + tol)
            / (F.max("_eps") - F.min("_eps") + tol)
        ).alias("uptime_ratio"),
        F.count("*").cast("long").alias("n_beats"),
    )


def ema(
    df: DataFrame,
    alpha: float = 0.3,
    max_closed_form_n: int = 1000,
) -> DataFrame:
    """Exponential moving average of ``value`` per conversation, added as
    ``ema`` (pandas ``ewm(alpha).mean()``, adjust=True semantics).  Two physical paths, routed per GROUP by
    series length so the result is always finite:

    - groups with ≤ ``max_closed_form_n`` rows (the overwhelming
      majority at any scale): a CLOSED-FORM window expression — no
      Python, no recursion:

          ema_t = num_t / den_t
          num_t = (1-a)^t * cumsum_i<=t( x_i * (1-a)^(-i) )
          den_t = (1 - (1-a)^(t+1)) / a          (geometric series)

      The rescaled cumsum keeps the whole computation inside ONE
      ordered window over the existing conv_id partitioning.  Numeric
      range bounds the path: the rescale term (1-a)^(-i) grows as
      e^(i*ln(1/(1-a))) and overflows float64 (ln(DBL_MAX) ~ 709.8)
      near i ~ 1900 for a=0.3 but already near i ~ 960 for a=0.52 —
      LARGER alphas overflow sooner.  The effective threshold is
      therefore derived from alpha at call time:
      min(max_closed_form_n, floor(700 / ln(1/(1-a)))), so the closed
      form is overflow-safe for ANY alpha regardless of the caller's
      ``max_closed_form_n`` (which acts as an upper cap, not the bound
      itself).

    - longer groups (mega-conversations): an O(n) streaming pandas-ewm
      kernel over sorted key runs (operators/kernels.map_sorted_runs) —
      Arrow-batched, one Python call per partition, exact
      ``ewm(alpha, adjust=True).mean()`` semantics, finite for any
      length.

    Routing is a broadcast semi/anti join on the mega-group KEYS, not a
    count window: the per-key counts aggregate map-side-combines to one
    tiny shuffle, the >threshold key set (rare by construction — these
    are the outlier conversations) broadcasts, and only the short
    branch re-shuffles the bulk of the data for its ordered window.  A
    count-window route would shuffle the FULL input once per branch.
    The mega-key set is resolved EAGERLY (it is tiny by construction —
    it broadcasts anyway): when it is empty, the function returns the
    pure closed-form plan with NO join and NO kernel stage, so the
    common case plans/scans the upstream once instead of three times
    and never schedules an empty MapInPandas; when non-empty,
    the collected keys become a local relation so neither branch's plan
    re-embeds the counting subplan.
    DuckDB twin runs the identical closed-form arithmetic in the
    identical order (gate conversations are far below the threshold),
    so the normalization contract hashes equal.
    """
    import math

    a = float(alpha)
    klist = ["conv_id"]
    # overflow-safe closed-form length: (1-a)^(-t) < e^700 < DBL_MAX
    if a >= 1.0 - 1e-12:
        safe_n = 1
    else:
        safe_n = max(1, int(700.0 / -math.log1p(-a)))
    threshold = min(int(max_closed_form_n), safe_n)
    mega_rows = (
        df.groupBy(*klist)
        .agg(F.count("*").alias("_gn"))
        .where(F.col("_gn") > threshold)
        .select(*klist)
        .collect()
    )
    # short path: closed form, pure Catalyst
    w = _wo("conv_id")
    t = (F.row_number().over(w) - 1).cast("double")
    scaled = F.col("value") * F.pow(F.lit(1.0 - a), -t)
    csum = F.sum(scaled).over(w.rowsBetween(Window.unboundedPreceding, 0))
    num = csum * F.pow(F.lit(1.0 - a), t)
    den = (1.0 - F.pow(F.lit(1.0 - a), t + 1.0)) / a
    if not mega_rows:
        # common case: every group fits the closed form — one scan, one
        # ordered window, zero joins, zero Python
        return df.withColumn("ema", num / den)
    mega_keys = df.sparkSession.createDataFrame(mega_rows, schema=df.select(*klist).schema)
    short = df.join(F.broadcast(mega_keys), klist, "left_anti").withColumn("ema", num / den)
    # long path: streaming pandas ewm kernel (adjust=True recursion:
    # num_t = x_t + (1-a)*num_{t-1}; den_t = 1 + (1-a)*den_{t-1})
    import pandas as pd  # noqa: F401  (baked in; Arrow batch transfer)
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(list(df.schema.fields) + [StructField("ema", DoubleType())])
    order_cols = [c for c in ORDER if c in df.columns] or klist
    in_cols = list(df.columns)

    def _ewm_kernel(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        pdf = pdf[in_cols].copy()
        pdf["ema"] = pdf["value"].ewm(alpha=a, adjust=True).mean()
        return pdf

    long_rows = df.join(F.broadcast(mega_keys), klist, "left_semi")
    long_out = map_sorted_runs(long_rows, klist, order_cols, _ewm_kernel, out_schema)
    return short.unionByName(long_out)
