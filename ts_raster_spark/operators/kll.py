"""Deterministic KLL-style mergeable rank sketch: cascading quantiles
with bounded RANK error.

The histogram sketch (operators/sketch.py) bounds VALUE error by one
bin width — weak on skewed distributions where one bin spans decades of
mass. The standard engine answer is a rank-error sketch (KLL / t-digest
in Druid, TimescaleDB, DataSketches). Randomized KLL compaction is not
cross-engine/cross-host reproducible, so this module ships the
DETERMINISTIC multi-level variant (Munro–Paterson-style compaction,
the pre-randomization ancestor of KLL [Karnin-Lang-Liberty 2016]):

- a sketch is a set of (level, value) items; an item at level ``l``
  represents ``2^l`` raw values;
- when a level holds more than ``k`` items, the level is sorted and the
  EVEN-index survivors are promoted to level ``l+1`` (one survivor per
  adjacent pair, weight doubled) — deterministic, so two hosts always
  build bit-identical sketches;
- each compaction at level ``l`` shifts any rank by at most ``2^l``;
  with geometric level sizes the worst-case rank error is
  O(n·log(n/k)/k) — pytest-asserted against that closed bound on
  skewed (lognormal / zipf-like) data;
- merge = concatenate per-level items, re-compact: hour sketches build
  from minute sketches without rescanning raw data, exactly like the
  algebraic cascade;
- total weight is conserved exactly (odd leftovers stay at their
  level), so counts stay exact through any cascade depth.

Spark shape: a build is a merge of singleton level-0 items, so build
and merge share one path: ``collect_list`` per group, a native explode
for groups of ≤ k items (nothing to compact), and a scalar
``pandas_udf`` running ``_compact`` over the gathered arrays of larger
groups (compaction is inherently iterative).  The sketch is stored
EXPLODED as narrow (keys, level, value) rows — ≤ k·log₂(n/k) rows per
group — and querying quantiles from it is pure window SQL (sort by
value, cumulative weight walk), same discipline as the histogram
sketch.

Reference scope note: ts-raster has no sketch surface; engine addition
for the retention/rollup tier (same family as sketch.py / hll.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts_raster_spark.operators.rollup import bucketize


def _compact(levels: list[np.ndarray], k: int) -> list[np.ndarray]:
    """Deterministic compaction sweep: any level over capacity promotes
    its even-index survivors (of the sorted, even-length prefix) one
    level up; odd leftovers stay. Runs until every level fits."""
    l = 0
    while l < len(levels):
        arr = levels[l]
        if len(arr) <= k:
            l += 1
            continue
        arr = np.sort(arr, kind="stable")
        m = len(arr) - (len(arr) % 2)
        promoted = arr[:m][0::2]
        levels[l] = arr[m:]  # the odd leftover (0 or 1 item)
        if l + 1 == len(levels):
            levels.append(np.empty(0, dtype=np.float64))
        levels[l + 1] = np.concatenate([levels[l + 1], promoted])
        l += 1  # leftover is <= 1 item, always within capacity
    return levels


def _recompact(items: DataFrame, keys: list[str], k: int) -> DataFrame:
    """Compact (keys…, level, value) items into one sketch per group.

    One aggregate gathers each group's items.  A group of ≤ k items
    cannot overflow a level, so it IS its sketch and leaves through a
    native explode — at fine tiers that is almost every bucket, so the
    common case never crosses into Python.  Larger groups go through
    the ``_compact`` kernel, which returns a group unchanged when no
    single level is over capacity.  Both branches read the same
    aggregation (the exchange is reused)."""
    from pyspark.sql.functions import pandas_udf

    g = items.groupBy(*keys).agg(
        F.collect_list(
            F.struct(
                F.col("level").cast("int").alias("level"),
                F.col("value").cast("double").alias("value"),
            )
        ).alias("_its")
    )

    @pandas_udf("array<struct<level:int,value:double>>")
    def _kernel(its: pd.Series) -> pd.Series:
        out = []
        for group in its:
            n = len(group)
            lv = np.fromiter((it["level"] for it in group), dtype=np.int64, count=n)
            if np.bincount(lv).max() <= k:
                out.append(list(group))
                continue
            vals = np.fromiter((it["value"] for it in group), dtype=np.float64, count=n)
            levels = _compact([vals[lv == l] for l in range(int(lv.max()) + 1)], k)
            out.append(
                [{"level": l, "value": float(x)} for l, a in enumerate(levels) for x in a]
            )
        return pd.Series(out)

    small = g.where(F.size("_its") <= k).select(*keys, F.explode("_its").alias("_it"))
    big = g.where(F.size("_its") > k).select(*keys, F.explode(_kernel("_its")).alias("_it"))
    return small.unionByName(big).select(
        *keys, F.col("_it.level").alias("level"), F.col("_it.value").alias("value")
    )


def kll_sketch(long_df: DataFrame, tier: str | None, k: int = 64) -> DataFrame:
    """Build the sketch per (conv_id, kind[, bucket_start]): one output
    row per retained (level, value) item — ≤ k·log₂(n/k)+k rows per
    group.  A raw value is a level-0 item, so the build is the merge of
    singleton sketches (``_recompact``).  NULL values are not items.

    The aggregate shuffles bytes the downstream quantile/merge window
    would shuffle anyway (at fine grains the sketch IS the data), and
    it scans the upstream derivation once: routing light and heavy
    series through separate joins would re-plan and re-scan the derived
    long panel per branch."""
    df, out_keys = bucketize(long_df, tier)
    items = df.where(F.col("value").isNotNull()).select(
        *out_keys, F.lit(0).alias("level"), F.col("value")
    )
    return _recompact(items, out_keys, k)


def kll_merge(sketch: DataFrame, coarser_tier: str, k: int = 64) -> DataFrame:
    """Tier cascade: re-bucket ``bucket_start`` and re-compact the
    concatenated items per coarser group — reads ≤ k·log₂(n/k) rows
    per finer bucket instead of the raw data."""
    keys = [c for c in sketch.columns if c not in ("level", "value")]
    d = sketch.withColumn(
        "bucket_start", F.date_trunc(coarser_tier, F.col("bucket_start"))
    )
    return _recompact(d, keys, k)


def kll_quantiles(sketch: DataFrame) -> DataFrame:
    """Median and p95 estimates (``q50_kll``, ``q95_kll``) from a
    sketch — pure window SQL: items
    sorted by value, cumulative weight walk, first item whose cumulative
    weight reaches q·total (weight of a level-l item is 2^l). Ties on
    value break by level so the walk is a total order (deterministic
    across engines/hosts).  The conserved total weight (exactly the
    number of raw values the sketch summarizes — compaction never drops
    weight) is emitted under the neutral ``total_weight`` name; callers
    alias domain names (e.g. turn_count) at the query layer."""
    keys = [c for c in sketch.columns if c not in ("level", "value")]
    wgt = F.pow(F.lit(2.0), F.col("level"))
    w_cum = Window.partitionBy(*keys).orderBy("value", "level").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # total weight rides the cumulative window's sort (explicit unbounded
    # frame, same (partition, order) spec -> one Window operator, one
    # sort); the sum of 2^level weights is exact integer arithmetic in
    # double, so the value is order-independent
    w_all = Window.partitionBy(*keys).orderBy("value", "level").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d = (
        sketch.withColumn("_w", wgt)
        .withColumn("_cum", F.sum("_w").over(w_cum))
        .withColumn("_tot", F.sum("_w").over(w_all))
    )
    aggs = []
    for q in (0.5, 0.95):
        target = F.lit(float(q)) * F.col("_tot")
        hit = (F.col("_cum") - F.col("_w") < target) & (target <= F.col("_cum"))
        name = f"q{int(round(q * 100)):02d}_kll"
        aggs.append(F.min(F.when(hit, F.col("value"))).alias(name))
    aggs.append(F.max("_tot").cast("long").alias("total_weight"))
    return d.groupBy(*keys).agg(*aggs)
