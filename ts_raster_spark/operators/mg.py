"""Misra-Gries heavy-hitters sketch: mergeable top-k across tiers.

The frequent-items member of the engine's sketch family — quantiles
(operators/kll.py, operators/sketch.py), distinct counts
(operators/hll.py), and now heavy hitters.  Exact per-bucket top-k
(`top_tools_hour`) shuffles every (bucket, item) pair and keeps full
per-bucket item dictionaries; at 100 TB with a high-cardinality item
column (tools, URLs, n-grams) the dictionary IS the shuffle.  The
Misra-Gries summary caps state at ``k`` counters per bucket with the
classic guarantee: any item with true frequency > n/k is RETAINED, and
every retained counter undercounts its item by at most n/k
[Misra & Gries 1982; merge property per Agarwal et al. 2012, the
"mergeable summaries" paper].

Determinism: the textbook algorithm is stream-order dependent.  This
implementation processes items grouped-and-counted first (count-major,
then item ascending — a canonical order), making the summary a pure
function of the group's item MULTISET, bit-identical across hosts and
partitionings:

- within a bucket: count items exactly (small per-bucket dictionaries
  at kernel granularity), then fold items through the MG counter set
  in canonical order;
- merge (finer tier → coarser): sum counters per item, then apply the
  standard MG reduction (subtract the (k+1)-th largest merged weight,
  drop non-positive) — Agarwal et al.'s merge, which preserves the
  n/k error bound;
- the per-item undercount is bounded by the sketch's own ``err``
  column (the total weight subtracted so far), so the gate can verify
  the bound IN-QUERY against exact counts, like sketch_kll_hour.

Spark shape: build and merge are pure Catalyst (aggregates plus the
closed-form reduction as rank windows); only the capped path's
per-partition partials cross into Python (``mapInPandas``).  The
sketch is stored exploded as (keys, item, weight, err) rows, ≤ k per
bucket.

Reference scope note: ts-raster has no frequent-items surface; engine
addition for the rollup/training-pipeline tier (task brief family).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


MG_FIELDS = "item string, weight long, err long"


def _reduce_sql(counts: DataFrame, group_keys: list[str], k: int, carried_err=None) -> DataFrame:
    """The closed-form MG reduction as PURE window SQL (zero Python):
    rank counters by (weight desc, item asc); err = the (k+1)-th
    counter's weight (0 if fewer); survivors = rank ≤ k with
    weight - err > 0.  Groups whose counters all cancel emit a
    NULL-item sentinel so the err bound survives.  ``carried_err`` (a
    column on ``counts``, constant per group) adds error accumulated by
    earlier summaries (tier merge)."""
    from pyspark.sql.window import Window

    w_ord = Window.partitionBy(*group_keys).orderBy(
        F.col("weight").desc(), F.col("item").asc()
    )
    w_all = Window.partitionBy(*group_keys)
    carried = F.col(carried_err) if carried_err else F.lit(0).cast("long")
    d = (
        counts.withColumn("_rn", F.row_number().over(w_ord))
        .withColumn(
            "_err",
            F.max(F.when(F.col("_rn") == k + 1, F.col("weight")).otherwise(F.lit(0))).over(w_all),
        )
        # coalesce: a NULL-item carrier row (sentinel-only merge group,
        # weight NULL) must count as not-kept, not poison _n_keep
        .withColumn(
            "_keep",
            F.coalesce((F.col("_rn") <= k) & (F.col("weight") - F.col("_err") > 0), F.lit(False)),
        )
        .withColumn("_n_keep", F.sum(F.col("_keep").cast("int")).over(w_all))
    )
    # Survivors and the per-group sentinel are DISJOINT row sets of the
    # same windowed frame (_keep true implies _n_keep >= 1), so one
    # filter + conditional projection emits both without planning the
    # window subtree twice.  Rows with a NULL item/weight (a merge group
    # whose inputs were all sentinels) flow through as their group's
    # sentinel, so _merge_counters feeds its LEFT-joined frame in one go.
    is_sent = (F.col("_rn") == 1) & (F.col("_n_keep") == 0)
    return d.where(F.col("_keep") | is_sent).select(
        *group_keys,
        F.when(F.col("_keep"), F.col("item")).alias("item"),
        F.coalesce(
            F.when(F.col("_keep"), F.col("weight") - F.col("_err")), F.lit(0)
        ).cast("long").alias("weight"),
        (F.col("_err") + carried).cast("long").alias("err"),
    )


def mg_sketch(df: DataFrame, item_col: str, tier: str, k: int = 8) -> DataFrame:
    """Build the per-bucket MG summary: ≤ k rows per bucket_start, each
    (item, weight, err) with weight ≥ true_count - err and every item of
    true count > err retained.

    Pure Catalyst: exact per-(bucket, item) counts via a map-side-
    combined hash aggregate (the shuffle carries one row per distinct
    (bucket, item) pair per map partition — partial aggregation IS the
    per-partition summarization for skewed heavy-hitter data), then the
    closed-form reduction as rank windows on the aggregated dictionary.
    No Python anywhere; whole-stage codegen end to end."""
    d = df.withColumn("bucket_start", F.date_trunc(tier, F.col("ts"))).where(
        F.col(item_col).isNotNull()
    )
    out_keys = ["bucket_start"]
    counts = d.groupBy(*out_keys, F.col(item_col).alias("item")).agg(
        F.count("*").cast("long").alias("weight")
    )
    return _reduce_sql(counts, out_keys, k)


def mg_merge(sketch: DataFrame, coarser_tier: str, k: int = 8) -> DataFrame:
    """Tier cascade: re-bucket, SUM weights per item and errs per source
    bucket (plain aggregates — the shuffle moves ≤ k rows per finer
    bucket), then re-reduce with the same closed-form rank windows.
    Error bounds add (Agarwal et al. merge): err_out = Σ err_in +
    reduction subtraction, tracked exactly in the err column."""
    keys = [c for c in sketch.columns if c not in ("item", "weight", "err")]
    d = sketch.withColumn("_coarse", F.date_trunc(coarser_tier, F.col("bucket_start")))
    group_keys = [c if c != "bucket_start" else "_coarse" for c in keys]
    # per-source-bucket err counted once per bucket, not once per item row
    errs = (
        d.groupBy(*group_keys, "bucket_start").agg(F.max("err").alias("_e"))
        .groupBy(*group_keys).agg(F.sum("_e").cast("long").alias("_err_in"))
    )
    return _merge_counters(d, errs, group_keys, k).withColumnRenamed("_coarse", "bucket_start")


def _merge_counters(
    counters: DataFrame, carried: DataFrame, group_keys: list[str], k: int
) -> DataFrame:
    """Shared tail of every MG merge: sum ``counters``' weights per
    (group, item), LEFT-join them onto ``carried`` — (group_keys,
    _err_in), the error each group inherits from its inputs — and apply
    the closed-form reduction with that error.  ``carried`` is the base
    side, so a group whose inputs were all sentinels still emits its
    err row and the bound survives any merge topology."""
    summed = (
        counters.where(F.col("item").isNotNull())
        .groupBy(*group_keys, "item")
        .agg(F.sum("weight").cast("long").alias("weight"))
    )
    joined = carried.join(summed, group_keys, "left")
    return _reduce_sql(joined, group_keys, k, carried_err="_err_in")


def _compact_counters(d: dict, cap: int) -> tuple[dict, int]:
    """Closed-form MG reduction on a python counter dict: rank by
    (weight desc, item asc), subtract the (cap+1)-th weight, drop
    non-positive.  Same rule as ``_reduce_sql``."""
    if len(d) <= cap:
        return d, 0
    ranked = sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))
    err = int(ranked[cap][1])
    kept = {i: w - err for i, w in ranked[:cap] if w - err > 0}
    return kept, err


def mg_partials(df: DataFrame, item_col: str, tier: str, partition_cap: int = 256) -> DataFrame:
    """Per-PARTITION MG partial summaries with bounded pre-shuffle rows.

    The pure-Catalyst build (``mg_sketch``) relies on map-side partial
    aggregation, whose pre-shuffle state is one row per distinct
    (bucket, item) per map partition — fine for a 4-value tool column,
    but for unbounded-cardinality items (URLs, n-grams) that dictionary
    IS the shuffle.  This path caps it: an Arrow ``mapInPandas`` kernel
    folds each partition's (group, item) counts through an MG counter
    set capped at ``partition_cap`` counters per bucket_start group,
    compacting after every batch, and emits

    - ≤ ``partition_cap`` (item, weight, err=0) rows per group per
      partition, plus
    - one NULL-item sentinel row carrying the partition's accumulated
      subtraction error for that group,

    so the shuffle moves ≤ (cap+1)·groups·partitions rows regardless of
    item cardinality.  Per-partition memory is likewise bounded at
    ~2·cap counters per live group.  The Agarwal et al. merge
    (``mg_sketch_capped``) then restores the global summary with the
    exact bound: any item's undercount ≤ its group's summed err, and any
    item with true count > err is retained (pytest-asserted through the
    two-level merge, tests/test_mg.py).

    The summary is order-dependent across batch boundaries (unlike
    ``mg_sketch``'s canonical-order build), but the emitted ERROR BOUND
    is exact for any order, which is the contract the gate checks —
    keep ``mg_sketch`` as the deterministic oracle path."""
    d = df.withColumn("bucket_start", F.date_trunc(tier, F.col("ts"))).where(
        F.col(item_col).isNotNull()
    )
    sel = d.select("bucket_start", F.col(item_col).cast("string").alias("item"))
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in sel.schema.fields if f.name == "bucket_start"
    )
    schema = f"{key_fields}, {MG_FIELDS}"
    group_cols = ["bucket_start"]
    cap = int(partition_cap)

    def _partial(batches):
        agg: dict = {}
        errs: dict = {}
        touched_any = False
        for pdf in batches:
            if pdf.empty:
                continue
            touched_any = True
            counts = pdf.groupby(group_cols, sort=False)["item"].value_counts()
            for idx, c in counts.items():
                g, item = idx[:-1], idx[-1]
                bucket = agg.setdefault(g, {})
                bucket[item] = bucket.get(item, 0) + int(c)
            for g, bucket in agg.items():
                if len(bucket) > cap:
                    agg[g], e = _compact_counters(bucket, cap)
                    errs[g] = errs.get(g, 0) + e
        if not touched_any:
            return
        out_keys, out_items, out_w, out_e = [], [], [], []
        for g in sorted(agg):
            bucket, e = agg[g], errs.get(g, 0)
            for item in sorted(bucket):
                out_keys.append(g)
                out_items.append(item)
                out_w.append(bucket[item])
                out_e.append(0)
            if e > 0 or not bucket:
                out_keys.append(g)
                out_items.append(None)
                out_w.append(0)
                out_e.append(e)
        frame = {c: [g[i] for g in out_keys] for i, c in enumerate(group_cols)}
        frame["item"] = out_items
        frame["weight"] = np.asarray(out_w, dtype=np.int64)
        frame["err"] = np.asarray(out_e, dtype=np.int64)
        yield pd.DataFrame(frame)

    return sel.mapInPandas(_partial, schema=schema)


def mg_sketch_capped(
    df: DataFrame, item_col: str, tier: str, k: int = 8, partition_cap: int | None = None
) -> DataFrame:
    """``mg_sketch`` with BOUNDED pre-shuffle rows for unbounded-
    cardinality item columns: per-partition capped MG partials
    (``mg_partials``, default cap 32·k) merged by the standard
    mergeable-summaries reduction — sum weights per item, sum each
    partition's carried error per group, subtract the (k+1)-th merged
    weight.  Output schema and error-bound contract are identical to
    ``mg_sketch`` (weight ∈ [true−err, true]; items with true count >
    err retained); the summary itself is partition-layout dependent, so
    the deterministic ``mg_sketch`` remains the gate-oracle path."""
    cap = int(partition_cap or 32 * k)
    partials = mg_partials(df, item_col, tier, partition_cap=cap)
    out_keys = ["bucket_start"]
    # partitions are disjoint slices of one bucket: their errors add
    carried = partials.groupBy(*out_keys).agg(F.sum("err").cast("long").alias("_err_in"))
    return _merge_counters(partials, carried, out_keys, k)
