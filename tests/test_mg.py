"""Misra-Gries heavy-hitters sketch (operators/mg.py): the classic
guarantees (retention above err, undercount ≤ err, err ≤ n/(k+1)),
merge-bound preservation, multiset determinism, and a Spark cascade
vs local replay."""

from __future__ import annotations

import collections

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.mg import mg_merge, mg_sketch


def _mg_from_counts(items: np.ndarray, counts: np.ndarray, k: int):
    """Deterministic MG summary from exact (item, count) pairs — the
    local reference for the engine's closed-form reduction.

    Feeding exact counts count-major (desc), item-asc through MG is
    equivalent to: keep the k largest (count, item) pairs, subtract the
    weight that must be decremented so at most k counters survive.
    Closed form: survivors = top-k by (count desc, item asc); err = the
    (k+1)-th largest count (0 if fewer than k+1 items), each survivor's
    weight = max(count - err, 0) dropped if 0.  This matches running
    textbook MG on the count-major canonical stream and is what the
    engine's merge reduction (``mg._reduce_sql``) also produces.
    """
    if len(items) <= k:
        return items, counts.astype(np.int64), 0
    order = np.lexsort((items, -counts))
    items, counts = items[order], counts[order]
    err = int(counts[k])
    keep_items, keep_counts = items[:k], counts[:k] - err
    pos = keep_counts > 0
    return keep_items[pos], keep_counts[pos].astype(np.int64), err


def _summary(values, k):
    vc = collections.Counter(values)
    items = np.asarray(sorted(vc), dtype=object)
    counts = np.asarray([vc[i] for i in items], dtype=np.int64)
    it, w, err = _mg_from_counts(items, counts, k)
    return dict(zip(it, w)), err, vc


def test_mg_guarantees_zipf():
    rng = np.random.RandomState(5)
    n = 50000
    # zipf-ish over 1000 items: a few heavy, long tail
    vals = (rng.zipf(1.3, size=n) % 1000).astype(str)
    for k in (4, 8, 32):
        summ, err, vc = _summary(vals, k)
        assert len(summ) <= k
        assert err <= n / (k + 1)
        for item, cnt in vc.items():
            if cnt > err:
                assert item in summ, (k, item, cnt, err)
            if item in summ:
                assert cnt - err <= summ[item] <= cnt, (k, item)


def test_mg_merge_preserves_bounds():
    rng = np.random.RandomState(9)
    k = 8
    parts = [
        (rng.zipf(1.5, size=8000) % 200).astype(str) for _ in range(6)
    ]
    # local replay of mg_merge over the six part-summaries
    summed: collections.Counter = collections.Counter()
    err_in = 0
    for p in parts:
        s, e, _ = _summary(p, k)
        summed.update(s)
        err_in += e
    items = np.asarray(sorted(summed), dtype=object)
    w = np.asarray([summed[i] for i in items], dtype=np.int64)
    it2, w2, err_red = _mg_from_counts(items, w, k)
    err_out = err_in + err_red
    merged = dict(zip(it2, w2))
    vc = collections.Counter(np.concatenate(parts))
    n = sum(vc.values())
    assert err_out <= 2 * n / (k + 1)  # merge at most doubles the bound here
    for item, cnt in vc.items():
        if cnt > err_out:
            assert item in merged, (item, cnt, err_out)
        if item in merged:
            assert cnt - err_out <= merged[item] <= cnt, item


def test_mg_multiset_determinism():
    rng = np.random.RandomState(13)
    vals = (rng.zipf(1.4, size=5000) % 50).astype(str)
    a = _summary(vals, 8)
    b = _summary(rng.permutation(vals), 8)
    assert a[0] == b[0] and a[1] == b[1]


def test_spark_cascade_matches_local(spark, turns_small):
    """minute-grain MG sketches merged to hour == local replay of the
    same deterministic rule; invariants hold vs exact counts."""
    t = turns_small.where(F.col("tool").isNotNull())
    k = 2
    sk = mg_merge(mg_sketch(t, "tool", "minute", k=k), "hour", k=k).toPandas()
    pdf = t.select("tool", "ts").toPandas()
    pdf["minute"] = pdf["ts"].dt.floor("min")
    pdf["hour"] = pdf["ts"].dt.floor("h")
    assert len(sk), "empty sketch"
    for hour, g in pdf.groupby("hour"):
        summed: collections.Counter = collections.Counter()
        err_in = 0
        for _, gm in g.groupby("minute"):
            s, e, _ = _summary(gm["tool"].to_numpy(dtype=object), k)
            summed.update(s)
            err_in += e
        items = np.asarray(sorted(summed), dtype=object)
        w = np.asarray([summed[i] for i in items], dtype=np.int64)
        it2, w2, err_red = _mg_from_counts(items, w, k)
        want = dict(zip(it2, w2))
        rows = sk[sk.bucket_start == hour]
        got = {
            r["item"]: r["weight"] for _, r in rows.iterrows() if r["item"] is not None
        }
        assert got == want, hour
        assert rows["err"].max() == err_in + err_red, hour
        # invariants vs exact
        vc = collections.Counter(g["tool"])
        err_out = err_in + err_red
        for item, cnt in vc.items():
            if cnt > err_out:
                assert item in got
            if item in got:
                assert cnt - err_out <= got[item] <= cnt


def _hicard_df(spark, n=40000, n_items=3000, n_parts=8, seed=21):
    """High-cardinality item stream over a 2-hour span, n_parts
    partitions — the shape where the exact build's pre-shuffle
    dictionary is the problem mg_partials exists to cap."""
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame(
        {
            "ts": pd.Timestamp("2025-03-01 00:00:00")
            + pd.to_timedelta(rng.randint(0, 7200, size=n), unit="s"),
            "item": np.char.add("u", (rng.zipf(1.2, size=n) % n_items).astype(str)),
        }
    )
    return spark.createDataFrame(pdf).repartition(n_parts)


def _assert_mg_bound(sk_pdf, exact):
    """Classic MG contract vs exact counts: weight ∈ [true−err, true],
    and every item with true count > err retained."""
    for bucket, g in exact.groupby("bucket_start"):
        rows = sk_pdf[sk_pdf.bucket_start == bucket]
        assert len(rows), bucket
        err = int(rows["err"].max())
        got = {
            r["item"]: int(r["weight"])
            for _, r in rows.iterrows()
            if r["item"] is not None
        }
        vc = dict(zip(g["item"], g["cnt"]))
        n = sum(vc.values())
        assert err < n, (bucket, err, n)
        for item, cnt in vc.items():
            if cnt > err:
                assert item in got, (bucket, item, cnt, err)
            if item in got:
                assert cnt - err <= got[item] <= cnt, (bucket, item)


def test_mg_capped_bound_high_cardinality(spark):
    """mg_sketch_capped over 3000-item data, 8 partitions, cap far below
    cardinality: the error bound vs exact per-hour counts must hold even
    though every partition's partial summary was compacted."""
    from ts_raster_spark.operators.mg import mg_sketch_capped

    df = _hicard_df(spark)
    sk = mg_sketch_capped(df, "item", "hour", k=8, partition_cap=64).toPandas()
    exact = (
        df.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_start"), "item")
        .agg(F.count("*").cast("long").alias("cnt"))
        .toPandas()
    )
    _assert_mg_bound(sk, exact)


def test_mg_capped_two_level_merge_bound(spark):
    """Capped minute-grain partials → mg_merge to hour: the bound must
    survive BOTH summarization levels (partition compaction + tier
    merge), each adding its tracked error."""
    from ts_raster_spark.operators.mg import mg_merge, mg_sketch_capped

    df = _hicard_df(spark, seed=22)
    k = 8
    sk = mg_merge(
        mg_sketch_capped(df, "item", "minute", k=k, partition_cap=64), "hour", k=k
    ).toPandas()
    exact = (
        df.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_start"), "item")
        .agg(F.count("*").cast("long").alias("cnt"))
        .toPandas()
    )
    _assert_mg_bound(sk, exact)


def test_mg_partials_rows_capped(spark):
    """The pre-shuffle row count is bounded by (cap+1)·buckets·partitions
    and far below the distinct (bucket, item) dictionary the exact build
    would shuffle; the plan's pre-shuffle node is the Arrow kernel."""
    from ts_raster_spark.operators.mg import mg_partials, mg_sketch_capped

    df = _hicard_df(spark, seed=23)
    cap, n_parts = 16, 8
    partials = mg_partials(df, "item", "hour", partition_cap=cap)
    n_rows = partials.count()
    n_buckets = 2  # 2-hour span at hour grain
    assert n_rows <= (cap + 1) * n_buckets * n_parts, n_rows
    n_dict = (
        df.select(F.date_trunc("hour", F.col("ts")).alias("b"), "item").distinct().count()
    )
    assert n_rows < n_dict / 4, (n_rows, n_dict)
    plan = (
        mg_sketch_capped(df, "item", "hour", k=8, partition_cap=cap)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan, plan


def test_spark_double_cascade_day_matches_local(spark, turns_small):
    """minute→hour→day DOUBLE MG cascade == local two-level replay of
    the closed-form reduction (sum minute summaries per hour + reduce,
    sum hour summaries per day + reduce), with err accumulating per
    Agarwal-et-al merge at BOTH levels — and the classic guarantees
    (retention above err, undercount ≤ err) still holding at day grain
    vs exact day counts."""
    t = turns_small.where(F.col("tool").isNotNull())
    k = 2
    sk = mg_merge(
        mg_merge(mg_sketch(t, "tool", "minute", k=k), "hour", k=k), "day", k=k
    ).toPandas()
    pdf = t.select("tool", "ts").toPandas()
    pdf["minute"] = pdf["ts"].dt.floor("min")
    pdf["hour"] = pdf["ts"].dt.floor("h")
    pdf["day"] = pdf["ts"].dt.floor("d")
    assert len(sk), "empty sketch"

    def _reduce(counter, err_in):
        items = np.asarray(sorted(counter), dtype=object)
        w = np.asarray([counter[i] for i in items], dtype=np.int64)
        it2, w2, err_red = _mg_from_counts(items, w, k)
        return dict(zip(it2, w2)), err_in + err_red

    checked = 0
    for day, g in pdf.groupby("day"):
        hour_summaries = []
        for _, gh in g.groupby("hour"):
            summed: collections.Counter = collections.Counter()
            err_in = 0
            for _, gm in gh.groupby("minute"):
                s, e, _ = _summary(gm["tool"].to_numpy(dtype=object), k)
                summed.update(s)
                err_in += e
            hour_summaries.append(_reduce(summed, err_in))
        day_counter: collections.Counter = collections.Counter()
        day_err_in = 0
        for s, e in hour_summaries:
            day_counter.update(s)
            day_err_in += e
        want, want_err = _reduce(day_counter, day_err_in)
        rows = sk[sk.bucket_start == day]
        got = {
            r["item"]: r["weight"] for _, r in rows.iterrows() if r["item"] is not None
        }
        assert got == want, day
        assert rows["err"].max() == want_err, day
        # classic guarantees vs EXACT day counts, with the accumulated err
        vc = collections.Counter(g["tool"])
        for item, cnt in vc.items():
            if cnt > want_err:
                assert item in got, (day, item)
            if item in got:
                assert cnt - want_err <= got[item] <= cnt, (day, item)
        checked += 1
    assert checked >= 2, "fixture spans too few days"
