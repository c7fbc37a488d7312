"""Deterministic KLL-style rank sketch (operators/kll.py): worst-case
rank-error bound on skewed data, weight conservation, merge parity with
the direct build, and cross-run determinism."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.kll import (
    _compact,
    kll_merge,
    kll_quantiles,
    kll_sketch,
)

K = 64


def _build_levels(values: np.ndarray, k: int) -> list[np.ndarray]:
    return _compact([np.asarray(values, dtype=np.float64)], k)


def _merge_levels(a: list[np.ndarray], b: list[np.ndarray], k: int) -> list[np.ndarray]:
    out = []
    for l in range(max(len(a), len(b))):
        xs = [lv[l] for lv in (a, b) if l < len(lv)]
        out.append(np.concatenate(xs) if xs else np.empty(0, dtype=np.float64))
    return _compact(out, k)


def _items(levels):
    return np.concatenate(
        [np.repeat(arr, 1) for arr in levels if len(arr)]
    ), np.concatenate(
        [np.full(len(arr), 2.0 ** l) for l, arr in enumerate(levels) if len(arr)]
    )


def _quantile_from_levels(levels, q):
    vals, wgts = _items(levels)
    order = np.argsort(vals, kind="stable")
    vals, wgts = vals[order], wgts[order]
    cum = np.cumsum(wgts)
    target = q * cum[-1]
    return vals[np.searchsorted(cum, target)]


def _rank_bound(n, k=K):
    h = max(1.0, np.log2(max(n / k, 2.0)) + 1)
    return h * n / (2 * k)


@pytest.mark.parametrize("dist", ["lognormal", "zipfish"])
def test_rank_error_bound_skewed(dist):
    rng = np.random.RandomState(3)
    n = 20000
    if dist == "lognormal":
        x = rng.lognormal(mean=0.0, sigma=3.0, size=n)  # 6 decades of mass
    else:
        x = 1.0 / (rng.uniform(1e-4, 1.0, size=n) ** 2)  # heavy tail
    levels = _build_levels(x, K)
    # weight conservation is exact
    _, wgts = _items(levels)
    assert wgts.sum() == n
    xs = np.sort(x)
    for q in (0.1, 0.5, 0.9, 0.95, 0.99):
        est = _quantile_from_levels(levels, q)
        rank_lo = np.searchsorted(xs, est, side="left")
        rank_hi = np.searchsorted(xs, est, side="right")
        target = q * n
        err = max(0.0, rank_lo - target, target - rank_hi)
        assert err <= _rank_bound(n), (dist, q, err, _rank_bound(n))


def test_rank_beats_histogram_on_skew():
    """The motivating case: a 64-bin equal-width histogram puts ~all the
    mass of a lognormal in bin 0, so its q50 VALUE estimate is off by
    orders of magnitude in rank terms; the KLL sketch stays within its
    rank bound."""
    rng = np.random.RandomState(7)
    n = 20000
    x = rng.lognormal(0.0, 3.0, size=n)
    # histogram q50: bin walk over equal-width bins
    lo, hi = x.min(), x.max()
    counts, edges = np.histogram(x, bins=64, range=(lo, hi))
    cum = np.cumsum(counts)
    b = int(np.searchsorted(cum, 0.5 * n))
    prev = cum[b - 1] if b else 0
    hist_est = edges[b] + (edges[b + 1] - edges[b]) * (0.5 * n - prev) / counts[b]
    xs = np.sort(x)
    hist_rank_err = abs(np.searchsorted(xs, hist_est) - 0.5 * n)
    kll_est = _quantile_from_levels(_build_levels(x, K), 0.5)
    kll_rank_err = abs(np.searchsorted(xs, kll_est) - 0.5 * n)
    assert kll_rank_err <= _rank_bound(n)
    assert kll_rank_err * 10 < hist_rank_err  # order-of-magnitude better


def test_merge_parity_and_determinism():
    rng = np.random.RandomState(11)
    x = rng.lognormal(0.0, 2.0, size=8192)
    a, b = x[:5000], x[5000:]
    merged = _merge_levels(_build_levels(a, K), _build_levels(b, K), K)
    direct = _build_levels(x, K)
    _, mw = _items(merged)
    assert mw.sum() == len(x)
    xs = np.sort(x)
    for q in (0.5, 0.95):
        for lv in (merged, direct):
            est = _quantile_from_levels(lv, q)
            err = abs(np.searchsorted(xs, est) - q * len(x))
            # one extra merge level of compaction at most: allow 2x bound
            assert err <= 2 * _rank_bound(len(x)), (q, err)
    # determinism: same input -> bit-identical levels
    again = _build_levels(x, K)
    assert len(again) == len(direct)
    for l in range(len(direct)):
        assert np.array_equal(direct[l], again[l])


def test_spark_cascade_matches_local(spark, turns_small):
    """minute-grain sketches merged to hour == per-(conv,kind,hour)
    local replay of the same deterministic algorithm; counts exact."""
    t = turns_small.withColumn("value", F.length("text").cast("double")).withColumn(
        "kind", F.lit("text_len")
    )
    sk_min = kll_sketch(t, "minute", k=16)
    sk_hr = kll_merge(sk_min, "hour", k=16)
    got = (
        kll_quantiles(sk_hr)
        .orderBy("conv_id", "bucket_start")
        .toPandas()
    )
    pdf = t.select("conv_id", "kind", "ts", "value").toPandas()
    pdf["minute"] = pdf["ts"].dt.floor("min")
    pdf["hour"] = pdf["ts"].dt.floor("h")
    from ts_raster_spark.operators.kll import _compact

    for (conv, hour), g in pdf.groupby(["conv_id", "hour"]):
        # replicate the merge kernel exactly: concatenate ALL minute
        # sketches per level, then one compaction sweep
        built = [
            _build_levels(gm["value"].to_numpy(dtype=np.float64), 16)
            for _, gm in g.groupby("minute")
        ]
        n_levels = max(len(b) for b in built)
        levels = _compact(
            [
                np.concatenate(
                    [b[l] for b in built if l < len(b)]
                    or [np.empty(0, dtype=np.float64)]
                )
                for l in range(n_levels)
            ],
            16,
        )
        row = got[(got.conv_id == conv) & (got.bucket_start == hour)]
        assert len(row) == 1, (conv, hour)
        row = row.iloc[0]
        assert row["total_weight"] == len(g)
        for q, col in ((0.5, "q50_kll"), (0.95, "q95_kll")):
            assert row[col] == _quantile_from_levels(levels, q), (conv, hour, col)


def test_spark_double_cascade_day_matches_local(spark, turns_small):
    """minute→hour→day DOUBLE cascade == local two-level replay of the
    same deterministic kernel (per-hour concat+compact of the minute
    levels, then per-day concat+compact of the hour levels) — the depth
    where compaction error actually accumulates.  Weight conservation
    stays exact through both merges; the day estimate sits inside 3×
    the single-build rank bound (two extra merge compactions)."""
    from ts_raster_spark.operators.kll import _compact

    k = 16
    t = turns_small.withColumn("value", F.length("text").cast("double")).withColumn(
        "kind", F.lit("text_len")
    )
    sk_day = kll_merge(kll_merge(kll_sketch(t, "minute", k=k), "hour", k=k), "day", k=k)
    got = (
        kll_quantiles(sk_day)
        .orderBy("conv_id", "bucket_start")
        .toPandas()
    )
    pdf = t.select("conv_id", "kind", "ts", "value").toPandas()
    pdf["minute"] = pdf["ts"].dt.floor("min")
    pdf["hour"] = pdf["ts"].dt.floor("h")
    pdf["day"] = pdf["ts"].dt.floor("d")

    def _concat_compact(built):
        n_levels = max(len(b) for b in built)
        return _compact(
            [
                np.concatenate(
                    [b[l] for b in built if l < len(b)]
                    or [np.empty(0, dtype=np.float64)]
                )
                for l in range(n_levels)
            ],
            k,
        )

    checked = 0
    for (conv, day), g in pdf.groupby(["conv_id", "day"]):
        hours = [
            _concat_compact(
                [
                    _build_levels(gm["value"].to_numpy(dtype=np.float64), k)
                    for _, gm in gh.groupby("minute")
                ]
            )
            for _, gh in g.groupby("hour")
        ]
        day_levels = _concat_compact(hours)
        row = got[(got.conv_id == conv) & (got.bucket_start == day)]
        assert len(row) == 1, (conv, day)
        row = row.iloc[0]
        assert row["total_weight"] == len(g)
        xs = np.sort(g["value"].to_numpy(dtype=np.float64))
        for q, col in ((0.5, "q50_kll"), (0.95, "q95_kll")):
            est = _quantile_from_levels(day_levels, q)
            assert row[col] == est, (conv, day, col)
            # accumulated-error contract: double cascade stays inside
            # 3x the single-build closed bound
            lo = np.searchsorted(xs, est, side="left")
            hi = np.searchsorted(xs, est, side="right")
            target = q * len(g)
            b = 3 * _rank_bound(len(g), k)
            assert lo <= target + b and hi >= target - b, (conv, day, col)
        checked += 1
    assert checked >= 10, "fixture spans too few (conv, day) groups"


def _spark_items(sk):
    """{(conv_id, bucket_start): sorted [(level, value)]} of a sketch."""
    out = {}
    for r in sk.collect():
        out.setdefault((r["conv_id"], r["bucket_start"]), []).append(
            (r["level"], r["value"])
        )
    return {g: sorted(v) for g, v in out.items()}


def _level_items(levels):
    return sorted((l, float(x)) for l, arr in enumerate(levels) for x in arr)


def test_spark_build_matches_build_levels_small_k(spark):
    """k=4 build over minute groups holding ≤ k values (3, 4: the native
    explode), more than k (7: one compaction) and more than 2k (11, 20:
    promotions cascade through several levels).  Each group's
    (level, value) multiset equals ``_build_levels`` on its values; a
    NULL value is not an item.  (The k=16 ``turns_small`` cascade tests
    never reach the build's compaction branch: that fixture holds at
    most 5 values per minute.)"""
    import datetime as dt

    k = 4
    rng = np.random.RandomState(5)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    sizes = {"a": 3, "b": 4, "c": 7, "d": 11, "e": 20}
    rows, want = [], {}
    for conv, n in sizes.items():
        # few distinct values, so stable-sort ties are exercised too
        vals = rng.randint(0, 6, size=n).astype(np.float64)
        rows += [(conv, "x", t0 + dt.timedelta(seconds=i), float(v)) for i, v in enumerate(vals)]
        want[(conv, t0)] = _level_items(_build_levels(vals, k))
    rows.append(("a", "x", t0, None))
    df = spark.createDataFrame(rows, "conv_id string, kind string, ts timestamp, value double")
    got = _spark_items(kll_sketch(df, "minute", k=k))
    assert got == want
    assert max(l for items in got.values() for l, _ in items) >= 2


def test_spark_merge_matches_compact_replay_small_k(spark):
    """k=4 merge of hand-built minute sketches into hour groups:

    - ``p``: 3 items, ≤ k in total (native explode);
    - ``q``: 7 items, above k in total but no level above k — passes
      through unchanged;
    - ``r``: 6 level-0 items — level 0 overflows;
    - ``s``: 6 level-0 + 4 level-1 items — level 0's promotions make
      level 1 overflow in turn.

    Each hour group equals a ``_compact`` replay of its concatenated
    levels."""
    import datetime as dt

    k = 4
    h0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    groups = {
        "p": [(0, 1.0), (0, 2.0), (1, 3.0)],
        "q": [(0, 5.0), (0, 1.0), (0, 3.0), (1, 2.0), (1, 4.0), (2, 9.0), (2, 0.5)],
        "r": [(0, 6.0), (0, 5.0), (0, 4.0), (0, 3.0), (0, 2.0), (0, 1.0)],
        "s": [(0, float(v)) for v in (8, 3, 3, 7, 1, 2)]
        + [(1, float(v)) for v in (4, 6, 0, 5)],
    }
    rows, want = [], {}
    for conv, items in groups.items():
        # spread each group's items over three minutes of the hour
        rows += [
            (conv, "x", h0 + dt.timedelta(minutes=i % 3), lvl, v)
            for i, (lvl, v) in enumerate(items)
        ]
        n_levels = max(lvl for lvl, _ in items) + 1
        levels = [
            np.array([v for lvl, v in items if lvl == l], dtype=np.float64)
            for l in range(n_levels)
        ]
        want[(conv, h0)] = _level_items(_compact(levels, k))
    sk = spark.createDataFrame(
        rows, "conv_id string, kind string, bucket_start timestamp, level int, value double"
    )
    got = _spark_items(kll_merge(sk, "hour", k=k))
    assert got == want
    assert got[("q", h0)] == sorted(groups["q"])  # pass-through
    assert got[("s", h0)] != sorted(groups["s"])
    assert max(l for l, _ in got[("s", h0)]) == 2
