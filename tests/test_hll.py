"""HyperLogLog distinct-count sketch: Spark registers/estimates vs a
pure-Python replica of the same scheme, merge algebra, and accuracy."""

from __future__ import annotations

import hashlib
import math
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.functions import hllsql as H
from ts_raster_spark.operators.hll import (
    hll_distinct_over_tiers,
    hll_estimate,
    hll_merge,
    hll_registers,
)


def py_registers(entities):
    regs = {}
    for e in entities:
        h = int(hashlib.md5(str(e).encode()).hexdigest()[:8], 16)
        bk, w = h % H.M, h // H.M
        rho = H.W_BITS + 1 - w.bit_length()
        regs[bk] = max(regs.get(bk, 0), rho)
    return regs


def py_estimate(regs):
    npres = len(regs)
    sinv = sum(2.0 ** -r for r in regs.values())
    e = H.ALPHA * H.M * H.M / ((H.M - npres) + sinv)
    if npres < H.M and e <= 2.5 * H.M:
        e = H.M * math.log(H.M / (H.M - npres))
    return e


@pytest.fixture(scope="module")
def ent_df(spark):
    rows = [(f"user-{i % 700}", i % 3) for i in range(5000)]
    return spark.createDataFrame(rows, "entity string, grp int")


def test_registers_match_python(spark, ent_df):
    got = {
        (r["grp"], r["bucket"]): r["register"]
        for r in hll_registers(ent_df, "entity", ["grp"]).collect()
    }
    for g in range(3):
        want = py_registers({f"user-{i % 700}" for i in range(5000) if i % 3 == g})
        for bk, reg in want.items():
            assert got[(g, bk)] == reg
        assert len([k for k in got if k[0] == g]) == len(want)


def test_estimate_matches_python_and_is_accurate(spark, ent_df):
    est = {
        r["grp"]: r["hll_estimate"]
        for r in hll_estimate(hll_registers(ent_df, "entity", ["grp"]), ["grp"]).collect()
    }
    for g in range(3):
        ents = {f"user-{i % 700}" for i in range(5000) if i % 3 == g}
        want = py_estimate(py_registers(ents))
        assert est[g] == pytest.approx(round(want + 1e-9, 4), abs=1e-9)
        # m=256 -> ~6.5% standard error; deterministic here, assert 3 sigma
        assert abs(want - len(ents)) / len(ents) < 0.20


def test_large_cardinality_raw_regime(spark):
    """Above the linear-counting switch (E > 2.5m): raw harmonic mean."""
    rows = [(f"id-{i}",) for i in range(20000)]
    df = spark.createDataFrame(rows, "entity string")
    regs = py_registers(r[0] for r in rows)
    assert py_estimate(regs) > 2.5 * H.M  # raw regime exercised
    got = hll_estimate(
        hll_registers(df.withColumn("g", F.lit(1)), "entity", ["g"]), ["g"]
    ).collect()[0]["hll_estimate"]
    assert got == pytest.approx(round(py_estimate(regs) + 1e-9, 4), abs=1e-9)
    assert abs(got - 20000) / 20000 < 0.20


def test_merge_equals_direct(spark):
    """MAX-merge of fine-tier registers == registers computed at the
    coarse tier directly — the cascade's exactness, as algebra."""
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (f"conv-{i % 97}", t0 + timedelta(minutes=i % 50, seconds=i % 7))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    out = hll_distinct_over_tiers(df, entity="conv_id").collect()
    assert len(out) == 1
    r = out[0]
    assert r["hll_estimate"] == r["hll_from_fine"]
    assert r["n_exact"] == 97
    assert abs(r["hll_estimate"] - 97) / 97 < 0.10

    # merge is also partition-shape-independent: registers from two
    # disjoint halves merged == registers over the union
    a, b = df.where("conv_id < 'conv-5'"), df.where("conv_id >= 'conv-5'")
    key = F.lit(1).alias("g")
    ra = hll_registers(a.select(key, "conv_id"), "conv_id", ["g"])
    rb = hll_registers(b.select(key, "conv_id"), "conv_id", ["g"])
    merged = hll_merge(ra.unionByName(rb), ["g"])
    whole = hll_registers(df.select(key, "conv_id"), "conv_id", ["g"])
    assert {
        (x["bucket"], x["register"]) for x in merged.collect()
    } == {(x["bucket"], x["register"]) for x in whole.collect()}


def test_rho_expr_edges(spark):
    """rho at the word-boundary edges: w=0 (all 24 bits zero) -> 25,
    w=1 -> 24, top bit set -> 1 — exercised directly since a random
    corpus virtually never hits w=0 (p = 2^-24)."""
    df = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (1 << 22,), (1 << 23,), ((1 << 24) - 1,)], "w long"
    )
    from pyspark.sql import functions as F

    got = {r["w"]: r["rho"] for r in df.select("w", F.expr(H.rho_expr("w")).alias("rho")).collect()}
    assert got[0] == 25 and got[1] == 24 and got[2] == 23 and got[3] == 23
    assert got[1 << 22] == 2 and got[1 << 23] == 1 and got[(1 << 24) - 1] == 1
    # identical results from DuckDB on the same expression text
    import duckdb

    rows = duckdb.sql(
        f"SELECT w, {H.rho_expr('w')} AS rho FROM (VALUES (0), (1), (2), (3), "
        f"({1 << 22}), ({1 << 23}), ({(1 << 24) - 1})) t(w)"
    ).fetchall()
    assert {w: r for w, r in rows} == got


def test_sliding_counts_hll_expands_registers_not_rows(spark):
    """The hopping-window scale path must 4x-expand the per-15-min
    REGISTER table (<=256 rows/bucket) and the per-bucket counts — never
    raw rows: every Generate (explode) in the optimized plan must sit
    over an Aggregate subtree, and the estimate must agree with a
    single-grain direct HLL computation."""
    from ts_raster_spark.queries import q_sliding_counts_hll

    df = q_sliding_counts_hll(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    gens = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert gens, plan  # the expansion exists
    for gi in gens:
        indent = len(lines[gi]) - len(lines[gi].lstrip(" :+-"))
        subtree = []
        for ln in lines[gi + 1:]:
            cur = len(ln) - len(ln.lstrip(" :+-"))
            if cur <= indent:
                break
            subtree.append(ln)
        assert any("Aggregate" in ln for ln in subtree), (
            "explode over raw rows:\n" + "\n".join(lines[gi:gi + 6])
        )

    # cross-check one window's estimate against a direct single-shot HLL
    import datetime as dt

    from pyspark.sql import functions as F

    from ts_raster_spark.operators.hll import hll_estimate, hll_registers
    from ts_raster_spark.operators.longform import epoch_seconds
    from ts_raster_spark.queries import load_turns

    row = df.orderBy(F.desc("n_turns")).limit(1).collect()[0]
    t = load_turns(spark, "/root/testdata/sf0.001")
    ws = dt.datetime.strptime(row["window_start"], "%Y-%m-%d %H:%M:%S")
    eps = epoch_seconds(F.col("ts"))
    w0 = ws.replace(tzinfo=dt.timezone.utc).timestamp()
    in_win = t.where((eps >= w0) & (eps < w0 + 3600)).select(F.lit(1).alias("g"), "conv_id")
    direct = hll_estimate(hll_registers(in_win, "conv_id", ["g"]), ["g"]).collect()[0]
    assert abs(direct["hll_estimate"] - row["hll_convs"]) < 1e-9
