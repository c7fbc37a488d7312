from __future__ import annotations

import uuid
import warnings

import pytest
from pyspark.sql import functions as F

from ts_raster_spark.jobs import RollupJobConfig, run_rollup_job
from ts_raster_spark.operators.mask import mask_df
from ts_raster_spark.plans.checkpoint import MANIFEST
from ts_raster_spark.sources.catalog import ParquetTierCatalog


def test_rollup_job_end_to_end(spark, turns_small, tmp_path):
    out = str(tmp_path / "tiers")
    counts = run_rollup_job(
        spark,
        turns_small,
        RollupJobConfig(
            out_root=out,
            gapfill_policy="locf",
            compress=True,
            checkpoint_slices=3,
            kinds=("text_len", "latency_s"),
        ),
    )
    assert counts["minute"] > counts["hour"] >= counts["day"]
    assert counts["minute_filled"] >= counts["minute"]
    assert counts["raw_blocks"] > 0

    cat = ParquetTierCatalog(out)
    hour = cat.read(spark, "rollup_hour")
    assert {"conv_id", "kind", "bucket_start", "turn_count", "mean", "variance"} <= set(hour.columns)
    # tier algebra spot check: total turn_count conserved across tiers
    m = cat.read(spark, "rollup_minute").agg(F.sum("turn_count")).first()[0]
    d = cat.read(spark, "rollup_day").agg(F.sum("turn_count")).first()[0]
    assert m == d


def test_rollup_job_with_mask(spark, turns_small, tmp_path):
    ids = sorted(r[0] for r in turns_small.select("conv_id").distinct().collect())
    mask = spark.createDataFrame(
        [(c, int(i % 2 == 0)) for i, c in enumerate(ids)], "conv_id string, keep int"
    )
    out = str(tmp_path / "tiers_masked")
    run_rollup_job(spark, mask_df(turns_small, mask), RollupJobConfig(out_root=out, tiers=("minute",)))
    got = {
        r[0]
        for r in ParquetTierCatalog(out).read(spark, "rollup_minute").select("conv_id").distinct().collect()
    }
    assert got == {c for i, c in enumerate(ids) if i % 2 == 0}


def test_rollup_job_rerun_idempotent(spark, turns_small, tmp_path):
    out = str(tmp_path / "tiers_idem")
    cfg = RollupJobConfig(out_root=out, tiers=("minute", "hour"), checkpoint_slices=2)
    c1 = run_rollup_job(spark, turns_small, cfg)
    c2 = run_rollup_job(spark, turns_small, cfg)  # resume: all slices skip
    assert c1 == c2


def test_late_turns_rerun_equals_fresh_run(spark, turns_small, tmp_path):
    """Late turns take the job's own path: hold back the tail turns of two
    conversations, run the job, then re-run it over all turns into the
    same root. Only the late conversations' checkpoint slices recompute,
    and every tier table equals a fresh run's over all turns."""
    n_slices = 8
    tails = (
        turns_small.groupBy("conv_id").agg(F.max("turn_idx").alias("last"))
        .where("last >= 3").orderBy("conv_id").limit(2).collect()
    )
    is_late = F.lit(False)
    for r in tails:
        is_late = is_late | ((F.col("conv_id") == r.conv_id) & (F.col("turn_idx") >= r.last - 1))

    def cfg(root):
        return RollupJobConfig(out_root=str(tmp_path / root), gapfill_policy="locf", checkpoint_slices=n_slices)

    def manifest_lines():
        with open(tmp_path / "late" / "_ckpt_minute" / MANIFEST) as f:
            return len(f.readlines())

    run_rollup_job(spark, turns_small.where(~is_late), cfg("late"))
    before = manifest_lines()
    counts = run_rollup_job(spark, turns_small, cfg("late"))
    assert counts == run_rollup_job(spark, turns_small, cfg("fresh"))

    late_slices = (
        turns_small.where(is_late).select(F.pmod(F.xxhash64("conv_id"), F.lit(n_slices))).distinct().count()
    )
    assert manifest_lines() - before == late_slices
    late, fresh = ParquetTierCatalog(cfg("late").out_root), ParquetTierCatalog(cfg("fresh").out_root)
    for table in ("rollup_minute", "rollup_hour", "rollup_day", "rollup_minute_filled"):
        a, b = late.read(spark, table), fresh.read(spark, table)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, table


def test_rollup_job_jobs_carry_caller_job_group(spark, turns_small, tmp_path):
    """Every Spark job the tier job starts, on whichever driver thread,
    carries the caller's job group, and wrapping the thread targets
    warns about no tags."""
    sc, st = spark.sparkContext, spark.sparkContext.statusTracker()

    def marker() -> list[int]:
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "marker")
        spark.range(1).count()
        return st.getJobIdsForGroup(group)

    first = max(marker())
    sc.setJobGroup("g", "tier job under a job group")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run_rollup_job(
                spark, turns_small,
                RollupJobConfig(out_root=str(tmp_path / "tiers_group"), gapfill_policy="locf", checkpoint_slices=2),
            )
        last = min(marker())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    in_group = set(st.getJobIdsForGroup("g"))
    started = set(range(first + 1, last))
    assert started and started <= in_group
    assert not [w for w in caught if issubclass(w.category, UserWarning) and "Tags" in str(w.message)]
