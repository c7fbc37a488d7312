from __future__ import annotations

import json
import os
import sys
import uuid

import pyarrow.dataset as ds
import pytest
from pyspark.errors import AnalysisException, SparkRuntimeException
from pyspark.sql import functions as F

from ts_raster_spark.jobs import RollupJobConfig, run_rollup_job
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.rollup import rollup_simple
from ts_raster_spark.plans.checkpoint import load_manifest, read_result, run_checkpointed
from ts_raster_spark.sources.catalog import ParquetTierCatalog


def _transform(part):
    return rollup_simple(to_long_panel(part).where(F.col("kind") == "text_len"), "hour")


def test_resume_after_crash(spark, turns_small, tmp_path):
    """SURVEY.md §5 test 6: kill after k slices, rerun, output equal to
    single-shot, no duplicates, lineage reconciles."""
    out_a = str(tmp_path / "ckpt_a")
    out_b = str(tmp_path / "ckpt_b")

    # single-shot reference
    run_checkpointed(spark, turns_small, _transform, out_b, n_slices=4)
    ref = read_result(spark, out_b).orderBy("conv_id", "kind", "bucket_start").toPandas()

    # crashed run: 2 slices then injected failure
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, turns_small, _transform, out_a, n_slices=4, fail_after=2)
    assert len(load_manifest(out_a)) == 2

    # resume: completes remaining slices only
    summary = run_checkpointed(spark, turns_small, _transform, out_a, n_slices=4)
    assert summary["skipped"] == 2 and summary["completed"] == 2

    got = read_result(spark, out_a).orderBy("conv_id", "kind", "bucket_start").toPandas()
    assert got.equals(ref)

    # lineage: per-slice rows_out sums to the table row count
    manifest = load_manifest(out_a)
    assert sum(r["rows_out"] for r in manifest.values()) == len(got)
    for rec in manifest.values():
        assert rec["rows_in"] > 0 and rec["wall_s"] >= 0


def test_resume_is_noop_when_done(spark, turns_small, tmp_path):
    out = str(tmp_path / "ckpt_c")
    run_checkpointed(spark, turns_small, _transform, out, n_slices=3)
    summary = run_checkpointed(spark, turns_small, _transform, out, n_slices=3)
    assert summary == {"completed": 0, "skipped": 3, "rows_out": summary["rows_out"]}


def test_changed_input_recomputes_slice(spark, turns_small, tmp_path):
    out = str(tmp_path / "ckpt_d")
    run_checkpointed(spark, turns_small, _transform, out, n_slices=2)
    # tamper with manifest fingerprint of slice 0 -> must recompute
    path = os.path.join(out, "manifest.jsonl")
    recs = [json.loads(line) for line in open(path)]
    recs[0]["input_fingerprint"] = "n=0,h=0"
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
    summary = run_checkpointed(spark, turns_small, _transform, out, n_slices=2)
    assert summary["completed"] == 1 and summary["skipped"] == 1


def test_catalog_bucket_layout_and_pruned_lookup(spark, turns_small, tmp_path, assert_one_bucket_scanned):
    cat = ParquetTierCatalog(str(tmp_path / "tiers"), n_buckets=8)
    hour = _transform(turns_small)
    cat.write(hour, "rollup_hour")

    back = cat.read(spark, "rollup_hour")
    assert back.count() == hour.count()
    # bucket dirs exist
    dirs = os.listdir(cat.path("rollup_hour"))
    assert any(d.startswith("bucket_id=") for d in dirs)

    some_conv = hour.select("conv_id").first()["conv_id"]
    one = cat.read_conv(spark, "rollup_hour", some_conv)
    assert one.count() > 0
    assert one.select("conv_id").distinct().count() == 1
    assert_one_bucket_scanned(one, some_conv, 8)


def test_catalog_idempotent_rewrite(spark, turns_small, tmp_path):
    cat = ParquetTierCatalog(str(tmp_path / "tiers2"), n_buckets=4)
    hour = _transform(turns_small)
    cat.write(hour, "t")
    n1 = cat.read(spark, "t").count()
    cat.write(hour, "t")  # rerun: dynamic overwrite, not append
    n2 = cat.read(spark, "t").count()
    assert n1 == n2


def test_layout_change_does_not_double_count(spark, turns_small, tmp_path):
    """Re-running into the same out_dir with a SMALLER n_slices and the
    old manifest still present must not resurrect stale 'done' records:
    records are keyed by n_slices, so read_result sees only the current
    layout's slices."""
    out = str(tmp_path / "ckpt_layout")
    run_checkpointed(spark, turns_small, _transform, out, n_slices=8)
    ref = read_result(spark, out).count()
    # manifest NOT deleted — the layout key alone must protect us
    run_checkpointed(spark, turns_small, _transform, out, n_slices=4)
    assert set(load_manifest(out).keys()) == {0, 1, 2, 3}
    got = read_result(spark, out).count()
    assert got == ref
    # the old layout is still addressable explicitly
    assert set(load_manifest(out, n_slices=8).keys()) == set(range(8))


def test_read_result_ignores_stale_slices(spark, turns_small, tmp_path):
    """Resuming with a smaller n_slices must not union stale slice dirs
    from the previous layout (read_result reads manifest paths only)."""
    out = str(tmp_path / "ckpt_stale")
    run_checkpointed(spark, turns_small, _transform, out, n_slices=8)
    ref = read_result(spark, out).count()
    # wipe the manifest (simulating a layout change) and re-run with 4
    import os as _os

    _os.remove(_os.path.join(out, "manifest.jsonl"))
    run_checkpointed(spark, turns_small, _transform, out, n_slices=4)
    got = read_result(spark, out).count()
    assert got == ref  # stale slice=4..7 dirs exist on disk but are not read


def test_slice_domain_mismatch_raises(spark, turns_small, tmp_path):
    """n_slices < 1 leaves no slice to own any conversation: refuse up
    front instead of returning an empty or partial result."""
    out = str(tmp_path / "ckpt_domain")
    for n in (0, -1):
        with pytest.raises(ValueError, match="n_slices must be >= 1"):
            run_checkpointed(spark, turns_small, _transform, out, n_slices=n)
    assert not os.path.exists(out)


def _jobs_started(spark, fn):
    """``fn()``'s result and the number of Spark jobs it started, counted
    under a job group of its own."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same_rows(got, ref):
    assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty()


def _assert_same(got, ref):
    """Same schema (names, types, nullability, order) and the same rows."""
    assert got.schema == ref.schema
    _assert_same_rows(got, ref)


TIER_TABLES = ("rollup_minute", "rollup_hour", "rollup_day", "rollup_minute_filled")


@pytest.fixture(scope="module")
def tier_job(spark, turns_small, tmp_path_factory):
    """The documented tier job (locf gap-fill, 2 checkpoint slices)."""
    root = tmp_path_factory.mktemp("tier_job")
    counts = run_rollup_job(
        spark, turns_small,
        RollupJobConfig(out_root=str(root), gapfill_policy="locf", checkpoint_slices=2),
    )
    return ParquetTierCatalog(str(root)), counts


def test_planning_reads_starts_no_job(spark, tier_job):
    """Reads take their schema from the parquet footer and a lookup's
    bucket id constant-folds, so building a read starts no Spark job and
    a point lookup costs one: its collect."""
    cat, _ = tier_job
    _, n = _jobs_started(spark, lambda: cat.read(spark, "rollup_hour"))
    assert n == 0
    one, n = _jobs_started(spark, lambda: cat.read_conv(spark, "rollup_hour", "conv-000003"))
    assert n == 0
    _, n = _jobs_started(spark, lambda: read_result(spark, os.path.join(cat.root, "_ckpt_minute")))
    assert n == 0
    rows, n = _jobs_started(spark, one.collect)
    assert n == 1 and rows


def test_reads_match_spark_schema_inference(spark, tier_job):
    cat, counts = tier_job
    for table in TIER_TABLES:
        _assert_same(cat.read(spark, table), spark.read.parquet(cat.path(table)).drop("bucket_id"))
    ckpt = os.path.join(cat.root, "_ckpt_minute")
    paths = [rec["path"] for rec in load_manifest(ckpt).values()]
    _assert_same(read_result(spark, ckpt), spark.read.parquet(*paths))
    assert counts["hour"] == cat.read(spark, "rollup_hour").count()


def test_read_conv_matches_conv_filter(spark, tier_job):
    cat, _ = tier_job
    full = spark.read.parquet(cat.path("rollup_hour")).drop("bucket_id")
    keys = ("conv_id", "kind", "bucket_start")
    conv_ids = [r["conv_id"] for r in full.select("conv_id").distinct().collect()]
    assert len(conv_ids) == 40
    for conv_id in conv_ids + ["conv-absent"]:
        got = cat.read_conv(spark, "rollup_hour", conv_id).orderBy(*keys).collect()
        ref = full.where(F.col("conv_id") == conv_id).orderBy(*keys).collect()
        assert got == ref, conv_id
        assert bool(got) == (conv_id != "conv-absent")


def test_read_conv_non_ascii(spark, tmp_path):
    cat = ParquetTierCatalog(str(tmp_path / "tiers_utf8"), n_buckets=8)
    ids = ["café", "会話-1", "conv-ß-ü", "plain"]
    rows = [(c, i, float(i)) for c in ids for i in range(3)]
    cat.write(spark.createDataFrame(rows, "conv_id string, turn_idx int, value double"), "t")
    full = spark.read.parquet(cat.path("t")).drop("bucket_id")
    for conv_id in ids + ["会話-absent"]:
        got = sorted(cat.read_conv(spark, "t", conv_id).collect())
        assert got == sorted(full.where(F.col("conv_id") == conv_id).collect())
        assert len(got) == (0 if conv_id.endswith("absent") else 3)


def test_read_result_with_empty_slices(spark, turns_small, tmp_path):
    """More slices than conversations: some slice outputs hold no rows,
    and the footer schema still matches Spark's inference."""
    few = turns_small.where(F.col("conv_id") < "conv-000003")
    out = str(tmp_path / "ckpt_sparse")
    run_checkpointed(spark, few, _transform, out, n_slices=8)
    paths = [rec["path"] for rec in load_manifest(out).values()]
    assert any(ds.dataset(p, format="parquet").count_rows() == 0 for p in paths)
    got, n = _jobs_started(spark, lambda: read_result(spark, out))
    assert n == 0
    _assert_same(got, spark.read.parquet(*paths))
    ref = _transform(few)  # computed, so its schema keeps non-null fields
    assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty()


def test_read_result_in_slice_order(spark, turns_small, tmp_path, monkeypatch):
    """Concurrent slices append their manifest lines in completion order;
    read_result still reads slice 0 first."""
    from ts_raster_spark.plans import checkpoint

    out = str(tmp_path / "ckpt_order")
    run_checkpointed(spark, turns_small, _transform, out, n_slices=2)
    manifest = os.path.join(out, "manifest.jsonl")
    with open(manifest) as f:
        lines = sorted(f, key=lambda line: -json.loads(line)["slice_id"])
    with open(manifest, "w") as f:
        f.writelines(lines)
    assert [json.loads(line)["slice_id"] for line in lines] == [1, 0]
    read = []
    monkeypatch.setattr(checkpoint, "read_parquet", lambda spark, *paths: read.extend(paths))
    read_result(spark, out)
    assert [os.path.basename(p) for p in read] == ["slice=0", "slice=1"]


def test_read_without_data_files_raises(spark, tmp_path):
    """No footer to read: Spark's own inference runs and fails as before."""
    cat = ParquetTierCatalog(str(tmp_path / "tiers_empty"))
    os.makedirs(cat.path("only_success"))
    open(os.path.join(cat.path("only_success"), "_SUCCESS"), "w").close()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        cat.read(spark, "only_success")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        cat.read(spark, "missing")


def _manifest_lines(out):
    with open(os.path.join(out, "manifest.jsonl")) as f:
        return [json.loads(line) for line in f]


def test_concurrent_slices_crash_and_resume(spark, turns_small, tmp_path):
    """Eight slices on concurrent threads: a crash after three leaves
    exactly three whole manifest lines, and a resume runs the other five
    into the single-shot result."""
    ref_dir = str(tmp_path / "ckpt_ref")
    out = str(tmp_path / "ckpt_crash")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the slice threads as finely as possible
    try:
        run_checkpointed(spark, turns_small, _transform, ref_dir, n_slices=8)
        with pytest.raises(RuntimeError, match="injected failure"):
            run_checkpointed(spark, turns_small, _transform, out, n_slices=8, fail_after=3)
    finally:
        sys.setswitchinterval(interval)
    assert len(_manifest_lines(ref_dir)) == 8
    lines = _manifest_lines(out)
    assert len(lines) == 3 and len({r["slice_id"] for r in lines}) == 3

    summary = run_checkpointed(spark, turns_small, _transform, out, n_slices=8)
    assert summary["skipped"] == 3 and summary["completed"] == 5
    assert sorted(r["slice_id"] for r in _manifest_lines(out)) == list(range(8))
    keys = ("conv_id", "kind", "bucket_start")
    ref = read_result(spark, ref_dir).orderBy(*keys).toPandas()
    got = read_result(spark, out).orderBy(*keys).toPandas()
    assert got.equals(ref)
    assert summary["rows_out"] == len(ref)


def test_failing_slice_raises_after_the_others_finish(spark, turns_small, tmp_path):
    """A slice whose write fails raises its error from run_checkpointed;
    the slices that finished keep valid manifest lines, and a resume
    recomputes only the failed one."""
    n_slices, bad = 4, "conv-000005"
    bad_slice = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(bad)), F.lit(n_slices)).cast("int")
    ).first()[0]

    def failing(part):
        text = F.when(F.col("conv_id") == bad, F.raise_error(F.lit("slice boom"))).otherwise(F.col("text"))
        return _transform(part.withColumn("text", text))

    out = str(tmp_path / "ckpt_fail")
    with pytest.raises(SparkRuntimeException, match="slice boom"):
        run_checkpointed(spark, turns_small, failing, out, n_slices=n_slices)
    lines = _manifest_lines(out)
    assert sorted(r["slice_id"] for r in lines) == sorted(set(range(n_slices)) - {bad_slice})
    summary = run_checkpointed(spark, turns_small, _transform, out, n_slices=n_slices)
    assert summary["completed"] == 1 and summary["skipped"] == n_slices - 1


OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def test_dynamic_write_ignores_static_session_conf(spark, turns_small, tmp_path):
    """A tier write replaces only the buckets it produces even when the
    session's own overwrite mode is static."""
    cat = ParquetTierCatalog(str(tmp_path / "tiers_mode"), n_buckets=8)
    hour = _transform(turns_small)
    cat.write(hour, "t")
    before = sorted(os.listdir(cat.path("t")))
    one = hour.where(F.col("conv_id") == "conv-000003")
    spark.conf.set(OVERWRITE_MODE, "static")
    try:
        cat.write(one, "t")
        assert spark.conf.get(OVERWRITE_MODE) == "static"
    finally:
        spark.conf.unset(OVERWRITE_MODE)
    # the conversation's bucket now holds only its rows; every other bucket is kept
    assert sorted(os.listdir(cat.path("t"))) == before
    k = cat.bucket_of(F.lit("conv-000003"))
    expected = hour.where(cat.bucket_of(F.col("conv_id")) != k).unionByName(one)
    _assert_same_rows(cat.read(spark, "t"), expected)

