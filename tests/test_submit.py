"""North-rule packaging evidence: the rollup job must run via
``spark-submit --py-files <package.zip>`` (the cluster deployment shape),
with the engine package resolved FROM THE ZIP — not from a checkout on
sys.path. The test copies the entry script out of the repo and runs
spark-submit from a neutral cwd so only --py-files can satisfy the
imports."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


def build_pyfiles_zip(dest: str) -> str:
    path = os.path.join(dest, "ts_raster_spark.zip")
    with zipfile.ZipFile(path, "w") as z:
        pkg = os.path.join(REPO, "ts_raster_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return path


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_rollup(spark, turns_small, tmp_path):
    input_dir = str(tmp_path / "turns_in")
    turns_small.write.mode("overwrite").parquet(input_dir)
    n_turns = turns_small.count()

    zip_path = build_pyfiles_zip(str(tmp_path))
    script = str(tmp_path / "submit_rollup.py")
    shutil.copy(os.path.join(REPO, "tools", "submit_rollup.py"), script)
    out_root = str(tmp_path / "tiers")

    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", zip_path,
            script,
            "--input", input_dir,
            "--out", out_root,
            "--tiers", "minute", "hour",
            "--compress",  # a Python stage: its workers must import the package
            "--cpus", "4",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),  # neutral cwd: repo checkout NOT importable
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["turns"] == n_turns
    assert result["tier_rows"]["minute"] >= result["tier_rows"]["hour"] > 0
    # tier tables landed on disk (catalog table layout: rollup_<tier>)
    assert os.path.isdir(os.path.join(out_root, "rollup_minute"))
    assert os.path.isdir(os.path.join(out_root, "rollup_hour"))
    assert result["tier_rows"]["raw_blocks"] > 0
