"""Resumable rollup jobs: per-partition checkpoints with lineage.

Reference analog: the ``reset_df``/``my_df.csv`` cached intermediate
(tsraster/calculate.py:79-87) — resume by re-reading a materialized
panel instead of recomputing. The engine upgrades this to a driver-side
**manifest** of completed work slices, each carrying lineage (input
fingerprint, rows in/out, wall time) keyed by the run's slice layout
(``n_slices``), so a killed job redoes only the missing slices and a
layout change can never double-count: slice outputs land in their own
directories, the manifest line is written only after the write
succeeds, and records from a different ``n_slices`` layout are ignored.

Slices use the catalog's bucket hash (``catalog.conv_bucket`` with
``n_slices``), so every slice value lies in ``range(n_slices)``. Every
slice's input fingerprint + row count comes from **one** full-input
aggregation pass (:func:`slice_lineage`), not a scan per slice — a
fully-done resume costs one scan total, not 2·n_slices.

At cluster scale each slice is one spark-submit-able unit of retry.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_raster_spark.session import run_concurrently
from ts_raster_spark.sources.catalog import conv_bucket, read_parquet

MANIFEST = "manifest.jsonl"


def slice_lineage(df: DataFrame, n_slices: int) -> dict[int, dict]:
    """All slices' input lineage (row count + key hash) in ONE pass —
    a groupBy on the slice key instead of a filtered scan per slice."""
    rows = (
        df.groupBy(conv_bucket(F.col("conv_id"), n_slices).alias("_slice"))
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(conv_id, turn_idx))"), F.lit(0)).alias("h"),
        )
        .collect()
    )
    return {
        r["_slice"]: {
            "rows_in": r["n"],
            "fingerprint": f"n={r['n']},h={r['h']}",
        }
        for r in rows
    }


def load_manifest(out_dir: str, n_slices: int | None = None) -> dict[int, dict]:
    """Completed-slice records for ONE slice layout. Records are keyed
    by ``n_slices``; with ``n_slices=None`` the most recent run's layout
    (last line's value) is used. Records from any other layout — e.g. a
    previous run with more slices — are discarded, so re-running into
    the same out_dir with a different n_slices can never union stale
    slice directories."""
    path = os.path.join(out_dir, MANIFEST)
    records: list[dict] = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("status") == "done":
                    records.append(rec)
    if not records:
        return {}
    if n_slices is None:
        n_slices = records[-1].get("n_slices")
    return {r["slice_id"]: r for r in records if r.get("n_slices") == n_slices}


def run_checkpointed(
    spark: SparkSession,
    turns: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_dir: str,
    n_slices: int = 8,
    fail_after: int | None = None,
) -> dict:
    """Run ``transform`` over turns in ``n_slices`` conv-hash slices,
    checkpointing each to ``out_dir/slice=<i>`` with a manifest line.

    Re-invocation skips slices whose manifest records ``done`` with a
    matching input fingerprint (changed input → slice recomputed).

    The fresh slices run concurrently, one driver thread each, at most
    ``defaultParallelism`` at a time (:func:`run_concurrently`): a
    slice's few small jobs are mostly fixed cost (planning, scheduling,
    commit), which one slice pays while another's tasks run. Slices
    share nothing but the manifest, and each appends its line under a
    lock after its own write succeeds, so a crash leaves exactly the
    finished slices recorded. A failing slice does not stop the others;
    its error is raised after they finish.

    ``fail_after=k`` runs only the first ``k`` fresh slices and then
    raises ``injected failure`` — the pytest crash-injection hook
    (SURVEY.md §5 test 6).

    Returns summary {completed, skipped, rows_out}.
    """
    import pyarrow.dataset as ds

    if n_slices < 1:
        raise ValueError(f"n_slices must be >= 1, got {n_slices}")
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, MANIFEST)
    done = load_manifest(out_dir, n_slices)
    found = slice_lineage(turns, n_slices)
    lineage = {s: found.get(s, {"rows_in": 0, "fingerprint": "n=0,h=0"}) for s in range(n_slices)}
    skipped, rows_out = 0, 0
    fresh: list[int] = []
    for s, info in lineage.items():
        if s in done and done[s]["input_fingerprint"] == info["fingerprint"]:
            skipped += 1
            rows_out += done[s]["rows_out"]
        else:
            fresh.append(s)
    manifest_lock = threading.Lock()

    def run_slice(s: int) -> int:
        t0 = time.time()
        slice_path = os.path.join(out_dir, f"slice={s}")
        transform(turns.where(conv_bucket(F.col("conv_id"), n_slices) == s)).write.mode("overwrite").parquet(slice_path)
        # footer-metadata count — no Spark job, no data re-read
        n_out = ds.dataset(slice_path, format="parquet").count_rows()
        rec = {
            "slice_id": s,
            "n_slices": n_slices,
            "status": "done",
            "input_fingerprint": lineage[s]["fingerprint"],
            "rows_in": lineage[s]["rows_in"],
            "rows_out": n_out,
            "wall_s": round(time.time() - t0, 3),
            "path": slice_path,
        }
        with manifest_lock, open(manifest_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        return n_out

    todo = fresh if fail_after is None else fresh[:fail_after]
    rows_out += sum(run_concurrently(spark, [partial(run_slice, s) for s in todo]))
    if len(todo) < len(fresh):
        raise RuntimeError(f"injected failure before slice {fresh[len(todo)]}")
    return {"completed": len(todo), "skipped": skipped, "rows_out": rows_out}


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read ONLY the most recent run's layout's manifest-listed completed
    slices — a slice=* glob would silently union stale directories left
    by a previous run with a different n_slices (double-counting). The schema
    comes from a slice's parquet footer, so building the read starts no
    Spark job.  Slices are read in ``slice_id`` order, not in the
    manifest's completion order, so the scan and its plan are the same
    on every run."""
    done = load_manifest(out_dir)
    if not done:
        raise FileNotFoundError(f"no completed slices recorded in {out_dir}/{MANIFEST}")
    paths = [done[s]["path"] for s in sorted(done)]
    return read_parquet(spark, *paths)
