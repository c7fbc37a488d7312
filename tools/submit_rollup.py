"""spark-submit entry for the retention rollup job (north_rule: jobs run
via ``spark-submit --py-files``).

    spark-submit --py-files ts_raster_spark.zip tools/submit_rollup.py \
        --input /data/turns.parquet --out /data/tiers \
        --tiers minute hour day --gapfill locf --compress \
        --checkpoint-slices 16 --cpus 32

On the sandbox, plain ``python tools/submit_rollup.py`` works identically
(SparkSession bootstraps local[N]).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# Under spark-submit --py-files the package comes from the shipped zip;
# the repo-root fallback only serves bare `python tools/submit_rollup.py`
# runs from a checkout.
try:
    from ts_raster_spark.jobs import RollupJobConfig, run_rollup_job
    from ts_raster_spark.session import get_spark
except ImportError:  # bare-checkout run
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ts_raster_spark.jobs import RollupJobConfig, run_rollup_job  # noqa: E402
    from ts_raster_spark.session import get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="turns parquet path")
    ap.add_argument("--out", required=True, help="tier-table root")
    ap.add_argument("--tiers", nargs="+", default=["minute", "hour", "day"])
    ap.add_argument("--gapfill", choices=["locf", "linear", "sentinel"], default=None)
    ap.add_argument("--compress", action="store_true")
    ap.add_argument("--checkpoint-slices", type=int, default=0)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    # get_spark forks Python workers from ts_raster_spark.daemon, before a
    # task adds the --py-files zip to their path; so the package's import
    # root (the zip, or the checkout) goes on their PYTHONPATH up front.
    root = os.path.dirname(os.path.dirname(os.path.abspath(sys.modules["ts_raster_spark"].__file__)))
    spark = get_spark(
        app_name="rollup-job", master=f"local[{args.cpus}]", extra_conf={"spark.executorEnv.PYTHONPATH": root}
    )
    spark.sparkContext.setLogLevel("ERROR")
    turns = spark.read.parquet(args.input)
    n_turns = turns.count()
    t0 = time.time()
    counts = run_rollup_job(
        spark,
        turns,
        RollupJobConfig(
            out_root=args.out,
            tiers=tuple(args.tiers),
            gapfill_policy=args.gapfill,
            compress=args.compress,
            checkpoint_slices=args.checkpoint_slices,
            n_buckets=args.n_buckets,
        ),
    )
    wall = time.time() - t0
    print(json.dumps({
        "turns": n_turns,
        "wall_s": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1),
        "tier_rows": counts,
    }))


if __name__ == "__main__":
    main()
