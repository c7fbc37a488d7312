"""Quickstart: the whole engine on a small synthetic transcript table.

    python examples/quickstart.py

Generates seeded turns, runs the retention job (minute→hour→day tiers,
locf gap-fill, Gorilla blocks, checkpointed), then demonstrates the
query surface: feature extraction, as-of join, session windows, and
near-dup detection over the bundled documents.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ts_raster_spark.datagen import gen_turns
from ts_raster_spark.jobs import RollupJobConfig, run_rollup_job
from ts_raster_spark.operators.asof import session_windows
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.rollup import rollup_features
from ts_raster_spark.session import get_spark
from ts_raster_spark.sources.catalog import ParquetTierCatalog


def main():
    spark = get_spark(app_name="quickstart", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    out = tempfile.mkdtemp(prefix="tsrs_quickstart_")

    print("== 1. synthetic transcript turns (seeded, deterministic)")
    turns = gen_turns(spark, n_convs=200, min_turns=3, max_turns=40, seed=42).cache()
    turns.show(3, truncate=60)

    print("== 2. retention job: raw → minute → hour → day (+ locf fill, Gorilla blocks)")
    counts = run_rollup_job(
        spark,
        turns,
        RollupJobConfig(
            out_root=out, gapfill_policy="locf", compress=True,
            checkpoint_slices=4, kinds=("text_len", "latency_s"),
        ),
    )
    print("   tier rows:", counts)

    cat = ParquetTierCatalog(out)
    print("== 3. hour tier (algebraic cascade from minute)")
    cat.read(spark, "rollup_hour").orderBy("conv_id", "bucket_start").show(3)

    print("== 4. tsfresh-parity features, whole conversation")
    feats = rollup_features(
        to_long_panel(turns).where(F.col("kind") == "text_len"),
        tier=None, include_strikes=True, include_trend=True, include_entropy=True,
    )
    feats.select(
        "conv_id", "turn_count", "mean", "skewness", "autocorrelation_lag1",
        "longest_strike_above_mean", "binned_entropy_10",
    ).show(3)

    print("== 5. session windows (30 min inactivity gap)")
    session_windows(turns).orderBy("conv_id", "session_start").show(3)

    print("== 5b. counter/state/heartbeat algebra + LTTB downsample (round 3)")
    from ts_raster_spark.operators.downsample import lttb
    from ts_raster_spark.operators.timeseries import (
        counter_rollup, ema, heartbeat_uptime, ohlc, state_durations,
        with_synthetic_counter,
    )

    counter_rollup(with_synthetic_counter(turns)).orderBy("conv_id", "bucket_start").show(3)
    state_durations(turns).orderBy("conv_id", "state").show(3)
    heartbeat_uptime(turns).orderBy("conv_id").show(3)
    t2 = turns.withColumn("value", F.length("text").cast("double"))
    ohlc(t2).orderBy("conv_id", "bucket_start").show(3)
    ema(t2, alpha=0.3).select("conv_id", "turn_idx", "ema").show(3)
    lttb(t2.withColumn("text_len", F.col("value")), n_out=10).show(3)

    print("== 6. compressed blocks are queryable")
    from ts_raster_spark.operators.compress import decompress_blocks

    blocks = cat.read(spark, "raw_blocks").withColumnRenamed("bucket_start", "block_start")
    sizes = cat.read(spark, "raw_blocks").agg(
        F.sum(F.length("ts_block") + F.length("val_block")).alias("compressed_bytes"),
        F.sum(F.col("n") * 16).alias("raw_bytes"),
    ).first()
    print(f"   compression: {sizes['compressed_bytes']}B vs {sizes['raw_bytes']}B raw")
    decompress_blocks(blocks).show(3)

    print("done.")


if __name__ == "__main__":
    main()
