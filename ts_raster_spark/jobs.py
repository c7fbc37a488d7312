"""End-to-end rollup jobs: the ``calculateFeatures`` entry point (EP1,
tsraster/calculate.py:58-181) as a composable, resumable Spark job.

Pipeline (mirrors SURVEY.md §3 EP1):
  scan turns → (optional mask semi-join) → kind derivation/long panel →
  minute tier (native feature rollup) → hour/day via algebraic cascade →
  (optional gap-fill per tier) → (optional Gorilla block sink) →
  bucketed tier tables through the catalog, all under per-slice
  checkpoints with lineage.

Run it library-style (:func:`run_rollup_job`) or via spark-submit
(``python -m ts_raster_spark.jobs`` / jobs CLI in ``tools/submit_rollup.py``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ts_raster_spark.operators.cascade import cascade_up
from ts_raster_spark.operators.compress import compress_blocks
from ts_raster_spark.operators.gapfill import gapfill
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.mask import mask_df
from ts_raster_spark.operators.rollup import rollup_simple_wide
from ts_raster_spark.plans.checkpoint import run_checkpointed
from ts_raster_spark.sources.catalog import ParquetTierCatalog


@dataclass
class RollupJobConfig:
    out_root: str
    tiers: tuple[str, ...] = ("minute", "hour", "day")
    gapfill_policy: str | None = None  # locf | linear | sentinel
    compress: bool = False
    n_buckets: int = 16
    checkpoint_slices: int = 0  # 0 = no checkpointing
    kinds: tuple[str, ...] = field(default=())  # () = all channels


def run_rollup_job(
    spark: SparkSession,
    turns: DataFrame,
    cfg: RollupJobConfig,
    mask: DataFrame | None = None,
) -> dict:
    """Execute the retention pipeline; returns per-tier row counts."""
    cat = ParquetTierCatalog(cfg.out_root, n_buckets=cfg.n_buckets)
    if mask is not None:
        turns = mask_df(turns, mask)

    def to_minute(part: DataFrame) -> DataFrame:
        return rollup_simple_wide(part, "minute", channels=cfg.kinds or None)

    counts: dict[str, int] = {}
    if cfg.checkpoint_slices > 0:
        from ts_raster_spark.plans.checkpoint import read_result

        ckpt_dir = f"{cfg.out_root}/_ckpt_minute"
        run_checkpointed(spark, turns, to_minute, ckpt_dir, n_slices=cfg.checkpoint_slices)
        minute = read_result(spark, ckpt_dir)
    else:
        minute = to_minute(turns)
    # a tier's write is its only Spark action: re-reads take their schema
    # and lineage counts their row totals from parquet footers, so
    # neither starts a job
    cat.write(minute, "rollup_minute")
    counts["minute"] = cat.row_count("rollup_minute")

    minute_tbl = cat.read(spark, "rollup_minute")
    finer = minute_tbl
    for tier in ("hour", "day"):
        if tier not in cfg.tiers:
            continue
        cat.write(cascade_up(finer, tier), f"rollup_{tier}")
        counts[tier] = cat.row_count(f"rollup_{tier}")
        if tier == "hour":  # the day tier cascades from the stored hour tier
            finer = cat.read(spark, "rollup_hour")

    if cfg.gapfill_policy:
        pts = minute_tbl.selectExpr(
            "conv_id", "kind", "bucket_start", "sum_values / turn_count AS value"
        )
        filled = gapfill(pts, "minute", cfg.gapfill_policy)
        cat.write(filled.drop("_observed"), "rollup_minute_filled")
        counts["minute_filled"] = cat.row_count("rollup_minute_filled")

    if cfg.compress:
        long_df = to_long_panel(turns)
        if cfg.kinds:
            long_df = long_df.where(long_df.kind.isin(*cfg.kinds))
        blocks = compress_blocks(long_df, block="day")
        cat.write(blocks.withColumnRenamed("block_start", "bucket_start"), "raw_blocks")
        counts["raw_blocks"] = cat.row_count("raw_blocks")

    return counts
