"""End-to-end rollup jobs: the ``calculateFeatures`` entry point (EP1,
tsraster/calculate.py:58-181) as a composable, resumable Spark job.

Pipeline (mirrors SURVEY.md §3 EP1):
  scan turns → kind derivation/long panel →
  minute tier (native feature rollup) → hour/day via algebraic cascade →
  (optional gap-fill per tier) → (optional Gorilla block sink) →
  bucketed tier tables through the catalog, all under per-slice
  checkpoints with lineage.

The job is a small DAG run from driver threads (``run_concurrently``):

1. the minute tier, in checkpoint slices that run concurrently
   (:func:`~ts_raster_spark.plans.checkpoint.run_checkpointed`);
2. then, concurrently, one branch per output table: the ``rollup_minute``
   write, ``rollup_hour`` and ``rollup_day`` (each one cascade of the
   minute tier), the gap-filled minute tier and, with ``compress``, the
   raw Gorilla blocks (from ``turns``).

Every tier branch reads the one materialized minute tier (the checkpoint
result), so no branch waits for another's write. Without checkpoint
slices there is no materialized minute tier: ``rollup_minute`` is written
first and the branches read it back. Each of these jobs is small, and
most of its wall is fixed cost (planning, scheduling, commit), which now
overlaps other branches' tasks instead of leaving task slots idle.

The tables equal those of a serial minute → hour → day chain over the
stored tables: every branch aggregates the same materialized minute rows,
and only the order and grouping of its double additions can differ,
which changes nothing while the sums are exact (integer-valued channels,
whole-second latencies). The day branch aggregates the minute tier, not
the stored hour tier, so it starts without waiting for the hour write;
its tasks read the minute rows, as the hour branch's do, and its plan
keeps one aggregation (one exchange) as before.

Run it library-style (:func:`run_rollup_job`) or via spark-submit
(``tools/submit_rollup.py``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ts_raster_spark.operators.cascade import cascade_up
from ts_raster_spark.operators.compress import compress_blocks
from ts_raster_spark.operators.gapfill import gapfill
from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.rollup import rollup_simple_wide
from ts_raster_spark.plans.checkpoint import read_result, run_checkpointed
from ts_raster_spark.session import run_concurrently
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


def run_rollup_job(spark: SparkSession, turns: DataFrame, cfg: RollupJobConfig) -> dict:
    """Execute the retention pipeline; returns per-tier row counts.

    Late turns take the same path: re-run the job over all turns into the
    same ``out_root``. With checkpoint slices only the slices whose input
    changed recompute; the tier tables are then rewritten whole."""
    cat = ParquetTierCatalog(cfg.out_root, n_buckets=cfg.n_buckets)

    def to_minute(part: DataFrame) -> DataFrame:
        return rollup_simple_wide(part, "minute", channels=cfg.kinds or None)

    # a tier's write is its only Spark action: re-reads take their schema
    # and lineage counts their row totals from parquet footers, so
    # neither starts a job
    tables = {"minute": "rollup_minute"}
    branches = []
    if cfg.checkpoint_slices > 0:
        ckpt_dir = f"{cfg.out_root}/_ckpt_minute"
        run_checkpointed(spark, turns, to_minute, ckpt_dir, n_slices=cfg.checkpoint_slices)
        minute = read_result(spark, ckpt_dir)
        branches.append(lambda: cat.write(minute, "rollup_minute"))
    else:
        cat.write(to_minute(turns), "rollup_minute")
        minute = cat.read(spark, "rollup_minute")

    if "hour" in cfg.tiers:
        tables["hour"] = "rollup_hour"
        branches.append(lambda: cat.write(cascade_up(minute, "hour"), "rollup_hour"))
    if "day" in cfg.tiers:
        tables["day"] = "rollup_day"
        branches.append(lambda: cat.write(cascade_up(minute, "day"), "rollup_day"))

    if cfg.gapfill_policy:

        def fill() -> None:
            pts = minute.selectExpr(
                "conv_id", "kind", "bucket_start", "sum_values / turn_count AS value"
            )
            filled = gapfill(pts, "minute", cfg.gapfill_policy)
            cat.write(filled.drop("_observed"), "rollup_minute_filled")

        tables["minute_filled"] = "rollup_minute_filled"
        branches.append(fill)

    if cfg.compress:

        def compress() -> None:
            long_df = to_long_panel(turns)
            if cfg.kinds:
                long_df = long_df.where(long_df.kind.isin(*cfg.kinds))
            blocks = compress_blocks(long_df)
            cat.write(blocks.withColumnRenamed("block_start", "bucket_start"), "raw_blocks")

        tables["raw_blocks"] = "raw_blocks"
        branches.append(compress)

    run_concurrently(spark, branches)
    return {tier: cat.row_count(table) for tier, table in tables.items()}
