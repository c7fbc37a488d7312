"""Mask / unmask: conversation filter predicates as joins.

Reference semantics:

- ``mask_df`` (tsraster/prep.py:367-447): keep long-panel rows whose
  pixel_id is in the mask key set (mask == 1) → broadcast **left-semi
  join**.
- ``unmask_df`` / ``unmask_from_mask`` (prep.py:450-521): re-expand a
  masked result onto the dense domain; absent rows get the ``-9999``
  sentinel → **left outer join + coalesce**.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.operators.gapfill import SENTINEL


def mask_keys(mask: DataFrame) -> DataFrame:
    """mask raster → key set: rows where ``keep == 1`` (prep.py:380-381)."""
    return mask.where(F.col("keep") == 1).select("conv_id")


def mask_df(df: DataFrame, mask: DataFrame) -> DataFrame:
    """Left-semi filter of any conv-keyed frame by the mask key set.

    The key set is broadcast to every executor: the mask is a small dim
    next to a 100 TB fact table.
    """
    return df.join(F.broadcast(mask_keys(mask)), "conv_id", "left_semi")


def unmask_df(
    result: DataFrame,
    domain: DataFrame,
    on: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Re-expand ``result`` onto ``domain`` (all key tuples), filling
    missing value columns with ``SENTINEL`` (prep.py:477's ``-9999``)."""
    out = domain.select(*on).distinct().join(result, on, "left")
    for c in value_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(SENTINEL)))
    return out
