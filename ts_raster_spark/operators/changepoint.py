"""CUSUM changepoint / drift detection over per-entity series.

Reference parity: ts-raster has no drift detector; this extends the
engine's monitoring surface (z-score anomaly flags, queries.py
q_anomaly_turns) with the classic Page (1954) cumulative-sum test —
the standard companion to tier rollups for detecting sustained mean
shifts that per-point outlier flags miss.

Spark-first design.  The textbook recursion

    S+_t = max(0, S+_{t-1} + (x_t - mu - k*sigma))          (upward)
    S-_t = max(0, S-_{t-1} + (mu - x_t - k*sigma))          (downward)

looks inherently sequential, but it has a closed prefix form: with
P_t = sum_{i<=t} y_i (P_0 = 0),

    S_t = P_t - min_{0<=j<=t} P_j = P_t - least(0, running_min(P))

so both one-sided statistics are pure window SQL — one hash exchange
on the entity key, one sort, stacked running aggregates, zero Python.
At 100 TB entities are independent: the job parallelizes to the
entity-key shuffle width and AQE absorbs skewed entities.  No state is
carried across entities, so the same expression runs unchanged on a
tier table (entity = series id, order = bucket) or raw turns.

Alarm contract: an alarm fires where S_t / sigma > h.  S/sigma is
dimensionless O(1), so the cross-engine boundary is quantized with the
absolute 9-dp rule (same contract as q_anomaly_turns; see
functions/features.py scale-relative discussion — absolute is correct
for dimensionless scores).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cusum(
    df: DataFrame,
    value_col: str = "value",
    entity_cols: Sequence[str] = ("conv_id",),
    order_col: str = "turn_idx",
) -> DataFrame:
    """Two-sided CUSUM scores + alarm flags per entity.

    Returns one row per input row: entity cols, ``order_col``,
    ``cusum_pos`` / ``cusum_neg`` (the clamped one-sided statistics),
    and ``alarm_pos`` / ``alarm_neg`` (int 0/1, S/sigma > h = 4).  The
    in-control target is the per-entity mean and the slack is
    ``k * sigma_pop`` with k = 0.5 (self-tuned).  Entities with
    sigma == 0 (constant series) never alarm and carry all-zero scores.
    """
    k, h = 0.5, 4.0
    ecols = [F.col(c) for c in entity_cols]
    # whole-partition mu/sigma share the running windows' (partition,
    # order) spec via an explicit unbounded frame — one Window operator,
    # one sort, instead of a keys-only sort plus a keys+order sort
    # (values are order-independent whole-partition aggregates)
    w_all = (
        Window.partitionBy(*ecols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_run = (
        Window.partitionBy(*ecols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    x = F.col(value_col)

    base = df.select(
        *entity_cols,
        order_col,
        x.alias("_x"),
        F.avg(x).over(w_all).alias("_mu"),
        F.stddev_pop(x).over(w_all).alias("_sig"),
    )
    slack = F.col("_sig") * F.lit(float(k))
    pref = base.select(
        *entity_cols,
        order_col,
        "_sig",
        F.sum(F.col("_x") - F.col("_mu") - slack).over(w_run).alias("_p_pos"),
        F.sum(F.col("_mu") - F.col("_x") - slack).over(w_run).alias("_p_neg"),
    )

    def _clamped(p: str) -> F.Column:
        # S_t = P_t - min(0, running_min(P)): the least(0, ...) supplies
        # the virtual P_0 = 0 so S starts at max(0, y_1).
        return F.col(p) - F.least(F.lit(0.0), F.min(p).over(w_run))

    scored = pref.select(
        *entity_cols,
        order_col,
        "_sig",
        _clamped("_p_pos").alias("cusum_pos"),
        _clamped("_p_neg").alias("cusum_neg"),
    )

    def _alarm(s: str) -> F.Column:
        fired = F.when(
            F.col("_sig") > 0,
            F.round(F.col(s) / F.col("_sig") - F.lit(float(h)), 9) > 0,
        ).otherwise(F.lit(False))
        return fired.cast("int")

    return scored.select(
        *entity_cols,
        order_col,
        "cusum_pos",
        "cusum_neg",
        _alarm("cusum_pos").alias("alarm_pos"),
        _alarm("cusum_neg").alias("alarm_neg"),
    )
