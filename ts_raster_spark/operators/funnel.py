"""Ordered-funnel analysis: which entities performed step 1, then
step 2 strictly after it, then step 3 … (the windowFunnel/retention
query family every event-analytics engine ships; semantics follow the
published ClickHouse ``windowFunnel``/sequenceMatch contract — first
qualifying occurrence, strict temporal order).

Reference parity: the reference has no event-sequence surface; this is
engine-added query capability over the same turns table (steps are
arbitrary Column predicates — tool uses, roles, text properties).

Spark-first / 100 TB: each step is ONE conditional min-aggregate on the
entity key joined back to the previous step's timestamps — k steps =
k hash aggregates + k-1 equi-joins, ALL keyed on the entity column, so
a bucketed/pre-partitioned layout pays the shuffle once and AQE reuses
the exchange. No window over raw events, no per-entity event collect,
zero Python. The alternative single-pass stateful kernel only wins
when k is large; for the k ≤ 5 funnels analytics actually runs, the
Catalyst form keeps whole-stage codegen end to end.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def funnel_times(
    df: DataFrame,
    steps: Sequence[tuple[str, Column]],
) -> DataFrame:
    """Per-conversation first-completion timestamps ``t_1 .. t_k``.

    ``t_1`` = min ts where step-1 predicate holds; ``t_i`` = min ts
    strictly after ``t_{i-1}`` where step-i holds (NULL once a step is
    never reached — and every later step is then NULL by construction).
    Returns one row per conv_id that completed step 1.
    """
    ecols = ["conv_id"]
    name0, cond0 = steps[0]
    out = df.groupBy(*ecols).agg(
        F.min(F.when(cond0, F.col("ts"))).alias("t_1")
    ).where(F.col("t_1").isNotNull())
    for i, (name, cond) in enumerate(steps[1:], start=2):
        prev = f"t_{i - 1}"
        nxt = (
            df.join(out.select(*ecols, prev), ecols)
            .groupBy(*ecols)
            .agg(
                F.min(
                    F.when(cond & (F.col("ts") > F.col(prev)), F.col("ts"))
                ).alias(f"t_{i}")
            )
        )
        out = out.join(nxt, ecols, "left")
    return out


def funnel_summary(
    times: DataFrame,
    step_names: Sequence[str],
) -> DataFrame:
    """Per-step conversion table: ``step`` (1-based), ``name``,
    ``n_converted`` conversations reaching it, and the exact median seconds
    from step-1 completion (NULL for step 1 itself and for empty
    steps).  One aggregate over the (tiny) per-entity times table.
    """
    aggs = []
    for i, name in enumerate(step_names, start=1):
        aggs.append(F.count(F.col(f"t_{i}")).cast("long").alias(f"_n_{i}"))
        if i == 1:
            aggs.append(F.lit(None).cast("double").alias("_med_1"))
        else:
            # explicit NTZ->LTZ cast (UTC session): unix_micros wants LTZ
            aggs.append(
                F.expr(
                    f"percentile(unix_micros(CAST(t_{i} AS TIMESTAMP_LTZ)) "
                    f"- unix_micros(CAST(t_1 AS TIMESTAMP_LTZ)), 0.5)"
                ).alias(f"_med_{i}")
            )
    wide = times.agg(*aggs)
    rows = []
    for i, name in enumerate(step_names, start=1):
        rows.append(
            F.struct(
                F.lit(i).alias("step"),
                F.lit(name).alias("name"),
                F.col(f"_n_{i}").alias("n_converted"),
                (F.col(f"_med_{i}") / 1e6).alias("median_secs_from_start"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")
