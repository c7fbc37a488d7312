"""Retention rules: the late-data MERGE body and the TTL cutoff.

- :func:`merge_late` — rows arriving for already-rolled buckets are
  handled by an idempotent MERGE keyed ``(conv_id, kind, bucket_start)``
  (SURVEY.md §2.9): the conversations that hold a late turn are rebuilt
  from all of their turns and replace their on-time rows; every other
  conversation's rows are untouched. With Iceberg this is a literal
  ``MERGE INTO``; here it is anti-join + union, the same observable
  semantics.
- :func:`within_ttl` — the TTL rule: drop buckets older than the policy
  cutoff. ``now`` is a Column, never wall clock inside the job, so
  retention is a deterministic function of policy and data.

Stored tier tables take late turns through the tier job instead: re-run
:func:`~ts_raster_spark.jobs.run_rollup_job` over all turns into the same
root, and only the checkpoint slices whose input changed recompute.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_late(turns: DataFrame, is_late: Column, build: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """The MERGE of the ``is_late`` turns: ``build`` over the on-time
    turns, with the rows of every conversation that holds a late turn
    replaced by ``build`` over all of that conversation's turns. Equals
    ``build(turns)`` when ``build`` is per conversation.

    A late turn changes its own bucket for every channel and, through the
    latency channel, the following turn's bucket; rebuilding the whole
    conversation covers both (a conversation is tiny next to the table).
    """
    affected = turns.where(is_late).select("conv_id").distinct()
    recomputed = build(turns.join(F.broadcast(affected), "conv_id", "left_semi"))
    ontime = build(turns.where(~is_late))
    return ontime.join(F.broadcast(affected), "conv_id", "left_anti").unionByName(recomputed)


def within_ttl(df: DataFrame, ttl: str, now: Column) -> DataFrame:
    """The TTL rule: keep ``df``'s buckets with ``bucket_start >= now -
    INTERVAL ttl`` (the cutoff bucket itself is kept)."""
    return df.where(F.col("bucket_start") >= now - F.expr(f"INTERVAL {ttl}"))
