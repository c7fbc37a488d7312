"""Retention policies + late-data merge: the 'retention engine' half of
the north rule.

- :func:`merge_late_turns` — rows arriving for already-rolled buckets
  are handled by an idempotent MERGE keyed ``(conv_id, kind,
  bucket_start)`` (SURVEY.md §2.9): recompute exactly the affected
  buckets from raw+late and upsert them; untouched buckets' rows are
  byte-identical. With Iceberg this is a literal ``MERGE INTO``; on the
  parquet shim it is anti-join + union + bucket-wise dynamic overwrite —
  the same observable semantics.
- :func:`apply_retention` — TTL enforcement per tier: drop buckets older
  than the policy cutoff (explicit ``now`` parameter — retention is a
  deterministic function of policy and clock, never of wall-clock
  inside the job). Coarser tiers keep history the finer tiers shed —
  the whole point of the cascade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_raster_spark.operators.rollup import rollup_simple_wide
from ts_raster_spark.sources.catalog import ParquetTierCatalog


def upsert_convs(tier: DataFrame, recomputed: DataFrame, affected: DataFrame) -> DataFrame:
    """The MERGE body: ``tier`` with the ``affected`` conversations'
    rows replaced by ``recomputed`` (anti-join + union — the Iceberg
    ``MERGE INTO`` stand-in)."""
    return tier.join(F.broadcast(affected), "conv_id", "left_anti").unionByName(recomputed)


def merge_late_turns(
    spark: SparkSession,
    cat: ParquetTierCatalog,
    tier_table: str,
    tier: str,
    all_turns: DataFrame,
    late_turns: DataFrame,
    kinds: tuple[str, ...] | None = None,
) -> dict:
    """Upsert late-arriving turns into an existing tier table.

    ``all_turns`` must include the late rows (the raw table after the
    late append); only buckets the late rows touch are recomputed.
    ``kinds=None`` infers the channel set from the EXISTING tier table,
    so a merge can never widen a kinds-restricted table's channel set.
    Returns {affected_buckets, rows_before, rows_after}.
    """
    existing = cat.read(spark, tier_table)
    rows_before = existing.count()
    if kinds is None:
        kinds = tuple(r[0] for r in existing.select("kind").distinct().collect())

    # A late turn changes its own bucket for every channel, and (via the
    # latency channel) the FOLLOWING turn's bucket; recompute the whole
    # conversation-bucket set touched by the late conv_ids' affected
    # range. Conservative and cheap: affected = all buckets of the late
    # conversations (a conversation is tiny relative to the table).
    affected_convs = late_turns.select("conv_id").distinct()
    raw_affected = all_turns.join(F.broadcast(affected_convs), "conv_id", "left_semi")
    recomputed = rollup_simple_wide(raw_affected, tier, channels=kinds or None)

    # localCheckpoint truncates lineage so the table path can be
    # overwritten while it is also the read source (Iceberg MERGE does
    # this transactionally; the shim materializes first).
    merged = upsert_convs(existing, recomputed, affected_convs).localCheckpoint()
    cat.write(merged, tier_table)
    out = cat.read(spark, tier_table)
    return {
        "affected_convs": affected_convs.count(),
        "rows_before": rows_before,
        "rows_after": out.count(),
    }


def within_ttl(df: DataFrame, ttl: str, now: Column) -> DataFrame:
    """The TTL rule: keep ``df``'s buckets with ``bucket_start >= now -
    INTERVAL ttl`` (the cutoff bucket itself is kept)."""
    return df.where(F.col("bucket_start") >= now - F.expr(f"INTERVAL {ttl}"))


def apply_retention(
    spark: SparkSession,
    cat: ParquetTierCatalog,
    policies: dict[str, str | None],
    now: str,
) -> dict:
    """Enforce TTLs: for each tier table with a policy like '7 days',
    drop buckets with ``bucket_start < now - ttl`` (:func:`within_ttl`);
    ``None`` keeps everything. Returns rows dropped per tier."""
    dropped: dict[str, int] = {}
    for table, ttl in policies.items():
        if ttl is None:
            dropped[table] = 0
            continue
        df = cat.read(spark, table)
        before = df.count()
        kept = within_ttl(df, ttl, F.to_timestamp(F.lit(now))).localCheckpoint()
        cat.write(kept, table, full=True)
        dropped[table] = before - cat.read(spark, table).count()
    return dropped
