"""Deterministic synthetic turns generator (FIXTURES.md F1).

Fully distributed: built from ``spark.range`` + hash-seeded arithmetic —
no driver-side data, no wall-clock, no RNG state. The same
(n_convs, seed) always produces byte-identical rows at any parallelism,
which is what lets the bench harness run the identical input at
``local[8]`` vs ``local[32]`` and attribute throughput deltas to
parallelism alone.

Shapes generated:
- seeded per-conversation length in [min_turns, max_turns],
- seeded inter-turn gaps 1 s – 45 min with injected missing
  minute-buckets (gap-fill fixtures),
- one optional mega-conversation holding ~skew_pct of all rows (the
  skew/salting path, SURVEY.md §4),
- deterministic role cycle / tool assignment / text payload so the
  per-turn text-equality invariant is checkable byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EPOCH0 = "2024-01-01 00:00:00"


def _h(*cols) -> F.Column:
    """Deterministic non-negative 63-bit hash of the given columns."""
    return F.abs(F.xxhash64(*cols))


def gen_turns(
    spark: SparkSession,
    n_convs: int = 1000,
    min_turns: int = 3,
    max_turns: int = 60,
    seed: int = 42,
    mega_conv_turns: int = 0,
) -> DataFrame:
    """Generate the F1 turns table.

    Column contracts (FIXTURES.md F1): conv_id ``conv-{i:06d}``; dense
    turn_idx; role cycles over {user, assistant, system, tool} with a
    conv-seeded phase; tool non-null iff role='tool'; ts = conv-seeded
    start + cumulative seeded gaps; text = f(conv_id, turn_idx).
    """
    s = F.lit(seed)
    convs = spark.range(n_convs).select(
        F.col("id").alias("conv_no"),
        (
            F.lit(min_turns)
            + _h(F.col("id"), F.lit("len"), s) % (max_turns - min_turns + 1)
        ).alias("n_turns"),
    )
    if mega_conv_turns > 0:
        convs = convs.withColumn(
            "n_turns",
            F.when(F.col("conv_no") == 0, F.lit(mega_conv_turns)).otherwise(F.col("n_turns")),
        )
    turns = convs.select(
        "conv_no",
        F.explode(F.sequence(F.lit(0), (F.col("n_turns") - 1).cast("int"))).alias("turn_idx"),
    )
    # Seeded start offset (0..30 days, seconds) + per-turn gap: mostly
    # conversational cadence (1..60 s), with ~1/13 of turns jumping
    # 10..45 min — the FIXTURES.md F1 "1 s – 45 min" envelope, leaving
    # empty minute buckets between turns for the gap-fill fixtures.
    gap = 1 + _h(F.col("conv_no"), F.col("turn_idx"), F.lit("gap"), s) % 60
    jump = F.when(
        _h(F.col("conv_no"), F.col("turn_idx"), F.lit("jump"), s) % 13 == 0,
        600 + _h(F.col("conv_no"), F.col("turn_idx"), F.lit("jsz"), s) % 2100,
    ).otherwise(F.lit(0))
    start = _h(F.col("conv_no"), F.lit("start"), s) % (30 * 86400)
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool"))
    tools = F.array(F.lit("search"), F.lit("code"), F.lit("browser"), F.lit("calc"))
    phase = _h(F.col("conv_no"), F.lit("phase"), s) % 4

    w_cum = F.sum(gap + jump).over(Window.partitionBy("conv_no").orderBy("turn_idx"))
    out = (
        turns.withColumn("offset_s", start + w_cum)
        .select(
            F.format_string("conv-%06d", F.col("conv_no")).alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.element_at(roles, ((F.col("turn_idx") + phase) % 4 + 1).cast("int")).alias("role"),
            F.col("conv_no"),
            F.col("offset_s"),
        )
        .withColumn(
            "tool",
            F.when(
                F.col("role") == "tool",
                F.element_at(tools, (_h(F.col("conv_no"), F.col("turn_idx"), F.lit("tool"), s) % 4 + 1).cast("int")),
            ),
        )
        .withColumn(
            "text",
            F.concat_ws(
                ":",
                F.col("conv_id"),
                F.col("turn_idx").cast("string"),
                F.repeat(
                    F.lit("lorem "),
                    (_h(F.col("conv_no"), F.col("turn_idx"), F.lit("txt"), s) % 40 + 1).cast("int"),
                ),
            ),
        )
        .withColumn(
            "ts",
            F.timestamp_seconds(
                F.unix_timestamp(F.lit(EPOCH0).cast("timestamp")) + F.col("offset_s")
            ),
        )
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    return out
