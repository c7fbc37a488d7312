"""Turns-table source: the engine's primary input.

The engine's canonical input is a transcript table of shape
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` — the analog of the reference's raster stack
(tsraster/prep.py:101-113 ``image_to_array``: one GeoTIFF per time step
stacked into ``(rows, cols, t)``). Here an Iceberg/Parquet scan of the
turns table *is* the stack; nothing is materialized driver-side.

Two deterministic providers:

- :func:`derive_turns_from_events` maps the sandbox ``events`` parquet
  onto the turns schema 1:1 (each user's event stream becomes one
  conversation). Used by the driver-facing correctness queries so the
  DuckDB oracle can apply the *identical* derivation to the same parquet.
- :mod:`ts_raster_spark.datagen` synthesizes turns at arbitrary scale
  (seeded, gap-injecting, skewed) for pytest and the bench harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

TURNS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# The event_type → (role, tool) mapping. Purely arithmetic/CASE logic so
# the DuckDB oracle (ts_raster_spark/sql/oracle_prefix.py) can reproduce
# it byte-for-byte.
_ROLE_CASE = """
    CASE event_type
        WHEN 'click' THEN 'user'
        WHEN 'view' THEN 'assistant'
        WHEN 'purchase' THEN 'tool'
        WHEN 'signup' THEN 'system'
        ELSE 'assistant'
    END
"""

_TOOL_CASE = """
    CASE WHEN event_type = 'purchase' THEN
        CASE event_id % 4
            WHEN 0 THEN 'search' WHEN 1 THEN 'code'
            WHEN 2 THEN 'browser' ELSE 'calc'
        END
    END
"""


def derive_turns_from_events(events: DataFrame) -> DataFrame:
    """Deterministically recast the events stream as transcript turns.

    One conversation per ``user_id``; turn order is ``(ts, event_id)``
    (``event_id`` breaks timestamp ties deterministically — the analog of
    the reference's stable lexical column sort, tsraster/prep.py:136).
    The per-turn ``text`` is a pure function of (conv_id, turn_idx,
    props) so the per-turn text-equality invariant is checkable
    byte-for-byte after any shuffle.

    Carries ``value`` (the event's numeric payload) as an extra numeric
    channel alongside the canonical six columns.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = events.select(
        # format_string does NOT truncate ids wider than 6 digits (lpad
        # would), so distinct users can never collide at larger scales
        F.format_string("conv-%06d", F.col("user_id").cast("long")).alias("conv_id"),
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("turn_idx"),
        F.expr(_ROLE_CASE).alias("role"),
        F.col("props").alias("_props"),
        F.expr(_TOOL_CASE).alias("tool"),
        F.col("ts"),
        F.col("value"),
    )
    return base.select(
        "conv_id",
        "turn_idx",
        "role",
        F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string"), F.col("_props")).alias("text"),
        "tool",
        "ts",
        "value",
    )
