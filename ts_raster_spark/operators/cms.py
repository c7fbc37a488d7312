"""Count-Min sketch: mergeable frequency estimation for ANY item, not
just heavy hitters (Cormode & Muthukrishnan, J. Algorithms 2005 —
public).  Completes the sketch family: HLL (distinct counts), KLL
(rank/quantiles), MG (top-k heavy hitters), KMV (set algebra) — CMS
answers "how often did THIS url/n-gram/tool appear" for arbitrary
probe items from d*w counters per bucket, with the one-sided
guarantee  exact <= estimate <= exact + eps*N  (eps = e/w, failure
probability e^-d over the hash draw).

Reference parity: the reference has no sketch tier at all (eager
pandas value_counts); this is engine infrastructure the north rule's
tier store needs at 10^12 turns, where per-item exact counting of
unbounded-cardinality columns is its own shuffle.

Engine-neutral determinism (the same design as functions/hllsql and
kmvsql): row hash = first 8 hex nibbles of md5(item || '|' || row) as
a 32-bit integer, position = hash % w.  Every expression is integer
CASE/compare arithmetic that Spark (F.expr) and DuckDB parse
identically, so the ESTIMATES replay bit-for-bit cross-engine — CMS
gate queries get EXACT value-hash twins, not claim oracles.

Spark shape / 100 TB:
- build: one hash aggregate over (bucket, row, pos) after a d-way
  generator explode — partial aggregation (map-side combine) bounds
  the shuffle at <= d*w cell rows per bucket per map partition,
  REGARDLESS of item cardinality.  This is the property MG's capped
  partials had to work for; CMS has it by construction.
- merge across partitions/tiers: cell-wise SUM (associative), so
  minute cells roll to hour/day exactly like the exact tiers.
- estimate: probes explode d ways and equi-join the cells table on
  (bucket, row, pos); cells are tiny (d*w rows/bucket) and broadcast
  when the bucket count is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.functions.hllsql import hash32_expr, md5_expr

D = 4        # hash rows: failure probability e^-4 ~ 1.8%
W = 256      # counters per row: eps = e/256 ~ 1.1% of bucket mass


def _pos_expr(md5_col: str, w: int) -> str:
    """``hash32 % w`` reading only the md5 nibbles that can influence it.

    When ``w`` is a power of two (the default 256), ``x % w`` depends
    only on the low ``log2(w)`` bits of x, i.e. the LAST
    ``ceil(log2(w)/4)`` of the 8 hex nibbles — for w=256 that is 2
    nibble parses per row instead of 8 (the value is identical because
    16^k divides the dropped terms).  Non-power-of-two widths
    fall back to the full 32-bit unpacking.
    """
    if w > 1 and (w & (w - 1)) == 0 and w <= (1 << 32):
        n_bits = w.bit_length() - 1
        n_nibs = max(1, -(-n_bits // 4))  # ceil(n_bits / 4)
        terms = [
            f"(CAST(instr('0123456789abcdef', substr({md5_col}, {8 - i}, 1)) - 1 AS BIGINT)"
            f" * {16 ** i})"
            for i in range(n_nibs)
        ]
        return f"(({' + '.join(terms)}) % {w})"
    return f"({hash32_expr(md5_col)} % {w})"


def _with_pos(df: DataFrame, item_sql: str, d: int, w: int) -> DataFrame:
    """Explode d hash rows and attach the (row, pos) cell coordinates.

    The md5 is materialized ONCE per (item, row) before the nibble
    unpacking reads it (``_pos_expr`` reads 2-8 nibbles).
    """
    return (
        df.select("*", F.explode(F.array([F.lit(i) for i in range(d)])).alias("row"))
        .withColumn(
            "_h", F.expr(md5_expr(f"concat({item_sql}, '|', CAST(row AS STRING))"))
        )
        .withColumn("pos", F.expr(f"CAST({_pos_expr('_h', w)} AS INTEGER)"))
        .drop("_h")
    )


def cms_build(
    df: DataFrame,
    item_col: str,
    tier: str = "hour",
    d: int = D,
    w: int = W,
) -> DataFrame:
    """Build per-bucket CMS cells: (bucket_start, row, pos, c), bucketed
    on ``ts``.

    One generator explode (d rows per item occurrence) + one hash
    aggregate; partial aggregation caps the shuffle at d*w rows per
    bucket per map partition.  Zero-count cells are implicit (the
    estimator coalesces misses to 0), so storage is min(d*w, d*n_items)
    rows per bucket.
    """
    base = df.select(
        F.date_trunc(tier, F.col("ts")).alias("bucket_start"),
        F.col(item_col).cast("string").alias("_item"),
    ).where(F.col("_item").isNotNull())
    return (
        _with_pos(base, "_item", d, w)
        .groupBy("bucket_start", "row", "pos")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def cms_merge(cells: DataFrame, tier: str = "day") -> DataFrame:
    """Roll cells up a tier (e.g. hour -> day): cell-wise SUM — the
    mergeable-summaries reduction, <= d*w rows move per output bucket."""
    return (
        cells.groupBy(
            F.date_trunc(tier, F.col("bucket_start")).alias("bucket_start"),
            "row",
            "pos",
        )
        .agg(F.sum("c").alias("c"))
    )


def cms_estimate(
    cells: DataFrame,
    probes: DataFrame,
    d: int = D,
    w: int = W,
) -> DataFrame:
    """Point-frequency estimates for ``probes`` (bucket_start, item):
    min over the d rows of the item's cell counters.

    Returns (bucket_start, item, est).  est >= exact always (every
    occurrence of the item incremented all d of its cells); est <=
    exact + eps*N with probability 1 - e^-d over the hash draw.
    """
    p = _with_pos(
        probes.select("bucket_start", F.col("item").cast("string").alias("_item")),
        "_item",
        d,
        w,
    )
    return (
        p.join(cells, ["bucket_start", "row", "pos"], "left")
        .groupBy("bucket_start", F.col("_item").alias("item"))
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )
