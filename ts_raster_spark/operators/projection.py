"""Johnson-Lindenstrauss random projection for embedding columns —
the dimensionality-reduction scale path in front of ANN / near-dup
search (Achlioptas 2003, "Database-friendly random projections": the
±1 sign matrix variant, public; JL lemma guarantees pairwise-distance
preservation within (1±eps) for k = O(log n / eps^2)).

Reference parity: none (the reference has no embedding surface); this
extends the engine's similarity family (brute / sign-LSH / IVF cosine,
int8 quantization) with the standard pre-reduction that makes
downstream LSH banding and IVF cells cheaper at 100 TB: project
d=64 -> k=16 once at scan speed, then index the short vectors.

Determinism / exactness: the sign matrix is derived from md5(i|j)
(first hex nibble < 8 -> +1 else -1) at PLAN-BUILD time, so the
"random" matrix is a pure function of (d, k, seed) — identical on
every host, every round, and replayable in DuckDB.  Each output
coordinate is emitted as an explicit left-associated sum
``(+-e[0]) + (+-e[1]) + ...`` with each element cast to DOUBLE first:
both engines evaluate the identical IEEE operation sequence, so the
projection is BIT-EXACT cross-engine (the gate twin would pass even
without the r4 contract).

Spark shape / 100 TB: pure Catalyst column arithmetic — no UDF, no
explode, no shuffle, no sign-matrix join; whole-stage codegen folds
the d*k multiply-adds into the scan projection, and column pruning
reads only the embedding column.  (The explode + broadcast-sign-join
formulation multiplies rows d*k-fold through a shuffle; generating
the expressions instead keeps the operator at scan speed.)
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def jl_signs(d: int, k: int, seed: str = "jl") -> list[list[int]]:
    """The deterministic ±1 sign matrix, signs[j][i] for output dim j:
    +1 iff the first hex nibble of md5(f"{seed}|{i}|{j}") < 8."""
    return [
        [
            1 if int(hashlib.md5(f"{seed}|{i}|{j}".encode()).hexdigest()[0], 16) < 8 else -1
            for i in range(d)
        ]
        for j in range(k)
    ]


def _sum_expr(vec_sql: str, signs_row: list[int], one_indexed: bool) -> str:
    """Left-associated ±element sum — the SAME text for both engines
    modulo array indexing base."""
    terms = []
    for i, s in enumerate(signs_row):
        idx = i + 1 if one_indexed else i
        e = f"CAST({vec_sql}[{idx}] AS DOUBLE)"
        terms.append(e if s > 0 else f"(- {e})")
    # a + b + c parses left-associative in Spark and DuckDB alike, and
    # adding a negated double is the identical IEEE op to subtracting
    return " + ".join(terms)


def random_projection(df: DataFrame) -> DataFrame:
    """Append the k = 16 projected coordinates ``p0..p15`` of the d = 64
    ``embedding`` column, signs seeded ``"jl"`` (the defaults of
    :func:`projection_sql`): unscaled ±1 sums; downstream cosine/LSH is
    scale-invariant, and callers needing the isometry multiply by
    1/sqrt(k)."""
    d, k = 64, 16
    signs = jl_signs(d, k)
    cols = [
        F.expr(_sum_expr("embedding", signs[j], one_indexed=False)).alias(f"p{j}")
        for j in range(k)
    ]
    return df.select("*", *cols)


def projection_sql(
    vec_sql: str,
    d: int = 64,
    k: int = 16,
    seed: str = "jl",
) -> list[str]:
    """The DuckDB-side (1-indexed) bare expressions for the identical
    projection — bit-exact twin of :func:`random_projection`; callers
    alias/normalize per their output contract."""
    signs = jl_signs(d, k, seed)
    return [_sum_expr(vec_sql, signs[j], one_indexed=True) for j in range(k)]
