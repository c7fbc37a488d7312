"""Pure-Catalyst Bloom filter: broadcastable membership pre-filter.

Beyond-reference capability (task brief: large-scale training-data
pipeline ops). The classic 100 TB pattern for "filter a huge corpus
against a reference key set": when the reference set is too large to
broadcast as raw strings but its ~10-bits-per-key Bloom bitmap is not
(40-100x smaller), broadcast the bitmap, prune the corpus at scan
speed with zero shuffle and zero Python, and run the exact confirm
join only on the surviving candidates. No false negatives, so a
composition `bloom-prune -> exact semi-join` returns EXACTLY the same
rows as the exact join alone — the bitmap only shrinks the shuffle.
Spark's own runtime row-level filtering (InjectRuntimeFilter,
SPARK-32268) uses the same trick below the API; this operator makes it
available above it, under the caller's control.

Construction (all Catalyst, deterministic across hosts):

- k hash positions per key: ``pmod(xxhash64(i, key), m)`` for
  i = 0..k-1 (seed folded in as a first hash argument — the public
  ``xxhash64`` SQL function is variadic and deterministic).
- Build: explode the k positions, map to (block = pos div 64,
  mask = 1L << (pos % 64)), ``bit_or`` the masks per block, and pack
  the sparse blocks into ONE row holding a ``map<long, long>``. The
  aggregation runs over the (small) reference side only; the map is
  at most m/64 entries (m = 2^20 -> <=16384 entries, ~256 KiB).
- Probe: broadcast the 1-row bitmap (BroadcastNestedLoopJoin of the
  intended 1-row scalar shape), then a static conjunction of k
  ``element_at(bloom_map, block_i) & mask_i != 0`` bit tests — whole
  -stage-codegen'd, no per-row Python, no shuffle added to the probe
  side.

False-positive rate is the textbook (1 - e^{-kn/m})^k (Bloom 1970);
with the defaults (m = 2^20, k = 5) a 100k-key reference set sits at
~2.2%. Choose ``m_bits ~= 10 * n_keys`` and ``k ~= 7`` for ~1%.

Reference parity: the reference engine has no Bloom surface; this is
engine-added scale infrastructure like the HLL/KLL/MG sketch family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _positions(col: str, m_bits: int, k_hashes: int) -> list[str]:
    """SQL expressions for the k bit positions of ``col``."""
    return [
        f"pmod(xxhash64({i}L, {col}), {m_bits}L)" for i in range(k_hashes)
    ]


def bloom_build(
    keys: DataFrame, col: str, m_bits: int = 1 << 20, k_hashes: int = 5
) -> DataFrame:
    """Aggregate the key set into a one-row Bloom bitmap.

    Returns a single-row DataFrame ``(bloom_map map<long,long>)`` of
    64-bit blocks keyed by block index (sparse: all-zero blocks are
    absent). Deterministic: same key multiset -> same map.
    """
    masks = []
    for pos in _positions(col, m_bits, k_hashes):
        masks.append(
            F.expr(
                f"named_struct('block', cast({pos} div 64 as long), "
                f"'mask', shiftleft(1L, cast({pos} % 64 as int)))"
            )
        )
    blocks = (
        keys.select(F.explode(F.array(*masks)).alias("pm"))
        .select(F.col("pm.block").alias("block"), F.col("pm.mask").alias("mask"))
        .groupBy("block")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    return blocks.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("block"), F.col("bits")))
        ).alias("bloom_map")
    )


def bloom_might_contain(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """Add boolean ``bloom_might_contain``: true iff ``col`` may be in
    the built set.

    No false negatives (a built key always tests true). The bitmap
    joins in as a broadcast 1-row relation; the probe side gains no
    exchange and stays inside whole-stage codegen.
    """
    tests = []
    for pos in _positions(col, m_bits, k_hashes):
        block = f"cast({pos} div 64 as long)"
        mask = f"shiftleft(1L, cast({pos} % 64 as int))"
        tests.append(
            f"(coalesce(element_at(bloom_map, {block}), 0L) & {mask}) != 0L"
        )
    probe = df.crossJoin(F.broadcast(bloom))
    return probe.withColumn("bloom_might_contain", F.expr(" AND ".join(tests))).drop(
        "bloom_map"
    )


def decontaminate_ngrams_bloom(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination with a Bloom-pruned overlap probe; a
    document is contaminated at an overlap fraction >= 0.1.

    Identical output to :func:`~ts_raster_spark.operators.dedup.
    decontaminate_ngrams` (same columns, same rows — the bitmap only
    prunes the candidate set ahead of the exact semi-join), but at
    100 TB the training-side (doc_id, ngram) stream is filtered at
    scan speed by the broadcast bitmap, so the confirm join moves
    ~FPR of the clean mass instead of all of it. Use when the
    benchmark n-gram set is too big to broadcast raw but its bitmap
    is not (the typical multi-benchmark suite at 10^8-10^9 grams).
    """
    from ts_raster_spark.operators.dedup import doc_ngrams

    tr = doc_ngrams(train, n)
    bench = doc_ngrams(benchmark, n).select("ngram").distinct()
    sizes = tr.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_ngrams")
    )
    bloom = bloom_build(bench, "ngram")
    candidates = (
        bloom_might_contain(tr, "ngram", bloom)
        .where(F.col("bloom_might_contain"))
        .drop("bloom_might_contain")
    )
    hits = (
        candidates.join(bench, "ngram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    from ts_raster_spark.functions.norm import r4

    out = sizes.join(hits, "doc_id", "left").fillna({"n_overlap": 0})
    frac = F.col("n_overlap") / F.col("n_ngrams")
    return out.select(
        "doc_id",
        "n_ngrams",
        "n_overlap",
        r4(frac).alias("overlap_frac"),
        (frac >= 0.1).cast("int").alias("contaminated"),
    )
