"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

- :func:`cosine_topk_bruteforce` — exact top-k neighbors via a
  broadcast join of the (small) query set against all vectors; the dot
  product runs JVM-side with ``zip_with``/``aggregate`` higher-order
  functions (no Python in the loop). The 100 TB shape: queries
  broadcast, corpus scanned once, per-partition top-k via window.
- :func:`signlsh_topk` — the scale path: bucket vectors by the sign
  pattern of their first ``n_planes`` coordinates (axis-aligned sign
  LSH — deterministic and oracle-reproducible; swap the plane set for
  seeded Gaussians in production), then search only within the bucket.

Cosines are rounded to 4 decimals *before* ranking so ranking ties are
broken identically (by vec_id) in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts_raster_spark.functions.norm import r4

DOT = "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)"
NORM = "sqrt(aggregate({c}, 0D, (acc, v) -> acc + cast(v as double) * cast(v as double)))"


def _with_cosine(pairs: DataFrame) -> DataFrame:
    return pairs.withColumn(
        "cosine",
        r4(F.expr(DOT) / (F.expr(NORM.format(c="a")) * F.expr(NORM.format(c="b")))),
    )


def cosine_topk_bruteforce(emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector."""
    q = emb.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("a")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("b"))
    pairs = F.broadcast(q).crossJoin(c).where(F.col("query_id") != F.col("neighbor_id"))
    scored = _with_cosine(pairs)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def sign_bucket(emb: DataFrame) -> DataFrame:
    """Bucket id from the sign bits of the first 8 coordinates."""
    expr = " + ".join(
        f"CASE WHEN cast(element_at(embedding, {i + 1}) as double) >= 0 THEN {2**i} ELSE 0 END"
        for i in range(8)
    )
    return emb.withColumn("bucket", F.expr(expr).cast("int"))


def cosine_near_dup_blocked(emb: DataFrame, threshold: float = 0.95, n_bands: int = 2) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking — the
    production default. Vectors are bucketed by the sign pattern of
    n_planes = 8 coordinates, ``n_bands`` times over disjoint coordinate
    sets (band b uses coordinates b·n_planes..(b+1)·n_planes−1); a pair
    is a candidate iff it collides in ANY band. Exact cosine + threshold
    runs only within buckets, so the join is O(Σ bucket²), never O(n²).

    High-cosine pairs agree on most coordinate signs, so multi-band
    collision recall rises with n_bands; recall vs the exact operator is
    pytest-asserted (tests). Deterministic axis-aligned planes keep it
    SQL-reproducible; swap seeded Gaussians in for production variety.
    """
    n_planes = 8
    bands = []
    for b in range(n_bands):
        expr = " + ".join(
            f"CASE WHEN cast(element_at(embedding, {b * n_planes + i + 1}) as double) >= 0 THEN {2**i} ELSE 0 END"
            for i in range(n_planes)
        )
        bands.append(
            emb.select(
                "vec_id",
                F.lit(b).alias("band"),
                F.expr(expr).cast("int").alias("bucket"),
            )
        )
    all_bands = bands[0]
    for x in bands[1:]:
        all_bands = all_bands.unionByName(x)
    a = all_bands.alias("a")
    b_ = all_bands.alias("b")
    cand = (
        a.join(b_, ["band", "bucket"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("b"))
    pairs = cand.join(ea, "vec_a").join(eb, "vec_b")
    return (
        _with_cosine(pairs)
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def cosine_near_dup_pairs(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    cosine ≥ threshold. EXACT all-pairs — the oracle-parity / recall
    baseline only. The production path is
    :func:`cosine_near_dup_blocked` (sign-LSH buckets bound the join);
    this O(n²) cross join must never run at corpus scale."""
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("a"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("b"))
    pairs = a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
    return (
        _with_cosine(pairs)
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def kmeans_ivf(emb: DataFrame, n_cells: int = 16):
    """IVF coarse quantizer: pyspark.ml KMeans (seed 42, at most 10
    iterations) over the vectors; returns
    (model, assignments DataFrame with a ``cell`` column). The ANN scale
    path: search only the query's nearest ``nprobe`` cells."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = emb.withColumn("fv", array_to_vector(F.col("embedding").cast("array<double>")))
    model = KMeans(k=n_cells, seed=42, maxIter=10, featuresCol="fv").fit(data)
    assigned = model.transform(data).withColumnRenamed("prediction", "cell").drop("fv")
    return model, assigned


def ivf_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, n_cells: int = 16, nprobe: int = 4
) -> DataFrame:
    """Approximate top-k via IVF: for each query, rank its vector against
    candidates in the ``nprobe`` nearest cells only."""
    import numpy as np

    model, assigned = kmeans_ivf(emb, n_cells=n_cells)
    centers = np.vstack([c for c in model.clusterCenters()])
    q_rows = assigned.where(F.col("vec_id").isin(query_ids)).select("vec_id", "embedding").collect()
    probe = []
    for r in q_rows:
        v = np.asarray(r["embedding"], dtype=float)
        d = ((centers - v) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:nprobe]:
            probe.append((r["vec_id"], int(cell)))
    spark = emb.sparkSession
    probe_df = spark.createDataFrame(probe, "query_id long, cell int")
    q = assigned.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("a")
    )
    cand = assigned.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("b"), "cell")
    pairs = (
        F.broadcast(probe_df.join(q, "query_id"))
        .join(cand, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = _with_cosine(pairs)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def signlsh_topk(emb: DataFrame, query_ids: list[int], k: int = 3) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket (:func:`sign_bucket`; then exact cosine within the bucket)."""
    b = sign_bucket(emb)
    q = b.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("a"), "bucket"
    )
    c = b.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("b"), "bucket")
    pairs = F.broadcast(q).join(c, "bucket").where(F.col("query_id") != F.col("neighbor_id"))
    scored = _with_cosine(pairs)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def embedding_quantize(emb: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4×
    storage/bandwidth cut a 100 TB vector corpus takes before ANN
    serving (scale = max|x|/127 per vector, q_i = clamp(round(x_i/scale))
    — the standard absmax scheme, public in every quantization paper).

    Everything runs JVM-side with higher-order array functions (zero
    UDF, zero shuffle — pure map over the scan). The quantized vector
    itself is attested through a position-weighted integer checksum
    (sum_i (i+1)*q_i) so the oracle comparison covers every element
    without hashing an array column; reconstruction quality is reported
    as max-abs error and MSE of dequantized vs original.

    Output: (vec_id, scale, q_checksum, max_abs_err, mse).
    """
    idx = "sequence(1, size(embedding))"
    x = "cast(element_at(embedding, i) as double)"
    max_abs = F.expr(
        "aggregate(embedding, 0D, (acc, v) -> greatest(acc, abs(cast(v as double))))"
    )
    out = emb.select("vec_id", "embedding", max_abs.alias("max_abs"))
    out = out.withColumn("scale", F.col("max_abs") / F.lit(127.0))
    q = (
        f"CASE WHEN scale > 0 THEN "
        f"greatest(-127L, least(127L, cast(floor({x} / scale + 0.5D) as long))) "
        f"ELSE 0L END"
    )
    out = out.withColumn("qarr", F.expr(f"transform({idx}, i -> {q})"))
    err = f"abs({x} - cast(element_at(qarr, i) as double) * scale)"
    out = out.withColumn("errarr", F.expr(f"transform({idx}, i -> {err})"))
    return out.select(
        "vec_id",
        r4(F.col("scale")).alias("scale"),
        F.expr(
            "aggregate(sequence(1, size(qarr)), 0L, (acc, i) -> acc + i * element_at(qarr, i))"
        ).alias("q_checksum"),
        r4(F.expr("aggregate(errarr, 0D, (acc, v) -> greatest(acc, v))")).alias("max_abs_err"),
        r4(
            F.expr("aggregate(errarr, 0D, (acc, v) -> acc + v * v)") / F.size("errarr")
        ).alias("mse"),
    )
