"""Deduplication suite over the ``documents`` table.

Beyond-reference capability (task brief: large-scale training-data
pipeline ops). Every variant is deterministic and cross-engine
reproducible — hashing is md5-over-strings so the DuckDB oracle can
replay it bit-for-bit:

- exact        — md5(text) group key (hash-groupBy)
- ngram Jaccard— word 3-gram shingle sets, exact pairwise J via a
                 shingle-inverted-index self-join (the classic
                 shingle→doc explode, join on shingle, count
                 intersections — no O(n²) cross join)
- MinHash+LSH  — k=8 signatures = min md5("i:"+shingle); bands of 2
                 rows → 4 band keys; candidate pairs share a band
                 bucket (banding theory from Broder / MMDS, public)
- SimHash      — 16-bit sign-aggregated token hash (Charikar, public)

Scale notes: the shingle join shuffles on the shingle key — high
cardinality, naturally balanced; stop-shingle skew (a shingle shared by
thousands of docs) is bounded by dropping shingles with document
frequency above 1000 (standard practice). LSH band join groups by
band key — the whole point is that buckets are small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.functions.norm import r4

TOKENIZE = "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
SHINGLES = (
    "transform(sequence(0, size(tokens) - 3), "
    "i -> concat_ws(' ', element_at(tokens, i + 1), element_at(tokens, i + 2), element_at(tokens, i + 3)))"
)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per content hash: group size + canonical (min) doc_id."""
    return (
        docs.select("doc_id", F.md5("text").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct pairs; docs shorter than 3 tokens drop."""
    return (
        docs.withColumn("tokens", F.expr(TOKENIZE))
        .where(F.size("tokens") >= 3)
        .withColumn("shingle", F.explode(F.expr(SHINGLES)))
        .select("doc_id", "shingle")
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Exact Jaccard over 3-gram shingle sets for every pair sharing ≥1
    shingle. Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    A document-frequency cap of 1000 bounds the self-join: a
    stop-shingle shared by d docs creates a d² join bucket, so shingles
    in more than 1000 documents are dropped on BOTH sides (they carry no
    near-dup signal — at J ≥ 0.2 true near-dups share many rarer
    shingles too).
    """
    sh = doc_shingles(docs)
    keep = sh.groupBy("shingle").count().where(F.col("count") <= 1000).select("shingle")
    sh = sh.join(keep, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("double").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", r4(F.col("jaccard")).alias("jaccard"))
    )
    return out


def minhash_signatures(docs: DataFrame, k: int = 8) -> DataFrame:
    """k MinHash signature columns mh0..mh{k-1}: min over shingles of
    md5(f"{i}:{shingle}") — lexicographic min over hex, identical in any
    engine with md5."""
    sh = doc_shingles(docs)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, k: int = 8, band_size: int = 2) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash: docs sharing any
    band bucket. Output distinct (doc_a, doc_b), doc_a < doc_b."""
    sig = minhash_signatures(docs, k)
    n_bands = k // band_size
    # one generator explode instead of an n_bands-way union of selects:
    # the union shape re-plans (and re-executes the final aggregation
    # of) the signature subtree once per band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    all_bands = sig.select("doc_id", F.explode(band_structs).alias("_b")).select(
        "doc_id", F.col("_b.band_key").alias("band_key"), F.col("_b.band").alias("band")
    )
    a = all_bands.alias("a")
    b_ = all_bands.alias("b")
    return (
        a.join(b_, ["band", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris et al. large-star round: for each node u, connect every
    strictly-larger neighbor to min(Γ(u) ∪ {u}). Input/output: directed
    edge list (u, v); output edges always point child → smaller parent."""
    both = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = both.groupBy("u").agg(F.min("v").alias("_mn"))
    # no .distinct() here: the consumer is _small_star, whose
    # min-aggregation is duplicate-insensitive and whose own terminal
    # .distinct() dedupes the round output — the intermediate dedup was
    # one avoidable exchange per round (duplicate multiplicity within a
    # round is bounded by node degree)
    return (
        both.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least(F.col("_mn"), F.col("u")).alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris et al. small-star round over child→parent edges
    (u > v invariant from large-star): for each u, connect u and all its
    parents to the minimum parent."""
    mins = e.groupBy("u").agg(F.min("v").alias("_m"))
    via_parents = (
        e.join(mins, "u")
        .where(F.col("v") != F.col("_m"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )
    self_edge = mins.select(F.col("u"), F.col("_m").alias("v"))
    return via_parents.unionByName(self_edge).distinct()


def connected_components_star(
    edges: DataFrame,
    all_nodes: DataFrame | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components over near-dup pair edges via alternating
    large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — the cluster step that turns
    pairwise dedup output into canonical groups (component id = min
    doc_id in the group; a pipeline keeps one doc per component).
    Converges in O(log n) rounds whatever the component diameter, so
    deep chains of pairwise near-dups cluster as well as shallow ones.

    ``edges`` holds one pair per row in ``doc_a``/``doc_b``. Every round
    is cut with ``localCheckpoint`` so lineage cannot grow across
    rounds. Convergence = the edge multiset is stable across a full
    (large, small) pair, detected with one count+hash aggregate per
    round; raises if that takes more than ``max_rounds`` — a
    non-converged labeling must never be consumed as correct. At the
    fixpoint edges form stars child → component-min; isolated
    ``all_nodes`` (one ``node`` column) become singleton components.
    Output: (node, component).
    """
    e = (
        edges.select(
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("u"),
            F.least(F.col("doc_a"), F.col("doc_b")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for _ in range(max_rounds):
        e = _small_star(_large_star(e)).localCheckpoint()
        sig_row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} rounds"
        )
    # at the fixpoint every child points directly at its component min;
    # roots and isolated nodes label themselves
    membership = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    nodes = membership.select("node").unionByName(
        e.select(F.col("v").alias("node"))
    )
    if all_nodes is not None:
        nodes = nodes.unionByName(all_nodes.select("node"))
    nodes = nodes.distinct()
    return (
        nodes.join(membership, "node", "left")
        .select("node", F.coalesce("comp", F.col("node")).alias("component"))
    )


def dedup_keep_canonical(docs: DataFrame) -> DataFrame:
    """The end-to-end near-dup dedup a training pipeline runs: MinHash-LSH
    candidate pairs (:func:`minhash_lsh_pairs`' defaults) → connected
    components (:func:`connected_components_star`) → keep exactly ONE
    document (the component minimum) per near-dup cluster, plus every
    untouched document.

    Output: the deduplicated corpus (all original columns) plus
    ``component`` and ``n_dups`` (cluster size the survivor represents).
    """
    pairs = minhash_lsh_pairs(docs)
    comp = connected_components_star(pairs, all_nodes=docs.select(F.col("doc_id").alias("node")))
    sizes = comp.groupBy("component").agg(F.count("*").cast("long").alias("n_dups"))
    keep = (
        comp.where(F.col("node") == F.col("component"))
        .join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "component", "n_dups")
    )
    return docs.join(keep, "doc_id")


def doc_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, ngram) distinct word n-gram pairs; docs shorter than n
    tokens drop. Generalization of :func:`doc_shingles` (n=3)."""
    ngrams = (
        f"transform(sequence(0, size(tokens) - {n}), "
        f"i -> concat_ws(' ', slice(tokens, i + 1, {n})))"
    )
    return (
        docs.withColumn("tokens", F.expr(TOKENIZE))
        .where(F.size("tokens") >= n)
        .withColumn("ngram", F.explode(F.expr(ngrams)))
        .select("doc_id", "ngram")
        .distinct()
    )


def decontaminate_ngrams(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    threshold: float = 0.1,
) -> DataFrame:
    """Benchmark decontamination (the n-gram overlap check every public
    LLM training pipeline runs — GPT-3 appendix C / PaLM / Llama use
    8-13 word grams; n is a knob): for each training document, the
    fraction of its distinct word n-grams that also occur anywhere in
    the benchmark set. Documents at or above ``threshold`` are flagged
    contaminated and dropped before training.

    Shape: both sides explode to (doc_id, ngram); the benchmark side is
    reduced to DISTINCT ngrams (small — benchmarks are tiny next to the
    corpus) and LEFT SEMI-joined against the training ngrams on the
    ngram key. At 100 TB the semi-join broadcasts when the benchmark
    fits (typical) and shuffle-joins on the high-cardinality balanced
    ngram key otherwise; either way no row of training text moves — only
    (doc_id, ngram) pairs. Output: (doc_id, n_ngrams, n_overlap,
    overlap_frac, contaminated).
    """
    tr = doc_ngrams(train, n)
    bench = doc_ngrams(benchmark, n).select("ngram").distinct()
    sizes = tr.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_ngrams"))
    hits = (
        tr.join(bench, "ngram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    out = sizes.join(hits, "doc_id", "left").fillna({"n_overlap": 0})
    frac = F.col("n_overlap") / F.col("n_ngrams")
    return out.select(
        "doc_id",
        "n_ngrams",
        "n_overlap",
        r4(frac).alias("overlap_frac"),
        (frac >= threshold).cast("int").alias("contaminated"),
    )


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash from the first 4 hex digits of md5(token), summed
    with multiplicity. Output: (doc_id, simhash16 int)."""
    toks = (
        docs.withColumn("tokens", F.expr(TOKENIZE))
        .where(F.size("tokens") >= 1)
        .withColumn("token", F.explode("tokens"))
        .select("doc_id", F.md5("token").alias("h"))
    )
    bit_scores = []
    for j in range(16):
        k = j // 4 + 1  # hex digit 1..4
        shift = 3 - (j % 4)
        hexval = F.expr(f"cast(conv(substring(h, {k}, 1), 16, 10) as int)")
        bit = F.floor(hexval / (2**shift)) % 2
        bit_scores.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    scored = toks.groupBy("doc_id").agg(*bit_scores)
    sim = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return scored.select("doc_id", sim.cast("int").alias("simhash16"))
