from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_jaccard_finds_planted_near_dups(spark, docs):
    from ts_raster_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, threshold=0.8).toPandas()
    assert len(pairs) > 0
    assert (pairs["jaccard"] >= 0.8).all()
    assert (pairs["doc_a"] < pairs["doc_b"]).all()


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates must contain every very-high-J pair (J>=0.9 with
    8 hashes / bands of 2 → P(candidate) ≈ 1-(1-0.9²)⁴ ≈ 0.999)."""
    from ts_raster_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    cand = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    assert exact, "fixture should contain planted near-dups"
    missed = exact - cand
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed {missed}"


def test_simhash_similar_docs_close(spark, docs):
    from ts_raster_spark.operators.dedup import ngram_jaccard_pairs, simhash16

    sim = {r.doc_id: r.simhash16 for r in simhash16(docs).collect()}
    near = ngram_jaccard_pairs(docs, threshold=0.95).collect()
    if near:
        hd = [bin(sim[r.doc_a] ^ sim[r.doc_b]).count("1") for r in near]
        assert sum(hd) / len(hd) <= 4, hd


def test_ann_bruteforce_sane(spark, emb):
    from ts_raster_spark.operators.similarity import cosine_topk_bruteforce

    out = cosine_topk_bruteforce(emb, [0, 1, 2]).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    for q in (0, 1, 2):
        sub = out[out.query_id == q].sort_values("rank")
        assert list(sub["rank"]) == [1, 2, 3, 4, 5]
        assert (sub["cosine"].diff().dropna() <= 0).all()
        assert (sub["cosine"].abs() <= 1.0 + 1e-9).all()


def test_ann_signlsh_subset_of_bucket(spark, emb):
    from ts_raster_spark.operators.similarity import sign_bucket, signlsh_topk

    out = signlsh_topk(emb, [0, 1], k=3).toPandas()
    buckets = {r.vec_id: r.bucket for r in sign_bucket(emb).collect()}
    for r in out.itertuples():
        assert buckets[r.query_id] == buckets[r.neighbor_id]


def test_lang_id_mostly_right_on_latin(spark, docs):
    from ts_raster_spark.operators.textstats import lang_id

    got = lang_id(docs).join(docs.select("doc_id", "lang"), "doc_id").toPandas()
    latin = got[got["lang"].isin(["en"])]
    acc = (latin["lang_pred"] == latin["lang"]).mean()
    assert acc > 0.7, acc


def test_connected_components_chain_and_singletons(spark):
    """The star solver converges on a chain (diameter > 1 forces
    multiple rounds) and carries isolated nodes as singletons."""
    from pyspark.sql import functions as F

    from ts_raster_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 11)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 99]], "node long")
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(edges, all_nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 10, 99: 99}

    # without all_nodes, only edge-touched nodes appear
    got2 = connected_components_star(edges)
    assert got2.count() == 7
    assert got2.where(F.col("node") == 99).count() == 0


def test_dedup_keep_canonical(spark):
    """End-to-end keep-one dedup: near-dup clusters keep exactly the
    min doc_id; untouched docs survive as singletons; n_dups accounts
    for every input row."""
    docs = spark.createDataFrame(
        [
            ("doc-a", "the quick brown fox jumps over the lazy dog again and again"),
            ("doc-b", "the quick brown fox jumps over the lazy dog again and again"),
            ("doc-c", "the quick brown fox jumps over the lazy dog again and again today"),
            ("doc-d", "completely different text about spark dataframe aggregation pipelines"),
        ],
        "doc_id string, text string",
    )
    from ts_raster_spark.operators.dedup import dedup_keep_canonical

    out = dedup_keep_canonical(docs).toPandas().set_index("doc_id")
    assert "doc-a" in out.index and "doc-d" in out.index
    assert "doc-b" not in out.index  # exact near-dup collapsed
    assert int(out["n_dups"].sum()) == 4
    assert int(out.loc["doc-d", "n_dups"]) == 1


def test_dedup_keep_canonical_deep_chain(spark, monkeypatch):
    """A 40-document chain of pairwise near-dups (diameter 39) collapses
    to its minimum document, which represents all 40."""
    from ts_raster_spark.operators import dedup

    ids = [f"doc-{i:02d}" for i in range(40)]
    docs = spark.createDataFrame([(d, f"text {d}") for d in ids], "doc_id string, text string")
    chain = spark.createDataFrame(list(zip(ids, ids[1:])), "doc_a string, doc_b string")
    monkeypatch.setattr(dedup, "minhash_lsh_pairs", lambda _docs: chain)

    out = dedup.dedup_keep_canonical(docs).collect()
    assert [(r["doc_id"], r["component"], r["n_dups"]) for r in out] == [("doc-00", "doc-00", 40)]


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min node id of the component
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, v)  # nodes visited ascending → first is min
    return {v: comp[find(v)] for v in range(n_nodes)}


def _path_edges(spark, n):
    path_edges = [(i, i + 1) for i in range(n - 1)]
    return path_edges, spark.createDataFrame(path_edges, "doc_a long, doc_b long")


def test_components_star_deep_path_graph(spark):
    """large-star/small-star converges in O(log n) rounds on a path
    graph of diameter 200."""
    from ts_raster_spark.operators.dedup import connected_components_star

    n = 201
    path_edges, edges = _path_edges(spark, n)
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(edges, max_rounds=15).collect()
    }
    want = _union_find(n, path_edges)
    assert got == want  # everything collapses to component 0


def test_components_star_refuses_when_not_converged(spark):
    """A round budget too small for the graph raises instead of
    returning a partial labeling."""
    from ts_raster_spark.operators.dedup import connected_components_star

    _, edges = _path_edges(spark, 201)
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components_star(edges, max_rounds=2)


def test_components_star_matches_union_find_random(spark):
    """On shallow random graphs the star solver agrees with union-find,
    including isolated singletons."""
    import random

    from ts_raster_spark.operators.dedup import connected_components_star

    rng = random.Random(7)
    n = 120
    edge_list = sorted({
        tuple(sorted(rng.sample(range(n), 2))) for _ in range(90)
    })
    edges = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    want = _union_find(n, edge_list)
    got_star = {
        r["node"]: r["component"]
        for r in connected_components_star(edges, all_nodes=nodes).collect()
    }
    assert got_star == want


def test_repetition_stats_crafted(spark):
    """Hand-computed Gopher repetition signals on a crafted doc."""
    from ts_raster_spark.operators.textstats import repetition_stats

    # 4 lines, one duplicated ("spam spam"): dup_line_frac = 1/4;
    # line chars: 9+9+11+5 = 34, distinct chars: 9+11+5 = 25
    # -> dup_line_char_frac = 9/34; bigrams of "spam spam\nspam spam\n
    # hello world\napple": tokens = [spam spam spam spam hello world
    # apple] -> bigrams: "spam spam" x3, "spam hello", "hello world",
    # "world apple" -> top 3/6
    text = "spam spam\nspam spam\nhello world\napple"
    docs = spark.createDataFrame([(1, text), (2, "")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = out[1]
    assert r1["n_lines"] == 4
    assert r1["dup_line_frac"] == pytest.approx(0.25, abs=1e-9)
    assert r1["dup_line_char_frac"] == pytest.approx(round(9 / 34, 4), abs=1e-9)
    assert r1["top_bigram_frac"] == pytest.approx(0.5, abs=1e-9)
    r2 = out[2]  # empty doc: all-zero signals, no NULLs
    assert (r2["n_lines"], r2["dup_line_frac"], r2["top_bigram_frac"]) == (0, 0.0, 0.0)


def test_duplicate_lines_accounting(spark):
    from ts_raster_spark.operators.textstats import duplicate_lines

    docs = spark.createDataFrame(
        [
            (10, "common boilerplate line\nunique one"),
            (7, "common boilerplate line\ncommon boilerplate line"),
            (3, "something else entirely"),
        ],
        "doc_id long, text string",
    )
    out = duplicate_lines(docs).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_docs"] == 2 and row["n_occurrences"] == 3
    assert row["canonical_doc_id"] == 7
    assert row["line_len"] == len("common boilerplate line")


def test_decontaminate_ngrams_exact_fractions(spark):
    from ts_raster_spark.operators.dedup import decontaminate_ngrams

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            # contains bench 4-grams "alpha beta gamma delta" and
            # "beta gamma delta epsilon" -> 2 of its 3 distinct 4-grams
            (1, "alpha beta gamma delta epsilon omega"),
            (2, "totally unrelated words here in this document"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate_ngrams(train, bench, n=4, threshold=0.5).collect()}
    assert out[1]["n_ngrams"] == 3 and out[1]["n_overlap"] == 2
    assert out[1]["overlap_frac"] == pytest.approx(round(2 / 3, 4), abs=1e-9)
    assert out[1]["contaminated"] == 1
    assert out[2]["n_overlap"] == 0 and out[2]["contaminated"] == 0
    assert 3 not in out  # < n tokens: no n-grams, drops like the oracle


def test_embedding_quantize_matches_numpy(spark):
    import numpy as np

    from ts_raster_spark.operators.similarity import embedding_quantize

    rng = np.random.default_rng(11)
    vecs = [rng.normal(size=16).astype("float32") for _ in range(20)]
    vecs.append(np.zeros(4, dtype="float32"))  # all-zero vector edge
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in embedding_quantize(emb).collect()}
    for i, v in enumerate(vecs):
        x = v.astype("float64")
        scale = float(np.max(np.abs(x))) / 127.0
        if scale > 0:
            q = np.clip(np.floor(x / scale + 0.5), -127, 127)
        else:
            q = np.zeros_like(x)
        err = np.abs(x - q * scale)
        r = got[i]
        assert r["q_checksum"] == int(np.sum(np.arange(1, len(x) + 1) * q))
        assert r["max_abs_err"] == pytest.approx(float(err.max()), abs=2e-4)
        assert r["mse"] == pytest.approx(float((err**2).mean()), abs=2e-4)
        # int8 range honoured
        assert np.all(np.abs(q) <= 127)


def test_quantize_reconstruction_bound(spark):
    """Absmax int8 guarantees |err| <= scale/2 per element."""
    import numpy as np

    from ts_raster_spark.operators.similarity import embedding_quantize

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.uniform(-3, 3, 32)]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for r in embedding_quantize(emb).collect():
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-6


def test_curate_corpus_verdicts(spark):
    """Each rejection stage fires on a crafted corpus, first-fail wins."""
    from ts_raster_spark.operators.curation import curate_corpus

    good = ("the quick brown fox jumps over the lazy dog and then the "
            "dog naps under a tree while the fox runs far away home")
    rows = [
        (1, good + " extra tail one"),
        (2, good + " extra tail one"),            # exact dup of 1
        (3, good + " slightly changed tail two"),  # near dup of 1
        (4, "zz xq"),                              # low quality (short)
        (5, "completely separate words about spark catalyst optimizer "
            "plans and the shuffle exchange behavior of wide joins in "
            "the adaptive execution engine of modern query systems"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, rows[4][1])], "doc_id long, text string")
    got = {r["doc_id"]: r["verdict"] for r in curate_corpus(docs, bench).collect()}
    assert got[1] == "kept"
    assert got[2] in ("exact_dup", "near_dup")  # exact canonical is min id
    assert got[2] == "exact_dup"
    assert got[3] == "near_dup"
    assert got[4] == "low_quality"
    assert got[5] == "contaminated"


def test_chunk_documents_boundaries(spark):
    from ts_raster_spark.operators.chunking import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words), (2, "only three words"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 10 tokens, chunk=4 stride=3 -> chunks at 0,3,6,9 -> 1+ceil(6/3)=3
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_text"] for r in c1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"
    ]
    assert [r["n_tokens"] for r in c1] == [4, 4, 4]
    # consecutive chunks share exactly `overlap` tokens
    assert c1[0]["chunk_text"].split()[-1] == c1[1]["chunk_text"].split()[0]
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "only three words"
    assert 3 not in by_doc  # empty doc drops
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_pack_documents_budget(spark):
    from ts_raster_spark.operators.chunking import pack_documents

    rows = [
        (1, "a b c d e", "s1"),       # 5 tokens
        (2, "f g h", "s1"),           # 3
        (3, " ".join(["x"] * 6), "s1"),  # 6 -> before=8, pack 1 (budget 8)
        (4, "one two", "s2"),         # separate shard restarts at 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in pack_documents(docs, budget=8).collect()}
    assert (got[1]["pack_id"], got[1]["offset_in_pack"]) == (0, 0)
    assert (got[2]["pack_id"], got[2]["offset_in_pack"]) == (0, 5)
    assert (got[3]["pack_id"], got[3]["offset_in_pack"]) == (1, 0)
    assert (got[4]["pack_id"], got[4]["offset_in_pack"]) == (0, 0)
    assert got[4]["shard"] == "s2"
