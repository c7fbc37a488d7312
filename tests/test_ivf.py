from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def test_ivf_recall_vs_bruteforce(spark):
    from ts_raster_spark.operators.similarity import cosine_topk_bruteforce, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    qids = list(range(10))
    exact = cosine_topk_bruteforce(emb, qids).toPandas()
    approx = ivf_topk(emb, qids, k=5, n_cells=8, nprobe=4).toPandas()

    recalls = []
    for q in qids:
        e = set(exact[exact.query_id == q]["neighbor_id"])
        a = set(approx[approx.query_id == q]["neighbor_id"])
        recalls.append(len(e & a) / len(e))
    mean_recall = sum(recalls) / len(recalls)
    # probing half the cells of a random-ish corpus: recall well above chance
    assert mean_recall >= 0.5, recalls


def test_ivf_deterministic(spark):
    from ts_raster_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    a = ivf_topk(emb, [0, 1], k=3).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = ivf_topk(emb, [0, 1], k=3).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)
