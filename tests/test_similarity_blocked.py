from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.similarity import (
    cosine_near_dup_blocked,
    cosine_near_dup_pairs,
)


@pytest.fixture(scope="module")
def neardup_emb(spark):
    """200 base vectors + a perturbed near-dup for 60 of them (cosine
    ≥ ~0.97 by construction). Deterministic seed."""
    rng = np.random.RandomState(0)
    dim = 64
    base = rng.normal(0, 1, (200, dim))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    for j in range(60):
        noise = rng.normal(0, 1, dim)
        noise *= 0.18 * np.linalg.norm(base[j]) / np.linalg.norm(noise)
        rows.append((1000 + j, [float(x) for x in base[j] + noise]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_blocked_near_dup_recall_vs_exact(spark, neardup_emb):
    """Sign-LSH blocking at 4 bands recovers ≥85% of the exact operator's
    pairs at a near-dup threshold (0.95), with zero false positives
    (cosine is exact within blocks, only candidate generation is
    approximate)."""
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_near_dup_pairs(neardup_emb, threshold=0.95).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_near_dup_blocked(
            neardup_emb, threshold=0.95, n_bands=4
        ).collect()
    }
    assert len(exact) >= 50  # the construction really makes near-dups
    assert blocked <= exact  # no false positives ever
    recall = len(blocked & exact) / len(exact)
    assert recall >= 0.85, f"recall {recall:.3f} ({len(blocked)}/{len(exact)})"


def test_blocked_plan_has_no_cartesian(spark, neardup_emb):
    """The production near-dup plan must never contain a cartesian /
    nested-loop product — candidates come from equi-joins on band
    buckets."""
    plan = (
        cosine_near_dup_blocked(neardup_emb, threshold=0.95)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # while the exact baseline is a cross join by construction
    plan_exact = (
        cosine_near_dup_pairs(neardup_emb, threshold=0.95)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" in plan_exact or "BroadcastNestedLoop" in plan_exact
