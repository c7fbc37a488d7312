"""JL random projection: determinism, distance preservation, plan."""

from __future__ import annotations

import numpy as np
import pytest

from ts_raster_spark.operators.projection import jl_signs, random_projection


def test_signs_deterministic_and_balanced():
    a = jl_signs(64, 16)
    b = jl_signs(64, 16)
    assert a == b
    flat = np.array(a).ravel()
    assert set(flat) <= {-1, 1}
    # md5 nibbles are uniform: sign balance within 15% of half
    assert abs(flat.mean()) < 0.15


def test_projection_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 64)).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = (
        random_projection(df)
        .orderBy("vec_id")
        .toPandas()[[f"p{j}" for j in range(16)]]
        .to_numpy()
    )
    S = np.array(jl_signs(64, 16), dtype=np.float64)  # (16, 64)
    want = vecs.astype(np.float64) @ S.T
    assert np.allclose(got, want, atol=1e-9)


def test_jl_distance_preservation(spark):
    """Scaled pairwise distances survive within JL tolerance for most
    pairs (k=16 is small; assert the MEDIAN distortion, not the max)."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 64)).astype(np.float32)
    S = np.array(jl_signs(64, 16), dtype=np.float64)
    proj = vecs.astype(np.float64) @ S.T / np.sqrt(16)
    d_hi, d_lo = [], []
    for i in range(0, 60, 3):
        for j in range(i + 1, 60, 7):
            d_hi.append(np.linalg.norm(vecs[i] - vecs[j]))
            d_lo.append(np.linalg.norm(proj[i] - proj[j]))
    ratio = np.array(d_lo) / np.array(d_hi)
    assert abs(np.median(ratio) - 1.0) < 0.25


def test_projection_plan_no_shuffle(spark):
    rows = [(1, [0.0] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = random_projection(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode
