"""First-principles checks for the round-5 similarity and sampling
operators: each Spark result is recomputed with plain Python/numpy from
the raw parquet, independently of BOTH engines (the oracle gate only
proves Spark == DuckDB; these prove the shared arithmetic is the
*intended* algorithm), plus a plan-shape assertion.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

def test_linear_probe_two_steps_reduce_loss(spark, sf_dir):
    from cassandra_extractor_spark.operators.similarity import ns_linear_probe_step

    w = ns_linear_probe_step(spark, sf_dir).toPandas().sort_values("dim")
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    X = np.stack(emb.embedding.values).astype(float)
    y = (emb.label == 0).astype(float).values
    mse0 = float(np.mean(y**2))
    mse2 = float(np.mean((X @ w.w2.values - y) ** 2))
    assert mse2 < mse0, (mse0, mse2)


def test_jl_projection_is_map_only(spark, sf_dir):
    """The projection is row-local: the ONLY exchange allowed is the
    oracle-contract ORDER BY (range partitioning) — no hash shuffle,
    no join (the explode→join→re-group spelling would multiply shuffle
    volume ~1000× for a per-row computation)."""
    from cassandra_extractor_spark.operators.similarity import ns_random_projection

    df = ns_random_projection(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_jl_projection_preserves_relative_distances(spark, sf_dir):
    """JL guarantee (loose sanity form): projected inter-point
    distances stay within a broad factor of the original ones."""
    from cassandra_extractor_spark.operators.similarity import (
        JL_SCALE,
        ns_random_projection,
    )

    proj = ns_random_projection(spark, sf_dir).toPandas()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet").head(10)
    P = proj.pivot(index="vec_id", columns="out_dim", values="proj")
    X = np.stack(emb.embedding.values).astype(float)
    ids = emb.vec_id.values
    ratios = []
    for i in range(0, 8, 2):
        a, b = ids[i], ids[i + 1]
        d_orig = np.linalg.norm(X[i] - X[i + 1])
        d_proj = np.linalg.norm(P.loc[a].values - P.loc[b].values)
        if d_orig > 1e-9:
            ratios.append(d_proj / d_orig)
    assert ratios and all(0.3 < r < 3.0 for r in ratios), ratios


def test_dp_noise_is_bounded_and_nonzero(spark, sf_dir):
    from cassandra_extractor_spark.operators.sampling import ns_dp_noise

    out = ns_dp_noise(spark, sf_dir).toPandas()
    noise = out.noisy_n - out.n
    # u is grid-bounded away from 0 and 1 → |noise| <= ln((mod+2)/2)/eps
    assert (noise.abs() <= 14.0).all()
    assert (noise != 0).any()


def test_neyman_allocation_spends_budget(spark, sf_dir):
    from cassandra_extractor_spark.operators.sampling import (
        NEYMAN_BUDGET,
        ns_neyman_allocation,
    )

    out = ns_neyman_allocation(spark, sf_dir).toPandas()
    spent = int(out.alloc.sum())
    assert NEYMAN_BUDGET - len(out) <= spent <= NEYMAN_BUDGET
