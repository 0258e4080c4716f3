"""Similarity search: ANN recall, LSH bucketing and first-principles checks of the embedding operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_extractor_spark.operators.similarity import N_QUERIES, TOP_K, ns_ann_cosine_topk


def test_vectorized_matches_exact_topk(spark, sf_dir):
    """The exact Spark top-k (sequential-fold cosine, broadcast
    queries) agrees with a numpy matrix-product top-k over the same
    vectors: same (q_id, rank) keys, scores within 1e-6, and the same
    neighbor except where several neighbors tie at 6 decimals."""

    exact = {
        (r["q_id"], r["rank"]): (r["n_id"], r["cos"])
        for r in ns_ann_cosine_topk(spark, sf_dir).collect()
    }
    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = pdf["vec_id"].to_numpy()
    m = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    nrm = np.linalg.norm(m, axis=1)
    ok = np.isfinite(nrm) & (nrm > 0)
    ids, m, nrm = ids[ok], m[ok], nrm[ok]
    q, c = ids < N_QUERIES, ids >= N_QUERIES
    cos = np.round((m[q] @ m[c].T) / np.outer(nrm[q], nrm[c]), 6)
    fast = {}
    for qi, row in zip(ids[q], cos):
        order = np.lexsort((ids[c], -row))[:TOP_K]
        for rank, j in enumerate(order, start=1):
            fast[(int(qi), rank)] = (int(ids[c][j]), float(row[j]))
    assert exact and set(exact) == set(fast)
    by_q: dict[int, list] = {}
    for (q_id, _), (n_id, score) in exact.items():
        by_q.setdefault(q_id, []).append((score, n_id))
    for key, (n_id, score) in exact.items():
        f_nid, f_cos = fast[key]
        assert abs(f_cos - score) < 1e-6
        tied_ids = {n for s_, n in by_q[key[0]] if s_ == score}
        assert f_nid in tied_ids if len(tied_ids) > 1 else f_nid == n_id


def test_ann_recall_floor_on_planted_neighbors(spark):
    """Approximate ANN must find genuinely-near vectors: recall@5 vs
    brute force on a corpus with PLANTED near-duplicates of each query
    (cos≈0.95).  The sf test embeddings are unstructured random vectors
    — there, recall mathematically equals fraction-of-corpus-touched
    for every ANN method, so they can't distinguish a working bucketing
    from a degenerate one.  Planted structure can: a bucketing that
    collapses (one giant bucket) or never collides (no candidates)
    fails this floor, which rows-only oracle checks cannot catch."""

    from cassandra_extractor_spark.operators.similarity import (
        DIM,
        brute_topk,
        ivf_topk,
        lsh_topk,
        pq_topk,
    )

    rng = np.random.default_rng(7)
    n_queries, per_q, n_decoys = 10, 5, 500
    rows = []
    for q in range(n_queries):
        base = rng.standard_normal(DIM)
        rows.append((q, base))
        for j in range(per_q):  # planted: base + small noise -> cos≈0.95
            rows.append((1000 + q * per_q + j, base + 0.33 * rng.standard_normal(DIM)))
    # decoys fill ids from n_queries up so the IVF centroid window
    # (first K corpus ids) lands on random vectors, as in the sf layout
    for d in range(n_decoys):
        rows.append((n_queries + d, rng.standard_normal(DIM)))
    e = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows], "vec_id long, emb array<double>"
    )

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["q_id"], set()).add(r["n_id"])
        return out

    exact = topk_sets(brute_topk(e, n_queries=n_queries))
    assert len(exact) == n_queries

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
        return hits / sum(len(nbrs) for nbrs in exact.values())

    ivf_recall = recall(topk_sets(ivf_topk(e, n_queries=n_queries)))
    lsh_recall = recall(topk_sets(lsh_topk(e, n_queries=n_queries)))
    pq_recall = recall(topk_sets(pq_topk(e, n_queries=n_queries)))
    assert ivf_recall >= 0.6, f"IVF recall@5 degraded: {ivf_recall:.2f}"
    assert lsh_recall >= 0.6, f"LSH recall@5 degraded: {lsh_recall:.2f}"
    # measured 1.0 on planted structure (member codebooks quantize the
    # planted clusters well); 0.8 floor leaves seed headroom
    assert pq_recall >= 0.8, f"PQ recall@5 degraded: {pq_recall:.2f}"


def test_lsh_fold_and_arrow_buckets_agree(spark):
    """The engine-portable Column fold (`lsh_bucket`) and the Arrow
    matmul production path (`lsh_bucket_ids`) must assign identical
    bucket ids — they share the md5-derived plane matrix, and random
    vectors never land within float noise of a hyperplane, so any
    mismatch means the two spellings drifted (salt, plane order, bit
    packing)."""

    from pyspark.sql import functions as F

    from cassandra_extractor_spark.operators.similarity import (
        DIM,
        LSH_PLANES,
        LSH_TABLES,
        lsh_bucket,
        lsh_bucket_ids,
    )

    rng = np.random.default_rng(11)
    e = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(DIM)]) for i in range(200)],
        "vec_id long, emb array<double>",
    )
    fold = e.select(
        "vec_id",
        *[
            lsh_bucket(F.col("emb"), LSH_PLANES, DIM, salt=t).alias(f"b{t}")
            for t in range(LSH_TABLES)
        ],
    )
    arrow = e.select("vec_id", lsh_bucket_ids()(F.col("emb")).alias("bks"))
    fold_m = {r["vec_id"]: [r[f"b{t}"] for t in range(LSH_TABLES)] for r in fold.collect()}
    arrow_m = {r["vec_id"]: list(r["bks"]) for r in arrow.collect()}
    assert fold_m == arrow_m


def test_kmeans_decimal_sum_equals_sorted_fold(spark, sf_dir):
    """The shipped ns_kmeans_step mean is a constant-memory
    DECIMAL(38,18) SUM; this pins it against the collect_list +
    sorted-sequential-fold spelling (the old oracle-exactness crutch,
    now test-only) so the decimal path provably loses nothing on the
    test corpus.  Exact equality of the rounded means — not approx —
    because decimal addition is exact and both spellings round once."""
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.operators.similarity import ns_kmeans_step

    shipped = {
        (r["cluster_id"], r["dim"]): (r["centroid_mean"], r["n_members"])
        for r in ns_kmeans_step(spark, sf_dir).collect()
    }
    # rebuild the aggregation input exactly as the operator does, then
    # fold it the old way
    df = ns_kmeans_step(spark, sf_dir)  # noqa: F841 — shape reference
    from cassandra_extractor_spark.operators.similarity import (
        N_KMEANS,
        _load_embeddings,
        cosine_prenormed,
    )
    from cassandra_extractor_spark.operators.dedup import norm
    from pyspark.sql import Window as W

    e = _load_embeddings(spark, sf_dir).withColumn("nrm", norm(F.col("emb")))
    cent = e.where(F.col("vec_id") < N_KMEANS).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "emb",
        "c_id",
        cosine_prenormed(F.col("emb"), F.col("c_emb"), F.col("nrm"), F.col("c_nrm")).alias("csim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("c_id"))
    assigned = (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") == 1)
        .select("vec_id", "emb", F.col("c_id").alias("cluster_id"))
    )
    folded = (
        assigned.select("cluster_id", F.posexplode("emb").alias("dim", "val"))
        .groupBy("cluster_id", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list("val")), F.lit(0.0), lambda acc, v: acc + v
                )
                / F.count("*").cast("double"),
                6,
            ).alias("centroid_mean"),
            F.count("*").alias("n_members"),
        )
    )
    fold = {
        (r["cluster_id"], r["dim"]): (r["centroid_mean"], r["n_members"])
        for r in folded.collect()
    }
    assert shipped == fold


def test_quantize_mae_first_principles(spark, sf_dir):
    """Pin ns_embedding_quantize's mae to a first-principles NumPy
    computation.  Regression guard for a Spark nested-HOF evaluation
    hazard: hoisting the per-row `scale` into a withColumn and
    referencing it inside the transform/zip_with/aggregate lambdas
    makes the optimized NARROW projection silently drift the fold by
    ~3e-8 (Spark 4.1, reproduced at sf0.01) — only the inline spelling
    is evaluation-order-safe.  This test computes the expected value
    from raw parquet with no Spark expressions at all."""
    import decimal

    import pyarrow.parquet as pq

    from cassandra_extractor_spark.operators.similarity import (
        ns_embedding_quantize,
    )

    got = {
        r["vec_id"]: (r["scale"], r["mae"])
        for r in ns_embedding_quantize(spark, sf_dir).collect()
    }
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t["vec_id"].to_pylist()
    embs = t["embedding"].to_pylist()
    rng = np.random.default_rng(0)
    check_ids = set(rng.choice(len(ids), size=min(40, len(ids)), replace=False))
    def round_half_up(x, nd=0):
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal(1).scaleb(-nd), rounding=decimal.ROUND_HALF_UP
            )
        )
    for i in check_ids:
        v = np.array(embs[i], dtype=np.float32).astype(np.float64)
        scale = float(np.max(np.abs(v))) / 127.0
        if scale == 0:
            exp_scale, exp_mae = 0.0, 0.0
        else:
            q = [round_half_up(x / scale) for x in v]
            acc = 0.0
            for qi, vi in zip(q, v):
                acc += abs(qi * scale - vi)
            exp_scale = round_half_up(scale, 8)
            exp_mae = round_half_up(acc / len(v), 8)
        assert got[ids[i]] == (exp_scale, exp_mae), ids[i]


def test_mrr_first_principles(spark, sf_dir):
    """Pin ns_ann_mrr to a Python recomputation over the exact top-k
    ranking it consumes: first_rank is the smallest rank whose
    neighbor shares the query's label (0 if none in the top-k), and
    rr_micros == 1_000_000 // first_rank under the same truncation."""
    import pyarrow.parquet as pq

    from cassandra_extractor_spark.operators.similarity import ns_ann_mrr

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "label"])
    label = dict(zip(t["vec_id"].to_pylist(), t["label"].to_pylist()))

    ranking = ns_ann_cosine_topk(spark, sf_dir).collect()
    expected: dict[int, int] = {}
    for r in ranking:
        expected.setdefault(r["q_id"], 0)
        if (
            expected[r["q_id"]] == 0
            and label[r["n_id"]] == label[r["q_id"]]
        ):
            expected[r["q_id"]] = r["rank"]

    got = ns_ann_mrr(spark, sf_dir).collect()
    assert {r["q_id"] for r in got} == set(expected)
    for r in got:
        fr = expected[r["q_id"]]
        assert r["q_label"] == label[r["q_id"]], r["q_id"]
        assert r["first_rank"] == fr, r["q_id"]
        assert r["rr_micros"] == (1_000_000 // fr if fr else 0), r["q_id"]


def test_knn_classifier_first_principles(spark, sf_dir):
    """Pin ns_knn_classifier to a Python majority vote over the exact
    top-k ranking it consumes, ties to the smallest label."""
    from collections import Counter

    import pyarrow.parquet as pq

    from cassandra_extractor_spark.operators.similarity import ns_knn_classifier

    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "label"])
    label = dict(zip(t["vec_id"].to_pylist(), t["label"].to_pylist()))

    by_q: dict[int, list[int]] = {}
    for r in ns_ann_cosine_topk(spark, sf_dir).collect():
        by_q.setdefault(r["q_id"], []).append(label[r["n_id"]])

    got = ns_knn_classifier(spark, sf_dir).collect()
    assert {r["q_id"] for r in got} == set(by_q)
    for r in got:
        counts = Counter(by_q[r["q_id"]])
        best = max(counts.values())
        pred = min(l for l, c in counts.items() if c == best)
        assert r["q_label"] == label[r["q_id"]], r["q_id"]
        assert (r["pred_label"], r["pred_votes"]) == (pred, best), r["q_id"]
        assert r["correct"] == int(pred == label[r["q_id"]]), r["q_id"]


def test_cluster_purity_first_principles(spark, sf_dir):
    """Pin ns_cluster_purity to a NumPy recomputation: cosine argmax
    assignment (ties to smallest centroid id) then per-cluster
    majority vote with ties to the smallest label."""
    from collections import Counter

    import pyarrow.parquet as pq

    from cassandra_extractor_spark.operators.similarity import (
        N_KMEANS,
        ns_cluster_purity,
    )

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.array(t["vec_id"].to_pylist())
    embs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    labels = np.array(t["label"].to_pylist())
    cent = embs[ids < N_KMEANS]
    cent_ids = ids[ids < N_KMEANS]
    nrm = np.sqrt((embs * embs).sum(axis=1))
    c_nrm = np.sqrt((cent * cent).sum(axis=1))
    csim = (embs @ cent.T) / np.outer(nrm, c_nrm)
    # argmax with ties to the smallest centroid id: argmax returns the
    # first max index, and cent_ids ascend with vec_id order
    assign = cent_ids[np.argmax(csim, axis=1)]

    members: dict[int, list[int]] = {}
    for cid, lab in zip(assign, labels):
        members.setdefault(int(cid), []).append(int(lab))

    got = {r["cluster_id"]: r for r in ns_cluster_purity(spark, sf_dir).collect()}
    assert set(got) == set(members)
    for cid, labs in members.items():
        counts = Counter(labs)
        best = max(counts.values())
        maj = min(l for l, c in counts.items() if c == best)
        r = got[cid]
        assert r["n_members"] == len(labs), cid
        assert (r["majority_label"], r["majority_cnt"]) == (maj, best), cid
        assert r["purity_ppm"] == 1_000_000 * best // len(labs), cid


def test_encoding_contract_guard_raises_loudly(spark):
    """ADVICE r7: out-of-contract labels/doc_ids corrupt the argmax
    encodings identically on both engines (undetectable by the
    differential hash) — the guard must turn them into a runtime error
    and stay silent within the contract."""
    import pytest

    from cassandra_extractor_spark.operators.similarity import in_encoding_contract

    ok = spark.createDataFrame([(0,), (99,), (7,)], "label long").select(
        in_encoding_contract(F.col("label"), 0, 99, "label").alias("g")
    )
    assert [r.g for r in ok.orderBy("g").collect()] == [0, 7, 99]

    bad = spark.createDataFrame([(100,)], "label long").select(
        in_encoding_contract(F.col("label"), 0, 99, "label").alias("g")
    )
    with pytest.raises(Exception, match="encoding contract"):
        bad.collect()
    neg = spark.createDataFrame([(-1,)], "label long").select(
        in_encoding_contract(F.col("label"), 0, 99, "label").alias("g")
    )
    with pytest.raises(Exception, match="encoding contract"):
        neg.collect()


def test_kcenter_step_first_principles(spark, tmp_path):
    """Tiny corpus with hand-checkable geometry: centers are unit axes
    e0/e1 (K_CENTER monkey-free via direct frame use is not possible —
    the operator is registry-shaped — so build a 2-center world by
    padding vec_ids 2..7 with copies of the centers, which then belong
    to center regions with distance 0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_extractor_spark.operators.similarity import (
        K_CENTER,
        ns_kcenter_step,
    )

    # 8 centers: e0, e1, then 6 copies of e0 (ids 2-7)
    e0 = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    e1 = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0]
    mix = [1.0, 1.0, 0.0, 0.0, 0.0, 0.0]  # 45° to both; cos ≈ 0.707107
    neg = [-1.0, 0.0, 0.0, 0.0, 0.0, 0.0]  # cos −1 to e0, 0 to e1
    vecs = [e0, e1] + [e0] * (K_CENTER - 2) + [e0, mix, neg]
    t = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), type=pa.int32()),
        }
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")
    rows = {r.c_id: r for r in ns_kcenter_step(spark, str(tmp_path)).collect()}
    # candidate 8 (e0 copy): dist 0 to center 0 — ties among the e0-copy
    # centers resolve to the LOWEST c_id (0)
    # candidate 9 (mix): nearest is ANY e0 copy or e1 at dist 1-0.707107
    #   = 0.292893 → c_id 0 by tie rule
    # candidate 10 (neg): cos −1 to e0s (dist 2.0), 0 to e1 (dist 1.0)
    #   → center 1, radius 1_000_000
    assert set(rows) == {0, 1}
    r0 = rows[0]
    assert r0.n_vecs == 2 and r0.radius_micro == 292893 and r0.farthest_id == 9
    r1 = rows[1]
    assert r1.n_vecs == 1 and r1.radius_micro == 1000000 and r1.farthest_id == 10


def test_kcenter_step_plan_shape(spark, sf_dir):
    """Assignment must be the struct-min aggregate (map-side collapse
    of N×K), never a row_number window over the product; centers ride
    a broadcast; nothing runs in Python."""
    from cassandra_extractor_spark.operators.similarity import ns_kcenter_step

    df = ns_kcenter_step(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]
    assert "partial_" in plan, plan[:2000]
    # the r13 Arrow-vectorized dot kernel is a deliberate ArrowEvalPython
    # node (measured faster than the interpreted HOF fold); only the
    # row-at-a-time pickled path stays banned
    assert "BatchEvalPython" not in plan, plan[:2000]


def test_norm_filter_drops_nan_and_zero_vectors(spark):
    """Degenerate vectors: a NaN component gives a NaN norm, which Spark
    orders above every number (``NaN > 0`` is true), and a zero vector
    gives norm 0; cosine is undefined for both, so both are dropped."""
    from cassandra_extractor_spark.operators.similarity import _with_norm

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [float("nan"), 1.0]), (3, [0.0, 0.0]), (4, [3.0, 4.0])],
        "vec_id INT, emb ARRAY<DOUBLE>",
    )
    out = {r.vec_id: r.nrm for r in _with_norm(e).collect()}
    assert out == {1: 1.0, 4: 5.0}


def _write_embeddings(path, rows) -> str:
    """``embeddings.parquet`` of (vec_id, vector, label) rows under ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "vec_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "embedding": pa.array([r[1] for r in rows], type=pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], type=pa.int32()),
        }),
        path / "embeddings.parquet",
    )
    return str(path)


NAN = float("nan")


def test_embedding_neardup_drops_nan_vectors(spark, tmp_path):
    """A NaN vector's cosine is NaN, and ``NaN >= 0.8`` is true in
    Spark: without the norm filter it pairs with every vector."""
    from cassandra_extractor_spark.operators.dedup import ns_neardup_embedding

    sf = _write_embeddings(tmp_path, [
        (0, [1.0, 0.0], 0), (1, [1.0, 0.01], 0), (2, [NAN, 1.0], 0), (3, [0.0, 0.0], 0),
    ])
    assert [(r.v1, r.v2) for r in ns_neardup_embedding(spark, sf).collect()] == [(0, 1)]


def test_cosine_rankers_drop_nan_vectors(spark, tmp_path):
    """Spark sorts NaN above every number, so a NaN cosine would rank
    first: as the hardest negative, and as every vector's nearest
    k-means centroid."""
    from cassandra_extractor_spark.operators.similarity import (
        ns_cluster_purity,
        ns_hard_negatives,
    )

    # ids < N_QUERIES are queries and ids < N_KMEANS centroids (2 is NaN)
    sf = _write_embeddings(tmp_path, [
        (0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1), (2, [NAN, 0.0], 1),
        (20, [1.0, 0.1], 0), (21, [NAN, 1.0], 1), (22, [0.1, 1.0], 1),
    ])
    neg = {(r.q_id, r.rank): r.n_id for r in ns_hard_negatives(spark, sf).collect()}
    assert neg == {(0, 0): 20, (0, 1): 22, (1, 0): 22, (1, 1): 20}
    purity = {r.cluster_id: (r.n_members, r.majority_label)
              for r in ns_cluster_purity(spark, sf).collect()}
    assert purity == {0: (2, 0), 1: (2, 1)}


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


def test_neardup_embedding_oracle_drops_nan_and_zero_vectors():
    """The DuckDB oracle excludes a vector with no cosine as Spark's
    ``dedup.cosine_defined`` does: a zero vector and a vector with a NaN
    component never pair.  DuckDB orders NaN above every number, so a
    bare ``norm > 0`` filter would keep the NaN vector."""
    import duckdb

    from cassandra_extractor_spark.oracles_ns import NS_ORACLES

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    # a SQL literal: a Python float NaN binds as NULL
    con.execute(
        "INSERT INTO embeddings VALUES (1, [1.0, 0.0]), (2, [1.0, 0.1]), "
        "(3, ['nan'::DOUBLE, 1.0]), (4, [0.0, 0.0])"
    )
    pairs = con.execute(NS_ORACLES["ns_neardup_embedding"]).fetchall()
    assert [(v1, v2) for v1, v2, _ in pairs] == [(1, 2)]


@pytest.mark.parametrize("kernel", ["dot", "l2sq"])
def test_arrow_fold_kernels_bit_identical_to_hof_fold(spark, kernel):
    """The Arrow-vectorized fold kernels must be BIT-identical to the
    interpreted zip_with/aggregate folds they replaced at the
    candidate-pair/corpus-encode hotspots — including the edge cases:
    null arrays, unequal lengths (fold → NULL), empty arrays (fold
    init 0.0), mixed widths in one batch, NaN/Inf elements, and
    catastrophic-cancellation sums where any reassociation would
    change the low bits."""
    import math
    import struct

    if kernel == "dot":
        from cassandra_extractor_spark.operators.dedup import dot_batch as dot
        from cassandra_extractor_spark.operators.dedup import dot as dot_hof
    else:
        from cassandra_extractor_spark.operators.similarity import (
            _l2sq_batch as dot,
            _l2sq as dot_hof,
        )

    rows = [
        ([0.1] * 64, [0.3] * 64),
        ([1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]),  # cancellation
        ([0.1, 0.2, 0.3, 0.4, 0.5, 0.6], [-0.6, 0.5, -0.4, 0.3, -0.2, 0.1]),
        ([float("nan"), 1.0], [1.0, 1.0]),
        ([float("inf"), 1.0], [1.0, -1.0]),
        ([], []),
        (None, [1.0, 2.0]),
        ([1.0, 2.0], None),
        ([1.0, 2.0, 3.0], [1.0, 2.0]),  # unequal → NULL
        ([-0.0, 0.0], [0.0, -0.0]),  # signed-zero init path
        ([1e-308, 1e-308], [1e-308, 1e-308]),  # subnormal products
    ]
    df = spark.createDataFrame(rows, "x: array<double>, y: array<double>")
    got = df.select(dot(F.col("x"), F.col("y")).alias("d")).collect()
    ref = df.select(dot_hof(F.col("x"), F.col("y")).alias("d")).collect()

    def bits(v):
        if v is None:
            return None
        return struct.pack("<d", v)  # NaN payload + signed zero visible

    assert [bits(r["d"]) for r in got] == [bits(r["d"]) for r in ref]
    # sanity on the known cases
    assert got[5]["d"] == 0.0 and got[6]["d"] is None and got[8]["d"] is None
    assert math.isnan(got[3]["d"])
