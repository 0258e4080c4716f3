"""Streaming ANN index maintenance: batch-IVF parity of the persisted
cell-partitioned store, partition-pruned probe reads, checkpoint
restart, replay-overwrite, and compaction (SURVEY §2.5 similarity
north star, streaming spelling)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_extractor_spark.operators.similarity import (
    IVF_PROBES,
    N_IVF_CENTROIDS,
    N_QUERIES,
    _load_embeddings,
    ivf_topk,
)
from cassandra_extractor_spark.streaming.ann_stream import (
    ann_store_topk,
    compact_ann_store,
    init_ann_centroids,
    stream_ann_ingest,
)

SCHEMA = "vec_id LONG, emb ARRAY<DOUBLE>"


def _write_batch(spark, tmp_path, src, file_no: int, df) -> None:
    stage = tmp_path / "stage" / f"f{file_no}"
    df.coalesce(1).write.mode("overwrite").parquet(str(stage))
    part = next(stage.glob("*.parquet"))
    part.rename(src / f"data_{file_no}.parquet")


@pytest.fixture()
def corpus_parts(spark, sf_dir):
    """The embeddings table split by the batch-IVF conventions:
    (queries, centroids, three corpus slices)."""
    e = _load_embeddings(spark, sf_dir)
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "emb"
    )
    cent = e.where(
        (F.col("vec_id") >= N_QUERIES)
        & (F.col("vec_id") < N_QUERIES + N_IVF_CENTROIDS)
    ).select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"))
    corpus = e.where(F.col("vec_id") >= N_QUERIES).select("vec_id", "emb")
    n = corpus.count()
    s1 = corpus.where(F.col("vec_id") % 3 == 0)
    s2 = corpus.where(F.col("vec_id") % 3 == 1)
    s3 = corpus.where(F.col("vec_id") % 3 == 2)
    assert s1.count() + s2.count() + s3.count() == n
    return queries, cent, (s1, s2, s3)


def test_stream_ann_ingest_parity_restart_and_compaction(
    spark, sf_dir, tmp_path, corpus_parts
):
    queries, cent, slices = corpus_parts
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    store = str(tmp_path / "annstore")
    init_ann_centroids(spark, cent, store)

    stats: dict[int, dict[int, int]] = {}

    def stats_sink(df, batch_id):
        stats[batch_id] = {r["c_id"]: r["n"] for r in df.collect()}

    def run():
        q = stream_ann_ingest(
            spark,
            source_path=str(src),
            schema=SCHEMA,
            store_dir=store,
            checkpoint_dir=str(tmp_path / "ckpt"),
            stats_sink=stats_sink,
        )
        q.awaitTermination(120)

    # two slices, then a full stop + restart for the third: the store
    # must come out identical to a single batch assignment
    _write_batch(spark, tmp_path, src, 0, slices[0])
    _write_batch(spark, tmp_path, src, 1, slices[1])
    run()
    assert set(stats) == {0, 1}
    _write_batch(spark, tmp_path, src, 2, slices[2])
    run()
    assert set(stats) == {0, 1, 2}

    # PARITY: store-backed probe == the batch IVF operator, row for row
    got = ann_store_topk(spark, store, queries).collect()
    want = ivf_topk(_load_embeddings(spark, sf_dir)).collect()
    assert [(r.q_id, r.n_id, r.cos, r.rank) for r in got] == [
        (r.q_id, r.n_id, r.cos, r.rank) for r in want
    ]

    # restart with no new files: no batch re-fires
    seen = dict(stats)
    run()
    assert stats == seen

    # PARTITION PRUNING: the probe read touches only the probed cells'
    # directories (c_id is a partition column in the delta layout)
    qcells_max = queries.count() * IVF_PROBES
    pruned = spark.read.parquet(f"{store}/delta").where(F.col("c_id").isin([999]))
    assert pruned.count() == 0  # filter is a partition filter: no rows
    plan = (
        spark.read.parquet(f"{store}/delta")
        .where(F.col("c_id").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "c_id" in pf, plan[:2000]

    # COMPACTION: delta folds into base; results unchanged; idempotent
    total = sum(sum(v.values()) for v in stats.values())
    assert compact_ann_store(spark, store) == total
    assert not (tmp_path / "annstore" / "delta").exists()
    got2 = ann_store_topk(spark, store, queries).collect()
    assert [(r.q_id, r.n_id, r.cos, r.rank) for r in got2] == [
        (r.q_id, r.n_id, r.cos, r.rank) for r in want
    ]
    assert compact_ann_store(spark, store) == 0
    assert qcells_max >= 1  # fixture sanity


def test_ann_store_replay_overwrites_and_duplicates_never_double_rank(
    spark, tmp_path, corpus_parts
):
    """A replayed batch overwrites its own directory (no duplicate
    vectors); a crash-window duplicate (same vector in base AND delta)
    cannot occupy two top-k slots."""
    queries, cent, slices = corpus_parts
    store = str(tmp_path / "annstore2")
    init_ann_centroids(spark, cent, store)
    from cassandra_extractor_spark.streaming.ann_stream import assign_cells

    centdf = spark.read.parquet(f"{store}/centroids")
    assigned = assign_cells(slices[0], centdf)
    # simulate foreachBatch replay: same batch dir written twice
    for _ in range(2):
        assigned.write.mode("overwrite").partitionBy("c_id").parquet(
            f"{store}/delta/batch=0"
        )
    n_rows = spark.read.parquet(f"{store}/delta").count()
    assert n_rows == assigned.count()

    # crash-window duplicate: copy the SAME vectors into base too
    assigned.write.mode("overwrite").partitionBy("c_id").parquet(f"{store}/base")
    out = ann_store_topk(spark, store, queries)
    pdf = out.toPandas()
    assert not pdf.duplicated(["q_id", "n_id"]).any()
    per_q = pdf.groupby("q_id")["rank"].apply(list).to_dict()
    for q, ranks in per_q.items():
        assert ranks == list(range(1, len(ranks) + 1)), q


def test_init_ann_centroids_rejects_zero_norm(spark, tmp_path):
    bad = spark.createDataFrame(
        pd.DataFrame({"c_id": [0, 1], "c_emb": [[1.0, 0.0], [0.0, 0.0]]})
    )
    with pytest.raises(ValueError, match="zero-norm"):
        init_ann_centroids(spark, bad, str(tmp_path / "s"))


def test_ann_store_rejects_nan_centroids_and_drops_nan_vectors(spark, tmp_path):
    """``NaN > 0`` is true in Spark: a NaN centroid passed the zero-norm
    guard, and a NaN vector was assigned a cell (its NaN cosine ranks
    above every real one)."""
    from cassandra_extractor_spark.streaming.ann_stream import _read_centroids, assign_cells

    nan = float("nan")
    # rows, not pandas: Arrow turns a NaN inside a pandas list into null
    bad = spark.createDataFrame([(0, [1.0, 0.0]), (1, [nan, 1.0])], "c_id LONG, c_emb ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="NaN"):
        init_ann_centroids(spark, bad, str(tmp_path / "bad"))
    store = str(tmp_path / "s")
    init_ann_centroids(
        spark, spark.createDataFrame(pd.DataFrame({"c_id": [0, 1], "c_emb": [[1.0, 0.0], [0.0, 1.0]]})), store
    )
    batch = spark.createDataFrame(
        [(1, [0.2, 1.0]), (2, [nan, 1.0]), (3, [0.0, 0.0])], SCHEMA
    )
    cells = {r.vec_id: r.c_id for r in assign_cells(batch, _read_centroids(spark, store)).collect()}
    assert cells == {1: 1}


def test_auto_compaction_mid_stream_ann(spark, sf_dir, tmp_path, corpus_parts):
    """Round-12: an in-band auto_compact on the ANN ingest folds the
    cell-partitioned delta into the base exactly once at its cadence,
    and the store-backed probe stays row-identical to the batch IVF
    operator across the fold."""
    queries, cent, slices = corpus_parts
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    store = str(tmp_path / "annstore")
    init_ann_centroids(spark, cent, store)
    import os

    for i, s in enumerate(slices):
        _write_batch(spark, tmp_path, src, i, s)
    q = stream_ann_ingest(
        spark,
        source_path=str(src),
        schema=SCHEMA,
        store_dir=store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        auto_compact={"every_n_batches": 2, "threshold": 1e-9},
    )
    q.awaitTermination(120)
    # fold ran exactly once (after batch 1): base exists, delta holds
    # only batch 2
    assert os.path.isdir(f"{store}/base")
    batches = {
        d for d in os.listdir(f"{store}/delta") if d.startswith("batch=")
    }
    assert batches == {"batch=2"}, batches
    got = ann_store_topk(spark, store, queries).collect()
    want = ivf_topk(_load_embeddings(spark, sf_dir)).collect()
    assert [(r.q_id, r.n_id, r.cos, r.rank) for r in got] == [
        (r.q_id, r.n_id, r.cos, r.rank) for r in want
    ]


# ------------------------------------------------- streaming SemDeDup gate

_EMB_SCHEMA = "vec_id LONG, emb ARRAY<DOUBLE>"


def _write_vec_batch(spark, tmp_path, src, file_no: int, rows: dict[int, list]) -> None:
    pdf = pd.DataFrame({"vec_id": list(rows), "emb": [rows[k] for k in rows]})
    stage = tmp_path / "stage" / f"v{file_no}"
    spark.createDataFrame(pdf, _EMB_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(stage))
    part = next(stage.glob("*.parquet"))
    part.rename(src / f"data_{file_no}.parquet")


def test_stream_semantic_dedup_base_delta_intra_and_restart(spark, tmp_path):
    """Round-13 (r12 verdict #6): the embedding near-dup gate covers
    the same three candidate sources as the MinHash gate — compacted
    base, earlier streamed batches (delta), and earlier vectors of the
    same batch — across a checkpoint restart and a mid-run compaction."""
    from cassandra_extractor_spark.streaming.ann_stream import (
        stream_semantic_dedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    store = str(tmp_path / "semstore")
    cent = spark.createDataFrame(
        pd.DataFrame(
            {"c_id": [0, 1], "c_emb": [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]}
        ),
        "c_id LONG, c_emb ARRAY<DOUBLE>",
    )
    init_ann_centroids(spark, cent, store)

    got: dict[int, set[tuple[int, int]]] = {}

    def sink(df, batch_id):
        got[batch_id] = {(r["new_id"], r["dup_of"]) for r in df.collect()}

    def run():
        q = stream_semantic_dedup(
            spark,
            source_path=str(src),
            schema=_EMB_SCHEMA,
            store_dir=store,
            pairs_sink=sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
            tau=0.8,
        )
        q.awaitTermination(120)

    # batch 0: 12 duplicates 10 (cell 0) and 13 duplicates 11 (cell 1)
    # — the INTRA-BATCH path; 10/11 themselves are fresh
    _write_vec_batch(
        spark,
        tmp_path,
        src,
        0,
        {
            10: [1.0, 0.0, 0.0, 0.0],
            11: [0.0, 1.0, 0.0, 0.0],
            12: [0.97, 0.24, 0.0, 0.0],
            13: [0.0, 0.9, 0.435, 0.0],
        },
    )
    run()
    assert got[0] == {(12, 10), (13, 11)}, got

    # batch 1 after a full stop: 20 duplicates 10/12 — reachable only
    # through the DELTA (nothing has been compacted yet); 21 is fresh
    # in cell 1 (orthogonal-ish to 11/13)
    _write_vec_batch(
        spark,
        tmp_path,
        src,
        1,
        {20: [0.99, 0.1, 0.0, 0.0], 21: [0.0, 0.55, -0.8, 0.0]},
    )
    run()
    assert {p[0] for p in got[1]} == {20}, got
    assert got[1] <= {(20, 10), (20, 12)}, got

    # fold everything into the BASE, then batch 2: 30 duplicates 11/13
    # — reachable only through the compacted base now
    assert compact_ann_store(spark, store) > 0
    _write_vec_batch(spark, tmp_path, src, 2, {30: [0.0, 0.95, 0.3, 0.0]})
    run()
    assert {p[0] for p in got[2]} == {30}, got
    assert got[2] <= {(30, 11), (30, 13)}, got
    assert (30, 11) in got[2], got

    # restart with no new files: no batch re-fires
    seen = {k: set(v) for k, v in got.items()}
    run()
    assert got == seen

    # every arrival was absorbed exactly once (store = base ∪ delta)
    from cassandra_extractor_spark.streaming.ann_stream import _read_store

    stored = _read_store(spark, store).groupBy("vec_id").count().collect()
    assert {r["vec_id"] for r in stored} == {10, 11, 12, 13, 20, 21, 30}
    assert all(r["count"] == 1 for r in stored)


def test_stream_semantic_dedup_parity_with_batch_operator(spark, sf_dir, tmp_path):
    """Ordered arrival ⇒ the gate's cumulative drop set and cell
    assignment are row-identical to the batch SemDeDup core
    (``semantic_dedup_frame``) over the same vectors, centroids and τ.
    The synthetic embeddings hold no pairs above τ=0.8, so the corpus
    is augmented with planted near-duplicates (exact-direction copies
    and jittered ones) — the drop set is provably non-empty."""
    from cassandra_extractor_spark.operators.dedup import (
        N_SEM_CELLS,
        semantic_dedup_frame,
    )
    from cassandra_extractor_spark.operators.similarity import (
        norm,
        shared_embeddings,
    )
    from cassandra_extractor_spark.streaming.ann_stream import (
        _read_store,
        stream_semantic_dedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    store = str(tmp_path / "paritystore")
    base = shared_embeddings(spark, sf_dir).select("vec_id", "emb")
    vecs = sorted((r["vec_id"], list(r["emb"])) for r in base.collect())
    # planted near-dups of every 40th vector: a scaled exact-direction
    # copy (cos 1.0) and a lightly jittered one — ids above the corpus
    planted = []
    for i, (vid, emb) in enumerate(vecs[::40]):
        planted.append((10_000 + 2 * i, [2.0 * x for x in emb]))
        planted.append((10_001 + 2 * i, [x + 0.01 * (j % 3) for j, x in enumerate(emb)]))
    allvecs = vecs + planted
    aug = spark.createDataFrame(
        pd.DataFrame({"vec_id": [v for v, _ in allvecs], "emb": [e for _, e in allvecs]}),
        _EMB_SCHEMA,
    ).withColumn("nrm", norm(F.col("emb"))).where(F.col("nrm") > 0)

    cent = aug.where(F.col("vec_id") < N_SEM_CELLS).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb")
    )
    init_ann_centroids(spark, cent, store)

    all_pairs: set[tuple[int, int]] = set()

    def sink(df, batch_id):
        all_pairs.update((r["new_id"], r["dup_of"]) for r in df.collect())

    third = (len(allvecs) + 2) // 3
    for i in range(3):
        chunk = dict(allvecs[i * third : (i + 1) * third])
        if chunk:
            _write_vec_batch(spark, tmp_path, src, i, chunk)
    q = stream_semantic_dedup(
        spark,
        source_path=str(src),
        schema=_EMB_SCHEMA,
        store_dir=store,
        pairs_sink=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    batch = semantic_dedup_frame(aug).collect()
    want_dropped = {r["vec_id"] for r in batch if r["dropped"]}
    want_cells = {r["vec_id"]: r["c_id"] for r in batch}
    got_dropped = {p[0] for p in all_pairs}
    assert got_dropped == want_dropped
    assert want_dropped, "planted duplicates did not drop — fixture broken"
    # every pair's dup_of is a lower-id same-cell member, as SemDeDup
    # defines it
    assert all(d < n for n, d in all_pairs)
    got_cells = {
        r["vec_id"]: r["c_id"]
        for r in _read_store(spark, store).select("vec_id", "c_id").collect()
    }
    assert got_cells == want_cells


def test_auto_compaction_mid_stream_semantic_gate(spark, tmp_path):
    """Round-13: the SemDeDup gate honors the same in-band
    ``auto_compact`` contract as the other three ingest streams — the
    fold fires exactly once at its cadence, and the pair stream is
    unaffected by WHERE candidates live (base vs delta): a duplicate
    arriving after the fold is still caught, now against the base."""
    import os

    from cassandra_extractor_spark.streaming.ann_stream import (
        stream_semantic_dedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    store = str(tmp_path / "semstore")
    cent = spark.createDataFrame(
        pd.DataFrame(
            {"c_id": [0, 1], "c_emb": [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]}
        ),
        "c_id LONG, c_emb ARRAY<DOUBLE>",
    )
    init_ann_centroids(spark, cent, store)

    got: dict[int, set[tuple[int, int]]] = {}

    def sink(df, batch_id):
        got[batch_id] = {(r["new_id"], r["dup_of"]) for r in df.collect()}

    # batch 0/1 fresh; the cadence-2 policy folds after batch 1;
    # batch 2's duplicate of 10 must then come from the BASE
    _write_vec_batch(spark, tmp_path, src, 0, {10: [1.0, 0.0, 0.0, 0.0]})
    _write_vec_batch(spark, tmp_path, src, 1, {11: [0.0, 1.0, 0.0, 0.0]})
    _write_vec_batch(spark, tmp_path, src, 2, {12: [0.99, 0.1, 0.0, 0.0]})
    q = stream_semantic_dedup(
        spark,
        source_path=str(src),
        schema=_EMB_SCHEMA,
        store_dir=store,
        pairs_sink=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tau=0.8,
        auto_compact={"every_n_batches": 2, "threshold": 1e-9},
    )
    q.awaitTermination(120)
    assert got[0] == set() and got[1] == set()
    assert got[2] == {(12, 10)}, got
    assert os.path.isdir(f"{store}/base")
    batches = {d for d in os.listdir(f"{store}/delta") if d.startswith("batch=")}
    assert batches == {"batch=2"}, batches


def test_semantic_candidate_probe_prunes_partitions_and_broadcasts(spark, tmp_path):
    """Round-13 plan guard for the SemDeDup gate's candidate probe
    (extracted as ``semantic_candidate_pairs``): the store scan must
    carry the batch's cell list as a PARTITION filter (only the
    probed cell directories are opened), and the batch side of the
    candidate join must broadcast — at 100 TB the store never
    shuffles for a gate check."""
    from cassandra_extractor_spark.streaming.ann_stream import (
        _read_centroids,
        assign_cells,
        compact_ann_store,
        semantic_candidate_pairs,
    )

    store = str(tmp_path / "store")
    cent = spark.createDataFrame(
        pd.DataFrame(
            {
                "c_id": [0, 1, 2],
                "c_emb": [
                    [1.0, 0.0, 0.0, 0.0],
                    [0.0, 1.0, 0.0, 0.0],
                    [0.0, 0.0, 1.0, 0.0],
                ],
            }
        ),
        "c_id LONG, c_emb ARRAY<DOUBLE>",
    )
    init_ann_centroids(spark, cent, store)
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [10, 11, 12],
                "emb": [[1.0, 0.1, 0.0, 0.0], [0.1, 1.0, 0.0, 0.0], [0.0, 0.1, 1.0, 0.0]],
            }
        ),
        "vec_id LONG, emb ARRAY<DOUBLE>",
    )
    centdf = _read_centroids(spark, store)
    assign_cells(corpus, centdf).write.mode("overwrite").partitionBy("c_id").parquet(
        f"{store}/delta/batch=0"
    )
    assert compact_ann_store(spark, store) == 3

    # a batch landing only in cell 0
    batch = spark.createDataFrame(
        pd.DataFrame({"vec_id": [20], "emb": [[0.99, 0.05, 0.0, 0.0]]}),
        "vec_id LONG, emb ARRAY<DOUBLE>",
    )
    assigned = assign_cells(batch, centdf).localCheckpoint(eager=True)
    pairs = semantic_candidate_pairs(spark, store, assigned, tau=0.8)
    got = {(r["new_id"], r["dup_of"]) for r in pairs.collect()}
    assert got == {(20, 10)}

    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the store scan's partition filter carries the batch's cell list
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "c_id" in pf, plan[:3000]
    # the batch side broadcasts; the store side never exchanges for
    # the join (no shuffle of store rows)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:3000]
