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
from cassandra_extractor_spark.streaming import generations
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
    delta = f"{generations.generation_dirs(store)[1][0]}/vectors"
    pruned = spark.read.parquet(delta).where(F.col("c_id").isin([999]))
    assert pruned.count() == 0  # filter is a partition filter: no rows
    plan = (
        spark.read.parquet(delta)
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
    assert generations.current(store)["deltas"] == []
    got2 = ann_store_topk(spark, store, queries).collect()
    assert [(r.q_id, r.n_id, r.cos, r.rank) for r in got2] == [
        (r.q_id, r.n_id, r.cos, r.rank) for r in want
    ]
    assert compact_ann_store(spark, store) == 0
    assert qcells_max >= 1  # fixture sanity


def test_ann_store_replay_overwrites_and_duplicates_never_double_rank(
    spark, tmp_path, corpus_parts
):
    """A replayed batch is skipped by its batch id (no duplicate
    vectors); a vector ingested twice (same vector in base AND delta)
    cannot occupy two top-k slots."""
    queries, cent, slices = corpus_parts
    store = str(tmp_path / "annstore2")
    init_ann_centroids(spark, cent, store)
    from cassandra_extractor_spark.streaming.ann_stream import assign_cells

    centdf = spark.read.parquet(f"{store}/centroids")
    assigned = assign_cells(slices[0], centdf)
    # simulate foreachBatch replay: the same batch committed twice
    assert generations.commit_delta(store, 0, {"vectors": assigned})
    assert not generations.commit_delta(store, 0, {"vectors": assigned})
    n_rows = generations.read(spark, store, "vectors").count()
    assert n_rows == assigned.count()

    # the SAME vectors in the base too: fold them, then send them again
    assert compact_ann_store(spark, store) == n_rows
    assert generations.commit_delta(store, 1, {"vectors": assigned})
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
    # fold ran exactly once (after batch 1): the base holds batches
    # 0-1, the one outstanding delta only batch 2
    base, deltas = generations.generation_dirs(store)
    assert generations.current(store)["batch_id"] == 2 and len(deltas) == 1
    delta_ids = {r.vec_id for r in spark.read.parquet(f"{deltas[0]}/vectors").collect()}
    assert delta_ids == {r.vec_id for r in slices[2].collect()}
    assert spark.read.parquet(f"{base}/vectors").count() == slices[0].count() + slices[1].count()
    got = ann_store_topk(spark, store, queries).collect()
    want = ivf_topk(_load_embeddings(spark, sf_dir)).collect()
    assert [(r.q_id, r.n_id, r.cos, r.rank) for r in got] == [
        (r.q_id, r.n_id, r.cos, r.rank) for r in want
    ]
