"""The compaction CRASH WINDOW, executed for all three incremental
stores.  A fold commits its new base and the process dies BEFORE the
fold's cleanup runs; on restart the streaming batch the fold absorbed
replays.  The manifest records the last committed ``batch_id``, so the
replay is skipped, and every read equals a cleanly-folded store's,
both inside the window and after the next fold.  The read paths keep
their duplicate tolerance — set-semantic candidate join (signatures),
MAX-collapse on (doc_id, tok) / doc_id (postings / doclens), candidate
dedup on (q_id, n_id) (ANN) — for a batch sent twice under two ids."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cassandra_extractor_spark.sources.catalog import load_table
from cassandra_extractor_spark.streaming import generations


@pytest.fixture()
def die_before_cleanup(monkeypatch):
    """Runs ``fold()`` as a process that dies after the fold's commit and
    before its cleanup; returns the generation dirs it left behind."""

    def killed(*_a, **_k):
        raise RuntimeError("killed after the fold's commit")

    def run(store, fold):
        before = set(os.listdir(os.path.join(store, "data")))
        monkeypatch.setattr(generations, "_cleanup", killed)
        with pytest.raises(RuntimeError, match="killed"):
            fold()
        monkeypatch.undo()
        m = generations.current(store)
        assert m["deltas"] == [] and m["base"] not in before  # the fold committed
        return before

    return run


def _replay_is_skipped(store, batch_id, parts):
    m = generations.current(store)
    assert not generations.commit_delta(store, batch_id, parts)
    assert generations.current(store) == m


def test_signature_store_crash_window_reads_identical(
    spark, sf_dir, tmp_path, die_before_cleanup
):
    from cassandra_extractor_spark.operators.dedup import (
        bands_for,
        incremental_dedup,
        incremental_dedup_against_store,
        minhash_signatures_for,
        write_signature_store,
    )
    from cassandra_extractor_spark.streaming.dedup_stream import compact_signature_store

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    base_docs = docs.where(F.col("doc_id") < 300)
    batch_docs = docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    probe = docs.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 450))
    store, clean = str(tmp_path / "store"), str(tmp_path / "clean")

    def batch():
        return {"bands": bands_for(minhash_signatures_for(batch_docs))}

    write_signature_store(bands_for(minhash_signatures_for(base_docs)), store, n_buckets=4)
    assert generations.commit_delta(store, 0, batch())
    # the clean twin: everything in the base, no delta, no crash
    write_signature_store(
        bands_for(minhash_signatures_for(base_docs.unionByName(batch_docs))), clean, n_buckets=4
    )
    want = sorted(map(tuple, incremental_dedup_against_store(spark, clean, probe)[0].collect()))
    assert want, "probe window produced no duplicate pairs — fixture too weak"

    die_before_cleanup(store, lambda: compact_signature_store(spark, store))
    _replay_is_skipped(store, 0, batch())
    got = sorted(map(tuple, incremental_dedup_against_store(spark, store, probe)[0].collect()))
    assert got == want
    # the healed base equals the clean twin row-for-row
    healed = generations.read(spark, store, "bands")
    assert healed.count() == healed.distinct().count()
    assert healed.count() == generations.read(spark, clean, "bands").count()

    # the same batch sent again under a new id: every band sits in base
    # AND delta; the set-semantic candidate join must not care, and the
    # next fold collapses the duplicates
    assert generations.commit_delta(store, 1, batch())
    got = sorted(map(tuple, incremental_dedup_against_store(spark, store, probe)[0].collect()))
    assert got == want
    assert compact_signature_store(spark, store) > 0
    gate_view = generations.read(spark, store, "bands")
    assert sorted(map(tuple, incremental_dedup(gate_view, probe)[0].collect())) == want
    assert gate_view.count() == generations.read(spark, clean, "bands").count()


def test_posting_store_crash_window_reads_identical(
    spark, sf_dir, tmp_path, die_before_cleanup
):
    from cassandra_extractor_spark.streaming.posting_stream import (
        bm25_query_against_store,
        build_doclens,
        build_postings,
        compact_posting_store,
        write_posting_store,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    base_docs = docs.where(F.col("doc_id") < 300)
    batch_docs = docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    both = base_docs.unionByName(batch_docs)
    store, clean = str(tmp_path / "store"), str(tmp_path / "clean")

    def batch():
        return {"postings": build_postings(batch_docs), "doclens": build_doclens(batch_docs)}

    def ranked(store_dir):
        return [(r.doc_id, r.bm25) for r in bm25_query_against_store(spark, store_dir).collect()]

    write_posting_store(build_postings(base_docs), build_doclens(base_docs), store, n_buckets=2)
    assert generations.commit_delta(store, 0, batch())
    write_posting_store(build_postings(both), build_doclens(both), clean, n_buckets=2)
    want = ranked(clean)
    assert any(s != 0.0 for _, s in want)

    die_before_cleanup(store, lambda: compact_posting_store(spark, store))
    _replay_is_skipped(store, 0, batch())
    assert ranked(store) == want

    # sent again under a new id: every batch posting and doc length in
    # base AND delta; MAX-collapse on identical rows is the identity
    assert generations.commit_delta(store, 1, batch())
    assert ranked(store) == want
    assert compact_posting_store(spark, store) > 0
    assert ranked(store) == want


def test_ann_store_crash_window_reads_identical(
    spark, sf_dir, tmp_path, die_before_cleanup
):
    from cassandra_extractor_spark.operators.similarity import (
        N_IVF_CENTROIDS,
        N_QUERIES,
        _load_embeddings,
    )
    from cassandra_extractor_spark.streaming.ann_stream import (
        _read_centroids,
        ann_store_topk,
        assign_cells,
        compact_ann_store,
        init_ann_centroids,
    )

    e = _load_embeddings(spark, sf_dir)
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "emb"
    )
    cent = e.where(
        (F.col("vec_id") >= N_QUERIES)
        & (F.col("vec_id") < N_QUERIES + N_IVF_CENTROIDS)
    ).select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"))
    corpus = e.where(F.col("vec_id") >= N_QUERIES).select("vec_id", "emb")
    base_vecs = corpus.where(F.col("vec_id") % 2 == 0)
    batch_vecs = corpus.where(F.col("vec_id") % 2 == 1)
    store, clean = str(tmp_path / "store"), str(tmp_path / "clean")

    for d in (store, clean):
        init_ann_centroids(spark, cent, d)

    def cells(d, df):
        return {"vectors": assign_cells(df, _read_centroids(spark, d))}

    # base via a completed fold of the first half
    assert generations.commit_delta(store, 0, cells(store, base_vecs))
    assert compact_ann_store(spark, store) > 0
    assert generations.commit_delta(store, 1, cells(store, batch_vecs))
    # clean twin: both halves folded in one clean pass
    assert generations.commit_delta(clean, 0, cells(clean, corpus))
    assert compact_ann_store(spark, clean) > 0
    want = list(map(tuple, ann_store_topk(spark, clean, queries).collect()))

    die_before_cleanup(store, lambda: compact_ann_store(spark, store))
    _replay_is_skipped(store, 1, cells(store, batch_vecs))
    assert list(map(tuple, ann_store_topk(spark, store, queries).collect())) == want

    # sent again under a new id: the batch's vectors sit in base AND
    # delta — the probe dedupes candidates on (q_id, n_id), so no
    # duplicate can occupy two top-k slots
    assert generations.commit_delta(store, 2, cells(store, batch_vecs))
    assert list(map(tuple, ann_store_topk(spark, store, queries).collect())) == want

    # the next fold collapses the duplicates (dropDuplicates on vec_id),
    # so the base equals the clean twin's corpus exactly
    assert compact_ann_store(spark, store) > 0
    assert list(map(tuple, ann_store_topk(spark, store, queries).collect())) == want
    base = generations.read(spark, store, "vectors")
    assert base.count() == base.select("vec_id").distinct().count()
    assert base.count() == generations.read(spark, clean, "vectors").count()
