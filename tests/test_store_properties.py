"""Property tests for the incremental stores' ALGEBRA (hypothesis over
random corpora and random base/delta splits): the store-backed read
must equal the direct batch computation no matter how ingestion was
sliced.  The streaming machinery itself (checkpoints, replay) is
covered by the e2e tests; these pin the data contract underneath it."""

from __future__ import annotations

import collections

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

# ---------------------------------------------------------------- postings

_VOCAB = ["join", "scan", "merge", "sort", "hash", "agg"]
_TERMS = ("join", "scan", "merge")
_doc = st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=12).map(" ".join)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_doc, min_size=1, max_size=10),
    split=st.integers(min_value=0, max_value=10),
    overlap=st.integers(min_value=0, max_value=5),
)
def test_posting_store_split_invariance(spark, tmp_path_factory, texts, split, overlap):
    """base ∪ delta retrieval is split-invariant and matches a direct
    Python recomputation of the conjunctive query — for ANY split AND
    any base∩delta overlap (docs in [split−overlap, split) live in
    BOTH sides: the shape of a batch sent twice, round 13
    hypothesis-varied instead of only directly simulated)."""
    from cassandra_extractor_spark.streaming import generations
    from cassandra_extractor_spark.streaming.posting_stream import (
        boolean_query_against_store,
        build_doclens,
        build_postings,
        write_posting_store,
    )

    store = str(tmp_path_factory.mktemp("pstore"))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id LONG, text STRING",
    )
    split = min(split, len(texts))
    base = docs.where(F.col("doc_id") < split)
    rest = docs.where(F.col("doc_id") >= max(0, split - overlap))
    write_posting_store(build_postings(base), build_doclens(base), store, n_buckets=2)
    if rest.count():
        parts = {"postings": build_postings(rest), "doclens": build_doclens(rest)}
        generations.commit_delta(store, 0, parts)
    got = {
        r.doc_id: (r.tf_total, r.tf_min)
        for r in boolean_query_against_store(spark, store, _TERMS).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        tf = collections.Counter(w for w in t.split(" ") if w)
        if all(tf[q] > 0 for q in _TERMS):
            want[i] = (sum(tf[q] for q in _TERMS), min(tf[q] for q in _TERMS))
    assert got == want


# ---------------------------------------------------------------- ANN cells

_vec6 = st.lists(
    st.integers(min_value=-1000, max_value=1000).map(lambda v: v / 250.0),
    min_size=6,
    max_size=6,
).filter(lambda v: any(x != 0 for x in v))


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(_vec6, min_size=28, max_size=36),
    split=st.integers(min_value=10, max_value=40),
    overlap=st.integers(min_value=0, max_value=8),
)
def test_ann_store_split_invariance(spark, tmp_path_factory, vecs, split, overlap):
    """The cell-partitioned store built from ANY base/delta split of
    the corpus — including any base∩delta overlap (vectors sent in
    both batches) — answers probe top-k
    row-identically to the batch IVF operator over the same vectors
    and quantizer."""
    from cassandra_extractor_spark.operators.similarity import (
        N_IVF_CENTROIDS,
        N_QUERIES,
        ivf_topk,
    )
    from cassandra_extractor_spark.streaming import generations
    from cassandra_extractor_spark.streaming.ann_stream import (
        ann_store_topk,
        assign_cells,
        init_ann_centroids,
    )

    d = tmp_path_factory.mktemp("astore")
    store = f"{d}/store"
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(vecs)), "emb": vecs}),
        "vec_id LONG, emb ARRAY<DOUBLE>",
    )
    cent = e.where(
        (F.col("vec_id") >= N_QUERIES)
        & (F.col("vec_id") < N_QUERIES + N_IVF_CENTROIDS)
    ).select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"))
    init_ann_centroids(spark, cent, store)
    centdf = spark.read.parquet(f"{store}/centroids")
    corpus = e.where(F.col("vec_id") >= N_QUERIES)
    split = max(N_QUERIES, min(split, len(vecs)))
    lo = max(N_QUERIES, split - overlap)
    for i, part in enumerate(
        (corpus.where(F.col("vec_id") < split), corpus.where(F.col("vec_id") >= lo))
    ):
        if part.count():
            generations.commit_delta(store, i, {"vectors": assign_cells(part, centdf)})
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "emb"
    )
    got = [
        (r.q_id, r.n_id, r.cos, r.rank)
        for r in ann_store_topk(spark, store, queries).collect()
    ]
    want = [(r.q_id, r.n_id, r.cos, r.rank) for r in ivf_topk(e).collect()]
    assert got == want


# ---------------------------------------------------------------- BM25


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_doc, min_size=1, max_size=10),
    split=st.integers(min_value=0, max_value=10),
    overlap=st.integers(min_value=0, max_value=5),
)
def test_bm25_store_split_invariance(spark, tmp_path_factory, texts, split, overlap):
    """Store-backed BM25 (postings + doc lengths, ANY base/delta
    split — both parts split the same way an ingest would, including
    any base∩delta overlap: documents sent twice, on BOTH the posting
    and doclen sides simultaneously) is row-identical to
    the corpus-recomputing bm25_rank over the same docs, INCLUDING
    zero-token documents that have no posting rows but still shape
    avgdl and appear with score 0."""
    from cassandra_extractor_spark.operators.text import bm25_rank
    from cassandra_extractor_spark.streaming import generations
    from cassandra_extractor_spark.streaming.posting_stream import (
        bm25_query_against_store,
        build_doclens,
        build_postings,
        write_posting_store,
    )

    store = str(tmp_path_factory.mktemp("bm25store"))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id LONG, text STRING",
    )
    split = min(split, len(texts))
    base = docs.where(F.col("doc_id") < split)
    rest = docs.where(F.col("doc_id") >= max(0, split - overlap))
    write_posting_store(build_postings(base), build_doclens(base), store, n_buckets=2)
    if rest.count():
        parts = {"postings": build_postings(rest), "doclens": build_doclens(rest)}
        generations.commit_delta(store, 0, parts)
    got = [
        (r.doc_id, r.bm25)
        for r in bm25_query_against_store(spark, store, terms=_TERMS).collect()
    ]
    want = [
        (r.doc_id, r.bm25) for r in bm25_rank(docs, query=_TERMS).collect()
    ]
    assert got == want
