"""A fold deletes only the delta batches it read.

Every incremental store's fold (``maintenance.fold_delta``) lists the
committed ``batch=<id>`` dirs, folds exactly those and removes exactly
those.  Here an ingest batch commits while the fold writes the new
base — after the fold's read, before its delete.  For each of the four
folds that batch must survive the fold and be absorbed by the next."""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

import pandas as pd
import pytest

from cassandra_extractor_spark.operators import dedup
from cassandra_extractor_spark.streaming import ann_stream, dedup_stream, posting_stream


class Store(NamedTuple):
    delta: str
    land: Callable[[int], int]  # write batch b to the delta; its row count
    fold: Callable[[], int]
    writer: tuple[object, str]  # (module, name) of the base writer the fold calls
    base_ids: Callable[[], set[int]]
    drop: Callable[[], None]


def _batch_ids(b: int) -> list[int]:
    return [10 * b + 10, 10 * b + 11]


def _docs(spark, ids):
    texts = [f"doc{i} alpha beta gamma delta epsilon zeta eta theta {i}" for i in ids]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "text": texts}), "doc_id LONG, text STRING"
    )


def _ids(df) -> set[int]:
    return {r[0] for r in df.select(df.columns[0]).distinct().collect()}


def _land(df, path) -> int:
    df.write.mode("overwrite").parquet(path)
    return df.count()


def _table_store(spark, tmp_path, build, cols, writer, fold, table) -> Store:
    """A store whose base is a bucketed managed table."""
    delta = str(tmp_path / "delta")
    getattr(*writer)(build(_docs(spark, [0, 1])).select(*cols), table, n_buckets=2)
    return Store(
        delta,
        lambda b: _land(build(_docs(spark, _batch_ids(b))).select(*cols), f"{delta}/batch={b}"),
        lambda: fold(spark, table, delta, n_buckets=2),
        writer,
        lambda: _ids(spark.table(table)),
        lambda: spark.sql(f"DROP TABLE IF EXISTS {table}"),
    )


def _signature(spark, tmp_path) -> Store:
    return _table_store(
        spark,
        tmp_path,
        lambda docs: dedup.bands_for(dedup.minhash_signatures_for(docs)),
        dedup_stream._BAND_COLS,
        (dedup, "write_signature_store"),
        dedup_stream.compact_signature_store,
        "fi_sig",
    )


def _posting(spark, tmp_path) -> Store:
    return _table_store(
        spark,
        tmp_path,
        posting_stream.build_postings,
        posting_stream._POSTING_COLS,
        (posting_stream, "write_posting_store"),
        posting_stream.compact_posting_store,
        "fi_post",
    )


def _doclen(spark, tmp_path) -> Store:
    return _table_store(
        spark,
        tmp_path,
        posting_stream.build_doclens,
        posting_stream._DOCLEN_COLS,
        (posting_stream, "write_doclen_store"),
        posting_stream.compact_doclen_store,
        "fi_dl",
    )


def _ann(spark, tmp_path) -> Store:
    store = str(tmp_path / "ann")
    ann_stream.init_ann_centroids(
        spark,
        spark.createDataFrame(
            pd.DataFrame({"c_id": [0, 1], "c_emb": [[1.0, 0.0], [0.0, 1.0]]}),
            "c_id LONG, c_emb ARRAY<DOUBLE>",
        ),
        store,
    )

    def land(b: int) -> int:
        ids = _batch_ids(b)
        vecs = spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "emb": [[1.0, 0.2], [0.1, 1.0]]}),
            "vec_id LONG, emb ARRAY<DOUBLE>",
        )
        cells = ann_stream.assign_cells(vecs, ann_stream._read_centroids(spark, store))
        cells.write.mode("overwrite").partitionBy("c_id").parquet(f"{store}/delta/batch={b}")
        return len(ids)

    return Store(
        f"{store}/delta",
        land,
        lambda: ann_stream.compact_ann_store(spark, store),
        (ann_stream, "write_ann_base"),
        lambda: _ids(spark.read.parquet(f"{store}/base").select("vec_id")),
        lambda: None,
    )


STORES = {"signature": _signature, "posting": _posting, "doclen": _doclen, "ann": _ann}


@pytest.mark.parametrize("kind", sorted(STORES))
def test_batch_landing_mid_fold_survives_and_is_folded_next(spark, tmp_path, monkeypatch, kind):
    store = STORES[kind](spark, tmp_path)
    try:
        first = store.land(0)
        module, name = store.writer
        real = getattr(module, name)
        landed = []

        def writer(*args, **kwargs):
            real(*args, **kwargs)
            landed.append(store.land(1))  # an ingest batch commits mid-fold

        monkeypatch.setattr(module, name, writer)
        assert store.fold() == first
        monkeypatch.undo()
        assert landed, "the fold never called its store's writer"
        assert not os.path.exists(f"{store.delta}/batch=0")
        assert os.path.exists(f"{store.delta}/batch=1/_SUCCESS")  # not folded, not lost
        assert set(_batch_ids(1)).isdisjoint(store.base_ids())

        assert store.fold() == landed[0]
        assert not os.path.exists(store.delta)
        assert set(_batch_ids(0) + _batch_ids(1)) <= store.base_ids()
    finally:
        store.drop()


def test_fold_removes_an_empty_batch_and_leaves_the_base(spark, tmp_path):
    """A committed batch with no rows (an empty micro-batch writes a
    footer-only file) goes with the fold that lists it, and the base
    stays as it was: the next policy check sees no delta."""
    from cassandra_extractor_spark.streaming.maintenance import compact

    store = _posting(spark, tmp_path)
    try:
        base = store.base_ids()
        empty = spark.createDataFrame([], "doc_id LONG, text STRING")
        cols = posting_stream._POSTING_COLS
        assert _land(posting_stream.build_postings(empty).select(*cols), f"{store.delta}/batch=0") == 0
        params = {"table": "fi_post", "delta_dir": store.delta, "n_buckets": 2}
        did = compact(spark, "posting", {**params, "mode": "auto"})
        assert (did["delta_bytes"] > 0, did["absorbed"]) == (True, 0)
        assert not os.path.exists(f"{store.delta}/batch=0")
        assert compact(spark, "posting", {**params, "mode": "check"})["delta_bytes"] == 0
        assert store.base_ids() == base
    finally:
        store.drop()
