"""A fold commits on top of whatever committed meanwhile, and keeps the
generations a planned read lists.

Every incremental store's fold (``generations.fold``) reads one
manifest, writes base ∪ its deltas as a new base generation and
commits it with exactly the deltas it folded taken out.  Here an ingest
batch commits while the fold writes the new base — after the fold's
read, before its commit.  For each of the four folds that batch must
survive the fold and be absorbed by the next.  And a read planned
before a fold and run after its commit returns the pre-fold rows
whole: the fold deletes none of the files that read listed."""

from __future__ import annotations

from typing import Callable, NamedTuple

import pandas as pd
import pytest

from cassandra_extractor_spark.operators import dedup
from cassandra_extractor_spark.streaming import (
    ann_stream,
    dedup_stream,
    generations,
    posting_stream,
)


class Store(NamedTuple):
    store_dir: str
    part: str  # the part whose rows the checks look at
    land: Callable[[int], int]  # commit batch b; its row count over all parts
    fold: Callable[[], int]


def _batch_ids(b: int) -> list[int]:
    return [10 * b + 10, 10 * b + 11]


def _docs(spark, ids):
    texts = [f"doc{i} alpha beta gamma delta epsilon zeta eta theta {i}" for i in ids]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "text": texts}), "doc_id LONG, text STRING"
    )


def _ids(df) -> set[int]:
    return {r[0] for r in df.select(df.columns[0]).distinct().collect()}


def _commit(store_dir: str, b: int, parts: dict) -> int:
    assert generations.commit_delta(store_dir, b, parts)
    return sum(df.count() for df in parts.values())


def _signature(spark, tmp_path) -> Store:
    store = str(tmp_path / "sig")

    def bands(ids):
        return dedup.bands_for(dedup.minhash_signatures_for(_docs(spark, ids)))

    dedup.write_signature_store(bands([0, 1]), store, n_buckets=2)
    return Store(
        store,
        "bands",
        lambda b: _commit(store, b, {"bands": bands(_batch_ids(b))}),
        lambda: dedup_stream.compact_signature_store(spark, store),
    )


def _posting_store(spark, tmp_path, part: str) -> Store:
    store = str(tmp_path / "post")

    def parts(ids):
        docs = _docs(spark, ids)
        return {
            "postings": posting_stream.build_postings(docs),
            "doclens": posting_stream.build_doclens(docs),
        }

    posting_stream.write_posting_store(*parts([0, 1]).values(), store, n_buckets=2)
    return Store(
        store,
        part,
        lambda b: _commit(store, b, parts(_batch_ids(b))),
        lambda: posting_stream.compact_posting_store(spark, store),
    )


def _posting(spark, tmp_path) -> Store:
    return _posting_store(spark, tmp_path, "postings")


def _doclen(spark, tmp_path) -> Store:
    return _posting_store(spark, tmp_path, "doclens")


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
        vecs = spark.createDataFrame(
            pd.DataFrame({"vec_id": _batch_ids(b), "emb": [[1.0, 0.2], [0.1, 1.0]]}),
            "vec_id LONG, emb ARRAY<DOUBLE>",
        )
        cells = ann_stream.assign_cells(vecs, ann_stream._read_centroids(spark, store))
        return _commit(store, b, {"vectors": cells})

    return Store(store, "vectors", land, lambda: ann_stream.compact_ann_store(spark, store))


STORES = {"signature": _signature, "posting": _posting, "doclen": _doclen, "ann": _ann}


def _base_ids(spark, store: Store) -> set[int]:
    base, _deltas = generations.generation_dirs(store.store_dir)
    return _ids(spark.read.parquet(f"{base}/{store.part}"))


@pytest.mark.parametrize("kind", sorted(STORES))
def test_batch_landing_mid_fold_survives_and_is_folded_next(spark, tmp_path, monkeypatch, kind):
    store = STORES[kind](spark, tmp_path)
    first = store.land(0)
    real = generations._write
    landed = []

    def write(rows, path, spec, base):
        real(rows, path, spec, base)
        if base and not landed:
            landed.append(store.land(1))  # an ingest batch commits mid-fold

    monkeypatch.setattr(generations, "_write", write)
    assert store.fold() == first
    monkeypatch.undo()
    assert landed, "the fold never wrote a base"
    m = generations.current(store.store_dir)
    _base, deltas = generations.generation_dirs(store.store_dir)
    assert m["batch_id"] == 1 and len(deltas) == 1  # batch 0 folded, batch 1 not lost
    assert _ids(spark.read.parquet(f"{deltas[0]}/{store.part}")) == set(_batch_ids(1))
    assert set(_batch_ids(0)) <= _base_ids(spark, store)
    assert set(_batch_ids(1)).isdisjoint(_base_ids(spark, store))

    assert store.fold() == landed[0]
    assert generations.current(store.store_dir)["deltas"] == []
    assert set(_batch_ids(0) + _batch_ids(1)) <= _base_ids(spark, store)


@pytest.mark.parametrize("kind", sorted(STORES))
def test_read_planned_before_a_fold_keeps_its_rows(spark, tmp_path, kind):
    """A read planned against base ∪ delta and run after the fold
    committed the next base returns the rows it was planned on."""
    store = STORES[kind](spark, tmp_path)
    store.land(0)
    planned = generations.read(spark, store.store_dir, store.part)
    want = sorted(map(str, generations.read(spark, store.store_dir, store.part).collect()))
    base = generations.current(store.store_dir)["base"]
    assert store.fold() > 0
    assert generations.current(store.store_dir)["base"] != base
    generations.read(spark, store.store_dir, store.part)  # registers the new base
    assert sorted(map(str, planned.collect())) == want
    assert set(_batch_ids(0)) <= _ids(planned)


def test_fold_removes_an_empty_batch_and_leaves_the_base(spark, tmp_path):
    """A committed batch with no rows (an empty micro-batch writes a
    footer-only file) goes with the fold that reads it, and the base
    stays as it was: the next policy check sees no delta."""
    from cassandra_extractor_spark.streaming.maintenance import compact

    store = _posting(spark, tmp_path)
    base = generations.current(store.store_dir)["base"]
    base_ids = _base_ids(spark, store)
    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    parts = {
        "postings": posting_stream.build_postings(empty),
        "doclens": posting_stream.build_doclens(empty),
    }
    assert _commit(store.store_dir, 0, parts) == 0
    params = {"store_dir": store.store_dir}
    did = compact(spark, "posting", {**params, "mode": "auto"})
    assert (did["delta_bytes"] > 0, did["absorbed"]) == (True, 0)
    assert generations.current(store.store_dir)["deltas"] == []
    assert compact(spark, "posting", {**params, "mode": "check"})["delta_bytes"] == 0
    assert generations.current(store.store_dir)["base"] == base
    assert _base_ids(spark, store) == base_ids
