"""The incremental stores survive a restart: everything a store needs
is under its ``store_dir`` (``streaming/generations.py``), nothing in
a session's catalog or warehouse."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pandas as pd

ROOT = Path(__file__).resolve().parent.parent

_TEXTS = [
    "spark hash join over a table of rows",
    "a table scan with a hash aggregate",
    "streaming spark ingest of new rows",
    "spark hash join over a table of rows",
    "",
    "merge sort of the hash table",
]
_VECS = [[1.0, 0.1], [0.2, 1.0], [0.9, 0.5], [0.4, 0.6], [1.0, 0.0], [0.0, 1.0]]


def _inputs(spark):
    """(documents, vectors, centroids, queries); doc/vec ids >= 3 are the
    ingested batch, the rest the stores' bases."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(_TEXTS)), "text": _TEXTS}), "doc_id LONG, text STRING"
    )
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(_VECS)), "emb": _VECS}), "vec_id LONG, emb ARRAY<DOUBLE>"
    )
    cent = spark.createDataFrame(
        pd.DataFrame({"c_id": [0, 1], "c_emb": [[1.0, 0.0], [0.0, 1.0]]}),
        "c_id LONG, c_emb ARRAY<DOUBLE>",
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"q_id": [0, 1], "emb": [[1.0, 0.2], [0.3, 1.0]]}),
        "q_id LONG, emb ARRAY<DOUBLE>",
    )
    return docs, vecs, cent, queries


_CHILD = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
sys.path.insert(0, {str(Path(__file__).parent)!r})
from pyspark.sql import functions as F
from cassandra_extractor_spark.operators.dedup import (
    bands_for, minhash_signatures_for, write_signature_store)
from cassandra_extractor_spark.session import get_spark
from cassandra_extractor_spark.streaming import generations
from cassandra_extractor_spark.streaming.ann_stream import (
    _read_centroids, assign_cells, init_ann_centroids)
from cassandra_extractor_spark.streaming.posting_stream import (
    build_doclens, build_postings, write_posting_store)
from test_generations import _inputs

root = sys.argv[1]
spark = get_spark()
docs, vecs, cent, _queries = _inputs(spark)
base, batch = docs.where(F.col("doc_id") < 3), docs.where(F.col("doc_id") >= 3)
write_signature_store(bands_for(minhash_signatures_for(base)), root + "/sig", n_buckets=2)
generations.commit_delta(root + "/sig", 0, {{"bands": bands_for(minhash_signatures_for(batch))}})
write_posting_store(build_postings(base), build_doclens(base), root + "/post", n_buckets=2)
generations.commit_delta(
    root + "/post", 0, {{"postings": build_postings(batch), "doclens": build_doclens(batch)}}
)
init_ann_centroids(spark, cent, root + "/ann")
cells = assign_cells(vecs.where(F.col("vec_id") >= 3), _read_centroids(spark, root + "/ann"))
generations.commit_delta(root + "/ann", 0, {{"vectors": cells}})
print("WAREHOUSE", spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
"""


def test_stores_survive_the_process_that_wrote_them(spark, tmp_path):
    """A process on a default session (no warehouse setting) creates a
    signature, a posting and an ANN store, ingests one batch into each
    and exits; a second process reads every row back."""
    from cassandra_extractor_spark.operators.dedup import (
        bands_for,
        incremental_dedup,
        incremental_dedup_against_store,
        minhash_signatures_for,
    )
    from cassandra_extractor_spark.operators.text import bm25_rank
    from cassandra_extractor_spark.streaming.ann_stream import ann_store_topk
    from cassandra_extractor_spark.streaming.posting_stream import bm25_query_against_store

    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    wh = next(l for l in out.stdout.splitlines() if l.startswith("WAREHOUSE "))
    assert not Path(wh.removeprefix("WAREHOUSE ")).exists()  # the session's is gone

    docs, _vecs, _cent, queries = _inputs(spark)
    probe = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100, 101], "text": [_TEXTS[2], _TEXTS[5]]}),
        "doc_id LONG, text STRING",
    )
    got, _ = incremental_dedup_against_store(spark, str(tmp_path / "sig"), probe)
    want, _ = incremental_dedup(bands_for(minhash_signatures_for(docs)), probe)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    assert {r.dup_of for r in got.collect()} & {3, 4, 5}  # a dup found in the batch

    ranked = bm25_query_against_store(spark, str(tmp_path / "post"))
    assert [tuple(r) for r in ranked.collect()] == [tuple(r) for r in bm25_rank(docs).collect()]

    # two cells, two probes: the probe is exact over every stored vector
    top = ann_store_topk(spark, str(tmp_path / "ann"), queries)
    n_ids = {q: [r.n_id for r in top.collect() if r.q_id == q] for q in (0, 1)}
    assert all(sorted(ids) == [3, 4, 5] for ids in n_ids.values()), n_ids
