"""Streaming incremental near-dup gate: dup detection against the base
store, against earlier streamed batches (delta), and within a batch —
with a checkpoint restart in the middle and replay-idempotent delta
absorption (SURVEY §2.5 dedup north star, streaming spelling)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from cassandra_extractor_spark.operators.dedup import (
    bands_for,
    minhash_signatures_for,
    write_signature_store,
)
from cassandra_extractor_spark.streaming import generations
from cassandra_extractor_spark.streaming.dedup_stream import (
    stream_incremental_dedup,
)

SCHEMA = "doc_id LONG, text STRING"

# ten distinctive base documents; exact copies guarantee identical
# minhash signatures, hence LSH collision in every band
_BASE = {
    i: f"base document number {i} talks about topic{i} " * 3 for i in range(10)
}


def _write_batch(spark, tmp_path, src, file_no: int, rows: dict[int, str]) -> None:
    pdf = pd.DataFrame(
        {"doc_id": list(rows), "text": [rows[k] for k in rows]}
    )
    stage = tmp_path / "stage" / f"f{file_no}"
    spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        str(stage)
    )
    part = next(stage.glob("*.parquet"))
    part.rename(src / f"data_{file_no}.parquet")


def test_stream_incremental_dedup_base_delta_and_restart(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    base_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(_BASE), "text": list(_BASE.values())}),
        SCHEMA,
    )
    store = str(tmp_path / "sig")
    write_signature_store(bands_for(minhash_signatures_for(base_docs)), store, n_buckets=4)

    got: dict[int, set[tuple[int, int]]] = {}

    def sink(df, batch_id):
        # idempotent per batch: replay overwrites, never extends
        got[batch_id] = {(r["new_id"], r["dup_of"]) for r in df.collect()}

    def run():
        q = stream_incremental_dedup(
            spark,
            source_path=str(src),
            schema=SCHEMA,
            store_dir=store,
            pairs_sink=sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)

    # batch 0: doc 100 duplicates base doc 3 (vs-store path);
    # docs 101/102 are an intra-batch duplicate pair
    _write_batch(
        spark,
        tmp_path,
        src,
        0,
        {
            100: _BASE[3],
            101: "an entirely new streamed document about fresh things " * 3,
            102: "an entirely new streamed document about fresh things " * 3,
        },
    )
    run()
    assert got[0] == {(100, 3), (102, 101)}, got

    # batch 1 arrives AFTER a full stop: restart resumes from the
    # checkpoint; doc 200 duplicates doc 101 — reachable only
    # through the DELTA (101 was never in the base store)
    _write_batch(
        spark,
        tmp_path,
        src,
        1,
        {
            200: "an entirely new streamed document about fresh things " * 3,
            201: "a completely unrelated report on other matters entirely " * 3,
        },
    )
    run()
    assert 1 in got, got
    assert (200, 101) in got[1] or (200, 102) in got[1], got
    assert all(p[0] != 201 for p in got[1]), got

    # restart with no new files: no batch re-fires, sink untouched
    seen = dict(got)
    run()
    assert got == seen

    # one delta per batch, holding exactly the streamed docs' bands
    # (no duplication)
    m = generations.current(store)
    assert (m["batch_id"], len(m["deltas"])) == (1, 2)
    _base, deltas = generations.generation_dirs(store)
    delta = spark.read.parquet(*[f"{d}/bands" for d in deltas])
    assert set(
        r["doc_id"] for r in delta.select("doc_id").distinct().collect()
    ) == {100, 101, 102, 200, 201}
    per_doc = delta.groupBy("doc_id").count().collect()
    assert len({r["count"] for r in per_doc}) == 1  # same #bands each


def test_compaction_folds_delta_into_bucketed_base(spark, tmp_path):
    """After compact_signature_store no delta is outstanding, dups against
    previously-streamed docs resolve via the BASE store alone, and the
    store side of the bucket join is still exchange-free."""
    import re

    from cassandra_extractor_spark.operators.dedup import (
        incremental_dedup_against_store,
    )
    from cassandra_extractor_spark.streaming.dedup_stream import (
        compact_signature_store,
    )

    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    base_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(_BASE), "text": list(_BASE.values())}),
        SCHEMA,
    )
    store = str(tmp_path / "sig")
    write_signature_store(bands_for(minhash_signatures_for(base_docs)), store, n_buckets=4)

    def sink(df, batch_id):
        df.collect()

    _write_batch(
        spark,
        tmp_path,
        src,
        0,
        {100: "a streamed document that will later be duplicated again " * 3},
    )
    q = stream_incremental_dedup(
        spark,
        source_path=str(src),
        schema=SCHEMA,
        store_dir=store,
        pairs_sink=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    absorbed = compact_signature_store(spark, store)
    assert absorbed > 0
    assert generations.current(store)["deltas"] == []
    # idempotent when nothing to absorb
    assert compact_signature_store(spark, store) == 0

    store_ids = {
        r["doc_id"]
        for r in generations.read(spark, store, "bands").select("doc_id").distinct().collect()
    }
    assert store_ids == set(_BASE) | {100}

    # a new batch duplicating doc 100 resolves via the compacted
    # base alone; the store-side scan keeps its bucketed layout
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [300],
                "text": [
                    "a streamed document that will later be duplicated again " * 3
                ],
            }
        ),
        SCHEMA,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs, _nb = incremental_dedup_against_store(spark, store, new)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            r"Sort \[band[^\n]*\n[^\n]*Filter[^\n]*\n"
            r"([^\n]*ColumnarToRow\n)?[^\n]*FileScan parquet[^\n]*Bucketed: true",
            plan,
        ), plan[:3000]
        assert {(r["new_id"], r["dup_of"]) for r in pairs.collect()} == {
            (300, 100)
        }
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_auto_compaction_mid_stream_signature(spark, tmp_path):
    """Round-12: an in-band auto_compact on the dedup gate folds the
    band delta into the bucketed base exactly once at its cadence, and
    detection quality is unchanged across the fold — a later batch
    still finds its duplicate even though the earlier batch's bands
    now live in the BASE, not the delta."""
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    base_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(_BASE), "text": list(_BASE.values())}),
        SCHEMA,
    )
    store = str(tmp_path / "sig")
    write_signature_store(bands_for(minhash_signatures_for(base_docs)), store, n_buckets=4)
    got: dict[int, set[tuple[int, int]]] = {}

    def sink(df, batch_id):
        got[batch_id] = {(r["new_id"], r["dup_of"]) for r in df.collect()}

    # three single-file batches BEFORE the stream starts; cadence 2
    # → the policy fires after batch 1 only (threshold ~0 → folds)
    _write_batch(spark, tmp_path, src, 0,
                 {100: "a fresh streamed story about topic alpha " * 3})
    _write_batch(spark, tmp_path, src, 1,
                 {101: "another new account of subject beta here " * 3})
    _write_batch(spark, tmp_path, src, 2, {200: "a fresh streamed story about topic alpha " * 3})
    q = stream_incremental_dedup(
        spark,
        source_path=str(src),
        schema=SCHEMA,
        store_dir=store,
        pairs_sink=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        auto_compact={"every_n_batches": 2, "threshold": 1e-9},
    )
    q.awaitTermination(120)
    # fold ran exactly once (after batch 1): only batch 2's bands
    # remain outstanding
    base, deltas = generations.generation_dirs(store)
    assert generations.current(store)["batch_id"] == 2 and len(deltas) == 1
    delta = spark.read.parquet(f"{deltas[0]}/bands")
    assert {r["doc_id"] for r in delta.select("doc_id").distinct().collect()} == {200}
    # doc 200 (batch 2) still found its duplicate 100 (batch 0) —
    # ACROSS the fold, via the base store
    assert got[2] == {(200, 100)}, got
    # and batch 0/1's bands are in the base now
    base_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{base}/bands").select("doc_id").distinct().collect()
    }
    assert {100, 101} <= base_ids
