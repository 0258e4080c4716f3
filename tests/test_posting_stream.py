"""Streaming posting-store maintenance: batch parity of store-backed
conjunctive retrieval with ns_boolean_retrieval, bucket-pruned base
scans, checkpoint restart, replay overwrite, and idempotent compaction
(SURVEY §2.5 retrieval surface, streaming spelling)."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_extractor_spark.operators.text import BOOL_QUERY, ns_boolean_retrieval
from cassandra_extractor_spark.sources.catalog import load_table
from cassandra_extractor_spark.streaming.posting_stream import (
    boolean_query_against_store,
    build_postings,
    compact_posting_store,
    stream_posting_ingest,
    write_posting_store,
)

SCHEMA = "doc_id LONG, text STRING"
#: the checkout these tests live in; the subprocess sessions import it
ROOT = Path(__file__).resolve().parent.parent


def _write_batch(spark, tmp_path, src, file_no: int, df) -> None:
    stage = tmp_path / "stage" / f"f{file_no}"
    df.coalesce(1).write.mode("overwrite").parquet(str(stage))
    part = next(stage.glob("*.parquet"))
    part.rename(src / f"data_{file_no}.parquet")


@pytest.fixture()
def doc_slices(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return d, (
        d.where(F.col("doc_id") % 3 == 0),
        d.where(F.col("doc_id") % 3 == 1),
        d.where(F.col("doc_id") % 3 == 2),
    )


def test_posting_store_parity_restart_pruning_compaction(
    spark, sf_dir, tmp_path, doc_slices
):
    docs, slices = doc_slices
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    table = "posting_store_t"
    # base store: first slice indexed in batch; the rest arrives live
    write_posting_store(build_postings(slices[0]), table, n_buckets=4)
    try:
        stats: dict[int, tuple[int, int]] = {}

        def sink(df, batch_id):
            r = df.collect()[0]
            stats[batch_id] = (r["n_docs"], r["n_postings"])

        def run():
            q = stream_posting_ingest(
                spark,
                source_path=str(src),
                schema=SCHEMA,
                delta_dir=str(tmp_path / "delta"),
                checkpoint_dir=str(tmp_path / "ckpt"),
                stats_sink=sink,
            )
            q.awaitTermination(120)

        _write_batch(spark, tmp_path, src, 0, slices[1])
        run()
        assert 0 in stats and stats[0][1] > 0
        # restart for the third slice
        _write_batch(spark, tmp_path, src, 1, slices[2])
        run()
        assert set(stats) == {0, 1}

        # PARITY: store-backed AND-retrieval == the batch operator
        got = boolean_query_against_store(
            spark, table, str(tmp_path / "delta"), BOOL_QUERY
        ).collect()
        want = ns_boolean_retrieval(spark, sf_dir).collect()
        assert [(r.doc_id, r.tf_total, r.tf_min) for r in got] == [
            (r.doc_id, r.tf_total, r.tf_min) for r in want
        ]
        assert got, "query matched no documents — fixture terms wrong"

        # BUCKET PRUNING: the base-side term-equality scan selects a
        # strict subset of the 4 buckets
        base = spark.table(table).where(F.col("tok").isin(*BOOL_QUERY))
        plan = base._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan[:2000]
        sel = plan.split("SelectedBucketsCount: ", 1)[1].split(" ", 1)[0]
        assert int(sel) < 4, plan[:2000]

        # restart with no new files: nothing re-fires
        seen = dict(stats)
        run()
        assert stats == seen

        # COMPACTION: delta folds into the bucketed base, results
        # unchanged, idempotent; a second fold with a stale delta copy
        # (crash window) changes nothing
        import shutil

        shutil.copytree(str(tmp_path / "delta"), str(tmp_path / "delta_stale"))
        absorbed = compact_posting_store(spark, table, str(tmp_path / "delta"), 4)
        assert absorbed == stats[0][1] + stats[1][1]
        assert not (tmp_path / "delta").exists()
        got2 = boolean_query_against_store(
            spark, table, str(tmp_path / "delta"), BOOL_QUERY
        ).collect()
        assert [(r.doc_id, r.tf_total, r.tf_min) for r in got2] == [
            (r.doc_id, r.tf_total, r.tf_min) for r in want
        ]
        # crash-window replay: re-absorb the stale copy → identical store
        absorbed2 = compact_posting_store(spark, table, str(tmp_path / "delta_stale"), 4)
        assert absorbed2 == absorbed
        got3 = boolean_query_against_store(
            spark, table, str(tmp_path / "delta"), BOOL_QUERY
        ).collect()
        assert [(r.doc_id, r.tf_total, r.tf_min) for r in got3] == [
            (r.doc_id, r.tf_total, r.tf_min) for r in want
        ]
        assert compact_posting_store(spark, table, str(tmp_path / "delta"), 4) == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_exiting_process_releases_its_session_store(spark, sf_dir):
    """Round-12: a process that builds a session BM25 store and exits
    WITHOUT invalidating (a gate run, a bench, a notebook) must not
    leave its app-id-tagged tables in the shared warehouse — the
    atexit hook drops them.  Observed before the fix: 2 orphan tables
    per tool process, 18 accrued over one working session."""
    import os
    import subprocess
    import sys

    from cassandra_extractor_spark.streaming.posting_stream import (
        _drop_all_session_stores,
        ensure_session_bm25_store,
    )

    # the child session shares this session's warehouse
    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh = wh[len("file:") :] if wh.startswith("file:") else wh
    script = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
from cassandra_extractor_spark.session import get_spark
from cassandra_extractor_spark.streaming.posting_stream import (
    ensure_session_bm25_store)
spark = get_spark("leaky-session", master="local[4]", shuffle_partitions=4,
                  extra_conf={{"spark.sql.warehouse.dir": {wh!r}}})
tables = ensure_session_bm25_store(spark, {sf_dir!r})
print("TABLES", *tables)
# exit WITHOUT invalidating: the atexit hook must clean up
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    theirs = next(
        l.split()[1:] for l in out.stdout.splitlines() if l.startswith("TABLES")
    )
    for t in theirs:
        assert not os.path.isdir(os.path.join(wh, t)), t
    # in-process spelling of the same contract: the hook drops this
    # session's live store too (cache cleared, tables + dirs gone) and
    # stays registered, so a REBUILD after a manual invocation is
    # still covered at exit
    mine = ensure_session_bm25_store(spark, sf_dir)
    _drop_all_session_stores()
    assert spark.__dict__["_ce_posting_store"] == {}
    for t in mine:
        assert not spark.catalog.tableExists(t), t
        assert not os.path.isdir(os.path.join(wh, t)), t
    rebuilt = ensure_session_bm25_store(spark, sf_dir)
    assert rebuilt == mine  # same session → same deterministic names…
    for t in rebuilt:  # …but genuinely rebuilt on disk
        assert spark.catalog.tableExists(t), t
    from cassandra_extractor_spark.operators.dedup import invalidate_dedup_chain

    invalidate_dedup_chain(spark, sf_dir)


def test_auto_compaction_mid_stream(spark, sf_dir, tmp_path):
    """Round-12: the in-band size-ratio policy (``auto_compact``) folds
    the delta exactly once mid-stream at its batch cadence — posting
    AND doclen stores together — and the ranked read over base+delta
    stays value-identical to the batch reference across the fold."""
    from cassandra_extractor_spark.operators.text import ns_bm25
    from cassandra_extractor_spark.streaming.maintenance import batch_due
    from cassandra_extractor_spark.streaming.posting_stream import (
        bm25_query_against_store,
        build_doclens,
        write_doclen_store,
    )

    # cadence contract: every_n_batches=2 fires at batch ids 1, 3, …
    assert [b for b in range(6) if batch_due({"every_n_batches": 2}, b)] == [1, 3, 5]
    assert not any(batch_due(None, b) for b in range(6))  # off by default

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    table, dl_table = "autoc_post_t", "autoc_dl_t"
    base = docs.where(F.col("doc_id") % 4 == 3)
    write_posting_store(build_postings(base), table, n_buckets=2)
    write_doclen_store(build_doclens(base), dl_table, n_buckets=2)
    try:
        for i in range(3):
            _write_batch(
                spark, tmp_path, src, i, docs.where(F.col("doc_id") % 4 == i)
            )
        q = stream_posting_ingest(
            spark,
            source_path=str(src),
            schema=SCHEMA,
            delta_dir=str(tmp_path / "delta"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            doclen_delta_dir=str(tmp_path / "dl_delta"),
            store_table=table,
            auto_compact={
                "every_n_batches": 2,
                "threshold": 1e-9,
                "n_buckets": 2,
                "doclen_table": dl_table,
            },
        )
        q.awaitTermination(180)
        # the fold ran EXACTLY once (at batch 1): batches 0-1 absorbed
        # into both bases, batch 2's delta still pending on both sides
        assert {p.name for p in (tmp_path / "delta").iterdir()} == {"batch=2"}
        assert {p.name for p in (tmp_path / "dl_delta").iterdir()} == {"batch=2"}
        # read parity across the fold: store-backed BM25 == the
        # corpus-recomputing batch operator over the same documents
        got = bm25_query_against_store(
            spark, table, str(tmp_path / "delta"), dl_table, str(tmp_path / "dl_delta")
        )
        want = ns_bm25(spark, sf_dir)
        assert [(r.doc_id, r.bm25) for r in got.collect()] == [
            (r.doc_id, r.bm25) for r in want.collect()
        ]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {dl_table}")


def test_build_postings_matches_python(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["a b a\tc", "  b  B b "],
        }
    )
    docs = spark.createDataFrame(pdf, SCHEMA)
    got = {
        (r.doc_id, r.tok): r.tf for r in build_postings(docs).collect()
    }
    assert got == {(0, "a"): 2, (0, "b"): 1, (0, "c"): 1, (1, "b"): 3}


def test_bm25_store_ranked_retrieval_parity_and_pruning(
    spark, sf_dir, tmp_path, doc_slices
):
    """Store-backed RANKED retrieval (round-11): BM25 served from the
    posting + doc-length stores must be row-identical to the corpus-
    recomputing ns_bm25, across the streamed base+delta split, after
    compaction of BOTH stores, and the term-filtered base scan must be
    bucket-pruned."""
    from cassandra_extractor_spark.operators.text import ns_bm25
    from cassandra_extractor_spark.streaming.posting_stream import (
        bm25_query_against_store,
        build_doclens,
        compact_doclen_store,
        write_doclen_store,
    )

    docs, slices = doc_slices
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    table, dl_table = "bm25p_t", "bm25d_t"
    write_posting_store(build_postings(slices[0]), table, n_buckets=4)
    write_doclen_store(build_doclens(slices[0]), dl_table, n_buckets=4)
    try:
        q = stream_posting_ingest(
            spark,
            source_path=str(src),
            schema=SCHEMA,
            delta_dir=str(tmp_path / "delta"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            doclen_delta_dir=str(tmp_path / "dl_delta"),
        )
        _write_batch(spark, tmp_path, src, 0, slices[1])
        _write_batch(spark, tmp_path, src, 1, slices[2])
        q.awaitTermination(120)
        q = stream_posting_ingest(
            spark,
            source_path=str(src),
            schema=SCHEMA,
            delta_dir=str(tmp_path / "delta"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            doclen_delta_dir=str(tmp_path / "dl_delta"),
        )
        q.awaitTermination(120)

        want = [(r.doc_id, r.bm25) for r in ns_bm25(spark, sf_dir).collect()]
        ranked = bm25_query_against_store(
            spark, table, str(tmp_path / "delta"), dl_table, str(tmp_path / "dl_delta")
        )
        assert [(r.doc_id, r.bm25) for r in ranked.collect()] == want
        assert any(s != 0.0 for _, s in want), "fixture query matched nothing"

        # bucket pruning on the term-filtered posting base
        base = spark.table(table).where(F.col("tok").isin("table", "hash", "spark"))
        plan = base._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount" in plan, plan[:2000]

        # compact BOTH stores (doclen fold idempotent incl. crash window)
        import shutil

        shutil.copytree(str(tmp_path / "dl_delta"), str(tmp_path / "dl_stale"))
        absorbed = compact_posting_store(spark, table, str(tmp_path / "delta"), 4)
        assert absorbed > 0
        dl_absorbed = compact_doclen_store(spark, dl_table, str(tmp_path / "dl_delta"), 4)
        assert dl_absorbed > 0
        ranked2 = bm25_query_against_store(
            spark, table, str(tmp_path / "delta"), dl_table, str(tmp_path / "dl_delta")
        )
        assert [(r.doc_id, r.bm25) for r in ranked2.collect()] == want
        assert (
            compact_doclen_store(spark, dl_table, str(tmp_path / "dl_stale"), 4)
            == dl_absorbed
        )
        ranked3 = bm25_query_against_store(spark, table, None, dl_table, None)
        assert [(r.doc_id, r.bm25) for r in ranked3.collect()] == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {dl_table}")


def test_ns_bm25_store_registry_entry(spark, sf_dir):
    """The registry entry builds the session store once (second call is
    a cache hit returning the same tables) and matches ns_bm25."""
    from cassandra_extractor_spark.operators.text import ns_bm25
    from cassandra_extractor_spark.streaming.posting_stream import (
        ensure_session_bm25_store,
        ns_bm25_store,
    )

    got = [(r.doc_id, r.bm25) for r in ns_bm25_store(spark, sf_dir).collect()]
    want = [(r.doc_id, r.bm25) for r in ns_bm25(spark, sf_dir).collect()]
    assert got == want
    first = ensure_session_bm25_store(spark, sf_dir)
    assert ensure_session_bm25_store(spark, sf_dir) is first
    # invalidation contract: the shared-chain invalidator is SCOPED —
    # it evicts this corpus's entry (other corpora built earlier in the
    # session legitimately keep theirs) and drops its managed tables
    from cassandra_extractor_spark.operators.dedup import _norm_dir, invalidate_dedup_chain

    invalidate_dedup_chain(spark, sf_dir)
    assert _norm_dir(sf_dir) not in spark.__dict__["_ce_posting_store"]
    for t in first:
        assert not spark.catalog.tableExists(t), t


def test_two_process_store_isolation(spark, sf_dir):
    """Two engine sessions on one corpus + one warehouse must not
    destroy each other's session BM25 stores.  Round-12 regression
    test: the on-disk table tag was keyed by corpus dir alone, and
    every session build starts with DROP TABLE + rmtree — so a second
    session's build clobbered the first's tables mid-read (observed as
    transient ns_bm25_store hash failures under two concurrent gate
    runs).  The tag now folds in the applicationId; this test proves a
    second process's build+invalidate cycle leaves the first session's
    cached store intact and value-identical."""
    import subprocess
    import sys

    from cassandra_extractor_spark.operators.text import ns_bm25
    from cassandra_extractor_spark.streaming.posting_stream import (
        ensure_session_bm25_store,
        ns_bm25_store,
    )

    want = [(r.doc_id, r.bm25) for r in ns_bm25(spark, sf_dir).collect()]
    assert [(r.doc_id, r.bm25) for r in ns_bm25_store(spark, sf_dir).collect()] == want
    mine = ensure_session_bm25_store(spark, sf_dir)
    # second session, SAME warehouse dir: build the store for the SAME
    # corpus, read it, then invalidate (dropping only its own
    # app-id-tagged tables) and exit
    wh = spark.conf.get("spark.sql.warehouse.dir")
    script = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
from cassandra_extractor_spark.operators.dedup import invalidate_dedup_chain
from cassandra_extractor_spark.session import get_spark
from cassandra_extractor_spark.streaming.posting_stream import (
    ensure_session_bm25_store, ns_bm25_store)
spark = get_spark("second-session", master="local[4]", shuffle_partitions=4,
                  extra_conf={{"spark.sql.warehouse.dir": {wh!r}}})
tables = ensure_session_bm25_store(spark, {sf_dir!r})
n = ns_bm25_store(spark, {sf_dir!r}).count()
invalidate_dedup_chain(spark, {sf_dir!r})
print("TABLES", *tables)
print("ROWS", n)
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(
        l.split(" ", 1) for l in out.stdout.splitlines() if l.startswith(("TABLES", "ROWS"))
    )
    theirs = tuple(lines["TABLES"].split())
    assert int(lines["ROWS"]) == len(want)
    # distinct per-session table names — the isolation mechanism
    assert set(theirs).isdisjoint(set(mine))
    # and the parent's CACHED store survived the other session's full
    # build/read/invalidate cycle, value-identical (pre-nonce this read
    # failed: the tables had been dropped out from under the cache)
    assert ensure_session_bm25_store(spark, sf_dir) is mine
    assert [(r.doc_id, r.bm25) for r in ns_bm25_store(spark, sf_dir).collect()] == want


def test_auto_compact_doclen_param_pairing_rejected_at_start(spark, tmp_path):
    """Round-13 (advisor): BOTH directions of the doclen param pairing
    fail at stream start — doclen_table without doclen_delta_dir
    (round-12 guard) AND doclen_delta_dir without doclen_table (the
    converse: doclen deltas silently excluded from the size-ratio
    policy would grow unboundedly while only postings fold)."""
    src = tmp_path / "src"
    src.mkdir()
    common = dict(
        source_path=str(src),
        schema=SCHEMA,
        delta_dir=str(tmp_path / "delta"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        store_table="never_created",
    )
    with pytest.raises(ValueError, match="doclen_table requires doclen_delta_dir"):
        stream_posting_ingest(
            spark, auto_compact={"doclen_table": "dl_t"}, **common
        )
    with pytest.raises(ValueError, match="requires doclen_table"):
        stream_posting_ingest(
            spark,
            doclen_delta_dir=str(tmp_path / "dl_delta"),
            auto_compact={"threshold": 0.2},
            **common,
        )
