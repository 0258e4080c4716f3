"""Streaming posting-store maintenance: batch parity of store-backed
conjunctive retrieval with ns_boolean_retrieval, bucket-pruned base
scans, checkpoint restart, replay skip, and idempotent compaction
(SURVEY §2.5 retrieval surface, streaming spelling)."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_extractor_spark.operators.text import BOOL_QUERY, ns_boolean_retrieval
from cassandra_extractor_spark.sources.catalog import load_table
from cassandra_extractor_spark.streaming import generations
from cassandra_extractor_spark.streaming.posting_stream import (
    boolean_query_against_store,
    build_doclens,
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


def _resend(store, batch_id, docs):
    """Commit ``docs`` again as a new batch — a re-sent batch, the shape
    that puts the same postings in base and delta at once."""
    parts = {"postings": build_postings(docs), "doclens": build_doclens(docs)}
    assert generations.commit_delta(store, batch_id, parts)


def test_posting_store_parity_restart_pruning_compaction(
    spark, sf_dir, tmp_path, doc_slices
):
    docs, slices = doc_slices
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    store = str(tmp_path / "store")
    # base store: first slice indexed in batch; the rest arrives live
    write_posting_store(build_postings(slices[0]), build_doclens(slices[0]), store, n_buckets=4)
    stats: dict[int, tuple[int, int]] = {}

    def sink(df, batch_id):
        r = df.collect()[0]
        stats[batch_id] = (r["n_docs"], r["n_postings"])

    def run():
        q = stream_posting_ingest(
            spark,
            source_path=str(src),
            schema=SCHEMA,
            store_dir=store,
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
    got = boolean_query_against_store(spark, store, BOOL_QUERY).collect()
    want = ns_boolean_retrieval(spark, sf_dir).collect()
    assert [(r.doc_id, r.tf_total, r.tf_min) for r in got] == [
        (r.doc_id, r.tf_total, r.tf_min) for r in want
    ]
    assert got, "query matched no documents — fixture terms wrong"

    # BUCKET PRUNING: the base-side term-equality scan selects a
    # strict subset of the 4 buckets
    base = generations.read(spark, store, "postings").where(F.col("tok").isin(*BOOL_QUERY))
    plan = base._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, plan[:2000]
    sel = plan.split("SelectedBucketsCount: ", 1)[1].split(" ", 1)[0]
    assert int(sel) < 4, plan[:2000]

    # restart with no new files: nothing re-fires
    seen = dict(stats)
    run()
    assert stats == seen

    # COMPACTION: both parts' deltas fold into the bucketed base,
    # results unchanged, idempotent; the same documents sent again
    # and folded change nothing
    absorbed = compact_posting_store(spark, store)
    n_docs = slices[1].count() + slices[2].count()  # one doc length each
    assert absorbed == stats[0][1] + stats[1][1] + n_docs
    assert generations.current(store)["deltas"] == []
    got2 = boolean_query_against_store(spark, store, BOOL_QUERY).collect()
    assert [(r.doc_id, r.tf_total, r.tf_min) for r in got2] == [
        (r.doc_id, r.tf_total, r.tf_min) for r in want
    ]
    _resend(store, 2, slices[1].unionByName(slices[2]))
    absorbed2 = compact_posting_store(spark, store)
    assert absorbed2 == absorbed
    got3 = boolean_query_against_store(spark, store, BOOL_QUERY).collect()
    assert [(r.doc_id, r.tf_total, r.tf_min) for r in got3] == [
        (r.doc_id, r.tf_total, r.tf_min) for r in want
    ]
    assert compact_posting_store(spark, store) == 0


def _session_warehouse(body: str) -> Path:
    """Run ``body`` in a fresh interpreter from the checkout's root and
    return the warehouse it printed on its ``WAREHOUSE <path>`` line."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-c", f"import sys\nsys.path.insert(0, {str(ROOT)!r})\n{body}"],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(l for l in out.stdout.splitlines() if l.startswith("WAREHOUSE "))
    return Path(line.removeprefix("WAREHOUSE "))


def _listing(path: Path) -> list[str] | None:
    return sorted(p.name for p in path.iterdir()) if path.is_dir() else None


def test_exiting_process_releases_its_session_store(sf_dir):
    """A process that builds a session BM25 store and exits WITHOUT
    invalidating (a gate run, a bench, a notebook) leaves nothing
    behind: a local session given no warehouse gets a private one,
    which holds the store and is removed at exit, and the checkout's
    ``spark-warehouse`` gets nothing (it was where every tool's tables
    went)."""
    shared = ROOT / "spark-warehouse"
    before = _listing(shared)
    wh = _session_warehouse(f"""
import os
from cassandra_extractor_spark.session import get_spark
from cassandra_extractor_spark.streaming.posting_stream import (
    ensure_session_bm25_store)
spark = get_spark("leaky-session", master="local[4]", shuffle_partitions=4)
store = ensure_session_bm25_store(spark, {sf_dir!r})
wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
assert os.path.dirname(store) == wh and os.path.isdir(store), os.listdir(wh)
print("WAREHOUSE", wh)
""")
    assert not wh.exists(), wh
    assert not wh.resolve().is_relative_to(ROOT), wh
    assert _listing(shared) == before


def test_caller_set_warehouse_is_kept_at_exit(tmp_path):
    """A warehouse the caller sets is used unchanged, and what an
    exiting process leaves there stays: it is the caller's."""
    wh = tmp_path / "warehouse"
    got = _session_warehouse(f"""
from cassandra_extractor_spark.session import get_spark
spark = get_spark("own-warehouse", master="local[2]", shuffle_partitions=2,
                  extra_conf={{"spark.sql.warehouse.dir": {str(wh)!r}}})
spark.range(3).write.saveAsTable("kept")
print("WAREHOUSE", spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
""")
    assert got == wh
    assert (wh / "kept" / "_SUCCESS").exists()


def test_private_warehouse_keeps_launch_conf():
    """Giving a session a private warehouse must not start its JVM
    without the launch-only settings: the driver heap is sized from
    ``SPARK_GRAFT_DRIVER_MEM`` (Spark's own default is 1g)."""
    wh = _session_warehouse("""
import os
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
from cassandra_extractor_spark.session import get_spark
spark = get_spark("heap-sized", master="local[1]", shuffle_partitions=1)
heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
assert 1.5 * 2**30 < heap <= 2 * 2**30, heap
print("WAREHOUSE", spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
""")
    assert not wh.resolve().is_relative_to(ROOT), wh


def test_auto_compaction_mid_stream(spark, sf_dir, tmp_path):
    """Round-12: the in-band size-ratio policy (``auto_compact``) folds
    the delta exactly once mid-stream at its batch cadence — posting
    AND doclen stores together — and the ranked read over base+delta
    stays value-identical to the batch reference across the fold."""
    from cassandra_extractor_spark.operators.text import ns_bm25
    from cassandra_extractor_spark.streaming.maintenance import batch_due
    from cassandra_extractor_spark.streaming.posting_stream import bm25_query_against_store

    # cadence contract: every_n_batches=2 fires at batch ids 1, 3, …
    assert [b for b in range(6) if batch_due({"every_n_batches": 2}, b)] == [1, 3, 5]
    assert not any(batch_due(None, b) for b in range(6))  # off by default

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    store = str(tmp_path / "store")
    base = docs.where(F.col("doc_id") % 4 == 3)
    write_posting_store(build_postings(base), build_doclens(base), store, n_buckets=2)
    for i in range(3):
        _write_batch(spark, tmp_path, src, i, docs.where(F.col("doc_id") % 4 == i))
    q = stream_posting_ingest(
        spark,
        source_path=str(src),
        schema=SCHEMA,
        store_dir=store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        auto_compact={"every_n_batches": 2, "threshold": 1e-9},
    )
    q.awaitTermination(180)
    # the fold ran EXACTLY once (at batch 1): batches 0-1 absorbed
    # into both parts' base, batch 2's delta still pending on both
    assert generations.current(store)["batch_id"] == 2
    base_dir, deltas = generations.generation_dirs(store)
    assert len(deltas) == 1
    batch2 = {r.doc_id for r in docs.where(F.col("doc_id") % 4 == 2).collect()}
    for part in ("postings", "doclens"):
        ids = {r.doc_id for r in spark.read.parquet(f"{deltas[0]}/{part}").collect()}
        assert ids <= batch2 and ids, part
        base_ids = {r.doc_id for r in spark.read.parquet(f"{base_dir}/{part}").collect()}
        assert base_ids.isdisjoint(batch2), part
    # read parity across the fold: store-backed BM25 == the
    # corpus-recomputing batch operator over the same documents
    got = bm25_query_against_store(spark, store)
    want = ns_bm25(spark, sf_dir)
    assert [(r.doc_id, r.bm25) for r in got.collect()] == [
        (r.doc_id, r.bm25) for r in want.collect()
    ]


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
    posting store's postings + doc lengths must be row-identical to the
    corpus-recomputing ns_bm25, across the streamed base+delta split,
    after compaction of BOTH parts, and the term-filtered base scan
    must be bucket-pruned."""
    from cassandra_extractor_spark.operators.text import ns_bm25
    from cassandra_extractor_spark.streaming.posting_stream import bm25_query_against_store

    docs, slices = doc_slices
    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "stage").mkdir()
    store = str(tmp_path / "store")
    write_posting_store(build_postings(slices[0]), build_doclens(slices[0]), store, n_buckets=4)
    q = stream_posting_ingest(
        spark,
        source_path=str(src),
        schema=SCHEMA,
        store_dir=store,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    _write_batch(spark, tmp_path, src, 0, slices[1])
    _write_batch(spark, tmp_path, src, 1, slices[2])
    q.awaitTermination(120)
    q = stream_posting_ingest(
        spark,
        source_path=str(src),
        schema=SCHEMA,
        store_dir=store,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    want = [(r.doc_id, r.bm25) for r in ns_bm25(spark, sf_dir).collect()]
    ranked = bm25_query_against_store(spark, store)
    assert [(r.doc_id, r.bm25) for r in ranked.collect()] == want
    assert any(s != 0.0 for _, s in want), "fixture query matched nothing"

    # bucket pruning on the term-filtered posting base
    base = generations.read(spark, store, "postings").where(
        F.col("tok").isin("table", "hash", "spark")
    )
    plan = base._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, plan[:2000]

    # compact BOTH parts in one call (idempotent: the same documents
    # sent again and folded change nothing)
    absorbed = compact_posting_store(spark, store)
    assert absorbed > 0
    ranked2 = bm25_query_against_store(spark, store)
    assert [(r.doc_id, r.bm25) for r in ranked2.collect()] == want
    _resend(store, 2, slices[1].unionByName(slices[2]))
    assert compact_posting_store(spark, store) == absorbed
    ranked3 = bm25_query_against_store(spark, store)
    assert [(r.doc_id, r.bm25) for r in ranked3.collect()] == want


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
    # session legitimately keep theirs) and removes its store
    import os

    from cassandra_extractor_spark.operators.dedup import _norm_dir, invalidate_dedup_chain

    assert os.path.isdir(first)
    invalidate_dedup_chain(spark, sf_dir)
    assert _norm_dir(sf_dir) not in spark.__dict__["_ce_posting_store"]
    assert not os.path.exists(first)


def test_two_process_store_isolation(spark, sf_dir):
    """Two engine sessions on one corpus + one warehouse must not
    destroy each other's session BM25 stores.  Round-12 regression
    test: the on-disk tag was keyed by corpus dir alone, so a second
    session's build clobbered the first's store mid-read (observed as
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
    # corpus, read it, then invalidate (removing only its own
    # app-id-tagged store) and exit
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
store = ensure_session_bm25_store(spark, {sf_dir!r})
n = ns_bm25_store(spark, {sf_dir!r}).count()
invalidate_dedup_chain(spark, {sf_dir!r})
print("STORE", store)
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
        l.split(" ", 1) for l in out.stdout.splitlines() if l.startswith(("STORE", "ROWS"))
    )
    assert int(lines["ROWS"]) == len(want)
    # distinct per-session store dirs — the isolation mechanism
    assert lines["STORE"] != mine
    # and the parent's CACHED store survived the other session's full
    # build/read/invalidate cycle, value-identical (pre-nonce this read
    # failed: the store had been removed out from under the cache)
    assert ensure_session_bm25_store(spark, sf_dir) is mine
    assert [(r.doc_id, r.bm25) for r in ns_bm25_store(spark, sf_dir).collect()] == want
