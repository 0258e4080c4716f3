"""End-to-end extraction flows: spec → build → sinks; streaming resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_extractor_spark.config import load_properties, resolve
from cassandra_extractor_spark.plans.spec import ExtractionSpec
from cassandra_extractor_spark.sinks.fanout import fan_out
from cassandra_extractor_spark.sinks.jsonl import write_jsonl
from cassandra_extractor_spark.streaming.pipeline import stream_extract


def test_spec_build_pushdown(spark, sf_dir):
    spec = ExtractionSpec(
        table="orders",
        columns=["o_orderkey", "o_custkey", "o_orderstatus"],
        filter="o_orderstatus = 'F'",
        sort=["o_orderkey"],
        limit=50,
    )
    df = spec.build(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 50
    assert all(r["o_orderstatus"] == "F" for r in rows)
    # projection + predicate reach the parquet scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderstatus)" in plan


def test_full_extract_to_jsonl(spark, sf_dir, tmp_path):
    spec = ExtractionSpec(
        table="events",
        table_spec={
            "columns": [
                {"name": "event_id", "renameTo": "id"},
                {"name": "user_id", "remove": True},
            ]
        },
    )
    out = str(tmp_path / "events_out")
    results = fan_out(spec.build(spark, sf_dir), {"jsonl": lambda df: write_jsonl(df, out)})
    assert results == {"jsonl": None}
    back = spark.read.json(out)
    assert back.count() == 1000
    assert "id" in back.columns and "user_id" not in back.columns


def test_streaming_extract_and_resume(spark, sf_dir, tmp_path):
    import glob
    import os
    import shutil

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    out_counts = []
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    def add_files(df, tag):
        # the streaming file source expects flat files in the dir
        stage = str(tmp_path / f"stage_{tag}")
        df.write.parquet(stage)
        for i, f in enumerate(glob.glob(f"{stage}/part-*.parquet")):
            shutil.copy(f, f"{src}/{tag}_{i}.parquet")

    add_files(events.limit(400), "p1")
    schema = spark.read.parquet(src).schema

    def sink(df, batch_id):
        out_counts.append(df.count())

    q = stream_extract(spark, src, schema, {"s": sink}, ckpt)
    q.awaitTermination(120)
    first_total = sum(out_counts)
    assert first_total == 400

    # add more files; a resumed query must process ONLY the new ones
    add_files(events.limit(1000).subtract(events.limit(400)), "p2")
    out_counts.clear()
    q2 = stream_extract(spark, src, schema, {"s": sink}, ckpt)
    q2.awaitTermination(120)
    assert sum(out_counts) == 600  # checkpoint prevented reprocessing


def test_read_source_roundtrip(spark, sf_dir, tmp_path):
    from cassandra_extractor_spark.sources.catalog import load_table, read_source

    df = load_table(spark, "nation", sf_dir)
    df.write.option("header", "true").csv(str(tmp_path / "n_csv"))
    df.write.json(str(tmp_path / "n_json"))
    df.write.orc(str(tmp_path / "n_orc"))
    back_csv = read_source(spark, str(tmp_path / "n_csv"), "csv")
    back_json = read_source(spark, str(tmp_path / "n_json"), "json", schema=df.schema)
    back_orc = read_source(spark, str(tmp_path / "n_orc"), "orc")
    assert back_csv.count() == df.count()
    assert sorted(r["n_name"] for r in back_json.collect()) == sorted(
        r["n_name"] for r in df.collect()
    )
    # ORC preserves the exact schema (columnar, typed — like parquet)
    assert back_orc.schema == df.schema
    assert back_orc.count() == df.count()


def _jobs(spark, group, action):
    """(Spark jobs ``action()`` ran, counted by job group, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def _land(path, name, **columns):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(columns), path / f"{name}.parquet")


def test_read_source_pins_the_schema_and_lists_afresh(spark, tmp_path):
    """The first read of a path infers its schema (a Spark job); a second
    read takes it from the session's memo and launches no job, yet lists
    the directory afresh, so a file landed between two reads is read."""
    from cassandra_extractor_spark.sources.catalog import read_source

    src = tmp_path / "src"
    _land(src, "a", id=[1, 2])
    jobs, first = _jobs(spark, "read-source-first", lambda: read_source(spark, str(src)))
    assert jobs >= 1 and first.count() == 2
    jobs, again = _jobs(spark, "read-source-again", lambda: read_source(spark, str(src)))
    assert jobs == 0 and again.schema == first.schema
    _land(src, "b", id=[3])
    jobs, landed = _jobs(spark, "read-source-landed", lambda: read_source(spark, str(src)))
    assert jobs == 0
    assert sorted(r["id"] for r in landed.collect()) == [1, 2, 3]


@pytest.mark.parametrize("clear", ["invalidate_table_cache", "cache_clear"])
def test_cleared_schema_memo_reads_a_new_column(spark, tmp_path, clear):
    """The pinned schema holds until it is cleared: a table rewritten in
    place with a new column reads its old columns, and after
    ``invalidate_table_cache`` or ``/cache/clear`` the new one too."""
    from cassandra_extractor_spark.actuator import Actuator
    from cassandra_extractor_spark.sources.catalog import invalidate_table_cache, read_table

    table = tmp_path / "t.parquet"
    _land(table, "part-0", id=[1])
    assert read_table(spark, "t", str(tmp_path)).columns == ["id"]
    (table / "part-0.parquet").unlink()
    _land(table, "part-1", id=[2], extra=["x"])
    assert read_table(spark, "t", str(tmp_path)).columns == ["id"]
    if clear == "cache_clear":
        Actuator(spark).cache_clear()
    else:
        invalidate_table_cache(spark, str(tmp_path))
    assert [tuple(r) for r in read_table(spark, "t", str(tmp_path)).collect()] == [(2, "x")]


def test_nanosecond_events_read_the_same_through_the_memo(spark, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS) reads as a long under
    ``nanosAsLong`` and is truncated to microseconds: a read whose schema
    comes from the memo gives the dtypes and rows of the read that
    inferred it."""
    import pyarrow as pa

    from cassandra_extractor_spark.sources.catalog import read_table

    ns = [1_704_067_200_000_000_123, 1_704_067_201_000_001_999]
    _land(tmp_path / "events.parquet", "part-0", event_id=[1, 2],
          ts=pa.array(ns, pa.timestamp("ns", tz="UTC")))
    first = read_table(spark, "events", str(tmp_path))
    jobs, again = _jobs(spark, "events-again", lambda: read_table(spark, "events", str(tmp_path)))
    assert jobs == 0
    assert again.dtypes == first.dtypes == [("event_id", "bigint"), ("ts", "timestamp")]
    assert again.collect() == first.collect()
    micros = again.orderBy("event_id").select(F.unix_micros("ts").alias("us"))
    assert [r["us"] for r in micros.collect()] == [n // 1000 for n in ns]


def test_config_precedence(tmp_path, monkeypatch):
    props = load_properties("a.b=fromfile\nother=x", is_text=True)
    assert props["a.b"] == "fromfile"
    assert resolve("a.b", properties=props) == "fromfile"
    monkeypatch.setenv("A_B", "fromenv")
    assert resolve("a.b", properties=props) == "fromenv"
    assert resolve("a.b", cli_args={"a.b": "fromcli"}, properties=props) == "fromcli"
    assert resolve("missing", default=42, cast=int) == 42


def test_stream_extract_takes_a_prebuilt_source_stream(spark, tmp_path):
    """``stream_extract`` runs its fan-out and checkpoint contract over
    any pre-built streaming frame passed as ``source_stream``."""
    from cassandra_extractor_spark.streaming.pipeline import stream_extract

    src = str(tmp_path / "src")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(src)
    stream = spark.readStream.schema("id long, v long").parquet(src)
    got = []
    q = stream_extract(
        spark,
        source_stream=stream.where("id >= 5"),
        sinks={"s": lambda d, b: got.append(d.count())},
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert sum(got) == 5


def test_sequence_pack_offsets_consistent(spark, sf_dir):
    from cassandra_extractor_spark.operators.extraction import SEQ_BUDGET, ns_sequence_pack

    rows = ns_sequence_pack(spark, sf_dir).collect()
    assert rows
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for members in by_src.values():
        members.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in members:
            assert r["seq_id"] == cum // SEQ_BUDGET
            assert r["seq_offset"] == cum % SEQ_BUDGET
            cum += r["n_tokens"]


def test_corpus_diff_statuses(spark, sf_dir):
    """Snapshot diff: docs >= horizon are added, mutated old docs are
    changed, the rest unchanged; removed is impossible in this modeling
    (old is a subset)."""
    from collections import Counter

    from cassandra_extractor_spark.operators.extraction import (
        DIFF_OLD_DOCS,
        ns_corpus_diff,
    )

    rows = ns_corpus_diff(spark, sf_dir).collect()
    by = Counter(r["status"] for r in rows)
    assert by["added"] == sum(1 for r in rows if r["doc_id"] >= DIFF_OLD_DOCS)
    assert by["changed"] > 0 and by.get("removed", 0) == 0
    for r in rows:
        if r["doc_id"] >= DIFF_OLD_DOCS:
            assert r["status"] == "added"
        elif r["doc_id"] % 7 == 0:
            # reversal may be a no-op for palindromic-normalized text,
            # but on this corpus every multiple of 7 truly changes
            assert r["status"] == "changed", r


def test_data_audit_clean_corpus(spark, sf_dir):
    """The synthetic corpus is clean: no empty text, metadata
    consistent, all languages known — the audit must say exactly that
    (a nonzero count here means the audit or the data broke)."""
    from cassandra_extractor_spark.operators.extraction import ns_data_audit

    rows = ns_data_audit(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_empty_text"] == 0 and r["n_chars_mismatch"] == 0
        assert r["n_unknown_lang"] == 0
        assert 0 < r["min_tokens"] <= r["max_tokens"]


def test_streaming_mid_batch_failure_replays_batch_no_dup_no_gap(spark, sf_dir, tmp_path):
    """Chaos resume: the sink dies MID-BATCH (after partially writing),
    the query fails, and a restart from the same checkpoint must replay
    the SAME batch id so an idempotent overwrite-by-batch-id sink ends
    with no duplicates and no gaps — the streaming mirror of the
    reference's page-offset resume under failure (worker.py:164-201),
    not just a clean restart.  This is the documented contract:
    exactly-once source tracking, at-least-once sinks, idempotence keyed
    on batchId."""
    import glob
    import os
    import shutil

    src = str(tmp_path / "chaos_src")
    ckpt = str(tmp_path / "chaos_ckpt")
    os.makedirs(src)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    stage = str(tmp_path / "chaos_stage")
    events.limit(400).write.parquet(stage)
    for i, f in enumerate(glob.glob(f"{stage}/part-*.parquet")):
        shutil.copy(f, f"{src}/p1_{i}.parquet")
    schema = spark.read.parquet(src).schema
    expected = {r["event_id"] for r in spark.read.parquet(src).select("event_id").collect()}

    attempts: list[tuple[int, int]] = []  # (batch_id, n_rows seen)
    committed: dict[int, frozenset] = {}  # batch_id -> ids (idempotent overwrite)
    armed = {"fail": True}

    def sink(df, batch_id):
        ids = [r["event_id"] for r in df.select("event_id").collect()]
        attempts.append((batch_id, len(ids)))
        if armed["fail"]:
            armed["fail"] = False
            # crash AFTER a partial external write — the half-written
            # state is what the replay must repair
            committed[batch_id] = frozenset(ids[: len(ids) // 2])
            raise RuntimeError("chaos: sink died mid-batch")
        committed[batch_id] = frozenset(ids)

    q = stream_extract(spark, src, schema, {"s": sink}, ckpt)
    failed = False
    try:
        q.awaitTermination(120)
        failed = q.exception() is not None
    except Exception:
        failed = True
    assert failed, "query should fail when the sink dies mid-batch"
    # partial state visible: the half-write persisted
    assert sum(len(v) for v in committed.values()) < len(expected)

    q2 = stream_extract(spark, src, schema, {"s": sink}, ckpt)
    q2.awaitTermination(120)
    assert q2.exception() is None

    # the retry processed the SAME batch id (no offset skip)
    assert attempts[0][0] == attempts[1][0], attempts
    # idempotent overwrite repaired the partial write: no dup, no gap
    got = frozenset().union(*committed.values())
    assert got == expected
    assert sum(len(v) for v in committed.values()) == len(expected)


def test_quality_by_dup_reconciles_with_corpus_select(spark, sf_dir):
    """The 2x2 cells partition the corpus exactly, and the flagship
    keep-list size is bounded by the gate-passing cells."""
    from cassandra_extractor_spark.operators.extraction import (
        ns_corpus_select,
        ns_quality_by_dup,
    )
    from cassandra_extractor_spark.sources.catalog import load_table

    cells = {(r.is_dup, r.passes_gate): r for r in ns_quality_by_dup(spark, sf_dir).collect()}
    n_total = load_table(spark, "documents", sf_dir).count()
    assert sum(r.n_docs for r in cells.values()) == n_total
    keep = ns_corpus_select(spark, sf_dir).count()
    passing = sum(r.n_docs for (dup, gate), r in cells.items() if gate)
    unique_passing = cells.get((False, True))
    assert keep <= passing
    if unique_passing is not None:
        # every unique gate-passer survives corpus_select
        assert keep >= unique_passing.n_docs
