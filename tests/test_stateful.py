"""Sessionization, watermarked streaming dedup and the streaming CDC view."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row

# Long-running suite (r13 verdict #2: the full suite outgrew the
# driver pytest window) — deselected by default via pytest.ini
# addopts; the full gate runs it explicitly with `-m ""`.
pytestmark = pytest.mark.slow


from cassandra_extractor_spark.streaming.stateful import sessionize


def _events(spark):
    base = datetime.datetime(2024, 1, 1)

    def at(minutes):
        return base + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: two sessions (gap 40 > 30 min)
        Row(user_id=1, event_id=1, ts=at(0)),
        Row(user_id=1, event_id=2, ts=at(10)),
        Row(user_id=1, event_id=3, ts=at(50)),
        # user 2: one session
        Row(user_id=2, event_id=4, ts=at(5)),
        Row(user_id=2, event_id=5, ts=at(20)),
    ]
    return spark.createDataFrame(rows)


def test_batch_sessionize(spark):
    out = sessionize(_events(spark)).orderBy("user_id", "session_start_ms").collect()
    assert [(r["user_id"], r["n_events"]) for r in out] == [(1, 2), (1, 1), (2, 2)]
    first = out[0]
    assert first["session_end_ms"] - first["session_start_ms"] == 10 * 60 * 1000


def test_streaming_dedup_with_watermark(spark, tmp_path, sf_dir):
    """Streaming exact dedup: dropDuplicates on the key within the
    watermark horizon — duplicate events across micro-batches are
    emitted once."""
    from pyspark.sql import functions as F
    from cassandra_extractor_spark.sources.catalog import load_table

    src = str(tmp_path / "dsrc")
    ev = load_table(spark, "events", sf_dir).limit(200)
    # duplicate every row (two files, same content)
    ev.write.parquet(src)
    import glob
    import shutil

    for i, f in enumerate(glob.glob(f"{src}/part-*.parquet")):
        shutil.copy(f, f"{src}/dup_{i}.parquet")
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT COUNT(*) c FROM dedup_out").first()["c"]
    distinct = spark.sql("SELECT COUNT(DISTINCT event_id) c FROM dedup_out").first()["c"]
    assert n == distinct == 200  # 400 input rows -> 200 unique events


def test_stream_cdc_apply_view_parity_stale_and_replay(spark, tmp_path):
    """Streaming CDC materialized view (streaming twin of cdc_apply).
    Contracts: (1) after a drain the served view equals batch
    cdc_apply(base, all landed changes); (2) checkpoint restart
    processes only new files and a LATE STALE update neither regresses
    an applied newer update nor resurrects a deleted key (tombstone +
    retained order_cols fence it); (3) re-merging an already-applied
    batch is a no-op (replay idempotence by algebra)."""
    import os

    import pandas as pd

    from cassandra_extractor_spark.operators.relational import cdc_apply
    from cassandra_extractor_spark.streaming.cdc_stream import (
        init_cdc_store,
        merge_cdc_batch,
        read_cdc_view,
        stream_cdc_apply,
    )

    src = tmp_path / "cdcsrc"
    store = str(tmp_path / "cdcstore")
    ckpt = str(tmp_path / "cdcck")
    schema = "k LONG, op STRING, seq LONG, bal LONG"

    base = spark.createDataFrame(
        pd.DataFrame(
            [
                {"k": 1, "op": "U", "seq": 0, "bal": 100},
                {"k": 2, "op": "U", "seq": 0, "bal": 200},
            ]
        ),
        schema,
    )
    init_cdc_store(
        spark, base, store, key="k", op_col="op", order_cols=["seq"]
    )

    def land(file_no, rows):
        (
            spark.createDataFrame(pd.DataFrame(rows), schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / "stage" / f"c{file_no}"))
        )
        part = next((tmp_path / "stage" / f"c{file_no}").glob("*.parquet"))
        src.mkdir(exist_ok=True)
        part.rename(src / f"data_{file_no}.parquet")

    def run():
        q = stream_cdc_apply(
            spark, str(src), schema, store, ckpt,
            key="k", order_cols=["seq"], op_col="op", payload_cols=["bal"],
        )
        q.awaitTermination()

    def view():
        return {r.k: r.bal for r in read_cdc_view(spark, store).collect()}

    def batch_truth():
        changes = spark.read.schema(schema).parquet(f"{src}/*.parquet")
        applied = cdc_apply(
            base.select("k", "bal"), changes,
            key="k", order_cols=["seq"], op_col="op", payload_cols=["bal"],
        )
        return {r.k: r.bal for r in applied.collect()}

    land(0, [{"k": 1, "op": "U", "seq": 10, "bal": 111},
             {"k": 3, "op": "U", "seq": 11, "bal": 333}])
    land(1, [{"k": 2, "op": "D", "seq": 20, "bal": 0}])
    run()
    assert view() == batch_truth() == {1: 111, 3: 333}

    # restart with LATE STALE changes: older update for k=1 (must not
    # regress 111) and an older update for deleted k=2 (tombstone wins).
    # Delta-store contract: this batch lands as a delta, so its commit
    # carries the base buckets of every OTHER key forward verbatim
    # (files not rewritten).  The background fold of the first run is
    # settled first, so the batch's commit is the next seq.
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.streaming.cdc_stream import (
        _current_manifest,
        _read_manifest,
        _wait_for_fold,
    )

    def bucket_of(k, n):
        return (
            spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(k).cast("long")), F.lit(n))
                .cast("int")
                .alias("b")
            )
            .collect()[0]
            .b
        )

    _wait_for_fold(store)
    before_m = _current_manifest(store)
    nb = before_m["n_buckets"]
    touched = {str(bucket_of(1, nb)), str(bucket_of(2, nb))}

    def file_stamps(rel):
        d = os.path.join(store, "data", rel)
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    untouched_before = {
        b: (rel, file_stamps(rel))
        for b, rel in before_m["buckets"].items()
        if b not in touched
    }
    land(2, [{"k": 1, "op": "U", "seq": 5, "bal": 999},
             {"k": 2, "op": "U", "seq": 15, "bal": 888}])
    run()
    assert view() == batch_truth() == {1: 111, 3: 333}

    after_m = _read_manifest(store, before_m["seq"] + 1)
    assert after_m["batch_id"] == 2
    for b, (rel, stamps) in untouched_before.items():
        assert after_m["buckets"][b] == rel  # dir carried forward
        assert file_stamps(rel) == stamps  # files never rewritten

    # replay idempotence: re-merging batch 2's changes into the current
    # snapshot reproduces the identical snapshot
    from cassandra_extractor_spark.streaming.cdc_stream import _read_current

    cur = _read_current(spark, store)
    replay = spark.read.schema(schema).parquet(str(src / "data_2.parquet"))
    again = merge_cdc_batch(cur, replay, "k", ["seq"], "op", ["bal"])
    a = {tuple(r) for r in cur.collect()}
    b = {tuple(r) for r in again.collect()}
    assert a == b

    # lost-checkpoint crash replay: reprocessing EVERY landed file from a
    # fresh checkpoint (batch ids restart at 0) must leave the served
    # view unchanged — replays are no-ops by last-writer-wins algebra
    run_fresh = stream_cdc_apply(
        spark, str(src), schema, store, str(tmp_path / "cdcck2"),
        key="k", order_cols=["seq"], op_col="op", payload_cols=["bal"],
    )
    run_fresh.awaitTermination()
    assert view() == batch_truth() == {1: 111, 3: 333}


def test_cdc_committed_batch_replay_short_circuits(spark, tmp_path):
    """foreachBatch replay of a batch whose manifest ALREADY committed
    (driver died between the manifest commit and the streaming
    checkpoint commit — the crash-loop scenario): process() must
    idempotent-skip, never re-merge into (or overwrite) directories the
    current snapshot references."""
    import pandas as pd

    from cassandra_extractor_spark.streaming.cdc_stream import (
        _commit_manifest,
        _current_manifest,
        init_cdc_store,
        read_cdc_view,
        stream_cdc_apply,
    )

    src = tmp_path / "rsrc"
    store = str(tmp_path / "rstore")
    schema = "k LONG, op STRING, seq LONG, bal LONG"
    base = spark.createDataFrame(
        pd.DataFrame([{"k": 1, "op": "U", "seq": 0, "bal": 100}]), schema
    )
    init_cdc_store(spark, base, store, key="k", op_col="op", order_cols=["seq"])

    # simulate the crash window: the manifest says batch 0 committed,
    # but the streaming checkpoint (fresh dir) will replay batch 0
    cur = _current_manifest(store)
    _commit_manifest(store, {**cur, "seq": cur["seq"] + 1, "batch_id": 0})
    poisoned_seq = cur["seq"] + 1

    src.mkdir()
    spark.createDataFrame(
        pd.DataFrame([{"k": 1, "op": "U", "seq": 10, "bal": 999}]), schema
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage0"))
    next((tmp_path / "stage0").glob("*.parquet")).rename(src / "d0.parquet")

    q = stream_cdc_apply(
        spark, str(src), schema, store, str(tmp_path / "rck"),
        key="k", order_cols=["seq"], op_col="op", payload_cols=["bal"],
    )
    q.awaitTermination()
    after = _current_manifest(store)
    assert after["seq"] == poisoned_seq  # no new manifest: skipped
    assert {r.k: r.bal for r in read_cdc_view(spark, store).collect()} == {1: 100}


def test_cdc_purge_tombstones_horizon_fence(spark, tmp_path):
    """Tombstone retention contract: purge_tombstones(horizon) drops
    tombstones below the horizon AND records the horizon in the
    manifest, so a post-purge STALE update (older than the purged
    tombstone) is rejected by the horizon fence instead of silently
    resurrecting the deleted key."""
    import pandas as pd

    from cassandra_extractor_spark.streaming.cdc_stream import (
        _current_manifest,
        _read_current,
        init_cdc_store,
        purge_tombstones,
        read_cdc_view,
        stream_cdc_apply,
    )

    src = tmp_path / "psrc"
    store = str(tmp_path / "pstore")
    ckpt = str(tmp_path / "pck")
    schema = "k LONG, op STRING, seq LONG, bal LONG"

    base = spark.createDataFrame(
        pd.DataFrame(
            [
                {"k": 1, "op": "U", "seq": 0, "bal": 100},
                {"k": 2, "op": "U", "seq": 0, "bal": 200},
            ]
        ),
        schema,
    )
    init_cdc_store(spark, base, store, key="k", op_col="op", order_cols=["seq"])

    def land(file_no, rows):
        (
            spark.createDataFrame(pd.DataFrame(rows), schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / "stage" / f"p{file_no}"))
        )
        part = next((tmp_path / "stage" / f"p{file_no}").glob("*.parquet"))
        src.mkdir(exist_ok=True)
        part.rename(src / f"data_{file_no}.parquet")

    def run():
        stream_cdc_apply(
            spark, str(src), schema, store, ckpt,
            key="k", order_cols=["seq"], op_col="op", payload_cols=["bal"],
        ).awaitTermination()

    def view():
        return {r.k: r.bal for r in read_cdc_view(spark, store).collect()}

    # delete k=2 at seq=20, then purge tombstones below horizon seq=50
    land(0, [{"k": 2, "op": "D", "seq": 20, "bal": 0}])
    run()
    assert view() == {1: 100}
    purge_tombstones(spark, store, ["seq"], "op", horizon=[50])
    snap = _read_current(spark, store)
    assert snap.where("op = 'D'").count() == 0  # tombstone physically gone
    assert _current_manifest(store)["horizon"] == [50]

    # stale update for the deleted key, OLDER than the purged tombstone:
    # without the horizon fence it would win (no tombstone outranks it)
    land(1, [{"k": 2, "op": "U", "seq": 15, "bal": 888}])
    run()
    assert view() == {1: 100}  # NOT resurrected: horizon fences it

    # a change at/above the horizon still applies normally
    land(2, [{"k": 3, "op": "U", "seq": 60, "bal": 300}])
    run()
    assert view() == {1: 100, 3: 300}

    # a horizon may only advance
    import pytest

    with pytest.raises(ValueError, match="advance"):
        purge_tombstones(spark, store, ["seq"], "op", horizon=[40])
