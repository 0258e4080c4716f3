"""Stateful sessionization: batch formulation + streaming applyInPandasWithState."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row

# Long-running suite (r13 verdict #2: the full suite outgrew the
# driver pytest window) — deselected by default via pytest.ini
# addopts; the full gate runs it explicitly with `-m ""`.
pytestmark = pytest.mark.slow


from cassandra_extractor_spark.streaming.stateful import sessionize, sessionize_stream


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


def test_streaming_windowed_agg_with_watermark(spark, tmp_path, sf_dir):
    """Watermarked tumbling-window aggregation — the streaming analogue
    of q35_time_bucket, late data dropped past the watermark."""
    from pyspark.sql import functions as F
    from cassandra_extractor_spark.sources.catalog import load_table

    src = str(tmp_path / "wsrc")
    load_table(spark, "events", sf_dir).limit(500).write.parquet(src)
    schema = spark.read.parquet(src).schema
    from cassandra_extractor_spark.streaming.stateful import stream_time_rollup

    stream = spark.readStream.schema(schema).parquet(src)
    agg = stream_time_rollup(stream).withColumnRenamed("n_events", "c")
    q = (
        agg.writeStream.format("memory")
        .queryName("windowed_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows finalized by the watermark
    got = spark.sql("SELECT SUM(c) AS s FROM windowed_out").first()["s"]
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("c"))
    )
    # finalized streaming counts must agree with the batch rollup for
    # all closed windows (last day stays open, hence <=)
    assert got is not None and 0 < got <= 500
    closed = spark.sql("SELECT w.start AS s, event_type, c FROM windowed_out")
    joined = closed.join(
        batch.select(F.col("window.start").alias("s"), "event_type", F.col("c").alias("bc")),
        ["s", "event_type"],
    )
    assert joined.where(F.col("c") != F.col("bc")).count() == 0


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


def test_streaming_sessionize(spark, tmp_path):
    src = str(tmp_path / "src")
    _events(spark).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    sessions = sessionize_stream(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, n_events FROM sessions_out ORDER BY user_id, session_start_ms"
    ).collect()
    # availableNow flush emits closed sessions; open sessions stay in
    # state (user1 first session closed by the 40-min gap within batch)
    assert (1, 2) in [(r["user_id"], r["n_events"]) for r in got]


def test_fold_key_out_of_order_chunks():
    """Chunks arriving out of global time order must fold identically to
    the sorted union (per-chunk sorting would split/merge wrongly)."""
    import pandas as pd

    from cassandra_extractor_spark.streaming.stateful import _fold_key

    gap_ms = 30 * 60 * 1000
    # session A: [0, 10min]; session B: [60min, 61min] — delivered interleaved
    chunk1 = pd.Series([60 * 60_000, 10 * 60_000])  # later session's first + A's tail
    chunk2 = pd.Series([0, 61 * 60_000, 5 * 60_000])
    out, state = _fold_key(7, [chunk1, chunk2], None, gap_ms)
    assert out == [
        {"user_id": 7, "session_start_ms": 0, "session_end_ms": 10 * 60_000, "n_events": 3}
    ]
    assert state == (60 * 60_000, 61 * 60_000, 2)
    # resuming from prior open state merges when within gap
    out2, state2 = _fold_key(7, [pd.Series([62 * 60_000])], state, gap_ms)
    assert out2 == [] and state2 == (60 * 60_000, 62 * 60_000, 3)
    # empty batch (pure timeout path) keeps state
    out3, state3 = _fold_key(7, [], state2, gap_ms)
    assert out3 == [] and state3 == state2

def test_fold_key_cross_batch_late_event_cannot_regress_end():
    """A late event in a LATER micro-batch, older than the open
    session's end, must merge without moving end_ms backwards (and a
    pre-start late event extends start downwards) — the state invariant
    is start_ms <= end_ms = max(seen)."""
    import pandas as pd

    from cassandra_extractor_spark.streaming.stateful import _fold_key

    gap_ms = 30 * 60 * 1000
    _, state = _fold_key(7, [pd.Series([10 * 60_000, 20 * 60_000])], None, gap_ms)
    assert state == (10 * 60_000, 20 * 60_000, 2)
    # late event inside the open session's span: end stays, n grows
    _, state2 = _fold_key(7, [pd.Series([15 * 60_000])], state, gap_ms)
    assert state2 == (10 * 60_000, 20 * 60_000, 3)
    # late event before session start but within gap of end: start moves down
    _, state3 = _fold_key(7, [pd.Series([5 * 60_000])], state2, gap_ms)
    assert state3 == (5 * 60_000, 20 * 60_000, 4)


def test_stream_dedup_state_survives_restart(spark, tmp_path, sf_dir):
    """Packaged stream_dedup: the seen-fingerprint state lives in the
    checkpoint, so a RESTARTED query suppresses duplicates of rows it
    emitted in its previous life — cross-batch AND cross-restart exact
    dedup (the continuously-ingested-corpus contract)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from cassandra_extractor_spark.sources.catalog import load_table
    from cassandra_extractor_spark.streaming.stateful import stream_dedup

    src = str(tmp_path / "sd_src")
    ckpt = str(tmp_path / "sd_ckpt")
    ev = load_table(spark, "events", sf_dir)

    def stage(df, tag):
        d = str(tmp_path / f"sd_stage_{tag}")
        df.write.parquet(d)
        for i, f in enumerate(glob.glob(f"{d}/part-*.parquet")):
            shutil.copy(f, f"{src}/{tag}_{i}.parquet")

    import os

    os.makedirs(src)
    first = ev.where(F.col("event_id") < 150)
    stage(first, "b1")
    stage(first.where(F.col("event_id") < 50), "b1dup")  # in-run duplicates
    schema = spark.read.parquet(src).schema

    def run():
        # foreachBatch sink: supports checkpoint recovery (the memory
        # sink does not)
        got: list[int] = []
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup(stream, "event_id")
            .writeStream.foreachBatch(
                lambda df, _bid: got.extend(r["event_id"] for r in df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        return got

    out1 = run()
    assert sorted(out1) == list(range(150))  # 200 staged rows, 150 unique

    # second life: re-deliver 100 already-seen rows + 80 new ones
    stage(ev.where(F.col("event_id") < 100), "b2dup")
    stage(ev.where((F.col("event_id") >= 150) & (F.col("event_id") < 230)), "b2new")
    out2 = run()
    assert sorted(out2) == list(range(150, 230)), "restart must emit ONLY never-seen rows"


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path, sf_dir):
    """Watermarked stream-stream join: streamed view→click attribution
    must equal the identical batch range-join over the same files."""
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.sources.catalog import load_table
    from cassandra_extractor_spark.streaming.stateful import stream_attribution_join

    ev = load_table(spark, "events", sf_dir).limit(2000)
    vsrc, csrc = str(tmp_path / "views"), str(tmp_path / "clicks")
    ev.where(F.col("event_type") == "view").write.parquet(vsrc)
    ev.where(F.col("event_type") == "click").write.parquet(csrc)
    schema = spark.read.parquet(vsrc).schema
    joined = stream_attribution_join(
        spark.readStream.schema(schema).parquet(vsrc),
        spark.readStream.schema(schema).parquet(csrc),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.view_ts, r.click_ts)
        for r in spark.sql("SELECT * FROM attr_out").collect()
    }
    v = spark.read.parquet(vsrc).select(F.col("user_id").alias("u"), F.col("ts").alias("vt"))
    c = spark.read.parquet(csrc).select(F.col("user_id").alias("u2"), F.col("ts").alias("ct"))
    expected = {
        (r.u, r.vt, r.ct)
        for r in v.join(
            c,
            (F.col("u") == F.col("u2"))
            & (F.col("ct") >= F.col("vt"))
            & (F.col("ct") <= F.col("vt") + F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == expected and expected  # exact, and non-trivial


def test_stream_zscore_matches_batch(spark, tmp_path, sf_dir):
    """Streaming rolling z-score over time-ordered micro-batches must be
    ROW-IDENTICAL to batch q76_rolling_zscore: same integer sums, same
    outlier flags — the batch/stream parity contract."""
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.operators.relational import q76_rolling_zscore
    from cassandra_extractor_spark.sources.catalog import load_table
    from cassandra_extractor_spark.streaming.stateful import stream_zscore

    src = str(tmp_path / "zsrc")
    ev = load_table(spark, "events", sf_dir).where(F.col("user_id") <= 5)
    # two time-ordered files => two micro-batches exercising state carry
    cut = ev.agg(F.percentile_approx("ts", 0.5)).collect()[0][0]
    ev.where(F.col("ts") <= cut).coalesce(1).write.parquet(f"{src}/p1")
    ev.where(F.col("ts") > cut).coalesce(1).write.parquet(f"{src}/p2")
    schema = spark.read.parquet(f"{src}/p1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    q = (
        stream_zscore(stream)
        .writeStream.format("memory")
        .queryName("zs_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "zckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["event_id"]: (r["n_win"], r["s_win"], r["ss_win"], r["is_outlier"])
        for r in spark.sql("SELECT * FROM zs_out").collect()
    }
    # batch reference over the same restricted table
    d = str(tmp_path / "zbatch")
    ev.write.parquet(f"{d}/events.parquet")
    want = {
        r["event_id"]: (r["n_win"], r["s_win"], r["ss_win"], r["is_outlier"])
        for r in q76_rolling_zscore(spark, d).collect()
    }
    assert got == want and len(want) > 50


def _hll_run(spark, src, ckpt, qname):
    # foreachBatch sink: unlike `memory`, it supports checkpoint
    # RECOVERY — the whole point of this test
    from cassandra_extractor_spark.streaming.stateful import stream_hll_distinct

    schema = "event_type STRING, user_id LONG"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    emitted = []

    q = (
        stream_hll_distinct(stream)
        .writeStream.foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # latest emitted row per key = the one with the max cumulative n_seen
    latest = {}
    for r in emitted:
        if r["group_key"] not in latest or r["n_seen"] > latest[r["group_key"]]["n_seen"]:
            latest[r["group_key"]] = r
    return latest


def test_stream_hll_checkpoint_restart(spark, tmp_path):
    """Streaming HLL distinct: registers are MERGEABLE state — after a
    full stop and a checkpoint restart over late-arriving files, the
    per-key integer register summary (n_seen, n_hit, ssum) is
    IDENTICAL to the batch sketch over everything landed, and the
    estimate tracks the true distinct count."""
    import pandas as pd

    from cassandra_extractor_spark.streaming.stateful import hll_distinct_batch

    src = tmp_path / "hllsrc"
    src.mkdir()
    schema = "event_type STRING, user_id LONG"

    def land(file_no, spec):
        rows = [
            {"event_type": k, "user_id": v}
            for k, vals in spec.items()
            for v in vals
        ]
        (
            spark.createDataFrame(pd.DataFrame(rows), schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / "stage" / f"f{file_no}"))
        )
        part = next((tmp_path / "stage" / f"f{file_no}").glob("*.parquet"))
        part.rename(src / f"data_{file_no}.parquet")

    # two files -> two micro-batches (state carries across batches)
    land(0, {"view": range(0, 400), "click": range(0, 50)})
    land(1, {"view": range(200, 600), "click": range(25, 60)})
    got1 = _hll_run(spark, src, tmp_path / "hllck", "hll_out1")
    assert got1["view"]["n_seen"] == 800 and got1["click"]["n_seen"] == 85

    # STOP, land a third file with overlap, RESTART from the same
    # checkpoint: only file 3 is read, yet the summary must equal the
    # batch sketch over ALL landed rows (register max-merge across the
    # restart)
    land(2, {"view": range(500, 900), "click": range(0, 100)})
    got2 = _hll_run(spark, src, tmp_path / "hllck", "hll_out2")
    assert got2["view"]["n_seen"] == 1200 and got2["click"]["n_seen"] == 185

    batch = {
        r["group_key"]: r
        for r in hll_distinct_batch(
            spark.read.schema(schema).parquet(f"{src}/*.parquet")
        ).collect()
    }
    for k in ("view", "click"):
        assert (got2[k]["n_seen"], got2[k]["n_hit"], got2[k]["ssum"]) == (
            batch[k]["n_seen"],
            batch[k]["n_hit"],
            batch[k]["ssum"],
        ), k
        assert abs(got2[k]["hll_est"] - batch[k]["hll_est"]) < 1e-9 * max(
            1.0, batch[k]["hll_est"]
        )
    # sketch accuracy: within 15% of truth at these cardinalities
    assert abs(got2["view"]["hll_est"] - 900) / 900 < 0.15
    assert abs(got2["click"]["hll_est"] - 100) / 100 < 0.15


def _rollup_land(spark, tmp_path, src, file_no, rows):
    import pandas as pd

    schema = "event_type STRING, value DOUBLE, ts TIMESTAMP"
    (
        spark.createDataFrame(pd.DataFrame(rows), schema)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "stage" / f"r{file_no}"))
    )
    part = next((tmp_path / "stage" / f"r{file_no}").glob("*.parquet"))
    src.mkdir(exist_ok=True)
    part.rename(src / f"data_{file_no}.parquet")


def _rollup_run(spark, src, ckpt):
    """One availableNow run of the watermarked rollup from a shared
    checkpoint; returns the APPEND-mode emissions of this run only."""
    from cassandra_extractor_spark.streaming.stateful import stream_time_rollup

    schema = "event_type STRING, value DOUBLE, ts TIMESTAMP"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*.parquet")
    )
    emitted = []
    q = (
        stream_time_rollup(stream)
        .writeStream.foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return {
        (r["w"]["start"].isoformat(), r["event_type"]): (
            r["n_events"],
            r["value_cents"],
        )
        for r in emitted
    }


def test_stream_time_rollup_checkpoint_restart_and_late_drop(spark, tmp_path):
    """Watermarked APPEND-mode windowed aggregation across a full stop
    and checkpoint restart — the Structured-Streaming staple:

    - a closed (window, type) row is emitted EXACTLY ONCE, in the run
      whose watermark crossed the window end, never re-emitted after
      restart (exactly-once append contract);
    - every emitted row equals the batch rollup over the landed,
      non-late rows — bit-exact batch parity;
    - an event arriving after the (checkpoint-restored) watermark has
      passed its window is DROPPED, not folded into a new row.
    """
    from datetime import datetime

    from pyspark.sql import functions as F

    src = tmp_path / "rusrc"

    def at(day, hour, minute=0):
        return datetime(2025, 1, day, hour, minute)

    day1 = [
        {"event_type": "view", "value": 1.25, "ts": at(1, 9)},
        {"event_type": "view", "value": 2.50, "ts": at(1, 10)},
        {"event_type": "click", "value": 0.75, "ts": at(1, 11)},
    ]
    # day-2 arrivals push the watermark (max_ts - 1h = day2 01:00) past
    # day-1 midnight, closing every day-1 window
    day2 = [
        {"event_type": "view", "value": 4.00, "ts": at(2, 2)},
        {"event_type": "click", "value": 8.25, "ts": at(2, 2, 30)},
    ]
    _rollup_land(spark, tmp_path, src, 0, day1)
    _rollup_land(spark, tmp_path, src, 1, day2)
    got1 = _rollup_run(spark, src, tmp_path / "ruck")
    d1 = "2025-01-01T00:00:00"
    assert got1 == {
        (d1, "view"): (2, 375),   # 125 + 250 cents
        (d1, "click"): (1, 75),
    }

    # STOP; land one LATE day-1 event (watermark restored from the
    # checkpoint is day-2 01:00 > its window end -> dropped) plus day-3
    # arrivals that close the day-2 windows; RESTART from the same
    # checkpoint -- only the new files are read
    late_and_day3 = [
        {"event_type": "view", "value": 99.0, "ts": at(1, 23)},  # LATE
        {"event_type": "view", "value": 16.50, "ts": at(3, 2)},
        {"event_type": "click", "value": 32.00, "ts": at(3, 2, 30)},
    ]
    _rollup_land(spark, tmp_path, src, 2, late_and_day3)
    got2 = _rollup_run(spark, src, tmp_path / "ruck")
    d2 = "2025-01-02T00:00:00"
    # day-1 rows are NOT re-emitted, the late day-1 view is NOT
    # resurrected as a new day-1 row, and day-2 closes exactly
    assert got2 == {
        (d2, "view"): (1, 400),
        (d2, "click"): (1, 825),
    }

    # batch parity: stream emissions (both runs) == batch rollup over
    # all landed NON-LATE rows restricted to closed windows (day 3
    # stays open; the late day-1 row was dropped by the watermark)
    batch = (
        spark.read.parquet(f"{src}/*.parquet")
        .where(F.col("ts") < F.lit(datetime(2025, 1, 3)))
        .where(F.col("value") != 99.0)  # the late, dropped row
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    want = {
        (r["w"]["start"].isoformat(), r["event_type"]): (
            r["n_events"],
            r["value_cents"],
        )
        for r in batch.collect()
    }
    assert {**got1, **got2} == want


def test_stream_incremental_rollup_restart_replay_compact(spark, tmp_path):
    """Streaming twin of batch q98_incremental_rollup.  Four contracts:
    (1) after a drain, the merged rollup equals the one-shot batch
    aggregate over everything landed (the q98 equivalence, streamed);
    (2) checkpoint restart processes ONLY newly landed files and the
    equivalence still holds; (3) foreachBatch replay of a batch id
    OVERWRITES its partial instead of double-counting; (4) compaction
    writes a NEW directory whose swapped-in rollup is identical."""
    import os

    import pandas as pd

    from cassandra_extractor_spark.streaming.rollup import (
        compact_rollup,
        read_rollup,
        rollup_partial,
        stream_incremental_rollup,
    )

    src = tmp_path / "rosrc"
    store = tmp_path / "rostore"
    ckpt = str(tmp_path / "rock")
    schema = "event_type STRING, cents LONG"

    def land(file_no, rows):
        (
            spark.createDataFrame(pd.DataFrame(rows), schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / "stage" / f"ro{file_no}"))
        )
        part = next((tmp_path / "stage" / f"ro{file_no}").glob("*.parquet"))
        src.mkdir(exist_ok=True)
        part.rename(src / f"data_{file_no}.parquet")

    def run():
        q = stream_incremental_rollup(
            spark, str(src), schema, str(store), ckpt, keys=("event_type",)
        )
        q.awaitTermination()

    def merged():
        return {
            r.event_type: (r.n, r.sum_cents)
            for r in read_rollup(spark, str(store), ("event_type",)).collect()
        }

    def batch_truth():
        full = spark.read.schema(schema).parquet(f"{src}/*.parquet")
        return {
            r.event_type: (r.n, r.sum_cents)
            for r in rollup_partial(full, ["event_type"], "cents").collect()
        }

    land(0, [{"event_type": "click", "cents": 100}] * 3 + [{"event_type": "view", "cents": 7}])
    land(1, [{"event_type": "click", "cents": 50}] * 2)
    run()
    assert merged() == batch_truth()
    assert merged()["click"] == (5, 400)
    n_parts = len([p for p in os.listdir(store) if p.startswith("batch=")])
    assert n_parts == 2  # one partial per micro-batch (maxFilesPerTrigger=1)

    # restart: only the new file is read, equivalence holds
    land(2, [{"event_type": "view", "cents": 13}] * 4)
    run()
    assert merged() == batch_truth()
    assert merged()["view"] == (5, 59)
    assert len([p for p in os.listdir(store) if p.startswith("batch=")]) == 3

    # replay safety: re-writing an existing batch id overwrites the
    # partial — sums must NOT double-count
    replay = spark.read.schema(schema).parquet(str(src / "data_2.parquet"))
    rollup_partial(replay, ["event_type"], "cents").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{store}/batch=2")
    assert merged() == batch_truth()

    # compaction: new-directory write + caller swap, rollup unchanged
    compacted = str(tmp_path / "rostore2")
    compact_rollup(spark, str(store), compacted, ("event_type",))
    before = merged()
    import shutil

    shutil.rmtree(store)
    os.rename(compacted, store)
    assert merged() == before == batch_truth()


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
    # Delta-store contract: this batch lands as a delta (the previous
    # batch folded), so the base buckets of every OTHER key carry their
    # existing data dirs forward verbatim (files not rewritten).
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.streaming.cdc_stream import (
        _current_manifest,
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

    after_m = _current_manifest(store)
    assert after_m["seq"] > before_m["seq"]
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


def test_stream_session_rollup_native_batch_parity_and_restart(spark, tmp_path):
    """Native session_window streaming sessionization: closed sessions
    are emitted exactly once (append contract across a checkpoint
    restart) and match the batch ns_sessionize lag/cumsum spelling row
    for row — two entirely different engines for the same semantics."""
    from datetime import datetime

    import pandas as pd

    from cassandra_extractor_spark.streaming.stateful import (
        sessionize,
        stream_session_rollup,
    )

    src = tmp_path / "sessrc"
    schema = "user_id LONG, event_id LONG, ts TIMESTAMP"

    from datetime import timezone

    def at(day, hour, minute=0):
        return datetime(2025, 3, day, hour, minute)

    def at_ms(day, hour, minute=0):
        # epoch from an explicit-UTC datetime: the session TZ is pinned
        # UTC, so naive inputs land as UTC instants; datetime.timestamp()
        # on a NAIVE value would use the OS timezone instead (hostile-TZ
        # hazard)
        return int(
            datetime(2025, 3, day, hour, minute, tzinfo=timezone.utc).timestamp()
            * 1000
        )

    def land(file_no, rows):
        (
            spark.createDataFrame(pd.DataFrame(rows), schema)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / "stage" / f"s{file_no}"))
        )
        part = next((tmp_path / "stage" / f"s{file_no}").glob("*.parquet"))
        src.mkdir(exist_ok=True)
        part.rename(src / f"data_{file_no}.parquet")

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*.parquet")
        )
        emitted = []
        q = (
            stream_session_rollup(stream)
            .writeStream.foreachBatch(lambda df, bid: emitted.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {
            (r.user_id, r.session_start_ms): (r.session_end_ms, r.n_events)
            for r in emitted
        }

    # user 1: two events 10 min apart (one session), then a 40-min gap
    # (new session); user 2: one event.  Day-2 arrivals push the
    # watermark past every day-1 session close.
    land(0, [
        {"user_id": 1, "event_id": 1, "ts": at(1, 9, 0)},
        {"user_id": 1, "event_id": 2, "ts": at(1, 9, 10)},
        {"user_id": 1, "event_id": 3, "ts": at(1, 9, 50)},
        {"user_id": 2, "event_id": 4, "ts": at(1, 9, 5)},
    ])
    land(1, [{"user_id": 2, "event_id": 5, "ts": at(2, 9, 0)}])
    got1 = run(tmp_path / "sesck")
    batch = spark.read.schema(schema).parquet(f"{src}/*.parquet")
    closed = {
        (r.user_id, r.session_start_ms): (r.session_end_ms, r.n_events)
        for r in sessionize(batch).collect()
        # day-1 sessions only: the day-2 event's session is still open
        if r.session_end_ms < at_ms(2, 0)
    }
    assert got1 == closed and len(got1) == 3

    # restart: day-3 arrival closes user 2's day-2 session; day-1
    # sessions are NOT re-emitted
    land(2, [{"user_id": 2, "event_id": 6, "ts": at(3, 9, 0)}])
    got2 = run(tmp_path / "sesck")
    assert set(got2) & set(got1) == set()
    assert got2 == {
        (2, at_ms(2, 9)): (at_ms(2, 9), 1)
    }


def test_stream_pack_batch_parity_across_restart(spark, tmp_path):
    """Streaming sequence packing: with ordered arrival the per-source
    state-carried assignment is ROW-IDENTICAL to the batch window
    spelling, across micro-batches AND a checkpoint restart; offsets
    exactly partition each shard's token stream."""
    import pandas as pd

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.operators.extraction import SEQ_BUDGET
    from cassandra_extractor_spark.streaming.stateful import stream_pack

    src = tmp_path / "pksrc"
    ckpt = str(tmp_path / "pkck")
    schema = "doc_id LONG, source STRING, n_tokens LONG"

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
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*.parquet")
        )
        emitted = []
        q = (
            stream_pack(stream)
            .writeStream.foreachBatch(lambda df, bid: emitted.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {r.doc_id: (r.source, r.n_tokens, r.seq_id, r.seq_offset) for r in emitted}

    def batch_truth():
        d = spark.read.schema(schema).parquet(f"{src}/*.parquet")
        w = (
            W.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        start = F.sum("n_tokens").over(w) - F.col("n_tokens")
        return {
            r.doc_id: (r.source, r.n_tokens, r.seq_id, r.seq_offset)
            for r in d.select(
                "doc_id",
                "source",
                "n_tokens",
                F.floor(start / SEQ_BUDGET).cast("long").alias("seq_id"),
                (start % SEQ_BUDGET).cast("long").alias("seq_offset"),
            ).collect()
        }

    # sizes chosen so docs straddle sequence boundaries mid-batch and
    # mid-restart (budget 512)
    land(0, [
        {"doc_id": 1, "source": "a", "n_tokens": 300},
        {"doc_id": 2, "source": "a", "n_tokens": 300},
        {"doc_id": 3, "source": "b", "n_tokens": 500},
    ])
    land(1, [
        {"doc_id": 4, "source": "a", "n_tokens": 100},
        {"doc_id": 5, "source": "b", "n_tokens": 100},
    ])
    got1 = run()
    assert got1 == batch_truth()
    assert got1[2] == ("a", 300, 0, 300)   # straddles into seq 1
    assert got1[4] == ("a", 100, 1, 88)    # state carried across batches

    # restart: state (cum per source) survives the checkpoint
    land(2, [{"doc_id": 6, "source": "a", "n_tokens": 50},
             {"doc_id": 7, "source": "b", "n_tokens": 50}])
    got2 = run()
    assert set(got2) == {6, 7}  # earlier docs not re-emitted
    truth = batch_truth()
    assert got2[6] == truth[6] and got2[7] == truth[7]
