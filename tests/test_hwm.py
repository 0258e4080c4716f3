"""Incremental HWM semantics (SURVEY §7.3.4): the >= boundary excludes."""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from cassandra_extractor_spark.streaming.hwm import (
    HighWaterMarkStore,
    capture_hwm,
    hwm_filter,
    plan_incremental,
)


def _df(spark, *ts):
    return spark.createDataFrame(
        [Row(i=i, ts=datetime.datetime(2024, 1, d)) for i, d in enumerate(ts)]
    )


def test_hwm_boundary_excludes_equal(spark):
    df = _df(spark, 1, 15, 20)
    out = hwm_filter(df, "ts", "2024-01-15 00:00:00")
    # ts == hwm is EXCLUDED (worker.py:197-198)
    assert [r["i"] for r in out.orderBy("i").collect()] == [0]


def test_hwm_none_keeps_all(spark):
    df = _df(spark, 1, 15)
    assert hwm_filter(df, "ts", None).count() == 2


def test_capture(spark):
    assert capture_hwm(_df(spark, 1, 20, 5), "ts") == "2024-01-20 00:00:00"


def test_plan_incremental_defers_commit(spark, tmp_path):
    """Crash safety: the mark must not advance until commit() is called
    after a successful write (a crashed run re-extracts its window)."""
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    df = _df(spark, 1, 5, 10)
    out, commit = plan_incremental(df, "ts", "t", store)
    assert out.count() == 3
    assert store.get("t") is None  # crash before commit -> no loss
    out2, commit2 = plan_incremental(df, "ts", "t", store)
    assert out2.count() == 3  # full window re-extracted
    commit2()
    assert store.get("t") is not None
    out3, _ = plan_incremental(df, "ts", "t", store)
    assert out3.count() == 0  # committed -> nothing new


def test_incremental_two_runs(spark, tmp_path):
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    first = _df(spark, 1, 5, 10)
    out1, commit1 = plan_incremental(first, "ts", "t", store)
    assert out1.count() == 3  # first run: everything
    commit1()
    # second run: only rows at/after the persisted mark
    second = _df(spark, 1, 5, 10, 20, 25)
    out2, _ = plan_incremental(second, "ts", "t", store)
    got = sorted(r["ts"].day for r in out2.collect())
    assert got == [20, 25]  # old rows not re-extracted


def test_quiescent_run_extracts_nothing_and_keeps_the_mark(spark, tmp_path):
    """A second run over an unchanged source has no row at or past the
    mark: its window is empty and its commit leaves the mark alone."""
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    df = _df(spark, 1, 5, 10)
    out, commit = plan_incremental(df, "ts", "t", store)
    assert out.count() == 3
    commit()
    mark = store.get("t")
    out2, commit2 = plan_incremental(df, "ts", "t", store)
    assert out2.count() == 0
    commit2()
    assert store.get("t") == mark


def test_lateness_overlap_is_re_extracted(spark, tmp_path):
    """With ``lateness_us`` the committed mark backs off by that margin,
    so the rows inside it are extracted again by the next run."""
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    df = _df(spark, 1, 5, 10)
    day = 24 * 3600 * 10**6
    out, commit = plan_incremental(df, "ts", "t", store, lateness_us=6 * day)
    assert out.count() == 3
    commit()
    out2, _ = plan_incremental(df, "ts", "t", store, lateness_us=6 * day)
    assert sorted(r["ts"].day for r in out2.collect()) == [5, 10]


def test_source_without_timestamps_has_an_empty_window(spark, tmp_path):
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    df = spark.createDataFrame([(1, None)], "i INT, ts TIMESTAMP")
    out, commit = plan_incremental(df, "ts", "t", store)
    assert out.count() == 0
    commit()
    assert store.get("t") is None


T0 = np.datetime64("2024-01-01T00:00:00", "us")


def _land(src, i, n=100, utc=True):
    """Slice ``i`` of a change log: one parquet file of ``n`` rows, ids
    ``i*n..``, one second apart, ``TIMESTAMP`` (``utc``) or ``TIMESTAMP_NTZ``."""
    ts = pa.array(T0 + np.arange(i * n, (i + 1) * n) * np.timedelta64(1, "s"))
    if utc:
        ts = ts.cast(pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table({"id": np.arange(i * n, (i + 1) * n), "ts": ts}),
                   src / f"slice-{i:03d}.parquet")


def _run(spark, src, store, **kw):
    """One incremental run over the files in ``src``: the window's ids,
    read by its first action, and the commit."""
    out, commit = plan_incremental(spark.read.parquet(str(src)), "ts", "t", store, **kw)
    return sorted(r["id"] for r in out.select("id").collect()), commit


def _scanned(df) -> int:
    """Rows the file scans of ``df``'s last execution output."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    return sum(
        leaves.apply(i).metrics().get("numOutputRows").get().value()
        for i in range(leaves.size())
    )


@pytest.fixture
def src(tmp_path):
    path = tmp_path / "src"
    path.mkdir()
    return path


@pytest.fixture
def store(tmp_path):
    return HighWaterMarkStore(str(tmp_path / "hwm.json"))


def test_capture_reads_only_rows_past_the_mark(spark, tmp_path):
    """Over a source of one file per slice, a run after the first scans
    the new slice and nothing else: the rows its scan outputs equal the
    rows it emits, on UTC-adjusted and on TIMESTAMP_NTZ slices (which
    row-group statistics cannot prune).  Twelve committed slices also
    take the skip list past Spark's IN→INSET conversion."""
    adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    # without adaptive execution the executed plan keeps its scan nodes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for utc in (True, False):
            src = tmp_path / f"src-{utc}"
            src.mkdir()
            store = HighWaterMarkStore(str(tmp_path / f"hwm-{utc}.json"))
            for i in range(12):
                _land(src, i, utc=utc)
            ids, commit = _run(spark, src, store)
            assert ids == list(range(1200))
            commit()
            _land(src, 12, utc=utc)
            out, commit = plan_incremental(spark.read.parquet(str(src)), "ts", "t", store)
            window = out.select("id")
            emitted = sorted(r["id"] for r in window.collect())
            assert emitted == list(range(1200, 1300))
            assert _scanned(window) == len(emitted)
            commit()
            mark, files = store.get("t"), store.files("t")
            assert len(files) == 13
            # quiescent: every file is skipped and the scan lists none; the
            # empty window's commit completes and leaves the state alone
            ids, commit = _run(spark, src, store)
            assert ids == []
            commit()
            assert (store.get("t"), store.files("t")) == (mark, files)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)


def _jobs(spark, group, action):
    """Spark jobs ``action()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_file_source_runs_one_job_and_no_capture(spark, src, store, monkeypatch):
    """On a file source the window is one scan: one Spark job for the
    window's write and none for a capture.  A non-file frame still
    captures first."""
    from cassandra_extractor_spark.streaming import hwm

    captures = []
    real = hwm.capture_hwm
    monkeypatch.setattr(hwm, "capture_hwm", lambda df, c: captures.append(c) or real(df, c))
    _land(src, 0)
    ids, commit = _run(spark, src, store)
    commit()
    _land(src, 1)
    source = spark.read.parquet(str(src))

    def run():
        out, commit = hwm.plan_incremental(source, "ts", "t", store)
        out.write.format("noop").mode("overwrite").save()
        commit()

    assert _jobs(spark, "hwm-one-scan", run) == 1
    assert captures == []
    assert store.get("t") == "2024-01-01 00:03:19.000001"
    out, _ = hwm.plan_incremental(_df(spark, 1, 5), "ts", "m", store)
    assert out.count() == 2 and captures == ["ts"]


def test_failed_sinks_commit_nothing_and_the_next_run_redelivers(spark, src, store):
    """A run whose sinks fail commits nothing, so no mark passes a row no
    run delivered: the next run re-reads the same files and delivers the
    same window (plus what landed since)."""
    from cassandra_extractor_spark.sinks.fanout import fan_out

    _land(src, 0)
    ids, commit = _run(spark, src, store)
    commit()
    _land(src, 1)
    delivered = []

    def broken(d):
        raise OSError("sink down")

    out, commit = plan_incremental(spark.read.parquet(str(src)), "ts", "t", store)
    results = fan_out(out, {"ok": lambda d: delivered.extend(r["id"] for r in d.collect()),
                            "broken": broken})
    assert isinstance(results["broken"], OSError)
    assert sorted(delivered) == list(range(100, 200))  # not committed
    _land(src, 2)
    ids, commit = _run(spark, src, store)
    assert ids == list(range(100, 300))
    commit()
    assert _run(spark, src, store)[0] == []


def test_two_sink_fan_out_of_a_file_window_commits_its_max(spark, src, store):
    """A file window is a snapshot: its two sinks each read the files,
    uncached, and the first to finish sets the mark and the listing."""
    from cassandra_extractor_spark.sinks.fanout import fan_out

    _land(src, 0)
    _land(src, 1)
    out, commit = plan_incremental(spark.read.parquet(str(src)), "ts", "t", store)
    got = {}

    def sink(name):
        def write(d):
            got[name] = (d.storageLevel.useMemory, sorted(r["id"] for r in d.collect()))
        return write

    assert fan_out(out, {"a": sink("a"), "b": sink("b")}) == {"a": None, "b": None}
    assert got == {n: (False, list(range(200))) for n in "ab"}
    commit()
    assert (store.get("t"), len(store.files("t"))) == ("2024-01-01 00:03:19.000001", 2)


@pytest.mark.parametrize("filters", [
    # an operator widens the filter between runs
    ["id % 100 < 50", None],
    # a settling guard, as ``ts < current_timestamp() - INTERVAL 5 MINUTES``
    # reads from run to run
    ["ts < TIMESTAMP'2024-01-01 00:00:50'", "ts < TIMESTAMP'2024-01-01 00:02:30'"],
])
def test_filtered_run_skips_no_file_next_time(spark, src, store, filters):
    """A filter between the relation and the window leaves rows of the
    listed files unread, above the mark of the rows that passed it; when
    the filter lets them through later, the next run delivers them."""
    from cassandra_extractor_spark.plans.spec import ExtractionSpec

    _land(src, 0)
    spec = ExtractionSpec(table="t", hwm_column="ts", filter=filters[0])
    first = spec.build(spark, hwm_store=store, source_df=spark.read.parquet(str(src)))
    assert sorted(r["id"] for r in first.select("id").collect()) == list(range(50))
    spec._hwm_commit()
    assert store.get("t") == "2024-01-01 00:00:49.000001"
    assert store.files("t") == []
    _land(src, 1)
    spec = ExtractionSpec(table="t", hwm_column="ts", filter=filters[1])
    second = spec.build(spark, hwm_store=store, source_df=spark.read.parquet(str(src)))
    delivered = sorted(r["id"] for r in second.select("id").collect())
    assert delivered == list(range(50, 200 if filters[1] is None else 150))


def test_path_needing_sql_escapes_is_read_again_not_lost(spark, tmp_path, store):
    """A listed path with a quote stays out of the skip predicate: its
    file is scanned again and contributes no row below the mark."""
    src = tmp_path / "o'brien"
    src.mkdir()
    _land(src, 0)
    ids, commit = _run(spark, src, store)
    assert ids == list(range(100))
    commit()
    _land(src, 1)
    ids, commit = _run(spark, src, store)
    assert ids == list(range(100, 200))
    commit()
    assert len(store.files("t")) == 2
    assert _run(spark, src, store)[0] == []


def test_file_source_lateness_overlap_is_re_extracted(spark, src, store):
    """With ``lateness_us`` a file source skips no file: the overlap
    below the mark lives in files an earlier run listed."""
    for i in range(3):
        _land(src, i)
    ids, commit = _run(spark, src, store, lateness_us=50 * 10**6)
    assert ids == list(range(300))
    commit()
    assert store.files("t") == []
    assert _run(spark, src, store, lateness_us=50 * 10**6)[0] == list(range(250, 300))


def test_cache_clear_makes_the_next_run_read_every_file(spark, src, store):
    """``/cache/clear`` forgets the mark and the listed files."""
    from cassandra_extractor_spark.actuator import Actuator

    for i in range(2):
        _land(src, i)
    ids, commit = _run(spark, src, store)
    commit()
    assert len(store.files("t")) == 2
    actuator = Actuator(spark)
    actuator.hwm_store = store
    assert actuator.cache_clear("t")["hwm"] == ["t"]
    assert store.files("t") == [] and store.get("t") is None
    assert _run(spark, src, store)[0] == list(range(200))


def test_flat_state_file_loads(spark, src, tmp_path):
    """A state file in the flat ``{table: mark}`` form loads as marks
    without listed files."""
    import json

    path = tmp_path / "flat.json"
    path.write_text(json.dumps({"t": "2024-01-01 00:01:40", "u": "2024-02-01 00:00:00"}))
    store = HighWaterMarkStore(str(path))
    assert store.dump() == {"t": "2024-01-01 00:01:40", "u": "2024-02-01 00:00:00"}
    assert store.files("t") == []
    for i in range(2):
        _land(src, i)
    ids, commit = _run(spark, src, store)
    assert ids == list(range(100, 200))
    commit()
    assert store.dump() == {"t": "2024-01-01 00:03:19.000001", "u": "2024-02-01 00:00:00"}


def test_commit_before_the_window_ran_raises(spark, src, store):
    _land(src, 0)
    out, commit = plan_incremental(spark.read.parquet(str(src)), "ts", "t", store)
    with pytest.raises(RuntimeError, match="before any action"):
        commit()
    assert store.get("t") is None


@pytest.mark.parametrize("kind", ["file", "in_memory"])
def test_mark_is_rendered_in_the_session_zone(spark, tmp_path, kind):
    """The Python process's local zone must not leak into the mark: a
    driver in Asia/Tokyo once committed 09:00 for a 00:00 UTC row and the
    next run skipped a row at 03:00."""
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))

    landed = []

    def land(hour):
        """The source after a row lands at ``hour``:00 UTC."""
        landed.append(hour)
        if kind == "file":
            ts = pa.array([np.datetime64(f"2024-01-01T{hour:02d}", "us")])
            pq.write_table(pa.table({"id": [hour], "ts": ts.cast(pa.timestamp("us", tz="UTC"))}),
                           src / f"h{hour}.parquet")
            return spark.read.parquet(str(src))
        values = ", ".join(f"({h}, TIMESTAMP'2024-01-01 {h:02d}:00:00')" for h in landed)
        return spark.sql(f"SELECT * FROM VALUES {values} AS t(id, ts)")

    zone = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Tokyo"
    time.tzset()
    try:
        out, commit = plan_incremental(land(0), "ts", "t", store)
        assert [r["id"] for r in out.collect()] == [0]
        commit()
        assert store.get("t") == "2024-01-01 00:00:00.000001"
        out, commit = plan_incremental(land(3), "ts", "t", store)
        assert [r["id"] for r in out.collect()] == [3]
    finally:
        if zone is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = zone
        time.tzset()


def test_limit_with_hwm_column_is_refused(spark, tmp_path):
    """A capped window under a mark taken over all of it would lose the
    rows past the cap for good."""
    from cassandra_extractor_spark.plans.spec import ExtractionSpec

    spec = ExtractionSpec(table="t", hwm_column="ts", limit=3)
    with pytest.raises(ValueError, match="limit"):
        spec.build(spark, hwm_store=HighWaterMarkStore(str(tmp_path / "hwm.json")),
                   source_df=_df(spark, 1, 2, 3, 4))


def test_incremental_spec_lists_the_table_afresh(spark, tmp_path):
    """The app's incremental build sees files landed after its first run
    (a memoized table plan would pin the first listing)."""
    from cassandra_extractor_spark.plans.spec import ExtractionSpec

    table = tmp_path / "changes.parquet"
    table.mkdir()
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    spec = ExtractionSpec(table="changes", hwm_column="ts")
    for i in range(2):
        _land(table, i, n=10, utc=False)
        df = spec.build(spark, str(tmp_path), store)
        assert sorted(r["id"] for r in df.collect()) == list(range(i * 10, (i + 1) * 10))
        spec._hwm_commit()


def test_second_incremental_build_runs_no_job_before_its_action(spark, tmp_path):
    """The app's incremental path reads its table through ``read_table``:
    the first build infers the table's schema, and a later build takes
    it from the session's memo, so it launches no Spark job before its
    first action, and still delivers the file landed since."""
    from cassandra_extractor_spark.plans.spec import ExtractionSpec

    table = tmp_path / "changes.parquet"
    table.mkdir()
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    spec = ExtractionSpec(table="changes", hwm_column="ts")
    built = []
    _land(table, 0, n=10)
    assert _jobs(spark, "hwm-first-build", lambda: built.append(
        spec.build(spark, str(tmp_path), store))) >= 1
    assert sorted(r["id"] for r in built[-1].collect()) == list(range(10))
    spec._hwm_commit()
    _land(table, 1, n=10)
    assert _jobs(spark, "hwm-second-build", lambda: built.append(
        spec.build(spark, str(tmp_path), store))) == 0
    assert sorted(r["id"] for r in built[-1].collect()) == list(range(10, 20))


def test_concurrent_tables_keep_every_mark(tmp_path):
    """The app runs one job thread per table on one state file: eight
    threads committing eight tables each keep all 64 marks."""
    import sys
    import threading

    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    start = threading.Barrier(8, timeout=30)
    errors = []

    def commit_all(t):
        start.wait()
        try:
            for j in range(8):
                store.set(f"t{t}_{j}", f"2024-01-{j + 1:02d} 00:00:00")
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=commit_all, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=30)
    finally:
        sys.setswitchinterval(switch)
    assert not errors, errors
    assert store.dump() == {
        f"t{t}_{j}": f"2024-01-{j + 1:02d} 00:00:00" for t in range(8) for j in range(8)
    }
    store.clear("t0_0")
    assert len(store.dump()) == 63 and store.get("t0_0") is None


def test_two_processes_keep_every_mark(tmp_path, repo_root):
    """Two app instances that share ``--output`` share one state file:
    two processes committing 200 tables each keep all 400 marks, and
    the file still parses."""
    import subprocess
    import sys

    path = str(tmp_path / "hwm.json")
    writer = (
        "import sys\n"
        f"sys.path.insert(0, {str(repo_root)!r})\n"
        "from cassandra_extractor_spark.streaming.hwm import HighWaterMarkStore\n"
        f"store = HighWaterMarkStore({path!r})\n"
        "sys.stdin.readline()\n"
        "for j in range(200):\n"
        "    store.set(f'{sys.argv[1]}_{j}', '2024-01-01 00:00:00')\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", writer, name],
            stdin=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for name in ("a", "b")
    ]
    for p in procs:  # both are imported and waiting: start them together
        p.stdin.write("go\n")
        p.stdin.flush()
    for p in procs:
        p.stdin.close()
        assert p.wait(timeout=120) == 0, p.stderr.read()[-2000:]
    assert HighWaterMarkStore(path).dump() == {
        f"{name}_{j}": "2024-01-01 00:00:00" for name in ("a", "b") for j in range(200)
    }
