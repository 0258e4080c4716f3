"""Incremental HWM semantics (SURVEY §7.3.4): the >= boundary excludes."""

from __future__ import annotations

import datetime

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


def test_capture_reads_only_rows_past_the_mark(spark, tmp_path, monkeypatch):
    """Over a source of one file per slice (UTC-adjusted timestamps,
    which parquet row-group statistics can prune on), a run after the
    first scans the new slice, not the history: the rows the capture
    and the extraction scan stay within 4x the rows emitted."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.streaming import hwm

    src = tmp_path / "src"
    src.mkdir()
    t0 = np.datetime64("2024-01-01T00:00:00", "us")

    def land(i, n=100):
        ts = t0 + np.arange(i * n, (i + 1) * n) * np.timedelta64(1, "s")
        pq.write_table(
            pa.table({"id": np.arange(i * n, (i + 1) * n),
                      "ts": pa.array(ts).cast(pa.timestamp("us", tz="UTC"))}),
            src / f"slice-{i:03d}.parquet",
        )

    def scanned(df) -> int:
        """Rows the file scans of ``df`` output (row groups the pushed
        filter skipped are never read)."""
        plan = df._jdf.queryExecution().executedPlan()
        leaves = plan.collectLeaves()
        return sum(
            leaves.apply(i).metrics().get("numOutputRows").get().value()
            for i in range(leaves.size())
        )

    captured = []

    def traced_capture(df, ts_col):
        agg = df.agg(F.max(ts_col).alias("m"))
        row = agg.collect()[0]
        captured.append(scanned(agg))
        return None if row["m"] is None else row["m"].isoformat(sep=" ")

    monkeypatch.setattr(hwm, "capture_hwm", traced_capture)
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    # without adaptive execution the executed plan keeps its scan nodes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for i in range(10):
            land(i)
        out, commit = plan_incremental(spark.read.parquet(str(src)), "ts", "t", store)
        assert out.count() == 1000
        commit()
        land(10)
        out, commit = plan_incremental(spark.read.parquet(str(src)), "ts", "t", store)
        ids = out.select("id")
        emitted = ids.collect()
        assert sorted(r["id"] for r in emitted) == list(range(1000, 1100))
        assert (captured[-1] + scanned(ids)) / len(emitted) <= 4
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)


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
