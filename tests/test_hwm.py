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
