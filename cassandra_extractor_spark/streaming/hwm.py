"""Incremental extraction via a modified-timestamp high-water mark.

Reference semantics (P3, worker.py:194-198 + datacrawler.py:400-408,
485-491): at the start of an extraction the current max modified
timestamp is captured; rows with ``ts >= hwm`` are EXCLUDED (they were
modified during/after this extraction and are deferred to the next
run); the mark is persisted (Redis there, a JSON state file here —
Structured Streaming's checkpoint plays this role in streaming mode).

The ``>=`` boundary is load-bearing and unit-tested: a record modified
exactly at the mark must NOT be extracted (SURVEY §7.3.4).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F


@dataclass
class HighWaterMarkStore:
    """Persisted per-table watermark (replaces the reference's Redis
    ``{table}-modified-timestamp-filter`` key)."""

    path: str

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path, encoding="utf-8") as f:
                return json.load(f)
        return {}

    def get(self, table: str) -> str | None:
        return self._load().get(table)

    def dump(self) -> dict:
        """Public snapshot of all per-table watermarks (the actuator's
        GET /state view)."""
        return self._load()

    def set(self, table: str, value: str) -> None:
        state = self._load()
        state[table] = value
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)

    def clear(self, table: str) -> None:
        state = self._load()
        state.pop(table, None)
        with open(self.path, "w", encoding="utf-8") as f:
            json.dump(state, f)


def capture_hwm(df: DataFrame, ts_col: str) -> str | None:
    """Current max timestamp — captured once at extraction start
    (datacrawler.py:485-491 captures it on the first fetched page)."""
    row = df.agg(F.max(ts_col).alias("m")).head()
    return None if row["m"] is None else row["m"].isoformat(sep=" ")


def hwm_filter(df: DataFrame, ts_col: str, hwm: str | None) -> DataFrame:
    """Apply the incremental predicate: keep ``ts < hwm`` strictly
    (``>=`` excluded, worker.py:197-198); no mark → keep everything."""
    if hwm is None:
        return df
    return df.where(F.col(ts_col) < F.to_timestamp(F.lit(hwm)))


def plan_incremental(
    df: DataFrame,
    ts_col: str,
    table: str,
    store: HighWaterMarkStore,
    lateness_us: int = 0,
):
    """Plan one incremental run: rows in ``[previous_hwm, new_hwm)``.

    Returns ``(filtered_df, commit)`` — the caller runs its sink writes
    and calls ``commit()`` ONLY on success.  Committing the mark before
    the write would lose the window on a crash (the next run would skip
    it); deferring makes a crashed run re-extract the same closed
    window idempotently.

    The mark is the captured max + 1µs so the max row itself is
    extracted THIS run (otherwise a quiescent table never emits its
    last row).  Trade-off: a writer that inserts ``ts == max`` AFTER
    capture falls below the committed mark and would be skipped; if the
    source can produce such ties (coarse timestamps, clock skew), set
    ``lateness_us`` — the committed mark is backed off by that margin
    and the overlap is re-extracted next run (pair with idempotent
    sinks).
    """
    prev = store.get(table)
    new = capture_hwm(df, ts_col)
    if new is not None:
        import datetime as _dt

        new = (
            _dt.datetime.fromisoformat(new) + _dt.timedelta(microseconds=1)
        ).isoformat(sep=" ")
    out = hwm_filter(df, ts_col, new)
    if prev is not None:
        out = out.where(F.col(ts_col) >= F.to_timestamp(F.lit(prev)))

    def commit() -> None:
        if new is not None:
            mark = new
            if lateness_us:
                import datetime as _dt

                mark = (
                    _dt.datetime.fromisoformat(new)
                    - _dt.timedelta(microseconds=lateness_us)
                ).isoformat(sep=" ")
            store.set(table, mark)

    return out, commit
