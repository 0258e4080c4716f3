"""Incremental extraction via a modified-timestamp high-water mark.

Reference semantics (P3, worker.py:194-198 + datacrawler.py:400-408,
485-491): a run extracts the rows in ``[previous mark, new mark)``;
rows with ``ts >= new mark`` are EXCLUDED (they were modified
during/after this extraction and are deferred to the next run); the
mark is persisted (Redis there, one commit log per table here, by the
rule of ``streaming/commitlog.py`` — Structured Streaming's checkpoint
plays this role in streaming mode).

The ``>=`` boundary is load-bearing and unit-tested: a record modified
exactly at the mark must NOT be extracted (SURVEY §7.3.4).

A run takes one of two plans, chosen from the frame (``plan_incremental``):

- **One scan** — the frame is one file relation under row-wise
  projections, filters and observations (``load_table``,
  ``read_source``; ``catalog.file_relation``).  Spark lists a file
  relation's files when the frame is built, so its scan is a snapshot:
  a row landed later sits in a file this frame never reads.
  The run scans ``ts >= previous mark`` once and takes the new mark from
  that scan itself (``max(ts)`` + 1µs, through an ``Observation`` read
  off the window's first action, which must read the window whole).  It
  also skips every file the last committed run listed: a run records
  its listing only when it read every row of those files, so that run's
  mark lies above each of their rows and skipping them is exact.  A
  frame with a filter between the relation and the window records no
  listing: its mark is taken over the rows that passed the filter, and
  a filter whose result changes between runs (``ts < current_timestamp()
  - INTERVAL 5 MINUTES``, or a widened predicate) would let a later run
  deliver rows of those files above the mark.  File identity, not
  modification time, names the files: a writer that renames a file
  into place after a listing (Spark's own job commit does) can give it
  an mtime from before that listing.  Files are assumed immutable once
  listed, as Structured Streaming's file source assumes.
- **Capture first** — any other frame: the Cassandra connector, JDBC,
  in-memory frames, joins and aggregates.  A live source is no
  snapshot: a row written below the max during the scan would be lost.
  So one job captures ``max(ts)`` first, and the window is the rows
  below it + 1µs.

Marks are rendered by Spark in the session time zone, the zone
``hwm_filter`` parses them in: never by the Python process, which
renders a collected TIMESTAMP in its own local zone.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
from dataclasses import dataclass
from urllib.parse import quote, unquote

from pyspark.sql import Column, DataFrame, Observation, functions as F

from cassandra_extractor_spark.sources.catalog import file_relation
from cassandra_extractor_spark.streaming import commitlog


#: entries each table's log keeps (a reader needs only the newest)
_KEPT = 2


@dataclass
class HighWaterMarkStore:
    """Persisted per-table watermark (replaces the reference's Redis
    ``{table}-modified-timestamp-filter`` key), with the files the run
    that committed it listed: one commit log per table under
    ``<path>.d/`` whose entries are ``{"mark": ..., "files": [...]}``
    (``{}`` once cleared), so a commit writes its table's entry alone.
    Threads and processes may share it (one job thread per table, app
    instances sharing ``--output``): the last writer wins.  A table with
    no log yet reads the state file an older store wrote at ``path``
    (``{table: entry}``; a flat ``{table: mark}`` loads with no files)."""

    path: str

    def _log(self, table: str) -> str:
        """One directory per name, inside ``<path>.d``: quoting leaves no
        ``/`` or bare ``%``, and the prefix makes ``.`` and ``..`` plain."""
        return os.path.join(self.path + ".d", "t=" + quote(table, safe=""))

    def _state_file(self) -> dict[str, dict]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path, encoding="utf-8") as f:
            state = json.load(f)
        return {t: e if isinstance(e, dict) else {"mark": e} for t, e in state.items()}

    def entry(self, table: str) -> dict:
        """``table``'s ``{"mark": ..., "files": [...]}``, from one read."""
        top = commitlog.latest(self._log(table))
        return self._state_file().get(table, {}) if top is None else top

    def get(self, table: str) -> str | None:
        return self.entry(table).get("mark")

    def files(self, table: str) -> list[str]:
        """The source files the run that committed ``table``'s mark listed."""
        return self.entry(table).get("files", [])

    def dump(self) -> dict:
        """All per-table watermarks (the actuator's GET /state view)."""
        state = self._state_file()
        root = self.path + ".d"
        for d in os.listdir(root) if os.path.isdir(root) else []:
            top = commitlog.latest(os.path.join(root, d))
            if top is not None:
                state[unquote(d[len("t="):])] = top
        return {t: e["mark"] for t, e in state.items() if "mark" in e}

    def _commit(self, table: str, entry: dict) -> None:
        """Commit ``entry`` after whatever another writer committed."""
        log = self._log(table)
        while True:
            top = commitlog.latest(log)
            with contextlib.suppress(commitlog.ManifestConflict):
                commitlog.commit(log, {"seq": top["seq"] + 1 if top else 0, **entry})
                break
        commitlog.retain(log, _KEPT)

    def set(self, table: str, value: str, files: list[str] | None = None) -> None:
        """Replace ``table``'s mark and its listed files in one commit."""
        self._commit(table, {"mark": value, "files": files} if files else {"mark": value})

    def clear(self, table: str) -> None:
        """Forget ``table``'s mark and listed files."""
        self._commit(table, {})


def _render(ts: Column) -> Column:
    """A timestamp as text in the session time zone, which
    ``to_timestamp`` parses it back in."""
    return ts.cast("string")


def _shift(mark: str, us: int) -> str:
    """``mark`` moved by ``us`` microseconds of wall time."""
    return (_dt.datetime.fromisoformat(mark) + _dt.timedelta(microseconds=us)).isoformat(sep=" ")


def capture_hwm(df: DataFrame, ts_col: str) -> str | None:
    """Current max timestamp — captured once at extraction start
    (datacrawler.py:485-491 captures it on the first fetched page)."""
    return df.agg(_render(F.max(ts_col)).alias("m")).head()["m"]


def hwm_filter(df: DataFrame, ts_col: str, hwm: str | None) -> DataFrame:
    """Apply the incremental predicate: keep ``ts < hwm`` strictly
    (``>=`` excluded, worker.py:197-198); no mark → keep everything."""
    if hwm is None:
        return df
    return df.where(F.col(ts_col) < F.to_timestamp(F.lit(hwm)))


def _file_path(uri: str) -> str:
    """``inputFiles()``'s spelling of a local file (``file:///x``) in
    ``_metadata.file_path``'s (``file:/x``)."""
    return "file:/" + uri[len("file:///"):] if uri.startswith("file:///") else uri


def _unlisted(paths: list[str]) -> Column | None:
    """``_metadata.file_path NOT IN paths`` as one SQL expression: Spark
    parses it in one call, where ``isin`` crosses to the JVM once per
    path (about 2 s for 10,000).  A path that would need escaping in a
    SQL literal is left out: its file is read again and contributes no
    row, since all of them lie below the mark."""
    plain = [p for p in paths if "'" not in p and "\\" not in p]
    if not plain:
        return None
    return F.expr("NOT _metadata.file_path IN (" + ", ".join(f"'{p}'" for p in plain) + ")")


def _observed(obs: Observation, df: DataFrame) -> dict:
    """``obs``'s metrics, or ``RuntimeError`` if no action on its frame
    has finished (``Observation.get`` would wait for one forever)."""
    done = obs._jo.future()
    if not done.isCompleted():
        # the metrics reach the Observation on the listener bus, after
        # the action has returned
        df.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    if not done.isCompleted():
        raise RuntimeError("commit() before any action ran the incremental window")
    return obs.get


def plan_incremental(
    df: DataFrame,
    ts_col: str,
    table: str,
    store: HighWaterMarkStore,
    lateness_us: int = 0,
):
    """Plan one incremental run: the rows at or past the previous mark
    and below the new one.

    Returns ``(window_df, commit)`` — the caller runs its sink writes
    and calls ``commit()`` ONLY on success.  Committing the mark before
    the write would lose the window on a crash (the next run would skip
    it); deferring makes a crashed run re-extract the same window
    idempotently.  A window with no rows leaves the state as it is.

    The new mark is the window's max + 1µs, so the max row itself is
    extracted THIS run (otherwise a quiescent table never emits its
    last row).  Trade-off: a writer that inserts ``ts == max`` after
    the max was taken falls below the committed mark and would be
    skipped; if the source can produce such ties (coarse timestamps,
    clock skew), set ``lateness_us`` — the committed mark is backed off
    by that margin and the overlap is re-extracted next run (pair with
    idempotent sinks).  With ``lateness_us`` no file is skipped: the
    overlap lives in files earlier runs listed.

    The plan is one of the module docstring's two.  On the one-scan
    plan, the first action on the window to finish must read it whole,
    as ``fan_out``'s does when its sinks write whole frames: the
    ``noop`` materialization of a cached frame, a lone sink's write,
    or, on a file snapshot (``catalog.file_snapshot``), each sink's own
    write, the first of which to finish sets the mark.  A partial first
    action (a sink's ``limit`` or ``head``) observes a max at or below
    the true one, so the mark alone would only re-deliver rows; but the
    listing ``commit()`` records would then skip the unread rows of
    those files.  ``commit()`` before any action ran the window raises
    ``RuntimeError``.
    """
    entry = store.entry(table)
    prev = entry.get("mark")
    if prev is None:
        since = F.col(ts_col).isNotNull()
    else:
        since = F.col(ts_col) >= F.to_timestamp(F.lit(prev))
    relation, whole = file_relation(df)
    if relation is not None:
        listing, done = [], []
        if not lateness_us:
            done = entry.get("files", [])
            if whole:
                listing = [_file_path(f) for f in df.inputFiles()]
        if (skip := _unlisted(done)) is not None:
            df = df.where(skip)
        obs = Observation()
        out = df.where(since).observe(obs, _render(F.max(ts_col)).alias("max"))

        def commit() -> None:
            top = _observed(obs, out)["max"]
            if top is not None:
                store.set(table, _shift(top, 1 - lateness_us), listing)

        return out, commit

    if prev is not None:
        # capture over the rows past the mark only: a source that takes
        # the predicate skips what earlier runs read
        df = df.where(since)
    top = capture_hwm(df, ts_col)
    if top is None:
        # no row at or past the mark (or no timestamp at all): the
        # window is empty and the mark stays where it is
        return df.where(F.lit(False)), lambda: None
    new = _shift(top, 1)
    return hwm_filter(df, ts_col, new), lambda: store.set(table, _shift(new, -lateness_us))
