"""Generational stores: every incremental store is a directory with one
commit log.

A store ``store_dir`` holds its commit log ``manifest/gen=<seq>.json``
(``streaming/commitlog.py``; the newest entry is the store) and its
data generations ``data/<gen>``.  A generation is written once, under
a name no other writer uses (``next_gen``), and is never changed; a
writer makes it visible by committing a manifest that references it on
top of the one it read (``commit_on_top``).  Retention (``cleanup``)
keeps the newest manifests and every generation one of them references
or a writer is still writing.  So a read plans against the generations
of the manifest it read, and a fold that commits meanwhile deletes none
of their files: a fold may run beside an ingest or a read, and a crash
at any point leaves the last committed manifest whole (half-written
generations are unreferenced; the next cleanup removes them).

The CDC store (``cdc_stream``) keeps its own manifest body (a bucket
map, a purge horizon) on the pieces above.  The signature, posting and
ANN stores share the rest of this module.  Their manifest holds:

- ``base``: the base generation;
- ``deltas``: the outstanding delta generations, oldest first;
- ``batch_id``: the last committed ingest batch, so a replay of that
  batch (the driver died between the commit and the streaming
  checkpoint) is skipped (``commit_delta``);
- ``parts``: per named part of a row (``data/<gen>/<part>``), its row
  ``schema`` and its layout, fixed when the store is created: a
  ``bucket`` spec (``cols``, ``sort``, ``n_buckets``) that every base
  is written with, or ``partition`` columns that every generation is
  written with.

A bucketed base is written at its generation path through a throwaway
catalog entry (``bucketBy`` / ``sortBy`` need ``saveAsTable``), and a
reader registers it once per session and generation from the manifest
(``CREATE TABLE … CLUSTERED BY … LOCATION``), so bucket pruning and
exchange-free bucket joins survive a restart: nothing durable lives in
the catalog.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import threading
import uuid
from functools import reduce
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from cassandra_extractor_spark.streaming import commitlog
from cassandra_extractor_spark.streaming.commitlog import ManifestConflict

#: manifests a signature, posting or ANN store keeps: a read planned
#: against one of them stays whole until two more commits land
KEPT = 3

# ------------------------------------------------------------- commit rule


def manifest_dir(store_dir: str) -> str:
    return os.path.join(store_dir, "manifest")


def current(store_dir: str) -> dict | None:
    """The store's newest manifest, or None for no store."""
    return commitlog.latest(manifest_dir(store_dir))


def read_manifest(store_dir: str, seq: int) -> dict:
    return commitlog.read(manifest_dir(store_dir), seq)


def _commit(store_dir: str, manifest: dict) -> None:
    commitlog.commit(manifest_dir(store_dir), manifest)


def commit_on_top(
    store_dir: str,
    cur: dict,
    step: Callable[[dict], dict],
    commit: Callable[[str, dict], None] = _commit,
) -> None:
    """Commit ``step(cur)`` as the seq after manifest ``cur``; when another
    writer took that seq, re-read and commit ``step`` of the current
    manifest, until one lands or ``step`` raises ``ManifestConflict``."""
    while True:
        manifest = {**step(cur), "seq": cur["seq"] + 1}
        try:
            commit(store_dir, manifest)
            return
        except ManifestConflict:
            cur = current(store_dir)


#: what this process has open on the stores it writes, keyed by the
#: absolute store dir: the generation dirs its writers are writing
#: (store, gen), and each store's running fold (set when it ends).
#: Module state on purpose: every writer of a store in this process —
#: stream, control plane, background fold — must see the same registry
_LOCK = threading.Lock()
_WRITING: set[tuple[str, str]] = set()
_FOLDS: dict[str, threading.Event] = {}


@contextlib.contextmanager
def generation(store_dir: str, cur: dict):
    """Name the data directory of the commit after manifest ``cur`` and
    keep it in this process's in-flight registry while the block writes
    and commits it, so no cleanup deletes it meanwhile.  A
    ``ManifestConflict`` out of the block removes the directory."""
    gen = next_gen(cur)
    entry = (os.path.abspath(store_dir), gen)
    with _LOCK:
        _WRITING.add(entry)
    try:
        yield gen
    except ManifestConflict:
        shutil.rmtree(os.path.join(store_dir, "data", gen), ignore_errors=True)
        raise
    finally:
        with _LOCK:
            _WRITING.discard(entry)


def next_gen(cur: dict) -> str:
    """Data directory for a generation written on top of manifest
    ``cur``: the seq of the commit after it (not a batch id, which
    restarts at 0 when a stream is replayed from a lost checkpoint;
    a commit that retries lands at a later seq) plus a random suffix
    of this attempt, so a concurrent writer that read the same manifest
    never writes into it."""
    return f"s{cur['seq'] + 1}-{uuid.uuid4().hex[:8]}"


_GEN_SEQ = re.compile(r"s(\d+)(?:-|$)")


def in_flight(gen: str, newest_seq: int) -> bool:
    """True for a generation named after a seq past the newest manifest:
    a writer in another process that read that manifest may still be
    writing it (this process's own writers are in ``_WRITING``)."""
    m = _GEN_SEQ.match(gen)
    return m is not None and int(m.group(1)) > newest_seq


def cleanup(
    store_dir: str, retain: int, refs: Callable[[dict], Iterable[str]]
) -> tuple[int, int]:
    """Drop manifests beyond the newest ``retain``, then any data
    generation directory that no retained manifest references
    (``refs(manifest)`` names its generations) and that is not in
    flight.  Returns (manifests removed, generation dirs removed).

    The data dirs are listed before the in-flight registry and the
    manifests are read: a listed directory whose writer has left the
    registry by then has its commit, if any, among those manifests."""
    data_dir = os.path.join(store_dir, "data")
    listed = os.listdir(data_dir) if os.path.isdir(data_dir) else []
    store = os.path.abspath(store_dir)
    with _LOCK:
        writing = {gen for s, gen in _WRITING if s == store}
    removed = commitlog.retain(manifest_dir(store_dir), retain)
    kept = commitlog.seqs(manifest_dir(store_dir))
    newest = kept[-1] if kept else -1
    referenced = set()
    for s in kept:
        try:
            referenced.update(refs(read_manifest(store_dir, s)))
        except FileNotFoundError:  # dropped by a concurrent cleanup
            continue
    removed_dirs = 0
    for d in listed:
        if d not in referenced and d not in writing and not in_flight(d, newest):
            shutil.rmtree(os.path.join(data_dir, d), ignore_errors=True)
            removed_dirs += 1
    return removed, removed_dirs


def claim_fold(store: str) -> threading.Event | None:
    """Register a fold of ``store`` (an absolute path) unless one is
    running; the returned event is set when it ends (``end_fold``)."""
    with _LOCK:
        if store in _FOLDS:
            return None
        done = _FOLDS[store] = threading.Event()
        return done


def end_fold(store: str, done: threading.Event) -> None:
    with _LOCK:
        del _FOLDS[store]
    done.set()


def wait_for_fold(store_dir: str) -> None:
    """Return once no fold of this process is running on the store."""
    with _LOCK:
        done = _FOLDS.get(os.path.abspath(store_dir))
    if done is not None:
        done.wait()


def schema_json(rows: DataFrame) -> str:
    """``rows``' schema as a manifest records it: what a file scan of
    the written rows reads back (every column nullable)."""
    return StructType([StructField(f.name, f.dataType) for f in rows.schema]).json()


# ------------------------------------------- signature, posting, ANN stores


def _manifest(store_dir: str) -> dict:
    m = current(store_dir)
    if m is None:
        raise FileNotFoundError(f"no store under {store_dir}: create it first")
    return m


def _gens(m: dict) -> list[str]:
    return [m["base"], *m["deltas"]]


def _cleanup(store_dir: str) -> None:
    cleanup(store_dir, KEPT, _gens)


def _path(store_dir: str, gen: str, part: str) -> str:
    return os.path.join(store_dir, "data", gen, part)


def _schema(spec: dict) -> StructType:
    return StructType.fromJson(json.loads(spec["schema"]))


def _write(rows: DataFrame, path: str, spec: dict, base: bool) -> None:
    """Write one part of a generation at ``path``: a base with the
    part's bucket spec, every generation with its partition columns."""
    bucket = spec.get("bucket")
    if base and bucket:
        # bucketBy needs saveAsTable: write through a throwaway entry
        # of an external table (its drop keeps the files)
        name = f"w_{uuid.uuid4().hex}"
        (
            rows.write.bucketBy(bucket["n_buckets"], *bucket["cols"])
            .sortBy(*bucket["sort"])
            .option("path", path)
            .saveAsTable(name)
        )
        rows.sparkSession.sql(f"DROP TABLE {name}")
    elif spec.get("partition"):
        rows.write.partitionBy(*spec["partition"]).parquet(path)
    else:
        rows.write.parquet(path)


def _registered(spark: SparkSession) -> dict[str, str]:
    """This session's catalog entries of bucketed bases: absolute path
    → table name."""
    return spark.__dict__.setdefault("_ce_store_tables", {})


def _part_of(path: str) -> tuple[str, str]:
    """(data dir, part) of a generation's part path."""
    gen_dir, part = os.path.split(path)
    return os.path.dirname(gen_dir), part


def _read_base(spark: SparkSession, path: str, spec: dict) -> DataFrame:
    """A bucketed base as a catalog table, registered from the manifest
    the first time this session reads it; any other base as files.
    Registering a base drops this session's entries of the part's
    other bases (folds replace them; a frame already planned against
    one keeps its files, not its entry)."""
    bucket = spec.get("bucket")
    if not bucket:
        return spark.read.schema(_schema(spec)).parquet(path)
    path = os.path.abspath(path)
    tables = _registered(spark)
    name = tables.get(path)
    if name is None:
        name = f"store_{hashlib.md5(path.encode()).hexdigest()[:16]}"
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in _schema(spec))
        quoted = ", ".join(f"`{c}`" for c in bucket["cols"])
        sort = ", ".join(f"`{c}`" for c in bucket["sort"])
        location = path.replace("\\", "\\\\").replace("'", "\\'")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({quoted}) SORTED BY ({sort}) INTO {bucket['n_buckets']} BUCKETS "
            f"LOCATION '{location}'"
        )
        for other in [p for p in tables if _part_of(p) == _part_of(path)]:
            spark.sql(f"DROP TABLE IF EXISTS {tables.pop(other)}")
        tables[path] = name
    return spark.table(name)


def _read_deltas(spark: SparkSession, store_dir: str, spec: dict, part: str, gens: list[str]):
    """The delta generations ``gens`` of one part as one frame (None for
    none).  Partitioned generations are one scan each: Spark discovers
    partitions under one root per scan."""
    if not gens:
        return None
    reader = spark.read.schema(_schema(spec))
    paths = [_path(store_dir, g, part) for g in gens]
    if spec.get("partition"):
        return reduce(DataFrame.unionByName, [reader.parquet(p) for p in paths])
    return reader.parquet(*paths)


def create(store_dir: str, parts: dict[str, tuple[DataFrame, dict]]) -> None:
    """Create (or replace) the store: each part's rows become its base,
    with the part's layout (``{"bucket": {"cols", "sort", "n_buckets"}}``
    or ``{"partition": [cols]}``), and a manifest with no delta is
    committed on top of whatever the store held."""
    cur = current(store_dir) or {"seq": -1}
    specs = {p: {"schema": schema_json(rows), **layout} for p, (rows, layout) in parts.items()}
    with generation(store_dir, cur) as gen:
        for p, (rows, _layout) in parts.items():
            _write(rows, _path(store_dir, gen, p), specs[p], base=True)
        fresh = {"batch_id": None, "base": gen, "deltas": [], "parts": specs}
        commit_on_top(store_dir, cur, lambda _m: fresh)
    _cleanup(store_dir)


def committed(store_dir: str, batch_id: int) -> bool:
    """Whether ingest batch ``batch_id`` is the store's last commit."""
    return _manifest(store_dir)["batch_id"] == batch_id


def commit_delta(store_dir: str, batch_id: int, parts: dict[str, DataFrame]) -> bool:
    """Write one ingest batch (rows per part, cast to the part's schema)
    as a delta generation and commit it; False, writing nothing, for a
    replay of the last committed batch."""
    cur = _manifest(store_dir)
    if cur["batch_id"] == batch_id:
        return False
    with generation(store_dir, cur) as gen:
        for p, rows in parts.items():
            spec = cur["parts"][p]
            cast = [F.col(f.name).cast(f.dataType).alias(f.name) for f in _schema(spec)]
            _write(rows.select(*cast), _path(store_dir, gen, p), spec, base=False)
        commit_on_top(
            store_dir, cur, lambda m: {**m, "batch_id": batch_id, "deltas": [*m["deltas"], gen]}
        )
    _cleanup(store_dir)
    return True


def read(spark: SparkSession, store_dir: str, part: str) -> DataFrame:
    """One part of the store: its base, with the outstanding deltas of
    the same manifest unioned in (no union when none is outstanding, so
    a bucketed base keeps its bucketed scan)."""
    m = _manifest(store_dir)
    spec = m["parts"][part]
    base = _read_base(spark, _path(store_dir, m["base"], part), spec)
    deltas = _read_deltas(spark, store_dir, spec, part, m["deltas"])
    return base if deltas is None else base.unionByName(deltas)


def fold(
    spark: SparkSession, store_dir: str, merge: Callable[[str, DataFrame], DataFrame]
) -> int:
    """Fold the outstanding deltas into a new base and commit it; returns
    the delta rows absorbed (0: nothing outstanding, or only empty
    deltas, which the commit drops with the base unchanged).

    Reads the manifest once: per part, ``merge(part, base ∪ deltas)``
    is written as the part of a new base generation, which commits on
    top of whatever committed since with exactly the deltas it folded
    taken out; batches committed meanwhile stay outstanding.  Raises
    ``ManifestConflict`` when another fold replaced the base first.
    One fold of a store runs at a time in this process."""
    store = os.path.abspath(store_dir)
    while (done := claim_fold(store)) is None:
        wait_for_fold(store)
    try:
        m = _manifest(store_dir)
        folded = m["deltas"]
        if not folded:
            return 0
        deltas = {
            p: _read_deltas(spark, store_dir, spec, p, folded) for p, spec in m["parts"].items()
        }
        absorbed = sum(d.count() for d in deltas.values())

        def replace_base(base: str) -> Callable[[dict], dict]:
            def step(cur: dict) -> dict:
                if cur["base"] != m["base"]:
                    raise ManifestConflict(f"{store_dir}: the base of seq {m['seq']} was replaced")
                deltas = [d for d in cur["deltas"] if d not in folded]
                return {**cur, "base": base, "deltas": deltas}

            return step

        if not absorbed:
            commit_on_top(store_dir, m, replace_base(m["base"]))
        else:
            with generation(store_dir, m) as gen:
                for p, spec in m["parts"].items():
                    rows = _read_base(spark, _path(store_dir, m["base"], p), spec)
                    merged = merge(p, rows.unionByName(deltas[p]))
                    _write(merged, _path(store_dir, gen, p), spec, base=True)
                commit_on_top(store_dir, m, replace_base(gen))
        _cleanup(store_dir)
        return absorbed
    finally:
        end_fold(store, done)


def generation_dirs(store_dir: str) -> tuple[str, list[str]]:
    """(base directory, outstanding delta directories) of the store."""
    m = _manifest(store_dir)
    data = os.path.join(store_dir, "data")
    return os.path.join(data, m["base"]), [os.path.join(data, d) for d in m["deltas"]]


def drop(spark: SparkSession, store_dir: str) -> None:
    """Remove the store's files and this session's catalog entries of
    its bases."""
    root = os.path.join(os.path.abspath(store_dir), "")
    tables = _registered(spark)
    for path in [p for p in tables if p.startswith(root)]:
        spark.sql(f"DROP TABLE IF EXISTS {tables.pop(path)}")
    shutil.rmtree(store_dir, ignore_errors=True)
