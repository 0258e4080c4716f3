"""Streaming CDC materialized view — the streaming twin of batch
``cdc_apply`` (operators/relational.py, the MERGE-INTO shape): a
change stream continuously maintains a latest-row-per-key snapshot.

Architecture — BUCKETED generational store with per-batch deltas and
background folds (LSM-style compaction), the third member of the
replay-safe store family (signature store: set-semantic, rollup store:
partial-agg partitions, CDC store: keyed snapshot buckets), merged on
read like the posting, signature and ANN stores:

- the base snapshot is hash-bucketed on the key (same discipline as
  the persisted signature store, operators/dedup.py
  ``write_signature_store``): ``data/<gen>/_b=<b>``;
- an apply does O(batch) work and nothing else: it writes its batch,
  horizon fenced and cast to the store's schema but otherwise as it
  arrived, as ONE unpartitioned delta generation ``data/<gen>`` (no
  bucket dirs, no sort, no store read, no shuffle;
  ``generations.next_gen`` names it so that no two writers share a
  directory) and commits it as one more entry of the manifest's flat
  ``deltas`` list;
- a fold writes last-writer-wins over the base and the deltas of the
  manifest it read as a new base generation in ONE exchange (hash on
  ``_b``, window over ``(_b, key)``; the seed is written the same way)
  and commits it with those deltas taken out: the deltas applied since
  stay outstanding.  An apply starts one in the background when the
  size-ratio policy of ``streaming/maintenance.py`` says so
  (``_fold_if_due``); ``fold_cdc_store`` runs one in the calling thread;
- reads (``read_cdc_view``) are a plain scan of the base when no delta
  is outstanding, else the deltas' keys are broadcast: base rows of
  other keys stream through an anti join, the touched ones (semi
  join) meet the delta rows in a last-writer-wins — the base is
  scanned twice but never shuffled, and the shuffled volume is the
  deltas' (about 0.2x the base, which the fold threshold bounds);
- every generation has one physical schema: ``init_cdc_store`` records
  the store's row schema (``StructType.json()``) as the manifest's
  ``schema``, every commit carries it on, and an apply writes its delta
  cast to it (Spark's cast, ANSI by default: a value that does not fit
  fails the apply).  Reads, folds and purges scan with the recorded
  schema, so none of them runs a schema-inference job (one per scan
  otherwise).  A manifest without ``schema`` (an older store) still
  reads, folds and purges by inferring, and its next commit records
  the schema;
- visibility is an atomic, exclusive commit of the MANIFEST
  ``manifest/gen=<seq>.json`` (``streaming/commitlog.py``).  A writer
  whose seq another took re-reads and commits on top
  (``generations.commit_on_top``): an apply adds its delta, a fold
  takes its deltas out.  An apply gives up when a purge moved the horizon (its
  batch was fenced by the old one), a fold when the base was replaced,
  and a purge always; it removes its own data directory and raises
  ``ManifestConflict``.  The manifest maps every bucket to its base
  directory (``buckets``) and lists the outstanding delta directories
  (``deltas``; the per-bucket ``{bucket: [dirs]}`` form older stores
  wrote still reads, folds, purges and cleans, and a manifest without
  ``deltas`` reads as base only).  A crash before the commit leaves
  half-written data dirs UNREFERENCED and the previous snapshot intact
  (the format-free spelling of the Delta/Iceberg manifest dance);
- replay-safe twice over: the manifest records the ``batch_id`` it
  committed, so a foreachBatch replay of an already-committed batch
  (driver died between manifest commit and streaming-checkpoint
  commit) is skipped; and even a forced re-merge is idempotent BY
  ALGEBRA — last-writer-wins over (order_cols, op, payload-hash) is
  deterministic and reproduces the identical snapshot;
- OUT-OF-ORDER safe across batches: the store retains ``order_cols``
  and tombstones (op='D' rows), so a late-arriving STALE change loses
  the per-key ordering against what the store already holds — a stale
  update can never resurrect a deleted key.  Last-writer-wins is
  associative, so merging base + deltas on read (or in a fold) elects
  the same winner per key as merging each batch in turn would, and a
  fold may run while later deltas land;
- tombstones are retained until an explicit ``purge_tombstones``
  horizon: the purge records the horizon IN the manifest, and every
  later batch drops incoming changes strictly below it before they
  are written — so a stale update arriving after its fencing
  tombstone was purged is rejected by the horizon contract instead of
  silently resurrecting the key;
- old generations are cleaned best-effort after each commit
  (``_cleanup``: ``retain_gens`` manifests kept, data dirs referenced
  by none of them and not being written deleted).

Shutdown: a fold still running when the session stops fails quietly
(its Spark job is cancelled or its next call into the stopped session
raises), commits nothing and leaves at most an orphan directory for
the next cleanup; its thread is a daemon and ends with the failure.

100 TB posture: a trigger costs one write of the (small) batch and
never waits for a fold; a fold rewrites the whole store, so its cost
amortizes over the ~threshold x |base| of change bytes between folds.
Bucket count is chosen so a bucket is a few GB (here a test-sized
default).
"""

from __future__ import annotations

import json
import logging
import os
import threading
from functools import reduce
from typing import Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from cassandra_extractor_spark.streaming import commitlog
from cassandra_extractor_spark.streaming.commitlog import ManifestConflict
# callers read _FOLDS, _next_gen and _read_manifest off this module too
from cassandra_extractor_spark.streaming.generations import (  # noqa: F401
    _FOLDS,
    claim_fold,
    cleanup,
    commit_on_top,
    current as _current_manifest,
    end_fold,
    generation,
    manifest_dir,
    next_gen as _next_gen,
    read_manifest as _read_manifest,
    schema_json,
    wait_for_fold as _wait_for_fold,
)
from cassandra_extractor_spark.streaming.maintenance import dir_bytes, size_policy
from cassandra_extractor_spark.streaming.pipeline import stream_extract

logger = logging.getLogger(__name__)


def _bucketed(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "_b", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


# ---------------------------------------------------------------- manifests


def _manifest_seqs(store_dir: str) -> list[int]:
    return commitlog.seqs(manifest_dir(store_dir))


def _commit_manifest(store_dir: str, manifest: dict) -> None:
    """Every manifest commit goes through here (``commitlog.commit``)."""
    commitlog.commit(manifest_dir(store_dir), manifest)


#: the job group and FAIR scheduler pool of background folds' jobs
FOLD_POOL = "cdc-fold"


def _rels(manifest: dict) -> tuple[list[str], list[str]]:
    """(base paths, outstanding delta paths) of a manifest, relative to
    ``data/``.  ``deltas`` is a flat list; a store written when deltas
    were bucketed keeps a ``{bucket: [paths]}`` map instead, and one
    written before the store kept deltas has none outstanding."""
    deltas = manifest.get("deltas", [])
    if isinstance(deltas, dict):
        deltas = [r for rels in deltas.values() for r in rels]
    return list(manifest["buckets"].values()), list(deltas)


def _schema(manifest: dict) -> StructType | None:
    """The row schema the manifest records for every generation, or
    None for a store written before manifests recorded it."""
    recorded = manifest.get("schema")
    return StructType.fromJson(json.loads(recorded)) if recorded else None


def _read_rels(
    spark: SparkSession, store_dir: str, rels: list[str], schema: StructType | None = None
) -> DataFrame | None:
    """The generations ``rels`` as one scan: read with the recorded
    ``schema`` (no inference job), or inferred from a footer without."""
    if not rels:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*[os.path.join(store_dir, "data", r) for r in rels])


def _rels_bytes(store_dir: str, rels: list[str]) -> int:
    return sum(dir_bytes(os.path.join(store_dir, "data", r)) for r in rels)


def _read_current(
    spark: SparkSession, store_dir: str, op_col: str | None = None
) -> DataFrame | None:
    """Full current snapshot, tombstones included: a plain scan of the
    base when no delta is outstanding, else ``_merge_deltas``."""
    m = _current_manifest(store_dir)
    if m is None:
        return None
    base_rels, delta_rels = _rels(m)
    schema = _schema(m)
    base = _read_rels(spark, store_dir, base_rels, schema)
    if not delta_rels:
        return base
    return _merge_deltas(
        base,
        _read_rels(spark, store_dir, delta_rels, schema),
        m["key"],
        m["order_cols"],
        op_col or m.get("op_col", "op"),
        m["payload_cols"],
    )


def _merge_deltas(
    base: DataFrame,
    deltas: DataFrame,
    key: str,
    order_cols: Sequence[str],
    op_col: str,
    payload_cols: Sequence[str],
) -> DataFrame:
    """Last-writer-wins over base + deltas without shuffling the base:
    the deltas' keys are broadcast, base rows of untouched keys pass
    straight through (anti join), and only the touched ones (semi join)
    meet the delta rows in a delta-sized last-writer-wins.  Same winners
    as ``merge_cdc_batch`` over the union; the fold threshold keeps the
    broadcast key set to about 0.2x the base."""
    cols = [key, op_col, *order_cols, *payload_cols]
    base, deltas = base.select(*cols), deltas.select(*cols)
    keys = F.broadcast(deltas.select(F.col(key).alias("_k")))
    hit = base[key].eqNullSafe(keys["_k"])
    touched = base.join(keys, hit, "left_semi").unionByName(deltas)
    return base.join(keys, hit, "left_anti").unionByName(
        _latest(touched, key, order_cols, op_col, payload_cols)
    )


def _write_generation(df: DataFrame, store_dir: str, gen_name: str) -> dict[str, str] | str:
    """Write ``df`` as the generation ``data/<gen_name>``.  A base (a
    frame carrying its bucket column ``_b``) goes under
    ``data/<gen_name>/_b=<b>`` and the bucket→relative-path map is
    returned; a delta is written unpartitioned, one file per write
    task, and its relative path is returned.  The directory is NEW per
    generation — never a path any reader references yet."""
    out = os.path.join(store_dir, "data", gen_name)
    if "_b" not in df.columns:
        df.write.mode("overwrite").parquet(out)
        return gen_name
    df.write.mode("overwrite").partitionBy("_b").parquet(out)
    return {
        d.split("=", 1)[1]: f"{gen_name}/{d}"
        for d in os.listdir(out)
        if d.startswith("_b=")
    }


def _cleanup(store_dir: str, retain_gens: int) -> tuple[int, int]:
    """Retention (``generations.cleanup``) over the data directories the
    manifests' bases and deltas name."""
    return cleanup(
        store_dir,
        retain_gens,
        lambda m: {rel.split("/", 1)[0] for rels in _rels(m) for rel in rels},
    )


def cleanup_generations(store_dir: str, retain_gens: int) -> dict:
    """Operational retention entry point (the control plane's CDC
    maintenance op): keep the newest ``retain_gens`` manifests, delete
    unreferenced generation data.  Same invariant as the per-trigger
    best-effort cleanup — the CURRENT manifest, everything it
    references and every generation still being written survive."""
    if retain_gens < 1:
        raise ValueError("retain_gens must be >= 1: the current manifest must survive")
    removed_manifests, removed_dirs = _cleanup(store_dir, retain_gens)
    return {
        "removed_manifests": removed_manifests,
        "removed_generations": removed_dirs,
        "retained_seqs": _manifest_seqs(store_dir),
    }


# ------------------------------------------------------------------- merge


def init_cdc_store(
    spark: SparkSession,
    base: DataFrame,
    store_dir: str,
    key: str,
    op_col: str,
    order_cols: Sequence[str],
    n_buckets: int = 8,
) -> None:
    """Seed the store from a base snapshot.  The caller supplies
    ``order_cols`` values older than any change that will ever arrive
    (epoch zero / sentinel), so every real change outranks the seed.
    The seed is written the way a fold writes a base: last-writer-wins
    per key, so a snapshot that repeats a key stores one row for it.

    Fails fast if the key/op/order columns are missing from ``base`` —
    otherwise the first micro-batch would die inside the merge with an
    opaque column-resolution error."""
    missing = [c for c in (key, op_col, *order_cols) if c not in base.columns]
    if missing:
        raise ValueError(
            f"init_cdc_store: base snapshot is missing column(s) {missing}; "
            f"seed it with the key ({key!r}), op ({op_col!r}) and order "
            f"columns ({list(order_cols)!r}) set to sentinel values older "
            "than any arriving change"
        )
    payload = [c for c in base.columns if c not in (key, op_col, *order_cols)]
    rows = base.select(key, op_col, *order_cols, *payload)
    m = {
        "seq": 0,
        "batch_id": None,
        "key": key,
        "op_col": op_col,
        "order_cols": list(order_cols),
        "payload_cols": payload,
        "n_buckets": n_buckets,
        "horizon": None,
        "deltas": [],
        "schema": schema_json(rows),
    }
    with generation(store_dir, {"seq": -1}) as gen:
        buckets = _write_generation(_as_base(rows, m), store_dir, gen)
        _commit_manifest(store_dir, {**m, "buckets": buckets})


def _horizon_struct(df: DataFrame, order_cols: Sequence[str], horizon: Sequence) -> F.Column:
    """Horizon literals cast to the order columns' ACTUAL types, so the
    struct comparison type-checks (e.g. a Python int literal vs a BIGINT
    order column)."""
    types = dict(df.dtypes)
    return F.struct(
        *[F.lit(v).cast(types[c]) for c, v in zip(order_cols, horizon)]
    )


def merge_cdc_batch(
    store: DataFrame | None,
    changes: DataFrame,
    key: str,
    order_cols: Sequence[str],
    op_col: str,
    payload_cols: Sequence[str],
    horizon: Sequence | None = None,
) -> DataFrame:
    """Last-writer-wins merge of a change batch into a snapshot —
    pure-DataFrame, idempotent (merging a batch twice is a no-op), and
    stale-proof (the snapshot's retained order_cols win against older
    late arrivals; tombstones outrank stale updates the same way).

    DETERMINISTIC ties: after ``order_cols`` the window breaks ties on
    (op desc, xxhash64 of the payload desc), so two distinct changes
    sharing an order_cols value elect the same winner on every replay
    — real change logs should still carry unique per-key sequence
    numbers, but a tie can never make replays diverge.

    ``horizon``: values matching ``order_cols``; incoming changes
    strictly below it are dropped — the fence that replaces purged
    tombstones (see ``purge_tombstones``)."""
    cols = [key, op_col, *order_cols, *payload_cols]
    all_rows = _fence(changes.select(*cols), order_cols, horizon)
    if store is not None:
        all_rows = store.select(*cols).unionByName(all_rows)
    return _latest(all_rows, key, order_cols, op_col, payload_cols)


def _fence(changes: DataFrame, order_cols: Sequence[str], horizon: Sequence | None) -> DataFrame:
    """Drop changes strictly below the recorded purge horizon."""
    if horizon is None:
        return changes
    return changes.where(
        ~(F.struct(*order_cols) < _horizon_struct(changes, order_cols, horizon))
    )


def _latest(
    rows: DataFrame,
    key: str,
    order_cols: Sequence[str],
    op_col: str,
    payload_cols: Sequence[str],
    by: Sequence[str] = (),
) -> DataFrame:
    """Keep one row per key: highest ``order_cols``, then the
    deterministic (op, payload hash) tie-break.  ``by`` prefixes the
    window's partitioning — a fold passes ``_b`` so that its hash
    exchange on the bucket also clusters the window (one shuffle)."""
    tie = [F.col(op_col).desc()]
    if payload_cols:
        tie.append(
            F.xxhash64(F.struct(*[F.col(c) for c in payload_cols])).desc()
        )
    w = W.partitionBy(*by, key).orderBy(
        *[F.col(c).desc() for c in order_cols], *tie
    )
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _fold(
    spark: SparkSession,
    store_dir: str,
    m: dict,
    cols: Sequence[str],
) -> DataFrame:
    """The base and outstanding deltas of manifest ``m`` as a new base
    (``_as_base``)."""
    schema = _schema(m)
    parts = [
        df.select(*cols)
        for df in (_read_rels(spark, store_dir, rels, schema) for rels in _rels(m))
        if df is not None
    ]
    return _as_base(reduce(DataFrame.unionByName, parts), m)


def _as_base(rows: DataFrame, m: dict) -> DataFrame:
    """Last-writer-wins over ``rows``, bucketed and hash-partitioned on
    ``_b`` as manifest ``m`` says — ready for ``_write_generation`` as a
    base, in a single exchange.  The exchange names its partition count
    (one per bucket): AQE coalesces a bare ``repartition("_b")`` of a
    small store into one task."""
    rows = _bucketed(rows, m["key"], m["n_buckets"])
    return _latest(
        rows.repartition(m["n_buckets"], "_b"),
        m["key"],
        m["order_cols"],
        m.get("op_col", "op"),
        m["payload_cols"],
        by=["_b"],
    )


def apply_cdc_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    key: str,
    order_cols: Sequence[str],
    op_col: str = "op",
    payload_cols: Sequence[str] = (),
    retain_gens: int = 3,
) -> None:
    """Merge one change batch into the store as one delta generation
    (module docstring) — the foreachBatch body of ``stream_cdc_apply``,
    public so a batch pipeline (or the control plane) can apply changes
    without a streaming query.  Then, if the outstanding deltas pass
    the size-ratio policy (``maintenance.size_policy``), a background
    fold starts (``_fold_if_due``); the apply never waits for it.

    Raises ``ManifestConflict`` when a purge committed after this batch
    read the manifest; nothing of the batch is kept, and running it
    again applies it on top of that commit (a stream replays the failed
    batch on restart)."""
    cur = _current_manifest(store_dir)
    if cur is None:
        raise FileNotFoundError(
            f"CDC store not initialized under {store_dir}: call "
            "init_cdc_store with a (possibly empty) base snapshot first"
        )
    if cur["batch_id"] == batch_id:
        # foreachBatch replay of a batch whose manifest already
        # committed (driver died before the streaming checkpoint
        # did) — idempotent skip; the snapshot already reflects it
        return
    horizon = cur.get("horizon")
    cols = [key, op_col, *order_cols, *payload_cols]
    # an older store, whose manifest records no schema, is inferred
    # from its base once: this commit records the schema
    store_schema = _schema(cur) or _read_rels(spark, store_dir, _rels(cur)[0]).schema
    batch = _fence(_conform(batch_df.select(*cols), store_schema), order_cols, horizon)
    schema = schema_json(batch)
    with generation(store_dir, cur) as gen:
        _write_generation(batch, store_dir, gen)

        def add_delta(m: dict) -> dict:
            if m.get("horizon") != horizon:  # a purge: the batch was fenced by the old one
                raise ManifestConflict(f"{store_dir}: the horizon moved under batch {batch_id}")
            return {
                **m,
                "batch_id": batch_id,
                "op_col": op_col,
                "order_cols": list(order_cols),
                "payload_cols": list(payload_cols),
                "deltas": [*_rels(m)[1], gen],
                "schema": schema,
            }

        commit_on_top(store_dir, cur, add_delta, _commit_manifest)
    _cleanup(store_dir, retain_gens)
    _fold_if_due(spark, store_dir, retain_gens)


def _conform(rows: DataFrame, schema: StructType) -> DataFrame:
    """``rows`` with every column the store's ``schema`` names cast to
    its recorded type, so every generation has one physical schema.  The
    cast is Spark's (ANSI by default): a value that does not fit fails
    the write instead of landing as null.  A column the store does not
    know yet keeps its type (and the apply records it)."""
    types = {f.name: f.dataType for f in schema}
    if all(types.get(f.name, f.dataType) == f.dataType for f in rows.schema):
        return rows  # the common case: spares a plan analysis per apply
    return rows.select(
        *[F.col(c).cast(types[c]).alias(c) if c in types else F.col(c) for c in rows.columns]
    )


# -------------------------------------------------------------------- folds


def _fold_if_due(spark: SparkSession, store_dir: str, retain_gens: int) -> None:
    """Start a background fold of the store when the size-ratio policy
    says so and this process is not folding it already.  The fold runs
    on a daemon thread with the caller's Spark local properties, its
    jobs in the job group and FAIR pool ``FOLD_POOL``."""
    m = _current_manifest(store_dir)
    base_rels, delta_rels = _rels(m)
    if not size_policy(
        _rels_bytes(store_dir, base_rels), _rels_bytes(store_dir, delta_rels)
    )["should_compact"]:
        return
    store = os.path.abspath(store_dir)
    done = claim_fold(store)
    if done is None:
        return

    @inheritable_thread_target(spark)
    def fold() -> None:
        # a job group of its own: cancelling the group of the job that
        # started the fold leaves the fold alone, and its jobs are not
        # counted as that job's
        spark.sparkContext.setJobGroup(FOLD_POOL, f"CDC fold of {store}")
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", FOLD_POOL)
        _fold_store(spark, store_dir, retain_gens)

    def run() -> None:
        try:
            fold()
        except Exception:  # noqa: BLE001
            # a fold only compacts: losing one (the session stopped, a
            # purge replaced the base) loses no change, and whatever it
            # wrote is an orphan the next cleanup removes
            logger.debug("background fold of %s failed", store, exc_info=True)
        finally:
            end_fold(store, done)

    try:
        threading.Thread(target=run, name=f"cdc-fold {store}", daemon=True).start()
    except BaseException:
        end_fold(store, done)
        raise


def _fold_store(spark: SparkSession, store_dir: str, retain_gens: int) -> bool:
    """Fold the base and the deltas of the current manifest into a new
    base and commit it on top of whatever committed since (module
    docstring).  Returns whether there was anything to fold."""
    m = _current_manifest(store_dir)
    folded = _rels(m)[1]
    if not folded:
        return False
    cols = [m["key"], m.get("op_col", "op"), *m["order_cols"], *m["payload_cols"]]
    rows = _fold(spark, store_dir, m, cols)
    # an older store's fold records the schema it inferred
    schema = m.get("schema") or schema_json(rows.drop("_b"))
    with generation(store_dir, m) as gen:
        buckets = _write_generation(rows, store_dir, gen)

        def replace_base(cur: dict) -> dict:
            if (cur["buckets"], cur.get("horizon")) != (m["buckets"], m.get("horizon")):
                raise ManifestConflict(f"{store_dir}: the base of seq {m['seq']} was replaced")
            return {
                **cur,
                "buckets": buckets,
                "deltas": [r for r in _rels(cur)[1] if r not in folded],
                "schema": cur.get("schema", schema),
            }

        commit_on_top(store_dir, m, replace_base, _commit_manifest)
    _cleanup(store_dir, retain_gens)
    return True


def fold_cdc_store(spark: SparkSession, store_dir: str, retain_gens: int = 3) -> dict:
    """Settle the store: wait for this process's background fold of it,
    then fold whatever deltas are outstanding, in the calling thread
    (the control plane's ``op: "fold"``).  Deltas an apply commits
    meanwhile stay outstanding.  Raises ``ManifestConflict`` when a
    purge replaced the base during the fold."""
    store = os.path.abspath(store_dir)
    while (done := claim_fold(store)) is None:
        _wait_for_fold(store)
    try:
        folded = _fold_store(spark, store_dir, retain_gens)
    finally:
        end_fold(store, done)
    m = _current_manifest(store_dir)
    return {"folded": folded, "seq": m["seq"], "deltas": len(_rels(m)[1])}


def stream_cdc_apply(
    spark: SparkSession,
    source_path: str,
    schema: str,
    store_dir: str,
    checkpoint_dir: str,
    key: str,
    order_cols: Sequence[str],
    op_col: str = "op",
    payload_cols: Sequence[str] = (),
) -> StreamingQuery:
    """Maintain the CDC snapshot over a file source of change batches,
    one ``apply_cdc_batch`` per micro-batch of ``pipeline.stream_extract``
    (which owns the trigger and checkpoint contract).  The store must
    exist (``init_cdc_store``)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            spark,
            batch_df,
            batch_id,
            store_dir,
            key,
            order_cols,
            op_col,
            payload_cols,
        )

    return stream_extract(
        spark,
        source_path,
        schema,
        {"cdc": process},
        checkpoint_dir,
        max_files_per_trigger=1,
        path_glob="*.parquet",
    )


def purge_tombstones(
    spark: SparkSession,
    store_dir: str,
    order_cols: Sequence[str],
    op_col: str,
    horizon: Sequence,
) -> None:
    """Drop tombstones strictly below ``horizon`` (values matching
    ``order_cols``) and RECORD the horizon in the manifest: from now on
    every batch drops incoming changes below it, so a stale update
    that would have been fenced by a purged tombstone is rejected by
    the horizon instead of resurrecting the key.  Only call with a
    horizon you are prepared to enforce (older changes are discarded).

    Folds every outstanding delta and rewrites every bucket (an
    explicit maintenance pass, not a per-trigger cost) into a new
    generation.  Folding first matters: a tombstone in the base
    may be all that fences a stale update sitting in a delta.  Waits
    for this process's background fold of the store first; raises
    ``ManifestConflict``, keeping nothing, when a batch or a fold
    committed after the purge read the manifest."""
    _wait_for_fold(store_dir)
    cur = _current_manifest(store_dir)
    if cur is None:
        raise FileNotFoundError(f"no manifest under {store_dir}")
    prev = cur.get("horizon")
    if prev is not None and list(prev) >= list(horizon):
        raise ValueError(
            f"purge horizon {list(horizon)!r} must advance past the "
            f"recorded horizon {list(prev)!r}"
        )
    payload = cur.get("payload_cols")
    if payload is None:
        # a store last written before manifests recorded its payload
        # (such a store has no deltas): the base schema names it
        fixed = (cur["key"], op_col, *order_cols)
        payload = [
            c
            for c in _read_rels(spark, store_dir, _rels(cur)[0]).columns
            if c not in fixed
        ]
    cols = [cur["key"], op_col, *order_cols, *payload]
    snap = _fold(
        spark,
        store_dir,
        {
            **cur,
            "op_col": op_col,
            "order_cols": list(order_cols),
            "payload_cols": payload,
        },
        cols,
    )
    hz = _horizon_struct(snap, order_cols, horizon)
    kept = snap.where(
        (F.col(op_col) != "D") | ~(F.struct(*order_cols) < hz)
    )
    with generation(store_dir, cur) as gen:
        written = _write_generation(kept, store_dir, gen)
        # no retry: a commit since ``cur`` may hold changes this purge did not fold
        _commit_manifest(
            store_dir,
            {
                **cur,
                "seq": cur["seq"] + 1,
                "horizon": list(horizon),
                "payload_cols": payload,
                "buckets": written,
                "deltas": [],
                "schema": cur.get("schema") or schema_json(kept.drop("_b")),
            },
        )


def read_cdc_view(
    spark: SparkSession, store_dir: str, op_col: str = "op"
) -> DataFrame:
    """The served materialized view: the current snapshot (base merged
    with any outstanding deltas, see ``_read_current``) minus
    tombstones (tombstones stay IN the store to fence stale late
    arrivals; they leave only through ``purge_tombstones``, which
    installs a horizon fence in their place)."""
    cur = _read_current(spark, store_dir, op_col)
    if cur is None:
        raise FileNotFoundError(f"no complete generation under {store_dir}")
    return cur.where(F.col(op_col) != "D")
