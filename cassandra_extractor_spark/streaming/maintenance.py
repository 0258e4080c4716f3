"""Maintenance of the incremental stores: one table of stores, one
fold skeleton, one size-ratio policy.

The signature, ANN and posting stores land each ingest batch in its
own ``batch=<id>`` directory under a delta dir; a fold rewrites the
base with those batches merged in.  ``STORES`` gives, per store kind,
the parameter check, the base/delta pairs whose bytes feed the policy
(fold when delta bytes exceed ``threshold`` × base bytes) and each
pair's fold; ``compact`` runs ``mode`` = ``force | auto | check`` over
it for both callers: the control plane's ``/maintenance/compact``
route and the ingests' in-band ``auto_compact`` hooks (off by default
— see ``stream_posting_ingest`` / ``stream_ann_ingest`` /
``stream_incremental_dedup``, whose ``process`` bodies run as the one
sink of ``pipeline.stream_extract``).  A long-running ingest never invokes
HTTP; without the hook its store degrades monotonically: the delta
side of every read grows while the bucketed/cell-partitioned base
stays fixed, and the read plans drift away from the pruned store shape
they were designed around.  ``fold_delta`` is every fold's skeleton:
it folds and then removes exactly the committed batches it listed, so
a batch that lands during a fold waits for the next one.

The CDC store (``cdc_stream.apply_cdc_batch``) checks ``size_policy``
after every batch's commit, always on, and when it says fold starts a
background fold that commits by compare-and-set, so the batch never
waits for it (see ``cdc_stream``).

Safety argument for folding the other stores mid-stream:
``foreachBatch`` bodies run serially (micro-batches never overlap
within one query), so a fold inside the batch hook is exactly as
isolated as one run between restarts; the crash window (base
rewritten, delta not yet removed, batch replayed) leaves duplicate
rows that every store's read path already tolerates
by contract (MAX-collapse on postings/doclens, set-semantic candidate
join on signatures, candidate dedup on ANN probes).  A fold run from
outside an active ingest's query loses none of its batches, but the
ingest's reads can meet a base the fold is rewriting (``saveAsTable``
/ ``overwrite``), so such a fold is safe only between restarts.

At 100 TB the per-batch policy CHECK is driver-side filesystem
metadata only (no Spark job); the fold is one shuffle rewrite,
amortized across every future batch read.
"""

from __future__ import annotations

import glob
import os
import shutil
from contextlib import suppress
from functools import partial
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession


def dir_bytes(path: str) -> int:
    """Recursive on-disk byte count of a directory tree (0 if absent) —
    driver-side filesystem metadata only, never a Spark job."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def table_location(spark: SparkSession, table: str) -> str | None:
    """Filesystem path of a managed table (DESC FORMATTED Location
    row), file:-URI stripped; None if unresolvable."""
    try:
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
            if (r["col_name"] or "").strip() == "Location":
                loc = r["data_type"].strip()
                return loc[len("file:") :] if loc.startswith("file:") else loc
    except Exception:  # noqa: BLE001
        return None
    return None


def size_policy(base_bytes: int, delta_bytes: int, threshold: float = 0.2) -> dict[str, Any]:
    """The size-ratio decision: fold when delta bytes exceed
    ``threshold`` × base bytes.  An empty base with a non-empty delta
    always folds; an empty delta never does."""
    ratio = round(delta_bytes / base_bytes, 4) if base_bytes > 0 else None
    should = delta_bytes > 0 and (base_bytes == 0 or delta_bytes > threshold * base_bytes)
    return {
        "base_bytes": base_bytes,
        "delta_bytes": delta_bytes,
        "ratio": ratio,
        "threshold": threshold,
        "should_compact": should,
    }


def fold_delta(
    spark: SparkSession,
    delta_dir: str,
    cols: list[str],
    merge: Callable[[DataFrame], DataFrame],
    write: Callable[[DataFrame], None],
) -> int:
    """Fold the committed batches under ``delta_dir`` into a store's
    base; returns the delta rows absorbed (0 = base untouched; the
    listed batches, all empty, are still removed).

    Lists the ``batch=<id>`` dirs that hold ``_SUCCESS`` (a batch still
    being written has none) and reads exactly those, with ``basePath``
    = the delta dir so partition columns inside a batch (the ANN
    store's ``c_id``) are still discovered.  ``merge(delta)`` adds the
    base; the result is staged with ``localCheckpoint(eager=True)``
    (the plan must not read the base it rewrites), ``write`` commits it
    as the new base, and only then are the read dirs removed — a crash
    in between leaves base∩delta duplicates, which every store's merge
    collapses and read path tolerates.  The removal goes through
    ``shutil.rmtree``; the delta dir itself goes once empty."""
    batches = sorted(
        os.path.dirname(p)
        for p in glob.glob(os.path.join(glob.escape(delta_dir), "batch=*", "_SUCCESS"))
    )
    if not batches:
        return 0
    delta = spark.read.option("basePath", delta_dir).parquet(*batches).select(*cols)
    absorbed = delta.count()
    if absorbed:
        write(merge(delta).localCheckpoint(eager=True))
    # empty batches (an empty micro-batch writes a footer-only file) go
    # too: left behind, their bytes would keep the policy asking to fold
    for b in batches:
        shutil.rmtree(b, ignore_errors=True)
    with suppress(OSError):  # a batch landed meanwhile: the dir stays
        os.rmdir(delta_dir)
    return absorbed


class _Part(NamedTuple):
    """One base/delta pair of a store and its fold.  ``base`` resolves
    the base dir only when sized (``force`` needs no catalog call)."""

    base: Callable[[], str | None]
    delta: str
    fold: Callable[[], int]


def _table_parts(
    spark: SparkSession, params: dict[str, Any], pairs: list[tuple[str, str, Callable]]
) -> list[_Part]:
    """Parts of a store whose bases are bucketed managed tables:
    ``pairs`` of (table, delta dir, ``compact_*_store`` fold)."""
    n_buckets = int(params.get("n_buckets", 16))
    return [
        _Part(partial(table_location, spark, t), d, partial(fold, spark, t, d, n_buckets=n_buckets))
        for t, d, fold in pairs
    ]


def _signature(spark: SparkSession, params: dict[str, Any]) -> list[_Part]:
    from cassandra_extractor_spark.streaming.dedup_stream import compact_signature_store

    return _table_parts(
        spark, params, [(params["table"], params["delta_dir"], compact_signature_store)]
    )


def _posting(spark: SparkSession, params: dict[str, Any]) -> list[_Part]:
    from cassandra_extractor_spark.streaming.posting_stream import (
        compact_doclen_store,
        compact_posting_store,
    )

    if params.get("doclen_table") and not params.get("doclen_delta_dir"):
        # fail the request loudly instead of surfacing a raw KeyError
        # as an uninformative HTTP 500
        raise ValueError("doclen_table requires doclen_delta_dir")
    pairs = [(params["table"], params["delta_dir"], compact_posting_store)]
    if params.get("doclen_table"):
        # the doclen delta is folded by the same call, so its bytes
        # count toward the ratio that triggers it (otherwise a doclen
        # delta grows unboundedly when postings are compacted
        # out-of-band)
        pairs.append((params["doclen_table"], params["doclen_delta_dir"], compact_doclen_store))
    return _table_parts(spark, params, pairs)


def _ann(spark: SparkSession, params: dict[str, Any]) -> list[_Part]:
    from cassandra_extractor_spark.streaming.ann_stream import compact_ann_store

    store_dir = params["store_dir"]
    return [
        _Part(
            lambda: os.path.join(store_dir, "base"),
            os.path.join(store_dir, "delta"),
            partial(compact_ann_store, spark, store_dir),
        )
    ]


#: store kind → its parts for the request's params, which it checks
STORES: dict[str, Callable[[SparkSession, dict[str, Any]], list[_Part]]] = {
    "signature": _signature,
    "ann": _ann,
    "posting": _posting,
}


def compact(
    spark: SparkSession, kind: str, params: dict[str, Any], batch_id: int | None = None
) -> dict[str, Any] | None:
    """Maintenance of one store (``kind`` in ``STORES``), for the
    ``/maintenance/compact`` route and the ingests' in-band hooks.

    ``params["mode"]``: ``force`` (default) folds unconditionally;
    ``auto`` evaluates the size-ratio policy (``threshold``, default
    0.2 — the delta side of every read stays a small fraction of the
    pruned/bucketed base, which is what keeps the read plans
    store-shaped) and folds only when it says so; ``check`` evaluates
    the policy and NEVER folds — the queryable half of
    auto-compaction.  ``batch_id``, given by an in-band hook, skips the
    call (returns None) unless ``batch_due(params, batch_id)``."""
    mode = params.get("mode", "force")
    if mode not in ("force", "auto", "check"):
        raise ValueError(f"unknown compaction mode {mode!r}")
    if kind not in STORES:
        what = "unknown store kind" if mode == "force" else "no size policy for store kind"
        raise ValueError(f"{what} {kind!r}")
    if batch_id is not None and not batch_due(params, batch_id):
        return None
    parts = STORES[kind](spark, params)
    if mode == "force":
        return {"status": "compacted", "store": kind, "absorbed": sum(p.fold() for p in parts)}
    threshold = float(params.get("threshold", 0.2))
    base = sum(dir_bytes(loc) for p in parts if (loc := p.base()))
    delta = sum(dir_bytes(p.delta) for p in parts)
    policy = {"store": kind, **size_policy(base, delta, threshold)}
    if mode == "check" or not policy["should_compact"]:
        return {**policy, "status": "policy", "compacted": False}
    absorbed = sum(p.fold() for p in parts)
    return {**policy, "status": "compacted", "absorbed": absorbed, "compacted": True}


def batch_due(auto_compact: dict[str, Any] | None, batch_id: int) -> bool:
    """Whether this batch id is a policy-check point.  Keyed off the
    MONOTONIC streaming batch id (persisted in the checkpoint), so the
    cadence is deterministic across restarts and replay-stable: a
    replayed batch re-checks the policy, and the fold it may re-run is
    idempotent by each store's contract."""
    if not auto_compact:
        return False
    every = int(auto_compact.get("every_n_batches", 8))
    return every > 0 and (batch_id + 1) % every == 0
