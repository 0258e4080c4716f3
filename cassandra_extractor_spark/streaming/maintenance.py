"""Maintenance of the incremental stores: one table of folds, one
size-ratio policy.

Every store commits through ``streaming/generations.py``: an ingest
batch lands as one more delta generation, and a fold writes base ∪
deltas as a new base generation and commits it on top of whatever
committed since, taking out only the deltas it folded; retention keeps
every generation a retained manifest references.  So a fold may run
in-band, from the control plane or from another process beside an
active ingest: no batch is lost, and no read meets a base mid-rewrite.

``STORES`` names the fold of each store kind; ``compact`` runs ``mode``
= ``force | auto | check`` over it for both callers: the control
plane's ``/maintenance/compact`` route and the ingests' in-band
``auto_compact`` hooks (off by default — see ``stream_posting_ingest``
/ ``stream_ann_ingest`` / ``stream_incremental_dedup``, whose
``process`` bodies run as the one sink of ``pipeline.stream_extract``).
A long-running ingest never invokes HTTP; without the hook its store
degrades monotonically: the delta side of every read grows while the
bucketed/cell-partitioned base stays fixed, and the read plans drift
away from the pruned store shape they were designed around.

The CDC store (``cdc_stream.apply_cdc_batch``) checks ``size_policy``
after every batch's commit, always on, and when it says fold starts a
background fold, so the batch never waits for it (see ``cdc_stream``).

At 100 TB the per-batch policy CHECK is driver-side filesystem
metadata only (no Spark job); the fold is one shuffle rewrite,
amortized across every future batch read.
"""

from __future__ import annotations

import importlib
import os
from typing import Any

from pyspark.sql import SparkSession

from cassandra_extractor_spark.streaming.generations import generation_dirs


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


#: store kind → (module under ``streaming``, its fold), each fold
#: called as ``fn(spark, store_dir)`` and returning the rows absorbed
STORES: dict[str, tuple[str, str]] = {
    "signature": ("dedup_stream", "compact_signature_store"),
    "ann": ("ann_stream", "compact_ann_store"),
    "posting": ("posting_stream", "compact_posting_store"),
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
    module, name = STORES[kind]
    store_dir = params["store_dir"]
    fold = getattr(importlib.import_module(f"cassandra_extractor_spark.streaming.{module}"), name)
    if mode == "force":
        return {"status": "compacted", "store": kind, "absorbed": fold(spark, store_dir)}
    threshold = float(params.get("threshold", 0.2))
    base, deltas = generation_dirs(store_dir)
    policy = {"store": kind, **size_policy(dir_bytes(base), sum(map(dir_bytes, deltas)), threshold)}
    if mode == "check" or not policy["should_compact"]:
        return {**policy, "status": "policy", "compacted": False}
    absorbed = fold(spark, store_dir)
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
