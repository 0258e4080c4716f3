"""In-stream auto-compaction for the incremental-store trio.

The size-ratio policy (fold when delta bytes exceed ``threshold`` ×
base bytes) exists on the control plane's ``/maintenance/compact``
route (``actuator.compaction_policy``), but a long-running ingest
never invokes HTTP — without an operator curling the route its store
degrades monotonically: the delta side of every read grows while the
bucketed/cell-partitioned base stays fixed, and the read plans drift
away from the pruned store shape they were designed around.

This module makes the SAME policy callable from inside a streaming
ingest's ``foreachBatch`` (config-gated, off by default — see the
``auto_compact`` parameter on ``stream_posting_ingest`` /
``stream_ann_ingest`` / ``stream_incremental_dedup``).  The CDC
store (``cdc_stream.apply_cdc_batch``) checks ``size_policy`` after
every batch's commit, always on, and when it says fold starts a
background fold that commits by compare-and-set, so the batch never
waits for it (see ``cdc_stream``).  Safety argument for folding the
other stores mid-stream:
``foreachBatch`` bodies run serially (micro-batches never overlap
within one query), so a fold inside the batch hook is exactly as
isolated as one run between restarts; the crash window (base
rewritten, delta not yet removed, batch replayed) leaves duplicate
rows that every store's read path already tolerates
by contract (MAX-collapse on postings/doclens, set-semantic candidate
join on signatures, candidate dedup on ANN probes).

At 100 TB the per-batch policy CHECK is driver-side filesystem
metadata only (no Spark job); the fold itself is the same one-shuffle
rewrite the maintenance route runs, amortized across every future
batch read.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession


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


def maybe_compact_posting(
    spark: SparkSession,
    table: str,
    delta_dir: str,
    doclen_table: str | None = None,
    doclen_delta_dir: str | None = None,
    threshold: float = 0.2,
    n_buckets: int = 16,
) -> dict[str, Any]:
    """Evaluate the size-ratio policy over the posting store (BOTH
    sides' bytes when doclen params are present — the doclen delta is
    folded by the same call, so it must count toward the ratio that
    triggers it) and fold if it says so."""
    if doclen_table and not doclen_delta_dir:
        raise ValueError("doclen_table requires doclen_delta_dir")
    loc = table_location(spark, table)
    base = dir_bytes(loc) if loc else 0
    delta = dir_bytes(delta_dir)
    if doclen_table:
        dl_loc = table_location(spark, doclen_table)
        base += dir_bytes(dl_loc) if dl_loc else 0
        delta += dir_bytes(doclen_delta_dir)
    pol = {"store": "posting", **size_policy(base, delta, threshold)}
    if not pol["should_compact"]:
        return {**pol, "compacted": False}
    from cassandra_extractor_spark.streaming.posting_stream import (
        compact_doclen_store,
        compact_posting_store,
    )

    absorbed = compact_posting_store(spark, table, delta_dir, n_buckets=n_buckets)
    if doclen_table:
        absorbed += compact_doclen_store(
            spark, doclen_table, doclen_delta_dir, n_buckets=n_buckets
        )
    return {**pol, "compacted": True, "absorbed": absorbed}


def maybe_compact_signature(
    spark: SparkSession,
    table: str,
    delta_dir: str,
    threshold: float = 0.2,
    n_buckets: int = 16,
) -> dict[str, Any]:
    """Size-ratio policy + conditional fold for the LSH signature store."""
    loc = table_location(spark, table)
    base = dir_bytes(loc) if loc else 0
    pol = {"store": "signature", **size_policy(base, dir_bytes(delta_dir), threshold)}
    if not pol["should_compact"]:
        return {**pol, "compacted": False}
    from cassandra_extractor_spark.streaming.dedup_stream import compact_signature_store

    absorbed = compact_signature_store(spark, table, delta_dir, n_buckets=n_buckets)
    return {**pol, "compacted": True, "absorbed": absorbed}


def maybe_compact_ann(
    spark: SparkSession, store_dir: str, threshold: float = 0.2
) -> dict[str, Any]:
    """Size-ratio policy + conditional fold for the IVF cell store."""
    base = dir_bytes(os.path.join(store_dir, "base"))
    delta = dir_bytes(os.path.join(store_dir, "delta"))
    pol = {"store": "ann", **size_policy(base, delta, threshold)}
    if not pol["should_compact"]:
        return {**pol, "compacted": False}
    from cassandra_extractor_spark.streaming.ann_stream import compact_ann_store

    absorbed = compact_ann_store(spark, store_dir)
    return {**pol, "compacted": True, "absorbed": absorbed}


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
