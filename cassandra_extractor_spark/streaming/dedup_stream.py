"""Streaming incremental near-dup gate: arriving document batches are
checked against the persisted LSH signature store WITHOUT ever
re-signing or re-shuffling the corpus.

This is the streaming spelling of
``operators.dedup.incremental_dedup_against_store`` (reference parity:
the extractor's incremental crawl loop, `datacrawler.py`, re-reads
only rows past the modified-ts high-water mark — here the analogous
"only new work" contract applies to near-dup detection).

Architecture — base store + per-batch deltas under one commit log
(``streaming/generations.py``), the production shape at 100 TB:

- the BASE is the bucketed, sorted band generation written by
  ``write_signature_store`` (store-side bucket join is exchange-free —
  plan-asserted in ``tests/test_scale.py``);
- each micro-batch signs ONLY its own documents, joins them against
  base ∪ deltas, and then commits its bands as one more delta;
- replay safety: foreachBatch may re-run a batch after a crash.  A
  batch the store already committed (the manifest records the last
  ``batch_id``) is skipped whole — its pairs went to the sink before
  its commit — so it can neither duplicate store rows nor meet its own
  bands.  The pairs sink receives ``batch_id`` and must be idempotent
  per batch (a batch that failed before its commit runs again) — the
  standard foreachBatch contract;
- compaction (``compact_signature_store``, in-band via
  ``auto_compact`` or from the control plane, beside the stream or
  not) folds the deltas into a new bucketed base.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cassandra_extractor_spark.operators.dedup import incremental_dedup_against_store
from cassandra_extractor_spark.streaming import generations
from cassandra_extractor_spark.streaming.maintenance import compact
from cassandra_extractor_spark.streaming.pipeline import stream_extract


def stream_incremental_dedup(
    spark: SparkSession,
    source_path: str,
    schema: str,
    store_dir: str,
    pairs_sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    auto_compact: dict | None = None,
) -> StreamingQuery:
    """Start the streaming dedup gate over a file source of
    ``(doc_id, text)`` batches, run by ``pipeline.stream_extract``
    (trigger and checkpoint contract there), against the signature
    store under ``store_dir`` (``write_signature_store``).

    ``pairs_sink(dup_pairs_df, batch_id)`` receives, per micro-batch,
    the (new_id, dup_of) frame where ``dup_of`` may come from the base
    corpus, an earlier streamed batch (via a delta), or an earlier
    document of the same batch.

    ``auto_compact`` (off by default) runs the control plane's
    size-ratio policy in-band every ``every_n_batches`` (default 8)
    batches and folds the band deltas into the bucketed base when
    crossed (keys: ``every_n_batches``, ``threshold``; see
    ``streaming/maintenance.py``).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not generations.committed(store_dir, batch_id):
            pairs, new_bands = incremental_dedup_against_store(spark, store_dir, batch_df)
            pairs_sink(pairs, batch_id)
            generations.commit_delta(store_dir, batch_id, {"bands": new_bands})
        if auto_compact:
            compact(
                spark,
                "signature",
                {**auto_compact, "store_dir": store_dir, "mode": "auto"},
                batch_id,
            )

    return stream_extract(
        spark,
        source_path,
        schema,
        {"signature": process},
        checkpoint_dir,
        max_files_per_trigger=1,
        path_glob="*.parquet",
    )


def compact_signature_store(spark: SparkSession, store_dir: str) -> int:
    """Fold the committed band deltas into a new bucketed base with the
    store's bucket spec — the periodic maintenance job that keeps the
    store-side bucket join exchange-free as the streamed corpus grows.
    One full shuffle, amortized across every future batch join; it
    commits on top of the batches that land meanwhile
    (``generations.fold``).  ``.distinct()`` keeps the base a set: a
    band in base and delta at once (a batch ingested twice by hand)
    collapses instead of living on in the base.  Returns the number of
    delta band rows absorbed (0 = nothing to do, store untouched).
    """
    return generations.fold(spark, store_dir, lambda _part, rows: rows.distinct())
