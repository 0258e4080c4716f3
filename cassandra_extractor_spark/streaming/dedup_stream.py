"""Streaming incremental near-dup gate: arriving document batches are
checked against the persisted LSH signature store WITHOUT ever
re-signing or re-shuffling the corpus.

This is the streaming spelling of
``operators.dedup.incremental_dedup_against_store`` (reference parity:
the extractor's incremental crawl loop, `datacrawler.py`, re-reads
only rows past the modified-ts high-water mark — here the analogous
"only new work" contract applies to near-dup detection).

Architecture — base store + per-batch delta, the production shape at
100 TB:

- the BASE store is the bucketed, sorted signature table written once
  by ``write_signature_store`` (store-side bucket join is
  exchange-free — plan-asserted in ``tests/test_scale.py``);
- each micro-batch signs ONLY its own documents, joins them against
  base ∪ delta, and then absorbs its bands into a ``batch=<id>``
  partition directory under ``delta_dir``;
- replay safety: foreachBatch may re-run a batch after a crash.  The
  batch OVERWRITES its own partition (never appends), and the delta
  read EXCLUDES the current batch id, so a half-written earlier
  attempt can neither duplicate store rows nor leak into its own
  candidate set.  The pairs sink receives ``batch_id`` and must be
  idempotent per batch — the standard foreachBatch contract;
- periodic compaction (between restarts, or in-band via
  ``auto_compact``) folds the delta back into the bucketed base via
  ``write_signature_store(base ∪ delta)``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from cassandra_extractor_spark.operators.dedup import incremental_dedup
from cassandra_extractor_spark.streaming.maintenance import compact, fold_delta
from cassandra_extractor_spark.streaming.pipeline import stream_extract

_BAND_COLS = ["doc_id", "band", "sig"]


def stream_incremental_dedup(
    spark: SparkSession,
    source_path: str,
    schema: str,
    store_table: str,
    delta_dir: str,
    pairs_sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    auto_compact: dict | None = None,
) -> StreamingQuery:
    """Start the streaming dedup gate over a file source of
    ``(doc_id, text)`` batches, run by ``pipeline.stream_extract``
    (trigger and checkpoint contract there).

    ``pairs_sink(dup_pairs_df, batch_id)`` receives, per micro-batch,
    the (new_id, dup_of) frame where ``dup_of`` may come from the base
    corpus, an earlier streamed batch (via the delta), or an earlier
    document of the same batch.

    ``auto_compact`` (off by default) runs the control plane's
    size-ratio policy in-band every ``every_n_batches`` (default 8)
    batches and folds the band delta into the bucketed base when
    crossed (keys: ``every_n_batches``, ``threshold``, ``n_buckets``;
    see ``streaming/maintenance.py`` for the mid-stream safety
    argument — the candidate join is set-semantic, so the crash
    window's base∪delta duplicates cannot duplicate pairs).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        base = spark.table(store_table).select(*_BAND_COLS)
        try:
            delta = (
                spark.read.parquet(delta_dir)
                .where(F.col("batch") != batch_id)
                .select(*_BAND_COLS)
            )
            base = base.unionByName(delta)
        except AnalysisException:
            pass  # no delta yet (first batch)
        pairs, new_bands = incremental_dedup(base, batch_df)
        pairs_sink(pairs, batch_id)
        (
            new_bands.select(*_BAND_COLS)
            .write.mode("overwrite")
            .parquet(f"{delta_dir}/batch={batch_id}")
        )
        if auto_compact:
            compact(
                spark,
                "signature",
                {**auto_compact, "table": store_table, "delta_dir": delta_dir, "mode": "auto"},
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


def compact_signature_store(
    spark: SparkSession,
    store_table: str,
    delta_dir: str,
    n_buckets: int = 16,
) -> int:
    """Fold the streaming delta back into the bucketed base store —
    the periodic maintenance job that keeps the store-side bucket join
    exchange-free as the streamed corpus grows.

    Reads base ∪ the committed delta batches, rewrites the store with
    the SAME bucket spec (one full shuffle, amortized across every
    future batch join), and removes exactly the batches it read
    (``maintenance.fold_delta``).  The store table swaps atomically at
    the ``saveAsTable`` commit and the batches go only afterwards, so a
    crash between the two leaves duplicate bands (harmless: the
    candidate join is set-semantic, pairs go through ``.distinct()``).
    Safe between streaming query restarts, or in-band from the SAME
    query's ``foreachBatch`` hook (``auto_compact``): micro-batches
    never overlap within one query, so an in-hook fold is exactly as
    isolated as one run between restarts (full safety argument in
    ``streaming/maintenance.py``).  Run from another process beside an
    active query, it loses none of the batches the query appends, but
    the query's gate can read the store mid-rewrite.  Returns the
    number of delta band rows absorbed (0 = nothing to do, store
    untouched).
    """
    from cassandra_extractor_spark.operators.dedup import write_signature_store

    # .distinct() makes the fold SELF-HEALING across the crash window:
    # re-absorbing a delta whose band rows already reached the base
    # (fold committed, delta removal crashed, batch replayed) collapses
    # the duplicates instead of carrying them in the base forever —
    # band rows are set-semantic by the store's contract
    return fold_delta(
        spark,
        delta_dir,
        _BAND_COLS,
        lambda delta: spark.table(store_table).select(*_BAND_COLS).unionByName(delta).distinct(),
        lambda staged: write_signature_store(staged, store_table, n_buckets=n_buckets),
    )
