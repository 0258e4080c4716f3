"""Streaming ANN index maintenance: arriving embedding batches are
assigned to their IVF cell against the broadcast coarse quantizer and
committed as CELL-PARTITIONED delta generations; queries probe only
their nearest cells, so the serving read is partition-pruned to
~probes/K of the store no matter how many batches have been ingested.

This is the vector twin of the streaming dedup gate
(``streaming/dedup_stream.py``): same base-plus-delta store under one
commit log (``streaming/generations.py``), same replay contract, same
compaction.  Reference parity: the extractor's incremental crawl loop
(`ref:datacrawler.py` high-water-mark paging) applied to vector
ingest — only new work is ever processed; the corpus is never
re-assigned or re-shuffled.

100 TB shape:

- the coarse quantizer (centroid set, ``<store_dir>/centroids``) is
  tiny and broadcast — batch assignment is a per-row argmax, no
  corpus-side shuffle;
- every generation is laid out ``…/vectors/c_id=<cell>/`` (the store
  records ``c_id`` partitioning), so a query touching ``probes`` cells
  reads exactly those directories (partition pruning, plan-asserted in
  the tests) — the on-disk twin of the in-memory inverted file;
- replay safety: a batch the store already committed (the manifest
  records the last ``batch_id``) is skipped, so a replay can never
  duplicate vectors;
- compaction folds the deltas into a new base (still cell-partitioned)
  in-band via ``auto_compact`` or from the control plane, bounding
  small-file count.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.streaming import StreamingQuery

from cassandra_extractor_spark.operators.similarity import (
    TOP_K,
    IVF_PROBES,
    cosine_defined,
    cosine_prenormed,
    norm,
)
from cassandra_extractor_spark.streaming import generations
from cassandra_extractor_spark.streaming.maintenance import compact
from cassandra_extractor_spark.streaming.pipeline import stream_extract

_STORE_COLS = ["vec_id", "emb", "nrm", "c_id"]


def init_ann_centroids(spark: SparkSession, centroids: DataFrame, store_dir: str) -> None:
    """Create the ANN store under ``store_dir`` with an empty base and
    persist its fixed coarse quantizer ``(c_id, c_emb)``.  Zero-norm
    centroids are rejected up front (a cell whose centroid has no
    direction can never be ranked deterministically)."""
    c = centroids.select(
        F.col("c_id").cast("long").alias("c_id"),
        F.col("c_emb").cast("array<double>").alias("c_emb"),
    ).withColumn("c_nrm", norm(F.col("c_emb")))
    bad = c.where(~cosine_defined(F.col("c_nrm"))).count()
    if bad:
        raise ValueError(f"{bad} zero-norm or NaN centroid(s) — fix the quantizer first")
    c.write.mode("overwrite").parquet(f"{store_dir}/centroids")
    empty = spark.createDataFrame([], "vec_id LONG, emb ARRAY<DOUBLE>")
    generations.create(
        store_dir, {"vectors": (assign_cells(empty, c), {"partition": ["c_id"]})}
    )


def _read_centroids(spark: SparkSession, store_dir: str) -> DataFrame:
    return spark.read.parquet(f"{store_dir}/centroids")


def assign_cells(batch: DataFrame, cent: DataFrame, keep: int = 1) -> DataFrame:
    """(vec_id, emb, nrm, c_id): nearest-``keep`` cells per vector by
    cosine, ties broken on c_id — the SAME convention as the batch IVF
    operator (``similarity.ivf_topk``), so store-backed results are
    row-identical to the batch spelling.  Zero-norm vectors are
    excluded (cosine undefined; the embedding audit surfaces them)."""
    b = (
        batch.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("emb").cast("array<double>").alias("emb"),
        )
        .withColumn("nrm", norm(F.col("emb")))
        .where(cosine_defined(F.col("nrm")))
    )
    scored = b.join(F.broadcast(cent)).select(
        "vec_id",
        "emb",
        "nrm",
        "c_id",
        cosine_prenormed(F.col("emb"), F.col("c_emb"), F.col("nrm"), F.col("c_nrm")).alias(
            "csim"
        ),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("c_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= keep)
        .select(*_STORE_COLS)
    )


def stream_ann_ingest(
    spark: SparkSession,
    source_path: str,
    schema: str,
    store_dir: str,
    checkpoint_dir: str,
    stats_sink: Callable[[DataFrame, int], None] | None = None,
    auto_compact: dict | None = None,
) -> StreamingQuery:
    """Start the streaming ingest over a file source of
    ``(vec_id, emb)`` batches into the store under ``store_dir``
    (``init_ann_centroids``), run by ``pipeline.stream_extract``
    (trigger and checkpoint contract there).

    ``stats_sink(cell_counts_df, batch_id)``, if given, receives the
    per-cell arrival counts each batch — the balance signal that tells
    an operator when the quantizer has drifted and cells need
    re-training (the streaming analog of ``ns_skew_audit``).

    ``auto_compact`` (off by default) runs the control plane's
    size-ratio policy in-band every ``every_n_batches`` (default 8)
    batches and folds the cell-partitioned delta into the base when
    crossed (keys: ``every_n_batches``, ``threshold``; see
    ``streaming/maintenance.py``)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        assigned = assign_cells(batch_df, _read_centroids(spark, store_dir))
        generations.commit_delta(store_dir, batch_id, {"vectors": assigned})
        if stats_sink is not None:
            stats_sink(
                assigned.groupBy("c_id").agg(F.count("*").alias("n")), batch_id
            )
        if auto_compact:
            compact(
                spark, "ann", {**auto_compact, "store_dir": store_dir, "mode": "auto"}, batch_id
            )

    return stream_extract(
        spark,
        source_path,
        schema,
        {"ann": process},
        checkpoint_dir,
        max_files_per_trigger=1,
        path_glob="*.parquet",
    )


def ann_store_topk(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = TOP_K,
    probes: int = IVF_PROBES,
) -> DataFrame:
    """(q_id, n_id, cos, rank): exact cosine top-k within the probed
    cells of the persisted store — row-identical to the batch IVF
    operator over the same vectors/quantizer (pinned by the parity
    test).  The store scan carries ``c_id IN (probed cells)``: a
    partition filter, so only ~probes/K of the directories are read."""
    cent = _read_centroids(spark, store_dir)
    qcells = assign_cells(
        queries.select(F.col("q_id").alias("vec_id"), "emb"), cent, keep=probes
    ).select(F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"),
             F.col("nrm").alias("q_nrm"), "c_id")
    # driver-side probe list: ≤ |queries|·probes cell ids — broadcast-
    # tiny, and inlining it as a literal IN turns the store read into a
    # pure partition-pruned scan (no join needed to skip directories)
    probe_cells = [r["c_id"] for r in qcells.select("c_id").distinct().collect()]
    store = generations.read(spark, store_dir, "vectors").where(F.col("c_id").isin(probe_cells))
    scored = store.join(F.broadcast(qcells), "c_id").select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(
            cosine_prenormed(F.col("q_emb"), F.col("emb"), F.col("q_nrm"), F.col("nrm")), 6
        ).alias("cos"),
    )
    # assignment is keep=1, so a store fed once per vector holds each
    # vec_id once; one ingested twice (a re-sent batch) sits in two
    # generations — dedupe the candidate set (bounded by the probed
    # cells, not the store) so a duplicate can never occupy two top-k
    # slots
    scored = scored.dropDuplicates(["q_id", "n_id"])
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def compact_ann_store(spark: SparkSession, store_dir: str) -> int:
    """Fold the committed delta generations into a new base (still
    cell-partitioned) — the periodic maintenance job that bounds
    small-file count as batches accumulate; it commits on top of the
    batches that land meanwhile (``generations.fold``).
    ``dropDuplicates(vec_id)`` keeps one row per vector: assignment is
    keep=1 and deterministic, so the rows of a vector ingested twice
    are identical and keeping any one is exact.  Returns the number of
    delta vectors absorbed."""
    return generations.fold(spark, store_dir, lambda _part, rows: rows.dropDuplicates(["vec_id"]))
