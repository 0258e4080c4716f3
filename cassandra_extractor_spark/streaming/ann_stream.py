"""Streaming ANN index maintenance: arriving embedding batches are
assigned to their IVF cell against the broadcast coarse quantizer and
appended as CELL-PARTITIONED delta files; queries probe only their
nearest cells, so the serving read is partition-pruned to ~probes/K of
the store no matter how many batches have been ingested.

This is the vector twin of the streaming dedup gate
(``streaming/dedup_stream.py``): same base-plus-delta store discipline,
same overwrite-own-``batch=<id>`` replay contract, same periodic
compaction.  Reference parity: the extractor's incremental crawl loop
(`ref:datacrawler.py` high-water-mark paging) applied to vector
ingest — only new work is ever processed; the corpus is never
re-assigned or re-shuffled.

100 TB shape:

- the coarse quantizer (centroid set) is tiny and broadcast — batch
  assignment is a per-row argmax, no corpus-side shuffle;
- the store is laid out ``…/c_id=<cell>/`` so a query touching
  ``probes`` cells reads exactly those directories (partition pruning,
  plan-asserted in the tests) — the on-disk twin of the in-memory
  inverted file;
- replay safety: foreachBatch may re-run after a crash; each batch
  OVERWRITES its own ``batch=<id>`` directory, so a half-written
  attempt can never duplicate vectors;
- compaction folds delta batches into the consolidated base (still
  cell-partitioned) between query restarts, bounding small-file count.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from cassandra_extractor_spark.operators.similarity import (
    TOP_K,
    IVF_PROBES,
    cosine_defined,
    cosine_prenormed,
    norm,
)

_STORE_COLS = ["vec_id", "emb", "nrm", "c_id"]


def init_ann_centroids(spark: SparkSession, centroids: DataFrame, store_dir: str) -> None:
    """Persist the fixed coarse quantizer ``(c_id, c_emb)`` once.
    Zero-norm centroids are rejected up front (a cell whose centroid
    has no direction can never be ranked deterministically)."""
    c = centroids.select(
        F.col("c_id").cast("long").alias("c_id"),
        F.col("c_emb").cast("array<double>").alias("c_emb"),
    ).withColumn("c_nrm", norm(F.col("c_emb")))
    bad = c.where(~cosine_defined(F.col("c_nrm"))).count()
    if bad:
        raise ValueError(f"{bad} zero-norm or NaN centroid(s) — fix the quantizer first")
    c.write.mode("overwrite").parquet(f"{store_dir}/centroids")


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
    max_files_per_trigger: int = 1,
    path_glob: str = "*.parquet",
    auto_compact: dict | None = None,
) -> StreamingQuery:
    """Start the streaming ingest over a file source of
    ``(vec_id, emb)`` batches.  Drains everything available
    (``availableNow``) then stops; restarting with the same
    ``checkpoint_dir`` resumes exactly after the last committed batch.

    ``stats_sink(cell_counts_df, batch_id)``, if given, receives the
    per-cell arrival counts each batch — the balance signal that tells
    an operator when the quantizer has drifted and cells need
    re-training (the streaming analog of ``ns_skew_audit``).

    ``auto_compact`` (off by default) runs the control plane's
    size-ratio policy in-band every ``every_n_batches`` (default 8)
    batches and folds the cell-partitioned delta into the base when
    crossed (keys: ``every_n_batches``, ``threshold``; see
    ``streaming/maintenance.py`` for the mid-stream safety argument)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", path_glob)
        .parquet(source_path)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cent = _read_centroids(spark, store_dir)
        assigned = assign_cells(batch_df, cent)
        (
            assigned.write.mode("overwrite")
            .partitionBy("c_id")
            .parquet(f"{store_dir}/delta/batch={batch_id}")
        )
        if stats_sink is not None:
            stats_sink(
                assigned.groupBy("c_id").agg(F.count("*").alias("n")), batch_id
            )
        from cassandra_extractor_spark.streaming.maintenance import (
            batch_due,
            maybe_compact_ann,
        )

        if batch_due(auto_compact, batch_id):
            maybe_compact_ann(
                spark, store_dir, threshold=float(auto_compact.get("threshold", 0.2))
            )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Base ∪ delta, both cell-partitioned; either side may not exist
    yet.  ``c_id`` is a PARTITION column in both layouts, so a probe
    filter prunes directories before any file is opened."""
    parts = []
    for sub in ("base", "delta"):
        try:
            parts.append(spark.read.parquet(f"{store_dir}/{sub}").select(*_STORE_COLS))
        except AnalysisException:
            pass
    if not parts:
        raise ValueError(f"empty ANN store at {store_dir}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    store = _read_store(spark, store_dir).where(F.col("c_id").isin(probe_cells))
    scored = store.join(F.broadcast(qcells), "c_id").select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(
            cosine_prenormed(F.col("q_emb"), F.col("emb"), F.col("q_nrm"), F.col("nrm")), 6
        ).alias("cos"),
    )
    # assignment is keep=1, so a healthy store holds each vec_id once;
    # the one legal duplicate source is a crash between compaction's
    # two phases (vector in base AND delta) — dedupe the candidate set
    # (bounded by the probed cells, not the store) so a duplicate can
    # never occupy two top-k slots
    scored = scored.dropDuplicates(["q_id", "n_id"])
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def compact_ann_store(spark: SparkSession, store_dir: str) -> int:
    """Fold streamed delta batches into the consolidated base (still
    cell-partitioned) — the periodic maintenance job that bounds
    small-file count as batches accumulate.  Two-phase: the merged
    store is materialized BEFORE the base overwrite (the plan must not
    read the directory it is rewriting), the delta is removed only
    after the commit; a crash in between leaves duplicate vectors in
    base∪delta, which the ranked read tolerates (``ann_store_topk``
    dedupes candidates on (q_id, n_id) before ranking).  Safe between
    restarts or in-band from the owning query's serial ``foreachBatch``
    hook (``auto_compact``; safety argument in
    ``streaming/maintenance.py``) — only external concurrent invocation
    is forbidden.  Returns the number of delta vectors absorbed."""
    import shutil

    try:
        delta = spark.read.parquet(f"{store_dir}/delta").select(*_STORE_COLS)
    except AnalysisException:
        return 0
    absorbed = delta.count()
    if absorbed == 0:
        return 0
    # dropDuplicates(vec_id) makes the fold SELF-HEALING across the
    # crash window: re-absorbing a delta whose rows already reached the
    # base (fold committed, delta removal crashed, batch replayed)
    # collapses the duplicates instead of carrying them in the base
    # forever (assignment is keep=1 and deterministic, so duplicate
    # vec_id rows are identical — keeping any one is exact)
    merged = (
        _read_store(spark, store_dir)
        .dropDuplicates(["vec_id"])
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").partitionBy("c_id").parquet(f"{store_dir}/base")
    shutil.rmtree(f"{store_dir}/delta", ignore_errors=True)
    return absorbed
