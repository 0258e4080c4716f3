"""Structured Streaming extraction pipeline: the package's one
streaming driver.

Replaces the reference's crawler-loop + Redis-offset machinery (D6,
worker.py:164-201) with the built-in streaming contract:

- ``readStream`` over a parquet file source, or any streaming frame the
  caller builds — the crawler's page loop;
- ``withWatermark`` on the event-time column — the modified-timestamp
  high-water mark;
- ``foreachBatch`` fan-out to N sinks — the per-page dispatch (D1),
  with ``batchId`` available for idempotent writes;
- ``checkpointLocation`` — Redis page/record offsets (exactly-once
  source tracking, at-least-once sinks: honest parity with the
  reference, SURVEY §7.3.3).

Its callers are the service's streaming mode (``app.py``) and the four
store ingests: ``stream_cdc_apply``, ``stream_posting_ingest``,
``stream_ann_ingest`` and ``stream_incremental_dedup``.  Each ingest
passes its ``process(batch_df, batch_id)`` as the one sink, which
``fan_out`` calls directly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cassandra_extractor_spark.sinks.fanout import fan_out


def stream_extract(
    spark: SparkSession,
    source_path: str | None = None,
    schema=None,
    sinks: dict[str, Callable[[DataFrame, int], None]] | None = None,
    checkpoint_dir: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    ts_col: str | None = None,
    max_files_per_trigger: int | None = None,
    path_glob: str | None = None,
    source_stream: DataFrame | None = None,
) -> StreamingQuery:
    """Run a checkpointed streaming extraction.

    Source: either the parquet file source (``source_path`` + ``schema``)
    or any pre-built streaming frame via ``source_stream``, so every
    source shares the same watermark/transform/fan-out/checkpoint
    contract.

    The query drains everything currently available, then stops (an
    ``availableNow`` trigger: batch-incremental mode), and a restart
    with the same ``checkpoint_dir`` resumes after the last committed
    batch.  With ``ts_col`` the stream carries a one-minute event-time
    watermark on that column.  ``max_files_per_trigger`` is the rate
    limit replacing the reference's memory-based crawl pausing (D3:
    Spark backpressure is declarative, datacrawler.py:211-242 becomes
    one option).
    """
    if sinks is None or checkpoint_dir is None:
        raise ValueError("sinks and checkpoint_dir are required")
    if source_stream is not None:
        stream = source_stream
    else:
        if source_path is None or schema is None:
            raise ValueError("pass source_path+schema or source_stream")
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        if path_glob is not None:
            # the file source requires a directory; a glob filter selects
            # specific files inside it
            reader = reader.option("pathGlobFilter", path_glob)
        stream = reader.parquet(source_path)
    if ts_col is not None:
        stream = stream.withWatermark(ts_col, "1 minute")
    if transform is not None:
        stream = transform(stream)

    def dispatch(batch_df: DataFrame, batch_id: int) -> None:
        # the batch fan-out, each sink bound to this batch id; any sink
        # error fails the micro-batch so it replays (at-least-once)
        results = fan_out(
            batch_df,
            {name: (lambda d, w=write: w(d, batch_id)) for name, write in sinks.items()},
        )
        errors = [exc for exc in results.values() if exc is not None]
        if errors:
            raise errors[0]

    return (
        stream.writeStream.foreachBatch(dispatch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
