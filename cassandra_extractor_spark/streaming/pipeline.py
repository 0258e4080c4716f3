"""Structured Streaming extraction pipeline.

Replaces the reference's crawler-loop + Redis-offset machinery (D6,
worker.py:164-201) with the built-in streaming contract:

- ``readStream`` over the source (file source here; Kafka/Cassandra CDC
  in production) — the crawler's page loop;
- ``withWatermark`` on the event-time column — the modified-timestamp
  high-water mark;
- ``foreachBatch`` fan-out to N sinks — the per-page dispatch (D1),
  with ``batchId`` available for idempotent writes;
- ``checkpointLocation`` — Redis page/record offsets (exactly-once
  source tracking, at-least-once sinks: honest parity with the
  reference, SURVEY §7.3.3).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from cassandra_extractor_spark.sinks.fanout import fan_out


@dataclass
class KafkaSourceConfig:
    """Streaming Kafka source (the reference's crawl loop pointed at a
    topic instead of a table; K1's mirror image on the read side).

    Run recipe (needs the Kafka connector on the classpath — absent in
    this sandbox, so tests cover option compilation only)::

        spark = (SparkSession.builder
                 .config("spark.jars.packages",
                         "org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2")
                 .getOrCreate())
        stream = read_kafka_stream(spark, KafkaSourceConfig(
            bootstrap_servers="broker:9092", subscribe="events"),
            value_schema="event_id LONG, ts TIMESTAMP, payload STRING")
        stream_extract(spark, source_stream=stream, sinks={...},
                       checkpoint_dir=..., ts_col="ts")
    """

    bootstrap_servers: str
    subscribe: str  #: comma-separated topics (or pattern with subscribe_pattern)
    subscribe_pattern: bool = False
    starting_offsets: str = "earliest"
    #: per-trigger rate limit — the Kafka analogue of maxFilesPerTrigger
    max_offsets_per_trigger: int | None = None
    fail_on_data_loss: bool = True
    options: dict[str, str] = field(default_factory=dict)  # extra kafka.* opts


def compile_kafka_source_options(cfg: KafkaSourceConfig) -> dict[str, str]:
    """Pure option compilation (unit-testable without a broker)."""
    opts = {
        "kafka.bootstrap.servers": cfg.bootstrap_servers,
        ("subscribePattern" if cfg.subscribe_pattern else "subscribe"): cfg.subscribe,
        "startingOffsets": cfg.starting_offsets,
        "failOnDataLoss": str(cfg.fail_on_data_loss).lower(),
    }
    if cfg.max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(cfg.max_offsets_per_trigger)
    for k, v in cfg.options.items():
        opts[k if k.startswith("kafka.") else f"kafka.{k}"] = v
    return opts


def read_kafka_stream(
    spark: SparkSession, cfg: KafkaSourceConfig, value_schema: str | None = None
) -> DataFrame:
    """``readStream.format("kafka")`` with the source frame normalized to
    (key string, value string, topic, partition, offset, ts) — plus the
    parsed ``data`` struct columns flattened when ``value_schema`` is
    given (JSON payloads, the reference's record shape)."""
    reader = spark.readStream.format("kafka")
    for k, v in compile_kafka_source_options(cfg).items():
        reader = reader.option(k, v)
    raw = reader.load()
    stream = raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("kafka_ts"),
    )
    if value_schema is not None:
        stream = stream.select(
            "key", "topic", "partition", "offset", "kafka_ts",
            F.from_json("value", value_schema).alias("data"),
        ).select("key", "topic", "partition", "offset", "kafka_ts", "data.*")
    return stream


def stream_extract(
    spark: SparkSession,
    source_path: str | None = None,
    schema=None,
    sinks: dict[str, Callable[[DataFrame, int], None]] | None = None,
    checkpoint_dir: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    ts_col: str | None = None,
    watermark_delay: str = "1 minute",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    path_glob: str | None = None,
    source_stream: DataFrame | None = None,
) -> StreamingQuery:
    """Run a checkpointed streaming extraction.

    Source: either the parquet file source (``source_path`` + ``schema``)
    or ANY pre-built streaming frame via ``source_stream`` — e.g.
    ``read_kafka_stream`` — so every source shares the same
    watermark/transform/fan-out/checkpoint contract.

    ``available_now=True`` drains everything currently available then
    stops (batch-incremental mode — how tests drive it);
    ``max_files_per_trigger`` is the rate limit replacing the
    reference's memory-based crawl pausing (D3: Spark backpressure is
    declarative, datacrawler.py:211-242 becomes one option).
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
        stream = stream.withWatermark(ts_col, watermark_delay)
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

    writer = (
        stream.writeStream.foreachBatch(dispatch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
