from cassandra_extractor_spark.streaming.hwm import HighWaterMarkStore  # noqa: F401
