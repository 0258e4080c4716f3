"""cassandra_extractor_spark — a PySpark-native analytics/extraction engine.

A from-scratch re-expression of the capability surface of
``awaxis/cassandra-extractor`` (surveyed in ``SURVEY.md``): paged
Cassandra table extraction with per-row schema transforms fanned out to
Kafka / S3 / JDBC / JSONL sinks — rebuilt on Spark DataFrames so that
Catalyst/Tungsten (pushdown, pruning, AQE, codegen) do the physical
planning, plus the full relational query surface (joins, aggregates,
windows, set ops) and large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, binary payload metadata).

Design stance (SURVEY §7.0): DataFrame/SQL first, no RDDs, no custom
Catalyst rules; Python stays out of the hot path (built-in functions >
pandas UDF > never row-at-a-time UDF).
"""

from cassandra_extractor_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
