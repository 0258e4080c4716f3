"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 for the driver's DuckDB-oracle correctness gate at sf0.01.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: the checkout this file lives in: its package is imported, never
#: another copy that happens to be installed or on the path
_ROOT = str(Path(__file__).resolve().parent)
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: multi-way join revenue rollup (TPC-H Q5 shape) at
    sf0.001 — exercises scan, broadcast join, shuffle agg, sort."""
    from cassandra_extractor_spark.operators.relational import q19_multiway_join

    return q19_multiway_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from cassandra_extractor_spark.registry import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from cassandra_extractor_spark.registry import ORACLES

    return dict(ORACLES)
