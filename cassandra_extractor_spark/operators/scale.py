"""Bucketed managed tables for co-located joins.

``write_bucketed`` persists a table bucketed by its join key, so
repeated joins on that key (read back with ``spark.table``) shuffle
NEITHER side: SortMergeJoin with no Exchange, asserted in tests.  This
is how a fact table joined daily against the same dimension key should
live.  ``drop_managed_table`` removes such a table with its warehouse
directory.  Salting a skewed join key is the registry query
``q88_salted_join``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def _warehouse_location(spark: SparkSession, table_name: str) -> str | None:
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    wh = wh[len("file:") :] if wh.startswith("file:") else wh
    return os.path.join(wh, table_name.lower()) if wh else None


def drop_managed_table(spark: SparkSession, table_name: str) -> None:
    """Drop an (unqualified) managed table AND its warehouse directory,
    also when this session's catalog has no such table.  Only for names
    the caller owns: the catalog is per process, so in a warehouse the
    caller shares (``session.get_spark`` gives each local session a
    private one unless told otherwise) another live session's table of
    the same name looks exactly like an orphan."""
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    loc = _warehouse_location(spark, table_name)
    if loc:
        shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    A location the catalog does not know and that holds no
    ``_SUCCESS`` marker is what a write that failed midway leaves
    behind; it is removed first, else ``saveAsTable`` fails with
    LOCATION_ALREADY_EXISTS.  A complete location is left alone and the
    write still fails: in a warehouse the caller shares between
    sessions it may be another live session's table (a private
    warehouse from ``session.get_spark`` holds only this process's)."""
    spark = df.sparkSession
    loc = _warehouse_location(spark, table_name)
    if (
        loc
        and os.path.isdir(loc)
        and not os.path.exists(os.path.join(loc, "_SUCCESS"))
        and not spark.catalog.tableExists(table_name)
    ):
        shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
