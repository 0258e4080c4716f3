"""Bucketed managed tables for co-located joins, and salted aggregation.

``write_bucketed`` persists a table bucketed by its join key, so
repeated joins on that key (read back with ``spark.table``) shuffle
NEITHER side: SortMergeJoin with no Exchange, asserted in tests.  This
is how a fact table joined daily against the same dimension key should
live.  ``drop_managed_table`` removes such a table with its warehouse
directory.

``salted_aggregate`` is the explicit skew fallback for a group-by: a
hot key's rows spread over ``salt_n`` partial groups before the final
merge (the join form of salting is the registry query
``q88_salted_join``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F


def _warehouse_location(spark: SparkSession, table_name: str) -> str | None:
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    wh = wh[len("file:") :] if wh.startswith("file:") else wh
    return os.path.join(wh, table_name.lower()) if wh else None


def drop_managed_table(spark: SparkSession, table_name: str) -> None:
    """Drop an (unqualified) managed table AND its warehouse directory,
    also when this session's catalog has no such table.  Only for names
    the caller owns: the catalog is per process, so another live
    session's table of the same name looks exactly like an orphan."""
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
    ``_SUCCESS`` marker is what a run killed mid-write leaves behind;
    it is removed first, else ``saveAsTable`` fails with
    LOCATION_ALREADY_EXISTS.  A complete location is left alone (it may
    be another live session's table) and the write still fails."""
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


def salted_aggregate(
    df: DataFrame,
    key: str,
    aggs: dict[str, str],
    salt_n: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed group keys: partial aggregate on
    (key, salt), then final on key.  ``aggs`` maps column → one of
    sum/count/min/max (re-aggregable functions only)."""
    salted = df.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_n)).cast("int")
    )
    partial_exprs, final_exprs = [], []
    for col, fn in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(col).alias(f"__p_{col}"))
            final_exprs.append(F.sum(f"__p_{col}").alias(f"{fn}_{col}"))
        elif fn in ("sum", "min", "max"):
            partial_exprs.append(getattr(F, fn)(col).alias(f"__p_{col}"))
            final_exprs.append(getattr(F, fn)(f"__p_{col}").alias(f"{fn}_{col}"))
        else:
            raise ValueError(f"{fn} is not re-aggregable; use sum/count/min/max")
    partial = salted.groupBy(key, "__salt").agg(*partial_exprs)
    return partial.groupBy(key).agg(*final_exprs)
