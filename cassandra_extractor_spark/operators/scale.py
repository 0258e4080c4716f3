"""Scale techniques: bucketed co-located joins and salted skew joins.

These are the knobs a 100 TB deployment turns when AQE alone isn't
enough:

- ``write_bucketed`` / ``read_bucketed``: persist a table bucketed by
  its join key so repeated joins on that key shuffle NEITHER side
  (SortMergeJoin with no Exchange — asserted in tests).  This is how a
  fact table joined daily against the same dimension key should live.
- ``salted_join``: explode a hot key into ``salt_n`` sub-keys so one
  skewed key's rows spread over many tasks instead of one straggler.
  AQE's skew-join splitting handles sort-merge skew automatically;
  salting is the explicit fallback for aggregations and for joins AQE
  can't split (e.g. bucketed inputs).
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


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def write_layout_optimized(
    df: DataFrame,
    path: str,
    key: str,
    num_files: int = 32,
    extra_sort: list[str] | None = None,
) -> None:
    """Write parquet range-partitioned + sorted by ``key`` so filters on
    the key prune whole files (min/max footer stats) and row groups.

    The 100 TB layout move: a fact table queried by key range should be
    written this way once, making every later scan skip all but the
    matching key range — verified in tests by counting the distinct
    input files a filtered scan actually touches.
    """
    (
        df.repartitionByRange(num_files, key)
        .sortWithinPartitions(key, *(extra_sort or []))
        .write.mode("overwrite")
        .parquet(path)
    )


def files_touched(df: DataFrame) -> int:
    """Distinct input files a (filtered) scan reads — the observable
    effect of file pruning."""
    return df.select(F.input_file_name().alias("f")).distinct().count()


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_n: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi join: the (smaller) right side is replicated
    ``salt_n`` times, the left side spreads uniformly over the salts,
    and the join key becomes (key, salt) — a hot key's rows land on
    ``salt_n`` tasks instead of one.

    Result is row-identical to ``left.join(right, key, how)`` for
    inner/left joins.  Right/full-outer would multiply unmatched right
    rows by ``salt_n`` (each replica is unmatched independently), so
    those modes are rejected.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, not {how!r}")
    # salt from a per-row counter, NOT a row hash: byte-identical rows
    # (the common real-world hot-key shape) must still spread
    salted_left = left.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_n)).cast("int")
    )
    salted_right = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
    )
    return (
        salted_left.join(salted_right, [key, "__salt"], how).drop("__salt")
    )


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
