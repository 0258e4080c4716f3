"""Extraction spec: the reference's per-table job config as a logical
plan declaration.

Mirrors the capability surface of the reference's ``CassandraConfig`` +
table overlays (app.py:296-316,365-540): projection (P1), filter (P2 —
SQL predicates; Solr syntax is documented non-support, SURVEY §7.3.5),
sort (O1), page/row limit (S6/O2), table-spec transforms (T1-T10), and
the incremental HWM column (P3).  ``build`` compiles the whole spec
into ONE DataFrame lineage — Catalyst sees projection+filter first, so
pushdown reaches the scan regardless of spec ordering.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from cassandra_extractor_spark.functions.tablespecs import TableSpec, apply_table_spec
from cassandra_extractor_spark.sources.catalog import load_table, read_table
from cassandra_extractor_spark.streaming.hwm import HighWaterMarkStore, plan_incremental


@dataclass
class ExtractionSpec:
    table: str
    columns: list[str] | None = None  # None = '*' (app.py:448)
    filter: str | None = None  # SQL predicate (Solr-filter analogue)
    solr_filter: str | None = None  # Solr-subset syntax (translated, §7.3.5)
    solr_default_field: str | None = None  # bare full-text terms → CONTAINS here
    sort: list[str] = field(default_factory=list)  # O1
    limit: int | None = None  # row cap (S6: the reference's pages × fetch size)
    table_spec: dict[str, Any] | None = None  # T1-T10 transforms
    hwm_column: str | None = None  # P3 incremental column
    #: set by build() when an HWM store is used; run AFTER sinks succeed
    _hwm_commit: Any = None

    def build(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        hwm_store: HighWaterMarkStore | None = None,
        source_df: DataFrame | None = None,
    ) -> DataFrame:
        self._hwm_commit = None  # never carry a stale commit across builds
        if self.hwm_column and self.limit is not None:
            raise ValueError(
                "limit cannot be combined with hwm_column: the high-water mark "
                "is taken over the whole window, so rows past the limit would be lost"
            )
        if source_df is not None:
            df = source_df
        elif self.hwm_column:
            # each incremental run lists the table afresh: load_table's
            # memoized plan pins the listing of its first call
            df = read_table(spark, self.table, sf_dir)
        else:
            df = load_table(spark, self.table, sf_dir)
        if self.columns:
            df = df.select(*self.columns)
        if self.filter:
            df = df.where(self.filter)
        if self.solr_filter:
            from cassandra_extractor_spark.functions.solr import solr_to_sql

            df = df.where(solr_to_sql(self.solr_filter, self.solr_default_field))
        if self.hwm_column and hwm_store is not None:
            # mark commit is deferred: the caller runs _hwm_commit only
            # after every sink write succeeded (crash-safe window)
            df, self._hwm_commit = plan_incremental(
                df, self.hwm_column, self.table, hwm_store
            )
        if self.table_spec:
            df = apply_table_spec(df, self.table_spec)
        if self.sort:
            df = df.orderBy(*[F.expr(s) for s in self.sort])
        if self.limit is not None:
            df = df.limit(self.limit)
        return df
