"""JDBC/PostgreSQL sink (reference K3: ``rdsworker.py`` / ``rdsdatabase.py``).

The reference inserts row-by-row from a SQL template and auto-creates
Postgres LIST partitions for unseen values of a partition column
(rdsworker.py:29-36, rdsdatabase.py:63-128).  Spark-first: bulk
``df.write.jdbc`` append (batched inserts, one connection per task),
with the partition-DDL pre-pass as a driver-side step — the one piece
that is genuinely metadata work, not dataflow.

Scale note: ``SELECT DISTINCT partition_col`` is a map-side-combined
aggregation whose result is one row per partition value (small by
construction — Postgres LIST partitions number in the hundreds);
collecting it on the driver is correct, not a scalability bug.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from cassandra_extractor_spark.functions.tablespecs import nested_to_json


@dataclass
class JdbcSinkConfig:
    url: str  # jdbc:postgresql://host:port/db
    table: str
    mode: str = "append"
    partition_column: str | None = None  # auto-create LIST partitions when set
    batch_size: int = 10_000
    properties: dict[str, str] = field(default_factory=dict)


def partition_ddl(table: str, partition_column: str, values: list) -> list[str]:
    """DDL for missing LIST partitions (reference
    rdsdatabase.py:93-119's CREATE TABLE ... PARTITION OF).

    Pure function → unit-testable without a database.

    Naming scheme: ``{table}_p_{slug≤40}_{md5[:8]}``.  The slug is
    truncated BEFORE the digest is appended so the digest always
    survives Postgres's 63-char identifier limit — silent truncation
    after the digest would cut it off and reintroduce the
    sanitized-collision bug the digest exists to prevent.  NOTE: the
    truncation changed partition names for values whose slug exceeded
    40 chars; databases partitioned under the pre-truncation names need
    a one-time ALTER ... RENAME before this DDL runs against them
    (a new CREATE for the same value would raise 'partition would
    overlap').
    """
    stmts = []
    for v in values:
        safe = str(v).replace("'", "''")
        # identifier from a DATA value: whitelist, never blacklist —
        # anything outside [a-z0-9_] (quotes, semicolons, parens, dots)
        # would otherwise flow into the DDL as raw SQL.  The hash suffix
        # keeps sanitized collisions distinct ('v1.x' vs 'v1_x' both
        # whitelist to v1_x; without it the second CREATE .. IF NOT
        # EXISTS silently no-ops and its rows have no partition)
        digest = hashlib.md5(str(v).encode()).hexdigest()[:8]
        slug = re.sub(r"[^a-z0-9_]", "_", str(v).lower())[:40]
        part_name = f"{table}_p_{slug}_{digest}"
        stmts.append(
            f"CREATE TABLE IF NOT EXISTS {part_name} PARTITION OF {table} "
            f"FOR VALUES IN ('{safe}')"
        )
    return stmts


def distinct_partition_values(df: DataFrame, partition_column: str) -> list:
    """Driver-side pre-pass input: the distinct partition keys in this
    batch (map-side-combined aggregation, tiny result)."""
    return [
        r[0]
        for r in df.select(partition_column).where(F.col(partition_column).isNotNull()).distinct().collect()
    ]


def ensure_partitions(df: DataFrame, cfg: JdbcSinkConfig, execute) -> list[str]:
    """Run the partition-DDL pre-pass through ``execute`` (a callable
    taking one SQL string — JDBC statement, psycopg2 cursor, or a test
    recorder).  Returns the statements issued."""
    if not cfg.partition_column:
        return []
    values = distinct_partition_values(df, cfg.partition_column)
    stmts = partition_ddl(cfg.table, cfg.partition_column, values)
    for s in stmts:
        execute(s)
    return stmts


def write_jdbc(df: DataFrame, cfg: JdbcSinkConfig, ddl_execute=None) -> None:
    """Bulk JDBC write; optional partition pre-pass first.  Nested
    columns (struct/array/map/VARIANT) are written as JSON text."""
    if cfg.partition_column and ddl_execute is not None:
        ensure_partitions(df, cfg, ddl_execute)
    props = {"batchsize": str(cfg.batch_size), **cfg.properties}
    try:
        nested_to_json(df).write.jdbc(cfg.url, cfg.table, mode=cfg.mode, properties=props)
    except Exception as exc:  # pragma: no cover - no JDBC driver in tests
        # setup hint only for the missing-driver case; real write errors
        # (auth, constraint violations, connectivity) propagate as-is
        msg = str(exc)
        if "ClassNotFoundException" in msg or "No suitable driver" in msg:
            raise RuntimeError(
                "JDBC sink unavailable: add the PostgreSQL JDBC driver jar to "
                "spark.jars and verify the connection URL."
            ) from exc
        raise
