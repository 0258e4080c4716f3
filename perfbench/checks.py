"""Output checks: each sink's rows against an independent DuckDB
computation over the generated inputs.

Two row sets match when they have the same row count and the same
order-insensitive hash: the sum of per-row 64-bit hashes, which a lost,
duplicated or altered row changes.  The benchmark runs every check
outside its timed window.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb


@dataclass(frozen=True)
class Fingerprint:
    rows: int
    digest: int


def fingerprint(con: duckdb.DuckDBPyConnection, sql: str, cols: list[str]) -> Fingerprint:
    """Row count and order-insensitive hash of ``cols`` over ``sql``."""
    rows, digest = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(cols)})::HUGEINT), 0) FROM ({sql})"
    ).fetchone()
    return Fingerprint(int(rows), int(digest))


def compare(con: duckdb.DuckDBPyConnection, name: str, expected: Fingerprint, actual_sql: str,
            cols: list[str]) -> str | None:
    """None when ``actual_sql`` gives the expected rows, else a message."""
    got = fingerprint(con, actual_sql, cols)
    if got == expected:
        return None
    return (f"{name}: expected {expected.rows} rows (hash {expected.digest}), "
            f"got {got.rows} (hash {got.digest})")


def json_lines(glob: str) -> str:
    """One JSON text column ``json`` per line of the files at ``glob``."""
    return f"read_ndjson_objects('{glob}')"


# -- extract_fanout: the table spec applied to events ----------------------

EVENT_COLS = ["id", "event_type", "value", "k", "ts"]
S3_COLS = [*EVENT_COLS, "key"]


def expected_events_sql(events_parquet: str) -> str:
    """The table spec in SQL: event_id→id, props parsed, ts→epoch
    millis, user_id removed; plus the S3 key template ``events/%(id)s.json``."""
    return (
        "SELECT event_id AS id, event_type, value, "
        "CAST(json_extract(props, '$.k') AS BIGINT) AS k, epoch_ms(ts) AS ts, "
        "'events/' || event_id || '.json' AS key "
        f"FROM read_parquet('{events_parquet}')"
    )


def events_from_json_sql(relation: str, column: str = "json", key: str = "NULL") -> str:
    """The event columns out of a JSON-text ``column`` of ``relation``."""
    return (
        f"SELECT CAST(json_extract({column}, '$.id') AS BIGINT) AS id, "
        f"json_extract_string({column}, '$.event_type') AS event_type, "
        f"CAST(json_extract({column}, '$.value') AS DOUBLE) AS value, "
        f"CAST(json_extract({column}, '$.props.k') AS BIGINT) AS k, "
        f"CAST(json_extract({column}, '$.ts') AS BIGINT) AS ts, {key} AS key FROM {relation}"
    )


def s3_events_sql(prefix: str) -> str:
    """Bulk S3 objects are JSON lines of ``{key, body}``."""
    rel = (f"(SELECT json_extract_string(json, '$.key') AS key, "
           f"json_extract_string(json, '$.body') AS body FROM {json_lines(prefix + '/*.json')})")
    return events_from_json_sql(rel, "body", "key")


# -- incremental_cdc -------------------------------------------------------

CHANGE_COLS = ["cid", "o_orderkey", "op"]


def window_sql(jsonl_dir: str) -> str:
    """Change rows one incremental run delivered to its JSONL sink."""
    return (
        "SELECT CAST(json_extract(json, '$.cid') AS BIGINT) AS cid, "
        "CAST(json_extract(json, '$.o_orderkey') AS BIGINT) AS o_orderkey, "
        f"json_extract_string(json, '$.op') AS op FROM {json_lines(jsonl_dir + '/*.json')}"
    )


def slice_sql(slice_parquet: str) -> str:
    return f"SELECT cid, o_orderkey, op FROM read_parquet('{slice_parquet}')"


VIEW_COLS = ["o_orderkey", "cid", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
             "o_orderpriority"]
#: hashed view columns; timestamps compared without a time zone
VIEW_CAST_COLS = [c if c != "o_orderdate" else "CAST(o_orderdate AS TIMESTAMP)" for c in VIEW_COLS]


def expected_view_sql(base_parquet: str, slices_glob: str) -> str:
    """Last writer wins per key over the base and every landed slice;
    deleted keys leave the view."""
    return (
        f"SELECT {', '.join(VIEW_COLS)} FROM ("
        "SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY ts DESC) AS rn FROM ("
        f"SELECT * FROM read_parquet('{base_parquet}') UNION ALL BY NAME "
        f"SELECT * FROM read_parquet('{slices_glob}'))) WHERE rn = 1 AND op <> 'D'"
    )
