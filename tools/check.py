"""Driver-mimic correctness harness: Spark query vs DuckDB oracle.

Runs every registered query both ways at a given sf_dir, canonicalizes
(sort columns by name, round floats, stringify), and compares row count,
schema shape, and an order-insensitive value hash — approximating the
driver's CORRECTNESS_r{N}.json gate so regressions surface locally.

Both sides are fetched through pandas (Spark ``toPandas()``, DuckDB
``fetchdf()``) to reproduce the driver's canonicalization exactly: a
DuckDB HUGEINT (e.g. an uncast ``SUM(BIGINT)``) becomes float64 through
pandas and renders ``123.0`` where Spark renders ``123`` — a hash
mismatch the old ``fetchall()`` path silently hid (round-2 verdict).

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

import duckdb
import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def canon_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, np.ndarray):
        return "[" + ",".join(canon_cell(x) for x in v.tolist()) + "]"
    if isinstance(v, np.generic):  # numpy scalar → native (repr differs!)
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def pandas_rows(pdf) -> list[tuple]:
    """Rows via the pandas path, dtype-sensitively rendered.

    pandas renders a NULL in an int column — or a DuckDB HUGEINT — by
    upcasting to float64; we deliberately do NOT undo that upcast (the
    point is to fail locally when the driver would).  We DO normalize
    ``datetime.date`` object columns (Spark ``toPandas`` of DATE) to
    datetime64, because the driver routes both sides through the same
    pandas pipeline where DATE becomes datetime64 on both — date-vs-
    midnight-timestamp is not a divergence the driver sees.
    """
    import datetime as _dt

    import pandas as pd

    for c in pdf.columns:
        if pdf[c].dtype == object:
            probe = pdf[c].dropna()
            if len(probe) and isinstance(probe.iloc[0], _dt.date) and not isinstance(
                probe.iloc[0], _dt.datetime
            ):
                pdf[c] = pd.to_datetime(pdf[c])
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def canon_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from cassandra_extractor_spark.session import get_spark
    from cassandra_extractor_spark.sources.catalog import TABLES

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            srows = pandas_rows(df.toPandas())
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows (no oracle) [{spark_s:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = pandas_rows(res.fetchdf())
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle error {type(e).__name__}: {e}")
            continue
        sn, sh = canon_hash(scols, srows)
        on, oh = canon_hash(ocols, orows)
        ok = sn == on and sh == oh and sorted(scols) == sorted(ocols)
        status = "PASS" if ok else "FAIL"
        if not ok:
            failures.append(name)
        print(f"{status} {name}: spark {sn} rows h={sh} | oracle {on} rows h={oh} [{spark_s:.1f}s]")
        if not ok and sorted(scols) != sorted(ocols):
            print(f"  cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if not ok and sn == on and sorted(scols) == sorted(ocols):
            # show first differing canonical line
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
            ls = sorted("\x1f".join(canon_cell(r[i]) for i in order_s) for r in srows)
            lo = sorted("\x1f".join(canon_cell(r[i]) for i in order_o) for r in orows)
            for a, b in zip(ls, lo):
                if a != b:
                    print(f"  spark : {a[:200]}")
                    print(f"  oracle: {b[:200]}")
                    break
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
