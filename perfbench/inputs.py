"""Seeded input generators.  The same seed gives byte-identical inputs;
the program under test sees only the files written here.

Shapes follow the catalog tables the engine is tested on (events and
orders at sf0.1): the same columns, types and value ranges.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
ORDER_COLUMNS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
#: change-slice mix: share of updates, inserts, deletes
CHANGE_MIX = (0.80, 0.15, 0.05)
_US = 1_000_000


def _write(table: pa.Table, path: str) -> None:
    """Write one single-row-group parquet file, atomically visible."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def events_table(seed: int, n: int = 100_000) -> pa.Table:
    """``events`` as in the catalog: time-ordered event stream with a
    JSON ``props`` column.  Event times have a non-zero sub-second part:
    a whole-second timestamp renders without a fraction and the
    ``%Y-%m-%d %H:%M:%S.%f`` table-spec conversion rejects it
    (CANNOT_PARSE_TIMESTAMP), which would fail the operation."""
    rng = np.random.default_rng([seed, 1])
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(26.0 * _US, n).astype(np.int64) + 1
    ts = start + np.cumsum(gaps)
    ts += (ts % _US == 0)  # see docstring
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_events(sf_dir: str, seed: int, n: int = 100_000) -> str:
    path = os.path.join(sf_dir, "events.parquet")
    _write(events_table(seed, n), path)
    return path


def _order_payload(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    days = rng.integers(0, 2404, n) + day0  # through 2001-08-01
    return {
        "o_custkey": pa.array(rng.integers(0, 15_000, n, dtype=np.int64)),
        "o_orderstatus": pa.array(ORDER_STATUS[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array(days.astype("datetime64[D]").astype("datetime64[us]")),
        "o_orderpriority": pa.array(ORDER_PRIORITY[rng.integers(0, 5, n)]),
    }


class OrderChanges:
    """``orders`` base snapshot plus an endless, seeded change log.

    Every row carries the CDC columns the store needs: ``op`` (I/U/D),
    ``ts`` (change time, strictly increasing across the whole log, the
    base at the epoch) and ``cid`` (unique change id, null in the base).
    Slice ``k`` depends only on the seed and ``k``: slices are drawn in
    order from one generator.
    """

    def __init__(self, seed: int, base_rows: int = 150_000, slice_rows: int = 5_000):
        self.seed = seed
        self.base_rows = base_rows
        self.slice_rows = slice_rows
        self._rng = np.random.default_rng([seed, 2])
        self._next_key = base_rows
        self._next_cid = 0
        self._t0 = np.datetime64("2024-02-01T00:00:00", "us").astype(np.int64)

    def base(self) -> pa.Table:
        rng = np.random.default_rng([self.seed, 3])
        n = self.base_rows
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
                "op": pa.array(np.full(n, "I")),
                "ts": pa.array(np.zeros(n, dtype="datetime64[us]")),
                "cid": pa.nulls(n, pa.int64()),
                **_order_payload(rng, n),
            }
        )

    def next_slice(self) -> pa.Table:
        rng, n = self._rng, self.slice_rows
        u = rng.random(n)
        ops = np.where(u < CHANGE_MIX[0], "U", np.where(u < CHANGE_MIX[0] + CHANGE_MIX[1], "I", "D"))
        keys = rng.integers(0, self._next_key, n, dtype=np.int64)
        inserts = ops == "I"
        keys[inserts] = self._next_key + np.arange(inserts.sum(), dtype=np.int64)
        self._next_key += int(inserts.sum())
        cid = self._next_cid + np.arange(n, dtype=np.int64)
        self._next_cid += n
        # 1 ms apart plus sub-ms jitter: unique and increasing across slices
        ts = self._t0 + cid * 1000 + rng.integers(1, 1000, n)
        payload = _order_payload(rng, n)
        deletes = pa.array(ops == "D")
        payload = {
            c: pc.if_else(deletes, pa.scalar(None, a.type), a) for c, a in payload.items()
        }
        return pa.table(
            {
                "o_orderkey": pa.array(keys),
                "op": pa.array(ops),
                "ts": pa.array(ts.astype("datetime64[us]")),
                "cid": pa.array(cid),
                **payload,
            }
        )


def land(table: pa.Table, path: str) -> int:
    """Make ``table`` visible at ``path``; returns the file's bytes."""
    _write(table, path)
    return os.path.getsize(path)
