"""Each output comparator accepts the right rows and rejects a planted
one-row loss or duplicate.  The "sink outputs" here are written in the
formats the program's sinks produce, from the benchmark's own inputs."""

import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs


def planted(lines: list) -> dict[str, list]:
    """The correct lines, one lost, and one replaced by a duplicate."""
    return {"ok": lines, "loss": lines[:-1], "duplicate": lines[:-1] + [lines[0]]}


def write_lines(path: str, lines: list[str]) -> str:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.json"), "w", encoding="utf-8") as f:
        f.write("".join(line + "\n" for line in lines))
    return path


@pytest.fixture(scope="module")
def events(tmp_path_factory):
    d = tmp_path_factory.mktemp("events")
    path = inputs.write_events(str(d), seed=7, n=40)
    table = pq.read_table(path)
    ts_ms = [us // 1000 for us in table.column("ts").cast(pa.int64()).to_pylist()]
    rows = [{"id": r["event_id"], "event_type": r["event_type"], "value": r["value"],
             "props": json.loads(r["props"]), "ts": ts}
            for r, ts in zip(table.to_pylist(), ts_ms)]
    return path, rows


def verdicts(con, expected, sql_for, variants, cols):
    return {name: checks.compare(con, name, expected, sql_for(name, lines), cols) is None
            for name, lines in variants.items()}


def test_jsonl_sink_check(events, tmp_path):
    path, rows = events
    con = duckdb.connect()
    want = checks.fingerprint(con, checks.expected_events_sql(path), checks.EVENT_COLS)
    got = verdicts(con, want, lambda name, lines: checks.events_from_json_sql(
        checks.json_lines(os.path.join(write_lines(str(tmp_path / name), lines), "*.json"))),
        planted([json.dumps(r) for r in rows]), checks.EVENT_COLS)
    assert got == {"ok": True, "loss": False, "duplicate": False}


def test_kafka_sink_check(events):
    path, rows = events
    con = duckdb.connect()
    want = checks.fingerprint(con, checks.expected_events_sql(path), checks.EVENT_COLS)

    def sql_for(name, lines):
        con.register(f"kafka_{name}", pa.table({"v": lines}))
        return checks.events_from_json_sql(f"kafka_{name}", "v")

    got = verdicts(con, want, sql_for, planted([json.dumps(r) for r in rows]), checks.EVENT_COLS)
    assert got == {"ok": True, "loss": False, "duplicate": False}


def test_s3_sink_check_covers_the_object_key(events, tmp_path):
    path, rows = events
    con = duckdb.connect()
    want = checks.fingerprint(con, checks.expected_events_sql(path), checks.S3_COLS)
    lines = [json.dumps({"key": f"events/{r['id']}.json", "body": json.dumps(r)}) for r in rows]
    variants = planted(lines)
    variants["bad_key"] = [lines[0].replace(".json", ".txt", 1)] + lines[1:]
    got = verdicts(con, want, lambda name, ls: checks.s3_events_sql(
        write_lines(str(tmp_path / name), ls)), variants, checks.S3_COLS)
    assert got == {"ok": True, "loss": False, "duplicate": False, "bad_key": False}


@pytest.fixture(scope="module")
def changes(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cdc"))
    gen = inputs.OrderChanges(seed=7, base_rows=60, slice_rows=30)
    base = os.path.join(d, "base.parquet")
    inputs.land(gen.base(), base)
    slices = [os.path.join(d, "src", f"slice-{k:05d}.parquet") for k in range(3)]
    for s in slices:
        inputs.land(gen.next_slice(), s)
    return base, slices


def test_window_check(changes, tmp_path):
    _, slices = changes
    con = duckdb.connect()
    want = checks.fingerprint(con, checks.slice_sql(slices[1]), checks.CHANGE_COLS)
    rows = pq.read_table(slices[1]).select(["cid", "o_orderkey", "op"]).to_pylist()
    got = verdicts(con, want, lambda name, lines: checks.window_sql(
        write_lines(str(tmp_path / name), lines)), planted([json.dumps(r) for r in rows]),
        checks.CHANGE_COLS)
    assert got == {"ok": True, "loss": False, "duplicate": False}


def test_view_check_is_last_writer_wins(changes):
    base, slices = changes
    log = pa.concat_tables([pq.read_table(base)] + [pq.read_table(s) for s in slices])
    latest = {}
    for r in log.to_pylist():  # the log is in ts order: later rows win
        latest[r["o_orderkey"]] = r
    view = [{c: r[c] for c in checks.VIEW_COLS} for r in latest.values() if r["op"] != "D"]
    assert len(view) < len(latest)  # the slices delete some keys
    con = duckdb.connect()
    want = checks.fingerprint(con, checks.expected_view_sql(
        base, os.path.join(os.path.dirname(slices[0]), "*.parquet")), checks.VIEW_CAST_COLS)
    schema = log.select(checks.VIEW_COLS).schema

    def sql_for(name, rows):
        con.register(f"view_{name}", pa.Table.from_pylist(rows, schema=schema))
        return f"SELECT * FROM view_{name}"

    got = verdicts(con, want, sql_for, planted(view), checks.VIEW_CAST_COLS)
    assert got == {"ok": True, "loss": False, "duplicate": False}
