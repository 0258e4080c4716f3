"""The one commit rule for durable state (``streaming/commitlog.py``) and
the stores on it: the CDC manifest and the per-table HWM logs."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest

from cassandra_extractor_spark.streaming import commitlog, hwm
from cassandra_extractor_spark.streaming.commitlog import ManifestConflict
from cassandra_extractor_spark.streaming.hwm import HighWaterMarkStore


def _entries(log_dir) -> list[str]:
    return sorted(f for f in os.listdir(log_dir) if f.startswith("gen="))


def test_commit_conflict_and_retain(tmp_path):
    log = str(tmp_path / "log")
    assert commitlog.seqs(log) == [] and commitlog.latest(log) is None
    for seq in range(4):
        commitlog.commit(log, {"seq": seq, "v": seq * 10})
    with pytest.raises(ManifestConflict):
        commitlog.commit(log, {"seq": 3, "v": -1})
    assert commitlog.read(log, 3) == {"seq": 3, "v": 30}
    assert commitlog.latest(log) == {"seq": 3, "v": 30}
    assert commitlog.retain(log, 2) == 2
    assert commitlog.seqs(log) == [2, 3]
    assert commitlog.retain(log, 2) == 0
    # no temp file outlives its commit, won or lost
    assert sorted(os.listdir(log)) == ["gen=2.json", "gen=3.json"]


def test_latest_lists_again_when_retention_deletes_what_it_listed(tmp_path):
    """A writer commits and keeps one entry (as ``cleanup_generations``
    with ``retain_gens=1`` beside an apply does) while a reader loops on
    ``latest``: the reader never fails on an entry deleted between its
    listing and its read, and never goes back in seq."""
    log = str(tmp_path / "log")
    commitlog.commit(log, {"seq": 0})
    done = threading.Event()
    errors, seen = [], []

    def write():
        try:
            for seq in range(1, 1500):
                commitlog.commit(log, {"seq": seq})
                commitlog.retain(log, 1)
        finally:
            done.set()

    def read():
        try:
            while not done.is_set():
                seen.append(commitlog.latest(log)["seq"])
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=f) for f in (write, read)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not errors, errors
    assert seen == sorted(seen)
    assert commitlog.seqs(log) == [1499]


def test_commit_of_one_table_leaves_the_others_state_untouched(tmp_path):
    """Committing table ``a`` rewrites no file that holds table ``b``'s
    state (same inode, same mtime), and ``a``'s log stays at the
    constant number of entries however often it commits."""
    store = HighWaterMarkStore(str(tmp_path / "hwm.json"))
    mark_b = "2023-06-01 00:00:00"
    store.set("b", mark_b, ["file:/src/b-0.parquet"])

    def holding_b() -> dict[str, tuple[int, int]]:
        found = {}
        for root, _, names in os.walk(tmp_path):
            for name in names:
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    if mark_b in f.read():
                        st = os.stat(path)
                        found[path] = (st.st_ino, st.st_mtime_ns)
        return found

    before = holding_b()
    assert before
    for j in range(100):
        store.set("a", f"2024-01-01 00:00:{j % 60:02d}.{j:06d}", [f"file:/src/a-{j}.parquet"])
    assert holding_b() == before
    assert store.get("b") == mark_b and store.files("b") == ["file:/src/b-0.parquet"]
    assert store.get("a") == "2024-01-01 00:00:39.000099"
    assert len(_entries(store._log("a"))) == hwm._KEPT


def test_table_names_map_to_one_directory_inside_the_root(tmp_path):
    """Table names are outside input: none escapes the log root or
    shares a directory with another, and ``dump`` gives them back."""
    store = HighWaterMarkStore(str(tmp_path / "state" / "hwm.json"))
    names = ["../x", "a/b", "a%2Fb", ".", "..", "t=..", ""]
    marks = {t: f"2024-01-01 00:00:{i:02d}" for i, t in enumerate(names)}
    for t, m in marks.items():
        store.set(t, m)
    assert {t: store.get(t) for t in names} == marks
    assert store.dump() == marks
    root = tmp_path / "state" / "hwm.json.d"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["state"]
    assert sorted(p.name for p in (tmp_path / "state").iterdir()) == ["hwm.json.d"]
    assert len(list(root.iterdir())) == len(names)
    store.clear("..")
    assert store.get("..") is None and store.get(".") == marks["."]
    assert store.dump() == {t: m for t, m in marks.items() if t != ".."}


def test_legacy_state_file_is_read_not_written(tmp_path):
    """A table with no log reads its mark and files from the state file
    an older store wrote; a commit or a clear never touches that file."""
    path = tmp_path / "hwm.json"
    path.write_text(json.dumps({
        "t": {"mark": "2024-01-01 00:00:00", "files": ["file:/x.parquet"]},
        "u": {"mark": "2024-02-01 00:00:00"},
    }))
    state = path.read_text()
    store = HighWaterMarkStore(str(path))
    assert store.files("t") == ["file:/x.parquet"]
    store.set("t", "2024-03-01 00:00:00")
    store.clear("u")
    assert (store.get("t"), store.files("t"), store.get("u")) == ("2024-03-01 00:00:00", [], None)
    assert store.dump() == {"t": "2024-03-01 00:00:00"}
    assert path.read_text() == state


def test_two_processes_set_one_table(tmp_path, repo_root):
    """Two processes commit the same table 200 times each: both finish,
    the mark is one either wrote, and the log holds the constant number
    of entries."""
    path = str(tmp_path / "hwm.json")
    writer = (
        "import sys\n"
        f"sys.path.insert(0, {str(repo_root)!r})\n"
        "from cassandra_extractor_spark.streaming.hwm import HighWaterMarkStore\n"
        f"store = HighWaterMarkStore({path!r})\n"
        "sys.stdin.readline()\n"
        "for j in range(200):\n"
        "    store.set('t', f'2024-01-01 00:00:00.{sys.argv[1]}{j:05d}', [sys.argv[1]])\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", writer, name],
            stdin=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for name in ("1", "2")
    ]
    for p in procs:  # both are imported and waiting: start them together
        p.stdin.write("go\n")
        p.stdin.flush()
    for p in procs:
        p.stdin.close()
        assert p.wait(timeout=120) == 0, p.stderr.read()[-2000:]
    store = HighWaterMarkStore(path)
    written = {f"2024-01-01 00:00:00.{n}{j:05d}": [n] for n in "12" for j in range(200)}
    assert written[store.get("t")] == store.files("t")
    assert len(_entries(store._log("t"))) == hwm._KEPT
