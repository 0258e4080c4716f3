"""CDC store (streaming/cdc_stream.py): per-batch deltas, the size-ratio
fold, merge-on-read, and the store's replay/crash/horizon guarantees."""

from __future__ import annotations

import json
import os
import random
import sys
import threading

import pandas as pd
import pytest

from cassandra_extractor_spark.streaming import cdc_stream
from cassandra_extractor_spark.streaming.cdc_stream import (
    ManifestConflict,
    _current_manifest,
    _fold,
    apply_cdc_batch,
    cleanup_generations,
    init_cdc_store,
    merge_cdc_batch,
    purge_tombstones,
    read_cdc_view,
)

SCHEMA = "k LONG, op STRING, seq LONG, bal LONG"


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["k", "op", "seq", "bal"]), SCHEMA)


def _init(spark, store, rows, n_buckets=4):
    init_cdc_store(spark, _df(spark, rows), store, key="k", op_col="op",
                   order_cols=["seq"], n_buckets=n_buckets)


def _apply(spark, store, rows, batch_id):
    apply_cdc_batch(spark, _df(spark, rows), batch_id, store, "k", ["seq"], "op", ["bal"])


def _view(spark, store):
    return {r.k: r.bal for r in read_cdc_view(spark, store).collect()}


def _n_deltas(store):
    return sum(len(v) for v in _current_manifest(store)["deltas"].values())


def test_delta_and_fold_paths_match_last_writer_wins(spark, tmp_path):
    """Batches with out-of-order (stale) changes, deletes and inserts,
    applied through both the delta path and the fold path, serve the
    same view as a pure-pandas last-writer-wins per key."""
    store = str(tmp_path / "store")
    rng = random.Random(7)
    base = [(k, "U", 0, k) for k in range(300)]
    _init(spark, store, base)
    seqs = list(range(1, 2001))
    rng.shuffle(seqs)  # arrival order != seq order: stale changes arrive late
    changes, paths = [], []
    for b in range(8):
        batch = [(rng.randrange(360), rng.choice("UUUID"), seqs.pop(), rng.randrange(10**6))
                 for _ in range(40)]
        changes += batch
        before = _current_manifest(store)
        _apply(spark, store, batch, b)
        after = _current_manifest(store)
        if after["buckets"] == before["buckets"]:
            assert _n_deltas(store) > 0
            paths.append("delta")
        else:
            assert after["deltas"] == {}
            paths.append("fold")
        # read after every batch: with deltas outstanding and without
        every = pd.DataFrame(base + changes, columns=["k", "op", "seq", "bal"])
        last = every.sort_values("seq").groupby("k").tail(1)
        want = dict(zip(last[last.op != "D"].k, last[last.op != "D"].bal))
        assert _view(spark, store) == want, (b, paths)
    assert {"delta", "fold"} <= set(paths), paths


def test_read_with_deltas_never_shuffles_the_base(spark, tmp_path):
    """With deltas outstanding, base rows of keys no delta touches
    reach the view through a broadcast anti join, not a shuffle."""
    store = str(tmp_path / "store")
    _init(spark, store, [(k, "U", 0, k) for k in range(50)])
    _apply(spark, store, [(1, "U", 5, 10), (99, "I", 5, 99)], 0)
    assert _n_deltas(store) > 0
    plan = read_cdc_view(spark, store)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert _view(spark, store) == {**{k: k for k in range(50)}, 1: 10, 99: 99}


def test_fold_is_a_single_exchange(spark, tmp_path):
    """The fold hash-partitions on the bucket once; the window over
    (_b, key) reuses that partitioning instead of shuffling again."""
    store = str(tmp_path / "store")
    _init(spark, store, [(k, "U", 0, k) for k in range(50)])
    _apply(spark, store, [(1, "U", 5, 10)], 0)
    m = _current_manifest(store)
    folded = _fold(spark, store, m, ["k", "op", "seq", "bal"])
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_fold_reduce_runs_one_task_per_bucket(spark, tmp_path):
    """The fold's sort and last-writer-wins run in one task per bucket.
    A small store is far below AQE's advisory partition size, so an
    exchange without a partition count would be coalesced to one task
    while the other cores sit idle."""
    store = str(tmp_path / "store")
    _init(spark, store, [(k, "U", 0, k) for k in range(200)])
    _apply(spark, store, [(k, "U", 5, -k) for k in range(0, 200, 7)], 0)
    folded = _fold(spark, store, _current_manifest(store), ["k", "op", "seq", "bal"])
    sc = spark.sparkContext
    sc.setJobGroup("cdc-fold-width", "fold reduce width")
    try:
        folded.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    last_job = max(tracker.getJobIdsForGroup("cdc-fold-width"))
    reduce_stage = max(tracker.getJobInfo(last_job).stageIds)
    assert tracker.getStageInfo(reduce_stage).numTasks == 4


def test_purge_folds_stale_delta_under_base_tombstone(spark, tmp_path):
    """A stale update sitting in an outstanding delta is fenced only by
    the base tombstone; purging that tombstone must fold the delta
    first, so the key stays deleted.  Afterwards the horizon drops a
    stale change at write time: nothing reaches a delta."""
    store = str(tmp_path / "store")
    _init(spark, store, [(1, "U", 0, 100), (2, "D", 20, 0)])
    # k=2 is stale (older than its tombstone); k=1 is a live update
    _apply(spark, store, [(2, "U", 10, 888), (1, "U", 30, 111)], 0)
    assert _n_deltas(store) > 0
    assert _view(spark, store) == {1: 111}

    purge_tombstones(spark, store, ["seq"], "op", horizon=[50])
    m = _current_manifest(store)
    assert m["deltas"] == {} and m["horizon"] == [50]
    assert _view(spark, store) == {1: 111}

    _apply(spark, store, [(2, "U", 40, 777)], 1)  # below the horizon
    assert _n_deltas(store) == 0
    assert _view(spark, store) == {1: 111}


def test_uncommitted_delta_is_invisible_and_cleaned(spark, tmp_path, monkeypatch):
    """A crash between the delta write and the manifest commit leaves
    the previous view intact.  Retention keeps the orphan while its seq
    is past the newest manifest (a live writer's generation looks the
    same) and removes it once a later commit passes that seq."""
    store = str(tmp_path / "store")
    _init(spark, store, [(1, "U", 0, 100), (2, "U", 0, 200)])

    def crash(*_a, **_k):
        raise RuntimeError("killed before the manifest commit")

    monkeypatch.setattr(cdc_stream, "_commit_manifest", crash)
    with pytest.raises(RuntimeError, match="killed"):
        _apply(spark, store, [(1, "D", 5, 0), (3, "U", 5, 300)], 0)
    monkeypatch.undo()
    [orphan] = [d for d in os.listdir(os.path.join(store, "data")) if d.startswith("s1-")]
    orphan = os.path.join(store, "data", orphan)
    assert _current_manifest(store)["seq"] == 0
    assert _view(spark, store) == {1: 100, 2: 200}

    rep = cleanup_generations(store, retain_gens=1)
    assert rep["removed_generations"] == 0
    assert os.path.isdir(orphan)

    _apply(spark, store, [(2, "U", 6, 222)], 1)
    assert _current_manifest(store)["seq"] == 1
    assert not os.path.exists(orphan)
    assert _view(spark, store) == {1: 100, 2: 222}


@pytest.mark.parametrize("winner", ["purge", "apply"])
def test_racing_purge_and_apply_commit_once(spark, tmp_path, monkeypatch, winner):
    """A purge and an apply read the same manifest.  The other one
    commits while the loser writes its generation: the loser's commit
    raises, its directory is removed, and the view is last-writer-wins
    over the winner's inputs alone.  Run again, the loser applies on
    top of the winner."""
    store = str(tmp_path / "store")
    _init(spark, store, [(1, "U", 0, 100), (2, "D", 3, 0), (3, "U", 0, 300)])
    batch = [(1, "U", 5, 111), (4, "U", 5, 400)]
    runs = {
        "purge": lambda: purge_tombstones(spark, store, ["seq"], "op", horizon=[5]),
        "apply": lambda: _apply(spark, store, batch, 0),
    }
    loser = "apply" if winner == "purge" else "purge"
    write = cdc_stream._write_generation
    loser_gens = []

    def write_after_the_winner_commits(df, store_dir, gen):
        monkeypatch.setattr(cdc_stream, "_write_generation", write)
        loser_gens.append(gen)
        runs[winner]()
        return write(df, store_dir, gen)

    monkeypatch.setattr(cdc_stream, "_write_generation", write_after_the_winner_commits)
    with pytest.raises(ManifestConflict):
        runs[loser]()
    m = _current_manifest(store)
    assert m["seq"] == 1 and m["horizon"] == ([5] if winner == "purge" else None)
    assert not os.path.exists(os.path.join(store, "data", loser_gens[0]))
    referenced = {
        rel.split("/", 1)[0]
        for seq in cdc_stream._manifest_seqs(store)
        for rels in cdc_stream._rels(cdc_stream._read_manifest(store, seq))
        for rel in rels
    }
    assert set(os.listdir(os.path.join(store, "data"))) == referenced
    if winner == "purge":
        assert {r.k for r in cdc_stream._read_current(spark, store).collect()} == {1, 3}
        assert _view(spark, store) == {1: 100, 3: 300}
    else:
        assert _view(spark, store) == {1: 111, 3: 300, 4: 400}

    runs[loser]()
    assert _current_manifest(store)["seq"] == 2
    assert _view(spark, store) == {1: 111, 3: 300, 4: 400}


def test_concurrent_manifest_commits_of_one_seq_have_one_winner(tmp_path):
    """More committers than cores race for the same seq: exactly one
    commit lands, every other raises, and the manifest is the winner's."""
    store = str(tmp_path / "store")
    n = 4 * (os.cpu_count() or 1)
    start = threading.Barrier(n, timeout=30)
    won, lost = [], []

    def commit(i):
        start.wait()
        try:
            cdc_stream._commit_manifest(store, {"seq": 1, "writer": i})
            won.append(i)
        except ManifestConflict:
            lost.append(i)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=commit, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(won) == 1 and len(lost) == n - 1
    assert cdc_stream._read_manifest(store, 1) == {"seq": 1, "writer": won[0]}
    assert os.listdir(os.path.join(store, "manifest")) == ["gen=1.json"]


def test_replayed_batch_id_writes_nothing(spark, tmp_path):
    store = str(tmp_path / "store")
    _init(spark, store, [(1, "U", 0, 100)])
    _apply(spark, store, [(1, "U", 5, 111)], 7)
    seq = _current_manifest(store)["seq"]
    listing = sorted(os.listdir(os.path.join(store, "data")))

    _apply(spark, store, [(1, "U", 9, 999)], 7)
    assert _current_manifest(store)["seq"] == seq
    assert sorted(os.listdir(os.path.join(store, "data"))) == listing
    assert _view(spark, store) == {1: 111}


def test_ties_resolve_the_same_through_deltas_and_folds(spark, tmp_path):
    """Changes sharing a key's seq are decided by (op, payload hash),
    whichever batch, delta or fold they arrive through."""
    a = [(k, "U", 5, 1000 + k) for k in range(20)]
    b = [(k, "U" if k % 3 else "D", 5, 2000 + k) for k in range(20)]
    c = [(k, "I", 5, 3000 + k) for k in range(20)]
    want = {
        r.k: r.bal
        for r in merge_cdc_batch(None, _df(spark, a + b + c), "k", ["seq"], "op", ["bal"])
        .where("op != 'D'").collect()
    }
    views = []
    for name, order in (("abc", (a, b, c)), ("cba", (c, b, a))):
        store = str(tmp_path / name)
        _init(spark, store, [(k, "U", 0, k) for k in range(20)])
        for i, rows in enumerate(order):
            _apply(spark, store, rows, i)
        views.append(_view(spark, store))
    assert views[0] == views[1] == want


def test_lost_checkpoint_replay_never_overwrites_the_live_base(spark, tmp_path):
    """A stream replayed from a lost checkpoint restarts its batch ids
    at 0.  Batch 1 once folded into the base; replayed, it finds the
    base grown by batch 0 and takes the delta path.  Its data must not
    land on the live base's directory: the view stays what it was."""
    store = str(tmp_path / "store")
    rng = random.Random(3)
    n = 20000
    _init(spark, store, [(k, "U", 0, rng.randrange(10**9)) for k in range(n)], n_buckets=2)
    batches = [
        [(n + k, "I", 1, rng.randrange(10**9)) for k in range(n * 11 // 50)],
        [(k, "U", 2, rng.randrange(10**9)) for k in range(20)],
    ]

    def apply(b):
        before = _current_manifest(store)["buckets"]
        # one input partition: a delta's bytes then track its rows, not
        # the session's parallelism
        batch = _df(spark, batches[b]).coalesce(1)
        apply_cdc_batch(spark, batch, b, store, "k", ["seq"], "op", ["bal"])
        return "delta" if _current_manifest(store)["buckets"] == before else "fold"

    assert [apply(0), apply(1)] == ["delta", "fold"]
    want = _view(spark, store)
    # fresh checkpoint: ids 0 and 1 again, both below the fold threshold
    assert [apply(0), apply(1)] == ["delta", "delta"]
    assert _view(spark, store) == want


def test_store_without_recorded_deltas_or_payload_reads_and_purges(spark, tmp_path):
    """A manifest written before the store kept deltas has neither a
    ``deltas`` nor a ``payload_cols`` entry: it reads as its base, and
    a purge takes the payload from the base schema."""
    store = str(tmp_path / "store")
    _init(spark, store, [(1, "U", 0, 100), (2, "D", 5, 0), (3, "U", 7, 300)])
    path = os.path.join(store, "manifest", "gen=0.json")
    with open(path) as fh:
        m = json.load(fh)
    del m["deltas"], m["payload_cols"]
    with open(path, "w") as fh:
        json.dump(m, fh)
    assert _view(spark, store) == {1: 100, 3: 300}

    purge_tombstones(spark, store, ["seq"], "op", horizon=[6])
    assert _current_manifest(store)["payload_cols"] == ["bal"]
    assert _view(spark, store) == {1: 100, 3: 300}
    assert {r.k for r in cdc_stream._read_current(spark, store).collect()} == {1, 3}
