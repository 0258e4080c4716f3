"""CDC store (streaming/cdc_stream.py): one-file per-batch deltas, the
background size-ratio fold, merge-on-read, and the store's
replay/crash/horizon/commit-race guarantees.

Test stores are tiny, so nearly every apply makes a fold due and starts
one in the background: a test that asserts on manifests, seqs or data
dirs settles the store first (``_settle``), or seeds a base large
enough that its small batches never make a fold due."""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from cassandra_extractor_spark.streaming import cdc_stream
from cassandra_extractor_spark.streaming.cdc_stream import (
    ManifestConflict,
    _current_manifest,
    _fold,
    apply_cdc_batch,
    cleanup_generations,
    fold_cdc_store,
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
    return len(cdc_stream._rels(_current_manifest(store))[1])


def _settle(store):
    """Wait for the store's background fold, if one is running."""
    cdc_stream._wait_for_fold(store)


def _lww(rows):
    """The view as pandas last-writer-wins per key over ``rows``."""
    every = pd.DataFrame(rows, columns=["k", "op", "seq", "bal"])
    last = every.sort_values("seq").groupby("k").tail(1)
    live = last[last.op != "D"]
    return dict(zip(live.k, live.bal))


#: a base this large keeps a test's small batches below the fold
#: threshold, so no background fold changes the store under the test
_BIG = [(k, "U", 0, k) for k in range(1000, 21000)]
_BIG_VIEW = {k: k for k in range(1000, 21000)}


def test_delta_and_fold_paths_match_last_writer_wins(spark, tmp_path):
    """Batches with out-of-order (stale) changes, deletes and inserts
    serve the same view as a pure-pandas last-writer-wins per key: after
    every batch, read while a background fold may be running, and again
    once ``fold_cdc_store`` (the control plane's ``op: "fold"``) has
    settled the store.  Both paths are taken: reads met outstanding
    deltas, and folds replaced the base."""
    store = str(tmp_path / "store")
    rng = random.Random(7)
    base = [(k, "U", 0, k) for k in range(300)]
    _init(spark, store, base)
    seqs = list(range(1, 2001))
    rng.shuffle(seqs)  # arrival order != seq order: stale changes arrive late
    changes, bases, outstanding = [], set(), []
    for b in range(8):
        batch = [(rng.randrange(360), rng.choice("UUUID"), seqs.pop(), rng.randrange(10**6))
                 for _ in range(40)]
        changes += batch
        _apply(spark, store, batch, b)
        m = _current_manifest(store)
        bases.add(tuple(sorted(m["buckets"].values())))
        outstanding.append(len(cdc_stream._rels(m)[1]))
        assert _view(spark, store) == _lww(base + changes), b
    rep = fold_cdc_store(spark, store)
    m = _current_manifest(store)
    assert rep["deltas"] == 0 and cdc_stream._rels(m)[1] == []
    bases.add(tuple(sorted(m["buckets"].values())))
    assert _view(spark, store) == _lww(base + changes)
    assert len(bases) > 1 and max(outstanding) > 0, (bases, outstanding)


def test_seed_that_repeats_a_key_stores_its_latest_row(spark, tmp_path):
    """The seed is written the way a fold writes a base, so a snapshot
    that repeats a key stores one row for it: the latest."""
    store = str(tmp_path / "store")
    seed = [(1, "U", 0, 100), (1, "U", 2, 111), (2, "U", 0, 200), (2, "D", 1, 0)]
    _init(spark, store, seed)
    assert sorted(tuple(r) for r in cdc_stream._read_current(spark, store).collect()) == [
        (1, "U", 2, 111), (2, "D", 1, 0)]
    assert _view(spark, store) == _lww(seed) == {1: 111}


def test_read_with_deltas_never_shuffles_the_base(spark, tmp_path):
    """With deltas outstanding, base rows of keys no delta touches
    reach the view through a broadcast anti join, not a shuffle."""
    store = str(tmp_path / "store")
    _init(spark, store, [(k, "U", 0, k) for k in range(50)] + _BIG)
    _apply(spark, store, [(1, "U", 5, 10), (99, "I", 5, 99)], 0)
    assert _n_deltas(store) > 0
    plan = read_cdc_view(spark, store)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert _view(spark, store) == {**{k: k for k in range(50)}, **_BIG_VIEW, 1: 10, 99: 99}


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
    _init(spark, store, [(1, "U", 0, 100), (2, "D", 20, 0)] + _BIG)
    # k=2 is stale (older than its tombstone); k=1 is a live update
    _apply(spark, store, [(2, "U", 10, 888), (1, "U", 30, 111)], 0)
    assert _n_deltas(store) > 0
    assert _view(spark, store) == {1: 111, **_BIG_VIEW}

    purge_tombstones(spark, store, ["seq"], "op", horizon=[50])
    m = _current_manifest(store)
    assert m["deltas"] == [] and m["horizon"] == [50]
    assert _view(spark, store) == {1: 111, **_BIG_VIEW}

    _apply(spark, store, [(2, "U", 40, 777)], 1)  # below the horizon
    deltas = cdc_stream._rels(_current_manifest(store))[1]
    assert cdc_stream._read_rels(spark, store, deltas).count() == 0
    assert _view(spark, store) == {1: 111, **_BIG_VIEW}


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
    _settle(store)
    assert _current_manifest(store)["batch_id"] == 1
    assert not os.path.exists(orphan)
    assert _view(spark, store) == {1: 100, 2: 222}


@pytest.mark.parametrize("winner", ["purge", "apply"])
def test_racing_purge_and_apply_commit_once(spark, tmp_path, monkeypatch, winner):
    """A purge and an apply read the same manifest.  The other one
    commits while the loser writes its generation: the loser's commit
    raises, its directory is removed, and the view is last-writer-wins
    over the winner's inputs alone.  Run again, the loser applies on
    top of the winner.  (A winning apply starts a background fold: the
    store is settled before its manifests and dirs are checked.)"""
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
    _settle(store)
    m = cdc_stream._read_manifest(store, 1)
    assert m["horizon"] == ([5] if winner == "purge" else None)
    assert m["batch_id"] == (None if winner == "purge" else 0)
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
    _settle(store)
    m = _current_manifest(store)
    assert m["seq"] >= 2 and m["horizon"] == [5] and m["batch_id"] == 0
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
    _settle(store)
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
    at 0.  Each replayed batch lands in a delta directory of its own:
    no file of the live base (folded from the first pass) or of any
    committed generation is written again, and the settled view stays
    what it was."""
    store = str(tmp_path / "store")
    rng = random.Random(3)
    n = 20000
    _init(spark, store, [(k, "U", 0, rng.randrange(10**9)) for k in range(n)], n_buckets=2)
    batches = [
        [(n + k, "I", 1, rng.randrange(10**9)) for k in range(n * 11 // 50)],
        [(k, "U", 2, rng.randrange(10**9)) for k in range(20)],
    ]

    def apply(b):
        # one input partition: a delta's bytes then track its rows, not
        # the session's parallelism
        batch = _df(spark, batches[b]).coalesce(1)
        apply_cdc_batch(spark, batch, b, store, "k", ["seq"], "op", ["bal"], retain_gens=10)

    def stamps():
        data = os.path.join(store, "data")
        return {
            os.path.relpath(os.path.join(root, f), data): os.stat(os.path.join(root, f)).st_mtime_ns
            for root, _, files in os.walk(data)
            for f in files
        }

    apply(0)
    apply(1)
    fold_cdc_store(spark, store, retain_gens=10)
    want = _view(spark, store)
    live = _current_manifest(store)
    before = stamps()
    # fresh checkpoint: ids 0 and 1 again
    apply(0)
    apply(1)
    _settle(store)
    after = stamps()
    assert {f: after.get(f) for f in before} == before
    new_gens = {f.split(os.sep, 1)[0] for f in after} - {f.split(os.sep, 1)[0] for f in before}
    [replayed] = cdc_stream._read_manifest(store, live["seq"] + 1)["deltas"]
    assert replayed in new_gens
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


def _jobs(spark, group, action):
    """(Spark jobs ``action()`` ran, counted by job group, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def test_recorded_schema_spares_every_inference_job(spark, tmp_path):
    """The manifest records the store's schema and every commit carries
    it, so a view over base + deltas and a fold's plan are built without
    a schema-inference job, and a fold runs only its exchange and its
    write."""
    store = str(tmp_path / "store")
    base = [(1, "U", 0, 100), (2, "U", 0, 200)] + _BIG
    _init(spark, store, base)
    recorded = _current_manifest(store)["schema"]
    assert StructType.fromJson(json.loads(recorded)).simpleString() == (
        "struct<k:bigint,op:string,seq:bigint,bal:bigint>")
    change = [(1, "U", 5, 111), (2, "D", 5, 0)]
    _apply(spark, store, change, 0)
    m = _current_manifest(store)
    assert m["schema"] == recorded and _n_deltas(store) == 1

    jobs, view = _jobs(spark, "cdc-view-plan", lambda: read_cdc_view(spark, store))
    assert jobs == 0
    assert {r.k: r.bal for r in view.collect()} == _lww(base + change)
    jobs, _ = _jobs(spark, "cdc-fold-plan", lambda: _fold(spark, store, m, ["k", "op", "seq", "bal"]))
    assert jobs == 0
    jobs, rep = _jobs(spark, "cdc-fold-run", lambda: fold_cdc_store(spark, store))
    assert rep["folded"] and jobs == 2
    assert _current_manifest(store)["schema"] == recorded
    assert _view(spark, store) == _lww(base + change)


def test_apply_writes_its_delta_in_the_recorded_types(spark, tmp_path):
    """A batch whose payload arrives as INT is written as the store's
    BIGINT, so every generation has one physical schema; a value that
    does not fit the recorded type fails the apply, which commits
    nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = str(tmp_path / "store")
    base = [(1, "U", 0, 100)] + _BIG
    _init(spark, store, base)
    narrow = spark.createDataFrame(pd.DataFrame({"k": [1], "op": ["U"], "seq": [5], "bal": [7]}),
                                   "k LONG, op STRING, seq LONG, bal INT")
    apply_cdc_batch(spark, narrow, 0, store, "k", ["seq"], "op", ["bal"])
    [delta] = _current_manifest(store)["deltas"]
    [part] = [f for f in os.listdir(os.path.join(store, "data", delta)) if f.startswith("part-")]
    assert pq.read_schema(os.path.join(store, "data", delta, part)).field("bal").type == pa.int64()
    assert _view(spark, store)[1] == 7

    bad = spark.createDataFrame(pd.DataFrame({"k": [1], "op": ["U"], "seq": [6], "bal": ["x"]}),
                                "k LONG, op STRING, seq LONG, bal STRING")
    seq = _current_manifest(store)["seq"]
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        apply_cdc_batch(spark, bad, 1, store, "k", ["seq"], "op", ["bal"])
    assert _current_manifest(store)["seq"] == seq
    assert _view(spark, store)[1] == 7


@pytest.mark.parametrize("then", ["apply", "fold", "purge"])
def test_store_without_recorded_schema_reads_folds_and_purges(spark, tmp_path, then):
    """A manifest written before the store recorded its schema reads,
    folds and purges by inferring it, and the next commit records it."""
    store = str(tmp_path / "store")
    base = [(1, "U", 0, 100), (2, "U", 0, 200), (3, "D", 4, 0)] + _BIG
    _init(spark, store, base)
    change = [(1, "U", 5, 111), (4, "I", 5, 400)]
    _apply(spark, store, change, 0)
    m = _current_manifest(store)
    recorded = m.pop("schema")
    with open(os.path.join(store, "manifest", f"gen={m['seq']}.json"), "w") as fh:
        json.dump(m, fh)
    assert _view(spark, store) == _lww(base + change)

    if then == "apply":
        more = [(2, "U", 6, 222)]
        _apply(spark, store, more, 1)
        change += more
    elif then == "fold":
        assert fold_cdc_store(spark, store)["folded"]
    else:
        purge_tombstones(spark, store, ["seq"], "op", horizon=[6])
        assert 3 not in {r.k for r in cdc_stream._read_current(spark, store).collect()}
    assert _current_manifest(store)["schema"] == recorded
    assert _view(spark, store) == _lww(base + change)


@pytest.mark.parametrize("first", ["apply", "fold"])
def test_commit_races_between_apply_and_fold_lose_no_delta(spark, tmp_path, monkeypatch, first):
    """A fold and an apply interleave deterministically.  ``apply``: an
    apply commits between the fold's manifest read and its commit; the
    fold's commit loses, re-reads and commits its base with that delta
    still outstanding.  ``fold``: a fold commits between an apply's
    manifest read and its commit; the apply re-commits on top of the
    folded base.  No delta is lost: the view is last-writer-wins before
    and after the store settles."""
    store = str(tmp_path / "store")
    base = [(k, "U", 0, k) for k in range(40)] + _BIG
    _init(spark, store, base)
    b0 = [(k, "U", 1, 100 + k) for k in range(0, 40, 3)]
    b1 = [(k, "D" if k % 2 else "U", 2, 200 + k) for k in range(0, 50, 5)]
    _apply(spark, store, b0, 0)
    _settle(store)
    read = _current_manifest(store)
    assert read["seq"] == 1
    write = cdc_stream._write_generation
    writers = []

    def write_after_the_other_commits(df, store_dir, gen):
        writers.append("fold" if "_b" in df.columns else "apply")
        monkeypatch.setattr(cdc_stream, "_write_generation", write)
        if first == "apply":
            _apply(spark, store, b1, 1)
        else:
            fold_cdc_store(spark, store)
        return write(df, store_dir, gen)

    monkeypatch.setattr(cdc_stream, "_write_generation", write_after_the_other_commits)
    if first == "apply":
        fold_cdc_store(spark, store)
    else:
        _apply(spark, store, b1, 1)
    assert writers == ["fold" if first == "apply" else "apply"]
    m = _current_manifest(store)
    assert m["seq"] == read["seq"] + 2 and m["batch_id"] == 1
    assert m["buckets"] != read["buckets"]
    [outstanding] = m["deltas"]
    assert outstanding not in read["deltas"]
    assert _view(spark, store) == _lww(base + b0 + b1)
    fold_cdc_store(spark, store)
    assert _current_manifest(store)["deltas"] == []
    assert _view(spark, store) == _lww(base + b0 + b1)


@pytest.mark.parametrize("fold", ["control_plane", "background"])
def test_failed_fold_leaves_the_store_readable_and_its_orphan_is_cleaned(
    spark, tmp_path, monkeypatch, fold
):
    """A fold that dies after writing its base and before its commit
    commits nothing: the store reads as before, the control plane's fold
    raises while a background fold fails quietly, and the orphan it
    wrote goes with the next commit's cleanup."""
    store = str(tmp_path / "store")
    base = [(k, "U", 0, k) for k in range(40)] + _BIG
    _init(spark, store, base)
    # the background case applies enough rows to make a fold due
    b0 = [(k, "U", 1, -k) for k in range(0, 40, 3)] + (
        [(k, "U", 1, -k) for k in range(1000, 21000, 2)] if fold == "background" else []
    )
    commit = cdc_stream._commit_manifest

    def die_in_the_fold(store_dir, manifest):
        if manifest["buckets"] != _current_manifest(store_dir)["buckets"]:
            raise RuntimeError("killed before the fold's commit")
        return commit(store_dir, manifest)

    monkeypatch.setattr(cdc_stream, "_commit_manifest", die_in_the_fold)
    _apply(spark, store, b0, 0)
    if fold == "control_plane":
        with pytest.raises(RuntimeError, match="killed"):
            fold_cdc_store(spark, store)
    else:
        _settle(store)
    monkeypatch.undo()
    m = _current_manifest(store)
    assert m["batch_id"] == 0 and len(m["deltas"]) == 1
    referenced = {r.split("/", 1)[0] for rels in cdc_stream._rels(m) for r in rels}
    [orphan] = set(os.listdir(os.path.join(store, "data"))) - referenced
    assert any(d.startswith("_b=") for d in os.listdir(os.path.join(store, "data", orphan)))
    assert os.path.abspath(store) not in cdc_stream._FOLDS
    assert _view(spark, store) == _lww(base + b0)

    b1 = [(7, "U", 2, 777)]
    _apply(spark, store, b1, 1)
    _settle(store)
    assert not os.path.exists(os.path.join(store, "data", orphan))
    assert _view(spark, store) == _lww(base + b0 + b1)


def _commit_per_bucket_delta(spark, store, rows):
    """Commit ``rows`` as batch 0 the way the store did when it wrote a
    delta per bucket (``_b=<b>`` dirs listed as ``{bucket: [dirs]}``);
    returns the delta's generation dir."""
    m0 = _current_manifest(store)
    gen = cdc_stream._next_gen(m0)
    written = cdc_stream._write_generation(
        cdc_stream._bucketed(_df(spark, rows), "k", m0["n_buckets"]), store, gen
    )
    cdc_stream._commit_manifest(store, {
        **m0, "seq": 1, "batch_id": 0, "payload_cols": ["bal"],
        "deltas": {b: [rel] for b, rel in written.items()},
    })
    return gen


@pytest.mark.parametrize("then", ["fold", "purge"])
def test_store_with_per_bucket_deltas_reads_folds_and_purges(spark, tmp_path, then):
    """A manifest that lists its deltas per bucket (``{bucket: [dirs]}``,
    as the store wrote them before a delta was one directory) reads,
    keeps its delta dirs through a cleanup, and folds or purges."""
    store = str(tmp_path / "store")
    base = [(1, "U", 0, 100), (2, "U", 0, 200), (3, "U", 0, 300)]
    _init(spark, store, base)
    old = [(1, "U", 5, 111), (2, "D", 5, 0), (4, "I", 5, 400)]
    gen = _commit_per_bucket_delta(spark, store, old)
    assert _view(spark, store) == _lww(base + old)
    cleanup_generations(store, retain_gens=1)
    assert os.path.isdir(os.path.join(store, "data", gen))
    assert _view(spark, store) == _lww(base + old)

    if then == "fold":
        assert fold_cdc_store(spark, store)["folded"]
        assert _current_manifest(store)["deltas"] == []
        assert _view(spark, store) == _lww(base + old)
    else:
        purge_tombstones(spark, store, ["seq"], "op", horizon=[6])
        assert _current_manifest(store)["deltas"] == []
        assert {r.k for r in cdc_stream._read_current(spark, store).collect()} == {1, 3, 4}
        assert _view(spark, store) == _lww(base + old)


def test_apply_on_per_bucket_deltas_lists_them_flat(spark, tmp_path):
    """An apply on top of per-bucket deltas lists the old dirs and its
    own in one flat list, and reads the same as applied in turn."""
    store = str(tmp_path / "store")
    base = [(1, "U", 0, 100), (2, "U", 0, 200)] + _BIG
    _init(spark, store, base)
    old = [(1, "U", 5, 111)]
    gen = _commit_per_bucket_delta(spark, store, old)
    new = [(2, "U", 6, 222)]
    _apply(spark, store, new, 1)
    deltas = _current_manifest(store)["deltas"]
    assert {d.split("/", 1)[0] for d in deltas[:-1]} == {gen} and "/" not in deltas[-1]
    assert _view(spark, store) == _lww(base + old + new)


def test_apply_writes_one_file_per_task_and_runs_no_fold_job(spark, tmp_path):
    """An apply writes its batch as one flat directory, one file per
    write task and no bucket dirs, in one Spark job.  The fold that the
    apply made due runs in jobs of its own (the ``cdc-fold`` group)."""
    store = str(tmp_path / "store")
    _init(spark, store, [(k, "U", 0, k) for k in range(50)])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    folds_before = set(tracker.getJobIdsForGroup(cdc_stream.FOLD_POOL))
    batch = _df(spark, [(k, "U", 5, -k) for k in range(0, 50, 2)]).coalesce(3)
    sc.setJobGroup("cdc-apply-only", "one apply")
    try:
        apply_cdc_batch(spark, batch, 0, store, "k", ["seq"], "op", ["bal"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    [delta] = cdc_stream._read_manifest(store, 1)["deltas"]
    files = os.listdir(os.path.join(store, "data", delta))
    assert len([f for f in files if f.startswith("part-")]) == 3
    assert not any(f.startswith("_b=") for f in files)
    [job] = tracker.getJobIdsForGroup("cdc-apply-only")
    assert [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(job).stageIds] == [3]
    _settle(store)
    assert _current_manifest(store)["buckets"] != cdc_stream._read_manifest(store, 0)["buckets"]
    assert set(tracker.getJobIdsForGroup(cdc_stream.FOLD_POOL)) - folds_before
    assert tracker.getJobIdsForGroup("cdc-apply-only") == [job]


_STOP_MID_FOLD = r"""
import json, sys, threading, time

import pandas as pd
from pyspark.sql import functions as F, types as T

from cassandra_extractor_spark.session import get_spark
from cassandra_extractor_spark.streaming import cdc_stream as C

store = sys.argv[1]
spark = get_spark("stop-mid-fold", master="local[1]", shuffle_partitions=1)
jvm = spark.sparkContext._gateway.proc.pid
rows = lambda r: spark.createDataFrame(
    pd.DataFrame(r, columns=["k", "op", "seq", "bal"]), "k LONG, op STRING, seq LONG, bal LONG")
C.init_cdc_store(spark, rows([(k, "U", 0, k) for k in range(200)]), store,
                 key="k", op_col="op", order_cols=["seq"], n_buckets=2)
folding = threading.Event()
write = C._write_generation
slow = F.udf(lambda k: time.sleep(0.05) or True, T.BooleanType())

def write_slowly(df, store_dir, gen):
    if "_b" in df.columns:  # the fold's base: keep its write job running
        folding.set()
        df = df.where(slow("k"))
    return write(df, store_dir, gen)

C._write_generation = write_slowly
C.apply_cdc_batch(spark, rows([(k, "U", 1, -k) for k in range(100)]), 0, store,
                  "k", ["seq"], "op", ["bal"])
assert folding.wait(120)
time.sleep(3)
seq = C._current_manifest(store)["seq"]
spark.stop()
for t in threading.enumerate():
    if t.name.startswith("cdc-fold"):
        t.join(120)
print(json.dumps({
    "jvm": jvm,
    "alive": [t.name for t in threading.enumerate() if t.name.startswith("cdc-fold")],
    "seq": [seq, C._current_manifest(store)["seq"]],
    "folds": len(C._FOLDS),
}))
"""


def test_stopping_the_session_mid_fold_leaves_no_thread_or_process(tmp_path):
    """A session stopped while a background fold's job runs: the fold
    fails quietly, commits nothing, and neither its thread, the Python
    process nor the JVM outlives the stop."""
    root = Path(__file__).resolve().parent.parent
    env = {**os.environ, "PYTHONPATH": str(root), "SPARK_GRAFT_CPUS": "1",
           "SPARK_GRAFT_DRIVER_MEM": "1g", "SPARK_LOCAL_DIRS": str(tmp_path / "local")}
    run = subprocess.run([sys.executable, "-c", _STOP_MID_FOLD, str(tmp_path / "store")],
                         cwd=tmp_path, env=env, capture_output=True, text=True, timeout=400)
    assert run.returncode == 0, run.stderr[-3000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert out["alive"] == [] and out["folds"] == 0
    assert out["seq"][0] == out["seq"][1] == 1
    assert "Exception in thread" not in run.stderr, run.stderr[-3000:]
    deadline = time.monotonic() + 60
    while _running(out["jvm"]) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not _running(out["jvm"])


def _running(pid: int) -> bool:
    """Whether ``pid`` is a live process (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False
