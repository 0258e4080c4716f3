"""The pair rule of ``tools/perf_pairs.py`` (no Spark)."""

from __future__ import annotations

import importlib.util

import pytest


@pytest.fixture(scope="module")
def pairs(repo_root):
    path = repo_root / "tools" / "perf_pairs.py"
    spec = importlib.util.spec_from_file_location("perf_pairs", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


PARENT = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.02, 0.98]


def test_nine_wins_past_the_parent_spread_is_a_gain(pairs):
    change = [x - 0.2 for x in PARENT]
    change[3] = 1.5  # one lost pair of ten
    v = pairs.verdict(PARENT, change, "lower")
    assert (v["wins"], v["losses"], v["gain"]) == (9, 1, True)
    assert v["gap"] > v["parent_iqr"]


def test_eight_wins_are_no_gain(pairs):
    change = [x - 0.2 for x in PARENT]
    change[3] = change[5] = 1.5
    assert not pairs.verdict(PARENT, change, "lower")["gain"]


def test_every_pair_won_inside_the_parent_spread_is_no_gain(pairs):
    change = [x - 0.005 for x in PARENT]
    v = pairs.verdict(PARENT, change, "lower")
    assert v["wins"] == 10 and not v["gain"]


def test_ties_count_for_neither_side(pairs):
    change = [x - 0.2 for x in PARENT]
    change[0] = PARENT[0]
    v = pairs.verdict(PARENT, change, "lower")
    assert (v["wins"], v["losses"], v["gain"]) == (9, 0, True)
    change[1] = PARENT[1]
    assert not pairs.verdict(PARENT, change, "lower")["gain"]


def test_higher_is_better_flips_the_sign(pairs):
    change = [x + 0.2 for x in PARENT]
    assert pairs.verdict(PARENT, change, "higher")["gain"]
    assert not pairs.verdict(PARENT, change, "lower")["gain"]


def test_seed_ranges(pairs):
    assert pairs.parse_seeds("11-20") == list(range(11, 21))
    assert pairs.parse_seeds("1,3,5-6") == [1, 3, 5, 6]


def test_nine_losses_past_the_change_spread_are_worse(pairs):
    change = [x + 0.2 for x in PARENT]
    change[3] = 0.5  # one won pair of ten
    v = pairs.verdict(PARENT, change, "lower")
    assert (v["wins"], v["losses"], v["gain"], v["worse"]) == (1, 9, False, True)
    assert -v["gap"] > v["change_iqr"]
    assert pairs.verdict(PARENT, [x - 0.2 for x in PARENT], "higher")["worse"]


def test_eight_losses_are_not_worse(pairs):
    change = [x + 0.2 for x in PARENT]
    change[3] = change[5] = 0.5
    assert not pairs.verdict(PARENT, change, "lower")["worse"]


def test_worse_is_measured_against_the_change_spread(pairs):
    """Every pair lost, by a gap past the parent's spread (none) but
    inside the change's own: not worse."""
    change = [1.01, 1.30, 1.02, 1.28, 1.03, 1.31, 1.01, 1.29, 1.02, 1.30]
    v = pairs.verdict([1.0] * 10, change, "lower")
    assert v["losses"] == 10 and v["parent_iqr"] == 0
    assert -v["gap"] < v["change_iqr"] and not v["worse"]


def test_workload_list_runs_every_workload_in_turn(pairs, repo_root, tmp_path, monkeypatch, capsys):
    """``--workload a,b`` pairs every seed on ``a``, then on ``b``,
    alternating which side runs first, and reports each workload."""
    import json

    calls = []

    def run_one(checkout, workload, seed, seconds):
        calls.append((checkout, workload, seed))
        value = 1.0 if checkout == "parent-dir" else 2.0
        return {"correct": True, "failed": 0, "attempted": 5,
                "metrics": {m: {"value": value} for m in
                            ("setup_s", "run_s", "op_p50_s", "op_tail_s", "rows_per_s")}}

    monkeypatch.setattr(pairs, "run_one", run_one)
    out = tmp_path / "pairs.jsonl"
    assert pairs.main(["--parent", "parent-dir", "--change", str(repo_root),
                       "--workload", "a,b", "--seeds", "1-2", "--out", str(out)]) == 0
    change = str(repo_root)
    assert calls == [("parent-dir", "a", 1), (change, "a", 1), (change, "a", 2),
                     ("parent-dir", "a", 2), ("parent-dir", "b", 1), (change, "b", 1),
                     (change, "b", 2), ("parent-dir", "b", 2)]
    lines = [json.loads(line) for line in out.read_text().splitlines()]
    assert [(r["workload"], r["seed"], r["side"]) for r in lines][:2] == [
        ("a", 1, "parent"), ("a", 1, "change")]
    text = capsys.readouterr().out
    assert "== a" in text and "== b" in text


def test_trace_adds_one_traced_run_per_side_and_seed(pairs, repo_root, tmp_path, monkeypatch,
                                                     capsys):
    """``--trace`` follows the pairs with one ``--trace 1`` run per side
    and seed, in the same alternating order, and prints each side's
    per-layer medians side by side."""
    import json

    calls = []

    def run_one(checkout, workload, seed, seconds, trace=0):
        calls.append((checkout, seed, trace))
        value = 3.0 if checkout == "parent-dir" else 2.0
        names = pairs.LAYERS if trace else ("setup_s", "run_s", "op_p50_s", "op_tail_s",
                                            "rows_per_s")
        return {"correct": True, "failed": 0, "attempted": 5,
                "metrics": {m: {"value": value + seed * trace} for m in names}}

    monkeypatch.setattr(pairs, "run_one", run_one)
    out = tmp_path / "pairs.jsonl"
    assert pairs.main(["--parent", "parent-dir", "--change", str(repo_root), "--workload", "a",
                       "--seeds", "1-3", "--out", str(out), "--trace"]) == 0
    change = str(repo_root)
    assert calls[6:] == [("parent-dir", 1, 1), (change, 1, 1), (change, 2, 1),
                         ("parent-dir", 2, 1), ("parent-dir", 3, 1), (change, 3, 1)]
    assert {trace for _, _, trace in calls[:6]} == {0}
    lines = [json.loads(line) for line in out.read_text().splitlines()]
    assert [r["traced"] for r in lines] == [False] * 6 + [True] * 6
    text = capsys.readouterr().out
    assert "== a traced" in text
    rows = {line.split()[0]: line.split()[1:] for line in text.splitlines()
            if line.split() and line.split()[0] in pairs.LAYERS}
    # medians over seeds 1-3: parent 3+2, change 2+2
    assert rows == {name: ["5", "4", "-1"] for name in pairs.LAYERS}

