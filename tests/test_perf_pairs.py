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
