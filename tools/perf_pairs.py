"""Paired benchmark runs of two checkouts, and the verdicts on them.

    python3 tools/perf_pairs.py --parent ../parent --change . \\
        --workload incremental_cdc,extract_fanout --seeds 11-20 [--out pairs.jsonl] [--trace]

For every workload (a comma list) and seed, runs ``perfbench/run.py
--trace 0`` once in each checkout, alternating which side runs first,
with the run length that ``BENCHMARK.json`` fixes.  Then prints, per
workload and end-to-end metric, each side's median and quartiles, the
pairs the change won and lost, and the verdict: the change shows a
gain when it wins at least nine tenths of the pairs (ties count for
neither side) and the medians differ, in its favour, by more than the
distance between the parent's quartiles; it is worse in the mirror
case, when the parent wins nine tenths of the pairs and the medians
differ, in the parent's favour, by more than the change's quartile
distance.  Every run's result goes to ``--out`` as one JSON line.

With ``--trace``, it then makes one ``--trace 1`` run per side and
seed, in the same alternating order, and prints each side's median of
the per-layer metrics in ``LAYERS`` side by side, so that the layer
evidence behind a verdict comes from the same checkouts and seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from functools import partial

#: the per-layer metrics ``--trace`` prints: where an op's time and jobs go
LAYERS = ("spark.jobs", "fanout.write_s", "exec.idle_s", "exec.cpu_s", "jvm.peak_rss_mb")


def parse_seeds(spec: str) -> list[int]:
    """``"11-20"`` or ``"1,3,5"`` (or a mix) as a list of seeds."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile)."""
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent: list[float], change: list[float], better: str) -> dict:
    """The pair rule over runs paired by position.  ``better`` is
    ``"lower"`` or ``"higher"``."""
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (p - c) < 0 for p, c in zip(parent, change))
    p1, pmed, p3 = quartiles(parent)
    c1, cmed, c3 = quartiles(change)
    gap = sign * (pmed - cmed)
    return {
        "pairs": len(parent),
        "wins": wins,
        "losses": losses,
        "gap": gap,
        "parent_iqr": p3 - p1,
        "change_iqr": c3 - c1,
        "gain": wins >= 0.9 * len(parent) and gap > p3 - p1,
        "worse": losses >= 0.9 * len(parent) and -gap > c3 - c1,
    }


def run_one(checkout: str, workload: str, seed: int, seconds: float, trace: int = 0) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def run_pairs(sides: dict[str, str], workload: str, seeds: list[int], run, out: str | None,
              traced: bool = False) -> dict[str, list[dict]]:
    """Each side's results of ``run(checkout, workload, seed)`` on
    ``workload``, paired by position."""
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result = run(sides[side], workload, seed)
            runs[side].append(result)
            print(f"[pairs] {workload} seed {seed} {side}{' traced' if traced else ''}: "
                  f"correct={result['correct']} failed={result['failed']}/{result['attempted']}",
                  file=sys.stderr, flush=True)
            if out:
                with open(out, "a", encoding="utf-8") as f:
                    f.write(json.dumps({"workload": workload, "seed": seed, "side": side,
                                        "traced": traced, **result}) + "\n")
    return runs


def report(workload: str, runs: dict[str, list[dict]], metrics: list[dict]) -> None:
    print(f"== {workload}")
    for side, rs in runs.items():
        print(f"{side}: {sum(r['correct'] for r in rs)}/{len(rs)} runs correct, "
              f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)} ops failed")
    print(f"{'metric':<12} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}  won/lost  verdict")
    for m in metrics:
        name = m["name"]
        parent = [r["metrics"][name]["value"] for r in runs["parent"]]
        change = [r["metrics"][name]["value"] for r in runs["change"]]
        v = verdict(parent, change, m["better"])
        cols = ["/".join(f"{x:.4g}" for x in quartiles(xs)) for xs in (parent, change)]
        label = "gain" if v["gain"] else "WORSE" if v["worse"] else "neither"
        print(f"{name:<12} {cols[0]:>28} {cols[1]:>28}  {v['wins']}/{v['losses']} of {v['pairs']}  "
              f"{label} (gap {v['gap']:.4g}, parent IQR {v['parent_iqr']:.4g}, "
              f"change IQR {v['change_iqr']:.4g})")


def report_layers(workload: str, runs: dict[str, list[dict]]) -> None:
    """Each side's median of every metric in ``LAYERS`` over its traced runs."""
    print(f"== {workload} traced")
    for side, rs in runs.items():
        print(f"{side}: {sum(r['correct'] for r in rs)}/{len(rs)} traced runs correct")
    print(f"{'layer':<16} {'parent median':>14} {'change median':>14} {'change - parent':>16}")
    for name in LAYERS:
        parent, change = (statistics.median(r["metrics"][name]["value"] for r in runs[side])
                          for side in ("parent", "change"))
        print(f"{name:<16} {parent:>14.4g} {change:>14.4g} {change - parent:>+16.4g}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True, help="one workload or a comma list")
    p.add_argument("--seeds", required=True)
    p.add_argument("--out")
    p.add_argument("--trace", action="store_true",
                   help="also one traced run per side and seed; print per-layer medians")
    args = p.parse_args(argv)
    with open(os.path.join(args.change, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    sides = {"parent": args.parent, "change": args.change}
    seeds = parse_seeds(args.seeds)
    seconds = bench["run_seconds"]
    for workload in args.workload.split(","):
        runs = run_pairs(sides, workload, seeds, partial(run_one, seconds=seconds), args.out)
        report(workload, runs, bench["end_to_end"])
        if args.trace:
            traced = run_pairs(sides, workload, seeds, partial(run_one, seconds=seconds, trace=1),
                               args.out, traced=True)
            report_layers(workload, traced)
    return 0


if __name__ == "__main__":
    sys.exit(main())
