"""Run a workload once per seed and report each metric's run-to-run spread.

    python3 perfbench/spread.py --workload extract_fanout --seeds 1-10 --seconds 15 \
        --out .perfbench/spread-extract_fanout.jsonl

Each run's result line is appended to ``--out``.  The spread is the
distance between the first and third quartile of the runs' values as a
share of their median (``stats.quartile_spread``).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="15")
    p.add_argument("--trace", default="0")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    results = []
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            stdout=subprocess.PIPE, text=True, check=True)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        result["seed"] = seed
        results.append(result)
        with open(args.out, "a", encoding="utf-8") as f:
            f.write(json.dumps(result) + "\n")
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    if len(results) >= 2:
        for name in results[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in results]
            mid = statistics.median(values)
            spread = f"{quartile_spread(values):.2%}" if mid else "n/a"
            print(f"{name:20s} median {mid:.4g}  spread {spread}")
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
