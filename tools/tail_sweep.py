"""Round-13 tail sweep: plan-health scan over every registered query.

For each registered query, build the formatted plan (no execution
beyond the session-shared eager checkpoints) and grep for the red
flags the optimization guide calls out:

  - ``BatchEvalPython``   row-at-a-time Python UDF (guide §4.1) — expect 0
  - ``ArrowEvalPython``   expected ONLY at the deployed vectorized sites
  - ``CartesianProduct``  non-broadcast cartesian (guide §3.4) — expect 0
  - ``SinglePartition``   exchanges funneling to one task; benign when
                          the input is a partial-agg merge or a bounded
                          aggregated frame, a scale bug when corpus-sized

NOTE: formatted explain lists every node twice (tree + detail), so the
reported occurrence counts are 2x the node counts.

Usage: python tools/tail_sweep.py [sf_dir]
"""
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cassandra_extractor_spark.session import get_spark
from tools.capture_plans import plan_text

import __spark_entry__ as entry


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("tailsweep", shuffle_partitions=8)
    qs = entry.queries()

    flags_by_q = {}
    t0 = time.time()
    for name, fn in qs.items():
        try:
            plan = plan_text(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            flags_by_q[name] = [f"ERROR:{type(e).__name__}"]
            continue
        fl = []
        if "BatchEvalPython" in plan:
            fl.append("BatchEvalPython")
        n_arrow = plan.count("ArrowEvalPython")
        if n_arrow:
            fl.append(f"ArrowEvalPython x{n_arrow}")
        if "CartesianProduct" in plan:
            fl.append("CartesianProduct")
        n_single = plan.count("SinglePartition")
        if n_single:
            fl.append(f"SinglePartitionExchange x{n_single}")
        fl.append(f"ex={plan.count('Exchange')}")
        flags_by_q[name] = fl

    print(f"scanned {len(flags_by_q)} queries in {time.time() - t0:.0f}s", flush=True)
    bad = 0
    for name, fl in sorted(flags_by_q.items()):
        interesting = [f for f in fl if not f.startswith("ex=")]
        if interesting:
            print(f"{name}: {', '.join(fl)}")
            bad += 1
    print(f"\n{bad} queries with non-trivial flags; {len(flags_by_q) - bad} clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
