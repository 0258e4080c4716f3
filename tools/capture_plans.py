"""Capture .explain("formatted") output for named registry queries into
plans/<round>/<query>_<tag>.txt — the optimization round's plan evidence
(the judge reads these instead of running Spark).

Usage: python tools/capture_plans.py <round_dir> <tag> [query ...]
  round_dir e.g. plans/r13 ; tag e.g. before/after ; with no query
  names, captures the default hot set below.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import noop  # noqa: E402

# the bench's slowest-25 line items (BENCH_r12) that are registry
# queries, plus the shared-build components' consumers
DEFAULT_SET = [
    "tpch_q01",
    "q116_spearman",
    "ns_dedup_simhash",
    "ns_semantic_dedup",
    "ns_assoc_rules",
    "ns_domain_reweight",
    "ns_dsir_select",
    "ns_tablespec_pipeline",
    "q19_multiway_join",
    "ns_sketch_shard_merge",
    "ns_cms_estimate",
    "ns_training_corpus",
    "ns_filter_funnel",
    "q101_weighted_median",
    "ns_lm_fluency_bucket",
    "ns_linear_probe_step",
    "q108_ewma",
    "ns_neardup_embedding",
    "ns_boilerplate",
    "ns_budget_select",
    "ns_gate_agreement",
    "ns_decontaminate",
]


def plan_text(df, executed: bool = False) -> str:
    """``df``'s physical plan as text: the formatted plan Catalyst would
    run, or — ``executed`` — the plan tree after one run through the
    noop sink (post-AQE)."""
    if executed:
        noop(df)
        return df._jdf.queryExecution().executedPlan().toString()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    out_dir = sys.argv[1]
    tag = sys.argv[2]
    names = sys.argv[3:] or DEFAULT_SET
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from cassandra_extractor_spark.registry import QUERIES
    from cassandra_extractor_spark.session import get_spark

    spark = get_spark("capture_plans")
    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan_text(fn(spark, sf_dir)) + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
