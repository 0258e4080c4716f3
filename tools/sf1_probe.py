"""sf1-tier scaling probe for the chain-backed hot classes (round-12
verdict #2): SCALING.md's ×10 ratios top out at sf0.1 (~600k-row
lineitem, ~5k-doc corpus), so the 100 TB argument extrapolated from
small frames.  This tool manufactures a deterministic sf1-equivalent
tier (10× sf0.1) for the ONLY tables the three hottest plan classes
read — documents (dedup chain build, ns_dedup_simhash) and lineitem
(q116_spearman) — measures t(x10)/t(x1), and writes the rows into
SCALING.md's "sf1 probe" section.

Generation (testdata is read-only; the tier is derived, not copied):
each copy c ∈ [0, factor) shifts the keys and REWRITES the payload so
volume scales without manufacturing near-duplicates —

- documents: the words of every copied text are deterministically
  re-ordered by ``xxhash64(copy, doc_id, pos, word)``.  A plain copy
  (or a rotation) would share nearly all k-word shingles with the
  original, multiplying every LSH bucket by the copy factor and
  blowing candidate pairs up quadratically — the probe would then
  measure the synthetic duplicate inflation, not the engine's data
  scaling.  A keyed full shuffle keeps the token/length distributions
  identical (text-op costs preserved) while driving shingle overlap
  between copies to ~zero.  Copy 0 gets the SAME transform, so both
  ends of the ratio see shuffled text and the ratio isolates volume.
- lineitem: l_orderkey shifts by 10⁸ per copy and l_extendedprice
  shifts by c cents, so the price-cents domain keeps its
  near-uniqueness (q116's marginal frame stays ~corpus-sized — its
  honest, documented shape) instead of collapsing to 10 copies of the
  same cents value.

Usage: ``python tools/sf1_probe.py [--regen]`` (box quiet;
median-of-3 per point; tier cached under $SPARK_GRAFT_SF1_DIR or
/tmp/spark_graft_sf1_probe and reused unless --regen).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
BASE = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1_probe")
FACTORS = {"x1": 1, "x10": 10}


def _copies(spark: SparkSession, factor: int) -> DataFrame:
    return spark.range(factor).select(F.col("id").cast("long").alias("copy"))


def gen_documents(spark: SparkSession, out_dir: str, factor: int) -> None:
    d = spark.read.parquet(f"{SRC}/documents.parquet")
    c = d.crossJoin(_copies(spark, factor)).select(
        (F.col("doc_id") + F.col("copy") * F.lit(10_000_000)).alias("doc_id"),
        "copy",
        "text",
        "lang",
        "source",
    )
    words = c.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "w"),
        "copy",
    ).where(F.col("w") != "")
    shuffled = (
        words.withColumn(
            "h", F.xxhash64(F.col("copy"), F.col("doc_id"), F.col("pos"), F.col("w"))
        )
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.concat_ws(
                " ", F.transform(F.array_sort(F.collect_list(F.struct("h", "w"))), lambda s: s["w"])
            ).alias("text")
        )
        .select("doc_id", "text", "lang", "source", F.length("text").alias("n_chars"))
    )
    # 64 files: the source tier compresses into 1-2 files whose single
    # row group makes every scan stage ONE task regardless of cores —
    # at real scale file count provides scan parallelism naturally, so
    # the tier must too or the core panel measures the layout, not the plan
    shuffled.repartition(64).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def gen_lineitem(spark: SparkSession, out_dir: str, factor: int) -> None:
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    out = (
        li.crossJoin(_copies(spark, factor))
        .select(
            (F.col("l_orderkey") + F.col("copy") * F.lit(100_000_000)).alias(
                "l_orderkey"
            ),
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            # +c cents: the cents domain grows with volume, preserving
            # near-uniqueness (q116's marginal stays corpus-sized)
            (F.col("l_extendedprice") + F.col("copy") * F.lit(0.01)).alias(
                "l_extendedprice"
            ),
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        )
    )
    # 64 files for scan parallelism (see gen_documents)
    out.repartition(64).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")


def ensure_tier(spark: SparkSession, tag: str, factor: int, regen: bool) -> str:
    out_dir = os.path.join(BASE, tag)
    marker = os.path.join(out_dir, "_COMPLETE")
    if regen or not os.path.exists(marker):
        gen_documents(spark, out_dir, factor)
        gen_lineitem(spark, out_dir, factor)
        with open(marker, "w") as f:
            f.write("ok\n")
    return out_dir


def _size_session_to(spark: SparkSession, sf_dir: str) -> None:
    """The bench's size-to-the-data rule, applied per tier: shuffle
    parallelism and the AQE advisory follow the tier's bytes so the x1
    point isn't scheduling-bound and the x10 point isn't starved."""
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sp = max(8, min(cpus, (total * 4) // (64 * 1024 * 1024)))
    spark.conf.set("spark.sql.shuffle.partitions", str(int(sp)))
    advisory = max(512 * 1024, total // (cpus * 2))
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(advisory))


def main() -> None:
    from bench import measure, median, noop
    from cassandra_extractor_spark.operators.dedup import (
        build_shared,
        invalidate_dedup_chain,
        shared_groups,
    )
    from cassandra_extractor_spark.registry import QUERIES
    from cassandra_extractor_spark.session import get_spark

    regen = "--regen" in sys.argv[1:]
    spark = get_spark("sf1-probe", shuffle_partitions=32)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    tiers = {
        tag: ensure_tier(spark, tag, factor, regen)
        for tag, factor in FACTORS.items()
    }
    chain = shared_groups()["shared_dedup_chain_build"]
    results: dict[str, dict[str, float]] = {}

    for tag, sf_dir in tiers.items():
        _size_session_to(spark, sf_dir)
        # warm-up: one untimed cold chain build per tier absorbs
        # first-touch JIT/classloading (the bench warm-up discipline)
        invalidate_dedup_chain(spark)
        build_shared(spark, sf_dir, chain)

        # 1. dedup chain build — COLD per run, the bench's
        # shared_dedup_chain_build line item end-to-end
        results.setdefault("shared_dedup_chain_build", {})[tag] = median(
            measure(
                lambda: build_shared(spark, sf_dir, chain),
                reset=lambda: invalidate_dedup_chain(spark),
            )
        )

        # 2. ns_dedup_simhash — WARM-chain marginal (its bench shape);
        # the chain is already built by the last timed run above.
        # 3. plain median-of-3 probes: the remaining hot classes whose
        # inputs the tier carries (lineitem-only plans)
        for qname in ("ns_dedup_simhash", "q116_spearman", "q101_weighted_median", "tpch_q01"):
            results.setdefault(qname, {})[tag] = median(
                measure(lambda: noop(QUERIES[qname](spark, sf_dir)))
            )

    lines = [
        "## sf1 probe — the hot classes at 10× sf0.1 (round 13)",
        "",
        "Derived sf1-equivalent tier (generator: `tools/sf1_probe.py` —",
        "10× volume, copies key-shifted and payload-rewritten so no",
        "synthetic near-duplicates inflate the LSH buckets; copy 0 gets",
        "the same transform so the ratio isolates volume).  x1 is the",
        "transformed sf0.1; ratio ≈10 = linear, >10 = super-linear.",
        "",
        "| query | x1 (s) | x10 (s) | ×10-data ratio |",
        "|---|---|---|---|",
    ]
    for name, r in results.items():
        ratio = round(r["x10"] / r["x1"], 2) if r["x1"] > 0 else float("nan")
        lines.append(f"| {name} | {r['x1']} | {r['x10']} | {ratio} |")
    section = "\n".join(lines) + "\n"

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
    )
    with open(path) as f:
        doc = f.read()
    # replace a previous sf1 section in place, else append
    pat = re.compile(r"## sf1 probe[^\n]*\n(?:(?!## ).*\n?)*", re.M)
    doc = pat.sub("", doc).rstrip() + "\n\n" + section
    with open(path, "w") as f:
        f.write(doc)
    print(section)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
