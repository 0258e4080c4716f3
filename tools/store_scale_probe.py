"""Store-size scaling probe: the incremental stores' core 100 TB
claim is that the PER-BATCH cost of a gate/probe read scales with the
BATCH (and the pruned candidate slice), not with the accumulated
corpus — signatures bucket-join without re-shuffling the store, the
ANN probe is partition-pruned to the probed cells, and ranked BM25
reads a bucket-pruned term slice plus one map-side-combined stats
aggregate.  SCALING.md's other sections scale the QUERY input; this
one scales the STORE under a FIXED batch/query and records
t(x10-store)/t(x1-store) — ≈1 means the claim holds, ≈10 would mean
the batch pays for the corpus.

Expected shape, for honesty: none of the three reads is fully
store-independent — the signature gate's bucket join still scans the
store side (no shuffle, but O(store) scan), BM25's n_docs/avgdl
aggregate scans the doclen stats table, and the ANN probe reads the
probed cells whose population grows with the corpus.  The measured
ratio quantifies how far below linear each read actually sits.

Reuses the derived x1/x10 document tier from ``tools/sf1_probe.py``
(generated on demand) and derives an embeddings tier the same way
(key-shifted copies, deterministically jittered per copy so copies
are not exact duplicates).  Usage: ``python tools/store_scale_probe.py``
(box quiet; median-of-3 per point).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from bench import measure, median, noop  # noqa: E402
from tools.sf1_probe import BASE, FACTORS, ensure_tier  # noqa: E402

SRC = "/root/testdata/sf0.1"


def gen_embeddings(spark: SparkSession, out_dir: str, factor: int) -> None:
    """x``factor`` embeddings: vec_id shifts by 10⁶ per copy; each
    copied vector is deterministically jittered per (copy, dim) —
    ±0.05·((h mod 101)−50)/50 — so copies are decorrelated enough not
    to manufacture duplicate structure, while the value distribution
    stays embedding-like."""
    e = spark.read.parquet(f"{SRC}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    copies = spark.range(factor).select(F.col("id").cast("long").alias("copy"))
    out = e.crossJoin(copies).select(
        (F.col("vec_id") + F.col("copy") * F.lit(1_000_000)).alias("vec_id"),
        F.expr(
            "transform(emb, (x, d) -> x + 0.05 * ((pmod(xxhash64(copy, vec_id, d), 101) - 50) / 50.0))"
        ).alias("emb"),
    )
    out.write.mode("overwrite").parquet(f"{out_dir}/embeddings_tier.parquet")


def main() -> None:
    from cassandra_extractor_spark.operators.dedup import (
        bands_for,
        incremental_dedup_against_store,
        minhash_signatures_for,
        write_signature_store,
    )
    from cassandra_extractor_spark.session import get_spark
    from cassandra_extractor_spark.sources.catalog import load_table
    from cassandra_extractor_spark.streaming import generations
    from cassandra_extractor_spark.streaming.ann_stream import (
        _read_centroids,
        ann_store_topk,
        assign_cells,
        compact_ann_store,
        init_ann_centroids,
    )
    from cassandra_extractor_spark.streaming.posting_stream import (
        bm25_query_against_store,
        build_doclens,
        build_postings,
        write_posting_store,
    )

    spark = get_spark("store-scale-probe", shuffle_partitions=16)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warmed = False
    results: dict[str, dict[str, float]] = {}

    def probe(name: str, tag: str, build) -> None:
        if not warmed:
            # one untimed pass per probe shape absorbs first-touch JIT
            # (without this, the x1 point measures codegen compilation
            # and the ratio reads BELOW 1 — observed 0.8)
            noop(build())
        results.setdefault(name, {})[tag] = median(measure(lambda: noop(build())))

    # the FIXED probe inputs, identical at both store sizes: a 500-doc
    # "arriving batch" (sf0.001 documents, ids shifted clear of every
    # tier) and the embeddings-table query rows
    probe_docs = (
        load_table(spark, "documents", "/root/testdata/sf0.001")
        .select((F.col("doc_id") + F.lit(900_000_000)).alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )
    emb_src = spark.read.parquet(f"{SRC}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    queries = (
        emb_src.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("q_id"), "emb")
        .localCheckpoint(eager=True)
    )
    cent = emb_src.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 26)).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb")
    )

    for tag, factor in FACTORS.items():
        tier = ensure_tier(spark, tag, factor, regen=False)
        emb_marker = os.path.join(BASE, tag, "_EMB_COMPLETE")
        if not os.path.exists(emb_marker):
            gen_embeddings(spark, os.path.join(BASE, tag), factor)
            with open(emb_marker, "w") as f:
                f.write("ok\n")
        docs = spark.read.parquet(f"{tier}/documents.parquet").select(
            "doc_id", "text"
        )
        emb_tier = spark.read.parquet(
            os.path.join(BASE, tag, "embeddings_tier.parquet")
        )

        # --- signature store: fixed batch gate vs store size
        sig_dir = os.path.join(BASE, tag, "sig_store")
        write_signature_store(bands_for(minhash_signatures_for(docs)), sig_dir, n_buckets=16)
        probe(
            "dedup_gate_fixed_batch",
            tag,
            lambda: incremental_dedup_against_store(spark, sig_dir, probe_docs)[0],
        )

        # --- posting store (postings + doc lengths): fixed ranked query vs store size
        post_dir = os.path.join(BASE, tag, "posting_store")
        write_posting_store(build_postings(docs), build_doclens(docs), post_dir, n_buckets=16)
        probe("bm25_fixed_query", tag, lambda: bm25_query_against_store(spark, post_dir))

        # --- ANN store: fixed 10-query probe vs store size
        store_dir = os.path.join(BASE, tag, "ann_store")
        if generations.current(store_dir) is None:
            init_ann_centroids(spark, cent, store_dir)
            cells = assign_cells(emb_tier, _read_centroids(spark, store_dir))
            generations.commit_delta(store_dir, 0, {"vectors": cells})
            compact_ann_store(spark, store_dir)
        probe(
            "ann_probe_fixed_queries", tag, lambda: ann_store_topk(spark, store_dir, queries)
        )
        warmed = True

        for d in (sig_dir, post_dir):
            generations.drop(spark, d)

    lines = [
        "## store-size probe — fixed batch/query against a 10× store (round 13)",
        "",
        "The other sections scale the query INPUT; this scales the",
        "STORE under a fixed probe (500-doc batch gate, 3-term ranked",
        "query, 10-query ANN probe) — the incremental-store 100 TB",
        "claim quantified.  ≈1 = the batch never pays for the corpus;",
        "the honest expectation is sub-linear but >1 (the signature",
        "bucket join still SCANS the store side shuffle-free, BM25's",
        "stats aggregate scans the doclen table, probed ANN cells grow",
        "with the corpus).  Generator: `tools/store_scale_probe.py`.",
        "",
        "| read | x1 store (s) | x10 store (s) | ×10-store ratio |",
        "|---|---|---|---|",
    ]
    for name, r in results.items():
        ratio = round(r["x10"] / r["x1"], 2) if r["x1"] > 0 else float("nan")
        lines.append(f"| {name} | {r['x1']} | {r['x10']} | {ratio} |")
    section = "\n".join(lines) + "\n"

    import re

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
    )
    with open(path) as f:
        doc = f.read()
    pat = re.compile(r"## store-size probe[^\n]*\n(?:(?!## ).*\n?)*", re.M)
    doc = pat.sub("", doc).rstrip() + "\n\n" + section
    with open(path, "w") as f:
        f.write(doc)
    print(section)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
