"""Text operators that read the session-shared materialized
token/shingle frames: ns_cms_estimate and ns_boilerplate never re-run
the corpus explode (Catalyst does not dedupe common subplans), and stay
value-identical to their direct-explode spellings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("qname", ["ns_cms_estimate", "ns_boilerplate"])
def test_shared_frame_plans_scan_no_documents_text(spark, sf_dir, qname):
    """Both heavy branches read the session-shared materialized frame —
    the executed plan must never re-tokenize the corpus, i.e. no scan
    of the documents ``text`` column.  (ns_boilerplate keeps ONE
    column-pruned doc_id-only scan for the shingle-less-docs left
    join; ns_cms_estimate has no documents scan at all.)"""
    from cassandra_extractor_spark.registry import QUERIES

    df = QUERIES[qname](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if qname == "ns_cms_estimate":
        assert "documents.parquet" not in plan, plan[:2000]
    else:
        # the doc_id left-join scan survives, pruned to doc_id only
        assert plan.count("documents.parquet") >= 1
        for line in plan.splitlines():
            if "ReadSchema" in line and "documents" in line:
                assert "text" not in line, line
        # and the corpus re-tokenization is gone: no explode anywhere
        assert "explode" not in plan.lower(), plan[:2000]


def test_cms_and_boilerplate_match_from_scratch_spelling(spark, sf_dir):
    """Value-identity against the pre-r13 direct-explode spellings."""
    from cassandra_extractor_spark.operators.dedup import (
        _md5_hash64,
        exploded_shingles,
    )
    from cassandra_extractor_spark.operators.text import (
        BOILERPLATE_MIN_DOCS,
        CMSQ_ROWS,
        CMSQ_TOP,
        CMSQ_WIDTH,
        ns_boilerplate,
        ns_cms_estimate,
        tokens,
    )
    from cassandra_extractor_spark.sources.catalog import load_table

    d = load_table(spark, "documents", sf_dir)
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))

    def bucket(r):
        return F.pmod(_md5_hash64(F.col("tok"), f"cms{r}"), F.lit(CMSQ_WIDTH))

    cells = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(r).alias("r"), bucket(r).alias("b"))
                        for r in range(CMSQ_ROWS)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.r", "cell.b")
        .groupBy("r", "b")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "tok")
        .limit(CMSQ_TOP)
    )
    probes = top.select(
        "tok",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), bucket(r).alias("b"))
                    for r in range(CMSQ_ROWS)
                ]
            )
        ).alias("p"),
    ).select("tok", "true_n", "p.r", "p.b")
    ref_cms = (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("tok", "true_n")
        .agg(F.min("cnt").alias("est_n"))
        .orderBy(F.col("true_n").desc(), "tok")
    )
    assert _rows(ns_cms_estimate(spark, sf_dir)) == _rows(ref_cms)

    sh = exploded_shingles(d).distinct()
    common = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= BOILERPLATE_MIN_DOCS)
        .select("sh", F.lit(1).alias("is_bp"))
    )
    per_doc = (
        sh.join(F.broadcast(common), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(F.when(F.col("is_bp").isNull(), 0).otherwise(1))
            .cast("long")
            .alias("n_bp"),
        )
    )
    ref_bp = (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_sh", F.lit(0)).alias("n_sh"),
            F.coalesce("n_bp", F.lit(0)).alias("n_bp"),
            (
                F.coalesce("n_bp", F.lit(0)) * 2 <= F.coalesce("n_sh", F.lit(0))
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )
    assert _rows(ns_boilerplate(spark, sf_dir)) == _rows(ref_bp)
