"""The two-level money aggregation (``operators/relational.py``): per-
partition LONG micro-unit partials merged through DECIMAL(38,0) instead
of per-input-row non-compact DECIMAL(28,6) buffer updates.  The
respelled tpch_q01 / q13_group_agg / q19_multiway_join stay
value-identical to the one-level decimal spelling, and their plans keep
the property the respelling bought."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_extractor_spark.operators.relational import _money, _t
from cassandra_extractor_spark.operators.tpch import Q1_CUTOFF


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_tpch_q01_matches_one_level_decimal_sum(spark, sf_dir):
    """Value-identity against the pre-r13 one-level decimal spelling
    (sums only — the downstream rounding/div logic is shared code)."""
    from cassandra_extractor_spark.operators.tpch import tpch_q01

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= Q1_CUTOFF)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    ref = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("sq"),
            F.sum(_money(F.col("l_extendedprice"))).alias("sp"),
            F.sum(_money(disc_price)).alias("sdp"),
            F.sum(_money(charge)).alias("sch"),
            F.count("*").cast("long").alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("sq").cast("double").alias("sum_qty"),
            F.round("sp", 2).cast("double").alias("sum_base_price"),
            F.round("sdp", 2).cast("double").alias("sum_disc_price"),
            F.round("sch", 2).cast("double").alias("sum_charge"),
            F.col("n").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    got = tpch_q01(spark, sf_dir).select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "count_order",
    )
    assert _rows(got) == _rows(ref)


def test_q13_q19_match_one_level_decimal_sum(spark, sf_dir):
    from cassandra_extractor_spark.operators.relational import (
        q13_group_agg,
        q19_multiway_join,
    )

    ref13 = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(_money(F.col("l_extendedprice"))), 2)
            .cast("double")
            .alias("sum_price"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    assert _rows(q13_group_agg(spark, sf_dir)) == _rows(ref13)

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    ref19 = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(_money(F.col("l_extendedprice") * (1 - F.col("l_discount")))), 2
            )
            .cast("double")
            .alias("rev")
        )
        .orderBy("n_name")
    )
    assert _rows(q19_multiway_join(spark, sf_dir)) == _rows(ref19)


@pytest.mark.parametrize(
    "qname", ["tpch_q01", "q13_group_agg", "q19_multiway_join"]
)
def test_two_level_money_plan_shape(spark, sf_dir, qname):
    """The optimized plans must carry NO wide-decimal partial sum over
    the input rows: partials are long sums keyed by spark_partition_id;
    only the (groups × partitions)-row merge sums decimal(38,0)."""
    from cassandra_extractor_spark.registry import QUERIES

    df = QUERIES[qname](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SPARK_PARTITION_ID" in plan.upper(), plan[:2000]
    # structural check (ADVICE r13: no paren-count string matching):
    # pull each partial_sum's FULL argument via balanced-paren
    # extraction and classify it.  The two-level spelling's row-level
    # partials are long sums (the micros cast); a reappearing one-level
    # spelling shows up as a partial_sum whose argument is a
    # decimal(18,6) cast with no bigint cast around it.  If the plan
    # printer ever renames partial_sum the extraction comes back empty
    # and the first assert fails loudly instead of silently guarding
    # nothing.
    args, i = [], 0
    while True:
        j = plan.find("partial_sum(", i)
        if j < 0:
            break
        k = j + len("partial_sum(")
        depth, m = 1, k
        while depth and m < len(plan):
            if plan[m] == "(":
                depth += 1
            elif plan[m] == ")":
                depth -= 1
            m += 1
        args.append(plan[k : m - 1])
        i = m
    assert args, "no partial_sum nodes found — plan printer changed?"
    assert any("bigint" in a for a in args), (
        "long micro-unit partials missing:\n" + "\n".join(args)
    )
    for a in args:
        if "decimal(18,6)" in a:
            assert "bigint" in a, (
                "per-row decimal partial sum reappeared: " + a
            )
