"""Declared relational query surface (SURVEY §2.9, Q01–Q32).

Each function takes ``(spark, sf_dir)`` and returns a DataFrame built
with the declarative DataFrame API — Catalyst handles pushdown, join
strategy (broadcast for the small dims here), partial aggregation, and
codegen.  Aliases match the DuckDB oracle SQL exactly (driver compares
by sorted column name).

Reference capability citations are per-query comments; the reference
itself only implements the scan/project/filter/sort/limit/count subset
(S1-S6, P1-P4, O1-O2 — datacrawler.py:133-200,563-564), the rest is the
north-star relational surface every real extraction pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from cassandra_extractor_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def _money(col):
    """Exact-decimal money arithmetic for oracle-stable rounding.

    Source money columns carry ≤4 true decimal digits, so casting the
    double to DECIMAL(18,6) is lossless and never lands on a rounding
    boundary; decimal sums are then order-independent (unlike double
    sums, whose accumulation order differs between engines) and
    ROUND(...,2) agrees bit-for-bit with DuckDB.
    """
    return col.cast("decimal(18,6)")


def _money_micros(col):
    """Exact 1e-6-unit LONG count of ``_money(col)`` — the per-row
    input of the two-level money aggregation (see tpch_q01): partial
    sums accumulate as codegen'd long addition instead of per-row
    non-compact DECIMAL(28,6) buffer updates.  Exact: the decimal
    multiply and the long cast lose nothing (≤ 6 fractional digits by
    the _money contract).  Overflow bound: |micros| ≤ ~1e12 per row ⇒
    one partition's partial stays < 2^63 up to ~9.2e6 max-value
    rows/partition — held by the 64-128 MB scan-split contract for
    scan-side aggregates, but NOT bounded for post-join partitions
    (q19's partial runs over join output).  The enforced failure mode
    is LOUD, not silent: this repo never disables ANSI mode (Spark 4
    default ON), under which a long-sum overflow raises
    ARITHMETIC_OVERFLOW and aborts the query rather than corrupting
    money totals; a skew-blown partition at 100 TB therefore fails the
    job and the fix is repartitioning (or falling back to the one-level
    decimal sum), never a wrong answer.  The single-partition worst
    case at bench scale is pinned by tests/test_optimization_r14.py::
    test_two_level_money_sums_survive_single_partition."""
    return (_money(col) * F.lit(1_000_000)).cast("long")


def _micros_to_money(col):
    """Exact rescale of a DECIMAL(38,0) micro-unit total back to the
    DECIMAL(28,6) a one-level ``F.sum(_money(x))`` would have produced
    (the quotient needs ≤ 6 fractional digits, so the decimal division
    is exact — no rounding boundary exists)."""
    return (col.cast("decimal(38,6)") / F.lit(1_000_000)).cast("decimal(28,6)")


# --- reference-surface queries (direct analogues of SURVEY §2.1-2.4) ---


def q01_projection(spark, sf_dir):
    # P1 column projection (datacrawler.py:135-137)
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


def q02_filter(spark, sf_dir):
    # P2 predicate pushdown (datacrawler.py:138-151)
    return (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


def q03_string_filter(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


def q04_count(spark, sf_dir):
    # S5 row count (datacrawler.py:186-200)
    return _t(spark, sf_dir, "lineitem").agg(F.count("*").alias("cnt"))


def q05_filtered_count(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .agg(F.count("*").alias("cnt"))
    )


def q06_sort_limit(spark, sf_dir):
    # O1 sort pushdown + S6 page cap (datacrawler.py:145-146,563-564)
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def q07_offset_page(spark, sf_dir):
    # S4 cursor/offset paging (datacrawler.py:143,150-151)
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .offset(2000)
        .limit(1000)
    )


def q08_hwm_filter(spark, sf_dir):
    # P3 incremental modified-timestamp high-water mark: ts >= HWM is
    # EXCLUDED (worker.py:194-198)
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("ts") < F.to_timestamp(F.lit("2024-01-15 00:00:00")))
        .select("event_id")
        .orderBy("event_id")
    )


def q09_rename_project(spark, sf_dir):
    # T1 rename + T7 drop (worker.py:110-121,153-155)
    return (
        _t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("full_name"),
        )
        .orderBy("customer_id")
    )


def q10_epoch_millis(spark, sf_dir):
    # T5 timestamp → epoch millis (worker.py:146-148)
    return (
        _t(spark, sf_dir, "events")
        .select("event_id", F.unix_millis("ts").alias("ts_ms"))
        .orderBy("event_id")
    )


def q11_expression(spark, sf_dir):
    # T6 expression column (worker.py:149-150)
    return (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .cast("double")
            .alias("net"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def q12_json_serialize(spark, sf_dir):
    # T8/T10 templated JSON rendering (kafkaworker.py:62-65)
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 50)
        .select(
            "o_orderkey",
            F.concat(
                F.lit('{"id":'),
                F.col("o_orderkey").cast("string"),
                F.lit(',"status":"'),
                F.col("o_orderstatus"),
                F.lit('"}'),
            ).alias("payload"),
        )
        .orderBy("o_orderkey")
    )


# --- extended surface (north-star relational capabilities, SURVEY §2.5) ---


def q13_group_agg(spark, sf_dir):
    # Two-level money sum (optimization r13, same respelling as
    # tpch_q01 — see the comment there): per-partition LONG micro-unit
    # partials, DECIMAL(38,0) merge, exact rescale.  Kills the
    # per-input-row non-compact DECIMAL(28,6) buffer update; values and
    # schema are bit-identical.  sum_qty splits the same way — partial
    # double sums per partition merge once; Spark's one-level partial
    # aggregation already summed per-partition then merged, so the
    # accumulation grouping is unchanged in structure.
    partial = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus", F.spark_partition_id().alias("pid"))
        .agg(
            F.sum("l_quantity").alias("pq"),
            F.sum(_money_micros(F.col("l_extendedprice"))).alias("pm"),
            F.count("*").alias("pc"),
        )
    )
    return (
        partial.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("pq").alias("sum_qty"),
            F.round(_micros_to_money(F.sum(F.col("pm").cast("decimal(38,0)"))), 2)
            .cast("double")
            .alias("sum_price"),
            F.sum("pc").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q14_having(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 20)
        .orderBy("o_custkey")
    )


def q15_inner_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "inner")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
        .orderBy("c_custkey")
    )


def q16_left_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
        .orderBy("c_custkey")
    )


def q17_semi_join(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 49)
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .select("p_partkey")
        .orderBy("p_partkey")
    )


def q18_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


def q19_multiway_join(spark, sf_dir):
    # TPC-H Q5 shape; nation is tiny → Catalyst broadcasts it (AQE).
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    # Two-level money sum over the join output (optimization r13, same
    # respelling as tpch_q01): the revenue partials accumulate as LONG
    # micro units per (nation, post-join partition), merge through
    # DECIMAL(38,0) — identical value, no per-row BigDecimal buffer.
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    partial = joined.groupBy("n_name", F.spark_partition_id().alias("pid")).agg(
        F.sum(
            _money_micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("pm")
    )
    return (
        partial.groupBy("n_name")
        .agg(
            F.round(
                _micros_to_money(F.sum(F.col("pm").cast("decimal(38,0)"))), 2
            )
            .cast("double")
            .alias("rev")
        )
        .orderBy("n_name")
    )


def q20_distinct(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .distinct()
        .orderBy("o_orderpriority")
    )


def q21_count_distinct(spark, sf_dir):
    return _t(spark, sf_dir, "orders").agg(F.countDistinct("o_custkey").alias("cd"))


def q22_window_rank(spark, sf_dir):
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


def q23_window_running_sum(spark, sf_dir):
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 100)
        .select(
            "o_orderkey",
            F.round(F.sum(_money(F.col("o_totalprice"))).over(w), 2).cast("double").alias("run"),
        )
        .orderBy("o_orderkey")
    )


def q24_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.union(s).distinct().orderBy("k")


def q25_except(spark, sf_dir):
    n = _t(spark, sf_dir, "nation").select("n_nationkey")
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    # SQL EXCEPT has DISTINCT semantics → DataFrame.subtract
    return n.subtract(c).orderBy("n_nationkey")


def q26_rollup(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("s"))
        .orderBy(F.col("l_returnflag").asc_nulls_last(), F.col("l_linestatus").asc_nulls_last())
    )


def q27_dedup(spark, sf_dir):
    # deterministic dropDuplicates analogue (north-star exact dedup)
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.min("o_orderkey").alias("first_order"))
        .orderBy("o_custkey")
    )


def q28_date_funcs(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 200)
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
        )
        .orderBy("o_orderkey")
    )


def q29_string_funcs(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 200)
        .select(
            "c_custkey",
            F.upper("c_name").alias("name_upper"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.length("c_mktsegment").cast("long").alias("seg_len"),
        )
        .orderBy("c_custkey")
    )


def q30_case(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("l_discount") > 0.05, "HI").otherwise("LO").alias("d"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def range_join_pairs(events: DataFrame, window_sec: int = 60) -> DataFrame:
    """Same-user event pairs with ``ts2`` in ``[ts1, ts1 + window]`` —
    time-bucketed so the join intermediate is bounded per (user, bucket)
    even under key skew.

    A plain equi-join on user_id with the range as a post-filter is
    O(n²) in each user's event count *before* the filter — one hot user
    (bot traffic) blows up the intermediate at scale.  Bucketing the
    join key by ``window_sec`` bounds each probe row to its own and the
    adjacent bucket: the intermediate is Σ n(user,bkt)·n(user,bkt±1),
    linear in rows for any fixed event rate, regardless of how many
    total events one user has.

    The probe side explodes into (bucket, bucket+1) — the window spans
    at most two buckets — and each build row carries exactly one
    bucket, so a qualifying pair matches exactly once (no distinct
    needed).  2× probe-side shuffle volume buys a skew-proof plan.
    """
    usec = window_sec * 1_000_000
    bucket = F.floor(F.unix_micros(F.col("ts")) / F.lit(usec))
    a = (
        events.select(
            F.col("user_id").alias("u"),
            F.col("event_id").alias("e1"),
            F.col("ts").alias("ts1"),
            bucket.alias("bk0"),
        )
        .withColumn("bk", F.explode(F.array(F.col("bk0"), F.col("bk0") + 1)))
        .drop("bk0")
    )
    b = events.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("e2"),
        F.col("ts").alias("ts2"),
        bucket.alias("bk"),
    )
    return a.join(b, ["u", "bk"]).where(
        (F.col("e1") != F.col("e2"))
        & (F.col("ts2") >= F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr(f"INTERVAL {window_sec} SECOND"))
    )


def q33_range_join(spark, sf_dir):
    """Range (non-equi) join: same-user event pairs within a 1-minute
    window, via the skew-bounded time-bucketed plan
    (``range_join_pairs``)."""
    return (
        range_join_pairs(_t(spark, sf_dir, "events"), window_sec=60)
        .select("e1", "e2")
        .orderBy("e1", "e2")
    )


def q34_asof_join(spark, sf_dir):
    """As-of join: each event gets the most recent prior 'purchase'
    timestamp of the same user.

    Implemented as a single-pass running max over a window — one
    shuffle+sort by (user_id, ts), no self-join; the formulation that
    survives 100 TB (the naive as-of self-join is O(n²) per key)."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prior_purchase = F.max(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.unix_millis(prior_purchase).alias("asof_purchase_ms"),
        )
        .orderBy("event_id")
    )


def q35_time_bucket(spark, sf_dir):
    """Daily rollup of the event stream (hypertable-style time bucket)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.unix_millis(F.date_trunc("day", F.col("ts"))).alias("day_ms"))
        .agg(
            F.count("*").alias("c"),
            F.round(F.sum(_money(F.col("value"))), 2).cast("double").alias("s"),
        )
        .orderBy("day_ms")
    )


def q36_cube(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("s"))
        .orderBy(F.col("l_returnflag").asc_nulls_last(), F.col("l_linestatus").asc_nulls_last())
    )


def q37_grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
        """
    )


def q38_approx_distinct(spark, sf_dir):
    """HLL approximate distinct with an ACCURACY-CONTRACT oracle: the
    sketches themselves are engine-specific (Spark HLL++ vs DuckDB
    HyperLogLog — bit comparison is meaningless), so the checked
    contract is what a user actually relies on: the exact NDV, plus a
    boolean asserting each engine's estimate lands within ±5 % of it
    (Spark runs at rsd=0.01, ~3σ ≈ 3 %; DuckDB's error is <1 %).
    Both engines evaluate their OWN estimate against the same band, so
    the row hashes match iff both sketches honor the contract — which
    turns the one formerly rows-only registry entry fully green
    without pretending sketch equality.

    One-scan shape: mixing COUNT(DISTINCT) with another aggregate
    triggers Spark's Expand-based distinct rewrite (every input row
    duplicated per aggregate group).  Instead the keys are deduped
    first (map-side-combined partial aggregate — the standard
    distributed distinct) and BOTH the exact count and the HLL run
    over the distinct keys: HLL register updates are max-based, hence
    duplicate-insensitive, so inserting each key once yields the
    identical sketch and estimate as inserting every occurrence.
    """
    keys = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    wide = keys.agg(
        F.count("*").cast("long").alias("n_exact"),
        F.approx_count_distinct("o_custkey", rsd=0.01).cast("long").alias("n_approx"),
    )
    return wide.select(
        "n_exact",
        (F.abs(F.col("n_approx") - F.col("n_exact")) * 100 <= 5 * F.col("n_exact"))
        .alias("approx_within_5pct"),
    )


def q39_exists_subquery(spark, sf_dir):
    """Correlated EXISTS — Catalyst decorrelates to a semi join (no
    per-row subquery execution)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v39")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v39")
    return spark.sql(
        """
        SELECT c_custkey FROM customer_v39 c
        WHERE EXISTS (SELECT 1 FROM orders_v39 o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        ORDER BY c_custkey
        """
    )


def q40_scalar_subquery(spark, sf_dir):
    """Scalar subquery: orders above the global average price (the
    subquery runs once; its result is broadcast into the filter)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v40")
    return spark.sql(
        """
        SELECT o_orderkey FROM orders_v40
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders_v40)
        ORDER BY o_orderkey
        """
    )


def q41_cte(spark, sf_dir):
    """CTE + join + top-k: revenue per supplier (TPC-H Q15 shape)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v41")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v41")
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey,
                 CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_rev
          FROM lineitem_v41 GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_rev
        FROM revenue r JOIN supplier_v41 s ON s.s_suppkey = r.l_suppkey
        ORDER BY r.total_rev DESC, s.s_suppkey LIMIT 20
        """
    )


def q42_pivot(spark, sf_dir):
    """Pivot: order counts per status column, one row per priority.
    The oracle spells it as FILTERed aggregates — same result."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


def q43_unpivot(spark, sf_dir):
    """Unpivot via stack(): wide customer/supplier balances → long."""
    n = _t(spark, sf_dir, "nation")
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.round(F.sum(_money(F.col("c_acctbal"))), 2).cast("double").alias("cust_bal"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.round(F.sum(_money(F.col("s_acctbal"))), 2).cast("double").alias("supp_bal"))
    )
    wide = (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .join(s, n.n_nationkey == s.s_nationkey, "left")
        .select("n_nationkey", "cust_bal", "supp_bal")
    )
    return (
        wide.select(
            "n_nationkey",
            F.expr("stack(2, 'customer', cust_bal, 'supplier', supp_bal) AS (side, bal)"),
        )
        .where(F.col("bal").isNotNull())
        .orderBy("n_nationkey", "side")
    )


def q44_percentile(spark, sf_dir):
    """Exact interpolating percentiles (p50/p95/p99) from integer-cent
    order statistics — engine-portable where the native ``percentile()``
    is not: Spark interpolates ``lo·(1−f)+hi·f`` while DuckDB's
    ``quantile_cont`` computes ``lo+(hi−lo)·f``, and the two float
    spellings differ by one ulp exactly on a .5 rounding boundary
    (found by the round-11 differential run: p50 of a corpus whose
    middle pair is {1.82, 1613.07} is 807.445 — one engine produces
    807.4449999999999 — so round(…, 2) flips 807.45 vs 807.44).  Here
    pos = p·(n−1)/100 stays RATIONAL: integer lo-index and remainder,
    the interpolated value in exact cents/100 units
    v = c_lo·(100−rem)+c_hi·rem, and the 2-dp rounding is divr (half
    away from zero, PARITY #7) — no float touches the value until the
    final exact /100.

    Scale shape (also retires q44's one weakness): native
    ``percentile()`` buffers the whole column in ONE aggregation
    buffer; this spelling reduces to the distinct-cents count frame
    (map-side combined) with a two-level prefix sum (cumulative window
    over the tiny per-bucket totals, which also carries n; in-bucket
    local prefix over domain-bounded slices — the q116/q101
    discipline) and one conditional aggregate to a single row.  The
    discrete sibling (q44b) keeps the mergeable-sketch spelling.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    cf = o.groupBy("c").agg(F.count("*").alias("cnt"))
    bkt = F.floor(F.col("c") / F.lit(float(2**20)))
    # bucket totals + n from the corpus directly (cf stays
    # single-referenced — the q116 no-checkpoint discipline); n rides
    # the tiny bucket frame as an unpartitioned window over ≤|buckets|
    # rows, so no plan-time job and no second reference anywhere
    btot = o.groupBy(bkt.alias("bkt")).agg(F.count("*").alias("bc"))
    bw = W.orderBy("bkt")
    before_bkt = btot.select(
        "bkt",
        (F.sum("bc").over(bw) - F.col("bc")).alias("before_bkt"),
        F.sum("bc").over(W.partitionBy()).alias("n"),
    )
    lw = W.partitionBy("bkt").orderBy("c")
    ranked = (
        cf.withColumn("bkt", bkt)
        .join(F.broadcast(before_bkt), "bkt")
        .withColumn(
            "before", F.col("before_bkt") + F.sum("cnt").over(lw) - F.col("cnt")
        )
    )

    def cover(k):  # the one count-frame row whose index range holds k
        return (F.col("before") <= k) & (k < F.col("before") + F.col("cnt"))

    aggs = [F.first("n").alias("n")]
    for p in (50, 95, 99):
        lo = F.expr(f"div({p} * (n - 1), 100)")
        aggs += [
            F.max(F.when(cover(lo), F.col("c"))).alias(f"lo{p}"),
            F.max(F.when(cover(lo + 1), F.col("c"))).alias(f"hi{p}"),
        ]
    one = ranked.agg(*aggs)
    vs = []
    for p in (50, 95, 99):
        rem = F.expr(f"({p} * (n - 1)) % 100")
        # rem == 0 ⇒ the hi order statistic may not exist (n == 1 or an
        # exact index hit) and carries weight 0 anyway
        vs.append(
            F.when(rem == 0, F.col(f"lo{p}") * 100)
            .otherwise(F.col(f"lo{p}") * (100 - rem) + F.col(f"hi{p}") * rem)
            .alias(f"v{p}")
        )
    return one.select(*vs).select(
        *[
            (F.expr(divr_sql(f"v{p}", "100")).cast("double") / F.lit(100.0)).alias(
                name
            )
            for p, name in ((50, "p50"), (95, "p95"), (99, "p99"))
        ]
    )


def q44b_quantile_disc(spark, sf_dir):
    """Discrete quantiles via the mergeable GK sketch
    (``percentile_approx``) — the 100 TB spelling of q44: partial
    sketches merge map-side, nothing buffers a whole column on one
    reducer (the exact ``percentile()`` in q44 does, bounded only by
    this being a single global agg).  Max accuracy makes the sketch
    exact here (== DuckDB ``quantile_disc``, verified incl. doubles);
    production dials accuracy down (e.g. 10⁴) for O(accuracy) memory
    with rank error ≤ N/accuracy."""
    return _t(spark, sf_dir, "orders").agg(
        F.percentile_approx("o_totalprice", 0.5, 2147483647).alias("p50"),
        F.percentile_approx("o_totalprice", 0.95, 2147483647).alias("p95"),
        F.percentile_approx("o_totalprice", 0.99, 2147483647).alias("p99"),
    )


def q45_stats(spark, sf_dir):
    """Statistical aggregates. Moment merges accumulate in partition
    order, so results are rounded to partition-robust precision.

    All four outputs derive from EXACT decimal sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) instead of the native moment
    aggregates, for three reasons found by the round-7b differential
    expansion (PARITY #12 follow-ups): (a) Spark 4's ANSI ``corr``
    throws DIVIDE_BY_ZERO when either variance is 0 (DuckDB returns
    NULL); (b) native co-moment merges are partition-order-dependent,
    splitting the last rounded decimal on hostile cancelling inputs —
    the found case was ``round(avg)`` emitting +0.0 on Spark and −0.0
    on DuckDB over an exactly-cancelling price column; (c) mean/var
    are rounded RATIONALS of cents, divergence #7's .5-boundary
    class.  Money is exact in DECIMAL(18,2), the key in
    DECIMAL(18,0), so every sufficient statistic is bit-identical on
    both engines; only the final sqrt/divide runs in doubles — over
    identical inputs — and the rounding is the pure-IEEE
    ``floor(x·10ᵏ + 0.5)/10ᵏ`` (identical doubles floor identically,
    and floor emits +0.0, never −0.0).
    """
    x = F.col("o_totalprice").cast("decimal(18,2)")
    y = F.col("o_custkey").cast("decimal(18,0)")
    stats = _t(spark, sf_dir, "orders").agg(
        F.count("*").cast("decimal(18,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    nd = n.cast("double")
    var = denx / (nd * (nd - 1))
    cr = num / (F.sqrt(denx) * F.sqrt(deny))

    def _f(col, k: int):
        return F.floor(col * (10**k) + F.lit(0.5)) / F.lit(float(10**k))

    return stats.select(
        F.when(n >= 2, _f(F.sqrt(var), 2)).alias("sd"),
        F.when(n >= 2, _f(var, 0)).alias("vr"),
        F.when((n >= 2) & (denx > 0) & (deny > 0), _f(cr, 6)).alias("cr"),
        F.when(n >= 1, _f(F.col("sx").cast("double") / nd, 2)).alias("mean"),
    )


def q46_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4): monthly calendar spine left-joined to
    order counts — empty months appear with 0."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v46")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01 00:00:00'
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months
          WHERE m < TIMESTAMP '2001-08-01 00:00:00'
        ),
        oc AS (
          SELECT date_trunc('month', o_orderdate) AS mo, COUNT(*) AS n
          FROM orders_v46 GROUP BY date_trunc('month', o_orderdate)
        )
        SELECT date_format(m, 'yyyy-MM') AS month, COALESCE(n, 0) AS n
        FROM months LEFT JOIN oc ON oc.mo = months.m
        ORDER BY month
        """
    )


def q47_regex_funcs(spark, sf_dir):
    """Regex function breadth (extract/replace/count) — dialect kept to
    the RE2/Java-compatible subset so both engines agree."""
    return (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 300)
        .select(
            "c_custkey",
            F.regexp_extract("c_name", r"(\d+)", 1).alias("name_num"),
            F.regexp_replace("c_name", r"[0-9]", "#").alias("masked"),
            F.regexp_count("c_name", F.lit(r"[0-9]")).cast("long").alias("digits"),
        )
        .orderBy("c_custkey")
    )


def q48_null_funcs(spark, sf_dir):
    """NULL-handling breadth: nullif/coalesce/greatest/least/is-checks."""
    return (
        _t(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            F.nullif(F.col("s_nationkey").cast("int"), F.lit(0)).alias("nk_nullable"),
            F.coalesce(
                F.nullif(F.col("s_nationkey").cast("int"), F.lit(0)), F.lit(-1)
            ).alias("nk_filled"),
            F.greatest(F.col("s_acctbal"), F.lit(0.0)).alias("bal_floor"),
            F.least(F.col("s_acctbal"), F.lit(5000.0)).alias("bal_cap"),
            F.col("s_acctbal").isNull().cast("boolean").alias("bal_is_null"),
        )
        .orderBy("s_suppkey")
    )


def q31_json_extract(spark, sf_dir):
    # T2 JSON parsing analogue on events.props (worker.py:136-137)
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .orderBy("event_id")
    )


def q32_event_agg(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("c"),
            F.round(F.sum(_money(F.col("value"))), 2).cast("double").alias("s"),
        )
        .orderBy("event_type")
    )


def q49_intersect(spark, sf_dir):
    """Set op INTERSECT (completes union/except coverage of SURVEY
    §2.5). Catalyst plans this as a distinct + left-semi hash join."""
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    return s.intersect(c).orderBy("nk")


def q50_lag_lead(spark, sf_dir):
    """lag/lead analytic windows — partitioned by customer so the
    shuffle key matches the grouping key and no global sort is needed."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_orderkey").over(w).alias("prev_ok"),
            F.lead("o_orderkey").over(w).alias("next_ok"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def q51_conditional_agg(spark, sf_dir):
    """Conditional aggregation (sum-CASE + count_if) — a single
    shuffle-free partial agg per status split, no self-join."""
    o = _t(spark, sf_dir, "orders")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_orderstatus") == "F").alias("n_f"),
            F.round(
                F.sum(
                    F.when(F.col("o_orderstatus") == "F", _money(F.col("o_totalprice"))).otherwise(zero)
                ),
                2,
            )
            .cast("double")
            .alias("rev_f"),
            F.round(
                F.sum(
                    F.when(F.col("o_orderstatus") == "O", _money(F.col("o_totalprice"))).otherwise(zero)
                ),
                2,
            )
            .cast("double")
            .alias("rev_o"),
        )
        .orderBy("o_orderpriority")
    )


def q52_string_agg(spark, sf_dir):
    """Ordered string aggregation: collect_list is partial-aggregated
    map-side; sort_array gives a deterministic, partitioning-independent
    ordering (equivalent to DuckDB string_agg ... ORDER BY)."""
    return (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 500)
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_list("c_name"))).alias("names"),
            F.count("*").alias("n"),
        )
        .orderBy("c_nationkey")
    )


def q53_ntile(spark, sf_dir):
    """Distribution windows: ntile / percent_rank / cume_dist. The
    window is global, so the input is pre-limited; at 100 TB this shape
    runs per-partition-key (see q22/q50), never globally."""
    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("o_orderkey")
    )


def q54_date_arith(spark, sf_dir):
    """Date arithmetic breadth: add-days, day-diff, last-of-month —
    all codegen'd JVM-side date intrinsics."""
    d = F.col("o_orderdate").cast("date")
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 300)
        .select(
            "o_orderkey",
            F.date_add(d, 30).alias("due"),
            F.datediff(F.lit("1998-01-01").cast("date"), d).cast("long").alias("age_days"),
            F.last_day(d).alias("eom"),
        )
        .orderBy("o_orderkey")
    )


def q55_range_frame(spark, sf_dir):
    """RANGE window frame: ties on the order key share the running
    value (vs q23's ROWS frame), so the result is deterministic even
    with duplicate timestamps."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum(_money(F.col("o_totalprice"))).over(w), 2)
            .cast("double")
            .alias("run_range"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def q65_schema_evolution_union(spark, sf_dir):
    """Schema-evolution merge: unionByName(allowMissingColumns=True)
    aligns two snapshot schemas by name and NULL-fills the gaps — how
    corpus versions with drifted columns combine without a migration."""
    c = _t(spark, sf_dir, "customer")
    v1 = (
        c.where(F.col("c_custkey") <= 100)
        .select("c_custkey", "c_name")
        .withColumn("src", F.lit("v1"))
    )
    v2 = (
        c.where(F.col("c_custkey").between(50, 150))
        .select("c_custkey", "c_mktsegment")
        .withColumn("src", F.lit("v2"))
    )
    return v1.unionByName(v2, allowMissingColumns=True).orderBy("c_custkey", "src")


def q64_regression(spark, sf_dir):
    """Per-group linear-regression aggregates (value drift over time).
    Slope is rescaled to per-hour and rounded: double moment sums
    accumulate in partition order, so the last bits differ between
    engines — round-4 on an O(1) quantity absorbs that while staying a
    real trend measure."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.unix_millis("ts").cast("double").alias("x"), F.col("value").alias("y")
    )
    per_hour = F.lit(3_600_000.0)
    return (
        ev.groupBy("event_type")
        .agg(
            # + 0.0 on both: slope/intercept signs come from cancelling
            # co-moment sums accumulated in engine-specific order
            # (PARITY #10 / round-7 audit)
            (F.round(F.expr("regr_slope(y, x)") * per_hour, 4) + F.lit(0.0)).alias(
                "slope_per_hour"
            ),
            (F.round(F.expr("regr_intercept(y, x)"), 2) + F.lit(0.0)).alias(
                "intercept"
            ),
            F.expr("regr_count(y, x)").cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


def q63_sliding_window(spark, sf_dir):
    """Time-based sliding aggregate: events per user in the trailing
    hour, via a RANGE frame over epoch millis — the batch analogue of a
    streaming sliding window (one shuffle+sort per user, no self-join).
    """
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_ms"))
        .rangeBetween(-3_600_000, 0)
    )
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") <= 50)
        .select("user_id", "event_id", F.unix_millis("ts").alias("ts_ms"))
        .select(
            "user_id",
            "event_id",
            "ts_ms",
            F.count("*").over(w).alias("n_trailing_1h"),
        )
        .orderBy("user_id", "ts_ms", "event_id")
    )


def q62_histogram(spark, sf_dir):
    """Fixed-width histogram: bucket arithmetic inline (floor division
    is engine-portable; width_bucket is not), one partial+final agg."""
    b = F.floor(F.col("o_totalprice") / 60000).cast("long")
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(b.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


def q61_json_keys(spark, sf_dir):
    """JSON introspection: the key set of a semi-structured column
    (T2-family breadth beyond q31's field extraction)."""
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("event_id") <= 500)
        .select(
            "event_id",
            F.array_join(F.sort_array(F.json_object_keys("props")), ",").alias("keys"),
        )
        .orderBy("event_id")
    )


def q59_except_all(spark, sf_dir):
    """EXCEPT ALL (bag semantics — q25 is the DISTINCT variant):
    multiplicity-aware subtraction, planned as an aggregate on counts
    rather than a per-row loop."""
    a = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    b = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"))
    )
    # per-key multiplicity difference as an aggregate, grouped once
    return a.exceptAll(b).groupBy("k").agg(F.count("*").alias("n")).orderBy("k")


def q60_not_exists(spark, sf_dir):
    """Correlated NOT EXISTS — Catalyst decorrelates to a left-anti
    join (complement of q39's EXISTS→semi)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v60")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v60")
    return spark.sql(
        """
        SELECT c_custkey FROM customer_v60 c
        WHERE NOT EXISTS (SELECT 1 FROM orders_v60 o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        ORDER BY c_custkey
        """
    )


def q57_array_funcs(spark, sf_dir):
    """Array-function breadth over the embedding column: size,
    element_at, left-fold sum, max. The fold matches DuckDB
    list_reduce bit-for-bit (0.0+e1 == e1, then identical
    left-to-right double accumulation)."""
    return (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") <= 100)
        .select(
            "vec_id",
            F.size("embedding").cast("long").alias("n_dim"),
            F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_d"),
            F.round(
                F.aggregate(
                    "embedding", F.lit(0.0), lambda a, x: a + x.cast("double")
                ),
                6,
            ).alias("total"),
            F.round(F.array_max("embedding").cast("double"), 6).alias("mx"),
        )
        .orderBy("vec_id")
    )


def q58_explode(spark, sf_dir):
    """Lateral explode with position (posexplode ↔ per-index subscript):
    array columns flatten to rows without any shuffle — the explode
    runs inside the scan stage."""
    return (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") <= 20)
        .select("vec_id", F.posexplode(F.slice("embedding", 1, 3)).alias("pos", "val"))
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.round(F.col("val").cast("double"), 6).alias("val"),
        )
        .orderBy("vec_id", "dim")
    )


def q56_first_last(spark, sf_dir):
    """first_value/last_value over a full-partition frame — each
    customer's chronologically first and last order key."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_ok"),
            F.last("o_orderkey").over(w).alias("last_ok"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def q66_grouped_median(spark, sf_dir):
    """Per-group discrete median (mergeable sketch, max accuracy):
    the grouped counterpart of q44b.  percentile_approx at maximum
    accuracy returns an exact order statistic — equality with DuckDB
    ``quantile_disc`` is pinned by the tie-structure unit test — and
    the sketch merges partial-then-final like any algebraic aggregate,
    so the plan is one map-side-combined HashAggregate (no per-group
    sort, no value buffering)."""
    from cassandra_extractor_spark.sources.catalog import load_table

    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_quantity", F.lit(0.5), F.lit(2147483647)).alias(
                "median_qty"
            ),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


def q67_grouped_mode(spark, sf_dir):
    """Deterministic grouped mode: most frequent o_orderstatus per
    o_orderpriority, ties broken by the smallest status value (Spark's
    built-in ``mode()`` is non-deterministic on ties, so the portable
    spelling is count + ROW_NUMBER — two map-side-combined shuffles on
    bounded-cardinality keys)."""
    from pyspark.sql import Window as W

    from cassandra_extractor_spark.sources.catalog import load_table

    o = load_table(spark, "orders", sf_dir)
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(F.count("*").alias("n"))
    w = W.partitionBy("o_orderpriority").orderBy(F.col("n").desc(), "o_orderstatus")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("o_orderpriority", F.col("o_orderstatus").alias("mode_status"), "n")
        .orderBy("o_orderpriority")
    )


def q68_fuzzy_join(spark, sf_dir):
    """Edit-distance fuzzy self-join: customer-name pairs within
    levenshtein distance 2 (the relational counterpart of the Solr
    ``field:term~N`` mapping in functions/solr.py — same function, same
    integer semantics on both engines).

    Scale note: the bounded key range here makes the verification
    cross join small (broadcast); a production fuzzy join NEVER runs
    all-pairs — block first (length/prefix buckets or this repo's LSH
    candidates), then apply levenshtein only within blocks."""
    from cassandra_extractor_spark.sources.catalog import load_table

    c = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_custkey") <= 100)
        .select("c_custkey", "c_name")
    )
    a = c.select(F.col("c_custkey").alias("k1"), F.col("c_name").alias("n1"))
    b = c.select(F.col("c_custkey").alias("k2"), F.col("c_name").alias("n2"))
    dist = F.levenshtein(F.col("n1"), F.col("n2"))
    return (
        a.crossJoin(F.broadcast(b))
        .where((F.col("k1") < F.col("k2")) & (dist <= 2))
        .select("k1", "k2", dist.cast("long").alias("dist"))
        .orderBy("k1", "k2")
    )


def q69_median_abs_dev(spark, sf_dir):
    """Robust dispersion: MAD = median(|x - median(x)|) — two chained
    discrete medians, each a mergeable percentile_approx sketch at max
    accuracy (exact order statistic; equality with DuckDB
    ``quantile_disc`` pinned by the tie-structure test).  The inner
    median broadcasts as one row; no sort, no value buffering."""
    from cassandra_extractor_spark.sources.catalog import load_table

    li = load_table(spark, "lineitem", sf_dir).select("l_quantity")
    med = li.agg(
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(2147483647)).alias("med")
    )
    return (
        li.join(F.broadcast(med))
        .agg(
            F.first("med").alias("median_qty"),
            F.percentile_approx(
                F.abs(F.col("l_quantity") - F.col("med")), F.lit(0.5), F.lit(2147483647)
            ).alias("mad"),
        )
    )


def q70_equidepth_hist(spark, sf_dir):
    """Equi-depth (decile) histogram: boundaries from ONE mergeable
    percentile sketch (broadcast as a single row), bucket assignment is
    a codegen'd comparison fold — never the ntile/global-sort spelling,
    which serializes the corpus through one partition.  Decile equality
    with DuckDB ``quantile_disc`` is pinned by the tie-structure test."""
    from cassandra_extractor_spark.sources.catalog import load_table

    o = load_table(spark, "orders", sf_dir).select("o_totalprice")
    ps = [i / 10.0 for i in range(1, 10)]
    th = o.agg(
        F.percentile_approx(
            "o_totalprice", F.array(*[F.lit(p) for p in ps]), F.lit(2147483647)
        ).alias("th")
    )
    bucket = sum(
        F.when(F.col("o_totalprice") > F.element_at("th", i + 1), 1).otherwise(0)
        for i in range(9)
    )
    return (
        o.join(F.broadcast(th))
        .select(bucket.cast("long").alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


def q71_fill_forward(spark, sf_dir):
    """Gap-fill / forward-fill: carry the last known non-NULL reading
    forward within each user's event timeline — the standard telemetry
    repair for intermittent sensors (here: ``value`` is treated as
    missing on error events).

    Spark spelling is ``last(ignorenulls=True)`` over a running ROWS
    frame — a single per-user window, so the work is partition-parallel
    on user_id with no global sort; at 100 TB this is one shuffle on
    the fill key, the same shape as any sessionization pass.  DuckDB
    mirrors it with ``last_value(... IGNORE NULLS)``.
    """
    from cassandra_extractor_spark.sources.catalog import load_table

    e = load_table(spark, "events", sf_dir)
    v = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            v.alias("v_raw"),
            F.last(v, ignorenulls=True).over(w).alias("v_filled"),
        )
        .orderBy("event_id")
    )


def q72_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase): a user
    counts at step N only with an event strictly AFTER their step-N-1
    time — the product-analytics staple that a bare per-type count
    gets wrong (unordered events inflate conversion).

    Scale shape: each step is a filtered min-aggregation on user_id
    joined to the previous step's row — all shuffles share the
    user_id key, so AQE coalesces them into one exchange lineage; no
    windows over the full event stream, no collect.  Step counts are
    three one-row aggregates unioned.
    """
    from cassandra_extractor_spark.sources.catalog import load_table

    e = load_table(spark, "events", sf_dir).select("user_id", "event_type", "ts")
    u1 = e.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    u2 = (
        e.where(F.col("event_type") == "click")
        .join(u1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    u3 = (
        e.where(F.col("event_type") == "purchase")
        .join(u2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def step(n, name, df):
        return df.agg(
            F.lit(n).cast("long").alias("step"),
            F.lit(name).alias("step_name"),
            F.count("*").cast("long").alias("n_users"),
        )

    return (
        step(1, "view", u1)
        .unionAll(step(2, "click_after_view", u2))
        .unionAll(step(3, "purchase_after_click", u3))
        .orderBy("step")
    )


RETENTION_MAX_OFFSET = 7  #: days tracked after a user's first activity


def q73_retention_cohorts(spark, sf_dir):
    """Cohort retention: users grouped by first-activity date; for each
    cohort and day offset 0..7, how many distinct users were active —
    the triangle chart behind every retention dashboard.

    Scale shape: the cohort map is one min-aggregation on user_id; the
    activity join shares that key; the final distinct-count groups on
    (cohort_day, offset) — tiny output (days × 8 rows) with partial
    aggregation all the way down.
    """
    from cassandra_extractor_spark.sources.catalog import load_table

    e = load_table(spark, "events", sf_dir).select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("offset"),
        )
        .where(F.col("offset") <= RETENTION_MAX_OFFSET)
        .groupBy("cohort_day", "offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
        .orderBy("cohort_day", "offset")
    )


def q74_latency_bands(spark, sf_dir):
    """Per-type p50/p90/p99 value bands — the observability staple —
    from ONE mergeable quantile sketch per group (a single
    percentile_approx call with a quantile array), never a sort or a
    per-quantile rescan.  Sketch memory is O(accuracy) regardless of
    group size; equality with DuckDB ``quantile_disc`` at max accuracy
    is the same mechanism the tie-structure test pins.
    """
    from cassandra_extractor_spark.sources.catalog import load_table

    e = load_table(spark, "events", sf_dir)
    qs = e.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(2147483647)
        ).alias("q"),
        F.count("*").alias("n"),
    )
    return qs.select(
        "event_type",
        F.element_at("q", 1).alias("p50"),
        F.element_at("q", 2).alias("p90"),
        F.element_at("q", 3).alias("p99"),
        "n",
    ).orderBy("event_type")


def q75_path_analysis(spark, sf_dir):
    """Top session entry paths: the first three event types of every
    session (30-min gap sessionization, mirroring ``ns_sessionize``),
    ranked by frequency — the "how do users start" path report.

    Scale shape: sessionization and first-N selection are per-user
    windows (one exchange on user_id); the ordered path string is a
    sorted collect of ≤3 structs per session (bounded buffer); the
    final ranking orders the PATH-distinct frame, whose cardinality is
    bounded by |event_types|³ — never the event stream.
    """
    from cassandra_extractor_spark.sources.catalog import load_table
    from cassandra_extractor_spark.streaming.stateful import SESSION_GAP_MIN

    gap_ms = SESSION_GAP_MIN * 60 * 1000
    e = load_table(spark, "events", sf_dir)
    ts_ms = F.unix_millis(F.col("ts"))
    w = W.partitionBy("user_id").orderBy(ts_ms, "event_id")
    prev_ms = F.lag(ts_ms).over(w)
    is_new = F.when(prev_ms.isNull() | ((ts_ms - prev_ms) > gap_ms), 1).otherwise(0)
    s = e.select(
        "user_id",
        "event_id",
        "event_type",
        ts_ms.alias("ts_ms"),
        F.sum(is_new).over(w).alias("session_id"),
    )
    rw = W.partitionBy("user_id", "session_id").orderBy("ts_ms", "event_id")
    first3 = s.withColumn("rn", F.row_number().over(rw)).where(F.col("rn") <= 3)
    paths = first3.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    rk = W.orderBy(F.col("n_sessions").desc(), "path")
    return (
        counts.withColumn("rk", F.row_number().over(rk).cast("long"))
        .where(F.col("rk") <= 20)
        .orderBy("rk")
    )


def q76_rolling_zscore(spark, sf_dir):
    """Rolling z-score outlier flag over a sliding 20-row frame per
    user — the metrics-anomaly staple (reference surfaces per-table
    rate stats in GET /stats, `management.py:55-129`; this is the
    same signal computed in-engine over the event stream).

    Exactness: sliding-frame aggregation of DOUBLEs is engine-trap #1
    — Spark re-scans the frame per row while DuckDB subtracts via a
    segment tree, so float sums diverge in the last ulp.  We integerize
    first (value → cents, exact for the 2-decimal synthetic data) and
    flag |z| > 2 by cross-multiplied integer inequality
    ``(n·x − S)² > 4·(n·Σx² − S²)`` — population variance, no division,
    no float anywhere, so the fold order cannot matter.

    Scale shape: one exchange on user_id, then a bounded 20-row frame
    per row — O(frame) per row, no global sort, no driver state.
    """
    e = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-19, 0)
    )
    s = e.select(
        "event_id",
        "user_id",
        cents.alias("x"),
        F.sum(cents).over(w).alias("s_win"),
        F.sum(cents * cents).over(w).alias("ss_win"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_win"),
    )
    n, x, sw, ssw = (F.col(c) for c in ("n_win", "x", "s_win", "ss_win"))
    num = (n * x - sw) * (n * x - sw)
    den = F.lit(4) * (n * ssw - sw * sw)
    return (
        s.select(
            "event_id",
            "user_id",
            "n_win",
            "s_win",
            "ss_win",
            # NULL-proof: a window of all-NULL values yields NULL sums
            # and a NULL comparison, which the two engines RENDER
            # differently through pandas (Spark object-None vs DuckDB
            # NaN — found by the round-7 cancelling-row differential
            # generator).  "No data to flag" is not an outlier: pin
            # FALSE on both engines.
            F.coalesce(num > den, F.lit(False)).alias("is_outlier"),
        )
        .where(F.col("n_win") >= 10)
        .orderBy("event_id")
    )


def _zorder_bits(col, n_bits: int, stride: int, offset: int):
    """Spread the low ``n_bits`` of ``col`` so bit i lands at position
    i*stride + offset — pure shift/and/or terms, one codegen expression."""
    spread = F.lit(0).cast("long")
    for i in range(n_bits):
        bit = F.shiftright(col, i).bitwiseAND(F.lit(1))
        spread = spread.bitwiseOR(F.shiftleft(bit, i * stride + offset))
    return spread


def q77_zorder_key(spark, sf_dir):
    """Morton (Z-order) interleaved sort key over (l_partkey,
    l_suppkey) — the multi-dimensional data-layout primitive: writing
    100 TB sorted by zkey co-locates rows that are close in BOTH join
    dimensions, so min/max parquet footer stats prune scans for
    predicates on either key (the layout trick behind Delta/Iceberg
    OPTIMIZE ZORDER, here as a first-class operator feeding
    `ns_shard_layout` / `repartitionByRange(zkey)`).

    16 bits per dimension (keys bucketized to 0..65535 by modulo — at
    real scale use rank-based quantile bucketing), interleaved
    even/odd.  Pure integer shift/mask arithmetic → bit-identical on
    any engine; the whole key is one codegen expression, map-only.
    """
    li = load_table(spark, "lineitem", sf_dir)
    pk = F.pmod(F.col("l_partkey"), F.lit(65536)).cast("long")
    sk = F.pmod(F.col("l_suppkey"), F.lit(65536)).cast("long")
    zkey = _zorder_bits(pk, 16, 2, 0).bitwiseOR(_zorder_bits(sk, 16, 2, 1))
    out = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        zkey.alias("zkey"),
    )
    return out.orderBy("zkey", "l_orderkey", "l_linenumber").limit(5000)


BLOOM_BITS = 1 << 17  # 131072 bits = 2048 longs ≈ 16 KiB broadcast
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_K = 3


def _bloom_positions(key, seed: int):
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(BLOOM_BITS))


def build_bloom(df: DataFrame, key: str) -> list[int]:
    """Distributed Bloom-filter build over ``df[key]``: each key sets
    BLOOM_K bit positions (xxhash64 seeds 0..k-1); positions reduce to
    64-bit words via a map-side-combined ``bit_or`` groupBy, and only
    the ≤BLOOM_WORDS aggregated words reach the driver (≈16 KiB
    regardless of build-side row count — the same driver-size bound as
    Spark's own runtime bloom in InjectRuntimeFilter).
    """
    k = F.col(key)
    pos = F.explode(
        F.array(*[_bloom_positions(k, i) for i in range(BLOOM_K)])
    ).alias("pos")
    words = (
        df.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    arr = [0] * BLOOM_WORDS
    for r in words:
        arr[r["w"]] = r["word"]
    return arr


def bloom_prune(df: DataFrame, key: str, words: list[int]) -> DataFrame:
    """Prune ``df`` to rows whose ``key`` might be in the Bloom filter.

    The word array rides in as a ONE-ROW broadcast frame (cross-join),
    so executors materialize it once per batch instead of re-building a
    2048-literal ``CreateArray`` per row (measured 3× on the probe
    scan); the membership test itself is k ``element_at`` + ``bit_get``
    codegen expressions — no UDF, applied before any exchange."""
    bloom_df = df.sparkSession.createDataFrame(
        [(words,)], "_bloom_words: array<long>"
    )
    probed = df.crossJoin(F.broadcast(bloom_df))
    cond = F.lit(True)
    for i in range(BLOOM_K):
        pos = _bloom_positions(F.col(key), i)
        word = F.element_at(F.col("_bloom_words"), (pos / 64).cast("int") + 1)
        cond = cond & (F.bit_get(word, F.pmod(pos, F.lit(64))) == 1)
    return probed.where(cond).drop("_bloom_words")


def q78_bloom_join(spark, sf_dir):
    """Runtime-filter join: a selective customer subset builds a
    16 KiB Bloom filter that prunes the orders scan BEFORE the join
    exchange — the technique Spark's InjectRuntimeFilter applies when
    statistics allow, here explicit and statistics-independent.

    At 100 TB the build side (filtered dim) may exceed the IN-list
    broadcast limit while its Bloom words stay 16 KiB; the probe side
    drops non-matching rows at the scan, so the shuffle moves only
    candidate rows (false-positive rate ≈ (1-e^{-kn/m})^k ≈ 0.4% at
    n=6k, m=131072, k=3).  Correctness never depends on the filter:
    the exact broadcast join afterwards removes false positives, so
    the Bloom stage only shrinks the exchange.

    Returns per-customer order rollups for BUILDING-segment customers
    with positive balance (totalprice integerized to cents — exact).
    """
    cust = load_table(spark, "customer", sf_dir).where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 0)
    )
    keys = cust.select("c_custkey")
    words = build_bloom(keys, "c_custkey")
    orders = bloom_prune(
        load_table(spark, "orders", sf_dir), "o_custkey", words
    )
    joined = orders.join(
        F.broadcast(cust.select("c_custkey", "c_name")),
        orders.o_custkey == cust.c_custkey,
    )
    return (
        joined.groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_price_cents"
            ),
        )
        .orderBy("c_custkey")
    )


def q79_window_distinct(spark, sf_dir):
    """Distinct event types seen per user over a trailing 1-hour RANGE
    frame — the 'breadth of recent activity' feature.  Spark windows
    forbid COUNT(DISTINCT …) OVER, so the spelling is
    ``size(collect_set(…))`` over a range frame: the set buffer is
    bounded by |event_types| (small domain), NOT frame row count, so
    the state per row is O(domain) at any scale.  Integer output —
    engine-stable.
    """
    e = load_table(spark, "events", sf_dir)
    sec = F.unix_timestamp("ts")
    w = W.partitionBy("user_id").orderBy(sec).rangeBetween(-3599, 0)
    return (
        e.select(
            "event_id",
            "user_id",
            F.size(F.collect_set("event_type").over(w)).cast("long").alias("n_types_1h"),
        )
        .orderBy("event_id")
    )


ISLAND_SPAN_S = 300  # each event opens a 5-minute activity interval


def q80_interval_merge(spark, sf_dir):
    """Gaps-and-islands interval union: each event opens a 5-minute
    activity interval; overlapping intervals per user merge into
    islands; output per-user island count and total covered seconds.
    The classic coverage/uptime computation (same island technique the
    substring-dedup span union uses, here as a first-class query).

    Scale shape: one exchange on user_id, two ordered window passes
    (running MAX for island starts, running SUM for island ids), one
    bounded agg — no self-join, no all-pairs interval intersection.
    All arithmetic on integer epoch seconds.
    """
    e = load_table(spark, "events", sf_dir)
    s = e.select(
        "user_id",
        F.unix_timestamp("ts").alias("lo"),
        (F.unix_timestamp("ts") + ISLAND_SPAN_S).alias("hi"),
    )
    w = W.partitionBy("user_id").orderBy("lo", "hi")
    prev_max_hi = F.max("hi").over(
        W.partitionBy("user_id").orderBy("lo", "hi").rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = s.select(
        "user_id",
        "lo",
        "hi",
        F.when(prev_max_hi.isNull() | (F.col("lo") > prev_max_hi), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "lo",
        "hi",
        F.sum("new_island").over(w).alias("island_id"),
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        F.min("lo").alias("i_lo"), F.max("hi").alias("i_hi")
    )
    return (
        per_island.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_islands"),
            F.sum(F.col("i_hi") - F.col("i_lo")).cast("long").alias("covered_s"),
        )
        .orderBy("user_id")
    )


def q81_rank_metrics(spark, sf_dir):
    """percent_rank + cume_dist per priority class — distribution
    position metrics.  Both are single-division doubles of exact
    integer counts ((rank-1)/(n-1), peers/n), so the IEEE result is
    identical on any engine — no accumulation involved.  One exchange
    per partition key."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") <= 2000)
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy("o_orderkey")


def q82_rolling_median(spark, sf_dir):
    """Rolling exact median over a 10-row trailing frame per user — the
    robust rolling statistic (median smoothing).  Spark has no median
    window aggregate, so the frame's values collect into a bounded
    10-element array, sort, and index: lower median = element
    ``(n+1) div 2`` (1-based), which equals DuckDB's
    ``quantile_disc(0.5)`` index ``floor(0.5·(n-1))`` for every n —
    pinned cross-engine.  Values integerized to cents; buffer is
    O(frame), never O(partition).

    NULL semantics: ``n_win`` counts every row in the frame
    (``COUNT(*) OVER w``), while the median is taken over the
    frame's NON-NULL values only (``collect_list`` skips NULLs,
    exactly like DuckDB's ``quantile_disc``); an all-NULL frame
    yields a NULL median rather than an index error."""
    e = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-9, 0)
    )
    vals = F.sort_array(F.collect_list(cents).over(w))
    m = F.size(vals)
    return (
        e.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).cast("long").alias("n_win"),
            F.when(
                m > 0, F.element_at(vals, ((m + 1) / 2).cast("int"))
            ).alias("med_cents"),
        )
        .orderBy("event_id")
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    order_cols: list[str],
    op_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """MERGE INTO semantics in pure DataFrame ops: reduce the change
    stream to the LATEST change per key (one window on the key — the
    only changes-sized shuffle), then one full-outer join applies it:
    delete drops the row, update overwrites payload columns, insert
    materializes keys absent from the base, untouched rows pass
    through.  The Delta/Iceberg MERGE shape without a table format —
    base and changes both scale out; nothing collects.
    """
    w = W.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    b, c = base.alias("b"), latest.alias("c")
    joined = b.join(c, F.col(f"b.{key}") == F.col(f"c.{key}"), "full")
    not_deleted = joined.where(
        F.col(f"c.{op_col}").isNull() | (F.col(f"c.{op_col}") != "D")
    )
    out_cols = [
        F.coalesce(F.col(f"b.{key}"), F.col(f"c.{key}")).alias(key),
        F.when(F.col(f"c.{key}").isNull(), F.lit("K"))
        .when(F.col(f"b.{key}").isNull(), F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
    ]
    for p in payload_cols:
        out_cols.append(F.coalesce(F.col(f"c.{p}"), F.col(f"b.{p}")).alias(p))
    return not_deleted.select(*out_cols)


def q83_cdc_apply(spark, sf_dir):
    """CDC upsert demo over the TPC-H tables: orders act as a change
    stream against the customer snapshot — the latest order per
    customer (by date, then orderkey) updates the balance (cents), an
    'F'-status latest order deletes the customer, customers with no
    orders pass through.  Registry spelling of ``cdc_apply``; the
    exact last-writer-wins rule makes it oracle-checkable.
    """
    base = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    changes = load_table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderdate",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("bal_cents"),
        F.lit(None).cast("string").alias("c_name"),
    )
    return cdc_apply(
        base,
        changes,
        key="c_custkey",
        order_cols=["o_orderdate", "o_orderkey"],
        op_col="op",
        payload_cols=["c_name", "bal_cents"],
    ).orderBy("c_custkey")


def q84_scd2_history(spark, sf_dir):
    """SCD Type-2 historization of a change stream: each change to a
    key opens a validity interval, closed by the next change (lead
    window) — open intervals are flagged current.  The warehouse-
    history companion to ``cdc_apply``'s last-writer-wins snapshot.

    One exchange on the key, one ordered lead window, map-only
    everything else; validity bounds in integer epoch millis.  Orders
    play the change stream: per customer, each order's totalprice is
    the balance valid until their next order.
    """
    chg = load_table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        F.unix_millis(F.to_timestamp("o_orderdate")).alias("valid_from_ms"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("bal_cents"),
    )
    w = W.partitionBy("c_custkey").orderBy("valid_from_ms", "o_orderkey")
    nxt = F.lead("valid_from_ms").over(w)
    return (
        chg.select(
            "c_custkey",
            "o_orderkey",
            "valid_from_ms",
            nxt.alias("valid_to_ms"),
            nxt.isNull().alias("is_current"),
            "bal_cents",
        )
        .orderBy("c_custkey", "valid_from_ms", "o_orderkey")
    )


def q85_interval_lookup(spark, sf_dir):
    """Broadcast interval-lookup join (the IP-to-geo / tariff-table
    shape): a SMALL dimension of value ranges joins every event by
    containment.  The dim broadcasts, so the theta condition evaluates
    in the probe scan stage — no shuffle of the fact side, no
    sort-merge; contrast q33's time-bucketed range join, which handles
    the BIG-dim case.  Bands derive arithmetically (deterministic
    literals) so both engines see the identical dimension.
    """
    e = load_table(spark, "events", sf_dir)
    bands = spark.createDataFrame(
        [(i, float(i * 100), float((i + 1) * 100), f"band_{i}") for i in range(10)],
        "band_id long, lo double, hi double, band_name string",
    )
    j = e.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        "left",
    )
    return (
        j.groupBy(F.coalesce(F.col("band_name"), F.lit("out_of_range")).alias("band"))
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("first_event"),
        )
        .orderBy("band")
    )


def q86_sequence_gaps(spark, sf_dir):
    """Missing-key detection with compressed gap ranges — the data-
    integrity audit (did every page/offset land?): expected ids come
    from an exploded one-row min/max sequence, present ids anti-join
    away, and consecutive missing ids compress to (gap_start, gap_end)
    via the classic ``id − row_number()`` island key.

    Scale shape: the expected-id explode is bounded by the key range
    under audit (here o_orderkey ≤ 2000, the reference's page-window
    shape, `worker.py:164-201` resume bookkeeping); the anti join
    broadcasts the bounded expected side against the big present side.
    """
    keys = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderkey") <= 2000) & (F.col("o_orderstatus") == "O")
    ).select("o_orderkey")
    bounds = keys.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    )
    expected = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("id")
    )
    missing = expected.join(
        keys, expected.id == keys.o_orderkey, "left_anti"
    )
    w = W.orderBy("id")
    grouped = missing.select(
        "id", (F.col("id") - F.row_number().over(w)).alias("grp")
    )
    return (
        grouped.groupBy("grp")
        .agg(
            F.min("id").alias("gap_start"),
            F.max("id").alias("gap_end"),
            F.count("*").cast("long").alias("n_missing"),
        )
        .drop("grp")
        .orderBy("gap_start")
    )


def q87_dense_timeseries(spark, sf_dir):
    """Gap-filled daily time series per event type — the dashboard /
    downstream-ML staple where missing days must appear as zero rows,
    not holes (the reference's stats endpoint reports per-interval
    rates and a day with no rows still renders, `management.py:55-129`).

    Spark-first shape: the dense day dimension is generated *inside*
    the engine with ``sequence(min_day, max_day)`` + ``explode`` —
    one row per (event_type) from a pre-aggregated bounds frame, so
    the explode side is bounded by (#types × #days), tiny next to the
    fact table, and AQE broadcasts it into the left join.  No driver
    loop, no collected calendar, no Python date math.

    100 TB: the fact side is touched exactly once (map-side-combined
    groupBy); the dense dimension is O(types × days) regardless of
    fact cardinality.
    """
    e = _t(spark, sf_dir, "events")
    day = F.to_date("ts")
    daily = e.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    bounds = e.groupBy("event_type").agg(
        F.min(day).alias("mn"), F.max(day).alias("mx")
    )
    dense = bounds.select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("day")
    )
    return (
        dense.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        )
        .orderBy("event_type", "day")
    )


def q88_salted_join(spark, sf_dir):
    """Skew-salted repartition join with bit-identical results to the
    plain join — the standard remedy when one join key carries a
    disproportionate share of the fact rows and a single reducer
    becomes the straggler (AQE's skew-join split handles sort-merge
    skew at runtime; explicit salting is the portable spelling that
    also works for pre-AQE engines and for aggregations).

    Mechanics: the small/dim side (orders) is replicated SALT_N ways
    with an explicit ``explode(sequence(0, SALT_N-1))`` salt column;
    the fact side (lineitem) computes a *deterministic* salt
    ``pmod(hash(l_linenumber, l_partkey), SALT_N)`` — no RNG, so the
    query is replayable and oracle-checkable.  Joining on
    (orderkey, salt) spreads each hot orderkey over SALT_N reducers;
    re-aggregating afterwards restores exact per-key totals.  The
    oracle is the UNSALTED join+agg — proving the rewrite is
    semantics-preserving is the entire point.

    100 TB: replication factor is paid only on the small side
    (SALT_N × |orders-subset|); the skewed shuffle becomes uniform.
    """
    salt_n = 8
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 4000)
        .select("o_orderkey", "o_orderdate")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))))
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.pmod(F.hash("l_linenumber", "l_partkey"), F.lit(salt_n)).alias("salt"),
    )
    joined = l.join(
        o,
        (l.l_orderkey == o.o_orderkey) & (l.salt == o.salt),
        "inner",
    )
    return (
        joined.groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("price_cents").alias("revenue_cents"),
        )
        .orderBy("o_orderkey")
    )


def q89_grouped_quantiles(spark, sf_dir):
    """Per-group discrete quantile profile (p25/p50/p75/p95 of order
    value by order status) — the grouped form of q44b's mergeable GK
    sketch: each task keeps one O(accuracy) sketch per group, partial
    sketches merge map-side, and no reducer ever buffers a group's
    raw column.  Max accuracy makes the sketch exact (== DuckDB
    ``quantile_disc`` per group); production dials it down for
    O(accuracy) memory with rank error ≤ N/accuracy — the plan shape
    is identical either way.
    """
    acc = 2147483647
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.percentile_approx("o_totalprice", 0.25, acc).alias("p25"),
            F.percentile_approx("o_totalprice", 0.5, acc).alias("p50"),
            F.percentile_approx("o_totalprice", 0.75, acc).alias("p75"),
            F.percentile_approx("o_totalprice", 0.95, acc).alias("p95"),
        )
        .orderBy("o_orderstatus")
    )


def q90_time_rollup(spark, sf_dir):
    """Calendar-hierarchy rollup (year → month → day) over the event
    stream — the hypertable/continuous-aggregate shape: one scan, one
    shuffle, and every hierarchy level materializes from the same
    partial aggregates (ROLLUP expands grouping sets inside the
    aggregate, not as N self-reads).  Value sums integerize to cents
    first so the DOUBLE fold order can't drift between engines.
    """
    e = _t(spark, sf_dir, "events")
    d = F.to_date("ts")
    return (
        e.select(
            F.year(d).cast("long").alias("y"),
            F.month(d).cast("long").alias("m"),
            F.dayofmonth(d).cast("long").alias("dom"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .rollup("y", "m", "dom")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .orderBy(
            F.col("y").asc_nulls_last(),
            F.col("m").asc_nulls_last(),
            F.col("dom").asc_nulls_last(),
        )
    )


def q91_grouping_id(spark, sf_dir):
    """GROUPING SETS with explicit grouping indicators — the cube/rollup
    companion that lets a consumer distinguish "NULL because subtotal"
    from "NULL in the data" (`grouping()` per column; both engines
    implement the SQL-standard semantics).  Same single-scan grouping-
    sets expansion as q37; the indicator is computed inside the
    aggregate, not via self-joins.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag",
            "l_linestatus",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count("*").cast("long").alias("n"),
            F.sum("cents").alias("cents"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_last(),
            F.col("l_linestatus").asc_nulls_last(),
            "g_flag",
            "g_status",
        )
    )


def q92_ohlc_resample(spark, sf_dir):
    """OHLC bar resampling (open/high/low/close per type×day) — the
    canonical time-series downsample, spelled as a single
    map-side-combined aggregate: ``min_by``/``max_by`` carry the
    first/last value out of the partial aggs directly, so there is no
    per-group sort, no window over the full stream, and one shuffle
    keyed by (type, day).

    Determinism: ties on ``ts`` are broken by event_id via a
    lexicographic zero-padded (epoch_ms, event_id) string key —
    total order, so both engines pick the identical open/close even
    on colliding timestamps (composite arg_min isn't portable).
    Values integerize to cents first.
    """
    e = _t(spark, sf_dir, "events")
    day = F.to_date("ts")
    cents = F.round(F.col("value") * 100).cast("long")
    # the order key is NULLed for NULL values so min_by/max_by skip
    # those rows — DuckDB's arg_min/arg_max skip NULL arguments, and a
    # bar's open/close should come from actual trades
    k = F.when(
        F.col("value").isNotNull(),
        F.concat(
            F.lpad(F.unix_millis("ts").cast("string"), 15, "0"),
            F.lpad(F.col("event_id").cast("string"), 19, "0"),
        ),
    )
    return (
        e.select(
            "event_type", day.alias("day"), cents.alias("cents"), k.alias("k")
        )
        .groupBy("event_type", "day")
        .agg(
            F.expr("min_by(cents, k)").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.expr("max_by(cents, k)").alias("close_cents"),
            F.count("*").cast("long").alias("n_trades"),
        )
        .orderBy("event_type", "day")
    )


def q93_column_profile(spark, sf_dir):
    """ANALYZE-style column statistics in ONE scan — the catalog-stats
    pass every CBO needs (row count, null count, exact NDV per
    column), computed as a single multi-aggregate over orders and then
    unpivoted to (column, metric) long form with ``stack``.  Multiple
    exact count-distincts in one aggregate go through Spark's expand —
    one scan, k× rows into the partial aggs, still map-side combined;
    the production variant swaps NDV to HLL sketches (q38's spelling)
    when k×|rows| dominates.
    """
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nulls_{c}")
        )
        aggs.append(F.countDistinct(c).cast("long").alias(f"nd_{c}"))
    wide = o.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', nulls_{c}, nd_{c}" for c in cols)
    return (
        wide.selectExpr(
            "n_rows",
            f"stack({len(cols)}, {stack_expr}) AS (col_name, n_nulls, n_distinct)",
        )
        .select("col_name", "n_rows", "n_nulls", "n_distinct")
        .orderBy("col_name")
    )


def q94_rank_distributions(spark, sf_dir):
    """Distribution-rank window functions (percent_rank, cume_dist,
    ntile) over order value per status — the SQL-standard trio beyond
    row_number/rank (both engines implement the same
    ``(rank-1)/(n-1)`` / ``peers/n`` definitions; the division is a
    single double op, bit-identical).  One shuffle on the partition
    key, in-partition sort, no global ordering.
    """
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .orderBy("o_orderkey")
    )


def q95_event_pattern(spark, sf_dir):
    """Sequence-pattern matching over per-user event streams
    (MATCH_RECOGNIZE-lite): each user's events collapse — in total
    (ts, event_id) order — to a compact symbol string, and conversion
    patterns are counted with a regex over that string.  This is the
    complex-event-processing shape that row-by-row engines do with
    per-stream state machines (the reference has no answer to it);
    here it is one groupBy plus codegen'd string ops.

    Determinism: the symbol string is built by sorting the collected
    (ts, event_id, symbol) structs — a total order, so both engines
    produce the identical string even with duplicate timestamps.

    Scale shape: one shuffle on user_id; per-user state is the
    symbol string (bounded by events-per-user, the same bound any
    CEP engine carries).  The regex runs once per user, not per event.
    """
    e = _t(spark, sf_dir, "events")
    sym = F.substring("event_type", 1, 1)
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col("event_id"), sym.alias("s")))
            ),
            lambda x: x["s"],
        ),
        "",
    )
    return (
        e.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").cast("long").alias("n_events"),
            F.regexp_count("seq", F.lit("vcp")).cast("long").alias("n_conversions"),
        )
        .where(F.col("n_conversions") > 0)
        .orderBy("user_id")
    )


def q96_relational_division(spark, sf_dir):
    """Relational division — "customers who placed orders in EVERY
    order-priority class" (the FOR ALL quantifier, the classic gap in
    SQL's operator set): spelled as distinct-count-equals-universe,
    which is one map-side-combined aggregate instead of the textbook
    double-NOT-EXISTS correlated subquery (which plans as two nested
    anti joins).

    Scale shape: the universe size is a one-row broadcast scalar; the
    main pass is groupBy(custkey) over distinct (custkey, priority) —
    two shuffles total, no correlated re-scans.
    """
    o = _t(spark, sf_dir, "orders")
    universe = o.select("o_orderpriority").distinct().agg(
        F.count("*").alias("k")
    )
    per_cust = (
        o.select("o_custkey", "o_orderpriority")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("n_classes"))
    )
    return (
        per_cust.crossJoin(F.broadcast(universe))
        .where(F.col("n_classes") == F.col("k"))
        .select("o_custkey", "n_classes")
        .orderBy("o_custkey")
    )


def q97_constraint_audit(spark, sf_dir):
    """Declarative data-quality constraint audit (the Deequ/dbt-test
    shape): uniqueness, non-null, referential containment, accepted
    values, and range checks evaluated engine-side, each reduced to a
    violation count — the publish gate a 100 TB pipeline runs before
    promoting a snapshot.

    Scale shape: single-table checks collapse into ONE shared
    multi-aggregate scan over orders (not one scan per check); the FK
    check is a left-anti join from lineitem to the orders key set —
    at production scale exactly the broadcast-or-SMJ decision
    `ns_skew_audit` informs.  Every check emits one row; the union of
    one-row frames is free.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    viol = lambda cond: F.sum(cond.cast("long"))  # noqa: E731
    wide = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).cast("long").alias("uniq"),
        viol(F.col("o_custkey").isNull()).alias("nonnull"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("accepted"),
        viol(F.col("o_totalprice") <= 0).alias("range"),
    )
    single = wide.selectExpr(
        "stack(4, 'accepted_values_o_orderstatus', accepted, "
        "'non_negative_o_totalprice', range, "
        "'not_null_o_custkey', nonnull, "
        "'unique_o_orderkey', uniq) AS (check_name, n_violations)"
    )
    fk = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").cast("long").alias("n_violations"))
        .select(F.lit("fk_lineitem_orderkey").alias("check_name"), "n_violations")
    )
    return (
        single.unionByName(fk)
        .select("check_name", "n_violations", (F.col("n_violations") == 0).alias("ok"))
        .orderBy("check_name")
    )


def incremental_agg_merge(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge a delta batch's partial aggregates into a maintained
    aggregate WITHOUT rescanning the base data — the continuous-
    aggregate refresh step: union the two partial-agg frames and
    re-combine (counts and sums are associative; avg re-derives from
    them).  Input frames share the schema (keys..., n, sum_cents)."""
    keys = [c for c in base.columns if c not in ("n", "sum_cents")]
    return (
        base.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


def q98_incremental_rollup(spark, sf_dir):
    """Incremental materialized-aggregate refresh, proven equivalent to
    the full recompute: the orders table splits into a "yesterday"
    base (orderkey ≤ 10000) and a "today" delta; each aggregates
    independently (the delta pass touches ONLY delta rows), and
    ``incremental_agg_merge`` combines the partials.  The oracle is
    the one-shot full aggregate — the equivalence that makes
    continuous aggregates trustworthy.

    100 TB: the nightly refresh cost is O(delta) + O(|groups|), never
    O(base).  Same partial-merge algebra Spark's own map-side combine
    uses, lifted to cross-job granularity.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )

    def part(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").alias("sum_cents"),
        )

    base = part(o.where(F.col("k") <= 10000))
    delta = part(o.where(F.col("k") > 10000))
    return (
        incremental_agg_merge(base, delta)
        .select("o_orderstatus", "n", "sum_cents")
        .orderBy("o_orderstatus")
    )


def q99_share_of_total(spark, sf_dir):
    """Contribution analysis (Oracle's RATIO_TO_REPORT): each order
    status's revenue share of the grand total, in integer basis
    points via the portable floor spelling — the partition-wide
    window aggregate pattern (sum OVER an unbounded frame), distinct
    from the running-sum frames of q23/q63.

    Scale shape: one map-side-combined groupBy to |statuses| rows,
    then the window total runs over THOSE few rows (single-partition
    window over an already-tiny frame — never over raw data).
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per = o.groupBy("o_orderstatus").agg(F.sum("cents").alias("rev_cents"))
    w = W.partitionBy()
    total = F.sum("rev_cents").over(w)
    # share is undefined when the grand total is zero (ANSI division
    # error on Spark, inf on DuckDB) -> NULL on both engines
    return (
        per.select(
            "o_orderstatus",
            "rev_cents",
            F.when(
                total != 0,
                F.floor(F.col("rev_cents") * 10000 / total).cast("long"),
            ).alias("share_bp"),
        )
        .orderBy("o_orderstatus")
    )


# --- round-5 analytic operators ---------------------------------------

import math  # noqa: E402  (module-scope constants below)

#: Benford first-digit expected frequencies, computed ONCE in Python
#: and embedded as identical literals in both engines — engine libm
#: log10 differences can never surface
BENFORD_EXP: dict[int, float] = {d: math.log10(1 + 1 / d) for d in range(1, 10)}


def q100_crosstab_chi2(spark, sf_dir):
    """Chi-square test of independence between two categorical columns
    (priority × status) — the drift/association audit every feature
    store runs.  Observed counts are exact integers; expected counts
    and per-cell contributions are single deterministic double
    expressions; the final fold over cells goes through
    DECIMAL(38,18) so summation order can't move the result.

    Scale shape: one map-side-combined groupBy to |R×C| cells, then
    all windows/aggregates run over that tiny cell frame — never over
    raw rows.
    """
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("long").alias("obs")
    )
    wr = W.partitionBy("o_orderpriority")
    wc = W.partitionBy("o_orderstatus")
    wt = W.partitionBy()
    # cast BEFORE multiplying: rt·ct in BIGINT overflows around 1e10
    # rows per margin (silent wrap on Spark, loud error on DuckDB);
    # double·double is exact until ~9e15 and merely rounds beyond
    exp = (
        F.col("rt").cast("double") * F.col("ct").cast("double")
    ) / F.col("n").cast("double")
    contrib = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    return (
        cells.select(
            "o_orderpriority",
            "o_orderstatus",
            "obs",
            F.sum("obs").over(wr).alias("rt"),
            F.sum("obs").over(wc).alias("ct"),
            F.sum("obs").over(wt).alias("n"),
        )
        .agg(
            (
                (F.countDistinct("o_orderpriority") - 1)
                * (F.countDistinct("o_orderstatus") - 1)
            )
            .cast("long")
            .alias("dof"),
            F.round(
                F.sum(contrib.cast("decimal(38,18)")).cast("double"), 6
            ).alias("chi2"),
        )
    )


def q101_weighted_median(spark, sf_dir):
    """Weighted median price per return flag (weight = quantity) — the
    order-statistic that q66's plain median can't express.  The
    selector is ``min(value where 2·cum ≥ total)`` over the RANGE-frame
    cumulative weight (peers share one cumulative value, so ties are
    engine-order-proof).  Integer weights and cents throughout — no
    floats anywhere.

    Scale shape (round 9, same two-level prefix sum as q116): a RANGE
    window partitioned on the 3-value flag over RAW lineitem rows
    would funnel ~1/3 of the corpus through one task — the exact
    low-cardinality-window hazard the Spearman rewrite removed.
    Instead weights first reduce to the DISTINCT (flag, price) frame
    (ONE corpus hash shuffle, map-side combined — grouping by value
    gives the RANGE frame's peers-share-one-value semantics for
    free), the cumulative weight is a two-level prefix sum over that
    frame (cumulative window over the tiny per-(flag, bucket) totals;
    in-bucket local prefix over domain-bounded slices), and the group
    totals broadcast back.  Identical integers, identical oracle.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.round(F.col("l_quantity")).cast("long").alias("w"),
    )
    pf = li.groupBy("l_returnflag", "price_cents").agg(F.sum("w").alias("c"))
    # order-preserving range buckets (floor(v / 2^20)): double division
    # stays monotone even where |v| > 2^52 loses low bits — a collision
    # only merges adjacent buckets, which is harmless
    pf = pf.withColumn("bkt", F.floor(F.col("price_cents") / F.lit(float(2**20))))
    btot = pf.groupBy("l_returnflag", "bkt").agg(F.sum("c").alias("bc"))
    bw = W.partitionBy("l_returnflag").orderBy("bkt")
    before_bkt = btot.select(
        "l_returnflag",
        "bkt",
        (F.sum("bc").over(bw) - F.col("bc")).alias("before_bkt"),
    )
    lw = W.partitionBy("l_returnflag", "bkt").orderBy("price_cents")
    cum = F.col("before_bkt") + F.sum("c").over(lw)  # inclusive of current value
    totals = pf.groupBy("l_returnflag").agg(F.sum("c").alias("total"))
    return (
        pf.join(F.broadcast(before_bkt), ["l_returnflag", "bkt"])
        .withColumn("cum", cum)
        .join(F.broadcast(totals), "l_returnflag")
        .where(F.col("cum") * 2 >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price_cents").cast("long").alias("wmedian_cents"),
            F.max("total").cast("long").alias("total_w"),
        )
        .orderBy("l_returnflag")
    )


def q102_interpolate(spark, sf_dir):
    """Time-weighted linear interpolation of NULL gaps per user — the
    gap-fill step between q71's fill-forward and real resampling.
    Neighbors come from IGNORE NULLS window endpoints (value and its
    timestamp ride the same conditional column, so the pair can never
    disagree); interior gaps interpolate on epoch-millis, leading /
    trailing gaps degrade to bfill / ffill, an all-NULL user stays
    NULL, and a gap whose neighbors share its timestamp (zero-width
    interval, the 0/0 case) degrades to ffill.  All inputs to the one
    double expression are exact integers.

    Scale shape: one shuffle on user_id; two unbounded-but-lazy frames
    over each partition (Spark evaluates last/first incrementally) —
    no self-join, no collect.
    """
    e = load_table(spark, "events", sf_dir)
    base = e.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    ow = W.partitionBy("user_id").orderBy("ms", "event_id")
    prev_w = ow.rowsBetween(W.unboundedPreceding, -1)
    next_w = ow.rowsBetween(1, W.unboundedFollowing)
    c_ms = F.when(F.col("c").isNotNull(), F.col("ms"))
    j = base.select(
        "event_id",
        "user_id",
        "ms",
        "c",
        F.last("c", ignorenulls=True).over(prev_w).alias("pc"),
        F.last(c_ms, ignorenulls=True).over(prev_w).alias("pms"),
        F.first("c", ignorenulls=True).over(next_w).alias("nc"),
        F.first(c_ms, ignorenulls=True).over(next_w).alias("nms"),
    )
    interp = F.col("pc") + (F.col("nc") - F.col("pc")) * (
        F.col("ms") - F.col("pms")
    ) / (F.col("nms") - F.col("pms"))
    has_p, has_n = F.col("pc").isNotNull(), F.col("nc").isNotNull()
    # interpolation needs a strictly positive time span: neighbors on
    # the SAME timestamp as the gap row would divide 0/0 (NULL on both
    # engines) — those gaps degrade to ffill like a zero-width interval
    can_interp = has_p & has_n & (F.col("nms") > F.col("pms"))
    obs = F.col("c").isNotNull()
    return j.select(
        "event_id",
        "user_id",
        F.when(obs, F.col("c").cast("double"))
        .when(can_interp, F.round(interp, 6))
        .when(has_p, F.col("pc").cast("double"))
        .when(has_n, F.col("nc").cast("double"))
        .alias("filled_cents"),
        F.when(obs, F.lit("obs"))
        .when(can_interp, F.lit("interp"))
        .when(has_p, F.lit("ffill"))
        .when(has_n, F.lit("bfill"))
        .otherwise(F.lit("none"))
        .alias("fill_kind"),
    ).orderBy("event_id")


def q103_benford(spark, sf_dir):
    """Benford first-significant-digit audit over order totals — the
    classic anomaly screen for fabricated numeric columns.  Digit
    comes from the integer cents' decimal string; expected
    frequencies are Python-computed literals shared verbatim with the
    oracle, so the only floating point is one division and one
    subtraction per digit row.
    """
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    exp = F.lit(None).cast("double")
    for d, v in BENFORD_EXP.items():
        exp = F.when(F.col("digit") == d, F.lit(v)).otherwise(exp)
    freq = F.col("obs").cast("double") / F.col("n").cast("double")
    return (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("obs"))
        .select("digit", "obs", F.sum("obs").over(W.partitionBy()).alias("n"))
        .select(
            "digit",
            "obs",
            F.round(freq, 6).alias("freq"),
            F.round(exp, 6).alias("exp_freq"),
            F.round(F.abs(freq - exp), 6).alias("dev"),
        )
        .orderBy("digit")
    )


def q104_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of event values per user — the
    time-series memory diagnostic (is this signal noise or trend?).
    Consecutive (x, y=lag(x)) pairs with NULLs dropped pairwise; all
    five sufficient statistics are EXACT integer sums (cents), and
    the Pearson formula is then one deterministic double expression —
    the textbook distributed-corr shape (one pass, map-side combined,
    no second scan).  Degenerate (zero-variance or n<2) groups yield
    NULL.
    """
    e = load_table(spark, "events", sf_dir)
    ow = W.partitionBy("user_id").orderBy("ts", "event_id")
    base = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("x"),
        F.lag(F.round(F.col("value") * 100).cast("long"), 1).over(ow).alias("y"),
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    # sums accumulate in DECIMAL(38,0): the per-row products (cents²,
    # ≤ ~1e14) fit BIGINT, but their SUM overflows int64 around 1e5
    # high-value events per user — decimal sums stay exact to 1e38
    # (Spark would wrap silently; DuckDB's HUGEINT is the same width)
    agg = base.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    nd, sxd, syd = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    sxyd, sxxd, syyd = [F.col(c).cast("double") for c in ("sxy", "sxx", "syy")]
    vx = nd * sxxd - sxd * sxd
    vy = nd * syyd - syd * syd
    r = (nd * sxyd - sxd * syd) / (F.sqrt(vx) * F.sqrt(vy))
    return agg.select(
        "user_id",
        F.col("n").alias("n_pairs"),
        F.when((F.col("n") >= 2) & (vx > 0) & (vy > 0), F.round(r, 6)).alias(
            "autocorr"
        ),
    ).orderBy("user_id")


def q105_skyline(spark, sf_dir):
    """2-D skyline / Pareto frontier over orders: the cheapest-AND-
    earliest non-dominated set (order a dominates b when it is ≤ on
    both price and date and strictly < on at least one) — the
    multi-criteria shortlist query behind "best tradeoff" analytics.

    The naive spelling is the O(n²) NOT-EXISTS dominance join (that is
    the oracle); the engine spelling is the classic sort-scan skyline:
    one window ordered by (price, date) per... no partition — but over
    the PRE-AGGREGATED distinct (price, date) frame, which is orders of
    magnitude smaller than the fact table and bounded by the price
    domain.  A point survives iff no point with smaller-or-equal price
    has a strictly smaller date earlier in the order (running MIN), with
    the price-tie case handled by taking the MIN date per price first —
    both reductions are map-side-combined aggregates; the single-
    partition window runs over |distinct prices| rows only.

    Output: the skyline (price_cents, ship_date) pairs with the count
    of orders sitting exactly on each skyline point.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.to_date("o_orderdate").alias("d"),
    )
    # collapse to the candidate frontier: min date per distinct price
    # (any same-price later date is dominated), with exact point counts
    per_price = o.groupBy("price_cents").agg(
        F.min("d").alias("ship_date")
    )
    counts = o.groupBy("price_cents", F.col("d").alias("ship_date")).agg(
        F.count("*").cast("long").alias("n_orders")
    )
    w = (
        W.orderBy("price_cents")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    frontier = (
        per_price.withColumn("prev_min", F.min("ship_date").over(w))
        .where(
            F.col("prev_min").isNull()
            | (F.col("ship_date") < F.col("prev_min"))
        )
        .select("price_cents", "ship_date")
    )
    return (
        frontier.join(counts, ["price_cents", "ship_date"])
        .orderBy("price_cents")
    )


ATTR_LOOKBACK_MS = 86_400_000  #: attribution lookback window (24 h)


def q106_attribution(spark, sf_dir):
    """Linear multi-touch attribution: each purchase's value splits
    equally across the user's view/click touches in the 24 h before it
    (touchless conversions credit a 'direct' channel) — the marketing
    /conversion analytics companion to the q72 funnel and the
    streaming attribution join.

    Credits are INTEGER micro-cents via the portable floor spelling
    (floor(cents·1e6 / n) — same floor on both engines), so the final
    per-channel sums are exact and partition-order-proof.

    Scale shape: the conversion↔touch range join is TIME-BUCKETED
    (bucket = ms div lookback; each conversion probes exactly two
    buckets per user) — an equi-join on (user, bucket) with the exact
    range predicate applied after, never an unbounded theta join.  The
    per-conversion touch count and the channel rollup are map-side-
    combined aggregates.
    """
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    conv = base.where(
        (F.col("event_type") == "purchase") & F.col("cents").isNotNull()
    ).select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("u"),
        F.col("ms").alias("cms"),
        F.col("cents").alias("conv_cents"),
    )
    touch = base.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("u"),
        F.col("ms").alias("tms"),
        F.col("event_type").alias("channel"),
        # floor division, not cast-truncation: buckets must align for
        # pre-epoch (negative-ms) timestamps too
        F.floor(F.col("ms") / F.lit(ATTR_LOOKBACK_MS)).cast("long").alias("bkt"),
    )
    cb = F.floor(F.col("cms") / F.lit(ATTR_LOOKBACK_MS)).cast("long")
    conv_b = conv.select(
        "*", F.explode(F.array(cb - 1, cb)).alias("bkt")
    )
    j = conv_b.join(touch, ["u", "bkt"]).where(
        (F.col("tms") <= F.col("cms"))
        & (F.col("tms") > F.col("cms") - ATTR_LOOKBACK_MS)
    )
    per = j.groupBy("conv_id", "conv_cents").agg(F.count("*").alias("n"))
    credit = j.join(per.select("conv_id", "n"), "conv_id").select(
        "channel",
        F.floor(F.col("conv_cents") * 1_000_000 / F.col("n"))
        .cast("long")
        .alias("micros"),
    )
    direct = (
        conv.join(
            j.select("conv_id").distinct(), "conv_id", "left_anti"
        ).select(
            F.lit("direct").alias("channel"),
            (F.col("conv_cents") * 1_000_000).cast("long").alias("micros"),
        )
    )
    return (
        credit.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_credits"),
            F.sum("micros").cast("long").alias("attributed_micros"),
        )
        .orderBy("channel")
    )


def q107_full_outer_reconcile(spark, sf_dir):
    """Period-over-period customer reconciliation via FULL OUTER join
    — the snapshot-diff every billing/finance pipeline runs (who
    appeared, who churned, whose spend changed).

    Both sides are map-side-combined aggregates (orders in 1997 vs
    1998 per customer, exact integer cents); the FULL OUTER join
    shuffles both on c_custkey, and the classification is a codegen'd
    CASE over the coalesced keys.  At 100 TB both snapshot aggregates
    shrink the fact table to |customers| before the join.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )

    def snap(yr):
        return (
            o.where(F.col("yr") == yr)
            .groupBy("o_custkey")
            .agg(F.sum("cents").cast("long").alias(f"cents_{yr}"))
        )

    a, b = snap(1997), snap(1998)
    joined = a.join(b, "o_custkey", "full_outer")
    c97, c98 = F.col("cents_1997"), F.col("cents_1998")
    return joined.select(
        "o_custkey",
        c97,
        c98,
        F.when(c97.isNull(), F.lit("added"))
        .when(c98.isNull(), F.lit("churned"))
        .when(c98 > c97, F.lit("grew"))
        .when(c98 < c97, F.lit("shrank"))
        .otherwise(F.lit("flat"))
        .alias("status"),
    ).orderBy("o_custkey")


EWMA_ALPHA = 0.3  #: smoothing factor (shared literal on both engines)
EWMA_WINDOW = 10  #: bounded lookback — the state the stream job would keep


def q108_ewma(spark, sf_dir):
    """Exponentially weighted moving average of event values per user
    over a bounded 10-event lookback — the smoothing pass behind every
    monitoring dashboard, in its streaming-state shape (bounded
    buffer, not unbounded recursion).

    The frame's values ride ONE ordered collect_list; the EWMA is a
    deterministic left fold seeded with the OLDEST value
    (``aggregate(slice(vals, 2, ...), vals[1], acc·(1-α)+x·α)``) —
    bitwise-identical to DuckDB's ``list_reduce`` because both engines
    evaluate the same IEEE ops in the same list order.  NULL values
    are excluded up front (Spark's collect_list drops NULLs silently;
    DuckDB's list() keeps them — pre-filtering makes both sides see
    the identical list).  One hash exchange + sort per user.
    """
    e = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    ow = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_WINDOW - 1), 0)
    )
    vals = F.collect_list(F.round(F.col("value") * 100).cast("double")).over(ow)
    base = e.select("user_id", "event_id", vals.alias("vals"))
    a = F.lit(EWMA_ALPHA)
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: acc * (F.lit(1.0) - a) + x * a,
    )
    # round via pure IEEE ops (floor(x·1e6 + 0.5)/1e6), NOT round():
    # Spark's round() rounds the double's shortest decimal repr while
    # DuckDB rounds the binary value — at sf0.1 seven fold results
    # landed on .5-repr boundaries and the engines split.  floor is
    # bit-identical everywhere, so this spelling cannot diverge.
    return base.select(
        "user_id",
        "event_id",
        (
            F.floor(ewma / F.lit(100.0) * F.lit(1_000_000.0) + F.lit(0.5)).cast(
                "double"
            )
            / F.lit(1_000_000.0)
        ).alias("ewma"),
    ).orderBy("user_id", "event_id")


def q109_cusum(spark, sf_dir):
    """One-sided CUSUM change detection per user: the largest clamped
    cumulative excursion of event values above the global mean, and
    when it peaked — the classic drift alarm (has this user's signal
    shifted up?).

    The clamped recursion C_i = max(0, C_{i-1} + dev_i) is NOT a
    window aggregate, but its closed form is: C_i = S_i - min_{j≤i}
    S_j over the plain cumulative sum S — two stacked windows, no
    recursion, no UDF.  Deviations stay EXACT integers by scaling
    through the global count (dev = cents·n − total, DECIMAL(38,0)
    sums, HUGEINT on the oracle); the single division to real units
    happens once at the end.  The global (n, total) is a single-row
    broadcast; everything else is one exchange + sort per user.
    """
    e = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    base = e.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    glob = base.agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("total"),
    )
    ow = W.partitionBy("user_id").orderBy("ts", "event_id")
    cum = (
        base.crossJoin(F.broadcast(glob))
        .withColumn(
            "dev",
            F.col("cents").cast("decimal(38,0)") * F.col("n_all") - F.col("total"),
        )
        .withColumn("s", F.sum("dev").over(ow.rowsBetween(W.unboundedPreceding, 0)))
        .withColumn(
            "run_min",
            F.least(
                F.lit(0).cast("decimal(38,0)"),
                F.min("s").over(ow.rowsBetween(W.unboundedPreceding, 0)),
            ),
        )
        .withColumn("c", F.col("s") - F.col("run_min"))
    )
    pk = W.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("ts"), F.col("event_id")
    )
    return (
        cum.withColumn("rn", F.row_number().over(pk))
        .where(F.col("rn") == 1)
        # C/(100·n) is an exact rational: round it in integer 1e-6
        # units via divr_sql (round(double) diverges at .5 boundaries)
        .withColumn("s104", (F.col("c") * F.lit(10_000)).cast("decimal(38,0)"))
        .select(
            "user_id",
            (
                F.expr(divr_sql("s104", "n_all")).cast("double")
                / F.lit(1_000_000.0)
            ).alias("peak_cusum"),
            F.col("ts").alias("peak_ts"),
        )
        .orderBy("user_id")
    )


def q110_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over the event-type
    stream: P(next event type | current) per ordered user session —
    the behavioral model behind next-action prediction and anomaly
    scoring on clickstreams.

    One window pass builds (from, to) pairs via lag; the counts and
    the per-source totals are ONE grouped aggregate plus a broadcast-
    size rollup join (|event types|² matrix), so the fact table is
    touched once.  The probability is a single exact division at the
    end (both engines divide the same two BIGINTs).
    """
    e = load_table(spark, "events", sf_dir)
    ow = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "user_id",
            F.lag("event_type", 1).over(ow).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    return (
        counts.join(F.broadcast(totals), "from_type")
        # decimal operand: 2·(n·1e6) would cross int64 at ~4.6e12
        # transitions per pair (reachable in a 100 TB event stream)
        .withColumn("n_d", F.col("n").cast("decimal(38,0)"))
        .select(
            "from_type",
            "to_type",
            "n",
            # n/n_from is an exact rational — integer-units rounding
            # (divr_sql), never round(double) (see its docstring)
            (
                F.expr(divr_sql("n_d * 1000000", "n_from")).cast("double")
                / F.lit(1_000_000.0)
            ).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


def q111_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth: the period-over-period KPI
    query (absolute delta + percent change vs the previous month).

    The fact table collapses to |months| rows in one map-side-combined
    integer-cents aggregate; the lag window then runs over that tiny
    frame (single partition of ~dozens of rows — intentional, the
    aggregate IS the reduction).  Percent change is one guarded double
    division, NULL for the first month and any zero base.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    monthly = o.groupBy("month").agg(F.sum("cents").cast("long").alias("rev_cents"))
    ow = W.orderBy("month")
    prev = F.lag("rev_cents", 1).over(ow)
    return (
        monthly.withColumn("prev_cents", prev)
        # 100·Δ/prev is an exact rational — integer-units rounding via
        # divr_sql; prev <= 0 yields NULL but ANSI evaluates the div's
        # denominator eagerly, so substitute a harmless 1
        .withColumn(
            "dm",
            ((F.col("rev_cents") - F.col("prev_cents")) * F.lit(1_000_000)).cast(
                "decimal(38,0)"
            ),
        )
        .withColumn(
            "pden",
            F.when(F.col("prev_cents") > 0, F.col("prev_cents"))
            .otherwise(F.lit(1))
            .cast("decimal(38,0)"),
        )
        .select(
            F.to_date("month").alias("month"),
            "rev_cents",
            "prev_cents",
            (F.col("rev_cents") - F.col("prev_cents")).alias("delta_cents"),
            F.when(
                F.col("prev_cents") > 0,
                F.expr(divr_sql("dm", "pden")).cast("double") / F.lit(10_000.0),
            ).alias("growth_pct"),
        )
        .orderBy("month")
    )


def divr_sql(s: str, d: str, op: str = "div") -> str:
    """Round-half-away-from-zero of the exact rational s/d in INTEGER
    units, via truncating integer division — ``div`` (Spark) and ``//``
    (DuckDB) both truncate toward zero, so the spelling is portable.

    This replaces ``round(CAST(s AS DOUBLE)/d, k)`` wherever s/d is an
    exact rational: Spark's round() rounds the double's SHORTEST
    DECIMAL REPR (BigDecimal.valueOf → HALF_UP) while DuckDB rounds
    the BINARY value, and the two disagree whenever the true quotient
    sits on a .5 boundary that the double can't represent (found by
    the differential harness: avg_price 4925.11/2 → 2462.56 vs
    2462.55).  Integer units dodge the boundary entirely; the final
    units→double division by a power of ten is identical IEEE on both
    engines.
    """
    return (
        f"(CASE WHEN {s} >= 0 THEN (2 * ({s}) + ({d})) {op} (2 * ({d})) "
        f"ELSE -((2 * (-({s})) + ({d})) {op} (2 * ({d}))) END)"
    )


def q112_not_in_nulls(spark, sf_dir):
    """NOT IN vs NOT EXISTS under three-valued logic — the classic
    NULL trap, demonstrated as data: priorities of finished orders
    probed against a pending-order priority list that CONTAINS a NULL
    (injected with nullif on a value known to exist).  ANSI NOT IN
    over a list with a NULL can never be TRUE, so the NOT IN arm
    returns 0 matches while NOT EXISTS (which compares row-by-row and
    treats the NULL row as simply not matching) returns the real
    complement — both engines implement the standard and must agree.

    Spark plans the NOT IN as a null-aware anti join (broadcast when
    the subquery is small, as here) and the NOT EXISTS as a plain
    left-anti hash join — worth knowing at 100 TB: null-aware anti
    joins cannot use a shuffled hash path when the list may contain
    NULL, which is exactly why pipelines prefer NOT EXISTS.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v112")
    return spark.sql(
        """
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM orders_v112 f
           WHERE f.o_orderstatus = 'F' AND f.o_orderpriority NOT IN
             (SELECT nullif(p.o_orderpriority, '5-LOW')
              FROM orders_v112 p WHERE p.o_orderstatus = 'P')
          ) AS n_not_in,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM orders_v112 f
           WHERE f.o_orderstatus = 'F' AND NOT EXISTS
             (SELECT 1 FROM orders_v112 p WHERE p.o_orderstatus = 'P'
              AND nullif(p.o_orderpriority, '5-LOW') = f.o_orderpriority)
          ) AS n_not_exists
        """
    )


def q113_percent_of_parent(spark, sf_dir):
    """Hierarchical share-of-parent rollup: nation revenue as a share
    of its region, region revenue as a share of the grand total — the
    drill-down ratio every BI cube shows next to raw amounts.

    The fact table reduces ONCE to (region, nation) integer cents
    (map-side combined); both parent totals are windows over that
    ~|nations| frame, so the share arithmetic costs nothing at any
    scale.  Shares are exact rationals → integer-units rounding
    (divr_sql), never round(double).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wr = W.partitionBy("r_name")
    wg = W.partitionBy()
    return (
        base.withColumn(
            "cents_d", F.col("cents").cast("decimal(38,0)")
        )  # divr operands in DECIMAL: 2·(region_cents·1e6) crosses
        # int64 just above TPC-H sf1 (region revenue ≈ 4.6e12 cents)
        .withColumn(
            "region_cents", F.sum("cents").over(wr).cast("decimal(38,0)")
        )
        .withColumn(
            "total_cents", F.sum("cents").over(wg).cast("decimal(38,0)")
        )
        .select(
            "r_name",
            "n_name",
            "cents",
            # zero-parent guard (PARITY #14 family): an exactly-
            # cancelling region total makes the share 0/0 — NULL on
            # both engines instead of an ANSI DIVIDE_BY_ZERO
            F.when(
                F.col("region_cents") != 0,
                F.expr(divr_sql("cents_d * 1000000", "region_cents")).cast(
                    "double"
                )
                / F.lit(10_000.0),
            ).alias("pct_of_region"),
            F.when(
                F.col("total_cents") != 0,
                F.expr(divr_sql("region_cents * 1000000", "total_cents")).cast(
                    "double"
                )
                / F.lit(10_000.0),
            ).alias("region_pct_of_total"),
        )
        .orderBy("r_name", "n_name")
    )


BOUNCE_GAP_MS = 1_800_000  #: 30-minute session inactivity gap


def q114_bounce_rate(spark, sf_dir):
    """Batch sessionization + bounce rate per user: gaps-and-islands
    over the event stream (new session when >30 min since the previous
    event), then the fraction of single-event sessions — the
    engagement KPI behind every web-analytics dashboard (and the batch
    mirror of the streaming ``ns_sessionize`` operator).

    One exchange + sort per user_id builds session ids as a running
    sum of gap flags; session sizes and the bounce ratio are two
    map-side-combined aggregates.  The rate is an exact rational →
    integer-units rounding (divr_sql).
    """
    e = load_table(spark, "events", sf_dir)
    # order by the TRUNCATED ms on both engines: two µs-distinct events
    # can share an ms, and the gap logic must see the same order/ties
    ow = W.partitionBy("user_id").orderBy("ms", "event_id")
    flagged = e.select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ms"),
    ).withColumn(
        "new_sess",
        F.when(
            F.lag("ms", 1).over(ow).isNull()
            | (F.col("ms") - F.lag("ms", 1).over(ow) > BOUNCE_GAP_MS),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sess_id", F.sum("new_sess").over(ow.rowsBetween(W.unboundedPreceding, 0))
    )
    sizes = sess.groupBy("user_id", "sess_id").agg(F.count("*").alias("n_events"))
    return (
        sizes.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
        )
        .select(
            "user_id",
            "n_sessions",
            "n_bounces",
            (
                F.expr(divr_sql("n_bounces * 1000000", "n_sessions")).cast("double")
                / F.lit(1_000_000.0)
            ).alias("bounce_rate"),
        )
        .orderBy("user_id")
    )


def q115_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test per user: is the event-value stream
    random noise around the global median, or does it trend/cluster?
    — the statistical randomness audit behind monitoring anomaly
    scores.

    Values dichotomize against the EXACT global median (max-accuracy
    GK sketch ≡ DuckDB quantile_disc, the q44b device; median-equal
    values drop, per the standard test).  Runs count via one lag
    window; n1/n2/R are exact integers, so the z-statistic is one
    deterministic double expression whose denominator is a sqrt —
    irrational, hence safe under round() (PARITY #7).

    Scale shape: the median is a one-row broadcast from a mergeable
    sketch; one exchange + sort per user; everything else map-side.
    """
    e = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    base = e.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    med = base.agg(
        F.percentile_approx("cents", F.lit(0.5), F.lit(2147483647)).alias("med")
    )
    ow = W.partitionBy("user_id").orderBy("ts", "event_id")
    signed = (
        base.crossJoin(F.broadcast(med))
        .where(F.col("cents") != F.col("med"))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("cents") > F.col("med"), 1).otherwise(0).alias("s"),
        )
        .withColumn("prev", F.lag("s", 1).over(ow))
        .withColumn(
            "run_start",
            F.when(F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1).otherwise(0),
        )
    )
    agg = signed.groupBy("user_id").agg(
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"),
        F.sum("run_start").cast("long").alias("runs"),
    )
    n1d, n2d, rd = (F.col(c).cast("double") for c in ("n1", "n2", "runs"))
    nd = n1d + n2d
    er = F.lit(2.0) * n1d * n2d / nd + F.lit(1.0)
    vr = (
        F.lit(2.0) * n1d * n2d * (F.lit(2.0) * n1d * n2d - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    return agg.select(
        "user_id",
        "n1",
        "n2",
        "runs",
        F.when((F.col("n1") >= 1) & (F.col("n2") >= 1) & (vr > 0),
               F.round((rd - er) / F.sqrt(vr), 6)).alias("z"),
    ).orderBy("user_id")


def q116_spearman(spark, sf_dir):
    """Spearman rank correlation between quantity and price per return
    flag — the monotone-association measure that survives outliers
    where Pearson (q45/q64) does not.

    Tie handling is the textbook average-rank, kept EXACT by working
    on 2·rank (min_rank + max_rank, an integer) — all five sufficient
    statistics are DECIMAL(38,0) integer sums, and the Pearson formula
    on them is one deterministic double expression (sqrt denominator →
    irrational → round-safe).

    Scale shape — ONE meaningful shuffle, NO corpus-sized single-
    partition sort, NO corpus-sized join-back, NO materialization
    (the plan is fully lazy; every subplan that reads the corpus is a
    cheap 3-column scan feeding a map-side-combined aggregate).  The
    group key has 3 distinct values, so a rank window partitioned on it
    would funnel ~1/3 of the corpus through one task at scale.  Instead:
    (1) qty ranks: the (flag, qty) marginal aggregates to ~|qty domain|
    rows (map-side combine ⇒ negligible shuffle traffic) and a plain
    window over that tiny post-aggregate frame assigns
    rq = 2·|{rows < v}| + count(v) + 1, broadcast back onto the rows;
    (2) the (flag, price-cents) marginal is THE one corpus-volume
    shuffle — count, Σrq and Σrq² ride the same partial/final
    aggregate, and it is referenced exactly ONCE downstream (the r9
    spelling referenced it twice through the rank helper, which — with
    no exchange reuse across aliased subplans — re-ran the corpus
    shuffle per side; 6 corpus scans total, measured);
    (3) price ranks are a two-level distributed prefix sum: bucket
    totals floor(v/2²⁰) come from their OWN map-side-combined corpus
    aggregate (~|buckets| rows — this is what breaks the double
    reference), cumulate via a window over that tiny frame, broadcast
    onto the marginal, and the in-(flag, bucket) local prefix window
    sees range-bounded slices, never the corpus (the bucket double
    division stays monotone even when |v| > 2⁵² loses low bits, and a
    collision only merges adjacent buckets — harmless);
    (4) all five sufficient statistics reduce from the marginal frame
    by one map-side-combined aggregate — sx = Σ srq, sxx = Σ srq²,
    sy = Σ rp·c, syy = Σ rp²·c, sxy = Σ rp·srq.
    Identity: min_rank + max_rank = 2·|{rows < v}| + count(v) + 1 —
    identical integers to a rank()-window spelling, so the oracle hash
    is unchanged.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
    )
    # qty ranks: tiny post-aggregate window (|flag|·|qty| ≈ 150 rows)
    qw = W.partitionBy("l_returnflag").orderBy("q")
    qlk = (
        li.groupBy("l_returnflag", "q")
        .agg(F.count("*").alias("c"))
        .select(
            "l_returnflag",
            "q",
            (F.lit(2) * (F.sum("c").over(qw) - F.col("c")) + F.col("c") + F.lit(1)).alias(
                "rq"
            ),
        )
    )
    # price bucket totals from the corpus directly (map-side combined,
    # ~|flag|·|price range / 2²⁰| rows) — NOT derived from pf, so pf
    # stays single-referenced and the plan needs no checkpoint
    bkt = F.floor(F.col("p") / F.lit(float(2**20)))
    bw = W.partitionBy("l_returnflag").orderBy("bkt")
    before_bkt = (
        li.groupBy("l_returnflag", bkt.alias("bkt"))
        .agg(F.count("*").alias("bc"))
        .select(
            "l_returnflag", "bkt", (F.sum("bc").over(bw) - F.col("bc")).alias("before_bkt")
        )
    )
    # (flag, price) marginal: THE one corpus-volume shuffle — count,
    # Σrq and Σrq² ride the same partial/final aggregate
    pf = (
        li.join(F.broadcast(qlk), ["l_returnflag", "q"])
        .groupBy("l_returnflag", "p")
        .agg(
            F.count("*").alias("c"),
            # decimal-first products: rq ~ 2n, so Σrq² overflows LONG
            # once a flag group passes ~2^31 rows — decimal(38,0) won't
            F.sum(F.col("rq").cast("decimal(38,0)")).alias("srq"),
            F.sum(F.col("rq").cast("decimal(38,0)") * F.col("rq")).alias("srq2"),
        )
    )
    lw = W.partitionBy("l_returnflag", "bkt").orderBy("p")
    less = F.col("before_bkt") + F.sum("c").over(lw) - F.col("c")  # rows < v, corpus-wide
    ranked = (
        pf.withColumn("bkt", F.floor(F.col("p") / F.lit(float(2**20))))
        .join(F.broadcast(before_bkt), ["l_returnflag", "bkt"])
        .withColumn("rp", F.lit(2) * less + F.col("c") + F.lit(1))
    )
    dec = lambda x: x.cast("decimal(38,0)")  # noqa: E731
    agg = ranked.groupBy("l_returnflag").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("srq").alias("sx"),
        F.sum(dec(F.col("rp")) * dec(F.col("c"))).alias("sy"),
        F.sum(dec(F.col("rp")) * F.col("srq")).alias("sxy"),
        F.sum("srq2").alias("sxx"),
        F.sum(dec(F.col("rp")) * dec(F.col("rp")) * dec(F.col("c"))).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd, sxyd, sxxd, syyd = (
        F.col(c).cast("double") for c in ("sx", "sy", "sxy", "sxx", "syy")
    )
    vx = nd * sxxd - sxd * sxd
    vy = nd * syyd - syd * syd
    rho = (nd * sxyd - sxd * syd) / (F.sqrt(vx) * F.sqrt(vy))
    return agg.select(
        "l_returnflag",
        "n",
        F.when((F.col("n") >= 2) & (vx > 0) & (vy > 0), F.round(rho, 6)).alias(
            "spearman"
        ),
    ).orderBy("l_returnflag")


def q117_gini(spark, sf_dir):
    """Gini coefficient of order value per priority class — the
    inequality metric (how concentrated is revenue across orders?)
    from the sorted-index formula G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx).

    Σi·xᵢ is tie-safe under row_number (equal x values contribute the
    same regardless of index assignment among themselves), and all
    sufficient statistics are DECIMAL(38,0) integers — G is an exact
    rational, rounded in integer 1e-6 units via divr_sql (PARITY #7).

    Scale shape: one sort window per group + one map-side-combined
    aggregate — the same cost as any ranked analytic; no collect.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).where(F.col("cents") >= 0)
    ow = W.partitionBy("o_orderpriority").orderBy("cents", "o_orderpriority")
    idx = o.withColumn("i", F.row_number().over(ow))
    agg = idx.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("i") * F.col("cents")).cast("decimal(38,0)")).alias("six"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("six")
        - (F.col("n") + 1).cast("decimal(38,0)") * F.col("sx")
    )
    den = F.col("n").cast("decimal(38,0)") * F.col("sx")
    prepped = agg.withColumn("gnum", num).withColumn(
        "gden",
        F.when(F.col("sx") > 0, den).otherwise(F.lit(1).cast("decimal(38,0)")),
    )
    return prepped.select(
        "o_orderpriority",
        "n",
        F.col("sx").cast("long").alias("total_cents"),
        F.when(
            F.col("sx") > 0,
            F.expr(divr_sql("gnum * 1000000", "gden")).cast("double")
            / F.lit(1_000_000.0),
        ).alias("gini"),
    ).orderBy("o_orderpriority")


def q118_seasonal_decompose(spark, sf_dir):
    """Classical seasonal decomposition of daily revenue: trend
    (centered 7-day moving average over a GAP-FILLED calendar),
    day-of-week seasonal component (mean of detrended values per
    weekday), residual — the STL-lite every demand-forecasting
    pipeline runs before modeling.

    ALL-INTEGER until the final display division: working in 7·cents
    units makes the moving average exact (detr7 = 7·cents − Σ₇), the
    weekday means exact rationals over n_dow, and every reported
    value a divr_sql rounding (PARITY #7) — no float accumulates
    anywhere.  Edge days without a full ±3 window are excluded (the
    textbook treatment).

    Scale shape: the fact table reduces to |days| rows map-side; the
    calendar spine is generated in-engine (q87's device) so gaps
    become explicit zero days; one ordered window over the |days|
    frame (bounded by the calendar, not the data) + one |weekday|
    aggregate broadcast back.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    daily = o.groupBy("d").agg(F.sum("cents").cast("long").alias("cents"))
    bounds = o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    dense = bounds.select(F.explode(F.sequence("mn", "mx")).alias("d"))
    filled = dense.join(daily, "d", "left").select(
        "d", F.coalesce("cents", F.lit(0)).alias("cents")
    )
    ow = W.orderBy("d").rowsBetween(-3, 3)
    win = (
        filled.withColumn("sum7", F.sum("cents").over(ow))
        .withColumn("n7", F.count("*").over(ow))
        .where(F.col("n7") == 7)
        .withColumn("detr7", F.lit(7) * F.col("cents") - F.col("sum7"))
        .withColumn("dow", F.dayofweek("d"))
    )
    from cassandra_extractor_spark.operators.dedup import materialize_once

    win = materialize_once(win)
    seas = win.groupBy("dow").agg(
        F.sum(F.col("detr7").cast("decimal(38,0)")).alias("s7n"),
        F.count("*").cast("long").alias("n_dow"),
    )
    j = (
        win.join(F.broadcast(seas), "dow")
        .withColumn("sum7d", F.col("sum7").cast("decimal(38,0)"))
        .withColumn(
            "den_dow", (F.col("n_dow") * F.lit(7)).cast("decimal(38,0)")
        )
        .withColumn(
            "resid_num",
            F.col("detr7").cast("decimal(38,0)") * F.col("n_dow") - F.col("s7n"),
        )
    )
    return j.select(
        "d",
        "cents",
        (
            F.expr(divr_sql("sum7d * 100", "7")).cast("double") / F.lit(100.0)
        ).alias("trend_cents"),
        (
            F.expr(divr_sql("s7n * 100", "den_dow")).cast("double")
            / F.lit(100.0)
        ).alias("seasonal_cents"),
        (
            F.expr(divr_sql("resid_num * 100", "den_dow")).cast("double")
            / F.lit(100.0)
        ).alias("residual_cents"),
    ).orderBy("d")


def q119_ab_proportions(spark, sf_dir):
    """Two-proportion z-test: does purchase rate differ between users
    whose FIRST event was a view vs a click?  — the A/B-test readout
    every experimentation platform computes, with the assignment
    derived from the event stream itself (first-touch split).

    n and successes per arm are exact integers; the pooled-variance z
    is one deterministic double expression whose denominator is a
    sqrt (irrational → round-safe, PARITY #7).  Degenerate pools
    (p̂ ∈ {0,1} or an empty arm) yield NULL.

    Scale shape: first-touch assignment is one min-by window per
    user; arm aggregation is map-side combined; the z arithmetic runs
    on a 2-row frame.
    """
    e = load_table(spark, "events", sf_dir)
    ow = W.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        e.withColumn("rn", F.row_number().over(ow))
        .where((F.col("rn") == 1) & F.col("event_type").isin("view", "click"))
        .select("user_id", F.col("event_type").alias("arm"))
    )
    purchasers = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    arms = (
        firsts.join(purchasers, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.coalesce("converted", F.lit(0))).cast("long").alias("conv"),
        )
    )
    a = arms.where(F.col("arm") == "view").select(
        F.col("n").alias("n1"), F.col("conv").alias("c1")
    )
    b = arms.where(F.col("arm") == "click").select(
        F.col("n").alias("n2"), F.col("conv").alias("c2")
    )
    j = a.crossJoin(b)
    n1d, c1d, n2d, c2d = (F.col(c).cast("double") for c in ("n1", "c1", "n2", "c2"))
    p1, p2 = c1d / n1d, c2d / n2d
    pp = (c1d + c2d) / (n1d + n2d)
    se = F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1d + F.lit(1.0) / n2d))
    return j.select(
        "n1",
        "c1",
        "n2",
        "c2",
        F.when(
            (F.col("n1") > 0)
            & (F.col("n2") > 0)
            & (F.col("c1") + F.col("c2") > 0)
            & (F.col("c1") + F.col("c2") < F.col("n1") + F.col("n2")),
            F.round((p1 - p2) / se, 6),
        ).alias("z"),
    )


def q120_ltv_curve(spark, sf_dir):
    """Cohort LTV curve: cumulative revenue per signup-month cohort by
    months-since-first-order — the companion of the q73 retention
    triangle that finance actually plots (does a cohort pay back
    acquisition cost by month N?).

    Cohort and age come from one min window per customer; revenue is
    exact integer cents; the cumulative sum is a RANGE-framed window
    over the (cohort, age) aggregate — |cohorts|·|ages| rows, tiny at
    any fact scale.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    aged = o.join(first, "o_custkey").select(
        "cohort",
        (
            (F.year("m") - F.year("cohort")) * 12
            + (F.month("m") - F.month("cohort"))
        )
        .cast("long")
        .alias("age"),
        "cents",
    )
    per = aged.groupBy("cohort", "age").agg(
        F.sum("cents").cast("long").alias("rev_cents")
    )
    cw = (
        W.partitionBy("cohort")
        .orderBy("age")
        .rangeBetween(W.unboundedPreceding, 0)
    )
    return (
        per.withColumn("cum_cents", F.sum("rev_cents").over(cw).cast("long"))
        .select(F.to_date("cohort").alias("cohort"), "age", "rev_cents", "cum_cents")
        .orderBy("cohort", "age")
    )


def q121_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov distance between the value
    distributions of two event types — the distribution-drift test a
    model-monitoring pipeline runs between training and serving data.

    EXACT: D = max |F₁ − F₂| evaluated at every observed value via
    cumulative counts over the merged support; the maximized quantity
    is the INTEGER |c₁·n₂ − c₂·n₁| (cross-multiplied ECDFs), so the
    max is engine-order-proof and the final D is one divr_sql-rounded
    rational.  No sampling, no approximation.

    Scale shape: per-value counts are map-side combined; the two
    cumulative windows run over the |distinct values| frame ordered
    once; the max is a 1-row aggregate.  (The single-partition window
    is bounded by the value domain, not the fact table — same
    rationale as q105's skyline.)
    """
    e = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    base = e.where(F.col("event_type").isin("view", "purchase")).select(
        F.col("event_type").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    counts = base.groupBy("x").agg(
        F.sum(F.when(F.col("t") == "view", 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("t") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    vw = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    cum = (
        counts.withColumn("ca", F.sum("a").over(vw))
        .withColumn("cb", F.sum("b").over(vw))
        .crossJoin(
            F.broadcast(
                base.agg(
                    F.sum(F.when(F.col("t") == "view", 1).otherwise(0))
                    .cast("long")
                    .alias("n1"),
                    F.sum(F.when(F.col("t") == "purchase", 1).otherwise(0))
                    .cast("long")
                    .alias("n2"),
                )
            )
        )
        .withColumn(
            "dn",
            F.abs(
                F.col("ca").cast("decimal(38,0)") * F.col("n2")
                - F.col("cb").cast("decimal(38,0)") * F.col("n1")
            ),
        )
    )
    top = cum.groupBy("n1", "n2").agg(F.max("dn").alias("dmax"))
    prepped = top.withColumn(
        "den",
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.col("n1").cast("decimal(38,0)") * F.col("n2"),
        ).otherwise(F.lit(1).cast("decimal(38,0)")),
    )
    return prepped.select(
        "n1",
        "n2",
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.expr(divr_sql("dmax * 1000000", "den")).cast("double")
            / F.lit(1_000_000.0),
        ).alias("ks_d"),
    )


def q123_mann_whitney(spark, sf_dir):
    """Mann–Whitney U rank-sum test between the order-value
    distributions of two priority classes — the nonparametric A/B test
    that replaces the t-test when values are heavy-tailed (the usual
    case for money columns); pairs with q121's KS distance (D measures
    WHERE distributions differ, U/z measures stochastic dominance).

    EXACT sufficient statistics: average ranks are kept integer as
    2·rank = 2·|{rows < v}| + count(v) + 1 (the q116 identity), so
    2·R_A and 2·U_A are exact DECIMAL integers, and the tie-corrected
    normal approximation z = (U − n_a·n_b/2)/σ_ties is ONE
    deterministic double expression over five integer aggregates
    (sqrt → irrational → round-safe; same discipline as q116).

    Scale shape: one map-side-combined corpus aggregate to the
    (value → count_a, count_b) frame; ranks are a two-level
    distributed prefix sum (the q44/q101/q116 discipline): per-bucket
    totals come from the corpus directly so the count frame stays
    single-referenced, the only unpartitioned window runs over the
    tiny ≤|buckets| frame, and the in-bucket prefix is partitioned on
    the bucket key — no single task ever funnels the whole value
    domain (retired in round 13: previously one unpartitioned window
    over the distinct-value frame); the final statistics are a 1-row
    aggregate.
    """
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_orderpriority").alias("t"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    counts = o.groupBy("x").agg(
        F.sum(F.when(F.col("t") == "1-URGENT", 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("t") == "5-LOW", 1).otherwise(0)).cast("long").alias("b"),
    )
    bkt = F.floor(F.col("x") / F.lit(float(2**20)))
    btot = o.groupBy(bkt.alias("bkt")).agg(F.count("*").cast("long").alias("bc"))
    bw = W.orderBy("bkt")
    before_bkt = btot.select(
        "bkt", (F.sum("bc").over(bw) - F.col("bc")).alias("before_bkt")
    )
    lw = W.partitionBy("bkt").orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    t = F.col("a") + F.col("b")
    cum = (
        counts.withColumn("bkt", bkt)
        .join(F.broadcast(before_bkt), "bkt")
        .withColumn("less", F.col("before_bkt") + F.sum(t).over(lw) - t)
    )
    # 2·R_A = Σ_values a · (2·less + t + 1); ties: Σ (t³ − t)
    agg = cum.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
        F.sum(dec(F.col("a")) * dec(F.lit(2) * F.col("less") + t + 1)).alias("r2a"),
        F.sum(dec(t) * dec(t) * dec(t) - dec(t)).alias("ties"),
    )
    # 2·U_A = 2·R_A − n_a(n_a+1)
    u2 = (F.col("r2a") - dec(F.col("n_a")) * dec(F.col("n_a") + 1)).alias("u2")
    prepped = agg.select("n_a", "n_b", u2, "ties").withColumn(
        "n", F.col("n_a") + F.col("n_b")
    )
    na, nb, nd = (F.col(c).cast("double") for c in ("n_a", "n_b", "n"))
    u2d, tiesd = F.col("u2").cast("double"), F.col("ties").cast("double")
    sig2 = na * nb / F.lit(12.0) * ((nd + 1) - tiesd / (nd * (nd - 1)))
    z = (u2d - na * nb) / (F.lit(2.0) * F.sqrt(sig2))
    return prepped.select(
        "n_a",
        "n_b",
        # LONG output: 2·U ≤ 2·n_a·n_b stays under 2^63 until the two
        # groups jointly pass ~2·10⁹ rows; the internal sums stay
        # DECIMAL so the statistic itself never overflows
        F.col("u2").cast("long").alias("u2"),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0) & (sig2 > 0), F.round(z, 6)).alias(
            "z"
        ),
    )


def q124_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection over the daily event-count series
    per event type — "did the rate shift, and when?" for pipeline
    monitoring.  The classic statistic S_k = Σ_{i≤k}(c_i − mean) is
    kept EXACT by cross-multiplication: S_k·n = n·prefix_k − k·total
    is an integer, so the argmax day is engine-order-proof (ties break
    to the earliest day).

    Scale shape: one map-side-combined aggregate to the (type, day)
    count frame; the prefix window and the argmax window both run over
    that |types|·|days| frame (calendar-bounded, not corpus-bounded);
    output is |types| rows.
    """
    e = load_table(spark, "events", sf_dir).select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = e.groupBy("event_type", "day").agg(F.count("*").cast("long").alias("c"))
    dw = W.partitionBy("event_type").orderBy("day")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pre = (
        daily.withColumn("k", F.row_number().over(dw))
        .withColumn("pref", F.sum("c").over(dw))
        .withColumn("n", F.count("*").over(W.partitionBy("event_type")))
        .withColumn("tot", F.sum("c").over(W.partitionBy("event_type")))
    )
    scored = pre.withColumn(
        "dev", F.abs(dec(F.col("n")) * dec(F.col("pref")) - dec(F.col("k")) * dec(F.col("tot")))
    )
    aw = W.partitionBy("event_type").orderBy(F.col("dev").desc(), F.col("day"))
    return (
        scored.withColumn("rk", F.row_number().over(aw))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.col("day").alias("cp_day"),
            F.col("dev").cast("long").alias("max_dev_n"),
        )
        .orderBy("event_type")
    )


def q125_theil_index(spark, sf_dir):
    """Theil T inequality index of order value per priority class —
    the decomposable counterpart to q117's Gini (Theil splits into
    within-group + between-group terms, so it's the index used when
    you need to attribute revenue concentration to segments).

    T = Σ xᵢ·ln(xᵢ) / S − ln(S/n)  with S = Σ xᵢ — two integer-exact
    aggregates (n, S) plus ONE ln-bearing sum.  That sum is made
    ORDER-INDEPENDENT (double addition is not associative) by reducing
    to the per-distinct-value count frame and summing
    round(v·ln(v), 6)·c through DECIMAL(38,6) — the ns_corpus_stats
    decimal-sum discipline applied to an ln term (ln itself mirrors
    engine-for-engine; the ns_ngram_pmi precedent).  The final
    expression is one deterministic double AST, rounded at 6.

    Scale shape: one map-side-combined corpus aggregate to the
    (priority, cents) count frame (domain-bounded), one aggregate to
    |priorities| rows.  No windows, no joins.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    ).where(F.col("v") > 0)
    cnt = o.groupBy("o_orderpriority", "v").agg(F.count("*").cast("long").alias("c"))
    dec6 = lambda x: x.cast("decimal(38,6)")  # noqa: E731
    term = dec6(F.round(F.col("v").cast("double") * F.log(F.col("v").cast("double")), 6))
    agg = cnt.groupBy("o_orderpriority").agg(
        F.sum("c").cast("long").alias("n_orders"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("c")).alias("s"),
        F.sum(term * F.col("c")).alias("tl"),
    )
    nd = F.col("n_orders").cast("double")
    sd = F.col("s").cast("double")
    theil = F.col("tl").cast("double") / sd - F.log(sd / nd)
    return agg.select(
        "o_orderpriority",
        "n_orders",
        F.col("s").cast("long").alias("total_cents"),
        # + 0.0 kills signed zero: the two engines' ln can differ by an
        # ulp, so a ~0 residual rounds to -0.0 on one and +0.0 on the
        # other (PARITY signed-zero audit); IEEE -0.0 + 0.0 = +0.0
        F.when(F.col("n_orders") > 0, F.round(theil, 6) + F.lit(0.0)).alias("theil"),
    ).orderBy("o_orderpriority")


def q126_cramers_v(spark, sf_dir):
    """Cramér's V association strength between two categorical columns
    (priority × status) — the EFFECT SIZE that q100's chi-square lacks:
    χ² scales with n, so at 100 TB everything is "significant"; V =
    sqrt(χ²/(n·(min(R,C)−1))) ∈ [0,1] says whether the association is
    big enough to matter.  Same cell-frame machinery as q100 (one
    map-side-combined groupBy to |R×C| cells, windows only over the
    tiny cell frame), same DECIMAL(38,18) fold; the extra outputs (n,
    R, C, V) ride the same single aggregate.
    """
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("long").alias("obs")
    )
    wr = W.partitionBy("o_orderpriority")
    wc = W.partitionBy("o_orderstatus")
    wt = W.partitionBy()
    exp = (
        F.col("rt").cast("double") * F.col("ct").cast("double")
    ) / F.col("n").cast("double")
    contrib = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    agg = (
        cells.select(
            "o_orderpriority",
            "o_orderstatus",
            "obs",
            F.sum("obs").over(wr).alias("rt"),
            F.sum("obs").over(wc).alias("ct"),
            F.sum("obs").over(wt).alias("n"),
        )
        .agg(
            F.countDistinct("o_orderpriority").cast("long").alias("r"),
            F.countDistinct("o_orderstatus").cast("long").alias("c"),
            F.max("n").cast("long").alias("n_rows"),
            F.sum(contrib.cast("decimal(38,18)")).alias("chi2d"),
        )
    )
    k = F.least(F.col("r"), F.col("c")) - 1
    v = F.sqrt(
        F.col("chi2d").cast("double") / (F.col("n_rows").cast("double") * k.cast("double"))
    )
    return agg.select(
        "r",
        "c",
        "n_rows",
        F.round(F.col("chi2d").cast("double"), 6).alias("chi2"),
        F.when((F.col("n_rows") > 0) & (k > 0), F.round(v, 6)).alias("cramers_v"),
    )


def q127_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test on PAIRED samples — completes the
    nonparametric trio (q123 Mann–Whitney: two independent samples;
    q121 KS: whole distributions; this: within-subject before/after):
    did customers' order values shift between their FIRST and LAST
    order?  The paired design removes between-customer variance, which
    is why it's the standard drift test for per-entity money series.

    EXACT sufficient statistics, the q123 discipline doubled: with
    d = last − first in integer cents (zeros excluded per the standard
    procedure), average ranks of |d| stay integer as
    2·rank = 2·|{|d| < v}| + t + 1, so 2·W⁺ is an exact DECIMAL
    integer; the tie-corrected normal approximation
    z = (2W⁺ − n(n+1)/2) / sqrt(n(n+1)(2n+1)/6 − Σ(t³−t)/12)
    is ONE deterministic double expression over four integer
    aggregates (doubling W scales both moments' integer forms —
    nothing fractional exists before the final division).

    Scale shape: first/last per customer is a single map-side
    min/max-of-struct aggregate (no window over raw orders); the rank
    algebra runs on the (|d| → counts) frame — bounded by the value
    domain, not the customer count — as a two-level distributed
    prefix sum (the q44/q101/q116 discipline, retired here in round
    13): the only unpartitioned window runs over the ≤|buckets|
    per-bucket-total frame (derived from the already-materialized
    count frame), the in-bucket prefix is partitioned on the bucket
    key; output is one row.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.struct(
            "o_orderdate",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        ).alias("s"),
    )
    pairs = (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("s").alias("first"),
            F.max("s").alias("last"),
        )
        .where(F.col("n_orders") >= 2)
        .select((F.col("last.cents") - F.col("first.cents")).alias("d"))
    )
    # ONE corpus pass to the (|d| → counts) frame, zeros kept as their
    # own group so n_pairs needs no second scan; the frame is
    # domain-bounded and referenced by both statistics below, so it is
    # checkpointed once (the q44/ns_length_outliers count-frame rule)
    from cassandra_extractor_spark.operators.dedup import materialize_once

    counts = materialize_once(
        pairs.select(
            F.abs(F.col("d")).alias("v"),
            F.when(F.col("d") > 0, 1).otherwise(0).alias("pos"),
        )
        .groupBy("v")
        .agg(
            F.sum("pos").cast("long").alias("p"),
            F.count("*").cast("long").alias("t"),
        )
    )
    n_pairs = counts.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("n_pairs")
    )
    pos = counts.where(F.col("v") > 0)
    # bucket totals from the materialized count frame (checkpointed
    # above, so the second reference reads blocks, not the corpus)
    bkt = F.floor(F.col("v") / F.lit(float(2**20)))
    btot = pos.groupBy(bkt.alias("bkt")).agg(F.sum("t").cast("long").alias("bc"))
    bw = W.orderBy("bkt")
    before_bkt = btot.select(
        "bkt", (F.sum("bc").over(bw) - F.col("bc")).alias("before_bkt")
    )
    lw = W.partitionBy("bkt").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cum = (
        pos.withColumn("bkt", bkt)
        .join(F.broadcast(before_bkt), "bkt")
        .withColumn("less", F.col("before_bkt") + F.sum("t").over(lw) - F.col("t"))
    )
    agg = cum.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(dec(F.col("p")) * dec(F.lit(2) * F.col("less") + F.col("t") + 1)).alias(
            "w2p"
        ),
        F.sum(
            dec(F.col("t")) * dec(F.col("t")) * dec(F.col("t")) - dec(F.col("t"))
        ).alias("ties"),
    )
    nd = F.col("n").cast("double")
    w2d, tiesd = F.col("w2p").cast("double"), F.col("ties").cast("double")
    sig2 = nd * (nd + 1) * (F.lit(2.0) * nd + 1) / F.lit(6.0) - tiesd / F.lit(12.0)
    z = (w2d - nd * (nd + 1) / F.lit(2.0)) / F.sqrt(sig2)
    return n_pairs.crossJoin(agg).select(
        "n_pairs",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_nonzero"),
        F.coalesce(F.col("w2p"), F.lit(0)).cast("long").alias("w2_plus"),
        F.when((F.col("n") > 0) & (sig2 > 0), F.round(z, 6)).alias("z"),
    )
