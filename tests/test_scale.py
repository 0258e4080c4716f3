"""Scale techniques: bucketed shuffle-free joins, salted skew handling,
skew-bounded plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_extractor_spark.operators.scale import salted_aggregate, write_bucketed
from cassandra_extractor_spark.sources.catalog import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    write_bucketed(orders, "orders_b", ["o_custkey"], 8, sort_cols=["o_custkey"])
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "customer_b", ["o_custkey"], 8,
        sort_cols=["o_custkey"],
    )
    a, b = spark.table("orders_b"), spark.table("customer_b")
    # disable broadcast so the join strategy decision is about shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # co-located: no shuffle either side
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_layout_optimized_write_prunes_files(spark, sf_dir):
    """A table bucketed on its key serves a point lookup on that key
    from one bucket's files: the scan prunes the other buckets."""
    orders = load_table(spark, "orders", sf_dir)
    write_bucketed(orders, "orders_layout", ["o_orderkey"], 16)
    try:
        back = spark.table("orders_layout")
        key = orders.select(F.min("o_orderkey")).first()[0]
        point = back.where(F.col("o_orderkey") == key)
        plan = point._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 16" in plan, plan
        assert point.count() == 1
        assert back.count() == orders.count()  # correctness preserved
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_layout")


def test_salted_join_matches_plain(spark, sf_dir):
    """q88's salted join (orders replicated over the salts, lineitem on
    a deterministic salt) returns exactly the plain join's per-order
    totals."""
    from cassandra_extractor_spark.operators.relational import q88_salted_join

    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") <= 4000)
    li = load_table(spark, "lineitem", sf_dir)
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("revenue_cents"),
        )
    )
    want = sorted(tuple(r) for r in plain.collect())
    assert want
    assert sorted(tuple(r) for r in q88_salted_join(spark, sf_dir).collect()) == want


def _skewed(spark):
    # 10k rows of one hot key + 100 spread keys
    hot = spark.range(10_000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    rest = spark.range(100).select((F.col("id") + 2).alias("k"), F.col("id").alias("v"))
    return hot.union(rest)


def test_salted_aggregate_matches_plain(spark):
    df = _skewed(spark)
    plain = {
        r["k"]: (r["s"], r["c"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("v").alias("c")).collect()
    }
    salted = {
        r["k"]: (r["sum_v"], r["count_v"])
        for r in salted_aggregate(df, "k", {"v": "sum"}).join(
            salted_aggregate(df, "k", {"v": "count"}), "k"
        ).collect()
    }
    assert plain == salted


def test_range_join_bucketing_bounds_hot_user_intermediate(spark):
    """One hot user must not produce an O(n^2) join intermediate.

    5k events for a single user spread over ~500 minutes: the naive
    user_id equi-join materializes 25M pre-filter pairs; the bucketed
    plan only pairs each probe row with its own + adjacent minute
    bucket (~10 events each)."""
    from cassandra_extractor_spark.operators.relational import range_join_pairs

    n = 5_000
    events = spark.range(n).select(
        F.lit(1).alias("user_id"),
        F.col("id").alias("event_id"),
        F.timestamp_millis((F.col("id") * 6_000).cast("long")).alias("ts"),  # 10/min
    )
    pairs = range_join_pairs(events, window_sec=60)
    # correctness: every in-window ordered pair, nothing else (id*6s
    # spacing => each event pairs with its 10 successors and itself-
    # excluded predecessors within 60s)
    naive = (
        events.alias("a")
        .join(events.alias("b"), "user_id")
        .where(
            (F.col("a.event_id") != F.col("b.event_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 60 SECOND"))
        )
        .select(F.col("a.event_id").alias("e1"), F.col("b.event_id").alias("e2"))
    )
    assert pairs.select("e1", "e2").exceptAll(naive).count() == 0
    assert naive.exceptAll(pairs.select("e1", "e2")).count() == 0
    # scale: the bucketed pre-filter intermediate stays linear
    usec = 60 * 1_000_000
    bucket = F.floor(F.unix_micros(F.col("ts")) / F.lit(usec))
    probe = events.select(
        "user_id", bucket.alias("bk0")
    ).withColumn("bk", F.explode(F.array(F.col("bk0"), F.col("bk0") + 1)))
    build = events.select("user_id", bucket.alias("bk"))
    intermediate = probe.join(build, ["user_id", "bk"]).count()
    assert intermediate < 250_000, intermediate  # vs 25M for the naive plan
    # the executed plan joins on the bucket key, not user_id alone
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "bk" in plan, plan


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The contamination probe must be a broadcast hash join (tiny eval
    gram set), never a corpus-sized shuffle join, and must stay
    Python-free."""
    from cassandra_extractor_spark.operators.dedup import ns_decontaminate

    plan = _executed_plan(ns_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_mixture_sample_broadcasts_rate_table(spark, sf_dir):
    """The per-source rate table is a few rows — it must broadcast back
    onto the corpus, and the hash gate must be a plain filter."""
    from cassandra_extractor_spark.operators.sampling import ns_mixture_sample

    plan = _executed_plan(ns_mixture_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_sequence_pack_no_global_sort_before_window(spark, sf_dir):
    """Packing windows must partition by source — a global (empty
    partitionBy) running-sum window would serialize the corpus through
    one partition."""
    from cassandra_extractor_spark.operators.extraction import ns_sequence_pack

    df = ns_sequence_pack(spark, sf_dir)
    # the window spec itself: partitionBy(source) shows up as
    # windowspecdefinition(source, doc_id ASC ...) in the analyzed plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "windowspecdefinition(source" in analyzed, analyzed


def test_kmeans_broadcasts_centroids(spark, sf_dir):
    """Centroids ride along broadcast; the corpus never shuffles for
    assignment.  (ns_semantic_dedup shares the same assignment code but
    localCheckpoints it, so its final plan starts at a Scan ExistingRDD
    and the broadcast is only visible here.)"""
    from cassandra_extractor_spark.operators.similarity import ns_kmeans_step

    plan = _executed_plan(ns_kmeans_step(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_kmeans_mean_is_streaming_aggregate(spark, sf_dir):
    """The per-(cluster, dim) mean must be a constant-memory decimal
    SUM — the old collect_list+sorted-fold spelling buffered every
    member value of a group in one aggregation buffer, which OOMs on a
    billion-member cluster.  ObjectHashAggregate is the executor-side
    symptom of a buffering agg; HashAggregate is the streaming one."""
    from cassandra_extractor_spark.operators.similarity import ns_kmeans_step

    plan = _executed_plan(ns_kmeans_step(spark, sf_dir))
    assert "collect_list" not in plan, plan
    assert "ObjectHashAggregate" not in plan, plan

def test_quality_classifier_no_global_sort_window(spark, sf_dir):
    """The median cut must be a one-row aggregate broadcast back over
    the scored frame — a global ROW_NUMBER window (empty partitionBy)
    would serialize the whole corpus through one partition."""
    from cassandra_extractor_spark.operators.text import ns_quality_classifier

    df = ns_quality_classifier(spark, sf_dir)
    plan = _executed_plan(df)
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan

def test_vocab_oov_broadcasts_vocabulary(spark, sf_dir):
    """The top-V vocabulary is bounded rows — it must ride back as a
    broadcast join, and the top-V cut must be TakeOrdered (partial
    per-partition top-K), never a full global Sort of the token
    counts."""
    from cassandra_extractor_spark.operators.text import ns_vocab_oov

    plan = _executed_plan(ns_vocab_oov(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan, plan


def test_boilerplate_broadcasts_common_shingles(spark, sf_dir):
    """The heavy-hitter shingle set (df >= threshold) is tiny by
    construction; the corpus-sized shingle frame must probe it via
    broadcast, not shuffle into a sort-merge join."""
    from cassandra_extractor_spark.operators.text import ns_boilerplate

    plan = _executed_plan(ns_boilerplate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan

def test_data_audit_single_aggregate_no_join(spark, sf_dir):
    """All audit metrics compute in ONE partial/final HashAggregate
    pair over one scan — no joins, no per-metric scans, no Python."""
    from cassandra_extractor_spark.operators.extraction import ns_data_audit

    plan = _executed_plan(ns_data_audit(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


def test_corpus_diff_single_shuffle_join(spark, sf_dir):
    """The snapshot diff is one join on doc_id and map-only fingerprints
    on both sides — no Python, no extra aggregation stage."""
    from cassandra_extractor_spark.operators.extraction import ns_corpus_diff

    plan = _executed_plan(ns_corpus_diff(spark, sf_dir))
    assert "Python" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_lm_fluency_bucket_scale_shape(spark, sf_dir):
    """Tercile thresholds must be a one-row broadcast (no global sort
    window over the corpus) and the whole pipeline stays JVM-side."""
    from cassandra_extractor_spark.operators.text import ns_lm_fluency_bucket

    df = ns_lm_fluency_bucket(spark, sf_dir)
    plan = _executed_plan(df)
    assert "Python" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # (the per-doc bigram lead window sits above a localCheckpoint, so
    # the analyzed plan starts at a LogicalRDD and can't show its
    # partitionBy — same situation as ns_semantic_dedup's broadcast)
    rows = df.collect()
    buckets = {r["bucket"] for r in rows}
    assert buckets == {"head", "middle", "tail"}
    # terciles: each bucket holds roughly a third
    from collections import Counter

    c = Counter(r["bucket"] for r in rows)
    assert max(c.values()) - min(c.values()) < len(rows) * 0.4


def test_substring_dedup_scale_shape(spark, sf_dir):
    """The k-gram inverted index must never go cartesian, must keep the
    gram count partially aggregated (map-side combine), and must stay
    Python-free (pure codegen hashing)."""
    from cassandra_extractor_spark.operators.dedup import ns_substring_dedup

    plan = _executed_plan(ns_substring_dedup(spark, sf_dir))
    assert "Cartesian" not in plan, plan
    assert "partial_count" in plan, plan  # gram counts combine map-side
    assert "Python" not in plan, plan


def test_temperature_sample_broadcasts_rate_table(spark, sf_dir):
    """Per-language rates are a few rows: broadcast back, filter gate,
    no sort-merge join anywhere."""
    from cassandra_extractor_spark.operators.sampling import ns_temperature_sample

    plan = _executed_plan(ns_temperature_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_dsir_broadcasts_bucket_table(spark, sf_dir):
    """The 1024-row log-ratio table must broadcast onto the feature
    stream — a corpus-sized shuffle join on 1024 keys would be both
    slow and skewed."""
    from cassandra_extractor_spark.operators.sampling import ns_dsir_select

    plan = _executed_plan(ns_dsir_select(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan


def test_shard_layout_single_aggregate(spark, sf_dir):
    """One pass: a map-side-combined aggregate to N_SHARDS rows plus a
    one-row broadcast — no sort-merge join, no window."""
    from cassandra_extractor_spark.operators.extraction import ns_shard_layout

    plan = _executed_plan(ns_shard_layout(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_funnel_and_retention_share_user_key(spark, sf_dir):
    """Funnel steps and the retention cohort map aggregate/join on
    user_id only — no cartesian, no Python, no global window."""
    from cassandra_extractor_spark.operators.relational import (
        q72_funnel,
        q73_retention_cohorts,
    )

    for q in (q72_funnel, q73_retention_cohorts):
        plan = _executed_plan(q(spark, sf_dir))
        assert "Cartesian" not in plan, plan
        assert "Python" not in plan, plan
        assert "Window" not in plan, plan


def test_substring_dedup_survives_mega_duplicated_gram(spark, tmp_path):
    """Boilerplate skew: one k-gram duplicated across hundreds of docs
    makes its hash the hot shuffle key of the join-back.  AQE's skew
    handling (plus the downstream per-doc reduction) must keep the op
    correct — every boilerplate doc fully covered, unique docs at 0."""
    from cassandra_extractor_spark.operators.dedup import SUBSTR_K, ns_substring_dedup

    boiler = " ".join(f"b{i}" for i in range(SUBSTR_K))
    rows = [(i, boiler) for i in range(300)]
    rows += [(1000 + i, " ".join(f"u{i}_{j}" for j in range(SUBSTR_K))) for i in range(5)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in ns_substring_dedup(spark, str(tmp_path)).collect()}
    assert all(out[i].dup_frac == 1.0 for i in range(300))
    assert all(out[1000 + i].dup_tok == 0 for i in range(5))


def test_heavy_hitters_probe_filters_in_scan_stage(spark, sf_dir):
    """The CMS candidate predicate must evaluate as element_at lookups
    BEFORE the exact-count aggregation — the sketch prunes the stream,
    the groupBy only sees survivors."""
    from cassandra_extractor_spark.operators.text import ns_heavy_hitters

    plan = (
        ns_heavy_hitters(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "element_at" in plan
    # the filter sits below the aggregate: Spark prints children indented
    # after parents, so the first HashAggregate must appear before the
    # element_at filter line in the plan text
    agg_pos = plan.find("HashAggregate")
    el_pos = plan.find("element_at")
    assert agg_pos != -1 and el_pos != -1 and agg_pos < el_pos


def test_map_only_operators_single_exchange(spark, sf_dir):
    """ns_line_filter / ns_text_normalize are per-row array arithmetic:
    the ONLY exchange in their plans is the oracle-contract ORDER BY
    (rangepartitioning) — no hash shuffle anywhere."""
    from cassandra_extractor_spark.operators.text import (
        ns_line_filter,
        ns_text_normalize,
    )

    for fn in (ns_line_filter, ns_text_normalize):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" not in plan, fn.__name__


def test_q88_salted_join_matches_plain_join(spark, sf_dir):
    """The salted rewrite is semantics-preserving: identical rows to the
    unsalted join+agg, and the executed plan really carries the salt
    explode (the dim side is replicated, not broadcast-collapsed)."""
    from cassandra_extractor_spark.operators.relational import q88_salted_join, _t

    salted = q88_salted_join(spark, sf_dir)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan, plan  # explode(sequence(0, SALT_N-1)) survived

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 4000)
    l = _t(spark, sf_dir, "lineitem")
    plain = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
        .orderBy("o_orderkey")
    )
    assert [tuple(r) for r in salted.collect()] == [tuple(r) for r in plain.collect()]


def test_q87_dense_timeseries_fills_gaps_with_zero(spark, sf_dir):
    """Every (event_type, day) between that type's min and max day is
    present exactly once; days absent from the fact table carry 0."""
    from cassandra_extractor_spark.operators.relational import q87_dense_timeseries

    out = q87_dense_timeseries(spark, sf_dir).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r.event_type, []).append(r)
    for rows in by_type.values():
        days = [r.day for r in rows]
        assert len(days) == (max(days) - min(days)).days + 1  # dense
        assert len(set(days)) == len(days)  # no dupes
    # zero-fill: a day absent from the raw daily aggregate must appear
    # with EXACTLY zero (not NULL, not garbage)
    raw = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    raw_counts = {(r.event_type, r.day): r["count"] for r in raw}
    for r in out:
        assert r.n_events == raw_counts.get((r.event_type, r.day), 0)


def test_aqe_splits_skewed_join_partitions(spark):
    """At scale the fallback for hot join keys is AQE's runtime skew
    split (q88's explicit salting is the portable spelling; this pins
    the engine-native one): with broadcast off and skew thresholds
    scaled to test data, a sort-merge join against a 90 %-one-key fact
    side must execute with skew=true splits in the final adaptive plan.
    """
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pad"),
        )
        dim = spark.range(0, 1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
        joined = fact.join(dim, "k")
        # materialize THIS DataFrame's query execution (count() would
        # plan a separate one), then read the finalized adaptive plan
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_signature_store_join_never_shuffles_the_store(spark, sf_dir):
    """Persisted-signature incremental dedup: the store side of the
    bucket join must read WITHOUT an Exchange (bucketed layout reused);
    results must equal the in-memory incremental_dedup on the same
    split."""
    from cassandra_extractor_spark.operators.dedup import (
        bands_for,
        incremental_dedup,
        incremental_dedup_against_store,
        minhash_signatures_for,
        write_signature_store,
    )

    docs = load_table(spark, "documents", sf_dir)
    base_docs = docs.where(F.col("doc_id") >= 250)
    new_docs = docs.where(F.col("doc_id") < 250)
    base_bands = bands_for(minhash_signatures_for(base_docs))
    write_signature_store(base_bands, "sig_store_t", n_buckets=8)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs, _nb = incremental_dedup_against_store(spark, "sig_store_t", new_docs)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # the store-side scan appears with its bucket layout and no
        # Exchange between it and the join: Sort sits DIRECTLY over the
        # bucketed FileScan (batch side is the only exchange)
        import re

        assert re.search(
            r"Sort \[band[^\n]*\n[^\n]*Filter[^\n]*\n"
            r"([^\n]*ColumnarToRow\n)?[^\n]*FileScan parquet[^\n]*Bucketed: true",
            plan,
        ), plan[:3000]
        store_rows = {tuple(r) for r in pairs.collect()}
        mem_pairs, _ = incremental_dedup(base_bands, new_docs)
        assert store_rows == {tuple(r) for r in mem_pairs.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS sig_store_t")


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """The engine exposes the full join-strategy surface: the same
    logical join flips between broadcast, shuffle-hash, and sort-merge
    under hints — the manual override lane when AQE's choice is wrong
    for a known workload."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    cases = {
        "broadcast": "BroadcastHashJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "merge": "SortMergeJoin",
    }
    for hint, op in cases.items():
        j = o.join(c.hint(hint), o.o_custkey == c.c_custkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert op in plan, (hint, plan[:1500])


def test_bpe_pair_counts_vocabulary_level(spark, sf_dir):
    """BPE pair counting must aggregate to the distinct-word vocabulary
    BEFORE the per-character explode (two partial/final aggregate
    pairs), select the top pairs with TakeOrdered (never a full global
    sort of the pair space), and stay Python-free."""
    from cassandra_extractor_spark.operators.text import ns_bpe_pair_counts

    plan = _executed_plan(ns_bpe_pair_counts(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan, plan


def test_assoc_rules_scale_shape(spark, sf_dir):
    """Association mining must (a) materialize the basket-item frame
    once (InMemoryTableScan / checkpoint scan feeding all consumers),
    (b) broadcast the vocabulary-sized support tables, and (c) pick the
    top rules via TakeOrdered rather than globally sorting the rule
    space."""
    from cassandra_extractor_spark.operators.extraction import ns_assoc_rules

    plan = _executed_plan(ns_assoc_rules(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan, plan


def test_pca_power_iter_no_gram_matrix(spark, sf_dir):
    """The power-iteration step must reduce to d rows via a map-side-
    combined HashAggregate (partial+final around one exchange) with the
    norm/sign stats riding a one-row broadcast — no collect_list, no
    Python, no d×d intermediate."""
    from cassandra_extractor_spark.operators.similarity import ns_pca_power_iter

    plan = _executed_plan(ns_pca_power_iter(spark, sf_dir))
    assert "collect_list" not in plan, plan
    assert "ObjectHashAggregate" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan


def test_interpolate_single_exchange_per_key(spark, sf_dir):
    """Gap interpolation is one hash exchange on user_id plus ordered
    window frames — no self-join, no Python, and exactly one
    data-sized exchange (the trailing Sort exchange is the oracle
    contract's ORDER BY event_id)."""
    from cassandra_extractor_spark.operators.relational import q102_interpolate

    plan = _executed_plan(q102_interpolate(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_hybrid_rrf_takeordered_heads(spark, sf_dir):
    """Each retrieval system reduces via TakeOrderedAndProject (a
    per-partition heap, never a global sort of the corpus), and the
    query embedding rides in as a broadcast — the corpus-sized stages
    are the two scans only."""
    from cassandra_extractor_spark.operators.similarity import ns_hybrid_rrf

    plan = _executed_plan(ns_hybrid_rrf(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 3, plan  # lex, sem, fused
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan


def test_preference_pairs_single_aggregate_no_window(spark, sf_dir):
    """Argmax/argmin ride inside one map-side-combined groupBy via the
    order-preserving integer encoding — no window, no join, no Python
    in the plan."""
    from cassandra_extractor_spark.operators.extraction import ns_preference_pairs

    plan = _executed_plan(ns_preference_pairs(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_hist_quantile_shuffle_carries_bins_not_rows(spark, sf_dir):
    """The histogram groupBy map-side-combines to ≤ keys×(NBINS+1)
    rows before its exchange; the cumulative window then runs per key
    over ≤ NBINS+1 rows.  No join, no Python."""
    from cassandra_extractor_spark.streaming.quantile import q122_hist_quantile

    plan = _executed_plan(q122_hist_quantile(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
    # partial/final pair around the (key, bin) exchange = map-side combine
    assert plan.count("HashAggregate") >= 2, plan


def test_cluster_purity_zero_joins(spark, sf_dir):
    """The label rides through the assignment scan, so the plan has no
    shuffle joins at all — only the 16-row centroid broadcast — and
    every aggregation map-side combines (no ObjectHashAggregate)."""
    from cassandra_extractor_spark.operators.similarity import ns_cluster_purity

    plan = _executed_plan(ns_cluster_purity(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "ObjectHashAggregate" not in plan, plan
    assert "Python" not in plan, plan
    assert "partial_" in plan, plan  # map-side combine present


def test_knn_classifier_partial_topk_and_broadcast_labels(spark, sf_dir):
    """Two halves since the round-11 shared ANN chain: (a) the exact
    top-k SCORING plan (paid once per session in shared_brute_topk /
    per run in ns_ann_cosine_topk) prunes per-partition BEFORE the
    exchange (WindowGroupLimit Partial); (b) the classifier consumer
    reads the materialized ground-truth blocks (ExistingRDD, no
    re-scoring window) and its label lookups are broadcast joins —
    nothing corpus-sized shuffles in either half."""
    from cassandra_extractor_spark.operators.similarity import (
        ns_ann_cosine_topk,
        ns_knn_classifier,
    )

    scoring = _executed_plan(ns_ann_cosine_topk(spark, sf_dir))
    assert "WindowGroupLimit" in scoring, scoring
    plan = _executed_plan(ns_knn_classifier(spark, sf_dir))
    assert "ExistingRDD" in plan, plan
    assert "WindowGroupLimit" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_tokenizer_fertility_single_exchange(spark, sf_dir):
    """One scan, one map-side-combined groupBy: exactly one hash
    exchange (the lang aggregation; the final ORDER BY over |langs|
    rows is a range exchange, not a hash one)."""
    from cassandra_extractor_spark.operators.text import ns_tokenizer_fertility

    plan = _executed_plan(ns_tokenizer_fertility(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
    assert "partial_" in plan, plan


def _window_paths_pass_aggregate(node, under_window=False) -> bool:
    """True iff every path from a Window down to a base relation passes
    an Aggregate — i.e., no window operator ever sorts raw corpus rows.
    Walks the optimized LOGICAL plan (stable across AQE re-planning)."""
    name = node.nodeName()
    if name == "Aggregate":
        under_window = False  # rows below here reach windows pre-reduced
    if "Relation" in name and under_window:
        return False
    if name == "Window":
        under_window = True
    ch = node.children()
    return all(
        _window_paths_pass_aggregate(ch.apply(i), under_window)
        for i in range(ch.size())
    )


def test_low_cardinality_windows_never_see_corpus_rows(spark, sf_dir):
    """Regression guard for the two-level prefix-sum rewrites (q116 in
    r8, q101 in r9): their windows must only run over distinct-value/
    bucket frames (post-aggregate), never over raw lineitem rows — a
    window partitioned by the 3-value flag over the corpus funnels
    ~1/3 of all rows through one task at scale."""
    from cassandra_extractor_spark.registry import QUERIES

    for name in ("q116_spearman", "q101_weighted_median"):
        df = QUERIES[name](spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan()
        assert _window_paths_pass_aggregate(opt), (name, opt.toString())


def _unpartitioned_windows_sit_on_bucket_aggregate(node, under=False) -> bool:
    """True iff every Window with an EMPTY partitionSpec sits over an
    Aggregate that groups on the bucket key — i.e. an unpartitioned
    sort touches at most |buckets| rows, never a full distinct-value
    frame (the q44/q101/q116 two-level discipline).  Walks the
    optimized logical plan."""
    name = node.nodeName()
    if name == "Aggregate":
        # the bucket aggregate groups on the FLOOR(value/width) key.
        # The optimizer extracts that expression into a child Project
        # and renames the grouping to `_groupingexpression` — which is
        # itself the discriminator: a count-frame aggregate groups on
        # a RAW value column and keeps its name (x/v/c), never earning
        # the extracted-expression marker
        ge = node.groupingExpressions().toString()
        if under and "bkt" not in ge and "groupingexpression" not in ge:
            return False
        under = False  # below a bucket aggregate: frame is ≤|buckets|
    if "Relation" in name and under:
        return False  # unpartitioned window saw raw rows, no aggregate
    if name == "Window" and node.partitionSpec().isEmpty():
        under = True
    ch = node.children()
    return all(
        _unpartitioned_windows_sit_on_bucket_aggregate(ch.apply(i), under)
        for i in range(ch.size())
    )


def test_rank_statistics_unpartitioned_windows_are_bucket_bounded(spark, sf_dir):
    """Round-13 (r12 verdict #3): the rank-statistic family's only
    unpartitioned windows run over the ≤|buckets| per-bucket-total
    frame — q123/q127 retired their single window over the whole
    distinct-value frame into the shared two-level prefix-sum shape
    (q44 pinned too: it set the pattern)."""
    from cassandra_extractor_spark.registry import QUERIES

    for name in ("q123_mann_whitney", "q127_wilcoxon_signed_rank", "q44_percentile"):
        df = QUERIES[name](spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan()
        assert _unpartitioned_windows_sit_on_bucket_aggregate(opt), (
            name,
            opt.toString(),
        )
        # and the general guard: no window (partitioned or not) ever
        # sorts raw corpus rows
        assert _window_paths_pass_aggregate(opt), (name, opt.toString())


def test_bucket_window_checker_rejects_value_frame_window(spark):
    """Negative control for the checker above: the RETIRED spelling —
    one unpartitioned cumulative window straight over a value-grouped
    count frame — must fail it (otherwise the guard guards nothing)."""
    df = spark.range(100).select((F.col("id") % 7).alias("x"))
    counts = df.groupBy("x").agg(F.count("*").alias("t"))
    from pyspark.sql import Window as PW

    old = counts.withColumn(
        "less",
        F.sum("t").over(PW.orderBy("x").rowsBetween(PW.unboundedPreceding, 0))
        - F.col("t"),
    )
    opt = old._jdf.queryExecution().optimizedPlan()
    assert not _unpartitioned_windows_sit_on_bucket_aggregate(opt)


def test_corpus_family_single_signing_pass(spark, sf_dir):
    """Regression guard for the round-9 shared chain: the corpus-family
    pipelines must read the session-shared materialized signature→LSH→
    components chain, not re-sign the corpus each.  Pinned two ways:
    (a) the funnel's own executed plan contains NO shingle explosion —
    all posexplode work lives in the prebuilt chain blocks (read back
    as ExistingRDD scans); (b) a second family pipeline reuses the
    IDENTICAL cached cluster/stream frames (object identity)."""
    from cassandra_extractor_spark.operators.dedup import invalidate_dedup_chain
    from cassandra_extractor_spark.operators.extraction import (
        ns_filter_funnel,
        ns_training_corpus,
    )

    invalidate_dedup_chain(spark)
    funnel = ns_filter_funnel(spark, sf_dir)  # builds the chain eagerly
    cache = spark.__dict__["_ce_dedup_chain"]
    clusters_obj = cache[("clusters", sf_dir)]
    # round 13: the token stream is a projection of the memoized
    # tok-lead frame — identity of that entry IS stream identity
    leads_obj = cache[("tok_leads", sf_dir)]
    plan = _executed_plan(funnel)
    assert "posexplode" not in plan, plan
    assert "ExistingRDD" in plan, plan
    ns_training_corpus(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert cache[("clusters", sf_dir)] is clusters_obj
    assert cache[("tok_leads", sf_dir)] is leads_obj


def test_one_shingle_explosion_per_session(spark, sf_dir, monkeypatch):
    """Regression guard for the round-10 shared shingle frame: after the
    session-shared DISTINCT shingle frame exists, every corpus-wide
    shingle consumer (the MinHash signature builder → bands → pairs,
    SimHash, duplicate-n-gram coverage) must read its materialized
    blocks — re-exploding the corpus is the bug.  Pinned by poisoning
    ``exploded_shingles`` after the one allowed build and running each
    consumer end-to-end."""
    import cassandra_extractor_spark.operators.dedup as dd

    dd.invalidate_dedup_chain(spark)
    shingles_obj = dd.shared_shingles(spark, sf_dir)  # the ONE explosion

    def _boom(*args, **kwargs):  # noqa: ANN002, ANN003
        raise AssertionError("corpus shingles re-exploded after chain build")

    monkeypatch.setattr(dd, "exploded_shingles", _boom)
    dd.ns_dedup_simhash(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dd.ns_dup_ngram_coverage(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dd.shared_bands(spark, sf_dir).write.format("noop").mode("overwrite").save()
    cache = spark.__dict__["_ce_dedup_chain"]
    assert cache[("shingles", sf_dir)] is shingles_obj


def test_one_kgram_explosion_per_session(spark, sf_dir):
    """Same discipline for the positional 10-gram frame: once
    ``shared_kgrams`` exists, substring dedup and the dup-span
    leaderboard read its materialized blocks — their executed plans
    contain NO generator (posexplode/explode) over the corpus."""
    import cassandra_extractor_spark.operators.dedup as dd

    dd.invalidate_dedup_chain(spark)
    kobj = dd.shared_kgrams(spark, sf_dir)  # the ONE explosion
    for fn in (dd.ns_substring_dedup, dd.ns_top_dup_spans):
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Generate" not in plan, (fn.__name__, plan[:2000])
        assert "ExistingRDD" in plan, (fn.__name__, plan[:2000])
    cache = spark.__dict__["_ce_dedup_chain"]
    assert cache[("kgrams", sf_dir, dd.SUBSTR_K)] is kobj


def test_dynamic_partition_pruning_on_day_partitioned_fact(spark, sf_dir, tmp_path):
    """Day-partitioned fact + filtered broadcast dim ⇒ Spark inserts a
    dynamic-pruning subquery into the fact scan's PartitionFilters: the
    fact reads only the dim-selected days' directories.  At 100 TB this
    is the difference between scanning the full history and the three
    days a dimension filter selects — the partition-layout counterpart
    of the bucketed-join test above."""
    events = load_table(spark, "events", sf_dir).withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_by_day")
    events.write.partitionBy("day").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    n_days = fact.select("day").distinct().count()
    assert n_days > 3  # the layout actually split
    dim_days = [r["day"] for r in fact.select("day").distinct().orderBy("day").limit(3).collect()]
    # a parquet-backed date dimension with a RANGE predicate on it: DPP
    # requires a "likely selective" filter (a comparison/IN/LIKE) on the
    # dim side — a bare boolean attribute or a constant-folded
    # LocalRelation filter does NOT qualify (both verified), which is
    # exactly the trap this test documents
    fact.select("day").distinct().write.mode("overwrite").parquet(
        str(tmp_path / "date_dim")
    )
    dim = spark.read.parquet(str(tmp_path / "date_dim"))
    joined = (
        fact.select("day", "user_id", "value")
        .join(F.broadcast(dim.where(F.col("day") <= F.lit(dim_days[-1]))), "day")
        .groupBy("day")
        .agg(F.sum("value").alias("v"), F.count("*").alias("n"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    got_days = {r["day"] for r in joined.collect()}
    assert got_days == set(dim_days)


def test_one_ann_assignment_scan_per_session(spark, sf_dir, monkeypatch):
    """Regression guard for the round-11 shared ANN chain: once the
    session-shared frames exist (normed embeddings, IVF inverted file,
    IVF-PQ codebook+codes, brute ground truth), every ANN-family
    consumer must read their materialized blocks — re-scanning the
    embeddings parquet or re-assigning the corpus is the bug.  Pinned
    three ways: (a) poisoning the parquet loader after the one allowed
    build and running each consumer end-to-end; (b) cache object
    identity across consumers; (c) the cell-balance plan contains NO
    assignment window (row_number) and no parquet scan — it is a pure
    aggregate over the shared inverted file."""
    import cassandra_extractor_spark.operators.similarity as sim
    from cassandra_extractor_spark.operators.dedup import invalidate_dedup_chain

    invalidate_dedup_chain(spark)
    cells_obj = sim.shared_ann_cells(spark, sf_dir)  # the ONE assignment
    sim.shared_ann_codes(spark, sf_dir)
    sim.shared_brute_topk(spark, sf_dir)

    def _boom(*args, **kwargs):  # noqa: ANN002, ANN003
        raise AssertionError("embeddings parquet re-scanned after ANN chain build")

    monkeypatch.setattr(sim, "_load_embeddings", _boom)
    for fn in (
        sim.ns_ann_ivf,
        sim.ns_ann_ivfpq,
        sim.ns_ann_recall,
        sim.ns_ann_ivfpq_recall,
        sim.ns_ann_cell_balance,
        sim.ns_ann_symmetry,
    ):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    cache = spark.__dict__["_ce_dedup_chain"]
    assert cache[("ann_cells", sf_dir)] is cells_obj
    plan = _executed_plan(sim.ns_ann_cell_balance(spark, sf_dir))
    assert "row_number" not in plan, plan[:2000]
    assert "Scan parquet" not in plan, plan[:2000]
    assert "ExistingRDD" in plan, plan[:2000]


def test_mixture_ops_materialize_the_corpus_pass_once(spark, sf_dir):
    """Round-12 plan guards: both mixture operators reduce the corpus
    to tiny materialized frames ONCE — ns_waterfill_cap's final plan
    reads only the checkpointed n_domains-row aggregate (zero parquet
    scans), and ns_domain_reweight's reads the checkpointed
    (lang, bucket) counts plus exactly ONE column-pruned scan for the
    per-domain doc counts.  A regression to per-reference recompute
    (13 scans before the audit) multiplies the corpus explode by the
    branch count."""
    from cassandra_extractor_spark.operators.sampling import (
        ns_domain_reweight,
        ns_waterfill_cap,
    )

    wf = _executed_plan(ns_waterfill_cap(spark, sf_dir))
    assert wf.count("Scan parquet") == 0, wf
    assert "ExistingRDD" in wf, wf
    dr = _executed_plan(ns_domain_reweight(spark, sf_dir))
    assert dr.count("Scan parquet") == 1, dr
    assert "ExistingRDD" in dr, dr
    # all windows in the waterfill boundary search are post-aggregate
    # (n_domains rows), never over corpus rows
    opt = ns_waterfill_cap(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    assert _window_paths_pass_aggregate(opt), opt.toString()


def _warehouse_path(spark, table):
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh = wh[len("file:"):] if wh.startswith("file:") else wh
    return os.path.join(wh, table)


def test_write_bucketed_heals_orphan_table_location(spark):
    """A run killed mid-write leaves ``<warehouse>/<table>`` behind with
    no catalog row and no ``_SUCCESS`` marker; the next bucketed write
    of that name must replace it instead of failing with
    LOCATION_ALREADY_EXISTS."""
    import os

    table = "orphan_heal_b"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    orphan = _warehouse_path(spark, table)
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-00000-stale.parquet"), "w") as fh:
        fh.write("left behind by a killed run")
    try:
        write_bucketed(spark.range(100).withColumnRenamed("id", "k"), table, ["k"], 4)
        assert spark.table(table).count() == 100
        assert not os.path.exists(os.path.join(orphan, "part-00000-stale.parquet"))
        assert os.path.exists(os.path.join(orphan, "_SUCCESS"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_bucketed_keeps_a_complete_unknown_location(spark):
    """A complete location this session's catalog does not know may be
    another live session's table (the catalog is per process): the
    write fails loudly and the data survives."""
    import os

    table = "foreign_live_b"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = _warehouse_path(spark, table)
    spark.range(7).write.mode("overwrite").parquet(loc)  # ends with _SUCCESS
    try:
        with pytest.raises(Exception, match="LOCATION_ALREADY_EXISTS"):
            write_bucketed(spark.range(100).withColumnRenamed("id", "k"), table, ["k"], 4)
        assert spark.read.parquet(loc).count() == 7
    finally:
        import shutil

        shutil.rmtree(loc, ignore_errors=True)
