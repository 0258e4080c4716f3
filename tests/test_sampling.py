"""Deterministic sampling behavior (operators/sampling.py)."""

from pyspark.sql import functions as F

from cassandra_extractor_spark.operators.sampling import sample_by_hash


def test_sample_reproducible_and_partitioning_independent(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    a = {r.k for r in sample_by_hash(df, "k", 100).collect()}
    b = {r.k for r in sample_by_hash(df.repartition(7), "k", 100).collect()}
    assert a == b and a  # same rows regardless of partitioning


def test_sample_rate_approximate(spark):
    df = spark.range(0, 20_000).withColumnRenamed("id", "k")
    n = sample_by_hash(df, "k", 100).count()
    assert 0.08 * 20_000 < n < 0.12 * 20_000  # ≈10%, md5 is uniform


def test_salt_draws_independent_sample(spark):
    df = spark.range(0, 20_000).withColumnRenamed("id", "k")
    a = {r.k for r in sample_by_hash(df, "k", 100, salt="s1").collect()}
    b = {r.k for r in sample_by_hash(df, "k", 100, salt="s2").collect()}
    # independent 10% draws overlap ≈1%, not ≈10%
    assert len(a & b) < 0.03 * 20_000


def test_split_partition_of_rows(spark):
    import pytest

    from cassandra_extractor_spark.operators.sampling import split_by_hash

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    out = split_by_hash(df, "k", {"train": 900, "val": 50, "test": 50})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 5000  # total partition, nothing dropped
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # stable: same row → same split on recompute
    again = split_by_hash(df, "k", {"train": 900, "val": 50, "test": 50})
    assert out.exceptAll(again).count() == 0
    with pytest.raises(ValueError):
        split_by_hash(df, "k", {"a": 500, "b": 400})


def test_sample_filter_reaches_scan(spark, tmp_path):
    # the gate is a plain filter: no exchange in the plan
    p = str(tmp_path / "t.parquet")
    spark.range(0, 1000).withColumnRenamed("id", "k").write.parquet(p)
    df = sample_by_hash(spark.read.parquet(p), "k", 100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hash_samples_are_nested(spark, sf_dir):
    """Raising the sampling rate only ADDS rows — hash-gate samples are
    nested (h%1000 < r1 ⊆ h%1000 < r2 for r1 <= r2).  RNG-based
    df.sample has no such property; nestedness is what lets a pipeline
    scale a sample up without invalidating previously computed work."""
    from cassandra_extractor_spark.operators.sampling import sample_by_hash
    from cassandra_extractor_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    prev: set[int] = set()
    for rate in (50, 100, 300, 1000):
        cur = {r["doc_id"] for r in sample_by_hash(docs, "doc_id", rate).select("doc_id").collect()}
        assert prev <= cur, f"rate {rate} lost rows"
        prev = cur
    assert prev == {r["doc_id"] for r in docs.select("doc_id").collect()}


def test_temperature_sample_flattens_the_mixture(spark, sf_dir):
    """alpha<1 must up-weight below-average languages and down-weight
    the head — the defining property of temperature sampling."""
    from cassandra_extractor_spark.operators.sampling import ns_temperature_sample

    rows = ns_temperature_sample(spark, sf_dir).collect()
    assert rows and abs(sum(r.q for r in rows) - 1.0) < 1e-4
    smallest = min(rows, key=lambda r: r.lang_tokens)
    largest = max(rows, key=lambda r: r.lang_tokens)
    assert smallest.q >= smallest.p  # tail up-weighted
    assert largest.q <= largest.p    # head down-weighted
    for r in rows:
        assert 0.0 < r.rate <= 1.0 and r.n_kept <= r.n_docs


def test_dsir_steers_toward_target_domain(spark, sf_dir):
    """Mean log-importance-weight of target-language docs must exceed
    the rest — otherwise the selector isn't selecting."""
    from cassandra_extractor_spark.operators.sampling import (
        DSIR_TARGET_LANG,
        ns_dsir_select,
    )
    from cassandra_extractor_spark.sources.catalog import load_table

    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    out = ns_dsir_select(spark, sf_dir).join(d, "doc_id")
    tgt = out.where(F.col("lang") == DSIR_TARGET_LANG).agg(F.avg("logw")).first()[0]
    rest = out.where(F.col("lang") != DSIR_TARGET_LANG).agg(F.avg("logw")).first()[0]
    assert tgt > rest
    assert out.count() == d.count()  # every doc scored, none dropped


def test_waterfill_cap_budget_feasible_and_maximal(spark, sf_dir):
    """The waterfilling cap must (a) spend at most the budget, (b) be
    MAXIMAL — cap+1 would overspend, (c) keep every domain at or below
    its own size, and (d) cap at least the largest domain (the budget
    is a strict fraction of the total)."""
    from cassandra_extractor_spark.operators.sampling import (
        WATERFILL_BUDGET_DEN,
        ns_waterfill_cap,
    )

    rows = ns_waterfill_cap(spark, sf_dir).collect()
    assert rows
    total = sum(r.lang_tokens for r in rows)
    budget = total // WATERFILL_BUDGET_DEN
    cap = rows[0].cap
    assert all(r.cap == cap for r in rows)  # one global cap
    kept = sum(min(r.lang_tokens, cap) for r in rows)
    assert kept <= budget
    assert sum(min(r.lang_tokens, cap + 1) for r in rows) > budget  # maximal
    for r in rows:
        assert r.kept_tokens == min(r.lang_tokens, cap)
        assert r.capped == (r.lang_tokens > cap)
    assert max(rows, key=lambda r: r.lang_tokens).capped  # head clamped


def test_domain_reweight_is_a_proper_eg_step(spark, sf_dir):
    """Weights are a probability distribution; KL is non-negative; and
    the exponentiated-gradient step moves mass TOWARD domains whose KL
    is above the mixture average (relative weight w/share rises with
    KL — the DoReMi direction)."""
    from cassandra_extractor_spark.operators.sampling import ns_domain_reweight

    rows = ns_domain_reweight(spark, sf_dir).collect()
    assert rows and abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    assert all(r.kl >= 0 for r in rows)
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    # boost ratio is monotone in KL (strictly ordered where KL differs)
    by_kl = sorted(rows, key=lambda r: r.kl)
    boosts = [r.weight / r.share for r in by_kl]
    assert all(b2 >= b1 - 1e-9 for b1, b2 in zip(boosts, boosts[1:]))


def test_dp_noise_is_bounded_and_nonzero(spark, sf_dir):
    from cassandra_extractor_spark.operators.sampling import ns_dp_noise

    out = ns_dp_noise(spark, sf_dir).toPandas()
    noise = out.noisy_n - out.n
    # u is grid-bounded away from 0 and 1 → |noise| <= ln((mod+2)/2)/eps
    assert (noise.abs() <= 14.0).all()
    assert (noise != 0).any()


def test_neyman_allocation_spends_budget(spark, sf_dir):
    from cassandra_extractor_spark.operators.sampling import (
        NEYMAN_BUDGET,
        ns_neyman_allocation,
    )

    out = ns_neyman_allocation(spark, sf_dir).toPandas()
    spent = int(out.alloc.sum())
    assert NEYMAN_BUDGET - len(out) <= spent <= NEYMAN_BUDGET
