"""North-star operator behavior tests (beyond the oracle hash gate)."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Row, functions as F

from cassandra_extractor_spark.operators.dedup import (
    cosine_prenormed,
    minhash_signatures_for,
    norm,
    ns_dedup_simhash,
)
from cassandra_extractor_spark.operators.multimodal import ns_multimodal_meta
from cassandra_extractor_spark.operators.text import doc_fingerprint_col, lang_id_col


def _write_documents(spark, sf_dir, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{sf_dir}/documents.parquet")


def test_minhash_identical_texts_identical_sig(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e f g"), (1, "a b c d e f g"), (2, "x y z w v u t")],
        "doc_id long, text string",
    )
    sigs = {
        r["doc_id"]: tuple(r[1:])
        for r in minhash_signatures_for(df).orderBy("doc_id").collect()
    }
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]


def test_simhash_near_texts_close(spark, tmp_path):
    """Two texts that differ in their last word land within the hamming
    bound and pair up; an unrelated text pairs with neither."""
    from cassandra_extractor_spark.operators.dedup import HAMMING_MAX

    stem = " ".join(f"w{i}" for i in range(40))
    _write_documents(
        spark,
        tmp_path,
        [
            (0, stem + " today"),
            (1, stem + " tonight"),
            (2, " ".join(f"z{i}" for i in range(41))),
        ],
    )
    pairs = {(r["d1"], r["d2"]): r["ham"] for r in ns_dedup_simhash(spark, str(tmp_path)).collect()}
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] <= HAMMING_MAX


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([Row(v=[1.0, 2.0, 3.0])])
    nrm = norm(F.col("v"))
    r = df.select(cosine_prenormed(F.col("v"), F.col("v"), nrm, nrm).alias("c")).first()
    assert abs(r["c"] - 1.0) < 1e-12


def test_media_metadata_mime(spark, tmp_path):
    """The payload is opaque: no MIME type is sniffed, and what the
    engine computes is the payload's byte length and md5, multi-byte
    utf-8 included."""
    import hashlib

    texts = {0: "plain", 1: "caf\u00e9 \u2603", 2: ""}
    _write_documents(spark, tmp_path, sorted(texts.items()))
    out = ns_multimodal_meta(spark, str(tmp_path))
    assert out.columns == ["doc_id", "n_bytes", "content_md5"]
    got = {r["doc_id"]: (r["n_bytes"], r["content_md5"]) for r in out.collect()}
    assert got == {
        i: (len(t.encode()), hashlib.md5(t.encode()).hexdigest()) for i, t in texts.items()
    }
    assert got[1][0] == 9  # 6 characters, two of them multi-byte


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [Row(i=0, t="Hello,  World!"), Row(i=1, t="hello world"), Row(i=2, t="other")]
    )
    fps = {r["i"]: r["fp"] for r in df.select("i", doc_fingerprint_col(F.col("t")).alias("fp")).collect()}
    assert fps[0] == fps[1] != fps[2]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            Row(i=0, t="the cat and the dog of to in"),
            Row(i=1, t="le chat et la maison les des"),
            Row(i=2, t="zzz qqq www"),
        ]
    )
    out = {r["i"]: r["l"] for r in df.select("i", lang_id_col(F.col("t")).alias("l")).collect()}
    assert out[0] == "en" and out[1] == "fr" and out[2] == "und"


def test_lsh_skew_cap_preserves_connectivity(spark):
    from cassandra_extractor_spark.operators.dedup import (
        bands_for,
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures_for,
    )

    # 200 identical docs (one giant LSH bucket) + a few distinct ones
    rows = [Row(doc_id=i, text="mass duplicated boilerplate text body") for i in range(200)]
    rows += [Row(doc_id=1000 + i, text=f"unique document number {i} entirely") for i in range(5)]
    docs = spark.createDataFrame(rows)
    bands = bands_for(minhash_signatures_for(docs))

    full = lsh_candidate_pairs(bands)
    capped = lsh_candidate_pairs(bands, max_bucket=16)
    n_full, n_capped = full.count(), capped.count()
    # all-pairs is quadratic in the dup bucket; star is linear
    assert n_full >= 199 * 200 / 2
    assert n_capped < 4 * 200
    # identical clustering
    cc_full = {(r.doc_id, r.cluster_id) for r in connected_components(full).collect()}
    cc_capped = {(r.doc_id, r.cluster_id) for r in connected_components(capped).collect()}
    assert cc_full == cc_capped


def test_doc_chunk_overlap_and_coverage(spark, sf_dir):
    from cassandra_extractor_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        ns_doc_chunk,
        tokens,
    )
    from cassandra_extractor_spark.sources.catalog import load_table

    chunks = ns_doc_chunk(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.n
        for r in load_table(spark, "documents", sf_dir)
        .where(F.col("doc_id") <= 200)
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    assert set(by_doc) == set(docs)
    for doc_id, cs in by_doc.items():
        cs.sort(key=lambda c: c.chunk_idx)
        n = docs[doc_id]
        # chunk count = number of stride starts in [1, max(n,1)]
        assert len(cs) == (max(n, 1) - 1) // CHUNK_STRIDE + 1
        # every chunk is full-size except possibly trailing ones
        assert all(c.n_chunk_tokens <= CHUNK_TOKENS for c in cs)
        assert cs[0].chunk_idx == 1
        # consecutive chunks overlap by CHUNK_TOKENS - CHUNK_STRIDE tokens
        for a, b in zip(cs, cs[1:]):
            assert b.chunk_idx == a.chunk_idx + 1
            if a.n_chunk_tokens == CHUNK_TOKENS:
                overlap = a.chunk_text.split()[CHUNK_STRIDE:]
                assert b.chunk_text.split()[: len(overlap)] == overlap
        # full token coverage: stitched chunks at stride = original stream
        stitched = []
        for c in cs:
            stitched.extend(c.chunk_text.split()[: CHUNK_STRIDE])
        tail = cs[-1].chunk_text.split()[CHUNK_STRIDE:]
        assert len(stitched) + len(tail) == n


def test_incremental_dedup_matches_full(spark, sf_dir):
    """Batch-vs-corpus incremental LSH finds exactly the full-corpus
    candidate pairs that involve a new doc."""
    from cassandra_extractor_spark.operators.dedup import (
        bands_for,
        incremental_dedup,
        minhash_signatures_for,
        ns_dedup_minhash_lsh,
    )
    from cassandra_extractor_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    base = docs.where(F.col("doc_id") < 400)
    new = docs.where(F.col("doc_id") >= 400)
    base_bands = bands_for(minhash_signatures_for(base))
    pairs, new_bands = incremental_dedup(base_bands, new)
    got = {(r["new_id"], r["dup_of"]) for r in pairs.collect()}
    full = ns_dedup_minhash_lsh(spark, sf_dir)
    expected = {
        (r["d2"], r["d1"]) for r in full.collect() if r["d2"] >= 400
    }
    assert got == expected and expected  # non-trivial and exact
    # store update shape: appending covers the batch
    assert new_bands.select("doc_id").distinct().count() == new.where(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= 3
    ).count()


def test_repetition_filter_fracs_and_verdict(spark, sf_dir):
    from cassandra_extractor_spark.operators.text import (
        REP_DUP_TOKEN_MAX,
        REP_TOP_BIGRAM_MAX,
        ns_repetition_filter,
    )

    rows = ns_repetition_filter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["dup_token_frac"] <= 1.0
        assert 0.0 <= r["top_bigram_frac"] <= 1.0
        assert r["keep"] == (
            r["dup_token_frac"] <= REP_DUP_TOKEN_MAX
            and r["top_bigram_frac"] <= REP_TOP_BIGRAM_MAX
        )


def test_mixture_sample_within_budgets(spark, sf_dir):
    from cassandra_extractor_spark.operators.sampling import ns_mixture_sample
    from cassandra_extractor_spark.operators.text import tokens
    from cassandra_extractor_spark.sources.catalog import load_table

    kept = {r["source"]: r for r in ns_mixture_sample(spark, sf_dir).collect()}
    full = {
        r["source"]: r["src_tokens"]
        for r in load_table(spark, "documents", sf_dir)
        .select("source", F.size(tokens(F.col("text"))).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("src_tokens"))
        .collect()
    }
    assert set(kept) <= set(full)
    for src, r in kept.items():
        assert 0 < r["kept_tokens"] <= full[src]
    # the 50% budget means the mixture must down-sample overall
    assert sum(r["kept_tokens"] for r in kept.values()) < sum(full.values())


def test_semantic_dedup_keeps_cell_minimum(spark, sf_dir):
    from cassandra_extractor_spark.operators.dedup import ns_semantic_dedup

    rows = ns_semantic_dedup(spark, sf_dir).collect()
    assert rows
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["c_id"], []).append(r)
    for members in by_cell.values():
        keeper = min(members, key=lambda r: r["vec_id"])
        # the lowest id in a cell has no lower-id witness — never dropped
        assert not keeper["dropped"]


def test_kmeans_step_partitions_corpus(spark, sf_dir):
    from cassandra_extractor_spark.operators.similarity import DIM, ns_kmeans_step
    from cassandra_extractor_spark.sources.catalog import load_table

    rows = ns_kmeans_step(spark, sf_dir).collect()
    n_vecs = load_table(spark, "embeddings", sf_dir).count()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        assert sorted(r["dim"] for r in members) == list(range(DIM))
        assert len({r["n_members"] for r in members}) == 1  # consistent count
    # every vector is assigned to exactly one cluster
    assert sum(members[0]["n_members"] for members in by_cluster.values()) == n_vecs


def test_quality_classifier_keeps_at_or_above_median(spark, sf_dir):
    from cassandra_extractor_spark.operators.text import ns_quality_classifier

    rows = ns_quality_classifier(spark, sf_dir).collect()
    assert rows
    # keep == score >= discrete median (value at rank floor((n-1)/2)
    # descending-exclusive form: the (n//2)-th smallest for even n,
    # middle for odd — i.e. numpy-style lower median of the sorted list)
    scores = sorted(r["score"] for r in rows)
    median = scores[(len(scores) - 1) // 2]
    kept = sum(r["keep"] for r in rows)
    assert kept >= len(rows) // 2  # at least half survives (ties inflate)
    for r in rows:
        assert 0.0 <= r["prob"] <= 1.0
        assert r["keep"] == (r["score"] >= median), r
    # integer score is the TRUNCATED per-token mean of wsum (SQL %
    # follows the dividend sign, unlike Python's — so spell truncation
    # explicitly)
    for r in rows:
        q, n = r["wsum"] * 1_000_000, r["n_tokens"]
        trunc = q // n if q >= 0 else -((-q) // n)
        assert r["score"] == trunc


def test_vocab_oov_counts(spark, sf_dir):
    """n_oov counts exactly the tokens outside the top-V vocabulary;
    vocabulary membership is deterministic (count desc, token asc)."""
    from cassandra_extractor_spark.operators.text import VOCAB_SIZE, ns_vocab_oov, tokens
    from cassandra_extractor_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    rows = {r["doc_id"]: r for r in ns_vocab_oov(spark, sf_dir).collect()}
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = {
        r["tok"]: r["cnt"]
        for r in toks.groupBy("tok").agg(F.count("*").alias("cnt")).collect()
    }
    vocab = set(
        t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_SIZE]
    )
    sample = toks.where(F.col("doc_id") < 20).collect()
    by_doc: dict[int, list[str]] = {}
    for r in sample:
        by_doc.setdefault(r["doc_id"], []).append(r["tok"])
    for doc_id, tk in by_doc.items():
        assert rows[doc_id]["n_tokens"] == len(tk)
        assert rows[doc_id]["n_oov"] == sum(1 for t in tk if t not in vocab)


def test_boilerplate_keep_rule(spark, sf_dir):
    """keep <=> boilerplate shingles are at most half of the doc's
    distinct shingles; short docs (no shingles) always keep."""
    from cassandra_extractor_spark.operators.text import ns_boilerplate

    rows = ns_boilerplate(spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["keep"] == (r["n_bp"] * 2 <= r["n_sh"]), r
        assert 0 <= r["n_bp"] <= r["n_sh"]
    assert any(r["n_bp"] > 0 for r in rows)  # threshold actually fires


def test_topk_per_source(spark, sf_dir):
    from cassandra_extractor_spark.operators.sampling import (
        TOPK_PER_SOURCE,
        ns_topk_per_source,
    )

    rows = ns_topk_per_source(spark, sf_dir).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        assert len(rs) <= TOPK_PER_SOURCE
        chars = [r["n_chars"] for r in sorted(rs, key=lambda r: r["rk"])]
        assert chars == sorted(chars, reverse=True), (src, chars)


def test_classifier_median_threshold_matches_quantile_disc(spark):
    """Pin the classifier's threshold equivalence independently of the
    test corpus: Spark ``percentile_approx(score, 0.5, max_accuracy)``
    must equal DuckDB ``quantile_disc(score, 0.5)`` on hostile tie
    structures — even N (no interpolation allowed), heavy tie runs
    straddling the median, negative values, and a singleton.  The
    ns_quality_classifier oracle relies on this equality; the current
    500-doc corpus exercises only one tie structure."""
    import duckdb
    from pyspark.sql import functions as F

    cases = [
        [1, 2, 3, 4],                      # even N, distinct: discrete lower-middle
        [-5, -5, 0, 0, 0, 0, 3, 7],        # even N, tie run at the median
        [-10, -4, -4, -2, 2, 8],           # even N, negatives
        [7, 7, 7, 7],                      # all tied
        [3],                               # singleton
        [-1, -1, -1, 5, 5, 6],             # even N, majority-tie below
        [0, 0, 1, 1],                      # boundary pair tie
        [-3, -2, -1, 0, 1, 2, 4],          # odd N, negatives
    ]
    for values in cases:
        df = spark.createDataFrame([(v,) for v in values], "score long")
        # 0.5 backs the classifier median and q69's MAD; 1/3 and 2/3
        # back the ns_lm_fluency_bucket terciles; the deciles back
        # q70's equi-depth histogram boundaries
        for p_ in (0.5, 1.0 / 3.0, 2.0 / 3.0, *[i / 10.0 for i in range(1, 10)]):
            spark_thr = df.agg(
                F.percentile_approx("score", p_, 2147483647).alias("t")
            ).collect()[0]["t"]
            duck_thr = duckdb.sql(
                "SELECT quantile_disc(score, ?) FROM (SELECT unnest(?) AS score)",
                params=[p_, values],
            ).fetchone()[0]
            assert spark_thr == duck_thr, (values, p_, spark_thr, duck_thr)


def test_cdc_chunks_shift_resistant(spark):
    """The content-defined chunking property: prepending one token
    shifts every boundary position by exactly one but RE-ALIGNS on the
    same boundary tokens — downstream chunk-keyed dedup sees identical
    chunks after the first.  A fixed-window chunker re-cuts
    everything."""
    import random

    from cassandra_extractor_spark.operators.text import cdc_chunks

    rng = random.Random(3)
    words = [f"w{rng.randrange(10_000)}" for _ in range(400)]
    base = " ".join(words)
    shifted = "inserted " + base
    df = spark.createDataFrame([(0, base), (1, shifted)], "doc_id long, text string")
    chunks = {0: [], 1: []}
    for r in cdc_chunks(df, "doc_id", "text").collect():
        chunks[r["doc_id"]].append((r["start_pos"], r["n_tokens"]))
    for v in chunks.values():
        v.sort()
    assert len(chunks[0]) > 5  # the doc actually splits
    # every base boundary reappears shifted by exactly one token
    base_starts = {s for s, _ in chunks[0]}
    shifted_starts = {s for s, _ in chunks[1]}
    realigned = {s + 1 for s in base_starts if s != 0}
    assert realigned <= shifted_starts
    # chunk shapes after the perturbation point are identical
    base_sizes = [n for s, n in chunks[0] if s != 0]
    shifted_sizes = [n for s, n in chunks[1] if s - 1 in base_starts and s != 1]
    assert base_sizes[-3:] == shifted_sizes[-3:]


def test_timestamp_queries_survive_hostile_session_timezone(spark):
    """load_table force-sets spark.sql.session.timeZone=UTC because the
    driver's vanilla session inherits the host timezone; a hostile
    default must not change any timestamp-derived result.  Pins the
    UTC-forcing against regressions (it is load-bearing for every
    epoch/bucket/date query)."""
    from cassandra_extractor_spark.operators.relational import (
        q10_epoch_millis,
        q35_time_bucket,
        q54_date_arith,
        q76_rolling_zscore,
        q79_window_distinct,
        q80_interval_merge,
    )

    fns = (
        q10_epoch_millis,
        q35_time_bucket,
        q54_date_arith,
        q76_rolling_zscore,
        q79_window_distinct,
        q80_interval_merge,
    )
    sf = "/root/testdata/sf0.001"
    baseline = {
        fn.__name__: [tuple(r) for r in fn(spark, sf).collect()] for fn in fns
    }
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for fn in fns:
            hostile = [tuple(r) for r in fn(spark, sf).collect()]
            assert hostile == baseline[fn.__name__], fn.__name__
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_approx_distinct_within_hll_error_bound(spark, sf_dir):
    """q38 now ships its accuracy CONTRACT as the query output (the
    oracle checks each engine's own estimate against the exact NDV):
    the exact count must match a direct distinct() and the in-band
    flag must hold at rsd=0.01."""
    from cassandra_extractor_spark.operators.relational import q38_approx_distinct
    from cassandra_extractor_spark.sources.catalog import load_table

    row = q38_approx_distinct(spark, sf_dir).collect()[0]
    exact = load_table(spark, "orders", sf_dir).select("o_custkey").distinct().count()
    assert row["n_exact"] == exact
    assert row["approx_within_5pct"] is True


def test_pagerank_mass_conservation_and_positivity(spark, sf_dir):
    """Integer PageRank invariants: every rank positive, total mass
    within truncation loss of the full probability unit, and rank
    ordering favors higher-degree nodes on average (the reason to use
    it for canonical-doc selection)."""
    from cassandra_extractor_spark.operators.dedup import PR_SCALE, ns_pagerank

    rows = ns_pagerank(spark, sf_dir).collect()
    assert rows
    total = sum(r["pr"] for r in rows)
    assert all(r["pr"] > 0 for r in rows)
    # truncating div loses < 1 unit per node per term; 5 iterations of
    # two truncations over |V| nodes is far below 1% of the mass
    assert 0.9 * PR_SCALE <= total <= PR_SCALE


def test_substring_dedup_known_spans(spark, tmp_path):
    """Controlled corpus: an exact pair is fully covered, a unique doc
    is untouched, an internal self-repeat counts, short docs are 0."""
    from cassandra_extractor_spark.operators.dedup import SUBSTR_K, ns_substring_dedup

    assert SUBSTR_K == 10
    copy = " ".join(f"c{i}" for i in range(20))          # two identical docs
    uniq = " ".join(f"u{i}" for i in range(20))          # no repeated 10-gram
    block = " ".join(f"r{i}" for i in range(10))
    selfrep = block + " " + block                        # internal repeat
    short = "a b c"                                      # < k tokens
    rows = [
        (0, copy), (1, copy), (2, uniq), (3, selfrep), (4, short),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in ns_substring_dedup(spark, str(tmp_path)).collect()}
    assert out[0].dup_frac == 1.0 and out[1].dup_frac == 1.0
    assert out[2].dup_tok == 0
    assert out[3].dup_frac == 1.0  # both halves covered by the repeated gram
    assert out[4].n_tok == 3 and out[4].dup_tok == 0
    for r in out.values():  # coverage never exceeds the doc
        assert 0 <= r.dup_tok <= r.n_tok


def test_shard_layout_partitions_corpus(spark, sf_dir):
    from cassandra_extractor_spark.operators.extraction import N_SHARDS, ns_shard_layout
    from cassandra_extractor_spark.sources.catalog import load_table

    rows = ns_shard_layout(spark, sf_dir).collect()
    assert len(rows) == N_SHARDS
    assert sum(r.n_docs for r in rows) == load_table(spark, "documents", sf_dir).count()
    for r in rows:  # md5 keys keep token balance loose but bounded
        assert 0.2 < r.balance < 3.0


def test_fill_forward_semantics(spark, sf_dir):
    from cassandra_extractor_spark.operators.relational import q71_fill_forward

    out = q71_fill_forward(spark, sf_dir)
    # where a raw reading exists the fill is the identity
    assert out.where(
        F.col("v_raw").isNotNull() & (F.col("v_filled") != F.col("v_raw"))
    ).count() == 0
    # filling only ever removes NULLs
    assert (
        out.where(F.col("v_filled").isNull()).count()
        <= out.where(F.col("v_raw").isNull()).count()
    )
    # a filled gap equals the user's most recent prior non-error value
    sample = out.where(F.col("v_raw").isNull() & F.col("v_filled").isNotNull()).first()
    if sample is not None:
        from cassandra_extractor_spark.sources.catalog import load_table

        ev = load_table(spark, "events", sf_dir)
        ts = ev.where(F.col("event_id") == sample.event_id).first().ts
        prior = (
            ev.where(
                (F.col("user_id") == sample.user_id)
                & (F.col("event_type") != "error")
                & (F.col("ts") <= ts)
            )
            .orderBy(F.col("ts").desc(), F.col("event_id").desc())
            .first()
        )
        assert prior is not None and prior.value == sample.v_filled


def test_substring_dedup_matches_bruteforce_on_random_corpus(spark, tmp_path):
    """Adversarial check of the interval-union spelling: a small-vocab
    random corpus (seeded) produces dense, overlapping, self- and
    cross-doc duplicate spans; per-doc coverage must equal a brute-force
    covered-index set computed in Python."""
    import random

    from cassandra_extractor_spark.operators.dedup import SUBSTR_K, ns_substring_dedup

    rng = random.Random(42)
    vocab = ["a", "b", "c", "d", "e", "f"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for _ in range(40)
    ]
    rows = [(i, t if t else "x") for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")

    k = SUBSTR_K
    toks = {i: t.split() for i, (_, t) in zip(range(len(rows)), rows)}
    from collections import Counter

    grams = Counter()
    for ts in toks.values():
        for i in range(len(ts) - k + 1):
            grams[tuple(ts[i : i + k])] += 1
    expected = {}
    for d, ts in toks.items():
        covered = set()
        for i in range(len(ts) - k + 1):
            if grams[tuple(ts[i : i + k])] > 1:
                covered.update(range(i, i + k))
        expected[d] = (len(ts), len(covered))

    got = {r.doc_id: (r.n_tok, r.dup_tok) for r in ns_substring_dedup(spark, str(tmp_path)).collect()}
    assert got == expected


def test_bm25_ranks_term_rich_docs(spark, tmp_path):
    from cassandra_extractor_spark.operators.text import ns_bm25

    rows = [
        (0, "table hash spark table hash"),   # all query terms, repeated
        (1, "table filler filler filler"),    # one term
        (2, "nothing relevant here at all"),  # no terms
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    got = {r.doc_id: r.bm25 for r in ns_bm25(spark, str(tmp_path)).collect()}
    assert got[0] > got[1] > got[2] == 0.0


def test_entropy_extremes(spark, tmp_path):
    """Repetition floors entropy at 0; a uniform vocabulary hits
    ln(n_distinct) exactly."""
    import math

    from cassandra_extractor_spark.operators.text import ns_entropy

    rows = [
        (0, "x x x x x x x x"),          # one token repeated → H = 0
        (1, "a b c d e f g h"),          # uniform → H = ln 8
        (2, "a a a b"),                  # skewed
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    got = {r.doc_id: r for r in ns_entropy(spark, str(tmp_path)).collect()}
    assert got[0].entropy == 0.0 and got[0].n_distinct == 1
    assert abs(got[1].entropy - math.log(8)) < 1e-6
    expected_skewed = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert abs(got[2].entropy - expected_skewed) < 1e-6
    for r in got.values():
        assert 0.0 <= r.entropy <= math.log(max(r.n_distinct, 1)) + 1e-6


def test_winnowing_guarantee_shared_substring_shares_a_print(spark, tmp_path):
    """The winnowing guarantee: two documents sharing a substring of
    length >= k + w - 1 tokens must share at least one fingerprint
    hash; disjoint docs share none (md5 grams)."""
    from cassandra_extractor_spark.operators.dedup import WIN_K, WIN_W, ns_winnowing

    shared = " ".join(f"s{i}" for i in range(WIN_K + WIN_W - 1))
    rows = [
        (0, "p1 p2 p3 " + shared + " q1 q2 q3"),
        (1, "z1 z2 " + shared + " y1 y2 y3 y4"),
        (2, " ".join(f"x{i}" for i in range(20))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    fps = ns_winnowing(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fh)
    assert by_doc[0] & by_doc[1], "shared substring must share a fingerprint"
    assert not (by_doc[2] & (by_doc[0] | by_doc[1]))
    # density: ~2/(w+1) of grams selected, never more than all
    assert 0 < len(by_doc[2]) < 20


def test_bloom_filter_no_false_negatives_and_prunes(spark, sf_dir):
    from pyspark.sql import functions as F

    from cassandra_extractor_spark.operators.relational import (
        bloom_prune,
        build_bloom,
    )
    from cassandra_extractor_spark.sources.catalog import load_table

    cust = load_table(spark, "customer", sf_dir).where(
        F.col("c_mktsegment") == "BUILDING"
    )
    words = build_bloom(cust.select("c_custkey"), "c_custkey")
    orders = load_table(spark, "orders", sf_dir)
    pruned = bloom_prune(orders, "o_custkey", words)
    true_keys = {r[0] for r in cust.select("c_custkey").collect()}
    # every genuinely-matching order survives (no false negatives)
    truth = orders.where(F.col("o_custkey").isin(true_keys)).count()
    surviving_truth = pruned.where(F.col("o_custkey").isin(true_keys)).count()
    assert surviving_truth == truth
    # and the filter actually prunes: survivors beyond truth are Bloom
    # false positives, bounded well under the non-matching population
    total, kept = orders.count(), pruned.count()
    assert kept - truth <= max(10, (total - truth) * 0.05)


def test_bloom_probe_is_pre_join_filter(spark, sf_dir):
    """The membership test must run BEFORE the join exchange — assert
    the bit_get filter sits under the probe scan in the final plan."""
    from cassandra_extractor_spark.operators.relational import q78_bloom_join

    plan = q78_bloom_join(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "bit_get" in plan


def test_zorder_key_interleaves_bits(spark, sf_dir):
    from cassandra_extractor_spark.operators.relational import q77_zorder_key

    rows = q77_zorder_key(spark, sf_dir).limit(200).collect()
    for r in rows:
        pk, sk = r["l_partkey"] % 65536, r["l_suppkey"] % 65536
        expect = 0
        for i in range(16):
            expect |= ((pk >> i) & 1) << (2 * i)
            expect |= ((sk >> i) & 1) << (2 * i + 1)
        assert r["zkey"] == expect


def test_rolling_zscore_flags_spike(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from cassandra_extractor_spark.operators import relational as R

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, "t", 10.0 + (0.01 * (i % 3)), "{}")
        for i in range(30)
    ]
    rows[25] = (25, base + dt.timedelta(minutes=25), 1, "t", 500.0, "{}")
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = {r["event_id"]: r["is_outlier"] for r in R.q76_rolling_zscore(spark, d).collect()}
    assert out[25] is True
    assert sum(1 for v in out.values() if v) <= 3  # spike row (+ frame echoes) only


def test_text_normalize_collapses_and_strips(spark, tmp_path):
    from cassandra_extractor_spark.operators.text import ns_text_normalize

    df = spark.createDataFrame(
        [
            (1, "Hello\t\tWorld \x07", "en", "s", 10),
            (2, "already clean", "en", "s", 13),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "norm")
    df.write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in ns_text_normalize(spark, d).collect()}
    assert out[1]["norm_text"] == "hello world"
    assert out[1]["changed"] is True
    assert out[2]["norm_text"] == "already clean"
    assert out[2]["changed"] is False


def test_interval_merge_islands_by_construction(spark, tmp_path):
    """Three events 2min apart (one island) + one 20min later (second
    island): 5-min spans ⇒ n_islands=2 and coverage = union length."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, base, 9, "a", 0.0, "{}"),
        (2, base + dt.timedelta(minutes=2), 9, "a", 0.0, "{}"),
        (3, base + dt.timedelta(minutes=4), 9, "a", 0.0, "{}"),
        (4, base + dt.timedelta(minutes=30), 9, "a", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    d = str(tmp_path / "iv")
    df.write.parquet(f"{d}/events.parquet")
    from cassandra_extractor_spark.operators.relational import q80_interval_merge

    (row,) = q80_interval_merge(spark, d).collect()
    assert row["n_islands"] == 2
    # island 1: [0, 4min+5min) = 540s; island 2: [30, 35min) = 300s
    assert row["covered_s"] == 540 + 300


def test_heavy_hitters_exact_on_constructed_corpus(spark, tmp_path):
    """Corpus with two tokens above threshold and thousands of
    singletons: the CMS-pruned plan must return EXACTLY the heavy
    tokens with exact counts (over-counting sketch ⇒ no recall loss;
    the verify pass removes false positives)."""
    from cassandra_extractor_spark.operators.text import HEAVY_MIN_COUNT, ns_heavy_hitters

    docs = []
    for i in range(250):
        # 'alpha' appears 2x/doc (500 total), 'beta' 1x/doc (250), each
        # rare_i token appears once
        docs.append((i, f"alpha beta alpha rare{i}a rare{i}b rare{i}c", "en", "s", 0))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "hh")
    df.write.parquet(f"{d}/documents.parquet")
    out = {r["tok"]: r["n"] for r in ns_heavy_hitters(spark, d).collect()}
    assert out == {"alpha": 500, "beta": 250}
    assert HEAVY_MIN_COUNT == 200


def test_c4_line_filter_discriminates(spark, tmp_path):
    """Punctuated multi-line docs: C4 rules keep exactly the good
    lines, rebuild text in order, and flag empty docs."""
    from cassandra_extractor_spark.operators.text import ns_line_filter

    good1 = "This sentence ends properly."
    good2 = "Another proper line stands here!"
    bad_punct = "no terminal punctuation here"
    bad_short = "Too short."
    bad_js = "Enable javascript to continue."
    bad_brace = "template { placeholder } text."
    docs = [
        (1, "\n".join([good1, bad_punct, good2, bad_short]), "en", "s", 0),
        (2, "\n".join([bad_js, bad_brace]), "en", "s", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "c4")
    df.write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in ns_line_filter(spark, d).collect()}
    assert out[1]["n_lines"] == 4 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == good1 + "\n" + good2  # order preserved
    assert out[1]["doc_kept"] is True
    assert out[2]["n_kept"] == 0 and out[2]["clean_text"] == ""
    assert out[2]["doc_kept"] is False


def test_c4_line_filter_crlf_parity(spark, tmp_path):
    """CRLF corpora: Spark result must equal the DuckDB oracle (review
    finding: Java '$' matches before trailing CR, RE2's does not)."""
    import duckdb

    from cassandra_extractor_spark.operators.text import ns_line_filter
    from cassandra_extractor_spark.oracles_ns import NS_ORACLES

    text = "Proper windows line.\r\nno punct here\r\nAnother good line here!"
    df = spark.createDataFrame(
        [(1, text, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "crlf")
    df.write.parquet(f"{d}/documents.parquet")
    (srow,) = ns_line_filter(spark, d).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    (orow,) = con.execute(NS_ORACLES["ns_line_filter"]).fetchall()
    assert (srow["n_lines"], srow["n_kept"], srow["clean_text"]) == (
        orow[1],
        orow[2],
        orow[3],
    )
    assert srow["n_kept"] == 2


def test_chunk_dedup_finds_shared_passage(spark, tmp_path):
    """Two docs sharing a long passage (with different surroundings)
    must produce at least one chunk fingerprint with n_docs=2 — the
    partial-duplication case document-level hashing misses."""
    shared = " ".join(f"shared{i}" for i in range(64))
    docs = [
        (1, "intro one two three " + shared + " tail alpha", "en", "s", 0),
        (2, "different preamble here " + shared + " other ending", "en", "s", 0),
        (3, "completely unrelated text body with words", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "cd")
    df.write.parquet(f"{d}/documents.parquet")
    from cassandra_extractor_spark.operators.text import ns_chunk_dedup

    out = ns_chunk_dedup(spark, d)
    cross_doc = out.where("is_dup AND n_docs = 2").count()
    assert cross_doc >= 1


def test_cdc_apply_all_branches(spark):
    """Insert / update / delete / keep all in one merge."""
    from cassandra_extractor_spark.operators.relational import cdc_apply

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, name string, v long"
    )
    changes = spark.createDataFrame(
        [
            (2, 1, "U", 99, None),   # update k=2
            (3, 1, "D", 0, None),    # delete k=3
            (3, 2, "U", 55, None),   # ...but a LATER change resurrects it
            (4, 1, "U", 44, None),   # insert k=4
        ],
        "k long, seq long, op string, v long, name string",
    )
    out = {
        r["k"]: (r["op"], r["v"], r["name"])
        for r in cdc_apply(
            base, changes, key="k", order_cols=["seq"], op_col="op",
            payload_cols=["name", "v"],
        ).collect()
    }
    assert out[1] == ("K", 10, "a")      # untouched
    assert out[2] == ("U", 99, "b")      # updated, name preserved
    assert out[3] == ("U", 55, "c")      # delete superseded by later update
    assert out[4] == ("I", 44, None)     # inserted
    # pure delete: latest change is D
    changes2 = spark.createDataFrame(
        [(3, 9, "D", 0, None)], "k long, seq long, op string, v long, name string"
    )
    out2 = cdc_apply(base, changes2, "k", ["seq"], "op", ["name", "v"])
    assert {r["k"] for r in out2.collect()} == {1, 2}


def test_prefix_jaccard_lossless_under_boilerplate_skew(spark, tmp_path):
    """Prefix filtering must find EXACTLY the pairs the naive
    shared-shingle join finds (100% recall), on a corpus where a
    boilerplate shingle appears in every doc — the skew case where the
    naive join generates O(n^2) candidate rows and the rarity-ordered
    prefix excludes the hot shingle by construction."""
    import itertools

    boiler = "all rights reserved worldwide"
    docs = []
    for i in range(40):
        body = " ".join(f"w{i}x{j} unique{i} filler{j}" for j in range(6))
        docs.append((i, f"{body} {boiler}", "en", "s", 0))
    # two true near-dup pairs
    docs[10] = (10, docs[11][1] + " tiny", "en", "s", 0)
    docs[20] = (20, docs[21][1], "en", "s", 0)
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "pj")
    df.write.parquet(f"{d}/documents.parquet")
    from cassandra_extractor_spark.operators.dedup import (
        PREFIX_JAC_T,
        exploded_shingles,
        ns_dedup_prefix_jaccard,
    )
    from cassandra_extractor_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    got = {
        (r["d1"], r["d2"]): r["jac"]
        for r in ns_dedup_prefix_jaccard(spark, d).collect()
    }
    # brute-force truth via local sets
    sh = exploded_shingles(load_table(spark, "documents", d).where(F.col("doc_id") < 500)).distinct()
    sets: dict[int, set] = {}
    for r in sh.collect():
        sets.setdefault(r["doc_id"], set()).add(r["sh"])
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if round(j, 6) >= PREFIX_JAC_T:
            want[(a, b)] = round(j, 6)
    assert set(got) == set(want) and (10, 11) in got and (20, 21) in got
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_ohlc_tiebreak_total_order_matches_duckdb(spark):
    """Pin q92's open/close determinism on colliding timestamps
    independently of the test corpus: min_by/max_by over the zero-
    padded (epoch_ms, event_id) string key must pick the same rows as
    DuckDB arg_min/arg_max — including groups where EVERY timestamp is
    identical and only event_id breaks the tie."""
    import datetime as dt

    import duckdb
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # (event_id, ts, value): one group with all-equal ts, one mixed
        (1, t0, 10.0), (2, t0, 30.0), (3, t0, 20.0),
        (10, t0, 5.0), (11, t0 + dt.timedelta(seconds=1), 50.0),
        (12, t0 + dt.timedelta(seconds=1), 40.0),
    ]
    sdf = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    k = F.concat(
        F.lpad(F.unix_millis("ts").cast("string"), 15, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    cents = F.round(F.col("value") * 100).cast("long")
    got = {
        tuple(r)
        for r in sdf.select(cents.alias("cents"), k.alias("k"))
        .agg(
            F.expr("min_by(cents, k)").alias("open_cents"),
            F.expr("max_by(cents, k)").alias("close_cents"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE e (event_id BIGINT, ts TIMESTAMP, value DOUBLE)")
    con.executemany("INSERT INTO e VALUES (?, ?, ?)", rows)
    want = {
        tuple(r)
        for r in con.sql(
            "SELECT arg_min(c, k) AS open_cents, arg_max(c, k) AS close_cents FROM ("
            "SELECT CAST(round(value * 100) AS BIGINT) AS c, "
            "lpad(CAST(epoch_ms(ts) AS VARCHAR), 15, '0') || "
            "lpad(CAST(event_id AS VARCHAR), 12, '0') AS k FROM e)"
        ).fetchall()
    }
    assert got == want
    assert got == {(1000, 4000)}  # lowest event_id at t0 opens; id 12 closes


def test_portable_floor_percent_division():
    """Pin the cross-engine integer-percent rule the calibration and
    recall operators rely on: DuckDB CAST(double AS BIGINT) ROUNDS
    while Spark's cast truncates, so every oracle-checked percentage
    must spell floor() explicitly on both sides."""
    import duckdb

    con = duckdb.connect()
    rounded, floored = con.sql(
        "SELECT CAST(3 * 100 / 8 AS BIGINT), CAST(floor(3 * 100 / 8) AS BIGINT)"
    ).fetchall()[0]
    assert rounded == 38  # DuckDB cast rounds 37.5 up — the trap
    assert floored == 37  # floor matches Spark's truncating cast


def test_tokenizer_fertility_first_principles(spark, sf_dir):
    """Pin ns_tokenizer_fertility to a pure-Python recomputation of
    the per-lang sums and integer-ppm ratios."""
    import re
    from collections import defaultdict

    import pyarrow.parquet as pq

    from cassandra_extractor_spark.operators.text import (
        BPE_PATTERN,
        ns_tokenizer_fertility,
    )

    t = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["lang", "text", "n_chars"]
    )
    ws_re = re.compile(r"[ \t\n\x0B\f\r]+")
    bpe_re = re.compile(BPE_PATTERN)
    agg: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for lang, text, n_chars in zip(
        t["lang"].to_pylist(), t["text"].to_pylist(), t["n_chars"].to_pylist()
    ):
        a = agg[lang]
        a[0] += 1
        a[1] += n_chars
        a[2] += len(ws_re.split(text.lower().strip(" ")))
        a[3] += len(bpe_re.findall(text))

    got = {r["lang"]: r for r in ns_tokenizer_fertility(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for lang, (n_docs, chars, ws, bpe) in agg.items():
        r = got[lang]
        assert (r["n_docs"], r["chars"], r["ws_tokens"], r["bpe_tokens"]) == (
            n_docs,
            chars,
            ws,
            bpe,
        ), lang
        assert r["chars_per_ws_ppm"] == (1_000_000 * chars // ws if ws else 0)
        assert r["chars_per_bpe_ppm"] == (1_000_000 * chars // bpe if bpe else 0)
        assert r["fertility_ppm"] == (1_000_000 * bpe // ws if ws else 0)


def test_neardup_editdist_first_principles(spark, tmp_path):
    """Two-stage fuzzy dedup: near-identical docs that share shingles
    must be LSH candidates AND verify at >= 80% levenshtein similarity;
    the sim arithmetic is pinned against hand-computed values."""
    import pandas as pd
    import pyarrow.parquet as pq
    import pyarrow as pa

    from cassandra_extractor_spark.operators.dedup import ns_neardup_editdist

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " ok"                      # tiny tail edit
    far = "completely different words " * 3  # shares no shingles
    rep = (base + " ") * 20                  # shares shingles, 20x longer
    d = tmp_path / "sfx"
    d.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2, 3, 4], type=pa.int64()),
            "text": [base, near, far, rep],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
        }),
        d / "documents.parquet",
    )
    rows = {(r.d1, r.d2): r for r in ns_neardup_editdist(spark, str(d)).collect()}
    assert (1, 2) in rows and (1, 3) not in rows and (2, 3) not in rows
    r = rows[(1, 2)]
    # levenshtein(base, base+' ok') = 3 appended chars; max_len = len(near)
    assert r.edit_dist == 3 and r.max_len == len(near)
    assert r.sim_ppm == (r.max_len - 3) * 1_000_000 // r.max_len
    assert bool(r.verified_dup) is True
    # the repeated doc IS an LSH candidate of base (same shingle set)
    # but its length gap alone proves sim < 80% — the thresholded
    # levenshtein early-exits in O(1) and reports the −1 sentinel
    r4 = rows[(1, 4)]
    assert r4.edit_dist == -1 and r4.sim_ppm == -1
    assert bool(r4.verified_dup) is False


def test_cluster_size_hist_partitions_the_corpus(spark, sf_dir):
    """The histogram must partition the corpus exactly: sum(n_docs)
    equals the document count, graph clusters have size >= 2 (pair
    members), and the singleton bucket absorbs the rest."""
    from cassandra_extractor_spark.operators.dedup import ns_cluster_size_hist
    from cassandra_extractor_spark.sources.catalog import load_table

    rows = ns_cluster_size_hist(spark, sf_dir).collect()
    total = load_table(spark, "documents", sf_dir).count()
    assert sum(r.n_docs for r in rows) == total
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.cluster_size == 1 or r.cluster_size >= 2


def test_ann_ivfpq_rank_contract_and_candidate_provenance(spark, sf_dir):
    """IVF-PQ output contract: per-query ranks are contiguous from 1,
    ADC distances are non-decreasing in rank, and every returned
    candidate's coarse cell is one of the query's probed cells (the
    inverted-file guarantee — a candidate outside probed cells can
    never be scored)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from cassandra_extractor_spark.operators.similarity import (
        IVF_PROBES,
        N_IVF_CENTROIDS,
        N_QUERIES,
        _load_embeddings,
        cosine_prenormed,
        norm,
        ns_ann_ivfpq,
    )

    out = ns_ann_ivfpq(spark, sf_dir).collect()
    per_q = defaultdict(list)
    for r in out:
        per_q[r.q_id].append(r)
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1)), q
        assert all(a.adist <= b.adist for a, b in zip(rs, rs[1:])), q

    # provenance: recompute coarse cells independently
    e = _load_embeddings(spark, sf_dir)
    e = e.withColumn("nrm", norm(F.col("emb"))).where(F.col("nrm") > 0)
    cent = e.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_IVF_CENTROIDS)
    ).select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm"))
    sim = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "c_id",
        cosine_prenormed(F.col("emb"), F.col("c_emb"), F.col("nrm"), F.col("c_nrm")).alias("csim"),
    ).collect()
    best = defaultdict(list)
    for r in sim:
        best[r.vec_id].append((r.csim, -r.c_id))
    def top_cells(vid, k):
        return {-c for _, c in sorted(best[vid], reverse=True)[:k]}
    for r in out:
        assert top_cells(r.n_id, 1) <= top_cells(r.q_id, IVF_PROBES), (r.q_id, r.n_id)


# ---------------------------------------------------------------- round 10


def test_top_dup_spans_contract(spark, sf_dir):
    """Leaderboard rows are genuinely duplicated, doc-spread is
    consistent, and the (n_occ DESC, gram) cut is deterministic."""
    from cassandra_extractor_spark.operators.dedup import TOP_SPANS_K, ns_top_dup_spans

    rows = ns_top_dup_spans(spark, sf_dir).collect()
    assert 0 < len(rows) <= TOP_SPANS_K
    assert all(r.n_occ > 1 for r in rows)
    assert all(1 <= r.n_docs <= r.n_occ for r in rows)
    occs = [r.n_occ for r in rows]
    assert occs == sorted(occs, reverse=True)
    assert len({r.gram for r in rows}) == len(rows)
    # every gram really has SUBSTR_K tokens
    from cassandra_extractor_spark.operators.dedup import SUBSTR_K

    assert all(len(r.gram.split(" ")) == SUBSTR_K for r in rows)


def test_boolean_retrieval_provenance(spark, sf_dir):
    """Hits are exactly the docs containing EVERY query term —
    recomputed independently in Python from the raw text."""
    import re

    from cassandra_extractor_spark.operators.text import BOOL_QUERY, ns_boolean_retrieval
    from cassandra_extractor_spark.sources.catalog import load_table

    out = {r.doc_id: r for r in ns_boolean_retrieval(spark, sf_dir).collect()}
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").collect()
    for d in docs:
        toks = re.split(r"[ \t\n\x0b\f\r]+", (d.text or "").strip().lower())
        tfs = {t: toks.count(t) for t in BOOL_QUERY}
        if all(v > 0 for v in tfs.values()):
            r = out.pop(d.doc_id)
            assert r.tf_total == sum(tfs.values()), d.doc_id
            assert r.tf_min == min(tfs.values()), d.doc_id
    assert not out  # no hit without all terms present


def test_length_outliers_first_principles(spark, sf_dir):
    """Per-source lower-median / MAD / outlier count recomputed in
    Python with the same lower-median convention."""
    from collections import defaultdict

    from cassandra_extractor_spark.operators.text import (
        OUTLIER_MAD_MULT,
        ns_length_outliers,
    )
    from cassandra_extractor_spark.sources.catalog import load_table

    def lower_median(xs):
        xs = sorted(xs)
        return xs[(len(xs) + 1) // 2 - 1]  # smallest v with 2*cum >= n

    per = defaultdict(list)
    for r in load_table(spark, "documents", sf_dir).select("source", "n_chars").collect():
        per[r.source].append(r.n_chars)
    out = {r.source: r for r in ns_length_outliers(spark, sf_dir).collect()}
    assert set(out) == set(per)
    for src, xs in per.items():
        med = lower_median(xs)
        devs = [abs(x - med) for x in xs]
        mad = lower_median(devs)
        r = out[src]
        assert r.n_docs == len(xs)
        assert r.med_chars == med, src
        assert r.mad_chars == mad, src
        assert r.n_outliers == sum(1 for d in devs if d > OUTLIER_MAD_MULT * mad), src


def test_ann_symmetry_graph_invariants(spark, sf_dir):
    """Every node emits exactly TOP_K edges; the global mutual-edge
    count is even (each mutual pair is counted once per direction)."""
    from cassandra_extractor_spark.operators.similarity import (
        ANN_SYM_WINDOW,
        TOP_K,
        _load_embeddings,
        norm,
        ns_ann_symmetry,
    )

    rows = ns_ann_symmetry(spark, sf_dir).collect()
    assert rows, "audit window produced no labels"
    n_nodes = (
        _load_embeddings(spark, sf_dir)
        .where(F.col("vec_id") < ANN_SYM_WINDOW)
        .withColumn("nrm", norm(F.col("emb")))
        .where(F.col("nrm") > 0)
        .count()
    )
    assert sum(r.n_edges for r in rows) == n_nodes * TOP_K
    assert sum(r.n_mutual for r in rows) % 2 == 0
    for r in rows:
        assert 0 <= r.n_mutual <= r.n_edges
        assert r.mutual_pct == r.n_mutual * 100 // r.n_edges


def test_mann_whitney_first_principles(spark, sf_dir):
    """U and tie-corrected z recomputed from scipy-free first
    principles (average ranks over the combined sample)."""
    import math

    from cassandra_extractor_spark.operators.relational import q123_mann_whitney
    from cassandra_extractor_spark.sources.catalog import load_table

    r = q123_mann_whitney(spark, sf_dir).collect()[0]
    rows = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select("o_orderpriority", F.round(F.col("o_totalprice") * 100).cast("long").alias("x"))
        .collect()
    )
    a = sorted(x.x for x in rows if x.o_orderpriority == "1-URGENT")
    b = sorted(x.x for x in rows if x.o_orderpriority == "5-LOW")
    comb = sorted(a + b)
    # average rank per value
    import collections

    first = {}
    cnt = collections.Counter(comb)
    pos = 1
    for v in sorted(cnt):
        first[v] = pos
        pos += cnt[v]
    avg_rank = {v: first[v] + (cnt[v] - 1) / 2 for v in cnt}
    ra = sum(avg_rank[v] for v in a)
    n_a, n_b, n = len(a), len(b), len(comb)
    u = ra - n_a * (n_a + 1) / 2
    assert r.n_a == n_a and r.n_b == n_b
    assert r.u2 == round(2 * u)
    ties = sum(t**3 - t for t in cnt.values())
    sig2 = n_a * n_b / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    z = (2 * u - n_a * n_b) / (2.0 * math.sqrt(sig2))
    assert abs(r.z - z) < 1e-6


def test_cusum_changepoint_first_principles(spark, sf_dir):
    """Per type: the reported day maximizes |n·prefix_k − k·total| with
    earliest-day tie-break."""
    from collections import defaultdict

    from cassandra_extractor_spark.operators.relational import q124_cusum_changepoint
    from cassandra_extractor_spark.sources.catalog import load_table

    got = {r.event_type: r for r in q124_cusum_changepoint(spark, sf_dir).collect()}
    daily = defaultdict(lambda: defaultdict(int))
    for r in (
        load_table(spark, "events", sf_dir)
        .select("event_type", F.to_date("ts").alias("day"))
        .collect()
    ):
        daily[r.event_type][r.day] += 1
    assert set(got) == set(daily)
    for t, per_day in daily.items():
        days = sorted(per_day)
        n, tot = len(days), sum(per_day.values())
        best = None
        pref = 0
        for k, d in enumerate(days, start=1):
            pref += per_day[d]
            dev = abs(n * pref - k * tot)
            if best is None or dev > best[0]:
                best = (dev, d)
        r = got[t]
        assert r.n_days == n and r.cp_day == best[1] and r.max_dev_n == best[0], t


def test_theil_index_first_principles(spark, sf_dir):
    """Theil T recomputed from raw values with the textbook formula
    (1/n)·Σ (x/μ)·ln(x/μ); the engine's rounded-term decimal-sum
    spelling must agree to ~1e-5 (term rounding at 1e-6 per value)."""
    import math
    from collections import defaultdict

    from cassandra_extractor_spark.operators.relational import q125_theil_index
    from cassandra_extractor_spark.sources.catalog import load_table

    got = {r.o_orderpriority: r for r in q125_theil_index(spark, sf_dir).collect()}
    per = defaultdict(list)
    for r in (
        load_table(spark, "orders", sf_dir)
        .select("o_orderpriority", F.round(F.col("o_totalprice") * 100).cast("long").alias("v"))
        .collect()
    ):
        if r.v > 0:
            per[r.o_orderpriority].append(r.v)
    assert set(got) == set(per)
    for prio, xs in per.items():
        n, mu = len(xs), sum(xs) / len(xs)
        t = sum((x / mu) * math.log(x / mu) for x in xs) / n
        r = got[prio]
        assert r.n_orders == n and r.total_cents == sum(xs)
        assert abs(r.theil - t) < 1e-5, (prio, r.theil, t)
        assert r.theil >= -1e-6  # Theil is non-negative up to rounding


def test_cramers_v_first_principles(spark, sf_dir):
    """V recomputed from the raw contingency table with scipy-free
    textbook formulas."""
    import math
    from collections import Counter

    from cassandra_extractor_spark.operators.relational import q126_cramers_v
    from cassandra_extractor_spark.sources.catalog import load_table

    r = q126_cramers_v(spark, sf_dir).collect()[0]
    rows = load_table(spark, "orders", sf_dir).select(
        "o_orderpriority", "o_orderstatus"
    ).collect()
    cells = Counter((x.o_orderpriority, x.o_orderstatus) for x in rows)
    rt = Counter(); ct = Counter()
    for (p, s), c in cells.items():
        rt[p] += c
        ct[s] += c
    n = sum(cells.values())
    chi2 = sum(
        (c - rt[p] * ct[s] / n) ** 2 / (rt[p] * ct[s] / n)
        for (p, s), c in cells.items()
    )
    v = math.sqrt(chi2 / (n * (min(len(rt), len(ct)) - 1)))
    assert r.r == len(rt) and r.c == len(ct) and r.n_rows == n
    assert abs(r.chi2 - chi2) < 1e-4
    assert abs(r.cramers_v - v) < 1e-6
    assert 0.0 <= r.cramers_v <= 1.0


def test_dedup_savings_reconciles(spark, sf_dir):
    """Savings cells reconcile with the cluster map and the corpus
    token totals."""
    from cassandra_extractor_spark.operators.dedup import ns_dedup_clusters
    from cassandra_extractor_spark.operators.extraction import ns_dedup_savings
    from cassandra_extractor_spark.operators.text import ns_text_quality
    from cassandra_extractor_spark.sources.catalog import load_table

    out = ns_dedup_savings(spark, sf_dir).collect()
    n_total = load_table(spark, "documents", sf_dir).count()
    assert sum(r.n_docs for r in out) == n_total
    removable = (
        ns_dedup_clusters(spark, sf_dir)
        .where(F.col("doc_id") != F.col("cluster_id"))
        .count()
    )
    assert sum(r.n_removable for r in out) == removable
    tok_total = ns_text_quality(spark, sf_dir).agg(F.sum("n_tokens")).collect()[0][0]
    assert sum(r.total_tokens for r in out) == tok_total
    for r in out:
        assert 0 <= r.removable_tokens <= r.total_tokens
        if r.total_tokens:
            assert r.savings_ppm == r.removable_tokens * 1_000_000 // r.total_tokens


def test_sketch_shard_merge_properties(spark, sf_dir):
    """Mergeable-MinHash audit invariants: every shard row reports the
    merged-equals-direct corpus sketch (associativity over real data);
    each corpus-sketch component is witnessed by at least one shard;
    estimates are multiples of the 1/NUM_PERM granularity; and the
    exact shingle shares are consistent (each shard ≤ the union, the
    shards together cover it)."""
    from cassandra_extractor_spark.operators.dedup import (
        NUM_PERM,
        ns_sketch_shard_merge,
    )

    rows = ns_sketch_shard_merge(spark, sf_dir).collect()
    assert rows
    assert all(r.merged_ok for r in rows)
    assert all(0 <= r.sketch_matches <= NUM_PERM for r in rows)
    # each corpus min comes from some shard: totals across shards must
    # witness every component at least once
    assert sum(r.sketch_matches for r in rows) >= NUM_PERM
    step = 1_000_000 // NUM_PERM
    assert all(r.est_ppm == r.sketch_matches * step for r in rows)
    assert all(0 < r.exact_ppm <= 1_000_000 for r in rows)
    # shards cover the union (with overlap): Σ shard distinct ≥ union
    n_union = round(rows[0].n_shingles * 1_000_000 / rows[0].exact_ppm)
    assert sum(r.n_shingles for r in rows) >= n_union


def test_wilcoxon_signed_rank_first_principles(spark, sf_dir):
    """q127 recomputed from raw orders in plain Python: first/last per
    customer by (date, orderkey), zero diffs excluded, average ranks
    over |d| with tie correction — the exact integers must match and z
    must agree to float tolerance."""
    import math

    from cassandra_extractor_spark.operators.relational import (
        q127_wilcoxon_signed_rank,
    )
    from cassandra_extractor_spark.sources.catalog import load_table

    rows = (
        load_table(spark, "orders", sf_dir)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
        .collect()
    )
    per: dict = {}
    for r in rows:
        per.setdefault(r.o_custkey, []).append(
            (r.o_orderdate, r.o_orderkey, round(r.o_totalprice * 100))
        )
    ds = []
    for v in per.values():
        if len(v) >= 2:
            v.sort()
            ds.append(v[-1][2] - v[0][2])
    nz = sorted((abs(d), d > 0) for d in ds if d != 0)
    n = len(nz)
    # doubled average ranks per |d| group
    w2p = 0
    ties = 0
    i = 0
    while i < n:
        j = i
        while j < n and nz[j][0] == nz[i][0]:
            j += 1
        t = j - i
        ties += t**3 - t
        rank2 = 2 * i + t + 1  # doubled average rank of the group
        w2p += rank2 * sum(1 for k in range(i, j) if nz[k][1])
        i = j
    got = q127_wilcoxon_signed_rank(spark, sf_dir).collect()[0]
    assert got.n_pairs == len(ds)
    assert got.n_nonzero == n
    assert got.w2_plus == w2p
    sig2 = n * (n + 1) * (2.0 * n + 1) / 6.0 - ties / 12.0
    z = (w2p - n * (n + 1) / 2.0) / math.sqrt(sig2)
    assert abs(got.z - z) < 1e-6


def test_q25_except_nonvacuous(spark, tmp_path):
    """q25's fixture result is empty at every SF (every nation has a
    customer) and its inputs are static dims the differential never
    varies — so the oracle gate alone would pass an always-empty
    implementation.  Pin the EXCEPT semantics on a corpus where the
    difference is non-empty, including the DISTINCT contract (a
    nation key missing from customers appears ONCE however many
    nation rows carry it... keys are unique in nation, so the
    distinct half is pinned by the duplicated customer side not
    re-adding rows)."""
    import pandas as pd

    from cassandra_extractor_spark.registry import QUERIES

    pd.DataFrame(
        {"n_nationkey": [0, 1, 2, 3], "n_name": ["A", "B", "C", "D"],
         "n_regionkey": [0, 0, 1, 1], "n_comment": [""] * 4}
    ).to_parquet(tmp_path / "nation.parquet")
    pd.DataFrame(
        {"c_custkey": [10, 11, 12], "c_nationkey": [0, 2, 2],
         "c_name": ["x", "y", "z"], "c_acctbal": [1.0, 2.0, 3.0],
         "c_mktsegment": ["S"] * 3, "c_comment": [""] * 3}
    ).to_parquet(tmp_path / "customer.parquet")
    got = [r.n_nationkey for r in QUERIES["q25_except"](spark, str(tmp_path)).collect()]
    assert got == [1, 3]


# ------------------------------------------------------- first principles
# Each operator's Spark result recomputed with plain Python/numpy from
# the raw parquet, independently of both engines (the oracle gate only
# proves Spark == DuckDB; these prove the shared arithmetic is the
# intended algorithm), plus sketch-accuracy and plan-shape assertions.


def _h64(s: str, salt: str) -> int:
    """Python mirror of dedup._md5_hash64 (first 15 hex chars of
    md5('salt|s'))."""
    return int(hashlib.md5(f"{salt}|{s}".encode()).hexdigest()[:15], 16)


_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def _tokens(text: str) -> list[str]:
    return _WS_RE.split(text.lower().strip(" "))


def test_ewma_matches_python_recursion(spark, sf_dir):
    from cassandra_extractor_spark.operators.relational import (
        EWMA_ALPHA,
        EWMA_WINDOW,
        q108_ewma,
    )

    out = q108_ewma(spark, sf_dir).toPandas()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.value.notna()].sort_values(["user_id", "ts", "event_id"])
    uid = int(out.user_id.iloc[0])
    g = ev[ev.user_id == uid]
    vals = [float(round(v * 100)) for v in g.value]
    got = dict(zip(out[out.user_id == uid].event_id, out[out.user_id == uid].ewma))
    for idx, eid in enumerate(g.event_id):
        window = vals[max(0, idx - (EWMA_WINDOW - 1)) : idx + 1]
        acc = window[0]
        for x in window[1:]:
            acc = acc * (1 - EWMA_ALPHA) + x * EWMA_ALPHA
        assert abs(got[eid] - acc / 100) < 1e-6, (eid, got[eid], acc / 100)


def test_cusum_closed_form_equals_clamped_recursion(spark, sf_dir):
    from cassandra_extractor_spark.operators.relational import q109_cusum

    out = q109_cusum(spark, sf_dir).toPandas().set_index("user_id")
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.value.notna()].sort_values(["user_id", "ts", "event_id"])
    cents = (ev.value * 100).round().astype(int)
    n, total = len(ev), int(cents.sum())
    for uid, g in ev.assign(c=cents).groupby("user_id"):
        c = peak = 0
        for x in g.c:
            c = max(0, c + (int(x) * n - total))
            peak = max(peak, c)
        expected = peak / (100 * n)
        assert abs(out.loc[uid, "peak_cusum"] - expected) < 1e-5, uid


def test_span_corruption_first_principles(spark, sf_dir):
    from cassandra_extractor_spark.operators.text import (
        SPAN_MASK_PCT,
        ns_span_corruption,
    )

    out = ns_span_corruption(spark, sf_dir).toPandas().set_index("doc_id")
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet").head(20)
    for _, row in docs.iterrows():
        toks = _tokens(row.text)
        masks = [
            _h64(f"{row.doc_id}#{i}", "span") % 100 < SPAN_MASK_PCT
            for i in range(1, len(toks) + 1)
        ]
        n_masked = sum(masks)
        n_spans = sum(
            1 for i, m in enumerate(masks) if m and (i == 0 or not masks[i - 1])
        )
        got = out.loc[row.doc_id]
        assert (got.n_tokens, got.n_masked, got.n_spans) == (
            len(toks),
            n_masked,
            n_spans,
        ), row.doc_id


def test_cms_never_undercounts(spark, sf_dir):
    from cassandra_extractor_spark.operators.text import ns_cms_estimate

    cms = ns_cms_estimate(spark, sf_dir).toPandas()
    assert len(cms) > 0
    assert (cms.est_n >= cms.true_n).all()


def test_hll_relative_error_within_sketch_bound(spark, sf_dir):
    # m=256 registers → σ ≈ 1.04/√256 = 6.5%; 0.2 is a 3σ envelope
    from cassandra_extractor_spark.operators.text import ns_hll_manual

    row = ns_hll_manual(spark, sf_dir).collect()[0]
    assert row.n_exact > 0
    assert abs(row.rel_err) < 0.2, row


def test_lpa_communities_refine_connected_components(spark, sf_dir):
    """A label can only travel along edges, so two docs sharing an LPA
    community must sit in the same LSH connected component."""
    from cassandra_extractor_spark.operators.dedup import (
        ns_dedup_clusters,
        ns_label_propagation,
    )

    lpa = ns_label_propagation(spark, sf_dir).toPandas()
    cc = ns_dedup_clusters(spark, sf_dir).toPandas()
    m = lpa.merge(cc, on="doc_id", how="left")
    multi = m[m.community.map(m.community.value_counts()) > 1]
    for _, grp in multi.groupby("community"):
        assert grp.cluster_id.nunique(dropna=True) <= 1, grp


def test_ngram_novelty_first_doc_is_fully_novel(spark, sf_dir):
    from cassandra_extractor_spark.operators.text import ns_ngram_novelty

    nov = ns_ngram_novelty(spark, sf_dir).toPandas()
    with_grams = nov[nov.n_grams > 0].sort_values("doc_id")
    assert len(with_grams) > 0
    assert with_grams.iloc[0].novelty == 1.0
    assert (with_grams.n_novel <= with_grams.n_grams).all()


def test_spearman_matches_pandas(spark, sf_dir):
    from cassandra_extractor_spark.operators.relational import q116_spearman

    out = q116_spearman(spark, sf_dir).toPandas().set_index("l_returnflag")
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    li["q"] = li.l_quantity.round().astype(int)
    li["p"] = (li.l_extendedprice * 100).round().astype(int)
    for flag, g in li.groupby("l_returnflag"):
        # average-rank Spearman = Pearson on the ranks (pandas'
        # .corr(method='spearman') needs scipy, absent here)
        rq = g["q"].rank(method="average")
        rp = g["p"].rank(method="average")
        expected = rq.corr(rp)
        got = out.loc[flag, "spearman"]
        assert abs(got - expected) < 1e-6, (flag, got, expected)


def test_ks_matches_python_ecdf(spark, sf_dir):
    from cassandra_extractor_spark.operators.relational import q121_ks_test

    row = q121_ks_test(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.value.notna() & ev.event_type.isin(["view", "purchase"])]
    x = (ev.value * 100).round().astype(int)
    a = np.sort(x[ev.event_type == "view"].values)
    b = np.sort(x[ev.event_type == "purchase"].values)
    support = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, support, side="right") / len(a)
    fb = np.searchsorted(b, support, side="right") / len(b)
    expected = np.abs(fa - fb).max()
    assert abs(row.ks_d - expected) < 1e-6, (row.ks_d, expected)


def test_gini_matches_python_formula(spark, sf_dir):
    from cassandra_extractor_spark.operators.relational import q117_gini

    out = q117_gini(spark, sf_dir).toPandas().set_index("o_orderpriority")
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["cents"] = (o.o_totalprice * 100).round().astype(int)
    o = o[o.cents >= 0]
    for prio, g in o.groupby("o_orderpriority"):
        xs = np.sort(g.cents.values)
        n = len(xs)
        i = np.arange(1, n + 1)
        expected = (2 * (i * xs).sum() - (n + 1) * xs.sum()) / (n * xs.sum())
        assert abs(out.loc[prio, "gini"] - expected) < 1e-6, prio


def test_ab_z_matches_python_formula(spark):
    import math

    from cassandra_extractor_spark.operators.relational import q119_ab_proportions

    # sf0.01: sf0.001's 15 users may leave one arm empty (no row)
    sf_dir = "/root/testdata/sf0.01"
    row = q119_ab_proportions(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(["ts", "event_id"])
    firsts = ev.groupby("user_id").first()
    firsts = firsts[firsts.event_type.isin(["view", "click"])]
    purchasers = set(ev[ev.event_type == "purchase"].user_id)
    n1 = int((firsts.event_type == "view").sum())
    n2 = int((firsts.event_type == "click").sum())
    c1 = sum(1 for uid, r in firsts.iterrows()
             if r.event_type == "view" and uid in purchasers)
    c2 = sum(1 for uid, r in firsts.iterrows()
             if r.event_type == "click" and uid in purchasers)
    assert (row.n1, row.c1, row.n2, row.c2) == (n1, c1, n2, c2)
    if n1 and n2 and 0 < c1 + c2 < n1 + n2:
        pp = (c1 + c2) / (n1 + n2)
        z = (c1 / n1 - c2 / n2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
        assert abs(row.z - z) < 1e-6
    else:
        # degenerate pool (p̂ ∈ {0, 1}) — the operator must emit NULL
        assert row.z is None


def test_seasonal_components_reconstruct_signal(spark, sf_dir):
    """trend + seasonal + residual must reconstruct the observed value
    to within the three independent 2-decimal roundings."""
    from cassandra_extractor_spark.operators.relational import q118_seasonal_decompose

    out = q118_seasonal_decompose(spark, sf_dir).toPandas()
    assert len(out) > 0
    recon = out.trend_cents + out.seasonal_cents + out.residual_cents
    assert (recon - out.cents).abs().max() <= 0.02
