"""Text-analysis operators for large-scale training-data pipelines.

Language ID (stopword-marker heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and document fingerprinting —
all expressed with built-in ``pyspark.sql.functions`` so they run
JVM-side inside whole-stage codegen with zero shuffles (pure per-row
projections; embarrassingly parallel at any scale).

Every operator is deterministic and mirrored by an ANSI-SQL oracle in
``registry.py`` (hash determinism comes from md5; no engine-specific
hash functions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from cassandra_extractor_spark.sources.catalog import load_table

#: per-language marker words for the n-gram/stopword language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "fr": ["le", "la", "les", "et", "des", "une", "est"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "es": ["el", "los", "las", "y", "que", "una", "por"],
    "zh": ["的", "是", "了", "在", "我", "有", "他"],
}

EN_STOPWORDS = LANG_MARKERS["en"]

#: explicit ASCII whitespace class — Java ``\s`` includes \x0B, RE2's
#: (DuckDB's) does not, so every cross-engine regex spells the set out
WS = r" \t\n\x0B\f\r"

#: BPE-ish pre-tokenizer: letter runs, single digits, punctuation marks
BPE_PATTERN = rf"[A-Za-z]+|[0-9]|[^A-Za-z0-9{WS}]"


def tokens(col: Column) -> Column:
    r"""Whitespace tokenization (lowercased, trimmed).  The split class
    is the explicit ``WS`` set, not ``\s`` — identical behavior on
    both regex engines for every input, not just the test corpus."""
    return F.split(F.trim(F.lower(col)), rf"[{WS}]+")


def distinct_tokens(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def doc_fingerprint_col(col: Column) -> Column:
    """Deterministic document fingerprint: md5 over the canonicalized
    text (lowercase, alnum+space only, collapsed whitespace).  A
    rolling-hash analogue that is portable across engines."""
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(col), r"[^a-z0-9 ]", ""), r"\s+", " "
    )
    return F.substring(F.md5(F.trim(norm)), 1, 16)


def lang_scores(col: Column) -> dict[str, Column]:
    toksd = distinct_tokens(col)
    return {
        lang: F.size(F.array_intersect(toksd, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id_col(col: Column) -> Column:
    """Predicted language: argmax of marker hits, ties broken by the
    fixed order en>fr>de>es>zh, no hits → 'und'."""
    scores = lang_scores(col)
    mx = F.greatest(*scores.values())
    result = F.lit("und")
    # build reversed so the first language in order wins ties
    for lang in reversed(list(LANG_MARKERS)):
        result = F.when(scores[lang] == mx, F.lit(lang)).otherwise(result)
    return F.when(mx > 0, result).otherwise(F.lit("und"))


# --- queries() entries -------------------------------------------------


def ns_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pre-tokens."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
            F.regexp_count(F.col("text"), F.lit(BPE_PATTERN)).cast("long").alias("bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def ns_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id", doc_fingerprint_col(F.col("text")).alias("fp")).orderBy("doc_id")


def ns_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id", lang_id_col(F.col("text")).alias("pred_lang")).orderBy("doc_id")


def ns_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 highest-scoring terms per document (doc_id < 100
    window to keep the oracle output bounded; the pipeline itself scans
    everything and is linear + two shuffles at any scale).

    tf = term count in doc; idf = ln(N / df) over the FULL corpus;
    deterministic tie-break by term.  All-double arithmetic in fixed
    order for oracle parity.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    n_docs = d.count()  # driver-side scalar: one number, plan-time
    # session-shared token stream: no per-query corpus re-tokenize
    # (optimization r13, guide §1.2)
    terms = shared_token_stream(spark, sf_dir).select(
        "doc_id", F.col("tok").alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = terms.distinct().groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df_, "term")
        .where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


def ns_ngram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining via pointwise mutual information:
    PMI = ln(p(xy) / (p(x)p(y))) over the corpus, top pairs by PMI.

    Classic n-gram analysis for corpus exploration; two shuffles
    (bigram counts, unigram counts) + one broadcast-sized join at any
    corpus scale.  Restricted to bigrams seen >= 5 times so the output
    is stable and the oracle cheap.
    """
    from pyspark.sql import Window as W

    from cassandra_extractor_spark.sources.catalog import load_table

    # session-shared token stream: one row per token, nxt = successor
    # (optimization r13, guide §1.2 — no per-query corpus re-tokenize,
    # no per-query lead window)
    stream = shared_token_stream(spark, sf_dir)
    bi = stream.where(F.col("nxt").isNotNull()).select(
        "doc_id", F.col("tok").alias("w"), F.col("nxt").alias("w2")
    )
    # corpus totals from ONE cheap aggregate over the stream (row count
    # = Σ len; nxt-non-null count = Σ max(len-1, 0))
    totals = stream.agg(
        F.count("*").alias("n_uni"),
        F.sum(F.col("nxt").isNotNull().cast("long")).alias("n_bi"),
    ).first()
    n_uni, n_bi = int(totals["n_uni"]), int(totals["n_bi"])
    bigrams = bi.groupBy("w", "w2").agg(F.count("*").alias("c_xy")).where(F.col("c_xy") >= 5)
    uni = stream.groupBy(F.col("tok").alias("w")).agg(F.count("*").alias("c_x"))
    u1 = uni.select(F.col("w").alias("w"), F.col("c_x").alias("cx"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_x").alias("cy"))
    return (
        bigrams.join(u1, "w")
        .join(u2, "w2")
        .select(
            "w",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") / F.lit(float(n_bi)))
                    / (
                        (F.col("cx").cast("double") / F.lit(float(n_uni)))
                        * (F.col("cy").cast("double") / F.lit(float(n_uni)))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w", "w2")
        .limit(100)
    )


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = rf"https?://[^{WS}]+"
LONG_DIGITS_RE = r"[0-9]{7,}"


def scrub_pii(col: Column) -> Column:
    """PII scrubbing: mask emails, URLs, and long digit runs — the
    standard redaction pass of a training-data pipeline.  Pure regexp
    chain (JVM-side, map-only)."""
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, URL_RE, "<URL>")
    return F.regexp_replace(out, LONG_DIGITS_RE, "<NUM>")


def ns_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents; the fixture text has no PII, so a
    deterministic synthetic email/URL/number is appended per doc first
    — the query then proves complete removal (counts + hash)."""
    from cassandra_extractor_spark.sources.catalog import load_table

    d = load_table(spark, "documents", sf_dir)
    dirty = F.concat(
        F.col("text"),
        F.lit(" user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com see http://t.co/x"),
        F.col("doc_id").cast("string"),
        F.lit(" id 1234567890"),
    )
    clean = scrub_pii(dirty)
    return (
        d.select(
            "doc_id",
            F.regexp_count(dirty, F.lit(EMAIL_RE)).cast("long").alias("emails_before"),
            F.regexp_count(clean, F.lit(EMAIL_RE)).cast("long").alias("emails_after"),
            F.regexp_count(clean, F.lit(URL_RE)).cast("long").alias("urls_after"),
            F.md5(clean).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


def ns_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: exact top-50 terms by frequency.
    explode → map-side-combined count → TakeOrderedAndProject (the
    top-k never materializes a full sort at scale)."""
    return (
        shared_token_stream(spark, sf_dir)
        .select(F.col("tok").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(50)
    )


#: chunking contract: fixed token window, fixed stride (overlap = window-stride)
CHUNK_TOKENS = 50
CHUNK_STRIDE = 40


def ns_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: overlapping fixed-size token windows — the
    context-window prep step before tokenization/embedding in an LLM
    data pipeline.  sequence() + transform + array_join stay entirely
    JVM-side; one row explodes to ceil(n/stride) chunk rows inside the
    scan stage (no shuffle, no Python)."""
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") <= 200)
    toks = tokens(F.col("text"))
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(CHUNK_STRIDE))
    return (
        d.select("doc_id", toks.alias("toks"), F.posexplode(starts).alias("i", "s"))
        .select(
            "doc_id",
            (F.col("i") + 1).cast("long").alias("chunk_idx"),
            F.least(
                F.lit(CHUNK_TOKENS), F.size(F.col("toks")) - F.col("s") + 1
            ).cast("long").alias("n_chunk_tokens"),
            F.array_join(F.slice(F.col("toks"), F.col("s"), CHUNK_TOKENS), " ").alias(
                "chunk_text"
            ),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def _text_quality_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unordered quality projection over the corpus, carrying one
    extra column (``n_distinct``) that the repetition filter shares —
    the tokenize+score pass every quality consumer needs.  Built once
    per session via ``shared_text_quality``; ``ns_text_quality`` adds
    the presentation sort and drops the extra column."""
    d = load_table(spark, "documents", sf_dir)
    text = F.col("text")
    toksd = distinct_tokens(text)
    n_tok = F.size(tokens(text)).cast("double")
    stop_hits = F.size(
        F.array_intersect(toksd, F.array(*[F.lit(w) for w in EN_STOPWORDS]))
    ).cast("double")
    n_distinct = F.size(toksd).cast("double")
    stop_ratio = stop_hits / n_distinct
    len_sat = F.least(F.lit(1.0), n_tok / F.lit(100.0))
    n_ch = F.length(text).cast("double")
    # guarded: empty text has no characters to penalize (and ANSI mode
    # makes 0/0 an error, not NaN)
    punct_ratio = F.when(
        n_ch > 0,
        F.length(F.regexp_replace(text, r"[A-Za-z0-9 ]", "")).cast("double") / n_ch,
    ).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * stop_ratio
        + F.lit(0.3) * len_sat
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
    )
    return d.select(
        "doc_id",
        F.size(tokens(text)).cast("long").alias("n_tokens"),
        F.size(toksd).cast("long").alias("n_distinct"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def shared_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared materialized quality frame (doc_id, n_tokens,
    n_distinct, stop_ratio, quality) — the tokenize+score projection
    ran once per CONSUMER before r14 (ns_text_quality itself, the
    corpus-select/training-corpus gates, the funnel, gate agreement,
    calibration, frontier/budget selection, quality×dup forensics,
    dedup savings, the repetition filter's per-doc counts: ~11
    evaluations per session), although every one of them needs the
    identical per-doc values.  Same sharing discipline as
    ``shared_token_stream`` (optimization r14, guide §1.2/§2.4): built
    once per (session, corpus), charged by the bench as its own line
    item (``shared_quality_build``), every consumer reads the
    materialized blocks."""
    from cassandra_extractor_spark.operators.dedup import (
        materialize_once,
        session_memo,
    )

    return session_memo(
        spark,
        ("text_quality", sf_dir),
        lambda: materialize_once(_text_quality_frame(spark, sf_dir)),
    )


def ns_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, length saturation, punctuation
    penalty → weighted score.  Pure double arithmetic in a fixed
    expression order so the oracle reproduces it bit-for-bit.  Reads
    the session-shared materialized quality frame (values identical —
    the shared frame IS this projection)."""
    return (
        shared_text_quality(spark, sf_dir)
        .select("doc_id", "n_tokens", "stop_ratio", "quality")
        .orderBy("doc_id")
    )


#: Gopher-style repetition thresholds (Rae et al. 2021 §A1.1 use 0.30
#: duplicate-line and 0.20 top-2-gram fractions; token-level analogues
#: here since the synthetic docs are single-line)
REP_DUP_TOKEN_MAX = 0.7
REP_TOP_BIGRAM_MAX = 0.2


def token_stream(d: DataFrame) -> DataFrame:
    """(doc_id, tok, nxt): ONE posexplode + per-doc lead window serving
    every token-level gate — bigrams are (tok, nxt) rows, unigram
    aggregates ignore ``nxt``.  ``ns_training_corpus`` materializes
    this once and feeds it to the repetition filter AND the classifier,
    replacing two independent explode pipelines with one."""
    from pyspark.sql import Window as W

    toks = d.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    return toks.select("doc_id", "tok", F.lead("tok").over(w).alias("nxt"))


def shared_token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus ``token_stream``, served from the session-shared
    materialized token-lead frame (``shared_tok_leads``) — the
    training-corpus pipeline and the filter funnel both feed their
    token-level gates from those blocks instead of exploding the corpus
    once each (same sharing discipline as ``shared_clusters``).

    Since r13 this is a zero-cost projection over the SAME checkpoint
    the shingle frame derives from (``nxt`` is the window's
    ``lead(tok, 1)`` — column ``t1``), so a session pays ONE corpus
    explode+window shuffle for both frames (guide §2.1)."""
    from cassandra_extractor_spark.operators.dedup import shared_tok_leads

    return shared_tok_leads(spark, sf_dir).select(
        "doc_id", "tok", F.col("t1").alias("nxt")
    )


def ns_repetition_filter(
    spark: SparkSession, sf_dir: str, _stream: DataFrame | None = None
) -> DataFrame:
    """Repetition-based quality filter (Gopher rules, token-level):
    per document, the duplicate-token fraction (1 − distinct/total) and
    the top-bigram fraction (most frequent bigram over total bigrams),
    plus the keep/drop verdict at the standard thresholds.

    100 TB shape: the duplicate-token fraction is a pure per-row
    projection (codegen'd array ops, no shuffle); the top-bigram
    fraction is one posexplode→count→max aggregation pair, map-side
    combined, partitioned by doc_id — linear, two shuffles, no Python.
    ``_stream``: a pre-built ``token_stream`` to aggregate instead of
    the session-shared one (the explicitly-fused-pipeline path; since
    round 9 the default already reads ``shared_token_stream``'s
    materialized blocks, so standalone invocations in a multi-query
    session explode nothing; since r14 the default verdict frame is
    itself session-memoized — ``shared_rep_flags``).
    """
    if _stream is None:
        return shared_rep_flags(spark, sf_dir).orderBy("doc_id")
    return _rep_flags_frame(spark, sf_dir, _stream).orderBy("doc_id")


def _rep_flags_frame(
    spark: SparkSession, sf_dir: str, stream: DataFrame
) -> DataFrame:
    """The unordered repetition-verdict frame.  Per-doc token counts
    ride the session-shared quality frame (``n_tokens``/``n_distinct``
    are the identical expressions — optimization r14, guide §1.2: the
    old spelling re-tokenized the corpus for counts the quality pass
    already computed); the top-bigram aggregate reads ``stream``."""
    base = shared_text_quality(spark, sf_dir).select(
        "doc_id", "n_tokens", "n_distinct"
    )
    bigrams = stream.where(F.col("nxt").isNotNull()).select(
        "doc_id", F.concat_ws(" ", "tok", "nxt").alias("sh")
    )
    top_bigram = (
        bigrams.groupBy("doc_id", "sh")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
    )
    dup_frac = F.round(
        F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double"), 6
    )
    bigram_frac = F.round(
        F.coalesce(
            F.col("top_bigram_n").cast("double") / F.col("n_bigrams").cast("double"),
            F.lit(0.0),
        ),
        6,
    )
    return (
        base.join(top_bigram, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            dup_frac.alias("dup_token_frac"),
            bigram_frac.alias("top_bigram_frac"),
        )
        .withColumn(
            "keep",
            (F.col("dup_token_frac") <= REP_DUP_TOKEN_MAX)
            & (F.col("top_bigram_frac") <= REP_TOP_BIGRAM_MAX),
        )
    )


def shared_rep_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared materialized repetition verdicts — the filter
    funnel, the training-corpus pipeline and the standalone query each
    re-ran the bigram aggregate over the token stream before r14; one
    doc-sized verdict frame serves all three (guide §1.2)."""
    from cassandra_extractor_spark.operators.dedup import (
        materialize_once,
        session_memo,
    )

    return session_memo(
        spark,
        ("rep_flags", sf_dir),
        lambda: materialize_once(
            _rep_flags_frame(spark, sf_dir, shared_token_stream(spark, sf_dir))
        ),
    )


#: hashed-vocab linear classifier: integer weight per token in
#: [-1000, 1000], md5-derived (the hashing-trick analogue of a
#: fasttext-style quality model — weights would come from training in
#: production; the md5 derivation keeps this engine-portable)
QW_SCALE = 1000


def _token_weight(tok: Column) -> Column:
    from cassandra_extractor_spark.operators.dedup import _md5_hash64

    return (_md5_hash64(tok, "qw") % (2 * QW_SCALE + 1)) - QW_SCALE


def ns_quality_classifier(
    spark: SparkSession, sf_dir: str, _stream: DataFrame | None = None
) -> DataFrame:
    """Model-based quality filtering: score every document with a
    linear classifier over the hashed token vocabulary and keep the
    documents scoring at or above the corpus median — the
    classifier-inference + percentile-cut stage of a pretraining
    pipeline (fasttext/logistic quality models), entirely JVM-side.

    Exactness: weights and the per-token mean ``score`` (wsum·10⁶ div
    n_tokens, truncating integer division spelled so both engines
    agree) are INTEGERS — sums are exact under any partitioning, and
    the median cut compares integers (no float interpolation: Spark's
    ``percentile_approx`` at max accuracy returns the discrete median,
    verified equal to DuckDB ``quantile_disc(.., 0.5)`` incl. ties and
    even counts); only the reporting sigmoid touches doubles.

    100 TB shape: posexplode → map-side-combined (doc_id) sum (one
    shuffle), then the threshold is a one-row mergeable-sketch
    aggregate broadcast back over the scored frame — NO global sort
    window anywhere in the plan (`tests/test_scale.py` asserts this).
    At production scale dial ``accuracy`` down (e.g. 10⁴) for a
    bounded-memory GK sketch; the max-accuracy setting here makes the
    threshold exact for oracle parity at test scale.
    """
    # aggregate the (shared) token stream — one row per token, `nxt`
    # ignored; since round 9 the standalone default reads the session-
    # shared materialized stream, so no explode runs here at all in a
    # multi-query session; since r14 the scored frame itself is
    # session-memoized (``shared_clf_scores``) — the five classifier
    # consumers (standalone, calibration, gate agreement, funnel,
    # training corpus) read one materialized build instead of each
    # re-running the weight aggregation (guide §1.2)
    if _stream is None:
        scored = shared_clf_scores(spark, sf_dir)
    else:
        from cassandra_extractor_spark.operators.dedup import materialize_once

        # materialize once even on the explicit-stream path: the
        # threshold aggregate and the output join both read `scored`,
        # and Catalyst does not reuse the exchange across the subplans
        scored = materialize_once(_clf_scored_frame(_stream))
    thr = scored.agg(
        F.percentile_approx("score", 0.5, 2147483647).alias("thr")
    )
    return (
        scored.join(F.broadcast(thr))
        .select(
            "doc_id",
            "n_tokens",
            "wsum",
            "score",
            "prob",
            (F.col("score") >= F.col("thr")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _clf_scored_frame(stream: DataFrame) -> DataFrame:
    """The unordered classifier score frame (doc_id, n_tokens, wsum,
    score, prob) from a token stream — the weight aggregation every
    classifier consumer shares."""
    tok = stream.select("doc_id", "tok")
    sums = tok.groupBy("doc_id").agg(
        F.sum(_token_weight(F.col("tok"))).alias("wsum"),
        F.count("*").alias("n_tokens"),
    )
    num = F.col("wsum") * F.lit(1_000_000)
    # truncating integer division, engine-portable: (num - num % n) / n
    # is an exact integer-valued double (quotient ≤ 2^53)
    score = ((num - num % F.col("n_tokens")) / F.col("n_tokens")).cast("long")
    logit = F.col("wsum").cast("double") / (
        F.col("n_tokens").cast("double") * F.lit(float(QW_SCALE))
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return sums.select(
        "doc_id",
        "n_tokens",
        "wsum",
        score.alias("score"),
        F.round(prob, 6).alias("prob"),
    )


def shared_clf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared materialized classifier scores over the corpus —
    one weight aggregation per session serves the standalone query,
    calibration, gate agreement, the funnel and the training-corpus
    pipeline (optimization r14, guide §1.2; charged by the bench under
    ``shared_quality_build``)."""
    from cassandra_extractor_spark.operators.dedup import (
        materialize_once,
        session_memo,
    )

    return session_memo(
        spark,
        ("clf_scores", sf_dir),
        lambda: materialize_once(
            _clf_scored_frame(shared_token_stream(spark, sf_dir))
        ),
    )


def ns_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve of the hashed-vocab classifier against the
    heuristic quality gate: classifier scores bucket into deciles (nine
    discrete-quantile cutoffs) and each bucket reports its heuristic
    pass rate — the reliability diagram read before trusting either
    gate's threshold (``ns_gate_agreement`` gives one kappa number;
    this shows WHERE on the score axis the gates diverge).

    Exactness: scores are the classifier's exact integers; the nine
    cutoffs are discrete quantiles (``percentile_approx`` at max
    accuracy == DuckDB ``quantile_disc``, the q44b-verified
    equivalence); bucket membership is integer comparisons and the
    pass rate is integer ppm — every output hashes identically.

    100 TB shape: one classifier pass (documented on its operator),
    one 9-value quantile sketch broadcast back, one map-side-combined
    aggregate to ≤10 rows.  No sort window anywhere.
    """
    # read the shared score frame directly: the classifier's median
    # threshold/keep column is dead weight here (calibration buckets
    # the raw scores), and Catalyst cannot eliminate the broadcast
    # threshold join on its own (optimization r14)
    clf = shared_clf_scores(spark, sf_dir).select("doc_id", "score")
    heur = shared_text_quality(spark, sf_dir).select(
        "doc_id",
        ((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 50)).alias("hpass"),
    )
    qs = [i / 10.0 for i in range(1, 10)]
    thr = clf.agg(F.percentile_approx("score", qs, 2147483647).alias("t"))
    bucket = F.lit(1) + sum(
        (F.col("score") > F.element_at(F.col("t"), i + 1)).cast("long")
        for i in range(9)
    )
    return (
        clf.join(heur, "doc_id")
        .join(F.broadcast(thr))
        .select(bucket.cast("long").alias("bucket"), "hpass")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("hpass").cast("long")).cast("long").alias("n_pass"),
        )
        .withColumn("pass_ppm", F.expr("div(n_pass * 1000000, n_docs)"))
        .orderBy("bucket")
    )


def ns_quality_token_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-vs-data frontier: surviving document and token counts at
    each quality cutoff 0.0, 0.1, …, 0.9 — the curve a pipeline reads
    to choose its quality threshold ("how many training tokens does a
    stricter gate cost?").  The N-cutoffs-one-pass shape: all twenty
    conditional sums ride ONE map-side-combined aggregate over the
    quality frame, then ``stack`` to long form — no per-cutoff scans.

    Comparisons are double-exact cross-engine: ``quality`` is the same
    round(…, 6) double on both engines and each cutoff literal i/10 is
    the identical nearest-double.
    """
    return _frontier_from_tq(shared_text_quality(spark, sf_dir)).orderBy("cutoff_ppm")


def _frontier_from_tq(tq: DataFrame) -> DataFrame:
    """The frontier aggregation over an already-built quality frame —
    shared by ``ns_quality_token_frontier`` and ``ns_budget_select``
    (which reuses a materialized quality frame for both the frontier
    pass and the selection pass; optimization r13, guide §1.2)."""
    aggs = []
    for i in range(10):
        cond = F.col("quality") >= F.lit(i / 10.0)
        aggs.append(F.sum(cond.cast("long")).cast("long").alias(f"d{i}"))
        aggs.append(
            F.sum(F.when(cond, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"t{i}")
        )
    wide = tq.select("n_tokens", "quality").agg(*aggs)
    stack = ", ".join(f"{i * 100000}, d{i}, t{i}" for i in range(10))
    return (
        wide.selectExpr(
            f"stack(10, {stack}) AS (cutoff_ppm, n_docs, sum_tokens)"
        )
        .select(F.col("cutoff_ppm").cast("long"), "n_docs", "sum_tokens")
    )


TOKEN_BUDGET = 10_000  #: training-token budget for ns_budget_select


def ns_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained corpus selection: keep the HIGHEST-quality
    documents that still fill a ``TOKEN_BUDGET`` training-token budget
    — the "we want N tokens, give us the best N" decision every
    pretraining run makes, spelled as: pick the strictest quality
    cutoff on the ``ns_quality_token_frontier`` grid whose surviving
    tokens still meet the budget (cutoff 0 when even the whole corpus
    falls short), then keep documents at or above it.

    100 TB shape: the frontier is one aggregate to 10 rows; the chosen
    cutoff is a one-row broadcast; selection is a scan-stage filter.
    NO global quality sort anywhere — the naive spelling (ORDER BY
    quality DESC + running token sum to the budget line) funnels the
    corpus through one task; the grid-cutoff contract is what makes
    the selection a filter instead of a sort, at the cost of
    overshooting the budget by at most one grid step's worth of docs.

    The quality frame is computed ONCE per session and materialized
    (``shared_text_quality``, r14 — r13 materialized it per call): the
    frontier aggregate and the final selection filter both read the
    session-shared checkpointed blocks instead of re-running the
    tokenize+score projection over the corpus twice (guide §1.2;
    result bit-identical).
    """
    tq = shared_text_quality(spark, sf_dir)
    frontier = _frontier_from_tq(tq)
    cut = frontier.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("sum_tokens") >= TOKEN_BUDGET, F.col("cutoff_ppm")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cutoff_ppm")
    )
    return (
        tq.join(F.broadcast(cut))
        .where(F.col("quality") >= F.col("cutoff_ppm") / F.lit(1000000.0))
        .select("doc_id", "n_tokens", "quality", "cutoff_ppm")
        .orderBy("doc_id")
    )


#: vocabulary size for the OOV-rate operator (50k-ish in production;
#: sized to the synthetic corpus' 31 distinct tokens here)
VOCAB_SIZE = 20

#: a shingle seen in >= this many distinct documents counts as
#: boilerplate (nav bars, footers, licence blocks repeated across pages)
BOILERPLATE_MIN_DOCS = 4


def ns_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep: build the top-V corpus vocabulary by frequency,
    then score every document's out-of-vocabulary token count — the
    vocabulary-coverage check run before committing a tokenizer.

    100 TB shape: token counting is one map-side-combined aggregation
    (31 distinct tokens here, ~1e6-1e8 in a real corpus — always tiny
    next to the corpus); the top-V cut is a bounded ``orderBy().limit``
    (TakeOrdered partial top-K per partition, never a full sort of the
    corpus) and the resulting V-row vocabulary rides back as a
    broadcast join.  Deterministic tie-break: (count desc, token asc).
    """
    # session-shared token stream feeds BOTH consumers of the exploded
    # corpus (vocab count + per-doc OOV join) — optimization r13 §1.2
    toks = shared_token_stream(spark, sf_dir).select("doc_id", "tok")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per_doc.select("doc_id", "n_tokens", "n_oov").orderBy("doc_id")


def ns_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: a 3-shingle occurring in
    >= BOILERPLATE_MIN_DOCS distinct documents is boilerplate (repeated
    nav/footer/licence text); each document reports its distinct-shingle
    total, how many are boilerplate, and keep = boilerplate share
    <= 50% — the CCNet/Gopher-style repeated-span filter at corpus
    granularity (the within-doc variant is ns_repetition_filter).

    100 TB shape: shingle doc-frequency is a map-side-combined
    aggregation over (doc, shingle) pairs; the heavy-hitter set it
    keeps (df >= 4) is tiny by construction (boilerplate is by
    definition a small set of very common spans), so it broadcasts
    back — the corpus-sized frame never joins shuffled.  Integer
    keep rule (n_bp*2 <= n_sh) avoids float parity issues.

    The shingle source is the session-shared DISTINCT 3-shingle frame
    (optimization r13, guide §2.4): the doc-frequency branch and the
    per-doc branch each reference the shingle set, and Catalyst does
    not dedupe common subplans — the previous spelling ran the corpus
    explode+distinct TWICE per execution.  ``shared_shingles`` is the
    same ``exploded_shingles(documents).distinct()`` frame, built once
    per session (charged to the chain-build line), so both branches
    read materialized blocks and the oracle hash is unchanged
    (measured 1.54 s → 0.58 s at sf0.1).
    """
    from cassandra_extractor_spark.operators.dedup import shared_shingles

    d = load_table(spark, "documents", sf_dir)
    sh = shared_shingles(spark, sf_dir)  # (doc_id, sh) set semantics
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
    # left join back to the corpus so shingle-less short docs keep=true
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_sh", F.lit(0)).alias("n_sh"),
            F.coalesce("n_bp", F.lit(0)).alias("n_bp"),
            (F.coalesce("n_bp", F.lit(0)) * 2 <= F.coalesce("n_sh", F.lit(0))).alias("keep"),
        )
        .orderBy("doc_id")
    )


def ns_lm_fluency_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM bucketing: score every document against a bigram
    language model trained on the corpus itself, then split the corpus
    into head/middle/tail terciles — the perplexity-bucket curation
    step of a pretraining pipeline (Wenzek et al., CCNet).

    Engine-portable exactness: production CCNet uses KenLM perplexity
    (log-space floats); here the score is the mean scaled bigram
    transition probability — ``fluency = Σ n_occ·p_int div Σ n_occ``
    with ``p_int = 10⁶·c(w1,w2) div c(w1·)`` — a monotone fluency
    proxy in PURE INTEGER arithmetic (``div`` here, ``//`` in the
    oracle; all operands non-negative), so the driver hash is stable
    under any partitioning and any libm.  Higher = more fluent:
    head ≥ t2/3 > middle ≥ t1/3 > tail.

    100 TB shape: bigram extraction is a per-doc window (partitioned by
    doc_id — map-local, no global sort); the doc side pre-aggregates
    per (doc_id, bigram) before joining the model (map-side combine +
    skew damping for stop-bigrams); the model is two hash aggregations;
    tercile thresholds are a one-row percentile_approx broadcast (the
    quality-classifier trick — equality with DuckDB ``quantile_disc``
    at 1/3, 2/3 is pinned by a tie-structure unit test).  Docs with <2
    tokens have no bigrams and are excluded (documented; the oracle
    filters identically).
    """
    from pyspark.sql import Window as W

    from cassandra_extractor_spark.sources.catalog import load_table

    # session-shared token stream (nxt = successor token): no
    # per-query corpus re-tokenize, no per-query lead window
    # (optimization r13, guide §1.2)
    bi = (
        shared_token_stream(spark, sf_dir)
        .where(F.col("nxt").isNotNull())
        .select("doc_id", F.col("tok").alias("w"), F.col("nxt").alias("w2"))
    )
    from cassandra_extractor_spark.operators.dedup import materialize_once

    # per-(doc, bigram) pre-agg is the ONLY consumer of the raw bigram
    # stream; the model counts then derive from it (c12 = Σ_doc n_occ,
    # c1 = Σ_w2 c12) — each later shuffle moves pre-combined counts,
    # never raw occurrences, and the tokenize+window pipeline runs once
    doc_bi = materialize_once(
        bi.groupBy("doc_id", "w", "w2").agg(F.count("*").alias("n_occ"))
    )
    c12 = doc_bi.groupBy("w", "w2").agg(F.sum("n_occ").cast("long").alias("c12"))
    c1 = c12.groupBy("w").agg(F.sum("c12").cast("long").alias("c1"))
    model = c12.join(c1, "w").select(
        "w", "w2", F.expr("c12 * 1000000 div c1").alias("p_int")
    )
    scored = (
        doc_bi.join(model, ["w", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_bigrams"),
            F.sum(F.col("n_occ") * F.col("p_int")).alias("num"),
        )
        .select(
            "doc_id", "n_bigrams", F.expr("num div n_bigrams").alias("fluency")
        )
    )
    scored = materialize_once(scored)
    thr = scored.agg(
        F.percentile_approx("fluency", F.lit(1.0) / F.lit(3.0), F.lit(2147483647)).alias("t1"),
        F.percentile_approx("fluency", F.lit(2.0) / F.lit(3.0), F.lit(2147483647)).alias("t2"),
    )
    return (
        scored.join(F.broadcast(thr))
        .select(
            "doc_id",
            "n_bigrams",
            "fluency",
            F.when(F.col("fluency") >= F.col("t2"), F.lit("head"))
            .when(F.col("fluency") >= F.col("t1"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


CDC_MOD = 16  #: expected content-defined chunk length in tokens


def ns_cdc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: chunk boundaries where a per-token
    rolling fingerprint hits ``hash(tok) % CDC_MOD == 0`` — the
    shift-resistant alternative to fixed windows (``ns_doc_chunk``).
    Insert one word near the front of a document and fixed windows
    re-cut every downstream chunk; content-defined boundaries re-align
    at the next hash-selected token, so dedup/caching keyed on chunks
    stays stable — the rsync/LBFS trick applied to token streams.

    Engine-portable: the boundary predicate uses the shared 60-bit md5
    token hash (salt ``cdc``), chunk ids are a per-doc running sum of
    boundary flags (window partitioned by doc_id — map-local, no
    global sort), and the output is pure integers.  One explode, one
    per-doc window, one map-side-combined aggregation at any corpus
    size; bounded to doc_id <= 200 only to keep the oracle cheap
    (same bound as ``ns_doc_chunk``).
    """
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") <= 200)
    return cdc_chunks(d, "doc_id", "text").orderBy("doc_id", "chunk_id")


def cdc_chunks(df: DataFrame, id_col: str, text_col: str, mod: int = CDC_MOD) -> DataFrame:
    """Core of ``ns_cdc_chunk`` (reusable): (id, chunk_id, start_pos,
    n_tokens) with hash-selected boundaries."""
    from pyspark.sql import Window as W

    from cassandra_extractor_spark.operators.dedup import _md5_hash64

    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    boundary = F.when(
        (F.col("pos") == 0) | (_md5_hash64(F.col("tok"), "cdc") % mod == 0),
        F.lit(1),
    ).otherwise(F.lit(0))
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        tok.select("doc_id", "pos", "tok", F.sum(boundary).over(w).alias("chunk_id"))
        .groupBy("doc_id", F.col("chunk_id").cast("long").alias("chunk_id"))
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.count("*").alias("n_tokens"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("table", "hash", "spark")  #: fixed demo query terms


def bm25_rank(docs_frame: DataFrame, query: tuple[str, ...] = BM25_QUERY) -> DataFrame:
    """Okapi BM25 ranking of every document in a (doc_id, text) frame
    against the query term set — the corpus-recomputing spelling; the
    store-backed twin is ``streaming/posting_stream.bm25_query_
    against_store`` (row-identical, pinned by parity + property tests).

    100 TB shape: document frequencies and the average document length
    reduce to a FEW-ROW frame (|query| rows + one row) — both broadcast
    back; term frequencies come from one exploded scan filtered to the
    query terms BEFORE the aggregation (the filter is a broadcast hash
    probe of a literal array, so non-query tokens never shuffle).  The
    per-document sum over query terms goes through DECIMAL(38,18)
    (order-independent), keeping the driver hash partition-stable.
    """
    q_terms = F.array(*[F.lit(t) for t in query])
    d = docs_frame.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    docs = d.select("doc_id", "toks", F.size("toks").cast("long").alias("dl"))
    n_and_avg = docs.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    terms = (
        docs.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.array_contains(q_terms, F.col("term")))
    )
    tf = terms.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_and_avg))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum(F.col("term_score").cast("decimal(38,18)")).cast("double").alias("score_raw")
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce(F.col("score_raw"), F.lit(0.0)), 6).alias("bm25"),
        )
        .orderBy("doc_id")
    )


def ns_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_extractor_spark.sources.catalog import load_table

    return bm25_rank(load_table(spark, "documents", sf_dir).select("doc_id", "text"))


def ns_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the classic
    "gibberish vs natural text" quality signal (low entropy = heavy
    repetition, high ≈ ln(n_distinct) = diverse vocabulary), used
    alongside the Gopher repetition rules.

    Per-(doc, token) counts (map-side combined) over the session token
    stream → per-doc fold of ``-(c/n)·ln(c/n)`` through DECIMAL(38,18)
    (order-independent, so the hash is partition-stable).  Since
    optimization r14 both corpus passes read session-shared blocks:
    the stream rows ARE ``explode(tokens(text))`` (one row per token
    position) and the doc spine's ``n_tok`` is the quality frame's
    ``n_tokens`` (the identical ``size(tokens(text))`` expression,
    null for null text ⇒ coalesce 0 mirrors the old
    ``otherwise(0)``) — zero private corpus tokenizes where the old
    spelling ran two.  No joins except the final left join back to
    the doc spine; nothing leaves codegen.
    """
    docs = shared_text_quality(spark, sf_dir).select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tok"),
    )
    counts = (
        shared_token_stream(spark, sf_dir)
        .select("doc_id", "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    p = F.col("c").cast("double") / F.col("n_tok")
    per_doc = (
        counts.join(docs, "doc_id")
        .select("doc_id", (p * F.log(p)).alias("term"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_distinct"),
            (-F.sum(F.col("term").cast("decimal(38,18)")).cast("double")).alias("h_raw"),
        )
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long").alias("n_distinct"),
            F.round(F.coalesce(F.col("h_raw"), F.lit(0.0)) + 0.0, 6).alias("entropy"),
        )
        .orderBy("doc_id")
    )


def normalize_text_col(col: Column) -> Column:
    """Canonical text normalization applied before any dedup pass:
    lowercase, strip C0/C1 control characters, collapse every unicode
    whitespace run to one space, trim.  Pure ``lower`` +
    ``regexp_replace`` + ``trim`` — whole-stage codegen, no UDF, and
    both engines implement these with identical semantics so the
    output is byte-comparable cross-engine.

    (Unicode NFC/NFKC folding needs ICU, which neither engine exposes
    as a built-in — documented out of the normalization contract; the
    synthetic corpus is ASCII so the contract is exact here.)
    """
    c = F.lower(col)
    c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def ns_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization audit over documents: normalized text, pre/post
    lengths, changed flag.  Map-only — the canonical first stage every
    dedup/quality operator here assumes (``ns_dedup_exact`` on
    normalized text catches case/whitespace near-variants that raw
    hashing misses).

    Parity anchor: the reference's tablespec transforms normalize
    per-field at extract time (`worker.py` transform loop); this is
    the corpus-level Spark spelling.
    """
    d = load_table(spark, "documents", sf_dir)
    norm = normalize_text_col(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("raw_len"),
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("norm_len"),
        (norm != F.col("text")).alias("changed"),
    ).orderBy("doc_id")


CMS_ROWS = 4  #: count-min depth (independent hash rows)
CMS_WIDTH = 8192  #: count-min width (buckets per row)
HEAVY_MIN_COUNT = 200  #: heavy-hitter support threshold


def ns_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens with count >= threshold) found the
    100 TB way: a count-min sketch prunes the candidate set map-side,
    an exact pass verifies only the survivors.

    - Pass 1 builds the CMS as a map-side-combined aggregation DOWN to
      <= CMS_ROWS*CMS_WIDTH cells; only the aggregated 32 k counts
      reach the driver (a fixed bound like the Bloom build in
      ``q78_bloom_join``, regardless of corpus size).
    - The flattened sketch rides back as a ONE-ROW broadcast frame;
      the candidate predicate ``min_i est_i >= threshold`` evaluates as
      ``element_at`` lookups inside the scan stage — CMS estimates only
      ever OVER-count, so survivors are a superset of the true heavy
      hitters (no recall loss by construction).
    - Pass 2 exact-counts ONLY the surviving rows (heavy tokens plus a
      bounded false-positive residue) and applies the threshold for the
      final exact answer.

    The naive exact plan shuffles the full token domain; this plan
    shuffles 32 k sketch cells plus the survivor stream.  Result is
    EXACT (oracle: plain GROUP BY/HAVING).
    """
    # session-shared token stream feeds BOTH passes (sketch build +
    # survivor probe) — optimization r13 §1.2
    toks = shared_token_stream(spark, sf_dir).select("tok")

    def bucket(i: int) -> Column:
        return F.pmod(F.xxhash64("tok", F.lit(i)), F.lit(CMS_WIDTH))

    cells = toks.select(
        F.explode(
            F.array(
                *[(F.lit(i * CMS_WIDTH) + bucket(i)).alias(f"c{i}") for i in range(CMS_ROWS)]
            )
        ).alias("cell")
    )
    cms_rows = cells.groupBy("cell").agg(F.count("*").alias("est")).collect()
    flat = [0] * (CMS_ROWS * CMS_WIDTH)
    for r in cms_rows:
        flat[r["cell"]] = r["est"]
    sketch_df = spark.createDataFrame([(flat,)], "_cms: array<long>")
    probed = toks.crossJoin(F.broadcast(sketch_df))
    cond = F.lit(True)
    for i in range(CMS_ROWS):
        est = F.element_at(F.col("_cms"), (F.lit(i * CMS_WIDTH) + bucket(i)).cast("int") + 1)
        cond = cond & (est >= HEAVY_MIN_COUNT)
    survivors = probed.where(cond).drop("_cms")
    return (
        survivors.groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") >= HEAVY_MIN_COUNT)
        .orderBy(F.col("n").desc(), "tok")
    )


#: explicit whitespace class — Java ``\s`` includes \x0B, RE2's does
#: not; spelling the class out keeps Spark and the DuckDB oracle (and
#: any other engine) byte-identical
_WS_CLASS = r"[ \t\n\x0B\f\r]+"


def _c4_line_keep(line: Column) -> Column:
    """C4's public line-retention rules (Raffel et al. 2020, §2.2
    subset): terminal punctuation, >= 3 words, no 'javascript', no
    curly brace.  CR is stripped first so CRLF corpora behave like LF
    (Java ``$`` matches before a trailing ``\r``, RE2's does not)."""
    t = F.trim(F.regexp_replace(line, "\r", ""))
    return (
        t.rlike(r'[.!?"]$')
        & (F.size(F.split(t, _WS_CLASS)) >= 3)
        & ~F.lower(t).contains("javascript")
        & ~t.contains("{")
    )


def ns_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning: per document, keep only lines that
    pass the public C4 rules; emit line counts and the cleaned text.

    Scale shape: the whole operator is per-row ARRAY arithmetic
    (``split`` → ``filter`` → ``array_join``) — map-only, zero
    shuffles besides the oracle-contract ORDER BY, state bounded by one
    document.  The exploded spelling would shuffle every line of the
    corpus to rebuild document order; the array spelling never takes
    lines out of their row.

    Honest corpus note: the synthetic documents table contains no
    punctuation, so on it the C4 rules correctly drop every line (the
    oracle still exercises split/lambda/regex/join parity end to end);
    the discrimination behavior is pinned on punctuated multi-line
    docs in ``test_c4_line_filter_discriminates``.
    """
    d = load_table(spark, "documents", sf_dir)
    lines = F.split(F.col("text"), "\n")
    kept = F.filter(lines, _c4_line_keep)
    return d.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("clean_text"),
        (F.size(kept) >= 1).alias("doc_kept"),
    ).orderBy("doc_id")


def ns_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup over content-defined chunks: fingerprint every
    CDC chunk (md5 of its space-joined tokens) and report cross-corpus
    occurrence stats — the rsync/CAS trick that catches PARTIAL
    duplication (shared passages) that document-level hashing misses,
    at chunk granularity that survives edits (CDC boundaries re-align).

    Scale shape: one explode + per-doc window (chunk ids, map-local
    after the doc_id exchange) + two map-side-combined aggregations
    (chunk fingerprint, then per-fingerprint stats).  The per-chunk
    token buffer is bounded by chunk size (~CDC_MOD tokens).  Keeper is
    the min (doc_id, chunk_id) encoded as one integer for cross-engine
    arg-min.  Same doc_id <= 200 oracle bound as ``ns_cdc_chunk``.
    """
    from pyspark.sql import Window as W

    from cassandra_extractor_spark.operators.dedup import _md5_hash64

    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") <= 200)
    tok = d.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok"))
    boundary = F.when(
        (F.col("pos") == 0) | (_md5_hash64(F.col("tok"), "cdc") % CDC_MOD == 0),
        F.lit(1),
    ).otherwise(F.lit(0))
    w = W.partitionBy("doc_id").orderBy("pos")
    chunked = tok.select(
        "doc_id", "pos", "tok", F.sum(boundary).over(w).cast("long").alias("chunk_id")
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("fp"),
        F.count("*").alias("n_tokens"),
    )
    return (
        chunks.groupBy("fp")
        .agg(
            F.count("*").cast("long").alias("n_occ"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.min(F.col("doc_id") * 1000000 + F.col("chunk_id")).alias("keeper"),
            F.min("n_tokens").cast("long").alias("n_tokens"),
        )
        .withColumn("is_dup", F.col("n_occ") >= 2)
        .orderBy("fp")
    )


BPE_TOP_PAIRS = 50  #: pairs reported by the BPE training-step query


def ns_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE TRAINING step, distributed: corpus-weighted adjacent
    symbol-pair frequencies (Sennrich et al. 2016, the merge-selection
    statistic).

    The standard two-level scale shape: pair counting runs over the
    DISTINCT-word vocabulary weighted by word frequency (Zipf: the
    vocabulary is orders of magnitude smaller than the token stream),
    so the per-character explode touches |vocab|·avg_len rows, not the
    corpus.  Symbols are characters plus the ``</w>`` end-of-word
    marker; alphabetic words only (the BPE alphabet of this demo).
    Top pairs selected with a full deterministic tie-break
    (count DESC, pair lexicographic) so the reported SET is stable.
    """
    # session-shared token stream: no per-query corpus re-tokenize
    # (optimization r13, guide §1.2)
    words = (
        shared_token_stream(spark, sf_dir)
        .select(F.col("tok").alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
    )
    vocab = words.groupBy("w").agg(F.count("*").cast("long").alias("cnt"))
    sym_pairs = vocab.select(
        "cnt",
        F.explode(F.expr("sequence(1, length(w))")).alias("i"),
        F.col("w"),
    ).select(
        "cnt",
        F.expr("substring(w, i, 1)").alias("a"),
        F.when(
            F.col("i") < F.length("w"), F.expr("substring(w, i + 1, 1)")
        )
        .otherwise(F.lit("</w>"))
        .alias("b"),
    )
    counted = sym_pairs.groupBy("a", "b").agg(
        F.sum("cnt").cast("long").alias("pair_count")
    )
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("pair_count").desc(), F.col("a"), F.col("b"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= BPE_TOP_PAIRS)
        .orderBy("rank")
    )


CMSQ_ROWS = 4  #: count-min sketch depth (independent md5-salted rows)
CMSQ_WIDTH = 256  #: buckets per row
CMSQ_TOP = 20  #: report estimates for the exact top-k tokens


def ns_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, oracle-checked cell by
    cell: build a CMSQ_ROWS×CMSQ_WIDTH sketch over the token stream
    (md5-salted bucket per row — portable, unlike xxhash) and report
    est = min_r cell(r, bucket_r(tok)) next to the TRUE count for the
    exact top-CMSQ_TOP tokens.  est >= true always (CMS never
    under-counts); the gap IS the collision error a 100 TB deployment
    sizes its width against — this query is the calibration readout
    (the ``ns_minhash_calibration`` companion for frequency sketches).

    Scale shape: the sketch build is ONE map-side-combined aggregate
    down to ≤ ROWS·WIDTH cells regardless of corpus size; the exact
    top-k pass is the usual count + TakeOrdered; the probe joins each
    top token to its ROWS cells via a broadcast of the (tiny) sketch.

    The token source is the session-shared materialized ``token_stream``
    (optimization r13, guide §2.4): the sketch-cells branch and the
    exact-top-k branch each reference the stream, and Catalyst does not
    dedupe common subplans — reading ``shared_token_stream``'s blocks
    replaces TWO corpus tokenize+explode passes with zero (the one
    explode is charged to the session chain build, exactly like the
    other chain-backed families).  Token multiset is identical, so the
    cells, the top-k and the oracle hash are unchanged (measured
    1.79 s → 1.21 s at sf0.1).
    """
    from cassandra_extractor_spark.operators.dedup import _md5_hash64

    toks = shared_token_stream(spark, sf_dir).select("tok")

    def bucket(r: int) -> Column:
        return F.pmod(_md5_hash64(F.col("tok"), f"cms{r}"), F.lit(CMSQ_WIDTH))

    cells = (
        toks.select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(r).alias("r"), bucket(r).alias("b"))
                    for r in range(CMSQ_ROWS)
                ])
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
            F.array(*[
                F.struct(F.lit(r).alias("r"), bucket(r).alias("b"))
                for r in range(CMSQ_ROWS)
            ])
        ).alias("p"),
    ).select("tok", "true_n", "p.r", "p.b")
    return (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("tok", "true_n")
        .agg(F.min("cnt").alias("est_n"))
        .orderBy(F.col("true_n").desc(), "tok")
    )


BIGRAM_V_SMOOTH = True  #: add-one smoothing over the unigram vocabulary


def ns_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency under a bigram language model trained on
    the corpus itself (add-one smoothing): avg log P(w_i | w_{i-1})
    with P = (c(w1,w2)+1)/(c(w1)+V) — the cheap LM-scoring pass used
    to rank raw crawl text before an expensive model ever sees it
    (same family as ``ns_lm_fluency_bucket``, but a REAL conditional
    model, not a unigram product).

    Engine parity: each ln() term is truncated into DECIMAL(38,18)
    before summation, so the per-doc sum is order-independent; the
    single double division (sum/n) and round happen once at the end.

    Scale shape: bigram and unigram counts are map-side-combined
    aggregates over one exploded pass; scoring joins hash on the
    bigram key (both sides partitioned alike), so the corpus is read
    twice and shuffled twice — no per-doc loops, no driver state.
    """
    # session-shared token stream: the bigram frame (tok, nxt) and the
    # unigram counts both read the materialized blocks — no per-query
    # tokenize, and no per-query bigram checkpoint (the stream ckpt
    # plays that role for every reference; optimization r13, guide
    # §1.2)
    stream = shared_token_stream(spark, sf_dir)
    bg = stream.where(F.col("nxt").isNotNull()).select(
        "doc_id", F.col("tok").alias("w1"), F.col("nxt").alias("w2")
    )
    bg_counts = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    uni = (
        stream.select(F.col("tok").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").cast("long").alias("c1"))
    )
    vocab = uni.agg(F.count("*").cast("long").alias("v"))
    scored = (
        bg.join(bg_counts, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c12") + 1).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            )
            .cast("decimal(38,18)")
            .alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.sum("lp").cast("double") / F.count("*").cast("double"), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


HLL_BUCKET_BITS = 8  #: 2^8 = 256 HyperLogLog registers
HLL_BUCKETS = 1 << HLL_BUCKET_BITS
HLL_VALUE_BITS = 52  #: rank field width out of the 60-bit md5 hash
#: HLL bias constant for m = 256 (Flajolet et al. 2007, §4)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_BUCKETS)


def ns_hll_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate built EXACTLY from first
    principles — unlike ``q38_approx_distinct`` (Spark's built-in HLL,
    rows-only waiver) this one is bit-for-bit oracle-checkable because
    every register is deterministic md5 arithmetic and the harmonic
    mean is computed over EXACT integers: Σ 2^(52−M_j) instead of
    Σ 2^−M_j (scale by 2^52 and the dyadic floats become integers that
    a DECIMAL(38,0)/HUGEINT sum carries exactly; one double division
    at the very end).

    rho (leading-zero rank) is integer-only too: 53 − bitlength(v),
    with bitlength spelled as length(binary-string) on both engines —
    no log2() parity risk.

    Scale shape: one map-side-combined MAX per register (256 groups)
    — the canonical distributed-sketch merge; the register table then
    collapses to one row.  The exact count for the error readout is
    the usual COUNT(DISTINCT).
    """
    from cassandra_extractor_spark.operators.dedup import _md5_hash64

    # session-shared token stream: no per-query corpus re-tokenize
    # (optimization r13, guide §1.2)
    toks = shared_token_stream(spark, sf_dir).select("tok")
    h = _md5_hash64(F.col("tok"), "hll")
    bucket = F.pmod(h, F.lit(HLL_BUCKETS))
    v = F.expr(f"h div {HLL_BUCKETS}")  # upper 52 bits
    rho = F.when(
        F.col("v") > 0,
        F.lit(HLL_VALUE_BITS + 1) - F.length(F.conv(F.col("v").cast("string"), 10, 2)),
    ).otherwise(F.lit(HLL_VALUE_BITS + 1))
    regs = (
        toks.select(bucket.alias("bucket"), h.alias("h"))
        .withColumn("v", v)
        .select("bucket", rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("m"))
    )
    # registers never hit contribute 2^52 each (m=0 ⇒ 2^(52-0)); the
    # hit count comes out of the SAME single-row aggregate — a
    # driver-side regs.count() here would run the full token pipeline
    # twice (once at DataFrame-BUILD time!), as the code-review pass
    # caught; this is the in-engine device ns_hll_set_ops uses
    s = regs.agg(
        F.sum(
            F.pow(F.lit(2.0), (F.lit(HLL_VALUE_BITS) - F.col("m")).cast("double"))
            .cast("decimal(38,0)")
        ).alias("sp"),
        F.count("*").cast("long").alias("n_hit"),
    ).select(
        (
            F.coalesce("sp", F.lit(0).cast("decimal(38,0)"))
            + (F.lit(HLL_BUCKETS) - F.col("n_hit")).cast("decimal(38,0)")
            * F.lit(2 ** HLL_VALUE_BITS).cast("decimal(38,0)")
        ).alias("ssum"),
        "n_hit",
    )
    exact = toks.agg(F.countDistinct("tok").cast("long").alias("n_exact"))
    raw = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_BUCKETS))
        * F.lit(float(HLL_BUCKETS))
        * F.lit(float(2 ** HLL_VALUE_BITS))
        / F.col("ssum").cast("double")
    )
    # small-range (linear counting) correction, Flajolet §4: with few
    # distinct values most registers are zero and the raw harmonic
    # estimate overshoots badly; when est <= 2.5m, count zero registers
    # V and use m·ln(m/V) instead — both branch condition and ln run on
    # identical doubles, so the engines agree on correction and value
    zeros = F.lit(HLL_BUCKETS) - F.col("n_hit")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_BUCKETS)) & (zeros > 0),
        F.lit(float(HLL_BUCKETS))
        * F.log(F.lit(float(HLL_BUCKETS)) / zeros.cast("double")),
    ).otherwise(raw)
    return (
        s.crossJoin(exact)
        .select(
            F.lit(HLL_BUCKETS).cast("long").alias("m_registers"),
            "n_exact",
            F.round(est, 2).alias("hll_est"),
            F.round(est / F.col("n_exact").cast("double") - 1.0, 4).alias("rel_err"),
        )
    )


NOVELTY_N = 3  #: token n-gram order for novelty scoring


def ns_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty against everything that came before
    it (by doc_id): the crawl-ordering signal — a doc whose 3-grams
    have all been seen in earlier docs is boilerplate/duplication; a
    high-novelty doc carries new text.  Used to prioritize fresh
    content in incremental corpus builds.

    novelty = |distinct grams first seen in this doc| / |distinct
    grams in doc| — an exact rational, rounded in integer 1e-4 units
    (``divr_sql``; round(double) diverges at .5 boundaries).

    Scale shape (optimization r14): the distinct (doc, 3-gram) frame IS
    the shared dedup-chain shingle frame (``shared_shingles``: same
    ``tokens()``, same ``concat_ws(" ", …)`` over 3 consecutive tokens,
    same DISTINCT — value-identical by construction), so novelty reads
    the session blocks instead of re-running its own corpus
    tokenize+explode+dedup.  The first-owner MIN and the per-doc gram
    count are two independent aggregations over that frame, and the
    per-doc NOVEL count is a doc-keyed count over the first-owner
    output — the former gram-volume join-back (grams ⋈ first on gram)
    is gone: n_novel(doc) ≡ |{gram : min-owner(gram) = doc}|, a
    doc-sized aggregate of the first-owner frame.  Docs with
    < NOVELTY_N tokens have no grams and report NULL novelty via the
    left join.
    """
    from cassandra_extractor_spark.operators.dedup import shared_shingles
    from cassandra_extractor_spark.operators.relational import divr_sql

    d = load_table(spark, "documents", sf_dir)
    grams = shared_shingles(spark, sf_dir).select("doc_id", F.col("sh").alias("gram"))
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    n_by_doc = grams.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_grams"))
    novel_by_doc = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_novel")
    )
    per_doc = n_by_doc.join(novel_by_doc, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.expr(divr_sql("n_novel * 10000", "n_grams")).cast("double")
                / F.lit(10_000.0),
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


SPAN_MASK_PCT = 15  #: per-token corruption probability (percent)


def ns_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption statistics: each token position is
    masked with SPAN_MASK_PCT% probability (md5-derived per
    (doc, position) — deterministic, so the same example always masks
    the same spans across reruns and engines), and consecutive masked
    positions collapse into one sentinel span.  Reports per doc the
    token count, masked count, and SPAN count (maximal masked runs) —
    the numbers that size a denoising pretraining batch (inputs lose
    n_masked tokens, targets gain n_spans sentinels).

    A span START is a masked position whose predecessor is unmasked
    (or position 1) — evaluating the predecessor's mask re-derives the
    same md5, so the run structure is a pure per-row expression: no
    window, no shuffle beyond the final per-doc aggregate.
    """
    from cassandra_extractor_spark.operators.dedup import _md5_hash64

    d = load_table(spark, "documents", sf_dir)
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    pos = t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.explode(F.sequence(F.lit(1), F.size("toks"))).alias("i"),
    )

    def masked(icol):
        key = F.concat(
            F.col("doc_id").cast("string"), F.lit("#"), icol.cast("string")
        )
        return _md5_hash64(key, "span") % 100 < SPAN_MASK_PCT

    m = masked(F.col("i"))
    prev_m = (F.col("i") > 1) & masked(F.col("i") - 1)
    return (
        pos.select(
            "doc_id",
            "n_tokens",
            F.when(m, 1).otherwise(0).alias("is_masked"),
            F.when(m & ~prev_m, 1).otherwise(0).alias("is_start"),
        )
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.sum("is_masked").cast("long").alias("n_masked"),
            F.sum("is_start").cast("long").alias("n_spans"),
        )
        .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                "n_masked", "n_spans")
        .orderBy("doc_id")
    )


HLLU_A, HLLU_B = "en", "de"  #: the two sub-corpora whose sketches merge


def ns_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch set operations: HyperLogLog registers over the
    DISTINCT DOCUMENT TEXTS of two language sub-corpora, merged by
    register-wise MAX for the union estimate and inclusion-exclusion
    for the intersection (≈ cross-lingual duplicate mass) — THE
    property that makes sketches work on a cluster (partial registers
    merge associatively across 1000 executors exactly like across two
    languages; no re-scan of either side).  Exact distinct counts ride
    along for the error readout.  (Texts, not tokens: the synthetic
    corpus draws every language from ONE token vocabulary, which would
    make token sets degenerate.)

    Same exact-integer device as ``ns_hll_manual`` (harmonic sums as
    Σ 2^(52−M) integers, linear-counting small-range branch on shared
    doubles), evaluated for three register sets (A, B, max-merge) in
    ONE aggregate over the 256-bucket frame.

    Scale shape: one map-side-combined MAX per (lang, bucket) — ≤512
    cells regardless of corpus size — then single-row arithmetic; the
    exact counts are two count-distincts plus I-E, no extra join.
    """
    from cassandra_extractor_spark.operators.dedup import _md5_hash64

    d = load_table(spark, "documents", sf_dir).where(
        F.col("lang").isin(HLLU_A, HLLU_B)
    )
    toks = d.select("lang", F.col("text").alias("tok"))
    h = _md5_hash64(F.col("tok"), "hll")
    rho = F.when(
        F.col("v") > 0,
        F.lit(HLL_VALUE_BITS + 1)
        - F.length(F.conv(F.col("v").cast("string"), 10, 2)),
    ).otherwise(F.lit(HLL_VALUE_BITS + 1))
    regs = (
        toks.select(
            "lang",
            F.pmod(h, F.lit(HLL_BUCKETS)).alias("bucket"),
            h.alias("h"),
        )
        .withColumn("v", F.expr(f"h div {HLL_BUCKETS}"))
        .select("lang", "bucket", rho.alias("rho"))
        .groupBy("bucket")
        .agg(
            F.max(F.when(F.col("lang") == HLLU_A, F.col("rho"))).alias("ma"),
            F.max(F.when(F.col("lang") == HLLU_B, F.col("rho"))).alias("mb"),
        )
    )

    def sketch_stats(mcol, out):
        """(ssum_present, n_hit) for one register column."""
        p = F.pow(
            F.lit(2.0), (F.lit(HLL_VALUE_BITS) - F.col(mcol)).cast("double")
        ).cast("decimal(38,0)")
        return [
            F.sum(F.when(F.col(mcol).isNotNull(), p)).alias(f"s_{out}"),
            F.count(mcol).cast("long").alias(f"h_{out}"),
        ]

    merged = regs.withColumn("mu", F.greatest("ma", "mb"))
    stats = merged.agg(
        *sketch_stats("ma", "a"), *sketch_stats("mb", "b"), *sketch_stats("mu", "u")
    )
    exact = (
        toks.select("lang", "tok")
        .distinct()
        .agg(
            F.countDistinct(F.when(F.col("lang") == HLLU_A, F.col("tok")))
            .cast("long")
            .alias("x_a"),
            F.countDistinct(F.when(F.col("lang") == HLLU_B, F.col("tok")))
            .cast("long")
            .alias("x_b"),
            F.countDistinct("tok").cast("long").alias("x_u"),
        )
    )

    p52 = float(2 ** HLL_VALUE_BITS)

    def est(tag):
        ssum = (
            F.coalesce(F.col(f"s_{tag}"), F.lit(0).cast("decimal(38,0)"))
            + (F.lit(HLL_BUCKETS) - F.col(f"h_{tag}")).cast("decimal(38,0)")
            * F.lit(2 ** HLL_VALUE_BITS).cast("decimal(38,0)")
        )
        raw = (
            F.lit(HLL_ALPHA)
            * F.lit(float(HLL_BUCKETS))
            * F.lit(float(HLL_BUCKETS))
            * F.lit(p52)
            / ssum.cast("double")
        )
        zeros = F.lit(HLL_BUCKETS) - F.col(f"h_{tag}")
        return F.when(
            (raw <= F.lit(2.5 * HLL_BUCKETS)) & (zeros > 0),
            F.lit(float(HLL_BUCKETS))
            * F.log(F.lit(float(HLL_BUCKETS)) / zeros.cast("double")),
        ).otherwise(raw)

    ea, eb, eu = est("a"), est("b"), est("u")
    return stats.crossJoin(exact).select(
        F.col("x_a").alias("exact_a"),
        F.col("x_b").alias("exact_b"),
        F.col("x_u").alias("exact_union"),
        (F.col("x_a") + F.col("x_b") - F.col("x_u")).alias("exact_inter"),
        F.round(ea, 2).alias("est_a"),
        F.round(eb, 2).alias("est_b"),
        F.round(eu, 2).alias("est_union"),
        F.round(ea + eb - eu, 2).alias("est_inter"),
    )


def ns_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of the token distribution per source — the
    corpus-health index (1 − Σ nᵢ(nᵢ−1)/(N(N−1))): near 1 = rich
    vocabulary, near 0 = one token dominates (boilerplate / spam
    feeds).  An EXACT rational start to finish: integer type counts,
    DECIMAL(38,0) sums of nᵢ(nᵢ−1), divr_sql rounding (PARITY #7).

    Scale shape: per-(source, token) counts are map-side combined;
    the Σ nᵢ(nᵢ−1) reduction is a second map-side aggregate down to
    |sources| rows.  Two shuffles, both on uniform keys.
    """
    from cassandra_extractor_spark.operators.relational import divr_sql

    d = load_table(spark, "documents", sf_dir)
    tc = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("n_i"))
    )
    agg = tc.groupBy("source").agg(
        F.sum("n_i").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum((F.col("n_i") * (F.col("n_i") - 1)).cast("decimal(38,0)")).alias(
            "pairs"
        ),
    )
    prepped = agg.withColumn(
        "den",
        F.when(
            F.col("n_tokens") >= 2,
            F.col("n_tokens").cast("decimal(38,0)") * (F.col("n_tokens") - 1),
        ).otherwise(F.lit(1).cast("decimal(38,0)")),
    )
    return prepped.select(
        "source",
        "n_tokens",
        "n_types",
        F.when(
            F.col("n_tokens") >= 2,
            F.lit(1.0)
            - F.expr(divr_sql("pairs * 1000000", "den")).cast("double")
            / F.lit(1_000_000.0),
        ).alias("simpson"),
    ).orderBy("source")


ZIPF_TOP = 100  #: frequency ranks used for the log-log fit


def ns_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus token distribution: least-squares
    slope/intercept of ln(freq) on ln(rank) over the top-ZIPF_TOP
    ranks — natural text sits near slope −1, and a corpus that
    doesn't is machine-generated, templated, or broken (the
    distribution-shape audit next to `ns_entropy`).

    The rank table is a TakeOrderedAndProject over the vocabulary
    aggregate (deterministic ties: count DESC, token ASC); the four
    regression sums accumulate in DECIMAL(38,18) (order-independent
    ln folds), and slope/intercept are deterministic double formulas
    (rational-over-sqrt-free, but built from irrational ln terms —
    round-safe per PARITY #7).
    """
    from pyspark.sql import Window as W

    # session-shared token stream: no per-query corpus re-tokenize
    # (optimization r13, guide §1.2)
    vocab = (
        shared_token_stream(spark, sf_dir)
        .select("tok")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(ZIPF_TOP)
    )
    w = W.orderBy(F.col("n").desc(), F.col("tok"))
    xy = vocab.withColumn("rank", F.row_number().over(w)).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("x").cast("decimal(38,18)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,18)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,18)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)")).alias("sxx"),
    )
    kd = F.col("k").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    det = kd * sxxd - sxd * sxd
    slope = (kd * sxyd - sxd * syd) / det
    intercept = (syd - slope * sxd) / kd
    # + 0.0 normalizes SIGNED ZERO: a slope that is exactly 0 in real
    # arithmetic emerges as ±1e-18 from the engine-asymmetric decimal
    # casts (PARITY #9) and rounds to -0.0 on one engine, +0.0 on the
    # other (found by the differential harness on two equal-count
    # tokens); IEEE -0.0 + 0.0 = +0.0 on both
    return agg.select(
        F.col("k").alias("n_terms"),
        F.when(F.col("k") >= 2, F.round(slope, 6) + F.lit(0.0)).alias(
            "zipf_slope"
        ),
        F.when(F.col("k") >= 2, F.round(intercept, 6) + F.lit(0.0)).alias(
            "zipf_intercept"
        ),
    )


def ns_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-efficiency audit per language: chars per whitespace
    token, chars per BPE-ish pre-token, and fertility (pre-tokens per
    whitespace token), each as exact integer ppm — the standard table
    for deciding whether a tokenizer under- or over-segments a
    language before committing a 100 TB tokenization run.

    One corpus scan; per-doc token counts are codegen regexp/split
    expressions (the exact ``ns_token_count`` spellings), and the
    per-lang reduction is a single map-side-combined groupBy down to
    |langs| rows.  All ratios are integer division — engine-exact.
    """
    d = load_table(spark, "documents", sf_dir).select(
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(tokens(F.col("text"))).cast("long").alias("ws"),
        F.regexp_count(F.col("text"), F.lit(BPE_PATTERN)).cast("long").alias("bpe"),
    )
    g = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
    )
    def _ppm(num: str, den: str) -> Column:
        return (
            F.when(F.col(den) == 0, F.lit(0))
            .otherwise(F.expr(f"div(1000000 * {num}, {den})"))
            .cast("long")
        )

    return g.select(
        "lang",
        "n_docs",
        "chars",
        "ws_tokens",
        "bpe_tokens",
        _ppm("chars", "ws_tokens").alias("chars_per_ws_ppm"),
        _ppm("chars", "bpe_tokens").alias("chars_per_bpe_ppm"),
        _ppm("bpe_tokens", "ws_tokens").alias("fertility_ppm"),
    ).orderBy("lang")


#: conjunctive retrieval demo query — terms present at every test SF
BOOL_QUERY = ("join", "scan", "merge")


def ns_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) boolean retrieval over the token inverted
    index: documents containing EVERY query term, with the total query
    term frequency and the scarcest-term count (the classic
    band-merge statistic a ranked retriever feeds into scoring; BM25 —
    ``ns_bm25`` — is the ranked sibling).

    Scale shape: the posting-list build is explode → filter to the
    |query| terms — the filter runs INSIDE the explode stage, so only
    matching postings ever reach the shuffle; the per-(doc, term)
    aggregation is map-side combined; the AND is ``COUNT(DISTINCT
    term) = |query|`` on a frame already reduced to ≤ |docs|·|query|
    rows.  At 100 TB the same plan reads a pre-materialized posting
    store partitioned by term instead of re-exploding, but the
    operator contract is unchanged.  Pure integers.

    Reference parity: the reference's only search surface is the Solr
    pushdown string (`ref:datacrawler.py:138-151`); this is the
    engine-side equivalent for corpora without a search backend.
    """
    # session-shared token stream: no per-query corpus re-tokenize
    # (optimization r13, guide §1.2)
    postings = (
        shared_token_stream(spark, sf_dir)
        .select("doc_id", "tok")
        .where(F.col("tok").isin(*BOOL_QUERY))
    )
    per_term = postings.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("tf")
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("tf").cast("long").alias("tf_total"),
            F.min("tf").cast("long").alias("tf_min"),
        )
        .where(F.col("n_terms") == len(BOOL_QUERY))
        .select("doc_id", "tf_total", "tf_min")
        .orderBy("doc_id")
    )


OUTLIER_MAD_MULT = 3  #: |x − median| > mult·MAD flags an outlier


def ns_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust length-outlier audit: exact lower-median and
    MAD (median absolute deviation) of ``n_chars``, plus how many
    documents sit more than 3·MAD from the median — the robust
    quality gate that survives the heavy-tailed length distributions
    where mean/stddev (``ns_corpus_stats``) get dragged by a single
    pathological document.

    EXACT medians without a per-source corpus sort: lengths are
    aggregated to a (source, n_chars) count frame in one map-side-
    combined corpus pass; the lower median (smallest v with
    2·cum(v) ≥ n — identical convention spelled identically in the
    oracle) is a prefix-sum window over that DOMAIN-BOUNDED frame
    (≤ |length domain| rows per source, independent of corpus size);
    the deviation distribution is derived from the SAME count frame
    (|v − med| with count c), so the MAD and the outlier count never
    touch the corpus again.  One corpus pass total; every window is
    post-aggregate (the q116/q101 plan-guard discipline).
    """
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir).select(
        "source", F.col("n_chars").cast("long").alias("v")
    )
    # one corpus pass; localCheckpoint because everything below
    # references this tiny domain-bounded frame repeatedly (lazy, the
    # corpus aggregate would re-run once per reference)
    cnt = (
        d.groupBy("source", "v").agg(F.count("*").cast("long").alias("c"))
    ).localCheckpoint(eager=True)
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))

    def lower_median(counts: DataFrame, out: str) -> DataFrame:
        w = W.partitionBy("source").orderBy("v")
        cum = counts.withColumn("cum", F.sum("c").over(w))
        return (
            cum.join(F.broadcast(tot), "source")
            .where(F.col("cum") * 2 >= F.col("n"))
            .groupBy("source")
            .agg(F.min("v").alias(out))
        )

    med = lower_median(cnt, "med_chars")
    devc = (
        cnt.join(F.broadcast(med), "source")
        .select("source", F.abs(F.col("v") - F.col("med_chars")).alias("v"), "c")
        .groupBy("source", "v")
        .agg(F.sum("c").alias("c"))
    )
    mad = lower_median(devc, "mad_chars")
    out = (
        devc.join(F.broadcast(mad), "source")
        .where(F.col("v") > F.lit(OUTLIER_MAD_MULT) * F.col("mad_chars"))
        .groupBy("source")
        .agg(F.sum("c").alias("n_outliers"))
    )
    return (
        tot.join(med, "source")
        .join(mad, "source")
        .join(out, "source", "left")
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            "med_chars",
            "mad_chars",
            F.coalesce(F.col("n_outliers"), F.lit(0)).cast("long").alias("n_outliers"),
        )
        .orderBy("source")
    )


def ns_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: cumulative distinct-token
    count after each 10% slice of the corpus (by doc_id order) — the
    diminishing-returns report behind "will more crawl data still grow
    the vocabulary?" and tokenizer-budget decisions (pairs with
    ``ns_zipf_fit``, the frequency-side law, and ``ns_vocab_oov``, the
    fixed-vocabulary consequence).

    The naive spelling runs ten distinct-counts over ten growing
    prefixes (ten corpus passes).  This one is ONE pass: the cumulative
    vocabulary at prefix P is |{tokens whose FIRST-occurrence doc ≤ P}|,
    so min(doc_id) per token (a map-side-combined aggregate over the
    session-shared token stream) carries the whole curve; slicing and
    the running sum happen on the ≤10-row decile frame.  Pure integers.
    """
    stream = shared_token_stream(spark, sf_dir)
    # empty text tokenizes to [''] — not vocabulary (mirrored in the oracle)
    first = (
        stream.where(F.col("tok") != "").groupBy("tok").agg(F.min("doc_id").alias("fd"))
    )
    # decile boundary by doc-id DOMAIN (testdata ids are dense; the
    # contract is "first 10%, 20%, … of the corpus in doc_id order")
    max_doc = load_table(spark, "documents", sf_dir).agg(
        F.max("doc_id").alias("mx")
    )
    from pyspark.sql import Window as W

    per_decile = (
        first.crossJoin(F.broadcast(max_doc))
        .select(
            F.least(F.lit(9), F.expr("div(fd * 10, mx + 1)")).cast("long").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("new_tokens"))
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        per_decile.withColumn("cum_vocab", F.sum("new_tokens").over(w).cast("long"))
        .select("decile", "new_tokens", "cum_vocab")
        .orderBy("decile")
    )
