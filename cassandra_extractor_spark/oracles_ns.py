"""DuckDB oracle SQL for the north-star operators (dedup, similarity,
text analysis, multimodal, extraction pipeline).

Every expression mirrors the Spark builders' arithmetic *operation by
operation* (same fold order, same md5-derived hashes, same rounding
points) so results are bit-identical.  MinHash/SimHash SQL is generated
programmatically from the same constants the Spark side uses.
"""

from __future__ import annotations

from cassandra_extractor_spark.operators.dedup import (
    BANDS,
    DECON_NGRAM,
    EVAL_DOCS,
    HAMMING_MAX,
    N_SEM_CELLS,
    NUM_PERM,
    PREFIX_JAC_DEN,
    PREFIX_JAC_NUM,
    SEM_TAU,
    SIMHASH_BITS,
    SIMHASH_CHUNKS,
)
from cassandra_extractor_spark.operators.similarity import (
    IVF_PROBES,
    N_IVF_CENTROIDS,
    N_KMEANS,
    N_QUERIES,
    TOP_K,
)
from cassandra_extractor_spark.operators.extraction import SEQ_BUDGET
from cassandra_extractor_spark.operators.text import EN_STOPWORDS, LANG_MARKERS

#: DuckDB spelling of the shared tokenizer
WS_SQL = r' \t\n\x0b\f\r'  #: mirrors text.WS (explicit, engine-portable)
# trim(x, ' ') NOT trim(x): DuckDB's 1-arg trim strips Unicode spaces
# (NBSP!) while Spark's F.trim strips only 0x20
TOKS = rf"string_split_regex(trim(lower(text), ' '), '[{WS_SQL}]+')"
TOKSD = f"list_distinct({TOKS})"

#: DuckDB spelling of the portable 60-bit md5 hash with salt prefix
def _hash_sql(expr: str, salt: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('{salt}|', {expr})), 1, 15)) AS BIGINT)"
    )


#: sequential-fold double cosine (bit-identical to Spark's aggregate/zip_with)
def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]), "
        "(x, y) -> x + y)"
    )


def _cosine_defined_sql(v: str) -> str:
    """True where vector ``v`` has a cosine, as ``dedup.cosine_defined``
    decides on the Spark side: its squared norm is positive and not NaN.
    DuckDB, like Spark, orders NaN above every number, so ``> 0`` alone
    keeps a vector with a NaN component."""
    d = _dot_sql(v, v)
    return f"({d} > 0 AND NOT isnan({d}))"


def _cos_sql(a: str, b: str) -> str:
    return f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_NORM = (
    r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), "
    r"'\s+', ' ', 'g'))"
)
FP = f"substr(md5({_NORM}), 1, 16)"


def _lang_id_sql() -> str:
    scores = {
        lang: f"len(list_intersect({TOKSD}, {_sql_list(words)}))"
        for lang, words in LANG_MARKERS.items()
    }
    mx = "greatest(" + ", ".join(scores.values()) + ")"
    whens = " ".join(
        f"WHEN {scores[lang]} = mx THEN '{lang}'" for lang in LANG_MARKERS
    )
    return (
        f"WITH s AS (SELECT doc_id, {mx} AS mx, "
        + ", ".join(f"{v} AS s_{k}" for k, v in scores.items())
        + " FROM documents) "
        "SELECT doc_id, CASE WHEN mx = 0 THEN 'und' "
        + " ".join(f"WHEN s_{lang} = mx THEN '{lang}'" for lang in LANG_MARKERS)
        + " ELSE 'und' END AS pred_lang FROM s ORDER BY doc_id"
    )


#: DuckDB spelling of distinct 3-word shingles over a `toks` column
SHINGLES = (
    "list_distinct(list_transform(range(len(toks) - 2), "
    "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))"
)
#: docs CTE with shingles, short docs (<3 tokens, empty shingle set) excluded
_DOCS_SH = (
    f"docs AS (SELECT doc_id, {SHINGLES} AS sh FROM "
    f"(SELECT doc_id, {TOKS} AS toks FROM documents) WHERE len(toks) >= 3)"
)


def _minhash_sql() -> str:
    from cassandra_extractor_spark.operators.dedup import MH_MOD

    rows_per_band = NUM_PERM // BANDS
    # Kirsch-Mitzenmacher double hashing, mirroring dedup._mh_perm:
    # one md5 per shingle → 40-bit halves (h1, h2) → g_s = (h1 + s·h2)
    # mod 2^40 (both operands non-negative, so % == Spark's pmod)
    sig_cols = ", ".join(
        f"MIN((h1 + {s} * h2) % {MH_MOD}) AS mh{s}" for s in range(NUM_PERM)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat({parts}) AS sig FROM sig".format(
            b=b,
            parts=", ',', ".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(BANDS)
    )
    return (
        f"WITH {_DOCS_SH}, "
        "hashed AS (SELECT doc_id, "
        "CAST(concat('0x', substr(md5(t), 1, 10)) AS BIGINT) AS h1, "
        "CAST(concat('0x', substr(md5(t), 11, 10)) AS BIGINT) AS h2 "
        "FROM (SELECT doc_id, unnest(sh) AS t FROM docs)), "
        f"sig AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id), "
        f"bands AS ({band_selects}) "
        "SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a "
        "JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id "
        "ORDER BY d1, d2"
    )


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, sh, {c} AS chunk, (sh >> {c * 8}) & 255 AS val FROM sig"
        for c in range(SIMHASH_CHUNKS)
    )
    return (
        f"WITH {_DOCS_SH}, "
        "tok AS (SELECT doc_id, unnest(sh) AS t FROM docs), "
        f"h AS (SELECT doc_id, {_hash_sql('t', 'sh')} AS hv FROM tok), "
        f"votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {sig} AS sh FROM votes), "
        f"chunks AS ({chunk_selects}) "
        "SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, "
        "CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS ham "
        "FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.val = b.val "
        f"AND a.doc_id < b.doc_id WHERE ham <= {HAMMING_MAX} ORDER BY d1, d2"
    )


NS_ORACLES: dict[str, str] = {
    "ns_token_count": (
        "SELECT doc_id, "
        f"CAST(len({TOKS}) AS BIGINT) AS ws_tokens, "
        r"CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0b\f\r]')) "
        "AS BIGINT) AS bpe_tokens FROM documents ORDER BY doc_id"
    ),
    "ns_doc_fingerprint": (
        f"SELECT doc_id, {FP} AS fp FROM documents ORDER BY doc_id"
    ),
    "ns_tfidf": (
        f"WITH terms AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents), "
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term), "
        "dfreq AS (SELECT term, COUNT(*) AS df FROM "
        "(SELECT DISTINCT doc_id, term FROM terms) GROUP BY term), "
        "scored AS (SELECT doc_id, term, "
        "round(CAST(tf AS DOUBLE) * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) "
        "/ CAST(df AS DOUBLE)), 6) AS tfidf "
        "FROM tf JOIN dfreq USING (term) WHERE doc_id < 100) "
        "SELECT doc_id, term, tfidf, rnk FROM (SELECT doc_id, term, tfidf, "
        "ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk "
        "FROM scored) WHERE rnk <= 3 ORDER BY doc_id, rnk"
    ),
    "ns_lang_id": _lang_id_sql(),
    "ns_ngram_pmi": (
        f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
        "uni AS (SELECT unnest(toks) AS w FROM t), "
        "bi AS (SELECT unnest(list_transform(range(len(toks) - 1), "
        "i -> concat(toks[i+1], ' ', toks[i+2]))) AS bg FROM t WHERE len(toks) >= 2), "
        "bg_counts AS (SELECT bg, COUNT(*) AS c_xy FROM bi GROUP BY bg HAVING COUNT(*) >= 5), "
        "uni_counts AS (SELECT w, COUNT(*) AS c_x FROM uni GROUP BY w), "
        "nums AS (SELECT (SELECT COUNT(*) FROM bi) AS n_bi, (SELECT COUNT(*) FROM uni) AS n_uni) "
        "SELECT split_part(bg, ' ', 1) AS w, split_part(bg, ' ', 2) AS w2, c_xy, "
        "round(ln((CAST(c_xy AS DOUBLE) / CAST(n_bi AS DOUBLE)) / "
        "((CAST(u1.c_x AS DOUBLE) / CAST(n_uni AS DOUBLE)) * "
        "(CAST(u2.c_x AS DOUBLE) / CAST(n_uni AS DOUBLE)))), 6) AS pmi "
        "FROM bg_counts, nums "
        "JOIN uni_counts u1 ON u1.w = split_part(bg, ' ', 1) "
        "JOIN uni_counts u2 ON u2.w = split_part(bg, ' ', 2) "
        "ORDER BY pmi DESC, w, w2 LIMIT 100"
    ),
    "ns_pii_scrub": (
        "WITH d AS (SELECT doc_id, "
        "concat(text, ' user', doc_id, '@example.com see http://t.co/x', doc_id, "
        "' id 1234567890') AS dirty FROM documents), "
        "c AS (SELECT doc_id, dirty, regexp_replace(regexp_replace(regexp_replace("
        "dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
        "'https?://[^ \\t\\n\\x0b\\f\\r]+', '<URL>', 'g'), '[0-9]{7,}', '<NUM>', 'g') AS clean FROM d) "
        "SELECT doc_id, "
        "CAST(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS emails_before, "
        "CAST(len(regexp_extract_all(clean, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS emails_after, "
        "CAST(len(regexp_extract_all(clean, 'https?://[^ \\t\\n\\x0b\\f\\r]+')) AS BIGINT) AS urls_after, "
        "md5(clean) AS clean_md5 FROM c ORDER BY doc_id"
    ),
    "ns_text_quality": (
        "WITH q AS (SELECT doc_id, "
        f"CAST(len({TOKS}) AS DOUBLE) AS n_tok, "
        f"CAST(len(list_intersect({TOKSD}, {_sql_list(EN_STOPWORDS)})) AS DOUBLE) "
        "AS stop_hits, "
        f"CAST(len({TOKSD}) AS DOUBLE) AS n_distinct, "
        "CAST(length(text) AS DOUBLE) AS n_ch, "
        "CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct "
        "FROM documents) "
        "SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, "
        "round(stop_hits / n_distinct, 6) AS stop_ratio, "
        "round(0.4 * (stop_hits / n_distinct) + 0.3 * least(1.0, n_tok / 100.0) "
        "+ 0.3 * (1.0 - CASE WHEN n_ch > 0 THEN n_punct / n_ch ELSE 0.0 END), 6) AS quality "
        "FROM q ORDER BY doc_id"
    ),
    "ns_dedup_exact": (
        "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt FROM documents "
        "GROUP BY text ORDER BY keep_id"
    ),
    "ns_dedup_fingerprint": (
        f"WITH f AS (SELECT doc_id, {FP} AS fp FROM documents) "
        "SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt FROM f "
        "GROUP BY fp ORDER BY keep_id"
    ),
    "ns_dedup_prefix_jaccard": (
        # lossless prefix filtering => the oracle is the PLAIN exact
        # spelling; only the doc window differs from ns_dedup_jaccard
        f"WITH docs AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id < 500), "
        "sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN "
        "list_transform(range(len(toks) - 2), "
        "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) "
        "ELSE [] END)) AS sh FROM docs), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i FROM sh a "
        "JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT d1, d2, round(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) "
        "AS jac FROM inter JOIN sizes sa ON sa.doc_id = d1 "
        "JOIN sizes sb ON sb.doc_id = d2 "
        # exact integer threshold derived from PREFIX_JAC_T
        # ((p+q)·i >= p·(n1+n2) <=> true jac >= p/q); round() is
        # display-only — mirrors the Spark operator
        f"WHERE {PREFIX_JAC_NUM + PREFIX_JAC_DEN} * i >= "
        f"{PREFIX_JAC_NUM} * (sa.n + sb.n) "
        "ORDER BY d1, d2"
    ),
    "ns_dedup_jaccard": (
        f"WITH docs AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id < 200), "
        "sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN "
        "list_transform(range(len(toks) - 2), "
        "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) "
        "ELSE [] END)) AS sh FROM docs), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i FROM sh a "
        "JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT d1, d2, round(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) "
        "AS jac FROM inter JOIN sizes sa ON sa.doc_id = d1 "
        "JOIN sizes sb ON sb.doc_id = d2 "
        "WHERE round(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) >= 0.5 "
        "ORDER BY d1, d2"
    ),
    "ns_dedup_containment": (
        f"WITH docs AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id < 200), "
        "sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN "
        "list_transform(range(len(toks) - 2), "
        "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) "
        "ELSE [] END)) AS sh FROM docs), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i FROM sh a "
        "JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT d1, d2, round(greatest(CAST(i AS DOUBLE) / sa.n, "
        "CAST(i AS DOUBLE) / sb.n), 6) AS cont "
        "FROM inter JOIN sizes sa ON sa.doc_id = d1 "
        "JOIN sizes sb ON sb.doc_id = d2 "
        "WHERE round(greatest(CAST(i AS DOUBLE) / sa.n, "
        "CAST(i AS DOUBLE) / sb.n), 6) >= 0.8 ORDER BY d1, d2"
    ),
    "ns_dedup_minhash_lsh": _minhash_sql(),
    # connected components over the MinHash candidate graph via
    # transitive closure; MIN(reachable) == the Spark side's min-label
    # propagation fixed point
    "ns_dedup_clusters": (
        f"WITH RECURSIVE mh AS ({_minhash_sql()}), "
        "edges AS (SELECT d1 AS src, d2 AS dst FROM mh "
        "UNION ALL SELECT d2, d1 FROM mh), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "reach(node, r) AS (SELECT node, node FROM nodes "
        "UNION SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node) "
        "SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node "
        "ORDER BY doc_id"
    ),
    "ns_dedup_simhash": _simhash_sql(),
    "ns_neardup_embedding": (
        # zero-norm vectors excluded on both engines (divergence #4)
        "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        "FROM embeddings WHERE vec_id < 300), "
        f"e AS (SELECT * FROM e0 WHERE {_cosine_defined_sql('emb')}), "
        "p AS (SELECT a.vec_id AS v1, b.vec_id AS v2, "
        f"round({_cos_sql('a.emb', 'b.emb')}, 6) AS cos "
        "FROM e a JOIN e b ON a.vec_id < b.vec_id) "
        "SELECT v1, v2, cos FROM p WHERE cos >= 0.8 ORDER BY v1, v2"
    ),
    "ns_hard_negatives": (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label "
        f"FROM embeddings WHERE {_cosine_defined_sql('CAST(embedding AS DOUBLE[])')}), "
        f"q AS (SELECT vec_id AS q_id, emb AS q_emb, label AS q_label FROM e "
        f"WHERE vec_id < {N_QUERIES}), "
        f"c AS (SELECT vec_id AS n_id, emb AS n_emb, label AS n_label FROM e "
        f"WHERE vec_id >= {N_QUERIES}), "
        "scored AS (SELECT q_id, q_label, n_id, n_label, "
        f"round({_cos_sql('q_emb', 'n_emb')}, 6) AS cos FROM c, q), "
        "neg AS (SELECT q_id, n_id, cos, n_label, ROW_NUMBER() OVER "
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored "
        "WHERE n_label <> q_label), "
        "pos AS (SELECT q_id, n_id, cos, n_label, ROW_NUMBER() OVER "
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored "
        "WHERE n_label = q_label) "
        "SELECT q_id, CAST(0 AS BIGINT) AS rank, n_id, cos, "
        "CAST(n_label AS BIGINT) AS n_label FROM pos WHERE rank = 1 "
        "UNION ALL "
        "SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, cos, "
        "CAST(n_label AS BIGINT) AS n_label FROM neg WHERE rank <= 3 "
        "ORDER BY q_id, rank"
    ),
    "ns_ann_cosine_topk": (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
        f"q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES} "
        f"AND {_cosine_defined_sql('emb')}), "
        f"c AS (SELECT vec_id AS n_id, emb AS n_emb FROM e WHERE vec_id >= {N_QUERIES} "
        f"AND {_cosine_defined_sql('emb')}), "
        "scored AS (SELECT q_id, n_id, "
        f"round({_cos_sql('q_emb', 'n_emb')}, 6) AS cos FROM c, q), "
        "ranked AS (SELECT q_id, n_id, cos, ROW_NUMBER() OVER "
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored) "
        f"SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= {TOP_K} "
        "ORDER BY q_id, rank"
    ),
    "ns_ann_ivf": (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings "
        f"WHERE {_cosine_defined_sql('CAST(embedding AS DOUBLE[])')}), "
        f"cent AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id >= {N_QUERIES} "
        f"AND vec_id < {N_QUERIES + N_IVF_CENTROIDS}), "
        f"corpus AS (SELECT vec_id AS n_id, emb AS n_emb FROM e WHERE vec_id >= {N_QUERIES}), "
        f"q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}), "
        "ccell AS (SELECT n_id, c_id FROM (SELECT n_id, c_id, ROW_NUMBER() OVER "
        "(PARTITION BY n_id ORDER BY csim DESC, c_id) AS crank FROM "
        f"(SELECT n_id, c_id, {_cos_sql('n_emb', 'c_emb')} AS csim FROM corpus, cent)) "
        "WHERE crank <= 1), "
        "qcell AS (SELECT q_id, c_id FROM (SELECT q_id, c_id, ROW_NUMBER() OVER "
        "(PARTITION BY q_id ORDER BY csim DESC, c_id) AS crank FROM "
        f"(SELECT q_id, c_id, {_cos_sql('q_emb', 'c_emb')} AS csim FROM q, cent)) "
        f"WHERE crank <= {IVF_PROBES}), "
        "scored AS (SELECT q_id, n_id, "
        f"round({_cos_sql('q_emb', 'n_emb')}, 6) AS cos "
        "FROM corpus JOIN ccell USING (n_id) JOIN qcell USING (c_id) "
        "JOIN q USING (q_id)) "
        "SELECT q_id, n_id, cos, rank FROM (SELECT q_id, n_id, cos, ROW_NUMBER() "
        "OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM scored) "
        f"WHERE rank <= {TOP_K} ORDER BY q_id, rank"
    ),
    # same per-element op order: scale = max(|v|)/127, q = round(v/scale),
    # mae = fold(|q*scale - v|)/n
    "ns_embedding_quantize": (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
        "s AS (SELECT vec_id, emb, "
        "list_max(list_transform(emb, v -> abs(v))) / 127.0 AS scale FROM e) "
        "SELECT vec_id, round(scale, 8) AS scale, "
        "CASE WHEN scale = 0 THEN 0.0 ELSE "
        "round(list_reduce(list_transform(emb, v -> abs(round(v / scale, 0) * scale - v)), "
        "(x, y) -> x + y) / CAST(len(emb) AS DOUBLE), 8) END AS mae "
        "FROM s ORDER BY vec_id"
    ),
    "ns_multimodal_meta": (
        "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, "
        "md5(text) AS content_md5 FROM documents ORDER BY doc_id"
    ),
    "ns_tablespec_pipeline": (
        "SELECT event_id AS id, epoch_ms(ts) AS ts_ms, event_type, value, "
        "CAST(props->>'$.k' AS BIGINT) AS props_k FROM events ORDER BY id"
    ),
    # flagship corpus selection: quality gate + near-dup keep-list,
    # composed from the ns_text_quality and ns_dedup_clusters oracles
    "ns_corpus_select": "",  # filled in below (needs other entries)
    # same lag/cumsum window formulation as streaming/stateful.sessionize
    "ns_sessionize": (
        "WITH t AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events), "
        "flagged AS (SELECT user_id, event_id, ts_ms, CASE WHEN lag(ts_ms) OVER w "
        "IS NULL OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_new "
        "FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)), "
        "s AS (SELECT user_id, ts_ms, SUM(is_new) OVER "
        "(PARTITION BY user_id ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS session_id FROM flagged) "
        "SELECT user_id, MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms, "
        "COUNT(*) AS n_events FROM s GROUP BY user_id, session_id "
        "ORDER BY user_id, session_start_ms"
    ),
    # deterministic hash-gated sampling (sampling.py): same portable
    # md5 hash, so both engines pick the identical row set
    "ns_sample_uniform": (
        "SELECT doc_id FROM documents WHERE "
        + _hash_sql("CAST(doc_id AS VARCHAR)", "smp")
        + " % 1000 < 100 ORDER BY doc_id"
    ),
    "ns_split_assign": (
        "WITH h AS (SELECT "
        + _hash_sql("CAST(doc_id AS VARCHAR)", "split")
        + " % 1000 AS hv FROM documents) "
        "SELECT CASE WHEN hv < 900 THEN 'train' WHEN hv < 950 THEN 'val' "
        "ELSE 'test' END AS split, COUNT(*) AS n FROM h "
        "GROUP BY 1 ORDER BY split"
    ),
    "ns_sample_stratified": (
        "SELECT event_type, COUNT(*) AS n_sampled FROM events WHERE "
        + _hash_sql("CAST(event_id AS VARCHAR)", "strat")
        + " % 1000 < CASE WHEN event_type = 'click' THEN 200 ELSE 50 END "
        "GROUP BY event_type ORDER BY event_type"
    ),
}


def _corpus_select_sql() -> str:
    cluster_core = (
        f"edges AS (SELECT d1 AS src, d2 AS dst FROM mh "
        "UNION ALL SELECT d2, d1 FROM mh), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "reach(node, r) AS (SELECT node, node FROM nodes "
        "UNION SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node), "
        "clusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node), "
        "dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)"
    )
    return (
        f"WITH RECURSIVE mh AS ({_minhash_sql()}), {cluster_core}, "
        f"qual AS ({NS_ORACLES['ns_text_quality']}) "
        "SELECT doc_id, n_tokens, quality FROM qual "
        "WHERE quality >= 0.5 AND n_tokens >= 50 "
        "AND doc_id NOT IN (SELECT doc_id FROM dropped) ORDER BY doc_id"
    )


NS_ORACLES["ns_corpus_select"] = _corpus_select_sql()

NS_ORACLES["ns_top_terms"] = (
    f"WITH u AS (SELECT unnest({TOKS}) AS term FROM documents) "
    "SELECT term, COUNT(*) AS n FROM u "
    "GROUP BY term ORDER BY n DESC, term LIMIT 50"
)

NS_ORACLES["ns_doc_chunk"] = (
    f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id <= 200), "
    "u AS (SELECT doc_id, toks, "
    "unnest(generate_series(1, greatest(len(toks), 1), 40)) AS s FROM t) "
    "SELECT doc_id, CAST((s - 1) // 40 + 1 AS BIGINT) AS chunk_idx, "
    "CAST(least(50, len(toks) - s + 1) AS BIGINT) AS n_chunk_tokens, "
    "array_to_string(list_slice(toks, s, s + 49), ' ') AS chunk_text "
    "FROM u ORDER BY doc_id, chunk_idx"
)

NS_ORACLES["ns_corpus_stats"] = (
    f"WITH q AS ({NS_ORACLES['ns_text_quality']}) "
    "SELECT d.source, d.lang, COUNT(*) AS n_docs, "
    "CAST(SUM(q.n_tokens) AS BIGINT) AS sum_tokens, "
    "CAST(ROUND(SUM(CAST(q.quality AS DECIMAL(18,6))), 6) AS DOUBLE) "
    "AS sum_quality "
    "FROM q JOIN documents d ON d.doc_id = q.doc_id "
    "GROUP BY d.source, d.lang ORDER BY d.source, d.lang"
)


def _decon_sql() -> str:
    n = DECON_NGRAM
    parts = ", ".join(f"toks[i+{j}]" for j in range(1, n + 1))
    return (
        f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
        f"g AS (SELECT doc_id, unnest(list_transform(range(len(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))) AS sh FROM t WHERE len(toks) >= {n}), "
        f"ev AS (SELECT DISTINCT sh FROM g WHERE doc_id < {EVAL_DOCS}), "
        f"tr AS (SELECT DISTINCT doc_id, sh FROM g WHERE doc_id >= {EVAL_DOCS}) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams "
        "FROM tr JOIN ev USING (sh) GROUP BY doc_id ORDER BY doc_id"
    )


NS_ORACLES["ns_decontaminate"] = _decon_sql()


NS_ORACLES["ns_repetition_filter"] = (
    f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
    "base AS (SELECT doc_id, len(toks) AS n_tokens, "
    "len(list_distinct(toks)) AS n_distinct FROM t), "
    "bg AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 1), "
    "i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS sh FROM t WHERE len(toks) >= 2), "
    "bgc AS (SELECT doc_id, sh, COUNT(*) AS c FROM bg GROUP BY doc_id, sh), "
    "tb AS (SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams "
    "FROM bgc GROUP BY doc_id), "
    "f AS (SELECT b.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, "
    "round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) "
    "AS dup_token_frac, "
    "round(COALESCE(CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0), 6) "
    "AS top_bigram_frac "
    "FROM base b LEFT JOIN tb USING (doc_id)) "
    "SELECT doc_id, n_tokens, dup_token_frac, top_bigram_frac, "
    "(dup_token_frac <= 0.7 AND top_bigram_frac <= 0.2) AS keep "
    "FROM f ORDER BY doc_id"
)

NS_ORACLES["ns_mixture_sample"] = (
    f"WITH d AS (SELECT doc_id, source, CAST(len({TOKS}) AS BIGINT) AS n_tokens "
    "FROM documents), "
    "per_src AS (SELECT source, SUM(n_tokens) AS src_tokens FROM d GROUP BY source), "
    "weights AS (SELECT source, src_tokens, "
    f"CAST(1 + {_hash_sql('source', 'mixw')} % 4 AS DOUBLE) AS w FROM per_src), "
    "totals AS (SELECT SUM(src_tokens) AS total_tokens, SUM(w) AS wsum FROM weights), "
    "rates AS (SELECT source, least(1.0, "
    "0.5 * CAST(total_tokens AS DOUBLE) * w / wsum / CAST(src_tokens AS DOUBLE)) "
    "AS rate FROM weights, totals), "
    "kept AS (SELECT d.* FROM d JOIN rates USING (source) WHERE "
    f"{_hash_sql('CAST(doc_id AS VARCHAR)', 'mix')} % 1000000 "
    "< CAST(floor(rate * 1000000) AS BIGINT)) "
    "SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens "
    "FROM kept GROUP BY source ORDER BY source"
)


def _sem_assign_sql(n_cells: int) -> str:
    """Shared CTE prefix: embeddings with norms + nearest-centroid cell."""
    return (
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
        # zero-norm vectors excluded on both engines (divergence #4)
        f"n AS (SELECT vec_id, emb, sqrt({_dot_sql('emb', 'emb')}) AS nrm "
        f"FROM e WHERE {_cosine_defined_sql('emb')}), "
        f"cent AS (SELECT vec_id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n "
        f"WHERE vec_id < {n_cells}), "
        "assigned AS (SELECT vec_id, emb, nrm, c_id FROM ("
        "SELECT vec_id, emb, nrm, c_id, ROW_NUMBER() OVER "
        "(PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crank FROM "
        f"(SELECT vec_id, emb, nrm, c_id, {_dot_sql('emb', 'c_emb')} / (nrm * c_nrm) "
        "AS csim FROM n, cent)) WHERE crank = 1)"
    )


NS_ORACLES["ns_semantic_dedup"] = (
    "WITH " + _sem_assign_sql(N_SEM_CELLS) + ", "
    "dropped AS (SELECT DISTINCT b.vec_id FROM assigned a JOIN assigned b "
    "ON a.c_id = b.c_id AND a.vec_id < b.vec_id "
    f"WHERE round({_dot_sql('a.emb', 'b.emb')} / (a.nrm * b.nrm), 6) >= {SEM_TAU}) "
    "SELECT a.vec_id, a.c_id, (d.vec_id IS NOT NULL) AS dropped "
    "FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id ORDER BY a.vec_id"
)

NS_ORACLES["ns_kmeans_step"] = (
    "WITH " + _sem_assign_sql(N_KMEANS) + ", "
    "dv AS (SELECT c_id AS cluster_id, unnest(list_transform(range(len(emb)), "
    "i -> struct_pack(dim := i, val := emb[i + 1]))) AS s FROM assigned), "
    "per_dim AS (SELECT cluster_id, s.dim AS dim, s.val AS val FROM dv) "
    # decimal(38,18) sum: order-independent exact addition, mirrored by
    # the Spark operator (see ns_kmeans_step docstring)
    "SELECT cluster_id, CAST(dim AS BIGINT) AS dim, "
    "round(CAST(SUM(CAST(val AS DECIMAL(38,18))) AS DOUBLE) "
    "/ CAST(COUNT(*) AS DOUBLE), 6) AS centroid_mean, "
    "COUNT(*) AS n_members "
    "FROM per_dim GROUP BY cluster_id, dim ORDER BY cluster_id, dim"
)


NS_ORACLES["ns_sequence_pack"] = (
    f"WITH d AS (SELECT doc_id, source, CAST(len({TOKS}) AS BIGINT) AS n_tokens "
    "FROM documents), "
    "c AS (SELECT doc_id, source, n_tokens, "
    "CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start "
    "FROM d) "
    f"SELECT doc_id, source, n_tokens, CAST(start // {SEQ_BUDGET} AS BIGINT) AS seq_id, "
    f"CAST(start % {SEQ_BUDGET} AS BIGINT) AS seq_offset FROM c ORDER BY doc_id"
)


NS_ORACLES["ns_pack_fragmentation"] = (
    f"WITH pack AS ({NS_ORACLES['ns_sequence_pack']}), "
    "a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(MAX(seq_id) + 1 AS BIGINT) AS n_seqs, "
    f"CAST(SUM(CASE WHEN seq_offset + n_tokens > {SEQ_BUDGET} THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_split_docs, "
    "CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens "
    "FROM pack GROUP BY source) "
    "SELECT source, n_docs, n_seqs, n_split_docs, sum_tokens, "
    "CAST(n_split_docs * 1000000 // n_docs AS BIGINT) AS split_ppm "
    "FROM a ORDER BY source"
)


NS_ORACLES["ns_quality_classifier"] = (
    f"WITH tok AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents), "
    "s AS (SELECT doc_id, "
    f"CAST(SUM({_hash_sql('tok', 'qw')} % 2001 - 1000) AS BIGINT) AS wsum, "
    "COUNT(*) AS n_tokens FROM tok GROUP BY doc_id), "
    "f AS (SELECT doc_id, n_tokens, wsum, "
    "CAST((wsum * 1000000 - (wsum * 1000000) % n_tokens) / n_tokens AS BIGINT) AS score, "
    "CAST(wsum AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000.0) AS logit FROM s), "
    "r AS (SELECT doc_id, n_tokens, wsum, score, "
    "round(1.0 / (1.0 + exp(-logit)), 6) AS prob FROM f) "
    # discrete median threshold == Spark percentile_approx at max
    # accuracy (verified equal incl. ties / even N); keep = score >= med
    "SELECT doc_id, n_tokens, wsum, score, prob, "
    "(score >= (SELECT quantile_disc(score, 0.5) FROM r)) AS keep "
    "FROM r ORDER BY doc_id"
)


NS_ORACLES["ns_classifier_calibration"] = (
    # decile reliability curve: nine discrete-quantile cutoffs on the
    # classifier's exact integer score (quantile_disc == Spark
    # percentile_approx at max accuracy, the q44b-verified equivalence),
    # bucket = 1 + #cutoffs strictly below the score, per-bucket
    # heuristic pass rate in integer ppm
    f"WITH c AS ({NS_ORACLES['ns_quality_classifier']}), "
    f"hq AS ({NS_ORACLES['ns_text_quality']}), "
    "j AS (SELECT c.doc_id, c.score, "
    "(hq.quality >= 0.5 AND hq.n_tokens >= 50) AS hpass "
    "FROM c JOIN hq ON c.doc_id = hq.doc_id), "
    "t AS (SELECT "
    + ", ".join(
        f"quantile_disc(score, {i / 10.0}) AS t{i}" for i in range(1, 10)
    )
    + " FROM c), "
    "b AS (SELECT hpass, CAST(1 + "
    + " + ".join(f"CAST(score > t{i} AS INTEGER)" for i in range(1, 10))
    + " AS BIGINT) AS bucket FROM j, t) "
    "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(CAST(hpass AS INTEGER)) AS BIGINT) AS n_pass, "
    "CAST(SUM(CAST(hpass AS INTEGER)) * 1000000 // COUNT(*) AS BIGINT) AS pass_ppm "
    "FROM b GROUP BY bucket ORDER BY bucket"
)

NS_ORACLES["ns_quality_token_frontier"] = (
    # quality-vs-tokens frontier: survivors at each cutoff i/10 — the
    # cutoff literal is the identical nearest-double on both engines
    f"WITH tq AS ({NS_ORACLES['ns_text_quality']}), "
    "g AS (SELECT unnest(range(10)) AS i) "
    "SELECT CAST(i * 100000 AS BIGINT) AS cutoff_ppm, "
    "CAST(SUM(CASE WHEN quality >= i / 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs, "
    "CAST(SUM(CASE WHEN quality >= i / 10.0 THEN n_tokens ELSE 0 END) AS BIGINT) "
    "AS sum_tokens "
    "FROM tq, g GROUP BY i ORDER BY cutoff_ppm"
)


def _budget_select_sql() -> str:
    from cassandra_extractor_spark.operators.text import TOKEN_BUDGET

    return (
        f"WITH f AS ({NS_ORACLES['ns_quality_token_frontier']}), "
        "cut AS (SELECT CAST(COALESCE(MAX(CASE WHEN sum_tokens >= "
        f"{TOKEN_BUDGET} THEN cutoff_ppm END), 0) AS BIGINT) AS cutoff_ppm FROM f), "
        f"tq AS ({NS_ORACLES['ns_text_quality']}) "
        "SELECT doc_id, n_tokens, quality, cut.cutoff_ppm AS cutoff_ppm "
        "FROM tq, cut WHERE quality >= cut.cutoff_ppm / 1000000.0 "
        "ORDER BY doc_id"
    )


NS_ORACLES["ns_budget_select"] = _budget_select_sql()


def _pq_sql() -> str:
    from cassandra_extractor_spark.operators.similarity import (
        PQ_K,
        PQ_SUBDIM,
        PQ_SUBS,
    )

    l2 = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
        f"sub AS (SELECT vec_id, s, list_slice(emb, s * {PQ_SUBDIM} + 1, "
        f"s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sub "
        f"FROM e, (SELECT unnest(range({PQ_SUBS})) AS s) t), "
        f"cb AS (SELECT CAST(vec_id - {N_QUERIES} AS INTEGER) AS code, s, sub AS cvec "
        f"FROM sub WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}), "
        "codes AS (SELECT vec_id AS n_id, s, code FROM ("
        "SELECT c.vec_id, c.s, cb.code, ROW_NUMBER() OVER "
        "(PARTITION BY c.vec_id, c.s ORDER BY " + l2.format(a="c.sub", b="cb.cvec")
        + ", cb.code) AS rn "
        f"FROM sub c JOIN cb ON c.s = cb.s WHERE c.vec_id >= {N_QUERIES}) WHERE rn = 1), "
        "qdist AS (SELECT q.vec_id AS q_id, q.s AS s, cb.code AS code, "
        + l2.format(a="q.sub", b="cb.cvec")
        + " AS qd2 "
        f"FROM sub q JOIN cb ON q.s = cb.s WHERE q.vec_id < {N_QUERIES}), "
        "adc AS (SELECT q_id, n_id, "
        "round(list_reduce(list_sort(list(qd2)), (x, y) -> x + y), 6) AS adist "
        "FROM codes JOIN qdist USING (s, code) GROUP BY q_id, n_id) "
        "SELECT q_id, n_id, adist, rank FROM (SELECT q_id, n_id, adist, "
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id) AS rank "
        f"FROM adc) WHERE rank <= {TOP_K} ORDER BY q_id, rank"
    )


NS_ORACLES["ns_ann_pq"] = _pq_sql()


def _ivfpq_sql() -> str:
    """IVF-PQ: the ivf oracle's cell machinery + the pq oracle's
    encode/ADC over RESIDUALS (vector − assigned coarse centroid), with
    the query distance table keyed per probed cell — mirrors
    ``similarity.ivfpq_topk`` expression for expression (same zip
    order, same sorted-list ADC fold, same struct-min tie-breaks)."""
    from cassandra_extractor_spark.operators.similarity import (
        IVF_PROBES,
        N_IVF_CENTROIDS,
        PQ_K,
        PQ_SUBDIM,
        PQ_SUBS,
    )

    l2 = (
        "list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )
    vsub = "list_transform(list_zip({a}, {b}), p -> p[1] - p[2])"
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings "
        f"WHERE {_cosine_defined_sql('CAST(embedding AS DOUBLE[])')}), "
        f"cent AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id >= {N_QUERIES} "
        f"AND vec_id < {N_QUERIES + N_IVF_CENTROIDS}), "
        f"corpus AS (SELECT vec_id AS n_id, emb AS n_emb FROM e WHERE vec_id >= {N_QUERIES}), "
        f"q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}), "
        "ccell AS (SELECT n_id, c_id FROM (SELECT n_id, c_id, ROW_NUMBER() OVER "
        "(PARTITION BY n_id ORDER BY csim DESC, c_id) AS crank FROM "
        f"(SELECT n_id, c_id, {_cos_sql('n_emb', 'c_emb')} AS csim FROM corpus, cent)) "
        "WHERE crank <= 1), "
        "qcell AS (SELECT q_id, c_id FROM (SELECT q_id, c_id, ROW_NUMBER() OVER "
        "(PARTITION BY q_id ORDER BY csim DESC, c_id) AS crank FROM "
        f"(SELECT q_id, c_id, {_cos_sql('q_emb', 'c_emb')} AS csim FROM q, cent)) "
        f"WHERE crank <= {IVF_PROBES}), "
        "cres AS (SELECT n_id, ccell.c_id AS c_id, "
        + vsub.format(a="n_emb", b="c_emb")
        + " AS res FROM corpus JOIN ccell USING (n_id) JOIN cent ON ccell.c_id = cent.c_id), "
        f"rsub AS (SELECT n_id, c_id, s, list_slice(res, s * {PQ_SUBDIM} + 1, "
        f"s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sub "
        f"FROM cres, (SELECT unnest(range({PQ_SUBS})) AS s) t), "
        f"cb AS (SELECT CAST(n_id - {N_QUERIES} AS INTEGER) AS code, s, sub AS cvec "
        f"FROM rsub WHERE n_id >= {N_QUERIES} AND n_id < {N_QUERIES + PQ_K}), "
        "codes AS (SELECT n_id, c_id, s, code FROM ("
        "SELECT r.n_id, r.c_id, r.s, cb.code, ROW_NUMBER() OVER "
        "(PARTITION BY r.n_id, r.s ORDER BY " + l2.format(a="r.sub", b="cb.cvec")
        + ", cb.code) AS rn FROM rsub r JOIN cb ON r.s = cb.s) WHERE rn = 1), "
        "qres AS (SELECT q_id, qcell.c_id AS c_id, "
        + vsub.format(a="q_emb", b="c_emb")
        + " AS res FROM qcell JOIN q USING (q_id) JOIN cent ON qcell.c_id = cent.c_id), "
        f"qsub AS (SELECT q_id, c_id, s, list_slice(res, s * {PQ_SUBDIM} + 1, "
        f"s * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sub "
        f"FROM qres, (SELECT unnest(range({PQ_SUBS})) AS s) t), "
        "qdist AS (SELECT q_id, c_id, qsub.s AS s, cb.code AS code, "
        + l2.format(a="qsub.sub", b="cb.cvec")
        + " AS qd2 FROM qsub JOIN cb ON qsub.s = cb.s), "
        "adc AS (SELECT q_id, n_id, "
        "round(list_reduce(list_sort(list(qd2)), (x, y) -> x + y), 6) AS adist "
        "FROM codes JOIN qdist USING (c_id, s, code) GROUP BY q_id, n_id) "
        "SELECT q_id, n_id, adist, rank FROM (SELECT q_id, n_id, adist, "
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id) AS rank "
        f"FROM adc) WHERE rank <= {TOP_K} ORDER BY q_id, rank"
    )


NS_ORACLES["ns_ann_ivfpq"] = _ivfpq_sql()


NS_ORACLES["ns_lm_fluency_bucket"] = (
    # pure-integer bigram-LM fluency terciles (see ns_lm_fluency_bucket
    # docstring); `//` mirrors Spark's `div`, SUMs cast off HUGEINT
    f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
    "bi AS (SELECT doc_id, s.w AS w, s.w2 AS w2 FROM ("
    "SELECT doc_id, unnest(list_transform(range(len(toks) - 1), "
    "i -> struct_pack(w := toks[i+1], w2 := toks[i+2]))) AS s "
    "FROM t WHERE len(toks) >= 2)), "
    "doc_bi AS (SELECT doc_id, w, w2, COUNT(*) AS n_occ FROM bi "
    "GROUP BY doc_id, w, w2), "
    "cxy AS (SELECT w, w2, COUNT(*) AS c12 FROM bi GROUP BY w, w2), "
    "cx AS (SELECT w, COUNT(*) AS c1 FROM bi GROUP BY w), "
    "model AS (SELECT cxy.w, cxy.w2, (cxy.c12 * 1000000) // cx.c1 AS p_int "
    "FROM cxy JOIN cx ON cxy.w = cx.w), "
    "scored AS (SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_bigrams, "
    "CAST(SUM(n_occ * p_int) AS BIGINT) AS num "
    "FROM doc_bi JOIN model USING (w, w2) GROUP BY doc_id), "
    "s2 AS (SELECT doc_id, n_bigrams, CAST(num // n_bigrams AS BIGINT) AS fluency "
    "FROM scored), "
    "thr AS (SELECT quantile_disc(fluency, 1.0/3.0) AS t1, "
    "quantile_disc(fluency, 2.0/3.0) AS t2 FROM s2) "
    "SELECT doc_id, n_bigrams, fluency, "
    "CASE WHEN fluency >= t2 THEN 'head' WHEN fluency >= t1 THEN 'middle' "
    "ELSE 'tail' END AS bucket "
    "FROM s2, thr ORDER BY doc_id"
)


NS_ORACLES["ns_cdc_chunk"] = (
    # content-defined chunking: same md5 boundary predicate, per-doc
    # running-sum chunk ids (see ns_cdc_chunk docstring)
    f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id <= 200), "
    "tok AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM ("
    "SELECT doc_id, unnest(list_transform(range(len(toks)), "
    "i -> struct_pack(pos := i, tok := toks[i+1]))) AS s FROM t)), "
    "b AS (SELECT doc_id, pos, CASE WHEN pos = 0 OR "
    + _hash_sql("tok", "cdc")
    + " % 16 = 0 THEN 1 ELSE 0 END AS nb FROM tok), "
    "c AS (SELECT doc_id, pos, CAST(SUM(nb) OVER (PARTITION BY doc_id "
    "ORDER BY pos) AS BIGINT) AS chunk_id FROM b) "
    "SELECT doc_id, chunk_id, CAST(MIN(pos) AS BIGINT) AS start_pos, "
    "COUNT(*) AS n_tokens FROM c GROUP BY doc_id, chunk_id "
    "ORDER BY doc_id, chunk_id"
)


def _drift_sql() -> str:
    from cassandra_extractor_spark.operators.extraction import DIFF_OLD_DOCS

    return (
        f"WITH d AS (SELECT doc_id, lang, CAST(len({TOKS}) AS BIGINT) AS n_tok "
        "FROM documents), "
        "counts AS (SELECT lang, "
        f"CAST(SUM(CASE WHEN doc_id < {DIFF_OLD_DOCS} THEN n_tok ELSE 0 END) AS BIGINT) AS tok_old, "
        "CAST(SUM(n_tok) AS BIGINT) AS tok_new FROM d GROUP BY lang), "
        "tot AS (SELECT CAST(SUM(tok_old) AS BIGINT) AS t_old, "
        "CAST(SUM(tok_new) AS BIGINT) AS t_new, COUNT(*) AS k FROM counts) "
        "SELECT lang, tok_old, tok_new, "
        "round(CAST(tok_old + 1 AS DOUBLE) / CAST(t_old + k AS DOUBLE), 6) AS p_old, "
        "round(CAST(tok_new + 1 AS DOUBLE) / CAST(t_new + k AS DOUBLE), 6) AS p_new, "
        "round((CAST(tok_new + 1 AS DOUBLE) / CAST(t_new + k AS DOUBLE)) * "
        "ln((CAST(tok_new + 1 AS DOUBLE) / CAST(t_new + k AS DOUBLE)) / "
        "(CAST(tok_old + 1 AS DOUBLE) / CAST(t_old + k AS DOUBLE))), 6) AS kl_term "
        "FROM counts, tot ORDER BY lang"
    )


NS_ORACLES["ns_corpus_drift"] = _drift_sql()


def _pagerank_sql() -> str:
    from cassandra_extractor_spark.operators.dedup import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_ITERS,
        PR_SCALE,
    )

    iters = []
    prev = "p0"
    for k in range(1, PR_ITERS + 1):
        iters.append(
            f"p{k} AS (SELECT n.doc_id, CAST((SELECT b FROM consts) + "
            f"({PR_DAMP_NUM} * COALESCE(i.inflow, 0)) // {PR_DAMP_DEN} AS BIGINT) AS pr "
            "FROM nodes n LEFT JOIN ("
            "SELECT e.dst, SUM(p.pr // d.deg) AS inflow "
            f"FROM edges e JOIN {prev} p ON e.src = p.doc_id "
            "JOIN deg d ON e.src = d.src GROUP BY e.dst) i ON n.doc_id = i.dst)"
        )
        prev = f"p{k}"
    return (
        "WITH pairs AS (" + _minhash_sql() + "), "
        "edges AS (SELECT d1 AS src, d2 AS dst FROM pairs "
        "UNION ALL SELECT d2 AS src, d1 AS dst FROM pairs), "
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src), "
        "nodes AS (SELECT src AS doc_id, deg FROM deg), "
        f"consts AS (SELECT ({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM} // {PR_DAMP_DEN}) "
        "// COUNT(*) AS b, "
        f"{PR_SCALE} // COUNT(*) AS pinit FROM nodes), "
        "p0 AS (SELECT doc_id, CAST((SELECT pinit FROM consts) AS BIGINT) AS pr FROM nodes), "
        + ", ".join(iters)
        + f" SELECT doc_id, pr FROM p{PR_ITERS} ORDER BY doc_id"
    )


NS_ORACLES["ns_pagerank"] = _pagerank_sql()


NS_ORACLES["ns_triangle_count"] = (
    "WITH pairs AS (" + _minhash_sql() + "), "
    "tri AS (SELECT a.d1 AS x, a.d2 AS y, b.d2 AS z "
    "FROM pairs a JOIN pairs b ON b.d1 = a.d2 "
    "JOIN pairs c ON c.d1 = a.d1 AND c.d2 = b.d2), "
    "nodes AS (SELECT x AS doc_id FROM tri UNION ALL "
    "SELECT y FROM tri UNION ALL SELECT z FROM tri) "
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM nodes "
    "GROUP BY doc_id ORDER BY doc_id"
)


def _lsh_sql() -> str:
    """Mirror of ``lsh_topk`` (similarity.py): the md5-derived
    hyperplanes are emitted as literal DOUBLE[] rows (repr() is the
    shortest round-tripping decimal, so DuckDB parses back the exact
    IEEE double Spark uses), bucket ids fold the same sign-bit packing,
    and candidates are same-(table, bucket) collisions — the identical
    OR-construction.  The Spark side assigns buckets via one numpy
    matmul (``lsh_bucket_ids``); its summation order differs from this
    sequential fold, so a sign — hence the candidate set — could in
    principle diverge for a dot product within float rounding of zero
    (documented caveat; |dot| is O(1) on real data, so the probability
    is ~1e-13 per decision and the fold==matmul unit test pins the
    spellings on random vectors)."""
    from cassandra_extractor_spark.operators.similarity import (
        DIM,
        LSH_PLANES,
        LSH_TABLES,
        _projection_component,
    )

    rows = []
    for t in range(LSH_TABLES):
        for p in range(LSH_PLANES):
            comps = ", ".join(repr(_projection_component(p, d, t)) for d in range(DIM))
            rows.append(f"({t}, {p}, [{comps}])")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings "
        f"WHERE {_cosine_defined_sql('CAST(embedding AS DOUBLE[])')}), "
        "pl(tbl, p, plane) AS (VALUES " + ", ".join(rows) + "), "
        "keys AS (SELECT e.vec_id, pl.tbl, "
        "CAST(SUM(CASE WHEN " + _dot_sql("e.emb", "pl.plane") + " > 0 "
        "THEN (CAST(1 AS BIGINT) << pl.p) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket "
        "FROM e, pl GROUP BY e.vec_id, pl.tbl), "
        "pairs AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id "
        "FROM keys c JOIN keys q ON c.tbl = q.tbl AND c.bucket = q.bucket "
        f"WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}), "
        "scored AS (SELECT p.q_id, p.n_id, "
        f"round({_cos_sql('qe.emb', 'ne.emb')}, 6) AS cos "
        "FROM pairs p JOIN e qe ON qe.vec_id = p.q_id JOIN e ne ON ne.vec_id = p.n_id) "
        "SELECT q_id, n_id, cos, rank FROM (SELECT q_id, n_id, cos, "
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank "
        f"FROM scored) WHERE rank <= {TOP_K} ORDER BY q_id, rank"
    )


NS_ORACLES["ns_ann_lsh_bucketed"] = _lsh_sql()


def _training_corpus_sql() -> str:
    return (
        f"WITH docs AS (SELECT doc_id, source, CAST(len({TOKS}) AS BIGINT) "
        "AS n_tokens FROM documents), "
        f"cs AS (SELECT doc_id FROM ({NS_ORACLES['ns_corpus_select']}) t), "
        f"rep AS (SELECT doc_id FROM ({NS_ORACLES['ns_repetition_filter']}) t "
        "WHERE keep), "
        f"clf AS (SELECT doc_id FROM ({NS_ORACLES['ns_quality_classifier']}) t "
        "WHERE keep), "
        "surv AS (SELECT d.doc_id, d.source, d.n_tokens FROM docs d "
        "JOIN cs USING (doc_id) JOIN rep USING (doc_id) JOIN clf USING (doc_id)), "
        "c AS (SELECT doc_id, source, n_tokens, "
        "CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start "
        "FROM surv) "
        f"SELECT doc_id, source, n_tokens, CAST(start // {SEQ_BUDGET} AS BIGINT) AS seq_id, "
        f"CAST(start % {SEQ_BUDGET} AS BIGINT) AS seq_offset FROM c ORDER BY doc_id"
    )


NS_ORACLES["ns_training_corpus"] = _training_corpus_sql()


def _vocab_oov_sql() -> str:
    from cassandra_extractor_spark.operators.text import VOCAB_SIZE

    return (
        f"WITH tok AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents), "
        "vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM tok "
        f"GROUP BY tok ORDER BY cnt DESC, tok LIMIT {VOCAB_SIZE})) "
        "SELECT doc_id, COUNT(*) AS n_tokens, "
        "CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov "
        "FROM tok t LEFT JOIN vocab v USING (tok) "
        "GROUP BY doc_id ORDER BY doc_id"
    )


NS_ORACLES["ns_vocab_oov"] = _vocab_oov_sql()


def _boilerplate_sql() -> str:
    from cassandra_extractor_spark.operators.text import BOILERPLATE_MIN_DOCS

    return (
        f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
        "g AS (SELECT DISTINCT doc_id, unnest(list_transform(range(len(toks) - 2), "
        "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh "
        "FROM t WHERE len(toks) >= 3), "
        "common AS (SELECT sh FROM (SELECT sh, COUNT(*) AS nd FROM g GROUP BY sh) "
        f"WHERE nd >= {BOILERPLATE_MIN_DOCS}), "
        "per_doc AS (SELECT doc_id, COUNT(*) AS n_sh, "
        "CAST(SUM(CASE WHEN c.sh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_bp "
        "FROM g LEFT JOIN common c USING (sh) GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(p.n_sh, 0) AS n_sh, COALESCE(p.n_bp, 0) AS n_bp, "
        "(COALESCE(p.n_bp, 0) * 2 <= COALESCE(p.n_sh, 0)) AS keep "
        "FROM documents d LEFT JOIN per_doc p USING (doc_id) ORDER BY d.doc_id"
    )


NS_ORACLES["ns_boilerplate"] = _boilerplate_sql()


def _topk_per_source_sql() -> str:
    from cassandra_extractor_spark.operators.sampling import TOPK_PER_SOURCE

    return (
        "SELECT doc_id, source, n_chars, rk FROM ("
        "SELECT doc_id, source, n_chars, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY source "
        "ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk FROM documents) "
        f"WHERE rk <= {TOPK_PER_SOURCE} ORDER BY source, rk"
    )


NS_ORACLES["ns_topk_per_source"] = _topk_per_source_sql()


def _corpus_diff_sql() -> str:
    from cassandra_extractor_spark.operators.extraction import DIFF_OLD_DOCS

    fp_of = lambda txt: (
        f"substr(md5(trim(regexp_replace(regexp_replace(lower({txt}), "
        r"'[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))), 1, 16)"
    )
    return (
        f"WITH old AS (SELECT doc_id, {fp_of('CASE WHEN doc_id % 7 = 0 THEN reverse(text) ELSE text END')} AS old_fp "
        f"FROM documents WHERE doc_id < {DIFF_OLD_DOCS}), "
        f"new AS (SELECT doc_id, {fp_of('text')} AS new_fp FROM documents) "
        "SELECT COALESCE(new.doc_id, old.doc_id) AS doc_id, "
        "CASE WHEN old_fp IS NULL THEN 'added' "
        "WHEN new_fp IS NULL THEN 'removed' "
        "WHEN old_fp <> new_fp THEN 'changed' ELSE 'unchanged' END AS status "
        "FROM new FULL OUTER JOIN old USING (doc_id) ORDER BY doc_id"
    )


NS_ORACLES["ns_corpus_diff"] = _corpus_diff_sql()


def _data_audit_sql() -> str:
    from cassandra_extractor_spark.operators.text import LANG_MARKERS

    known = ", ".join(f"'{c}'" for c in LANG_MARKERS)
    return (
        "SELECT source, COUNT(*) AS n_rows, "
        "CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text, "
        "CAST(SUM(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_mismatch, "
        f"CAST(SUM(CASE WHEN lang NOT IN ({known}) THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_lang, "
        f"CAST(MIN(len({TOKS})) AS BIGINT) AS min_tokens, "
        f"CAST(MAX(len({TOKS})) AS BIGINT) AS max_tokens "
        "FROM documents GROUP BY source ORDER BY source"
    )


NS_ORACLES["ns_data_audit"] = _data_audit_sql()


def _substring_sql() -> str:
    """Mirror of ``ns_substring_dedup``: same md5 k-gram hash (salt
    'ss'), same >1-occurrences duplicated-gram rule, same
    gaps-and-islands interval union."""
    from cassandra_extractor_spark.operators.dedup import SUBSTR_K

    k = SUBSTR_K
    gram = (
        f"array_to_string(toks[CAST(pos + 1 AS INTEGER):CAST(pos + {k} AS INTEGER)], ' ')"
    )
    return (
        f"WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
        "dd AS (SELECT doc_id, toks, COALESCE(len(toks), 0) AS n_tok FROM d), "
        # generate_series can't take lateral column bounds in DuckDB:
        # unnest a per-row range() list instead (and gate short docs so
        # the range is never negative)
        f"dk AS (SELECT * FROM dd WHERE n_tok >= {k}), "
        f"gp AS (SELECT doc_id, toks, "
        f"unnest(range(0, n_tok - {k} + 1)) AS pos FROM dk), "
        "g AS (SELECT doc_id, pos, "
        + _hash_sql(gram, "ss")
        + " AS gh FROM gp), "
        "c AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1), "
        f"dup AS (SELECT g.doc_id, g.pos, g.pos + {k} - 1 AS e FROM g JOIN c USING (gh)), "
        "isl AS (SELECT doc_id, pos, e, CASE WHEN "
        "max(e) OVER w IS NULL OR pos > max(e) OVER w THEN 1 ELSE 0 END AS ni "
        "FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
        "isl2 AS (SELECT doc_id, pos, e, SUM(ni) OVER (PARTITION BY doc_id "
        "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island "
        "FROM isl), "
        "cov AS (SELECT doc_id, island, MAX(e) - MIN(pos) + 1 AS cv "
        "FROM isl2 GROUP BY doc_id, island), "
        "per_doc AS (SELECT doc_id, SUM(cv) AS dup_tok FROM cov GROUP BY doc_id) "
        "SELECT dd.doc_id, CAST(dd.n_tok AS BIGINT) AS n_tok, "
        "CAST(COALESCE(per_doc.dup_tok, 0) AS BIGINT) AS dup_tok, "
        "ROUND(CASE WHEN dd.n_tok > 0 THEN "
        "CAST(COALESCE(per_doc.dup_tok, 0) AS DOUBLE) / dd.n_tok ELSE 0.0 END, 6) "
        "AS dup_frac "
        "FROM dd LEFT JOIN per_doc USING (doc_id) ORDER BY dd.doc_id"
    )


NS_ORACLES["ns_substring_dedup"] = _substring_sql()


NS_ORACLES["ns_temperature_sample"] = (
    # alpha=0.5 temperature mixing: sqrt is correctly rounded per IEEE
    # 754 (unlike pow), and the Σ√ goes through DECIMAL(38,18) so the
    # few-row double sum is order-independent — both mirrored in the
    # Spark builder
    f"WITH d AS (SELECT doc_id, lang, CAST(len({TOKS}) AS BIGINT) AS n_tokens "
    "FROM documents), "
    "pl AS (SELECT lang, COUNT(*) AS n_docs, SUM(n_tokens) AS lang_tokens "
    "FROM d GROUP BY lang), "
    "t AS (SELECT SUM(lang_tokens) AS total_tokens, "
    "CAST(SUM(CAST(sqrt(CAST(lang_tokens AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) "
    "AS sq_sum_raw FROM pl), "
    "r AS (SELECT lang, n_docs, lang_tokens, "
    "CAST(lang_tokens AS DOUBLE) / total_tokens AS p, "
    "sqrt(CAST(lang_tokens AS DOUBLE)) / sq_sum_raw AS q, "
    "least(1.0, 0.5 * CAST(total_tokens AS DOUBLE) "
    "* (sqrt(CAST(lang_tokens AS DOUBLE)) / sq_sum_raw) "
    "/ CAST(lang_tokens AS DOUBLE)) AS rate FROM pl, t), "
    "k AS (SELECT d.lang, COUNT(*) AS n_kept, SUM(d.n_tokens) AS kept_tokens "
    "FROM d JOIN r USING (lang) WHERE "
    + _hash_sql("CAST(doc_id AS VARCHAR)", "temp")
    + " % 1000000 < CAST(floor(rate * 1000000) AS BIGINT) GROUP BY d.lang) "
    "SELECT r.lang, CAST(n_docs AS BIGINT) AS n_docs, "
    "CAST(lang_tokens AS BIGINT) AS lang_tokens, "
    "ROUND(p, 6) AS p, ROUND(q, 6) AS q, ROUND(rate, 6) AS rate, "
    "CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept, "
    "CAST(COALESCE(kept_tokens, 0) AS BIGINT) AS kept_tokens "
    "FROM r LEFT JOIN k USING (lang) ORDER BY r.lang"
)


from cassandra_extractor_spark.operators.extraction import N_SHARDS

NS_ORACLES["ns_shard_layout"] = (
    f"WITH d AS (SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens "
    "FROM documents), "
    "ps AS (SELECT "
    + _hash_sql("CAST(doc_id AS VARCHAR)", "shard")
    + f" % {N_SHARDS} AS shard, COUNT(*) AS n_docs, SUM(n_tokens) AS shard_tokens "
    "FROM d GROUP BY 1), "
    "t AS (SELECT SUM(shard_tokens) AS total_tokens FROM ps) "
    "SELECT CAST(shard AS BIGINT) AS shard, CAST(n_docs AS BIGINT) AS n_docs, "
    "CAST(shard_tokens AS BIGINT) AS shard_tokens, "
    f"ROUND(CAST(shard_tokens AS DOUBLE) * {N_SHARDS} / total_tokens, 6) AS balance "
    "FROM ps, t ORDER BY shard"
)


def _dsir_sql() -> str:
    """Mirror of ``ns_dsir_select``: same md5 bucket hash, Laplace
    smoothing, single-``ln`` per-bucket term, per-doc DECIMAL(38,18)
    sum."""
    from cassandra_extractor_spark.operators.sampling import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
    )

    b = DSIR_BUCKETS
    bigram = "concat_ws(' ', toks[i+1], toks[i+2])"
    return (
        f"WITH d AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents), "
        "bg AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 1), "
        f"i -> {bigram})) AS g FROM d WHERE len(toks) >= 2), "
        f"fe AS (SELECT doc_id, {_hash_sql('g', 'dsir')} % {b} AS f FROM bg), "
        "rc AS (SELECT f, COUNT(*) AS c_r FROM fe GROUP BY f), "
        "tc AS (SELECT f, COUNT(*) AS c_t FROM fe JOIN "
        f"(SELECT doc_id FROM d WHERE lang = '{DSIR_TARGET_LANG}') USING (doc_id) "
        "GROUP BY f), "
        "c AS (SELECT rc.f, c_r, COALESCE(c_t, 0) AS c_t FROM rc LEFT JOIN tc USING (f)), "
        "t AS (SELECT SUM(c_r) AS tot_r, SUM(c_t) AS tot_t FROM c), "
        "bt AS (SELECT f, ln("
        f"(CAST(c_t + 1 AS DOUBLE) / CAST(tot_t + {b} AS DOUBLE)) / "
        f"(CAST(c_r + 1 AS DOUBLE) / CAST(tot_r + {b} AS DOUBLE))) AS term FROM c, t), "
        "pd AS (SELECT doc_id, COUNT(*) AS n_feats, "
        "CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE) AS logw_raw "
        "FROM fe JOIN bt USING (f) GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats, "
        "ROUND(COALESCE(logw_raw, 0.0), 6) AS logw, "
        "COALESCE(logw_raw, 0.0) > 0 AS keep "
        "FROM (SELECT doc_id FROM d) d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id"
    )


NS_ORACLES["ns_dsir_select"] = _dsir_sql()


def _bm25_sql() -> str:
    """Mirror of ``ns_bm25``.  Every numeric literal is emitted in
    e-notation so DuckDB parses it as DOUBLE — a bare ``0.5`` would be
    DECIMAL and change the rounding of every downstream op."""
    from cassandra_extractor_spark.operators.text import BM25_B, BM25_K1, BM25_QUERY

    lit = lambda v: f"{v!r}e0"  # noqa: E731
    in_list = ", ".join(f"'{t}'" for t in BM25_QUERY)
    score = (
        f"ln((n_docs - df + {lit(0.5)}) / (df + {lit(0.5)}) + {lit(1.0)}) "
        f"* (tf * {lit(BM25_K1 + 1)}) "
        f"/ (tf + {lit(BM25_K1)} * ({lit(1 - BM25_B)} + {lit(BM25_B)} * dl / avgdl))"
    )
    return (
        f"WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
        "docs AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d), "
        "na AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM docs), "
        "terms AS (SELECT doc_id, dl, unnest(toks) AS term FROM docs), "
        f"qt AS (SELECT * FROM terms WHERE term IN ({in_list})), "
        "tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM qt "
        "GROUP BY doc_id, dl, term), "
        "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), "
        f"scored AS (SELECT doc_id, {score} AS term_score "
        "FROM tf JOIN dfreq USING (term), na), "
        "pd AS (SELECT doc_id, CAST(SUM(CAST(term_score AS DECIMAL(38,18))) AS DOUBLE) "
        "AS score_raw FROM scored GROUP BY doc_id) "
        "SELECT docs.doc_id, ROUND(COALESCE(score_raw, 0.0), 6) AS bm25 "
        "FROM docs LEFT JOIN pd USING (doc_id) ORDER BY docs.doc_id"
    )


NS_ORACLES["ns_bm25"] = _bm25_sql()
# store-backed BM25 is row-identical to the corpus spelling by
# contract (the store holds exactly the corpus' postings + doc
# lengths), so it shares the oracle verbatim
NS_ORACLES["ns_bm25_store"] = _bm25_sql()


NS_ORACLES["ns_entropy"] = (
    # `+ 0.0` on both engines normalizes the -0.0 a zero-entropy doc
    # produces (-(1·ln 1)) so the canonical repr matches
    f"WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
    "docs AS (SELECT doc_id, COALESCE(len(toks), 0) AS n_tok FROM d), "
    "t AS (SELECT doc_id, unnest(toks) AS tok FROM d), "
    "c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok), "
    "pd AS (SELECT c.doc_id, COUNT(*) AS n_distinct, "
    "-CAST(SUM(CAST((CAST(c AS DOUBLE) / n_tok) * ln(CAST(c AS DOUBLE) / n_tok) "
    "AS DECIMAL(38,18))) AS DOUBLE) AS h_raw "
    "FROM c JOIN docs USING (doc_id) GROUP BY c.doc_id) "
    "SELECT docs.doc_id, CAST(n_tok AS BIGINT) AS n_tok, "
    "CAST(COALESCE(n_distinct, 0) AS BIGINT) AS n_distinct, "
    "ROUND(COALESCE(h_raw, 0.0) + 0.0, 6) AS entropy "
    "FROM docs LEFT JOIN pd USING (doc_id) ORDER BY docs.doc_id"
)


def _leakage_sql() -> str:
    """Mirror of ``ns_cross_split_leakage``: the MinHash-LSH pair CTE
    joined to the hash-splitter CASE on both pair sides."""
    split_case = (
        "CASE WHEN "
        + _hash_sql("CAST(doc_id AS VARCHAR)", "split")
        + " % 1000 < 900 THEN 'train' WHEN "
        + _hash_sql("CAST(doc_id AS VARCHAR)", "split")
        + " % 1000 < 950 THEN 'val' ELSE 'test' END"
    )
    return (
        f"WITH RECURSIVE mh AS ({_minhash_sql()}), "
        f"sp AS (SELECT doc_id, {split_case} AS split FROM documents) "
        "SELECT least(a.split, b.split) AS s1, greatest(a.split, b.split) AS s2, "
        "CAST(COUNT(*) AS BIGINT) AS n_pairs "
        "FROM mh JOIN sp a ON a.doc_id = mh.d1 JOIN sp b ON b.doc_id = mh.d2 "
        "GROUP BY s1, s2 ORDER BY s1, s2"
    )


NS_ORACLES["ns_cross_split_leakage"] = _leakage_sql()


def _winnowing_sql() -> str:
    """Mirror of ``ns_winnowing``: same 'win'-salted k-gram hash, same
    struct-min window (lexicographic (h, pos) — DuckDB orders structs
    the same way Spark does), full windows only."""
    from cassandra_extractor_spark.operators.dedup import WIN_K, WIN_W

    k, w = WIN_K, WIN_W
    gram = f"array_to_string(toks[CAST(pos + 1 AS INTEGER):CAST(pos + {k} AS INTEGER)], ' ')"
    return (
        f"WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
        "dd AS (SELECT doc_id, toks, COALESCE(len(toks), 0) AS n_tok FROM d), "
        f"dk AS (SELECT * FROM dd WHERE n_tok >= {k}), "
        f"gp AS (SELECT doc_id, toks, unnest(range(0, n_tok - {k} + 1)) AS pos FROM dk), "
        f"g AS (SELECT doc_id, pos, {_hash_sql(gram, 'win')} AS h FROM gp), "
        "wn AS (SELECT doc_id, pos, "
        "min({'h': h, 'p': pos}) OVER (PARTITION BY doc_id ORDER BY pos "
        f"ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS win, "
        "COUNT(*) OVER (PARTITION BY doc_id) AS n_grams FROM g) "
        f"SELECT DISTINCT doc_id, CAST(win.p AS BIGINT) AS pos, win.h AS fh "
        f"FROM wn WHERE pos <= n_grams - {w} ORDER BY doc_id, pos"
    )


NS_ORACLES["ns_winnowing"] = _winnowing_sql()


NS_ORACLES["ns_heavy_hitters"] = (
    f"WITH t AS (SELECT unnest({TOKS}) AS tok FROM documents) "
    "SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY tok "
    "HAVING COUNT(*) >= 200 ORDER BY n DESC, tok"
)


_C4_KEEP = (
    "x -> regexp_matches(trim(replace(x, chr(13), ''), ' '), '[.!?\"]$') "
    "AND len(string_split_regex(trim(replace(x, chr(13), ''), ' '), "
    "'[ \\t\\n\\x0B\\f\\r]+')) >= 3 "
    "AND NOT contains(lower(trim(replace(x, chr(13), ''), ' ')), 'javascript') "
    "AND NOT contains(trim(replace(x, chr(13), ''), ' '), '{')"
)
NS_ORACLES["ns_line_filter"] = (
    "WITH l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents), "
    f"k AS (SELECT doc_id, ls, list_filter(ls, {_C4_KEEP}) AS kept FROM l) "
    "SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines, "
    "CAST(len(kept) AS BIGINT) AS n_kept, "
    "COALESCE(array_to_string(kept, chr(10)), '') AS clean_text, "
    "len(kept) >= 1 AS doc_kept FROM k ORDER BY doc_id"
)


NS_ORACLES["ns_chunk_dedup"] = (
    f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id <= 200), "
    "tok AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM ("
    "SELECT doc_id, unnest(list_transform(range(len(toks)), "
    "i -> struct_pack(pos := i, tok := toks[i+1]))) AS s FROM t)), "
    "b AS (SELECT doc_id, pos, tok, CASE WHEN pos = 0 OR "
    + _hash_sql("tok", "cdc")
    + " % 16 = 0 THEN 1 ELSE 0 END AS nb FROM tok), "
    "c AS (SELECT doc_id, pos, tok, CAST(SUM(nb) OVER (PARTITION BY doc_id "
    "ORDER BY pos) AS BIGINT) AS chunk_id FROM b), "
    "ch AS (SELECT doc_id, chunk_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS fp, "
    "COUNT(*) AS n_tok FROM c GROUP BY doc_id, chunk_id) "
    "SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_occ, "
    "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, "
    "CAST(MIN(doc_id * 1000000 + chunk_id) AS BIGINT) AS keeper, "
    "CAST(MIN(n_tok) AS BIGINT) AS n_tokens, "
    "COUNT(*) >= 2 AS is_dup FROM ch GROUP BY fp ORDER BY fp"
)



def _filter_funnel_sql() -> str:
    cluster_core = (
        f"edges AS (SELECT d1 AS src, d2 AS dst FROM mh "
        "UNION ALL SELECT d2, d1 FROM mh), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "reach(node, r) AS (SELECT node, node FROM nodes "
        "UNION SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.node), "
        "clusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node), "
        "dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)"
    )
    return (
        f"WITH RECURSIVE mh AS ({_minhash_sql()}), {cluster_core}, "
        f"qual AS (SELECT * FROM ({NS_ORACLES['ns_text_quality']})), "
        f"rep AS (SELECT * FROM ({NS_ORACLES['ns_repetition_filter']})), "
        f"clf AS (SELECT * FROM ({NS_ORACLES['ns_quality_classifier']})), "
        "s1 AS (SELECT doc_id FROM qual WHERE quality >= 0.5 AND n_tokens >= 50), "
        "s2 AS (SELECT doc_id FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)), "
        "s3 AS (SELECT s2.doc_id FROM s2 JOIN rep USING (doc_id) WHERE rep.keep), "
        "s4 AS (SELECT s3.doc_id FROM s3 JOIN clf USING (doc_id) WHERE clf.keep) "
        "SELECT CAST(0 AS BIGINT) AS stage, 'total' AS stage_name, "
        "CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs "
        "UNION ALL SELECT 1, 'quality', (SELECT COUNT(*) FROM s1) "
        "UNION ALL SELECT 2, 'dedup', (SELECT COUNT(*) FROM s2) "
        "UNION ALL SELECT 3, 'repetition', (SELECT COUNT(*) FROM s3) "
        "UNION ALL SELECT 4, 'classifier', (SELECT COUNT(*) FROM s4) "
        "ORDER BY stage"
    )


NS_ORACLES["ns_filter_funnel"] = _filter_funnel_sql()


def _gate_agreement_sql() -> str:
    """Cohen's kappa between the heuristic and classifier gates —
    confusion counts as HUGEINT, po/pe/kappa via the portable divr
    spelling (kappa NULL when pe = 1)."""
    from cassandra_extractor_spark.operators.relational import divr_sql

    return (
        f"WITH qual AS (SELECT * FROM ({NS_ORACLES['ns_text_quality']})), "
        f"clf AS (SELECT * FROM ({NS_ORACLES['ns_quality_classifier']})), "
        "ga AS (SELECT doc_id FROM qual WHERE quality >= 0.5 AND n_tokens >= 50), "
        "gb AS (SELECT doc_id FROM clf WHERE keep), "
        "flags AS (SELECT d.doc_id, "
        "(ga.doc_id IS NOT NULL) AS a_keep, (gb.doc_id IS NOT NULL) AS b_keep "
        "FROM documents d LEFT JOIN ga ON d.doc_id = ga.doc_id "
        "LEFT JOIN gb ON d.doc_id = gb.doc_id), "
        "conf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(CASE WHEN a_keep AND b_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep, "
        "CAST(SUM(CASE WHEN a_keep AND NOT b_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_heuristic_only, "
        "CAST(SUM(CASE WHEN NOT a_keep AND b_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_classifier_only, "
        "CAST(SUM(CASE WHEN NOT a_keep AND NOT b_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop "
        "FROM flags), "
        "m AS (SELECT *, "
        "CAST(n_both_keep AS HUGEINT) + n_both_drop AS po_num, "
        "(CAST(n_both_keep AS HUGEINT) + n_heuristic_only) * "
        "(CAST(n_both_keep AS HUGEINT) + n_classifier_only) + "
        "(CAST(n_both_drop AS HUGEINT) + n_classifier_only) * "
        "(CAST(n_both_drop AS HUGEINT) + n_heuristic_only) AS pe_num, "
        "CAST(n_docs AS HUGEINT) * n_docs AS nn FROM conf), "
        "k AS (SELECT *, CAST(n_docs AS HUGEINT) * po_num - pe_num AS knum, "
        "nn - pe_num AS kden FROM m) "
        "SELECT n_docs, n_both_keep, n_heuristic_only, n_classifier_only, "
        "n_both_drop, "
        f"CAST({divr_sql('po_num * 1000000', 'n_docs', '//')} AS BIGINT) AS po_ppm, "
        f"CAST({divr_sql('pe_num * 1000000', 'nn', '//')} AS BIGINT) AS pe_ppm, "
        "CASE WHEN kden > 0 THEN "
        f"CAST({divr_sql('knum * 1000000', 'kden', '//')} AS DOUBLE) "
        "/ CAST(1000000.0 AS DOUBLE) END AS kappa FROM k"
    )


NS_ORACLES["ns_gate_agreement"] = _gate_agreement_sql()


def _neardup_editdist_sql() -> str:
    """Edit-distance verify of the LSH candidates — integer sim_ppm via
    truncating div; DuckDB's levenshtein matches Spark's exactly.  The
    Spark side runs the THRESHOLDED ``levenshtein(t1, t2, maxlen div
    5)`` (early-exit −1 above the verification bound); DuckDB has no
    thresholded form, so the cap is replicated algebraically from the
    full distance: Spark returns −1 ⟺ lev > floor(maxlen/5) ⟺
    5·lev > maxlen."""
    return (
        f"WITH mh AS ({_minhash_sql()}), "
        "j AS (SELECT mh.d1, mh.d2, COALESCE(a.text, '') AS t1, "
        "COALESCE(b.text, '') AS t2 "
        "FROM mh JOIN documents a ON a.doc_id = mh.d1 "
        "JOIN documents b ON b.doc_id = mh.d2), "
        "s AS (SELECT d1, d2, "
        "CAST(levenshtein(t1, t2) AS BIGINT) AS lev_full, "
        "CAST(greatest(length(t1), length(t2)) AS BIGINT) AS max_len FROM j), "
        "m AS (SELECT d1, d2, "
        "CASE WHEN lev_full * 5 > max_len THEN CAST(-1 AS BIGINT) "
        "ELSE lev_full END AS edit_dist, max_len, "
        "CASE WHEN lev_full * 5 > max_len THEN CAST(-1 AS BIGINT) "
        "WHEN max_len = 0 THEN CAST(1000000 AS BIGINT) "
        "ELSE CAST((max_len - lev_full) * 1000000 // max_len AS BIGINT) END "
        "AS sim_ppm FROM s) "
        "SELECT d1, d2, edit_dist, max_len, sim_ppm, "
        "edit_dist >= 0 AS verified_dup "
        "FROM m ORDER BY d1, d2"
    )


NS_ORACLES["ns_neardup_editdist"] = _neardup_editdist_sql()


NS_ORACLES["ns_dup_ngram_coverage"] = (
    f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
    "g AS (SELECT DISTINCT doc_id, unnest(list_transform(range(len(toks) - 2), "
    "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh "
    "FROM t WHERE len(toks) >= 3), "
    "c AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS nd FROM g GROUP BY sh), "
    "p AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, "
    "CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams "
    "FROM g JOIN c USING (sh) GROUP BY doc_id) "
    "SELECT doc_id, n_grams, n_dup_grams, "
    "n_dup_grams * 10 >= n_grams * 3 AS dup_heavy "
    "FROM p ORDER BY doc_id"
)


NS_ORACLES["ns_embedding_audit"] = (
    "WITH v AS (SELECT label, len(embedding) AS dim, "
    "CAST(round(sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), "
    "x -> x * x), (x, y) -> x + y)) * 1000000.0) AS BIGINT) AS nrm_u "
    "FROM embeddings) "
    "SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, "
    "CAST(MIN(dim) AS BIGINT) AS dim_min, CAST(MAX(dim) AS BIGINT) AS dim_max, "
    "MIN(nrm_u) AS norm_micro_min, MAX(nrm_u) AS norm_micro_max, "
    "CAST(SUM(nrm_u) AS BIGINT) AS norm_micro_sum, "
    "CAST(SUM(CASE WHEN nrm_u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm "
    "FROM v GROUP BY label ORDER BY label"
)


def _skew_profile_sql(key_name: str, table: str, col: str) -> str:
    return (
        f"SELECT '{key_name}' AS key, CAST(COUNT(*) AS BIGINT) AS n_keys, "
        "CAST(SUM(cnt) AS BIGINT) AS n_rows, MAX(cnt) AS max_cnt, "
        "quantile_disc(cnt, 0.5) AS p50_cnt, quantile_disc(cnt, 0.99) AS p99_cnt "
        f"FROM (SELECT {col}, CAST(COUNT(*) AS BIGINT) AS cnt "
        f"FROM {table} GROUP BY {col})"
    )


NS_ORACLES["ns_skew_audit"] = (
    "SELECT * FROM ("
    + _skew_profile_sql("events.user_id", "events", "user_id")
    + " UNION ALL "
    + _skew_profile_sql("events.event_type", "events", "event_type")
    + " UNION ALL "
    + _skew_profile_sql("orders.o_custkey", "orders", "o_custkey")
    + " UNION ALL "
    + _skew_profile_sql("lineitem.l_orderkey", "lineitem", "l_orderkey")
    + ") ORDER BY key"
)


NS_ORACLES["ns_ann_recall"] = (
    f"WITH brute AS ({NS_ORACLES['ns_ann_cosine_topk']}), "
    f"approx AS ({NS_ORACLES['ns_ann_ivf']}), "
    "per AS (SELECT b.q_id, CAST(COUNT(*) AS BIGINT) AS k, "
    "CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM approx a "
    "WHERE a.q_id = b.q_id AND a.n_id = b.n_id) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits "
    "FROM brute b GROUP BY b.q_id) "
    "SELECT q_id, k, n_hits, "
    "CAST(floor(n_hits * 100 / k) AS BIGINT) AS recall_pct "
    "FROM per ORDER BY q_id"
)

NS_ORACLES["ns_ann_ivfpq_recall"] = (
    f"WITH brute AS ({NS_ORACLES['ns_ann_cosine_topk']}), "
    f"approx AS ({NS_ORACLES['ns_ann_ivfpq']}), "
    "per AS (SELECT b.q_id, CAST(COUNT(*) AS BIGINT) AS k, "
    "CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM approx a "
    "WHERE a.q_id = b.q_id AND a.n_id = b.n_id) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits "
    "FROM brute b GROUP BY b.q_id) "
    "SELECT q_id, k, n_hits, "
    "CAST(floor(n_hits * 100 / k) AS BIGINT) AS recall_pct "
    "FROM per ORDER BY q_id"
)


def _minhash_calibration_sql() -> str:
    from cassandra_extractor_spark.operators.dedup import MH_MOD

    sig_cols = ", ".join(
        f"MIN((h1 + {s} * h2) % {MH_MOD}) AS mh{s}" for s in range(NUM_PERM)
    )
    matches = " + ".join(
        f"(CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END)" for s in range(NUM_PERM)
    )
    return (
        f"WITH d AS (SELECT doc_id, {TOKS} AS toks "
        "FROM documents WHERE doc_id < 200), "
        "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(len(toks) - 2), "
        "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh "
        "FROM d WHERE len(toks) >= 3), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i "
        "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "pairs AS (SELECT d1, d2, CAST(floor(i * 100 / (sa.n + sb.n - i)) AS BIGINT) AS exact_pct "
        "FROM inter JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2 "
        "WHERE CAST(floor(i * 100 / (sa.n + sb.n - i)) AS BIGINT) >= 1), "
        "hashed AS (SELECT doc_id, "
        "CAST(concat('0x', substr(md5(t), 1, 10)) AS BIGINT) AS h1, "
        "CAST(concat('0x', substr(md5(t), 11, 10)) AS BIGINT) AS h2 "
        "FROM (SELECT doc_id, unnest(list_transform(range(len(toks) - 2), "
        "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS t "
        "FROM d WHERE len(toks) >= 3)), "
        f"sig AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id) "
        f"SELECT d1, d2, exact_pct, CAST(floor(({matches}) * 100 / {NUM_PERM}) AS BIGINT) AS est_pct, "
        f"CAST(abs(CAST(floor(({matches}) * 100 / {NUM_PERM}) AS BIGINT) - exact_pct) AS BIGINT) AS err_pct "
        "FROM pairs JOIN sig a ON a.doc_id = d1 JOIN sig b ON b.doc_id = d2 "
        "ORDER BY d1, d2"
    )


NS_ORACLES["ns_minhash_calibration"] = _minhash_calibration_sql()


def _lsh_recall_sql() -> str:
    from cassandra_extractor_spark.operators.dedup import LSH_RECALL_MIN_PCT

    return (
        f"WITH mh AS ({_minhash_sql()}), "
        f"d AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id < 200), "
        "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(len(toks) - 2), "
        "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS sh "
        "FROM d WHERE len(toks) >= 3), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i "
        "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "pairs AS (SELECT d1, d2, "
        "CAST(floor(i * 100 / (sa.n + sb.n - i)) AS BIGINT) AS exact_pct "
        "FROM inter JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2 "
        f"WHERE CAST(floor(i * 100 / (sa.n + sb.n - i)) AS BIGINT) >= {LSH_RECALL_MIN_PCT}), "
        "banded AS (SELECT CAST(least(exact_pct // 10, 9) * 10 AS BIGINT) AS band_lo, "
        "CASE WHEN EXISTS (SELECT 1 FROM mh WHERE mh.d1 = pairs.d1 AND mh.d2 = pairs.d2) "
        "THEN 1 ELSE 0 END AS hit FROM pairs) "
        "SELECT band_lo, CAST(COUNT(*) AS BIGINT) AS n_pairs, "
        "CAST(SUM(hit) AS BIGINT) AS n_caught, "
        "CAST(floor(SUM(hit) * 100 / COUNT(*)) AS BIGINT) AS recall_pct "
        "FROM banded GROUP BY band_lo ORDER BY band_lo"
    )


NS_ORACLES["ns_lsh_recall"] = _lsh_recall_sql()

NS_ORACLES["ns_source_dedup_matrix"] = (
    f"WITH mh AS ({_minhash_sql()}) "
    "SELECT least(a.source, b.source) AS source_a, "
    "greatest(a.source, b.source) AS source_b, "
    "CAST(COUNT(*) AS BIGINT) AS n_pairs "
    "FROM mh JOIN documents a ON a.doc_id = mh.d1 "
    "JOIN documents b ON b.doc_id = mh.d2 "
    "GROUP BY 1, 2 ORDER BY source_a, source_b"
)


NS_ORACLES["ns_winsorize"] = (
    "WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents "
    "FROM events), "
    "b AS (SELECT event_type, quantile_disc(cents, 0.01) AS lo, "
    "quantile_disc(cents, 0.99) AS hi FROM e GROUP BY event_type) "
    "SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low, "
    "CAST(SUM(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high, "
    "MIN(lo) AS lo_cents, MIN(hi) AS hi_cents, "
    "CAST(SUM(greatest(lo, least(hi, cents))) AS BIGINT) AS sum_winsorized_cents "
    "FROM e JOIN b ON e.event_type = b.event_type "
    "GROUP BY e.event_type ORDER BY e.event_type"
)


# --- round-5 operators --------------------------------------------------

from cassandra_extractor_spark.operators.text import BPE_TOP_PAIRS  # noqa: E402
from cassandra_extractor_spark.operators.extraction import (  # noqa: E402
    ASSOC_MIN_SUPPORT,
    ASSOC_TOP,
)
from cassandra_extractor_spark.operators.similarity import (  # noqa: E402
    IDCG_AT_K,
    NDCG_DISCOUNT,
)

NS_ORACLES["ns_bpe_pair_counts"] = (
    f"WITH words AS (SELECT unnest({TOKS}) AS w FROM documents), "
    "fw AS (SELECT w FROM words WHERE regexp_full_match(w, '^[a-z]+$')), "
    "vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM fw GROUP BY w), "
    "sp AS (SELECT cnt, substring(w, i, 1) AS a, "
    "CASE WHEN i < len(w) THEN substring(w, i + 1, 1) ELSE '</w>' END AS b "
    "FROM (SELECT w, cnt, unnest(generate_series(1, len(w))) AS i FROM vocab)), "
    "counted AS (SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_count "
    "FROM sp GROUP BY a, b), "
    "r AS (SELECT a, b, pair_count, CAST(ROW_NUMBER() OVER "
    "(ORDER BY pair_count DESC, a, b) AS BIGINT) AS rank FROM counted) "
    f"SELECT a, b, pair_count, rank FROM r WHERE rank <= {BPE_TOP_PAIRS} "
    "ORDER BY rank"
)

NS_ORACLES["ns_assoc_rules"] = (
    "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
    "no AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items), "
    "supp AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c "
    "FROM items GROUP BY l_partkey), "
    "pc AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, "
    "CAST(COUNT(*) AS BIGINT) AS c12 FROM items a "
    "JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
    f"GROUP BY 1, 2 HAVING COUNT(*) >= {ASSOC_MIN_SUPPORT}), "
    "j AS (SELECT p1, p2, c12, s1.c AS c1, s2.c AS c2, "
    "round(CAST(c12 AS DOUBLE) * CAST(n_orders AS DOUBLE) / "
    "(CAST(s1.c AS DOUBLE) * CAST(s2.c AS DOUBLE)), 6) AS lift "
    "FROM pc JOIN supp s1 ON s1.l_partkey = p1 "
    "JOIN supp s2 ON s2.l_partkey = p2 CROSS JOIN no), "
    "r AS (SELECT p1, p2, c12, c1, c2, lift, CAST(ROW_NUMBER() OVER "
    "(ORDER BY lift DESC, p1, p2) AS BIGINT) AS rank FROM j) "
    f"SELECT p1, p2, c12, c1, c2, lift, rank FROM r WHERE rank <= {ASSOC_TOP} "
    "ORDER BY rank"
)

NS_ORACLES["ns_pca_power_iter"] = (
    "WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings "
    f"WHERE {_cosine_defined_sql('CAST(embedding AS DOUBLE[])')}), "
    "te AS (SELECT emb, list_reduce(emb, (x, y) -> x + y) AS t FROM e), "
    "ex AS (SELECT i AS dim, emb[i] * t AS contrib FROM "
    "(SELECT emb, t, unnest(generate_series(1, len(emb))) AS i FROM te)), "
    "pd AS (SELECT CAST(dim AS BIGINT) AS dim, "
    "CAST(SUM(CAST(contrib AS DECIMAL(38,18))) AS DOUBLE) AS w FROM ex GROUP BY dim), "
    "st AS (SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)) AS nrm, "
    "MIN(CASE WHEN dim = 1 THEN w END) AS w1 FROM pd) "
    "SELECT dim, round((CASE WHEN w1 < 0 THEN -w ELSE w END) / nrm, 6) + CAST(0.0 AS DOUBLE) AS loading "
    "FROM pd, st ORDER BY dim"
)

_NDCG_DISC_CASE = (
    "CASE rank "
    + " ".join(
        f"WHEN {i} THEN CAST({v!r} AS DOUBLE)" for i, v in NDCG_DISCOUNT.items()
    )
    + " END"
)

NS_ORACLES["ns_ranking_ndcg"] = (
    f"WITH exact AS ({NS_ORACLES['ns_ann_cosine_topk']}), "
    f"sys AS ({NS_ORACLES['ns_ann_ivf']}), "
    "j AS (SELECT s.q_id, s.rank, CASE WHEN EXISTS (SELECT 1 FROM exact e "
    "WHERE e.q_id = s.q_id AND e.n_id = s.n_id) THEN 1 ELSE 0 END AS rel "
    "FROM sys s), "
    "d AS (SELECT q_id, CAST(SUM(rel) AS BIGINT) AS n_hits, "
    f"CAST(SUM(CAST(rel * ({_NDCG_DISC_CASE}) AS DECIMAL(38,18))) AS DOUBLE) AS dcg "
    "FROM j GROUP BY q_id) "
    f"SELECT q_id, n_hits, round(dcg / CAST({IDCG_AT_K!r} AS DOUBLE), 6) AS ndcg "
    "FROM d ORDER BY q_id"
)

NS_ORACLES["ns_cluster_size_hist"] = (
    # dedup-audit histogram over the cluster map; singletons = docs in
    # no candidate pair (graph members have size >= 2 by construction)
    f"WITH cl AS ({NS_ORACLES['ns_dedup_clusters']}), "
    "sizes AS (SELECT cluster_id, COUNT(*) AS size FROM cl GROUP BY cluster_id), "
    "h AS (SELECT CAST(size AS BIGINT) AS size, CAST(COUNT(*) AS BIGINT) AS n_clusters "
    "FROM sizes GROUP BY size), "
    "singles AS (SELECT CAST(1 AS BIGINT) AS size, "
    "CAST((SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM cl) AS BIGINT) "
    "AS n_clusters), "
    "u AS (SELECT * FROM h UNION ALL SELECT * FROM singles WHERE n_clusters > 0) "
    "SELECT size AS cluster_size, n_clusters, "
    "CAST(size * n_clusters AS BIGINT) AS n_docs FROM u ORDER BY cluster_size"
)

NS_ORACLES["ns_cluster_canonical"] = (
    f"WITH cl AS ({NS_ORACLES['ns_dedup_clusters']}), "
    "j AS (SELECT cl.doc_id, cl.cluster_id, d.n_chars FROM cl "
    "JOIN documents d USING (doc_id)), "
    "r AS (SELECT doc_id, cluster_id, ROW_NUMBER() OVER "
    "(PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn FROM j), "
    "canon AS (SELECT cluster_id, doc_id AS canonical_id FROM r WHERE rn = 1) "
    "SELECT r.doc_id, r.cluster_id, c.canonical_id, "
    "r.doc_id = c.canonical_id AS is_canonical "
    "FROM r JOIN canon c USING (cluster_id) ORDER BY r.doc_id"
)


from cassandra_extractor_spark.operators.sampling import (  # noqa: E402
    SAMPLE_K_PER_GROUP,
)

NS_ORACLES["ns_sample_k_per_group"] = (
    "WITH d AS (SELECT doc_id, source, "
    "lpad(CAST("
    + _hash_sql("CAST(doc_id AS VARCHAR)", "kpg")
    + " % 1000000000 AS VARCHAR), 9, '0') AS k FROM documents), "
    "r AS (SELECT source, doc_id, CAST(ROW_NUMBER() OVER "
    "(PARTITION BY source ORDER BY k, doc_id) AS BIGINT) AS rank FROM d) "
    f"SELECT source, rank, doc_id FROM r WHERE rank <= {SAMPLE_K_PER_GROUP} "
    "ORDER BY source, rank"
)

NS_ORACLES["ns_embedding_centering"] = (
    "WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
    "ex AS (SELECT label, i AS dim, emb[i] AS val FROM "
    "(SELECT label, emb, unnest(generate_series(1, len(emb))) AS i FROM e)), "
    "pl AS (SELECT label, dim, SUM(CAST(val AS DECIMAL(38,18))) AS s, "
    "CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY label, dim), "
    "g AS (SELECT dim, CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS gmean "
    "FROM pl GROUP BY dim) "
    "SELECT label, CAST(pl.dim AS BIGINT) AS dim, "
    "round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS label_mean, "
    "round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - gmean, 6) "
    "+ CAST(0.0 AS DOUBLE) AS delta "
    "FROM pl JOIN g ON g.dim = pl.dim ORDER BY label, dim"
)


def _lpa_sql() -> str:
    """Mirror of ``dedup.ns_label_propagation``: the LSH candidate
    graph from ``_minhash_sql`` with LPA_ROUNDS synchronous mode-
    adoption rounds unrolled as CTE pairs (count → windowed argmax
    with the identical (c DESC, lab ASC) tie-break)."""
    from cassandra_extractor_spark.operators.dedup import LPA_ROUNDS

    ctes = [
        "pairs AS (" + _minhash_sql() + ")",
        "edges AS (SELECT d1 AS src, d2 AS dst FROM pairs "
        "UNION ALL SELECT d2 AS src, d1 AS dst FROM pairs)",
        "lab0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges)",
    ]
    prev = "lab0"
    for r in range(1, LPA_ROUNDS + 1):
        ctes.append(
            f"cnt{r} AS (SELECT e.dst AS node, l.lab, COUNT(*) AS c "
            f"FROM edges e JOIN {prev} l ON l.node = e.src GROUP BY 1, 2)"
        )
        ctes.append(
            f"lab{r} AS (SELECT node, lab FROM (SELECT node, lab, "
            "row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn "
            f"FROM cnt{r}) WHERE rn = 1)"
        )
        prev = f"lab{r}"
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT d.doc_id, COALESCE(l.lab, d.doc_id) AS community "
        f"FROM documents d LEFT JOIN {prev} l ON l.node = d.doc_id "
        "ORDER BY d.doc_id"
    )


NS_ORACLES["ns_label_propagation"] = _lpa_sql()


def _jl_sql() -> str:
    """Mirror of ``similarity.ns_random_projection``: per-out-dim sign
    arrays as literal lists, the identical sequential fold
    (list_reduce ≡ aggregate with 0.0 init, bitwise — the PCA
    pattern), one shared 1/√k literal."""
    from cassandra_extractor_spark.operators.similarity import (
        DIM,
        JL_DIMS,
        JL_SCALE,
        _jl_sign,
    )

    def fold(j: int) -> str:
        signs = "[" + ", ".join(
            str(_jl_sign(j, d)) for d in range(1, DIM + 1)
        ) + "]"
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(list_zip(emb, list_slice({signs}, 1, len(emb))), "
            "s -> s[1] * s[2])), (a, b) -> a + b)"
        )

    ps = "[" + ", ".join(fold(j) for j in range(JL_DIMS)) + "]"
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        "FROM embeddings), "
        f"p AS (SELECT vec_id, {ps} AS ps FROM e), "
        "u AS (SELECT vec_id, unnest(generate_series(1, len(ps))) AS i, ps FROM p) "
        "SELECT vec_id, CAST(i - 1 AS BIGINT) AS out_dim, "
        f"round(ps[i] * CAST({JL_SCALE!r} AS DOUBLE), 6) + CAST(0.0 AS DOUBLE) AS proj "
        "FROM u ORDER BY vec_id, out_dim"
    )


NS_ORACLES["ns_random_projection"] = _jl_sql()


def _probe_sql() -> str:
    from cassandra_extractor_spark.operators.similarity import PROBE_LR

    lr2 = f"CAST({2.0 * PROBE_LR!r} AS DOUBLE)"
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, "
        "CASE WHEN label = 0 THEN 1 ELSE 0 END AS y FROM embeddings), "
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM e), "
        "ex AS (SELECT vec_id, y, i AS dim, emb[i] AS x FROM "
        "(SELECT vec_id, y, emb, unnest(generate_series(1, len(emb))) AS i FROM e)), "
        "w1 AS (SELECT dim, round(CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) "
        f"* {lr2} / CAST(n_rows AS DOUBLE), 6) + CAST(0.0 AS DOUBLE) AS w1 "
        "FROM ex, n GROUP BY dim, n_rows), "
        "pred AS (SELECT vec_id, "
        "CAST(SUM(CAST(x * w1 AS DECIMAL(38,18))) AS DOUBLE) AS pred "
        "FROM ex JOIN w1 USING (dim) GROUP BY vec_id), "
        "resid AS (SELECT e.vec_id, pred - y AS r FROM e JOIN pred USING (vec_id)), "
        "g1 AS (SELECT dim, CAST(SUM(CAST(x * r AS DECIMAL(38,18))) AS DOUBLE) AS g1 "
        "FROM ex JOIN resid USING (vec_id) GROUP BY dim) "
        "SELECT CAST(dim AS BIGINT) AS dim, w1, "
        f"round(w1 - g1 * {lr2} / CAST(n_rows AS DOUBLE), 6) "
        "+ CAST(0.0 AS DOUBLE) AS w2 "
        "FROM g1 JOIN w1 USING (dim), n ORDER BY dim"
    )


NS_ORACLES["ns_linear_probe_step"] = _probe_sql()


def _cms_sql() -> str:
    """Mirror of ``text.ns_cms_estimate``: per-row md5-salted buckets
    emitted as UNION ALL arms, min-over-rows estimate for the exact
    top-k tokens."""
    from cassandra_extractor_spark.operators.text import CMSQ_ROWS, CMSQ_TOP, CMSQ_WIDTH

    tok_hash = lambda r: _hash_sql("tok", f"cms{r}") + f" % {CMSQ_WIDTH}"
    cell_arms = " UNION ALL ".join(
        f"SELECT {r} AS r, {tok_hash(r)} AS b FROM toks" for r in range(CMSQ_ROWS)
    )
    probe_arms = " UNION ALL ".join(
        f"SELECT tok, true_n, {r} AS r, {tok_hash(r)} AS b FROM top"
        for r in range(CMSQ_ROWS)
    )
    return (
        f"WITH toks AS (SELECT unnest({TOKS}) AS tok FROM documents), "
        f"cells AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM ({cell_arms}) "
        "GROUP BY r, b), "
        "top AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_n FROM toks "
        f"GROUP BY tok ORDER BY true_n DESC, tok LIMIT {CMSQ_TOP}), "
        f"probes AS ({probe_arms}) "
        "SELECT tok, true_n, MIN(cnt) AS est_n "
        "FROM probes JOIN cells USING (r, b) "
        "GROUP BY tok, true_n ORDER BY true_n DESC, tok"
    )


NS_ORACLES["ns_cms_estimate"] = _cms_sql()

NS_ORACLES["ns_bigram_lm"] = (
    f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
    "bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM "
    "(SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM t)), "
    "bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2), "
    "uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM "
    "(SELECT unnest(toks) AS w1 FROM t) GROUP BY 1), "
    "vc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni), "
    "sc AS (SELECT doc_id, CAST(ln(CAST(c12 + 1 AS DOUBLE) "
    "/ CAST(c1 + v AS DOUBLE)) AS DECIMAL(38,18)) AS lp "
    "FROM bg JOIN bgc USING (w1, w2) JOIN uni USING (w1), vc) "
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
    "round(CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_logprob "
    "FROM sc GROUP BY doc_id ORDER BY doc_id"
)


def _hll_sql() -> str:
    from cassandra_extractor_spark.operators.text import (
        HLL_ALPHA,
        HLL_BUCKETS,
        HLL_VALUE_BITS,
    )

    p52 = 2 ** HLL_VALUE_BITS
    raw = (
        f"CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_BUCKETS)!r} AS DOUBLE) "
        f"* CAST({float(HLL_BUCKETS)!r} AS DOUBLE) * CAST({float(p52)!r} AS DOUBLE) "
        "/ CAST(ssum AS DOUBLE)"
    )
    # linear-counting small-range correction (mirrors the Spark branch)
    est = (
        f"(CASE WHEN ({raw}) <= CAST({2.5 * HLL_BUCKETS!r} AS DOUBLE) "
        f"AND ({HLL_BUCKETS} - n_hit) > 0 THEN "
        f"CAST({float(HLL_BUCKETS)!r} AS DOUBLE) * ln("
        f"CAST({float(HLL_BUCKETS)!r} AS DOUBLE) "
        f"/ CAST({HLL_BUCKETS} - n_hit AS DOUBLE)) ELSE ({raw}) END)"
    )
    return (
        f"WITH toks AS (SELECT unnest({TOKS}) AS tok FROM documents), "
        f"hs AS (SELECT {_hash_sql('tok', 'hll')} AS h FROM toks), "
        f"r AS (SELECT h % {HLL_BUCKETS} AS bucket, h // {HLL_BUCKETS} AS v FROM hs), "
        f"rho AS (SELECT bucket, CASE WHEN v > 0 THEN {HLL_VALUE_BITS + 1} "
        f"- length(printf('%b', v)) ELSE {HLL_VALUE_BITS + 1} END AS rho FROM r), "
        "regs AS (SELECT bucket, MAX(rho) AS m FROM rho GROUP BY bucket), "
        "nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit FROM regs), "
        "s AS (SELECT n_hit, SUM(CAST(power(2.0, "
        f"CAST({HLL_VALUE_BITS} - m AS DOUBLE)) AS HUGEINT)) "
        f"+ ({HLL_BUCKETS} - n_hit) * CAST({p52} AS HUGEINT) AS ssum "
        "FROM regs, nh GROUP BY n_hit), "
        "ex AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact FROM toks) "
        f"SELECT CAST({HLL_BUCKETS} AS BIGINT) AS m_registers, n_exact, "
        f"round({est}, 2) AS hll_est, "
        f"round({est} / CAST(n_exact AS DOUBLE) - 1.0, 4) AS rel_err "
        "FROM s, ex"
    )


NS_ORACLES["ns_hll_manual"] = _hll_sql()


def _novelty_sql() -> str:
    from cassandra_extractor_spark.operators.relational import divr_sql
    from cassandra_extractor_spark.operators.text import NOVELTY_N

    gram = "concat_ws(' ', " + ", ".join(
        f"toks[i + {k}]" for k in range(NOVELTY_N)
    ) + ")"
    return (
        f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
        f"g AS (SELECT DISTINCT doc_id, {gram} AS gram FROM "
        "(SELECT doc_id, toks, "
        f"unnest(generate_series(1, len(toks) - {NOVELTY_N - 1})) AS i "
        f"FROM t WHERE len(toks) >= {NOVELTY_N})), "
        "f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram), "
        "pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, "
        "CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_novel FROM g JOIN f USING (gram) GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams, "
        "COALESCE(n_novel, 0) AS n_novel, "
        "CASE WHEN COALESCE(n_grams, 0) > 0 THEN "
        f"CAST({divr_sql('n_novel * 10000', 'n_grams', '//')} AS DOUBLE) "
        "/ CAST(10000.0 AS DOUBLE) END AS novelty "
        "FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id"
    )


NS_ORACLES["ns_ngram_novelty"] = _novelty_sql()


def _span_sql() -> str:
    from cassandra_extractor_spark.operators.text import SPAN_MASK_PCT

    def mask(iexpr: str) -> str:
        key = f"concat(CAST(doc_id AS VARCHAR), '#', CAST({iexpr} AS VARCHAR))"
        return f"({_hash_sql(key, 'span')} % 100 < {SPAN_MASK_PCT})"

    return (
        f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
        "pos AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, "
        "unnest(generate_series(1, len(toks))) AS i FROM t), "
        "m AS (SELECT doc_id, n_tokens, "
        f"CASE WHEN {mask('i')} THEN 1 ELSE 0 END AS is_masked, "
        f"CASE WHEN {mask('i')} AND NOT (i > 1 AND {mask('i - 1')}) "
        "THEN 1 ELSE 0 END AS is_start FROM pos) "
        "SELECT doc_id, n_tokens, "
        "CAST(SUM(is_masked) AS BIGINT) AS n_masked, "
        "CAST(SUM(is_start) AS BIGINT) AS n_spans "
        "FROM m GROUP BY doc_id, n_tokens ORDER BY doc_id"
    )


NS_ORACLES["ns_span_corruption"] = _span_sql()


def _dp_noise_sql() -> str:
    from cassandra_extractor_spark.operators.sampling import DP_EPSILON, DP_U_MOD

    return (
        "WITH c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM events GROUP BY 1), "
        f"u AS (SELECT event_type, n, CAST(({_hash_sql('event_type', 'dp')} "
        f"% {DP_U_MOD} + 1) AS DOUBLE) / CAST({float(DP_U_MOD + 2)!r} AS DOUBLE) "
        "AS u FROM c) "
        "SELECT event_type, n, round(n + ("
        f"CAST({-1.0 / DP_EPSILON!r} AS DOUBLE) * sign(u - CAST(0.5 AS DOUBLE)) "
        "* ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) "
        "* abs(u - CAST(0.5 AS DOUBLE)))), 6) AS noisy_n "
        "FROM u ORDER BY event_type"
    )


NS_ORACLES["ns_dp_noise"] = _dp_noise_sql()


def _neyman_sql() -> str:
    from cassandra_extractor_spark.operators.sampling import NEYMAN_BUDGET

    var = (
        "((CAST(n_h AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) "
        "/ (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - CAST(1.0 AS DOUBLE))))"
    )
    return (
        "WITH base AS (SELECT event_type, "
        "CAST(round(value * 100) AS BIGINT) AS x "
        "FROM events WHERE value IS NOT NULL), "
        "agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_h, "
        "SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(x * x AS HUGEINT)) AS sxx "
        "FROM base GROUP BY 1), "
        "w AS (SELECT event_type, n_h, CAST(n_h AS DOUBLE) * "
        f"(CASE WHEN n_h >= 2 AND {var} > 0 THEN sqrt({var}) "
        "ELSE CAST(0.0 AS DOUBLE) END) AS w FROM agg), "
        "tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list(w ORDER BY event_type)), (a, b) -> a + b) AS wtot FROM w) "
        "SELECT event_type, n_h, "
        "round(w / CAST(100.0 AS DOUBLE), 6) AS weight, "
        "CASE WHEN wtot > 0 THEN "
        f"CAST(floor(CAST({float(NEYMAN_BUDGET)!r} AS DOUBLE) * w "
        "/ CAST(wtot AS DOUBLE)) AS BIGINT) ELSE 0 END AS alloc "
        "FROM w, tot ORDER BY event_type"
    )


NS_ORACLES["ns_neyman_allocation"] = _neyman_sql()


def _mi_sql() -> str:
    from cassandra_extractor_spark.operators.similarity import MI_TOP

    def term(nij: str, ni: str, nj: str) -> str:
        return (
            f"CASE WHEN {nij} > 0 THEN CAST({nij} AS DOUBLE) / CAST(n AS DOUBLE) "
            f"* ln(CAST({nij} AS DOUBLE) * CAST(n AS DOUBLE) "
            f"/ (CAST({ni} AS DOUBLE) * CAST({nj} AS DOUBLE))) "
            "ELSE CAST(0.0 AS DOUBLE) END"
        )

    mi = " + ".join(
        [
            term("n11", "n11 + n10", "n11 + n01"),
            term("n10", "n11 + n10", "n10 + n00"),
            term("n01", "n01 + n00", "n11 + n01"),
            term("n00", "n01 + n00", "n10 + n00"),
        ]
    )
    return (
        "WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb, "
        "CASE WHEN label = 0 THEN 1 ELSE 0 END AS y FROM embeddings), "
        "ex AS (SELECT i AS dim, y, emb[i] > 0 AS s FROM "
        "(SELECT emb, y, unnest(generate_series(1, len(emb))) AS i FROM e)), "
        "cells AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CASE WHEN s AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11, "
        "CAST(SUM(CASE WHEN s AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10, "
        "CAST(SUM(CASE WHEN NOT s AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01, "
        "CAST(SUM(CASE WHEN NOT s AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00 "
        "FROM ex GROUP BY dim) "
        "SELECT CAST(dim AS BIGINT) AS dim, n11, n10, n01, n00, "
        f"round({mi}, 8) + CAST(0.0 AS DOUBLE) AS mi "
        f"FROM cells ORDER BY mi DESC, dim LIMIT {MI_TOP}"
    )


NS_ORACLES["ns_mi_feature_select"] = _mi_sql()


def _hll_setops_sql() -> str:
    from cassandra_extractor_spark.operators.text import (
        HLL_ALPHA,
        HLL_BUCKETS,
        HLL_VALUE_BITS,
        HLLU_A,
        HLLU_B,
    )

    p52 = 2 ** HLL_VALUE_BITS

    def stat(mcol: str, tag: str) -> str:
        return (
            f"SUM(CASE WHEN {mcol} IS NOT NULL THEN CAST(power(2.0, "
            f"CAST({HLL_VALUE_BITS} - {mcol} AS DOUBLE)) AS HUGEINT) END) AS s_{tag}, "
            f"CAST(COUNT({mcol}) AS BIGINT) AS h_{tag}"
        )

    def est(tag: str) -> str:
        ssum = (
            f"(COALESCE(s_{tag}, CAST(0 AS HUGEINT)) "
            f"+ CAST({HLL_BUCKETS} - h_{tag} AS HUGEINT) "
            f"* CAST({p52} AS HUGEINT))"
        )
        raw = (
            f"(CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_BUCKETS)!r} AS DOUBLE) "
            f"* CAST({float(HLL_BUCKETS)!r} AS DOUBLE) * CAST({float(p52)!r} AS DOUBLE) "
            f"/ CAST({ssum} AS DOUBLE))"
        )
        return (
            f"(CASE WHEN {raw} <= CAST({2.5 * HLL_BUCKETS!r} AS DOUBLE) "
            f"AND ({HLL_BUCKETS} - h_{tag}) > 0 THEN "
            f"CAST({float(HLL_BUCKETS)!r} AS DOUBLE) * ln("
            f"CAST({float(HLL_BUCKETS)!r} AS DOUBLE) "
            f"/ CAST({HLL_BUCKETS} - h_{tag} AS DOUBLE)) ELSE {raw} END)"
        )

    ea, eb, eu = est("a"), est("b"), est("u")
    return (
        f"WITH d AS (SELECT lang, text FROM documents "
        f"WHERE lang IN ('{HLLU_A}', '{HLLU_B}')), "
        "toks AS (SELECT lang, text AS tok FROM d), "
        f"hb AS (SELECT lang, {_hash_sql('tok', 'hll')} % {HLL_BUCKETS} AS bucket, "
        f"{_hash_sql('tok', 'hll')} // {HLL_BUCKETS} AS v FROM toks), "
        f"rho AS (SELECT lang, bucket, CASE WHEN v > 0 THEN {HLL_VALUE_BITS + 1} "
        f"- length(printf('%b', v)) ELSE {HLL_VALUE_BITS + 1} END AS rho FROM hb), "
        f"regs AS (SELECT bucket, "
        f"MAX(CASE WHEN lang = '{HLLU_A}' THEN rho END) AS ma, "
        f"MAX(CASE WHEN lang = '{HLLU_B}' THEN rho END) AS mb "
        "FROM rho GROUP BY bucket), "
        "merged AS (SELECT *, greatest(ma, mb) AS mu FROM regs), "
        f"stats AS (SELECT {stat('ma', 'a')}, {stat('mb', 'b')}, "
        f"{stat('mu', 'u')} FROM merged), "
        "ex AS (SELECT "
        f"CAST(COUNT(DISTINCT CASE WHEN lang = '{HLLU_A}' THEN tok END) AS BIGINT) AS x_a, "
        f"CAST(COUNT(DISTINCT CASE WHEN lang = '{HLLU_B}' THEN tok END) AS BIGINT) AS x_b, "
        "CAST(COUNT(DISTINCT tok) AS BIGINT) AS x_u FROM toks) "
        "SELECT x_a AS exact_a, x_b AS exact_b, x_u AS exact_union, "
        "x_a + x_b - x_u AS exact_inter, "
        f"round({ea}, 2) AS est_a, round({eb}, 2) AS est_b, "
        f"round({eu}, 2) AS est_union, round({ea} + {eb} - {eu}, 2) AS est_inter "
        "FROM stats, ex"
    )


NS_ORACLES["ns_hll_set_ops"] = _hll_setops_sql()


def _simpson_sql() -> str:
    from cassandra_extractor_spark.operators.relational import divr_sql

    return (
        f"WITH tc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n_i "
        f"FROM (SELECT source, unnest({TOKS}) AS tok FROM documents) "
        "GROUP BY 1, 2), "
        "agg AS (SELECT source, CAST(SUM(n_i) AS BIGINT) AS n_tokens, "
        "CAST(COUNT(*) AS BIGINT) AS n_types, "
        "SUM(CAST(n_i * (n_i - 1) AS HUGEINT)) AS pairs FROM tc GROUP BY 1), "
        "m AS (SELECT *, CASE WHEN n_tokens >= 2 THEN "
        "CAST(n_tokens AS HUGEINT) * (n_tokens - 1) "
        "ELSE CAST(1 AS HUGEINT) END AS den FROM agg) "
        "SELECT source, n_tokens, n_types, CASE WHEN n_tokens >= 2 THEN "
        "CAST(1.0 AS DOUBLE) - "
        f"CAST({divr_sql('pairs * 1000000', 'den', '//')} AS DOUBLE) "
        "/ CAST(1000000.0 AS DOUBLE) END AS simpson "
        "FROM m ORDER BY source"
    )


NS_ORACLES["ns_simpson_diversity"] = _simpson_sql()


def _zipf_sql() -> str:
    from cassandra_extractor_spark.operators.text import ZIPF_TOP

    det = (
        "(CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    slope = (
        "((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) "
        f"- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / {det})"
    )
    return (
        f"WITH vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM (SELECT unnest({TOKS}) AS tok FROM documents) "
        f"GROUP BY tok ORDER BY n DESC, tok LIMIT {ZIPF_TOP}), "
        "xy AS (SELECT ln(CAST(row_number() OVER "
        "(ORDER BY n DESC, tok) AS DOUBLE)) AS x, "
        "ln(CAST(n AS DOUBLE)) AS y FROM vocab), "
        "agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, "
        "SUM(CAST(x AS DECIMAL(38,18))) AS sx, "
        "SUM(CAST(y AS DECIMAL(38,18))) AS sy, "
        "SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy, "
        "SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx FROM xy) "
        "SELECT k AS n_terms, "
        f"CASE WHEN k >= 2 THEN round({slope}, 6) + CAST(0.0 AS DOUBLE) "
        "END AS zipf_slope, "
        f"CASE WHEN k >= 2 THEN round((CAST(sy AS DOUBLE) - {slope} "
        "* CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE), 6) + CAST(0.0 AS DOUBLE) "
        "END AS zipf_intercept FROM agg"
    )


NS_ORACLES["ns_zipf_fit"] = _zipf_sql()


def _hybrid_rrf_sql() -> str:
    """Mirror of ``ns_hybrid_rrf``: the two per-system rankings reuse
    the already-verified bm25 / cosine spellings; the fusion itself is
    pure integer (``//`` floor division), so it cannot add a
    divergence of its own."""
    from cassandra_extractor_spark.operators.similarity import (
        RRF_DEPTH,
        RRF_K,
        RRF_TOPN,
    )

    return (
        f"WITH bm AS ({NS_ORACLES['ns_bm25']}), "
        f"lex50 AS (SELECT doc_id, bm25 FROM bm WHERE doc_id >= {N_QUERIES} "
        f"ORDER BY bm25 DESC, doc_id LIMIT {RRF_DEPTH}), "
        "lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER "
        "(ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank FROM lex50), "
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
        f"q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0 "
        f"AND {_cosine_defined_sql('emb')}), "
        f"c AS (SELECT vec_id AS doc_id, emb AS n_emb FROM e "
        f"WHERE vec_id >= {N_QUERIES} AND {_cosine_defined_sql('emb')}), "
        "sem50 AS (SELECT doc_id, "
        f"round({_cos_sql('q_emb', 'n_emb')}, 6) AS cos FROM c, q "
        f"ORDER BY cos DESC, doc_id LIMIT {RRF_DEPTH}), "
        "sem AS (SELECT doc_id, CAST(ROW_NUMBER() OVER "
        "(ORDER BY cos DESC, doc_id) AS BIGINT) AS sem_rank FROM sem50), "
        "fused AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, "
        "lex_rank, sem_rank FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id) "
        "SELECT doc_id, CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank, "
        "CAST(COALESCE(sem_rank, 0) AS BIGINT) AS sem_rank, "
        f"CAST(COALESCE(1000000 // ({RRF_K} + lex_rank), 0) "
        f"+ COALESCE(1000000 // ({RRF_K} + sem_rank), 0) AS BIGINT) AS rrf_micros "
        f"FROM fused ORDER BY rrf_micros DESC, doc_id LIMIT {RRF_TOPN}"
    )


NS_ORACLES["ns_hybrid_rrf"] = _hybrid_rrf_sql()


def _preference_pairs_sql() -> str:
    """Mirror of ``ns_preference_pairs``: the same order-preserving
    integer encoding (``score·10^12 ± doc_id``) under plain
    ``max``/``min`` — argmax semantics without relying on either
    engine's arg_max tie rules."""
    from cassandra_extractor_spark.operators.extraction import (
        _PREF_ENC,
        PREF_GAP_MILLI,
    )

    enc = _PREF_ENC
    score = "((1000 * n_distinct) // n_tok + (1000 * n_alpha) // n_tok)"
    return (
        f"WITH d AS (SELECT doc_id, lang, source, {TOKS} AS toks FROM documents), "
        "feats AS (SELECT doc_id, lang, source, "
        "CAST(len(toks) AS BIGINT) AS n_tok, "
        "CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct, "
        "CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$'))) "
        "AS BIGINT) AS n_alpha FROM d), "
        "f2 AS (SELECT * FROM feats WHERE n_tok > 0), "
        f"enc AS (SELECT lang, source, "
        f"{score} * {enc} + ({enc - 1} - doc_id) AS best_key, "
        f"{score} * {enc} + doc_id AS worst_key FROM f2), "
        "agg AS (SELECT lang, source, max(best_key) AS bk, "
        "min(worst_key) AS wk FROM enc GROUP BY lang, source) "
        f"SELECT lang, source, "
        f"CAST({enc - 1} - (bk % {enc}) AS BIGINT) AS chosen_id, "
        f"CAST(wk % {enc} AS BIGINT) AS rejected_id, "
        f"CAST(bk // {enc} AS BIGINT) AS chosen_score, "
        f"CAST(wk // {enc} AS BIGINT) AS rejected_score, "
        f"CAST(bk // {enc} - wk // {enc} AS BIGINT) AS gap "
        f"FROM agg WHERE bk // {enc} - wk // {enc} >= {PREF_GAP_MILLI} "
        "ORDER BY lang, source"
    )


NS_ORACLES["ns_preference_pairs"] = _preference_pairs_sql()


def _hist_quantile_sql() -> str:
    """Mirror of ``q122_hist_quantile`` (the fixed-bin histogram
    quantile estimate): clamped equi-width
    binning, cumulative counts, first bin reaching ``ceil(pct·n/100)``
    — integers end to end."""
    from cassandra_extractor_spark.streaming.quantile import BIN_CENTS, NBINS

    return (
        "WITH b0 AS (SELECT CAST(event_type AS VARCHAR) AS group_key, "
        "CAST(floor(CAST(round(value * 100) AS BIGINT) / "
        f"{BIN_CENTS}) AS BIGINT) AS rawbin FROM events "
        "WHERE value IS NOT NULL), "
        "binned AS (SELECT group_key, "
        f"least(greatest(rawbin, 0), {NBINS}) AS bin, "
        f"CASE WHEN rawbin <> least(greatest(rawbin, 0), {NBINS}) "
        "THEN 1 ELSE 0 END AS clamped FROM b0), "
        "hist AS (SELECT group_key, bin, COUNT(*) AS c, "
        "SUM(clamped) AS cl FROM binned GROUP BY group_key, bin), "
        "cum AS (SELECT group_key, bin, "
        "SUM(c) OVER (PARTITION BY group_key ORDER BY bin "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
        "SUM(c) OVER (PARTITION BY group_key) AS n, "
        "SUM(cl) OVER (PARTITION BY group_key) AS n_clamped FROM hist) "
        "SELECT group_key, CAST(MAX(n) AS BIGINT) AS n_seen, "
        f"CAST(MIN(CASE WHEN cum >= ceil(50 * n / 100) "
        f"THEN (bin + 1) * {BIN_CENTS} END) AS BIGINT) AS p50_ub_cents, "
        f"CAST(MIN(CASE WHEN cum >= ceil(95 * n / 100) "
        f"THEN (bin + 1) * {BIN_CENTS} END) AS BIGINT) AS p95_ub_cents, "
        "CAST(MAX(n_clamped) AS BIGINT) AS n_clamped "
        "FROM cum GROUP BY group_key ORDER BY group_key"
    )


NS_ORACLES["q122_hist_quantile"] = _hist_quantile_sql()


NS_ORACLES["ns_ann_mrr"] = (
    f"WITH brute AS ({NS_ORACLES['ns_ann_cosine_topk']}), "
    "lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings), "
    "j AS (SELECT b.q_id, ql.label AS q_label, nl.label AS n_label, b.rank "
    "FROM brute b JOIN lab ql ON b.q_id = ql.vec_id "
    "JOIN lab nl ON b.n_id = nl.vec_id), "
    "pq AS (SELECT q_id, q_label, "
    "MIN(CASE WHEN n_label = q_label THEN rank END) AS fr "
    "FROM j GROUP BY q_id, q_label) "
    "SELECT q_id, q_label, CAST(COALESCE(fr, 0) AS BIGINT) AS first_rank, "
    "CAST(COALESCE(1000000 // fr, 0) AS BIGINT) AS rr_micros "
    "FROM pq ORDER BY q_id"
)


NS_ORACLES["ns_knn_classifier"] = (
    f"WITH brute AS ({NS_ORACLES['ns_ann_cosine_topk']}), "
    "lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings), "
    "j AS (SELECT b.q_id, ql.label AS q_label, nl.label AS n_label "
    "FROM brute b JOIN lab ql ON b.q_id = ql.vec_id "
    "JOIN lab nl ON b.n_id = nl.vec_id), "
    "v AS (SELECT q_id, q_label, n_label, COUNT(*) AS votes "
    "FROM j GROUP BY q_id, q_label, n_label), "
    "pq AS (SELECT q_id, q_label, MAX(votes * 100 + (99 - n_label)) AS enc "
    "FROM v GROUP BY q_id, q_label) "
    "SELECT q_id, q_label, CAST(99 - (enc % 100) AS BIGINT) AS pred_label, "
    "CAST(enc // 100 AS BIGINT) AS pred_votes, "
    "CAST(CASE WHEN 99 - (enc % 100) = q_label THEN 1 ELSE 0 END AS BIGINT) "
    "AS correct FROM pq ORDER BY q_id"
)


NS_ORACLES["ns_cluster_purity"] = (
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, "
    "CAST(label AS BIGINT) AS label FROM embeddings), "
    # zero-norm vectors excluded on both engines (divergence #4)
    f"n AS (SELECT vec_id, emb, label, sqrt({_dot_sql('emb', 'emb')}) AS nrm "
    f"FROM e WHERE {_cosine_defined_sql('emb')}), "
    f"cent AS (SELECT vec_id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n "
    f"WHERE vec_id < {N_KMEANS}), "
    "assigned AS (SELECT c_id AS cluster_id, label FROM ("
    "SELECT label, c_id, ROW_NUMBER() OVER "
    "(PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crank FROM "
    f"(SELECT n.vec_id, n.label, cent.c_id, {_dot_sql('emb', 'c_emb')} / (nrm * c_nrm) "
    "AS csim FROM n, cent)) WHERE crank = 1), "
    "v AS (SELECT cluster_id, label, COUNT(*) AS cnt FROM assigned "
    "GROUP BY cluster_id, label), "
    "pc AS (SELECT cluster_id, SUM(cnt) AS n_members, "
    "MAX(cnt * 100 + (99 - label)) AS enc FROM v GROUP BY cluster_id) "
    "SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members, "
    "CAST(99 - (enc % 100) AS BIGINT) AS majority_label, "
    "CAST(enc // 100 AS BIGINT) AS majority_cnt, "
    "CAST((1000000 * (enc // 100)) // n_members AS BIGINT) AS purity_ppm "
    "FROM pc ORDER BY cluster_id"
)


NS_ORACLES["ns_tokenizer_fertility"] = (
    "WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS n_chars, "
    f"CAST(len({TOKS}) AS BIGINT) AS ws, "
    r"CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0b\f\r]')) "
    "AS BIGINT) AS bpe FROM documents), "
    "g AS (SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS chars, "
    "SUM(ws) AS ws_tokens, SUM(bpe) AS bpe_tokens FROM d GROUP BY lang) "
    "SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, "
    "CAST(chars AS BIGINT) AS chars, CAST(ws_tokens AS BIGINT) AS ws_tokens, "
    "CAST(bpe_tokens AS BIGINT) AS bpe_tokens, "
    "CAST(CASE WHEN ws_tokens = 0 THEN 0 ELSE (1000000 * chars) // ws_tokens END "
    "AS BIGINT) AS chars_per_ws_ppm, "
    "CAST(CASE WHEN bpe_tokens = 0 THEN 0 ELSE (1000000 * chars) // bpe_tokens END "
    "AS BIGINT) AS chars_per_bpe_ppm, "
    "CAST(CASE WHEN ws_tokens = 0 THEN 0 ELSE (1000000 * bpe_tokens) // ws_tokens END "
    "AS BIGINT) AS fertility_ppm "
    "FROM g ORDER BY lang"
)


def _top_dup_spans_sql() -> str:
    """Mirror of ``ns_top_dup_spans``: same k-gram text construction as
    the substring-dedup oracle, counted and cut at the same
    deterministic (n_occ DESC, gram) boundary — gram is a unique key,
    so the LIMIT is order-stable on both engines."""
    from cassandra_extractor_spark.operators.dedup import SUBSTR_K, TOP_SPANS_K

    k = SUBSTR_K
    gram = (
        f"array_to_string(toks[CAST(pos + 1 AS INTEGER):CAST(pos + {k} AS INTEGER)], ' ')"
    )
    return (
        f"WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents), "
        "dd AS (SELECT doc_id, toks, COALESCE(len(toks), 0) AS n_tok FROM d), "
        f"dk AS (SELECT * FROM dd WHERE n_tok >= {k}), "
        f"gp AS (SELECT doc_id, toks, unnest(range(0, n_tok - {k} + 1)) AS pos FROM dk), "
        f"g AS (SELECT doc_id, {gram} AS gram FROM gp), "
        "a AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occ, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs "
        "FROM g GROUP BY gram HAVING COUNT(*) > 1) "
        f"SELECT gram, n_occ, n_docs FROM a ORDER BY n_occ DESC, gram LIMIT {TOP_SPANS_K}"
    )


NS_ORACLES["ns_top_dup_spans"] = _top_dup_spans_sql()


def _boolean_retrieval_sql() -> str:
    from cassandra_extractor_spark.operators.text import BOOL_QUERY

    terms = ", ".join(f"'{t}'" for t in BOOL_QUERY)
    return (
        f"WITH p AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents), "
        f"f AS (SELECT doc_id, tok FROM p WHERE tok IN ({terms})), "
        "pt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf "
        "FROM f GROUP BY doc_id, tok), "
        "a AS (SELECT doc_id, COUNT(*) AS n_terms, "
        "CAST(SUM(tf) AS BIGINT) AS tf_total, CAST(MIN(tf) AS BIGINT) AS tf_min "
        "FROM pt GROUP BY doc_id) "
        f"SELECT doc_id, tf_total, tf_min FROM a WHERE n_terms = {len(BOOL_QUERY)} "
        "ORDER BY doc_id"
    )


NS_ORACLES["ns_boolean_retrieval"] = _boolean_retrieval_sql()


def _length_outliers_sql() -> str:
    """Mirror of ``ns_length_outliers``: identical lower-median
    convention (smallest v with 2·cum(v) ≥ n) spelled with the same
    count-frame prefix sums, so both engines agree on even-sized
    groups without interpolation."""
    from cassandra_extractor_spark.operators.text import OUTLIER_MAD_MULT

    return (
        "WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents), "
        "cnt AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM d GROUP BY source, v), "
        "tot AS (SELECT source, SUM(c) AS n FROM cnt GROUP BY source), "
        "cum AS (SELECT source, v, c, SUM(c) OVER "
        "(PARTITION BY source ORDER BY v) AS cm FROM cnt), "
        "med AS (SELECT source, MIN(v) AS med_chars FROM cum JOIN tot USING (source) "
        "WHERE cm * 2 >= n GROUP BY source), "
        "devc AS (SELECT cnt.source AS source, abs(v - med_chars) AS dv, SUM(c) AS c "
        "FROM cnt JOIN med ON cnt.source = med.source "
        "GROUP BY cnt.source, abs(v - med_chars)), "
        "dcum AS (SELECT source, dv, c, SUM(c) OVER "
        "(PARTITION BY source ORDER BY dv) AS cm FROM devc), "
        "mad AS (SELECT source, MIN(dv) AS mad_chars FROM dcum JOIN tot USING (source) "
        "WHERE cm * 2 >= n GROUP BY source), "
        "outl AS (SELECT devc.source AS source, SUM(c) AS n_outliers "
        f"FROM devc JOIN mad ON devc.source = mad.source "
        f"WHERE dv > {OUTLIER_MAD_MULT} * mad_chars GROUP BY devc.source) "
        "SELECT tot.source AS source, CAST(n AS BIGINT) AS n_docs, "
        "CAST(med_chars AS BIGINT) AS med_chars, CAST(mad_chars AS BIGINT) AS mad_chars, "
        "CAST(COALESCE(n_outliers, 0) AS BIGINT) AS n_outliers "
        "FROM tot JOIN med USING (source) JOIN mad USING (source) "
        "LEFT JOIN outl ON tot.source = outl.source ORDER BY source"
    )


NS_ORACLES["ns_length_outliers"] = _length_outliers_sql()


def _ann_symmetry_sql() -> str:
    from cassandra_extractor_spark.operators.similarity import ANN_SYM_WINDOW, TOP_K

    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label "
        f"FROM embeddings WHERE vec_id < {ANN_SYM_WINDOW} "
        f"AND {_cosine_defined_sql('CAST(embedding AS DOUBLE[])')}), "
        "scored AS (SELECT a.vec_id AS src, b.vec_id AS dst, "
        f"round({_cos_sql('a.emb', 'b.emb')}, 6) AS cos "
        "FROM e a, e b WHERE a.vec_id <> b.vec_id), "
        "edges AS (SELECT src, dst FROM (SELECT src, dst, ROW_NUMBER() OVER "
        "(PARTITION BY src ORDER BY cos DESC, dst) AS rk FROM scored) "
        f"WHERE rk <= {TOP_K}), "
        "m AS (SELECT e1.src, e1.dst, CASE WHEN e2.src IS NULL THEN 0 ELSE 1 END AS mu "
        "FROM edges e1 LEFT JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src) "
        "SELECT CAST(lab.label AS BIGINT) AS label, "
        "CAST(COUNT(*) AS BIGINT) AS n_edges, CAST(SUM(mu) AS BIGINT) AS n_mutual, "
        "CAST(floor(SUM(mu) * 100 / COUNT(*)) AS BIGINT) AS mutual_pct "
        "FROM m JOIN embeddings lab ON m.src = lab.vec_id "
        "GROUP BY lab.label ORDER BY label"
    )


NS_ORACLES["ns_ann_symmetry"] = _ann_symmetry_sql()


def _kcenter_step_sql() -> str:
    """Mirror of ``similarity.ns_kcenter_step``: same prenormed-fold
    cosine, same round-6 → micro-unit integer distance, same tie rules
    (nearest center → lowest c_id via ORDER BY; farthest vector →
    lowest vec_id via MIN over the radius-attaining rows)."""
    from cassandra_extractor_spark.operators.similarity import K_CENTER

    return (
        "WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        "FROM embeddings), "
        f"e AS (SELECT * FROM e0 WHERE {_cosine_defined_sql('emb')}), "
        f"cent AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < {K_CENTER}), "
        f"cand AS (SELECT vec_id, emb FROM e WHERE vec_id >= {K_CENTER}), "
        "scored AS (SELECT vec_id, c_id, CAST(round((1.0e0 - "
        f"round({_cos_sql('emb', 'c_emb')}, 6)) * 1000000.0e0, 0) AS BIGINT) AS dist_u "
        "FROM cand, cent), "
        "assigned AS (SELECT vec_id, c_id, dist_u FROM (SELECT *, ROW_NUMBER() OVER "
        "(PARTITION BY vec_id ORDER BY dist_u, c_id) AS rk FROM scored) WHERE rk = 1), "
        "rep AS (SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_vecs, "
        "MAX(dist_u) AS radius_micro FROM assigned GROUP BY c_id) "
        "SELECT r.c_id, r.n_vecs, r.radius_micro, "
        "CAST(MIN(a.vec_id) AS BIGINT) AS farthest_id "
        "FROM rep r JOIN assigned a ON a.c_id = r.c_id AND a.dist_u = r.radius_micro "
        "GROUP BY r.c_id, r.n_vecs, r.radius_micro ORDER BY r.c_id"
    )


NS_ORACLES["ns_kcenter_step"] = _kcenter_step_sql()


def _ann_cell_balance_sql() -> str:
    from cassandra_extractor_spark.operators.similarity import (
        N_IVF_CENTROIDS,
        N_QUERIES,
    )

    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings "
        f"WHERE {_cosine_defined_sql('CAST(embedding AS DOUBLE[])')}), "
        f"cent AS (SELECT vec_id AS c_id, emb AS c_emb FROM e "
        f"WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_IVF_CENTROIDS}), "
        f"corpus AS (SELECT vec_id, emb FROM e WHERE vec_id >= {N_QUERIES}), "
        "assigned AS (SELECT vec_id, c_id FROM (SELECT vec_id, c_id, "
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id) AS crank "
        f"FROM (SELECT vec_id, c_id, {_cos_sql('emb', 'c_emb')} AS csim "
        "FROM corpus, cent)) WHERE crank <= 1), "
        "hist AS (SELECT c_id, CAST(COUNT(*) AS BIGINT) AS n_vecs "
        "FROM assigned GROUP BY c_id) "
        "SELECT c_id, n_vecs, "
        "CAST((1000000 * n_vecs) // (SELECT SUM(n_vecs) FROM hist) AS BIGINT) "
        "AS share_ppm FROM hist ORDER BY c_id"
    )


NS_ORACLES["ns_ann_cell_balance"] = _ann_cell_balance_sql()


NS_ORACLES["ns_quality_by_dup"] = (
    # joint quality × duplication cells, composed from the text-quality
    # and cluster oracles with the ns_corpus_select gate constants
    f"WITH cl AS ({NS_ORACLES['ns_dedup_clusters']}), "
    f"q AS ({NS_ORACLES['ns_text_quality']}), "
    "j AS (SELECT CASE WHEN cl.doc_id IS NOT NULL THEN true ELSE false END "
    "AS is_dup, (q.quality >= 0.5 AND q.n_tokens >= 50) AS passes_gate, "
    "q.n_tokens, q.quality FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id) "
    "SELECT is_dup, passes_gate, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens, "
    "CAST(round(SUM(CAST(quality AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_quality "
    "FROM j GROUP BY is_dup, passes_gate ORDER BY is_dup, passes_gate"
)


NS_ORACLES["ns_vocab_growth"] = (
    # Heaps-law curve from first-occurrence docs: one tokenization pass,
    # min(doc_id) per token, decile slicing + running sum on ≤10 rows
    f"WITH t AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents), "
    "first AS (SELECT tok, MIN(doc_id) AS fd FROM t WHERE tok <> '' "
    "GROUP BY tok), "
    "mx AS (SELECT MAX(doc_id) AS mx FROM documents), "
    "per AS (SELECT LEAST(9, (fd * 10) // (mx + 1)) AS decile, "
    "CAST(COUNT(*) AS BIGINT) AS new_tokens FROM first, mx GROUP BY 1) "
    "SELECT CAST(decile AS BIGINT) AS decile, new_tokens, "
    "CAST(SUM(new_tokens) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab "
    "FROM per ORDER BY decile"
)


NS_ORACLES["ns_dedup_savings"] = (
    # canonical-removal token savings per source, composed from the
    # cluster + text-quality oracles (keep-minimum rule = cluster_id)
    f"WITH cl AS ({NS_ORACLES['ns_dedup_clusters']}), "
    f"q AS ({NS_ORACLES['ns_text_quality']}), "
    "rm AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id), "
    "j AS (SELECT d.source, q.n_tokens, "
    "CASE WHEN rm.doc_id IS NOT NULL THEN 1 ELSE 0 END AS r "
    "FROM documents d JOIN q ON d.doc_id = q.doc_id "
    "LEFT JOIN rm ON d.doc_id = rm.doc_id) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, "
    "CAST(SUM(r) AS BIGINT) AS n_removable, "
    "CAST(SUM(CASE WHEN r = 1 THEN n_tokens ELSE 0 END) AS BIGINT) "
    "AS removable_tokens, "
    "CAST(CASE WHEN SUM(n_tokens) > 0 THEN "
    "(1000000 * SUM(CASE WHEN r = 1 THEN n_tokens ELSE 0 END)) // SUM(n_tokens) "
    "ELSE 0 END AS BIGINT) AS savings_ppm "
    "FROM j GROUP BY source ORDER BY source"
)


def _waterfill_sql() -> str:
    """Mirror of ``ns_waterfill_cap``: integer-exact waterfilling cap
    over per-lang token totals (budget = total // 2).  ``//`` here and
    Spark's ``div`` agree wherever the validity filter can pass (the
    numerator is non-negative on the unique surviving row)."""
    from cassandra_extractor_spark.operators.sampling import WATERFILL_BUDGET_DEN

    den = WATERFILL_BUDGET_DEN
    return (
        f"WITH d AS (SELECT lang, CAST(len({TOKS}) AS BIGINT) AS n_tokens "
        "FROM documents), "
        "per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens FROM d GROUP BY lang), "
        "t AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens, "
        "CAST(COUNT(*) AS BIGINT) AS n_domains FROM per), "
        "r AS (SELECT lang_tokens, total_tokens, n_domains, "
        "CAST(ROW_NUMBER() OVER (ORDER BY lang_tokens, lang) AS BIGINT) AS i, "
        "CAST(COALESCE(SUM(lang_tokens) OVER (ORDER BY lang_tokens, lang "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS p_prev, "
        "CAST(COALESCE(LAG(lang_tokens) OVER (ORDER BY lang_tokens, lang), 0) "
        "AS BIGINT) AS n_prev FROM per, t), "
        f"c AS (SELECT CAST(((total_tokens // {den}) - p_prev) "
        "// (n_domains - i + 1) AS BIGINT) AS cap, lang_tokens, n_prev FROM r), "
        "pick AS (SELECT cap FROM c WHERE cap < lang_tokens AND cap >= n_prev) "
        "SELECT lang, n_docs, lang_tokens, cap, "
        "CAST(LEAST(lang_tokens, cap) AS BIGINT) AS kept_tokens, "
        "ROUND(CAST(LEAST(lang_tokens, cap) AS DOUBLE) / "
        "CAST(lang_tokens AS DOUBLE), 6) AS kept_frac, "
        "lang_tokens > cap AS capped "
        "FROM per, pick ORDER BY lang"
    )


NS_ORACLES["ns_waterfill_cap"] = _waterfill_sql()


def _domain_reweight_sql() -> str:
    """Mirror of ``ns_domain_reweight``: hashed-unigram KL over the
    full fixed bucket grid, one ``ln`` per cell, DECIMAL(38,18)
    accumulation for both the KL and the weight normalizer, then the
    exponentiated-gradient update ``share · exp(eta · kl)``."""
    from cassandra_extractor_spark.operators.sampling import DRM_BUCKETS, DRM_ETA

    b = DRM_BUCKETS
    p_lf = f"(CAST(COALESCE(c_lf, 0) + 1 AS DOUBLE) / CAST(tot_l + {b} AS DOUBLE))"
    p_cf = f"(CAST(COALESCE(c_f, 0) + 1 AS DOUBLE) / CAST(tot + {b} AS DOUBLE))"
    return (
        f"WITH d AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents), "
        "tk AS (SELECT lang, unnest(toks) AS tok FROM d), "
        f"fe AS (SELECT lang, {_hash_sql('tok', 'drm')} % {b} AS f FROM tk), "
        "lf AS (SELECT lang, f, CAST(COUNT(*) AS BIGINT) AS c_lf "
        "FROM fe GROUP BY lang, f), "
        "pl AS (SELECT lang, CAST(SUM(c_lf) AS BIGINT) AS tot_l FROM lf GROUP BY lang), "
        "cf AS (SELECT f, CAST(SUM(c_lf) AS BIGINT) AS c_f FROM lf GROUP BY f), "
        "t AS (SELECT CAST(SUM(tot_l) AS BIGINT) AS tot FROM pl), "
        f"grid AS (SELECT pl.lang, pl.tot_l, gs.f FROM pl, range({b}) gs(f)), "
        "cell AS (SELECT g.lang, "
        f"{p_lf} * ln({p_lf} / {p_cf}) AS term "
        "FROM grid g LEFT JOIN lf ON g.lang = lf.lang AND g.f = lf.f "
        "LEFT JOIN cf ON g.f = cf.f, t), "
        "kl AS (SELECT lang, CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE) "
        "AS kl FROM cell GROUP BY lang), "
        "nd AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY lang), "
        "wr AS (SELECT lang, tot_l, kl, "
        "CAST(tot_l AS DOUBLE) / CAST(tot AS DOUBLE) AS share, "
        "(CAST(tot_l AS DOUBLE) / CAST(tot AS DOUBLE)) * "
        f"exp({float(DRM_ETA)!r} * kl) AS w_raw "
        "FROM pl JOIN kl USING (lang), t), "
        "ws AS (SELECT CAST(SUM(CAST(w_raw AS DECIMAL(38,18))) AS DOUBLE) "
        "AS w_sum FROM wr) "
        "SELECT lang, n_docs, tot_l AS lang_tokens, "
        "ROUND(share, 6) AS share, ROUND(kl, 6) AS kl, "
        "ROUND(w_raw / w_sum, 6) AS weight "
        "FROM wr JOIN nd USING (lang), ws ORDER BY lang"
    )


NS_ORACLES["ns_domain_reweight"] = _domain_reweight_sql()


def _sketch_shard_merge_sql() -> str:
    """Mirror of ``ns_sketch_shard_merge``: per-doc MinHash signatures
    (same md5/Kirsch-Mitzenmacher family as ``_minhash_sql``), shard
    sketches by elementwise MIN, the merged-vs-direct corpus sketch
    equality, and exact distinct-shingle shares.  Integer arithmetic
    only."""
    from cassandra_extractor_spark.operators.dedup import MH_MOD, NUM_PERM

    sig_cols = ", ".join(
        f"MIN((h1 + {s} * h2) % {MH_MOD}) AS mh{s}" for s in range(NUM_PERM)
    )
    shard_mins = ", ".join(
        f"CAST(MIN(mh{s}) AS BIGINT) AS mh{s}" for s in range(NUM_PERM)
    )
    corpus_mins = ", ".join(
        f"CAST(MIN(mh{s}) AS BIGINT) AS c{s}" for s in range(NUM_PERM)
    )
    merged_mins = ", ".join(
        f"CAST(MIN(mh{s}) AS BIGINT) AS m{s}" for s in range(NUM_PERM)
    )
    match_sum = " + ".join(
        f"CASE WHEN mh{s} = c{s} THEN 1 ELSE 0 END" for s in range(NUM_PERM)
    )
    merged_eq = " AND ".join(f"m{s} = c{s}" for s in range(NUM_PERM))
    return (
        f"WITH {_DOCS_SH}, "
        "hashed AS (SELECT doc_id, "
        "CAST(concat('0x', substr(md5(t), 1, 10)) AS BIGINT) AS h1, "
        "CAST(concat('0x', substr(md5(t), 11, 10)) AS BIGINT) AS h2 "
        "FROM (SELECT doc_id, unnest(sh) AS t FROM docs)), "
        f"sig AS (SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id), "
        "src AS (SELECT doc_id, source FROM documents), "
        "pd AS (SELECT source, sig.* FROM sig JOIN src USING (doc_id)), "
        "shard AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        f"{shard_mins} FROM pd GROUP BY source), "
        f"corpus AS (SELECT {corpus_mins} FROM sig), "
        f"merged AS (SELECT {merged_mins} FROM shard), "
        "shsrc AS (SELECT source, t FROM "
        "(SELECT doc_id, unnest(sh) AS t FROM docs) JOIN src USING (doc_id)), "
        "nsh AS (SELECT source, CAST(COUNT(DISTINCT t) AS BIGINT) "
        "AS n_shingles FROM shsrc GROUP BY source), "
        "nun AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_union FROM shsrc) "
        "SELECT shard.source, n_docs, n_shingles, "
        f"CAST({NUM_PERM} AS BIGINT) AS n_components, "
        f"CAST({match_sum} AS BIGINT) AS sketch_matches, "
        f"CAST((1000000 * ({match_sum})) // {NUM_PERM} AS BIGINT) AS est_ppm, "
        "CAST((1000000 * n_shingles) // n_union AS BIGINT) AS exact_ppm, "
        f"({merged_eq}) AS merged_ok "
        "FROM shard JOIN nsh USING (source), corpus, merged, nun "
        "ORDER BY shard.source"
    )


NS_ORACLES["ns_sketch_shard_merge"] = _sketch_shard_merge_sql()
