"""Deduplication operators: exact, fingerprint, n-gram Jaccard,
MinHash-LSH, SimHash, and embedding-cosine near-dup.

Scale design (100 TB posture):

- **Signatures are built-in hash functions inside whole-stage codegen**
  — no Python.  Fingerprints are per-row; MinHash and SimHash fold the
  corpus's exploded shingles (``exploded_shingles``, one explode per
  session via ``shared_shingles``) with a groupBy per document.
- **Candidate generation is a band-signature self-join** — the classic
  shuffle-on-bucket-key LSH join.  Shuffle volume is O(#bands × rows),
  keys are md5-uniform so there is no inherent skew; degenerate buckets
  (mass-duplicated boilerplate, empty-ish text) are the one skew source
  — ``lsh_candidate_pairs(max_bucket=…)`` switches such buckets to a
  star topology (O(k) pairs, connectivity-identical for clustering).
- **Pairwise verification only runs on candidates**, never all-pairs.
  The all-pairs Jaccard query restricts to a doc_id window purely so
  the DuckDB oracle stays tractable; the LSH path is the scale path.
- Hashes are md5-derived (portable, deterministic) rather than Spark's
  xxhash64/murmur so the DuckDB oracle can reproduce them exactly.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.types import DoubleType

from cassandra_extractor_spark.operators.text import doc_fingerprint_col, tokens
from cassandra_extractor_spark.sources.catalog import _norm_dir, load_table

NUM_PERM = 8  #: minhash permutations
BANDS = 4  #: LSH bands (NUM_PERM/BANDS rows per band)
SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4  #: banding chunks for hamming-join (ham<=3 ⇒ one chunk equal)
HAMMING_MAX = 3


def _md5_hash64(col: Column, salt: str) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5(salt|token)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt + "|"), col)), 1, 15), 16, 10).cast("long")


#: modulus for the double-hashed permutation family (40-bit: the widest
#: that keeps h1 + s·h2 inside BIGINT with identical arithmetic in
#: Spark and DuckDB — no overflow, no engine-specific wrap semantics)
MH_MOD = 1 << 40


def _mh_base_hashes(col: Column) -> tuple[Column, Column]:
    """Two independent 40-bit hashes from ONE md5 of the shingle
    (hex chars 1-10 and 11-20)."""
    hx = F.md5(col)
    h1 = F.conv(F.substring(hx, 1, 10), 16, 10).cast("long")
    h2 = F.conv(F.substring(hx, 11, 10), 16, 10).cast("long")
    return h1, h2


def _mh_perm(h1: Column, h2: Column, s: int) -> Column:
    """Permutation s of the Kirsch-Mitzenmacher family:
    g_s(x) = (h1(x) + s·h2(x)) mod 2^40."""
    return F.pmod(h1 + F.lit(s) * h2, F.lit(MH_MOD))


# --- queries() entries -------------------------------------------------


def ns_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash-groupBy: keeper id + duplicate count
    per distinct text (deterministic dropDuplicates)."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
        .select("keep_id", "dup_cnt")
        .orderBy("keep_id")
    )


def ns_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: group on canonicalized-text md5 (robust to
    case/punctuation/whitespace noise)."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select("doc_id", doc_fingerprint_col(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_cnt"))
        .orderBy("keep_id")
    )


def ns_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard similarity pairs (doc_id < 200 window so
    the all-pairs oracle stays tractable; LSH below is the scale path)."""
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 200)
    sh = exploded_shingles(d).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.col("inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("inter")).cast("double"),
                6,
            ).alias("jac"),
        )
        .where(F.col("jac") >= 0.5)
        .orderBy("d1", "d2")
    )


def ns_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs: max(|A∩B|/|A|, |A∩B|/|B|) ≥ 0.8 —
    catches doc-in-doc duplication (quotes, mirrors with added
    boilerplate) that symmetric Jaccard under-scores when sizes differ.
    Same windowed all-pairs shape as ns_dedup_jaccard (LSH is the scale
    path for candidate generation; containment is the verifier)."""
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 200)
    sh = exploded_shingles(d).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    i = F.col("inter").cast("double")
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.greatest(i / F.col("n1").cast("double"), i / F.col("n2").cast("double")), 6
            ).alias("cont"),
        )
        .where(F.col("cont") >= 0.8)
        .orderBy("d1", "d2")
    )


def exploded_shingles(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh): word n-gram shingles via array slices inside the
    explode — MAP-LOCAL, no window, no shuffle (optimization r13,
    guide §2.1: the previous posexplode+lead-window spelling paid a
    corpus-token-volume shuffle for ordering the window already had in
    the array).  ``sequence``/``slice``/``concat_ws`` are all
    whole-stage-codegen'd; an array-lambda (``transform``) spelling
    runs interpreted and is an order of magnitude slower.  Output is NOT
    distinct — callers that need set semantics (simhash votes) dedupe;
    MIN-based consumers (minhash) don't have to, since MIN is
    duplicate-insensitive.
    """
    t = d.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n_tok")
    )
    # sequence(0, negative) counts DOWN in Spark — gate short docs
    positions = F.when(
        F.col("n_tok") >= n, F.sequence(F.lit(0), F.col("n_tok") - n)
    ).otherwise(F.array().cast("array<int>"))
    return t.select("doc_id", "toks", F.explode(positions).alias("pos")).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos") + 1, n)).alias("sh"),
    )


def minhash_signatures_for(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{NUM_PERM-1}) for any (doc_id, text) frame:
    ONE codegen'd md5 per exploded shingle → (h1, h2) → NUM_PERM
    double-hashed permutation values → min-agg (map-side combined).

    The md5-per-permutation spelling this replaces spent ~85% of the
    signature pass in digest computation; the (h1 + s·h2) mod 2^40
    family needs one digest and integer ops the codegen pipeline
    vectorizes (measured ~4× on the bands stage at sf0.1).
    """
    d = docs.where(F.size(tokens(F.col("text"))) >= 3)
    return signatures_from_shingles(exploded_shingles(d))


def signatures_from_shingles(sh: DataFrame) -> DataFrame:
    """MinHash signatures from a prebuilt (doc_id, sh) frame.  MIN is
    duplicate-insensitive, so distinct and non-distinct shingle frames
    produce bit-identical signatures — the session-shared DISTINCT
    frame (``shared_shingles``) therefore feeds this directly."""
    h1, h2 = _mh_base_hashes(F.col("sh"))
    hashed = sh.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(_mh_perm(F.col("h1"), F.col("h2"), s)).alias(f"mh{s}")
            for s in range(NUM_PERM)
        ]
    )


def minhash_signatures_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus signatures from the session-shared shingle frame: the
    corpus is exploded+deduped ONCE per session (``shared_shingles``)
    and the signature aggregation reads those materialized blocks."""
    return signatures_from_shingles(shared_shingles(spark, sf_dir))


def bands_for(sig: DataFrame) -> DataFrame:
    """(doc_id, band, sig) from a signature frame."""
    rows_per_band = NUM_PERM // BANDS
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, sig): LSH band signatures for the test table."""
    return bands_for(minhash_signatures_df(spark, sf_dir))


def incremental_dedup(
    base_bands: DataFrame, new_docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection: a new batch against an existing
    corpus whose band signatures are already materialized.

    Returns ``(dup_pairs, new_bands)`` where ``dup_pairs`` has
    (new_id, dup_of) — ``dup_of`` from the base corpus OR an earlier
    new doc — and ``new_bands`` is what the caller appends to the
    signature store.

    This is the production shape at 100 TB: the corpus is never
    re-signed; each arriving batch costs one signature pass over the
    batch plus a bucket join against the (bucketed, pre-partitioned)
    signature store.
    """
    # one signature pass over the batch, reused by the vs-base join, the
    # vs-new self-join, and the returned store-append frame
    new_bands = materialize_once(bands_for(minhash_signatures_for(new_docs)))
    nb, bb = new_bands.alias("n"), base_bands.alias("b")
    # the doc_id inequality guards the crash-replay window: a batch
    # whose delta was already folded into the base (mid-stream or
    # between-restart compaction) re-runs against a base containing its
    # OWN bands — a document must never report itself as its duplicate
    # (doc ids are append-once corpus-unique by the store's contract)
    vs_base = (
        nb.join(
            bb,
            (F.col("n.band") == F.col("b.band"))
            & (F.col("n.sig") == F.col("b.sig"))
            & (F.col("n.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("b.doc_id").alias("dup_of"))
    )
    n2, n1 = new_bands.alias("x"), new_bands.alias("y")
    vs_new = (
        n2.join(
            n1,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") > F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("new_id"), F.col("y.doc_id").alias("dup_of"))
    )
    return vs_base.union(vs_new).distinct(), new_bands


def lsh_candidate_pairs(bands: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs from band signatures, with the production skew
    guard.

    ``max_bucket=None``: plain all-pairs self-join per (band, sig)
    bucket — exact candidate semantics, O(k²) pairs in a k-doc bucket.

    ``max_bucket=m``: buckets larger than ``m`` (mass-duplicated
    boilerplate, empty-ish texts — the one real skew source at 100 TB)
    switch to a star topology: every member pairs with the bucket's min
    doc_id only.  O(k) pairs, same connectivity — any clustering built
    on the pairs (connected components) is unchanged, because all
    bucket members stay connected through the hub.  Only valid for
    connectivity consumers; per-pair verification flows need the
    all-pairs form on the capped buckets too.
    """
    a, b = bands.alias("a"), bands.alias("b")
    join_cond = (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig"))
    if max_bucket is None:
        return (
            a.join(b, join_cond & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .distinct()
        )
    stats = bands.groupBy("band", "sig").agg(
        F.count("*").alias("bkt_n"), F.min("doc_id").alias("bkt_min")
    )
    annotated = bands.join(stats, ["band", "sig"])
    # narrow each branch to exactly the columns its join shuffles
    small = annotated.where(F.col("bkt_n") <= max_bucket).select("band", "sig", "doc_id")
    sa, sb = small.alias("a"), small.alias("b")
    small_pairs = sa.join(
        sb, join_cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    big_pairs = (
        annotated.where((F.col("bkt_n") > max_bucket) & (F.col("doc_id") != F.col("bkt_min")))
        .select(F.col("bkt_min").alias("d1"), F.col("doc_id").alias("d2"))
    )
    return small_pairs.union(big_pairs).distinct()


def materialize_once(df: DataFrame) -> DataFrame:
    """Compute a frame once and reuse it across self-join sides.

    Catalyst does not reuse exchanges across differently-aliased
    self-join subplans (verified on the executed plan), so without this
    the full upstream pipeline runs once per side — at 100 TB the
    signature pass is the dominant map cost and computing it twice
    doubles the job.  ``localCheckpoint`` (MEMORY_AND_DISK + lineage
    truncation) materializes the partitions; both aliases then read the
    checkpointed blocks.  On a multi-executor cluster where executor
    loss must be survivable, swap for ``persist()`` + a reliable
    ``checkpoint()`` dir — same shape, fault-tolerant storage.
    """
    return df.localCheckpoint(eager=True)


#: cap for the per-session shared-chain cache: one sf_dir uses 16
#: slots (the 15 memo-backed ``SHARED_FRAMES``, ``pairs`` twice: one per
#: bucket policy); 48 lets two standard sf dirs coexist while one-shot
#: differential tmp dirs churn through the tail (same rationale as
#: catalog._TABLE_CACHE_CAP)
_CHAIN_CACHE_CAP = 48


def session_memo(spark: SparkSession, key: tuple, builder) -> DataFrame:
    """Session-scoped memo for MATERIALIZED (localCheckpoint'd) frames —
    the single-session analog of the persisted signature store
    (``write_signature_store``): expensive corpus-wide intermediates are
    built ONCE per (session, corpus snapshot) and every registry entry
    that needs them reads the materialized blocks instead of re-running
    the pipeline.

    Each entry stays standalone: a cache miss builds the chain, so any
    query works alone; in a multi-query session (the correctness sweep,
    the bench, a real pipeline run) the corpus is signed exactly once.
    At 100 TB the durable variant is the bucketed signature store on
    disk; in-session, localCheckpoint blocks play that role.  The cache
    lives ON the session object (a replaced session can't serve stale
    JVM handles) and is LRU-capped; evicted frames are reclaimed by
    Spark's ContextCleaner once unreferenced.  ``key[0]`` must be the
    ``key`` of an entry in ``SHARED_FRAMES``.
    """
    cache: dict = spark.__dict__.setdefault("_ce_dedup_chain", {})
    # key convention: key[1] is the corpus directory — normalize it so
    # two spellings of one dir (trailing slash, relative vs absolute)
    # share a chain, and invalidation with either spelling hits it
    key = (key[0], _norm_dir(key[1]), *key[2:])
    if key in cache:
        cache[key] = cache.pop(key)  # move-to-end: mark most recent
        return cache[key]
    df = builder()
    while len(cache) >= _CHAIN_CACHE_CAP:
        cache.pop(next(iter(cache)))  # evict least-recently-used
    cache[key] = df
    return df


@dataclass(frozen=True)
class SharedFrame:
    """One session-shared frame.  ``key`` names it (its ``session_memo``
    key is ``(key, sf_dir, ...)``); ``deps`` are the frames its build
    reads; ``builder`` is the function of ``module`` (under the package)
    that builds it through the memo, called as ``fn(spark, sf_dir)``;
    ``charge`` is the bench line item that pays for the build.  A frame
    kept outside the memo names the ``release`` function of ``module``
    that drops it, called as ``fn(spark, normalized_sf_dir_or_None)``."""

    key: str
    deps: tuple[str, ...]
    module: str
    builder: str
    charge: str
    release: str | None = None

    def fn(self, name: str):
        module = importlib.import_module(f"cassandra_extractor_spark.{self.module}")
        return getattr(module, name)


_DEDUP, _SIM = "operators.dedup", "operators.similarity"
_TEXT, _POSTING = "operators.text", "streaming.posting_stream"
_CHAIN, _ANN = "shared_dedup_chain_build", "shared_ann_build"
_QUALITY, _BM25 = "shared_quality_build", "shared_bm25_store_build"

#: every session-shared frame, each after the frames it builds on; the
#: bench charges the ``charge`` groups in this order, so a group never
#: pays for a frame of a later one
SHARED_FRAMES = (
    SharedFrame("tok_leads", (), _DEDUP, "shared_tok_leads", _CHAIN),
    SharedFrame("shingles", ("tok_leads",), _DEDUP, "shared_shingles", _CHAIN),
    SharedFrame("bands", ("shingles",), _DEDUP, "shared_bands", _CHAIN),
    SharedFrame("pair_base", ("bands",), _DEDUP, "_shared_pair_base", _CHAIN),
    # the uncapped policy here; clusters builds the capped one
    SharedFrame("pairs", ("pair_base",), _DEDUP, "shared_pairs", _CHAIN),
    SharedFrame("clusters", ("pairs",), _DEDUP, "shared_clusters", _CHAIN),
    SharedFrame("kgrams", (), _DEDUP, "shared_kgrams", _CHAIN),
    SharedFrame("ann_emb", (), _SIM, "shared_embeddings", _ANN),
    SharedFrame("ann_cells", ("ann_emb",), _SIM, "shared_ann_cells", _ANN),
    SharedFrame("ann_codebook", ("ann_emb", "ann_cells"), _SIM, "shared_ann_codebook", _ANN),
    SharedFrame(
        "ann_codes", ("ann_emb", "ann_cells", "ann_codebook"), _SIM, "shared_ann_codes", _ANN
    ),
    SharedFrame("ann_brute", ("ann_emb",), _SIM, "shared_brute_topk", _ANN),
    SharedFrame("text_quality", (), _TEXT, "shared_text_quality", _QUALITY),
    SharedFrame("clf_scores", ("tok_leads",), _TEXT, "shared_clf_scores", _QUALITY),
    SharedFrame("rep_flags", ("tok_leads",), _TEXT, "shared_rep_flags", _QUALITY),
    # a store on disk (under the session warehouse), not memo blocks
    SharedFrame(
        "bm25_store", ("tok_leads", "text_quality"), _POSTING,
        "ensure_session_bm25_store", _BM25, release="release_session_bm25_stores",
    ),
)


def shared_groups() -> dict[str, list[SharedFrame]]:
    """The bench line items in charge order, each with its frames."""
    groups: dict[str, list[SharedFrame]] = {}
    for frame in SHARED_FRAMES:
        groups.setdefault(frame.charge, []).append(frame)
    return groups


def build_shared(spark: SparkSession, sf_dir: str, frames) -> None:
    """Build ``frames`` for ``sf_dir`` (a memo hit costs nothing)."""
    for frame in frames:
        frame.fn(frame.builder)(spark, sf_dir)


def drop_shared(spark: SparkSession, keys, sf_dir: str | None = None) -> None:
    """Drop the shared frames named in ``keys`` and every frame built on
    them, for ``sf_dir`` (every corpus when None)."""
    drop = set(keys)
    for frame in SHARED_FRAMES:  # deps come first: one pass closes the set
        if drop.intersection(frame.deps):
            drop.add(frame.key)
    norm = None if sf_dir is None else _norm_dir(sf_dir)
    memo = spark.__dict__.get("_ce_dedup_chain") or {}
    for key in [k for k in memo if k[0] in drop and norm in (None, k[1])]:
        del memo[key]
    for frame in SHARED_FRAMES:
        if frame.release and frame.key in drop:
            frame.fn(frame.release)(spark, norm)


def invalidate_dedup_chain(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop every shared frame of ``sf_dir`` (of every corpus when None)
    — required after rewriting a corpus directory in place (mirrors
    ``invalidate_table_cache``)."""
    drop_shared(spark, [frame.key for frame in SHARED_FRAMES], sf_dir)


def shared_tok_leads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized corpus-wide token-lead frame (doc_id, tok, t1, t2):
    ONE posexplode with array-indexed successors serving BOTH the
    shingle frame (``concat_ws(tok, t1, t2)``) and the token stream
    (``nxt = t1``).

    Before r13 ``shared_shingles`` and ``shared_token_stream`` each ran
    an identical scan→tokenize→posexplode→lead-window pipeline — two
    corpus-token-volume window shuffles per session where ZERO suffice
    (optimization r13, guide §2.1: the successor tokens come from the
    array by index, map-local).  The derived frames are
    value-identical to the old spellings, so every consumer hash is
    unchanged."""
    def build() -> DataFrame:
        d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
        ex = d.select(
            "doc_id",
            tokens(F.col("text")).alias("toks"),
        ).select("doc_id", "toks", F.posexplode(F.col("toks")).alias("pos", "tok"))
        # successor tokens by ARRAY INDEX (F.get: null out of bounds,
        # ANSI-safe) — map-local, identical to lead(tok, k) over the
        # per-doc position window but without the corpus-token-volume
        # window shuffle (guide §2.1)
        return materialize_once(
            ex.select(
                "doc_id",
                "tok",
                F.get(F.col("toks"), F.col("pos") + 1).alias("t1"),
                F.get(F.col("toks"), F.col("pos") + 2).alias("t2"),
            )
        )

    return session_memo(spark, ("tok_leads", sf_dir), build)


def shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized corpus-wide DISTINCT 3-shingle frame (doc_id, sh),
    built once per (session, sf_dir) — the root of the shared chain.
    Consumers: the MinHash signature builder (MIN is duplicate-
    insensitive, so distinct input is signature-identical), SimHash
    votes (which REQUIRE set semantics), and duplicate-n-gram coverage.
    At 100 TB this is one corpus scan+explode+dedup shuffle instead of
    one per consumer; the bounded audit-window queries (doc_id < 200)
    keep their own explosion so their filter pushes to the parquet scan
    and they stay cheap standalone.  Since r13 the explode+window stage
    reads the shared ``shared_tok_leads`` blocks — shingle rows are
    ``concat_ws(" ", tok, t1, t2)`` where ``t2`` is non-null, exactly
    ``exploded_shingles``'s output."""
    return session_memo(
        spark,
        ("shingles", sf_dir),
        lambda: materialize_once(
            shared_tok_leads(spark, sf_dir)
            .where(F.col("t2").isNotNull())
            .select("doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("sh"))
            .distinct()
        ),
    )


def shared_kgrams(spark: SparkSession, sf_dir: str, k: int | None = None) -> DataFrame:
    """Materialized corpus-wide positional k-gram frame
    (doc_id, pos, gram, gh) — one 10-gram explosion per session,
    shared by span-level substring dedup (which consumes the hash +
    position) and the duplicated-span leaderboard (which consumes the
    gram text).  At 100 TB this is the single heaviest text explosion
    (k× token stream) done once instead of once per consumer."""
    from cassandra_extractor_spark.operators.text import tokens

    k = SUBSTR_K if k is None else k

    def build() -> DataFrame:
        d = load_table(spark, "documents", sf_dir).select(
            "doc_id", tokens(F.col("text")).alias("toks")
        )
        docs = d.select(
            "doc_id",
            "toks",
            F.when(F.col("toks").isNotNull(), F.size("toks")).otherwise(0).alias("n_tok"),
        )
        # sequence(0, negative) counts DOWN in Spark — gate short docs
        positions = F.when(
            F.col("n_tok") >= k, F.sequence(F.lit(0), F.col("n_tok") - k)
        ).otherwise(F.array().cast("array<int>"))
        gram = F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos") + 1, k))
        return materialize_once(
            docs.select("doc_id", "toks", F.explode(positions).alias("pos")).select(
                "doc_id", "pos", gram.alias("gram"), _md5_hash64(gram, "ss").alias("gh")
            )
        )

    return session_memo(spark, ("kgrams", sf_dir, k), build)


def shared_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized LSH band signatures for the corpus, built once per
    (session, sf_dir) — every LSH consumer (pair generation, incremental
    dedup, calibration) reads these blocks."""
    return session_memo(
        spark,
        ("bands", sf_dir),
        lambda: materialize_once(minhash_bands(spark, sf_dir)),
    )


def _shared_pair_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized RAW candidate co-occurrence stream
    (d1, d2, bkt_n, hub): ONE bands self-join serves BOTH bucket
    policies (optimization r14, guide §2.4 — the two ``shared_pairs``
    builds each ran their own self-join over ``shared_bands``, and the
    capped policy re-ran the bucket-stats aggregation besides).

    Row semantics: one row per (band-bucket co-occurrence) with
    ``d1 < d2``; ``bkt_n`` is that bucket's size and ``hub`` marks rows
    whose ``d1`` is the bucket minimum.  Both policies are projections:

    - uncapped pairs = distinct (d1, d2) over ALL rows (identical to
      the plain self-join — the annotation changes nothing);
    - capped pairs  = distinct (d1, d2) over rows with
      ``bkt_n ≤ cap`` (all-pairs inside small buckets — a pair
      co-occurring in ANY small bucket passes, exactly the old
      small-bucket self-join) plus ``hub`` rows (for a big bucket the
      all-pairs output contains (bkt_min, member) for every member,
      since bkt_min is the smallest id — exactly the old star set).

    At 100 TB the banding self-join is the heavy shuffle of the chain;
    this halves it."""

    def build() -> DataFrame:
        bands = shared_bands(spark, sf_dir)
        stats = bands.groupBy("band", "sig").agg(
            F.count("*").alias("bkt_n"), F.min("doc_id").alias("bkt_min")
        )
        ann = bands.join(F.broadcast(stats), ["band", "sig"])
        a, b = ann.alias("a"), bands.alias("b")
        cond = (
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        return materialize_once(
            a.join(b, cond).select(
                F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
                F.col("a.bkt_n").alias("bkt_n"),
                (F.col("a.doc_id") == F.col("a.bkt_min")).alias("hub"),
            )
        )

    return session_memo(spark, ("pair_base", sf_dir), build)


def shared_pairs(
    spark: SparkSession, sf_dir: str, max_bucket: int | None = None
) -> DataFrame:
    """Materialized LSH candidate pairs (per bucket policy), built once
    per (session, sf_dir, max_bucket) — the edge list feeding
    verification (editdist), graph analytics (PageRank, triangles,
    label propagation, leakage), and clustering.  Both policies project
    the shared single-join co-occurrence stream (``_shared_pair_base``,
    r14); output sets are identical to ``lsh_candidate_pairs`` over
    ``shared_bands`` (pinned by test)."""

    def build() -> DataFrame:
        base = _shared_pair_base(spark, sf_dir)
        if max_bucket is None:
            sel = base
        else:
            sel = base.where(
                (F.col("bkt_n") <= max_bucket) | F.col("hub")
            )
        return (
            sel.select("d1", "d2").distinct().localCheckpoint(eager=True)
        )

    return session_memo(spark, ("pairs", sf_dir, max_bucket), build)


def shared_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup connected components, built once per (session, sf_dir) —
    the cluster map consumed by canonical selection, corpus selection,
    the training-corpus pipeline, and the filter funnel.  Uses the
    star-topology skew guard (``max_bucket=64``): connectivity — hence
    the clusters and the oracle hash — is identical to all-pairs."""

    def build() -> DataFrame:
        pairs = shared_pairs(spark, sf_dir, max_bucket=64)
        # pairs are materialized, so the count is free — it sizes the
        # iteration partitioning inside connected_components
        return connected_components(pairs, n_edges=pairs.count())

    return session_memo(spark, ("clusters", sf_dir), build)


def ns_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band signature.

    shingle→minhash (map-only) → band→bucket self-join (one shuffle on
    uniformly-distributed md5 band signatures) → distinct pairs.

    The band and pair frames are built once per session
    (``shared_bands``/``shared_pairs``): the bucket self-join does NOT
    recompute the shingle→signature pipeline per aliased side, and the
    five other pair consumers read the same materialized edge list.
    """
    return shared_pairs(spark, sf_dir).orderBy("d1", "d2")


#: edit-distance similarity floor for a verified fuzzy duplicate
EDITDIST_SIM_PPM = 800_000  # ≥ 80% similar


def ns_neardup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance VERIFICATION of the MinHash-LSH candidate pairs —
    the standard two-stage fuzzy dedup: a cheap probabilistic recall
    stage proposes pairs, an exact character-level stage confirms them
    (catches shingle-level collisions that are not textual near-dups,
    e.g. shared boilerplate with different payloads).

    Similarity is pure-integer: ``sim_ppm = (maxlen − lev)·10⁶ div
    maxlen`` with Spark's and DuckDB's ``levenshtein`` agreeing exactly
    (unit costs, verified), so the verdict hashes identically
    cross-engine.  A pair is a verified duplicate at ≥ 80% similarity,
    which is algebraically ``lev ≤ maxlen div 5``.

    100 TB shape: levenshtein runs ONLY on the LSH candidate set
    (bounded by banding, never all-pairs), and it runs THRESHOLDED:
    ``levenshtein(t1, t2, maxlen div 5)`` early-exits with −1 the
    moment the distance provably exceeds the verification bound —
    O(k·minlen) per pair instead of O(len²), and O(1) when the length
    gap alone disqualifies (``lev ≥ |len1−len2|``, checked before any
    matrix work).  An adversarially long pair that can't pass 80%
    therefore never pays the quadratic cost.  Capped rows report the
    −1 sentinel in ``edit_dist``/``sim_ppm`` (documented contract:
    "provably below threshold, not computed"); the DuckDB oracle
    replicates the cap algebraically from the full distance, so both
    engines hash identically.  The two text lookups are hash joins
    co-partitioned on doc_id.
    """
    pairs = shared_pairs(spark, sf_dir)
    # NULL text normalizes to '' on BOTH engines — otherwise the verdict
    # column would be a NULL boolean (PARITY divergence #11)
    txt = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    joined = (
        pairs.join(txt.select(F.col("doc_id").alias("d1"), F.col("text").alias("t1")), "d1")
        .join(txt.select(F.col("doc_id").alias("d2"), F.col("text").alias("t2")), "d2")
    )
    sized = joined.select(
        "d1",
        "d2",
        "t1",
        "t2",
        F.greatest(F.length("t1"), F.length("t2")).cast("long").alias("max_len"),
    )
    # verified ⟺ sim_ppm ≥ 800000 ⟺ 5·lev ≤ maxlen ⟺ lev ≤ maxlen div 5,
    # so the verification threshold IS the early-exit bound
    scored = sized.select(
        "d1",
        "d2",
        "max_len",
        F.expr("levenshtein(t1, t2, cast(max_len div 5 as int))")
        .cast("long")
        .alias("edit_dist"),
    ).withColumn(
        "sim_ppm",
        # −1: thresholded early-exit fired (distance provably > bound).
        # Two empty texts: identical by convention (distance 0 over
        # nothing) — avoid 0/0 on both engines.
        F.when(F.col("edit_dist") < 0, F.lit(-1).cast("long"))
        .when(F.col("max_len") == 0, F.lit(1_000_000).cast("long"))
        .otherwise(F.expr("div((max_len - edit_dist) * 1000000, max_len)")),
    )
    return scored.select(
        "d1",
        "d2",
        "edit_dist",
        "max_len",
        "sim_ppm",
        (F.col("edit_dist") >= 0).alias("verified_dup"),
    ).orderBy("d1", "d2")


def ns_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit signatures, banded hamming join.

    ham(x,y) ≤ 3 with 4 byte-chunks ⇒ at least one chunk matches, so the
    chunk-equality self-join finds all such pairs without all-pairs cost.
    """
    # session-shared DISTINCT shingles (votes must count each shingle
    # once, matching the oracle's list_distinct; docs with <3 tokens
    # produce zero shingles, so the old ≥3-token pre-filter is implied)
    # → md5 → 32 vote-sum aggs
    exploded = shared_shingles(spark, sf_dir)
    h = exploded.select("doc_id", _md5_hash64(F.col("sh"), "sh").alias("hv"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("hv"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig_expr = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sig_expr = sig_expr + F.when(
            F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    sig = votes.select("doc_id", sig_expr.alias("sh"))
    chunks = sig.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * 8).bitwiseAND(255).alias("val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "sh", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val"))
    chunks = materialize_once(chunks)  # one signature pass, not one per join side
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(F.expr("a.sh ^ b.sh")).cast("long").alias("ham"),
        )
        .where(F.col("ham") <= HAMMING_MAX)
        .distinct()
        .orderBy("d1", "d2")
    )


def make_fold_arrow_kernel(np_term, py_term):
    """Build an Arrow-native batch kernel bit-identical to
    ``aggregate(zip_with(x, y, term), 0.0, acc + v)`` for an
    element-wise ``term``: the fold runs one dimension at a time across
    the whole batch with numpy — acc₀ = 0.0, accᵢ₊₁ = accᵢ + term(xᵢ,
    yᵢ), all float64, so per pair the IEEE op sequence is identical
    (numpy only vectorizes ACROSS rows, never reassociates within one;
    NaN/Inf propagate identically).

    Arrow-native in and out so the validity bitmap stays explicit: the
    fold's NULL results (null array either side, null element reached,
    unequal lengths — zip_with pads with null and null poisons the
    running sum terminally) come back as true SQL NULLs while NaN
    totals stay NaN, a distinction the pandas path cannot represent.
    The fast path handles the null-free fixed-width batch (every real
    embedding frame); anything else falls back to an exact scalar
    replica (CPython floats ARE IEEE doubles, so the same op sequence).

    ``np_term(a, b)`` operates on float64 ndarrays; ``py_term(p, q)``
    must be the scalar spelling of the same expression.
    """

    def _row_fold(a, b) -> float | None:
        if a is None or b is None:
            return None
        la, lb = len(a), len(b)
        acc = 0.0
        for i in range(max(la, lb)):
            p = a[i] if i < la else None
            q = b[i] if i < lb else None
            if p is None or q is None:
                return None
            acc = acc + py_term(p, q)
        return acc

    def _kernel(xs: "pa.Array", ys: "pa.Array") -> "pa.Array":
        # a future Spark/pyarrow may deliver ChunkedArray batches —
        # flatten before touching ListArray internals (offsets/values)
        if isinstance(xs, pa.ChunkedArray):
            xs = xs.combine_chunks()
        if isinstance(ys, pa.ChunkedArray):
            ys = ys.combine_chunks()
        n = len(xs)
        if (
            # the fast path reads ListArray internals; any other layout
            # (large_list, fixed_size_list, …) takes the exact scalar
            # fallback instead of raising (ADVICE r13)
            isinstance(xs, pa.ListArray)
            and isinstance(ys, pa.ListArray)
            and xs.null_count == 0
            and ys.null_count == 0
            and xs.values.null_count == 0
            and ys.values.null_count == 0
        ):
            xoff = np.asarray(xs.offsets)
            yoff = np.asarray(ys.offsets)
            xlen, ylen = np.diff(xoff), np.diff(yoff)
            if n and xlen.min() == xlen.max() == ylen.min() == ylen.max():
                dim = int(xlen[0])
                acc = np.zeros(n, dtype=np.float64)
                if dim:
                    # .values is the FULL child buffer — slice to this
                    # array's offset window before reshaping
                    a_mat = np.asarray(xs.values, dtype=np.float64)[
                        xoff[0] : xoff[-1]
                    ].reshape(n, dim)
                    b_mat = np.asarray(ys.values, dtype=np.float64)[
                        yoff[0] : yoff[-1]
                    ].reshape(n, dim)
                    for i in range(dim):
                        acc = acc + np_term(a_mat[:, i], b_mat[:, i])
                return pa.array(acc)
        xl, yl = xs.to_pylist(), ys.to_pylist()
        return pa.array(
            [_row_fold(xl[i], yl[i]) for i in range(n)], type=pa.float64()
        )

    return F.arrow_udf(_kernel, DoubleType())


#: Arrow-vectorized fold kernel (optimization r13, guide §4.2).
#: Deployed ONLY at the O(candidate-pairs) cosine hotspots, where it
#: was measured decisively faster than the interpreted HOF fold
#: (ns_semantic_dedup 1.77 s → 1.09 s at sf0.1); on the many
#: small/medium per-query frames (assignment argmax, recall audits,
#: brute top-k) the Arrow boundary overhead LOSES 0.05-0.26 s per
#: query, so ``dot`` itself stays the in-JVM fold.  An unrolled
#: 64-term JVM expression was also measured — 2.5-4× slower than the
#: fold (codegen blowup).  (DoubleType() rather than a DDL string: the
#: string form needs an active session to parse at module-import
#: time.)
_dot_arrow = make_fold_arrow_kernel(lambda a, b: a * b, lambda p, q: p * q)


def dot(x: Column, y: Column) -> Column:
    """Sequential-fold double dot product — bit-identical to the
    oracle's list_reduce spelling (both fold left-to-right in double)."""
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, v: acc + v)


def dot_batch(x: Column, y: Column) -> Column:
    """``dot`` through the Arrow-vectorized batch kernel — bit-identical
    results (asserted edge-case-by-edge-case in
    tests/test_optimization_r13.py), faster ONLY where one expression
    evaluates over candidate-pair volume; see the kernel note above."""
    return _dot_arrow(x, y)


def norm(x: Column) -> Column:
    return F.sqrt(dot(x, x))


def cosine_defined(nrm: Column) -> Column:
    """True where a vector of L2 norm ``nrm`` has a cosine: the norm is
    positive and not NaN; false (never null) otherwise, so the negation
    also catches a null norm.  Spark orders NaN above every number, so
    ``nrm > 0`` alone keeps a vector with a NaN component."""
    return nrm.isNotNull() & ~F.isnan(nrm) & (nrm > 0)


def connected_components(
    edges: DataFrame, max_iter: int = 20, n_edges: int | None = None
) -> DataFrame:
    """Connected components by min-label propagation.

    ``edges`` has columns (d1, d2).  Returns (doc_id, cluster_id) where
    cluster_id is the smallest doc_id in the component — a deterministic
    fixed point, independent of execution order or engine.

    Iterative joins with ``localCheckpoint`` per round to cut lineage
    (the standard Spark shape for label propagation; GraphFrames does
    the same under the hood).  Each round combines neighbor-min
    propagation with pointer jumping (``label(label(node))``,
    the shortcutting step of two-phase CC algorithms), so rounds
    needed ≈ log2(graph diameter) ≤ ``max_iter`` — a 10⁶-long dup
    chain converges in ~20 rounds instead of 10⁶.

    Two scale knobs (measured 36% off wall time at sf0.1 together,
    and both matter more at 100 TB):

    - when the caller knows the edge count (``n_edges``; free if the
      edge frame is already materialized), the symmetric edge list is
      repartitioned to ~500k edges/partition and checkpointed ONCE
      with hash partitioning on the per-round join key — every
      propagation round then shuffles only the (much smaller) label
      frame, and a tiny dup graph doesn't pay 32-task overhead per
      stage;
    - the first neighbor-min fold is computed in label initialization
      (``label₀ = min(node, direct neighbors)``) rather than starting
      from ``label₀ = node``, saving one full round.
    """
    sym = edges.selectExpr("d1 AS src", "d2 AS dst").union(
        edges.selectExpr("d2 AS src", "d1 AS dst")
    )
    if n_edges is not None:
        # ~500k edges/partition; floor 1 — a tiny dup graph runs its
        # per-round joins as single tasks (measured −0.25 s/query at
        # sf0.1) while a 100 TB edge list still gets ≤512 partitions
        nparts = max(1, min(512, n_edges // 500_000 + 1))
        sym = sym.repartition(nparts, "dst").localCheckpoint(eager=True)
    labels = sym.groupBy(F.col("src").alias("node")).agg(
        F.least(F.min("dst"), F.col("src")).alias("label")
    )
    # materialize label₀: round 1 references ``labels`` FOUR times
    # (neighbor-min join, both hop sides, the stepped join) and the
    # executed plan shows zero ReusedExchange across them — without
    # this the init aggregation over the symmetric edge list runs 4×
    # (verified: 8 duplicate HashAggregate nodes at r14; rounds ≥2 are
    # unaffected, their labels frame is the checkpointed ``stepped``).
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # pointer jumping: label(label(node)) — every node is a key in
        # labels (labels are node ids), so the inner join is total
        hop = labels.join(
            labels.select(
                F.col("node").alias("l_node"), F.col("label").alias("hop_label")
            ),
            F.col("label") == F.col("l_node"),
        ).select("node", "hop_label")
        # carry the previous label through the same select so the
        # convergence probe needs no extra join against the old labels
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .join(hop, "node", "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nmin"), F.col("label")),
                    F.coalesce(F.col("hop_label"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.where(F.col("label") != F.col("old_label")).limit(1).count()
        labels = stepped.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        # silent partial labels would split components — refuse instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter too large) — raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def ns_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH candidate pairs → connected
    components → (doc_id, cluster_id).  The full production dedup
    pipeline shape: signatures (map-only) → LSH join → clustering →
    keep min doc per cluster.

    The signature→pairs→components chain is built once per session
    (``shared_clusters``): the four corpus-family pipelines that
    consume the cluster map (canonical selection, corpus select,
    training corpus, filter funnel) read the same materialized labels
    instead of each re-signing the corpus and re-running the
    fixpoint — the in-session analog of the persisted signature store.
    """
    return shared_clusters(spark, sf_dir).orderBy("doc_id")


def cosine_prenormed(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with norms precomputed per-vector BEFORE the pairwise
    join — same double ops in the same order (bit-identical result),
    but the O(n²) stage folds one array instead of three."""
    return dot(a, b) / (norm_a * norm_b)


def cosine_prenormed_batch(
    a: Column, b: Column, norm_a: Column, norm_b: Column
) -> Column:
    """``cosine_prenormed`` with the dot through the Arrow batch kernel
    (bit-identical; see ``dot_batch``) — for the candidate-pair-volume
    cosine stages only."""
    return dot_batch(a, b) / (norm_a * norm_b)


#: non-deterministic-marked kernel instance (guide §4.4): when the
#: SAME kernel column is both filtered on and emitted, Catalyst
#: duplicates the evaluation below the pushed filter and again in the
#: projection — the marking forbids the copy, yielding ONE
#: ArrowEvalPython (values are unchanged; the flag only constrains the
#: optimizer).  Use where the kernel output is a RESULT column, not
#: just a filter input.
_dot_arrow_once = _dot_arrow.asNondeterministic()


def cosine_prenormed_batch_once(
    a: Column, b: Column, norm_a: Column, norm_b: Column
) -> Column:
    """``cosine_prenormed_batch`` through the single-eval kernel
    instance — for pairwise stages that also EMIT the cosine."""
    return _dot_arrow_once(a, b) / (norm_a * norm_b)


def ns_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (vec_id < 300 window for the
    all-pairs oracle; the LSH-bucketed ANN in similarity.py scales)."""
    e = (
        load_table(spark, "embeddings", sf_dir)
        .where(F.col("vec_id") < 300)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    # zero-norm and NaN-norm vectors excluded on BOTH engines
    # (divergence #4): cosine is undefined for them and 0/0 throws
    # under ANSI
    e = e.withColumn("nrm", norm(F.col("emb"))).where(cosine_defined(F.col("nrm")))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            # all-pairs volume → Arrow batch kernel; the cosine is both
            # emitted AND filtered on, so the single-eval instance
            # stops Catalyst duplicating it (r13, §4.2 + §4.4)
            F.round(
                cosine_prenormed_batch_once(
                    F.col("a.emb"), F.col("b.emb"), F.col("a.nrm"), F.col("b.nrm")
                ),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= 0.8)
        .orderBy("v1", "v2")
    )


EVAL_DOCS = 50  #: doc_id < EVAL_DOCS act as the held-out benchmark set
DECON_NGRAM = 5  #: n-gram size for contamination detection


def ns_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word 5-gram with the held-out evaluation set (doc_id < 50 plays the
    benchmark; the rest is the training corpus).

    The standard pre-training hygiene step (reference has no analogue —
    this is part of the LLM-pipeline surface): exact n-gram collision
    against eval benchmarks, reported as (doc_id, n_shared_grams) for
    every contaminated training doc.

    100 TB shape: benchmark n-gram sets are tiny relative to the corpus
    (a few MB of grams for standard eval suites), so the eval side is
    broadcast and the check is a map-side hash probe over one corpus
    scan — no corpus shuffle.  The per-doc count aggregation shuffles
    only the contaminated survivors.
    """
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    grams = exploded_shingles(d, n=DECON_NGRAM)
    eval_grams = (
        grams.where(F.col("doc_id") < EVAL_DOCS).select("sh").distinct()
    )
    train_grams = grams.where(F.col("doc_id") >= EVAL_DOCS).distinct()
    return (
        train_grams.join(F.broadcast(eval_grams), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_grams"))
        .orderBy("doc_id")
    )


N_SEM_CELLS = 16  #: cluster cells for semantic dedup
SEM_TAU = 0.8  #: within-cell cosine threshold


def ns_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space, then drop any vector whose cosine to a LOWER-id
    vector in the SAME cell exceeds τ.  Emits every vector with its
    cell and verdict — the keep-list is ``dropped = false``.

    Cells are assigned by nearest of ``N_SEM_CELLS`` fixed member
    centroids (vec_id < N_SEM_CELLS, broadcast); the pairwise check
    runs only WITHIN a cell.  100 TB shape: centroid count scales with
    the corpus so cell population stays bounded — assignment is a
    map-only broadcast argmax, the within-cell self-join is shuffled on
    cell id and quadratic only in the bounded cell size, never in the
    corpus.  Deterministic: min-id keeper, fold-order cosine, ties
    broken by centroid id.
    """
    # session-shared normed frame (zero-norm rows already excluded —
    # divergence #4): SemDeDup's cell geometry (N_SEM_CELLS) differs
    # from the IVF chain's, so only the scan+norm is shared, not the
    # assignment.  Lazy import: similarity imports this module.
    from cassandra_extractor_spark.operators.similarity import shared_embeddings

    return semantic_dedup_frame(shared_embeddings(spark, sf_dir))


def semantic_dedup_frame(e: DataFrame) -> DataFrame:
    """The SemDeDup core over an arbitrary normed embedding frame
    ``(vec_id, emb, nrm)`` — split out of ``ns_semantic_dedup`` so the
    streaming gate's parity test can run both spellings over the same
    augmented corpus (the registry entry keeps reading the session
    frame).  Semantics and plan shape documented above."""
    cent = e.where(F.col("vec_id") < N_SEM_CELLS).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "emb",
        "nrm",
        "c_id",
        cosine_prenormed(F.col("emb"), F.col("c_emb"), F.col("nrm"), F.col("c_nrm")).alias("csim"),
    )
    # argmax centroid as a struct-max aggregate, NOT a row_number window:
    # the broadcast nested-loop join emits all |cells| rows per vector in
    # one partition, so the partial (map-side) max collapses N×cells back
    # to N rows before the shuffle — a window would shuffle AND sort the
    # full N×cells frame.  Tie on csim → lowest c_id, encoded as the
    # second struct field (-c_id, unique per vector, so comparison never
    # reaches the payload fields).
    best = F.max(
        F.struct(
            F.col("csim"), (-F.col("c_id")).alias("neg"), F.col("c_id"),
            F.col("emb"), F.col("nrm"),
        )
    ).alias("b")
    assigned = scored.groupBy("vec_id").agg(best).select(
        "vec_id", F.col("b.emb").alias("emb"),
        F.col("b.nrm").alias("nrm"), F.col("b.c_id").alias("c_id"),
    )
    assigned = materialize_once(assigned)  # one assignment pass, not two
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.c_id") == F.col("b.c_id")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            # candidate-pair volume → Arrow batch kernel (r13, §4.2):
            # bit-identical cosine, measured 1.77 s → 1.09 s
            F.round(
                cosine_prenormed_batch(
                    F.col("a.emb"), F.col("b.emb"), F.col("a.nrm"), F.col("b.nrm")
                ),
                6,
            )
            >= SEM_TAU
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        assigned.select("vec_id", "c_id")
        .join(dropped, "vec_id", "left")
        .select("vec_id", "c_id", F.coalesce(F.col("dropped"), F.lit(False)).alias("dropped"))
        .orderBy("vec_id")
    )


PR_SCALE = 1_000_000_000_000  #: PageRank probability unit (1e-12)
PR_ITERS = 5
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  #: damping 0.85 as a ratio


def ns_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph — the iterative-algorithm shape
    (label propagation's weighted cousin): rank documents by their
    connectivity in the MinHash-LSH candidate graph, e.g. to pick the
    most-central canonical per duplicate neighborhood instead of
    min-doc_id.

    ALL-INTEGER arithmetic (probabilities in 1e-12 units, truncating
    ``div`` — DuckDB ``//``), so even the 5-iteration fixpoint is
    bit-identical cross-engine and this registers with an EXACT oracle
    — iterative algorithms usually get a rows-only waiver; integer
    units remove the float accumulation that forces it.

    100 TB shape: each iteration is one join (contributions along
    edges, pre-divided by degree) + one map-side-combined sum — the
    standard distributed PageRank; the edge list is the LSH candidate
    graph (bucketed, never all-pairs), materialized once across all
    iterations.  Dangling mass is not redistributed (isolated docs
    aren't in the graph; symmetric edges mean every node has degree
    >= 1), matching the oracle exactly.
    """
    pairs = shared_pairs(spark, sf_dir)
    edges = materialize_once(
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).union(
            pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
        )
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # (src, dst, deg) materialized ONCE (optimization r13, guide §1.2):
    # the old spelling re-joined deg inside every iteration — 5 joins
    # of an iteration-invariant frame
    edges_deg = materialize_once(edges.join(deg, "src"))
    n_nodes = deg.count()  # driver-side scalar: one number, plan-time
    if n_nodes == 0:
        # empty near-dup graph (no LSH candidate pair anywhere): no
        # node has a rank — 0 rows, matching the oracle, instead of a
        # plan-time ZeroDivisionError (found by the round-7b
        # differential expansion on a single-empty-document corpus)
        return deg.select(
            F.col("src").alias("doc_id"), F.lit(0).cast("long").alias("pr")
        )
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN) // n_nodes
    p = deg.select(
        F.col("src").alias("doc_id"),
        F.lit(PR_SCALE // n_nodes).cast("long").alias("pr"),
    )
    for _ in range(PR_ITERS):
        contrib = edges_deg.join(p, edges_deg.src == p.doc_id).select(
            F.col("dst"), F.expr("pr div deg").alias("c")
        )
        # the union made edges SYMMETRIC, so every node (degree ≥ 1 by
        # construction) receives ≥ 1 contribution: the inflow frame IS
        # the node set and the old left-join back to nodes (plus its
        # coalesce) was a per-iteration no-op — dropped (r13; equality
        # probe-verified).  The chain also stays fully LAZY: each p is
        # referenced exactly once by the next iteration, so one job
        # executes all 5 iterations end-to-end — the per-iteration
        # eager localCheckpoint paid 5 job round-trips to cut lineage
        # that a 5-deep plan doesn't need (measured 1.22 s → 0.70 s).
        # At 100 TB periodic checkpointing for fault-tolerance is the
        # production add-back, outside the oracle contract.
        p = (
            contrib.groupBy("dst")
            .agg(
                (
                    F.lit(base)
                    + F.expr(f"({PR_DAMP_NUM} * sum(c)) div {PR_DAMP_DEN}")
                )
                .cast("long")
                .alias("pr")
            )
            .select(F.col("dst").alias("doc_id"), "pr")
        )
    return p.orderBy("doc_id")


SUBSTR_K = 10  #: k-gram size for span-level (substring) dedup


def ns_substring_dedup(spark: SparkSession, sf_dir: str, k: int = SUBSTR_K) -> DataFrame:
    """Span-level (substring) duplication: the fraction of each
    document's tokens covered by a k-gram that occurs more than once in
    the corpus — the measurement half of exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"), which removes repeated spans rather than whole
    near-duplicate documents (reference has no analogue; this is
    north-star training-pipeline surface like the MinHash family).

    Suffix arrays are the single-node spelling; the distributed
    spelling is a hashed k-gram inverted index, which is exact for
    duplicated spans >= k tokens and embarrassingly parallel:

    1. one posexplode emits (doc_id, pos, md5-hash of the k-gram) —
       map-only, O(corpus tokens);
    2. one map-side-combined groupBy counts gram occurrences; grams
       seen >1 time anywhere (same doc or another) are duplicated;
    3. join back on the uniform md5 key (no skew) recovers each doc's
       duplicated-span start positions;
    4. per-doc interval union via gaps-and-islands windows (running
       max(end) over preceding rows starts a new island on a gap) —
       partition-parallel on doc_id, never a global sort.

    Output: (doc_id, n_tok, dup_tok, dup_frac) for every document.
    """
    from cassandra_extractor_spark.operators.text import shared_text_quality

    # doc spine (doc_id, n_tok) from the session quality frame — its
    # n_tokens IS size(tokens(text)) (null for null text ⇒ coalesce 0
    # mirrors the old otherwise(0)); the private corpus tokenize this
    # query ran just to count tokens is gone (optimization r14)
    docs = shared_text_quality(spark, sf_dir).select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tok"),
    )
    # session-shared k-gram frame: counts + join-back here AND the
    # duplicated-span leaderboard all read the same materialized blocks
    grams = shared_kgrams(spark, sf_dir, k).select("doc_id", "pos", "gh")
    dup_hashes = grams.groupBy("gh").agg(F.count("*").alias("c")).where(F.col("c") > 1)
    spans = grams.join(dup_hashes.select("gh"), "gh").select(
        "doc_id", "pos", (F.col("pos") + k - 1).alias("e")
    )
    w_prev = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
    w_run = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    prev_end = F.max("e").over(w_prev)
    flagged = spans.select(
        "doc_id",
        "pos",
        "e",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0).alias("ni"),
    )
    islands = flagged.select(
        "doc_id", "pos", "e", F.sum("ni").over(w_run).alias("island")
    )
    per_doc = (
        islands.groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("pos") + 1).alias("cov"))
        .groupBy("doc_id")
        .agg(F.sum("cov").alias("dup_tok"))
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            F.coalesce(F.col("dup_tok"), F.lit(0)).cast("long").alias("dup_tok"),
            F.round(
                F.when(
                    F.col("n_tok") > 0,
                    F.coalesce(F.col("dup_tok"), F.lit(0)).cast("double") / F.col("n_tok"),
                ).otherwise(0.0),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def ns_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: MinHash-LSH near-duplicate pairs
    whose two documents landed in DIFFERENT dataset splits — the leak
    that silently inflates eval numbers (a test doc with a near-copy in
    train).  The report every split pipeline should publish.

    Composes the two existing scale-shaped pieces: the banded LSH
    candidate generator (never all-pairs) and the deterministic hash
    splitter (codegen filter).  The split map joins each pair side on
    doc_id — the same key the pair generator emits, so both joins
    shuffle small pair rows, never documents.  Output: ordered split
    pair × count, with cross-split rows the actionable signal.
    """
    from cassandra_extractor_spark.operators.sampling import split_by_hash
    from cassandra_extractor_spark.sources.catalog import load_table

    pairs = shared_pairs(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    splits = split_by_hash(docs, "doc_id", {"train": 900, "val": 50, "test": 50})
    s1 = splits.select(F.col("doc_id").alias("d1"), F.col("split").alias("sa"))
    s2 = splits.select(F.col("doc_id").alias("d2"), F.col("split").alias("sb"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            F.least("sa", "sb").alias("s1"),
            F.greatest("sa", "sb").alias("s2"),
        )
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("s1", "s2")
    )


WIN_K = 5  #: winnowing k-gram size
WIN_W = 4  #: winnowing window (guarantee: every run of W k-grams yields a print)


def ns_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS algorithm): from each window of ``WIN_W`` consecutive k-gram
    hashes, keep the minimal one — guaranteeing any shared substring of
    length ≥ k + w - 1 contributes at least one matching fingerprint
    while storing only ~2/(w+1) of the grams.  The standard
    document-similarity sketch between full MinHash (whole-doc) and
    substring dedup (every gram).

    Emits the selected (doc_id, pos, fh) rows — joinable on fh for
    copy detection.  Ties broken by position via a struct min; md5
    makes hash ties vanishingly rare so both engines agree.

    100 TB shape: the gram hash is map-only; the window min is
    PARTITIONED BY doc_id (map-local after one exchange on doc_id, the
    same key the explode starts on); the distinct collapses per doc.
    Docs with fewer than ``WIN_W`` grams yield no prints (no full
    window), mirrored by the oracle.
    """
    from cassandra_extractor_spark.operators.text import tokens
    from cassandra_extractor_spark.sources.catalog import load_table

    k, w = WIN_K, WIN_W
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    docs = d.select(
        "doc_id",
        "toks",
        F.when(F.col("toks").isNotNull(), F.size("toks")).otherwise(0).alias("n_tok"),
    )
    positions = F.when(
        F.col("n_tok") >= k, F.sequence(F.lit(0), F.col("n_tok") - k)
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select("doc_id", "toks", F.explode(positions).alias("pos")).select(
        "doc_id",
        "pos",
        _md5_hash64(
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos") + 1, k)), "win"
        ).alias("h"),
    )
    wspec = W.partitionBy("doc_id").orderBy("pos")
    frame = wspec.rowsBetween(0, w - 1)
    winners = grams.select(
        "doc_id",
        "pos",
        F.min(F.struct(F.col("h"), F.col("pos").alias("p"))).over(frame).alias("win"),
        F.count("*").over(wspec.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("n_grams"),
    )
    return (
        winners.where(F.col("pos") <= F.col("n_grams") - w)  # full windows only
        .select("doc_id", F.col("win.p").cast("long").alias("pos"), F.col("win.h").alias("fh"))
        .distinct()
        .orderBy("doc_id", "pos")
    )


PREFIX_JAC_T = 0.5  #: Jaccard threshold for the prefix-filtered join

# the exact-integer filter form of the threshold, derived from the SAME
# constant that sizes the prefixes (inter/union >= p/q ⟺
# (p+q)·inter >= p·(n1+n2)) — retuning PREFIX_JAC_T keeps prefix
# length, final filter, and oracle in lockstep
from fractions import Fraction as _Fraction  # noqa: E402

PREFIX_JAC_NUM = _Fraction(PREFIX_JAC_T).limit_denominator(1000).numerator
PREFIX_JAC_DEN = _Fraction(PREFIX_JAC_T).limit_denominator(1000).denominator


def ns_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. 2007) — the LOSSLESS scale path that
    complements probabilistic MinHash-LSH: 100% recall at threshold t,
    no tuning, no signatures.

    Shape: shingle sets → global rarity order (document frequency —
    vocabulary-sized aggregation, tiny vs corpus) → each doc keeps only
    its p = n − ceil(t·n) + 1 RAREST shingles as its prefix → the
    candidate self-join runs on prefix shingles only.  The prefix
    theorem (overlap ≥ ceil(t·max(|A|,|B|)) forces a shared prefix
    element) guarantees no pair above threshold is missed; an exact
    intersection verify then removes candidate noise.  Hot boilerplate
    shingles are COMMON, hence never in a rarity-ordered prefix — the
    skew that explodes a naive shared-shingle join (and that LSH needs
    a star-topology guard for) is excluded by construction.

    Same output contract as ``ns_dedup_jaccard`` (whose shared-shingle
    join is the oracle-tractable spelling); doc_id < 500 keeps the
    oracle's verify join bounded at the sweep scales.
    """
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 500)
    sh = materialize_once(exploded_shingles(d).distinct())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("df"))
    ranked = sh.join(df_counts, "sh")
    w = W.partitionBy("doc_id").orderBy("df", "sh")
    with_idx = ranked.select(
        "doc_id", "sh", F.row_number().over(w).alias("idx")
    ).join(sizes, "doc_id")
    p = F.col("n") - F.ceil(F.lit(PREFIX_JAC_T) * F.col("n")) + 1
    prefix = with_idx.where(F.col("idx") <= p).select("doc_id", "sh")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(
            sb,
            (F.col("d2") == F.col("sb.doc_id")) & (F.col("sa.sh") == F.col("sb.sh")),
        )
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("inter"))
    )
    n1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("n1") + F.col("n2") - F.col("inter")).cast("double"),
        6,
    )
    # threshold on the EXACT integer form derived from PREFIX_JAC_T
    # ((p+q)·inter >= p·(n1+n2) ⟺ true jaccard >= p/q) — never on the
    # rounded display value: a pair with true jac in [t−ε, t) must not
    # round UP into the result, because the prefix theorem only
    # guarantees recall for true jac >= t
    return (
        inter.join(n1, "d1")
        .join(n2, "d2")
        .where(
            F.lit(PREFIX_JAC_NUM + PREFIX_JAC_DEN) * F.col("inter")
            >= F.lit(PREFIX_JAC_NUM) * (F.col("n1") + F.col("n2"))
        )
        .select("d1", "d2", jac.alias("jac"))
        .orderBy("d1", "d2")
    )


def ns_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation in the near-dup graph — the
    local-clustering signal that separates tight duplicate cliques
    (template families, mirror sets) from chance pairwise collisions:
    a doc in many triangles sits in a dense duplication neighborhood.

    Standard distributed triangle enumeration: edges kept in one
    orientation (d1 < d2), one two-hop join builds wedges, one edge
    join closes them; each triangle (a<b<c) is found exactly once.
    Pairs materialize once and feed all three roles.  Production note:
    at extreme skew the id-orientation is swapped for degree
    orientation (low→high), which bounds wedge counts by arboricity;
    id-orientation keeps the oracle deterministic and is the identical
    join shape.
    """
    pairs = shared_pairs(spark, sf_dir)
    a, b, c = pairs.alias("a"), pairs.alias("b"), pairs.alias("c")
    tri = (
        a.join(b, F.col("b.d1") == F.col("a.d2"))
        .join(
            c,
            (F.col("c.d1") == F.col("a.d1")) & (F.col("c.d2") == F.col("b.d2")),
        )
        .select(
            F.col("a.d1").alias("x"), F.col("a.d2").alias("y"), F.col("b.d2").alias("z")
        )
    )
    nodes = tri.select(
        F.explode(F.array("x", "y", "z")).alias("doc_id")
    )
    return (
        nodes.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_tri"))
        .orderBy("doc_id")
    )


def ns_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-n-gram coverage — the RefinedWeb /
    Gopher-repetition corpus metric: what fraction of a document's
    distinct 3-gram shingles also appear in at least one OTHER
    document.  Documents whose shingles are mostly corpus-duplicated
    (``dup_heavy``: ≥30 %) are boilerplate/template candidates that
    exact dedup misses because the surrounding text differs.

    Ratio is flagged by cross-multiplied integer inequality
    (``n_dup·10 ≥ n_grams·3``) — no float division, so the oracle
    comparison cannot drift.

    Scale shape: shingles come from the session-shared materialized
    frame (`shared_shingles` — one corpus explosion per session, shared
    with the MinHash signature builder and SimHash); the gram→doc-count
    aggregation is
    map-side combined and keyed by gram (uniform md5-ish distribution,
    no hot reducer); the count joins back on the same gram key so the
    two shuffles share partitioning.  At 100 TB the exact gram-count
    join can be swapped for the count-min pruned spelling
    (`ns_heavy_hitters`) without changing this operator's contract.

    Reference parity: extends the dedup family (SURVEY §2.5 north
    star); no reference equivalent — the reference ships rows, it does
    not score corpora (`worker.py` row loop).
    """
    sh = shared_shingles(spark, sf_dir)
    gram_docs = sh.groupBy("sh").agg(F.count("*").cast("long").alias("nd"))
    per = (
        sh.join(gram_docs, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_grams"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        (F.col("n_dup_grams") * 10 >= F.col("n_grams") * 3).alias("dup_heavy"),
    ).orderBy("doc_id")


def write_signature_store(bands: DataFrame, store_dir: str, n_buckets: int = 16) -> None:
    """Create the LSH signature store under ``store_dir`` (replacing
    what it held): the bands become its base, bucketed+sorted on
    (band, sig) — the durable corpus-side half of incremental dedup.
    Bucketing pre-shuffles the store ONCE at write time; every future
    batch join against it shuffles only the (small) arriving batch to
    the store's bucket layout, never the corpus (plan asserted in
    ``tests/test_scale.py::test_signature_store_join_never_shuffles_the_store``).

    At 100 TB this is the difference between an O(batch) nightly job
    and re-shuffling a petabyte signature table per batch; batches
    land as deltas (``streaming/dedup_stream.py``) and folds keep the
    bucket spec, which the store fixes here
    (``streaming/generations.py``).
    """
    from cassandra_extractor_spark.streaming import generations

    bucket = {"cols": ["band", "sig"], "sort": ["band", "sig"], "n_buckets": n_buckets}
    generations.create(
        store_dir, {"bands": (bands.select("doc_id", "band", "sig"), {"bucket": bucket})}
    )


def incremental_dedup_against_store(
    spark: SparkSession, store_dir: str, new_docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection against the persisted signature
    store (base ∪ outstanding deltas): sign the batch once, join it to
    the store (with no delta outstanding the store side is a bucketed
    scan, shuffle-free), self-join within the batch.  Returns
    ``(dup_pairs, new_bands)``."""
    from cassandra_extractor_spark.streaming import generations

    return incremental_dedup(generations.read(spark, store_dir, "bands"), new_docs)


def ns_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every overlapping pair
    (exact 3-shingle Jaccard ≥ 1 %) in the doc_id < 200 window, the
    signature-position agreement estimate ``m/NUM_PERM`` next to the
    exact Jaccard — the report that justifies (or indicts) the chosen
    ``NUM_PERM``/band layout before trusting LSH output at corpus
    scale.  All percentages are truncated integers (same
    double-divide-then-cast on both engines), so the comparison is
    exact.

    Scale note: the all-pairs exact side exists only for this bounded
    calibration window — production similarity always goes through the
    banded LSH join; this operator is how you *validate* that the
    estimator tracks truth before relying on it.
    """
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 200)
    sh = exploded_shingles(d).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    # floor() on BOTH engines: DuckDB CAST(double AS BIGINT) *rounds*
    # while Spark's cast truncates — floor is the portable spelling
    exact_pct = F.floor(
        F.col("i") * 100 / (F.col("n1") + F.col("n2") - F.col("i"))
    ).cast("long")
    pairs = (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .select("d1", "d2", exact_pct.alias("exact_pct"))
        .where(F.col("exact_pct") >= 1)
    )
    sig = minhash_signatures_for(d)
    s1 = sig.select(
        F.col("doc_id").alias("d1"), *[F.col(f"mh{s}").alias(f"a{s}") for s in range(NUM_PERM)]
    )
    s2 = sig.select(
        F.col("doc_id").alias("d2"), *[F.col(f"mh{s}").alias(f"b{s}") for s in range(NUM_PERM)]
    )
    matches = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("int") for s in range(NUM_PERM)
    )
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            "exact_pct",
            F.floor(matches * 100 / NUM_PERM).cast("long").alias("est_pct"),
        )
        .withColumn(
            "err_pct", F.abs(F.col("est_pct") - F.col("exact_pct")).cast("long")
        )
        .orderBy("d1", "d2")
    )


def ns_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection for near-dup clusters — the
    step that turns cluster IDs into an actionable keep/redirect map:
    each cluster keeps its longest document (ties → smallest doc_id),
    every other member points at it.  This is the production dedup
    OUTPUT contract (keep-list + redirect edges), downstream of
    ``ns_dedup_clusters``.

    Scale shape: clusters join documents on doc_id (co-partitioned
    hash join), one window per cluster_id (clusters are small by
    construction — the star-topology guard bounds them), and the
    canonical map is cluster-count-sized, hence broadcast.
    """
    # the cluster construction (LSH parameters, skew cap, checkpoint
    # discipline, iteration sizing) lives in ONE place — reuse it
    clusters = ns_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    ranked = clusters.join(docs, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(
                F.col("n_chars").desc(), F.col("doc_id")
            )
        ),
    )
    canon = ranked.where(F.col("rn") == 1).select(
        "cluster_id", F.col("doc_id").alias("canonical_id")
    )
    return (
        ranked.join(F.broadcast(canon), "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


LSH_RECALL_MIN_PCT = 30  #: lowest exact-Jaccard band the recall audit reports


def ns_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH recall by similarity band — the actionable
    companion to ``ns_minhash_calibration``: within the bounded audit
    window, every pair with exact 3-shingle Jaccard ≥ 30% is bucketed
    into 10-point bands and checked for membership in the banded
    candidate set, yielding the empirical S-curve (recall per band)
    that validates the NUM_PERM/BANDS layout against its theoretical
    1−(1−s^r)^b guarantee before trusting LSH at corpus scale.

    Pure-integer output (band_lo, n_pairs, n_caught, recall_pct).
    Scale note: the all-pairs exact side exists only for this bounded
    window (same contract as the calibration operator); the candidate
    side reads the session-shared pair frame.
    """
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 200)
    sh = exploded_shingles(d).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    exact_pct = F.floor(
        F.col("i") * 100 / (F.col("n1") + F.col("n2") - F.col("i"))
    ).cast("long")
    pairs = (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .select("d1", "d2", exact_pct.alias("exact_pct"))
        .where(F.col("exact_pct") >= LSH_RECALL_MIN_PCT)
    )
    cand = shared_pairs(spark, sf_dir).select("d1", "d2", F.lit(1).alias("hit"))
    return (
        pairs.join(cand, ["d1", "d2"], "left")
        .select(
            (F.least(F.expr("exact_pct div 10"), F.lit(9)) * 10)
            .cast("long")
            .alias("band_lo"),
            F.coalesce("hit", F.lit(0)).alias("hit"),
        )
        .groupBy("band_lo")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("hit").cast("long").alias("n_caught"),
        )
        .withColumn(
            "recall_pct", F.floor(F.col("n_caught") * 100 / F.col("n_pairs")).cast("long")
        )
        .orderBy("band_lo")
    )


def ns_source_dedup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — corpus forensics: how many
    near-dup candidate pairs join each (source, source) combination.
    Off-diagonal mass is mirror/syndication detection (site B republishes
    site A); diagonal mass is within-source boilerplate — the table that
    decides WHERE dedup effort and crawl exclusions go.

    Pure-integer; the pair side reads the session-shared candidate
    frame, the two source lookups are hash joins on doc_id, and the
    matrix is a map-side-combined aggregate to ≤ |sources|² rows.
    Sources order-normalize (least/greatest) so each unordered pair
    counts once.
    """
    pairs = shared_pairs(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("d1"), F.col("source").alias("s1")), "d1"
        ).join(
            src.select(F.col("doc_id").alias("d2"), F.col("source").alias("s2")), "d2"
        )
    )
    return (
        j.select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


def ns_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram — the dedup audit published with
    every corpus snapshot: how many clusters of each size exist and how
    many documents they hold (singletons included), so "what fraction
    of the corpus is duplicated, and is it many small clusters or one
    mega-cluster?" is answered before any removal runs.  The r8
    star-topology guard exists precisely because this distribution has
    a heavy tail on real crawls.

    Pure-integer output (size, n_clusters, n_docs) — hash-exact.
    100 TB shape: reads the session-shared cluster map (built once per
    session); the histogram is two map-side-combined aggregations down
    to |clusters| then |distinct sizes| rows; the singleton count is
    two one-row aggregates crossed broadcast-style — zero corpus-sized
    shuffles beyond the shared chain itself.
    """
    clusters = shared_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("size"))
    hist = sizes.groupBy("size").agg(F.count("*").cast("long").alias("n_clusters"))
    total = load_table(spark, "documents", sf_dir).agg(
        F.count("*").alias("n_total")
    )
    in_graph = clusters.agg(F.count("*").alias("n_graph"))
    # docs in no candidate pair form size-1 clusters (pair graph members
    # have size >= 2 by construction); row emitted only when non-empty
    singles = (
        total.crossJoin(in_graph)
        .select(
            F.lit(1).cast("long").alias("size"),
            (F.col("n_total") - F.col("n_graph")).cast("long").alias("n_clusters"),
        )
        .where(F.col("n_clusters") > 0)
    )
    return (
        hist.select(F.col("size").cast("long"), "n_clusters")
        .unionByName(singles)
        .select(
            F.col("size").alias("cluster_size"),
            "n_clusters",
            (F.col("size") * F.col("n_clusters")).cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


LPA_ROUNDS = 3  #: synchronous label-propagation rounds (unrolled in the oracle)


def ns_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    MinHash-LSH candidate graph — the dedup-neighborhood grouping that
    (unlike connected components, ``ns_dedup_clusters``) splits
    chained near-dup blobs at their weak links: a node adopts the MODE
    of its neighbors' labels, not the transitive minimum.

    Fully deterministic, hence exactly oracle-checkable: labels start
    as doc_id, each of LPA_ROUNDS rounds every node simultaneously
    takes its neighborhood's most frequent label with ties broken by
    the SMALLEST label (row_number over count DESC, label ASC) — no
    randomized visit order, no float scores.

    100 TB shape: per round, one hash join (edge ⋈ label, both sides
    partitioned by node) + one map-side-combined count + one
    per-node window argmax — the standard Pregel superstep as three
    DataFrame ops; the edge list is the banded LSH graph (never
    all-pairs) materialized ONCE across rounds.  Isolated docs keep
    their own label (left join back to the full doc set).
    """
    pairs = shared_pairs(spark, sf_dir)
    edges = materialize_once(
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).union(
            pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
        )
    )
    lab = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    w = W.partitionBy("node").orderBy(F.col("c").desc(), F.col("lab"))
    for _ in range(LPA_ROUNDS):
        nb = edges.join(lab, edges.src == lab.node).select(
            F.col("dst").alias("node"), "lab"
        )
        cnt = nb.groupBy("node", "lab").agg(F.count("*").alias("c"))
        lab = materialize_once(
            cnt.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lab")
        )
    docs = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("node")
    )
    return (
        docs.join(lab, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("lab", "node").alias("community"),
        )
        .orderBy("doc_id")
    )


TOP_SPANS_K = 20  #: report size for the duplicated-span leaderboard


def ns_top_dup_spans(spark: SparkSession, sf_dir: str, k: int = SUBSTR_K) -> DataFrame:
    """Top duplicated k-gram spans — the REMEDIATION companion to
    ``ns_substring_dedup``: that operator scores how much of each
    document is corpus-duplicated; this one surfaces the actual
    offending spans (boilerplate headers, license blocks, templated
    sentences) ranked by occurrence count, with their document spread.
    A pipeline operator reads this leaderboard to author crawl
    exclusions or span-strip rules before re-running extraction.

    Scale shape: gram text comes from the session-shared k-gram frame
    (``shared_kgrams`` — one corpus explosion per session, shared with
    substring dedup); the gram aggregation is map-side combined; the
    leaderboard is ``ORDER BY … LIMIT k`` = TakeOrdered (per-partition
    top-k, then a k-row driver merge — never a global sort).  Pure
    integers + the gram string; the cut is deterministic because the
    gram is a unique key in the ordering.

    Reference parity: north-star corpus-forensics surface (SURVEY
    §2.5); the reference ships rows, it never inspects corpora.
    """
    # session-shared k-gram frame (one corpus explosion per session,
    # shared with span-level substring dedup)
    grams = shared_kgrams(spark, sf_dir, k).select("doc_id", "gram")
    agg = grams.groupBy("gram").agg(
        F.count("*").cast("long").alias("n_occ"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    return (
        agg.where(F.col("n_occ") > 1)
        .orderBy(F.col("n_occ").desc(), "gram")
        .limit(TOP_SPANS_K)
        .select("gram", "n_occ", "n_docs")
    )


def ns_sketch_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-MinHash shard audit — the property that makes MinHash
    work on a 1000-executor cluster: per-shard sketches (elementwise
    MIN over the shard's per-doc signatures) merge associatively into
    the corpus sketch, so executors ship NUM_PERM longs per shard
    instead of shingle sets.  The MinHash twin of ``ns_hll_set_ops``
    (HLL registers merge by MAX; MinHash components merge by MIN).

    Per shard (= ``source``): the signed-doc and distinct-shingle
    counts, the sketch agreement with the corpus sketch
    (``sketch_matches`` of NUM_PERM components; ``est_ppm`` =
    matches/NUM_PERM — the single-set Jaccard J(shard, corpus) =
    |shard|/|corpus| estimator, since shard ⊆ corpus), the exact
    shingle share it estimates, and ``merged_ok``: the elementwise MIN
    of ALL shard sketches equals the corpus sketch computed directly
    from per-doc signatures — the associativity readout over real
    data.  Integer-exact end to end (the only arithmetic is MIN,
    COUNT DISTINCT, equality, and BIGINT ``div``).

    100 TB shape: per-doc signatures come from the session-shared
    chain (one signing pass per session, ``minhash_signatures_df``);
    the shard sketches are ONE map-side-combined MIN aggregate over
    8 longs per doc; the exact-count audit column is the only
    corpus-shingle-volume work and reads the shared DISTINCT shingle
    frame.  The corpus sketch and merged sketch are one-row broadcasts.
    """
    from cassandra_extractor_spark.sources.catalog import load_table

    sig = minhash_signatures_df(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    per_doc = sig.join(src, "doc_id")
    mins = [F.min(f"mh{s}").cast("long").alias(f"mh{s}") for s in range(NUM_PERM)]
    shard = materialize_once(
        per_doc.groupBy("source").agg(
            F.count("*").cast("long").alias("n_docs"), *mins
        )
    )
    corpus = sig.agg(
        *[F.min(f"mh{s}").cast("long").alias(f"c{s}") for s in range(NUM_PERM)]
    )
    merged = shard.agg(
        *[F.min(f"mh{s}").cast("long").alias(f"m{s}") for s in range(NUM_PERM)]
    )
    # exact audit side: distinct shingles per shard / corpus-wide, off
    # the session-shared DISTINCT shingle frame
    sh_src = shared_shingles(spark, sf_dir).join(src, "doc_id")
    n_sh = sh_src.groupBy("source").agg(
        F.countDistinct("sh").cast("long").alias("n_shingles")
    )
    n_union = sh_src.agg(F.countDistinct("sh").cast("long").alias("n_union"))
    matches = sum(
        F.when(F.col(f"mh{s}") == F.col(f"c{s}"), 1).otherwise(0)
        for s in range(NUM_PERM)
    )
    merged_ok = None
    for s in range(NUM_PERM):
        eq = F.col(f"m{s}") == F.col(f"c{s}")
        merged_ok = eq if merged_ok is None else (merged_ok & eq)
    return (
        shard.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(merged))
        .join(F.broadcast(n_sh), "source")
        .crossJoin(F.broadcast(n_union))
        .select(
            "source",
            "n_docs",
            "n_shingles",
            F.expr(f"CAST({NUM_PERM} AS BIGINT)").alias("n_components"),
            matches.cast("long").alias("sketch_matches"),
            F.expr(
                f"(CAST({1_000_000} AS BIGINT) * ("
                + " + ".join(
                    f"CASE WHEN mh{s} = c{s} THEN 1 ELSE 0 END"
                    for s in range(NUM_PERM)
                )
                + f")) div {NUM_PERM}"
            )
            .cast("long")
            .alias("est_ppm"),
            F.expr("(CAST(1000000 AS BIGINT) * n_shingles) div n_union")
            .cast("long")
            .alias("exact_ppm"),
            merged_ok.alias("merged_ok"),
        )
        .orderBy("source")
    )
