"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k (broadcast the small query set,
scan the corpus once — the right plan when queries ≪ corpus, which is
the 100 TB shape: the corpus side never shuffles, only the tiny query
side broadcasts).

Scale path: sign-random-projection LSH bucketing — per-row bucket
signature (map-only), then the join only meets rows sharing a bucket.
Projection vectors are md5-derived so the whole pipeline stays
deterministic and engine-portable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.types import ArrayType, LongType

from cassandra_extractor_spark.operators.dedup import (
    cosine_defined,
    cosine_prenormed,
    make_fold_arrow_kernel,
    materialize_once,
    norm,
    session_memo,
)
from cassandra_extractor_spark.sources.catalog import load_table

N_QUERIES = 10  #: vec_id < N_QUERIES are the query set in the demo queries


def in_encoding_contract(col: Column, lo: int, hi: int, what: str) -> Column:
    """Loud guard for order-preserving integer encodings.

    The argmax/argmin encodings (``votes·100 + (99 − label)``,
    ``score·10¹² ± doc_id``) assume a bounded input range; an
    out-of-contract value corrupts the decoded winner IDENTICALLY on
    both engines, so the differential harness would hash-match the
    wrong answers.  This makes the contract a runtime error instead:
    one cheap per-row branch, zero cost on the happy path.

    DELIBERATE ASYMMETRY: the paired DuckDB oracles carry no
    equivalent guard — on contract-violating data Spark fails loud
    while the oracle silently computes a corrupted winner.  That is
    the intent (the oracle is a reference spelling for VALID inputs,
    not a production engine), but any future operator reusing this
    guard should note the asymmetry next to its oracle builder."""
    return F.when((col >= lo) & (col <= hi), col).otherwise(
        F.raise_error(
            F.format_string(
                f"{what} outside encoding contract [{lo}, {hi}]: %s",
                col.cast("string"),
            )
        )
    )
TOP_K = 5
LSH_PLANES = 4  #: hyperplanes per LSH table (bucket bits)
LSH_TABLES = 8  #: independent LSH tables (candidate = collision in ANY)
DIM = 64


def _load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )


def _with_norm(e: DataFrame) -> DataFrame:
    """Norm-and-filter step shared by every cosine operator: attach the
    L2 norm and drop zero-norm and NaN-norm vectors (cosine is undefined
    for them — 0/0 → NaN, whose sort order is engine-specific; Spark
    orders NaN above every number, so ``NaN > 0`` alone would keep a
    vector with a NaN component; the embedding audit is the gate that
    surfaces such rows).  A frame that already carries
    ``nrm`` (the session-shared ``shared_embeddings``) passes through
    untouched, so consumers never recompute the fold."""
    if "nrm" in e.columns:
        return e
    return e.withColumn("nrm", norm(F.col("emb"))).where(cosine_defined(F.col("nrm")))


def shared_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared normed embedding frame (vec_id, emb, nrm),
    zero-norm rows excluded — the root of the ANN family chain (the
    embedding-side analog of ``dedup.shared_shingles``).  Every cosine
    consumer (brute/IVF/LSH/PQ top-k, recall audits, cell balance,
    symmetry, k-means step) reads these materialized blocks instead of
    re-scanning parquet and re-folding the norm.  At 100 TB this is the
    persisted normalized-vector store; in-session, localCheckpoint
    blocks play that role (see ``dedup.session_memo``)."""
    return session_memo(
        spark,
        ("ann_emb", sf_dir),
        lambda: materialize_once(_with_norm(_load_embeddings(spark, sf_dir))),
    )


def brute_topk(e: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for each query vector.

    Corpus scans once; the query set is broadcast (no corpus shuffle
    until the final per-query top-k, which AQE handles as a tiny
    window over q_id).  ``e``: (vec_id, emb) with vec_id < n_queries
    as the query set.
    """
    e = _with_norm(e)
    queries = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    corpus = e.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("n_id"), F.col("emb").alias("n_emb"), F.col("nrm").alias("n_nrm")
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "q_id",
        "n_id",
        F.round(
            cosine_prenormed(F.col("q_emb"), F.col("n_emb"), F.col("q_nrm"), F.col("n_nrm")),
            6,
        ).alias("cos"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def ns_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reads the session-shared normed frame but still PAYS the exact
    # broadcast-NL scoring pass every run — this is the brute baseline
    # the approximate indexes are calibrated against
    return brute_topk(shared_embeddings(spark, sf_dir))


def shared_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared exact ground-truth top-k frame (50 rows) — both
    recall audits (``ns_ann_recall``, ``ns_ann_ivfpq_recall``) compare
    against the SAME brute-force result, so the exact corpus scoring
    pass runs once per session instead of once per audit."""
    return session_memo(
        spark,
        ("ann_brute", sf_dir),
        lambda: materialize_once(brute_topk(shared_embeddings(spark, sf_dir))),
    )


def ns_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embedding column — the
    storage/bandwidth step of a large-scale vector pipeline.  Per
    vector: scale = max(|v|)/127; reports the scale and the mean
    absolute dequantization error (both oracle-reproducible doubles).
    Map-only: no shuffle at any corpus size.
    """
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # CORRECTNESS TRAP — no lambda may reference an OUTER column.
    # Hoisting scale into a withColumn and referencing F.col("scale")
    # inside the nested transform/zip_with/aggregate lambdas makes the
    # optimized narrow projection silently miscompute the fold (mae
    # drifts ~3e-8 vs the first-principles value; reproduced on Spark
    # 4.1 whenever ONLY the final columns are selected).  The previous
    # workaround inlined scale inside the lambdas, re-running the
    # max-scan per element (O(d²)/row, ~2s extra at sf0.1).  This
    # spelling is O(d): array_repeat evaluates scale ONCE as a plain
    # function argument (outside any lambda) and ships it to the
    # lambdas as element data, so every lambda is closed over its own
    # parameters only — the miscompute cannot trigger, and the
    # per-element arithmetic (v/s, round, *s, −, abs, left fold) is
    # bit-identical to the old spelling (pinned by
    # test_quantize_mae_first_principles).
    scale = F.array_max(F.transform(F.col("emb"), lambda v: F.abs(v))) / F.lit(127.0)
    srep = F.array_repeat(scale, F.size(F.col("emb")))
    deq = F.zip_with(
        F.col("emb"), srep, lambda vi, s: F.abs(F.round(vi / s, 0) * s - vi)
    )
    err = (
        F.aggregate(deq, F.lit(0.0), lambda acc, x: acc + x)
        / F.size(F.col("emb")).cast("double")
    )
    return e.select(
        "vec_id",
        F.round(scale, 8).alias("scale"),
        # all-zero vector: scale=0 would divide by zero (NULL in Spark,
        # inf/NaN in the oracle) — quantization error is exactly 0
        F.when(scale == 0, F.lit(0.0)).otherwise(F.round(err, 8)).alias("mae"),
    ).orderBy("vec_id")


def cosine_topk_vectorized(
    corpus: DataFrame,
    query_vectors: list[tuple[int, list[float]]],
    k: int = TOP_K,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized brute-force top-k: the performance path.

    The declared ``ns_ann_cosine_topk`` keeps scalar fold arithmetic for
    bit-exact oracle parity; this variant does the same math as one
    numpy matmul per Arrow batch (~10-100× less per-row overhead), for
    pipelines where throughput matters more than cross-engine hashing.
    The corpus is scanned once, queries ride along as a broadcast
    numpy matrix, and the per-batch partial top-k keeps the shuffle to
    ``batches × k`` rows before the final global top-k.
    """
    import numpy as np
    import pandas as pd

    q_ids = [int(q) for q, _ in query_vectors]
    q_mat = np.asarray([v for _, v in query_vectors], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    schema = "q_id long, n_id long, cos double"

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(pdf[emb_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            # zero-norm rows are excluded, matching brute_topk
            keep = norms > 0
            if not keep.all():
                pdf = pdf[keep].reset_index(drop=True)
                mat, norms = mat[keep], norms[keep]
            if not len(pdf):
                continue
            sims = (mat @ q_mat.T) / np.outer(norms, q_norm)
            out = []
            for j, q_id in enumerate(q_ids):
                col = sims[:, j]
                top = np.argsort(-col)[:k]  # partial top-k per batch
                out.append(
                    pd.DataFrame(
                        {"q_id": q_id, "n_id": pdf["vec_id"].values[top], "cos": col[top]}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partial = corpus.select(id_col, emb_col).mapInPandas(score, schema)
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def _projection_component(plane: int, dim: int, salt: int = 0) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1),
    derived from md5 so any engine can reproduce the planes."""
    import hashlib

    h = int(hashlib.md5(f"proj|{salt}|{plane}|{dim}".encode()).hexdigest()[:15], 16)
    return (h / float(16**15)) * 2.0 - 1.0


def lsh_bucket(emb: Column, planes: int = LSH_PLANES, dim: int = DIM, salt: int = 0) -> Column:
    """Sign-LSH bucket id as a pure Column expression: one bit per
    hyperplane = sign of <emb, plane>, via a zip_with/aggregate fold.

    ``salt`` derives an independent plane set per hash table.  This
    spelling is engine-portable (any SQL engine with list folds can
    reproduce it bit-for-bit) but the HOF lambdas run interpreted;
    ``lsh_bucket_ids`` below is the Arrow matmul production path
    (measured ~3× faster here, and don't unroll the dot product into a
    literal add-chain instead: tables × planes × dim terms blow the
    64 KB codegen method limit and the whole projection falls back to
    interpreting a ~2000-node tree — measured 5× SLOWER than this fold).
    """
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        plane = F.array(*[F.lit(_projection_component(p, d, salt)) for d in range(dim)])
        dot = F.aggregate(
            F.zip_with(emb, plane, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )
        bucket = bucket + F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
    return bucket


def lsh_bucket_ids(planes: int = LSH_PLANES, tables: int = LSH_TABLES, dim: int = DIM):
    """Arrow-vectorized sign-LSH: all ``tables`` bucket ids in one numpy
    matmul per batch — the production path for bucket assignment.

    The (tables·planes, dim) projection matrix is built once from the
    same md5-derived ``_projection_component`` values the Column
    spelling uses, closed over by the pandas UDF (small constant —
    ships with the serialized function; at 100 TB this is a map-only
    pass whose per-row cost is one row of a BLAS matmul).  Sign
    decisions can differ from the sequential fold only for dot products
    within float rounding of 0 — immaterial for an approximate
    operator.  Returns array<long> of length ``tables``.
    """
    mat_planes = np.array(
        [
            [_projection_component(p, d, t) for d in range(dim)]
            for t in range(tables)
            for p in range(planes)
        ],
        dtype=np.float64,
    )
    weights = 1 << np.arange(planes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def bucket_ids(emb: pd.Series) -> pd.Series:
        m = np.asarray(emb.tolist(), dtype=np.float64)
        bits = (m @ mat_planes.T > 0).astype(np.int64).reshape(len(m), tables, planes)
        return pd.Series(list((bits * weights).sum(axis=2)))

    return bucket_ids


N_IVF_CENTROIDS = 16
IVF_PROBES = 2


def _centroids(e: DataFrame, n_queries: int, n_centroids: int) -> DataFrame:
    """Deterministic coarse 'centroids': the first K corpus vectors —
    reproducible in the oracle (production k-means lands in the same
    broadcast-a-small-frame plan shape)."""
    return e.where(
        (F.col("vec_id") >= n_queries) & (F.col("vec_id") < n_queries + n_centroids)
    ).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm")
    )


def _cell_rank(
    side: DataFrame, cent: DataFrame, id_col: str, emb: str, nrm: str, keep: int
) -> DataFrame:
    """Nearest-``keep``-centroid assignment: broadcast the centroid set,
    bounded per-row argmax window (|centroids| rows per id).  Corpus
    side keep=1 (the inverted file), query side keep=probes."""
    scored = side.crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        "c_id",
        cosine_prenormed(F.col(emb), F.col("c_emb"), F.col(nrm), F.col("c_nrm")).alias("csim"),
    )
    if keep == 1:
        # argmax via struct-min aggregate (optimization r14, guide
        # §2.3 "aggregate before you shuffle" — the same map-side
        # collapse ns_kcenter_step uses): the row_number window
        # shuffled the FULL N×|centroids| scored product on id; the
        # partial aggregate reduces it to one row per id before the
        # exchange.  Ordering identical to the window's
        # (csim DESC, c_id ASC): min over (−csim, c_id) — −csim is an
        # exact sign flip, and Spark normalizes −0.0 = 0.0 in
        # comparisons, so ties still break to the smallest c_id.
        return (
            scored.groupBy(id_col)
            .agg(
                F.min(
                    F.struct(
                        (-F.col("csim")).alias("neg"), F.col("c_id").alias("c_id")
                    )
                ).alias("best")
            )
            .select(id_col, F.col("best.c_id").alias("c_id"))
        )
    w = W.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("c_id"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= keep)
        .select(id_col, "c_id")
    )


def _split_corpus_queries(e: DataFrame, n_queries: int) -> tuple[DataFrame, DataFrame]:
    corpus = e.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("n_id"), F.col("emb").alias("n_emb"), F.col("nrm").alias("n_nrm")
    )
    queries = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    return corpus, queries


def shared_ann_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared corpus→nearest-centroid assignment (n_id, c_id)
    under the default IVF geometry — the inverted file itself.  Before
    this frame existed, ``ns_ann_ivf``, both recall audits, IVF-PQ and
    the cell-balance audit EACH re-ran the corpus assignment scan; now
    the corpus is assigned once per session (at 100 TB: one assignment
    pass feeding the whole index-maintenance family, the in-session
    analog of the persisted cell-partitioned store in
    ``streaming/ann_stream.py``)."""

    def build() -> DataFrame:
        e = shared_embeddings(spark, sf_dir)
        cent = _centroids(e, N_QUERIES, N_IVF_CENTROIDS)
        corpus, _ = _split_corpus_queries(e, N_QUERIES)
        return materialize_once(_cell_rank(corpus, cent, "n_id", "n_emb", "n_nrm", 1))

    return session_memo(spark, ("ann_cells", sf_dir), build)


def ivf_topk(
    e: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    n_centroids: int = N_IVF_CENTROIDS,
    probes: int = IVF_PROBES,
    *,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their nearest of
    K fixed centroids (inverted file); each query probes only its
    nearest ``probes`` centroid cells.

    Centroids are deterministic corpus members (vec_id < K taken from
    the corpus side), so the whole pipeline — assignment, probing,
    ranking — is reproducible in the oracle.  At scale: the centroid
    set broadcasts, corpus assignment is map-only, and the probe join
    touches ~probes/K of the corpus instead of all of it.

    ``corpus_cells``: optionally inject a prebuilt (n_id, c_id)
    assignment frame (``shared_ann_cells``) so a multi-query session
    assigns the corpus once; the query-side assignment (|queries| rows)
    is always recomputed — it's the cheap side.
    """
    e = _with_norm(e)
    cent = _centroids(e, n_queries, n_centroids)
    corpus, queries = _split_corpus_queries(e, n_queries)
    if corpus_cells is None:
        corpus_cells = _cell_rank(corpus, cent, "n_id", "n_emb", "n_nrm", 1)
    query_cells = _cell_rank(queries, cent, "q_id", "q_emb", "q_nrm", probes)
    candidates = (
        corpus.join(corpus_cells, "n_id")
        .join(query_cells, "c_id")
        .join(F.broadcast(queries), "q_id")
    )
    scored = candidates.select(
        "q_id",
        "n_id",
        F.round(
            cosine_prenormed(F.col("q_emb"), F.col("n_emb"), F.col("q_nrm"), F.col("n_nrm")),
            6,
        ).alias("cos"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def ns_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(
        shared_embeddings(spark, sf_dir),
        corpus_cells=shared_ann_cells(spark, sf_dir),
    )


def lsh_topk(
    e: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    planes: int = LSH_PLANES,
    tables: int = LSH_TABLES,
    dim: int = DIM,
) -> DataFrame:
    """Multi-table sign-LSH approximate NN: a candidate is any corpus
    row colliding with the query in AT LEAST ONE of ``tables``
    independent hash tables (the standard LSH OR-construction).

    A single table ANDs all its plane bits, so near neighbors that
    disagree on one plane are lost — recall decays exponentially in
    ``planes``.  Multiple independent tables restore recall
    (1-(1-p^planes)^tables) while each table's bucket join stays
    map-side cheap: the corpus emits ``tables`` keyed copies, the join
    meets only same-(table, bucket) rows, and duplicate candidate pairs
    collapse in the (q_id, n_id) aggregation before ranking.  Recall <1
    by construction; the bucket join replaces the cross join, which is
    what survives a 100 TB corpus.  Bucket assignment is the Arrow
    matmul path (``lsh_bucket_ids``): one batched BLAS call per Arrow
    batch instead of tables × planes interpreted folds per row.
    """
    with_keys = (
        _with_norm(e)
        .withColumn("bks", lsh_bucket_ids(planes, tables, dim)(F.col("emb")))
        .select("vec_id", "emb", "nrm", F.posexplode("bks").alias("tbl", "bucket"))
    )
    queries = with_keys.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm"), "tbl", "bucket"
    )
    corpus = with_keys.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("n_id"), F.col("emb").alias("n_emb"), F.col("nrm").alias("n_nrm"), "tbl", "bucket"
    )
    scored = (
        corpus.join(F.broadcast(queries), ["tbl", "bucket"])
        .select(
            "q_id",
            "n_id",
            F.round(
                cosine_prenormed(F.col("q_emb"), F.col("n_emb"), F.col("q_nrm"), F.col("n_nrm")),
                6,
            ).alias("cos"),
        )
        # same pair may collide in several tables — collapse before ranking
        .groupBy("q_id", "n_id")
        .agg(F.first("cos").alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def ns_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_topk(shared_embeddings(spark, sf_dir))


N_KMEANS = 16  #: clusters for the Lloyd-step query


def ns_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One spherical k-means Lloyd iteration over the embedding corpus:
    assign every vector to its nearest (cosine) of ``N_KMEANS`` fixed
    member centroids (vec_id < N_KMEANS), then emit the per-dimension
    mean of each cluster — (cluster_id, dim, centroid_mean, n_members).

    The building block of embedding-space curation (SemDeDup cells,
    IVF coarse quantizers, cluster-balanced sampling are all repeated
    Lloyd steps).  100 TB shape: centroids broadcast, assignment is a
    map-only argmax, and the mean reduction is one posexplode →
    groupBy(cluster, dim) aggregation — map-side combined, K×dim output
    rows regardless of corpus size.

    Oracle parity: double addition isn't commutative-associative
    bit-wise, so a plain double ``SUM`` would hash-diverge between
    engines under different partitionings.  The sum therefore goes
    through DECIMAL(38,18) — the double→decimal cast rounds each value
    to the same fixed-point representation in both engines, decimal
    addition is exact (order-independent), and the final cast back to
    double before the divide is correctly rounded everywhere.  This is
    the ``ns_corpus_stats`` trick, and unlike the earlier
    collect_list+sorted-fold spelling it is constant-memory per
    aggregation buffer: a billion-member cluster streams through the
    map-side combine instead of materializing in one executor.  A
    unit test pins decimal-sum == sorted-fold on the test corpus.
    """
    # zero-norm vectors excluded on BOTH engines (divergence #4):
    # cosine is undefined for them and 0/0 throws under ANSI; the
    # session-shared frame applies the exclusion once
    e = shared_embeddings(spark, sf_dir)
    cent = e.where(F.col("vec_id") < N_KMEANS).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "emb",
        "c_id",
        cosine_prenormed(F.col("emb"), F.col("c_emb"), F.col("nrm"), F.col("c_nrm")).alias("csim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("c_id"))
    assigned = (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") == 1)
        .select("vec_id", "emb", F.col("c_id").alias("cluster_id"))
    )
    per_dim = assigned.select(
        "cluster_id", F.posexplode("emb").alias("dim", "val")
    )
    return (
        per_dim.groupBy("cluster_id", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(38,18)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("centroid_mean"),
            F.count("*").alias("n_members"),
        )
        .orderBy("cluster_id", "dim")
    )


PQ_SUBS = 8  #: subspaces (DIM // PQ_SUBDIM)
PQ_SUBDIM = 8  #: dims per subspace
PQ_K = 16  #: codewords per subspace


def _sub_slices(emb: Column, subs: int = PQ_SUBS, subdim: int = PQ_SUBDIM) -> Column:
    """array<struct<s,sub>>: the vector split into contiguous subvectors."""
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(emb, s * subdim + 1, subdim).alias("sub"),
            )
            for s in range(subs)
        ]
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (oracle-exact order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


#: Arrow-vectorized ``_l2sq`` (optimization r13, guide §4.2) —
#: bit-identical fold (see dedup.make_fold_arrow_kernel); used ONLY at
#: the corpus-encode stages (~corpus × subs × codewords folds); the
#: query-side tables are tiny and stay in-JVM.
_l2sq_batch = make_fold_arrow_kernel(
    lambda a, b: (a - b) * (a - b), lambda p, q: (p - q) * (p - q)
)


def pq_topk(
    e: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    subs: int = PQ_SUBS,
    n_codes: int = PQ_K,
) -> DataFrame:
    """Product-quantization ANN: encode each corpus vector as ``subs``
    codeword ids (nearest codeword per subspace), then score queries
    against CODES with an asymmetric distance table instead of raw
    vectors — the memory-bound trick behind IVF-PQ indexes (Jégou et
    al. 2011): a 64-float vector becomes 8 bytes, and per-candidate
    scoring is ``subs`` table lookups, not a 64-dim dot product.

    Codebooks here are deterministic corpus members (the first
    ``n_codes`` corpus vectors' sub-slices) so the whole pipeline is
    engine-reproducible; production would k-means them (see
    ``ns_kmeans_step``) — the plan shape is identical.

    100 TB shape: the codebook (subs × n_codes tiny rows) broadcasts;
    encoding is posexplode → broadcast join → map-side-combined
    min(struct) agg — one corpus-linear pass, shuffled only on
    (vec_id, s) for the argmin combine.  Query distance tables are
    queries × codebook (tiny).  The ADC join meets codes on (s, code):
    per candidate it moves ``subs`` ints, never the embedding.
    Deterministic ties: min over (distance, code) structs.
    """
    sub = e.select("vec_id", F.explode(_sub_slices(F.col("emb"))).alias("ss")).select(
        "vec_id", F.col("ss.s").alias("s"), F.col("ss.sub").alias("sub")
    )
    cb = (
        sub.where((F.col("vec_id") >= n_queries) & (F.col("vec_id") < n_queries + n_codes))
        .select(
            (F.col("vec_id") - n_queries).cast("int").alias("code"),
            "s",
            F.col("sub").alias("cvec"),
        )
    )
    corpus_sub = sub.where(F.col("vec_id") >= n_queries)
    codes = (
        corpus_sub.join(F.broadcast(cb), "s")
        .select(
            "vec_id",
            "s",
            # r14 ABAB (4 alternations, quiet box): the r13 Arrow batch
            # kernel LOSES here — codes stage 1.41-1.62 s (Arrow) vs
            # 1.27-1.44 s (JVM fold); PQ sub-vectors are tiny, so the
            # Python-boundary batch overhead exceeds the fold work
            # (guide §4.1: control what crosses).  The kernel stays
            # deployed at the full-dimension pair-volume sites
            # (semantic_dedup / neardup_embedding) where it measured
            # 1.6-1.8× faster.
            F.struct(_l2sq(F.col("sub"), F.col("cvec")).alias("d2"), F.col("code").alias("code")).alias("dc"),
        )
        .groupBy("vec_id", "s")
        .agg(F.min("dc").alias("best"))
        .select(F.col("vec_id").alias("n_id"), "s", F.col("best.code").alias("code"))
    )
    qdist = (
        sub.where(F.col("vec_id") < n_queries)
        .join(F.broadcast(cb), "s")
        .select(
            F.col("vec_id").alias("q_id"),
            "s",
            "code",
            _l2sq(F.col("sub"), F.col("cvec")).alias("qd2"),
        )
    )
    adc = (
        codes.join(F.broadcast(qdist), ["s", "code"])
        .groupBy("q_id", "n_id")
        .agg(
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list("qd2")), F.lit(0.0), lambda acc, v: acc + v
                ),
                6,
            ).alias("adist")
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("n_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def ns_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_topk(_load_embeddings(spark, sf_dir))


def _vsub(a: Column, b: Column) -> Column:
    """Element-wise a − b (fixed order — both engines zip identically)."""
    return F.zip_with(a, b, lambda x, y: x - y)


def _ivfpq_res_sub(
    corpus: DataFrame, ccell: DataFrame, cent: DataFrame, subs: int
) -> DataFrame:
    """Corpus residuals w.r.t. the assigned coarse centroid, split into
    PQ subspaces — (n_id, c_id, s, sub)."""
    corpus_res = (
        corpus.join(ccell, "n_id")
        .join(F.broadcast(cent.select("c_id", "c_emb")), "c_id")
        .select("n_id", "c_id", _vsub(F.col("n_emb"), F.col("c_emb")).alias("res"))
    )
    return corpus_res.select(
        "n_id", "c_id", F.explode(_sub_slices(F.col("res"), subs)).alias("ss")
    ).select("n_id", "c_id", F.col("ss.s").alias("s"), F.col("ss.sub").alias("sub"))


def _ivfpq_codebook(res_sub: DataFrame, n_queries: int, n_codes: int) -> DataFrame:
    """Shared residual codebook: sub-slices of the first ``n_codes``
    corpus vectors' residuals (each w.r.t. its OWN assigned centroid) —
    (code, s, cvec)."""
    return res_sub.where(
        (F.col("n_id") >= n_queries) & (F.col("n_id") < n_queries + n_codes)
    ).select(
        (F.col("n_id") - n_queries).cast("int").alias("code"), "s", F.col("sub").alias("cvec")
    )


def _ivfpq_codes(res_sub: DataFrame, cb: DataFrame) -> DataFrame:
    """PQ-encode the corpus residuals against the codebook — the stored
    index payload (n_id, c_id, s, code); deterministic argmin via
    min over (distance, code) structs."""
    return (
        res_sub.join(F.broadcast(cb), "s")
        .select(
            "n_id",
            "c_id",
            "s",
            # JVM fold, not the Arrow kernel — r14 ABAB showed the
            # batch kernel losing on tiny PQ sub-vectors (see pq_topk)
            F.struct(_l2sq(F.col("sub"), F.col("cvec")).alias("d2"), F.col("code").alias("code")).alias("dc"),
        )
        .groupBy("n_id", "c_id", "s")
        .agg(F.min("dc").alias("best"))
        .select("n_id", "c_id", "s", F.col("best.code").alias("code"))
    )


def ivfpq_topk(
    e: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    n_centroids: int = N_IVF_CENTROIDS,
    probes: int = IVF_PROBES,
    subs: int = PQ_SUBS,
    n_codes: int = PQ_K,
    *,
    corpus_cells: DataFrame | None = None,
    codebook: DataFrame | None = None,
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ — the production ANN index shape (Jégou et al. 2011;
    FAISS ``IVFxx,PQyy``): an inverted file of coarse cells bounds the
    candidate set, and within probed cells candidates are scored
    against PQ codes of the RESIDUAL (vector − coarse centroid) via an
    asymmetric distance table.  Composes ``ivf_topk``'s cell machinery
    with ``pq_topk``'s encode/ADC, with the one twist that defines
    IVF-PQ: the query builds a SEPARATE distance table per probed cell
    (its residual differs per centroid), so ADC lookups join on
    (cell, subspace, code).

    Determinism (oracle-exact): centroids and residual codebook are
    deterministic corpus members (first ``n_centroids`` / ``n_codes``
    corpus vectors; codebook sub-slices come from those vectors'
    residuals w.r.t. their own assigned centroid — production k-means
    both, same plan shape); argmins are min over (distance, code)
    structs; the per-candidate ADC sum folds a sorted list so the
    addition order is partition-independent.

    100 TB shape: centroid set and codebook broadcast; coarse
    assignment and residual encoding are one corpus-linear pass
    (posexplode → broadcast join → map-side-combined min-agg); the ADC
    join meets codes on (c_id, s, code) and moves ``subs`` ints per
    candidate — never an embedding — and only for the ~probes/K of the
    corpus inside probed cells.  This is the memory/recall trade the
    exact ``brute_topk`` baseline and the ``ns_ann_recall`` audit
    exist to calibrate.

    ``corpus_cells``/``codebook``/``corpus_codes``: optionally inject
    the session-shared index frames (``shared_ann_cells``,
    ``shared_ann_codebook``, ``shared_ann_codes``) so a multi-query
    session assigns + encodes the corpus once; only the tiny query-side
    work (probing + per-cell distance tables) is recomputed per call.
    """
    e = _with_norm(e)
    cent = _centroids(e, n_queries, n_centroids)
    corpus, queries = _split_corpus_queries(e, n_queries)
    if corpus_codes is None or codebook is None:
        ccell = (
            corpus_cells
            if corpus_cells is not None
            else _cell_rank(corpus, cent, "n_id", "n_emb", "n_nrm", 1)
        )
        res_sub = _ivfpq_res_sub(corpus, ccell, cent, subs)
        cb = codebook if codebook is not None else _ivfpq_codebook(res_sub, n_queries, n_codes)
        codes = corpus_codes if corpus_codes is not None else _ivfpq_codes(res_sub, cb)
    else:
        cb, codes = codebook, corpus_codes
    qcell = _cell_rank(queries, cent, "q_id", "q_emb", "q_nrm", probes)
    # per-(query, probed cell) residual distance table — the IVF-PQ twist
    qres = (
        qcell.join(F.broadcast(queries), "q_id")
        .join(F.broadcast(cent.select("c_id", "c_emb")), "c_id")
        .select("q_id", "c_id", _vsub(F.col("q_emb"), F.col("c_emb")).alias("res"))
    )
    qdist = (
        qres.select("q_id", "c_id", F.explode(_sub_slices(F.col("res"), subs)).alias("ss"))
        .select("q_id", "c_id", F.col("ss.s").alias("s"), F.col("ss.sub").alias("sub"))
        .join(F.broadcast(cb), "s")
        .select("q_id", "c_id", "s", "code", _l2sq(F.col("sub"), F.col("cvec")).alias("qd2"))
    )
    adc = (
        codes.join(F.broadcast(qdist), ["c_id", "s", "code"])
        .groupBy("q_id", "n_id")
        .agg(
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list("qd2")), F.lit(0.0), lambda acc, v: acc + v
                ),
                6,
            ).alias("adist")
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("n_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def shared_ann_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared IVF-PQ residual codebook (code, s, cvec) under the
    default geometry — tiny (subs × n_codes rows), but deriving it walks
    the corpus residual pipeline, so it is built once and broadcast from
    its materialized blocks ever after."""

    def build() -> DataFrame:
        e = shared_embeddings(spark, sf_dir)
        cent = _centroids(e, N_QUERIES, N_IVF_CENTROIDS)
        corpus, _ = _split_corpus_queries(e, N_QUERIES)
        # codebook members are the first PQ_K corpus vectors: narrow the
        # residual pipeline to them before exploding subspaces
        members = corpus.where(F.col("n_id") < N_QUERIES + PQ_K)
        res_sub = _ivfpq_res_sub(members, shared_ann_cells(spark, sf_dir), cent, PQ_SUBS)
        return materialize_once(_ivfpq_codebook(res_sub, N_QUERIES, PQ_K))

    return session_memo(spark, ("ann_codebook", sf_dir), build)


def shared_ann_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared PQ-encoded corpus (n_id, c_id, s, code) under the
    default geometry — the stored IVF-PQ index payload.  One residual
    encode pass per session; every IVF-PQ consumer joins query distance
    tables against these materialized codes (the in-session analog of
    the persisted code store a 100 TB serving layer would keep)."""

    def build() -> DataFrame:
        e = shared_embeddings(spark, sf_dir)
        cent = _centroids(e, N_QUERIES, N_IVF_CENTROIDS)
        corpus, _ = _split_corpus_queries(e, N_QUERIES)
        res_sub = _ivfpq_res_sub(corpus, shared_ann_cells(spark, sf_dir), cent, PQ_SUBS)
        return materialize_once(
            _ivfpq_codes(res_sub, shared_ann_codebook(spark, sf_dir))
        )

    return session_memo(spark, ("ann_codes", sf_dir), build)


def ns_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivfpq_topk(
        shared_embeddings(spark, sf_dir),
        codebook=shared_ann_codebook(spark, sf_dir),
        corpus_codes=shared_ann_codes(spark, sf_dir),
    )


HARD_NEG_K = 3


def ns_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-PQ index against exact brute force — the
    acceptance gate for the COMPRESSED index (``ns_ann_recall`` gates
    the uncompressed IVF): IVF-PQ loses candidates two ways (cell not
    probed, PQ distance distortion reorders the tail), so its recall is
    the number that tunes probes AND codebook size together.  Same
    integer comparison shape as ``ns_ann_recall`` — a left join marks
    hits, one aggregate, recall in integer percent.  Both sides read
    session-shared frames (ground truth + encoded corpus), so the audit
    itself is a 50-row join however large the corpus."""
    brute = shared_brute_topk(spark, sf_dir).select("q_id", "n_id")
    approx = (
        ns_ann_ivfpq(spark, sf_dir)
        .select("q_id", "n_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        brute.join(approx, ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "q_id",
            "k",
            "n_hits",
            F.floor(F.col("n_hits") * 100 / F.col("k")).cast("long").alias("recall_pct"),
        )
        .orderBy("q_id")
    )


def ns_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label — the examples a contrastive loss learns most from (high
    similarity, wrong class).  The per-query positive anchor (best
    same-label neighbor) rides along as rank 0.

    Same scale shape as ``brute_topk``: query set broadcast, corpus
    scans once with no shuffle before scoring, per-query top-k is a
    tiny window; at real scale the scoring pass swaps to the IVF/LSH
    candidate generators unchanged (the label predicate composes with
    any of them).
    """
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    e = _with_norm(e)
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("label").alias("q_label"),
    )
    corpus = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("n_id"),
        F.col("emb").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
        F.col("label").alias("n_label"),
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "q_id",
        "q_label",
        "n_id",
        "n_label",
        F.round(
            cosine_prenormed(
                F.col("q_emb"), F.col("n_emb"), F.col("q_nrm"), F.col("n_nrm")
            ),
            6,
        ).alias("cos"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    negatives = (
        scored.where(F.col("n_label") != F.col("q_label"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= HARD_NEG_K)
    )
    positives = (
        scored.where(F.col("n_label") == F.col("q_label"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") == 1)
        .withColumn("rank", F.lit(0).cast("long"))
    )
    return (
        positives.unionByName(negatives)
        .select("q_id", "rank", "n_id", "cos", F.col("n_label").cast("long").alias("n_label"))
        .orderBy("q_id", "rank")
    )


def ns_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA audit per class label — the pre-training
    sanity gate run before any ANN/clustering job: row counts,
    dimensionality drift (a single wrong-dim vector poisons every
    BLAS batch), and L2-norm spread (zero-norm rows break cosine;
    runaway norms flag un-normalized encoder output).

    Exactness: the per-row norm is the shared sequential fold
    (`dedup.norm` — same op order as the DuckDB ``list_reduce``
    mirror, bit-identical), integerized to micro-units per row; every
    cross-row aggregate (SUM/MIN/MAX/COUNT of BIGINT) is then
    order-independent, so the group fold order cannot drift between
    engines.

    Scale shape: single pass, map-side-combined groupBy on label (a
    low-cardinality key — partial aggs collapse to one row per label
    per task before the shuffle); no join, no window, no collect.
    """
    e = load_table(spark, "embeddings", sf_dir).select(
        "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    nrm_u = F.round(norm(F.col("emb")) * 1e6).cast("long")
    rows = e.select(
        "label",
        F.size("emb").alias("dim"),
        nrm_u.alias("nrm_u"),
    )
    return (
        rows.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.min("dim").cast("long").alias("dim_min"),
            F.max("dim").cast("long").alias("dim_max"),
            F.min("nrm_u").alias("norm_micro_min"),
            F.max("nrm_u").alias("norm_micro_max"),
            F.sum("nrm_u").alias("norm_micro_sum"),
            F.sum(F.when(F.col("nrm_u") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_norm"),
        )
        .orderBy("label")
    )


def ns_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality report: per-query recall@k of the probe-limited IVF
    index against exact brute force — the acceptance gate any
    approximate index must pass before replacing the exact path in a
    retrieval pipeline (and the number that tunes ``IVF_PROBES``).

    Integer everywhere (hit counts, recall in percent via integer
    multiply-divide), so cross-engine comparison is exact.

    Scale shape: both inputs are the already-scale-shaped operators
    (broadcast query side, probe-limited IVF); the comparison itself
    is a semi join on (q_id, n_id) — k·|queries| rows, trivially
    broadcast — plus one tiny aggregate.
    """
    # single pass over ONE brute-force result: a left join against the
    # approx list marks hits, and k + n_hits come out of the same
    # aggregate (two separate consumers of `brute` would re-execute the
    # exact cross join — Spark does not dedupe common subplans); both
    # sides read session-shared frames (shared_brute_topk ground truth,
    # shared_ann_cells inverted file)
    brute = shared_brute_topk(spark, sf_dir).select("q_id", "n_id")
    approx = (
        ns_ann_ivf(spark, sf_dir)
        .select("q_id", "n_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        brute.join(approx, ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "q_id",
            "k",
            "n_hits",
            # floor() on both engines: DuckDB CAST rounds, Spark truncates
            F.floor(F.col("n_hits") * 100 / F.col("k")).cast("long").alias("recall_pct"),
        )
        .orderBy("q_id")
    )


# --- round-5 embedding analytics ---------------------------------------

import math  # noqa: E402  (module-scope constants below)

#: NDCG position discounts 1/log2(i+1), Python-computed once and shared
#: verbatim with the oracle so engine libm differences can't surface
NDCG_DISCOUNT: dict[int, float] = {
    i: 1.0 / math.log2(i + 1) for i in range(1, TOP_K + 1)
}
IDCG_AT_K: float = sum(NDCG_DISCOUNT.values())


def ns_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus embeddings' top
    principal direction: w = Σₓ x·(xᵀv₀) with v₀ = 1⃗, normalized and
    sign-fixed — the building block of distributed PCA (and the
    variance-direction diagnostic an embedding-drift monitor wants).

    The d×d Gram matrix is NEVER materialized: per row, the scalar
    t = xᵀv₀ is one array fold, and each dimension contributes
    x[j]·t — a map-only explode into (dim, contrib) followed by a
    64-group aggregate.  Cross-engine exactness: the per-row double
    products are identical single expressions, and both the per-dim
    fold and the norm fold go through DECIMAL(38,18) (order-
    independent exact sums).  Sign is fixed by dim 1's loading so the
    eigvector's inherent ±ambiguity can't flip between engines.

    100 TB shape: map + one combine-enabled agg to d rows + one
    broadcast of a 1-row stats frame.  Iterating k steps = k such
    passes (v broadcast each round); no driver-side linear algebra.
    """
    e = _load_embeddings(spark, sf_dir)
    e = e.where(
        F.aggregate(
            F.zip_with(F.col("emb"), F.col("emb"), lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        > 0
    )
    t = F.aggregate(F.col("emb"), F.lit(0.0), lambda acc, v: acc + v)
    ex = e.select(
        t.alias("t"), F.explode(F.expr("sequence(1, size(emb))")).alias("dim"), "emb"
    ).select("dim", (F.element_at("emb", F.col("dim")) * F.col("t")).alias("contrib"))
    from cassandra_extractor_spark.operators.dedup import materialize_once

    # materialize the d-row per-dim frame ONCE: it feeds both the
    # output and the norm/sign stats row, and Catalyst would otherwise
    # re-run the full corpus explode+aggregate for each consumer
    wdf = materialize_once(
        ex.groupBy("dim")
        .agg(F.sum(F.col("contrib").cast("decimal(38,18)")).alias("w_dec"))
        .select(F.col("dim").cast("long").alias("dim"), F.col("w_dec").cast("double").alias("w"))
    )
    stats = wdf.agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(38,18)")).cast("double")
        ).alias("nrm"),
        F.min(F.when(F.col("dim") == 1, F.col("w"))).alias("w1"),
    )
    signed = F.when(F.col("w1") < 0, -F.col("w")).otherwise(F.col("w"))
    return (
        wdf.crossJoin(F.broadcast(stats))
        .select("dim", (F.round(signed / F.col("nrm"), 6) + F.lit(0.0)).alias("loading"))
        .orderBy("dim")
    )


def ns_ranking_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of the probe-limited IVF ranking against exact brute
    force — the position-weighted retrieval-quality companion to
    ``ns_ann_recall`` (recall treats rank 1 and rank k alike; NDCG
    does not).  Binary relevance: a system result is relevant iff it
    appears in the exact top-k.  Discounts 1/log2(i+1) and the ideal
    DCG are Python literals shared with the oracle; the per-query
    fold over k terms goes through DECIMAL(38,18).

    Scale shape: both rankings are the already-scale-shaped operators;
    the relevance join is k·|queries| rows, broadcast-sized.
    """
    exact = shared_brute_topk(spark, sf_dir).select(
        "q_id", "n_id", F.lit(1).alias("rel")
    )
    sys = ns_ann_ivf(spark, sf_dir).select("q_id", "n_id", "rank")
    disc = F.lit(None).cast("double")
    for i, v in NDCG_DISCOUNT.items():
        disc = F.when(F.col("rank") == i, F.lit(v)).otherwise(disc)
    j = sys.join(F.broadcast(exact), ["q_id", "n_id"], "left").select(
        "q_id",
        "rank",
        F.coalesce("rel", F.lit(0)).alias("rel"),
        disc.alias("disc"),
    )
    return (
        j.groupBy("q_id")
        .agg(
            F.sum("rel").cast("long").alias("n_hits"),
            F.sum((F.col("rel") * F.col("disc")).cast("decimal(38,18)"))
            .cast("double")
            .alias("dcg"),
        )
        .select(
            "q_id",
            "n_hits",
            F.round(F.col("dcg") / F.lit(IDCG_AT_K), 6).alias("ndcg"),
        )
        .orderBy("q_id")
    )


def ns_embedding_centering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids plus their offset from the global
    centroid — the mean-centering / class-separation statistic an
    embedding-quality monitor tracks (collapsed classes show near-zero
    offsets; drifted ones move).  Per (label, dim): exact
    DECIMAL(38,18) sums of the double components divided by exact
    counts; the global centroid derives from the SAME per-label sums
    (one corpus pass total), so both levels are bit-identical on any
    engine or partitioning.

    Scale shape: explode to (label, dim, val) → ONE map-side-combined
    aggregate down to |labels|·d rows; the global roll-up and the
    offset join run over that tiny frame.  No second corpus scan,
    no collect.
    """
    e = load_table(spark, "embeddings", sf_dir).select(
        "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    ex = e.select(
        "label", F.explode(F.expr("sequence(1, size(emb))")).alias("dim"), "emb"
    ).select("label", "dim", F.element_at("emb", F.col("dim")).alias("val"))
    per_label = ex.groupBy("label", "dim").agg(
        F.sum(F.col("val").cast("decimal(38,18)")).alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    g = per_label.groupBy("dim").agg(
        (F.sum("s").cast("double") / F.sum("n").cast("double")).alias("gmean")
    )
    return (
        per_label.select(
            "label",
            "dim",
            (F.col("s").cast("double") / F.col("n").cast("double")).alias("lmean"),
        )
        .join(F.broadcast(g), "dim")
        .select(
            "label",
            F.col("dim").cast("long").alias("dim"),
            F.round("lmean", 6).alias("label_mean"),
            # "delta" not "offset": OFFSET is a reserved word in the
            # oracle dialect.  + 0.0: lmean and gmean each come off a
            # decimal→double cast that is engine-asymmetric in the last
            # ulp (PARITY #9), so their DIFFERENCE can land on opposite
            # sides of zero and round() splits −0.0/+0.0 (PARITY #10)
            (F.round(F.col("lmean") - F.col("gmean"), 6) + F.lit(0.0)).alias(
                "delta"
            ),
        )
        .orderBy("label", "dim")
    )


JL_DIMS = 16  #: Johnson-Lindenstrauss target dimensionality
JL_SCALE = 1.0 / (JL_DIMS ** 0.5)  #: 1/sqrt(k) variance normalizer


def _jl_sign(j: int, d: int) -> int:
    """Deterministic ±1 projection entry, derived from md5 so any
    engine reproduces the matrix (same device as ``_projection_component``)."""
    import hashlib

    return 1 if int(hashlib.md5(f"jl|{j}|{d}".encode()).hexdigest()[:2], 16) & 1 else -1


def ns_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection DIM→JL_DIMS with a ±1
    (Achlioptas) sign matrix — the dimensionality-reduction pass run
    before clustering / dedup at corpus scale (16 doubles per doc
    instead of 64 floats, distances preserved to 1±ε).

    The projection is ROW-LOCAL (proj_j = Σ_d x_d·s_jd needs only the
    row's own vector), so it must stay a map-only pass: each sign row
    is an inline literal array and each output dim a sequential
    zip_with/aggregate fold — no explode, no join, no shuffle (the
    explode→join→re-group spelling multiplies shuffle volume by
    DIM·JL_DIMS ≈ 1000× for a per-row computation).  Multiplying by ±1
    is EXACT in IEEE and both engines evaluate the same fold in the
    same list order (aggregate ≡ list_reduce, bitwise — the PCA
    pattern), so parity needs no decimal detour; the only rounding is
    the final 1/√k scale (shared literal).  Sign arrays stay INLINE in
    the HOF per the Spark 4.1 nested-HOF hazard note (PARITY.md).
    """
    e = _load_embeddings(spark, sf_dir)

    def proj(j: int):
        # slice the sign row to the vector's length: zip_with NULL-pads
        # the shorter side, which would poison the fold for dim < 64
        signs = F.slice(
            F.array(*[F.lit(_jl_sign(j, d)) for d in range(1, DIM + 1)]),
            1,
            F.size("emb"),
        )
        return F.aggregate(
            F.zip_with(F.col("emb"), signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda a, b: a + b,
        )

    ps = F.array(*[proj(j) for j in range(JL_DIMS)])
    return (
        e.select("vec_id", F.posexplode(ps).alias("pos", "p"))
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("out_dim"),
            (F.round(F.col("p") * F.lit(JL_SCALE), 6) + F.lit(0.0)).alias("proj"),
        )
        .orderBy("vec_id", "out_dim")
    )


PROBE_LR = 0.1  #: learning rate for the linear-probe gradient steps


def ns_linear_probe_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact full-batch gradient-descent steps of a least-squares
    linear probe (is-label-0 target) on the embedding table — the
    "train a cheap probe on frozen embeddings" step of every
    representation-quality pipeline, in its distributed Gram-free
    shape (only Xᵀ·vector products, never the DIM×DIM Gram matrix).

    From w₀=0: w₁ = (2λ/n)·Xᵀy, then w₂ = w₁ − (2λ/n)·Xᵀ(Xw₁ − y).
    Every Xᵀ-product accumulates per-dimension in DECIMAL(38,18)
    (order-independent); w₁ is rounded BEFORE reuse so both engines
    carry the identical weight into step two; n and the learning-rate
    ratio are exact scalars.  Both outputs round to 6 decimals — the
    PARITY #9 rule: double→DECIMAL casts are engine-asymmetric at
    ~1e-17 RELATIVE per term, so on adversarial magnitudes (~1e6+)
    the accumulated asymmetry reaches ~1e-8 and an 8-decimal round
    splits (found by the round-9 deep differential sweep); the
    ≤6-digit grid gives two orders of margin.

    100 TB shape: the exploded (row, dim) frame hashes on vec_id for
    the prediction pass and on dim for the two gradient reductions
    (64 groups — map-side combine does all the work); the weight
    vector broadcasts (64 rows).  The frame is materialized once and
    reused by all three passes.
    """
    from cassandra_extractor_spark.operators.dedup import materialize_once

    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
    )
    ex = materialize_once(
        e.select("vec_id", "y", F.posexplode("emb").alias("pos", "x")).select(
            "vec_id", "y", (F.col("pos") + 1).alias("dim"), "x"
        )
    )
    n = e.agg(F.count("*").cast("long").alias("n_rows"))
    lr2 = F.lit(2.0 * PROBE_LR)
    w1 = (
        ex.groupBy("dim")
        .agg(F.sum((F.col("x") * F.col("y")).cast("decimal(38,18)")).alias("g0"))
        .crossJoin(F.broadcast(n))
        .select(
            "dim",
            # + 0.0 kills signed zero: an exactly-cancelling gradient
            # emerges as ±1e-19 from the engine-asymmetric decimal
            # casts (PARITY #9) and would round to -0.0 vs +0.0
            (
                F.round(
                    F.col("g0").cast("double")
                    * lr2
                    / F.col("n_rows").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("w1"),
        )
    )
    pred = (
        ex.join(F.broadcast(w1), "dim")
        .groupBy("vec_id")
        .agg(F.sum((F.col("x") * F.col("w1")).cast("decimal(38,18)")).alias("p"))
        .select("vec_id", F.col("p").cast("double").alias("pred"))
    )
    resid = e.select("vec_id", "y").join(pred, "vec_id").select(
        "vec_id", (F.col("pred") - F.col("y")).alias("r")
    )
    return (
        ex.join(resid, "vec_id")
        .groupBy("dim")
        .agg(F.sum((F.col("x") * F.col("r")).cast("decimal(38,18)")).alias("g1"))
        .join(F.broadcast(w1), "dim")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.col("w1"),
            (
                F.round(
                    F.col("w1")
                    - F.col("g1").cast("double")
                    * lr2
                    / F.col("n_rows").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("w2"),
        )
        .orderBy("dim")
    )


MI_TOP = 10  #: report the top-k most informative dimensions


K_CENTER = 8  #: current center-set size for the greedy k-center step


def ns_kcenter_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Gonzalez greedy k-center step over the embedding corpus —
    the coverage audit + next-center selection behind diversity-aware
    training-data curation (facility-location / coreset selection;
    Gonzalez 1985, Sener & Savarese 2018): with the current center set
    S (deterministic: the first ``K_CENTER`` vectors), every remaining
    vector's distance to its NEAREST center is its coverage.  Per
    center region this reports population, the coverage RADIUS (max
    min-distance — the k-center objective), and the farthest vector:
    the region's candidate next center, and the global radius argmax
    row is exactly the vector Gonzalez's greedy adds next.

    Exactness: per-pair cosine is the shared prenormed fold rounded at
    6; distance = (1 − cos) in integer micro-units, so every min / max
    / argmax downstream is an integer comparison on both engines (ties
    → lowest center id, then lowest vector id, encoded in the struct
    orderings).

    100 TB shape: centers broadcast (K rows); min-over-centers is a
    map-side-combined struct-MIN aggregate, so N×K collapses back to N
    rows before any shuffle (the ``ns_semantic_dedup`` assignment
    shape — no row_number window over the product); the region report
    is one more map-side-combined aggregate to ≤K rows.  Each greedy
    iteration is one such corpus-linear pass — k selection steps cost
    k passes, never a pairwise matrix.
    """
    e = shared_embeddings(spark, sf_dir)
    cent = e.where(F.col("vec_id") < K_CENTER).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm")
    )
    cand = e.where(F.col("vec_id") >= K_CENTER)
    dist_u = F.round(
        (
            F.lit(1.0)
            - F.round(
                cosine_prenormed(F.col("emb"), F.col("c_emb"), F.col("nrm"), F.col("c_nrm")),
                6,
            )
        )
        * F.lit(1e6),
        0,
    ).cast("long")
    scored = cand.crossJoin(F.broadcast(cent)).select("vec_id", "c_id", dist_u.alias("dist_u"))
    # nearest center: struct-min collapses map-side (ties → lowest c_id)
    assigned = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct(F.col("dist_u"), F.col("c_id"))).alias("m"))
        .select("vec_id", F.col("m.c_id").alias("c_id"), F.col("m.dist_u").alias("dist_u"))
    )
    # region report: radius + farthest vector (ties → lowest vec_id,
    # encoded as -vec_id in the struct max)
    return (
        assigned.groupBy("c_id")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.max("dist_u").alias("radius_micro"),
            (-F.max(F.struct(F.col("dist_u"), (-F.col("vec_id")).alias("neg"))).getField("neg"))
            .cast("long")
            .alias("farthest_id"),
        )
        .orderBy("c_id")
    )


def ns_mi_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature selection: which embedding dimensions
    carry label signal?  MI between (label == 0) and sign(emb[d] > 0)
    per dimension, top-MI_TOP dims — the cheap filter-method ranking
    run before training probes on a subset of dimensions.

    The 2×2 contingency table per dim is ONE map-side-combined
    aggregate over the exploded (row, dim) frame (four conditional
    integer counts); MI is a fixed-order four-term double expression
    (each term n_ij/n · ln(n_ij·n/(n_i·n_j)), zero cells contribute
    0), so there is no float accumulation across rows — round-safe
    (ln outputs are irrational).  Top-k is a TakeOrderedAndProject.
    """
    e = load_table(spark, "embeddings", sf_dir).select(
        F.col("embedding").cast("array<double>").alias("emb"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("y"),
    )
    ex = e.select(
        "y", F.posexplode("emb").alias("pos", "x")
    ).select((F.col("pos") + 1).alias("dim"), "y", (F.col("x") > 0).alias("s"))
    cells = ex.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("s") & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when(F.col("s") & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when(~F.col("s") & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when(~F.col("s") & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )

    def term(nij, ni, nj):
        nijd = F.col(nij).cast("double")
        nd = F.col("n").cast("double")
        return F.when(
            F.col(nij) > 0,
            nijd / nd * F.log(nijd * nd / (ni.cast("double") * nj.cast("double"))),
        ).otherwise(F.lit(0.0))

    r1 = F.col("n11") + F.col("n10")  # s = true row total
    r0 = F.col("n01") + F.col("n00")
    c1 = F.col("n11") + F.col("n01")  # y = 1 col total
    c0 = F.col("n10") + F.col("n00")
    mi = (
        term("n11", r1, c1)
        + term("n10", r1, c0)
        + term("n01", r0, c1)
        + term("n00", r0, c0)
    )
    return (
        cells.select(
            F.col("dim").cast("long").alias("dim"),
            "n11",
            "n10",
            "n01",
            "n00",
            # + 0.0: the four signed MI terms cancel to ~0 at
            # near-independence, and per-engine libm ulp noise can put
            # the residual on opposite sides of zero (PARITY #10)
            (F.round(mi, 8) + F.lit(0.0)).alias("mi"),
        )
        .orderBy(F.col("mi").desc(), F.col("dim"))
        .limit(MI_TOP)
    )


RRF_K = 60  #: standard reciprocal-rank-fusion dampening (Cormack 2009)
RRF_DEPTH = 50  #: per-system candidate depth
RRF_TOPN = 20  #: fused results returned


def ns_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking (``ns_bm25``, query = its fixed term set) and the dense
    cosine ranking (query vector = embedding ``vec_id`` 0) — the
    standard two-tower RAG retrieval stack, fused with
    ``score = Σ 1/(k + rank)`` (Cormack, Clarke & Buettcher 2009).

    Engine-exact: both input rankings order by an already
    hash-verified rounded score with a doc_id tiebreak, and the fused
    score is the INTEGER ``floor(10^6 / (k + rank))`` sum — no float
    arithmetic downstream of the per-system scores, so the fusion can
    never introduce a cross-engine divergence of its own.

    100 TB shape: each system reduces to its global top-``RRF_DEPTH``
    via orderBy+limit (TakeOrdered — a per-partition heap then a
    driver merge of ``partitions × depth`` rows, NO global sort); the
    row_number windows and the full-outer fusion join then run over
    two ≤ depth-row frames (the unpartitioned windows are bounded by
    construction).  The corpus is scanned once per system.
    """
    from cassandra_extractor_spark.operators.text import ns_bm25

    lex50 = (
        ns_bm25(spark, sf_dir)
        .where(F.col("doc_id") >= N_QUERIES)
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(RRF_DEPTH)
    )
    wl = W.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    lex = lex50.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )

    e = _with_norm(_load_embeddings(spark, sf_dir))
    q = e.where(F.col("vec_id") == 0).select(
        F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    c = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("doc_id"),
        F.col("emb").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    sem50 = (
        c.crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.round(
                cosine_prenormed(
                    F.col("q_emb"), F.col("n_emb"), F.col("q_nrm"), F.col("n_nrm")
                ),
                6,
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("doc_id"))
        .limit(RRF_DEPTH)
    )
    ws = W.orderBy(F.col("cos").desc(), F.col("doc_id"))
    sem = sem50.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("sem_rank")
    )

    def contrib(rank_col: str) -> Column:
        return F.coalesce(
            F.floor(F.lit(1_000_000) / (F.lit(RRF_K) + F.col(rank_col))),
            F.lit(0),
        ).cast("long")

    return (
        lex.join(sem, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce(F.col("lex_rank"), F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce(F.col("sem_rank"), F.lit(0)).cast("long").alias("sem_rank"),
            (contrib("lex_rank") + contrib("sem_rank")).alias("rrf_micros"),
        )
        .orderBy(F.col("rrf_micros").desc(), F.col("doc_id"))
        .limit(RRF_TOPN)
    )


def ns_ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@k over the labeled corpus: per query, the reciprocal rank
    of the first SAME-LABEL neighbor in the exact cosine top-k —
    completing the retrieval-metric triad with ``ns_ann_recall``
    (recall@k) and ``ns_ranking_ndcg`` (NDCG@k).  ``first_rank`` and
    ``rr_micros`` are 0 when no same-label neighbor appears in the
    top-k (the standard MRR@k truncation).

    Integer outputs (``floor(10^6 / rank)``) so cross-engine
    comparison is exact.

    Scale shape: the ranking is the already-scale-shaped
    ``brute_topk`` (broadcast query side, corpus scanned once); the
    label joins touch only ``|queries|·k`` candidate rows — the query
    side broadcasts, the neighbor side co-partitions with the label
    table on vec_id at any corpus size.
    """
    lab = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    topk = shared_brute_topk(spark, sf_dir)
    labeled = topk.join(
        F.broadcast(
            lab.where(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
            )
        ),
        "q_id",
    ).join(
        lab.select(F.col("vec_id").alias("n_id"), F.col("label").alias("n_label")),
        "n_id",
    )
    per_q = labeled.groupBy("q_id", "q_label").agg(
        F.min(
            F.when(F.col("n_label") == F.col("q_label"), F.col("rank"))
        ).alias("fr")
    )
    return per_q.select(
        "q_id",
        "q_label",
        F.coalesce(F.col("fr"), F.lit(0)).cast("long").alias("first_rank"),
        F.coalesce(F.expr("div(1000000, fr)"), F.lit(0))
        .cast("long")
        .alias("rr_micros"),
    ).orderBy("q_id")


def ns_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification of the query set over the
    exact cosine top-k: the predicted label is the label with the
    most votes among the k neighbors (ties to the smallest label);
    ``correct`` is 1 when it matches the query's own label.
    Completes the embedding-evaluation family (linear probe, MRR@k,
    recall@k, NDCG@k) with the standard zero-training baseline.

    100 TB shape: downstream of ``brute_topk`` (query set broadcast,
    corpus scanned once) everything operates on the ≤ |queries|·k
    candidate frame; the argmax rides inside a plain ``max`` of the
    order-preserving integer encoding ``votes·100 + (99 − label)``
    (labels are 0–9 in the testdata, asserted ≤ 99 by the oracle
    contract) — associative, so partial aggregation combines freely;
    no window, no sort before the final tiny ORDER BY.
    """
    lab = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        in_encoding_contract(
            F.col("label").cast("long"), 0, 99, "label"
        ).alias("label"),
    )
    topk = shared_brute_topk(spark, sf_dir)
    labeled = topk.join(
        F.broadcast(
            lab.where(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
            )
        ),
        "q_id",
    ).join(
        lab.select(F.col("vec_id").alias("n_id"), F.col("label").alias("n_label")),
        "n_id",
    )
    votes = labeled.groupBy("q_id", "q_label", "n_label").agg(
        F.count("*").cast("long").alias("votes")
    )
    per_q = votes.groupBy("q_id", "q_label").agg(
        F.max(F.col("votes") * 100 + (F.lit(99) - F.col("n_label"))).alias("enc")
    )
    return per_q.select(
        "q_id",
        "q_label",
        (F.lit(99) - F.col("enc") % 100).cast("long").alias("pred_label"),
        F.expr("div(enc, 100)").cast("long").alias("pred_votes"),
        F.when(
            F.lit(99) - F.col("enc") % 100 == F.col("q_label"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("correct"),
    ).orderBy("q_id")


def ns_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity of the spherical k-means assignment against the
    ground-truth labels: per cluster, the majority label, its count,
    and purity in ppm — the standard external clustering-quality
    metric (the labeled analogue of ``ns_kmeans_step``'s unsupervised
    Lloyd audit).

    Assignment is the exact spelling ``ns_kmeans_step`` uses
    (broadcast centroids, map-only cosine argmax) with the label
    carried through the scan, so NO join is needed anywhere: the plan
    is one corpus scan → per-vector argmax → two map-side-combined
    aggregations down to ≤ K·|labels| then K rows.  Purity is exact
    integer division (``majority·10⁶ div n_members``) and the
    majority-label argmax rides inside ``max`` of the
    order-preserving ``cnt·100 + (99 − label)`` encoding (labels
    0–9), so every output column is engine-exact.
    """
    # zero-norm vectors are excluded on BOTH engines — cosine is
    # undefined for them (0/0 throws under ANSI, and NaN sort order is
    # engine-specific otherwise); the brute_topk/divergence-#4 posture
    e = _with_norm(
        load_table(spark, "embeddings", sf_dir).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            in_encoding_contract(
                F.col("label").cast("long"), 0, 99, "label"
            ).alias("label"),
        )
    )
    cent = e.where(F.col("vec_id") < N_KMEANS).select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "c_id",
        cosine_prenormed(F.col("emb"), F.col("c_emb"), F.col("nrm"), F.col("c_nrm")).alias("csim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("c_id"))
    assigned = (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") == 1)
        .select(F.col("c_id").alias("cluster_id"), "label")
    )
    v = assigned.groupBy("cluster_id", "label").agg(
        F.count("*").cast("long").alias("cnt")
    )
    pc = v.groupBy("cluster_id").agg(
        F.sum("cnt").cast("long").alias("n_members"),
        F.max(F.col("cnt") * 100 + (F.lit(99) - F.col("label"))).alias("enc"),
    )
    return pc.select(
        "cluster_id",
        "n_members",
        (F.lit(99) - F.col("enc") % 100).cast("long").alias("majority_label"),
        F.expr("div(enc, 100)").cast("long").alias("majority_cnt"),
        F.expr("div(1000000 * div(enc, 100), n_members)")
        .cast("long")
        .alias("purity_ppm"),
    ).orderBy("cluster_id")


ANN_SYM_WINDOW = 200  #: bounded audit window (calibration-op contract)


def ns_ann_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph reciprocity audit: within the bounded audit window,
    build each vector's exact top-k cosine neighbor list and measure
    per label-class how many directed kNN edges are MUTUAL (i ∈ kNN(j)
    and j ∈ kNN(i)).  Low reciprocity marks hubness / density skew in
    the embedding space — the standard diagnosis before trusting a
    kNN graph for SemDeDup-style clustering (``ns_semantic_dedup``) or
    graph-based ANN serving; reciprocity differing by label flags a
    class whose region is under-embedded.

    Scale note: the all-pairs side exists only for this bounded window
    (same contract as ``ns_minhash_calibration`` / ``ns_lsh_recall``);
    a corpus-scale kNN graph goes through the IVF/LSH candidate path
    and this operator is how you validate it on a sample.  Ties are
    broken by neighbor id on the 6-rounded cosine, so the graph — and
    the oracle hash — is deterministic.
    """
    # window filter over the session-shared normed frame: same rows as
    # filter-then-norm (the norm is row-local), one fold per session
    e = shared_embeddings(spark, sf_dir).where(F.col("vec_id") < ANN_SYM_WINDOW)
    a = e.select(F.col("vec_id").alias("src"), F.col("emb").alias("a_emb"), F.col("nrm").alias("a_nrm"))
    b = e.select(F.col("vec_id").alias("dst"), F.col("emb").alias("b_emb"), F.col("nrm").alias("b_nrm"))
    scored = a.join(F.broadcast(b), F.col("src") != F.col("dst")).select(
        "src",
        "dst",
        F.round(
            cosine_prenormed(F.col("a_emb"), F.col("b_emb"), F.col("a_nrm"), F.col("b_nrm")), 6
        ).alias("cos"),
    )
    w = W.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    edges = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("src", "dst")
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("m"))
    lab = load_table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("src"), F.col("label").cast("long").alias("label")
    )
    return (
        edges.join(rev, ["src", "dst"], "left")
        .join(F.broadcast(lab), "src")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum(F.coalesce("m", F.lit(0))).cast("long").alias("n_mutual"),
        )
        .withColumn(
            "mutual_pct",
            F.floor(F.col("n_mutual") * 100 / F.col("n_edges")).cast("long"),
        )
        .orderBy("label")
    )


def ns_ann_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy audit: per coarse cell, how many corpus
    vectors land in it and its share in ppm — the balance report that
    decides when the quantizer needs retraining (a hot cell defeats
    the probes/K candidate bound exactly like a hot LSH bucket; cf.
    ``ns_skew_audit`` for join keys and the per-batch ``stats_sink``
    of the streaming ingest, whose arrival counts this is the
    corpus-wide twin of).

    Scale shape: the assignment comes from the session-shared inverted
    file (``shared_ann_cells`` — one corpus argmax pass per session,
    shared with every other IVF consumer); the histogram is one
    map-side-combined aggregate to |cells| rows.  Pure integers.
    """
    assigned = shared_ann_cells(spark, sf_dir)
    hist = assigned.groupBy("c_id").agg(F.count("*").cast("long").alias("n_vecs"))
    # total from the |cells|-row histogram itself (every vector assigns
    # to exactly one cell) — an unpartitioned window over ≤ |cells|
    # rows, so no plan-time job and no second corpus pass
    tot = F.sum("n_vecs").over(W.partitionBy())
    return (
        hist.withColumn("n_tot", tot)
        .select(
            "c_id",
            "n_vecs",
            F.expr("div(1000000 * n_vecs, n_tot)").cast("long").alias("share_ppm"),
        )
        .orderBy("c_id")
    )
