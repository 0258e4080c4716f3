"""Source catalog: parquet test tables + Cassandra production source.

The reference scans one Cassandra table per extraction
(``datacrawler.py:133-184`` builds ``SELECT JSON <cols> FROM <table>``
with paging).  Spark-first mapping: one table → one DataFrame, with
projection/predicate pushdown delegated to the data source (parquet
footer stats locally; the Spark Cassandra Connector's CQL pushdown in
production).  No user-level paging code exists here at all — Spark
partitions (token ranges / parquet row groups) replace the reference's
page loop.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one test table as a DataFrame (parquet path), memoized.

    Filters/projections applied by callers are pushed into the parquet
    scan by Catalyst (check ``PushedFilters`` / ``ReadSchema`` in
    ``df.explain("formatted")``).
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    # Memoize the ANALYZED PLAN per (session, dir, table): spark.read
    # .parquet is a ~0.1 s JVM round-trip (file listing + footer schema)
    # that a 241-query suite pays thousands of times over.  DataFrames
    # are immutable, so handing the same object to every caller is safe;
    # execution still scans parquet — this caches no data.  It DOES pin
    # the file listing, which is correct here because catalog tables
    # are immutable snapshot dirs (mutable paths go through
    # read_table/read_source/readStream, never this entry point; callers
    # that DO rewrite a directory in place must call
    # invalidate_table_cache).
    # The cache lives ON the session object, so a stopped/replaced
    # session can never leak stale JVM handles through the module, and
    # it is LRU-capped: the hypothesis differential sweeps feed
    # thousands of one-shot tmp dirs through one session, and an
    # unbounded map would retain a Python handle + JVM analyzed plan
    # for every one of them for the session's lifetime.
    cache: dict = spark.__dict__.setdefault("_ce_table_plans", {})
    # normalize so two spellings of one directory (trailing slash,
    # relative vs absolute) share one cache entry — and so a later
    # invalidate_table_cache with a different spelling still hits it
    key = (_norm_dir(sf_dir), name)
    df = _lru_get(cache, key)
    if df is not None:
        _pin_session(spark, name)
        return df
    df = read_table(spark, name, sf_dir)
    _lru_put(cache, key, df)
    return df


def read_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one test table with a fresh file listing (``load_table``
    without the plan memo): for a table directory that files land in.
    Reads through ``read_source``, so the table's schema is inferred
    once per session and pinned (see there)."""
    _pin_session(spark, name)
    df = read_source(spark, os.path.join(sf_dir or DEFAULT_SF_DIR, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # parquet TIMESTAMP(NANOS) read as long ns (see session.py conf);
        # Spark timestamps are µs precision → truncate ns → µs
        # integer div: double division would lose precision on ~1.7e18 ns
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # tz-naive parquet timestamps (isAdjustedToUTC=false) load as
    # TIMESTAMP_NTZ under Spark's default inferTimestampNTZ; downstream
    # operators use unix_millis/unix_micros, which require TIMESTAMP.
    # With the session tz pinned to UTC, NTZ→TIMESTAMP is a pure
    # reinterpretation of the wall time as a UTC instant — exactly how
    # the DuckDB oracle treats the same naive values.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def _pin_session(spark: SparkSession, name: str) -> None:
    """The session settings the test tables are read under."""
    # timestamp semantics (literals, date_trunc, year/month) must be UTC
    # regardless of the caller-provided session's timezone — the oracle
    # treats the naive parquet timestamps as UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), unreadable by default;
        # set here (runtime-settable) so any caller-provided session works
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _norm_dir(sf_dir: str) -> str:
    """One canonical spelling per directory for cache keys (realpath:
    absolute, symlink-free, no trailing slash) — only for LOCAL paths;
    URI-schemed paths (s3a://, hdfs://) pass through untouched since
    os.path would mangle the double slash."""
    return sf_dir if "://" in sf_dir else os.path.realpath(sf_dir)


#: LRU cap for the per-session analyzed-plan cache and schema memo: 3
#: standard sf dirs × 10 tables fit with headroom; one-shot differential
#: tmp dirs churn through the tail without evicting the hot entries.
_TABLE_CACHE_CAP = 64
#: guards both per-session caches: the app reads its tables from one
#: job thread per table, and the control plane clears from another
_CACHE_LOCK = threading.Lock()


def _lru_get(cache: dict, key):
    """``cache[key]`` marked most recently used, or None on a miss."""
    with _CACHE_LOCK:
        value = cache.pop(key, None)
        if value is not None:
            cache[key] = value
        return value


def _lru_put(cache: dict, key, value) -> None:
    with _CACHE_LOCK:
        while len(cache) >= _TABLE_CACHE_CAP:
            cache.pop(next(iter(cache)))  # evict least-recently-used
        cache[key] = value


def _drop(cache: dict | None, under: str | None) -> None:
    """Drop ``cache``'s entries for the directory ``under`` and the paths
    below it (all of them when None); keys start with a ``_norm_dir``."""
    if not cache:
        return
    norm = None if under is None else _norm_dir(under).rstrip("/")
    with _CACHE_LOCK:
        for key in [k for k in cache if norm is None or k[0] == norm or k[0].startswith(norm + "/")]:
            del cache[key]


def invalidate_table_cache(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop memoized table plans and pinned source schemas — required
    after rewriting a catalog directory IN PLACE (the plan cache pins
    the file listing, the schema memo the columns).  With ``sf_dir``
    drops the entries of that directory and of the paths under it;
    without, drops all."""
    _drop(spark.__dict__.get("_ce_table_plans"), sf_dir)
    unpin_source_schemas(spark, sf_dir)
    # the shared dedup/token-stream chain caches MATERIALIZED data over
    # these tables — stale blocks are worse than a stale file listing
    from cassandra_extractor_spark.operators.dedup import invalidate_dedup_chain

    invalidate_dedup_chain(spark, sf_dir)


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Generic file source (parquet/json/csv/orc) — the test-path
    analogue of swapping Cassandra for another origin; projection and
    eligible predicates still push into the scan.

    Every call lists ``path`` afresh, so files landed since the last
    call are read.  The schema is not re-read: a parquet or orc source
    read without ``schema`` takes it from a per-session memo keyed by
    (path, format, options), filled by the first read — the inference
    is a Spark job per call, and the source's schema, like Structured
    Streaming's file source's, is fixed once.  Contract: Spark without
    ``mergeSchema`` already infers the schema from one file and assumes
    every file agrees; the memo keeps that schema until
    ``invalidate_table_cache`` (or the control plane's
    ``/cache/clear``) drops it, which is how a changed source schema is
    picked up.  JSON/CSV inference reads the data and ``mergeSchema``
    every footer, so those reads are never pinned."""
    opts = dict(options or {})
    if fmt == "csv" and "header" not in opts:
        opts.update(header="true", inferSchema=str(schema is None).lower())
    memo = key = None
    if schema is None and _pins_schema(spark, fmt, opts):
        memo = spark.__dict__.setdefault("_ce_source_schemas", {})
        key = (_norm_dir(path), fmt, tuple(sorted(opts.items())))
        schema = _lru_get(memo, key)
    reader = spark.read.format(fmt).options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(path)
    if memo is not None and schema is None:
        _lru_put(memo, key, df.schema)
    return df


def _pins_schema(spark: SparkSession, fmt: str, options: dict) -> bool:
    """Whether Spark infers ``fmt``'s schema from one file's footer."""
    if fmt not in ("parquet", "orc"):
        return False
    merge = {k.lower(): str(v) for k, v in options.items()}.get(
        "mergeschema", spark.conf.get(f"spark.sql.{fmt}.mergeSchema", "false")
    )
    return merge.lower() != "true"


def unpin_source_schemas(spark: SparkSession, under: str | None = None) -> None:
    """Drop the schemas ``read_source`` pinned for ``under`` and the paths
    below it (all of them when None); the next read infers afresh."""
    _drop(spark.__dict__.get("_ce_source_schemas"), under)


#: plan nodes that map each input row to at most one output row, unchanged
#: in its source file (``CollectMetrics`` is an ``observe``): a frame over
#: them reads rows of the files its relation lists and nothing else
_ROW_WISE = {"Project", "Filter", "SubqueryAlias", "CollectMetrics"}


def file_relation(df: DataFrame) -> tuple[object | None, bool]:
    """The file relation (``HadoopFsRelation``) ``df`` reads through
    row-wise nodes only, or None when it reads anything else; and
    whether it reads every row of it (no filter on the way)."""
    node, whole = df._jdf.queryExecution().analyzed(), True
    while (kind := node.getClass().getSimpleName()) in _ROW_WISE:
        whole = whole and kind != "Filter"
        node = node.children().apply(0)
    if kind != "LogicalRelation":
        return None, whole
    relation = node.relation()
    return (relation if relation.getClass().getSimpleName() == "HadoopFsRelation" else None), whole


def file_snapshot(df: DataFrame) -> bool:
    """Whether every query of ``df`` reads the same rows: one file
    relation whose listing Spark took when the frame was built
    (``InMemoryFileIndex``: ``read_source``, ``load_table``; a catalog
    table's index lists again per query), under row-wise nodes, with a
    deterministic plan (no ``uuid()``, ``rand()``,
    ``monotonically_increasing_id()``), no current-time expression
    (``current_timestamp()`` and its kin count as deterministic, but
    each query folds its own literal) and no subquery (which reads a
    second source).  Files are assumed immutable once listed."""
    relation, _ = file_relation(df)
    if relation is None or relation.location().getClass().getSimpleName() != "InMemoryFileIndex":
        return False
    plan = df._jdf.queryExecution().analyzed()
    patterns = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    return bool(
        plan.deterministic()
        and not plan.containsPattern(patterns.CURRENT_LIKE())
        and not plan.containsPattern(patterns.PLAN_EXPRESSION())
    )
