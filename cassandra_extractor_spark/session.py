"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB posture: AQE on (runtime join re-plan, skew-join
splitting, partition coalescing), Arrow for any pandas exchange, UTC
session time zone so timestamp semantics are reproducible, and shuffle
partitions sized from the environment rather than Spark's legacy 200.

A local session that is given no warehouse gets a private one: a fresh
temp directory (under ``$TMPDIR``, by default ``/tmp``; the session
BM25 store of ``ns_bm25_store`` is built there, so a large corpus needs
room there), removed when the interpreter exits.  The catalog is
Spark's in-memory one, so no managed table outlives the process that
wrote it, and a warehouse shared between runs (Spark's default,
``<cwd>/spark-warehouse``) could only ever collect orphans.  The
incremental stores keep nothing in either: each is a ``store_dir`` of
its own (``streaming/generations.py``).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "cassandra_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master=None`` takes the master spark-submit was given, so on a
    cluster these configs still apply; given none (spark-submit then
    fills in ``local[*]``, which reads as none), tests and benches run
    ``local[$SPARK_GRAFT_CPUS]``.

    A warehouse ``extra_conf`` or spark-submit sets is used unchanged,
    and what a process leaves there is the caller's; else a new local
    session gets a private one (module docstring).  Cluster masters keep
    Spark's default: their executors need a shared path.
    """
    extra_conf = extra_conf or {}
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Spark's tuning guide: parallelismFirst "is recommended to be
        # false in production" so coalescing respects the advisory
        # partition size instead of splitting to max parallelism —
        # fewer, right-sized post-shuffle tasks (measured -7% on the
        # bench mix locally; at 100 TB it prevents the coalescer from
        # emitting core-count slivers after selective filters)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); read as long ns
        # and convert in the catalog (Spark timestamps are µs precision)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # concurrent per-table jobs (D10) share the cluster fairly
        # instead of FIFO-starving each other
        .config("spark.scheduler.mode", "FAIR")
        # the incremental stores' read surface depends on BUCKET
        # PRUNING for filter-only scans (a 3-term posting query reads
        # ≤3 of n_buckets file groups); Spark's
        # DisableUnnecessaryBucketedScan rule would forfeit that on
        # plans with no downstream exchange to save, and it reads the
        # conf at execution time — so disable it once HERE rather than
        # flipping it mid-session as a query-construction side effect
        # (the store readers re-assert it only for foreign sessions)
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if SparkContext._active_spark_context is None:
        builder = _launch(builder, master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _launch(builder: SparkSession.Builder, master: str | None) -> SparkSession.Builder:
    """Start the JVM with ``builder``'s options, as ``getOrCreate``
    would: settings read only at JVM launch (``spark.driver.memory``,
    the driver's java options) reach spark-submit nowhere else.  Return
    ``builder`` with its master and its warehouse (``get_spark``); the
    JVM's conf holds what spark-submit and ``spark-defaults.conf`` set."""
    launch = SparkConf(loadDefaults=False).setAll(builder._options.items())
    SparkContext._ensure_initialized(conf=launch)
    submitted = SparkConf()
    if master is None:
        master = submitted.get("spark.master", "local[*]")
        if master == "local[*]":
            master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    key = "spark.sql.warehouse.dir"
    if master.startswith("local") and not (key in builder._options or submitted.contains(key)):
        warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
        atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
        builder = builder.config(key, warehouse)
    return builder.master(master)
