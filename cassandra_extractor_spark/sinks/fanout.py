"""Multi-sink fan-out (reference D1: ``datacrawler.py:244-339``; D2:
``workermanager.py:36-97``).

The reference dispatches every fetched page to each enabled sink's
worker queue, and the sink workers run at the same time in a thread
pool.  Spark-first, every sink write runs as its own Spark job from a
thread pool sized to the sink count, so the jobs share the executors
instead of queueing behind each other (a one-partition source otherwise
leaves all but one task slot idle through every write).  Whether the
sinks read the frame from a cache first depends on the frame.

A file snapshot (``catalog.file_snapshot``) is written straight from
its plan: one file relation whose listing Spark pinned when the frame
was built, under row-wise nodes only (projections, filters,
observations), with a deterministic plan that reads no clock and no
second source.  Every query of such a frame reads the same rows, so the
sinks agree without a cache, and each sink re-runs the scan and the
row-wise work in its own job.

Any other frame (in-memory, JDBC, Cassandra, a ``foreachBatch`` batch;
a sort, limit, join or aggregate; ``uuid()`` or ``current_timestamp()``)
is read once:

1. ``persist`` it, so the source is scanned once whatever the sink
   count (the reference's page-caching apparatus collapses into one
   ``persist()``);
2. materialize it alone, with one ``noop`` write;
3. run the sink writes concurrently over the cached blocks.

Step 2 is required there, not an optimization.  Callers count rows with
an ``Observation`` on the input frame (``app.py``), and the first query
that finishes sets it.  A job that only *reads* cached blocks carries
no accumulator updates: the task that builds a block merges its count
only when it ends.  With every sink started at once, a fast sink
reading blocks another sink's tasks built could finish first and
report zero rows.  After the lone materialization, that job is the one
that sets the Observation.  On a file snapshot each sink's query
computes its own metrics over every row, so whichever finishes first
sets the Observation right, provided each sink writes the whole frame:
a sink that reads part of it (``limit``, ``head``) would set a partial
count.

Each sink thread inherits the caller's Spark local properties and
session tags (``inheritable_thread_target``): the job group that the
actuator cancels with ``cancelJobGroup``, and the FAIR
``spark.scheduler.pool``.  The writes run concurrently, so sinks must
write distinct targets.  One sink is written directly: no persist, no
thread, no extra job.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from cassandra_extractor_spark.sources.catalog import file_snapshot


def _write(write: Callable[[DataFrame], None], df: DataFrame) -> Exception | None:
    try:
        write(df)
        return None
    except Exception as exc:  # noqa: BLE001 - sink isolation
        return exc


def _concurrently(
    df: DataFrame, sinks: dict[str, Callable[[DataFrame], None]]
) -> dict[str, Exception | None]:
    with ThreadPoolExecutor(len(sinks)) as pool:
        # one wrap per sink: each thread gets its own copy of the
        # caller's local properties, so a property one sink sets while
        # its write runs cannot leak into another sink's jobs
        futures = {
            name: pool.submit(inheritable_thread_target(df.sparkSession)(_write), write, df)
            for name, write in sinks.items()
        }
    return {name: f.result() for name, f in futures.items()}


def fan_out(
    df: DataFrame,
    sinks: dict[str, Callable[[DataFrame], None]],
) -> dict[str, Exception | None]:
    """Write ``df`` to every sink; returns per-sink error (None = ok).

    A failing sink does not block the others — matching the reference's
    independent sink workers (worker.py:46-78 lifecycle isolation).  If
    a cached frame cannot be materialized, every sink reports that
    error, as each would have failed computing it; a file snapshot's
    sinks each compute it and report their own failure.
    """
    if len(sinks) <= 1:
        return {name: _write(write, df) for name, write in sinks.items()}
    if file_snapshot(df):
        return _concurrently(df, sinks)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        failed = _write(lambda d: d.write.format("noop").mode("overwrite").save(), df)
        if failed is not None:
            return dict.fromkeys(sinks, failed)
        return _concurrently(df, sinks)
    finally:
        df.unpersist()
