"""Multi-sink fan-out (reference D1: ``datacrawler.py:244-339``; D2:
``workermanager.py:36-97``).

The reference dispatches every fetched page to each enabled sink's
worker queue, and the sink workers run at the same time in a thread
pool.  Spark-first, with several sinks:

1. ``persist`` the transformed frame, so the source is scanned once
   whatever the sink count (the reference's page-caching apparatus
   collapses into one ``persist()``);
2. materialize it alone, with one ``noop`` write;
3. run every sink write as its own Spark job from a thread pool sized
   to the sink count, so the jobs share the executors instead of
   queueing behind each other (a one-partition source otherwise leaves
   all but one task slot idle through every write).

Step 2 is required, not an optimization.  Callers count rows with an
``Observation`` on the input frame (``app.py``), and the first query
that finishes sets it.  A job that only *reads* cached blocks carries
no accumulator updates: the task that builds a block merges its count
only when it ends.  With every sink started at once, a fast sink
reading blocks another sink's tasks built could finish first and
report zero rows.  After the lone materialization, that job is the one
that sets the Observation.

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


def _write(write: Callable[[DataFrame], None], df: DataFrame) -> Exception | None:
    try:
        write(df)
        return None
    except Exception as exc:  # noqa: BLE001 - sink isolation
        return exc


def fan_out(
    df: DataFrame,
    sinks: dict[str, Callable[[DataFrame], None]],
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> dict[str, Exception | None]:
    """Write ``df`` to every sink; returns per-sink error (None = ok).

    A failing sink does not block the others — matching the reference's
    independent sink workers (worker.py:46-78 lifecycle isolation).  If
    the frame itself cannot be materialized, every sink reports that
    error, as each would have failed computing it.
    """
    if len(sinks) <= 1:
        return {name: _write(write, df) for name, write in sinks.items()}
    df = df.persist(storage_level)
    try:
        failed = _write(lambda d: d.write.format("noop").mode("overwrite").save(), df)
        if failed is not None:
            return dict.fromkeys(sinks, failed)
        with ThreadPoolExecutor(len(sinks)) as pool:
            # one wrap per sink: each thread gets its own copy of the
            # caller's local properties, so a property one sink sets
            # while its write runs cannot leak into another sink's jobs
            futures = {
                name: pool.submit(inheritable_thread_target(df.sparkSession)(_write), write, df)
                for name, write in sinks.items()
            }
        return {name: f.result() for name, f in futures.items()}
    finally:
        df.unpersist()
