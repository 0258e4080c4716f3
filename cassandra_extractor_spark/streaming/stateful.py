"""Sessionization — the canonical custom stateful op the reference has
no analogue for, included because real event-extraction pipelines need
it.

``sessionize`` is the lag/cumsum window formulation: one shuffle+sort
per key, linear, oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

SESSION_GAP_MIN = 30


def sessionize(df: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Batch sessionization: session breaks where the gap to the
    previous event exceeds ``gap_min`` minutes."""
    gap_ms = gap_min * 60 * 1000
    ts_ms = F.unix_millis(F.col("ts"))
    # order by the truncated ms value (not raw ts) so tie-breaks match
    # the oracle, which only sees epoch millis
    w = W.partitionBy("user_id").orderBy(ts_ms, "event_id")
    prev_ms = F.lag(ts_ms).over(w)
    is_new = F.when(
        prev_ms.isNull() | ((ts_ms - prev_ms) > gap_ms), F.lit(1)
    ).otherwise(F.lit(0))
    with_session = df.select(
        "user_id",
        ts_ms.alias("ts_ms"),
        F.sum(is_new).over(w).alias("session_id"),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.min("ts_ms").alias("session_start_ms"),
            F.max("ts_ms").alias("session_end_ms"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start_ms", "session_end_ms", "n_events")
    )


def ns_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_extractor_spark.sources.catalog import load_table

    return sessionize(load_table(spark, "events", sf_dir)).orderBy(
        "user_id", "session_start_ms"
    )
