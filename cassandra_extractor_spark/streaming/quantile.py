"""Fixed-bin histogram quantile estimate per key.

The exact-quantile family (``q44_percentile``,
``q89_grouped_quantiles``, ``q101_weighted_median``) sorts every key's
values; this estimate bins them instead: ``NBINS`` equi-width counters
over ``[0, NBINS·BIN_CENTS)`` integer cents plus one clamp bin, so the
shuffle carries at most ``keys·(NBINS+1)`` rows whatever the input
size.  The histogram is exactly mergeable (counts add), so the estimate
does not depend on how the rows are partitioned.  The price is a fixed
value domain and an additive error of one bin width.

Estimate contract (asserted in ``tests/test_quantile_stream.py``):

- the reported quantile is the UPPER EDGE (cents) of the first bin
  whose cumulative count reaches ``ceil(q·n)``: for in-domain values
  ``true ≤ reported ≤ true + BIN_CENTS`` (upper edge inclusive when
  the true value sits exactly on a bin's lower edge);
- values are rounded half away from zero to integer cents;
- out-of-domain values saturate into the clamp bins (index 0 below,
  ``NBINS`` above); a saturated upper estimate reports
  ``(NBINS+1)·BIN_CENTS`` and ``n_clamped`` exposes how many rows the
  domain missed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

NBINS = 512  #: in-domain bins; events.value tops out ~490.00 at every SF
BIN_CENTS = 100  #: bin width = 1.00 in value units


def quantile_hist_batch(
    df: DataFrame, key_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Per-key fixed-bin histogram quantile estimate — the registry
    query ``q122_hist_quantile``.

    Scale shape: one map-side-combined groupBy on (key, bin) — the
    histogram is the aggregate, so the shuffle carries at most
    ``keys·(NBINS+1)`` rows regardless of input size — then a bounded
    per-key cumulative window over ≤ NBINS+1 rows.  Pure integers end
    to end; the target rank is ``ceil(pct·n/100)``.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    b = F.floor(cents / F.lit(BIN_CENTS)).cast("long")
    # NULL values are ignored (a NULL bin would also sort differently
    # across engines: Spark NULLS FIRST vs DuckDB NULLS LAST in the
    # cumulative window — found by design review before the
    # differential suite could)
    df = df.where(F.col(value_col).isNotNull())
    binned = df.select(
        F.col(key_col).cast("string").alias("group_key"),
        F.least(F.greatest(b, F.lit(0)), F.lit(NBINS)).alias("bin"),
        (b != F.least(F.greatest(b, F.lit(0)), F.lit(NBINS)))
        .cast("long")
        .alias("clamped"),
    )
    hist = binned.groupBy("group_key", "bin").agg(
        F.count("*").alias("c"), F.sum("clamped").alias("cl")
    )
    wcum = (
        W.partitionBy("group_key")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("group_key")
    cum = hist.select(
        "group_key",
        "bin",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
        F.sum("cl").over(wall).alias("n_clamped"),
    )

    def ub(pct: int):
        target = F.ceil(F.lit(pct) * F.col("n") / F.lit(100))
        return F.min(
            F.when(F.col("cum") >= target, (F.col("bin") + 1) * BIN_CENTS)
        ).cast("long")

    return (
        cum.groupBy("group_key")
        .agg(
            F.max("n").cast("long").alias("n_seen"),
            ub(50).alias("p50_ub_cents"),
            ub(95).alias("p95_ub_cents"),
            F.max("n_clamped").cast("long").alias("n_clamped"),
        )
        .orderBy("group_key")
    )


def q122_hist_quantile(spark, sf_dir: str) -> DataFrame:
    """Registry entry: the batch histogram-quantile over the events
    table."""
    from cassandra_extractor_spark.sources.catalog import load_table

    return quantile_hist_batch(load_table(spark, "events", sf_dir))
