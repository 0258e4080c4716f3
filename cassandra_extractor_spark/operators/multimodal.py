"""Multimodal column handling: the metadata of an opaque binary payload.

A payload column travels as ``binary``; what the engine computes over it
is its byte length and content hash, with Spark built-ins only (no UDF,
no decoding).  Decoding images, audio or video is out of scope for an
extractor: the payload is carried to the sinks unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cassandra_extractor_spark.sources.catalog import load_table


def ns_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata over documents.text treated as an opaque
    utf-8 payload — the oracle-checkable slice of the multimodal path
    (byte length + content hash; pure built-ins, no UDF)."""
    d = load_table(spark, "documents", sf_dir)
    payload = F.col("text").cast("binary")
    return (
        d.select(
            "doc_id",
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("content_md5"),
        )
        .orderBy("doc_id")
    )
