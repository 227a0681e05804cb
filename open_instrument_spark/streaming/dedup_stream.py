"""Streaming exact deduplication for document ingest (§2.9 over §2.8):
drop content duplicates AT INGEST TIME instead of re-scanning the
corpus batch-side later.

Spark-first shape: ``dropDuplicatesWithinWatermark`` over the content
hash — the built-in stateful dedup operator, with the watermark
bounding state (an unwatermarked dropDuplicates would grow state
forever on an unbounded corpus stream). The dedup key is
``xxhash64(text)``, the same content-hash family the batch
``dedup.exact_dedup`` groups on; a hash collision (2⁻⁶⁴) drops a
non-duplicate — the standard trade for not keeping full texts in
state, documented here rather than hidden.

Semantics note: within-watermark exactness only — a duplicate arriving
AFTER the watermark expired its twin's state is kept (it becomes the
surviving copy of a new dedup window). Batch-side exact_dedup over the
landed store remains the total-order guarantee; this operator cheaply
removes the overwhelmingly common near-in-time duplicates (re-crawls,
retry storms) before they are ever written.

The near-dup ingest loops (streaming/minhash_ingest.py,
streaming/semantic_ingest.py) share the verdict step and the deduped
view defined here: :func:`best_match` and :func:`deduped_view`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_doc_stream(doc_stream: DataFrame, text_col: str = "text",
                     ts_col: str = "ingest_ts",
                     watermark: str = "1 hour") -> DataFrame:
    """Content-hash streaming dedup: first arrival per ``xxhash64(text)``
    within the watermark survives; later copies are dropped. Input must
    carry an event-time column ``ts_col`` (stamp one at the source with
    ``current_timestamp()`` if the feed has none)."""
    hashed = doc_stream.withColumn("_content_h", F.xxhash64(F.col(text_col)))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_h"])
        .drop("_content_h")
    )


def best_match(matches: DataFrame, id_col: str, score: str) -> DataFrame:
    """The near-dup verdict of a probe's (new_id, old_id, ``score``)
    pairs: one row per new id, (``id_col``, near_dup_of, ``score``) —
    the highest-scoring stored match, lowest old_id on ties. A
    map-side MIN over (-score, old_id) structs (argmin without a
    rank window)."""
    return (
        matches.groupBy("new_id")
        .agg(F.min(F.struct((-F.col(score)).alias("neg"),
                            F.col("old_id").alias("old_id"))).alias("m"))
        .select(F.col("new_id").alias(id_col),
                F.col("m.old_id").alias("near_dup_of"),
                F.round(-F.col("m.neg"), 6).alias(score))
    )


def deduped_view(spark, dest_path: str, score: str) -> DataFrame:
    """The rows of a landed near-dup ingest store with no
    ``near_dup_of``, verdict and epoch columns dropped."""
    return (
        spark.read.parquet(dest_path)
        .where(F.col("near_dup_of").isNull())
        .drop("near_dup_of", score, "epoch")
    )
