"""Streaming SEMANTIC near-dup ingest — the embedding twin of
streaming/minhash_ingest.py: every arriving embedding micro-batch is
probed against the on-disk semantic store
(``similarity.build_semantic_index`` — nearest-centroid cells, NEW×OLD
in-cell cosine), lands in the vector store carrying its verdict, and is
absorbed so the NEXT batch dedups against it. §2.9's incremental
SemDeDup over §2.8's exactly-once ingest machinery.

Exactly-once discipline (identical to the MinHash loop): each
micro-batch's rows land in ``{dest}/epoch=N`` and its index
contribution in ``{index}/vectors/epoch=N`` — all OVERWRITE, so a
crash-and-replay of epoch N rewrites the same files instead of
double-appending. The probe reads only store epochs STRICTLY BELOW the
batch epoch (``before_epoch`` partition pruning) plus only the batch's
own cells (a second pruning filter), so a vector never matches itself
even on replay after a crash between the absorb write and the
checkpoint commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from open_instrument_spark.operators.similarity import probe_semantic_index
from open_instrument_spark.streaming.dedup_stream import (
    best_match,
    deduped_view,
)


def start_semantic_ingest(vec_stream: DataFrame, dest_path: str,
                          index_path: str, checkpoint: str,
                          threshold: float = 0.35,
                          available_now: bool = False,
                          on_batch_complete=None) -> StreamingQuery:
    """Probe → flag → land → absorb, one checkpointed foreachBatch.
    ``vec_stream`` needs (vec_id, embedding). Landed rows carry the
    batch epoch (partition column) plus ``near_dup_of`` — the
    best-matching stored vector (highest cosine, lowest old_id on
    ties) or NULL — and ``cos``. Consumers filter
    ``near_dup_of IS NULL`` for the deduped view."""

    def sink(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        # ONE probe call does probe AND absorb (append=True): the
        # batch's centroid assignment is computed once and reused for
        # the absorb write instead of a second _cell_assign + a second
        # centroid-table read (r13, advisor). Replay stays correct:
        # the probe prunes on before_epoch, and the absorb's
        # epoch-pinned OVERWRITE is a no-op repair. The probe frame is
        # eagerly checkpointed inside probe_semantic_index BEFORE the
        # absorb lands, so the matches below are pre-absorb state even
        # without the pruning.
        matches = probe_semantic_index(
            spark, index_path, batch.select("vec_id", "embedding"),
            threshold=threshold, append=True, epoch=epoch,
            before_epoch=epoch,
        )
        best = best_match(matches, "vec_id", "cos")
        flagged = batch.join(best, "vec_id", "left")
        flagged.write.mode("overwrite").parquet(f"{dest_path}/epoch={epoch}")
        if on_batch_complete is not None:
            # test seam: raising models a crash AFTER both sinks landed
            # but BEFORE the checkpoint commit
            on_batch_complete(epoch)

    writer = (
        vec_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_deduped_vectors(spark, dest_path: str) -> DataFrame:
    """The deduped view of a landed semantic ingest store."""
    return deduped_view(spark, dest_path, "cos")


__all__ = ["start_semantic_ingest", "read_deduped_vectors"]
