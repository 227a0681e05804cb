"""Streaming near-dup document ingest — the dedup-at-ingest loop wired
end-to-end: every arriving micro-batch is probed against the on-disk
MinHash store (``dedup.build_minhash_index``), lands in the document
store carrying its near-dup verdict, and is absorbed into the index so
the NEXT batch dedups against it. The streaming composition of
``dedup.probe_minhash_index`` — §2.9's incremental near-dup over §2.8's
exactly-once ingest machinery.

Exactly-once discipline (the streaming/ingest.py scheme, both sinks):
each micro-batch's document rows land in ``{dest}/epoch=N`` and its
index contribution in ``{index}/{sigs,bands}/epoch=N`` — all OVERWRITE,
so a crash-and-replay of epoch N rewrites the same files instead of
double-appending, and the checkpointed foreachBatch replays at most
one epoch. The probe reads only store epochs STRICTLY BELOW the current
batch epoch (``before_epoch`` partition pruning) — not merely
probe-before-absorb ordering — so a doc never matches itself and a
batch never matches its own members EVEN ON REPLAY after a crash that
landed between the absorb write and the checkpoint commit (new×new
dedup is :mod:`streaming.dedup_stream`'s exact pass or the batch LSH
over the landed store — the incremental probe's contract is new×OLD).

Exact (``dedup_doc_stream``) and near (this module) compose naturally:
run the cheap content-hash dedup first, probe the survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from open_instrument_spark.operators.dedup import probe_minhash_index
from open_instrument_spark.streaming.dedup_stream import (
    best_match,
    deduped_view,
)


def start_near_dup_ingest(doc_stream: DataFrame, dest_path: str,
                          index_path: str, checkpoint: str,
                          threshold: float = 0.5,
                          available_now: bool = False,
                          on_batch_complete=None) -> StreamingQuery:
    """Probe → flag → land → absorb, one checkpointed foreachBatch.
    ``available_now=True`` drains the currently-available input and
    terminates (backfill / test harness); the default is the
    continuously-triggered production loop.

    ``doc_stream`` needs (doc_id, text). Landed rows carry the batch
    epoch (as the partition column) plus the verdict columns:
    ``near_dup_of`` — the best-matching stored doc (highest estimated
    Jaccard, lowest old_id on ties) or NULL, and ``est_jaccard``.
    Consumers filter ``near_dup_of IS NULL`` for the deduped view; the
    flagged rows stay queryable (audit, cluster formation) rather than
    silently vanishing."""

    def sink(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        # before_epoch=epoch: the probe sees only store epochs strictly
        # below this batch's own (a partition-pruning filter). Without
        # it, a crash AFTER absorb wrote epoch=N but BEFORE the
        # checkpoint commit would replay the batch against a store that
        # already contains its own sigs — every doc would match itself
        # (est_jaccard 1.0) and the replayed epoch would land fully
        # flagged, silently dropping the batch from read_deduped.
        matches = probe_minhash_index(
            spark, index_path, batch.select("doc_id", "text"),
            threshold=threshold, append=False, before_epoch=epoch,
        )
        best = best_match(matches, "doc_id", "est_jaccard")
        flagged = batch.join(best, "doc_id", "left")
        flagged.write.mode("overwrite").parquet(f"{dest_path}/epoch={epoch}")
        # absorb AFTER landing: a crash between the two writes replays
        # the whole epoch — both sinks overwrite, so the rewrite is a
        # no-op repair, never a duplicate
        from open_instrument_spark.operators.dedup import (
            _band_keys,
            _minhash_sigs,
            _read_minhash_meta,
            absorb_into_minhash_index,
            shingles,
        )

        num_perm, bands, _ = _read_minhash_meta(spark, index_path)
        sh = batch.select("doc_id", shingles(F.col("text"), 5).alias("sh"))
        sigs_new = _minhash_sigs(sh, num_perm, portable=False)
        sigs_new = sigs_new.localCheckpoint(eager=False)
        b_new = _band_keys(sigs_new, num_perm, bands, portable=False)
        absorb_into_minhash_index(index_path, sigs_new, b_new, epoch)
        if on_batch_complete is not None:
            # test seam (the streaming/ingest.py idiom): raising here
            # models a crash AFTER both sinks landed but BEFORE the
            # checkpoint commit — the exact window the before_epoch
            # probe filter exists for
            on_batch_complete(epoch)

    writer = (
        doc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_deduped(spark, dest_path: str) -> DataFrame:
    """The deduped view of a landed near-dup ingest store (epoch
    partition column folded away)."""
    return deduped_view(spark, dest_path, "est_jaccard")


__all__ = ["start_near_dup_ingest", "read_deduped"]
