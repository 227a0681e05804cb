"""Structured Streaming ingest (SURVEY.md §2.1 S1, §2.8).

Reference semantics to preserve (§2.8):
- late data accepted indefinitely (only a >1 y warning,
  server/store.cc:439-440) ⇒ the INGEST path uses no watermark; dedup +
  append + periodic compaction instead;
- future data beyond 1 s drift rejected (store.cc:435-438) — a filter,
  not a watermark;
- exactly-once: checkpointed foreachBatch + (series_key, ts) dedup is a
  strict upgrade over the reference's replayable WAL (which can
  double-append, disk_datastore.cc:112-128).

Windowed streaming aggregation (the A-family over a stream) is a
separate, watermarked query — aligned tumbling windows match the batch
aggregation semantics (SURVEY.md §7.0 #4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from open_instrument_spark.model import POINTS_SCHEMA, label_value
from open_instrument_spark.sources import ingest as batch_ingest


def read_points_stream(spark: SparkSession, src_dir: str,
                       max_files_per_trigger: int = 32) -> DataFrame:
    """File-based points stream (the HTTP/protobuf transport of the
    reference is out of scope — SURVEY.md §7.4; any streaming source with
    the points schema slots in here, e.g. Kafka + from_protobuf)."""
    return (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def start_ingest(points_stream: DataFrame, dest_path: str, checkpoint: str,
                 n_buckets: int = 16, now=None,
                 on_batch_complete=None) -> StreamingQuery:
    """S1 streaming Add: validate → dedup-within-batch → partitioned
    write (``sources.ingest.write_deduped``: one exchange, one sort per
    micro-batch), exactly-once via checkpointed foreachBatch + an IDEMPOTENT
    sink: each epoch overwrites its own ``epoch=N`` subdirectory, so a
    replay after a crash-between-write-and-checkpoint rewrites the same
    files instead of double-appending (the WAL-replay hazard the
    reference has, disk_datastore.cc:112-128). A bare append sink would
    only be at-least-once. Readers see ``epoch`` as one more partition
    column. The maintenance tick compacts the store in place
    (``plans.maintenance.compact_dates``), which keeps the epoch layout:
    each rewritten date lands at a fresh negative epoch.

    ``on_batch_complete(epoch)`` runs after the epoch's files are on
    disk but BEFORE Spark commits the epoch offset — an exception here
    fails the query inside exactly the crash window the idempotent sink
    exists for (the recovery test injects a crash this way); benign
    uses: per-epoch metrics/logging.
    """

    def sink(batch: DataFrame, epoch: int) -> None:
        batch_ingest.write_deduped(
            batch_ingest.validate(batch, now=now),
            f"{dest_path}/epoch={epoch}", n_buckets=n_buckets,
            mode="overwrite",
        )
        if on_batch_complete is not None:
            on_batch_complete(epoch)

    return (
        points_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


_STREAM_AGGS = {
    "sum": F.sum,
    "average": F.avg,
    "min": F.min,
    "max": F.max,
    "stddev": F.stddev_pop,
    "count": F.count,
}


def windowed_agg(points_stream: DataFrame, kind: str = "sum",
                 interval: str = "5 minutes", watermark: str = "10 minutes",
                 label: str | None = None,
                 slide: str | None = None,
                 retain_single_valued: bool = False) -> DataFrame:
    """The A-family over a stream: aligned tumbling windows per variable
    name (A7), optionally grouped by a label value (A8), with any
    incremental aggregate (A2-A5, A9-analog default interval left to the
    caller). MEDIAN (A6) is deliberately absent: exact median is not an
    incremental aggregate — it stays a batch/compaction-time op.

    Same window alignment as the batch aggregation (SURVEY §7.0 #4), so
    a closed streaming window equals the batch result for the same data
    — asserted by test_streaming_windowed_agg_matches_batch. Watermark
    bounds state; the INGEST path stays unwatermarked (late data policy,
    §2.8) — this is the query-side trade, not the store's.

    Percentiles: any ``"p<q>"`` kind (p95, p99.9) runs
    ``percentile_approx`` — the mergeable quantile sketch IS the
    streaming-legal form (exact interpolated percentile, like exact
    median, needs the full window and stays a batch op). Same
    expression in batch groupBy gives bit-equal results on the same
    rows (asserted by test_streaming_windowed_p95_matches_batch).

    ``retain_single_valued`` (A8's C++ nicety, store.cc:208-227): adds
    a ``retained_labels`` map of every OTHER label with exactly one
    distinct value among the group's member points. Scope note: batch
    computes retention over the whole queried range (≈ the reference's
    /get request range); a stream has no "whole range", so here it is
    per WINDOW — each closed window equals the batch result computed
    over that window's rows (asserted by
    test_streaming_windowed_agg_retained_labels_matches_batch).
    """
    kd = kind.lower()
    if len(kd) > 1 and kd[0] == "p" and kd[1:].replace(".", "", 1).isdigit():
        q = float(kd[1:]) / 100.0
        if not 0.0 < q <= 1.0:
            raise ValueError(f"percentile out of range: {kind!r}")
        agg = F.percentile_approx("dval", F.lit(q), F.lit(10_000)).alias("value")
    else:
        agg = _STREAM_AGGS[kd]("dval").alias("value")
    keys = [F.col("name")]
    src = points_stream
    if label is not None:
        # A10 drop-missing (Go MergeStreamsBy): streams lacking the
        # grouping label (absent OR empty-valued — same predicate as the
        # batch aggregate_by_label) are skipped, not grouped under NULL.
        lv = label_value(src, label)
        src = src.filter(lv.isNotNull() & (lv != ""))
        keys.append(lv.alias("label_value"))
    # slide=None → tumbling; a slide makes the windows HOPPING (each
    # sample lands in window/slide windows — the same built-in the
    # batch aggregate_by_name_sliding uses, so a closed streaming
    # window still equals the batch result for the same data)
    win = (F.window("ts", interval) if slide is None
           else F.window("ts", interval, slide))
    aggs = [agg]
    if retain_single_valued:
        if label is None:
            raise ValueError("retain_single_valued requires a grouping label")
        # A8 single-valued retention (store.cc:208-227), streaming form:
        # collect the group's DISTINCT label sets in the SAME windowed
        # aggregation (collect_set is a mergeable agg, so state stays
        # watermark-bounded), then derive per-group retained labels with
        # higher-order functions — no second shuffle, no stream-stream
        # join. collect_set rejects MAP inputs, so maps ride as SORTED
        # entry arrays (sorting canonicalizes equal maps to one set
        # element). Same declared null semantics as batch: a null value
        # counts as a distinct value; no qualifying keys → EMPTY map.
        aggs.append(
            F.collect_set(F.array_sort(F.map_entries("labels"))).alias("_maps")
        )
    out = (
        src.withWatermark("ts", watermark)
        .groupBy(win, *keys)
        .agg(*aggs)
    )
    key_names = ["name"] + (["label_value"] if label is not None else [])
    cols = [F.col("window.start").alias("ts"), *key_names, "value"]
    if retain_single_valued:
        entries = F.array_distinct(F.flatten("_maps"))
        kv = entries  # captured below
        singles = F.filter(
            kv,
            lambda e: (e["key"] != F.lit(label))
            & (F.size(F.filter(kv, lambda x: x["key"] == e["key"])) == 1),
        )
        cols.append(F.map_from_entries(singles).alias("retained_labels"))
    return out.select(*cols)


def windowed_rate_sum(points_stream: DataFrame, interval: str = "5 minutes",
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming analog of the flagship aggregation: per-name windowed
    SUM with a watermark for state cleanup. (Per-stream mutations that
    need total order — rate/delta — are batch/compaction-time ops for
    late data; the in-order streaming rate is
    ``streaming.recurrence.rate_stream``, applyInPandasWithState keyed
    on the series.)
    """
    return windowed_agg(points_stream, "sum", interval, watermark)
