"""Per-stream mutations (SURVEY.md §2.3, M1-M9).

A mutation transforms one series' values in timestamp order. The
reference implements these as imperative loops over a stream's value
array (server/store.cc:276-340; go mutations/mutations.go). Spark-first,
every pairwise mutation is a window function over
``Window.partitionBy(series).orderBy(ts)`` — lag/lead stay inside
whole-stage codegen, shuffle once on the series key, and scale linearly
with executors. Bucketed resamples are a groupBy on an epoch-aligned
tumbling window (declared semantics, SURVEY.md §7.0 #4).

Declared semantic choices (SURVEY.md §7.0):
- RATE is per SECOND (C++ server/store.cc:308 divides ms-diff by 1000;
  the Go client multiplies the per-ms rate back up, go/src/get.go:226-229).
- Mutations fan out independently over the raw stream (C++ contract,
  lib/openinstrument.proto:117-119); ``pipeline()`` gives Go's chaining
  (go/src/store.go:102-131).
- MAX is a true max (we do not reproduce the 0-initialization bug in
  lib/protobuf.cc:109-120).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from open_instrument_spark.functions.durations import parse_duration_ms
from open_instrument_spark.model import (
    SERIES_KEY_COL,
    epoch_seconds,
    with_series_key as _with_key,
)


def _series_window() -> Window:
    return Window.partitionBy(SERIES_KEY_COL).orderBy("ts")


def _pairwise(points: DataFrame, out_expr: Callable[[Column, Column, Column, Column], Column],
              keep_negative: bool = True) -> DataFrame:
    """Shared (v_i, v_{i-1}, t_i, t_{i-1}) → value skeleton for RATE/DELTA.

    Mirrors the loop shape of server/store.cc:301-333: emit at ts_i from
    the second point on; zero/negative time steps produce no output (the
    reference's division would be undefined; Go skips dupes implicitly).
    """
    pts = _with_key(points)
    w = _series_window()
    # Materialize the epoch column BEFORE the window: lagging a derived
    # expression would split the plan into two Window nodes (two passes
    # over the sorted partition); lagging plain attributes keeps one.
    pts = pts.withColumn("_t", epoch_seconds("ts"))
    t = F.col("_t")
    out = (
        pts.withColumn("_prev_v", F.lag("dval").over(w))
        .withColumn("_prev_t", F.lag("_t").over(w))
        .withColumn("_out", out_expr(F.col("dval"), F.col("_prev_v"), t, F.col("_prev_t")))
        .filter(F.col("_prev_t").isNotNull() & (t > F.col("_prev_t")))
    )
    if not keep_negative:
        out = out.filter(F.col("_out") >= 0)
    return out.withColumn("dval", F.col("_out")).drop("_t", "_prev_v", "_prev_t", "_out")


def _pairwise_chunked(points: DataFrame, out_expr, keep_negative: bool,
                      chunk) -> DataFrame:
    """Pairwise mutation with BOUNDED task size for pathological series.

    ``Window.partitionBy(series_key)`` places a whole series in one task —
    fine for metric fleets (~10³-10⁶ points/series) but a straggler/OOM
    for a series with 10⁹ points. Two-phase equivalent with identical
    output:

      1. lag within (series, time-chunk) — parallel across chunks, task
         size bounded by points-per-chunk;
      2. each chunk's first row takes its predecessor from the previous
         non-empty chunk's tail row (a lag over the per-chunk tail table,
         which is chunk-cardinality — tiny).

    Cost: one extra small shuffle + a co-keyed join vs the single-window
    plan; use when series can be arbitrarily long.
    """
    chunk_ms = parse_duration_ms(chunk)
    pts = _with_key(points).withColumn("_t", epoch_seconds("ts"))
    pts = pts.withColumn(
        "_c", F.floor((F.col("_t") * 1000).cast("long") / F.lit(chunk_ms))
    )
    wc = Window.partitionBy(SERIES_KEY_COL, "_c").orderBy("ts")
    df = (
        pts.withColumn("_pv", F.lag("dval").over(wc))
        .withColumn("_pt", F.lag("_t").over(wc))
    )
    # Per-chunk tail row, then the previous EXISTING chunk's tail via a
    # lag over chunk-cardinality rows (empty chunks skipped naturally).
    tails = pts.groupBy(SERIES_KEY_COL, "_c").agg(
        F.max_by(
            F.struct(F.col("dval").alias("v"), F.col("_t").alias("t")), "ts"
        ).alias("_tail")
    )
    wprev = Window.partitionBy(SERIES_KEY_COL).orderBy("_c")
    prev_tails = tails.withColumn("_ptail", F.lag("_tail").over(wprev)).select(
        SERIES_KEY_COL, "_c", "_ptail"
    )
    df = df.join(prev_tails, [SERIES_KEY_COL, "_c"], "left")
    # "First row of its chunk" is detected via _pt (lag of the never-null
    # _t), NOT via coalesce on the value: an in-chunk predecessor with a
    # NULL dval must stay paired with its own timestamp, exactly as in
    # the single-window plan.
    use_tail = F.col("_pt").isNull()
    pv = F.when(use_tail, F.col("_ptail.v")).otherwise(F.col("_pv"))
    pt = F.when(use_tail, F.col("_ptail.t")).otherwise(F.col("_pt"))
    t = F.col("_t")
    out = df.withColumn("_out", out_expr(F.col("dval"), pv, t, pt)).filter(
        pt.isNotNull() & (t > pt)
    )
    if not keep_negative:
        out = out.filter(F.col("_out") >= 0)
    return out.withColumn("dval", F.col("_out")).drop(
        "_t", "_c", "_pv", "_pt", "_ptail", "_out"
    )


def _per_second(v, pv, t, pt):
    return (v - pv) / (t - pt)


def _dispatch_pairwise(points: DataFrame, expr, keep_negative: bool, chunk) -> DataFrame:
    if chunk is not None:
        return _pairwise_chunked(points, expr, keep_negative, chunk)
    return _pairwise(points, expr, keep_negative)


def rate(points: DataFrame, chunk=None) -> DataFrame:
    """M1 RATE: (v_i - v_{i-1}) / (t_i - t_{i-1}) per second, negatives
    dropped (counter-reset suppression, server/store.cc:309).

    ``chunk`` (duration, e.g. "1d"): bound per-task data for arbitrarily
    long series via the two-phase chunked plan — identical results.
    """
    return _dispatch_pairwise(points, _per_second, False, chunk)


def rate_signed(points: DataFrame, chunk=None) -> DataFrame:
    """M2 RATE_SIGNED: same as RATE, negatives kept (server/store.cc:301-318)."""
    return _dispatch_pairwise(points, _per_second, True, chunk)


def delta(points: DataFrame, chunk=None) -> DataFrame:
    """M3 DELTA: v_i - v_{i-1} emitted at ts_i; C++ keeps only deltas >= 0
    (server/store.cc:319-333)."""
    return _dispatch_pairwise(points, lambda v, pv, t, pt: v - pv, False, chunk)


def delta_signed(points: DataFrame, chunk=None) -> DataFrame:
    """M3 variant without the >=0 filter (for pipeline composition)."""
    return _dispatch_pairwise(points, lambda v, pv, t, pt: v - pv, True, chunk)


# ---- bucketed resamples (tumbling epoch-aligned windows) -------------------

def _bucket_start(interval_ms: int, ts: Column | str = "ts") -> Column:
    """Epoch-aligned bucket start: floor(epoch_ms/interval)*interval as ts.

    Equivalent to F.window(ts, interval).start but cheaper (no struct) and
    exactly mirrors the oracle's floor(epoch_ms(ts)/i)*i arithmetic.
    """
    ms = (epoch_seconds(ts) * 1000).cast("long")
    start_ms = (F.floor(ms / F.lit(interval_ms)) * interval_ms).cast("long")
    return (start_ms.cast("double") / 1000.0).cast("timestamp")


def _bucketed(points: DataFrame, interval, aggs: Sequence[Column],
              carry_labels: bool = True) -> DataFrame:
    # Group on the scalar series_key (MapType can't be a grouping key);
    # labels are functionally determined by it, so first() is exact.
    #
    # Scale note: first() over a MapType is not hash-aggregable, so
    # carrying labels forces SortAggregate (sorted partials both sides of
    # the exchange). carry_labels=False keeps the whole aggregation in
    # HashAggregate for pipelines that only need (series_key, ts, value) —
    # the label map stays recoverable by joining any upstream distinct
    # (series_key → labels) dimension.
    interval_ms = parse_duration_ms(interval)
    pts = _with_key(points)
    bucketed = pts.withColumn("ts", _bucket_start(interval_ms)).groupBy(
        "name", SERIES_KEY_COL, "ts"
    )
    if carry_labels:
        out = bucketed.agg(F.first("labels").alias("labels"), *aggs)
    else:
        out = bucketed.agg(*aggs).withColumn(
            "labels", F.lit(None).cast("map<string,string>")
        )
    return (
        out.withColumn("sval", F.lit(None).cast("string"))
        .select("name", "labels", "ts", "dval", "sval", SERIES_KEY_COL)
    )


def mean_resample(points: DataFrame, interval, carry_labels: bool = True) -> DataFrame:
    """M5 Go AVERAGE: mean per bucket (mutations/mutations.go:10-49).

    Declared semantics: epoch-aligned tumbling buckets stamped at the
    bucket START (the reference anchors at the stream's first ts and
    stamps at the last input ts — data-dependent and not reproducible by
    an aligned-window engine; divergence declared in SURVEY.md §7.0 #4).
    The reference-exact anchored kernel lives in resample.py for parity
    tests.
    """
    return _bucketed(points, interval, [F.avg("dval").alias("dval")], carry_labels)


def min_resample(points: DataFrame, interval, carry_labels: bool = True) -> DataFrame:
    """M6 MIN per bucket (mutations/mutations.go:139-165)."""
    return _bucketed(points, interval, [F.min("dval").alias("dval")], carry_labels)


def max_resample(points: DataFrame, interval, carry_labels: bool = True) -> DataFrame:
    """M6 MAX per bucket (mutations/mutations.go:167-191)."""
    return _bucketed(points, interval, [F.max("dval").alias("dval")], carry_labels)


def latest(points: DataFrame, interval) -> DataFrame:
    """M8 LATEST: newest value per bucket — declared-but-unimplemented in
    both reference query paths (enum lib/openinstrument.proto:40-41; C++
    error branch store.cc:334-337, Go commented out mutations.go:299-313);
    required by retention downsampling (config.txt:37-47), so we implement
    it. Works for string samples too (sval carried through)."""
    interval_ms = parse_duration_ms(interval)
    pts = _with_key(points).withColumn("_bucket", _bucket_start(interval_ms))
    # (dval, sval) tie-break: equal-ts samples would otherwise pick a
    # nondeterministic winner (run-to-run and vs any SQL oracle).
    w = Window.partitionBy(SERIES_KEY_COL, "_bucket").orderBy(
        F.col("ts").desc(),
        F.col("dval").desc_nulls_last(),
        F.col("sval").desc_nulls_last(),
    )
    return (
        pts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .withColumn("ts", F.col("_bucket"))
        .drop("_rn", "_bucket")
    )


def stddev_resample(points: DataFrame, interval, carry_labels: bool = True) -> DataFrame:
    """M9 population stddev per bucket (the commented-out aspiration at
    mutations/mutations.go:194-216)."""
    return _bucketed(points, interval, [F.stddev_pop("dval").alias("dval")], carry_labels)


# ---- composition ------------------------------------------------------------

MUTATIONS: dict[str, Callable] = {
    "rate": rate,
    "rate_signed": rate_signed,
    "delta": delta,
    "delta_signed": delta_signed,
}

RESAMPLES: dict[str, Callable] = {
    "mean": mean_resample,
    "min": min_resample,
    "max": max_resample,
    "latest": latest,
    "stddev": stddev_resample,
}


def apply_mutation(points: DataFrame, kind: str, interval=None,
                   max_gap_interpolate: int | None = None) -> DataFrame:
    """Dispatch one mutation spec (StreamMutation analog,
    lib/openinstrument.proto:24-52). AVERAGE/MIN/MAX require an interval
    (validation mirror of server/store.cc:277-283).
    ``max_gap_interpolate`` mirrors the proto's per-mutation gap cap
    (proto:51, honored by the grid interpolators — the reference's code
    paths ignore the field, DIVERGENCES.md D12)."""
    from open_instrument_spark.operators import resample as _resample

    kind = kind.lower()
    if kind in MUTATIONS:
        if max_gap_interpolate is not None:
            raise ValueError(
                f"max_gap_interpolate applies to grid interpolators, not {kind!r}"
            )
        return MUTATIONS[kind](points)
    interval_resamples = dict(
        RESAMPLES,
        # C++ AVERAGE + sample_frequency = UniformTimeSeries interpolation
        # (server/store.cc:292-300); Go AVERAGE = bucketed mean — both kept.
        average=_resample.uniform_average,
        uniform=_resample.uniform_average,
        interpolate=_resample.interpolate,
        none_interpolate=_resample.interpolate,  # NONE + sample_frequency, Go
        mean_anchored=_resample.mean_anchored,
    )
    if kind in interval_resamples:
        if interval is None:
            raise ValueError(f"mutation {kind!r} requires a sample interval")
        fn = interval_resamples[kind]
        if max_gap_interpolate is not None:
            if fn not in (_resample.uniform_average, _resample.interpolate):
                raise ValueError(
                    f"max_gap_interpolate applies to grid interpolators, not {kind!r}"
                )
            return fn(points, interval, max_gap_interpolate=max_gap_interpolate)
        return fn(points, interval)
    if kind in ("none", "identity"):
        if max_gap_interpolate is not None:
            raise ValueError(
                f"max_gap_interpolate applies to grid interpolators, not {kind!r}"
            )
        return points
    raise ValueError(f"unknown mutation {kind!r}")


def pipeline(points: DataFrame, specs: Sequence[tuple]) -> DataFrame:
    """Go-style chaining (go/src/store.go:102-131): each mutation feeds
    the next. specs = [(kind, interval-or-None[, max_gap]), ...] — the
    optional third element is the proto's per-mutation
    ``max_gap_interpolate`` (lib/openinstrument.proto:51)."""
    out = points
    for spec in specs:
        out = apply_mutation(out, *spec)
    return out


def fan_out(points: DataFrame, specs: Sequence[tuple]) -> list[DataFrame]:
    """C++-style fan-out (server/store.cc:140-147): each mutation applies
    independently to the raw stream, one output stream per mutation.
    specs as in :func:`pipeline` (optional third element = max_gap)."""
    return [apply_mutation(points, *spec) for spec in specs]
