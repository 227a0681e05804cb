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


def _series_window(order: str) -> Window:
    return Window.partitionBy(SERIES_KEY_COL).orderBy(order)


def _with_predecessor(df: DataFrame, order: str, carry: dict[str, str], chunk=None,
                      series_min: dict[str, str] | None = None) -> DataFrame:
    """Add each row's series predecessor: ``carry`` maps an output name
    to the column whose previous-row value (in ``order`` within the
    series) it takes, null on the series' first row; ``series_min``
    maps an output name to a column whose series minimum it takes.

    ``chunk=None`` lags plain attributes over one series window (one
    ``Window`` node). That window puts a whole series in one task, so a
    ``chunk`` duration (e.g. "1d") bounds task size by points-per-chunk
    instead: the lag runs within (series, time chunk of ``ts``), a row
    without an in-chunk predecessor takes the previous non-empty
    chunk's tail row, and the minima come from the chunk-cardinality
    tail table. The previous row is carried as one struct, which is
    null only when there is no in-chunk predecessor, so a carried null
    value never triggers the handoff. ``order`` must be ``ts`` or
    monotone in it; chunk boundaries cannot change the result.
    """
    series_min = series_min or {}
    if chunk is None:
        w = _series_window(order)
        for name, col in carry.items():
            df = df.withColumn(name, F.lag(col).over(w))
        for name, col in series_min.items():
            df = df.withColumn(name, F.min(col).over(Window.partitionBy(SERIES_KEY_COL)))
        return df
    chunk_ms = parse_duration_ms(chunk)
    df = df.withColumn("_c", F.floor(epoch_seconds("ts") * 1000 / F.lit(chunk_ms)))
    row = F.struct(*(F.col(col).alias(name) for name, col in carry.items()))
    tails = df.groupBy(SERIES_KEY_COL, "_c").agg(
        F.max_by(row, order).alias("_tail"),
        *(F.min(col).alias(name) for name, col in series_min.items()),
    )
    state = tails.select(
        SERIES_KEY_COL, "_c",
        F.lag("_tail").over(Window.partitionBy(SERIES_KEY_COL).orderBy("_c")).alias("_ptail"),
        *(F.min(name).over(Window.partitionBy(SERIES_KEY_COL)).alias(name)
          for name in series_min),
    )
    prev = (
        df.withColumn("_p", F.lag(row).over(Window.partitionBy(SERIES_KEY_COL, "_c").orderBy(order)))
        .join(state, [SERIES_KEY_COL, "_c"], "left")
        .withColumn("_p", F.coalesce("_p", "_ptail"))
    )
    return prev.withColumns({name: F.col("_p")[name] for name in carry}).drop(
        "_c", "_p", "_ptail"
    )


def _pairwise(points: DataFrame, out_expr: Callable[[Column, Column, Column, Column], Column],
              keep_negative: bool, chunk) -> DataFrame:
    """Shared (v_i, v_{i-1}, t_i, t_{i-1}) → value skeleton for RATE/DELTA.

    Mirrors the loop shape of server/store.cc:301-333: emit at ts_i from
    the second point on; zero/negative time steps produce no output (the
    reference's division would be undefined; Go skips dupes implicitly).
    """
    # Materialize the epoch column BEFORE the window: lagging a derived
    # expression would split the plan into two Window nodes (two passes
    # over the sorted partition); lagging plain attributes keeps one.
    pts = _with_key(points).withColumn("_t", epoch_seconds("ts"))
    t, pt = F.col("_t"), F.col("_prev_t")
    out = (
        _with_predecessor(pts, "ts", {"_prev_v": "dval", "_prev_t": "_t"}, chunk)
        .withColumn("_out", out_expr(F.col("dval"), F.col("_prev_v"), t, pt))
        .filter(pt.isNotNull() & (t > pt))
    )
    if not keep_negative:
        out = out.filter(F.col("_out") >= 0)
    return out.withColumn("dval", F.col("_out")).drop("_t", "_prev_v", "_prev_t", "_out")


def _per_second(v, pv, t, pt):
    return (v - pv) / (t - pt)


def rate(points: DataFrame, chunk=None) -> DataFrame:
    """M1 RATE: (v_i - v_{i-1}) / (t_i - t_{i-1}) per second, negatives
    dropped (counter-reset suppression, server/store.cc:309).

    ``chunk`` (duration, e.g. "1d"): bound per-task data for arbitrarily
    long series (see :func:`_with_predecessor`) — identical results.
    """
    return _pairwise(points, _per_second, False, chunk)


def rate_signed(points: DataFrame, chunk=None) -> DataFrame:
    """M2 RATE_SIGNED: same as RATE, negatives kept (server/store.cc:301-318)."""
    return _pairwise(points, _per_second, True, chunk)


def delta(points: DataFrame, chunk=None) -> DataFrame:
    """M3 DELTA: v_i - v_{i-1} emitted at ts_i; C++ keeps only deltas >= 0
    (server/store.cc:319-333)."""
    return _pairwise(points, lambda v, pv, t, pt: v - pv, False, chunk)


def delta_signed(points: DataFrame, chunk=None) -> DataFrame:
    """M3 variant without the >=0 filter (for pipeline composition)."""
    return _pairwise(points, lambda v, pv, t, pt: v - pv, True, chunk)


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
    grid = {
        # C++ AVERAGE + sample_frequency = UniformTimeSeries interpolation
        # (server/store.cc:292-300); Go AVERAGE = bucketed mean — both kept.
        "average": _resample.uniform_average,
        "uniform": _resample.uniform_average,
        "interpolate": _resample.interpolate,
        "none_interpolate": _resample.interpolate,  # NONE + sample_frequency, Go
    }
    interval_resamples = {**RESAMPLES, **grid, "mean_anchored": _resample.mean_anchored}
    identity = kind in ("none", "identity")
    if kind not in MUTATIONS and kind not in interval_resamples and not identity:
        raise ValueError(f"unknown mutation {kind!r}")
    if max_gap_interpolate is not None and kind not in grid:
        raise ValueError(
            f"max_gap_interpolate applies to grid interpolators, not {kind!r}"
        )
    if kind in MUTATIONS:
        return MUTATIONS[kind](points)
    if identity:
        return points
    if interval is None:
        raise ValueError(f"mutation {kind!r} requires a sample interval")
    if max_gap_interpolate is not None:
        return grid[kind](points, interval, max_gap_interpolate=max_gap_interpolate)
    return interval_resamples[kind](points, interval)


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
