"""Cross-stream windowed aggregations (SURVEY.md §2.4, A1-A12).

The reference walks grouped streams and folds values into drift buckets
(first-seen-ts anchored, lib/protobuf.cc:49-142) — inherently sequential.
We declare epoch-aligned tumbling windows instead (SURVEY.md §7.0 #4:
deterministic, oracle-able, and the proto's stated intent — "points
aggregated if < sample_interval apart", lib/openinstrument.proto:64-69).
That turns every aggregation into one shuffle on (group key, bucket) with
map-side partial aggregation — the shape that scales to 100 TB.

For users reproducing a C++ ``/get`` aggregation bit-for-bit,
:func:`aggregate_anchored` (or ``aggregate(..., anchored=True)``) runs
the reference-EXACT ValueStreamCalculation drift-bucket walk as a
grouped-map kernel — quirks included (see its docstring). The declared
tumbling semantics above remain the default and the scale path.

Grouping modes (server/store.cc:155-252):
- no labels in the spec → all streams sharing a variable NAME are
  aggregated together; output drops all labels (A7, store.cc:173-188);
- per label → one output stream per distinct value of that label
  (A8, store.cc:190-249), optionally RETAINING any other label that has
  exactly one distinct value within the group (store.cc:208-227) — a
  second, cheap aggregation pass here.

Default bucket width 30 000 ms (lib/openinstrument.proto:69, A9).
MEDIAN is continuous-interpolated (percentile 0.5) rather than the
reference's upper-median (lib/protobuf.cc:135-142) — declared in
SURVEY.md §7.0 #5 for DuckDB-median compatibility.
MAX is a true max; the reference's 0-init bug (lib/protobuf.cc:109-120)
is deliberately not reproduced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_instrument_spark.functions.durations import parse_duration_ms
from open_instrument_spark.model import label_value
from open_instrument_spark.operators.mutate import _bucket_start

DEFAULT_SAMPLE_INTERVAL_MS = 30_000  # lib/openinstrument.proto:69

AGG_FNS = {
    "average": lambda c: F.avg(c),        # A2, lib/protobuf.cc:87-96
    "sum": lambda c: F.sum(c),            # A3, lib/protobuf.cc:98-107
    "max": lambda c: F.max(c),            # A4 (bug-fixed), lib/protobuf.cc:109-120
    "min": lambda c: F.min(c),            # A5, lib/protobuf.cc:122-133
    "median": lambda c: F.percentile(c, F.lit(0.5)),  # A6, see module docstring
    # A6 reference-exact variant: sorted-bucket element [n/2] — the UPPER
    # median, middle pair never averaged (lib/protobuf.cc:135-142).
    "median_upper": lambda c: F.get(
        F.array_sort(F.collect_list(c)),
        F.floor(F.size(F.collect_list(c)) / 2).cast("int"),
    ),
    # PromQL cross-series aggregator tail (r14 — promql/engine.go
    # aggregation contract; extensions beyond the reference's five,
    # like topk/bottomk before them). stddev/stdvar are POPULATION
    # moments (PromQL funcs are σ², not sample variance); group() is
    # the constant-1 presence aggregator.
    "count": lambda c: F.count(c),
    "stddev": lambda c: F.stddev_pop(c),
    "stdvar": lambda c: F.var_pop(c),
    "group": lambda c: F.max(F.lit(1.0)),
}


def _agg_expr(agg_type: str, col: str = "dval") -> Column:
    at = agg_type.lower()
    # "p95", "p99.9", ... — exact interpolated percentile (extension
    # beyond the reference's MEDIAN; JVM-side F.percentile, the same
    # (n-1)*q linear interpolation as DuckDB quantile_cont / numpy).
    if len(at) > 1 and at[0] == "p" and at[1:].replace(".", "", 1).isdigit():
        q = float(at[1:]) / 100.0
        if not 0.0 < q <= 1.0:
            raise ValueError(f"percentile out of range: {agg_type!r}")
        return F.percentile(col, F.lit(q)).alias("value")
    try:
        return AGG_FNS[at](col).alias("value")
    except KeyError:
        raise ValueError(f"unknown aggregation {agg_type!r}") from None


def aggregate_by_name(points: DataFrame, agg_type: str,
                      sample_interval=DEFAULT_SAMPLE_INTERVAL_MS) -> DataFrame:
    """A7: aggregate every stream sharing a variable name; labels dropped.

    Output: (name, ts = bucket start, value).
    """
    interval_ms = parse_duration_ms(sample_interval)
    return (
        points.withColumn("ts", _bucket_start(interval_ms))
        .groupBy("name", "ts")
        .agg(_agg_expr(agg_type))
    )


def aggregate_by_name_multi(points: DataFrame, aggs: dict[str, str],
                            sample_interval=DEFAULT_SAMPLE_INTERVAL_MS,
                            ) -> DataFrame:
    """A7 with SEVERAL aggregators folded in ONE pass: ``aggs`` maps
    output column name → aggregator type (any :func:`_agg_expr` kind —
    the A2-A6 five, percentiles, and the PromQL tail count / stddev /
    stdvar / group). A dashboard or rule asking for mean+p95+count of
    the same selector should cost one exchange, not three: Spark folds
    all requested aggregators in the same aggregate pair, one shuffle
    on (name, bucket) regardless of how many are asked for (the moment
    aggregators — sum/avg/min/max/count/stddev/stdvar/group — stay
    map-side partial-combinable; exact percentiles/medians carry their
    usual per-group buffer, same as when requested alone).

    Output: (name, ts = bucket start, <one column per aggs key>)."""
    if not aggs:
        raise ValueError("aggs must name at least one aggregator")
    interval_ms = parse_duration_ms(sample_interval)
    exprs = [_agg_expr(kind, "dval").alias(out) for out, kind in aggs.items()]
    return (
        points.withColumn("ts", _bucket_start(interval_ms))
        .groupBy("name", "ts")
        .agg(*exprs)
    )


def aggregate_by_name_sliding(points: DataFrame, agg_type: str,
                              window_ms, slide_ms) -> DataFrame:
    """A7 over SLIDING (hopping) windows — the smoothed-dashboard form
    the reference's tumbling-only engine lacks (north-star A-family
    extension). Each sample lands in ``window/slide`` windows; windows
    are epoch-aligned on the slide like the tumbling form is on the
    interval, so tumbling ≡ sliding when window == slide.

    Spark-first: ``F.window(ts, w, s)`` — the built-in replicates each
    row into its windows before ONE keyed aggregation (map-side
    partial); no self-joins. ``window`` must be a multiple of ``slide``
    (the built-in's alignment contract). Output: (name, ts = window
    start, value)."""
    w_ms = parse_duration_ms(window_ms)
    s_ms = parse_duration_ms(slide_ms)
    if w_ms % s_ms != 0:
        raise ValueError(
            f"window ({w_ms} ms) must be a multiple of slide ({s_ms} ms)"
        )
    win = F.window("ts", f"{w_ms // 1000} seconds", f"{s_ms // 1000} seconds")
    return (
        points.groupBy("name", win.alias("_w"))
        .agg(_agg_expr(agg_type))
        .select("name", F.col("_w.start").alias("ts"), "value")
    )


def histogram_by_name(points: DataFrame, bucket_width: float,
                      sample_interval=DEFAULT_SAMPLE_INTERVAL_MS) -> DataFrame:
    """Fixed-width value histogram per (name, time bucket) — the
    latency-histogram shape monitoring stacks derive before computing
    quantiles server-side (north-star A-family extension). Bucket b
    holds dval ∈ [b·width, (b+1)·width) via floor division (negative
    values land in negative buckets — floor, not truncation). One
    groupBy: the histogram IS the aggregation key extension, map-side
    partial like every A-family op. Output: (name, ts, bucket, n)."""
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be > 0, got {bucket_width}")
    interval_ms = parse_duration_ms(sample_interval)
    return (
        points.withColumn("ts", _bucket_start(interval_ms))
        .withColumn(
            "bucket",
            F.floor(F.col("dval") / F.lit(float(bucket_width))).cast("long"),
        )
        .groupBy("name", "ts", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def aggregate_by_label(points: DataFrame, agg_type: str, label: str,
                       sample_interval=DEFAULT_SAMPLE_INTERVAL_MS,
                       retain_single_valued: bool = False,
                       drop_missing: bool = True) -> DataFrame:
    """A8: per distinct value of ``label``, aggregate matching streams.

    Output: (name, label_value, ts, value) [+ retained_labels map].

    ``drop_missing=True`` follows Go's MergeStreamsBy
    (openinstrument.go:151-206): streams lacking the label are skipped.
    ``retain_single_valued`` adds the C++ nicety (store.cc:208-227): any
    OTHER label with exactly one distinct value across the group's
    streams is kept in the output — computed as a second aggregation over
    the distinct (group, other-label) pairs, then a broadcast-friendly
    join back; no per-group driver loop.
    """
    interval_ms = parse_duration_ms(sample_interval)
    # staged-scalar fast path (model.label_value): on frames whose source
    # adapter staged the label, the drop_missing filter below pushes to
    # the scan as a plain column test instead of re-inlining the label
    # map build into the predicate (r15; measured 7× on the user-label
    # aggregation at sf0.1).
    lv = label_value(points, label)
    pts = points.withColumn("label_value", lv)
    if drop_missing:
        pts = pts.filter(F.col("label_value").isNotNull() & (F.col("label_value") != ""))
    else:
        pts = pts.fillna({"label_value": ""})

    out = (
        pts.withColumn("ts", _bucket_start(interval_ms))
        .groupBy("name", "label_value", "ts")
        .agg(_agg_expr(agg_type))
    )

    if not retain_single_valued:
        return out

    # Per (name, label_value) group: other labels having exactly one
    # distinct value over the group's member streams (store.cc:208-227).
    # ONE exchange: collect the distinct (k,v) pairs per group
    # (collect_set = ObjectHashAggregate with map-side partials), then a
    # higher-order filter keeps keys appearing exactly once. The O(n²)
    # in-array scan is over a group's distinct label pairs — tens, not
    # data-scale. (A count/first formulation would cost two more
    # exchanges plus a string-buffer SortAggregate.)
    # Declared null semantics: a null label value counts as a distinct
    # value (a {null,'x'} key is NOT single-valued), and groups with no
    # qualifying keys get an EMPTY map rather than a null column.
    kv = F.col("_kv")
    singles = F.filter(
        kv,
        lambda e: F.size(F.filter(kv, lambda x: x["k"] == e["k"])) == 1,
    )
    member_labels = (
        pts.select("name", "label_value", F.explode_outer("labels").alias("k", "v"))
        .filter(F.col("k") != label)
        .groupBy("name", "label_value")
        .agg(F.collect_set(F.struct("k", "v")).alias("_kv"))
        .select(
            "name",
            "label_value",
            F.map_from_entries(singles).alias("retained_labels"),
        )
    )
    # member_labels is result-scale (one row per output group, i.e. per
    # distinct (name, label_value)) — orders of magnitude below the input
    # points, so the hint is safe where the query itself is answerable;
    # without it local/AQE falls back to a sort-merge join that shuffles
    # the full aggregate twice.
    return out.join(F.broadcast(member_labels), ["name", "label_value"], "left")


# ---- A1 reference-exact drift-bucket kernel ---------------------------------

def _drift_calc_fns():
    """The five bucket fold functions, each the EXACT C++ fold —
    including the Max 0-init bug (lib/protobuf.cc:109-120: an
    all-negative bucket yields 0) and the upper median
    (lib/protobuf.cc:135-142: sorted[n/2], middle pair never averaged).
    Sum/average fold in bucket append order (same IEEE association as
    the C++ vector walk)."""

    def _avg(b):          # lib/protobuf.cc:87-92
        t = 0.0
        for x in b:
            t += x
        return t / len(b)

    def _sum(b):          # lib/protobuf.cc:98-103
        t = 0.0
        for x in b:
            t += x
        return t

    def _max(b):          # lib/protobuf.cc:109-115 (0-init, faithfully)
        m = 0.0
        for x in b:
            if x > m:
                m = x
        return m

    def _min(b):          # lib/protobuf.cc:122-128
        m = b[0]
        for x in b:
            if x < m:
                m = x
        return m

    def _median(b):       # lib/protobuf.cc:135-139 (upper median)
        s = sorted(b)
        return s[len(s) // 2]

    return {"average": _avg, "sum": _sum, "max": _max, "min": _min,
            "median": _median}


def value_stream_calculation(streams, interval_us: int, calcfunc):
    """Reference-exact ValueStreamCalculation (lib/protobuf.cc:49-85):
    the drift-bucket walk over a merged stream set.

    ``streams``: ordered list of (ts_array, val_array) pairs, each
    time-sorted. Per while-round, each stream's CURRENT value joins the
    bucket if within ±interval of the anchor; the anchor is the first
    remaining value seen (in stream order) while unset. A round where no
    stream contributes flushes the bucket, stamped at the ANCHOR ts.
    Reproduced quirks, each visible in the C++ loop:
    (1) the anchor comes from STREAM-SCAN order, not global time order —
        a stream whose next value predates the current anchor gets its
        own LATER bucket, so output timestamps can be non-monotonic;
    (2) the final bucket is never flushed (the loop breaks on input
        exhaustion before the flush check) — trailing data is dropped;
    (3) ts==0 doubles as the "unset" sentinel (a genuine epoch-0 sample
        would re-anchor; unrealizable for real telemetry timestamps).
    Returns (out_ts, out_vals) python lists.

    This is the VECTORIZED batch walk: per while-round the stream scan
    is numpy mask arithmetic over padded per-stream cursor tables —
    O(n_streams) C ops per round instead of a Python loop, ~10× faster
    on metric-fleet group widths. Bucket append order (stream index
    ascending within each round) and the per-bucket Python float folds
    are those of the resumable walk :func:`drift_walk`, so results are
    bit-identical to :func:`value_stream_calculation_spec`
    (randomized-equality-tested in test_aggregate_anchored.py)."""
    import numpy as np

    n = len(streams)
    if n == 0:
        return [], []
    lens = np.array([len(st) for st, _ in streams], dtype=np.int64)
    width = int(lens.max())
    if width == 0:
        return [], []
    T = np.zeros((n, width), dtype=np.int64)
    V = np.zeros((n, width), dtype=np.float64)
    for i, (st, sv) in enumerate(streams):
        T[i, : lens[i]] = np.asarray(st, dtype=np.int64)
        V[i, : lens[i]] = np.asarray(sv, dtype=np.float64)
    idx = np.zeros(n, dtype=np.int64)
    cap = lens - 1
    alive = idx < lens
    n_alive = int(alive.sum())
    # cursor arrays maintained incrementally — only advanced streams
    # re-gather, so a round costs three vector masks, not a full fancy
    # index (exhausted entries go to +inf so they never enter a bracket)
    INF = np.iinfo(np.int64).max
    curr_t = np.where(alive, T[np.arange(n), np.minimum(idx, cap)], INF)
    curr_v = V[np.arange(n), np.minimum(idx, cap)]
    out_t: list[int] = []
    out_v: list[float] = []
    bucket: list[float] = []
    ts = 0
    while n_alive:
        if not ts:
            ts = int(curr_t[int(np.argmax(alive))])
        inb = (curr_t >= ts - interval_us) & (curr_t <= ts + interval_us)
        if inb.any():
            adv = np.flatnonzero(inb)  # stream-index order preserved
            bucket.extend(curr_v[adv].tolist())
            idx[adv] += 1
            still = idx[adv] < lens[adv]
            n_alive -= int((~still).sum())
            alive[adv] = still
            nxt = np.minimum(idx[adv], cap[adv])
            curr_t[adv] = np.where(still, T[adv, nxt], INF)
            curr_v[adv] = V[adv, nxt]
        elif bucket:
            out_t.append(ts)
            out_v.append(calcfunc(bucket))
            bucket = []
            ts = 0
    return out_t, out_v


def drift_walk(streams, cursors, anchor, bucket, interval_us, calcfunc,
               to_completion=True):
    """The resumable drift-bucket walk (lib/protobuf.cc:49-85, line for
    line; semantics in :func:`value_stream_calculation`).

    ``streams`` is an ordered list of (ts, vals) sequences; ``cursors``
    holds each stream's next index and is advanced in place. The walk
    resumes from an in-flight ``anchor`` (0 = unset) and ``bucket``.
    With ``to_completion`` it runs to input exhaustion, leaving the
    final bucket unflushed; without, it stops before any round in which
    some stream has no point left, because that stream could still
    produce an earlier-scanned head (the streaming finality boundary).
    Returns (anchor, bucket, out_ts, out_vals)."""
    out_t: list[int] = []
    out_v: list[float] = []
    while to_completion or all(
            k < len(st) for k, (st, _) in zip(cursors, streams)):
        found = False
        found_bracket = False
        for i, (st, sv) in enumerate(streams):
            k = cursors[i]
            if k >= len(st):
                continue
            t = int(st[k])
            found = True
            if not anchor:
                anchor = t
            if anchor - interval_us <= t <= anchor + interval_us:
                found_bracket = True
                bucket.append(float(sv[k]))
                cursors[i] = k + 1
        if not found:
            break
        if not found_bracket and bucket:
            out_t.append(anchor)
            out_v.append(calcfunc(bucket))
            bucket = []
            anchor = 0
    return anchor, bucket, out_t, out_v


def value_stream_calculation_spec(streams, interval_us: int, calcfunc):
    """The pure-Python reference walk, kept as the executable spec of
    :func:`value_stream_calculation`: :func:`drift_walk` run to
    completion from a fresh state."""
    _, _, out_t, out_v = drift_walk(
        streams, [0] * len(streams), 0, [], interval_us, calcfunc)
    return out_t, out_v


def aggregate_anchored(points: DataFrame, agg_type: str,
                       sample_interval=DEFAULT_SAMPLE_INTERVAL_MS,
                       by_label: str | None = None,
                       drop_missing: bool = True) -> DataFrame:
    """A1 reference-exact twin: aggregate the streams of each group by
    walking them through :func:`value_stream_calculation` — bit-equal to
    the C++ server's ``/get`` aggregation path, bugs and all (Max
    0-init, upper median, dropped trailing bucket, drift anchoring).

    Stream order inside a group is sorted canonical series_key — the one
    semantic we must PIN that the reference leaves to store-arrival
    order (D-note: not portable, so we declare the deterministic order;
    a group whose streams never overlap in ±interval brackets is
    order-insensitive anyway).

    Scale shape: one shuffle to co-locate each output group, then a
    sequential per-group kernel — the same bound as the reference, which
    materializes a group's full stream set in RAM before walking it
    (server/store.cc:155-252). Group = variable name (or name ×
    label_value with ``by_label``), so parallelism is across groups;
    the tumbling default remains the scale path for monster groups.
    Output: (name[, label_value], ts, value)."""
    import numpy as np
    import pandas as pd

    calc = _drift_calc_fns()[agg_type.lower()]
    interval_us = parse_duration_ms(sample_interval) * 1000

    from open_instrument_spark.operators.mutate import _with_key

    keys = ["name"] + (["label_value"] if by_label is not None else [])
    # unix_micros, not epoch_seconds*1e6: double seconds lose exact µs
    # above 2^22 s and the truncating cast can land 1 µs low — the
    # recursive-CTE oracle computes epoch_us exactly, so we must too.
    # Key + label come through the staged fast paths when available:
    # the precomputed series_key column and model.label_value.
    pts = _with_key(points).select(
        "name",
        *([label_value(points, by_label).alias("label_value")]
          if by_label is not None else []),
        F.col("series_key").alias("_sk"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_t"),
        "dval",
    )
    if by_label is not None and drop_missing:
        pts = pts.filter(
            F.col("label_value").isNotNull() & (F.col("label_value") != "")
        )
    out_schema = ", ".join(
        [f"{k} string" for k in keys] + ["ts timestamp", "value double"]
    )

    def run(key, pdf):
        # dval tie-break: same-(series, ts) duplicates get a defined
        # bucket-append order (matches the oracle's ORDER BY t, dval)
        pdf = pdf.sort_values(["_sk", "_t", "dval"])
        streams = [
            (g["_t"].to_numpy(np.int64), g["dval"].to_numpy(np.float64))
            for _, g in pdf.groupby("_sk", sort=True)
        ]
        out_t, out_v = value_stream_calculation(streams, interval_us, calc)
        return pd.DataFrame(
            {
                **{k: np.full(len(out_t), key[i], dtype=object)
                   for i, k in enumerate(keys)},
                "ts": pd.to_datetime(np.asarray(out_t, dtype=np.int64), unit="us"),
                "value": np.asarray(out_v, dtype=np.float64),
            }
        )

    # Real annotation objects (the module's `from __future__ import
    # annotations` would stringify inline hints, which the grouped-map
    # eval-type inference can't read).
    run.__annotations__ = {"key": tuple, "pdf": pd.DataFrame,
                           "return": pd.DataFrame}
    # Explicit repartition-by-num so AQE's byte-based coalescing can't
    # squeeze this Python-compute-bound stage onto a handful of tasks
    # (same rationale as resample.apply_kernel; hash(keys) satisfies the
    # groupBy clustering requirement → still exactly one exchange).
    # Groups beyond the distinct-key count leave empty partitions, which
    # cost ~ms each — parallelism is bounded by distinct groups either
    # way, the documented A1 scale bound.
    n_parts = points.sparkSession.sparkContext.defaultParallelism * 4
    return (
        pts.repartition(n_parts, *keys)
        .groupBy(*keys)
        .applyInPandas(run, out_schema)
    )


def aggregate(points: DataFrame, agg_type: str, by_labels: list[str] | None = None,
              sample_interval=DEFAULT_SAMPLE_INTERVAL_MS, anchored: bool = False,
              **kw) -> DataFrame:
    """StreamAggregation entry (lib/openinstrument.proto:54-70): dispatch
    on whether a group-by label list is present (server/store.cc:169-252).
    Like the C++ server, each label in the list produces an independent
    grouping; this helper handles the common 0/1-label cases and unions
    multi-label requests. ``anchored=True`` dispatches to the
    reference-exact drift-bucket kernel (:func:`aggregate_anchored`)
    instead of the declared tumbling semantics.
    """
    if not by_labels:
        if anchored:
            return aggregate_anchored(points, agg_type, sample_interval)
        return aggregate_by_name(points, agg_type, sample_interval)

    def by_label(lb: str) -> DataFrame:
        if anchored:
            return aggregate_anchored(points, agg_type, sample_interval, by_label=lb,
                                      drop_missing=kw.get("drop_missing", True))
        return aggregate_by_label(points, agg_type, lb, sample_interval, **kw)

    return merge_streams(*(by_label(lb).withColumn("label", F.lit(lb)) for lb in by_labels))


def merge_streams(*streams: DataFrame) -> DataFrame:
    """A11/A12: k-way merge of streams ≡ union (ts order is a property of
    downstream sorts, not storage — openinstrument.go:120-149's greedy
    min-ts merge is subsumed by any later orderBy)."""
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out
