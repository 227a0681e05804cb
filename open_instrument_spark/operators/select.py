"""Selection operators (SURVEY.md §2.2 F7-F10, §2.1 S11 List).

All pure DataFrame expressions: the time-range filter and name predicates
reach the Parquet scan as pushed filters (the Spark analog of the
reference's header min/max-ts skipping, datastore/datastore.go:261-266,
and its variable-name index lookups).
"""

from __future__ import annotations

import datetime as dt
import functools
import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from open_instrument_spark.functions.match import VariableMatcher
from open_instrument_spark.model import staged_label_columns
from open_instrument_spark.operators.mutate import SERIES_KEY_COL, _with_key
from open_instrument_spark.session import local_df

DEFAULT_GET_WINDOW_MS = 86_400_000  # last 1 day, server/store.cc:137-138
DEFAULT_LIST_MAX_AGE_MS = 86_400_000  # lib/openinstrument.proto:145


def time_range(points: DataFrame, min_ts=None, max_ts=None) -> DataFrame:
    """F7: inclusive-both-ends ts filter (declared semantics, SURVEY.md
    §7.0 #2 — the Go/iterator majority; C++ GetRange is end-exclusive,
    server/disk_datastore.cc:40-57, a flagged divergence).

    On a store frame (one carrying write_points' ``dt`` partition
    column) the one filter also bounds ``dt`` by ``to_date`` of each ts
    bound, so Spark lists ``dt`` under PartitionFilters and reads only
    the window's dates. The bound is exact: the writer derives
    ``dt = to_date(ts)`` in the session timezone, which the engine pins
    to UTC, so writer and reader agree on every row's date; and
    ``to_date`` is monotone, so ``ts >= t`` implies
    ``to_date(ts) >= to_date(t)`` (likewise ``<=``)."""
    ts = F.col("ts")
    date_pruned = "dt" in points.columns
    conds = []
    if min_ts is not None:
        lo = F.lit(min_ts)
        conds.append(ts >= lo)
        if date_pruned:
            conds.append(F.col("dt") >= F.to_date(lo.cast("timestamp")))
    if max_ts is not None:
        hi = F.lit(max_ts)
        conds.append(ts <= hi)
        if date_pruned:
            conds.append(F.col("dt") <= F.to_date(hi.cast("timestamp")))
    if not conds:
        return points
    return points.filter(functools.reduce(operator.and_, conds))


def match_variables(points: DataFrame, pattern: str | VariableMatcher) -> DataFrame:
    """F1-F6 matcher applied to a points table. Label tests resolve
    through staged ``_label_*`` scalar columns when the frame carries
    them (model.STAGED_LABEL_PREFIX) so the pushed filter stays a
    scan-level column test."""
    m = VariableMatcher.from_string(pattern) if isinstance(pattern, str) else pattern
    return points.filter(
        m.predicate(staged_cols=staged_label_columns(points.columns))
    )


def last_n_per_series(points: DataFrame, n: int) -> DataFrame:
    """F9 ``max_values``: newest N values of each series
    (go/src/store.go:151-153). Top-k-by-recency window; the shuffle is on
    the series key, k rows survive per series.

    Equal-timestamp samples break ties on (dval, sval) desc — the same
    deterministic convention as mutate.latest and sources.ingest.dedup —
    so the winner is stable run-to-run and vs a SQL oracle."""
    pts = _with_key(points)
    w = Window.partitionBy(SERIES_KEY_COL).orderBy(
        F.col("ts").desc(),
        F.col("dval").desc_nulls_last(),
        F.col("sval").desc_nulls_last(),
    )
    return pts.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n).drop("_rn")


def cap_variables(points: DataFrame, max_variables: int) -> DataFrame:
    """F8 ``max_variables``: truncate the matched-series set
    (server/store.cc:133-135). Deterministic: keep the first N series in
    canonical-key order (the reference's iteration order over its sorted
    key map).

    Scale note: rank over the DISTINCT key set (cardinality = #series,
    small), then broadcast-semi-join back — never a global window over
    the full points table.
    """
    pts = _with_key(points)
    kept = (
        pts.select(SERIES_KEY_COL).distinct().orderBy(SERIES_KEY_COL).limit(max_variables)
    )
    return pts.join(F.broadcast(kept), SERIES_KEY_COL, "left_semi")


def list_series(points: DataFrame, pattern: str | None = None,
                max_age_ms: int = DEFAULT_LIST_MAX_AGE_MS,
                max_variables: int | None = None,
                now=None, ordered: bool = False) -> DataFrame:
    """S11 List RPC: distinct matched series with a freshness filter
    (server/store.cc:342-379; Go max_age go/src/store.go:204-206).

    Index-only in the reference (fetch_values=false,
    datastore.go:298-307); here Catalyst column-pruning delivers the same
    — the scan reads only (name, labels, ts).
    Output: (name, labels, series_key, last_ts).

    Ordering: ``max_variables`` always sorts (the O2 canonical-key order
    is what makes the truncation deterministic, go/src/list.go:86-95,
    and orderBy+limit compiles to a distributed top-k). Without it the
    sort is opt-in via ``ordered=True`` — at 10⁸ series an unconditional
    global sort is an avoidable exchange when the caller doesn't need
    ordered output.
    """
    pts = points
    if pattern:
        pts = match_variables(pts, pattern)
    grouped = (
        _with_key(pts)
        .groupBy("name", SERIES_KEY_COL)
        .agg(F.first("labels").alias("labels"), F.max("ts").alias("last_ts"))
    )
    if max_age_ms is not None:
        now_expr = F.lit(now) if now is not None else F.current_timestamp()
        grouped = grouped.filter(
            F.col("last_ts") >= now_expr - F.expr(f"INTERVAL {max_age_ms} MILLISECOND")
        )
    if max_variables:
        # F8 analog for List: top-k in canonical-key order (O2)
        grouped = grouped.orderBy(SERIES_KEY_COL).limit(max_variables)
    elif ordered:
        grouped = grouped.orderBy(SERIES_KEY_COL)  # O2 on request
    return grouped.select("name", "labels", SERIES_KEY_COL, "last_ts")


def absent_selectors(points: DataFrame, patterns: list[str]) -> DataFrame:
    """PromQL ``absent()``: for each selector PATTERN, does it match
    ANY series at all — the "this metric disappeared entirely"
    alerting primitive (promql/functions.go funcAbsent; complements
    :func:`stale_series`, which needs at least one sample to age).
    Emits one row per selector — present selectors too, with their
    matched-series count, so one query drives both the absent alert
    and the coverage panel.

    Output: (selector, n_series, absent). 100 TB shape: ONE pass over
    the corpus evaluates every selector — per row, the matching
    selector INDICES become an array that explodes to (idx, series_key)
    pairs, and one count_distinct groupBy folds them to per-selector
    counts; a broadcast join against the |patterns|-row literal
    selector table restores the zero-count (absent) rows. Exploded
    volume is Σ matches — in the common monitoring shape each series
    matches O(1) selectors, so the exchange stays corpus-sized however
    many selectors ride along (N conditional count_distincts in one
    aggregate would plan as an Expand that replicates input rows
    ×|patterns| before the exchange; the no-Expand plan is pinned by
    test_plan_shapes.py and a 128-selector probe row). Exact-name
    selectors additionally prune at the scan when the store is
    name-bucketed (read_store's PartitionFilters path)."""
    if not patterns:
        # an empty selector table would fail opaquely downstream — name
        # the argument instead
        raise ValueError("absent_selectors: patterns must be non-empty")
    keyed = _with_key(points)
    _staged = staged_label_columns(points.columns)
    hits = F.array_compact(F.array(*[
        F.when(VariableMatcher.from_string(p).predicate(staged_cols=_staged),
               F.lit(i))
        for i, p in enumerate(patterns)
    ]))
    counts = (
        keyed.select(F.explode(hits).alias("_sel"), SERIES_KEY_COL)
        .groupBy("_sel")
        .agg(F.count_distinct(F.col(SERIES_KEY_COL)).alias("_n"))
    )
    sels = local_df(
        points.sparkSession,
        [(i, p) for i, p in enumerate(patterns)], "_sel int, selector string"
    )
    return (
        sels.join(F.broadcast(counts), "_sel", "left")
        .select(
            "selector",
            F.coalesce("_n", F.lit(0)).cast("int").alias("n_series"),
            (F.coalesce("_n", F.lit(0)) == 0).alias("absent"),
        )
    )


def absent_over_time(points: DataFrame, pattern: str, start, end,
                     window_s: int = 3600) -> DataFrame:
    """PromQL ``absent_over_time(selector[range])`` evaluated over a
    grid: for each ``window_s`` bucket between ``start``
    (inclusive) and ``end`` (exclusive), did the selector match ANY
    sample — the "this metric went dark for a while" alerting
    primitive. :func:`absent_selectors` answers "is it absent NOW over
    the whole corpus"; this answers "WHEN was it absent", which needs a
    time spine: buckets with zero samples don't exist in a groupBy, so
    the per-bucket counts right-join an in-plan spine built from one
    ``sequence``-explode row (bucket count rows total — literal-sized,
    broadcast side of the join).

    100 TB shape: the selector predicate and the [start, end) range
    both push to the scan (name-bucketed stores also partition-prune),
    one epoch-aligned bucket groupBy map-side-combines to ≤ n_buckets
    rows, and the spine join broadcasts the counts side up to 100k
    buckets (beyond that AQE picks the strategy from the real
    post-aggregation size). Output: (window_start, n_samples, absent),
    one row per bucket."""
    win_us = int(window_s) * 1_000_000
    # An unaligned ``start`` snaps DOWN to the epoch grid the counts
    # floor onto, and the RANGE FILTER moves with it: the spine and
    # the counts must agree on where the first bucket begins, or a
    # bucket the metric was present in would read absent because the
    # filter clipped its early samples (pytest-pinned). Snapping
    # happens driver-side so the scan keeps a plain pushable ts range.
    s = start if isinstance(start, dt.datetime) else (
        dt.datetime.fromisoformat(start))
    e = end if isinstance(end, dt.datetime) else (
        dt.datetime.fromisoformat(end))
    epoch = dt.datetime(1970, 1, 1)
    start_us = ((s - epoch) // dt.timedelta(microseconds=1)
                // win_us * win_us)
    n_buckets = ((e - epoch) // dt.timedelta(microseconds=1)
                 - start_us + win_us - 1) // win_us
    if n_buckets <= 0:
        # an inverted/empty range would otherwise surface as an opaque
        # Spark `sequence` runtime error deep in the job.
        raise ValueError(
            f"absent_over_time: empty range [{s}, {e}) — end must be "
            "after start")
    if n_buckets > 1_000_000:
        # the spine is one sequence-explode row sized by bucket COUNT,
        # not corpus. 1M one-window rows is already a degenerate grid
        # (1 s windows over 11 days); denser wants a coarser window or
        # a chunked range.
        raise ValueError(
            f"absent_over_time: {n_buckets} buckets (window_s="
            f"{window_s} over [{s}, {e})) exceeds the 1M spine bound —"
            " widen the window or chunk the range")
    snapped = epoch + dt.timedelta(microseconds=start_us)
    # The spine's stop is the driver-computed start of the LAST bucket
    # — the same microsecond arithmetic that sized n_buckets (a
    # cast-through-timestamp stop would truncate a sub-second `end` to
    # whole seconds and drop the final partial bucket).
    spine = (
        points.sparkSession.range(1)
        .select(F.explode(F.sequence(
            F.lit(start_us).cast("long"),
            F.lit(start_us + (n_buckets - 1) * win_us).cast("long"),
            F.lit(win_us),
        )).alias("bucket_us"))
    )
    counts = (
        match_variables(points, pattern)
        .filter((F.col("ts") >= F.lit(snapped)) & (F.col("ts") < F.lit(e)))
        .groupBy((F.floor(F.unix_micros("ts") / win_us) * win_us)
                 .alias("bucket_us"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # ≤100k buckets: the counts side is literal-sized — broadcast it.
    # Above that, drop the hint and let AQE pick the join strategy from
    # the real post-aggregation size (a forced multi-M-row broadcast
    # is past sane broadcast size).
    counts_side = F.broadcast(counts) if n_buckets <= 100_000 else counts
    return (
        spine.join(counts_side, on="bucket_us", how="left")
        .select(
            F.timestamp_micros(F.col("bucket_us")).alias("window_start"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_samples"),
            F.coalesce("n", F.lit(0)).eqNullSafe(0).alias("absent"),
        )
    )


def stale_series(points: DataFrame, now, max_age_ms: int = 259_200_000,
                 pattern: str | None = None) -> DataFrame:
    """The inverse of List's freshness filter: EVERY matched series
    with its age, flagged stale when the last sample is older than
    ``max_age_ms`` — the "which series went silent" monitoring query
    (PromQL ``absent``/staleness shape; the reference only ever drops
    stale series from List, server/store.cc:342-379 — surfacing them
    is the north-star extension an on-call actually needs).

    Age is a pure integer MICROSECOND subtraction via unix_micros
    (epoch seconds as double would lose sub-second precision past
    2^53, and any division would make the rounding direction matter
    for series sampled AFTER ``now`` — negative ages are legitimate
    here, unlike List). Same single groupBy exchange as list_series.
    Output: (name, series_key, last_ts, age_us, stale).
    """
    pts = points
    if pattern:
        pts = match_variables(pts, pattern)
    now_expr = F.lit(now).cast("timestamp")
    grouped = (
        _with_key(pts)
        .groupBy("name", SERIES_KEY_COL)
        .agg(F.max("ts").alias("last_ts"))
    )
    age_us = F.unix_micros(now_expr) - F.unix_micros(F.col("last_ts"))
    return grouped.select(
        "name", SERIES_KEY_COL, "last_ts",
        age_us.alias("age_us"),
        (age_us > F.lit(int(max_age_ms) * 1000).cast("long")).alias("stale"),
    )
