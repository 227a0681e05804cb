"""Grid resampling with linear interpolation (SURVEY.md §2.3 M4/M7).

Two reference kernels exist:

- **M4, C++ ``UniformTimeSeries``** (lib/counter.cc:18-64): grid anchored
  at ``ts0 - ts0 % interval``; for each grid point g (starting at
  base+interval — the first input point is never emitted, counter.cc:21-29)
  output the linear interpolation between the inputs straddling g
  (counter.cc:45-55), or the input value exactly when an input lands on g
  (counter.cc:35-41); long gaps fill every intervening grid point from the
  same straddling pair. Because each output depends only on one
  consecutive input pair, this is expressible as PURE Spark SQL:
  lag-window → sequence() → explode — fully JVM-side, distributed,
  no Python. Validated bit-exact against the golden vector in
  lib/counter_test.cc:26-78.

- **M7, Go ``Interpolate``** (mutations/mutations.go:90-137): same grid,
  but inputs that do not cross the next pending boundary are SKIPPED
  (the straddling pair is (last boundary-crossing input, current input),
  not the adjacent pair — an artifact of the single-pass channel loop).
  Sequential state per series ⇒ Arrow-batched grouped-map kernel.
  Validated against mutations_test.go:59-77. (The reference would emit a
  duplicate when an input lands exactly on a pending boundary
  (mutations.go:117-128 emits via both the fill loop and the passthrough);
  we emit once — flagged divergence.)

- **M5 anchored Mean** (mutations.go:10-49): buckets anchored at the
  FIRST timestamp of each bucket, flushed when ``ts - first >
  duration``, stamped at the LAST input ts of the bucket, final partial
  bucket emitted. Golden: mutations_test.go:19-57.
- **M6 anchored Min/Max** (mutations.go:139-191): DIFFERENT bucketing
  from Mean in the reference — flush on ``ts >= anchor + duration``,
  output stamped at the TRIGGERING sample's ts (which is excluded from
  the flushed bucket and re-anchors the next one), and the final
  partial bucket is never emitted. See _minmax_anchored_scan.
  Data-dependent anchoring ⇒ grouped-map kernel for all three; the
  engine's declared aligned-window variants live in mutate.py.

``max_gap_interpolate`` (lib/openinstrument.proto:45-52): proto semantics
say gaps longer than N·interval are left unfilled; BOTH reference code
paths ignore the field and fill everything. We implement the proto
semantics as an optional cap (None = reference behavior).

Domain precondition: grid resamples assume NON-NEGATIVE epoch
timestamps (ts ≥ 1970). The reference's own grid math uses C/Go
truncated ``%``/``/`` (counter.cc:21, mutations.go:103), which for
negative epochs anchors the grid at the CEILING multiple — Spark/Java
``%`` reproduces that exactly, but Python/numpy floor-``%`` (the
kernels) does not, and the cell-crossing acceptance equivalence the SQL
plan is derived from breaks below zero. Metric timestamps are
epoch-positive by construction (collectors stamp at scrape time), so we
pin the real domain with a hypothesis equivalence test
(test_interpolate_sql_equals_kernel_randomized) rather than chase
reference-faithful pre-1970 behavior all three ways.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from open_instrument_spark.functions.durations import parse_duration_ms
from open_instrument_spark.model import epoch_seconds
from open_instrument_spark.operators.mutate import (
    SERIES_KEY_COL,
    _with_key,
    _with_predecessor,
)

_US = 1_000  # ms → µs


def uniform_average(points: DataFrame, interval, max_gap_interpolate: int | None = None,
                    chunk=None) -> DataFrame:
    """M4 AVERAGE resample (C++ UniformTimeSeries) as pure DataFrame ops.

    Output: one row per series per grid point in
    (base+interval .. last input ts], where base = ts0 - ts0 % interval.
    All grid arithmetic in epoch-µs longs (the reference uses ms; µs is
    its lossless refinement for our µs-precision timestamps).

    ``chunk`` (duration, e.g. "1d") bounds task size for arbitrarily
    long series (:func:`mutate._with_predecessor`) with IDENTICAL
    results: each output row depends only on one consecutive input pair
    plus the series' first timestamp.
    """
    interval_us = parse_duration_ms(interval) * _US
    pts = _with_key(points)
    t_us = (epoch_seconds("ts") * 1_000_000).cast("long")
    pts = pts.withColumn("_t", t_us)

    i = F.lit(interval_us)
    base = (F.col("_ts0") - F.col("_ts0") % i).alias("base")

    df = _with_predecessor(
        pts, "_t", {"_pt": "_t", "_pv": "dval"}, chunk, series_min={"_ts0": "_t"}
    )
    df = (
        df.filter(F.col("_pt").isNotNull() & (F.col("_t") > F.col("_pt")))
        .withColumn("_base", base)
        # smallest grid point > prev ts (grid ≡ base mod interval)
        .withColumn("_g_lo", F.col("_pt") + (i - (F.col("_pt") - F.col("_base")) % i))
        # largest grid point <= cur ts
        .withColumn("_g_hi", F.col("_t") - (F.col("_t") - F.col("_base")) % i)
    )
    if max_gap_interpolate is not None:
        # proto semantics: leave long gaps unfilled — but an input landing
        # exactly on a grid point still passes through.
        gap_ok = (F.col("_t") - F.col("_pt")) <= F.lit(max_gap_interpolate) * i
        exact_hit = F.col("_g_hi") == F.col("_t")
        df = df.withColumn(
            "_g_lo",
            F.when(gap_ok, F.col("_g_lo")).otherwise(
                # collapse the fill range: exact hit only, else empty range
                F.when(exact_hit, F.col("_g_hi")).otherwise(F.col("_g_hi") + i)
            ),
        )
    out = (
        df.filter(F.col("_g_lo") <= F.col("_g_hi"))
        .withColumn("_g", F.explode(F.sequence("_g_lo", "_g_hi", i)))
        .withColumn(
            "dval",
            F.when(F.col("_g") == F.col("_t"), F.col("dval")).otherwise(
                (F.col("dval") - F.col("_pv"))
                / (F.col("_t") - F.col("_pt")).cast("double")
                * (F.col("_g") - F.col("_pt")).cast("double")
                + F.col("_pv")
            ),
        )
        .withColumn("ts", F.timestamp_micros(F.col("_g")))
        .select("name", "labels", "ts", "dval",
                F.lit(None).cast("string").alias("sval"), SERIES_KEY_COL)
    )
    return out


# ---------------------------------------------------------------------------
# per-series recurrences, each defined once as a resumable scan
# ---------------------------------------------------------------------------
#
# ``scan(state, t, vals, interval, **params) -> (state, out_t, out_vals)``
# folds one ts-sorted chunk of a series: ``t`` int64 (epoch-µs on the
# engine's paths; the golden vectors use ms — the grid math is
# unit-agnostic, only rate's seconds conversion assumes µs), ``vals``
# float64, ``interval`` the grid/bucket width in ``t``'s unit (ignored
# by the smoothers). ``state`` is a tuple of plain Python values laid out
# as ``state_schema``, so it is also the Spark state row. Folding
# consecutive chunks with the returned state equals one scan over their
# concatenation — the rule the streaming driver
# (``streaming.recurrence``) relies on, pinned by
# test_scan_chunk_fold_equals_one_shot. The batch ``*_kernel``s are the
# scan run once from ``init(**params)`` over the whole series. Each loop
# walks the whole chunk as Python scalars (``tolist``), which is
# IEEE-identical to numpy scalar arithmetic and cheaper per step.


class Recurrence(NamedTuple):
    state_schema: str
    init: Callable[..., tuple]
    scan: Callable[..., tuple]


def _batch_kernel(rec: Recurrence):
    def kernel(ts, vals, interval, **params):
        _, out_t, out_v = rec.scan(
            rec.init(**params), np.asarray(ts, dtype=np.int64),
            np.asarray(vals, dtype=np.float64), interval, **params,
        )
        return out_t, out_v

    kernel.__doc__ = rec.scan.__doc__
    return kernel


def _arrays(out_t, out_v):
    return np.array(out_t, dtype=np.int64), np.array(out_v, dtype=np.float64)


def _uniform_scan(state, t, vals, interval, max_gap=None):
    """Reference-exact C++ UniformTimeSeries (lib/counter.cc:18-64): the
    grid is the multiples of ``interval`` and the first input is never
    emitted (counter.cc:21-29). Each later input emits the grid points
    in (prev_t, t] interpolated between the ADJACENT pair — no input is
    skipped — or its own value on an exact hit (counter.cc:35-41). An
    equal-ts input replaces the carried predecessor, as the reference
    loop does; an older one is dropped. ``max_gap`` adds the proto's
    ``max_gap_interpolate`` (lib/openinstrument.proto:45-52): a pair gap
    over max_gap·interval is left unfilled, except an exact grid hit.
    Same IEEE ops as the SQL plan (uniform_average)."""
    nxt, prev_t, prev_v = state
    out_t, out_v = [], []
    for ti, v in zip(t.tolist(), vals.tolist()):
        if prev_t is None:
            nxt = ti - ti % interval + interval
        elif ti < prev_t:
            continue
        else:
            if max_gap is not None and ti - prev_t > max_gap * interval:
                nxt = ti - ti % interval
                if nxt < ti:
                    nxt += interval
            while nxt <= ti:
                out_t.append(nxt)
                out_v.append(
                    v if nxt == ti
                    else (v - prev_v) / (ti - prev_t) * (nxt - prev_t) + prev_v
                )
                nxt += interval
        prev_t, prev_v = ti, v
    return (nxt, prev_t, prev_v), *_arrays(out_t, out_v)


def _interpolate_scan(state, t, vals, interval, max_gap=None):
    """Reference-exact Go Interpolate (mutations/mutations.go:90-137),
    minus its duplicate-emit on exact boundary hits (see module doc).
    The first input anchors the grid and passes through when on-grid
    (mutations.go:99-105); inputs that do not reach the pending grid
    point are skipped (mutations.go:112), so a late input is dropped.

    ``max_gap`` adds the proto's ``max_gap_interpolate`` semantics
    (lib/openinstrument.proto:45-52, ignored by both reference code
    paths): a gap between accepted inputs longer than max_gap·interval
    is left unfilled — except a real input landing exactly ON a grid
    point, which still passes through (it is a real value, not a fill;
    same carve-out as uniform_average's). Emission arithmetic matches
    the SQL plan bit-for-bit (prev_v + rate at pct == 1)."""
    prev_t, prev_v, pending = state
    out_t, out_v = [], []
    for ti, v in zip(t.tolist(), vals.tolist()):
        if prev_t is None:
            if ti % interval == 0:
                out_t.append(ti)
                out_v.append(v)
            prev_t, prev_v = ti - ti % interval, v
            pending = prev_t + interval
            continue
        if ti < pending:
            continue
        rate = v - prev_v
        if max_gap is not None and ti - prev_t > max_gap * interval:
            if ti % interval == 0:  # exact grid hit passes through
                out_t.append(ti)
                out_v.append(prev_v + rate)
            pending = ti - ti % interval + interval
        else:
            while pending <= ti:
                out_t.append(pending)
                out_v.append(prev_v + rate * ((pending - prev_t) / (ti - prev_t)))
                pending += interval
        if prev_t < ti:
            prev_t, prev_v = ti, v  # single emit even on exact boundary
    return (prev_t, prev_v, pending), *_arrays(out_t, out_v)


def mean_anchored_kernel(ts: np.ndarray, vals: np.ndarray, duration: int
                         ) -> tuple[np.ndarray, np.ndarray]:
    """Reference-exact Go Mean (mutations/mutations.go:10-49): buckets
    anchored at first-in-bucket ts, flushed when ts-first > duration,
    stamped at last included ts. Batch-only: the final partial bucket is
    emitted after the loop, so it is not an append-mode recurrence."""
    out_t, out_v = [], []
    if len(ts) == 0:
        return np.array(out_t, dtype=np.int64), np.array(out_v)
    first = ts[0]
    s = 0.0
    n = 0
    last = ts[0]
    for t, v in zip(ts, vals):
        if t - first > duration and n > 0:
            out_t.append(last)
            out_v.append(s / n)
            first, s, n = t, 0.0, 0
        s += v
        n += 1
        last = t
    if n:
        out_t.append(last)
        out_v.append(s / n)
    return np.array(out_t, dtype=np.int64), np.array(out_v)


def _minmax_anchored_scan(state, t, vals, duration, is_min):
    """Go Min/Max (mutations.go:139-191). NOT the same bucketing as
    Mean — three deliberate reference behaviors, each visible in the Go
    loop: (1) flush when ``t >= anchor + duration`` (Mean uses strict
    ``>``); (2) the output is stamped at the TRIGGERING sample's
    timestamp, and that sample is excluded from the flushed bucket —
    it re-anchors and seeds the next bucket; (3) the final partial
    bucket is never emitted (Go flushes only on arrival of a
    triggering sample, and there is no post-loop flush like Mean's),
    which is what makes it append-mode streamable."""
    anchor, acc = state
    out_t, out_v = [], []
    for ti, v in zip(t.tolist(), vals.tolist()):
        if anchor is None:
            anchor, acc = ti, v
        elif ti >= anchor + duration:
            out_t.append(ti)
            out_v.append(acc)
            anchor, acc = ti, v
        elif v < acc if is_min else v > acc:
            acc = v
    return (anchor, acc), *_arrays(out_t, out_v)


def _min_anchored_scan(state, t, vals, duration):
    return _minmax_anchored_scan(state, t, vals, duration, True)


def _max_anchored_scan(state, t, vals, duration):
    return _minmax_anchored_scan(state, t, vals, duration, False)


def _ewma_scan(state, t, vals, interval, alpha: float = 0.25):
    """Exponentially weighted moving average: y₀ = x₀,
    yᵢ = α·xᵢ + (1-α)·yᵢ₋₁ — the classic smoothing mutation monitoring
    UIs apply before display (not in the reference; north-star TSDB
    extension). With α chosen binary-exact (default 1/4) every step is
    the same two multiplies + add in any IEEE engine, so the
    recursive-CTE oracle matches BIT-EXACTLY — no rounding needed."""
    (y,) = state
    beta = 1.0 - alpha
    out = []
    for x in vals.tolist():
        y = x if y is None else alpha * x + beta * y
        out.append(y)
    return (y,), t, np.array(out, dtype=np.float64)


def _holt_scan(state, t, vals, interval, alpha: float = 0.25,
               beta: float = 0.5):
    """Holt linear (double exponential) smoothing per series — the
    level+trend forecaster one step up from EWMA (Holt 1957, public):

      l₀ = x₀, b₀ = 0
      lᵢ = α·xᵢ + (1-α)·(lᵢ₋₁ + bᵢ₋₁)
      bᵢ = β·(lᵢ - lᵢ₋₁) + (1-β)·bᵢ₋₁

    Output per point is the ONE-STEP FORECAST lᵢ + bᵢ (the value the
    model predicts for the next sample — the quantity monitoring
    anomaly alerts compare against). Not in the reference; north-star
    TSDB extension. With α=1/4, β=1/2 binary-exact every step is the
    same IEEE multiplies + adds in any engine, so the recursive-CTE
    oracle matches BIT-EXACTLY."""
    l, b = state
    out = []
    for x in vals.tolist():
        if l is None:
            l, b = x, 0.0
        else:
            lp = l
            l = alpha * x + (1.0 - alpha) * (l + b)
            b = beta * (l - lp) + (1.0 - beta) * b
        out.append(l + b)
    return (l, b), t, np.array(out, dtype=np.float64)


def _holt_winters_scan(state, t, vals, interval, alpha: float = 0.25,
                       beta: float = 0.5, gamma: float = 0.25,
                       period: int = 24):
    """Holt-Winters ADDITIVE seasonal smoothing per series — the
    seasonal rung above Holt (Winters 1960, public): level + trend +
    a ``period``-slot seasonal component updated cyclically,

      l₀ = x₀, b₀ = 0, s = [0]·period            (zero seasonal init)
      lᵢ = α·(xᵢ - s[i mod p]) + (1-α)·(lᵢ₋₁ + bᵢ₋₁)
      bᵢ = β·(lᵢ - lᵢ₋₁) + (1-β)·bᵢ₋₁
      s[i mod p] ← γ·(xᵢ - lᵢ) + (1-γ)·s[i mod p]

    Output per point is the ONE-STEP FORECAST lᵢ + bᵢ + s[(i+1) mod p]
    (next step's seasonal slot, read AFTER this step's update — it was
    written p-1 steps ago, or is still the 0 init inside the first
    season). The zero-init convention (vs. a first-season average
    warm-up) keeps every step pure IEEE multiply/add so, with
    binary-exact α=1/4, β=1/2, γ=1/4, the recursive-CTE oracle —
    which carries the seasonal slots as a LIST column — matches
    BIT-EXACTLY. State carries the sample count i. Not in the
    reference; north-star TSDB extension."""
    n, l, b, sl = state
    sl = list(sl)
    out = []
    for x in vals.tolist():
        ph = n % period
        if n == 0:
            l, b = x, 0.0
        else:
            sp = sl[ph]
            lp = l
            l = alpha * (x - sp) + (1.0 - alpha) * (l + b)
            b = beta * (l - lp) + (1.0 - beta) * b
            sl[ph] = gamma * (x - l) + (1.0 - gamma) * sp
        n += 1
        out.append(l + b + sl[n % period])
    return (n, l, b, sl), t, np.array(out, dtype=np.float64)


def _cusum_scan(state, t, vals, interval, slack: float = 0.0):
    """One-sided (positive) CUSUM change detector per series (Page
    1954, public) — the sequential drift alarm one rung up from
    thresholding a z-score:

      c₀ = 0,  cᵢ = max(0, cᵢ₋₁ + (xᵢ - x₀ - slack))

    with the series' FIRST value as the reference level (the
    "in-control" mean a fresh monitor observes) and ``slack`` the
    allowance k. The statistic accumulates only sustained upward
    drift; a single spike decays the next step. All ops are one IEEE
    subtract/add/max per step, so with a binary-exact slack the
    recursive-CTE oracle matches BIT-EXACTLY. The clamp maps -0.0 (and
    NaN) to 0.0, so engines cannot disagree on a signed zero. Not in
    the reference; north-star TSDB extension."""
    ref, c = state
    out = []
    for x in vals.tolist():
        if ref is None:
            ref = x + slack
        c += x - ref
        if not c > 0.0:
            c = 0.0
        out.append(c)
    return (ref, c), t, np.array(out, dtype=np.float64)


def _rate_scan(state, t, vals, interval, signed: bool = False):
    """M1/M2 RATE, (v - pv) / (t - pt) per second, negatives dropped
    unless ``signed`` (counter-reset suppression, server/store.cc:
    301-318). ``t`` must be epoch-µs: seconds are ``µs / 1e6``, the
    same IEEE division Spark's timestamp→double cast performs, so a
    rate equals the batch SQL plan's (``mutate.rate``) bit-for-bit. An
    equal-ts input replaces the carried predecessor (the last equal-ts
    row is the batch lag's predecessor too) and emits nothing; an older
    one is dropped, as the batch operator never pairs backwards."""
    last_t, last_v = state
    out_t, out_v = [], []
    for ti, v in zip(t.tolist(), vals.tolist()):
        if last_t is not None and ti > last_t:
            r = (v - last_v) / (ti / 1e6 - last_t / 1e6)
            if signed or r >= 0:
                out_t.append(ti)
                out_v.append(r)
        if last_t is None or ti >= last_t:
            last_t, last_v = ti, v
    return (last_t, last_v), *_arrays(out_t, out_v)


def _fresh(*state):
    return lambda **_params: state


RECURRENCES: dict[str, Recurrence] = {
    "ewma": Recurrence("y double", _fresh(None), _ewma_scan),
    "holt": Recurrence("l double, b double", _fresh(None, 0.0), _holt_scan),
    "holt_winters": Recurrence(
        "n long, l double, b double, sl array<double>",
        lambda period=24, **_params: (0, 0.0, 0.0, [0.0] * period),
        _holt_winters_scan,
    ),
    "cusum": Recurrence("ref double, c double", _fresh(None, 0.0), _cusum_scan),
    "min_anchored": Recurrence(
        "anchor_us long, acc double", _fresh(None, 0.0), _min_anchored_scan
    ),
    "max_anchored": Recurrence(
        "anchor_us long, acc double", _fresh(None, 0.0), _max_anchored_scan
    ),
    "interpolate": Recurrence(
        "prev_us long, prev_v double, pending_us long",
        _fresh(None, 0.0, 0), _interpolate_scan,
    ),
    "uniform_average": Recurrence(
        "next_us long, prev_us long, prev_v double",
        _fresh(None, None, 0.0), _uniform_scan,
    ),
    "rate": Recurrence("last_us long, last_v double", _fresh(None, None), _rate_scan),
}

uniform_series_kernel = _batch_kernel(RECURRENCES["uniform_average"])
interpolate_kernel = _batch_kernel(RECURRENCES["interpolate"])
min_anchored_kernel = _batch_kernel(RECURRENCES["min_anchored"])
max_anchored_kernel = _batch_kernel(RECURRENCES["max_anchored"])
ewma_kernel = _batch_kernel(RECURRENCES["ewma"])
holt_kernel = _batch_kernel(RECURRENCES["holt"])
holt_winters_kernel = _batch_kernel(RECURRENCES["holt_winters"])
cusum_kernel = _batch_kernel(RECURRENCES["cusum"])


# ---------------------------------------------------------------------------
# grouped-map wrappers (Arrow-batched; one group = one series)
# ---------------------------------------------------------------------------

_OUT_SCHEMA = "series_key string, ts timestamp, dval double"

# rate's batch path is the SQL lag plan (mutate.rate); its scan serves
# only the stream
_KERNELS = {
    "ewma": ewma_kernel,
    "holt": holt_kernel,
    "holt_winters": holt_winters_kernel,
    "cusum": cusum_kernel,
    "interpolate": interpolate_kernel,
    "mean_anchored": mean_anchored_kernel,
    "min_anchored": min_anchored_kernel,
    "max_anchored": max_anchored_kernel,
    "uniform_average": uniform_series_kernel,
}


def apply_kernel(points: DataFrame, kind: str, interval,
                 n_buckets: int | None = None,
                 restore_labels: bool = True,
                 kernel_kwargs: dict | None = None) -> DataFrame:
    """Run a per-series kernel via applyInPandas. Grid math in epoch-µs.

    Scale note: grouping directly on series_key makes one Arrow batch per
    series — with metric-fleet cardinalities (10³-10⁶ series of modest
    size) the per-group Python/pandas overhead dominates the kernel. We
    group on a HASH BUCKET of the key instead (default 4× parallelism)
    and loop over the bucket's series inside one pandas batch: same
    results, per-batch overhead amortized over many series. A giant
    series still occupies a single bucket — no worse than the per-series
    grouping it replaces.
    """
    kernel = _KERNELS[kind]
    if kernel_kwargs:
        import functools

        kernel = functools.partial(kernel, **kernel_kwargs)
    interval_us = parse_duration_ms(interval) * _US
    keyed = _with_key(points)
    pts = keyed.select(
        SERIES_KEY_COL, (epoch_seconds("ts") * 1_000_000).cast("long").alias("_t"), "dval"
    )
    if n_buckets is None:
        # Scale buckets with the DATA, not just core count: per-bucket
        # pandas memory ≈ input_size / n_buckets, so pinning buckets to
        # 4×parallelism alone would grow per-task memory linearly with
        # input. One bucket per ~128 MB keeps a batch around one split's
        # volume; the core-count floor keeps small inputs parallel.
        # Catalyst's optimized-plan size estimate is the right probe: it
        # reflects partition pruning / pushed filters (inputFiles() does
        # not), works on any filesystem (a local getsize probe does not),
        # and costs no per-file I/O (rdd.getNumPartitions would pay ~1 s
        # of plan conversion). Unknown stats come back astronomically
        # large — treat anything over 1 PiB as unknown.
        sc = points.sparkSession.sparkContext
        n_buckets = sc.defaultParallelism * 4
        try:
            size = int(
                points._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Py4JJavaError:  # no estimate: keep the core-count floor
            size = 0
        if 0 < size < (1 << 50):
            n_buckets = max(n_buckets, -(-size // (128 << 20)))
    pts = pts.withColumn(
        "_b", F.pmod(F.xxhash64(SERIES_KEY_COL), F.lit(n_buckets))
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        # Accumulate raw numpy per series; build ONE DataFrame per batch
        # (per-series DataFrame/to_datetime construction dominates
        # otherwise — it is pandas-object overhead, not kernel time).
        keys: list[np.ndarray] = []
        t_parts: list[np.ndarray] = []
        v_parts: list[np.ndarray] = []
        # one batch-wide sort; groupby preserves intra-group row order,
        # so each group arrives ts-sorted (vs one small sort per series).
        # dval is a tie-break so equal-ts points walk in the same order
        # as the streaming driver (streaming.recurrence) and the
        # recursive-CTE oracles (same pin aggregate_anchored carries).
        pdf = pdf.sort_values(["series_key", "_t", "dval"])
        for sk, g in pdf.groupby("series_key", sort=False):
            out_t, out_v = kernel(
                g["_t"].to_numpy(np.int64), g["dval"].to_numpy(np.float64), interval_us
            )
            if len(out_t):
                keys.append(np.full(len(out_t), sk, dtype=object))
                t_parts.append(out_t)
                v_parts.append(np.asarray(out_v, dtype=np.float64))
        if not t_parts:
            return pd.DataFrame(
                {"series_key": pd.Series([], dtype=str),
                 "ts": pd.Series([], dtype="datetime64[ns]"),
                 "dval": pd.Series([], dtype=float)}
            )
        return pd.DataFrame(
            {
                "series_key": np.concatenate(keys),
                "ts": pd.to_datetime(np.concatenate(t_parts), unit="us"),
                "dval": np.concatenate(v_parts),
            }
        )

    # Explicit repartition-by-num, NOT a bare groupBy shuffle: AQE
    # coalesces shuffle partitions by BYTES, and a per-series kernel
    # stage is Python-compute-bound at ~KB/row — at sf0.1 the 128-bucket
    # exchange is ~4 MB so AQE was coalescing it to 3 tasks, serializing
    # the whole kernel onto 3 cores (and letting any host contention
    # land on a 3-wide straggler stage — the r8 bench-tail cause). A
    # user-specified partition count is exempt from AQE coalescing, and
    # hash(_b) partitioning satisfies the groupBy's clustering
    # requirement so no second exchange is added (plan-asserted).
    out = (
        pts.repartition(n_buckets, "_b")
        .groupBy("_b")
        .applyInPandas(run, _OUT_SCHEMA)
    )
    return _restore_points_schema(out, keyed, restore_labels)


def _restore_points_schema(out: DataFrame, keyed: DataFrame,
                           restore_labels: bool) -> DataFrame:
    """Restore the full points schema so resamples compose with every
    other operator (retention bands, pipeline chaining into _bucketed,
    ...). name comes EXACTLY from the canonical key (prefix before '{');
    labels come from a series-cardinality dim joined back on the key —
    nulling them instead would silently merge distinct series on any
    later series_key recomputation (e.g. a retention rewrite).
    restore_labels=False skips the dim join for consumers that project
    labels away (the join is correctness-critical when output is
    WRITTEN BACK as points, e.g. retention bands — see test
    test_kernel_retention_preserves_series_identity)."""
    if restore_labels:
        dim = keyed.select(SERIES_KEY_COL, "labels").dropDuplicates([SERIES_KEY_COL])
        out = out.join(dim, SERIES_KEY_COL, "left")
    else:
        out = out.withColumn("labels", F.lit(None).cast("map<string,string>"))
    return out.select(
        F.regexp_extract(SERIES_KEY_COL, r"^([^{]*)", 1).alias("name"),
        "labels",
        "ts",
        "dval",
        F.lit(None).cast("string").alias("sval"),
        SERIES_KEY_COL,
    )


def _interpolate_sql(points: DataFrame, interval, chunk=None,
                     max_gap_interpolate: int | None = None,
                     restore_labels: bool = True) -> DataFrame:
    """M7 Go Interpolate (mutations/mutations.go:90-137) as PURE Spark
    SQL — no Python on the data path.

    Derivation (why the single-pass channel loop is expressible
    declaratively): the kernel's state after any prefix is (prev_t,
    prev_v) of the last ACCEPTED input, with pending = the smallest grid
    point (grid = absolute multiples of interval) > prev_t. An input is
    accepted iff it reaches pending, i.e. iff its grid CELL
    (cell(t) = t - t % interval) exceeds the previous input's cell —
    every input between two accepted ones shares the accepted one's
    cell, so acceptance is a pure lag condition. The interpolation pair
    for an accepted input is therefore (first input of the previous
    input's cell) — except when that cell is the series' FIRST cell,
    where the kernel anchors at (ts0 - ts0 % interval, vals0)
    (mutations.go:99-105). Emitted grid points for an accepted input t:
    (prev cell .. cell(t)], value = prev_v + (v - prev_v) *
    ((g - prev_t) / (t - prev_t)) — bit-identical IEEE ops to the
    kernel. An on-grid FIRST input additionally passes through
    (mutations.go:100-102).

    Plan: the first-of-cell pair rides along as a ``min(struct(_t,
    dval))`` window over (series, cell) — the lag of that struct IS the
    previous cell's first input, because the immediately preceding row
    always belongs to the previous cell — so the per-row state is one
    (series, cell) window plus the series predecessor
    (:func:`mutate._with_predecessor`, which also bounds task size when
    ``chunk`` is set), with no aggregate joined back.
    Validated row-identical to interpolate_kernel (golden vectors +
    whole-table equivalence tests)."""
    interval_us = parse_duration_ms(interval) * _US
    i = F.lit(interval_us)
    keyed = _with_key(points)
    pts_base = (
        keyed.withColumn("_t", (epoch_seconds("ts") * 1_000_000).cast("long"))
        .withColumn("_cell", F.col("_t") - F.col("_t") % i)
    )
    # first input (t, dval) of the row's OWN cell; its lag over the
    # series order = first input of the PREVIOUS row's cell — exactly
    # the interpolation predecessor the kernel tracks. min(struct) is
    # ordered by _t first (deterministic even on duplicate timestamps).
    wcell = Window.partitionBy(SERIES_KEY_COL, "_cell")
    pts = pts_base.withColumn(
        "_f", F.min(F.struct(F.col("_t"), F.col("dval"))).over(wcell)
    )
    df = _with_predecessor(
        pts, "_t", {"_pcell": "_cell", "_pf": "_f"}, chunk, series_min={"_c0": "_cell"}
    )
    accepted = (
        df.filter(F.col("_pcell").isNotNull() & (F.col("_cell") > F.col("_pcell")))
        .withColumn(
            "_pt",
            F.when(F.col("_pcell") == F.col("_c0"), F.col("_pcell")).otherwise(
                F.col("_pf._t")
            ),
        )
        .withColumn("_pv", F.col("_pf.dval"))
    )
    if max_gap_interpolate is not None:
        # proto max_gap_interpolate (lib/openinstrument.proto:45-52):
        # a gap between accepted inputs longer than N·interval is left
        # unfilled — but an accepted input landing exactly ON a grid
        # point still passes through (real value, not a fill; the
        # formula at _g == _t degenerates to prev_v + rate, matching
        # interpolate_kernel bit-for-bit).
        gap_ok = (F.col("_t") - F.col("_pt")) <= F.lit(max_gap_interpolate) * i
        exact_hit = F.col("_cell") == F.col("_t")
        accepted = accepted.withColumn(
            "_g_lo",
            F.when(gap_ok, F.col("_pcell") + i).otherwise(
                F.when(exact_hit, F.col("_cell")).otherwise(F.col("_cell") + i)
            ),
        ).filter(F.col("_g_lo") <= F.col("_cell"))
    else:
        accepted = accepted.withColumn("_g_lo", F.col("_pcell") + i)
    accepted = (
        accepted
        .withColumn("_g", F.explode(F.sequence("_g_lo", "_cell", i)))
        .select(
            SERIES_KEY_COL,
            F.timestamp_micros(F.col("_g")).alias("ts"),
            (
                F.col("_pv")
                + (F.col("dval") - F.col("_pv"))
                * (
                    (F.col("_g") - F.col("_pt")).cast("double")
                    / (F.col("_t") - F.col("_pt")).cast("double")
                )
            ).alias("dval"),
        )
    )
    # on-grid first input passes through (mutations.go:100-102) — derived
    # from a series-cardinality min_by over the PRE-WINDOW projection,
    # NOT by reusing the window subtree (which the union would duplicate
    # into a second full pass)
    first_rows = pts_base.groupBy(SERIES_KEY_COL).agg(
        F.min_by(
            F.struct(F.col("ts"), F.col("dval"), F.col("_t")), "_t"
        ).alias("_fr")
    )
    passthrough = first_rows.filter(F.col("_fr._t") % i == 0).select(
        SERIES_KEY_COL,
        F.col("_fr.ts").alias("ts"),
        F.col("_fr.dval").alias("dval"),
    )
    out = passthrough.unionByName(accepted)
    return _restore_points_schema(out, keyed, restore_labels)


def interpolate(points: DataFrame, interval, chunk=None, impl: str = "sql",
                max_gap_interpolate: int | None = None, **kw) -> DataFrame:
    """M7 NONE+sample_frequency (Go Interpolate).

    Default ``impl="sql"`` runs the pure-SQL plan (:func:`_interpolate_sql`
    — distributed, codegen'd, ``chunk``-boundable); ``impl="kernel"``
    keeps the reference-shaped Arrow grouped-map kernel (golden-tested,
    used as the equivalence cross-check). ``max_gap_interpolate`` caps
    gap filling per the proto semantics (lib/openinstrument.proto:45-52)
    on BOTH impls — the reference's own code paths ignore the field."""
    if impl == "kernel":
        if chunk is not None:
            raise ValueError("chunk= requires impl='sql'")
        return apply_kernel(
            points, "interpolate", interval,
            kernel_kwargs=(
                {"max_gap": max_gap_interpolate}
                if max_gap_interpolate is not None else None
            ),
            **kw,
        )
    return _interpolate_sql(
        points, interval, chunk=chunk,
        max_gap_interpolate=max_gap_interpolate, **kw
    )


def mean_anchored(points: DataFrame, interval, **kw) -> DataFrame:
    """M5 reference-anchored Mean (golden-parity variant)."""
    return apply_kernel(points, "mean_anchored", interval, **kw)


def min_anchored(points: DataFrame, interval, **kw) -> DataFrame:
    """M6 reference-anchored Min (mutations/mutations.go:139-164)."""
    return apply_kernel(points, "min_anchored", interval, **kw)


def max_anchored(points: DataFrame, interval, **kw) -> DataFrame:
    """M6 reference-anchored Max (mutations/mutations.go:166-191)."""
    return apply_kernel(points, "max_anchored", interval, **kw)


def ewma(points: DataFrame, alpha: float = 0.25, **kw) -> DataFrame:
    """EWMA smoothing per series (see ewma_kernel); α defaults to a
    binary-exact 1/4 so results are engine-bit-exact."""
    return apply_kernel(points, "ewma", "1s", kernel_kwargs={"alpha": alpha}, **kw)


def holt(points: DataFrame, alpha: float = 0.25, beta: float = 0.5,
         **kw) -> DataFrame:
    """Holt level+trend one-step forecast per series (see holt_kernel);
    binary-exact α=1/4, β=1/2 defaults keep it engine-bit-exact."""
    return apply_kernel(points, "holt", "1s",
                        kernel_kwargs={"alpha": alpha, "beta": beta}, **kw)


def cusum(points: DataFrame, slack: float = 0.0, **kw) -> DataFrame:
    """One-sided positive CUSUM drift statistic per series (see
    cusum_kernel); binary-exact slack keeps it engine-bit-exact."""
    return apply_kernel(points, "cusum", "1s",
                        kernel_kwargs={"slack": slack}, **kw)


def holt_winters(points: DataFrame, alpha: float = 0.25, beta: float = 0.5,
                 gamma: float = 0.25, period: int = 24, **kw) -> DataFrame:
    """Holt-Winters additive seasonal one-step forecast per series (see
    holt_winters_kernel); binary-exact α=1/4, β=1/2, γ=1/4 defaults
    keep it engine-bit-exact; ``period`` in samples."""
    return apply_kernel(points, "holt_winters", "1s",
                        kernel_kwargs={"alpha": alpha, "beta": beta,
                                       "gamma": gamma, "period": period},
                        **kw)
