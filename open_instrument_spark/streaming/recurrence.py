"""Per-key state over a points stream.

:func:`_run` is the package's one ``applyInPandasWithState`` runner for
state that never times out: per key and micro-batch it sorts the rows,
folds them through a ``step`` from the carried state row, stores the
new state and emits what the step returns. Every public function here
is one such step:

- the nine per-point recurrences of ``operators.resample.RECURRENCES``
  (rate, interpolate, uniform, min/max anchored, ewma, holt,
  holt_winters, cusum) — the same resumable scan the batch kernels run
  once over a whole series, so each grid point, bucket or rate is
  emitted once, when the input that closes it arrives;
- ``counter_stats_stream`` and ``increase_stream``, which emit running
  per-series (per-window) totals;
- ``alert_stream``, which emits every sample's alert state;
- ``rle_runs_stream``, the W3 RLE writer, which emits closed runs;
- ``slo_burn_stream``, keyed by long window rather than series.

Cumulative output equals the batch operator on the same rows (the
batch-vs-stream tests in tests/test_ingest_streaming.py): bit for bit
for the per-row outputs, and as the last emitted row per key for the
running totals. ``streaming.anchored_state`` keeps its own emitter: its
group state closes by sentinel or timeout and is then removed.

Ordering contract: rows are sorted within each micro-batch (by
(ts, dval) unless a step says otherwise) and state links batches in
arrival order. A sample older than the carried state is handled as the
reference's single-pass loop would; fully late-tolerant results belong
to the batch/compaction pass over the store. NULL samples are filtered
before the step — a NULL would poison the carried state with NaN —
and the counter steps filter NaN too. State is one row per live key;
NoTimeout: a key's state lives as long as the query. Input needs
``series_key`` (``model.with_series_key``). Grid resamples assume
non-negative epoch timestamps (DIVERGENCES D14). The state schema
strings are the checkpoint contract: changing one breaks restarts from
checkpoints written under the old one.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from open_instrument_spark.functions.durations import parse_duration_ms
from open_instrument_spark.operators.resample import RECURRENCES
from open_instrument_spark.plans.alerts import _OPS

OUT_SCHEMA = "series_key string, ts timestamp, dval double"
_POINT_COLS = ["series_key", "ts", "dval"]
_NUMERIC = "dval IS NOT NULL"
_NUMERIC_NOT_NAN = "dval IS NOT NULL AND NOT isnan(dval)"
_TS_DVAL = ["ts", "dval"]


def _run(stream: DataFrame, step, state_schema: str, init,
         out_schema: str = OUT_SCHEMA, *, keys=("series_key",),
         cols=_POINT_COLS, where: str | None = _NUMERIC,
         sort=_TS_DVAL) -> DataFrame:
    """Keep the rows of ``stream`` matching ``where`` (None keeps all),
    select ``cols`` and group by ``keys``. Per key and micro-batch,
    mergesort the rows by ``sort`` and call ``step(key, rows, state) ->
    (state, out)`` with the stored state tuple (``init`` for a new key);
    store the returned state and emit ``out`` unless it is None.
    Append mode, NoTimeout."""

    def emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs)).sort_values(sort, kind="mergesort")
        new_state, out = step(key, rows, state.get if state.exists else init)
        state.update(new_state)
        if out is not None:
            yield out

    src = stream if where is None else stream.where(where)
    return src.select(*cols).groupBy(*keys).applyInPandasWithState(
        emit,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _us(ts: pd.Series) -> np.ndarray:
    return ts.to_numpy("datetime64[us]").view(np.int64)


# ---- the nine per-point recurrences -----------------------------------------

def _recurrence(points_stream: DataFrame, kind: str, interval=None,
                **params) -> DataFrame:
    rec = RECURRENCES[kind]
    interval_us = None if interval is None else parse_duration_ms(interval) * 1000

    def step(key, rows, state):
        state, out_t, out_v = rec.scan(
            state, _us(rows["ts"]), rows["dval"].to_numpy(np.float64),
            interval_us, **params,
        )
        if not len(out_t):
            return state, None
        return state, pd.DataFrame({
            "series_key": key[0],
            "ts": pd.to_datetime(out_t, unit="us"),
            "dval": out_v,
        })

    return _run(points_stream, step, rec.state_schema, rec.init(**params))


def rate_stream(points_stream: DataFrame, signed: bool = False) -> DataFrame:
    """Per-series rate (M1; M2 with ``signed=True``, which keeps
    negative rates)."""
    return _recurrence(points_stream, "rate", signed=signed)


def interpolate_stream(points_stream: DataFrame, interval,
                       max_gap_interpolate: int | None = None) -> DataFrame:
    """Per-series M7 grid interpolation (Go Interpolate), incl. the
    proto's ``max_gap_interpolate`` cap."""
    return _recurrence(points_stream, "interpolate", interval,
                       max_gap=max_gap_interpolate)


def uniform_stream(points_stream: DataFrame, interval,
                   max_gap_interpolate: int | None = None) -> DataFrame:
    """Per-series M4 grid resample (C++ UniformTimeSeries), incl. the
    proto's ``max_gap_interpolate`` cap."""
    return _recurrence(points_stream, "uniform_average", interval,
                       max_gap=max_gap_interpolate)


def min_anchored_stream(points_stream: DataFrame, duration) -> DataFrame:
    """Go Min (mutations.go:139-164); the never-emitted final partial
    bucket makes it exactly append-mode."""
    return _recurrence(points_stream, "min_anchored", duration)


def max_anchored_stream(points_stream: DataFrame, duration) -> DataFrame:
    """Go Max (mutations.go:166-191); see :func:`min_anchored_stream`."""
    return _recurrence(points_stream, "max_anchored", duration)


def ewma_stream(points_stream: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Per-series EWMA; one state double per series."""
    return _recurrence(points_stream, "ewma", alpha=alpha)


def holt_stream(points_stream: DataFrame, alpha: float = 0.25,
                beta: float = 0.5) -> DataFrame:
    """Per-series Holt one-step forecast; state (level, trend)."""
    return _recurrence(points_stream, "holt", alpha=alpha, beta=beta)


def holt_winters_stream(points_stream: DataFrame, alpha: float = 0.25,
                        beta: float = 0.5, gamma: float = 0.25,
                        period: int = 24) -> DataFrame:
    """Per-series Holt-Winters additive one-step forecast; state is the
    sample count, level, trend and ``period`` seasonal slots."""
    return _recurrence(points_stream, "holt_winters", alpha=alpha, beta=beta,
                       gamma=gamma, period=period)


def cusum_stream(points_stream: DataFrame, slack: float = 0.0) -> DataFrame:
    """Per-series one-sided CUSUM; state (reference level, statistic)."""
    return _recurrence(points_stream, "cusum", slack=slack)


# ---- counter health (trend.counter_stats) -----------------------------------

COUNTER_OUT_SCHEMA = ("series_key string, n_samples long, resets long, "
                      "changes long")
COUNTER_STATE_SCHEMA = "last double, has_last boolean, n long, r long, c long"
COUNTER_INIT = (0.0, False, 0, 0, 0)


def _counter_step(key, rows, state):
    last, has_last, n, r, c = state
    for x in rows["dval"].tolist():
        n += 1
        if has_last:
            if x < last:
                r += 1
            if x != last:
                c += 1
        last, has_last = x, True
    if not len(rows):
        return state, None
    return (last, has_last, n, r, c), pd.DataFrame(
        {"series_key": [key[0]], "n_samples": [n], "resets": [r],
         "changes": [c]}
    )


def counter_stats_stream(points_stream: DataFrame) -> DataFrame:
    """Per-series running resets/changes totals (``trend.counter_stats``);
    append-mode, one summary row per touched series per micro-batch, so
    the last row per series on a closed stream equals the batch
    aggregate exactly (integers). NaN is filtered like NULL, as in the
    batch operator: Python float NaN comparisons (x != last → True,
    x < last → False) disagree with Spark SQL NaN ordering, so NaN
    samples are out of contract on both sides."""
    return _run(points_stream, _counter_step, COUNTER_STATE_SCHEMA,
                COUNTER_INIT, COUNTER_OUT_SCHEMA, where=_NUMERIC_NOT_NAN)


# ---- windowed counter growth (trend.increase) -------------------------------

INCREASE_OUT_SCHEMA = ("series_key string, ts timestamp, n_samples long, "
                       "increase double")
INCREASE_STATE_SCHEMA = ("win long, last double, has_last boolean, n long, "
                         "s double")
INCREASE_INIT = (-1, 0.0, False, 0, 0.0)


def _increase_step(win_us: int):
    def step(key, rows, state):
        win, last, has_last, n, s = state
        touched: dict[int, tuple[int, float]] = {}
        fresh = 0  # rows landed in `win` by this call (0 for the
        # state-carried window, so a batch that immediately opens a new
        # window does not re-emit the previous window's final row)
        for t, x in zip(_us(rows["ts"]).tolist(), rows["dval"].tolist()):
            w = t // win_us * win_us
            if w != win:
                if win >= 0 and fresh:
                    touched[win] = (n, s)
                win, has_last, n, s, fresh = w, False, 0, 0.0, 0
            n += 1
            fresh += 1
            if has_last:
                s += (x - last) if x >= last else x
            last, has_last = x, True
        if not len(rows):
            return state, None
        touched[win] = (n, s)
        return (win, last, has_last, n, s), pd.DataFrame({
            "series_key": key[0],
            "ts": pd.to_datetime(list(touched), unit="us"),
            "n_samples": [v[0] for v in touched.values()],
            "increase": [round(v[1], 6) for v in touched.values()],
        })

    return step


def increase_stream(points_stream: DataFrame,
                    interval_ms: int = 86_400_000) -> DataFrame:
    """Per-(series, window) running reset-corrected counter growth
    (``trend.increase``); append-mode, one summary row per touched
    (series, window) per micro-batch, so the last row per (series,
    window) on a closed stream equals the batch aggregate (sum rounded
    6 dp on both sides). Windows are epoch-aligned and tumbling; the
    first sample of each (series, window) contributes nothing, a growth
    step adds ``v − prev`` and a reset adds ``v`` — the batch kernel's
    lag partitioned by (series, window). Under in-order arrival a
    series' windows are visited monotonically, so state tracks only the
    newest window. NaN is filtered like NULL (``counter_stats_stream``)."""
    return _run(points_stream, _increase_step(interval_ms * 1000),
                INCREASE_STATE_SCHEMA, INCREASE_INIT, INCREASE_OUT_SCHEMA,
                where=_NUMERIC_NOT_NAN)


# ---- alert states (plans.alerts.classify_states) ----------------------------

ALERT_OUT_SCHEMA = "series_key string, ts timestamp, dval double, state string"
ALERT_STATE_SCHEMA = "run_start long"
ALERT_INIT = (-1,)


def _alert_step(condition: str, threshold: float, for_us: int):
    op = _OPS[condition]

    def step(key, rows, state):
        (run_start,) = state
        out_s = []
        for t, x in zip(_us(rows["ts"]).tolist(), rows["dval"].tolist()):
            if op(x, threshold):
                if run_start < 0:
                    run_start = t
                out_s.append("firing" if t - run_start >= for_us else "pending")
            else:
                run_start = -1
                out_s.append("inactive")
        if not out_s:
            return state, None
        return (run_start,), pd.DataFrame({
            "series_key": key[0], "ts": rows["ts"].to_numpy(),
            "dval": rows["dval"].to_numpy(), "state": out_s,
        })

    return step


def alert_stream(points_stream: DataFrame, condition: str = ">",
                 threshold: float = 0.0,
                 for_duration="0s") -> DataFrame:
    """Per-series streaming alert states (``plans.alerts.classify_states``);
    append-mode, every sample emits its state. State is the current
    breach run's start µs (-1 when not in breach), so a run spanning a
    micro-batch boundary escalates pending → firing at the same sample
    as the batch classification. ``condition`` is a plain float
    comparison, identical in Python and SQL."""
    if condition not in _OPS:
        raise ValueError(f"condition must be one of {sorted(_OPS)}")
    for_us = parse_duration_ms(for_duration) * 1000
    return _run(points_stream, _alert_step(condition, threshold, for_us),
                ALERT_STATE_SCHEMA, ALERT_INIT, ALERT_OUT_SCHEMA)


# ---- W3 RLE writer ----------------------------------------------------------

RUNS_SCHEMA = (
    "series_key string, dval double, sval string, ts timestamp, "
    "end_ts timestamp, run_len int"
)
RLE_STATE_SCHEMA = "dval double, sval string, start_us long, end_us long, n int"
RLE_INIT = (None, None, 0, 0, 0)  # n == 0: no open run


def _norm(x: Any) -> Any:
    """NULL-normalize a sample value: parquet/Arrow nulls surface as NaN
    (doubles) or None (strings); both map to None so equality is
    eqNullSafe-shaped."""
    return None if x is None or (isinstance(x, float) and pd.isna(x)) else x


def _rle_step(key, rows, state):
    dv, sv, start_us, end_us, n = state
    cur = (_norm(dv), _norm(sv))
    closed: list[tuple[Any, Any, int, int, int]] = []
    for us, dval, sval in zip(_us(rows["ts"]).tolist(), rows["dval"].tolist(),
                              rows["sval"].tolist()):
        val = (_norm(dval), _norm(sval))
        if n and val == cur:
            end_us, n = us, n + 1
        else:
            if n:
                closed.append((*cur, start_us, end_us, n))
            cur, start_us, end_us, n = val, us, us, 1
    state = (cur[0], cur[1], start_us, end_us, n)
    if not closed:
        return state, None
    return state, pd.DataFrame({
        "series_key": key[0],
        "dval": [c[0] for c in closed],
        "sval": [c[1] for c in closed],
        "ts": pd.to_datetime([c[2] for c in closed], unit="us"),
        "end_ts": pd.to_datetime([c[3] for c in closed], unit="us"),
        "run_len": [c[4] for c in closed],
    })


def rle_runs_stream(points_stream: DataFrame) -> DataFrame:
    """Closed RLE runs of a points stream (W3 as a stream operator).

    The reference RLE-compresses on write: consecutive equal values
    extend one record's ``end_timestamp`` instead of appending
    (server/disk_datastore.cc:91-110 ``RecordNoLog``; Go
    openinstrument.go:83-105 ``ValueStreamWriter``, a per-series
    last-value state machine). State is the open run
    ``(dval, sval, start, end, n)``; a run is emitted once, when a
    different value closes it, and the still-open tail lives only in
    state (openinstrument.go:88-101). Equality matches batch
    ``rle_encode``'s ``eqNullSafe`` on (dval, sval): nulls equal nulls,
    so string-sample runs (dval NULL, config.txt:37-47) merge instead
    of fragmenting. A stream without ``sval`` reads it as NULL. NULL
    samples are kept, and runs never auto-close on wall-clock: the
    reference accepts late data indefinitely."""
    sval = "sval" if "sval" in points_stream.columns else \
        F.lit(None).cast("string").alias("sval")
    return _run(points_stream, _rle_step, RLE_STATE_SCHEMA, RLE_INIT,
                RUNS_SCHEMA, cols=[*_POINT_COLS, sval], where=None,
                sort=["ts"])


# ---- SLO burn rate (plans.alerts.slo_burn_rate) -----------------------------

SLO_OUT_SCHEMA = ("ts timestamp, traffic double, burn_short double, "
                  "burn_long double, page boolean")
SLO_STATE_SCHEMA = "wins array<long>, traf array<double>, bad array<double>"
SLO_INIT = ([], [], [])


def _slo_burn_step(budget: float, factor: float):
    def step(key, rows, state):
        wins, traf, bad = (list(x) for x in state)
        idx = {w: i for i, w in enumerate(wins)}
        for sws, dval, is_bad in zip(rows["sws"].tolist(),
                                     rows["dval"].tolist(),
                                     rows["bad"].tolist()):
            i = idx.get(sws)
            if i is None:
                i = idx[sws] = len(wins)
                wins.append(sws)
                traf.append(0.0)
                bad.append(0.0)
            traf[i] += dval
            if is_bad:
                bad[i] += dval
        if not len(rows):
            return state, None
        lt = 0.0
        lb = 0.0
        for i in range(len(wins)):
            lt += traf[i]
            lb += bad[i]
        # zero accumulated traffic (dval=0 rows pass the NULL filter)
        # must NOT divide: the batch operator's SQL division yields a
        # NULL burn there, and an exception in this step would crash
        # the Python worker (the stream hangs retrying). Mirror the
        # NULL, including SQL three-valued AND for page.
        burn_long = lb / lt / budget if lt != 0.0 else None
        order = sorted(range(len(wins)), key=lambda i: wins[i])
        burns = [bad[i] / traf[i] / budget if traf[i] != 0.0 else None
                 for i in order]

        def page(b):
            c1 = None if b is None else b > factor
            c2 = None if burn_long is None else burn_long > factor
            if c1 is False or c2 is False:
                return False
            if c1 is None or c2 is None:
                return None
            return True

        return (wins, traf, bad), pd.DataFrame({
            "ts": pd.to_datetime([wins[i] for i in order], unit="us"),
            "traffic": [round(traf[i], 6) for i in order],
            "burn_short": pd.Series(
                [None if b is None else round(b, 6) for b in burns],
                dtype=object),
            "burn_long": pd.Series(
                [None if burn_long is None else round(burn_long, 6)]
                * len(order), dtype=object),
            "page": pd.Series([page(b) for b in burns], dtype=object),
        })

    return step


def slo_burn_stream(points_stream: DataFrame, bad, slo: float = 0.95,
                    short_ms: int = 86_400_000,
                    long_ms: int = 604_800_000,
                    factor: float = 1.0) -> DataFrame:
    """Running multiwindow burn rate per short window
    (``plans.alerts.slo_burn_rate``); append-mode. Keyed by LONG window,
    since the page is a global decision: state is the long window's
    short-window accumulators (start, traffic, bad traffic), bounded by
    long/short. Every micro-batch that touches a long window emits all
    its short rows, because burn_long moved, so the last row per short
    window on a closed stream equals the batch operator (ratios rounded
    6 dp on both sides; the page compares unrounded burns). Same
    contract as the batch operator: ``bad`` is a boolean Column over
    the stream's columns, traffic weighted by ``dval``, long windows
    must tile short ones."""
    if long_ms % short_ms != 0:
        raise ValueError(
            f"long window ({long_ms} ms) must tile short ({short_ms} ms)")
    budget = 1.0 - slo
    if budget <= 0:
        raise ValueError("slo must be < 1")
    short_us = short_ms * 1000
    long_us = long_ms * 1000
    us = F.unix_micros(F.col("ts").cast("timestamp")).cast("long")
    return _run(
        points_stream, _slo_burn_step(budget, factor), SLO_STATE_SCHEMA,
        SLO_INIT, SLO_OUT_SCHEMA, keys=["lts"],
        cols=[(us / long_us).cast("long").alias("lts"),
              ((us / short_us).cast("long") * short_us).alias("sws"),
              "dval", bad.alias("bad")],
        # accumulation order within a sum is association-only (rounded
        # 6 dp at emit); the sort keeps replays deterministic
        sort=["sws", "dval"],
    )
