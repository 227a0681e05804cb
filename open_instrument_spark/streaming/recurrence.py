"""Per-series recurrences over a points stream.

Every public function here runs one recurrence of
``operators.resample.RECURRENCES`` — the same resumable scan the batch
kernels run once over a whole series — through the single
``applyInPandasWithState`` driver :func:`_run`. The scan's state is the
Spark state row, so it links micro-batches: each grid point, bucket or
rate is emitted once, when the input that closes it arrives, and
cumulative output equals the batch operator on the same rows bit for
bit (the batch-vs-stream tests in tests/test_ingest_streaming.py).

Ordering contract: rows are sorted by (ts, dval) within each
micro-batch and state links batches in arrival order. A sample older
than the carried state is handled by the recurrence as the reference's
single-pass loop would (interpolate, uniform and rate drop it); fully
late-tolerant results belong to the batch/compaction pass over the
store. Non-numeric samples (dval NULL) are filtered before the scan, as
the batch operators use numeric samples only — a NULL would poison the
carried state with NaN. State is one row per live series, bounded by
series cardinality; NoTimeout: a series' state lives as long as the
query. Input needs ``series_key`` (``model.with_series_key``). Grid
resamples assume non-negative epoch timestamps (DIVERGENCES D14).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from open_instrument_spark.functions.durations import parse_duration_ms
from open_instrument_spark.operators.resample import RECURRENCES

OUT_SCHEMA = "series_key string, ts timestamp, dval double"


def _run(points_stream: DataFrame, kind: str, interval=None,
         **params) -> DataFrame:
    rec = RECURRENCES[kind]
    interval_us = None if interval is None else parse_duration_ms(interval) * 1000

    def emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs)).sort_values(["ts", "dval"], kind="mergesort")
        new_state, out_t, out_v = rec.scan(
            state.get if state.exists else rec.init(**params),
            rows["ts"].to_numpy("datetime64[us]").view(np.int64),
            rows["dval"].to_numpy(np.float64),
            interval_us,
            **params,
        )
        state.update(new_state)
        if len(out_t):
            yield pd.DataFrame({
                "series_key": key[0],
                "ts": pd.to_datetime(out_t, unit="us"),
                "dval": out_v,
            })

    return (
        points_stream.select("series_key", "ts", "dval")
        .where("dval IS NOT NULL")
        .groupBy("series_key")
        .applyInPandasWithState(
            emit,
            outputStructType=OUT_SCHEMA,
            stateStructType=rec.state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def rate_stream(points_stream: DataFrame, signed: bool = False) -> DataFrame:
    """Per-series rate (M1; M2 with ``signed=True``, which keeps
    negative rates)."""
    return _run(points_stream, "rate", signed=signed)


def interpolate_stream(points_stream: DataFrame, interval,
                       max_gap_interpolate: int | None = None) -> DataFrame:
    """Per-series M7 grid interpolation (Go Interpolate), incl. the
    proto's ``max_gap_interpolate`` cap."""
    return _run(points_stream, "interpolate", interval,
                max_gap=max_gap_interpolate)


def uniform_stream(points_stream: DataFrame, interval,
                   max_gap_interpolate: int | None = None) -> DataFrame:
    """Per-series M4 grid resample (C++ UniformTimeSeries), incl. the
    proto's ``max_gap_interpolate`` cap."""
    return _run(points_stream, "uniform_average", interval,
                max_gap=max_gap_interpolate)


def min_anchored_stream(points_stream: DataFrame, duration) -> DataFrame:
    """Go Min (mutations.go:139-164); the never-emitted final partial
    bucket makes it exactly append-mode."""
    return _run(points_stream, "min_anchored", duration)


def max_anchored_stream(points_stream: DataFrame, duration) -> DataFrame:
    """Go Max (mutations.go:166-191); see :func:`min_anchored_stream`."""
    return _run(points_stream, "max_anchored", duration)


def ewma_stream(points_stream: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Per-series EWMA; one state double per series."""
    return _run(points_stream, "ewma", alpha=alpha)


def holt_stream(points_stream: DataFrame, alpha: float = 0.25,
                beta: float = 0.5) -> DataFrame:
    """Per-series Holt one-step forecast; state (level, trend)."""
    return _run(points_stream, "holt", alpha=alpha, beta=beta)


def holt_winters_stream(points_stream: DataFrame, alpha: float = 0.25,
                        beta: float = 0.5, gamma: float = 0.25,
                        period: int = 24) -> DataFrame:
    """Per-series Holt-Winters additive one-step forecast; state is the
    sample count, level, trend and ``period`` seasonal slots."""
    return _run(points_stream, "holt_winters", alpha=alpha, beta=beta,
                gamma=gamma, period=period)


def cusum_stream(points_stream: DataFrame, slack: float = 0.0) -> DataFrame:
    """Per-series one-sided CUSUM; state (reference level, statistic)."""
    return _run(points_stream, "cusum", slack=slack)
