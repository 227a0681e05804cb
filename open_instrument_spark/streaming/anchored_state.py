"""Stateful streaming A1 anchored aggregation — the streaming twin of
``aggregate.aggregate_anchored``.

The batch kernel walks a GROUP's merged stream set through the
reference-exact drift-bucket loop (lib/protobuf.cc:49-85 — see
``aggregate.value_stream_calculation`` for the reproduced quirks); this
module resumes the same walk, ``aggregate.drift_walk``, across
micro-batches. That walk is fundamentally less streamable than the
per-key states of ``streaming.recurrence``: the bucket ANCHOR is the
current point of the first non-exhausted stream in stream-scan order, so
whether a round's anchor is final depends on whether a scan-earlier
stream will ever produce another point — knowledge only a closed group
has. The reference runs this calculation at REQUEST time over a
fully-gathered stream set (server/store.cc:155-252 materializes the
group in RAM before walking); the streaming twin therefore models
bounded EPOCHS:

- State per group = the walk's in-flight (anchor, bucket) plus each
  series' unconsumed point buffer — the same working set the reference
  holds per request.
- Per micro-batch, rounds run INCREMENTALLY exactly as far as they are
  provably final: while every roster series has a buffered head, each
  round's anchor choice, bracket memberships, and flush decision use
  only known heads (future points append behind heads under the
  in-order arrival contract), so every emitted bucket is bit-equal to
  the batch walk's. The first empty buffer parks the walk — a
  scan-earlier stream regaining data would steal the next anchor
  (quirk 1), so no further round is decidable.
- An epoch CLOSE completes the walk over the buffered tail, drops the
  final in-flight bucket unflushed (batch parity — the C++ loop breaks
  before the flush check), and removes state; later data opens a fresh
  epoch. Close triggers: a SENTINEL row (``series_key ==
  CLOSE_SENTINEL``) closes its group deterministically — the tombstone
  idiom, and the only close usable under ``availableNow`` test
  triggers; optionally ``close_after_ms`` of group silence closes via
  ProcessingTimeTimeout for continuously-triggered production streams
  (caveat: a pending processing-time timeout keeps an availableNow run
  alive with no-data micro-batches until it fires — don't combine).

The timeout, the close and ``state.remove()`` are why this module keeps
its own ``applyInPandasWithState`` emitter instead of a step of
``streaming.recurrence._run``, whose states never time out or close.

Ordering contract (that of ``streaming.recurrence``, plus two
group-level clauses): rows sorted (ts, dval) within each micro-batch; a
sample at or before a series' last accepted position is dropped (late
data belongs to the batch/compaction pass); a series first seen
mid-epoch joins the walk from its first point forward — if its key sorts
before the current anchor stream, already-final buckets are not
retroactively re-anchored (the reference's store-arrival stream order
has the same indeterminacy; the batch twin pins sorted series_key,
D-note). Closed-stream output (all series present from the first batch)
equals the batch operator exactly — asserted by
``test_streaming_anchored_matches_batch_across_batches``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from open_instrument_spark.functions.durations import parse_duration_ms
from open_instrument_spark.model import label_value
from open_instrument_spark.operators.aggregate import _drift_calc_fns, drift_walk

OUT_SCHEMA = "name string, ts timestamp, value double"
STATE_SCHEMA = (
    "anchor long, bucket array<double>, sers array<string>, "
    "lc_ts array<long>, lc_dv array<double>, "
    "buf_ts array<array<long>>, buf_v array<array<double>>"
)
CLOSE_SENTINEL = "__close__"


def _make_emitter(interval_us: int, calc, close_after_ms: int | None,
                  key_cols: tuple[str, ...] = ("name",)):
    def _out(key, out_t, out_v):
        return pd.DataFrame(
            {**{c: key[i] for i, c in enumerate(key_cols)},
             "ts": pd.to_datetime(out_t, unit="us"),
             "value": out_v}
        )

    def _emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            anchor, bucket, _sers, _lt, _lv, bufs_t, bufs_v = state.get
            _, _, out_t, out_v = drift_walk(
                list(zip(bufs_t, bufs_v)), [0] * len(bufs_t), anchor,
                list(bucket), interval_us, calc,
            )
            state.remove()
            if out_t:
                yield _out(key, out_t, out_v)
            return

        rows = pd.concat(list(pdfs)).sort_values(
            ["ts", "dval"], kind="mergesort"
        )
        close = (rows["series_key"] == CLOSE_SENTINEL).any()
        rows = rows[rows["series_key"] != CLOSE_SENTINEL]
        if state.exists:
            anchor, bucket, sers, lc_t, lc_v, bufs_t, bufs_v = state.get
            sers = list(sers)
            lc_t, lc_v = list(lc_t), list(lc_v)
            bucket = list(bucket)
            bufs_t = [list(b) for b in bufs_t]
            bufs_v = [list(b) for b in bufs_v]
        else:
            anchor, bucket = 0, []
            sers, lc_t, lc_v, bufs_t, bufs_v = [], [], [], [], []

        for sk, g in rows.groupby("series_key", sort=True):
            try:
                i = sers.index(sk)
            except ValueError:
                # new roster member: insert at sorted position (the
                # declared stream-scan order of the batch twin)
                i = sum(1 for s in sers if s < sk)
                sers.insert(i, sk)
                lc_t.insert(i, -1)
                lc_v.insert(i, float("-inf"))
                bufs_t.insert(i, [])
                bufs_v.insert(i, [])
            for ts, dval in zip(g["ts"], g["dval"]):
                t = ts.value // 1000  # pandas ns → µs
                v = float(dval)
                # lc = last ACCEPTED (ts, dval) — consumption is
                # strictly head-first and acceptance appends at the
                # tail, so lc is the buffer tail whenever one exists;
                # a sample at or before it is late → drop (batch pass
                # owns reordering)
                if t < lc_t[i] or (t == lc_t[i] and v < lc_v[i]):
                    continue
                bufs_t[i].append(t)
                bufs_v[i].append(v)
                lc_t[i], lc_v[i] = t, v

        cursors = [0] * len(bufs_t)
        anchor, bucket, out_t, out_v = drift_walk(
            list(zip(bufs_t, bufs_v)), cursors, anchor, bucket,
            interval_us, calc, to_completion=close,
        )
        if close:
            state.remove()
        else:
            state.update((
                int(anchor), [float(x) for x in bucket], sers,
                [int(x) for x in lc_t], [float(x) for x in lc_v],
                [[int(x) for x in b[k:]] for b, k in zip(bufs_t, cursors)],
                [[float(x) for x in b[k:]] for b, k in zip(bufs_v, cursors)],
            ))
            if close_after_ms is not None:
                state.setTimeoutDuration(close_after_ms)
        if out_t:
            yield _out(key, out_t, out_v)

    return _emit


def anchored_stream(points_stream: DataFrame, agg_type: str,
                    sample_interval="30s",
                    close_after_ms: int | None = None,
                    by_label: str | None = None) -> DataFrame:
    """Per-group streaming A1 anchored aggregation; append-mode.
    Group = variable name, or name × label value with ``by_label``
    (the batch twin's A8-style grouping; missing/empty label rows are
    dropped — drop_missing semantics, and the label value must then be
    present in the input's ``labels`` map column). Input needs
    ``name``, ``series_key`` (``model.with_series_key``), ``ts``,
    ``dval`` (+ ``labels`` when ``by_label``). Non-numeric samples
    filtered like the batch kernel. A row with ``series_key ==
    CLOSE_SENTINEL`` closes its group's epoch deterministically;
    ``close_after_ms`` (optional) additionally closes after that much
    group silence via ProcessingTimeTimeout — for continuous triggers
    only (see module docstring)."""
    from pyspark.sql import functions as F

    interval_us = parse_duration_ms(sample_interval) * 1000
    calc = _drift_calc_fns()[agg_type.lower()]
    if by_label is None:
        keys = ["name"]
        src = points_stream.select("name", "series_key", "ts", "dval")
    else:
        keys = ["name", "label_value"]
        # a sentinel must carry the label too — groups are keyed
        # (name, label_value), so each label group closes separately
        src = points_stream.select(
            "name",
            label_value(points_stream, by_label).alias("label_value"),
            "series_key", "ts", "dval",
        ).where(
            F.col("label_value").isNotNull() & (F.col("label_value") != "")
        )
    out_schema = ", ".join(f"{k} string" for k in keys) + \
        ", ts timestamp, value double"
    return (
        src.where("dval IS NOT NULL")
        .groupBy(*keys)
        .applyInPandasWithState(
            _make_emitter(interval_us, calc, close_after_ms, tuple(keys)),
            outputStructType=out_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if close_after_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
