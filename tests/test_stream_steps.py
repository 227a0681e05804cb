"""Chunk-fold contract of the group-state stream steps (no Spark).

``streaming.recurrence._run`` folds each micro-batch of a key through a
step with the carried state row. Cutting a key's sorted input into
arbitrary chunks (empty ones and chunks splitting a run of tied
timestamps included) must therefore give the output of one single-chunk
run: the last emitted row per key for the running totals (counter,
increase, SLO burn) and the concatenated rows for the per-row outputs
(alert states, closed RLE runs). The final carried state must equal the
single-chunk state too. The Spark round trip of the same steps is
pinned against the batch operators in tests/test_ingest_streaming.py.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_instrument_spark.streaming import recurrence as rec

# ts in µs from a narrow range, so ties are common; values k/4 are
# binary-exact, so float sums do not depend on how the input is cut.
_TS = st.integers(0, 60)
_Q = st.integers(-8, 8).map(lambda k: k / 4)


def _points(pairs):
    t, v = zip(*sorted(pairs)) if pairs else ((), ())
    return pd.DataFrame({
        "series_key": "s",
        "ts": pd.to_datetime(list(t), unit="us"),
        "dval": pd.Series(v, dtype="float64"),
    })


_POINTS = st.lists(st.tuples(_TS, _Q), max_size=40).map(_points)


@st.composite
def _rle_points(draw):
    rows = draw(st.lists(st.tuples(
        _TS,
        st.sampled_from([None, 0.0, 1.0]),
        st.sampled_from([None, "a", "b"]),
    ), max_size=40))
    rows.sort(key=lambda r: r[0])  # the RLE sort key is ts alone
    return pd.DataFrame({
        "series_key": "s",
        "ts": pd.to_datetime([r[0] for r in rows], unit="us"),
        "dval": pd.Series([r[1] for r in rows], dtype="float64"),
        "sval": pd.Series([r[2] for r in rows], dtype=object),
    })


@st.composite
def _slo_rows(draw):
    short_us = 5
    rows = sorted(draw(st.lists(st.tuples(
        st.integers(0, 5), st.integers(0, 8).map(lambda k: k / 4),
        st.sampled_from([True, False, None]),
    ), max_size=40)), key=lambda r: (r[0], r[1]))
    return pd.DataFrame({
        "sws": pd.Series([r[0] * short_us for r in rows], dtype="int64"),
        "dval": pd.Series([r[1] for r in rows], dtype="float64"),
        "bad": pd.Series([r[2] for r in rows], dtype=object),
    })


# name -> (step, init, rows strategy, key, how outputs combine, last-row key)
_CASES = {
    "counter": (rec._counter_step, rec.COUNTER_INIT, _POINTS,
                ("s",), "last", ["series_key"]),
    "increase": (rec._increase_step(7), rec.INCREASE_INIT, _POINTS,
                 ("s",), "last", ["series_key", "ts"]),
    "slo_burn": (rec._slo_burn_step(0.05, 1.0), rec.SLO_INIT, _slo_rows(),
                 (0,), "last", ["ts"]),
    "alert": (rec._alert_step(">", 0.0, 3), rec.ALERT_INIT, _POINTS,
              ("s",), "concat", None),
    "rle": (rec._rle_step, rec.RLE_INIT, _rle_points(), ("s",), "concat",
            None),
}


def _records(frames, how, last_key):
    recs = []
    for f in frames:
        f = f.astype(object)
        recs += f.where(f.notna(), None).to_dict("records")
    if how == "last":
        last = {tuple(r[k] for k in last_key): r for r in recs}
        recs = [last[k] for k in sorted(last)]
    return recs


@pytest.mark.parametrize("name", sorted(_CASES))
@settings(max_examples=100, deadline=None)
@given(data=st.data())
def test_step_chunk_fold_equals_single_chunk(name, data):
    step, init, rows_st, key, how, last_key = _CASES[name]
    rows = data.draw(rows_st)
    cuts = data.draw(st.lists(st.integers(0, len(rows)), max_size=6))
    bounds = [0, *sorted(cuts), len(rows)]

    state, chunked = init, []
    for a, b in zip(bounds, bounds[1:]):
        state, out = step(key, rows.iloc[a:b], state)
        if out is not None:
            chunked.append(out)
    one_state, one = step(key, rows, init)

    assert state == one_state
    assert _records(chunked, how, last_key) == \
        _records([one] if one is not None else [], how, last_key)
