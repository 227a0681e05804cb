"""Golden vectors from the reference's own tests (FIXTURES.md §3.1-3.3):
- lib/counter_test.cc:26-78  (UniformTimeSeries, 60 ms grid)
- mutations/mutations_test.go:19-57 (Mean, 300 ms anchored buckets)
- mutations/mutations_test.go:59-77 (Interpolate, 300 ms grid)
Float tolerance 1e-4 relative (EXPECT_FLOAT_EQ analog).
"""

from __future__ import annotations

import numpy as np
import pytest

from open_instrument_spark.operators import resample

UNIFORM_IN = [
    (0, 10), (1, 10), (30, 60), (41, 70), (70, 130), (130, 280), (190, 460),
    (240, 460), (250, 710), (305, 840), (470, 1034), (900, 1630),
]
UNIFORM_OUT = [
    (60, 109.31035), (120, 255.0), (180, 430.0), (240, 460.0), (300, 828.1818),
    (360, 904.6667), (420, 975.2121), (480, 1047.8605), (540, 1131.0233),
    (600, 1214.1860), (660, 1297.3488), (720, 1380.5116), (780, 1463.6744),
    (840, 1546.8372), (900, 1630.0),
]

MEAN_IN = [
    (0, 20), (60, 40), (120, 60), (180, 80), (240, 100), (300, 120), (330, 130),
    (360, 140), (420, 160), (480, 180), (540, 200),
]
MEAN_OUT = [(300, 70.0), (540, 162.0)]

INTERP_IN = [
    (0, 20), (61, 40), (122, 60), (185, 80), (241, 100), (299, 122), (330, 132),
    (359, 140), (421, 160), (488, 180), (540, 200), (975, 275),
]
INTERP_OUT = [
    (0, 20.0), (300, 121.81818181818181), (600, 191.86046511627907),
    (900, 258.37209302325584),
]


def _arr(pairs):
    t, v = zip(*pairs)
    return np.array(t, dtype=np.int64), np.array(v, dtype=np.float64)


def _check(got_t, got_v, expected):
    exp_t, exp_v = _arr(expected)
    assert list(got_t) == list(exp_t)
    np.testing.assert_allclose(got_v, exp_v, rtol=1e-4)


def test_uniform_kernel_golden():
    t, v = _arr(UNIFORM_IN)
    _check(*resample.uniform_series_kernel(t, v, 60), UNIFORM_OUT)


def test_mean_anchored_kernel_golden():
    t, v = _arr(MEAN_IN)
    _check(*resample.mean_anchored_kernel(t, v, 300), MEAN_OUT)


def test_interpolate_kernel_golden():
    t, v = _arr(INTERP_IN)
    _check(*resample.interpolate_kernel(t, v, 300), INTERP_OUT)


def test_minmax_anchored_kernels():
    # Goldens hand-traced through the Go loop (mutations.go:139-191;
    # the reference's own Min/Max test vectors are commented out in
    # mutations_test.go:96-113 with stale expectations). Trace on
    # MEAN_IN, duration=300: anchor=0 seeds acc=20; samples t=60..240
    # accumulate (min stays 20, max reaches 100); t=300 satisfies
    # 300 >= 0+300 -> flush stamped at the TRIGGER ts 300, trigger
    # excluded from the bucket (so max=100, not 120) and re-anchors
    # with acc=120; no later sample reaches 600, so the partial tail
    # (values 120..200) is never emitted — unlike Mean.
    t, v = _arr(MEAN_IN)
    mt, mv = resample.min_anchored_kernel(t, v, 300)
    assert list(mt) == [300] and list(mv) == [20.0]
    xt, xv = resample.max_anchored_kernel(t, v, 300)
    assert list(xt) == [300] and list(xv) == [100.0]

    # Two-bucket trace: append (640, 90): 640 >= 300+300 flushes bucket2
    # (values 120..200 — min 120, max 200) stamped at 640; the new
    # bucket holding only 90 is tail-dropped.
    t2, v2 = _arr(MEAN_IN + [(640, 90)])
    mt, mv = resample.min_anchored_kernel(t2, v2, 300)
    assert list(mt) == [300, 640] and list(mv) == [20.0, 120.0]
    xt, xv = resample.max_anchored_kernel(t2, v2, 300)
    assert list(xt) == [300, 640] and list(xv) == [100.0, 200.0]

    # Boundary exactness of >=: with duration=240 the t=240 sample
    # itself triggers (240 >= 0+240), so bucket1 = values 20..80.
    mt, mv = resample.min_anchored_kernel(t, v, 240)
    assert list(mt)[0] == 240 and mv[0] == 20.0
    xt, xv = resample.max_anchored_kernel(t, v, 240)
    assert list(xt)[0] == 240 and xv[0] == 80.0


def _points_df(spark, pairs, interval_scale_us=1):
    """Build a one-series points DF with ts = epoch-µs * scale."""
    rows = [
        ("/test/v", {"h": "a"}, float(v), int(t) * interval_scale_us) for t, v in pairs
    ]
    df = spark.createDataFrame(
        rows, "name string, labels map<string,string>, dval double, t long"
    )
    from pyspark.sql import functions as F

    return df.select(
        "name", "labels", F.timestamp_micros("t").alias("ts"), "dval",
        F.lit(None).cast("string").alias("sval"),
    )


def test_uniform_average_spark_golden(spark):
    # golden vector ts are "ms" in the reference; feed them as µs and use
    # a 60 µs grid — the kernel math is unit-agnostic. parse_duration_ms
    # path needs ms, so scale ×1000: ts ms → µs, interval 60 ms.
    df = _points_df(spark, UNIFORM_IN, interval_scale_us=1000)
    out = resample.uniform_average(df, 60).orderBy("ts").collect()
    got_t = [int(r["ts"].timestamp() * 1_000_000) // 1000 for r in out]
    got_v = [r["dval"] for r in out]
    _check(np.array(got_t), np.array(got_v), UNIFORM_OUT)


def test_interpolate_spark_golden(spark):
    df = _points_df(spark, INTERP_IN, interval_scale_us=1000)
    out = resample.interpolate(df, 300).orderBy("ts").collect()
    got_t = [int(r["ts"].timestamp() * 1_000_000) // 1000 for r in out]
    got_v = [r["dval"] for r in out]
    _check(np.array(got_t), np.array(got_v), INTERP_OUT)


def test_interpolate_max_gap_kernel():
    # proto max_gap_interpolate on M7 (lib/openinstrument.proto:45-52).
    # Accepted pairs on INTERP_IN at 300: (0→330) gap 330, (330→975) gap
    # 645. max_gap=2 (cap 600): first gap fills grid 300, second is left
    # unfilled (975 is not on-grid, so no pass-through either).
    t, v = _arr(INTERP_IN)
    out_t, out_v = resample.interpolate_kernel(t, v, 300, max_gap=2)
    _check(out_t, out_v, [(0, 20.0), (300, 121.81818181818181)])
    # max_gap=1 (cap 300): both gaps too long → only the on-grid first
    # input passes through.
    out_t, out_v = resample.interpolate_kernel(t, v, 300, max_gap=1)
    _check(out_t, out_v, [(0, 20.0)])


def test_interpolate_max_gap_exact_hit_passthrough():
    # A long-gap input landing exactly ON a grid point is a real value,
    # not a fill — it still passes through (value = prev_v + rate).
    t, v = _arr([(0, 20), (61, 40), (330, 132), (900, 258)])
    out_t, out_v = resample.interpolate_kernel(t, v, 300, max_gap=1)
    _check(out_t, out_v, [(0, 20.0), (900, 258.0)])


def test_interpolate_max_gap_sql_matches_kernel(spark):
    # The pure-SQL plan (default impl) and the chunked variant reproduce
    # the kernel's max_gap behavior row-for-row on both vectors.
    for pairs, mg, expected in [
        (INTERP_IN, 2, [(0, 20.0), (300, 121.81818181818181)]),
        (INTERP_IN, 1, [(0, 20.0)]),
        ([(0, 20), (61, 40), (330, 132), (900, 258)], 1,
         [(0, 20.0), (900, 258.0)]),
    ]:
        df = _points_df(spark, pairs, interval_scale_us=1000)
        for kw in [{}, {"chunk": 400}]:  # 400 ms chunks split the series
            out = (
                resample.interpolate(df, 300, max_gap_interpolate=mg, **kw)
                .orderBy("ts")
                .collect()
            )
            got_t = [int(r["ts"].timestamp() * 1_000_000) // 1000 for r in out]
            got_v = [r["dval"] for r in out]
            _check(np.array(got_t), np.array(got_v), expected)


def test_uniform_max_gap(spark):
    # proto max_gap_interpolate semantics: the 470→900 µs-gap (430 units,
    # > 3×60) is left unfilled except the exact hit at 900.
    df = _points_df(spark, UNIFORM_IN, interval_scale_us=1000)
    out = resample.uniform_average(df, 60, max_gap_interpolate=3).orderBy("ts").collect()
    got_t = [int(r["ts"].timestamp() * 1_000_000) // 1000 for r in out]
    assert got_t == [60, 120, 180, 240, 300, 360, 420, 900]


# ---------------------------------------------------------------------------
# whole-table equivalence: SQL ≡ kernel, chunked ≡ unchunked (real events)
# ---------------------------------------------------------------------------

def _events_points(spark):
    from open_instrument_spark.model import events_to_points
    from open_instrument_spark.sources.tables import load_tables
    from tests.conftest import SF_SMOKE

    return events_to_points(load_tables(spark, SF_SMOKE).table("events"))


def _rows(df):
    return sorted(
        (r["series_key"], r["ts"], r["dval"])
        for r in df.select("series_key", "ts", "dval").collect()
    )


def test_interpolate_sql_equals_kernel_on_events(spark):
    """The pure-SQL M7 plan must be ROW-IDENTICAL (bit-exact floats —
    same IEEE ops in the same order) to the reference-shaped Arrow
    kernel over the full sf0.001 events table."""
    pts = _events_points(spark)
    sql = _rows(resample.interpolate(pts, "6h"))
    kernel = _rows(resample.interpolate(pts, "6h", impl="kernel"))
    assert sql == kernel and len(sql) > 0


# "1h" is below the 6 h grid, so almost every predecessor crosses a
# chunk boundary; "1000d" puts each whole series in one chunk.
CHUNKS = ("1h", "2d", "1000d")


def test_interpolate_chunked_equals_unchunked(spark):
    pts = _events_points(spark)
    plain = _rows(resample.interpolate(pts, "6h"))
    assert len(plain) > 0
    for chunk in CHUNKS:
        assert _rows(resample.interpolate(pts, "6h", chunk=chunk)) == plain, chunk


def test_uniform_average_chunked_equals_unchunked(spark):
    pts = _events_points(spark)
    plain = _rows(resample.uniform_average(pts, "6h"))
    assert len(plain) > 0
    for chunk in CHUNKS:
        assert _rows(resample.uniform_average(pts, "6h", chunk=chunk)) == plain, chunk


def test_interpolate_max_gap_sql_equals_kernel_on_events(spark):
    """max_gap path over the full sf0.001 events table: the pure-SQL
    plan, its chunked variants, and the Arrow kernel must be
    ROW-IDENTICAL (bit-exact floats), and the cap must actually bite
    (fewer rows than the uncapped plan)."""
    pts = _events_points(spark)
    sql = _rows(resample.interpolate(pts, "6h", max_gap_interpolate=2))
    kernel = _rows(
        resample.interpolate(pts, "6h", impl="kernel", max_gap_interpolate=2)
    )
    assert sql == kernel and len(sql) > 0
    for chunk in CHUNKS:
        chunked = _rows(
            resample.interpolate(pts, "6h", chunk=chunk, max_gap_interpolate=2)
        )
        assert chunked == sql, chunk
    uncapped = _rows(resample.interpolate(pts, "6h"))
    assert len(sql) < len(uncapped)


def test_uniform_max_gap_chunked_equals_unchunked(spark):
    """The M4 max_gap gate sits downstream of the predecessor handoff —
    pin that every chunked plan reproduces it row-for-row on real data."""
    pts = _events_points(spark)
    plain = _rows(resample.uniform_average(pts, "6h", max_gap_interpolate=2))
    assert len(plain) > 0
    for chunk in CHUNKS:
        chunked = _rows(
            resample.uniform_average(pts, "6h", max_gap_interpolate=2, chunk=chunk)
        )
        assert chunked == plain, chunk
    assert len(plain) < len(_rows(resample.uniform_average(pts, "6h")))


# ---------------------------------------------------------------------------
# randomized equivalence: SQL ≡ kernel over arbitrary positive-epoch series
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# One series: strictly increasing non-negative µs timestamps with gaps
# spanning many grid cells, float values incl. negatives.
_TS = st.lists(
    st.integers(min_value=0, max_value=50), min_size=2, max_size=25
).map(lambda deltas: [sum(deltas[: i + 1]) for i in range(len(deltas))])
_SERIES = _TS.flatmap(
    lambda ts: st.tuples(
        st.just(ts),
        st.lists(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            min_size=len(ts), max_size=len(ts),
        ),
    )
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.lists(_SERIES, min_size=1, max_size=6))
def test_interpolate_sql_equals_kernel_randomized(spark, data):
    """Hypothesis-driven whole-plan equivalence on the engine's declared
    domain (non-negative epoch timestamps): for random multi-series
    inputs the pure-SQL window plan must reproduce interpolate_kernel
    row-for-row, bit-exact. (Pre-1970 timestamps are OUTSIDE the grid
    resamples' domain — see the module docstring note — so strategies
    stay non-negative, mirroring real metric data.)"""
    import numpy as np

    from pyspark.sql import functions as F

    interval_ms = 7       # Spark-side grid (parse_duration_ms int = ms)
    interval_us = 7000    # kernel-side, same grid in µs
    rows = []
    expect = []
    for s_idx, (ts, vals) in enumerate(data):
        # dedup equal timestamps (kernel and plan both assume sorted
        # unique ts per series — the ingest dedup contract)
        seen = {}
        for t, v in zip(ts, vals):
            seen[t * 1000] = v  # ts units → µs, deltas cross 0-7 cells
        ts_u = sorted(seen)
        vals_u = [seen[t] for t in ts_u]
        name = f"/hyp/{s_idx}"
        rows += [(name, {"s": str(s_idx)}, t, v) for t, v in zip(ts_u, vals_u)]
        out_t, out_v = resample.interpolate_kernel(
            np.array(ts_u, dtype=np.int64), np.array(vals_u), interval_us
        )
        key = name + "{s=" + str(s_idx) + "}"
        expect += [(key, int(t), float(v)) for t, v in zip(out_t, out_v)]
    df = spark.createDataFrame(
        rows, "name string, labels map<string,string>, t long, dval double"
    ).select(
        "name", "labels", F.timestamp_micros("t").alias("ts"), "dval",
        F.lit(None).cast("string").alias("sval"),
    )
    got = sorted(
        (r["series_key"], int(r["ts"].timestamp() * 1_000_000), r["dval"])
        for r in resample.interpolate(df, interval_ms, restore_labels=False)
        .select("series_key", "ts", "dval").collect()
    )
    assert got == sorted(expect)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.lists(_SERIES, min_size=1, max_size=6))
def test_uniform_sql_equals_kernel_randomized(spark, data):
    """Same hypothesis harness for M4: the lag+explode SQL plan vs the
    reference-exact uniform_series_kernel on random multi-series input
    over the declared (non-negative epoch) domain."""
    import numpy as np

    from pyspark.sql import functions as F

    interval_ms, interval_us = 7, 7000
    rows, expect = [], []
    for s_idx, (ts, vals) in enumerate(data):
        seen = {}
        for t, v in zip(ts, vals):
            seen[t * 1000] = v
        ts_u = sorted(seen)
        vals_u = [seen[t] for t in ts_u]
        name = f"/hyp/{s_idx}"
        rows += [(name, {"s": str(s_idx)}, t, v) for t, v in zip(ts_u, vals_u)]
        out_t, out_v = resample.uniform_series_kernel(
            np.array(ts_u, dtype=np.int64), np.array(vals_u), interval_us
        )
        key = name + "{s=" + str(s_idx) + "}"
        expect += [(key, int(t), float(v)) for t, v in zip(out_t, out_v)]
    df = spark.createDataFrame(
        rows, "name string, labels map<string,string>, t long, dval double"
    ).select(
        "name", "labels", F.timestamp_micros("t").alias("ts"), "dval",
        F.lit(None).cast("string").alias("sval"),
    )
    got = sorted(
        (r["series_key"], int(r["ts"].timestamp() * 1_000_000), r["dval"])
        for r in resample.uniform_average(df, interval_ms)
        .select("series_key", "ts", "dval").collect()
    )
    assert got == sorted(expect)


# ---------------------------------------------------------------------------
# resumable-scan contract: chunk fold ≡ one-shot batch kernel (no Spark)
# ---------------------------------------------------------------------------

_SCAN_CASES = [
    ("ewma", {}), ("holt", {}), ("holt_winters", {"period": 3}),
    ("cusum", {"slack": 0.5}), ("min_anchored", {}), ("max_anchored", {}),
    ("interpolate", {}), ("interpolate", {"max_gap": 2}),
    ("uniform_average", {}), ("uniform_average", {"max_gap": 2}),
    ("rate", {}), ("rate", {"signed": True}),
]

# (ts, 4·value) pairs from a narrow ts range, so ties are common; sorted
# by (ts, value) as both drivers walk them. Values k/4 are binary-exact.
_TIED_SERIES = st.lists(
    st.tuples(st.integers(0, 60), st.integers(-64, 64)), min_size=1, max_size=40
).map(sorted)


def test_scan_cases_cover_every_recurrence():
    assert {kind for kind, _ in _SCAN_CASES} == set(resample.RECURRENCES)


@pytest.mark.parametrize("kind,params", _SCAN_CASES)
@settings(max_examples=100, deadline=None)
@given(pairs=_TIED_SERIES, data=st.data())
def test_scan_chunk_fold_equals_one_shot(kind, params, pairs, data):
    """The rule the streaming driver relies on: folding a series' chunks
    through a recurrence's scan with the carried state equals the
    one-shot batch kernel bit for bit, wherever the chunks are cut
    (empty chunks and chunks splitting a run of tied ts included)."""
    rec = resample.RECURRENCES[kind]
    t = np.array([p[0] for p in pairs], dtype=np.int64)
    v = np.array([p[1] / 4 for p in pairs], dtype=np.float64)
    interval = 7
    cuts = data.draw(st.lists(st.integers(0, len(t)), max_size=6))
    bounds = [0, *sorted(cuts), len(t)]
    state, got_t, got_v = rec.init(**params), [], []
    for a, b in zip(bounds, bounds[1:]):
        state, out_t, out_v = rec.scan(state, t[a:b], v[a:b], interval, **params)
        got_t.append(out_t)
        got_v.append(out_v)
    kernel = resample._KERNELS.get(kind) or resample._batch_kernel(rec)
    want_t, want_v = kernel(t, v, interval, **params)
    assert np.concatenate(got_t).tolist() == want_t.tolist()
    assert np.concatenate(got_v).tobytes() == want_v.tobytes()
