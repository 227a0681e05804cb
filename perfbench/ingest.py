"""ingest_maintain: one collector writing beside reads and store upkeep.

Closed loop, one writer. Each step lands a seeded batch as a parquet file,
drains it into an epoch-layout store with streaming.ingest.start_ingest
(availableNow), then runs one /get over the freshest hour through
get_json. After every STEPS_PER_TICK steps maintenance_tick(dry_run=False)
applies the FIXTURES.md section 3.6 retention policy at the advancing
``now`` and compacts dates that collected more files than buckets. A run
measures whole cycles of steps and a tick, so every run does the same
work.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import time

import pyarrow.parquet as pq

import gen
from common import Measured, median, named_timing
from spans import Tracer, get_layers, get_wrappers, installed

N_HOSTS = 40                 # 520 series
STEP_SLOTS = 24              # 2 h of samples per step: ~12.5k points a batch
BACKFILL_SLOTS = 36          # 3 h of history drained at setup
N_BUCKETS = 4
STEPS_PER_TICK = 5
WARM_STEPS = 2               # then a tick
FRESH_MS = 3_600_000


def policy():
    """FIXTURES.md section 3.6: cpuset dropped at any age, retain=forever
    kept raw, os-name older than a day kept as a daily LATEST, anything a
    day old raw, older data as hourly means up to two years, then the
    default DROP."""
    from open_instrument_spark.operators.retention import PolicyItem

    return [
        PolicyItem(("/openinstrument/process/cpuset",), keep=False),
        PolicyItem(("*{retain=forever}",), keep=True),
        PolicyItem(("/openinstrument/process/os-name",), keep=True,
                   min_age="1d", mutations=(("latest", "1d"),)),
        PolicyItem(("*",), keep=True, max_age="1d"),
        PolicyItem(("*",), keep=True, min_age="1d", max_age="2y",
                   mutations=(("mean", "1h"),)),
    ]


def _files(path: str) -> dict[str, int]:
    return {f: os.path.getsize(f)
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)}


def _ts(ms: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc).replace(tzinfo=None)


class State:
    def __init__(self, ctx, d, cat):
        self.ctx, self.d, self.cat = ctx, d, cat
        self.store, self.ckpt, self.land = f"{d}/store", f"{d}/ckpt", f"{d}/land"
        self.step = 0
        self.next_ms = gen.BASE_MS + BACKFILL_SLOTS * gen.CADENCE_MS
        self.seen: dict[str, int] = {}
        self.accepted_bytes = 0.0

    def close(self):
        pass

    def new_bytes(self) -> tuple[int, int]:
        """(files, bytes) that appeared in the store since the last call."""
        now = _files(self.store)
        new = {f: s for f, s in now.items() if f not in self.seen}
        self.seen = now
        return len(new), sum(new.values())


def _drain(st: State, now_ms: int) -> None:
    from open_instrument_spark.streaming.ingest import read_points_stream, start_ingest

    q = start_ingest(read_points_stream(st.ctx.spark, st.land), st.store,
                     st.ckpt, n_buckets=N_BUCKETS, now=_ts(now_ms))
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


def setup(ctx) -> State:
    """Backfill 3 h of history through the streaming ingest."""
    d = ctx.fresh_dir("ingest")
    st = State(ctx, d, gen.catalog(N_HOSTS))
    back = gen.history(ctx.seed, st.cat, gen.BASE_MS, BACKFILL_SLOTS)
    size = gen.write_parquet(back.table(st.cat), f"{st.land}/b{0:06d}.parquet")
    _drain(st, st.next_ms)
    st.accepted_bytes = float(size)
    return st


def warm(st: State) -> None:
    """WARM_STEPS steps and a tick, so the timed phase's tick is not the
    run's first and the drains are past the steepest part of the JVM's
    warm-up."""
    m = Measured()
    for _ in range(WARM_STEPS):
        _step(st, m, None)
    _tick(st, m, None, st.next_ms)


def _step(st: State, m: Measured, tracer) -> None:
    """Land, drain and read back one batch; checks run against the
    generator's bookkeeping but outside the drain timing."""
    from open_instrument_spark.plans.serving import get_json
    from open_instrument_spark.sources.ingest import read_store

    ctx = st.ctx
    b = gen.ingest_batch(ctx.seed, st.step, st.cat, st.next_ms, STEP_SLOTS)
    path = f"{st.land}/s{st.step + 1:06d}.parquet"
    size = gen.write_parquet(b.points.table(st.cat), path)
    jobs0 = ctx.jobs_launched()
    t0 = time.perf_counter()
    if tracer is None:
        _drain(st, b.now_ms)
    else:
        with tracer.span("streaming.ingest.drain"):
            _drain(st, b.now_ms)
    drain_ms = (time.perf_counter() - t0) * 1000.0
    m.layers.setdefault("drain_jobs", []).append(ctx.jobs_launched() - jobs0)
    st.step += 1
    st.next_ms = b.now_ms
    # the engine's own output: rows the newest epoch holds
    epoch = max(glob.glob(f"{st.store}/epoch=[0-9]*"),
                key=lambda p: int(p.rsplit("=", 1)[1]))
    written = sum(pq.ParquetFile(f).metadata.num_rows
                  for f in glob.glob(f"{epoch}/**/*.parquet", recursive=True))
    files, nbytes = st.new_bytes()
    m.layers.setdefault("batch_files", []).append(files)
    m.layers.setdefault("batch_bytes", []).append(nbytes)
    m.layers.setdefault("landed", []).append(len(b.points))
    m.layers.setdefault("accepted", []).append(written)
    m.layers.setdefault("written_bytes", []).append(nbytes)
    accepted_bytes = size * b.accepted / len(b.points)
    m.layers.setdefault("input_bytes", []).append(accepted_bytes)
    st.accepted_bytes += accepted_bytes
    m.attempted += 1
    if written != b.accepted:
        m.failed += 1
    else:
        m.op_ms.append(drain_ms)
        m.work += written
        m.layers.setdefault("drain_s", []).append(drain_ms / 1000.0)
    # the fresh read: one host's cpu counters over the newest hour
    host = f"h{st.step % N_HOSTS:03d}"
    body = {"variable": f"/system/cpu/user{{hostname={host}}}",
            "min_timestamp": b.now_ms - FRESH_MS, "max_timestamp": b.now_ms}
    t0 = time.perf_counter()
    if tracer is None:
        resp = get_json(read_store(ctx.spark, st.store), body)
    else:
        traced_get = tracer.wrap(get_json, "plans.serving.get_json")
        with installed(get_wrappers(tracer, type(ctx.spark.range(0)))):
            with tracer.span("fresh.get", request=f"f{st.step}"):
                with tracer.span("sources.ingest.read_store"):
                    pts = read_store(ctx.spark, st.store)
                resp = traced_get(pts, body)
        m.layers.setdefault("fresh_values", []).append(
            sum(len(s["value"]) for s in resp.get("stream", [])))
    m.layers.setdefault("fresh_ms", []).append((time.perf_counter() - t0) * 1000.0)
    m.attempted += 1
    if not _fresh_ok(st, b, body, resp):
        m.failed += 1


def _fresh_ok(st: State, b: gen.Batch, body: dict, resp: dict) -> bool:
    """The fresh window holds only this batch's on-time samples (late
    ones are two days old, the previous batch ends before the window), so
    the generator knows the exact answer."""
    from oracle import match

    want = {}
    for sid in match(st.cat, body["variable"]):
        vals = sorted((ts, v[0], v[1]) for (s, ts), v in b.fresh.items()
                      if s == sid and body["min_timestamp"] <= ts <= body["max_timestamp"])
        if vals:
            s = st.cat[sid]
            want[(s.name, s.labels)] = vals
    got = {}
    for s in resp.get("stream", []):
        key = (s["variable"]["name"], tuple(sorted(s["variable"]["label"].items())))
        got[key] = sorted((v["timestamp"], v.get("double_value"), v.get("string_value"))
                          for v in s["value"])
    return resp.get("success") is True and got == want


def _tick(st: State, m: Measured, tracer, now_ms: int) -> None:
    from open_instrument_spark.plans import maintenance

    def per_date() -> float:
        dirs = maintenance._dt_dirs(st.store)
        counts = [sum(len(glob.glob(f"{d}/**/*.parquet", recursive=True)) for d in ds)
                  for ds in dirs.values()]
        return sum(counts) / max(len(counts), 1)

    before = per_date()
    st.new_bytes()
    jobs0 = st.ctx.jobs_launched()
    patches = []
    if tracer is not None:
        patches = [
            (maintenance, "run_retention_job",
             tracer.wrap(maintenance.run_retention_job, "operators.retention.run")),
            (maintenance, "compact_dates",
             tracer.wrap(maintenance.compact_dates, "plans.maintenance.compact")),
        ]
    t0 = time.perf_counter()
    with installed(patches):
        if tracer is None:
            maintenance.maintenance_tick(st.ctx.spark, st.store, policy(), _ts(now_ms),
                                         dry_run=False, n_buckets=N_BUCKETS)
        else:
            with tracer.span("plans.maintenance.tick"):
                maintenance.maintenance_tick(st.ctx.spark, st.store, policy(),
                                             _ts(now_ms), dry_run=False,
                                             n_buckets=N_BUCKETS)
    tick_s = time.perf_counter() - t0
    m.attempted += 1
    m.layers.setdefault("tick_s", []).append(tick_s)
    m.layers.setdefault("tick_jobs", []).append(st.ctx.jobs_launched() - jobs0)
    _, nbytes = st.new_bytes()
    m.layers.setdefault("tick_bytes", []).append(nbytes)
    m.layers.setdefault("written_bytes", []).append(nbytes)
    m.layers.setdefault("files_per_date_before", []).append(before)
    m.layers.setdefault("files_per_date_after", []).append(per_date())


def measure(st: State, seconds: float, tracer: Tracer | None = None) -> Measured:
    """Whole cycles; another starts only while at least half a cycle (the
    mean so far) is left, so the timed span stays near ``seconds``."""
    m = Measured()
    t0 = time.perf_counter()
    cycles, elapsed = 0, 0.0
    while cycles == 0 or seconds - elapsed >= elapsed / cycles / 2:
        for _ in range(STEPS_PER_TICK):
            _step(st, m, tracer)
        _tick(st, m, tracer, st.next_ms)
        cycles += 1
        elapsed = time.perf_counter() - t0
    m.wall_s = elapsed
    return m


def check(st: State, m: Measured) -> None:
    """Counts were checked step by step against the generator's
    bookkeeping; this summarises the run. ``work_per_s`` divides by the
    wall time of whole cycles, so fresh reads and ticks count;
    ``ingest_pts_per_s`` divides by drain time only."""
    L = m.layers
    drain_s = sum(L.get("drain_s", []))
    m.report = {
        "ingest_pts_per_s": {"value": m.work / drain_s if drain_s else 0.0,
                             "unit": "points/s"},
        **named_timing("ingest_batch", m.op_ms, "ms"),
        **named_timing("fresh_get", L["fresh_ms"], "ms"),
        **named_timing("tick", L.get("tick_s", []), "s"),
        "write_amp": {"value": sum(L["written_bytes"]) / sum(L["input_bytes"]),
                      "unit": "ratio"},
        "space_amp": {"value": sum(_files(st.store).values()) / st.accepted_bytes,
                      "unit": "ratio"},
    }


def layers(st: State, m: Measured, tracer: Tracer) -> dict:
    L = m.layers
    spans = tracer.spans
    by_name: dict = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    ticks = by_name.get("plans.maintenance.tick", [])

    def med(xs):
        return median(xs) if xs else 0.0

    by_req: dict = {}
    for s in spans:
        by_req.setdefault(s.request, []).append(s)
    fresh = [(by_req[s.request], n) for s, n in
             zip(by_name.get("fresh.get", []), L.get("fresh_values", []))]
    drains = by_name.get("streaming.ingest.drain", [])
    retention = by_name.get("operators.retention.run", [])
    compact = by_name.get("plans.maintenance.compact", [])
    return {
        **get_layers(fresh, "fresh.get"),
        "streaming.ingest.batch_ms": med([s.ms for s in drains]),
        "streaming.ingest.jobs": med(L.get("drain_jobs", [])),
        "sources.ingest.accepted_ratio": sum(L["accepted"]) / sum(L["landed"]),
        "sources.ingest.files_written": med(L["batch_files"]),
        "sources.ingest.bytes_written": med(L["batch_bytes"]),
        "sources.ingest.write_amp": m.report["write_amp"]["value"],
        "sources.ingest.space_amp": m.report["space_amp"]["value"],
        "plans.maintenance.tick_ms": med([s.ms for s in ticks]),
        # the tick outside its retention and compaction calls: the report
        "plans.maintenance.report_ms": med([t.ms - r.ms - c.ms
                                            for t, r, c in zip(ticks, retention, compact)]),
        "operators.retention.run_ms": med([s.ms for s in retention]),
        "plans.maintenance.compact_ms": med([s.ms for s in compact]),
        "plans.maintenance.jobs": med(L.get("tick_jobs", [])),
        "plans.maintenance.bytes_rewritten": med(L.get("tick_bytes", [])),
        "plans.maintenance.files_per_date_before": med(L.get("files_per_date_before", [])),
        "plans.maintenance.files_per_date_after": med(L.get("files_per_date_after", [])),
    }
