"""get_serve: read-only dashboard traffic against an in-process serve().

Closed loop: CLIENTS threads each POST one JSON request and wait for the
reply before sending the next. 90% /get and 10% /list, in a fixed cycle of
templates whose parameters are the GetRequests FIXTURES.md section 4
records in clients: the last 12 h raw with max_values, RATE, a MEAN=5m
resample, SUM/AVERAGE grouped by a label at the default 30 s aggregation
bucket, and /list of a prefix with ``{hostname=*,interface=*}``. Hosts are
requested with Zipf-skewed popularity (ranks permuted by the seed) and
every window ends at the newest data, so a later plan, listing or result
cache has repeats to find.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import numpy as np

import gen
import oracle
from common import Measured, named_timing
from spans import Tracer, get_layers, get_wrappers, installed

CLIENTS = 1           # timed load: one dashboard waiting on each reply
WARM_CLIENTS = min(4, len(os.sched_getaffinity(0)))   # at most nproc
WARM_ROUNDS = 2       # rounds of every template before timing
N_HOSTS = 40          # 520 series
DAYS = 2              # ~293k points, 2 date partitions
N_BUCKETS = 4         # one file per core per date
END_MS = gen.BASE_MS + DAYS * gen.DAY_MS
HOUR = 3_600_000
WINDOW_MS = 12 * HOUR     # the raw fetch's "last 12 h"
MEAN_MS = 300_000         # mean=5m
MAX_VALUES = 50           # a third of a 12 h series, so the trim does work
ZIPF_A = 0.8              # host popularity, see workloads.json

# Each client cycles through this sequence (90% /get, 10% /list), so every
# run sends the same template shares; the seed picks the hosts.
CYCLE = ("raw", "rate", "mean", "raw", "sum", "raw", "rate", "avg", "mean", "list")
TEMPLATES = tuple(dict.fromkeys(CYCLE))


class Record(NamedTuple):
    path: str
    body: dict
    status: int
    resp: dict
    ms: float
    rid: str


class State:
    def __init__(self, ctx, store, cat, pts, server):
        self.ctx, self.store, self.cat, self.pts = ctx, store, cat, pts
        self.server = server
        self.oracle = None

    def close(self):
        self.server.shutdown()
        self.server.server_close()


def setup(ctx) -> State:
    """Generate the points, write the store with write_points and start
    the endpoint."""
    from open_instrument_spark.plans.serving import serve
    from open_instrument_spark.sources.ingest import read_store, write_points

    d = ctx.fresh_dir("serve")
    cat = gen.catalog(N_HOSTS)
    pts = gen.history(ctx.seed, cat, gen.BASE_MS, DAYS * 288)
    gen.write_parquet(pts.table(cat), f"{d}/input/points.parquet")
    spark = ctx.spark
    write_points(spark.read.parquet(f"{d}/input"), f"{d}/store", n_buckets=N_BUCKETS)
    store = f"{d}/store"
    server = serve(spark, lambda: read_store(spark, store))
    return State(ctx, store, cat, pts, server)


def warm(st: State) -> None:
    """WARM_ROUNDS requests of every template, WARM_CLIENTS at a time. The JVM
    compiles the planner's hot paths over the first hundred or so
    requests, so the timed phase starts on a flatter part of that curve."""
    rng = np.random.default_rng([st.ctx.seed, 99])
    reqs = [request(rng, kind, variant) for variant in range(WARM_ROUNDS)
            for kind in TEMPLATES]
    with ThreadPoolExecutor(WARM_CLIENTS) as pool:
        list(pool.map(lambda r: _post(st.server, *r), reqs))


def _host(rng, perm) -> str:
    """A host by Zipf(ZIPF_A) rank; ``perm`` maps ranks to hosts."""
    p = 1.0 / np.arange(1, len(perm) + 1) ** ZIPF_A
    return f"h{perm[rng.choice(len(perm), p=p / p.sum())]:03d}"


def request(rng, kind: str, variant: int = 0, perm=None) -> tuple[str, dict]:
    """One request body of the given template and variant; every /get
    covers the last 12 h of the store."""
    perm = perm if perm is not None else np.arange(N_HOSTS)
    host = _host(rng, perm)
    window = {"min_timestamp": END_MS - WINDOW_MS, "max_timestamp": END_MS}

    def pick(options):
        return options[variant % len(options)]

    if kind == "raw":
        var = pick([f"/system/cpu/user{{hostname={host}}}",
                    f"/system/cpu/*{{hostname={host}}}",
                    f"/openinstrument/process/os-name{{hostname={host}}}"])
        return "/get", {"variable": var, **window, "max_values": MAX_VALUES}
    if kind == "rate":
        name = pick(["/net/if/rx_bytes", "/net/if/tx_bytes", "/system/cpu/system"])
        return "/get", {"variable": f"{name}{{hostname={host}}}", **window,
                        "mutation": [{"sample_type": "RATE"}]}
    if kind == "mean":
        name = pick(["/system/mem/free", "/disk/used", "/system/load/1m"])
        return "/get", {"variable": f"{name}{{hostname={host}}}", **window,
                        "mutation": [{"sample_type": "MEAN",
                                      "sample_frequency": MEAN_MS}]}
    if kind in ("sum", "avg"):
        var, label = pick([("/system/load/*", "job"), ("/disk/used", "device"),
                           ("/system/load/1m", "hostname")])
        # no sample_interval: the engine's default bucket applies
        return "/get", {"variable": var, **window,
                        "aggregation": [{"type": "SUM" if kind == "sum" else "AVERAGE",
                                         "label": [label]}]}
    if kind == "list":
        prefix = pick(["/net/*", "/net/if/rx*", "/net/if/tx*"])
        return "/list", {"variable": f"{prefix}{{hostname=*,interface=*}}",
                         "max_age": None}
    raise ValueError(kind)


def _post(server, path: str, body: dict) -> tuple[int, dict]:
    host, port = server.server_address[:2]
    conn = http.client.HTTPConnection(host, port, timeout=120)
    try:
        conn.request("POST", path, json.dumps(body),
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"{}")
    finally:
        conn.close()


def _client(st: State, idx: int, deadline: float, out: list, tracer) -> None:
    rng = np.random.default_rng([st.ctx.seed, idx])
    perm = np.random.default_rng([st.ctx.seed, 1000]).permutation(N_HOSTS)
    # clients start at different points of the cycle and each template's
    # variants rotate: every run sends the same templates and variants in
    # the same order, and the seed picks only the hosts
    variant = dict.fromkeys(TEMPLATES, idx)
    n = 0
    while time.perf_counter() < deadline:
        kind = CYCLE[(n + idx * len(CYCLE) // CLIENTS) % len(CYCLE)]
        path, body = request(rng, kind, variant[kind], perm)
        variant[kind] += 1
        rid = f"c{idx}-{n}"
        n += 1
        t0 = time.perf_counter()
        try:
            status, resp = send(st, path, body, rid, tracer)
        except Exception:  # noqa: BLE001 - a dropped reply is a failed request
            status, resp = 0, {}
        out.append(Record(path, body, status, resp,
                          (time.perf_counter() - t0) * 1000.0, rid))


def wrappers(st: State, tracer: Tracer) -> list:
    """Spans around the serving handlers, plan construction, the points
    provider and every DataFrame.collect while installed. The handler
    spans take their request id and parent span from the request body."""
    from open_instrument_spark.plans import serving

    def req(args):
        return args[1].get("_rid"), args[1].get("_span")

    return [
        (serving, "get_json", tracer.wrap(serving.get_json, "plans.serving.get_json",
                                          adopt=True, request_of=req)),
        (serving, "list_json", tracer.wrap(serving.list_json, "plans.serving.list_json",
                                           adopt=True, request_of=req)),
        (serving, "list_series", tracer.wrap(serving.list_series, "plans.api.list")),
        (st.server, "points", tracer.wrap(st.server.points, "sources.ingest.read_store")),
        *get_wrappers(tracer, type(st.ctx.spark.range(0))),
    ]


def send(st: State, path: str, body: dict, rid: str, tracer: Tracer | None):
    """One request; traced, it opens the client span and carries its id."""
    if tracer is None:
        return _post(st.server, path, body)
    with tracer.span("client.request", request=rid) as sp:
        return _post(st.server, path, {**body, "_rid": rid, "_span": sp.id})


def measure(st: State, seconds: float, tracer: Tracer | None = None) -> Measured:
    records: list = []
    patches = wrappers(st, tracer) if tracer is not None else []
    with installed(patches):
        t0 = time.perf_counter()
        deadline = t0 + seconds
        threads = [threading.Thread(target=_client,
                                    args=(st, i, deadline, records, tracer))
                   for i in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
    return Measured(wall_s=wall, records=records)


def check(st: State, m: Measured) -> None:
    """Recompute every response with the DuckDB oracle (outside the timed
    region) and fill in latencies, counts and the per-request report."""
    if st.oracle is None:
        st.oracle = oracle.PointsOracle(st.cat, st.pts)
    get_ms, list_ms, ok = [], [], 0
    for r in m.records:
        m.attempted += 1
        good = r.status == 200 and r.resp.get("success")
        if good and r.path == "/get":
            good = oracle.same_streams(oracle.streams_of(r.resp), st.oracle.get(r.body))
        elif good:
            good = oracle.same_list(r.resp, st.oracle.list(r.body))
        if not good:
            m.failed += 1
            continue
        ok += 1
        (get_ms if r.path == "/get" else list_ms).append(r.ms)
    m.op_ms = get_ms
    m.work = ok
    m.report = {**named_timing("get", get_ms, "ms"), **named_timing("list", list_ms, "ms"),
                "serve_qps": {"value": ok / m.wall_s, "unit": "req/s"}}


def layers(st: State, m: Measured, tracer: Tracer) -> dict:
    """Per-/get-request layer numbers from the traced phase's spans."""
    by_req: dict = {}
    for s in tracer.spans:
        by_req.setdefault(s.request, []).append(s)
    gets = [(by_req[r.rid], sum(len(s["value"]) for s in r.resp.get("stream", [])))
            for r in m.records if r.path == "/get"]
    return get_layers(gets, "client.request")
