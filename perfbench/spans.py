"""Spans, Spark job accounting and SQL metrics, gathered from outside the
engine.

A span is opened around each call into a layer by wrappers this module
installs over the engine's public functions (``installed``); nothing under
``open_instrument_spark/`` knows it is traced. Each span runs its Spark
work under its own job group, so the jobs, tasks and SQL executions a span
launched are read back afterwards from ``statusTracker()`` and the SQL
status store (which stays readable with the UI disabled). Spans stay in
memory and are written out as JSON when the run ends.
"""

from __future__ import annotations

import itertools
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from common import median

# job group and SQL execution description: pb-<tracer>-<span id>
_tracers = itertools.count(1)


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0
    jobs: list = field(default_factory=list)
    tasks: int = 0
    sql: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def as_json(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent,
                "request": self.request, "jobs": len(self.jobs),
                "tasks": self.tasks, "sql": self.sql}


class Tracer:
    """Records spans; each span's Spark jobs carry the group
    ``pb-<tracer>-<span id>`` for exactly the time the span is innermost on
    its thread."""

    def __init__(self, sc):
        self.sc = sc
        self.prefix = f"pb-{next(_tracers)}-"
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.orphans = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            gid = f"{self.prefix}{span.id}"
            self.sc.setJobGroup(gid, gid)

    @contextmanager
    def span(self, name: str, request: str | None = None,
             parent: int | None = None, adopt: bool = False):
        """Open a span on this thread. ``parent`` links across threads
        (the HTTP handler thread to the client span); ``adopt`` makes the
        spans this thread finished with no parent into children."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1].id
        if request is None and stack:
            request = stack[-1].request
        s = Span(next(self._ids), name, time.perf_counter(), parent, request)
        if adopt:
            for o in self._local.orphans:
                o.parent, o.request = s.id, request
        self._local.orphans = []
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            if s.parent is None and not stack:
                self._local.orphans.append(s)

    def wrap(self, fn, name: str, adopt: bool = False, request_of=None):
        """``fn`` with a span around every call. ``request_of(args)`` may
        return ``(request id, parent span id)`` taken from the call."""
        def wrapped(*args, **kw):
            req, parent = request_of(args) if request_of else (None, None)
            with self.span(name, request=req, parent=parent, adopt=adopt):
                return fn(*args, **kw)
        wrapped.__wrapped__ = fn
        return wrapped

    # -- read back what the spans launched --------------------------------

    def collect_spark(self, spark) -> None:
        """Fill every span's jobs, task count and SQL metrics. Runs once,
        after the traced phase; it launches no Spark jobs."""
        tracker = self.sc.statusTracker()
        by_id = {s.id: s for s in self.spans}
        for s in self.spans:
            s.jobs = list(tracker.getJobIdsForGroup(f"{self.prefix}{s.id}"))
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info else []):
                    sinfo = tracker.getStageInfo(st)
                    s.tasks += sinfo.numTasks if sinfo else 0
        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            desc = ex.description() or ""
            if not desc.startswith(self.prefix):
                continue
            span = by_id.get(int(desc[len(self.prefix):]))
            if span is not None:
                _add(span.sql, sql_metrics(store, ex.executionId()))


def _add(into: dict, more: dict) -> None:
    for k, v in more.items():
        into[k] = into.get(k, 0.0) + v


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL UI count or size metric string as a number (rows, files,
    bytes). Task-aggregated metrics read ``total (min, med, max ...)\\n
    <total> (...)``; the total is the first number after the newline."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def sql_metrics(store, execution_id: int) -> dict:
    """Files read, rows scanned and shuffle bytes written by one SQL
    execution."""
    values = store.executionMetrics(execution_id)
    nodes = store.planGraph(execution_id).allNodes()
    out = {"files_read": 0.0, "rows_scanned": 0.0, "shuffle_bytes": 0.0}
    for i in range(nodes.size()):
        node = nodes.apply(i)
        scan = node.name().startswith("Scan")
        metrics = node.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            v = values.get(m.accumulatorId())
            if v.isEmpty():
                continue
            if scan and m.name() == "number of files read":
                out["files_read"] += parse_metric(v.get())
            elif scan and m.name() == "number of output rows":
                out["rows_scanned"] += parse_metric(v.get())
            elif m.name() == "shuffle bytes written":
                out["shuffle_bytes"] += parse_metric(v.get())
    return out


def self_ms(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == span.id)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        s, e = max(s, span.start), min(e, span.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start - covered) * 1000.0


def get_layers(requests: list[tuple[list[Span], int]], root: str) -> dict:
    """Per-request layer numbers of traced /get requests, each given as its
    spans and the number of values it returned. ``root`` names the span
    around the whole request; its self time plus that of the get_json
    handler is the time outside the layers below (HTTP, JSON)."""
    self_t, read_t, build_t, coll_t = [], [], [], []
    build_jobs = exec_jobs = exec_tasks = returned = 0
    files = scanned = shuffle = 0.0
    for ss, n_values in requests:
        name = {s.id: s.name for s in ss}
        named = lambda n: [s for s in ss if s.name == n]  # noqa: E731
        self_t.append(sum(self_ms(s, ss) for s in named(root)
                          + named("plans.serving.get_json")))
        read_t.append(sum(s.ms for s in named("sources.ingest.read_store")))
        build_t.append(sum(s.ms for s in named("plans.api.get")))
        collects = [s for s in named("exec.collect")
                    if name.get(s.parent) != "plans.api.get"]
        coll_t.append(sum(s.ms for s in collects))
        for s in ss:
            if s.name == "plans.api.get" or name.get(s.parent) == "plans.api.get":
                build_jobs += len(s.jobs)
            elif s in collects or s.name == "plans.serving.get_json":
                exec_jobs += len(s.jobs)
                exec_tasks += s.tasks
            files += s.sql.get("files_read", 0.0)
            scanned += s.sql.get("rows_scanned", 0.0)
            shuffle += s.sql.get("shuffle_bytes", 0.0)
        returned += n_values
    n = max(len(requests), 1)

    def med(xs):
        return median(xs) if xs else 0.0

    return {
        "plans.serving.request_self_ms": med(self_t),
        "sources.ingest.read_store_ms": med(read_t),
        "plans.api.get_build_ms": med(build_t),
        "plans.api.get_build_jobs": build_jobs / n,
        "exec.collect_ms": med(coll_t),
        "exec.jobs": exec_jobs / n,
        "exec.tasks": exec_tasks / n,
        "exec.files_read": files / n,
        "exec.rows_scanned_per_row_returned": scanned / max(returned, 1),
        "exec.shuffle_bytes": shuffle / n,
    }


def get_wrappers(tracer: Tracer, frame_class) -> list:
    """Spans around plan construction and every collect of the given
    DataFrame class, for ``installed``."""
    from open_instrument_spark.plans import serving

    return [(serving, "api_get", tracer.wrap(serving.api_get, "plans.api.get")),
            (frame_class, "collect", tracer.wrap(frame_class.collect, "exec.collect"))]


@contextmanager
def installed(patches: list[tuple[object, str, object]]):
    """Temporarily replace ``obj.attr`` with each given value."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    try:
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        yield
    finally:
        for obj, attr, old in reversed(saved):
            setattr(obj, attr, old)
