"""Thin JSON serving endpoint for /get, /list, /add — the surface every
reference user touches.

The reference routes HTTP POST bodies of base64(protobuf) to handlers
(server/store.cc:72-74 registers /get,/add,/list; Go go/src/store.go:67)
— that WIRE ENCODING is transport and stays a declared non-goal (§7.4,
no protobuf dependency). This module keeps the reference's request/
response FIELD SHAPES (lib/openinstrument.proto:91-157) but carries
them as JSON, and executes them through the exact same plan layer the
rest of the engine uses: ``plans.api.get`` (matchers → range → caps →
mutations → aggregation), ``operators.select.list_series``,
``sources.ingest.ingest_batch``. Nothing semantic lives here — a wrong
answer from this module is a wrong answer from the engine.

Responses COLLECT to the driver by design: a Get response is
post-mutation/post-aggregation and bounded by max_variables/max_values
(the reference handler also materializes the full GetResponse in
memory before base64-encoding it, server/store.cc:259-273); /list is
index-shaped. The 100 TB posture is unchanged — the heavy lifting runs
distributed and only the response edge is serialized.

``serve()`` wires the handlers behind a stdlib ThreadingHTTPServer for
tests/dev — a real deployment would put the same three functions
behind any HTTP frontend.
"""

from __future__ import annotations

import datetime as dt
import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, Row

from open_instrument_spark.canonical import variable_pattern
from open_instrument_spark.model import POINTS_SCHEMA
from open_instrument_spark.plans.api import GetRequest, get as api_get
from open_instrument_spark.session import local_df
from open_instrument_spark.operators.select import list_series
from open_instrument_spark.sources.ingest import ingest_batch

# proto SampleType (lib/openinstrument.proto:24-52) → operator kind.
# AVERAGE follows the C++ query path (UniformTimeSeries interpolation,
# server/store.cc:292-300); the Go bucketed mean is reachable as MEAN
# (our D5 choice keeps both).
_SAMPLE_TYPE = {
    "NONE": "none",
    "AVERAGE": "average",
    "MEAN": "mean",
    "INTERPOLATE": "interpolate",
    "MIN": "min",
    "MAX": "max",
    "RATE": "rate",
    "RATE_SIGNED": "rate_signed",
    "DELTA": "delta",
    "LATEST": "latest",
    "STDDEV": "stddev",
}
_AGG_TYPE = {"AVERAGE", "MAX", "MIN", "MEDIAN", "SUM"}


def _ts(ms) -> dt.datetime:
    return dt.datetime.fromtimestamp(ms / 1000.0, tz=dt.timezone.utc
                                     ).replace(tzinfo=None)


def _ms(ts) -> int:
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def _variable_str(var) -> str:
    """A request 'variable' is the canonical string or the proto's
    structured {"name":..., "label": {...}} (StreamVariable), rendered
    through :func:`canonical.variable_pattern`."""
    if isinstance(var, str):
        return var
    return variable_pattern(var["name"], var.get("label"))


def parse_get_request(obj: dict) -> GetRequest:
    """JSON GetRequest (proto:91-135 field names) → plans.api.GetRequest.
    Unknown sample/aggregation types 400 like the C++ error branch
    (server/store.cc:334-337, raised here as ValueError)."""
    mutations = []
    for m in obj.get("mutation", []):
        st = str(m["sample_type"]).upper()
        if st not in _SAMPLE_TYPE:
            raise ValueError(f"unsupported sample_type: {st}")
        spec = [_SAMPLE_TYPE[st], m.get("sample_frequency")]
        if m.get("max_gap_interpolate") is not None:
            spec.append(m["max_gap_interpolate"])
        mutations.append(tuple(spec))
    aggs = obj.get("aggregation", [])
    agg_type, agg_labels, interval = None, [], GetRequest.sample_interval
    if aggs:
        # like the Go server, only the first aggregation drives grouping
        # (go/src/store.go:94-98)
        a = aggs[0]
        agg_type = str(a.get("type", "AVERAGE")).upper()
        if agg_type not in _AGG_TYPE:
            raise ValueError(f"unsupported aggregation type: {agg_type}")
        agg_type = agg_type.lower()
        agg_labels = list(a.get("label", []))
        interval = a.get("sample_interval") or GetRequest.sample_interval
    return GetRequest(
        variable=_variable_str(obj["variable"]),
        min_timestamp=(_ts(obj["min_timestamp"])
                       if obj.get("min_timestamp") is not None else None),
        max_timestamp=(_ts(obj["max_timestamp"])
                       if obj.get("max_timestamp") is not None else None),
        mutations=mutations,
        aggregation=agg_type,
        aggregation_labels=agg_labels,
        sample_interval=interval,
        max_variables=obj.get("max_variables"),
        max_values=obj.get("max_values"),
        chain_mutations=bool(obj.get("chain_mutations", False)),
    )


def _value_json(ts, dval, sval) -> dict:
    v: dict = {"timestamp": _ms(ts)}
    if sval is not None:
        v["string_value"] = sval
    else:
        v["double_value"] = dval
    return v


def _streams_json(df: DataFrame, req_labels: list[str]) -> list[dict]:
    """GetResponse.stream[] (proto:117-119) from any plan-layer output
    shape: raw/mutated points (name, labels, ts, dval[, sval]),
    name-grouped aggregates (name, ts, value), or label-grouped
    aggregates (name, label_value, ts, value[, label, retained_labels])."""
    cols = set(df.columns)
    streams: dict[tuple, dict] = {}

    def stream(key, name, labels):
        if key not in streams:
            streams[key] = {"variable": {"name": name,
                                         "label": dict(labels)},
                            "value": []}
        return streams[key]

    for r in df.collect():
        if "labels" in cols:
            labels = dict(r["labels"] or {})
            key = (r["name"], tuple(sorted(labels.items())))
            s = stream(key, r["name"], labels)
            s["value"].append(_value_json(r["ts"], r["dval"],
                                          r["sval"] if "sval" in cols else None))
        elif "label_value" in cols:
            lbl = r["label"] if "label" in cols else (
                req_labels[0] if req_labels else "label")
            labels = {lbl: r["label_value"]}
            if "retained_labels" in cols and r["retained_labels"]:
                labels.update(dict(r["retained_labels"]))
            key = (r["name"], lbl, r["label_value"])
            s = stream(key, r["name"], labels)
            s["value"].append(_value_json(r["ts"], r["value"], None))
        else:
            s = stream((r["name"],), r["name"], {})
            s["value"].append(_value_json(r["ts"], r["value"], None))
    out = [streams[k] for k in sorted(streams)]
    for s in out:
        s["value"].sort(key=lambda v: v["timestamp"])
    return out


def get_json(points: DataFrame, obj: dict) -> dict:
    """POST /get: JSON GetRequest in, GetResponse-shaped JSON out."""
    req = parse_get_request(obj)
    res = api_get(points, req)
    frames = res if isinstance(res, list) else [res]
    streams: list[dict] = []
    for f in frames:
        streams.extend(_streams_json(f, req.aggregation_labels))
    return {"success": True, "stream": streams}


def list_json(points: DataFrame, obj: dict) -> dict:
    """POST /list: prefix/label matcher + max_age/max_variables →
    ListResponse-shaped JSON (proto:137-157; names + label sets only,
    index-shaped — the S11 fetch_values=false contract)."""
    kw = {}
    # absent → the proto default (1 d freshness, proto:137-146);
    # explicit null → no freshness filter (whole history)
    if "max_age" in obj:
        kw["max_age_ms"] = obj["max_age"]
    if obj.get("max_variables") is not None:
        kw["max_variables"] = obj["max_variables"]
    rows = list_series(
        points, _variable_str(obj.get("variable") or "") or None,
        ordered=True, **kw,
    ).collect()
    return {"success": True,
            "variable": [{"name": r["name"],
                          "label": dict(r["labels"] or {})} for r in rows]}


def points_from_add_json(spark, obj: dict) -> DataFrame:
    """AddRequest.stream[] (proto:100-105 shape) → a points DataFrame
    for the S1 ingest pipeline."""
    rows = []
    for s in obj.get("stream", []):
        var = s["variable"]
        name = var["name"] if isinstance(var, dict) else var
        if name is None:
            # a nameless stream never passes validation (S3), and the
            # points schema's name is non-nullable
            continue
        labels = (var.get("label") or {}) if isinstance(var, dict) else {}
        for v in s.get("value", []):
            rows.append(Row(
                name=name, labels=dict(labels),
                ts=_ts(v["timestamp"]),
                dval=(float(v["double_value"])
                      if v.get("double_value") is not None else None),
                sval=v.get("string_value"),
            ))
    return local_df(spark, rows, POINTS_SCHEMA)


def add_json(spark, obj: dict, sink, source_host: str | None = None) -> dict:
    """POST /add: run the S1 pipeline (hostname defaulting → validation
    → dedup, sources/ingest.py) and hand the surviving points to
    ``sink`` (a callable taking the DataFrame — e.g. write_points or a
    streaming-side landing)."""
    pts = ingest_batch(points_from_add_json(spark, obj),
                       source_host=source_host)
    n = pts.count()
    sink(pts)
    return {"success": True, "accepted": n}


# Request bodies past this are refused with 413 before any read — a
# runaway client (or a protobuf blob posted to the JSON port) must not
# buffer unbounded bytes into the serving process. Overridable per
# server (serve(max_body_bytes=...)); the reference's own handler reads
# the whole body too but sits behind a frontend that enforces limits —
# this boundary makes the dev server safe to expose in tests.
MAX_BODY_BYTES = 8 * 1024 * 1024


class _Handler(BaseHTTPRequestHandler):
    server_version = "oi-spark-serving/0"

    def log_message(self, *a):  # quiet in tests
        pass

    def do_POST(self):  # noqa: N802 (stdlib casing)
        try:
            n = int(self.headers.get("Content-Length") or 0)
            limit = getattr(self.server, "max_body_bytes", MAX_BODY_BYTES)
            if n > limit:
                payload = json.dumps(
                    {"success": False,
                     "error": f"request body {n} bytes exceeds {limit}"}
                ).encode()
                self.send_response(413)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)
                return
            body = json.loads(self.rfile.read(n) or b"{}")
            srv = self.server
            if self.path == "/get":
                resp = get_json(srv.points(), body)
            elif self.path == "/list":
                resp = list_json(srv.points(), body)
            elif self.path == "/add":
                resp = add_json(srv.spark, body, srv.add_sink,
                                source_host=self.client_address[0])
            else:
                self.send_error(404)
                return
            code = 200
        except (KeyError, ValueError, TypeError) as e:
            # bad request shape / unknown enum: the reference's 400
            # branch (server/store.cc:277-283,334-337)
            resp, code = {"success": False, "error": str(e)}, 400
        payload = json.dumps(resp).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


def serve(spark, points_provider, add_sink=None,
          port: int = 0,
          max_body_bytes: int = MAX_BODY_BYTES) -> ThreadingHTTPServer:
    """Start the endpoint on ``port`` (0 = ephemeral; read
    ``server.server_address``). ``points_provider`` is re-invoked per
    request so /add-landed data becomes immediately queryable when the
    provider re-reads the store. Caller owns shutdown()."""
    import threading

    srv = ThreadingHTTPServer(("127.0.0.1", port), _Handler)
    srv.spark = spark
    srv.points = points_provider
    srv.add_sink = add_sink or (lambda df: None)
    srv.max_body_bytes = max_body_bytes
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


__all__ = ["parse_get_request", "get_json", "list_json", "add_json",
           "points_from_add_json", "serve"]
