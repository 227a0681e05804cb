"""Correctness oracles that never call the engine.

/get and /list responses are recomputed in DuckDB over the generated
points; ingest counts and fresh reads are checked against the generator's
own bookkeeping (see gen.py and ingest.py).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa

from gen import Points, Series

# an aggregation without sample_interval buckets by 30 s, the proto
# default (FIXTURES.md section 4)
DEFAULT_AGG_INTERVAL_MS = 30_000


def match(cat: list[Series], variable: str) -> list[int]:
    """Series indices a request variable selects: an exact name or a
    trailing-* prefix glob, plus ``{k=v,...}`` label equalities where
    ``k=*`` only asks that the label exists (FIXTURES.md section 3.4)."""
    name, _, rest = variable.partition("{")
    want = dict(kv.split("=", 1) for kv in rest.rstrip("}").split(",") if kv)
    out = []
    for i, s in enumerate(cat):
        ok = (s.name.startswith(name[:-1]) if name.endswith("*")
              else s.name == name)
        labels = dict(s.labels)
        if ok and all(k in labels if v == "*" else labels.get(k) == v
                      for k, v in want.items()):
            out.append(i)
    return out


class PointsOracle:
    """DuckDB over one generated points table."""

    def __init__(self, cat: list[Series], pts: Points):
        self.cat = cat
        self.con = duckdb.connect()
        self.con.register("src", pa.table({
            "sid": pa.array(pts.series, pa.int32()),
            "name": pa.array([c.name for c in cat]).take(pa.array(pts.series)),
            "ts": pa.array(pts.ts, pa.int64()),
            "dval": pa.array(pts.dval, pa.float64(), mask=np.isnan(pts.dval)),
            "sval": pa.array(pts.sval, pa.string()),
        }))
        self.con.execute("CREATE TABLE pts AS SELECT * FROM src ORDER BY sid, ts")
        self.con.unregister("src")

    def _rows(self, sql: str, params: list) -> list[tuple]:
        return self.con.execute(sql, params).fetchall()

    def _range(self, body: dict) -> tuple[str, list]:
        sids = match(self.cat, body["variable"]) or [-1]
        where = (f"sid IN ({','.join(map(str, sids))}) "
                 "AND ts BETWEEN ? AND ?")
        return where, [body["min_timestamp"], body["max_timestamp"]]

    def _per_series(self, rows) -> list[dict]:
        streams: dict[int, list] = {}
        for sid, ts, dval, sval in rows:
            streams.setdefault(sid, []).append((ts, dval, sval))
        return [{"name": self.cat[sid].name, "labels": dict(self.cat[sid].labels),
                 "values": sorted(v)} for sid, v in streams.items()]

    def get(self, body: dict) -> list[dict]:
        """The streams a /get request should return, for the templates
        the serve workload sends: raw with max_values, RATE, MEAN
        resample, and SUM/AVERAGE aggregation grouped by one label."""
        where, params = self._range(body)
        muts = body.get("mutation") or []
        aggs = body.get("aggregation") or []
        if aggs:
            return self._aggregate(body, aggs[0], where, params)
        if not muts:
            sql = f"""
              SELECT sid, ts, dval, sval FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY sid ORDER BY ts DESC, dval DESC NULLS LAST,
                  sval DESC NULLS LAST) AS rn
                FROM pts WHERE {where}) WHERE rn <= {int(body['max_values'])}"""
        elif muts[0]["sample_type"] == "RATE":
            sql = f"""
              SELECT sid, ts, (dval - pv) / (t - pt), NULL FROM (
                SELECT sid, ts, dval, ts / 1000.0 AS t,
                       lag(dval) OVER w AS pv, lag(ts / 1000.0) OVER w AS pt
                FROM pts WHERE {where}
                WINDOW w AS (PARTITION BY sid ORDER BY ts))
              WHERE pt IS NOT NULL AND t > pt AND (dval - pv) / (t - pt) >= 0"""
        elif muts[0]["sample_type"] == "MEAN":
            step = int(muts[0]["sample_frequency"])
            sql = f"""
              SELECT sid, CAST(floor(ts / {step}) AS BIGINT) * {step} AS b,
                     avg(dval), NULL
              FROM pts WHERE {where} GROUP BY sid, b"""
        else:
            raise ValueError(f"no oracle for mutation {muts[0]}")
        return self._per_series(self._rows(sql, params))

    def _aggregate(self, body, agg, where, params) -> list[dict]:
        label = agg["label"][0]
        step = int(agg.get("sample_interval") or DEFAULT_AGG_INTERVAL_MS)
        fn = {"SUM": "sum", "AVERAGE": "avg"}[agg["type"]]
        lv = [(i, dict(s.labels).get(label)) for i, s in enumerate(self.cat)]
        sids = [i for i, v in lv if v]
        if not sids:
            return []
        case = " ".join(f"WHEN {i} THEN '{v}'" for i, v in lv if v)
        sql = f"""
          SELECT name, CASE sid {case} END AS lv,
                 CAST(floor(ts / {step}) AS BIGINT) * {step} AS b, dval
          FROM pts WHERE {where} AND sid IN ({','.join(map(str, sids))})"""
        rows = self._rows(
            f"SELECT name, lv, b, {fn}(dval) FROM ({sql}) GROUP BY name, lv, b",
            params)
        streams: dict[tuple, list] = {}
        for name, value, b, v in rows:
            streams.setdefault((name, value), []).append((b, v, None))
        return [{"name": n, "labels": {label: value}, "values": sorted(v)}
                for (n, value), v in streams.items()]

    def list(self, body: dict) -> list[dict]:
        sids = match(self.cat, body["variable"])
        present = {r[0] for r in self._rows(
            "SELECT DISTINCT sid FROM pts WHERE sid IN "
            f"({','.join(map(str, sids or [-1]))})", [])}
        return [{"name": self.cat[i].name, "labels": dict(self.cat[i].labels)}
                for i in sorted(present, key=lambda i: self.cat[i].key)]


def streams_of(resp: dict) -> list[dict]:
    """A GetResponse in the oracle's shape."""
    out = []
    for s in resp["stream"]:
        vals = [(v["timestamp"], v.get("double_value"), v.get("string_value"))
                for v in s["value"]]
        out.append({"name": s["variable"]["name"],
                    "labels": s["variable"]["label"], "values": sorted(vals)})
    return out


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_streams(got: list[dict], want: list[dict]) -> bool:
    """Order-insensitive over streams; values compared in ts order, doubles
    to 1e-9 relative (aggregates sum in a different order per engine)."""
    def key(s):
        return (s["name"], tuple(sorted(s["labels"].items())))
    if len(got) != len(want):
        return False
    g = {key(s): s["values"] for s in got}
    for s in want:
        vals = g.get(key(s))
        if vals is None or len(vals) != len(s["values"]):
            return False
        for (t1, d1, s1), (t2, d2, s2) in zip(vals, s["values"]):
            if t1 != t2 or s1 != s2 or not _close(d1, d2):
                return False
    return True


def same_list(resp: dict, want: list[dict]) -> bool:
    got = [{"name": v["name"], "labels": v["label"]} for v in resp["variable"]]
    return got == want
