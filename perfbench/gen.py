"""Seeded input generator for the benchmark workloads.

Everything the engine sees is written here as plain parquet files, so the
same seed gives byte-identical inputs. The generator also keeps its own
bookkeeping (which samples are invalid, duplicated, late or from the
future) so the oracles never have to ask the engine what it accepted.

Shapes follow FIXTURES.md section 1: counters with resets, gauges, rarely
changing string series, an irregular ~300 s cadence with gaps, 1-4 labels
per series from {hostname, cpu, interface, device, mountpoint, datatype,
units, job}, plus the series the section 3.6 retention policy singles out.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
CADENCE_MS = 300_000
JITTER_MS = 30_000

# (name, kind, extra labels per host). One host carries every family, so
# the series count is hosts * len(FAMILIES).
FAMILIES = (
    ("/system/cpu/user", "counter", {"cpu": "0", "datatype": "counter"}),
    ("/system/cpu/user", "counter", {"cpu": "1", "datatype": "counter"}),
    ("/system/cpu/system", "counter", {"cpu": "0", "datatype": "counter"}),
    ("/net/if/rx_bytes", "counter", {"interface": "eth0", "datatype": "counter"}),
    ("/net/if/tx_bytes", "counter", {"interface": "eth0", "datatype": "counter"}),
    ("/system/mem/free", "gauge", {"units": "bytes"}),
    ("/disk/used", "gauge", {"device": "sda1", "mountpoint": "root"}),
    ("/disk/used", "gauge", {"device": "sdb1", "mountpoint": "data"}),
    ("/system/load/1m", "gauge", {"job": "web"}),
    ("/system/load/1m", "gauge", {"job": "batch"}),
    ("/openinstrument/process/os-name", "string", {}),
    ("/openinstrument/process/cpuset", "gauge", {}),
    ("/billing/usage", "counter", {"retain": "forever"}),
)
OS_NAMES = ("linux-6.1", "linux-6.6", "linux-6.8")

ARROW_SCHEMA = pa.schema([
    pa.field("name", pa.string(), nullable=False),
    pa.field("labels", pa.map_(pa.string(), pa.string())),
    pa.field("ts", pa.timestamp("ms", tz="UTC"), nullable=False),
    pa.field("dval", pa.float64()),
    pa.field("sval", pa.string()),
])


@dataclass(frozen=True)
class Series:
    name: str
    kind: str
    labels: tuple[tuple[str, str], ...]

    @property
    def key(self) -> str:
        """Canonical series string (labels sorted; plain values need no
        quoting), the same identity the engine groups by."""
        if not self.labels:
            return self.name
        return self.name + "{" + ",".join(f"{k}={v}" for k, v in self.labels) + "}"


def catalog(n_hosts: int) -> list[Series]:
    """The fixed series set: the seed changes values, never structure, so
    every seed of a workload does the same amount of work."""
    out = []
    for h in range(n_hosts):
        for name, kind, extra in FAMILIES:
            labels = dict(extra, hostname=f"h{h:03d}")
            out.append(Series(name, kind, tuple(sorted(labels.items()))))
    return out


@dataclass
class Points:
    """Column arrays of a points table. ``series`` indexes ``catalog``;
    ``name`` overrides it for the deliberately invalid rows."""

    series: np.ndarray
    ts: np.ndarray
    dval: np.ndarray
    sval: np.ndarray
    name: list | None = None

    def __len__(self) -> int:
        return len(self.ts)

    def table(self, cat: list[Series]) -> pa.Table:
        names = (self.name if self.name is not None
                 else [cat[i].name for i in self.series])
        label_maps = pa.array([list(s.labels) for s in cat],
                              type=pa.map_(pa.string(), pa.string()))
        return pa.table({
            "name": pa.array(names, pa.string()),
            "labels": label_maps.take(pa.array(self.series)),
            "ts": pa.array(self.ts, pa.timestamp("ms", tz="UTC")),
            "dval": pa.array(self.dval, pa.float64(), mask=np.isnan(self.dval)),
            "sval": pa.array(self.sval, pa.string()),
        }, schema=ARROW_SCHEMA)


def write_parquet(table: pa.Table, path: str) -> int:
    """Deterministic single-file parquet write; returns the file size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def _seg_cumsum(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Cumulative sum of ``x`` restarting at every True in ``starts``."""
    c = np.cumsum(x)
    seg = np.cumsum(starts) - 1
    return c - (c - x)[np.flatnonzero(starts)][seg]


def _values(rng: np.random.Generator, cat: list[Series], series: np.ndarray,
            slot: np.ndarray):
    """dval/sval for samples ordered by (series, slot): counters are
    cumulative with rare resets to 0, gauges random walks, strings a
    rarely changing os name."""
    n = len(series)
    kinds = np.array([s.kind for s in cat])[series]
    step = rng.exponential(50.0, n).round(3)
    walk = rng.normal(0.0, 1.0, n).round(3)
    reset = rng.random(n) < 0.002
    new_series = np.ones(n, bool)
    new_series[1:] = series[1:] != series[:-1]
    # running sums restart at every series boundary and counter reset
    restart = new_series | reset
    counter = _seg_cumsum(np.where(restart, 0.0, step), restart)
    base = 1000.0 + (series % 97) * 10.0
    gauge = base + _seg_cumsum(np.where(new_series, 0.0, walk), new_series)
    dval = np.where(kinds == "counter", counter, gauge)
    dval = np.where(kinds == "string", np.nan, dval)
    os_idx = np.minimum(slot // 700 + series % 2, len(OS_NAMES) - 1)
    sval = np.where(kinds == "string", np.array(OS_NAMES)[os_idx], None)
    return dval, sval.astype(object)


def history(seed: int, cat: list[Series], start_ms: int, n_slots: int,
            gap_frac: float = 0.02) -> Points:
    """Clean history: every series sampled every ~300 s (uniform +-30 s
    jitter, ms precision) over ``n_slots`` slots, a few slots dropped as
    gaps. Sorted by (series, ts); timestamps unique per series."""
    rng = np.random.default_rng(seed)
    n_series = len(cat)
    series = np.repeat(np.arange(n_series), n_slots)
    slot = np.tile(np.arange(n_slots), n_series)
    keep = rng.random(len(series)) >= gap_frac
    series, slot = series[keep], slot[keep]
    ts = start_ms + slot * CADENCE_MS + rng.integers(-JITTER_MS, JITTER_MS, len(slot))
    dval, sval = _values(rng, cat, series, slot)
    return Points(series, ts.astype(np.int64), dval, sval)


# --------------------------------------------------------------------------
# ingest batches with invalid, duplicate, late and future samples
# --------------------------------------------------------------------------

INVALID_NAMES = ("system/no-slash", "/has space", "/")


@dataclass
class Batch:
    points: Points
    now_ms: int
    accepted: int
    dropped_invalid: int
    dropped_future: int
    dropped_duplicate: int
    # accepted on-time samples: (series index, ts ms) -> dval/sval, for
    # checking fresh reads
    fresh: dict = field(default_factory=dict)


def ingest_batch(seed: int, step: int, cat: list[Series], start_ms: int,
                 n_slots: int) -> Batch:
    """One collector push covering slots [start, start + n_slots) of the
    live window, mixed with the shapes ingest must handle: exact and
    conflicting duplicates, invalid names, samples from the future (beyond
    the 1 s drift allowance) and late samples from two days back.

    ``now`` is the end of the window; everything the generator marks
    valid is at or before it."""
    live = history(seed * 1_000_003 + step, cat, start_ms, n_slots)
    rng = np.random.default_rng([seed, step, 7])
    now_ms = start_ms + n_slots * CADENCE_MS
    n = len(live)
    m_late = n // 50
    m_dup = n // 100
    m_bad = n // 200
    m_future = n // 200

    late_idx = rng.choice(n, m_late, replace=False)
    late = Points(live.series[late_idx],
                  live.ts[late_idx] - 2 * DAY_MS - rng.integers(1, 60_000, m_late),
                  live.dval[late_idx], live.sval[late_idx])
    dup_idx = rng.choice(n, m_dup, replace=False)
    dup_dval = live.dval[dup_idx].copy()
    conflict = rng.random(m_dup) < 0.5
    dup_dval[conflict & ~np.isnan(dup_dval)] -= 1.0  # loses the tie-break
    dup = Points(live.series[dup_idx], live.ts[dup_idx], dup_dval,
                 live.sval[dup_idx])
    bad_idx = rng.choice(n, m_bad, replace=False)
    bad = Points(live.series[bad_idx], live.ts[bad_idx], live.dval[bad_idx],
                 live.sval[bad_idx],
                 name=[INVALID_NAMES[i % len(INVALID_NAMES)] for i in range(m_bad)])
    fut_idx = rng.choice(n, m_future, replace=False)
    fut = Points(live.series[fut_idx],
                 now_ms + 2_000 + rng.integers(0, 3_600_000, m_future),
                 live.dval[fut_idx], live.sval[fut_idx])

    parts = [live, late, dup, bad, fut]
    names = [cat[i].name for i in live.series]
    for p in parts[1:]:
        names += p.name if p.name is not None else [cat[i].name for i in p.series]
    allp = Points(np.concatenate([p.series for p in parts]),
                  np.concatenate([p.ts for p in parts]),
                  np.concatenate([p.dval for p in parts]),
                  np.concatenate([p.sval for p in parts]), name=names)
    order = rng.permutation(len(allp))
    allp = Points(allp.series[order], allp.ts[order], allp.dval[order],
                  allp.sval[order], name=[allp.name[i] for i in order])
    fresh = {(int(s), int(t)): (None if np.isnan(d) else float(d), v)
             for s, t, d, v in zip(live.series, live.ts, live.dval, live.sval)}
    return Batch(allp, now_ms,
                 accepted=n + m_late, dropped_invalid=m_bad,
                 dropped_future=m_future, dropped_duplicate=m_dup, fresh=fresh)
