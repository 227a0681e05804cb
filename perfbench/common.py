"""Pieces every workload shares: the run context, timing statistics, host
evidence and memory readings."""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field


@dataclass
class Ctx:
    spark: object
    run_dir: str
    seed: int

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.run_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def jobs_launched(self) -> int:
        """Spark jobs launched so far by this application. Exact for a
        single-threaded phase, where a delta counts that phase's jobs."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@dataclass
class Measured:
    """What one measured phase produced. ``op_ms`` are the latencies of the
    workload's foreground operation; ``work`` counts the work units behind
    ``work_per_s`` over ``wall_s``."""

    op_ms: list = field(default_factory=list)
    work: float = 0.0
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    records: list = field(default_factory=list)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail_q(n: int) -> float:
    """The highest percentile with at least ten samples beyond it, once
    that is above the median (20 samples); the maximum below that."""
    return 100.0 * (1.0 - 10.0 / n) if n >= 20 else 100.0


def timing(values) -> dict:
    """Median, tail percentile and sample count of a list of timings."""
    q = tail_q(len(values))
    return {"p50": median(values), "tail": percentile(values, q),
            "tail_q": round(q, 2), "n": len(values)}


def named_timing(name: str, values, unit: str) -> dict:
    """Report entries ``<name>_p50_<unit>`` and ``<name>_tail_<unit>``, the
    latter at the percentile ``q`` that ``tail_q`` picks; both carry the
    sample count, the median its samples."""
    if not values:
        return {}
    t = timing(values)
    return {f"{name}_p50_{unit}": {"value": t["p50"], "unit": unit, "n": t["n"],
                                   "samples": [round(v, 4) for v in values]},
            f"{name}_tail_{unit}": {"value": t["tail"], "unit": unit,
                                    "q": t["tail_q"], "n": t["n"]}}


# --------------------------------------------------------------------------
# host evidence
# --------------------------------------------------------------------------

def cpus_requested():
    """SPARK_GRAFT_CPUS as an int, or None when unset or malformed."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        n = int(raw) if raw is not None else None
    except ValueError:
        return None
    return n if n and n > 0 else None


def cpu_calibration(iters: int = 1500, buf_kib: int = 64) -> float:
    """Seconds one thread takes for a fixed SHA-256 workload (best of 3):
    the same work on every host, so two hosts' ratio is their speed
    ratio."""
    buf = b"\x5a" * (buf_kib * 1024)
    best = float("inf")
    for _ in range(3):
        h = hashlib.sha256()
        t0 = time.perf_counter()
        for _ in range(iters):
            h.update(buf)
        h.digest()
        best = min(best, time.perf_counter() - t0)
    return best


def _proc_tree(root: int) -> set[int]:
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    mine, grew = {root}, True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return mine


def competing_spark_jvms() -> int:
    """Spark JVMs on the host that this process did not start."""
    mine = _proc_tree(os.getpid())
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"org.apache.spark" in f.read():
                    n += 1
        except OSError:
            continue
    return n


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    all CPUs: a rise during a run means it ran on a busy host."""
    with open("/proc/stat") as f:
        ticks = int(f.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    la1, la5, _ = os.getloadavg()
    return [round(la1, 2), round(la5, 2)]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
