"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload get_serve --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout and builds nothing: the engine is the
``open_instrument_spark`` package beside this directory. Every run gets a
private directory under perfbench/.runs for stores, checkpoints, staging and
Spark's scratch space, removed on exit. With ``--trace 0`` the last stdout
line carries the end-to-end metrics; with ``--trace 1`` the per-layer
metrics and the tracing overhead. The line before it is a report with the
workload's own metric names, host evidence and set-up times.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

WORKLOADS = {"get_serve": "serve", "ingest_maintain": "ingest"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of BENCHMARK.json with its unit, in order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def start_spark(run_dir: str, nproc: int):
    """The engine's own session (session.get_spark) on a context whose
    scratch space, temp dir and retained job history are this run's."""
    from pyspark import SparkConf, SparkContext

    from open_instrument_spark.session import get_spark

    # the JVM starts here, so the heap size get_spark would ask for is
    # passed on now: SPARK_GRAFT_DRIVER_MEM, default 8g
    conf = (SparkConf().setMaster(f"local[{nproc}]").setAppName("perfbench")
            .set("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
            .set("spark.local.dir", run_dir)
            .set("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
            .set("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData")
            .set("spark.ui.enabled", "false")
            .set("spark.ui.showConsoleProgress", "false")
            .set("spark.ui.retainedJobs", "20000")
            .set("spark.ui.retainedStages", "20000")
            .set("spark.sql.ui.retainedExecutions", "20000"))
    SparkContext(conf=conf)
    return get_spark("perfbench", cpus=nproc)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit; a JVM that cannot be stopped cleanly, e.g. after a signal cut a
    gateway call short, is killed."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    except Py4JError:
        proc.kill()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import open_instrument_spark  # noqa: F401 - fail fast without the engine

    import common
    from spans import Tracer

    wl = __import__(WORKLOADS[args.workload])

    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".runs"))
    tempfile.tempdir = run_dir
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = run_dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    nproc = len(os.sched_getaffinity(0))
    host = {"nproc": nproc, "cpus_requested": common.cpus_requested(),
            "loadavg_before": common.loadavg(),
            "competing_spark_jvms": common.competing_spark_jvms(),
            "cpu_calib_s": round(common.cpu_calibration(), 4)}
    steal0 = common.steal_s()
    spark = state = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, nproc)
        session_s = time.perf_counter() - t0
        host["master"] = spark.sparkContext.master
        ctx = common.Ctx(spark, run_dir, args.seed)
        reps = []
        for _ in range(SETUP_REPS):
            if state is not None:
                state.close()
            t0 = time.perf_counter()
            state = wl.setup(ctx)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm(state)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + common.median(reps) + warm_s

        tracer = None
        if args.trace:
            # untraced, traced, untraced: the overhead compares the traced
            # phase with the untraced phases on either side of it
            tracer = Tracer(spark.sparkContext)
            before = wl.measure(state, args.seconds / 4)
            m = wl.measure(state, args.seconds, tracer)
            after = wl.measure(state, args.seconds / 4)
            for plain in (before, after):
                wl.check(state, plain)
        else:
            m = wl.measure(state, args.seconds)
        rss_mb = {"python": common.vm_hwm_mb(os.getpid()),
                  "jvm": common.vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}
        t0 = time.perf_counter()
        wl.check(state, m)
        check_s = time.perf_counter() - t0
        if not m.op_ms:
            raise RuntimeError("no operation completed")
        attempted, failed = m.attempted, m.failed
        if args.trace:
            overhead = (common.median(m.op_ms)
                        - common.median(before.op_ms + after.op_ms))
            attempted += before.attempted + after.attempted
            failed += before.failed + after.failed
        host["loadavg_after"] = common.loadavg()
        host["steal_s"] = round(common.steal_s() - steal0, 2)

        e2e = {"setup_s": (setup_s, "s"), "op_p50_ms": (common.median(m.op_ms), "ms"),
               "work_per_s": (m.work / m.wall_s, "1/s")}
        report = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace, "host": host,
                  "session_s": session_s, "setup_reps_s": reps, "warm_s": warm_s,
                  "check_s": check_s,
                  "metrics": {"setup_s": {"value": setup_s, "unit": "s"},
                              "peak_rss_mb": {"value": sum(rss_mb.values()), "unit": "MB",
                                              **rss_mb},
                              "failed_frac": {"value": failed / attempted, "unit": "ratio"},
                              **m.report}}
        if args.trace:
            tracer.collect_spark(spark)
            layer = wl.layers(state, m, tracer)
            layer["trace.overhead_ms"] = overhead
            layer["trace.spans"] = len(tracer.spans)
            with open(os.path.join(HERE, ".runs", f"spans-{args.workload}-{args.seed}.json"),
                      "w") as f:
                json.dump([s.as_json() for s in tracer.spans], f)
            # a layer the workload does not use reports 0
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                       for n, u in per_layer_units().items()}
        else:
            metrics = {n: {"value": float(v), "unit": u} for n, (v, u) in e2e.items()}
        print(json.dumps({"report": report}, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        try:
            if state is not None:
                state.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
