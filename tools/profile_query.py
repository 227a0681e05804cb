"""Per-query profiler for the optimization rounds (guide §1).

For each named query: build the DataFrame (plan-construction time),
dump ``explain("formatted")`` to ``plans/<tag>/<name>_<suffix>.txt``,
then materialize it N times with the noop sink and print per-run
wall-clock. One JSON line per query on stdout.

Usage:
    python tools/profile_query.py [--sf DIR] [--n N] [--tag r14]
        [--suffix before] name [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from open_instrument_spark import registry  # noqa: E402
from open_instrument_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--tag", default="r14")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-plan", action="store_true")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plan_dir = os.path.join(repo, "plans", args.tag)
    os.makedirs(plan_dir, exist_ok=True)

    spark = get_spark("oi-profile")
    for name in args.names:
        fn = registry.QUERIES[name]
        # warm: one smoke-tier pass (codegen/Arrow worker warm) + one
        # measured-tier pass (file listing, AQE stats) — bench parity
        try:
            fn(spark, "/root/testdata/sf0.001").write.mode("overwrite").format(
                "noop").save()
        except Exception:
            pass
        t0 = time.monotonic()
        df = fn(spark, args.sf)
        t_build = time.monotonic() - t0
        if not args.no_plan:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    plan_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
            # Full-lineage companion dump: checkpointed pipelines
            # explain as `Scan ExistingRDD` above the barrier, hiding the
            # subtrees an optimization claims are gone. Only for those,
            # rebuild the query with localCheckpoint neutered (plan
            # capture only — the timed runs below keep the real barrier,
            # which is part of the measured query) and write it as
            # <name>_<suffix>_fullplan.txt.
            if "ExistingRDD" in plan:
                from pyspark.sql import DataFrame as _DF

                _real_ckpt = _DF.localCheckpoint
                try:
                    _DF.localCheckpoint = lambda self, eager=True: self
                    df_full = fn(spark, args.sf)
                    full = df_full._sc._jvm.PythonSQLUtils.explainString(
                        df_full._jdf.queryExecution(), "formatted")
                except Exception as e:  # never fail the profile over the dump
                    full = f"(full-lineage dump failed: {type(e).__name__}: {e})"
                finally:
                    _DF.localCheckpoint = _real_ckpt
                with open(os.path.join(
                        plan_dir, f"{name}_{args.suffix}_fullplan.txt"), "w") as f:
                    f.write(full)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        df.write.mode("overwrite").format("noop").save()  # warm, uncounted
        times = []
        for _ in range(args.n):
            t0 = time.monotonic()
            fn(spark, args.sf).write.mode("overwrite").format("noop").save()
            times.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({"name": name, "build_s": round(t_build, 3),
                          "runs": times, "min": min(times)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
