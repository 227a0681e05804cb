"""Decomposition probe for the two label-grouped aggregations
(agg_avg_by_label_user / agg_retained_single_labels), plus an A/B of the
series_key render: the generic HOF ``canonical_variable`` against the
literal-branch key ``events_to_points`` stages, with a gate that the two
agree.

Each stage is materialized with the noop sink, min of N, interleaved
round-robin so host spikes land evenly (cross-run deltas on sub-3s
queries are not evidence).

Usage: python tools/label_agg_probe.py [--sf DIR] [--n N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from open_instrument_spark import registry  # noqa: E402
from open_instrument_spark.canonical import canonical_variable  # noqa: E402
from open_instrument_spark.model import events_to_points  # noqa: E402
from open_instrument_spark.operators.mutate import _bucket_start  # noqa: E402
from open_instrument_spark.session import get_spark, prepare  # noqa: E402
from open_instrument_spark.sources.tables import load_tables  # noqa: E402


def noop(df):
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=5)
    args = ap.parse_args()

    spark = get_spark("oi-label-probe")
    prepare(spark)
    T = load_tables(spark, args.sf)
    events = T.table("events")
    pts = T.points()

    def q(name):
        return registry.QUERIES[name](spark, args.sf)

    stages = {
        # raw scan floor
        "scan_events": lambda: events,
        # + the full points projection (json + branched map)
        "points_proj": lambda: pts,
        # + label getItem + filter + bucket (no aggregation)
        "label_bucket": lambda: (
            pts.withColumn("label_value", F.col("labels").getItem("user_id"))
            .filter(F.col("label_value").isNotNull() & (F.col("label_value") != ""))
            .withColumn("ts", _bucket_start(21_600_000))
            .select("name", "label_value", "ts", "dval")
        ),
        # full queries
        "agg_avg_by_label_user": lambda: q("agg_avg_by_label_user"),
        "agg_retained_single_labels": lambda: q("agg_retained_single_labels"),
        # series_key render A/B: same projection, key rendered two ways
        "sk_canonical": lambda: pts.select(
            canonical_variable("name", "labels").alias("series_key"), "ts", "dval"
        ),
        "sk_fast": lambda: pts.select("series_key", "ts", "dval"),
        # a representative window consumer both ways: lag over the key
        "agg_sum_by_name": lambda: q("agg_sum_by_name"),
    }

    # equality gate for the fast render: must be zero
    a = pts.select(canonical_variable("name", "labels").alias("a"))
    b = pts.select(F.col("series_key").alias("b"))
    n_diff = (
        a.withColumn("_k", F.lit(1)).groupBy("a").count()
        .join(
            b.withColumnRenamed("b", "a").groupBy("a").count()
            .withColumnRenamed("count", "count_b"),
            "a", "full",
        )
        .filter(
            F.col("count").isNull() | F.col("count_b").isNull()
            | (F.col("count") != F.col("count_b"))
        )
        .count()
    )
    print(f"fast-vs-canonical key multiset mismatch groups: {n_diff}", file=sys.stderr)

    # warm every stage once
    for fn in stages.values():
        noop(fn())

    runs: dict[str, list[float]] = {k: [] for k in stages}
    for _ in range(args.n):
        for k, fn in stages.items():
            spark.sparkContext.setJobDescription(f"probe:{k}")
            t0 = time.monotonic()
            noop(fn())
            runs[k].append(round(time.monotonic() - t0, 3))
    out = {
        "sf": args.sf,
        "n": args.n,
        "key_mismatch_groups": n_diff,
        "min": {k: min(v) for k, v in runs.items()},
        "runs": runs,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
