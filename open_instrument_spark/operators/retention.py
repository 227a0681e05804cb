"""Retention policy engine (SURVEY.md §2.7 W1).

Reference: ordered first-match policy list (lib/openinstrument.proto:195-212,
lib/retention_policy_manager.cc:20-47): for a variable of age A, scan items
in order; an item applies when any of its variable matchers matches AND
(min_age unset or A >= min_age) AND (max_age unset or A <= max_age).
First applicable item wins; no match ⇒ DROP (manager.cc:21-23). KEEP items
may carry downsampling mutations (e.g. >28 d → hourly AVERAGE,
config.txt:68-81; strings → daily LATEST, config.txt:37-47).

Spark-first shape: the policy list is tiny config, so matching is ONE
chained CASE expression (no join, no shuffle) assigning each row its
policy index; the keep/drop filter rides the scan. Downsampling then
applies per-band (each band = rows assigned to one KEEP-with-mutations
item) and the bands union back. At 100 TB this runs as a partition-
pruned rewrite job per date partition — the Spark analog of the
reference's background policy runner (server/store_file_manager.cc:87-191).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_instrument_spark.functions.durations import parse_duration_ms
from open_instrument_spark.functions.match import VariableMatcher
from open_instrument_spark.operators import mutate as _mutate


@dataclass(frozen=True)
class PolicyItem:
    """RetentionPolicyItem (lib/openinstrument.proto:195-205)."""

    variables: tuple[str, ...]
    keep: bool = True
    min_age: str | int | None = None   # duration string or ms
    max_age: str | int | None = None
    mutations: tuple[tuple, ...] = field(default_factory=tuple)  # [(kind, interval)]

    @property
    def min_age_ms(self) -> int | None:
        return None if self.min_age is None else parse_duration_ms(self.min_age)

    @property
    def max_age_ms(self) -> int | None:
        return None if self.max_age is None else parse_duration_ms(self.max_age)


def _item_predicate(item: PolicyItem, age_ms: Column,
                    staged_cols: dict[str, str] | None = None) -> Column:
    var_pred = None
    for pat in item.variables:
        p = VariableMatcher.from_string(pat).predicate(staged_cols=staged_cols)
        var_pred = p if var_pred is None else (var_pred | p)
    pred = var_pred if var_pred is not None else F.lit(True)
    if item.min_age_ms:
        pred = pred & (age_ms >= item.min_age_ms)
    if item.max_age_ms:
        pred = pred & (age_ms <= item.max_age_ms)
    return pred


def policy_index(points: DataFrame, policy: list[PolicyItem], now) -> Column:
    """First-match policy index per row (-1 = no match ⇒ default DROP)."""
    from open_instrument_spark.model import staged_label_columns

    age_ms = (F.lit(now).cast("timestamp").cast("double") - F.col("ts").cast("double")) * 1000.0
    staged = staged_label_columns(points.columns)
    expr = F.lit(-1)
    for idx in range(len(policy) - 1, -1, -1):
        expr = F.when(_item_predicate(policy[idx], age_ms, staged), idx).otherwise(expr)
    return expr


def apply_retention(points: DataFrame, policy: list[PolicyItem], now) -> DataFrame:
    """Run the policy: drop DROP-matched rows, downsample KEEP bands that
    carry mutations, pass raw KEEP bands through. Returns the retained
    points table (same schema)."""
    tagged = points.withColumn("_policy", policy_index(points, policy, now))
    outs: list[DataFrame] = []
    plain_keep_idx = [
        i for i, item in enumerate(policy) if item.keep and not item.mutations
    ]
    if plain_keep_idx:
        outs.append(
            tagged.filter(F.col("_policy").isin(plain_keep_idx)).drop("_policy")
        )
    for i, item in enumerate(policy):
        if not item.keep or not item.mutations:
            continue
        band = tagged.filter(F.col("_policy") == i).drop("_policy")
        outs.append(_mutate.pipeline(band, list(item.mutations)))
    if not outs:
        return points.limit(0)
    # normalize to the base points schema (mutations may add series_key;
    # staged _label_* scalars are an input-side fast path that bucketed
    # resample bands legitimately drop — exclude them from the union
    # schema rather than requiring every band to carry them)
    from open_instrument_spark.model import STAGED_LABEL_PREFIX

    cols = [c for c in points.columns
            if c != "_policy" and not c.startswith(STAGED_LABEL_PREFIX)]
    outs = [o.select(*cols) for o in outs]
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


# retention_report's columns, and the schema of the report
# maintenance_tick returns
REPORT_SCHEMA = ("policy_idx int not null, action string not null, "
                 "n_samples bigint not null, n_series bigint not null")


def _report_input(points: DataFrame, policy: list[PolicyItem], now) -> DataFrame:
    """(policy_idx, _sk): the first-match policy index and the series
    key, reusing the frame's precomputed key when it carries one."""
    from open_instrument_spark.model import SERIES_KEY_COL, series_key

    key = (F.col(SERIES_KEY_COL) if SERIES_KEY_COL in points.columns
           else series_key())
    return points.select(
        policy_index(points, policy, now).alias("policy_idx"),
        key.alias("_sk"),
    )


def _action(policy: list[PolicyItem]) -> Column:
    """What happens to a policy_idx's rows: keep, downsample, drop or
    default_drop (-1, no item matched)."""
    action = F.lit("default_drop")
    for i in range(len(policy) - 1, -1, -1):
        item = policy[i]
        a = ("downsample" if item.keep and item.mutations
             else "keep" if item.keep else "drop")
        action = F.when(F.col("policy_idx") == i, a).otherwise(action)
    return action.alias("action")


def _report_aggs() -> list[Column]:
    return [F.count(F.lit(1)).alias("n_samples"),
            F.countDistinct("_sk").alias("n_series")]


def retention_report(points: DataFrame, policy: list[PolicyItem], now) -> DataFrame:
    """DRY-RUN audit of a policy — what an operator checks BEFORE
    letting the job rewrite 100 TB of store: per first-match policy
    item (plus the -1 default-DROP band), how many samples and distinct
    series it touches and what happens to them. One scan + one
    aggregation; the same ``policy_index`` expression the live job
    uses, so the report can never disagree with the rewrite. Output
    (``REPORT_SCHEMA``): (policy_idx, action ∈
    keep|downsample|drop|default_drop, n_samples, n_series), ordered by
    policy_idx."""
    return (
        _report_input(points, policy, now)
        .groupBy("policy_idx")
        .agg(*_report_aggs())
        .select("policy_idx", _action(policy), "n_samples", "n_series")
        .orderBy("policy_idx")
    )


def retention_census(points: DataFrame, policy: list[PolicyItem],
                     now) -> tuple[list, int, int]:
    """``(report rows, variables, values)`` from ONE aggregation of
    ``points``: the rows ``retention_report(...).collect()`` returns,
    plus the distinct series and the samples of the whole frame (the
    reference runner's closing counters, store_file_manager.cc:170-171).
    A rollup over policy_idx adds the grand total as one more grouping
    set, so the frame is scanned and its series keys rendered once."""
    rows = (
        _report_input(points, policy, now)
        .rollup("policy_idx")
        .agg(*_report_aggs(), F.grouping("policy_idx").alias("_total"))
        .select("policy_idx", _action(policy), "n_samples", "n_series",
                "_total")
        .collect()
    )
    report = sorted((tuple(r[:4]) for r in rows if not r["_total"]),
                    key=lambda r: r[0])
    total = [r for r in rows if r["_total"]]
    if not total:  # an empty frame has no grouping sets at all
        return report, 0, 0
    return report, total[0]["n_series"], total[0]["n_samples"]


def run_retention_job(spark, store_path: str, policy: list[PolicyItem], now,
                      n_buckets: int = 16) -> None:
    """W1 as the background maintenance job (the reference ticks every
    ``interval`` seconds, default 600 — lib/openinstrument.proto:211,
    runner server/store_file_manager.cc:87-191): read the partitioned
    store, apply the policy, and rewrite the date partitions that hold
    a row outside the plain-keep bands: a dropped, default-dropped or
    downsample-band row. Dates holding only plain-keep rows are never
    rewritten. A downsample band's rows stay in their band once
    downsampled, so every date holding downsampled history is rewritten
    on every run, its already-downsampled rows included (a fixpoint:
    the rows come back unchanged). Write cost therefore tracks the aged
    data plus all downsampled history, not only newly aged rows. The
    replacement reads only the rewritten dates (a ``dt`` partition
    filter) and lands through ``sources.ingest.replace_dates``."""
    from open_instrument_spark.sources.ingest import (
        POINTS_PARTITION_COLS,
        read_store,
        replace_dates,
    )

    # drop() ignores absent columns, so both the plain dt/bucket layout
    # and the streaming sink's epoch=N/dt/bucket layout normalize here.
    store = read_store(spark, store_path)
    pts = store.drop(*POINTS_PARTITION_COLS)
    tagged = pts.withColumn("_policy", policy_index(pts, policy, now))
    plain_idx = [
        i for i, item in enumerate(policy) if item.keep and not item.mutations
    ]
    nonplain = [
        (i, item) for i, item in enumerate(policy)
        if not (item.keep and not item.mutations)
    ]

    # A partition needs rewriting iff it contains any row NOT in a
    # plain-keep band (dropped, default-dropped, or downsampled). This is
    # policy-driven — no row-count proxy, so e.g. a band downsampled
    # 1-row→1-row is still detected.
    is_plain = (
        F.col("_policy").isin(plain_idx) if plain_idx else F.lit(False)
    )
    touched = tagged.filter(~is_plain)
    # Scan prune: rows younger than the youngest EXPLICIT non-plain
    # band's min_age can't match one of those bands — but they can still
    # be policy_index = -1 (default DROP) if nothing matches them at all.
    # The prune is therefore only sound when some universal plain item
    # ('*', no labels, min_age unset, max_age covering the cutoff)
    # guarantees young rows always match; otherwise scan everything.
    min_ages = [item.min_age_ms or 0 for _, item in nonplain]
    cutoff_ms = min(min_ages) if min_ages else 0
    young_covered = any(
        item.keep
        and not item.mutations
        and tuple(item.variables) == ("*",)
        and item.min_age_ms in (None, 0)
        and (item.max_age_ms is None or item.max_age_ms >= cutoff_ms)
        for item in policy
    )
    if cutoff_ms > 0 and young_covered:
        horizon = F.lit(now).cast("timestamp").cast("double") - cutoff_ms / 1000.0
        touched = touched.filter(F.col("ts").cast("double") <= horizon)
    del_dates = [
        r["d"] for r in touched.select(F.to_date("ts").alias("d")).distinct().collect()
    ]
    if not del_dates:
        return

    # Replacement rows: plain-keep rows that share a touched partition,
    # plus the full downsampled output of every mutated KEEP band. Band
    # rows are non-plain, hence all inside the touched dates, so the
    # replacement reads only those dates' partitions. A band's output
    # may anchor into other dates: replace_dates adds it there.
    cur = store.filter(F.col("dt").isin(del_dates)).drop(*POINTS_PARTITION_COLS)
    cur = cur.withColumn("_policy", policy_index(cur, policy, now))
    cols = pts.columns
    outs = []
    if plain_idx:
        outs.append(cur.filter(is_plain).select(*cols))
    for i, item in nonplain:
        if item.keep and item.mutations:
            band = cur.filter(F.col("_policy") == i).drop("_policy")
            outs.append(_mutate.pipeline(band, list(item.mutations)).select(*cols))
    replacement = outs[0] if outs else pts.limit(0)
    for o in outs[1:]:
        replacement = replacement.unionByName(o)
    replace_dates(store, store_path, del_dates, replacement, n_buckets=n_buckets)
