"""Canonical data model: the ``points`` DataFrame.

Reference mapping (SURVEY.md §1): the reference's unit of storage is a
``ValueStream`` — a ``StreamVariable`` (path-like ``name`` + label map,
``lib/openinstrument.proto:13-22``) plus repeated ``Value``s
(``timestamp_ms``, ``double_value | string_value``,
``lib/openinstrument.proto:72-80``). Instead of nested streams we keep ONE
flat, columnar points table; a "stream" is just a group key. This is the
Spark-native choice: flat rows give Parquet min/max pruning, column
projection and whole-stage codegen for free, and a stream-shaped result is
recoverable at the API edge with ``collect_list(struct(ts, dval))``.

points(
  name   STRING          -- '/system/stats/cpu/user' style
  labels MAP<STRING,STRING>
  ts     TIMESTAMP       -- ms precision
  dval   DOUBLE          -- XOR sval (proto:75-76)
  sval   STRING
)

Canonical series identity (reference: ``lib/variable.cc:47-69``,
``variable.go:38-64``): name + '{k=v,...}' with label keys SORTED and
values quoted when they contain specials. The reference keys storage
blocks, RLE grouping and the hash ring on this string; we reproduce it as
a deterministic column expression so groupBy keys (and shuffle
partitioning) agree with the reference's grouping semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

POINTS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("dval", T.DoubleType(), True),
        T.StructField("sval", T.StringType(), True),
    ]
)

# One shared quote/escape kernel: the grammar lives in canonical.py;
# these names stay importable here.
from open_instrument_spark.canonical import (  # noqa: E402
    canonical_variable as _canonical_variable,
    quote_label_value as quoted_label_value,  # noqa: F401 (re-export)
)

SERIES_KEY_COL = "series_key"

# Staged per-label scalar columns ("project early"): a source adapter
# that KNOWS its label shape may attach
# ``_label_<key>`` columns holding exactly ``labels[<key>]`` for each
# key it ever emits. Operators that read a label value
# (:func:`label_value`, the matcher) then reference a plain attribute
# instead of rebuilding the label map — which matters because a filter
# on ``labels[k]`` is pushed below the projection by substituting the
# WHOLE map-construction expression into the predicate (measured at
# sf0.1: the user-label bucket pass dropped 1.66 s → 0.10 s once the
# filter compiled to ``isnotnull(user_id)`` against the scan).
STAGED_LABEL_PREFIX = "_label_"


def label_value(points: DataFrame, label: str) -> Column:
    """``labels[label]`` — via the staged ``_label_<label>`` column when
    the frame carries one (bit-identical by construction; pinned in
    tests/test_model.py), else the map lookup."""
    staged = STAGED_LABEL_PREFIX + label
    if staged in points.columns:
        return F.col(staged)
    return F.col("labels").getItem(label)


def staged_label_columns(columns) -> dict[str, str]:
    """{label key: staged column name} for a frame's column list."""
    return {
        c[len(STAGED_LABEL_PREFIX):]: c
        for c in columns
        if c.startswith(STAGED_LABEL_PREFIX)
    }


def drop_staged_columns(points: DataFrame) -> DataFrame:
    """Drop the precomputed series_key and ``_label_*`` columns — REQUIRED
    before (or after) any operator that rewrites the ``labels`` map, or a
    downstream reuse would read a key/value rendered from the OLD labels."""
    stale = [c for c in points.columns
             if c == SERIES_KEY_COL or c.startswith(STAGED_LABEL_PREFIX)]
    return points.drop(*stale) if stale else points


def series_key(name: str = "name", labels: str = "labels") -> Column:
    """Canonical series string: ``name{k1=v1,k2=v2}`` with keys sorted.

    Mirrors ``Variable::ToString()`` (lib/variable.cc:47-69) / Go
    ``String()`` (variable.go:38-64): keys sorted lexicographically,
    empty-valued labels omitted (variable.cc:52-53), values quoted when
    the grammar requires (lib/variable.cc:71-105). Bare name (no/empty
    labels) has no braces — matches the reference's parse/round-trip
    tests (lib/variable_test.cc:26-41).

    Delegates to the ONE shared grammar kernel
    (:mod:`open_instrument_spark.canonical`) so grouping identity, the
    /export renderer/parser and the matcher agree exactly. Pure Catalyst
    expression: stays inside whole-stage codegen, usable as a
    shuffle/groupBy key at 100 TB with no Python involvement.
    """
    return _canonical_variable(name, labels)


def with_series_key(points: DataFrame) -> DataFrame:
    """Attach the canonical key as ``series_key``, reusing one the frame
    already carries (the events adapter ships one rendered from staged
    scalars; bit-equality with the render is pytest-pinned)."""
    if SERIES_KEY_COL in points.columns:
        return points
    return points.withColumn(SERIES_KEY_COL, series_key())


def epoch_seconds(ts: Column | str = "ts") -> Column:
    """Timestamp → fractional epoch seconds (double), µs precision.

    Cast via TIMESTAMP so TIMESTAMP_NTZ inputs (parquet without tz) work
    under any session; with the session pinned to UTC this equals the
    naive-UTC epoch an external oracle computes.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return c.cast("timestamp").cast("double")


def events_to_points(events: DataFrame) -> DataFrame:
    """Adapt the driver's ``events`` table to the points model.

    FIXTURES.md §2 mapping: event_type → series family (name),
    user_id → label, value → dval. The synthetic `events` table plays
    the role of collector output (reference collectors:
    client/python/system_status.py:41-110).

    A second, SPARSE label ``k`` is derived from the props JSON (kept only
    when k % 3 != 0) so that label presence/absence/regex matchers and
    label-grouped aggregations have real selectivity — mirroring the
    reference's partially-labeled series (e.g. not every series carries
    ``interface=``, config.txt:32-35).
    """
    # Stage the JSON extraction AND the two label scalars as real
    # projection columns: every downstream
    # reference — the label map, the canonical key, a label filter — then
    # reads a plain attribute. Staging matters twice over: (a) the value
    # is computed once per row instead of once per referencing
    # expression, and (b) a filter on a derived column is pushed below
    # the projection by SUBSTITUTING the full defining expression into
    # the predicate — with the map built from staged attributes the
    # pushed predicate collapses to a scan-level column test (measured:
    # the user-label bucket pass 1.66 s → 0.10 s at sf0.1, the pushed
    # filter's 12 get_json_object calls gone).
    staged = events.withColumn(
        "_kv", F.get_json_object("props", "$.k")
    ).withColumns({
        STAGED_LABEL_PREFIX + "k": F.when(
            F.col("_kv").cast("int") % 3 != 0, F.col("_kv")
        ),
        STAGED_LABEL_PREFIX + "user_id": F.col("user_id").cast("string"),
    })
    k_val = F.col(STAGED_LABEL_PREFIX + "k")
    uid = F.col(STAGED_LABEL_PREFIX + "user_id")
    k_ok = k_val.isNotNull()
    u_ok = uid.isNotNull()
    # Null labels dropped by BRANCHING between literal maps instead of
    # a map_filter HOF (HOF lambdas are interpreted, and this map feeds
    # every tsdb query's series_key HOFs downstream): measured −0.08..-0.16 s per query at sf0.1 on
    # the projection+series_key pass; output maps are entry-for-entry
    # identical for every null pattern (pinned in tests/test_model.py).
    labels = (
        F.when(k_ok & u_ok,
               F.create_map(F.lit("k"), k_val, F.lit("user_id"), uid))
        .when(k_ok, F.create_map(F.lit("k"), k_val))
        .when(u_ok, F.create_map(F.lit("user_id"), uid))
        .otherwise(F.create_map().cast("map<string,string>"))
    )
    name = F.concat(F.lit("/events/"), F.col("event_type"))
    # Canonical key rendered as a 4-way branch of plain concats — zero
    # interpreted HOFs (the generic render is map_entries → array_sort →
    # filter → transform → array_join; only the first two codegen). Keys
    # pre-sorted ('k' < 'user_id'); empty-valued entries cannot occur
    # (k is null unless it casts to a nonzero-mod int, user_id stringifies
    # a number), so the generic render's empty-drop filter is vacuous
    # here; quoting goes through THE shared quote kernel. Bit-equality
    # with canonical_variable is pinned over adversarial label values in
    # tests/test_model.py and over the full sf0.01/sf0.1 frames.
    qk = quoted_label_value(STAGED_LABEL_PREFIX + "k")
    qu = quoted_label_value(STAGED_LABEL_PREFIX + "user_id")
    sk = (
        F.when(k_ok & u_ok, F.concat(
            name, F.lit("{k="), qk, F.lit(",user_id="), qu, F.lit("}")))
        .when(k_ok, F.concat(name, F.lit("{k="), qk, F.lit("}")))
        .when(u_ok, F.concat(name, F.lit("{user_id="), qu, F.lit("}")))
        .otherwise(name)
    )
    # The three appended columns (series_key + the staged label scalars)
    # are an internal fast path: Catalyst prunes them wherever unused,
    # operators reuse them via with_series_key / label_value, and
    # every label-REWRITING operator drops them (drop_staged_columns).
    return staged.select(
        name.alias("name"),
        labels.alias("labels"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("dval"),
        F.lit(None).cast("string").alias("sval"),
        sk.alias(SERIES_KEY_COL),
        STAGED_LABEL_PREFIX + "k",
        STAGED_LABEL_PREFIX + "user_id",
    )
