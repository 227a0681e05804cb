"""PromQL label manipulation — ``label_replace`` and ``label_join``
(promql/functions.go funcLabelReplace / funcLabelJoin; public spec).
North-star extensions: the reference's variables carry labels
(lib/variable.cc) but it has no relabeling surface; every monitoring
engine grows one for dashboard/recording-rule hygiene (shard folding,
host → rack rollups, joining multi-label identities).

Spark shape: pure map-expression rewrites (map_filter + map_concat)
ahead of the canonical ``series_key`` serialization — no Python, no
shuffle, stays in whole-stage codegen; downstream grouping on the new
labels proceeds exactly as if the data had been ingested that way.

PromQL contract notes (both verified against the spec):
- label_replace: the regex must match the ENTIRE source value
  (anchored); a non-match leaves the series untouched; an absent
  source label matches as ""; an EMPTY replacement result removes the
  dst label (PromQL drops empty-valued labels — same rule as our
  canonical serialization, variable.cc:52-53).
- label_join: dst = the src values joined by ``sep`` (absent labels
  join as ""), always applied; an empty result string removes dst.

Regex dialect divergence (D18, DIVERGENCES.md): patterns/replacements
run on Java regex, not PromQL's RE2 — Java accepts a superset of
patterns (backreferences, lookaround), and in the replacement bare
``$name`` is a Java named-group reference (undefined references THROW
rather than expanding to "" as Go does). Use ``$1`` / ``${name}``
references to defined groups for cross-dialect-portable calls.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_instrument_spark.model import drop_staged_columns, label_value


def _set_label(labels: Column, dst: str, value: Column) -> Column:
    """labels with ``dst`` set to ``value`` (removed when value='')."""
    without = F.map_filter(labels, lambda k, _: k != F.lit(dst))
    with_dst = F.map_concat(
        without, F.create_map(F.lit(dst), value)
    )
    return F.when(value == "", without).otherwise(with_dst)


def label_replace(points: DataFrame, dst: str, replacement: str,
                  src: str, regex: str) -> DataFrame:
    """``label_replace(v, dst, replacement, src, regex)``: when
    ``regex`` fully matches the value of label ``src`` (absent = ""),
    set ``dst`` to ``replacement`` with ``$1``-style capture-group
    expansion; otherwise leave the row's labels unchanged. The regex is
    wrapped in an anchored non-capturing group so user group numbering
    survives."""
    anchored = f"^(?:{regex})$"
    # read through the staged scalar when present (bit-identical), and
    # DROP the staged key/label columns afterwards: they were rendered
    # from the pre-rewrite labels (model.drop_staged_columns).
    src_val = F.coalesce(label_value(points, src), F.lit(""))
    matches = src_val.rlike(anchored)
    new_val = F.regexp_replace(src_val, anchored, replacement)
    new_labels = F.when(matches,
                        _set_label(F.col("labels"), dst, new_val)) \
                  .otherwise(F.col("labels"))
    return drop_staged_columns(points.withColumn("labels", new_labels))


def label_join(points: DataFrame, dst: str, sep: str,
               *srcs: str) -> DataFrame:
    """``label_join(v, dst, sep, srcs...)``: dst = the src label values
    (absent = "") joined by ``sep``; an EMPTY result string removes dst
    (PromQL's rule — note two empty srcs under a non-empty sep join to
    the sep itself, which is non-empty and therefore kept, exactly as
    Go's strings.Join behaves)."""
    vals = [F.coalesce(label_value(points, s), F.lit("")) for s in srcs]
    joined = F.concat_ws(sep, *vals) if vals else F.lit("")
    return drop_staged_columns(points.withColumn(
        "labels", _set_label(F.col("labels"), dst, joined)
    ))
