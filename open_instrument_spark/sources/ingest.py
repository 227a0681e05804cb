"""Batch ingest pipeline (SURVEY.md §2.1 S1-S5, S8).

Reference Add path (server/store.cc:381-478): decode → hostname label
defaulting → name validation → ring routing → retention DROP check →
timestamp guards → RLE append + WAL. The Spark replacements:

- WAL/framing (S7) ⇒ Parquet atomic commits / streaming checkpoints;
- hash-ring routing (S6) ⇒ shuffle partitioning on the series key;
- reindex (S8) ⇒ partitioned, sorted Parquet write (row-group min/max
  stats ARE the reference's per-variable ts index);
- the validation/defaulting/dedup steps remain as declarative ops below.

Partition layout for 100 TB: ``dt=YYYY-MM-DD / bucket=hash(series)%N``.
Date partition → partition pruning for time-range queries (the dominant
predicate); hash bucket → bounded file counts and co-located series for
per-series window work. Files are sorted by (series_key, ts) within
partitions (datastore.go:731-732 analog) so row-group stats are tight.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from open_instrument_spark.model import (
    POINTS_SCHEMA,
    drop_staged_columns,
    series_key,
)

NAME_RE = r"^/\S+$"  # starts with /, no whitespace, len>=2 (store.cc:414-417)

# Strict mode: the charset the reference DECLARES (lib/variable.h:22-33)
# rather than the looser check its server RUNS (store.cc:414-417).
#   variable name chars:  a-z A-Z 0-9 . _ - / * ,
#   label name chars:     a-z A-Z 0-9 . _ - / *
#   label values:         any UTF-8 except NUL
STRICT_NAME_RE = r"^/[A-Za-z0-9._\-/*,]+$"
STRICT_LABEL_KEY_RE = r"^[A-Za-z0-9._\-/*]+$"

# Every partition column a points store can carry: write_points' dt,
# name_bucket and bucket, plus the streaming sink's epoch. Dropping them
# from a store read gives back the points schema.
POINTS_PARTITION_COLS = ("dt", "bucket", "name_bucket", "epoch")


def _key_expr(points: DataFrame):
    """Canonical key expression — the frame's precomputed ``series_key``
    column when it carries one (model.with_series_key), else the render."""
    return (F.col("series_key") if "series_key" in points.columns
            else series_key())


def default_hostname(points: DataFrame, source_host) -> DataFrame:
    """S2: force a ``hostname`` label when absent (server/store.cc:405-409).
    ``source_host`` may be a literal or a Column."""
    host = F.lit(source_host) if isinstance(source_host, str) else source_host
    has = F.map_contains_key(F.col("labels"), F.lit("hostname"))
    labels = F.when(has, F.col("labels")).otherwise(
        F.map_concat(F.coalesce(F.col("labels"), F.create_map()), F.create_map(F.lit("hostname"), host))
    )
    # the labels map changes → any precomputed series_key/_label_* column
    # would be stale (model.drop_staged_columns)
    return drop_staged_columns(points.withColumn("labels", labels))


def _valid_predicate(now=None, max_future_s: int = 1, strict: bool = False):
    """Single source of truth for S3+S4 validity — validate() and
    rejected() must partition the input exactly.

    ``strict=True`` additionally enforces the charset the reference
    declares (lib/variable.h:22-33): name chars, label-key chars, and
    NUL-free label values. Every component is coalesced to a non-null
    boolean so validate()/rejected() stay an exact partition even on
    null labels/values.
    """
    ok_name = F.col("name").rlike(NAME_RE) & (F.length("name") >= 2)
    now_expr = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    ok_ts = F.col("ts") <= now_expr + F.expr(f"INTERVAL {max_future_s} SECOND")
    ok = ok_name & ok_ts
    if strict:
        ok_strict_name = F.col("name").rlike(STRICT_NAME_RE)
        ok_keys = F.coalesce(
            F.forall(F.map_keys("labels"), lambda k: k.rlike(STRICT_LABEL_KEY_RE)),
            F.lit(True),
        )
        ok_vals = F.coalesce(
            F.forall(
                F.map_values("labels"),
                lambda v: ~F.coalesce(v.contains(F.lit(chr(0))), F.lit(False)),
            ),
            F.lit(True),
        )
        ok = ok & ok_strict_name & ok_keys & ok_vals
    return ok


def validate(
    points: DataFrame, now=None, max_future_s: int = 1, strict: bool = False
) -> DataFrame:
    """S3 name validation + S4 future-timestamp guard.

    Invalid names (not ``^/\\S+$`` or len<2) are rejected
    (server/store.cc:414-417); timestamps more than ``max_future_s``
    ahead of now are rejected (clock-drift allowance,
    server/store.cc:435-438). OLD data is kept — the reference only
    warns at >1 y (store.cc:439-440) and our streaming path must not
    watermark-drop late data (SURVEY.md §2.8).

    ``strict=True`` opts into the charset the reference declares
    (lib/variable.h:22-33) on top of the runtime check — see
    ``_valid_predicate``.
    """
    return points.filter(_valid_predicate(now, max_future_s, strict))


def rejected(
    points: DataFrame, now=None, max_future_s: int = 1, strict: bool = False
) -> DataFrame:
    """Dead-letter complement of validate() (the reference counts these,
    store.cc:416,437)."""
    return points.filter(~_valid_predicate(now, max_future_s, strict))


def _keep_greatest(points: DataFrame, *keys) -> DataFrame:
    """One row per ``keys`` group: the one with the greatest (dval,
    sval), nulls last. This is the dedup tie-break; ``dropDuplicates``
    would keep an arbitrary row, which varies run to run and can
    disagree with a SQL oracle."""
    w = Window.partitionBy(*keys).orderBy(
        F.col("dval").desc_nulls_last(), F.col("sval").desc_nulls_last()
    )
    return (
        points.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup(points: DataFrame) -> DataFrame:
    """Exactly-once upgrade (SURVEY.md §2.8): drop duplicate
    (series_key, ts) samples. The reference's WAL replay can
    double-append (disk_datastore.cc:112-128 has no dedup). Conflicting
    samples (same key and ts, different payload) resolve to the
    greatest (dval, sval) (:func:`_keep_greatest`)."""
    pts = points.withColumn("_sk", _key_expr(points))
    return _keep_greatest(pts, "_sk", "ts").drop("_sk")


def ingest_batch(points: DataFrame, source_host: str | None = None, now=None) -> DataFrame:
    """S1 Add pipeline: defaulting → validation → dedup. Routing (S6) is
    left to the writer's partitioning."""
    out = points
    if source_host is not None:
        out = default_hostname(out, source_host)
    return dedup(validate(out, now=now))


def _store_layout(points: DataFrame, n_buckets: int,
                  name_buckets: int | None = None):
    """The store's partition columns over ONE exchange.

    Returns ``(frame, partition columns)``. The frame carries the
    rendered series key ``_sk``, ``dt``, ``bucket = pmod(hash(_sk), N)``
    and, with ``name_buckets``, ``name_bucket``; it is hash partitioned
    by ``repartition(n_buckets, "_sk")``. Spark places a row in
    partition ``pmod(murmur3(_sk), n_buckets)``, which is its ``bucket``
    value, so each task holds exactly one bucket and writes one file per
    date (and name bucket). The trade: a write runs ``n_buckets`` tasks,
    however many dates it spans.
    """
    pts = (
        points.withColumn("_sk", _key_expr(points))
        .withColumn("dt", F.to_date("ts"))
        .withColumn("bucket", F.pmod(F.hash("_sk"), F.lit(n_buckets)))
    )
    part_cols = ["dt", "bucket"]
    if name_buckets is not None:
        pts = pts.withColumn(
            "name_bucket", F.pmod(F.hash("name"), F.lit(name_buckets))
        )
        part_cols = ["dt", "name_bucket", "bucket"]
    return pts.repartition(n_buckets, "_sk"), part_cols


def _write_layout(pts: DataFrame, part_cols: list[str], path: str,
                  mode: str) -> None:
    """Write a :func:`_store_layout` frame: rows sorted by (series key,
    ts) inside each partition directory. Leading the sort with the
    partition columns is what the partitioned writer needs, so this is
    the only sort (a sort without them is replaced by the writer's own).

    The staged ``series_key``/``_label_*`` columns are an in-session
    fast path (model.STAGED_LABEL_PREFIX): they are derivable, so
    persisting them would bloat every store file and change the on-disk
    points schema the readers contract on."""
    from open_instrument_spark.model import STAGED_LABEL_PREFIX

    stale = ["_sk", "series_key"] + [
        c for c in pts.columns if c.startswith(STAGED_LABEL_PREFIX)
    ]
    (
        pts.sortWithinPartitions(*part_cols, "_sk", "ts")
        .drop(*stale)
        .write.mode(mode)
        .partitionBy(*part_cols)
        .parquet(path)
    )


def write_points(points: DataFrame, path: str, n_buckets: int = 16,
                 mode: str = "append", name_buckets: int | None = None) -> None:
    """S8 reindex analog: partitioned, sorted Parquet write.

    dt partition = time pruning; bucket partition = series co-location;
    within-file sort by (series_key, ts) = tight row-group stats + cheap
    downstream per-series windows. One exchange, one sort
    (:func:`_store_layout`, :func:`_write_layout`).

    ``name_buckets`` adds a ``name_bucket = pmod(hash(name), N)``
    partition level between dt and bucket — the Spark analog of the
    reference's per-variable block index (datastore.go:274-277; bloom
    variant indexed_store_file.go:110-117): an exact-name Get computes
    its own bucket and touches only 1/N of each day's files (see
    read_store). The series-hash ``bucket`` embeds labels so it cannot
    prune name-only matches. Directory count scales as
    dates x name_buckets x n_buckets — when enabling name_buckets, size
    n_buckets down so the product stays at the intended file count.
    """
    pts, part_cols = _store_layout(points, n_buckets, name_buckets)
    _write_layout(pts, part_cols, path, mode)


def write_deduped(points: DataFrame, path: str, n_buckets: int = 16,
                  mode: str = "append") -> None:
    """``write_points(dedup(points), ...)`` over write_points' one
    exchange. The dedup window's (series key, ts) grouping is satisfied
    by the hash partitioning on the series key, and its partition spec
    leads with the store's partition columns (functions of the key and
    ts, so the groups are the same), so the window's sort is also the
    writer's. The streaming sink's write."""
    pts, part_cols = _store_layout(points, n_buckets)
    _write_layout(_keep_greatest(pts, *part_cols, "_sk", "ts"), part_cols,
                  path, mode)


def write_points_bucketed(points: DataFrame, table: str, n_buckets: int = 64,
                          path: str | None = None,
                          mode: str = "overwrite") -> None:
    """S8 store as a Spark-native BUCKETED table: ``bucketBy(N,
    series_key)`` + per-bucket ``sortBy(series_key, ts)``.

    This is the co-located form of the store for mutation-heavy
    workloads: the bucketed scan itself reports
    ``hashpartitioning(series_key, N)``, which satisfies the
    distribution every per-series window mutation (M1-M9) requires — so
    RATE/DELTA/LATEST/resample plans over this table run with ZERO
    shuffle exchange (plan-asserted in
    test_bucketed_table_mutation_has_no_exchange). At 100 TB that
    deletes the one full-data exchange the directory store pays per
    mutation query; the trade is that N is fixed at write time and
    joins/aggs on other keys still shuffle. The directory store
    (:func:`write_points`) remains the general form — dt pruning,
    name_buckets, epoch overwrite; this is the derived, query-optimized
    layout a reindex job (W2) would maintain.

    ``path`` makes it an external table (data at ``path``, metadata in
    the session catalog) — without it the data lands in the session's
    warehouse dir. The catalog entry is what carries the bucketing spec;
    reading the bare parquet files would lose it.
    """
    pts = points
    if "series_key" not in pts.columns:
        pts = pts.withColumn("series_key", series_key())
    w = pts.write.mode(mode).format("parquet")
    if path is not None:
        w = w.option("path", path)
    (
        w.bucketBy(n_buckets, "series_key")
        .sortBy("series_key", "ts")
        .saveAsTable(table)
    )


def read_store(spark, path: str, variable: str | None = None,
               name_buckets: int | None = None) -> DataFrame:
    """Read a points store written by write_points or the streaming sink.

    The data columns are read with ``model.POINTS_SCHEMA``, so no read
    launches a Parquet footer-inference job; the partition columns
    (``dt``, ``bucket``, ``name_bucket``, ``epoch``) are still inferred
    from the directory names. An existing directory with no files reads
    as an empty points frame; a missing path raises. Date pruning comes
    from ``operators.select.time_range``, which bounds ``dt`` with the
    ts window.

    ``variable`` (F1) prunes further: an exact (non-glob) name on a
    name-bucketed store folds ``name_bucket = pmod(hash(name), N)`` to a
    literal partition filter — Spark's FileIndex then skips every other
    name bucket's files, the analog of the reference skipping unindexed
    blocks (datastore.go:274-277; bloom variant
    indexed_store_file.go:110-117). ``name_buckets`` must be the
    writer's value; it is deliberately NOT inferred from the directory
    layout (max present bucket + 1 would undercount a store whose names
    happen to miss a bucket, silently misrouting the filter). Glob names
    (F2) and label-only patterns can't prune a hash bucket; they fall
    back to a predicate scan.
    """
    df = spark.read.schema(POINTS_SCHEMA).parquet(path)
    if variable is None:
        return df
    from open_instrument_spark.functions.match import VariableMatcher

    m = VariableMatcher.from_string(variable)
    if name_buckets is not None and not m.name.endswith("*"):
        if "name_bucket" not in df.columns:
            raise ValueError(
                f"store at {path} has no name_bucket partition level; "
                "write it with write_points(..., name_buckets=N)"
            )
        # pmod(hash(lit)) is constant-folded by Catalyst, so this lands
        # in PartitionFilters, not a post-scan Filter.
        df = df.filter(
            F.col("name_bucket")
            == F.pmod(F.hash(F.lit(m.name)), F.lit(name_buckets))
        )
    return df.filter(m.predicate())


def compact(spark, path: str, n_buckets: int = 16) -> None:
    """W2 analog: rewrite small files into the canonical layout
    (the reference's block compaction, datastore.go:687-705, reduced to
    a repartition+rewrite). Also folds away the streaming sink's
    per-epoch partitioning (drop() ignores absent columns)."""
    df = read_store(spark, path)
    write_points(
        df.drop(*POINTS_PARTITION_COLS),
        path + "_compacted", n_buckets, mode="overwrite",
    )


def _dt_dirs(store_path: str) -> dict[str, list[str]]:
    """date string → its partition dirs, at either layout depth
    (store/dt=D and the streaming sink's store/epoch=N/dt=D)."""
    out: dict[str, list[str]] = {}
    for pat in ("dt=*", os.path.join("epoch=*", "dt=*")):
        for d in glob.glob(os.path.join(store_path, pat)):
            out.setdefault(os.path.basename(d).split("=", 1)[1], []).append(d)
    return out


def _publish(src: str, dst: str) -> None:
    """Move ``src`` to ``dst`` by rename. Where ``dst`` is an existing
    directory, ``src``'s entries move into it one by one, so what it
    already holds stays (Spark's part-file names carry a per-write id
    and never collide)."""
    if os.path.isdir(dst):
        for name in os.listdir(src):
            _publish(os.path.join(src, name), os.path.join(dst, name))
    else:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)


def replace_dates(store: DataFrame, store_path: str, dates, rows: DataFrame,
                  n_buckets: int = 16) -> None:
    """Replace everything a write_points store holds for ``dates`` with
    ``rows`` (points schema) — the one in-place rewrite protocol of the
    points store, shared by retention and date compaction.

    ``store`` is the caller's ``read_store(spark, store_path)`` frame;
    its columns tell whether the store is name-bucketed. The rows are
    written once, by ``write_points``, to a staging directory in the
    store's final layout, BEFORE any source partition is deleted (a
    lazy plan re-reading deleted files, or an evicted cache, would
    corrupt the rewrite). The dates' directories then go at both layout
    depths, and each staged ``dt=`` directory is renamed into the
    store's own partition depth: an epoch-layout store gets a fresh
    NEGATIVE epoch below every existing one, a plain store takes them
    at its root. A ``dt=`` directory that is still there (rows that
    anchor into a date outside ``dates``) takes the staged files one by
    one. The streaming sink's epochs are its checkpointed batch ids
    (always >= 0), so epoch ids never recycle and a resumed stream can
    never overwrite a rewrite. Single writer: run from the maintenance
    loop that owns the store. Local-FS renames; on a cluster the same
    steps go through the Hadoop FileSystem API.

    A name-bucketed store is rejected before anything is staged: its N
    is not recoverable from the directory names, and a rewrite without
    the ``name_bucket`` level would leave partition dirs of two shapes
    that no read can reconcile."""
    if "name_bucket" in store.columns:
        raise ValueError(
            f"store at {store_path} is name-bucketed; its dates cannot be "
            "rewritten in place without the writer's name_buckets"
        )
    staging = store_path.rstrip("/") + "_replace_staging"
    write_points(rows, staging, n_buckets=n_buckets, mode="overwrite")
    # whole date dirs go, so buckets the rewrite leaves empty go too
    dirs = _dt_dirs(store_path)
    for d in dates:
        for part in dirs.get(str(d), []):
            shutil.rmtree(part, ignore_errors=True)
    # dt=/bucket= at the root of an epoch=N store would mix partition
    # schemas (CONFLICTING_PARTITION_COLUMN_NAMES on every read)
    epoch_dirs = glob.glob(os.path.join(store_path, "epoch=*"))
    dest = store_path
    if epoch_dirs:
        epochs = []
        for p in epoch_dirs:
            try:
                epochs.append(int(os.path.basename(p).split("=", 1)[1]))
            except ValueError:
                pass
        dest = os.path.join(store_path, f"epoch={min(epochs, default=0) - 1}")
    for part in glob.glob(os.path.join(staging, "dt=*")):
        _publish(part, os.path.join(dest, os.path.basename(part)))
    shutil.rmtree(staging, ignore_errors=True)
