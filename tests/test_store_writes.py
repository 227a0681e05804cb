"""The points store's write paths: write_points' one-exchange layout,
the streaming sink's fused dedup + write, replace_dates' publish by
rename and its crash recovery, the maintenance tick's one-scan report,
and the storage seam (``storefs``) that holds every directory listing,
removal and rename of a store."""

from __future__ import annotations

import ast
import datetime as dt
import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from open_instrument_spark import storefs
from open_instrument_spark.model import series_key
from open_instrument_spark.operators.retention import (
    PolicyItem,
    retention_report,
    run_retention_job,
)
from open_instrument_spark.plans.maintenance import maintenance_tick
from open_instrument_spark.sources import ingest
from open_instrument_spark.streaming.ingest import (
    read_points_stream,
    start_ingest,
)

NOW = "2024-01-31 00:00:00"
SCHEMA = ("name string, labels map<string,string>, ts timestamp, "
          "dval double, sval string")


def _pts(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _files(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                            recursive=True))


def _rows(spark, root):
    return sorted(
        (r["sk"], r["ts"], r["dval"], r["sval"])
        for r in spark.read.parquet(root)
        .select(series_key().alias("sk"), "ts", "dval", "sval").collect())


def _leaves(root):
    """{leaf directory relative to root: its parquet files}."""
    out: dict[str, list[str]] = {}
    for f in _files(root):
        out.setdefault(os.path.relpath(os.path.dirname(f), root), []).append(f)
    return out


def _reference_write(points, path, n_buckets, name_buckets=None):
    """write_points' layout through the exchange on the partition
    columns themselves: every (dt[, name_bucket], bucket) lands in one
    task, rows sorted by (series key, ts)."""
    pts = (points.withColumn("_sk", series_key())
           .withColumn("dt", F.to_date("ts"))
           .withColumn("bucket", F.pmod(F.hash("_sk"), F.lit(n_buckets))))
    cols = ["dt", "bucket"]
    if name_buckets is not None:
        pts = pts.withColumn("name_bucket",
                             F.pmod(F.hash("name"), F.lit(name_buckets)))
        cols = ["dt", "name_bucket", "bucket"]
    (pts.repartition(*cols).sortWithinPartitions(*cols, "_sk", "ts")
     .drop("_sk").write.partitionBy(*cols).parquet(path))


def _many_series(spark):
    rows = [(f"/m{i % 5}", {"h": f"h{i % 11}", "k": "v"},
             dt.datetime(2024, 1, 1 + i % 3, i % 24, (7 * i) % 60),
             float(i), None) for i in range(1200)]
    # several input partitions, in no particular order
    return _pts(spark, rows).repartition(6)


@pytest.mark.parametrize("name_buckets", [None, 3])
def test_write_points_one_file_per_leaf_like_reference(spark, tmp_path,
                                                       name_buckets):
    """Every leaf directory holds exactly one file, whose rows and row
    order equal the reference write's (sorted by series key, then ts)."""
    pts = _many_series(spark)
    got, want = str(tmp_path / "got"), str(tmp_path / "want")
    ingest.write_points(pts, got, n_buckets=4, name_buckets=name_buckets)
    _reference_write(pts, want, 4, name_buckets)
    got_leaves, want_leaves = _leaves(got), _leaves(want)
    assert sorted(got_leaves) == sorted(want_leaves)
    depth = 2 if name_buckets is None else 3
    assert all(len(leaf.split(os.sep)) == depth for leaf in got_leaves)
    for leaf, files in got_leaves.items():
        assert len(files) == 1, leaf
        want_rows = [r for f in want_leaves[leaf]
                     for r in pq.read_table(f).to_pylist()]
        assert pq.read_table(files[0]).to_pylist() == want_rows, leaf


def _drain(spark, tmp_path, rows):
    """Land ``rows`` as one file and drain it with the streaming sink;
    returns the store and the jobs the drain launched."""
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    _pts(spark, rows).coalesce(1).write.parquet(src)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    q = start_ingest(read_points_stream(spark, src), dest,
                     str(tmp_path / "ckpt"), n_buckets=2, now=NOW)
    q.awaitTermination(120)
    assert q.exception() is None
    return dest, sched.nextJobId() - before


def test_sink_keeps_greatest_duplicate(spark, tmp_path):
    """Conflicting (series key, ts) samples in one micro-batch resolve
    to the greatest (dval, sval), the same rows batch ``dedup`` keeps;
    an empty label value keys like its absence."""
    t0 = dt.datetime(2024, 1, 30, 1)
    rows = [
        ("/d", {"h": "a"}, t0, 1.0, None),
        ("/d", {"h": "a", "e": ""}, t0, 3.0, None),
        ("/d", {"h": "a"}, t0, 2.0, None),
        ("/s", None, t0, None, "a"),
        ("/s", None, t0, None, "b"),
        ("/t", {}, t0, 1.0, "x"),
        ("/t", {}, t0, 1.0, "y"),
        ("/t", {}, t0 + dt.timedelta(minutes=1), 0.5, None),
    ]
    dest, _ = _drain(spark, tmp_path, rows)
    got = _rows(spark, dest)
    assert got == [("/d{h=a}", t0, 3.0, None), ("/s", t0, None, "b"),
                   ("/t", t0, 1.0, "y"),
                   ("/t", t0 + dt.timedelta(minutes=1), 0.5, None)]
    want = sorted((r["sk"], r["ts"], r["dval"], r["sval"]) for r in
                  ingest.dedup(_pts(spark, rows))
                  .select(series_key().alias("sk"), "ts", "dval", "sval")
                  .collect())
    assert got == want


def test_sink_batch_launches_two_jobs(spark, tmp_path):
    """One micro-batch is one shuffle stage and one write: validate,
    dedup and the partitioned write share a single exchange."""
    rows = [(f"/m{i % 3}", {"h": f"h{i % 4}"},
             dt.datetime(2024, 1, 29) + dt.timedelta(minutes=7 * i),
             float(i), None) for i in range(200)]
    rows += rows[:20]  # replayed samples
    dest, jobs = _drain(spark, tmp_path, rows)
    assert jobs == 2
    assert len(_rows(spark, dest)) == 200


def _aged_store(spark, store):
    """One series in three bands (recent raw, aged, ancient)."""
    rows = [("/m", {"h": "a"}, dt.datetime(2024, 1, 30, 0, mi), 1.0, None)
            for mi in range(3)]
    rows += [("/m", {"h": "a"}, dt.datetime(2022, 1, 30, h), 10.0 + h, None)
             for h in range(4)]
    rows += [("/m", {"h": "a"}, dt.datetime(1924, 1, 30), 5.0, None)]
    ingest.write_points(_pts(spark, rows), store, n_buckets=2)


POLICY = [
    PolicyItem(("*",), keep=True, max_age="4w"),
    PolicyItem(("*",), keep=True, min_age="4w", max_age="5y",
               mutations=(("mean", "1d"),)),
]


def test_weekly_band_joins_an_untouched_date(spark, tmp_path):
    """Plain layout: a weekly mean anchors into a date the policy does
    not touch. The date keeps its files and the new file joins them."""
    store = str(tmp_path / "store")
    keep = [("/keep", {"h": "a"}, dt.datetime(2022, 1, 27, h), 1.0, None)
            for h in range(3)]
    weekly = [("/weekly", {"h": "a"}, dt.datetime(2022, 1, 30, h), 2.0 * h,
               None) for h in range(3)]
    recent = [("/r", {"h": "a"}, dt.datetime(2024, 1, 30), 9.0, None)]
    ingest.write_points(_pts(spark, keep + weekly + recent), store,
                        n_buckets=2)
    before = _files(os.path.join(store, "dt=2022-01-27"))
    policy = [PolicyItem(("/keep",), keep=True),
              PolicyItem(("/weekly",), keep=True, min_age="4w",
                         max_age="5y", mutations=(("mean", "1w"),)),
              PolicyItem(("*",), keep=True, max_age="4w")]
    run_retention_job(spark, store, policy, NOW, n_buckets=2)
    after = _files(os.path.join(store, "dt=2022-01-27"))
    assert set(before) < set(after) and len(after) == len(before) + 1
    assert not glob.glob(os.path.join(store, "dt=2022-01-30"))
    assert _rows(spark, store) == sorted(
        [("/keep{h=a}", ts, v, s) for _, _, ts, v, s in keep]
        + [("/weekly{h=a}", dt.datetime(2022, 1, 27), 2.0, None),
           ("/r{h=a}", dt.datetime(2024, 1, 30), 9.0, None)])
    assert not os.path.exists(store + "_replace_staging")


def test_epoch_store_rewrite_lands_in_one_fresh_epoch(spark, tmp_path):
    """Epoch layout: every rewritten date moves to one fresh negative
    epoch; untouched dates stay where they were."""
    store = str(tmp_path / "store")
    aged = [("/m", {"h": "a"}, dt.datetime(2022, 1, d, h), 1.0 + h, None)
            for d in (20, 21) for h in range(2)]
    recent = [("/m", {"h": "a"}, dt.datetime(2024, 1, 30, 1), 7.0, None)]
    ingest.write_points(_pts(spark, aged[:2] + recent), f"{store}/epoch=0",
                        n_buckets=2)
    ingest.write_points(_pts(spark, aged[2:]), f"{store}/epoch=1",
                        n_buckets=2)
    run_retention_job(spark, store, POLICY, NOW, n_buckets=2)
    dates = {os.path.relpath(d, store)
             for d in glob.glob(os.path.join(store, "epoch=*", "dt=*"))}
    assert dates == {"epoch=-1/dt=2022-01-20", "epoch=-1/dt=2022-01-21",
                     "epoch=0/dt=2024-01-30"}
    assert _rows(spark, store) == [
        ("/m{h=a}", dt.datetime(2022, 1, 20), 1.5, None),
        ("/m{h=a}", dt.datetime(2022, 1, 21), 1.5, None),
        ("/m{h=a}", dt.datetime(2024, 1, 30, 1), 7.0, None)]
    assert not os.path.exists(store + "_replace_staging")


def test_failed_staging_write_leaves_store_unchanged(spark, tmp_path,
                                                     monkeypatch):
    """The staging write completes before anything is deleted: a write
    that fails after its files landed leaves the store as it was."""
    store = str(tmp_path / "store")
    _aged_store(spark, store)
    files0, rows0 = _files(store), _rows(spark, store)
    real = ingest.write_points

    def failing(points, path, *args, **kwargs):
        real(points, path, *args, **kwargs)
        if path.endswith("_replace_staging"):
            raise RuntimeError("staging write failed")

    monkeypatch.setattr(ingest, "write_points", failing)
    with pytest.raises(RuntimeError, match="staging write failed"):
        run_retention_job(spark, store, POLICY, NOW, n_buckets=2)
    assert _files(store) == files0
    assert _rows(spark, store) == rows0


@pytest.mark.parametrize("dry_run", [True, False])
def test_tick_report_equals_its_definition(spark, tmp_path, dry_run):
    """The tick's report and counters come from one aggregation; they
    equal retention_report, countDistinct(series_key()) and count on
    the tick-start store: one series across three bands, an empty label
    value keying like its absence, a null label map."""
    store = str(tmp_path / "store")
    _aged_store(spark, store)
    more = [("/m", {"h": "a", "e": ""}, dt.datetime(2022, 1, 30, 5), 3.0,
             None),
            ("/n", None, dt.datetime(2024, 1, 30, 2), 1.0, None),
            ("/n", None, dt.datetime(2022, 1, 29), 2.0, None)]
    ingest.write_points(_pts(spark, more), store, n_buckets=2)
    pts = ingest.read_store(spark, store).drop(*ingest.POINTS_PARTITION_COLS)
    want = retention_report(pts, POLICY, NOW)
    want_rows = [tuple(r) for r in want.collect()]
    totals = pts.select(F.countDistinct(series_key()).alias("v"),
                        F.count(F.lit(1)).alias("n")).first()
    report, summary = maintenance_tick(spark, store, POLICY, NOW,
                                       dry_run=dry_run, n_buckets=2)
    assert [tuple(r) for r in report.collect()] == want_rows
    assert report.schema == want.schema
    assert (summary["variables"], summary["values"]) == (2, 11) == tuple(totals)
    assert want_rows == [(-1, "default_drop", 1, 1), (0, "keep", 4, 2),
                         (1, "downsample", 6, 2)]


def _one_aged_date(spark, store, days=(30,)):
    """Four aged rows on each of ``days`` of 2022-01 plus one recent
    row: under POLICY each aged date folds to one daily mean."""
    rows = [("/m", {"h": "a"}, dt.datetime(2022, 1, d, h), 10.0 + h, None)
            for d in days for h in range(4)]
    rows += [("/m", {"h": "a"}, dt.datetime(2024, 1, 30, 1), 1.0, None)]
    ingest.write_points(_pts(spark, rows), store, n_buckets=2)


def _dirs(root):
    return sorted(os.path.relpath(d, root) for d in _leaves(root))


@pytest.mark.parametrize("step,call,days", [
    ("remove", 1, (30,)),    # before any delete: record, nothing deleted
    ("publish", 1, (30,)),   # deletes done, nothing published
    ("publish", 2, (29, 30)),  # one date published, one still staged
])
def test_interrupted_replacement_finishes_on_next_run(
        spark, tmp_path, monkeypatch, step, call, days):
    """A crash anywhere after the staging write is finished by the next
    run: the store ends equal to an uninterrupted run's."""
    want, store = str(tmp_path / "want"), str(tmp_path / "store")
    _one_aged_date(spark, want, days)
    _one_aged_date(spark, store, days)
    run_retention_job(spark, want, POLICY, NOW, n_buckets=2)
    real = getattr(storefs, step)
    calls = []

    def crash(*args):
        calls.append(args)
        if len(calls) == call:
            raise OSError("crash")
        real(*args)

    monkeypatch.setattr(storefs, step, crash)
    with pytest.raises(OSError, match="crash"):
        run_retention_job(spark, store, POLICY, NOW, n_buckets=2)
    monkeypatch.setattr(storefs, step, real)
    staging = storefs.replace_staging(store)
    assert glob.glob(os.path.join(staging, "dt=*"))
    if step == "publish" and call == 1:
        # the FOUND state: only the recent row is left in the store
        assert _rows(spark, store) == [
            ("/m{h=a}", dt.datetime(2024, 1, 30, 1), 1.0, None)]
    # the dry run stays read-only
    maintenance_tick(spark, store, POLICY, NOW, dry_run=True, n_buckets=2)
    assert glob.glob(os.path.join(staging, "dt=*"))
    run_retention_job(spark, store, POLICY, NOW, n_buckets=2)
    assert not os.path.exists(staging)
    assert _rows(spark, store) == _rows(spark, want)
    assert _dirs(store) == _dirs(want)


def test_failed_staging_write_is_discarded_by_next_run(spark, tmp_path,
                                                       monkeypatch):
    """Staged rows without a record were never swapped in: recovery
    removes them and leaves the store as it was."""
    store = str(tmp_path / "store")
    _aged_store(spark, store)
    files0 = _files(store)
    real = ingest.write_points

    def failing(points, path, *args, **kwargs):
        real(points, path, *args, **kwargs)
        raise RuntimeError("staging write failed")

    monkeypatch.setattr(ingest, "write_points", failing)
    with pytest.raises(RuntimeError, match="staging write failed"):
        run_retention_job(spark, store, POLICY, NOW, n_buckets=2)
    monkeypatch.setattr(ingest, "write_points", real)
    staging = storefs.replace_staging(store)
    assert glob.glob(os.path.join(staging, "dt=*"))
    assert storefs.recover_replacement(store)
    assert not os.path.exists(staging)
    assert _files(store) == files0
    assert not storefs.recover_replacement(store)


def test_partition_listing_skips_files_and_other_entries(tmp_path):
    root = tmp_path / "store"
    for d in ("dt=2024-01-01/bucket=0", "dt=2024-01-02", "_temporary/0",
              "bucket=1", "epoch=0/dt=2024-01-02/bucket=1", "epoch=-1",
              "epoch=x/dt=2024-01-03", "epoch=12"):
        (root / d).mkdir(parents=True)
    for f in ("_SUCCESS", "._SUCCESS.crc", "dt=2024-01-05", "epoch=3",
              "dt=2024-01-01/bucket=0/part-0.parquet",
              "dt=2024-01-01/bucket=0/.part-0.parquet.crc",
              "epoch=0/dt=2024-01-02/bucket=1/part-1.parquet"):
        (root / f).touch()
    root = str(root)
    assert storefs.partitions(root, "dt") == {
        "2024-01-01": os.path.join(root, "dt=2024-01-01"),
        "2024-01-02": os.path.join(root, "dt=2024-01-02")}
    assert storefs.partitions(os.path.join(root, "missing"), "dt") == {}
    assert storefs.int_partitions(root, "epoch") == [-1, 0, 12]
    dates = storefs.date_dirs(root)
    assert {d: sorted(os.path.relpath(p, root) for p in ps)
            for d, ps in dates.items()} == {
        "2024-01-01": ["dt=2024-01-01"],
        "2024-01-02": ["dt=2024-01-02", "epoch=0/dt=2024-01-02"],
        "2024-01-03": ["epoch=x/dt=2024-01-03"]}
    assert storefs.parquet_files(dates["2024-01-01"]) == 1
    assert storefs.parquet_files(dates["2024-01-02"]) == 1
    assert storefs.present(root, "bucket=1", "_SUCCESS", "nope") == [
        "bucket=1"]


# the modules that hold store rewrites; their directory work goes
# through storefs
_STORE_MODULES = ("sources/ingest.py", "plans/maintenance.py",
                  "operators/graphstore.py", "operators/indexstore.py")
_FS_CALLS = {"listdir", "scandir", "walk", "rename", "replace", "remove",
             "rmdir", "makedirs", "mkdir", "path.isdir", "path.isfile",
             "path.exists"}


def _dotted(node):
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
    return ".".join(reversed(parts))


@pytest.mark.parametrize("module", _STORE_MODULES)
def test_store_directory_work_goes_through_storefs(module):
    """No store module lists, checks, removes or renames a directory
    itself, or parses a ``<col>=<value>`` name."""
    import open_instrument_spark

    path = os.path.join(os.path.dirname(open_instrument_spark.__file__),
                        module)
    tree = ast.parse(open(path).read())
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            mods = ([a.name for a in node.names]
                    if isinstance(node, ast.Import) else [node.module])
            assert not {"glob", "shutil"} & set(mods), (module, node.lineno)
        if isinstance(node, ast.Call):
            name = _dotted(node.func)
            assert not (name.startswith("os.")
                        and name[3:] in _FS_CALLS), (module, name)
            assert not (name.endswith(".split") and node.args
                        and isinstance(node.args[0], ast.Constant)
                        and node.args[0].value == "="), (module, node.lineno)
