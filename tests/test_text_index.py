"""Multi-query BM25 (operators/retrieval.py::bm25_multi) and the
on-disk inverted index (build/search/append_to_text_index): score
equality against the oracled single-query path, partition-pruned
search plans, append growth + retry idempotence, and exact N/avgdl
accounting across epochs."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from open_instrument_spark.operators import retrieval as rt
from open_instrument_spark.sources.tables import load_tables
from tests.conftest import SF_SMOKE

TERMS_A = ["dup", "vector", "window"]
TERMS_B = ["merge", "dup"]
QUERIES = {0: TERMS_A, 1: TERMS_B}


@pytest.fixture(scope="module")
def docs(spark):
    return (
        load_tables(spark, SF_SMOKE).table("documents")
        .select("doc_id", "text")
    )


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def test_multi_matches_single_query_path(spark, docs):
    """bm25_multi with one query reproduces bm25_topk exactly — the
    batched join formulation and the pivoted single-query formulation
    are the same model (same tf/df/dl integers, same weight bits)."""
    single = rt.bm25_topk(docs, TERMS_A, k=10)
    multi = rt.bm25_multi(docs, {7: TERMS_A}, k=10).drop("q_id")
    assert rows_of(multi) == rows_of(single)


def test_multi_duplicate_terms_collapse(spark, docs):
    """A repeated query term contributes once (bag-of-terms), matching
    the single-query path's dict.fromkeys dedup."""
    a = rt.bm25_multi(docs, {0: ["dup", "dup", "vector"]}, k=5)
    b = rt.bm25_multi(docs, {0: ["dup", "vector"]}, k=5)
    assert rows_of(a) == rows_of(b)


def test_disk_search_matches_in_plan(spark, docs, tmp_path):
    """search_text_index over a built index ≡ bm25_multi over the
    corpus — the on-disk layout changes where the postings live, not
    one bit of the scores."""
    path = str(tmp_path / "tidx")
    rt.build_text_index(docs, path, n_buckets=8)
    got = rt.search_text_index(spark, path, QUERIES, k=10)
    want = rt.bm25_multi(docs, QUERIES, k=10)
    assert rows_of(got) == rows_of(want)


def test_disk_search_prunes_buckets(spark, docs, tmp_path):
    """The postings read carries the bucket IN (...) partition filter
    (plan PartitionFilters) and the query touches strictly fewer
    bucket directories than exist — the search never scans the whole
    index."""
    path = str(tmp_path / "tidx")
    rt.build_text_index(docs, path, n_buckets=8)
    plan = (
        rt.search_text_index(spark, path, QUERIES, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:120]
    n_term_buckets = len({rt.term_bucket_py(t, 8)
                          for q in QUERIES.values() for t in q})
    all_buckets = glob.glob(os.path.join(path, "postings", "epoch=-1",
                                         "bucket=*"))
    assert n_term_buckets < len(all_buckets)


def test_append_equals_full_build(spark, docs, tmp_path):
    """build(half1) + append(half2) answers every query exactly like
    build(all): N, avgdl, df, and every posting accumulate correctly
    across epoch partitions."""
    half1 = docs.where(F.col("doc_id") % 2 == 0)
    half2 = docs.where(F.col("doc_id") % 2 == 1)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    rt.build_text_index(half1, inc, n_buckets=8)
    rt.append_to_text_index(half2, inc)
    rt.build_text_index(docs, full, n_buckets=8)
    got = rt.search_text_index(spark, inc, QUERIES, k=10)
    want = rt.search_text_index(spark, full, QUERIES, k=10)
    assert rows_of(got) == rows_of(want)


def test_append_retry_is_idempotent(spark, docs, tmp_path):
    """A replayed epoch-pinned append is a no-op repair with NO caller
    bookkeeping: postings AND meta land in per-epoch partitions that
    the replay simply overwrites (meta rows sum at read time), so
    neither N, Σdl, df, nor any posting double-counts."""
    half1 = docs.where(F.col("doc_id") % 2 == 0)
    half2 = docs.where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "retry")
    rt.build_text_index(half1, path, n_buckets=8)
    rt.append_to_text_index(half2, path, epoch=0)
    first = rows_of(rt.search_text_index(spark, path, QUERIES, k=10))
    meta_first = rt._read_text_meta(spark, path)
    rt.append_to_text_index(half2, path, epoch=0)  # straight crash-replay
    second = rows_of(rt.search_text_index(spark, path, QUERIES, k=10))
    assert first == second
    assert rt._read_text_meta(spark, path) == meta_first
    assert meta_first[3] == 1  # next_epoch bumped exactly once


def test_empty_append_records_zero_epoch(spark, docs, tmp_path):
    """An empty batch lands an epoch with no postings files; its meta
    row reads back as (0, 0) (the epoch is read with the postings'
    schema, so there is nothing to infer) and search is unchanged."""
    path = str(tmp_path / "empty_append")
    rt.build_text_index(docs, path, n_buckets=8)
    before = rows_of(rt.search_text_index(spark, path, QUERIES, k=10))
    meta_before = rt._read_text_meta(spark, path)
    rt.append_to_text_index(docs.limit(0), path)
    epoch0 = spark.read.parquet(f"{path}/meta").where("epoch = 0")
    assert [(r["n_docs"], r["sum_dl"]) for r in epoch0.collect()] == [(0, 0)]
    assert rt._read_text_meta(spark, path) == (*meta_before[:3], 1)
    assert rows_of(rt.search_text_index(spark, path, QUERIES, k=10)) == before


def test_zero_word_docs_count_toward_stats(spark):
    """Documents that tokenize to nothing still count toward N and
    avgdl (the bm25_scores LEFT-JOIN contract) — via the NULL-term
    sentinel posting on disk."""
    rows = [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "??!!")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    single = rt.bm25_topk(docs, ["alpha", "beta"], k=5)
    multi = rt.bm25_multi(docs, {0: ["alpha", "beta"]}, k=5).drop("q_id")
    assert rows_of(multi) == rows_of(single)
    # and the disk path agrees, with N=3 in its meta
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rt.build_text_index(docs, d, n_buckets=4)
        assert rt._read_text_meta(spark, d)[0] == 3
        got = rt.search_text_index(spark, d, {0: ["alpha", "beta"]}, k=5)
        assert rows_of(got.drop("q_id")) == rows_of(single)


def test_multi_feeds_retrieval_eval(spark, docs):
    """The (q_id, doc_id, rank) shape plugs straight into
    retrieval_eval — the serving + evaluation legs compose."""
    res = rt.bm25_multi(docs, QUERIES, k=10)
    truth = res.where(F.col("rank") <= 3).select(
        "q_id", "doc_id", F.lit(1.0).alias("rel")
    )
    ev = rt.retrieval_eval(res, truth, k=10)
    rows = {r["q_id"]: r for r in ev.collect()}
    assert set(rows) == set(QUERIES)
    for r in rows.values():
        assert r["recall_k"] == 1.0 and r["mrr_k"] == 1.0


def test_streaming_indexed_ingest(spark, docs, tmp_path):
    """Index-at-ingest end-to-end: two micro-batches land and index;
    searches against the streamed store equal a one-shot batch build
    over base + both batches (N, avgdl, df, every posting)."""
    import os

    from open_instrument_spark.streaming.text_index_ingest import (
        read_landed,
        start_indexed_ingest,
    )

    base = docs.where(F.col("doc_id") < 60)
    index = str(tmp_path / "sti_idx")
    rt.build_text_index(base, index, n_buckets=8)
    schema = "doc_id long, text string"
    b1 = [(1_000_000, "dup dup vector window alpha"),
          (1_000_001, "merge stream beta gamma")]
    b2 = [(2_000_000, "dup window window merge"),
          (2_000_001, "vector vector stream delta")]
    src = str(tmp_path / "sti_src")
    dest = str(tmp_path / "sti_dest")
    ck = str(tmp_path / "sti_ck")
    os.makedirs(src, exist_ok=True)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_indexed_ingest(stream, dest, index, ck,
                                 available_now=True)
        q.awaitTermination(120)

    for b in (b1, b2):
        spark.createDataFrame(b, schema).write.mode("append").parquet(src)
        run_once()

    assert {r["doc_id"] for r in read_landed(spark, dest).collect()} == \
        {d for d, _ in b1 + b2}
    full = str(tmp_path / "sti_full")
    all_docs = base.unionByName(
        spark.createDataFrame(b1 + b2, schema))
    rt.build_text_index(all_docs, full, n_buckets=8)
    got = rt.search_text_index(spark, index, QUERIES, k=10)
    want = rt.search_text_index(spark, full, QUERIES, k=10)
    assert rows_of(got) == rows_of(want)
    assert rt._read_text_meta(spark, index)[:3] == \
        rt._read_text_meta(spark, full)[:3]


def test_streaming_indexed_ingest_crash_replay(spark, docs, tmp_path):
    """Crash AFTER epoch 1's document land + index append but BEFORE
    the checkpoint commit: the replay overwrites the same epoch
    partitions (postings AND the per-epoch meta row), so the restarted
    run equals a crash-free twin exactly — no double-counted N/Σdl, no
    duplicate postings."""
    import glob
    import os

    import pytest as _pytest

    from open_instrument_spark.streaming.text_index_ingest import (
        start_indexed_ingest,
    )

    base = docs.where(F.col("doc_id") < 60)
    schema = "doc_id long, text string"
    b1 = [(1_000_000, "dup dup vector window alpha")]
    b2 = [(2_000_000, "dup window window merge"),
          (2_000_001, "vector vector stream delta")]

    def run(tag, crash_epoch=None):
        index = str(tmp_path / f"cr_idx_{tag}")
        src = str(tmp_path / f"cr_src_{tag}")
        dest = str(tmp_path / f"cr_dest_{tag}")
        ck = str(tmp_path / f"cr_ck_{tag}")
        os.makedirs(src, exist_ok=True)
        rt.build_text_index(base, index, n_buckets=8)

        def go(fault=None):
            stream = spark.readStream.schema(schema).parquet(src)
            q = start_indexed_ingest(stream, dest, index, ck,
                                     available_now=True,
                                     on_batch_complete=fault)
            q.awaitTermination(180)

        def crash(epoch):
            if epoch == crash_epoch:
                raise RuntimeError("injected crash after index append")

        spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
        go()
        spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
        if crash_epoch is not None:
            with _pytest.raises(Exception, match="injected crash"):
                go(fault=crash)
            # the crash window is real: epoch 1's postings + meta are
            # on disk but the checkpoint has no commit for it
            assert glob.glob(os.path.join(index, "postings", "epoch=1",
                                          "bucket=*"))
            assert glob.glob(os.path.join(index, "meta", "epoch=1",
                                          "*.parquet"))
            assert not glob.glob(os.path.join(ck, "commits", "1"))
            go()  # restart: replays epoch 1 over its own partitions
        else:
            go()
        return (rows_of(rt.search_text_index(spark, index, QUERIES, k=10)),
                rt._read_text_meta(spark, index))

    crashed = run("crash", crash_epoch=1)
    clean = run("clean")
    assert crashed == clean


def test_compaction_folds_epochs_and_preserves_results(spark, docs, tmp_path):
    """compact_text_index: below the threshold it's a no-op; above it
    the epochs fold to ONE (the current max id, so next_epoch is
    preserved and batch ids never recycle), search results and summed
    stats are invariant, and a second call is a fixpoint."""
    from open_instrument_spark.plans.maintenance import compact_text_index

    path = str(tmp_path / "cmp")
    parts = [docs.where(F.col("doc_id") % 4 == i) for i in range(4)]
    rt.build_text_index(parts[0], path, n_buckets=8)
    for p in parts[1:]:
        rt.append_to_text_index(p, path)
    before = rows_of(rt.search_text_index(spark, path, QUERIES, k=10))
    meta_before = rt._read_text_meta(spark, path)

    res = compact_text_index(spark, path, max_epochs=8)
    assert res == {"epochs_before": 4, "compacted": False,
                   "swapped": False, "recovered": False}

    res = compact_text_index(spark, path, max_epochs=2)
    assert res["compacted"] and res["swapped"]
    assert len(glob.glob(os.path.join(path, "postings", "epoch=*"))) == 1
    # folded to the max pre-compaction epoch id → next_epoch preserved
    assert glob.glob(os.path.join(path, "postings", "epoch=2"))
    assert rt._read_text_meta(spark, path) == meta_before
    assert rows_of(rt.search_text_index(spark, path, QUERIES, k=10)) == before

    assert not compact_text_index(spark, path, max_epochs=2)["compacted"]
    # append after compaction uses the preserved next_epoch
    rt.append_to_text_index(
        spark.createDataFrame([(9_000_000, "dup vector appended")],
                              "doc_id long, text string"), path)
    assert glob.glob(os.path.join(path, "postings", "epoch=3"))


def test_compaction_recovers_from_crashed_swap(spark, docs, tmp_path):
    """A crash between 'move live → .old' and 'move sibling → live'
    leaves only .old; the next tick promotes it back before deciding
    anything (the rebalance_ann_index recovery contract)."""
    import shutil

    from open_instrument_spark.plans.maintenance import compact_text_index

    path = str(tmp_path / "rec")
    rt.build_text_index(docs, path, n_buckets=8)
    before = rows_of(rt.search_text_index(spark, path, QUERIES, k=10))
    shutil.move(path, path + ".old")
    res = compact_text_index(spark, path, max_epochs=8)
    assert res["recovered"] and not res["compacted"]
    assert rows_of(rt.search_text_index(spark, path, QUERIES, k=10)) == before


def test_maintenance_tick_compacts_text_indexes(spark, docs, tmp_path):
    """The tick owns lexical-index upkeep like ANN/MinHash stores:
    dry_run only reports the epoch count; a real tick compacts past
    the threshold and is a fixpoint after."""
    import datetime as dt

    from open_instrument_spark.operators.retention import PolicyItem
    from open_instrument_spark.plans.maintenance import maintenance_tick
    from open_instrument_spark.sources.ingest import write_points

    idx = str(tmp_path / "tick_idx")
    parts = [docs.where(F.col("doc_id") % 4 == i) for i in range(4)]
    rt.build_text_index(parts[0], idx, n_buckets=8)
    for p in parts[1:]:
        rt.append_to_text_index(p, idx)
    store = str(tmp_path / "store")
    schema = ("name string, labels map<string,string>, ts timestamp, "
              "dval double, sval string")
    write_points(
        spark.createDataFrame(
            [("/m", {"h": "a"}, dt.datetime(2024, 1, 30, 0, mi), 1.0, None)
             for mi in range(3)], schema),
        store, n_buckets=2,
    )
    policy = [PolicyItem(("*",), keep=True, max_age="4w")]
    now = "2024-01-31 00:00:00"
    _, dry = maintenance_tick(spark, store, policy, now, dry_run=True,
                              n_buckets=2, text_indexes=[idx],
                              max_epochs=2)
    assert dry["text_index"][idx] == {
        "epochs_before": 4, "compacted": False, "swapped": False,
        "recovered": False}
    _, s1 = maintenance_tick(spark, store, policy, now, n_buckets=2,
                             text_indexes=[idx], max_epochs=2)
    assert s1["text_index"][idx]["compacted"]
    _, s2 = maintenance_tick(spark, store, policy, now, n_buckets=2,
                             text_indexes=[idx], max_epochs=2)
    assert not s2["text_index"][idx]["compacted"]
