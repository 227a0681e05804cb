"""The store maintenance loop — one idempotent background tick wiring
retention (W1) and compaction (W2) the way the reference's
StoreFileManager background thread does (server/store_file_manager.cc:
178-191: every ``retention_policy.interval()`` seconds run the
retention pass; compaction runs on the datastore's own small-file
triggers, datastore.go:687-705).

The reference's ``RunRetentionPolicy`` is LOG-ONLY — it walks every
variable, computes each stream's verdict (keep/DROP, mutation chain,
horizon) and logs a summary, but never rewrites a file
(store_file_manager.cc:87-177). ``maintenance_tick(dry_run=True)`` is
that pass: it returns the report rows and leaves the store untouched.
``dry_run=False`` is the pass the log-only runner stops short of:
apply the policy in place (``retention.run_retention_job`` rewrites
the dates holding dropped or downsample-band rows), then compact any
date partition that has accumulated more parquet files than its
bucket count (appends leave >1 file per bucket; the canonical
compacted state is one). The report and the runner's counters come
from one store scan (``retention.retention_census``), in the dry run
and the applied tick alike.

Every rewrite goes through one of two crash-safe protocols:

- the points store's **date replacement**
  (``sources.ingest.replace_dates``): stage the new rows in the store's
  layout, delete the dates' directories, rename the staged dates into
  a fresh negative epoch (or the root of a plain store);
- the index stores' **sibling swap**: :func:`_recover_old` promotes a
  ``.old`` left by a crash, the new store is written to a fresh
  sibling, and :func:`_swap_in` promotes it. :func:`_compact_store`
  and :func:`_forget_store` are the two skeletons every index
  compaction and forget runs through.

Both keep the same invariants: staging before delete, epoch ids never
recycle, and a single writer (the loop that owns the store).

Idempotence contract: a second tick at the same ``now`` leaves the
point set identical. Holds for the sample-fold mutations a retention
policy uses (AVERAGE/MIN/MAX/LATEST are fixpoints on already-
downsampled bands: one point per window resamples to itself);
derivative mutations (RATE/DELTA) are not fixpoints and belong in
query-time chains, not retention bands — the reference's sample
config agrees (config.txt:59-81 uses AVERAGE only).
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from open_instrument_spark.session import local_df

from open_instrument_spark.operators import indexstore
from open_instrument_spark.operators.retention import (
    REPORT_SCHEMA,
    PolicyItem,
    retention_census,
    run_retention_job,
)
from open_instrument_spark.sources.ingest import (
    POINTS_PARTITION_COLS,
    _dt_dirs,
    read_store,
    replace_dates,
)


def compact_dates(spark, store_path: str, n_buckets: int = 16,
                  max_files_per_date: int | None = None) -> list[str]:
    """W2 in place: rewrite every date partition whose parquet file
    count exceeds ``max_files_per_date`` (default: the bucket count —
    i.e. some bucket holds more than one file) back to one sorted file
    per bucket, through ``sources.ingest.replace_dates``. Returns the
    compacted dates."""
    limit = n_buckets if max_files_per_date is None else max_files_per_date
    dates = sorted(
        date for date, dirs in _dt_dirs(store_path).items()
        if sum(
            len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
            for d in dirs
        ) > limit
    )
    if not dates:
        return []
    store = read_store(spark, store_path)
    pts = (
        store.filter(F.col("dt").cast("string").isin(dates))
        .drop(*POINTS_PARTITION_COLS)
    )
    replace_dates(store, store_path, dates, pts, n_buckets=n_buckets)
    return dates


def _recover_old(path: str) -> bool:
    """Crash recovery of the sibling swap: a crash between
    :func:`_swap_in`'s two moves leaves the complete pre-swap store at
    ``.old`` and nothing at the live path — promote it back. Returns
    whether it did."""
    old = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        shutil.move(old, path)
        return True
    return False


def _swap_in(path: str, sib: str) -> None:
    """Promote a fully written sibling store: the live store moves to
    ``.old`` first, the sibling moves in, THEN the old bytes go. A crash
    at any point leaves a complete store at the live or the ``.old``
    path, which :func:`_recover_old` repairs on the next tick. Local-FS
    moves; on a cluster the same steps are object-store renames."""
    old = path.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    shutil.move(path, old)
    shutil.move(sib, path)
    shutil.rmtree(old, ignore_errors=True)


def _copy_tables(spark, path: str, sib: str, tables) -> None:
    """Carry the store's side ``tables`` that exist over to the sibling
    unchanged."""
    for t in indexstore.present(path, *tables):
        indexstore.read(spark, path, t).write.mode(
            "overwrite").parquet(f"{sib}/{t}")


def _epoch_count(path: str, table: str) -> int:
    return len(glob.glob(os.path.join(path, table, "epoch=*")))


def _compact_store(path: str, table: str, max_epochs: int,
                   write: Callable[[str], None]) -> dict:
    """The compaction skeleton of every epoch-layout index store: when
    ``table`` holds more than ``max_epochs`` epoch partitions,
    ``write(sib)`` fills a fresh ``.compact`` sibling with the folded
    store and :func:`_swap_in` promotes it. Returns
    {epochs_before, compacted, swapped, recovered}."""
    recovered = _recover_old(path)
    n_epochs = _epoch_count(path, table)
    res = {"epochs_before": n_epochs, "compacted": False,
           "swapped": False, "recovered": recovered}
    if n_epochs <= max_epochs:
        return res
    sib = path.rstrip("/") + ".compact"
    shutil.rmtree(sib, ignore_errors=True)
    write(sib)
    _swap_in(path, sib)
    res["compacted"] = True
    res["swapped"] = True
    return res


def _fold_to_base(spark, path: str, sib: str, table: str) -> None:
    """Write a cell-partitioned epoch table to the sibling with every
    epoch folded into ``epoch=-1``, the base-build epoch. Every live
    read unions epochs (and probes read below a ``before_epoch`` >= 0),
    so the fold is invisible to them. The repartition ON the partition
    column matters: without it each of the many tiny input splits
    writes its own file into every cell dir, so the fold would collapse
    the epoch count but keep the small files (which also gut a codes
    table's dictionary encoding). One corpus-sized shuffle, like the
    rewrite itself; output is ~one file per cell."""
    spark.read.parquet(f"{path}/{table}").drop("epoch").repartition(
        "cell").write.partitionBy("cell").mode("overwrite").parquet(
        f"{sib}/{table}/epoch=-1")


def rebalance_ann_index(spark, path: str, skew_threshold: float = 4.0,
                        train_n: int = 2048, seed: int = 43) -> dict:
    """One ANN index's maintenance step: check occupancy skew, and when
    it exceeds the threshold rebuild via
    ``similarity.rebalance_ivf_index`` (or ``pq.rebalance_ivfpq_index``
    for an IVFPQ index, which carries a ``codes`` table) into a sibling,
    then promote it with the sibling swap. Returns the rebalance dict
    plus ``swapped`` and ``recovered``."""
    from open_instrument_spark.operators.similarity import rebalance_ivf_index

    recovered = _recover_old(path)
    if indexstore.present(path, "codes"):
        from open_instrument_spark.operators.pq import rebalance_ivfpq_index

        res = rebalance_ivfpq_index(spark, path,
                                    skew_threshold=skew_threshold,
                                    train_n=train_n, seed=seed)
    else:
        res = rebalance_ivf_index(spark, path, skew_threshold=skew_threshold,
                                  train_n=train_n, seed=seed)
    res["recovered"] = recovered
    res["swapped"] = False
    if res["rebalanced"]:
        _swap_in(path, res["out_path"])
        res["out_path"] = path
        res["swapped"] = True
    return res


def compact_minhash_index(spark, path: str, max_epochs: int = 8) -> dict:
    """Fold a dedup-at-ingest MinHash store's epochs back into one base
    epoch. The streaming loop (streaming/minhash_ingest.py) absorbs one
    ``epoch=N`` partition per micro-batch and probes read ALL epochs, so
    the epoch count is pure file-listing and small-file overhead that
    grows without bound under continuous ingest.

    Past ``max_epochs`` sigs epochs, sigs and bands are rewritten under
    ``epoch=-1`` (signature-sized; corpus text is never touched). Probe
    results are invariant (the probe unions epochs), pinned by test.
    The meta's ``next_epoch`` is preserved, not reset, so a later absorb
    can't collide with a pre-compaction batch id. Single writer: no
    in-flight absorb."""
    from open_instrument_spark.operators.dedup import (
        _read_minhash_meta,
        _write_minhash_meta,
    )

    def write(sib: str) -> None:
        num_perm, bands, nxt = _read_minhash_meta(spark, path)
        for t, cols in (("sigs", ("doc_id", "sig")),
                        ("bands", ("doc_id", "band", "bh"))):
            spark.read.parquet(f"{path}/{t}").select(*cols).write.mode(
                "overwrite").parquet(f"{sib}/{t}/epoch=-1")
        _write_minhash_meta(spark, sib, num_perm, bands, nxt)

    return _compact_store(path, "sigs", max_epochs, write)


def compact_text_index(spark, path: str, max_epochs: int = 8) -> dict:
    """Fold an index-at-ingest BM25 inverted index's epochs back into
    one. The streaming loop (streaming/text_index_ingest.py) lands one
    ``postings/epoch=N`` and one ``meta/epoch=N`` row per micro-batch,
    and searches union all epochs.

    Past ``max_epochs`` postings epochs, the postings are rewritten
    under ONE epoch (postings-sized; never re-tokenizes corpus text).
    The folded epoch id is the current MAX epoch, not −1: per-epoch meta
    rows derive next_epoch from max(epoch)+1, so folding to the max
    preserves it and epoch ids never recycle. Search results are
    invariant (same postings multiset, same summed stats), pinned by
    test. Single writer: no in-flight append."""
    from open_instrument_spark.operators.retrieval import (
        _read_text_meta,
        _write_text_meta,
    )

    def write(sib: str) -> None:
        n_docs, sum_dl, n_buckets, next_epoch = _read_text_meta(spark, path)
        fold_to = next_epoch - 1
        spark.read.parquet(f"{path}/postings").select(
            "doc_id", "term", "tf", "dl", "bucket"
        ).write.partitionBy("bucket").mode("overwrite").parquet(
            f"{sib}/postings/epoch={fold_to}"
        )
        _write_text_meta(spark, sib, n_docs, sum_dl, n_buckets, epoch=fold_to)

    return _compact_store(path, "postings", max_epochs, write)


# The semantic dedup-at-ingest store's data tables: ``vectors`` (raw
# (vec_id, v), always present — it is also the exact re-rank sidecar of
# the quantized layout) and ``codes`` (SQ8 1-byte-per-dim encodings,
# present when the store was built with layout="sq8").
_SEMANTIC_DATA_DIRS = ("vectors", "codes")
# sq_bounds carries the probe-margin bound (max decode error, min norm);
# carrying it UNCHANGED through compaction and forget is sound — both
# only remove or move rows, so the true bounds can only shrink and the
# persisted ones stay conservative.
_SEMANTIC_AUX_DIRS = ("centroids", "sq", "sq_bounds")


def compact_semantic_index(spark, path: str, max_epochs: int = 8) -> dict:
    """Fold a semantic dedup-at-ingest store's epochs back into the base
    epoch. The streaming loop (streaming/semantic_ingest.py) absorbs one
    ``vectors/epoch=N`` partition per micro-batch and probes read all
    epochs below their ``before_epoch``.

    Past ``max_epochs`` vector epochs, each data table (``vectors``,
    plus ``codes`` on the SQ8 layout) is folded to ``epoch=-1``
    (:func:`_fold_to_base`); the centroid, sq-stats and meta tables
    carry over unchanged. Probe results are invariant, pinned by test.
    The meta's ``next_epoch`` is preserved, so epoch ids never recycle.
    Single writer: no in-flight absorb."""
    from open_instrument_spark.operators.similarity import (
        _read_semantic_meta,
        _write_semantic_meta,
    )

    def write(sib: str) -> None:
        dim, n_cells, nxt = _read_semantic_meta(spark, path)
        for t in indexstore.present(path, *_SEMANTIC_DATA_DIRS):
            _fold_to_base(spark, path, sib, t)
        _copy_tables(spark, path, sib, _SEMANTIC_AUX_DIRS)
        _write_semantic_meta(spark, sib, dim, n_cells, nxt)

    return _compact_store(path, "vectors", max_epochs, write)


def compact_knn_graph_store(spark, path: str, max_epochs: int = 8) -> dict:
    """Fold a kNN-graph store's VECTOR epochs back into the base epoch.
    Absorbs land one ``vectors/epoch=N`` per batch and edge rebuilds
    read all epochs of the touched cells.

    Past ``max_epochs`` vector epochs, the vectors fold to ``epoch=-1``
    (:func:`_fold_to_base`). The EDGE table is unchanged in content (a
    pure function of the vector union, which folding preserves) but is
    rewritten through a repartition on its partition column, so the
    per-cell small files the incremental rewrites accumulate
    consolidate to ~one file per cell. Centroids and meta carry over;
    ``next_epoch`` is preserved, so epoch ids never recycle. The fold is
    invariant, pinned by test. Single writer: no in-flight absorb."""
    from open_instrument_spark.operators.graphstore import (
        _read_graph_meta,
        _write_graph_meta,
    )

    def write(sib: str) -> None:
        meta = _read_graph_meta(spark, path)
        _fold_to_base(spark, path, sib, "vectors")
        edges = spark.read.parquet(f"{path}/edges")
        epart = "pcell" if "pcell" in edges.columns else "cell"
        edges.repartition(epart).write.partitionBy(epart).mode(
            "overwrite").parquet(f"{sib}/edges")
        _copy_tables(spark, path, sib, ("centroids",))
        _write_graph_meta(spark, sib, *meta)

    return _compact_store(path, "vectors", max_epochs, write)


# An `id IN (...)` literal list keeps the forget plan free of any extra
# frame for the takedown batches a tick normally sees; past this size
# the In-expression's analysis/driver cost grows with the list, so the
# rewrite switches to a broadcast id-frame join (semi to select, anti
# to keep) — a large takedown batch costs one broadcast, not a giant
# expression tree.
FORGET_ISIN_MAX = 1000


def _forget_split(df: DataFrame, col: str, ids: list[int]):
    """(hit, keep) frames of one store table: the rows whose ``col`` is
    in ``ids`` and the rest. The mechanism scales with the id-list size
    instead of pinning it into the plan."""
    if len(ids) <= FORGET_ISIN_MAX:
        sel = F.col(col).isin(ids)
        return df.filter(sel), df.filter(~sel)
    idf = local_df(
        df.sparkSession, [(int(i),) for i in ids], f"{col} long"
    )
    gone = F.broadcast(idf.withColumnRenamed(col, "_forget_id"))
    on = df[col] == gone["_forget_id"]
    return df.join(gone, on, "left_semi"), df.join(gone, on, "left_anti")


def _forget_store(spark, path: str, ids, col: str, tables,
                  report: Callable[[dict], dict], write: Callable,
                  optional=()) -> dict:
    """The forget skeleton of every index store: split each of
    ``tables`` (plus those of ``optional`` the store has) on ``col``,
    and unless nothing matched (a replayed forget is a no-op) let
    ``write(sib, keeps, hits)`` fill a fresh ``.forget`` sibling and
    promote it with :func:`_swap_in`. Two scans of each INDEX-sized
    table (count + staged rewrite — the price of reporting what a
    forget did). ``report`` shapes the per-table removed counts into
    the store's result dict; ``write`` may return extra result
    fields."""
    recovered = _recover_old(path)
    ids = [int(i) for i in ids]
    tables = [*tables, *indexstore.present(path, *optional)]
    hits, keeps = {}, {}
    for t in tables:
        hits[t], keeps[t] = _forget_split(
            spark.read.parquet(f"{path}/{t}"), col, ids)
    removed = {t: hits[t].count() for t in tables}
    res = {**report(removed), "swapped": False, "recovered": recovered}
    if not any(removed.values()):
        return res
    sib = path.rstrip("/") + ".forget"
    shutil.rmtree(sib, ignore_errors=True)
    res.update(write(sib, keeps, hits) or {})
    _swap_in(path, sib)
    res["swapped"] = True
    return res


def forget_from_minhash_index(spark, path: str, doc_ids) -> dict:
    """Deletion propagation (right-to-be-forgotten / takedown) for the
    dedup-at-ingest MinHash store: remove every signature and band row
    belonging to ``doc_ids`` so forgotten documents can never again
    surface as prior-corpus matches in a probe. Each surviving row stays
    in its epoch partition and the meta's ``next_epoch`` is untouched —
    epoch ids never recycle. The rewrite is INDEX-sized (signatures,
    never corpus text); batch forget sets and run them from the
    maintenance tick. Returns {removed_sigs, removed_bands, swapped,
    recovered}."""
    from open_instrument_spark.operators.dedup import (
        _read_minhash_meta,
        _write_minhash_meta,
    )

    def write(sib, keeps, hits):
        for t in ("sigs", "bands"):
            keeps[t].write.partitionBy(
                "epoch").mode("overwrite").parquet(f"{sib}/{t}")
        _write_minhash_meta(spark, sib, *_read_minhash_meta(spark, path))

    return _forget_store(
        spark, path, doc_ids, "doc_id", ("sigs", "bands"),
        lambda rm: {"removed_sigs": rm["sigs"], "removed_bands": rm["bands"]},
        write)


def forget_from_text_index(spark, path: str, doc_ids) -> dict:
    """Deletion propagation for the BM25 inverted index: drop the
    forgotten docs' postings and SUBTRACT their contribution from the
    per-epoch meta rows, so n_docs / avgdl / df immediately reflect
    the shrunk corpus — search results become identical to an index
    built without the forgotten docs (pytest-pinned). Every
    pre-existing epoch keeps a meta row (zeroed if emptied), so
    ``next_epoch`` derivation (max epoch + 1) is preserved and batch
    ids never recycle. Returns {removed_postings, swapped,
    recovered}."""
    from open_instrument_spark.operators.retrieval import (
        _read_text_meta,
        _write_text_meta,
    )

    def write(sib, keeps, hits):
        _, _, n_buckets, _ = _read_text_meta(spark, path)
        keep = keeps["postings"]
        keep.write.partitionBy("epoch", "bucket").mode("overwrite").parquet(
            f"{sib}/postings"
        )
        # per-epoch contributions recomputed from the SURVIVING postings;
        # emptied epochs keep a zero row so max(epoch) never goes backwards
        stats = {
            int(r["epoch"]): (int(r["n"]), int(r["s"] or 0))
            for r in keep.groupBy("epoch", "doc_id")
            .agg(F.first("dl").alias("dl"))
            .groupBy("epoch")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .collect()
        }
        for d in glob.glob(os.path.join(path, "meta", "epoch=*")):
            e = int(os.path.basename(d).split("=", 1)[1])
            n, s = stats.get(e, (0, 0))
            _write_text_meta(spark, sib, n, s, n_buckets, epoch=e)

    return _forget_store(
        spark, path, doc_ids, "doc_id", ("postings",),
        lambda rm: {"removed_postings": rm["postings"]}, write)


def forget_from_ann_index(spark, path: str, vec_ids) -> dict:
    """Deletion propagation for the ANN serving indexes: drop the
    forgotten vectors from whichever row tables the layout has —
    ``vectors`` (IVF, and the IVFPQ exact-rerank sidecar) and ``codes``
    (IVFPQ) — preserving the cell partitioning (searches keep their
    partition-pruned reads; an emptied cell simply yields no rows).
    Centroids and codebooks are NOT retrained: codes are raw-vector
    encodings (by_residual=False), so surviving rows' bytes are
    invariant — the same property that makes append/rebalance safe.
    Returns {removed: {table: n}, swapped, recovered}."""

    def write(sib, keeps, hits):
        for t, keep in keeps.items():
            keep.write.partitionBy(
                "cell").mode("overwrite").parquet(f"{sib}/{t}")
        _copy_tables(spark, path, sib, ("centroids", "codebooks"))

    return _forget_store(spark, path, vec_ids, "n_id", (),
                         lambda rm: {"removed": rm}, write,
                         optional=("vectors", "codes"))


def forget_from_semantic_index(spark, path: str, vec_ids) -> dict:
    """Deletion propagation for the semantic dedup-at-ingest store:
    remove every row belonging to ``vec_ids`` from each data table
    (``vectors``, plus ``codes`` on the SQ8 layout) so a forgotten
    vector can never again surface as a prior-corpus match in a probe.
    The epoch AND cell layout is preserved (probes keep both
    partition-pruning filters; an emptied partition simply yields no
    rows), centroids are NOT retrained (the fresh-build equality pin
    holds because build assigns against the same centroids), and the
    meta's ``next_epoch`` is untouched — epoch ids never recycle. The
    post-forget store is pytest-pinned EQUAL to a fresh
    ``build_semantic_index`` over the surviving corpus
    (tests/test_forget.py). Returns {removed: {table: n}, swapped,
    recovered}."""
    from open_instrument_spark.operators.similarity import (
        _read_semantic_meta,
        _write_semantic_meta,
    )

    def write(sib, keeps, hits):
        meta = _read_semantic_meta(spark, path)
        for t, keep in keeps.items():
            keep.write.partitionBy("epoch", "cell").mode(
                "overwrite").parquet(f"{sib}/{t}")
        _copy_tables(spark, path, sib, _SEMANTIC_AUX_DIRS)
        _write_semantic_meta(spark, sib, *meta)

    return _forget_store(spark, path, vec_ids, "vec_id", (),
                         lambda rm: {"removed": rm}, write,
                         optional=_SEMANTIC_DATA_DIRS)


def forget_from_knn_graph_store(spark, path: str, vec_ids) -> dict:
    """Deletion propagation for the kNN-graph store: remove every
    vector row belonging to ``vec_ids`` AND recompute the edges of
    every cell that held a forgotten vector from the SURVIVING members.
    Edge-row deletion alone would under-deliver — when a forgotten
    vector sat in someone's top-k, a surviving neighbor is PROMOTED
    into the freed slot, which only a per-cell recompute produces —
    and edges are strictly in-cell, so forgotten ids can appear only
    in their own cells' partitions: recomputing exactly those cells
    yields a store pytest-pinned EQUAL to a fresh build over the
    surviving corpus. ``next_epoch`` is untouched. Returns
    {removed, cells_rebuilt, swapped, recovered, edge_cells}."""
    from open_instrument_spark.operators.graphstore import (
        _read_graph_meta,
        _write_graph_meta,
        affected_pcells,
        rebuild_edge_cells,
        rebuild_edge_pcells,
    )

    def write(sib, keeps, hits):
        cells = sorted({int(r["cell"]) for r in
                        hits["vectors"].select("cell").distinct().collect()})
        meta = _read_graph_meta(spark, path)
        k, n_probe = meta[2], meta[4]
        keeps["vectors"].write.partitionBy("epoch", "cell").mode(
            "overwrite").parquet(f"{sib}/vectors")
        # untouched partitions' edges carry over; affected ones recompute
        # from the sibling's surviving vectors (never the live store's).
        # Multi-probe: forgotten replicas' cells expand to the affected
        # PRIMARY cells first (a survivor probing a touched cell may have
        # ranked a forgotten vector — its whole partition recomputes).
        if n_probe > 1:
            part, rebuild = "pcell", rebuild_edge_pcells
            cells = affected_pcells(spark, f"{path}/vectors", cells)
        else:
            part, rebuild = "cell", rebuild_edge_cells
        spark.read.parquet(f"{path}/edges").where(
            ~F.col(part).isin(cells)).write.partitionBy(part).mode(
            "overwrite").parquet(f"{sib}/edges")
        rebuilt = rebuild(spark, path, cells, k,
                          vectors_at=f"{sib}/vectors",
                          edges_at=f"{sib}/edges")
        _copy_tables(spark, path, sib, ("centroids",))
        _write_graph_meta(spark, sib, *meta)
        return {"cells_rebuilt": cells, "edge_cells": rebuilt}

    return _forget_store(
        spark, path, vec_ids, "vec_id", ("vectors",),
        lambda rm: {"removed": rm["vectors"], "cells_rebuilt": []}, write)


class _IndexKind(NamedTuple):
    """One row of the tick's index-store table."""

    key: str                # summary key
    epochs: str | None      # table whose epoch count drives compaction;
                            # None for the skew-driven ANN rebalance
    compact: Callable
    forget: Callable
    forget_set: str         # "doc" or "vec": which forget ids apply


_INDEX_KINDS = (
    _IndexKind("ann", None, rebalance_ann_index, forget_from_ann_index,
               "vec"),
    _IndexKind("minhash", "sigs", compact_minhash_index,
               forget_from_minhash_index, "doc"),
    _IndexKind("text_index", "postings", compact_text_index,
               forget_from_text_index, "doc"),
    _IndexKind("semantic", "vectors", compact_semantic_index,
               forget_from_semantic_index, "vec"),
    _IndexKind("graph", "vectors", compact_knn_graph_store,
               forget_from_knn_graph_store, "vec"),
)


def _ann_dry_run(spark, path: str) -> dict:
    skew = indexstore.ivf_cell_stats(spark, path)["skew"]
    return {"skew_before": skew, "rebalanced": False, "skew_after": skew,
            "swapped": False, "out_path": None}


def maintenance_tick(spark, store_path: str, policy: list[PolicyItem],
                     now, dry_run: bool = False, n_buckets: int = 16,
                     max_files_per_date: int | None = None,
                     ann_indexes: list[str] | None = None,
                     ann_skew_threshold: float = 4.0,
                     minhash_indexes: list[str] | None = None,
                     text_indexes: list[str] | None = None,
                     semantic_indexes: list[str] | None = None,
                     graph_indexes: list[str] | None = None,
                     max_epochs: int = 8,
                     forget_doc_ids=None,
                     forget_vec_ids=None,
                     ) -> tuple[DataFrame, dict]:
    """One StoreFileManager tick. Returns ``(report, summary)``:
    ``report`` is the retention_report rows AS OF tick start (the
    reference logs what it sees before anything changes), a
    driver-local frame; ``summary``
    mirrors the runner's closing LOG(INFO) counters
    (store_file_manager.cc:170-171: variables and values examined)
    plus what the tick did (``applied``, ``compacted_dates``, one dict
    per index kind, and ``forget``).

    The index stores join the same cadence, mirroring the reference's
    single StoreFileManager thread owning all store upkeep:

    - ``ann_indexes`` get a skew check and, when drifted, a rebuild
      and swap (:func:`rebalance_ann_index`);
    - ``minhash_indexes``, ``text_indexes``, ``semantic_indexes`` and
      ``graph_indexes`` (kNN-graph stores) are compacted once they hold
      more than ``max_epochs`` epochs;
    - ``forget_doc_ids`` reaches the MinHash and text stores,
      ``forget_vec_ids`` the ANN, semantic and graph stores. Forgets run
      BEFORE compaction, so a forget that empties epochs and the
      compaction that folds them land in one tick.

    Every step is a fixpoint: a second tick at the same ``now`` with the
    same forget sets finds balanced cells, folded epochs and nothing to
    remove, and changes nothing.

    ``dry_run=True`` is the reference-exact log-only pass: no write,
    no delete, store bytes untouched — ANN indexes only get their skew
    measured and reported, the other stores their epoch count; forget
    sets are NOT applied."""
    pts = read_store(spark, store_path).drop(*POINTS_PARTITION_COLS)
    # one aggregation of the store; materialized, so the report stays
    # the tick-START state after the rewrite below
    rows, variables, values = retention_census(pts, policy, now)
    report = local_df(spark, rows, REPORT_SCHEMA)
    summary = {
        "variables": variables,
        "values": values,
        "applied": not dry_run,
        "compacted_dates": [],
        **{kind.key: {} for kind in _INDEX_KINDS},
        "forget": {},
    }
    stores = list(zip(_INDEX_KINDS, (ann_indexes, minhash_indexes,
                                     text_indexes, semantic_indexes,
                                     graph_indexes)))
    if dry_run:
        for kind, paths in stores:
            for p in paths or []:
                summary[kind.key][p] = (
                    _ann_dry_run(spark, p) if kind.epochs is None else
                    {"epochs_before": _epoch_count(p, kind.epochs),
                     "compacted": False, "swapped": False,
                     "recovered": False})
        return report, summary
    run_retention_job(spark, store_path, policy, now, n_buckets=n_buckets)
    summary["compacted_dates"] = compact_dates(
        spark, store_path, n_buckets=n_buckets,
        max_files_per_date=max_files_per_date,
    )
    forget_ids = {"doc": forget_doc_ids, "vec": forget_vec_ids}
    for kind, paths in stores:
        ids = forget_ids[kind.forget_set]
        if ids:
            for p in paths or []:
                summary["forget"][p] = kind.forget(spark, p, ids)
    for kind, paths in stores:
        knob = ({"skew_threshold": ann_skew_threshold} if kind.epochs is None
                else {"max_epochs": max_epochs})
        for p in paths or []:
            summary[kind.key][p] = kind.compact(spark, p, **knob)
    return report, summary
