"""Product quantization (operators/pq.py): encode parity vs a
brute-force replay, ADC ranking sanity, trained-vs-seeded quantization
error, and the map-only encode plan."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_instrument_spark.operators import pq
from open_instrument_spark.sources.tables import load_tables
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def emb(spark):
    return load_tables(spark, SF_ORACLE).table("embeddings")


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    return {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in rows}


def brute_codes(X, B):
    m, ksub, dsub = B.shape
    return [
        int(((X[j * dsub:(j + 1) * dsub][None, :] - B[j]) ** 2)
            .sum(axis=1).argmin())
        for j in range(m)
    ]


def test_encode_matches_bruteforce(spark, emb, emb_np):
    B = pq.pq_codebooks_seeded()
    got = {r["n_id"]: list(r["code"])
           for r in pq.pq_encode(emb, B).collect()}
    for vid in list(emb_np)[:50]:
        assert got[vid] == brute_codes(emb_np[vid], B), vid


def test_topk_matches_python_adc_replay(spark, emb, emb_np):
    B = pq.pq_codebooks_seeded()
    m, ksub, dsub = B.shape
    got = pq.pq_topk(emb, [0], k=10).collect()
    qv = emb_np[0]
    tab = [[float(((qv[j * dsub:(j + 1) * dsub] - c) ** 2).sum())
            for c in B[j]] for j in range(m)]
    scored = []
    for vid, v in emb_np.items():
        if vid == 0:
            continue
        code = brute_codes(v, B)
        acc = 0.0
        for j in range(m):
            acc = acc + tab[j][code[j]]
        scored.append((acc, vid))
    scored.sort(key=lambda t: (t[0], t[1]))
    exp = [(0, vid, i + 1, round(a, 6)) for i, (a, vid) in
           enumerate(scored[:10])]
    assert [(r["q_id"], r["n_id"], r["rank"], r["adist"]) for r in
            sorted(got, key=lambda r: r["rank"])] == exp


def test_trained_codebooks_cut_quantization_error(spark, emb, emb_np):
    """k-means per subspace must beat random codebooks on mean squared
    reconstruction error over the corpus — the point of training."""
    seeded = pq.pq_codebooks_seeded()
    trained = pq.pq_train(emb, train_n=400)

    def mse(B):
        m, ksub, dsub = B.shape
        tot = 0.0
        for v in emb_np.values():
            for j in range(m):
                xj = v[j * dsub:(j + 1) * dsub]
                d = ((xj[None, :] - B[j]) ** 2).sum(axis=1)
                tot += float(d.min())
        return tot / len(emb_np)

    assert mse(trained) < 0.5 * mse(seeded)


def test_trained_recall_vs_exact(spark, emb, emb_np):
    """The production shape — trained codebooks + exact re-rank over
    the ADC shortlist — recovers most of the exact-L2 top-10; the raw
    4-bit-per-subspace codes alone are the neighborhood finder and get
    a loose floor (clustered data makes within-cluster order hard for
    coarse codes, which is exactly what the re-rank is for)."""
    books = pq.pq_train(emb, train_n=400, ksub=64)
    raw = pq.pq_topk(emb, [0, 1, 2], k=10, books=books).collect()
    rr = pq.pq_topk(emb, [0, 1, 2], k=10, books=books, rerank=100).collect()
    for got, floor in [(raw, 0.15), (rr, 0.8)]:
        hits = tot = 0
        for q in [0, 1, 2]:
            qv = emb_np[q]
            exact = sorted(
                ((float(((qv - v) ** 2).sum()), vid)
                 for vid, v in emb_np.items() if vid != q)
            )[:10]
            exact_ids = {vid for _, vid in exact}
            approx_ids = {r["n_id"] for r in got if r["q_id"] == q}
            hits += len(exact_ids & approx_ids)
            tot += 10
        assert hits / tot >= floor, (floor, hits / tot)


def test_pq_encode_is_map_only(spark, emb):
    from tests.test_plan_shapes import plan_of

    B = pq.pq_codebooks_seeded()
    plan = plan_of(pq.pq_encode(emb, B))
    assert "Exchange" not in plan


def test_pq_code_size_is_m_ints(spark, emb):
    B = pq.pq_codebooks_seeded()
    row = pq.pq_encode(emb, B).first()
    assert len(row["code"]) == 8
    assert all(0 <= c < 16 for c in row["code"])


def test_ivfpq_matches_python_replay(spark, emb, emb_np):
    """Seeded IVFPQ = the IVF probe set INTERSECTED with PQ ADC
    scoring: replay cells + codes + tables in numpy and demand the
    exact (q_id, n_id, rank, adist) rows."""
    from open_instrument_spark.operators.similarity import seeded_centroids

    B = pq.pq_codebooks_seeded()
    C = seeded_centroids()
    m, ksub, dsub = B.shape
    got = pq.ivfpq_topk(emb, [3], k=10).collect()

    def cell_of(v):
        vn = v / max(np.linalg.norm(v), 1e-12)
        return int((vn @ C.T).argmax())

    qv = emb_np[3]
    qn = qv / max(np.linalg.norm(qv), 1e-12)
    probed = set(np.argsort(-(C @ qn))[:4])
    tab = [[float(((qv[j * dsub:(j + 1) * dsub] - c) ** 2).sum())
            for c in B[j]] for j in range(m)]
    scored = []
    for vid, v in emb_np.items():
        if vid == 3 or cell_of(v) not in probed:
            continue
        code = brute_codes(v, B)
        acc = 0.0
        for j in range(m):
            acc = acc + tab[j][code[j]]
        scored.append((acc, vid))
    scored.sort(key=lambda t: (t[0], t[1]))
    exp = [(3, vid, i + 1, round(a, 6)) for i, (a, vid) in
           enumerate(scored[:10])]
    assert [(r["q_id"], r["n_id"], r["rank"], r["adist"]) for r in
            sorted(got, key=lambda r: r["rank"])] == exp


def test_ivfpq_trained_recall_vs_exact(spark, emb, emb_np):
    """The production IVFPQ (trained cells + trained codebooks + exact
    re-rank of the ADC top-50) against brute-force L2 top-10.

    Recall decomposes into three factors: the PRUNING ceiling
    (fraction of exact top-10 that lives in the probed cells — the IVF
    knob, n_probe/n_cells), SHORTLIST loss (a probed true neighbor can
    fall outside the ADC top-R when R < candidate count), and nothing
    else — exact re-rank is lossless over the shortlist. On this
    500-vector near-uniform corpus with 32 cells the ceiling at
    n_probe=8 is ~0.45-0.7 — tiny cells over unclustered data prune
    aggressively, exactly as theory says. So the deterministic
    assertion re-ranks the ENTIRE candidate set (rerank=500 ≥ any
    cell-union size): recall must EQUAL the measured ceiling, pinning
    that the composed pipeline loses nothing beyond pruning. The
    production shortlist (rerank=50, the registry configuration) is
    then bounded: within 2 hits/query of the ceiling."""
    from open_instrument_spark.operators.similarity import _kmeans

    books = pq.pq_train(emb, train_n=400, ksub=64)
    train = np.stack([emb_np[i] for i in sorted(emb_np)[:400]])
    C = _kmeans(train, 32, seed=7)
    n_probe = 8
    got = pq.ivfpq_topk(emb, [0, 1, 2], k=10, centroids=C, books=books,
                        ksub=64, n_probe=n_probe, rerank=500).collect()
    got50 = pq.ivfpq_topk(emb, [0, 1, 2], k=10, centroids=C, books=books,
                          ksub=64, n_probe=n_probe, rerank=50).collect()

    def cell_of(v):
        vn = v / max(np.linalg.norm(v), 1e-12)
        return int((vn @ C.T).argmax())

    cells = {vid: cell_of(v) for vid, v in emb_np.items()}
    hits = hits50 = ceil_hits = tot = 0
    for q in [0, 1, 2]:
        qv = emb_np[q]
        qn = qv / max(np.linalg.norm(qv), 1e-12)
        probed = set(np.argsort(-(C @ qn))[:n_probe])
        exact = sorted(
            ((float(((qv - v) ** 2).sum()), vid)
             for vid, v in emb_np.items() if vid != q)
        )[:10]
        exact_ids = {vid for _, vid in exact}
        approx_ids = {r["n_id"] for r in got if r["q_id"] == q}
        hits += len(exact_ids & approx_ids)
        hits50 += len(exact_ids & {r["n_id"] for r in got50
                                   if r["q_id"] == q})
        ceil_hits += sum(1 for vid in exact_ids if cells[vid] in probed)
        tot += 10
    ceiling = ceil_hits / tot
    assert ceiling >= 0.4, ceiling          # non-vacuous pruning config
    assert hits / tot == ceiling, (hits / tot, ceiling)
    assert hits50 >= ceil_hits - 2 * 3, (hits50, ceil_hits)


def test_ivfpq_index_pass_is_map_only(spark, emb):
    """The combined (cell, code) index emission must stay one map-only
    Arrow pass — no shuffle before the candidate join."""
    from tests.test_plan_shapes import plan_of
    from open_instrument_spark.operators.similarity import (
        ivf_assign,
        seeded_centroids,
    )

    B = pq.pq_codebooks_seeded()
    C = seeded_centroids()
    base = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    index = base.select(
        "n_id", ivf_assign("v", C).alias("cell"),
        pq._encode_codes("v", B).alias("code"),
    )
    assert "Exchange" not in plan_of(index)


def test_ivfpq_scan_fraction_tracks_probes(spark, emb, emb_np):
    """The 100 TB contract of the IVF side: candidate rows touched per
    query ≈ (n_probe / n_cells) × corpus — the scan fraction must track
    the probe knob (measured here at 4/8/16 probes over 32 cells), not
    the corpus. Cells come from seeded hyperplane-free centroids over
    near-uniform vectors, so occupancy is roughly balanced; the
    tolerance (×2) absorbs that imbalance while still failing any plan
    that silently scans the whole corpus per query."""
    from open_instrument_spark.operators.similarity import seeded_centroids

    C = seeded_centroids()
    n = len(emb_np)

    def cell_of(v):
        vn = v / max(np.linalg.norm(v), 1e-12)
        return int((vn @ C.T).argmax())

    occupancy: dict[int, int] = {}
    for v in emb_np.values():
        c = cell_of(v)
        occupancy[c] = occupancy.get(c, 0) + 1

    fracs = []
    for n_probe in (4, 8, 16):
        # candidate set BEFORE top-k = rows in probed cells; count it
        # exactly as ivfpq_topk's equi-join does, per query
        touched = 0
        for q in (0, 1, 2):
            qv = emb_np[q]
            qn = qv / max(np.linalg.norm(qv), 1e-12)
            probed = np.argsort(-(C @ qn))[:n_probe]
            touched += sum(occupancy.get(int(c), 0) for c in probed)
        frac = touched / (3 * n)
        expected = n_probe / 32
        assert frac <= 2 * expected, (n_probe, frac)
        fracs.append(frac)
    # monotone in probes and far from full scan at the serving config
    assert fracs[0] < fracs[1] < fracs[2] < 1.0
    assert fracs[0] < 0.3

    # and the Spark plan actually joins on cell (bounded candidates):
    got = pq.ivfpq_topk(emb, [0], k=5, n_probe=4)
    assert got.count() == 5


def test_ivfpq_index_persist_matches_in_memory_search(spark, emb, tmp_path):
    """The on-disk IVFPQ layout (cell-partitioned CODES + centroids +
    codebooks tables) must return exactly the in-memory composed
    search's rows, the probe must reach parquet as partition pruning,
    and the codes table must actually be the small thing (the 100 TB
    point: search reads codes, never vectors)."""
    import glob
    import os

    path = str(tmp_path / "ivfpq")
    pq.build_ivfpq_index(emb, path, include_vectors=True)

    qids = [0, 1, 2, 3, 4]
    mem = {(r["q_id"], r["n_id"], r["rank"], r["adist"])
           for r in pq.ivfpq_topk(emb, qids, k=10).collect()}
    qvecs = {r["vec_id"]: list(r["embedding"])
             for r in emb.filter(F.col("vec_id").isin(qids)).collect()}
    disk_df = pq.search_ivfpq_index(spark, path, qvecs, k=10,
                                    exclude_self=True)
    disk = {(r["q_id"], r["n_id"], r["rank"], r["adist"])
            for r in disk_df.collect()}
    assert disk == mem

    plan = disk_df._sc._jvm.PythonSQLUtils.explainString(
        disk_df._jdf.queryExecution(), "simple")
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:80]

    def nbytes(sub):
        return sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(path, sub, "**", "*.parquet"), recursive=True))

    assert nbytes("codes") < 0.25 * nbytes("vectors")

    # re-rank path: exact distances over the sidecar, same top-1 as
    # brute force within probed cells (replay gives exact L2 ordering)
    rr = pq.search_ivfpq_index(spark, path, {0: qvecs[0]}, k=3,
                               rerank=50)
    top = rr.filter(F.col("rank") == 1).first()
    assert top["n_id"] == 0 and top["adist"] == 0.0   # own vector, d=0


def test_ivfpq_index_append_matches_rebuild(spark, emb, tmp_path):
    """Appending a batch into the codes partitions must yield the
    exact same search results as rebuilding the index over the union —
    the raw-vector-codes property (no re-encode against moved
    centroids, because nothing moves)."""
    path_a = str(tmp_path / "ivfpq_a")
    path_b = str(tmp_path / "ivfpq_b")
    first = emb.filter(F.col("vec_id") < 400)
    rest = emb.filter(F.col("vec_id") >= 400)

    pq.build_ivfpq_index(first, path_a)
    pq.append_to_ivfpq_index(rest, path_a)
    pq.build_ivfpq_index(emb, path_b)

    qvecs = {r["vec_id"]: list(r["embedding"])
             for r in emb.filter(F.col("vec_id").isin([0, 450])).collect()}

    def rows(p):
        return {(r["q_id"], r["n_id"], r["rank"], r["adist"])
                for r in pq.search_ivfpq_index(
                    spark, p, qvecs, k=10, exclude_self=True).collect()}

    got = rows(path_a)
    assert got == rows(path_b)
    # the appended batch is actually searchable: 450's own cell-mates
    assert any(q == 450 for q, *_ in got)


def test_ivfpq_index_streaming_maintenance(spark, emb, tmp_path):
    """The live-corpus composition: an embedding STREAM appended into
    the on-disk IVFPQ index micro-batch by micro-batch (foreachBatch →
    append_to_ivfpq_index — encode against the frozen centroids/
    codebooks, cell-partitioned append). After the stream drains,
    search must equal a batch rebuild over everything — streaming
    index maintenance loses nothing."""
    import os

    path = str(tmp_path / "ivfpq_s")
    path_b = str(tmp_path / "ivfpq_sb")
    first = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300).select("vec_id", "embedding")

    pq.build_ivfpq_index(first, path)

    src = str(tmp_path / "emb_src")
    os.makedirs(src, exist_ok=True)
    # two micro-batch files
    rest.filter(F.col("vec_id") < 400).write.mode("append").parquet(src)
    rest.filter(F.col("vec_id") >= 400).write.mode("append").parquet(src)

    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(src)

    def sink(batch, _epoch):
        if batch.take(1):
            pq.append_to_ivfpq_index(batch, path)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ivfpq_ck"))
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    pq.build_ivfpq_index(emb, path_b)
    qvecs = {r["vec_id"]: list(r["embedding"])
             for r in emb.filter(F.col("vec_id").isin([0, 350, 450])).collect()}

    def rows(p):
        return {(r["q_id"], r["n_id"], r["rank"], r["adist"])
                for r in pq.search_ivfpq_index(
                    spark, p, qvecs, k=10, exclude_self=True).collect()}

    assert rows(path) == rows(path_b)


def test_coarse_rerank_disk_matches_in_plan(spark, emb, tmp_path):
    """search_ivfpq_coarse_rerank (on-disk funnel) must return exactly
    ivfpq_coarse_rerank_topk's rows (the hash-gated in-plan twin), the
    codes read must reach parquet as partition pruning, and the
    vectors sidecar must be touched only cell-pruned (the funnel's
    100 TB contract: full vectors never ride the corpus scan)."""
    path = str(tmp_path / "ivfpq_funnel")
    pq.build_ivfpq_index(emb, path, include_vectors=True)

    qids = [0, 1, 2, 3, 4]
    mem = {(r["q_id"], r["n_id"], r["rank"], r["adist"])
           for r in pq.ivfpq_coarse_rerank_topk(
               emb, qids, k=10, m_coarse=2, prefilter=40,
               shortlist=20).collect()}
    qvecs = {r["vec_id"]: list(r["embedding"])
             for r in emb.filter(F.col("vec_id").isin(qids)).collect()}
    disk_df = pq.search_ivfpq_coarse_rerank(
        spark, path, qvecs, k=10, m_coarse=2, prefilter=40, shortlist=20,
        exclude_self=True)
    disk = {(r["q_id"], r["n_id"], r["rank"], r["adist"])
            for r in disk_df.collect()}
    assert disk == mem and len(disk) == 50

    plan = disk_df._sc._jvm.PythonSQLUtils.explainString(
        disk_df._jdf.queryExecution(), "simple")
    # both the codes scan and the vectors-sidecar scan are pruned
    # (each shows as `PartitionFilters: [cell#N IN (...probed cells...)`)
    assert plan.count("PartitionFilters: [cell") >= 2


def test_coarse_rerank_scan_fraction(spark, emb, emb_np, tmp_path):
    """The funnel touches n_probe/n_cells of the STORE: at the serving
    config (4 probes over 32 cells) the probed-cell file set must be a
    small fraction of the index's files — and the prefilter bounds
    what full ADC scores (crank cut observable as exactly `prefilter`
    rows per query entering stage 2 when candidates exceed it)."""
    import glob
    import os

    path = str(tmp_path / "ivfpq_frac")
    pq.build_ivfpq_index(emb, path, include_vectors=True)
    all_cells = {
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(os.path.join(path, "codes", "cell=*"))
    }
    from open_instrument_spark.operators.pq import _load_index_sides, _probe_rows
    C, B = _load_index_sides(spark, path)
    qv = emb_np[0]
    probed = {c for _, c, *_ in _probe_rows({0: list(qv)}, C, B, 4)}
    assert len(probed) == 4 and probed < all_cells
    # file-level fraction: probed cells' parquet files vs the store's
    def nfiles(cells):
        return sum(
            len(glob.glob(os.path.join(path, "codes", f"cell={c}", "*.parquet")))
            for c in cells
        )
    frac = nfiles(probed) / max(nfiles(all_cells), 1)
    assert frac <= 2 * (4 / 32), frac


def test_coarse_rerank_recall_floor(spark, emb, emb_np):
    """Funnel top-10 vs brute-force exact-L2 top-10 over the full
    corpus, TRAINED config (k-means cells + trained codebooks — the
    production path; the seeded config trades recall for SQL
    replayability, like every other ANN recall pin in this file).
    Two floors: (a) absolute — mean recall@10 >= 0.4 (measured 0.48 at
    8 probes / prefilter 100 / shortlist 50); (b) marginal — the
    truncated-dims prefilter costs <= 0.1 recall vs the same config
    WITHOUT it (measured 0.02: 0.48 funnel vs 0.50 plain ADC+rerank),
    i.e. 1/4 the full-ADC arithmetic for ~no accuracy."""
    from open_instrument_spark.operators.similarity import _kmeans

    books = pq.pq_train(emb, train_n=400, ksub=64)
    train = np.array([emb_np[i] for i in sorted(emb_np)[:400]])
    C = _kmeans(train, 32, seed=7)
    qids = [0, 1, 2, 3, 4]

    def mean_recall(got):
        by_q: dict[int, set] = {}
        for r in got:
            by_q.setdefault(r["q_id"], set()).add(r["n_id"])
        recalls = []
        for q in qids:
            qv = emb_np[q]
            exact = sorted(
                ((float(((qv - v) ** 2).sum()), vid)
                 for vid, v in emb_np.items() if vid != q),
            )[:10]
            recalls.append(len(by_q[q] & {vid for _, vid in exact}) / 10)
        return sum(recalls) / len(recalls)

    funnel = mean_recall(pq.ivfpq_coarse_rerank_topk(
        emb, qids, k=10, centroids=C, books=books, n_probe=8,
        m_coarse=2, prefilter=100, shortlist=50).collect())
    plain = mean_recall(pq.ivfpq_topk(
        emb, qids, k=10, centroids=C, books=books, n_probe=8,
        rerank=50).collect())
    assert funnel >= 0.4, funnel
    assert funnel >= plain - 0.1, (funnel, plain)


def test_maintenance_rebalances_ivfpq_layout(spark, emb, tmp_path):
    """The maintenance tick owns IVFPQ upkeep too (layout-dispatched):
    a drifted codes table rebalances under re-trained centroids with
    the SAME code bytes (raw-vector codes are centroid-independent),
    the swap lands at the live path, search works after, and a second
    tick is a no-op."""
    import os

    from open_instrument_spark.plans.maintenance import rebalance_ann_index

    path = str(tmp_path / "ivfpq_maint")
    pq.build_ivfpq_index(emb, path, include_vectors=True)

    # drifted appends: 600 near-copies of vector 7's neighborhood pile
    # into its cell (the similarity-family drift fixture shape)
    anchor = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("anchor"))
    drift = (
        spark.range(600)
        .select((F.col("id") + 100_000).alias("vec_id"),
                (F.col("id") % 500).alias("src_id"))
        .join(emb.select(F.col("vec_id").alias("src_id"), "embedding"),
              "src_id")
        .crossJoin(F.broadcast(anchor))
        .select(
            "vec_id",
            F.zip_with(
                "anchor", "embedding",
                lambda a, b: (a * 0.6 + b * 0.4).cast("float"),
            ).alias("embedding"),
        )
    )
    pq.append_to_ivfpq_index(drift, path)
    skew0 = pq.ivf_cell_stats(spark, path)["skew"]
    assert skew0 > 4.0

    before = {(r["n_id"], tuple(r["code"])) for r in
              spark.read.parquet(f"{path}/codes")
              .select("n_id", "code").collect()}
    res = rebalance_ann_index(spark, path)
    assert res["rebalanced"] and res["swapped"] and res["skew_after"] < 4.0
    assert not os.path.exists(path + ".old")
    # code bytes invariant under rebalance — only the partitioning moved
    after = {(r["n_id"], tuple(r["code"])) for r in
             spark.read.parquet(f"{path}/codes")
             .select("n_id", "code").collect()}
    assert after == before

    # search still serves: an appended vector finds itself at rank 1
    # through the exact-rerank sidecar (distance 0)
    qv = [float(x) for x in drift.filter(F.col("vec_id") == 100_000)
          .first()["embedding"]]
    top = pq.search_ivfpq_index(spark, path, {100_000: qv}, k=3,
                                rerank=50).filter(F.col("rank") == 1).first()
    assert top["n_id"] == 100_000 and top["adist"] == 0.0

    res2 = rebalance_ann_index(spark, path)
    assert not res2["rebalanced"] and not res2["swapped"]
    assert res2["skew_before"] == res["skew_after"]
