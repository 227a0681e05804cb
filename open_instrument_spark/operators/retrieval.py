"""Lexical (BM25) retrieval and hybrid rank fusion — the search side
of a training-data / RAG pipeline: score documents against a term
query with Okapi BM25, and fuse independent rankings (lexical +
embedding) with reciprocal-rank fusion (RRF, Cormack et al. 2009).

Not present in the reference system (numeric/string metric samples
only) — §2.9 north-star extensions riding the same engine, next to
tf-idf (operators/lm.py) and cosine retrieval (similarity.py).

Like lm_score, the "model" is corpus count statistics, so the ENTIRE
pipeline — document frequencies, length normalization, fusion — is
aggregation + bounded joins and replays in ANSI SQL under the driver
hash gate (registry ``text_bm25_topk`` / ``retrieval_hybrid_rrf``).

100 TB shape (bm25_scores): ONE tokenize/explode corpus pass folded
map-side into per-doc (length, per-query-term tf) rows — the explode
never shuffles raw tokens, only the |Q|+1-column per-doc aggregate.
Everything downstream is bounded: the df table is ≤|Q| rows and the
corpus stats are 1 row (both broadcast; both live INSIDE the plan —
never a driver artifact), the unpivot is a scan-project, and top-k is
a distributed TakeOrderedAndProject. No all-pairs, no collect.

rrf_fuse joins k bounded top-N rank lists full-outer on doc id — each
input is already ≤N rows, so the fusion cost is independent of corpus
size; at scale the expensive part is producing the input rankings,
which BM25 (above) and cosine_topk (similarity.py) each do in one
corpus pass.

Float parity: per-term BM25 weights are bit-identical cross-engine
(exact integer counts → one division chain with identical literal
bits via repr()); only the Σ over ≤|Q| terms re-associates, handled by
the standard round-6 + rounded-key rank pinning (ranks are computed
over the ROUNDED score so float jitter cannot flip an order).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from open_instrument_spark.operators import indexstore
from open_instrument_spark.operators.text import words
from open_instrument_spark.session import local_df


def bm25_scores(docs: DataFrame, query_terms: list[str],
                k1: float = 1.2, b: float = 0.75,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 score of every document against a bag-of-terms query.

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5) / (df + 0.5))      (Lucene form)

    with tf the term count in d, dl the document word length, avgdl /
    N corpus-wide, df the number of documents containing t. Documents
    matching no query term emit no row (their score is 0).

    Output: (doc_id, dl, n_hit_terms, score) — score rounded 6 (the
    Σ_t re-associates; every per-term weight is bit-exact).

    Plan: one tokenize/explode scan → per-doc pivoted aggregate
    (count + |Q| conditional sums, map-side partial), completed to
    all-docs by a left join so empty documents still count toward N
    and avgdl; df/stats are tiny broadcast aggregates of THAT frame,
    so the raw corpus is scanned exactly once.
    """
    terms = list(dict.fromkeys(query_terms))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(F.col(text_col))).alias("t"),
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("t") == term, 1).otherwise(0)).alias(f"_tf{i}")
            for i, term in enumerate(terms)
        ],
    )
    # complete over the corpus: docs with zero words carry dl=0 and
    # still count toward N / avgdl (matches the oracle's LEFT JOIN)
    per_doc = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .fillna(0, subset=["dl"] + [f"_tf{i}" for i in range(len(terms))])
    )
    # ONE one-row broadcast aggregate carries N, avgdl AND every
    # term's df (r14 optimization, guide §2.3/§7.2): df(t) = #docs
    # with _tft > 0, countable in the SAME pass as the corpus stats —
    # the former separate dfreq aggregate was a third branch off the
    # un-persisted per_doc frame, so the tokenize/explode corpus pass
    # ran once more for it (and a measured localCheckpoint barrier on
    # per_doc was SLOWER than the duplicated branches — restructuring
    # beats materializing here). df rides to the unpivoted rows as a
    # literal-keyed map lookup; values are the identical longs the
    # dfreq join delivered.
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    pairs = ", ".join(
        f"'{t}', _tf{i}" for i, t in enumerate(terms)
    )
    unpiv = per_doc.selectExpr(
        "doc_id", "dl", f"stack({len(terms)}, {pairs}) AS (term, tf)"
    ).where(F.col("tf") > 0)
    df_map = F.create_map(*[
        c for i, t in enumerate(terms) for c in (F.lit(t), F.col(f"_df{i}"))
    ])
    dfc = F.element_at(df_map, F.col("term"))
    idf = F.log(
        F.lit(1.0) + (F.col("n") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
    )
    w_t = (
        idf * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
        )
    )
    return (
        unpiv.crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "dl")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_hit_terms"),
            F.round(F.sum(w_t), 6).alias("score"),
        )
        .select("doc_id", "dl", "n_hit_terms", "score")
    )


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-k documents by BM25 — rank pinned on the ROUNDED score with
    doc_id tie-break so the order is reproducible cross-engine. The
    top-k is a distributed TakeOrderedAndProject (never a global
    single-partition window over all matches); the row_number window
    then runs over just the k winners.

    Output: (doc_id, dl, n_hit_terms, rank, score)."""
    scored = bm25_scores(docs, query_terms, k1=k1, b=b,
                         text_col=text_col, id_col=id_col)
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.partitionBy().orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "dl", "n_hit_terms", "rank", "score"
    )


def rrf_fuse(rankings: list[DataFrame], k_rrf: int = 60, topk: int = 10,
             id_col: str = "doc_id", rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion of k independent rankings (Cormack,
    Clarke & Büttcher 2009): score(d) = Σ_lists 1/(k_rrf + rank_i(d)),
    lists not containing d contribute 0. The standard hybrid-search
    combiner (lexical + dense ranks) — rank-only, so no per-list score
    calibration is needed.

    Each input frame carries (id_col, rank_col) for ONE ranking and is
    expected to be a bounded top-N list; fusion is a chain of
    full-outer equi-joins over those bounded lists, so its cost is
    independent of corpus size. Contributions are summed in list
    order (fixed association → bit-stable), rounded 6, and the output
    rank is pinned on the rounded score with id tie-break.

    Output: (doc_id, in_lists, rank, rrf) — in_lists = how many input
    rankings contained the doc."""
    parts = [
        r.select(
            F.col(id_col).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(rank_col).cast("double")))
            .alias(f"_c{i}"),
        )
        for i, r in enumerate(rankings)
    ]
    fused = reduce(lambda a, b: a.join(b, "doc_id", "full_outer"), parts)
    contrib = [F.coalesce(F.col(f"_c{i}"), F.lit(0.0)) for i in range(len(parts))]
    score = reduce(lambda a, b: a + b, contrib)
    in_lists = reduce(
        lambda a, b: a + b,
        [F.when(F.col(f"_c{i}").isNotNull(), 1).otherwise(0) for i in range(len(parts))],
    )
    scored = fused.select(
        "doc_id",
        in_lists.cast("int").alias("in_lists"),
        F.round(score, 6).alias("rrf"),
    )
    top = scored.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(topk)
    w = Window.partitionBy().orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "in_lists", "rank", "rrf"
    )


def retrieval_eval(results: DataFrame, truth: DataFrame,
                   k: int = 10) -> DataFrame:
    """IR quality metrics per query — the evaluation leg every
    retrieval deployment runs next to its serving path (TREC
    conventions; public): recall@k, MRR@k, nDCG@k.

    ``results``: (q_id, doc_id, rank) ranked lists from any retriever
    in this module / the ANN family. ``truth``: (q_id, doc_id, rel)
    graded relevance, rel > 0 relevant.

      recall@k = |retrieved@k ∩ relevant| / |relevant|
      MRR@k    = 1 / rank of the first relevant hit (0 if none)
      DCG@k    = Σ_hits (2^rel − 1) / log2(rank + 1), nDCG = DCG/IDCG,
                 IDCG from the truth's best-possible ordering (rel
                 desc, top k)

    Spark shape: both sides are post-retrieval small-per-query lists —
    one equi-join on (q_id, doc_id) + two groupBys; at corpus scale the
    cost is |queries|·k rows regardless of corpus size. All float
    outputs rounded 6 (re-associated sums); 2^rel is integer-exact,
    log2 parity holds at the rounding (the F.pow/ln precedent).

    Output: (q_id, n_rel, recall_k, mrr_k, ndcg_k), one row per truth
    query WITH AT LEAST ONE rel > 0 judgment (a scored query with no
    results row scores 0 across the board). Queries whose judgments
    are all rel <= 0 have no relevant set — recall's denominator and
    IDCG are undefined — so they are excluded from the output rather
    than scored as 0."""
    res = results.filter(F.col("rank") <= k).select(
        "q_id", "doc_id", F.col("rank").cast("int").alias("rank")
    )
    rel = truth.filter(F.col("rel") > 0).select(
        "q_id", "doc_id", F.col("rel").cast("double").alias("rel")
    )
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / F.log2(F.col("rank") + 1.0)
    hits = (
        res.join(rel, ["q_id", "doc_id"])
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit"),
            F.min("rank").alias("first_hit"),
            F.sum(gain).alias("dcg"),
        )
    )
    w_ideal = Window.partitionBy("q_id").orderBy(
        F.col("rel").desc(), F.col("doc_id")
    )
    ideal = (
        rel.withColumn("rank", F.row_number().over(w_ideal))
        .filter(F.col("rank") <= k)
        .groupBy("q_id")
        .agg(F.sum(gain).alias("idcg"))
    )
    per_q = rel.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_rel"))
    return (
        per_q.join(ideal, "q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            "n_rel",
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_rel"), 6
            ).alias("recall_k"),
            F.round(
                F.coalesce(1.0 / F.col("first_hit"), F.lit(0.0)), 6
            ).alias("mrr_k"),
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 6
            ).alias("ndcg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-query BM25 (the batched serving shape) + the on-disk inverted index
# ---------------------------------------------------------------------------

def _query_frame(spark, queries: dict[int, list[str]]) -> DataFrame:
    """(q_id, term) rows from {q_id: [terms]}; per-query duplicate
    terms collapse (BM25 is a bag-of-terms model — a repeated term
    does not double its contribution in the single-query path either)."""
    rows = []
    for qid, terms in queries.items():
        for t in dict.fromkeys(terms):
            rows.append((int(qid), str(t)))
    return local_df(spark, rows, "q_id long, term string")


def _bm25_weight(k1: float, b: float):
    """The shared per-posting Okapi weight — identical literal bits to
    bm25_scores so every path (single-query pivot, multi-query join,
    on-disk search) produces bit-equal per-term weights."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    return (
        idf * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
        )
    )


def _postings(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The inverted-index frame: one (doc_id, term, tf, dl) row per
    distinct term per document, dl denormalized onto every posting
    (Lucene's norms-in-the-postings idiom) so search never joins a
    doc-length side table. Zero-word documents carry a single
    (term=NULL, tf=0, dl=0) sentinel row so N and avgdl stay exact
    corpus-wide counts wherever the postings travel.

    One tokenize/explode scan → (doc_id, term) count → per-doc dl as a
    second aggregate of THAT frame (never a second corpus pass); the
    dl join back is doc_id↔doc_id on two frames that just aggregated
    on doc_id-prefixed keys."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(F.col(text_col))).alias("term"),
    )
    # dl as a SUM WINDOW over the doc_id partition (r14 optimization,
    # guide §2.4): the former groupBy(doc_id) + join back referenced
    # per_pair from two branches, so the tokenize/explode pass ran
    # once per branch. The window rides the exchange per_pair's own
    # aggregate already established on the doc_id-prefixed key; only
    # the zero-word sentinel completion still touches the (cheap,
    # id-only) docs scan.
    per_pair = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
    )
    return (
        per_pair.join(
            docs.select(F.col(id_col).alias("doc_id")), "doc_id", "right")
        .select(
            "doc_id",
            "term",
            F.coalesce(F.col("tf"), F.lit(0)).alias("tf"),
            F.coalesce(F.col("dl"), F.lit(0)).alias("dl"),
        )
    )


def bm25_multi(docs: DataFrame, queries: dict[int, list[str]],
               k: int = 10, k1: float = 1.2, b: float = 0.75,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-k BM25 per query for a BATCH of term queries — the batched
    retrieval/serving shape (one corpus pass amortized over every
    query), score-identical to running :func:`bm25_topk` per query.

    Plan: the postings frame (one corpus scan, see :func:`_postings`)
    is joined to the broadcast (q_id, term) query table — the classic
    inverted-index join: only postings of query terms survive, so the
    frame entering scoring is Σ_t df(t) rows, not N·|queries|. df per
    term and the one-row corpus stats are broadcast aggregates of the
    same postings frame; ranking is a per-q_id window over the rounded
    score (+ doc_id tie-break, the house cross-engine rank pin).

    Output: (q_id, doc_id, dl, n_hit_terms, rank, score) — rank ≤ k,
    feeds retrieval_eval / rrf_fuse directly.
    """
    post = _postings(docs, text_col, id_col)
    qdf = _query_frame(docs.sparkSession, queries)
    stats = post.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    dfreq = (
        post.where(F.col("term").isin(all_terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    hits = post.join(F.broadcast(qdf), "term")
    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("q_id", "doc_id", "dl")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_hit_terms"),
            F.round(F.sum(_bm25_weight(k1, b)), 6).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "doc_id", "dl", "n_hit_terms", "rank", "score")
    )


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the postings bucket column: first 8 hex
    chars of md5(term) as an int, mod n_buckets — the house portable
    md5 grammar, so a search can compute which partitions its query
    terms live in WITHOUT touching the index."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def _term_bucket(term, n_buckets: int):
    """Spark column twin of :func:`term_bucket_py` (md5 first-8-hex →
    long → mod); NULL terms (the zero-word sentinel postings) land in
    bucket 0 so every row has a concrete partition."""
    h = F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long")
    return F.coalesce((h % n_buckets).cast("int"), F.lit(0))


def build_text_index(docs: DataFrame, path: str, n_buckets: int = 8,
                     text_col: str = "text", id_col: str = "doc_id") -> None:
    """Materialize an on-disk BM25 inverted index: the postings frame
    written to parquet PARTITIONED BY the term's md5 bucket, so a
    search for |Q| terms reads at most |Q| of the ``n_buckets``
    partitions — parquet partition PRUNING, the lexical twin of the
    IVF/IVFPQ cell layout (similarity.py::build_ivf_index). A term's
    postings live entirely inside its bucket, so per-term df is exact
    from the pruned read alone; corpus-wide N / Σdl live in a one-row
    ``meta`` table (the MinHash-store idiom, dedup.py) so search
    performs no full-index action.

    Layout: ``{path}/postings/epoch=-1/bucket=B`` (doc_id, term, tf,
    dl), ``{path}/meta/epoch=E`` (n_docs, sum_dl, n_buckets) — meta is
    PER-EPOCH rows summed at read time (one tiny row per epoch, never
    index-sized), so an append is two overwrites of its OWN epoch
    partitions and nothing else: a crash-and-replay of epoch N rewrites
    the same files — no read-modify-write anywhere, the property the
    cumulative-counter meta the MinHash store uses for next_epoch can't
    give corpus statistics. Epoch subdirectories follow the store-write
    scheme every on-disk store in this repo uses: the base build is
    epoch -1, appends count up from 0.

    100 TB shape: index once (one corpus tokenize + two doc_id-keyed
    aggregates + one bucket-partitioned shuffle write), search many
    times touching only query-term buckets — the corpus text is never
    re-read or re-tokenized at query time.
    """
    post = _postings(docs, text_col, id_col).withColumn(
        "bucket", _term_bucket(F.col("term"), n_buckets)
    )
    _write_epoch(post, path, -1, n_buckets)


def _write_epoch(post: DataFrame, path: str, epoch: int,
                 n_buckets: int) -> None:
    """Land one postings epoch and its meta row. (n_docs, Σdl) are read
    back from the files just written (the absorb-verification idiom),
    with the postings' own schema, so an EMPTY epoch (cold-start index,
    empty micro-batch) reads as no rows and counts as (0, 0)."""
    epoch_dir = f"{path}/postings/epoch={int(epoch)}"
    post.write.partitionBy("bucket").mode("overwrite").parquet(epoch_dir)
    spark = post.sparkSession
    r = (
        spark.read.schema(post.drop("bucket").schema).parquet(epoch_dir)
        .groupBy("doc_id").agg(F.first("dl").alias("dl"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .first()
    )
    _write_text_meta(spark, path, r["n"], r["s"] or 0, n_buckets, epoch)


def _write_text_meta(spark, path: str, n_docs: int, sum_dl: int,
                     n_buckets: int, epoch: int) -> None:
    """One meta row for ONE epoch's contribution, landed in its own
    ``epoch=E`` partition (overwrite → replay-idempotent)."""
    indexstore.write_meta(spark, path, indexstore.TEXT_META,
                          n_docs, sum_dl, n_buckets,
                          table=f"meta/epoch={int(epoch)}")


def _read_text_meta(spark, path: str) -> tuple[int, int, int, int]:
    """(n_docs, sum_dl, n_buckets, next_epoch) — the corpus statistics
    are SUMS over the per-epoch meta rows (one row per epoch: the scan
    is epoch-count-sized, never index-sized; compaction folds it)."""
    r = (
        indexstore.read(spark, path, "meta", indexstore.TEXT_META)
        .agg(F.sum("n_docs"), F.sum("sum_dl"), F.first("n_buckets"),
             F.max("epoch"))
        .first()
    )
    return (int(r[0]), int(r[1] or 0), int(r[2]), int(r[3]) + 1)


def append_to_text_index(new_docs: DataFrame, path: str,
                         epoch: int | None = None,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> None:
    """Incremental index maintenance: tokenize ONLY the arriving batch,
    land its postings in a fresh ``epoch=N`` subdirectory (same bucket
    partitioning — search pruning is unchanged), and bump the one-row
    meta (n_docs / Σdl accumulate, so avgdl and idf reflect the grown
    corpus immediately). ``epoch`` pins the write for retrying callers
    (the MinHash-store absorb contract): a replayed epoch overwrites
    its own partition and re-asserts the same meta instead of double-
    counting — callers that pass ``epoch`` must pair it with the
    matching pre-append meta state, which is what the one-writer
    regime gives them for free.

    Per-batch cost is O(batch): existing postings are never read or
    rewritten, and the meta write is the BATCH's own one-row epoch
    partition (read-time summing makes replay a no-op repair — a
    retried epoch overwrites both of its partitions and double-counts
    nothing). df/avgdl correctness across epochs falls out of the
    layout — a term's postings from every epoch still share one
    bucket, and search reads the epoch column as just another
    partition key."""
    spark = new_docs.sparkSession
    _, _, n_buckets, next_epoch = _read_text_meta(spark, path)
    if epoch is None:
        epoch = next_epoch
    post = _postings(new_docs, text_col, id_col).withColumn(
        "bucket", _term_bucket(F.col("term"), n_buckets)
    )
    _write_epoch(post, path, epoch, n_buckets)


def search_text_index(spark, path: str, queries: dict[int, list[str]],
                      k: int = 10, k1: float = 1.2,
                      b: float = 0.75) -> DataFrame:
    """Top-k BM25 per query against a :func:`build_text_index` layout —
    score-identical to :func:`bm25_multi` over the same corpus (pytest
    -pinned), but the read touches ONLY the buckets the query terms
    hash to: the bucket list is computed driver-side from the terms
    themselves (:func:`term_bucket_py` — no index access needed), and
    the postings read carries ``bucket IN (...)`` so parquet partition
    pruning skips every other bucket's files (verifiable in the plan's
    PartitionFilters, the search_ivf_index discipline). N / avgdl come
    from the one-row meta table; df per term is a broadcast aggregate
    of the pruned read (exact — a term's postings never span buckets).

    Output: (q_id, doc_id, dl, n_hit_terms, rank, score)."""
    n_docs, sum_dl, n_buckets, _ = _read_text_meta(spark, path)
    all_terms = sorted({t for ts in queries.values() for t in ts})
    buckets = sorted({term_bucket_py(t, n_buckets) for t in all_terms})
    post = (
        spark.read.parquet(f"{path}/postings")
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(all_terms))
        .select("doc_id", "term", "tf", "dl")
    )
    qdf = _query_frame(spark, queries)
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = float(sum_dl) / n_docs if n_docs else 0.0
    scored = (
        post.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfreq), "term")
        .withColumn("n", F.lit(int(n_docs)).cast("long"))
        .withColumn("avgdl", F.lit(avgdl))
        .groupBy("q_id", "doc_id", "dl")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_hit_terms"),
            F.round(F.sum(_bm25_weight(k1, b)), 6).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "doc_id", "dl", "n_hit_terms", "rank", "score")
    )
