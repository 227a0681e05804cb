"""Deduplication operators for training-data pipelines (§2.9).

Exact (hash groupBy), n-gram Jaccard (exact, shared-shingle join),
MinHash+LSH (banded candidate generation + exact verify), SimHash
(bit-sign aggregate + banded Hamming join). All candidate generation is
join-based — no pairwise cross product ever materializes except between
candidates, which is the property that survives 100 TB.

Scale ladder (why all four exist):
- exact: one shuffle on md5(text) — always run first;
- ngram-jaccard: exact pair recall, cost = Σ per-shingle bucket²;
  fine while shingle frequencies are bounded (cap via ``max_bucket``);
- minhash-lsh: constant-size signature per doc, recall tunable by
  (bands, rows); the 100 TB path;
- simhash: 8-byte fingerprint, Hamming-ball lookup via 16-bit bands;
  cheapest memory footprint for web-scale near-dup.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

from open_instrument_spark.operators import indexstore
from open_instrument_spark.operators.text import let, words
from open_instrument_spark.session import local_df, track_persist


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash; representative = min doc_id.
    Output: (doc_id, rep_id, is_dup).

    Null-text semantics (advisor r14, deliberate): ``md5(NULL)`` is
    NULL and ``Window.partitionBy`` groups the NULL hashes together, so
    null-text docs form ONE duplicate group (rep = their min doc_id).
    The pre-r14 inner join silently DROPPED null-text docs from the
    output instead; surfacing them as mutual duplicates is the safer
    corpus-hygiene default (a corpus with null bodies should look
    duplicated, not shrink), and the driver's corpora carry no null
    text so the oracle gate is unaffected either way."""
    from pyspark.sql import Window

    # Representative + group size as windows over the hash partition
    # (r14 optimization, guide §2.4): the former groupBy(_h) + join(_h)
    # referenced the hashed-docs frame from two branches, so the corpus
    # md5 pass ran once per branch (two scans in the dedup_exact plan).
    # One pipeline now: one scan, one Exchange on _h; min/count over
    # the _h partition equal the join's aggregated values exactly.
    w = Window.partitionBy("_h")
    h = F.md5(F.col(text_col))
    return (
        docs.select("doc_id", h.alias("_h"))
        .withColumn("rep_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .select(
            "doc_id",
            "rep_id",
            (F.col("doc_id") != F.col("rep_id")).alias("is_dup"),
            "group_size",
        )
    )


def shingles(text_col, k: int = 5):
    """Distinct word k-gram shingles; short docs → whole-text shingle.

    The token array is bound once via :func:`~..text.let` — inlining it
    into the transform lambda would re-tokenize per shingle position
    (interpreted HOF bodies get no subexpression elimination).
    """

    def build(toks):
        n = F.size(toks)
        grams = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            )
        )
        return F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks)))

    return let(words(text_col), build)


def _verify_jaccard(sh: DataFrame, cand: DataFrame, threshold: float
                    ) -> DataFrame:
    """Exact Jaccard on candidate pairs against the full per-doc shingle
    arrays — the shared verify stage of ngram_jaccard_pairs and
    minhash_lsh_pairs. ``sh``: (doc_id, sh array); ``cand``: (a_id, b_id)
    (possibly broadcast-hinted). Output: (a_id, b_id, jaccard)."""
    sa = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        sa.join(cand, "a_id")
        .join(sb, "b_id")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))
    )


def _observe_dropped(freq: DataFrame, max_bucket: int) -> DataFrame:
    """Attach a lazy dropped-shingle metric to the frequency plan.

    ``observe()`` adds a CollectMetrics node — zero extra jobs, zero
    extra passes; the metric materializes as a side effect of whichever
    action first executes the plan. A daemon watcher thread blocks on
    ``Observation.get`` and logs then; if the caller never executes the
    plan, the thread idles harmlessly (daemon ⇒ never blocks exit)."""
    import threading

    from pyspark.sql import Observation

    obs = Observation()
    out = freq.observe(
        obs,
        F.sum((F.col("_n") > max_bucket).cast("long")).alias("dropped"),
    )

    def _log_when_executed() -> None:
        try:
            n_dropped = obs.get["dropped"]  # blocks until first action
        except Exception:
            return
        if n_dropped:
            _log.warning(
                "ngram_jaccard_pairs: %d shingle(s) appear in > %d docs and are "
                "excluded from candidate generation (jaccard values stay exact; "
                "pairs sharing ONLY such shingles are missed)",
                n_dropped, max_bucket,
            )

    threading.Thread(
        target=_log_when_executed, name="ngram-dropped-log", daemon=True
    ).start()
    return out


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text", k: int = 5,
                        threshold: float = 0.5, max_bucket: int | None = 1000,
                        log_dropped: bool = True) -> DataFrame:
    """EXACT near-dup pairs by word-k-gram Jaccard ≥ threshold.

    Any pair with J > 0 shares a shingle, so the shared-shingle self-join
    enumerates candidate pairs; jaccard is then verified on the FULL
    per-doc shingle sets (array_intersect), so reported similarity is
    always the true k-gram Jaccard — no minhash approximation.

    ``max_bucket`` (default 1000) excludes shingles appearing in more
    docs than that from CANDIDATE GENERATION only — one boilerplate
    shingle shared by 10⁶ docs would otherwise make a 10¹² -row join
    bucket. Values stay exact; the only effect is recall: a pair whose
    EVERY shared shingle is ultra-common is missed. The number of
    dropped shingles is logged via ``observe()`` (``log_dropped=True``):
    a CollectMetrics node rides the shingle-frequency pass the plan
    already makes, so construction stays fully LAZY — no job runs until
    the caller executes the plan, at which point a watcher thread logs
    the metric. ``max_bucket=None`` disables the guard (full recall,
    quadratic risk). Output: (a_id, b_id, jaccard).
    """
    sh = track_persist(docs.select("doc_id", shingles(F.col(text_col), k).alias("sh")))
    ds = sh.select("doc_id", F.explode("sh").alias("shingle"))
    if max_bucket is not None:
        freq = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("_n"))
        if log_dropped:
            freq = _observe_dropped(freq, max_bucket)
        freq = track_persist(freq)
        ds = ds.join(freq.filter(F.col("_n") <= max_bucket), "shingle", "left_semi")
    # Examined r14 and deliberately NOT persisted: ds feeds both sides
    # of the candidate self-join, but the duplicated explode+semi-join
    # runs from the sh/freq CACHES — an A/B measured persisting ds
    # consistently ~15% slower end-to-end (materializing the
    # token-scale rows costs more than recomputing the explode; the
    # upstream tokenize/shingle work is already persisted once).
    a = ds.alias("a")
    b = ds.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # Exact verify on the full shingle arrays (the filter above shaped
    # only the candidate set, not the similarity space).
    return _verify_jaccard(sh, cand, threshold)


def _sigs_from_shingle_rows(sh: DataFrame, num_perm: int) -> DataFrame:
    """Signatures via explode + 64-way min groupBy. Counter-intuitively
    this BEATS a map-only array_min∘transform formulation (~2.5× here):
    the min aggregates run inside whole-stage codegen while HOF lambdas
    are interpreted per element, and since a doc's exploded shingles stay
    in their source partition, map-side partial aggregation collapses
    each doc to one row before the exchange — the shuffle carries only
    (doc_id, 64 longs), signature-sized at any corpus scale."""
    ds = sh.select("doc_id", F.explode("sh").alias("shingle"))
    sig = F.array(
        *[F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_perm)]
    )
    return ds.groupBy("doc_id").agg(sig.alias("sig"))


def minhash_signatures(docs: DataFrame, text_col: str = "text", k: int = 5,
                       num_perm: int = 64) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    xxhash64(shingle, seed=i). Pure JVM (xxhash64 is codegen'd)."""
    sh = docs.select("doc_id", shingles(F.col(text_col), k).alias("sh"))
    return _sigs_from_shingle_rows(sh, num_perm)


def _minhash_sigs(sh: DataFrame, num_perm: int, portable: bool) -> DataFrame:
    """(doc_id, sig) from a (doc_id, sh: array<string>) frame — md5
    hex-min signatures when portable (the SQL-replayable grammar of
    dedup_minhash_md5), xxhash64 otherwise (fast path)."""
    if portable:
        ds = sh.select("doc_id", F.explode("sh").alias("shingle"))
        sig = F.array(
            *[
                F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"h{i}")
                for i in range(num_perm)
            ]
        )
        return ds.groupBy("doc_id").agg(sig.alias("sig"))
    return _sigs_from_shingle_rows(sh, num_perm)


def _band_keys(sigs: DataFrame, num_perm: int, bands: int,
               portable: bool) -> DataFrame:
    """(doc_id, band, bh) band keys from a (doc_id, sig) frame."""
    rows = num_perm // bands
    if portable:
        band_hash = lambda cols: F.md5(F.concat(*cols))  # noqa: E731
    else:
        band_hash = lambda cols: F.xxhash64(*cols)  # noqa: E731
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_hash(
                            [F.col("sig").getItem(b * rows + r) for r in range(rows)]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")


def _banded_from_shingles(sh: DataFrame, num_perm: int, bands: int,
                          portable: bool) -> DataFrame:
    return _band_keys(_minhash_sigs(sh, num_perm, portable),
                      num_perm, bands, portable)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text", k: int = 5,
                      num_perm: int = 64, bands: int = 16,
                      threshold: float = 0.5,
                      broadcast_candidates: bool = True,
                      portable: bool = False) -> DataFrame:
    """MinHash-LSH near-dup pairs: band signatures into ``bands`` buckets,
    candidates = pairs sharing any band bucket, then EXACT Jaccard verify
    (so precision is exact; recall is the LSH S-curve).

    ``portable=True`` swaps xxhash64 for md5 in both the signatures
    (lexicographic min of hex) and the band keys, making every stage —
    including which candidates LSH surfaces — reproducible in ANSI SQL
    (the dedup_minhash_md5 oracle). xxhash64 is the fast default.
    Output: (a_id, b_id, jaccard)."""
    # The per-doc shingle arrays feed three consumers (signatures and both
    # sides of the verify join): materialize once. On a cluster this would
    # be a checkpoint/persist of a ~linear-size intermediate. Tracked so
    # session.release_tracked_caches() (or the next prepare()) frees it —
    # library callers composing several dedup calls call it explicitly.
    sh = track_persist(docs.select("doc_id", shingles(F.col(text_col), k).alias("sh")))
    # r14 (guide §7.2 duplicated subtrees): the band-key frame feeds BOTH
    # sides of the candidate self-join as different aliases — no
    # ReusedExchange — so the signature aggregation (explode + num_perm
    # hash-mins over every shingle; a SortAggregate in the portable md5
    # grammar, whose string min buffers fall out of hash aggregation)
    # executed twice. The checkpoint is band-key-sized (bands rows per
    # doc, two narrow columns) — the established bounded pattern.
    banded = _banded_from_shingles(sh, num_perm, bands, portable)
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # Exact-Jaccard verify restricted to LSH candidates only: candidates
    # are tiny vs the corpus, so broadcast them into two linear passes over
    # the per-doc shingle arrays (no all-pairs shingle self-join — at 100 TB
    # that quadratic join is exactly what LSH exists to avoid).
    # cand is result-scale (the near-dup pair list). The hint skips the
    # sort-merge fallback; for pathological corpora where the candidate
    # set itself is huge, pass broadcast_candidates=False.
    if broadcast_candidates:
        cand = F.broadcast(cand)
    return _verify_jaccard(sh, cand, threshold)


def simhash(docs: DataFrame, text_col: str = "text",
            portable: bool = False) -> DataFrame:
    """SimHash per doc — per-bit sign sums as conditional aggregates,
    fully inside codegen (no Python). Output: (doc_id, simhash).

    Default: 64-bit fingerprint from token xxhash64s (fast path).
    ``portable=True``: 60-bit fingerprint from the first 15 hex chars of
    md5 (the same engine-portable-hash trade as
    :func:`minhash_lsh_pairs_portable`) — 15 nibbles fit a signed BIGINT
    in any engine and are nibble-extractable in ANSI SQL, so the ENTIRE
    pipeline replays in the DuckDB oracle (dedup_simhash_md5)."""
    n_bits = 60 if portable else 64
    tok = docs.select(
        "doc_id", F.explode(words(F.col(text_col))).alias("tok")
    )
    if portable:
        tok = tok.withColumn(
            "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        )
    else:
        tok = tok.withColumn("h", F.xxhash64("tok"))
    sums = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    agg = tok.groupBy("doc_id").agg(*sums)
    fp = None
    for i in range(n_bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_pairs(docs: DataFrame, text_col: str = "text", max_hamming: int = 3,
                  portable: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole banding: split the fingerprint into 4 equal bands (16 bits
    each; 15 with ``portable=True``'s 60-bit fingerprint); any pair
    within Hamming ≤ 3 agrees exactly on ≥1 band ⇒ candidates via 4
    equi-joins, then exact popcount verify. Output: (a_id, b_id, hamming).
    """
    band_bits = 15 if portable else 16
    band_mask = (1 << band_bits) - 1
    sh = simhash(docs, text_col, portable=portable)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("bh"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bh")
    # r14 (guide §7.2): same duplicated-subtree shape as
    # minhash_lsh_pairs — the self-join's two aliases otherwise run the
    # n_bits-aggregate fingerprint pass twice. 4 rows per doc.
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def minhash_lsh_pairs_portable(docs: DataFrame, text_col: str = "text",
                               k: int = 5, num_perm: int = 16, bands: int = 4,
                               threshold: float = 0.5,
                               broadcast_candidates: bool = True) -> DataFrame:
    """minhash_lsh_pairs with engine-portable md5 hashing (see its
    docstring); smaller default signature since md5 costs more."""
    return minhash_lsh_pairs(
        docs, text_col, k, num_perm, bands, threshold,
        broadcast_candidates=broadcast_candidates, portable=True,
    )



# ---- incremental near-dup (the dedup-at-ingest path) ------------------------

def minhash_probe_pairs(old_docs: DataFrame, new_docs: DataFrame,
                        text_col: str = "text", k: int = 5,
                        num_perm: int = 64, bands: int = 16,
                        threshold: float = 0.5, portable: bool = False,
                        broadcast_candidates: bool = True) -> DataFrame:
    """Incremental near-dup: which NEW documents near-duplicate the
    EXISTING corpus — the question an ingest pipeline asks of every
    arriving batch, where re-running all-pairs LSH over corpus+batch
    would re-verify the whole corpus against itself for nothing.
    Candidates are NEW×OLD band collisions ONLY (old×old pairs were
    adjudicated when those docs arrived; new×new dedup is the batch
    operator over the batch alone), then the standard exact-Jaccard
    verify. Doc ids must be disjoint across sides (the ingest
    contract). Same banding grammar as :func:`minhash_lsh_pairs`
    (portable=md5 replays in SQL — the ``dedup_minhash_incremental``
    gate). Output: (new_id, old_id, jaccard).

    100 TB shape: the corpus side contributes only its band keys
    (signature-sized); the batch side is small, so the collision join
    shuffles batch-scale data against a pre-computable corpus band
    table — the on-disk :func:`build_minhash_index` /
    :func:`probe_minhash_index` pair persists exactly that table so
    arriving batches never re-hash the corpus at all."""
    sh_old = track_persist(
        old_docs.select("doc_id", shingles(F.col(text_col), k).alias("sh")))
    sh_new = track_persist(
        new_docs.select("doc_id", shingles(F.col(text_col), k).alias("sh")))
    b_old = _banded_from_shingles(sh_old, num_perm, bands, portable)
    b_new = _banded_from_shingles(sh_new, num_perm, bands, portable)
    n, o = b_new.alias("n"), b_old.alias("o")
    cand = (
        n.join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bh") == F.col("o.bh")),
        )
        .select(F.col("n.doc_id").alias("a_id"),
                F.col("o.doc_id").alias("b_id"))
        .distinct()
    )
    if broadcast_candidates:
        cand = F.broadcast(cand)
    return _verify_jaccard(
        sh_old.unionByName(sh_new), cand, threshold
    ).withColumnRenamed("a_id", "new_id").withColumnRenamed("b_id", "old_id")


def build_minhash_index(docs: DataFrame, path: str, text_col: str = "text",
                        k: int = 5, num_perm: int = 64,
                        bands: int = 16) -> None:
    """Persist the corpus's near-dup probe index: ``{path}/bands``
    (doc_id, band, bh) and ``{path}/sigs`` (doc_id, sig) — both
    signature-sized (~tens of bytes/doc vs the kilobytes of text they
    summarize), which is what makes dedup-at-ingest O(batch) instead
    of O(corpus): arriving batches band-join against this table and
    never re-read or re-hash existing text. xxhash64 (the fast path —
    an index is engine-private; the portable grammar exists for the
    hash gate's in-plan twin).

    Layout: ``{path}/{sigs,bands}/epoch=N`` — every write lands in its
    own epoch subdirectory (the streaming ingest sink's idempotent
    -replay scheme, streaming/ingest.py; the base build is epoch -1,
    batch/stream absorbs count up from 0 — one writer regime per
    index). Readers see ``epoch`` as one more partition column and
    ignore it. ``{path}/meta`` is a ONE-ROW parquet table
    (num_perm, bands, next_epoch — the IVF centroids-table idiom) so
    probes never infer store params by scanning the index: at a
    10¹⁰-doc store a per-batch max-epoch aggregate would be a full
    index scan; the meta read is one tiny file."""
    sh = docs.select("doc_id", shingles(F.col(text_col), k).alias("sh"))
    sigs = _minhash_sigs(sh, num_perm, portable=False)
    sigs.write.mode("overwrite").parquet(f"{path}/sigs/epoch=-1")
    banded = _band_keys(
        docs.sparkSession.read.parquet(f"{path}/sigs/epoch=-1"),
        num_perm, bands, portable=False,
    )
    banded.write.mode("overwrite").parquet(f"{path}/bands/epoch=-1")
    _write_minhash_meta(docs.sparkSession, path, num_perm, bands, 0)


def _write_minhash_meta(spark, path: str, num_perm: int, bands: int,
                        next_epoch: int) -> None:
    indexstore.write_meta(spark, path, indexstore.MINHASH_META,
                          num_perm, bands, next_epoch)


def _read_minhash_meta(spark, path: str) -> tuple[int, int, int]:
    """(num_perm, bands, next_epoch) from the one-row ``{path}/meta``
    table; legacy stores without one fall back to inferring from the
    index itself (the pre-meta behavior — a full epoch-column scan,
    acceptable once for migration, not per probe)."""
    from pyspark.errors import AnalysisException

    try:
        return indexstore.read_meta(spark, path, indexstore.MINHASH_META)
    except AnalysisException:
        num_perm = len(
            spark.read.parquet(f"{path}/sigs").select("sig").first()["sig"])
        mx = spark.read.parquet(f"{path}/bands").agg(
            F.max("band"), F.max("epoch")).first()
        return num_perm, int(mx[0]) + 1, int(mx[1]) + 1


def probe_minhash_index(spark, path: str, new_docs: DataFrame,
                        text_col: str = "text", k: int = 5,
                        threshold: float = 0.5,
                        append: bool = False,
                        epoch: int | None = None,
                        before_epoch: int | None = None) -> DataFrame:
    """Probe an on-disk :func:`build_minhash_index` store with an
    arriving batch: (new_id, old_id, est_jaccard) for every new doc
    whose bands collide with a stored doc and whose SIGNATURE-estimated
    Jaccard (matching minhash coordinates / num_perm — the unbiased
    estimator, exact verify impossible without stored text) clears
    ``threshold``. num_perm/bands come from the store's one-row meta
    table — the probe performs NO full-index driver action. With
    ``append=True`` the batch's bands+sigs are absorbed into the store
    afterwards (the ingest step: a fresh ``epoch=N`` subdirectory per
    absorb — see build_minhash_index's layout note), so later batches
    dedup against it — in that case the probe result is checkpointed
    (distributed, not collected) BEFORE the append so the lazy read
    can't race the store's growth.

    ``epoch`` pins the absorb epoch (a retrying caller MUST pin it so
    the retry overwrites the same partition instead of absorbing the
    batch twice under two epochs); default = the meta's next_epoch,
    computed only on the append path. ``before_epoch`` restricts the
    PROBE to store epochs strictly below it — epoch is a partition
    column, so this is a pruning filter, not a scan. Replay-safe
    ingest (streaming/minhash_ingest.py) passes
    ``before_epoch = epoch = batch_id``: a crash between absorb and
    checkpoint commit replays the batch against a store that already
    contains its own sigs, and without the filter every doc would
    match itself and the whole batch would be flagged as dupes."""
    sigs_store = spark.read.parquet(f"{path}/sigs")
    band_store = spark.read.parquet(f"{path}/bands")
    if before_epoch is not None:
        sigs_store = sigs_store.filter(F.col("epoch") < before_epoch)
        band_store = band_store.filter(F.col("epoch") < before_epoch)
    sigs_store = sigs_store.select("doc_id", "sig")
    num_perm, bands, next_epoch = _read_minhash_meta(spark, path)
    sh_new = new_docs.select(
        "doc_id", shingles(F.col(text_col), k).alias("sh"))
    sigs_new = _minhash_sigs(sh_new, num_perm, portable=False)
    sigs_new = sigs_new.localCheckpoint(eager=False)  # consumed 2-3×
    b_new = _band_keys(sigs_new, num_perm, bands, portable=False)
    b_old = band_store.select("doc_id", "band", "bh")
    cand = (
        b_new.alias("n")
        .join(b_old.alias("o"),
              (F.col("n.band") == F.col("o.band"))
              & (F.col("n.bh") == F.col("o.bh")))
        .select(F.col("n.doc_id").alias("new_id"),
                F.col("o.doc_id").alias("old_id"))
        .distinct()
    )
    est = (
        F.aggregate(
            F.zip_with(F.col("nsig"), F.col("osig"),
                       lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double") / F.lit(float(num_perm))
    )
    out = (
        F.broadcast(cand)
        .join(sigs_new.select(F.col("doc_id").alias("new_id"),
                              F.col("sig").alias("nsig")), "new_id")
        .join(sigs_store.select(F.col("doc_id").alias("old_id"),
                                F.col("sig").alias("osig")), "old_id")
        .select("new_id", "old_id", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
        # a doc is never a duplicate of ITSELF: after a crashed absorb
        # + compaction folds the batch's epoch into -1, the replayed
        # probe's before_epoch no longer excludes the batch's own rows
        # (r14, advisor r13) — identical ids are identity, drop them
        # unconditionally (a no-op for fresh-id batches)
        .filter(F.col("new_id") != F.col("old_id"))
    )
    if append:
        out = out.localCheckpoint(eager=True)
        absorb_into_minhash_index(
            path, sigs_new, b_new,
            next_epoch if epoch is None else epoch)
    return out


def absorb_into_minhash_index(path: str, sigs_new: DataFrame,
                              bands_new: DataFrame, epoch: int) -> None:
    """Write a batch's sigs+bands into the store's ``epoch=N``
    subdirectories with OVERWRITE — replaying the same epoch (a crashed
    streaming micro-batch, a retried absorb) rewrites the same files
    instead of double-appending, the streaming/ingest.py idempotence
    scheme applied to the dedup index. The one-row meta table is then
    bumped to ``next_epoch = max(current, epoch+1)`` — monotone, so an
    epoch-pinned replay of an old batch never winds it backwards."""
    sigs_new.write.mode("overwrite").parquet(f"{path}/sigs/epoch={epoch}")
    bands_new.write.mode("overwrite").parquet(f"{path}/bands/epoch={epoch}")
    spark = sigs_new.sparkSession
    num_perm, bands, nxt = _read_minhash_meta(spark, path)
    _write_minhash_meta(spark, path, num_perm, bands,
                        max(nxt, int(epoch) + 1))


def cluster_canonical(docs: DataFrame, pairs: DataFrame,
                      text_col: str = "text",
                      a: str = "a_id", b: str = "b_id") -> DataFrame:
    """Canonical-document selection — the MATERIALIZATION step after
    cluster formation: every doc gets its near-dup cluster id (its own
    id when unpaired), and each cluster elects ONE canonical member to
    keep — the longest text, ties to the lowest doc_id (the "keep the
    most complete copy" rule; contrast semantic_dedup's keep-least-
    typical, which is per-PAIR). Everything else points at it via
    ``dup_of`` — the exact drop/rewrite list a curation pipeline
    applies.

    Output: (doc_id, cluster_id, cluster_size, is_canonical, dup_of)
    for EVERY input doc; singletons are their own canonical with
    cluster_size 1 and NULL dup_of.

    100 TB shape: :func:`connected_components` is O(log diameter)
    pointer-jumping rounds over the (sparse) pair list; the component
    labels join back to the corpus on doc_id (one shuffle), and the
    election is window functions over ONE clustering by cluster_id —
    Catalyst reuses a single exchange for the row_number, the count,
    and the first_value. No all-pairs stage anywhere; the corpus is
    never self-joined."""
    from pyspark.sql import Window

    comp = connected_components(pairs, a=a, b=b)
    labeled = (
        docs.select("doc_id", F.length(text_col).alias("_n_chars"))
        .join(comp, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col("_n_chars").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rn = Window.partitionBy("cluster_id").orderBy(
        F.col("_n_chars").desc(), F.col("doc_id")
    )
    return (
        labeled.withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("int"))
        .withColumn("_canon", F.first("doc_id").over(w))
        .withColumn("is_canonical", F.row_number().over(w_rn) == 1)
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "is_canonical",
            F.when(~F.col("is_canonical"), F.col("_canon")).alias("dup_of"),
        )
    )


# ---- benchmark decontamination ---------------------------------------------
def contamination(docs: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", k: int = 5,
                  min_overlap: int = 1) -> DataFrame:
    """Benchmark decontamination: training documents sharing ≥
    ``min_overlap`` distinct word k-gram shingles with a benchmark doc.

    Output: (doc_id, bench_id, n_overlap, overlap_frac) — one row per
    contaminated (train, benchmark) pair, ``overlap_frac`` = overlapping
    shingles / the TRAIN doc's distinct shingles (rounded to 6).

    100 TB shape: the benchmark side (eval sets: thousands of docs, not
    billions) is broadcast, so the shingle join is map-side with NO
    shuffle of the corpus; the only shuffle is the per-pair count, whose
    input is just the matching shingle rows. The denominator (each
    train doc's distinct-shingle count) is ``F.size`` on the shingle
    array BEFORE the explode — a map-side projection carried through
    the join as a group key — so the corpus is scanned once and never
    shuffled whole. The train corpus is never self-joined. Run after
    scrubbing, before split/packing.
    """
    d_sh = docs.select(
        "doc_id", shingles(F.col(text_col), k).alias("_shs")
    ).select(
        "doc_id",
        F.size("_shs").alias("_n_sh"),
        F.explode("_shs").alias("sh"),
    )
    b_sh = benchmark.select(
        F.col("doc_id").alias("bench_id"),
        F.explode(shingles(F.col(text_col), k)).alias("sh"),
    )
    # _n_sh is constant per doc_id, so adding it to the group keys
    # changes no groups — it just rides the one pair-count shuffle.
    return (
        d_sh.join(F.broadcast(b_sh), "sh")
        .groupBy("doc_id", "bench_id", "_n_sh")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
        .select(
            "doc_id",
            "bench_id",
            "n_overlap",
            F.round(F.col("n_overlap").cast("double") / F.col("_n_sh"), 6).alias(
                "overlap_frac"
            ),
        )
    )


# ---- near-dup cluster formation --------------------------------------------
def _cc_driver_union_find(edges: DataFrame, id_type: str) -> DataFrame:
    """Bounded fast path of :func:`connected_components`: union-find
    over a collected metadata-scale edge list (size-gated by the
    caller). Same contract — one (doc_id, cluster_id = min id in
    component) row per distinct endpoint. The symmetric edge list
    contains both directions, so every endpoint appears as ``src``."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        s, d = row[0], row[1]
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rd] = rs
    roots: dict = {}
    for node in parent:
        r = find(node)
        m = roots.get(r)
        if m is None or node < m:
            roots[r] = node
    out = [(node, roots[find(node)]) for node in parent]
    out.sort()
    return local_df(
        edges.sparkSession, out,
        f"doc_id {id_type}, cluster_id {id_type}",
        # metadata-scale but not one-row-scale: a handful of slices
        # keeps downstream consumers (joins back to the corpus) off a
        # single task without the 32-partition pickled fan-out local_df
        # exists to avoid
        n_slices=max(1, min(8, len(out) // 4096)),
    )


def connected_components(pairs: DataFrame, a: str = "a_id", b: str = "b_id",
                         max_iter: int = 25,
                         driver_max_edges: int = 100_000) -> DataFrame:
    """Connected components over an undirected pair list — the cluster
    step after any pair-producing dedup stage (keep one doc per
    cluster). Output: (doc_id, cluster_id) for every endpoint, with
    ``cluster_id`` = min doc_id in the component.

    Size-adaptive strategy (r15, guide §1.2/§3.1 precedent — the same
    decision a broadcast join makes): the deduped symmetric edge list
    is materialized (eager localCheckpoint, unchanged from r14) and its
    COUNT taken from the cached blocks. At or below
    ``driver_max_edges`` (default 100k edges — single-digit MB, i.e.
    broadcast-scale metadata) the components are computed with one
    driver-side union-find over the collected pairs: exact same
    (doc_id, min-id cluster) output, ZERO iterative rounds — where the
    distributed fixpoint pays ~0.4–0.6 s of per-round job-launch +
    tiny-shuffle overhead at interactive scale (the r6/r14 profiles:
    fixed per-round cost, flat in data). Numeric-id graphs only (int /
    bigint / smallint): Python's integer ordering is the same as
    Spark's, so min-per-component is bit-identical; string ids always
    take the distributed path (UTF-8-byte vs code-point ordering could
    diverge on non-ASCII ids). Above the gate — the 100 TB shape,
    where a banded near-dup pair list is billions of rows — the
    distributed path below runs unchanged; both paths are pinned equal
    on random graphs in tests/test_llm_ops.py.

    Distributed path: iterative min-label propagation with pointer
    jumping (label := label-of-label each hop), so convergence is
    O(log diameter) hops, not O(diameter) — a chain of 1M pairwise
    near-dups resolves in ~20 hops. Each round runs TWO propagate+jump
    hops before the single persist + scalar count action, halving the
    Spark-job overhead that dominates wall-clock on small/interactive
    runs. The convergence test counts changes of the round's SECOND
    hop only — exact, not approximate: labels are monotone
    non-increasing (``F.least`` with the old label; the jump follows a
    node whose label ≤ its id), so a no-op hop means the propagation
    operator is at its fixpoint even when the hop before it changed
    labels — the common converge-on-hop-2 case stops without paying a
    confirm round. Raises after ``max_iter`` rounds (2·max_iter hops)
    without a fixpoint rather than returning half-merged clusters.
    """
    # Persist the directed pair list FIRST: the symmetric union below
    # reads it twice, and without the persist the whole upstream pair
    # pipeline (e.g. the shingle join) would execute twice. The edge
    # list is then LINEAGE-TRUNCATED (localCheckpoint), not merely
    # persisted: every hop of every round references it, and with a
    # plain persist Catalyst re-analyzes the full upstream logical plan
    # (the whole shingle-join pipeline) on each reference — per-round
    # planning cost grows with pipeline depth and, combined with the
    # self-joins below, blew a 250-edge run past the driver heap in plan
    # TreeNode strings. Trade-off at cluster scale: checkpointed blocks
    # are executor-local, so an executor loss mid-iteration fails the
    # job instead of recomputing — the standard iterative-graph
    # trade (GraphFrames' CC makes the same one).
    directed = track_persist(pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")))
    edges = directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    directed.unpersist()
    src_type = dict(edges.dtypes)["src"]
    if src_type in ("smallint", "int", "bigint"):
        # one scan of the just-checkpointed blocks — cheap at any scale —
        # buys the whole strategy decision. A null endpoint takes the
        # distributed path, whose joins define how a null id clusters
        # (the symmetric list carries every endpoint as src).
        n_edges, n_ids = edges.agg(F.count(F.lit(1)), F.count("src")).first()
        if n_edges == n_ids and n_edges <= driver_max_edges:
            return _cc_driver_union_find(edges, src_type)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    label_type = dict(labels.dtypes)["label"]

    def _hop(cur: DataFrame) -> DataFrame:
        """One propagate+jump hop over (id, _old, label); _old rides
        through untouched for the round's convergence test.

        Propagate-min is ONE shuffle join + ONE aggregate (r14
        optimization, guide §2.4): the node's own label rides the same
        groupBy as the incoming neighbor labels via a union, replacing
        the former join(edges)+groupBy+join(cur) three-exchange shape —
        min(own ∪ incoming) ≡ least(own, min(incoming)), so the label
        frame after every hop is IDENTICAL to the old formulation (the
        per-round n_changed trajectory was pinned equal on the mutual-
        kNN and ngram graphs before the switch). Every id appears
        exactly once in ``cur`` and prop ids ⊆ node set, so
        max(_old) just recovers each node's own _old (prop rows carry
        null)."""
        prop = edges.join(
            cur.select(F.col("id").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("id"), "label")
        l1 = (
            cur.select("id", "_old", "label")
            .unionByName(prop.select(
                "id", F.lit(None).cast(label_type).alias("_old"), "label"))
            .groupBy("id")
            .agg(F.max("_old").alias("_old"), F.min("label").alias("_l1"))
        )
        # pointer jumping: follow the label's own label one hop
        hop = l1.select(F.col("id").alias("_lid"), F.col("_l1").alias("_llabel"))
        return l1.join(hop, l1["_l1"] == hop["_lid"], "left").select(
            "id", "_old", F.coalesce("_llabel", "_l1").alias("label")
        )

    for _ in range(max_iter):
        # Two hops per scalar action. Hop 1 is persisted (lazily) so
        # hop 2's self-join doesn't recompute it ~3×; the round result
        # is LAZILY localCheckpoint'ed, so the single count() below
        # materializes hop1-cache → hop2 → checkpoint in one job chain
        # AND truncates the lineage — without truncation the label
        # frame's logical plan doubles every round (each hop embeds its
        # input 3×: neighbor join, update join, pointer-jump self-join)
        # and planning itself OOMs the driver. Checkpointed round
        # results are released by the ContextCleaner when the next
        # round's frame drops the last reference.
        h1 = track_persist(
            _hop(labels.select("id", F.col("label").alias("_old"), "label"))
        )
        # reset _old to hop 1's output so the count below measures HOP 2
        # ALONE: a no-op hop proves the propagation operator is at its
        # fixpoint regardless of what hop 1 changed (applying it again
        # would change nothing), so the common converge-on-hop-2 case
        # stops HERE instead of paying a full confirm round.
        new = _hop(
            h1.select("id", F.col("label").alias("_old"), "label")
        ).localCheckpoint(eager=False)
        # ONE scalar action per two hops, no extra join; exact because
        # labels are monotone non-increasing (see docstring)
        n_changed = new.where(F.col("label") != F.col("_old")).count()
        # h1's cache fed new's materialization just now; drop it eagerly
        h1.unpersist()
        labels = new.select("id", "label")
        if n_changed == 0:
            break
    else:
        raise ValueError(
            f"connected_components did not converge in {max_iter} rounds "
            "(raise max_iter for pathologically deep duplicate chains)"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def redact_duplicated_spans(docs: DataFrame, width: int = 8,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """The APPLY side of :func:`duplicated_spans` (Lee et al. 2022
    §4.2 — after finding duplicated substrings, the pipeline actually
    REMOVES them before training): every token covered by any
    duplicated ``width``-token window is dropped from the document;
    the survivors re-join in order. Aggressive-removal semantics (all
    occurrences go, not all-but-one) — deterministic, order-free, and
    the variant that needs no global canonical-occurrence election
    across the corpus.

    Output: (doc_id, n_tokens, n_removed, clean_text) — every input
    doc keeps a row; docs shorter than ``width`` tokens pass through
    untouched.

    100 TB shape, all linear: one posexplode pass (token rows), one
    span-hash groupBy (the detector, shared grammar with
    duplicated_spans), covered positions = spans×width explode folded
    by DISTINCT, the removal is a LEFT ANTI equi-join on
    (doc_id, pos), and reassembly is a per-doc collect_list bounded by
    document length — no all-pairs stage, nothing driver-side. Exact
    string semantics (split-on-space, 1-based windows, md5,
    single-space re-join) replay in SQL — the ``dedup_spans_redact``
    hash gate covers the cleaned TEXT itself."""
    toks = F.split(F.col(text_col), " ")
    # r14 (guide §7.2): base feeds THREE consumers (spans, the token
    # rows, the final per-doc join) and spans feeds TWO (the duplicate
    # set and the covered positions) — un-persisted, the scan+split ran
    # 3× and the window-hash explode 2×. Both are the ~linear-size
    # intermediates the minhash `sh` persist precedent covers (base is
    # doc-scale with token arrays; spans is token-scale but narrow).
    base = track_persist(docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("n"),
    ))
    spans = track_persist(
        base.where(F.col("n") >= width)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n") - width + 1)
            ).alias("g"),
            "toks",
        )
        .select(
            "doc_id", "g",
            F.md5(F.array_join(F.slice("toks", F.col("g"), width), " "))
            .alias("h"),
        )
    )
    dup_h = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    covered = (
        spans.join(dup_h, "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("g"), F.col("g") + width - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    tok_rows = base.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tok_rows.join(covered, ["doc_id", "pos"], "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", "n")
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            (F.col("n") - F.coalesce("n_kept", F.lit(0))).cast("long")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def duplicated_spans(docs: DataFrame, width: int = 8,
                     text_col: str = "text", id_col: str = "doc_id",
                     ) -> DataFrame:
    """Exact duplicated-span detection — the scalable fixed-width
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): hash every ``width``-token window (stride 1),
    call a span duplicated when its hash occurs in ≥2 DISTINCT
    documents, and report per-document totals.

    Output: (doc_id, n_spans, n_dup_spans) — every input document keeps
    a row (0/0 when shorter than ``width`` tokens).

    100 TB shape: explode is one linear pass (spans ≈ token count, the
    BPE corpus-pass budget), the duplicate set is one hash groupBy, the
    flag join is an equi-join on the span hash that reuses the groupBy's
    partitioning, and the final rollup is a groupBy on doc_id — no
    all-pairs stage anywhere. The driver never materializes spans.
    """
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("n"),
    )
    # r14 (guide §7.2): spans feeds THREE consumers (dup set, per-doc
    # totals, per-doc dup counts) — un-persisted, the window-hash
    # explode ran 3×. Token-scale but two narrow columns.
    spans = track_persist(
        base.where(F.col("n") >= width)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n") - width + 1)
            ).alias("g"),
            "toks",
        )
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("toks", F.col("g"), width), " "))
            .alias("h"),
        )
    )
    dup_h = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
    )
    dup_per_doc = (
        spans.join(dup_h, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long")
            .alias("n_dup_spans"),
        )
    )
