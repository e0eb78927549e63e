"""Sparse lexical retrieval: TF-IDF inverted-index top-k search.

The sparse complement to the dense ANN tier (operators/similarity.py):
given a handful of query documents, find the k most lexically similar
corpus documents by TF-IDF dot product — the BM25/TF-IDF retrieval shape
every training-data pipeline runs for benchmark decontamination sweeps,
near-duplicate triage, and retrieval-augmented filtering.  No reference
analogue (the reference is a Bigtable scan connector, SURVEY.md §0).

The 100 TB shape, stage by stage:

- postings (the inverted index): tokenize → groupBy(doc, term) → join the
  vocabulary-sized df table back by BROADCAST — identical economics to
  operators/tfidf.py (one token-pair shuffle with map-side partial agg;
  the corpus-sized tf table never reshuffles for the vocabulary join),
  including the explicit ``localCheckpoint`` so the df branch does not
  re-tokenize the corpus (2-FileScan trap measured there).
- stop-term pruning: a term appearing in more than ``max_df_frac`` of
  documents is dropped from the index.  This is not a quality tweak but
  the SCALE bound: a stop word's postings list is O(corpus), so an
  unpruned index makes the candidate join quadratic in the worst case;
  after pruning, each query term's posting list is ≤ max_df_frac·N.
  Both engines prune on the exact integer df, so the oracle sees the
  identical index.
- candidate generation: the query side is a FILTER of the same postings
  (queries are documents of the corpus), and it is tiny — q docs × their
  terms — so it BROADCASTS: the full postings table is matched map-side,
  no index reshuffle.  Only the matched (query, candidate, partial)
  pairs enter the one scoring shuffle, grouped by (query, candidate).
- scoring: dot product of TF-IDF weights = SUM(w_doc · w_query) with
  map-side partial aggregation; ``round(score, 4)`` BEFORE ranking on
  both engines so rank never hangs on 1e-12 float-sum association noise
  (same discipline as the ANN queries' rounded cosine).
- top-k: row_number over (query) ordered by (score DESC, neighbor ASC) —
  per-query partitions are ≤ candidate count, never corpus-sized.

Driver state: none (no collect; the plan is lazy end-to-end).
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from datafusion_bigtable_spark.functions.text import words
from datafusion_bigtable_spark.operators.tfidf import corpus_term_stats
from datafusion_bigtable_spark.sources import swap
from datafusion_bigtable_spark.sources.layout import rewrite_files_dropping_ids

POSTINGS_DIR = "postings"
TERMS_DIR = "terms"
DOCS_DIR = "docs"
POSTINGS_META = "_postings_meta.json"
POSTINGS_VERSION = 3


def tfidf_postings(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_frac: float = 0.5,
) -> DataFrame:
    """The pruned TF-IDF inverted index: ``(term, id_col, wt)`` with
    ``wt = tf · ln(N/df)`` and terms with ``df > max_df_frac·N`` dropped
    (the stop-postings bound — see module doc).  Built on the shared
    tf/df/total base (``operators/tfidf.py::corpus_term_stats`` — one
    token-pair shuffle, materialized tf, broadcast vocabulary)."""
    tf, dfreq, total = corpus_term_stats(docs, id_col=id_col, text_col=text_col)
    return (
        tf.join(dfreq, "term")
        .crossJoin(total)
        .filter(F.col("df") <= max_df_frac * F.col("_n_docs"))
        .select(
            "term",
            id_col,
            (F.col("tf") * F.log(F.col("_n_docs") / F.col("df"))).alias("wt"),
        )
    )


def _guard_query_set(n_queries: int, max_query_docs: int) -> None:
    """Fail loud on an unbounded query set BEFORE it is force-broadcast.

    VERDICT r14 #5: the query postings are broadcast and every query
    multiplies the candidate-pair volume, so a predicate matching an
    unbounded fraction of the corpus re-creates the measured 23-45×
    superlinearity (queries.py r10) — and a force-broadcast side that
    grows with the corpus eventually OOMs every executor.  The count is
    one cheap aggregate over the pred columns; a caller who really wants
    a huge sweep raises ``max_query_docs`` explicitly, making the cost a
    decision instead of an accident (same posture as
    ``write_range_sorted_shards``'s NULL guard)."""
    if n_queries > max_query_docs:
        raise ValueError(
            f"query predicate matches {n_queries} documents, over the "
            f"max_query_docs={max_query_docs} broadcast bound; narrow the "
            "predicate (cap it on an absolute id range) or raise "
            "max_query_docs if the cost is intended"
        )


def sparse_topk(
    docs: DataFrame,
    query_pred: Column,
    *,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_frac: float = 0.5,
    max_query_docs: int = 10_000,
) -> DataFrame:
    """Top-``k`` TF-IDF-cosine-free dot-product neighbors for every corpus
    document matching ``query_pred`` (a predicate over ``docs`` columns,
    e.g. ``F.col("doc_id") % 50 == 0``), self excluded.

    Returns ``(query_id, neighbor_id, score, rk)``, ``rk`` 1..k ordered by
    ``(round(score,4) DESC, neighbor_id ASC)``.  Candidates are only
    documents sharing ≥1 surviving index term with the query — exactly
    the inverted-index contract (a no-overlap pair scores 0 and is never
    generated).  ``max_query_docs`` bounds the query set (fail-loud —
    see :func:`_guard_query_set`)."""
    _guard_query_set(docs.filter(query_pred).count(), max_query_docs)
    postings = tfidf_postings(
        docs, id_col=id_col, text_col=text_col, max_df_frac=max_df_frac
    )
    # postings is consumed twice (index side + query side) but is NOT
    # materialized here (r19): the 2-FileScan re-tokenize trap this
    # checkpoint once guarded against is already cut at the tf table
    # INSIDE corpus_term_stats, so both branches replan only the cheap
    # tf⋈(broadcast df) join over tf's blocks — and the query branch
    # filters to the (bounded) query docs before doing even that.  The
    # checkpoint itself was a full extra materialization pass of the
    # index (measured at sf10: 256 MB of blocks written; removing it,
    # 17-22 s → 10-15 s interleaved A/B, identical top-k; sf0.1
    # 1.12-1.34 → 1.09-1.19 s).
    # both joins that touch the corpus-sized postings table carry an
    # EXPLICIT broadcast hint on their small side (the query-id list here,
    # the assembled query postings below): at real scale nothing
    # auto-broadcasts, and a shuffle join on either re-exchanges the
    # whole index per query batch
    queries = F.broadcast(
        F.broadcast(docs.filter(query_pred).select(F.col(id_col).alias("query_id")))
        .join(postings, F.col("query_id") == F.col(id_col))
        .select("query_id", "term", F.col("wt").alias("qwt"))
    )
    scored = (
        postings.join(queries, "term")
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.round(F.sum(F.col("wt") * F.col("qwt")), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score", "rk")
    )


# ---------------------------------------------------------------------------
# Persistent postings index (build once, search forever) + BM25
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PostingsIndex:
    """Handle over a saved postings store — meta only; the postings and
    terms frames are lazy (each plans a scan, triggers nothing).

    r19 (VERDICT r18 #1): stores save their table schemas into the meta
    sidecar, so each accessor plans with an EXPLICIT schema — zero
    schema-inference footer reads per open, which matters on the
    streaming paths that re-plan these scans every micro-batch (the
    same sidecar-schema pattern as the IVF store's ``_ivf_meta.json``).
    Pre-r19 stores lack the key and fall back to inference unchanged."""

    path: str
    meta: dict
    _spark: SparkSession

    def _reader(self, table: str):
        from pyspark.sql.types import StructType

        reader = self._spark.read
        sch = self.meta.get("schemas", {}).get(table)
        if sch:
            reader = reader.schema(StructType.fromJson(json.loads(sch)))
        return reader

    def postings(self) -> DataFrame:
        return self._reader(POSTINGS_DIR).parquet(os.path.join(self.path, POSTINGS_DIR))

    def terms(self) -> DataFrame:
        return self._reader(TERMS_DIR).parquet(os.path.join(self.path, TERMS_DIR))

    def docs(self) -> DataFrame:
        """The AUTHORITATIVE membership table ``(id_col, dl)`` — one row
        per indexed document INCLUDING zero-token ones (dl=0).  ADVICE
        r15 #1/#2: membership inferred from postings presence is blind to
        token-less documents, so duplicate checks and streaming replay
        guards anchor here instead."""
        return self._reader(DOCS_DIR).parquet(os.path.join(self.path, DOCS_DIR))


def save_postings_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_frac: float = 0.5,
    n_files: int = 32,
) -> dict:
    """Build the pruned inverted index ONCE and persist it, so every later
    search (this session or any later one) pays zero tokenize/index cost
    — the sparse twin of ``save_ivf_index`` (VERDICT r14 #4; the dense
    tier already had save/load/upsert).

    Store layout (same manifest discipline as sources/shards.py and the
    IVF store — data first, tiny meta json written ATOMICALLY LAST, so a
    complete meta implies a complete store and a crash in between reads
    as "no index", never as a torn one):

    - ``postings/``: parquet ``(term, id_col, tf, dl)`` clustered by
      term into ``n_files`` files (a term's posting list is co-located,
      so the search join fans out over terms).  ``dl`` (document token
      length, BM25's normalizer) is DENORMALIZED onto the rows —
      dictionary+RLE encode it to near-nothing, and search then never
      re-shuffles the corpus-sized postings on id for a doclens join.
      ``df`` deliberately is NOT on the rows: document frequency is the
      one statistic that CHANGES when documents arrive, and a
      denormalized copy would make :func:`upsert_postings_index` rewrite
      O(index) instead of O(batch + vocabulary) — the same
      "derived-global-state lives in the small table" split as the IVF
      store's centroids-vs-assignments.
    - ``terms/``: the vocabulary-sized ``(term, df)`` table — exact
      document frequencies, rewritten wholesale on upsert (vocab-sized,
      independent of corpus size), BROADCAST at search.
    - ``docs/``: the AUTHORITATIVE membership table ``(id_col, dl)`` —
      one row per indexed document INCLUDING zero-token ones (dl=0),
      hash-clustered on id into ``n_files`` files.  ADVICE r15 #1/#2: a
      token-less document leaves no posting row, so membership inferred
      from the postings table lets a replayed batch or a duplicate
      upsert re-count it into n_docs forever; the docs table closes
      that hole and gives the delete lifecycle exact per-doc dl
      decrements.  Appends are O(batch); the id clustering bounds a
      delete's rewrite to the touched files.
    - ``_postings_meta.json``: corpus constants (n_docs, the exact
      integer token-length sum + doc count behind avgdl, the default
      pruning bound, id_col) — everything a search needs beyond the
      tables.

    Stop-term pruning (``df > max_df_frac·n_docs``) is applied at SEARCH
    against the CURRENT df (the terms table is filtered before its
    broadcast, so above-bound posting lists are dropped map-side at the
    scan join and never enter the scoring shuffle).  Pruning cannot be
    baked into the stored postings in an upsertable index: df crosses
    the bound in both directions as the corpus grows, and a baked-in
    drop would make an upserted index diverge from a fresh build.  The
    storage cost of keeping stop postings is bounded by total token
    count (which the store pays regardless); the SCALE bound that
    matters — candidate-pair volume — is enforced at search exactly as
    in :func:`sparse_topk`.

    ``dl`` counts ALL tokens of a doc (including stop terms) — BM25's
    length normalization is about document size, not index size.
    Returns the meta dict."""
    # Invalidate FIRST when overwriting: meta-written-last only means
    # "complete meta ⇒ complete store" if a crashed REWRITE cannot leave
    # yesterday's meta pointing at today's half-written postings.
    try:
        os.remove(os.path.join(path, POSTINGS_META))
    except FileNotFoundError:
        pass
    tf, dfreq, total = corpus_term_stats(docs, id_col=id_col, text_col=text_col)
    # exact integer sums -> avgdl derives identically on any engine
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    # membership covers EVERY input document (left join: a zero-token
    # doc gets dl=0), not just the token-bearing ones the tf table sees
    membership = (
        docs.select(id_col)
        .join(dl, id_col, "left")
        .select(id_col, F.coalesce(F.col("dl"), F.lit(0)).alias("dl"))
    )
    # ONE action yields every meta constant (r18, guide §1.2: previously
    # three driver actions — n_docs first, the dl sum/count first —
    # each a separate job over the same checkpointed tf): n_docs is the
    # membership row count, dl_docs the token-bearing subset (dl>0 ⟺
    # the doc has ≥1 token, i.e. a dl-table row).
    stats = membership.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("dl").alias("_sum"),
        F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("_n"),
    ).first()
    rows = tf.join(dl, id_col).select("term", id_col, "tf", "dl")
    # The three table writes are INDEPENDENT once the stats action above
    # materialized the checkpointed tf (each reads the cache, different
    # output dirs), so they run as concurrent jobs from a small thread
    # pool (guide §2.6 — later jobs back-fill the earlier ones' straggler
    # tails; job descriptions are thread-local so the UI stays labeled).
    # The meta commit below still happens strictly AFTER all three
    # complete, so the crash contract (complete meta ⇒ complete store)
    # is unchanged.
    def _w_postings():
        (
            rows.repartition(n_files, F.col("term"))
            .write.mode("overwrite")
            .parquet(os.path.join(path, POSTINGS_DIR))
        )

    def _w_terms():
        _write_terms(dfreq, os.path.join(path, TERMS_DIR))

    def _w_docs():
        (
            membership.repartition(n_files, F.col(id_col))
            .write.mode("overwrite")
            .parquet(os.path.join(path, DOCS_DIR))
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(w) for w in (_w_postings, _w_terms, _w_docs)]:
            f.result()
    meta = {
        "id_col": id_col,
        "n_docs": int(stats["_n_docs"]),
        "dl_sum": int(stats["_sum"] or 0),
        "dl_docs": int(stats["_n"]),
        "max_df_frac": max_df_frac,
        "version": POSTINGS_VERSION,
        # table schemas ride the sidecar (r19): later opens — every
        # search, and every streaming micro-batch — plan their scans
        # without a schema-inference footer read, the same pay-once
        # posture as the IVF store's sidecar schemas.
        "schemas": {
            POSTINGS_DIR: rows.schema.json(),
            TERMS_DIR: dfreq.schema.json(),
            DOCS_DIR: membership.schema.json(),
        },
    }
    swap.write_json(os.path.join(path, POSTINGS_META), meta)
    return meta


def _write_terms(terms: DataFrame, target: str) -> None:
    """Write the vocabulary-sized ``(term, df)`` table with a BOUNDED
    file count that still scales (r19, VERDICT r18 #3 / guide §6): the
    previous ``coalesce(1)`` kept search planning to one footer read but
    also narrowed the final merge AGGREGATION to a single task — correct
    while the vocabulary is small (it is broadcast at search, so it must
    be), but a single-task straggler if the term universe ever grows
    unbounded.  A REBALANCE hint lets AQE size the write from the actual
    bytes: a normal vocabulary still lands in ONE file (same planning
    cost as before — pinned in tests), an outsized one splits into
    advisory-sized files with the merge running at full parallelism."""
    terms.hint("rebalance").write.mode("overwrite").parquet(target)


def load_postings_index(spark: SparkSession, path: str) -> PostingsIndex:
    """Open a saved index: ONE tiny json read, zero data reads, zero Spark
    jobs (pinned in tests/test_retrieval.py).  Fails loud on an
    incomplete store — the meta is written last, so its absence means
    the save never finished."""
    meta_path = os.path.join(path, POSTINGS_META)
    if not os.path.isfile(meta_path):
        raise FileNotFoundError(
            f"{path} has no {POSTINGS_META} — postings index missing or its "
            "save crashed before commit; re-run save_postings_index"
        )
    with open(meta_path) as f:
        meta = json.load(f)
    if meta.get("version") != POSTINGS_VERSION:
        # an older-layout store (v1's denormalized-df postings, v2's
        # missing docs membership table) lacks structure this reader
        # needs — raised as FileNotFoundError so build-or-reuse callers
        # rebuild instead of special-casing migration
        raise FileNotFoundError(
            f"{path} is a version-{meta.get('version')} postings store; "
            f"this reader needs version {POSTINGS_VERSION} — re-run "
            "save_postings_index"
        )
    return PostingsIndex(path=path, meta=meta, _spark=spark)


def search_postings_index(
    index: PostingsIndex,
    query_pred: Column,
    *,
    k: int = 3,
    weighting: str = "tfidf",
    k1: float = 1.2,
    b: float = 0.75,
    max_query_docs: int | None = 10_000,
) -> DataFrame:
    """Top-``k`` retrieval against a SAVED index — same join shape as
    :func:`sparse_topk` (broadcast query postings, one scoring shuffle of
    matched pairs) minus the index build.

    ``query_pred`` selects the query documents over the index's id
    column (queries are corpus members, exactly the ``sparse_topk``
    contract — their stored postings ARE their tokenization, so a saved
    search is bit-identical to a fresh build, pinned in tests).

    ``weighting``:
    - ``"tfidf"``: ``wt = tf·ln(N/df)`` on both sides — hash-identical
      to ``sparse_topk`` for the same predicate.
    - ``"bm25"``: doc side ``ln((N-df+0.5)/(df+0.5)+1) ·
      tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))``, query side raw ``tf`` —
      the standard Okapi shape, fully deterministic and SQL-oracle-able
      (k1/b are plain literals; avgdl derives from the meta's exact
      integer sums, so every engine computes the same double).

    Scale: identical economics to ``sparse_topk`` — the corpus-sized
    postings never reshuffle (the exact-df terms table is vocab-sized
    and broadcast, already filtered to the under-bound terms, so stop
    posting lists are dropped map-side at the scan join); only matched
    (query, candidate, partial) pairs enter the one grouping exchange."""
    id_col = index.meta["id_col"]
    n_docs = index.meta["n_docs"]
    frac = index.meta["max_df_frac"]
    if weighting == "tfidf":
        wt = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
        qwt = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    elif weighting == "bm25":
        avgdl = index.meta["dl_sum"] / index.meta["dl_docs"]
        idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        wt = idf * (
            F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
        )
        qwt = F.col("tf").cast("double")
    else:
        raise ValueError(f"unknown weighting {weighting!r} (tfidf|bm25)")
    # stop-bound applied on the CURRENT df, pre-broadcast — the pruning
    # semantics of tfidf_postings, evaluated against today's corpus
    live_terms = F.broadcast(
        index.terms().filter(F.col("df") <= frac * F.lit(n_docs))
    )
    postings = index.postings().join(live_terms, "term")
    queries = postings.filter(query_pred).select(
        F.col(id_col).alias("query_id"), "term", qwt.alias("qwt")
    )
    # the guard counts QUERY DOCUMENTS on the docs membership table —
    # n_docs rows, one column — not on a distinct over the corpus-sized
    # postings scan (r16: the old count re-scanned the whole index per
    # search, ~0.3 s of pure guard overhead at sf0.1 and O(index) at
    # scale; the docs count is the same bound sparse_topk's guard uses).
    # max_query_docs=None is the PRE-VALIDATED escape hatch (VERDICT r16
    # #6): a serving loop that validated its predicate once (or derives
    # it from an absolute id list it already bounded) skips the per-call
    # count entirely — zero extra Spark jobs per search, pinned in
    # tests/test_retrieval.py.  The default stays fail-loud: None is an
    # explicit caller decision, never an accident.
    if max_query_docs is not None:
        _guard_query_set(
            index.docs().filter(query_pred).count(), max_query_docs
        )
    scored = (
        postings.withColumn("wt", wt)
        .join(F.broadcast(queries), "term")
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.round(F.sum(F.col("wt") * F.col("qwt")), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score", "rk")
    )


def upsert_postings_index(
    index: PostingsIndex,
    new_docs: DataFrame,
    *,
    text_col: str = "text",
    n_files: int = 8,
    check_duplicates: bool = True,
) -> PostingsIndex:
    """Fold a batch of NEW documents into a saved index — O(batch +
    vocabulary), never O(index): the batch's postings APPEND (one
    term-clustered write of batch rows), the vocabulary-sized terms
    table merges df deltas and rewrites (independent of corpus size),
    and the meta constants advance by exact integer sums.  The sparse
    twin of ``upsert_ivf_index`` — after any number of upserts the index
    is SEMANTICALLY IDENTICAL to a fresh build over the full corpus
    (search-time pruning reads the merged exact df), pinned in tests and
    oracle-checked by ``retrieval_index_upsert``.

    Ids must be new (append-only ingest — the incremental-dedup tier
    decides what is new); ``check_duplicates`` probes the AUTHORITATIVE
    docs membership table with the broadcast batch ids and fails loud on
    overlap, since a silent double-insert would inflate tf/df forever.
    The probe sees zero-token documents too (ADVICE r15 #2 — a
    postings-based probe was blind to them, so re-inserting a token-less
    doc double-counted n_docs and skewed idf/avgdl corpus-wide).

    Crash protocol: the meta json is removed FIRST and re-committed
    LAST, so a crash at any interior point (mid-append, mid-terms-swap)
    leaves a store that ``load_postings_index`` refuses loudly — the
    index is DERIVED state, rebuilt from the corpus, so fail-loud +
    rebuild beats a backup dance here (unlike the IVF store, whose
    assignments embed training state a rebuild cannot reproduce)."""
    id_col = index.meta["id_col"]
    path = index.path
    # the SAME tokenizer as corpus_term_stats — an upsert tokenized
    # differently would silently fork the index's term space
    toks = new_docs.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # consumed three times (dup check joins postings separately): one
    # tokenize pass, same materialization discipline as corpus_term_stats
    tf = tf.localCheckpoint(eager=False)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    # dl and membership are each consumed by multiple actions below
    # (stats + the overlapped writes) — lineage-cut them too (r19, guide
    # §1.2/§5): the stats action materializes all three checkpoints in
    # one pass, and every write then reads blocks instead of re-running
    # the groupBy/join subtrees (and re-analyzing them per action).
    # Blocks are freed deterministically in the finally below.
    dl = dl.localCheckpoint(eager=False)
    # batch membership (zero-token docs at dl=0) — written below AND the
    # source of every meta delta
    membership = (
        new_docs.select(id_col)
        .join(dl, id_col, "left")
        .select(id_col, F.coalesce(F.col("dl"), F.lit(0)).alias("dl"))
    )
    membership = membership.localCheckpoint(eager=False)
    # ONE action backs the duplicate probe AND every meta delta (r18,
    # guide §1.2: was three driver actions — the dup-probe count,
    # new_docs.count(), and a dl sum/count first).  The probe stays a
    # broadcast-batch semi-shape over the docs membership table (store
    # scans its id column once, map-side); its 1-row aggregate
    # cross-joins onto the batch aggregate so both subtrees compute in
    # one job.
    stats_df = membership.agg(
        F.count(F.lit(1)).alias("_batch_n"),
        F.sum("dl").alias("_sum"),
        F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("_n"),
    )
    if check_duplicates:
        new_ids = F.broadcast(new_docs.select(id_col).distinct())
        dup_df = (
            index.docs().join(new_ids, id_col).agg(F.count(F.lit(1)).alias("_dup"))
        )
        stats_df = stats_df.crossJoin(dup_df)
    from datafusion_bigtable_spark.operators.partitioning import _free_local_checkpoint

    try:
        return _apply_postings_upsert(
            index, tf, dl, membership, stats_df, check_duplicates, n_files
        )
    finally:
        # deterministic release of the three batch checkpoints on every
        # exit (appended, empty-batch no-op, or duplicate failure) —
        # DataFrame.unpersist cannot reach RDD-level checkpoint blocks
        for _df in (membership, dl, tf):
            _free_local_checkpoint(_df)


def _apply_postings_upsert(
    index: PostingsIndex,
    tf: DataFrame,
    dl: DataFrame,
    membership: DataFrame,
    stats_df: DataFrame,
    check_duplicates: bool,
    n_files: int,
) -> PostingsIndex:
    id_col = index.meta["id_col"]
    path = index.path
    stats = stats_df.first()
    if check_duplicates and stats["_dup"]:
        raise ValueError(
            "upsert batch contains ids already in the index — upserts "
            "are append-only; dedup the batch first"
        )
    batch_n = stats["_batch_n"]
    if not batch_n:
        # empty batch = no-op BEFORE the meta-removal window opens (r18):
        # the streaming replay guard anti-joins a redelivered batch down
        # to nothing and previously burned a separate limit(1).count()
        # job per micro-batch to discover that — the stats action above
        # already knows, so streams can just call upsert unconditionally.
        return index
    batch_df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # ---- mutation starts: invalidate, mutate, re-commit --------------
    os.remove(os.path.join(path, POSTINGS_META))
    terms_dir = os.path.join(path, TERMS_DIR)
    terms_tmp = terms_dir + "_tmp"

    # The three mutation writes are INDEPENDENT (the stats action above
    # materialized the checkpointed tf; each write reads the cache or the
    # old terms dir and targets its own path), so they run as concurrent
    # jobs (guide §2.6 — same overlap as save_postings_index).  The
    # terms-dir swap and the meta re-commit stay strictly AFTER all three
    # complete, so the crash window is unchanged: no meta until every
    # table landed.
    def _w_postings():
        (
            tf.join(dl, id_col)
            .select("term", id_col, "tf", "dl")
            .repartition(n_files, F.col("term"))
            .write.mode("append")
            .parquet(os.path.join(path, POSTINGS_DIR))
        )

    def _w_docs():
        # membership append covers the WHOLE batch (zero-token docs at dl=0)
        (
            membership.repartition(n_files, F.col(id_col))
            .write.mode("append")
            .parquet(os.path.join(path, DOCS_DIR))
        )

    def _w_terms():
        merged = (
            index.terms()
            .unionByName(batch_df)
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        # materialize the merge INTO the tmp dir before the old one goes
        # away (the plan reads the old dir lazily; writing first completes
        # it); bounded files — vocab-sized, broadcast at search (guide §6)
        _write_terms(merged, terms_tmp)

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(w) for w in (_w_postings, _w_docs, _w_terms)]:
            f.result()
    import shutil

    shutil.rmtree(terms_dir)
    os.rename(terms_tmp, terms_dir)
    meta = dict(index.meta)
    meta["n_docs"] = int(meta["n_docs"]) + int(batch_n)
    meta["dl_sum"] = int(meta["dl_sum"]) + int(stats["_sum"] or 0)
    meta["dl_docs"] = int(meta["dl_docs"]) + int(stats["_n"])
    swap.write_json(os.path.join(path, POSTINGS_META), meta)
    return PostingsIndex(path=path, meta=meta, _spark=index._spark)


def _parquet_files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def compact_postings_index(
    index: PostingsIndex,
    *,
    n_files: int = 32,
) -> PostingsIndex:
    """Re-cluster a fragmented postings store back to ``n_files``
    term-clustered files (and its docs table to ``n_files`` id-clustered
    files) — the maintenance half of the upsert lifecycle (VERDICT r15
    #2/#3): every :func:`upsert_postings_index` APPENDS a batch's files,
    each clustered only within itself, so after K upserts a term's
    posting list spans up to K×(batch files) and every search join
    touches every batch's files forever.  Compaction restores the
    save-time invariant: one term, one file.

    Planning is FOOTER-FREE (a directory listing decides): a store
    already at ≤ ``n_files`` per table returns unchanged — so running
    this on a schedule is safe and cheap between ingests.  The rewrite
    itself is one job per table: read → repartition on the cluster key →
    sortWithinPartitions (terms additionally sort by id, which
    run-length-encodes the denormalized dl column) → write to a ``_tmp``
    sibling → swap.  Values are untouched; a compacted search is
    bit-identical (pinned in tests and oracle-checked by
    ``retrieval_postings_compact``).

    Crash protocol: same as upsert — the meta json is removed FIRST and
    re-committed LAST, so a crash mid-rewrite (or mid-swap) leaves a
    store ``load_postings_index`` refuses loudly; the index is derived
    state, so fail-loud + rebuild is the contract."""
    import shutil

    path = index.path
    id_col = index.meta["id_col"]
    spark = index._spark
    plan = [
        (POSTINGS_DIR, ["term", id_col]),
        (DOCS_DIR, [id_col]),
    ]
    todo = [
        (sub, keys)
        for sub, keys in plan
        if len(_parquet_files(os.path.join(path, sub))) > n_files
    ]
    if not todo:
        return index
    os.remove(os.path.join(path, POSTINGS_META))

    # The per-table rewrites are independent (each reads its own dir and
    # writes its own _tmp sibling), so both jobs run concurrently (guide
    # §2.6); the swaps happen only after EVERY rewrite landed, and the
    # meta re-commit stays last — the crash contract (no meta until the
    # store is whole) is unchanged.
    def _rewrite(sub: str, keys: list) -> None:
        src = os.path.join(path, sub)
        (
            spark.read.parquet(src)
            .repartition(n_files, F.col(keys[0]))
            .sortWithinPartitions(*keys)
            .write.mode("overwrite")
            .parquet(src + "_tmp")
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(_rewrite, sub, keys) for sub, keys in todo]:
            f.result()
    for sub, _ in todo:
        src = os.path.join(path, sub)
        shutil.rmtree(src)
        os.rename(src + "_tmp", src)
    swap.write_json(os.path.join(path, POSTINGS_META), index.meta)
    return PostingsIndex(path=path, meta=index.meta, _spark=index._spark)


def postings_store_stats(path: str) -> dict:
    """Fragmentation/health snapshot of a saved postings store —
    LISTING-ONLY (meta json + directory globs; no Spark session, no
    data reads, no jobs): the observability a maintenance scheduler
    needs to decide WHEN to run :func:`compact_postings_index` without
    paying anything to ask.  Fails loud on a store whose meta is gone
    (the crash contract: derived state, rebuild from the corpus).

    Returns ``{"n_docs", "postings_files", "terms_files",
    "docs_files", "version"}``."""
    import glob as _glob
    import json as _json
    import os

    with open(os.path.join(path, POSTINGS_META)) as f:
        meta = _json.load(f)
    counts = {
        f"{name}_files": len(_glob.glob(os.path.join(path, sub, "*.parquet")))
        for name, sub in (
            ("postings", POSTINGS_DIR),
            ("terms", TERMS_DIR),
            ("docs", DOCS_DIR),
        )
    }
    return {"n_docs": meta["n_docs"], **counts, "version": meta.get("version")}


def delete_from_postings_index(
    index: PostingsIndex,
    delete_ids: DataFrame,
    *,
    n_files: int = 8,
) -> PostingsIndex:
    """Remove documents from a saved postings index — the
    takedown/right-to-erasure half of the lifecycle (VERDICT r15 #4);
    after any deletes the index is SEMANTICALLY IDENTICAL to a fresh
    build over the remaining corpus (oracle-checked by
    ``retrieval_postings_delete``).

    ``delete_ids`` carries the index's id column; ids not in the index
    are ignored (idempotent takedown — a re-delivered deletion request
    folds to nothing), and every statistic decrements EXACTLY from what
    the store actually held:

    - ``terms/``: per-term df decrements by the deleted docs' distinct
      membership (one row per (term, doc) in postings, so a count is the
      decrement); terms reaching df=0 drop — vocab-sized rewrite, the
      same economics as upsert's merge.
    - ``postings/`` and ``docs/``: TOUCHED-FILE rewrites — provenance
      via the ``_metadata.file_path`` column finds the files holding any
      deleted row (a driver list bounded by FILE count, never rows);
      only those files are read back, anti-joined, and replaced.  The
      docs table is id-clustered exactly so a small delete touches few
      of its files; postings are term-clustered, so a scattered delete
      may touch many — pay it, it is the delete's cost, and the
      alternative (tombstones) taxes every future search instead.
    - meta: ``n_docs`` −= members deleted, ``dl_sum`` −= their exact dl
      from the docs table, ``dl_docs`` −= those with dl>0 (zero-token
      docs never counted toward avgdl — fresh-build equality).

    Crash protocol: meta removed FIRST, re-committed LAST (fail-loud +
    rebuild, as upsert)."""
    path = index.path
    id_col = index.meta["id_col"]
    spark = index._spark
    ids = F.broadcast(delete_ids.select(id_col).distinct())
    # exact accounting from what the store HOLDS (a non-member id in the
    # request contributes nothing anywhere)
    gone = index.docs().join(ids, id_col).select(id_col, "dl")
    stats = gone.agg(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("_sum"),
        F.count(F.when(F.col("dl") > 0, 1)).alias("_tok"),
    ).first()
    if stats["_n"] == 0:
        return index
    df_delta = (
        index.postings()
        .join(ids, id_col)
        .groupBy("term")
        .agg(F.count("*").alias("_dec"))
    )
    # ---- mutation starts: invalidate, mutate, re-commit --------------
    os.remove(os.path.join(path, POSTINGS_META))
    # MATERIALIZE the decrements before the mutation: the terms merge
    # below runs after the postings rewrite has replaced these very
    # files, so a lazy plan here would read a file list that no longer
    # exists.  Staged through a vocab-delta-sized parquet scratch, NOT
    # localCheckpoint — checkpoint blocks linger in executor storage
    # until ContextCleaner GC (nondeterministic; leaked across a long
    # session of deletes), while the scratch dir dies deterministically
    # below.  Dot-prefixed: invisible to Spark; inside the
    # meta-removed-first window, so a crash leaves only an invalid
    # store plus ignorable scratch (swept on the next delete).
    delta_tmp = os.path.join(path, "._df_delta")
    import shutil

    shutil.rmtree(delta_tmp, ignore_errors=True)
    df_delta.write.mode("overwrite").parquet(delta_tmp)
    df_delta = spark.read.parquet(delta_tmp)
    terms_dir = os.path.join(path, TERMS_DIR)
    terms_tmp = terms_dir + "_tmp"
    merged = (
        index.terms()
        .join(F.broadcast(df_delta), "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("_dec"), F.lit(0))).alias("df"),
        )
        .filter(F.col("df") > 0)
    )

    # The three mutations are INDEPENDENT — the terms merge reads the
    # OLD terms dir plus the df_delta scratch materialized above (never
    # the postings files the rewrite replaces), and each touched-file
    # rewrite owns its own directory — so they run as concurrent jobs
    # (guide §2.6, same overlap as save/upsert/compact).  The terms swap
    # and the meta re-commit stay strictly after all three complete.
    def _rw_postings():
        rewrite_files_dropping_ids(
            spark, os.path.join(path, POSTINGS_DIR), id_col, ids, "term"
        )

    def _rw_docs():
        rewrite_files_dropping_ids(
            spark, os.path.join(path, DOCS_DIR), id_col, ids, id_col
        )

    def _w_terms():
        # bounded files — vocab-sized, broadcast at search (guide §6)
        _write_terms(merged, terms_tmp)

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(w) for w in (_rw_postings, _rw_docs, _w_terms)]:
            f.result()
    shutil.rmtree(terms_dir)
    os.rename(terms_tmp, terms_dir)
    shutil.rmtree(delta_tmp)
    meta = dict(index.meta)
    meta["n_docs"] = int(meta["n_docs"]) - int(stats["_n"])
    meta["dl_sum"] = int(meta["dl_sum"]) - int(stats["_sum"])
    meta["dl_docs"] = int(meta["dl_docs"]) - int(stats["_tok"])
    swap.write_json(os.path.join(path, POSTINGS_META), meta)
    return PostingsIndex(path=path, meta=meta, _spark=index._spark)




# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of heterogeneous rankings
# ---------------------------------------------------------------------------


def rrf_fuse(
    rankings: Sequence[DataFrame],
    *,
    rrf_k: int = 60,
    k: int = 5,
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings — the standard way to compose
    retrieval modalities whose raw scores are incomparable (TF-IDF dot
    products vs cosine similarities): each list contributes
    ``1/(rrf_k + rank)`` per (query, candidate), summed and re-ranked.

    Inputs carry ``(query_id, neighbor_id, rk)`` (extra columns are
    dropped); a candidate absent from one list simply contributes
    nothing from it — no outer-join scaffolding needed, the union +
    groupBy IS the fusion.  Output ``(query_id, neighbor_id, rrf_score,
    rk)`` with ``rk`` 1..k by ``(rrf_score DESC, neighbor_id ASC)``;
    the score is rounded to 8 so cross-engine rank comparison never
    hangs on representation noise (sums of ≤N reciprocals are exact
    enough at 1e-8).

    Scale: the inputs are already top-k lists — queries × k rows each —
    so the union and the one grouping exchange are TINY regardless of
    corpus size; fusion cost is independent of the data the rankings
    were computed over.  Pure deterministic rank math: rank ties inside
    the input rankings were already broken deterministically by their
    producers (every topk operator here orders by (score, id))."""
    cols = ["query_id", "neighbor_id", "rk"]
    # fail loud on contract violations (ADVICE r15 #5): an empty rankings
    # sequence or a leg missing the rank columns would otherwise surface
    # as a bare IndexError / opaque AnalysisException deep in the plan
    if not rankings:
        raise ValueError(
            "rrf_fuse needs at least one ranking DataFrame; got an empty "
            "sequence"
        )
    for i, r in enumerate(rankings):
        missing = [c for c in cols if c not in r.columns]
        if missing:
            raise ValueError(
                f"rrf_fuse ranking #{i} is missing required column(s) "
                f"{missing}; every leg must carry (query_id, neighbor_id, "
                "rk) — the shape every topk operator here returns"
            )
    u = rankings[0].select(*cols)
    for r in rankings[1:]:
        u = u.unionByName(r.select(*cols))
    scored = u.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum(F.lit(1.0) / (F.lit(rrf_k) + F.col("rk"))), 8).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "rrf_score", "rk")
    )
