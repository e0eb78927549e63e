"""Sparse TF-IDF retrieval (operators/retrieval.py): pruning bound,
candidate contract, self-exclusion, weight math, and the plan shape
(broadcast query side — the index must never reshuffle for the match)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from datafusion_bigtable_spark.operators.retrieval import sparse_topk, tfidf_postings


@pytest.fixture(autouse=True)
def _clear_scratch_storage(spark):
    # same hygiene as test_ivf_lifecycle: the postings mutations
    # localCheckpoint per-operation scratch; drop it deterministically
    # so later modules' storage-count pins never race ContextCleaner
    yield
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "apple banana cherry"),
        (1, "apple banana durian"),
        (2, "apple cherry elderberry"),
        (3, "fig grape honeydew"),
        (4, "fig grape apple"),
        (5, "kiwi lemon mango"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stop_posting_pruning_bounds_df(spark, corpus):
    # 'apple' appears in 4/6 docs > 0.5·N → pruned; 'fig' in 2/6 → kept
    terms = {r.term for r in tfidf_postings(corpus, max_df_frac=0.5).collect()}
    assert "apple" not in terms
    assert "fig" in terms and "banana" in terms


def test_weights_are_tf_ln_n_over_df(spark, corpus):
    w = {
        (r.doc_id, r.term): r.wt
        for r in tfidf_postings(corpus, max_df_frac=1.0).collect()
    }
    assert w[(0, "banana")] == pytest.approx(1 * math.log(6 / 2))
    assert w[(3, "fig")] == pytest.approx(1 * math.log(6 / 2))
    assert w[(0, "apple")] == pytest.approx(1 * math.log(6 / 4))


def test_topk_excludes_self_and_requires_term_overlap(spark, corpus):
    out = sparse_topk(corpus, F.col("doc_id") == 0, k=10, max_df_frac=1.0).collect()
    assert all(r.query_id == 0 for r in out)
    assert all(r.neighbor_id != 0 for r in out)
    # doc 5 shares no term with doc 0 → never generated as a candidate
    assert 5 not in {r.neighbor_id for r in out}
    # doc 1 (apple+banana overlap) outranks doc 4 (apple only)
    ranks = {r.neighbor_id: r.rk for r in out}
    assert ranks[1] < ranks[4]


def test_rank_is_dense_from_one_and_score_sorted(spark, corpus):
    out = sparse_topk(corpus, F.col("doc_id").isin(0, 3), k=2, max_df_frac=1.0).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_query_side_broadcasts_index_never_reshuffles(spark, corpus):
    """The candidate join must be a BroadcastHashJoin from the EXPLICIT
    hint on the query side — a shuffle join here re-exchanges the whole
    index per query batch, the 100 TB killer this operator exists to
    avoid.  Auto-broadcast is disabled for the check so a tiny fixture
    cannot mask a dropped hint (at real scale nothing auto-broadcasts)."""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = sparse_topk(
            corpus, F.col("doc_id") == 0, k=3, max_df_frac=1.0
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# ---------------------------------------------------------------------------
# r15: saved postings index, BM25, query-set guard, RRF fusion
# ---------------------------------------------------------------------------


def test_query_set_guard_fails_loud_on_oversized_predicate(spark, corpus):
    """VERDICT r14 #5: an unbounded query predicate must fail BEFORE the
    force-broadcast, not superlinearly after it."""
    with pytest.raises(ValueError, match="max_query_docs"):
        sparse_topk(corpus, F.lit(True), k=3, max_query_docs=3)
    # saved-index search guards too
    import tempfile

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )

    with tempfile.TemporaryDirectory() as d:
        save_postings_index(corpus, d)
        idx = load_postings_index(spark, d)
        with pytest.raises(ValueError, match="max_query_docs"):
            search_postings_index(idx, F.lit(True), k=3, max_query_docs=3)


def test_prevalidated_search_skips_the_guard_job(spark, corpus, tmp_path):
    """VERDICT r16 #6 done-criterion: max_query_docs=None (the explicit
    pre-validated path) runs exactly one fewer Spark job per search than
    the guarded default, and both produce identical results — a serving
    loop that validated its predicate once pays zero per-call guard
    jobs."""
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )

    path = str(tmp_path / "idx")
    save_postings_index(corpus, path)
    idx = load_postings_index(spark, path)
    pred = F.col("doc_id").isin(0, 3)
    tracker = spark.sparkContext.statusTracker()

    def jobs_for(**kw):
        before = set(tracker.getJobIdsForGroup(None))
        rows = sorted(map(tuple, search_postings_index(idx, pred, k=10, **kw).collect()))
        return rows, len(set(tracker.getJobIdsForGroup(None)) - before)

    jobs_for()  # warm: one-time file-listing/broadcast jobs don't recur
    guarded_rows, guarded_jobs = jobs_for()
    pre_rows, pre_jobs = jobs_for(max_query_docs=None)
    assert pre_rows == guarded_rows
    # the saving is exactly the guard count's own job cost (an AQE count
    # is more than one Spark job, so pin the identity, not a constant)
    before = set(tracker.getJobIdsForGroup(None))
    idx.docs().filter(pred).count()
    guard_jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert guard_jobs >= 1
    assert pre_jobs == guarded_jobs - guard_jobs, (
        f"pre-validated path ran {pre_jobs} jobs vs guarded {guarded_jobs} "
        f"(guard count alone: {guard_jobs})"
    )


def test_streaming_maintain_holds_postings_file_bounds(spark, corpus, tmp_path):
    """r17 ingest-forever composition (sparse twin): the maintain stream
    folds each micro-batch then holds both tables to n_files — after the
    feed drains, postings and docs are within bounds, at least one batch
    compacted, and search equals a fresh build over the full corpus."""
    import glob
    import os

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
        sparse_topk,
    )
    from datafusion_bigtable_spark.streaming.postings_stream import (
        run_streaming_postings_maintain,
    )

    store = str(tmp_path / "idx")
    feed = str(tmp_path / "feed")
    base = corpus.filter(F.col("doc_id") % 3 != 0)
    save_postings_index(base, store, n_files=2)
    corpus.filter(F.col("doc_id") % 3 == 0).repartition(2).write.parquet(feed)
    res = run_streaming_postings_maintain(spark, feed, store, n_files=2)
    assert res["folded"] == corpus.filter(F.col("doc_id") % 3 == 0).count()
    assert res["compactions"], "appending batches must trigger >=1 compaction"
    for sub in ("postings", "docs"):
        n = len(glob.glob(os.path.join(store, sub, "*.parquet")))
        assert n <= 2, f"{sub} holds {n} files, bound is 2"
    pred = F.col("doc_id").isin(0, 3)
    got = sorted(
        map(
            tuple,
            search_postings_index(load_postings_index(spark, store), pred, k=10).collect(),
        )
    )
    want = sorted(map(tuple, sparse_topk(corpus, pred, k=10).collect()))
    assert got == want


def test_streaming_postings_maintain_amortizes_rewrites(spark, corpus, tmp_path):
    """r18 write-amplification fix: the compaction TRIGGER (default
    4×n_files) is separated from the rewrite target, so a short feed
    compacts at most once instead of rewriting the whole table every
    batch (with a single bound the post-compaction count sat AT the
    bound and every append re-crossed it).  Store stays under the
    trigger and search equals a fresh build."""
    import glob
    import os

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
        sparse_topk,
    )
    from datafusion_bigtable_spark.streaming.postings_stream import (
        run_streaming_postings_maintain,
    )

    store = str(tmp_path / "idx")
    feed = str(tmp_path / "feed")
    base = corpus.filter(F.col("doc_id") % 3 != 0)
    save_postings_index(base, store, n_files=2)
    corpus.filter(F.col("doc_id") % 3 == 0).repartition(3).write.parquet(feed)
    # n_files=2 → trigger 8; each batch appends ≤8 postings files, so the
    # 3-batch feed crosses the trigger at most twice and never rewrites
    # on every batch
    res = run_streaming_postings_maintain(spark, feed, store, n_files=2)
    assert res["folded"] == corpus.filter(F.col("doc_id") % 3 == 0).count()
    assert len(res["compactions"]) < 3, "per-batch rewrite is back"
    for sub in ("postings", "docs"):
        n = len(glob.glob(os.path.join(store, sub, "*.parquet")))
        assert n <= 8, f"{sub} holds {n} files, trigger is 8"
    pred = F.col("doc_id").isin(0, 3)
    got = sorted(
        map(
            tuple,
            search_postings_index(load_postings_index(spark, store), pred, k=10).collect(),
        )
    )
    want = sorted(map(tuple, sparse_topk(corpus, pred, k=10).collect()))
    assert got == want


def test_postings_store_stats_track_fragmentation_without_jobs(spark, corpus, tmp_path):
    """postings_store_stats: listing-only (zero Spark jobs), tracks
    upsert fragmentation, returns to bounds after compaction, fails
    loud on a torn store (meta removed = the crash contract)."""
    from datafusion_bigtable_spark.operators.retrieval import (
        compact_postings_index,
        load_postings_index,
        postings_store_stats,
        save_postings_index,
        upsert_postings_index,
    )

    store = str(tmp_path / "idx")
    base = corpus.filter(F.col("doc_id") % 3 != 0)
    save_postings_index(base, store, n_files=2)
    s0 = postings_store_stats(store)
    assert s0["n_docs"] == base.count() and s0["postings_files"] <= 2
    idx = load_postings_index(spark, store)
    upsert_postings_index(idx, corpus.filter(F.col("doc_id") % 3 == 0))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    s1 = postings_store_stats(store)
    assert set(tracker.getJobIdsForGroup(None)) == before, "stats ran a Spark job"
    assert s1["postings_files"] > s0["postings_files"]  # fragmented
    assert s1["n_docs"] == corpus.count()
    compact_postings_index(load_postings_index(spark, store), n_files=2)
    s2 = postings_store_stats(store)
    assert s2["postings_files"] <= 2 and s2["n_docs"] == corpus.count()
    os.remove(os.path.join(store, "_postings_meta.json"))
    with pytest.raises(FileNotFoundError):
        postings_store_stats(store)


def test_saved_search_bit_equals_fresh_build(spark, corpus, tmp_path):
    """VERDICT r14 #4 done-criterion: the saved-index search hash-equals
    the fresh-build search (same pruning, same weights, same ranks)."""
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )

    path = str(tmp_path / "idx")
    save_postings_index(corpus, path, max_df_frac=0.5)
    idx = load_postings_index(spark, path)
    pred = F.col("doc_id").isin(0, 3)
    saved = search_postings_index(idx, pred, k=10)
    fresh = sparse_topk(corpus, pred, k=10, max_df_frac=0.5)
    assert sorted(map(tuple, saved.collect())) == sorted(map(tuple, fresh.collect()))


def test_load_performs_zero_spark_jobs_and_zero_data_reads(spark, corpus, tmp_path):
    """The load is meta/manifest-only (one json read): no Spark job may
    run, and no postings file may even be OPENED (same pin discipline as
    test_ivf_ownership)."""
    import os

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
    )

    path = str(tmp_path / "idx")
    save_postings_index(corpus, path)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    # physically move every data file away: a load that opens one cannot
    # succeed.  (ADVICE r15 #4: the old chmod-0 pin was vacuous under
    # root, which ignores permission bits.)
    hidden = str(tmp_path / "hidden")
    moved = []
    for sub in ("postings", "terms", "docs"):
        pdir = os.path.join(path, sub)
        os.makedirs(os.path.join(hidden, sub))
        for f in os.listdir(pdir):
            src = os.path.join(pdir, f)
            dst = os.path.join(hidden, sub, f)
            os.rename(src, dst)
            moved.append((src, dst))
    try:
        idx = load_postings_index(spark, path)
    finally:
        for src, dst in moved:
            os.rename(dst, src)
    assert idx.meta["n_docs"] == 6
    assert set(tracker.getJobIdsForGroup(None)) == before, "load ran a Spark job"


def test_save_over_existing_store_invalidates_meta_first(spark, corpus, tmp_path, monkeypatch):
    """Crash-safety of the REWRITE path: a save that dies mid-postings
    must leave no meta, so the next load fails loud instead of serving
    yesterday's meta over half-written postings."""
    import os

    from datafusion_bigtable_spark.operators import retrieval as R

    path = str(tmp_path / "idx")
    R.save_postings_index(corpus, path)
    assert os.path.isfile(os.path.join(path, R.POSTINGS_META))

    def boom(*a, **kw):
        raise RuntimeError("injected crash mid-save")

    monkeypatch.setattr(R, "corpus_term_stats", boom)
    with pytest.raises(RuntimeError, match="injected"):
        R.save_postings_index(corpus, path)
    assert not os.path.isfile(os.path.join(path, R.POSTINGS_META))
    with pytest.raises(FileNotFoundError, match="postings index"):
        R.load_postings_index(spark, path)


def test_bm25_weights_match_okapi_formula(spark, corpus, tmp_path):
    """Hand-check one BM25 score: query doc 3 ('fig grape honeydew'),
    candidate doc 4 ('fig grape apple') share fig+grape; every tf=1 and
    every dl=3, so per term score = idf · (k1+1)/(1 + k1·1) = idf."""
    import math as m

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )

    path = str(tmp_path / "idx")
    save_postings_index(corpus, path, max_df_frac=1.0)
    idx = load_postings_index(spark, path)
    out = search_postings_index(
        idx, F.col("doc_id") == 3, k=10, weighting="bm25"
    ).collect()
    scores = {r.neighbor_id: r.score for r in out}
    idf = m.log((6 - 2 + 0.5) / (2 + 0.5) + 1)  # df=2 for fig and grape
    # dl=3 == avgdl -> normalization term is exactly 1+k1 denominator
    expect = round(2 * (1.0 * idf * 2.2 / (1 + 1.2)), 4)
    assert scores[4] == pytest.approx(expect, abs=1e-4)


def test_rrf_fusion_math_and_absent_modality(spark):
    """RRF: a candidate in both lists sums both reciprocals; one present
    in a single list still fuses; ranking is (score DESC, id ASC)."""
    from datafusion_bigtable_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, neighbor_id long, rk long"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, neighbor_id long, rk long"
    )
    out = {r.neighbor_id: (r.rrf_score, r.rk) for r in rrf_fuse([a, b], k=3).collect()}
    assert out[11][0] == pytest.approx(round(1 / 62 + 1 / 61, 8))
    assert out[10][0] == pytest.approx(round(1 / 61, 8))
    assert out[12][0] == pytest.approx(round(1 / 62, 8))
    # 11 (both lists) first; 10 vs 12 tie broken by... not a tie: 1/61 > 1/62
    assert out[11][1] == 1 and out[10][1] == 2 and out[12][1] == 3


def test_rrf_fuse_fails_loud_on_bad_inputs(spark):
    """ADVICE r15 #5: an empty rankings sequence or a leg missing the
    rank columns raises a named ValueError, not a bare IndexError /
    opaque AnalysisException."""
    from datafusion_bigtable_spark.operators.retrieval import rrf_fuse

    with pytest.raises(ValueError, match="at least one ranking"):
        rrf_fuse([])
    bad = spark.createDataFrame([(1, 10)], "query_id long, some_col long")
    with pytest.raises(ValueError, match="missing required column"):
        rrf_fuse([bad])


def test_saved_search_query_side_broadcasts(spark, corpus, tmp_path):
    """Same plan contract as the fresh build: the candidate match is a
    BroadcastHashJoin from the explicit hint — the stored index never
    reshuffles per query batch (auto-broadcast disabled so the fixture
    cannot mask a dropped hint)."""
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )

    path = str(tmp_path / "idx")
    save_postings_index(corpus, path)
    idx = load_postings_index(spark, path)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            search_postings_index(idx, F.col("doc_id") == 0, k=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_upsert_equals_fresh_build_and_df_stays_exact(spark, corpus, tmp_path):
    """The upserted index is semantically identical to a fresh build over
    the merged corpus: same search results (pruning reads merged df),
    exact df in the terms table, meta sums advanced exactly."""
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
        upsert_postings_index,
    )

    base = corpus.filter(F.col("doc_id") < 4)
    path = str(tmp_path / "idx")
    save_postings_index(base, path, max_df_frac=0.5)
    idx = load_postings_index(spark, path)
    idx = upsert_postings_index(idx, corpus.filter(F.col("doc_id") == 4))
    idx = upsert_postings_index(idx, corpus.filter(F.col("doc_id") == 5))
    assert idx.meta["n_docs"] == 6
    # exact merged df: 'apple' in docs 0,1,2,4 -> 4; 'fig' in 3,4 -> 2
    df = {r.term: r.df for r in idx.terms().collect()}
    assert df["apple"] == 4 and df["fig"] == 2 and df["kiwi"] == 1
    pred = F.col("doc_id").isin(0, 3)
    upserted = search_postings_index(idx, pred, k=10)
    fresh_path = str(tmp_path / "fresh")
    save_postings_index(corpus, fresh_path, max_df_frac=0.5)
    fresh = search_postings_index(
        load_postings_index(spark, fresh_path), pred, k=10
    )
    assert sorted(map(tuple, upserted.collect())) == sorted(
        map(tuple, fresh.collect())
    )


def test_upsert_rejects_duplicate_ids_and_leaves_index_valid(spark, corpus, tmp_path):
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        upsert_postings_index,
    )

    path = str(tmp_path / "idx")
    save_postings_index(corpus, path)
    idx = load_postings_index(spark, path)
    with pytest.raises(ValueError, match="append-only"):
        upsert_postings_index(idx, corpus.filter(F.col("doc_id") == 0))
    # the failed upsert never reached the mutation phase: index still loads
    assert load_postings_index(spark, path).meta["n_docs"] == 6


def test_upsert_crash_mid_mutation_fails_loud_on_next_load(spark, corpus, tmp_path, monkeypatch):
    """Meta removed first, re-committed last: a crash inside the mutation
    window must leave a store every later load REFUSES (derived state —
    rebuild, never serve a half-merged index)."""
    import os

    from datafusion_bigtable_spark.operators import retrieval as R

    path = str(tmp_path / "idx")
    R.save_postings_index(corpus.filter(F.col("doc_id") < 5), path)
    idx = R.load_postings_index(spark, path)
    real_commit = R.swap.write_json

    def crash_commit(*a, **kw):
        raise RuntimeError("injected crash before meta commit")

    monkeypatch.setattr(R.swap, "write_json", crash_commit)
    with pytest.raises(RuntimeError, match="injected"):
        R.upsert_postings_index(idx, corpus.filter(F.col("doc_id") == 5))
    monkeypatch.setattr(R.swap, "write_json", real_commit)
    assert not os.path.isfile(os.path.join(path, R.POSTINGS_META))
    with pytest.raises(FileNotFoundError, match="postings index"):
        R.load_postings_index(spark, path)


def test_streaming_postings_upsert_replay_is_noop(spark, corpus, tmp_path):
    """At-least-once delivery: re-running the stream over the SAME feed
    with a fresh checkpoint (worst-case full replay) must fold nothing —
    the anti-join replay guard makes duplicate delivery a no-op, so the
    streamed index equals the batch result exactly."""
    import os
    import shutil

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
    )
    from datafusion_bigtable_spark.streaming.postings_stream import (
        run_streaming_postings_upsert,
    )

    store = str(tmp_path / "store")
    feed = str(tmp_path / "feed")
    save_postings_index(corpus.filter(F.col("doc_id") < 4), store)
    corpus.filter(F.col("doc_id") >= 4).repartition(2).write.parquet(feed)
    n1 = run_streaming_postings_upsert(spark, feed, store, query_name="t_postup1")
    assert n1 == 2
    assert load_postings_index(spark, store).meta["n_docs"] == 6
    # full replay: wipe the checkpoint so every file re-delivers
    shutil.rmtree(os.path.join(feed, "_checkpoint"))
    n2 = run_streaming_postings_upsert(spark, feed, store, query_name="t_postup2")
    assert n2 == 0, "replayed batches folded again"
    assert load_postings_index(spark, store).meta["n_docs"] == 6


def test_upsert_duplicate_check_sees_zero_token_docs(spark, tmp_path):
    """ADVICE r15 #2: a token-less document leaves no posting row, so a
    postings-based duplicate probe was blind to it — re-inserting it
    passed the append-only check and double-counted n_docs.  The docs
    membership table closes the hole."""
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        upsert_postings_index,
    )

    base = spark.createDataFrame(
        [(0, "apple banana"), (1, "...!!!")], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    meta = save_postings_index(base, path)
    assert meta["n_docs"] == 2 and meta["dl_docs"] == 1  # doc 1 tokenless
    idx = load_postings_index(spark, path)
    with pytest.raises(ValueError, match="append-only"):
        upsert_postings_index(
            idx, spark.createDataFrame([(1, "now has words")], "doc_id long, text string")
        )
    assert load_postings_index(spark, path).meta["n_docs"] == 2


def test_streaming_replay_of_zero_token_docs_is_noop(spark, tmp_path):
    """ADVICE r15 #1: a replayed micro-batch whose documents tokenize to
    zero terms must still fold to nothing — membership is tracked in the
    docs table, not inferred from postings presence."""
    import os
    import shutil

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
    )
    from datafusion_bigtable_spark.streaming.postings_stream import (
        run_streaming_postings_upsert,
    )

    store = str(tmp_path / "store")
    feed = str(tmp_path / "feed")
    save_postings_index(
        spark.createDataFrame([(0, "apple banana")], "doc_id long, text string"),
        store,
    )
    spark.createDataFrame(
        [(1, "???", None, None, None), (2, "cherry fig", None, None, None)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).repartition(1).write.parquet(feed)
    n1 = run_streaming_postings_upsert(spark, feed, store, query_name="t_zpost1")
    assert n1 == 2
    meta = load_postings_index(spark, store).meta
    assert meta["n_docs"] == 3 and meta["dl_docs"] == 2
    shutil.rmtree(os.path.join(feed, "_checkpoint"))
    n2 = run_streaming_postings_upsert(spark, feed, store, query_name="t_zpost2")
    assert n2 == 0, "zero-token doc re-folded on replay"
    assert load_postings_index(spark, store).meta["n_docs"] == 3


def _postings_files(path, sub):
    import os

    d = os.path.join(path, sub)
    return sorted(
        f for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def test_compact_restores_file_bound_and_search_is_bit_identical(
    spark, corpus, tmp_path
):
    """VERDICT r15 #2/#3 done-criteria: after K upserts the postings span
    K batches' files; compaction restores ≤ n_files per table, the
    search hash is unchanged, and an already-compact store is a no-op
    (footer-free planning: nothing rewritten, files untouched)."""
    import os

    from datafusion_bigtable_spark.operators.retrieval import (
        compact_postings_index,
        load_postings_index,
        save_postings_index,
        search_postings_index,
        upsert_postings_index,
    )

    path = str(tmp_path / "idx")
    save_postings_index(corpus.filter(F.col("doc_id") < 4), path, n_files=2)
    idx = load_postings_index(spark, path)
    idx = upsert_postings_index(idx, corpus.filter(F.col("doc_id") == 4), n_files=2)
    idx = upsert_postings_index(idx, corpus.filter(F.col("doc_id") == 5), n_files=2)
    assert len(_postings_files(path, "postings")) > 2, "not fragmented — test inert"
    pred = F.col("doc_id").isin(0, 3)
    before = sorted(map(tuple, search_postings_index(idx, pred, k=10).collect()))
    idx = compact_postings_index(idx, n_files=2)
    assert len(_postings_files(path, "postings")) <= 2
    assert len(_postings_files(path, "docs")) <= 2
    after = sorted(map(tuple, search_postings_index(idx, pred, k=10).collect()))
    assert before == after
    # idempotent: a compact store is a no-op (same files, same mtimes)
    state = {
        f: os.stat(os.path.join(path, "postings", f)).st_mtime_ns
        for f in _postings_files(path, "postings")
    }
    compact_postings_index(idx, n_files=2)
    assert {
        f: os.stat(os.path.join(path, "postings", f)).st_mtime_ns
        for f in _postings_files(path, "postings")
    } == state


def test_compact_crash_mid_rewrite_fails_loud_on_next_load(
    spark, corpus, tmp_path, monkeypatch
):
    """Same crash shape as upsert: meta removed first, re-committed last —
    a compaction that dies mid-rewrite leaves a store every later load
    refuses."""
    import os

    from datafusion_bigtable_spark.operators import retrieval as R

    path = str(tmp_path / "idx")
    R.save_postings_index(corpus.filter(F.col("doc_id") < 4), path, n_files=2)
    idx = R.load_postings_index(spark, path)
    idx = R.upsert_postings_index(idx, corpus.filter(F.col("doc_id") >= 4), n_files=2)

    def crash_commit(*a, **kw):
        raise RuntimeError("injected crash before meta commit")

    monkeypatch.setattr(R.swap, "write_json", crash_commit)
    with pytest.raises(RuntimeError, match="injected"):
        R.compact_postings_index(idx, n_files=2)
    assert not os.path.isfile(os.path.join(path, R.POSTINGS_META))
    with pytest.raises(FileNotFoundError, match="postings index"):
        R.load_postings_index(spark, path)


def test_delete_equals_fresh_build_over_remaining_corpus(spark, corpus, tmp_path):
    """VERDICT r15 #4 done-criterion: delete(build(C), X) ≡ build(C−X) —
    search results (tfidf AND bm25 — avgdl exactness), the exact-df
    terms table, and every meta constant all match a fresh build."""
    from datafusion_bigtable_spark.operators.retrieval import (
        delete_from_postings_index,
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )

    path = str(tmp_path / "idx")
    save_postings_index(corpus, path, max_df_frac=0.5)
    idx = load_postings_index(spark, path)
    idx = delete_from_postings_index(
        idx, spark.createDataFrame([(1,), (4,)], "doc_id long")
    )
    fresh_path = str(tmp_path / "fresh")
    save_postings_index(
        corpus.filter(~F.col("doc_id").isin(1, 4)), fresh_path, max_df_frac=0.5
    )
    fresh = load_postings_index(spark, fresh_path)
    assert idx.meta["n_docs"] == fresh.meta["n_docs"] == 4
    assert idx.meta["dl_sum"] == fresh.meta["dl_sum"]
    assert idx.meta["dl_docs"] == fresh.meta["dl_docs"]
    assert sorted(map(tuple, idx.terms().collect())) == sorted(
        map(tuple, fresh.terms().collect())
    )
    pred = F.col("doc_id").isin(0, 3)
    for weighting in ("tfidf", "bm25"):
        got = search_postings_index(idx, pred, k=10, weighting=weighting)
        want = search_postings_index(fresh, pred, k=10, weighting=weighting)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), weighting


def test_delete_ignores_non_members_and_counts_zero_token_docs_exactly(
    spark, tmp_path
):
    """Idempotent takedown: non-member ids fold to nothing (the index
    object is returned unchanged, no mutation); deleting a zero-token
    doc decrements n_docs but NOT dl_docs (it never counted toward
    avgdl)."""
    from datafusion_bigtable_spark.operators.retrieval import (
        delete_from_postings_index,
        load_postings_index,
        save_postings_index,
    )

    base = spark.createDataFrame(
        [(0, "apple banana"), (1, "!!!"), (2, "cherry fig")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    save_postings_index(base, path)
    idx = load_postings_index(spark, path)
    same = delete_from_postings_index(
        idx, spark.createDataFrame([(99,)], "doc_id long")
    )
    assert same.meta == idx.meta
    idx = delete_from_postings_index(
        idx, spark.createDataFrame([(1,)], "doc_id long")
    )
    assert idx.meta["n_docs"] == 2
    assert idx.meta["dl_docs"] == 2, "zero-token doc wrongly hit dl_docs"
    # replayed deletion request: folds to nothing
    idx = delete_from_postings_index(
        idx, spark.createDataFrame([(1,)], "doc_id long")
    )
    assert idx.meta["n_docs"] == 2


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    """The surgical-rewrite contract: files holding no deleted row are
    not rewritten (same names, same mtimes) — provenance-targeted
    deletes, not a full-store rewrite."""
    import os

    from datafusion_bigtable_spark.operators.retrieval import (
        delete_from_postings_index,
        load_postings_index,
        save_postings_index,
    )

    # many docs, id-clustered docs table over 8 files: one deleted id
    # lives in exactly one docs file
    docs = spark.createDataFrame(
        [(i, f"word{i} word{i % 7} shared") for i in range(64)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    save_postings_index(docs, path, n_files=8)
    idx = load_postings_index(spark, path)
    ddir = os.path.join(path, "docs")
    before = {
        f: os.stat(os.path.join(ddir, f)).st_mtime_ns
        for f in _postings_files(path, "docs")
    }
    delete_from_postings_index(idx, spark.createDataFrame([(7,)], "doc_id long"))
    after = {
        f: os.stat(os.path.join(ddir, f)).st_mtime_ns
        for f in _postings_files(path, "docs")
    }
    untouched = {f for f in before if f in after and before[f] == after[f]}
    assert len(untouched) >= 6, (
        f"only {len(untouched)} docs files survived untouched — delete "
        "rewrote more than the touched files"
    )


def test_terms_write_is_one_file_for_normal_vocab_and_scales(spark, corpus, tmp_path):
    """r19 (VERDICT r18 #3): the terms table write must keep the
    one-footer-read planning shape for a normal vocabulary WITHOUT a
    structural single-task ceiling — the write goes through a REBALANCE
    hint so AQE sizes the file count from actual bytes instead of a
    hard coalesce(1).  Pin the planning-cost half: a small vocabulary
    still lands in ONE file, from the save AND from the upsert merge."""
    from datafusion_bigtable_spark.operators.retrieval import (
        TERMS_DIR,
        _parquet_files,
        load_postings_index,
        save_postings_index,
        upsert_postings_index,
    )

    store = str(tmp_path / "idx")
    base = corpus.filter(F.col("doc_id") % 3 != 0)
    save_postings_index(base, store, n_files=2)
    assert len(_parquet_files(os.path.join(store, TERMS_DIR))) == 1
    idx = load_postings_index(spark, store)
    upsert_postings_index(idx, corpus.filter(F.col("doc_id") % 3 == 0))
    assert len(_parquet_files(os.path.join(store, TERMS_DIR))) == 1
