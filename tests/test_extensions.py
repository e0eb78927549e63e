"""Operator-level tests for the LLM-pipeline extensions: dedup behavior on
crafted near-duplicates (the synthetic documents are all-distinct, so these
fixtures exercise the actual dedup semantics), similarity ranking sanity,
multimodal plumbing shapes, and streaming/batch agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"),  # near-dup of 1
        (4, "completely different content about spark engines and shuffles"),
        (5, "another unrelated document mentioning bigtable row keys"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, near_dup_docs):
    from datafusion_bigtable_spark.operators.dedup import exact_dedup, exact_dedup_groups

    groups = exact_dedup_groups(near_dup_docs).collect()
    assert len(groups) == 4  # 5 docs, one exact pair
    dup = [g for g in groups if g.n_copies == 2]
    assert len(dup) == 1 and dup[0].canonical_id == 1

    kept = exact_dedup(near_dup_docs).select("doc_id").collect()
    assert sorted(r.doc_id for r in kept) == [1, 3, 4, 5]


def test_jaccard_finds_near_dup(spark, near_dup_docs):
    from datafusion_bigtable_spark.operators.dedup import jaccard_pairs

    pairs = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(near_dup_docs, k=3, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_containment_is_directed(spark):
    """A short fragment of a long doc must surface as (fragment → doc)
    with high containment while the reverse direction and symmetric
    Jaccard stay low — the asymmetric case jaccard_pairs misses."""
    from datafusion_bigtable_spark.operators.dedup import containment_pairs, jaccard_pairs

    frag = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    rows = [
        (1, frag),  # fragment
        (2, frag + " " + filler),  # superset doc
        (3, "totally different words about storage engines and scans"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.src_id, r.dst_id): r.containment
        for r in containment_pairs(docs, k=3, threshold=0.9).collect()
    }
    assert got[(1, 2)] == 1.0  # every shingle of 1 appears in 2
    assert (2, 1) not in got  # reverse containment is tiny
    assert (3, 1) not in got and (1, 3) not in got

    jac = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert (1, 2) not in jac  # symmetric Jaccard is blind to this pair


def test_containment_df_cap_self_consistent(spark):
    """With df_cap engaged, numerator and denominator come from the same
    capped shingle universe: a shingle shared by every doc stops counting
    toward either side, so containment over the surviving shingles is
    still exact (never a mixed-universe underestimate)."""
    from datafusion_bigtable_spark.operators.dedup import containment_pairs

    hot = "common boiler plate header line"
    rows = [(i, hot + f" unique{i} token{i} tail{i} end{i}") for i in range(8)]
    rows.append((100, hot + " unique1 token1 tail1 extra more words here now"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        (r.src_id, r.dst_id): r.containment
        for r in containment_pairs(docs, k=3, threshold=0.0, df_cap=5).collect()
    }
    # hot-header shingles (df=9 > cap) are out of the universe on BOTH
    # sides; doc 1 vs 100 still share the 'unique1 token1 tail1' block
    assert (1, 100) in capped and 0 < capped[(1, 100)] <= 1.0
    # docs sharing ONLY the hot header produce no pair at all once capped
    assert (2, 3) not in capped


def test_minhash_lsh_candidates(spark, near_dup_docs):
    from datafusion_bigtable_spark.operators.dedup import lsh_candidate_pairs

    cands = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(near_dup_docs, bands=4, rows_per_band=2).collect()}
    assert (1, 2) in cands  # identical docs always share every band
    assert (4, 5) not in cands  # unrelated docs shouldn't collide with 8 hashes


def test_lsh_estimated_pairs_signature_verify(spark, near_dup_docs):
    from datafusion_bigtable_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        lsh_estimated_pairs,
    )

    est = {
        (r.id_a, r.id_b): r
        for r in lsh_estimated_pairs(near_dup_docs, bands=4, rows_per_band=2, k=3).collect()
    }
    # pair universe is exactly the LSH candidate set (same banding)
    cands = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(near_dup_docs, bands=4, rows_per_band=2).collect()}
    assert set(est) == cands
    # identical docs: every minhash position agrees
    assert est[(1, 2)].n_agree == 8 and est[(1, 2)].est_jaccard == 1.0 and est[(1, 2)].est_dup
    # the estimator tracks exact Jaccard on the near-dup within sampling
    # noise (n=8 positions → worst-case granularity 1/8)
    exact = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(near_dup_docs, k=3, threshold=0.0).collect()}
    for pair, row in est.items():
        if pair in exact:
            assert abs(row.est_jaccard - exact[pair]) <= 0.5, (pair, row.est_jaccard, exact[pair])


def test_lsh_dup_rate_sample_bounds(spark, near_dup_docs):
    from datafusion_bigtable_spark.operators.dedup import lsh_dup_rate_sample

    # sample_mod=1 probes every doc: exactly the docs with an LSH partner
    # count as dups (ids 1 and 2 here); deterministic across runs.
    full = lsh_dup_rate_sample(near_dup_docs, sample_mod=1, bands=4, rows_per_band=2).collect()[0]
    assert full.n_sampled == 5
    assert full.n_with_dup >= 2  # the exact pair always shares every band
    again = lsh_dup_rate_sample(near_dup_docs, sample_mod=1, bands=4, rows_per_band=2).collect()[0]
    assert (full.n_sampled, full.n_with_dup, full.dup_rate) == (
        again.n_sampled,
        again.n_with_dup,
        again.dup_rate,
    )
    assert full.dup_rate == round(full.n_with_dup / full.n_sampled, 4)


def test_lsh_quality_report_counts(spark, near_dup_docs):
    from datafusion_bigtable_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        lsh_quality_report,
    )

    rep = lsh_quality_report(near_dup_docs, bands=4, rows_per_band=2, k=3, threshold=0.5).collect()[0]
    n_truth = jaccard_pairs(near_dup_docs, k=3, threshold=0.5).count()
    n_cand = lsh_candidate_pairs(near_dup_docs, bands=4, rows_per_band=2).count()
    assert rep.n_truth == n_truth and rep.n_candidates == n_cand
    assert rep.n_true_positive <= min(n_truth, n_cand)
    if rep.n_candidates:
        assert rep.precision == round(rep.n_true_positive / rep.n_candidates, 4)
    if rep.n_truth:
        assert rep.recall == round(rep.n_true_positive / rep.n_truth, 4)


def test_prefix_filter_equals_exact_jaccard(spark, near_dup_docs, sf_dir):
    from datafusion_bigtable_spark.operators.dedup import jaccard_pairs, prefix_filter_pairs

    # exact recall by theorem: prefix-filtered result == all-pairs result,
    # on the crafted near-dups AND on real documents, at two thresholds
    for df, t in ((near_dup_docs, 0.5), (near_dup_docs, 0.8)):
        exact = {tuple(r) for r in jaccard_pairs(df, k=3, threshold=t).collect()}
        pf = {tuple(r) for r in prefix_filter_pairs(df, k=3, threshold=t).collect()}
        assert pf == exact, f"threshold {t}: {pf ^ exact}"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {tuple(r) for r in jaccard_pairs(docs, k=3, threshold=0.6).collect()}
    pf = {tuple(r) for r in prefix_filter_pairs(docs, k=3, threshold=0.6).collect()}
    assert pf == exact


def test_leakage_safe_split_is_cluster_atomic(spark, sf_dir):
    from datafusion_bigtable_spark.queries import REGISTRY

    rows = REGISTRY["corpus_leakage_safe_split"].fn(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    # every doc appears exactly once
    assert len({r.doc_id for r in rows}) == n
    # cluster-atomic: one split per component — the leakage guarantee
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, set()).add(r.split)
    assert all(len(s) == 1 for s in by_comp.values())
    # all three splits realized and roughly 80/10/10 at corpus size
    from collections import Counter

    c = Counter(r.split for r in rows)
    assert set(c) == {"train", "valid", "test"}
    assert 0.6 < c["train"] / n < 0.95


def test_simhash_identical_docs_same_fingerprint(spark, near_dup_docs):
    from datafusion_bigtable_spark.operators.dedup import simhash_fingerprints

    fp = {r.id: r.simhash for r in simhash_fingerprints(near_dup_docs).collect()}
    assert fp[1] == fp[2]
    assert len(fp[1]) == 16 and set(fp[1]) <= {"0", "1"}
    assert fp[1] != fp[4]


def test_similarity_self_rank(spark):
    from datafusion_bigtable_spark.operators.similarity import cosine, topk_bruteforce

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),  # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),  # opposite of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = topk_bruteforce(df, F.col("vec_id") == 1, k=3).orderBy("rk").collect()
    assert [r.neighbor_id for r in top] == [2, 3, 4]
    assert top[0].score > 0.99

    c = df.filter("vec_id = 1").select(
        cosine(F.col("embedding"), F.col("embedding")).alias("c")
    ).collect()[0].c
    assert abs(c - 1.0) < 1e-12


def test_multimodal_feature_shapes(spark, sf_dir):
    from datafusion_bigtable_spark.functions.multimodal import (
        assets_from_documents,
        extract_features,
        sample_frames,
    )
    from datafusion_bigtable_spark.queries import load

    docs = load(spark, sf_dir, "documents").limit(20)
    assets = assets_from_documents(docs)
    feats = extract_features(assets, fake=True)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.byte_len > 0 and len(r.sha256) == 64
        assert 16 <= r.width <= 256 and 16 <= r.height <= 256

    frames = sample_frames(assets, every_n_bytes=64, max_frames=4)
    g = frames.groupBy("asset_id").count().collect()
    assert all(1 <= r["count"] <= 4 for r in g)


def test_multimodal_real_decode_raises(spark, sf_dir):
    from datafusion_bigtable_spark.functions.multimodal import assets_from_documents, extract_features
    from datafusion_bigtable_spark.queries import load

    docs = load(spark, sf_dir, "documents").limit(1)
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_features(assets_from_documents(docs), fake=False).collect()


def test_streaming_matches_batch(spark, sf_dir):
    """The streaming windowed agg must agree exactly with its batch twin."""
    from datafusion_bigtable_spark.queries import load_events
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    stream_out = run_events_stream_to_memory(spark, sf_dir, agg="hourly", query_name="t_stream_batch")
    batch = (
        load_events(spark, sf_dir)
        .groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("value_sum"))
    )
    s = sorted(tuple(r) for r in stream_out.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert s == b


def test_streaming_session_window(spark, sf_dir):
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    out = run_events_stream_to_memory(spark, sf_dir, agg="session", query_name="t_stream_sess")
    assert out.count() > 0
    assert out.columns == ["user_id", "session_start", "n_events"]


def test_streaming_stateful_totals(spark, sf_dir):
    """applyInPandasWithState running totals: final state (last update per
    user) must equal the batch groupBy totals."""
    from datafusion_bigtable_spark.queries import load_events
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory
    from pyspark.sql import Window

    out = run_events_stream_to_memory(spark, sf_dir, agg="stateful", query_name="t_stateful")
    # update-mode memory sink appends every state update; the final row per
    # user (max n_events) is the end state
    final = {
        r.user_id: (r.n_events, r.value_sum)
        for r in out.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("n_events"))),
        )
        .filter("rn = 1")
        .collect()
    }
    batch = {
        r.user_id: (r.n, round(r.s, 4))
        for r in load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(batch)
    for u in batch:
        assert final[u][0] == batch[u][0]
        assert abs(final[u][1] - batch[u][1]) < 1e-6


def test_salted_aggregation_matches_plain(spark, sf_dir):
    from datafusion_bigtable_spark.operators.skew import salted_sum_count
    from datafusion_bigtable_spark.queries import load_events

    e = load_events(spark, sf_dir)
    salted = {
        r.event_type: (round(r.sum_value, 4), r.n)
        for r in salted_sum_count(e, ["event_type"], "value").collect()
    }
    plain = {
        r.event_type: (round(r.s, 4), r.n)
        for r in e.groupBy("event_type").agg(F.sum("value").alias("s"), F.count("*").alias("n")).collect()
    }
    assert salted == plain


def test_replicated_skew_join_matches_plain(spark, sf_dir):
    from datafusion_bigtable_spark.operators.skew import replicated_skew_join
    from datafusion_bigtable_spark.queries import load

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("o_custkey"), "c_name")
    skewed = replicated_skew_join(o, c, "o_custkey").orderBy("o_orderkey")
    plain = o.join(c, "o_custkey").orderBy("o_orderkey")
    assert [tuple(r) for r in skewed.collect()] == [tuple(r) for r in plain.collect()]


def test_approx_aggregates_close_to_exact(spark, sf_dir):
    # the query itself reduces each sketch estimate to a bounded-relative-
    # error boolean against the exact value (that is what its oracle pins)
    from datafusion_bigtable_spark.queries import REGISTRY

    rows = REGISTRY["approx_aggregates"].fn(spark, sf_dir).collect()
    assert len(rows) == 3
    assert all(r.approx_orders_ok and r.approx_p90_ok for r in rows)


def test_hash_sample_deterministic_and_split_disjoint(spark, sf_dir):
    from datafusion_bigtable_spark.operators.sampling import hash_sample, train_val_split
    from datafusion_bigtable_spark.queries import load

    d = load(spark, sf_dir, "documents")
    s1 = sorted(r.doc_id for r in hash_sample(d, "doc_id", 0.2).select("doc_id").collect())
    s2 = sorted(r.doc_id for r in hash_sample(d, "doc_id", 0.2).select("doc_id").collect())
    assert s1 == s2 and 0 < len(s1) < d.count()

    train, val = train_val_split(d, "doc_id", 0.25)
    t = {r.doc_id for r in train.select("doc_id").collect()}
    v = {r.doc_id for r in val.select("doc_id").collect()}
    assert t.isdisjoint(v) and len(t) + len(v) == d.count()
    # different seeds → different (independent) samples
    s3 = sorted(r.doc_id for r in hash_sample(d, "doc_id", 0.2, seed="other").select("doc_id").collect())
    assert s3 != s1


def test_streaming_dedup_ingest_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch dedup-ingest: all distinct docs land once; re-running
    the same stream adds nothing (idempotent re-delivery)."""
    from datafusion_bigtable_spark.streaming.sinks import run_dedup_ingest

    target = str(tmp_path / "ingested")
    out1 = run_dedup_ingest(spark, sf_dir, target, query_name="t_ingest1")
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").distinct().count()
    assert out1.count() == n_docs
    assert out1.select("content_hash").distinct().count() == n_docs

    # second pass with a fresh checkpoint: same files re-delivered
    import shutil

    shutil.rmtree(target + "_ckpt")
    out2 = run_dedup_ingest(spark, sf_dir, target, query_name="t_ingest2")
    assert out2.count() == n_docs


def test_jaccard_df_cap_bounds_hot_shingle(spark):
    # VERDICT r1 #3: a boilerplate shingle shared by every doc must not
    # build one giant inverted list.  40 docs share the same 5-word header
    # (hot shingles, df=40) but are otherwise unique; docs 100/101 are true
    # near-dups.  With df_cap=10 the hot buckets are dropped entirely —
    # header-only overlap can no longer pair docs — while the true pair
    # (whose shared shingles are rare) still comes out.
    from datafusion_bigtable_spark.operators.dedup import jaccard_pairs, shingles

    header = "common boilerplate header appears everywhere"
    rows = [(i, f"{header} unique body {i} alpha{i} beta{i} gamma{i}") for i in range(40)]
    rows += [
        (100, "spark catalyst optimizer plans declarative queries nightly"),
        (101, "spark catalyst optimizer plans declarative queries daily"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = jaccard_pairs(docs, k=3, threshold=0.3, df_cap=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), f"header-only pairs leaked: {got}"

    # the bound itself: no surviving inverted list exceeds df_cap ids
    from pyspark.sql import functions as F2

    sh = shingles(docs, 3)
    freq_ok = sh.groupBy("shingle").agg(F2.count("*").alias("df")).filter("df <= 10")
    max_bucket = (
        sh.join(freq_ok.select("shingle"), "shingle")
        .groupBy("shingle")
        .count()
        .agg(F2.max("count"))
        .collect()[0][0]
    )
    assert max_bucket <= 10

    # uncapped (df_cap=None) keeps exact semantics: hot-shingle pairs exist
    full = {(r.id_a, r.id_b) for r in jaccard_pairs(docs, k=3, threshold=0.3, df_cap=None).collect()}
    assert (100, 101) in full and any(a < 100 for a, _ in full)


def test_connected_components_chain_and_clique(spark):
    from datafusion_bigtable_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter forces multiple rounds), clique {10,11,12},
    # isolated edge {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_cap_boundary_equivalence(spark):
    """r17: the driver-side union-find fast path (small graphs) and the
    distributed pointer-doubling loop compute the SAME min-label
    fixpoint with the SAME schema — the collect_cap boundary must be
    invisible to callers.  Self loop (5,5) and a vertex joining an
    existing component through a larger id (20,3) are the fiddly
    cases."""
    from datafusion_bigtable_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5), (20, 3), (7, 8), (8, 9), (9, 7)],
        ["id_a", "id_b"],
    )
    fast = connected_components(pairs)  # 8 edges << default cap
    slow = connected_components(pairs, collect_cap=0)  # forced distributed
    assert fast.schema == slow.schema
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_connected_components_chain_converges_in_log_rounds(spark):
    """VERDICT r8 #5: a 1000-vertex path is the O(diameter) killer —
    plain propagation needs 999 rounds and raised past max_iter=25.
    Pointer doubling looks back 2^(k+1)-2 hops after round k, so 12
    rounds must suffice (2^13-2 = 8190 >= 999); the fixpoint is
    unchanged (every vertex labels to the path minimum)."""
    from datafusion_bigtable_spark.operators.graph import connected_components

    n = 1000
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    # collect_cap=0 forces the distributed loop — the default cap would
    # route 999 edges to the driver-side union-find and stop exercising
    # the pointer doubling this test exists to pin.
    got = {
        r.id: r.component
        for r in connected_components(pairs, max_iter=12, collect_cap=0).collect()
    }
    assert len(got) == n
    assert set(got.values()) == {0}


def test_connected_components_empty(spark):
    from datafusion_bigtable_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([], "id_a LONG, id_b LONG")
    assert connected_components(pairs).count() == 0


def test_media_codecs_roundtrip():
    from datafusion_bigtable_spark.functions.media_codecs import (
        build_jpeg,
        build_png,
        build_wav,
        parse_media,
    )

    assert parse_media(build_png(640, 480, b"body")) == {
        "mime": "image/png", "width": 640, "height": 480,
    }
    assert parse_media(build_jpeg(1920, 1080, b"x" * 100)) == {
        "mime": "image/jpeg", "width": 1920, "height": 1080,
    }
    assert parse_media(build_wav(44100, 2, b"pcm")) == {
        "mime": "audio/wav", "channels": 2, "sample_rate": 44100,
    }
    assert parse_media(b"plain text bytes") == {"mime": "application/octet-stream"}
    # fixed header sizes the oracle relies on
    assert len(build_png(1, 1)) == 33
    assert len(build_jpeg(1, 1)) == 30
    assert len(build_wav(8000, 1)) == 44


def test_headers_mode_parses_real_containers(spark, sf_dir):
    from datafusion_bigtable_spark.functions.multimodal import (
        extract_features,
        synthesize_media_assets,
    )
    from datafusion_bigtable_spark.queries import load

    docs = load(spark, sf_dir, "documents").limit(30)
    rows = extract_features(synthesize_media_assets(docs), mode="headers").collect()
    assert len(rows) == 30
    for r in rows:
        i = r.asset_id
        if i % 3 == 2:
            assert r.mime == "audio/wav" and r.sample_rate == 8000 + (i % 8) * 1000
            assert r.width is None
        else:
            assert r.mime in ("image/png", "image/jpeg")
            assert r.width == 16 + i % 241 and r.height == 16 + (i * 7) % 241
            assert r.sample_rate is None


def test_ivf_nprobe_and_trained_codebook_recall(spark, sf_dir):
    """nprobe widens the probe set → recall vs brute force must be
    monotone non-decreasing; a Lloyd-trained codebook must not lose
    recall vs the arbitrary seed codebook at the same nprobe."""
    from datafusion_bigtable_spark.operators.similarity import (
        topk_bruteforce,
        topk_ivf,
        train_ivf_codebook,
    )
    from datafusion_bigtable_spark.queries import load

    e = load(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 100 == 0
    truth = {
        (r.query_id, r.neighbor_id) for r in topk_bruteforce(e, pred, k=3).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    r1 = recall(topk_ivf(e, pred, n_cells=16, k=3, nprobe=1))
    r2 = recall(topk_ivf(e, pred, n_cells=16, k=3, nprobe=4))
    assert r2 >= r1
    assert r2 > 0

    cb = train_ivf_codebook(e, n_cells=16, iters=3)
    assert len(cb) == 16 and len(cb[0]) == 64
    rt = recall(topk_ivf(e, pred, n_cells=16, k=3, nprobe=4, codebook=cb))
    assert rt >= r2 - 0.15  # trained codebook in the same recall band


def test_ivf_index_handle_lifecycle(spark, sf_dir):
    """The owned-index path: one build serves repeated searches (incl. a
    narrower nprobe than it was built with) bit-identically to the
    build-per-call path, and unpersist() actually releases the storage."""
    from datafusion_bigtable_spark.operators.similarity import build_ivf_index, topk_ivf
    from datafusion_bigtable_spark.queries import load

    def storage_count():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    spark.catalog.clearCache()
    base = storage_count()
    e = load(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 100 == 0

    with build_ivf_index(e, n_cells=16, nprobe=4) as idx:
        wide = topk_ivf(e, pred, n_cells=16, k=3, nprobe=4, index=idx)
        narrow = topk_ivf(e, pred, n_cells=16, k=3, nprobe=1, index=idx)
        expect_wide = {(r.query_id, r.neighbor_id, r.score, r.rk) for r in
                       topk_ivf(e, pred, n_cells=16, k=3, nprobe=4).collect()}
        expect_narrow = {(r.query_id, r.neighbor_id, r.score, r.rk) for r in
                         topk_ivf(e, pred, n_cells=16, k=3, nprobe=1).collect()}
        assert {(r.query_id, r.neighbor_id, r.score, r.rk) for r in wide.collect()} == expect_wide
        assert {(r.query_id, r.neighbor_id, r.score, r.rk) for r in narrow.collect()} == expect_narrow
    spark.catalog.clearCache()  # reclaim the two throwaway expect_* indexes
    assert storage_count() <= base


def test_pq_encode_identity_and_recall(spark, sf_dir):
    """PQ invariants: a codebook seed vector encodes to its own code in
    every subspace (its distance is the unique minimum -|s|²); all codes
    in range; ADC ranking overlaps brute-force cosine enough to be a real
    approximation, not noise."""
    from datafusion_bigtable_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        topk_bruteforce,
        topk_pq,
    )
    from datafusion_bigtable_spark.queries import load

    e = load(spark, sf_dir, "embeddings")
    books = pq_codebooks(e, m=8, k_c=16)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8

    codes = {r.id: r.codes for r in pq_encode(e, books).collect()}
    for c in range(16):
        assert codes[c] == [c] * 8, f"seed {c} must self-encode, got {codes[c]}"
    assert all(0 <= cd < 16 for cs in codes.values() for cd in cs)

    pred = F.col("vec_id") % 100 == 0
    truth = {(r.query_id, r.neighbor_id) for r in topk_bruteforce(e, pred, k=3).collect()}
    got = {(r.query_id, r.neighbor_id) for r in topk_pq(e, pred, m=8, k_c=16, k=3).collect()}
    assert len(got & truth) / len(truth) > 0.1  # seed codebooks: coarse but real


def test_pq_trained_codebooks_reduce_quantization_error(spark, sf_dir):
    """Lloyd-refined subspace codebooks must not RAISE reconstruction
    error vs the arbitrary seed codebooks (k-means monotonicity), and the
    trained books drop into the same encode/search path."""
    import numpy as np

    from datafusion_bigtable_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        topk_pq,
        train_pq_codebooks,
    )
    from datafusion_bigtable_spark.queries import load

    e = load(spark, sf_dir, "embeddings")
    seed = pq_codebooks(e, m=8, k_c=16)
    trained = train_pq_codebooks(e, m=8, k_c=16, iters=3)
    assert len(trained) == 8 and len(trained[0]) == 16 and len(trained[0][0]) == 8

    X = np.array([r.embedding for r in e.select("embedding").collect()], dtype=np.float64)

    def recon_err(books):
        err = 0.0
        for j, book in enumerate(books):
            S = X[:, j * 8 : (j + 1) * 8]
            C = np.array(book)
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            err += d.min(axis=1).sum()
        return err

    assert recon_err(trained) <= recon_err(seed)

    got = topk_pq(e, F.col("vec_id") % 100 == 0, k=3, codebooks=trained).collect()
    assert len(got) > 0 and all(0 <= r.rk <= 3 for r in got)
    codes = pq_encode(e, trained).collect()
    assert all(0 <= c < 16 for r in codes for c in r.codes)


def test_resize_images_plumbing(spark, sf_dir):
    """Resize: real header-derived source dims + scale factors, exact
    target-size deterministic stand-in buffers, honest full-decode gate."""
    import pytest as _pytest

    from datafusion_bigtable_spark.functions.multimodal import (
        resize_images,
        synthesize_media_assets,
    )
    from datafusion_bigtable_spark.queries import load

    assets = synthesize_media_assets(load(spark, sf_dir, "documents").limit(12))
    out = resize_images(assets, width=32, height=24).collect()
    assert len(out) == 12
    for r in out:
        assert (r.width, r.height) == (32, 24)
        assert len(r.resized) == 32 * 24 * 3
        if r.src_width:  # parseable container → real scale math
            assert abs(r.scale_x - 32 / r.src_width) < 1e-12
    # determinism: same payloads → same buffers
    again = resize_images(assets, width=32, height=24).collect()
    assert {r.asset_id: r.resized for r in out} == {r.asset_id: r.resized for r in again}

    with _pytest.raises(Exception, match="NotImplementedError|PIL"):
        resize_images(assets, width=8, height=8, mode="full").collect()


def test_streaming_dedup_watermarked_equals_distinct(spark, sf_dir):
    """dropDuplicatesWithinWatermark with a delay covering the data span
    must equal batch SELECT DISTINCT (state never expires mid-run); the
    bounded-state contract itself — duplicates beyond the delay re-emit —
    is Spark's, we pin our wiring of it."""
    from datafusion_bigtable_spark.queries import load_events
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    out = run_events_stream_to_memory(
        spark, sf_dir, agg="dedup_watermarked", query_name="t_dedup_wm"
    )
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        tuple(r)
        for r in load_events(spark, sf_dir).select("user_id", "event_type").distinct().collect()
    )
    assert got == want


def test_stream_run_restores_session_confs(spark, sf_dir):
    """ADVICE r5: building/running a stream must not permanently change the
    caller's session (timezone, nanosAsLong, shuffle partitions).  The
    started query snapshots its confs at .start(); the session gets its
    prior values back — verified against deliberately non-default ones."""
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    keys = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.shuffle.partitions": "17",
    }
    prior = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        out = run_events_stream_to_memory(spark, sf_dir, agg="hourly", query_name="t_conf_scope")
        assert out.count() > 0  # stream itself ran under its own UTC snapshot
        for k, v in keys.items():
            assert spark.conf.get(k) == v, f"{k} clobbered by stream run"
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


def test_repetition_signals_edge_cases(spark):
    """functions/text.py repetition signals: empty and single-word docs
    take the defined defaults (nothing repeats / nothing dominates), a
    fully-repeated doc maxes every signal."""
    from datafusion_bigtable_spark.functions.text import (
        distinct_word_ratio,
        duplicate_bigram_ratio,
        top_word_share,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "spam spam spam spam"), (4, "a b a b a b")],
        "id long, text string",
    )
    rows = {
        r.id: (r.dr, r.tw, r.db)
        for r in df.select(
            "id",
            F.round(distinct_word_ratio(F.col("text")), 4).alias("dr"),
            F.round(top_word_share(F.col("text")), 4).alias("tw"),
            F.round(duplicate_bigram_ratio(F.col("text")), 4).alias("db"),
        ).collect()
    }
    assert rows[1] == (1.0, 0.0, 0.0)          # empty: defaults
    assert rows[2] == (1.0, 1.0, 0.0)          # one word, no bigrams
    # "spam"×4 → 3 identical bigrams, 1 distinct → 2/3 duplicated
    assert rows[3] == (0.25, 1.0, 0.6667)
    # alternating words: every word repeats but bigrams alternate too —
    # "a b"×3 and "b a"×2 → 5 grams, 2 distinct → 3/5 duplicated
    assert rows[4] == (round(2 / 6, 4), 0.5, 0.6)


def test_tfidf_ranks_are_deterministic_and_scored(spark):
    from datafusion_bigtable_spark.operators.tfidf import tfidf_top_terms
    import math

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry cherry"), (3, "apple durian")],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.rank): (r.term, r.tf, r.df, r.score)
           for r in tfidf_top_terms(docs, k=2).collect()}
    # doc 1: apple tf=2 ranks first; banana tf=1
    assert out[(1, 1)][0] == "apple" and out[(1, 2)][0] == "banana"
    # doc 3: tf tie (both 1) → rarer term (durian df=1) outranks apple (df=2)
    assert out[(3, 1)][0] == "durian" and out[(3, 2)][0] == "apple"
    # score carries tf * ln(N/df)
    assert out[(1, 1)][3] == round(2 * math.log(3 / 2), 4)


def test_exact_percentile_matches_spark_percentile(spark, sf_dir):
    """operators/stats.py order-statistic quantile must reproduce Spark's
    percentile (≡ DuckDB quantile_cont) bit-for-bit across tail and edge
    positions — it replaces the buffer-everything aggregate in the
    winsorize path."""
    from datafusion_bigtable_spark.operators.stats import exact_percentile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = li.count()
    for p in (0.0, 0.01, 0.03, 0.4, 0.5, 0.97, 0.99, 1.0):
        want = li.agg(F.expr(f"percentile(l_extendedprice, {p}d)")).first()[0]
        got = exact_percentile(li, "l_extendedprice", p, n)
        assert got == want, (p, got, want)


def test_exact_percentile_ignores_nulls(spark):
    """r6 ADVICE: ascending orderBy puts nulls FIRST in Spark, so nulls in
    the column used to shift the order statistic or interpolate against
    None.  Must match Spark percentile (null-ignoring) exactly, including
    when the caller passes a stale total row count."""
    from datafusion_bigtable_spark.operators.stats import exact_percentile

    vals = [(float(v),) for v in range(100)] + [(None,)] * 17
    df = spark.createDataFrame(vals, "x double")
    for p in (0.0, 0.02, 0.98, 1.0):
        want = df.agg(F.expr(f"percentile(x, {p}d)")).first()[0]
        assert exact_percentile(df, "x", p) == want, p


def test_boilerplate_ngram_stats(spark):
    from datafusion_bigtable_spark.operators.boilerplate import boilerplate_ngram_stats

    rows = [
        # "shared footer text" appears in docs 1-5 -> boilerplate at min_df=5
        (1, "alpha beta gamma shared footer text"),
        (2, "delta epsilon shared footer text"),
        (3, "zeta eta theta shared footer text iota"),
        (4, "shared footer text"),
        (5, "kappa shared footer text lambda mu nu xi omicron pi rho sigma"),
        (6, "totally original content with no repeats at all"),
        (7, "ab"),  # < n words: no grams, absent from output
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in boilerplate_ngram_stats(docs, n=3, min_df=5).collect()}

    assert 7 not in out  # the descending-sequence guard: no fabricated grams
    assert out[4].total_ngrams == 1 and out[4].boilerplate_ngrams == 1 and out[4].flagged
    # doc 6: 8 words -> 6 grams, none shared
    assert out[6].total_ngrams == 6 and out[6].boilerplate_ngrams == 0 and not out[6].flagged
    # doc 5: 12 words -> 10 grams, exactly one boilerplate -> 10% < 20% -> unflagged
    assert out[5].total_ngrams == 10 and out[5].boilerplate_ngrams == 1 and not out[5].flagged
    # doc 1: 6 words -> 4 grams, 1 boilerplate -> exactly 25% >= 20% -> flagged
    assert out[1].total_ngrams == 4 and out[1].boilerplate_ngrams == 1 and out[1].flagged


def test_boilerplate_small_set_broadcasts(spark, sf_dir):
    from datafusion_bigtable_spark import queries as Q

    plan = Q.REGISTRY["text_boilerplate_ngrams"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_centroid_outlier_scores(spark):
    from datafusion_bigtable_spark.operators.similarity import centroid_outlier_scores

    rows = [
        # label 0: two vectors along +x, one along -x (the outlier)
        (1, [1.0, 0.0], 0),
        (2, [2.0, 0.0], 0),
        (3, [-1.0, 0.0], 0),
        # label 1: aligned pair, no outlier
        (4, [0.0, 1.0], 1),
        (5, [0.0, 3.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in centroid_outlier_scores(emb, threshold=0.0).collect()}
    # label 0 centroid = (2/3, 0): vectors 1,2 cosine +1, vector 3 cosine -1
    assert out[1].centroid_cosine == 1.0 and not out[1].is_outlier
    assert out[2].centroid_cosine == 1.0 and not out[2].is_outlier
    assert out[3].centroid_cosine == -1.0 and out[3].is_outlier
    assert out[4].centroid_cosine == 1.0 and out[5].centroid_cosine == 1.0


def test_centroid_outliers_vectors_never_shuffle(spark, sf_dir):
    # the raw-vector side must reach the join via broadcast of the
    # centroid table, not an exchange of the vectors themselves
    from datafusion_bigtable_spark import queries as Q

    df = Q.REGISTRY["embedding_cluster_outliers"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_substring_span_pairs_constructed(spark):
    """A planted 10-word shared span (with different surroundings) must
    come back with its exact length; an 7-word share must not."""
    from datafusion_bigtable_spark.operators.dedup import substring_span_pairs

    span10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    span7 = "one two three four five six seven"
    docs = spark.createDataFrame(
        [
            (1, f"start filler {span10} tail a b c"),
            (2, f"other prefix words {span10} different ending"),
            (3, f"x y {span7} z w"),
            (4, f"p q {span7} r s"),
            (5, "entirely unrelated text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): (r["max_span_words"], r["n_spans"])
        for r in substring_span_pairs(docs, n=5, min_span_words=8).collect()
    }
    assert out == {(1, 2): (10, 1)}
    # lowering the bar to 7 words admits the second pair at exactly 7
    out7 = {
        (r["doc_a"], r["doc_b"]): r["max_span_words"]
        for r in substring_span_pairs(docs, n=5, min_span_words=7).collect()
    }
    assert out7 == {(1, 2): 10, (3, 4): 7}


def test_substring_span_df_cap_drops_hot_grams(spark):
    """A gram above df_cap stops contributing matches — the bucket bound
    engages instead of collecting a hot gram's occurrence list."""
    from datafusion_bigtable_spark.operators.dedup import substring_span_pairs

    boiler = "the same header every page repeats here always today"
    docs = spark.createDataFrame(
        [(i, f"doc {i} unique words {boiler}") for i in range(1, 8)],
        "doc_id long, text string",
    )
    capped = substring_span_pairs(docs, n=5, min_span_words=8, df_cap=3).collect()
    assert capped == []
    uncapped = substring_span_pairs(docs, n=5, min_span_words=8).collect()
    assert len(uncapped) == 21  # all 7-choose-2 pairs share the span


def test_substring_span_diagonal_grouping(spark):
    """Two distinct shared spans that sit back-to-back in one doc but far
    apart (and reordered) in the other: their gram matches have
    CONSECUTIVE positions in doc A but DIFFERENT diagonals, so a run
    computed per-pair (ignoring the diagonal) would wrongly fuse them
    into one long span.  Pins that runs group by (pair, pa - pb)."""
    from datafusion_bigtable_spark.operators.dedup import substring_span_pairs

    s1 = "alpha beta gamma delta epsilon zeta eta theta"          # 8 words
    s2 = "north south east west upper lower inner outer"          # 8 words
    docs = spark.createDataFrame(
        [
            (1, f"{s1} {s2}"),                                    # adjacent
            (2, f"{s2} filler0 filler1 filler2 filler3 {s1}"),     # reordered, apart
        ],
        "doc_id long, text string",
    )
    out = substring_span_pairs(docs, n=5, min_span_words=8).collect()
    assert len(out) == 1
    row = out[0]
    # two maximal 8-word spans — never a fused 16-word one
    assert (row["max_span_words"], row["n_spans"]) == (8, 2)

    # The sharper direction: one span REPEATED in doc B gives two
    # diagonals over the SAME doc-A positions; without per-diagonal
    # grouping the interleaved (pa, pb) stream fragments into sub-runs
    # and the span is MISSED entirely.
    docs2 = spark.createDataFrame(
        [
            (1, f"{s1} closing words here"),
            (2, f"{s1} mid1 mid2 {s1}"),
        ],
        "doc_id long, text string",
    )
    out2 = substring_span_pairs(docs2, n=5, min_span_words=8).collect()
    assert len(out2) == 1
    assert (out2[0]["max_span_words"], out2[0]["n_spans"]) == (8, 2)


def test_substring_span_hot_gram_splits_run(spark):
    """VERDICT r7 #6: a corpus-hot gram INSIDE an otherwise-rare shared
    span is dropped by df_cap, which removes one diagonal position and
    SPLITS the run — the pair must report the two shorter maximal spans,
    not the original long one and not nothing.  Pins the documented
    drop-then-split semantics of df_cap."""
    from datafusion_bigtable_spark.operators.dedup import substring_span_pairs

    # 20-word span shared by docs 1 and 2; words 9-13 ("h1..h5") also
    # appear verbatim in ten other docs, making that ONE 5-gram hot
    # (12 occurrences > df_cap=4) while every overlapping gram stays rare.
    span = (
        "a1 a2 a3 a4 a5 a6 a7 a8 h1 h2 h3 h4 h5 b1 b2 b3 b4 b5 b6 b7"
    )
    rows = [
        (1, f"p1 p2 {span} q1 q2"),
        (2, f"r1 r2 r3 {span} s1"),
    ] + [
        (i, f"u{i}a u{i}b u{i}c h1 h2 h3 h4 h5 v{i}a v{i}b v{i}c")
        for i in range(3, 13)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r["doc_a"], r["doc_b"]): (r["max_span_words"], r["n_spans"])
        for r in substring_span_pairs(docs, n=5, min_span_words=8).collect()
    }
    assert uncapped == {(1, 2): (20, 1)}

    # capped: the 16-gram diagonal run splits at offset 8 into runs of
    # 8 and 7 grams -> maximal spans of 12 and 11 words, both >= 8
    capped = {
        (r["doc_a"], r["doc_b"]): (r["max_span_words"], r["n_spans"])
        for r in substring_span_pairs(
            docs, n=5, min_span_words=8, df_cap=4
        ).collect()
    }
    assert capped == {(1, 2): (12, 2)}


def test_exact_percentiles_multi_one_pass(spark, sf_dir):
    """The multi-quantile form must agree with Spark percentile at every
    requested p — all ranks selected through one distributed pass."""
    from datafusion_bigtable_spark.operators.stats import exact_percentiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ps = [0.0, 0.25, 0.5, 0.75, 0.9, 1.0]
    got = exact_percentiles(li, "l_extendedprice", ps)
    for p, g in zip(ps, got):
        want = li.agg(F.expr(f"percentile(l_extendedprice, {p}d)")).first()[0]
        assert g == want, (p, g, want)


def test_order_statistics_with_no_ranks_are_empty(spark):
    from datafusion_bigtable_spark.operators.stats import (
        exact_percentiles,
        order_statistics_df,
    )

    df = spark.createDataFrame([(3.0,), (1.0,), (None,)], "x double")
    empty = order_statistics_df(df, "x", [])
    assert empty.columns == ["_rk", "_v"]
    assert empty.dtypes == order_statistics_df(df, "x", [1]).dtypes
    assert empty.collect() == []
    assert exact_percentiles(df, "x", []) == []


def test_grouped_exact_percentiles_matches_spark(spark, sf_dir):
    """Per-group order-statistic quantiles must be bit-identical to
    Spark's grouped percentile/median aggregates (the buffer-everything
    plan this replaces for few-large-groups corpora)."""
    from datafusion_bigtable_spark.operators.stats import grouped_exact_percentiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = {
        (r["l_returnflag"], r["p"]): r["value"]
        for r in grouped_exact_percentiles(
            li, "l_returnflag", "l_extendedprice", [0.0, 0.5, 0.9, 1.0]
        ).collect()
    }
    want = {
        (r["l_returnflag"], p): r[f"q{i}"]
        for r in li.groupBy("l_returnflag")
        .agg(
            *[
                F.expr(f"percentile(l_extendedprice, {p}d)").alias(f"q{i}")
                for i, p in enumerate([0.0, 0.5, 0.9, 1.0])
            ]
        )
        .collect()
        for i, p in enumerate([0.0, 0.5, 0.9, 1.0])
    }
    assert out == want


def test_grouped_exact_percentiles_tiny_groups(spark):
    """Single-row and two-row groups: interpolation edges (k+2 beyond the
    group) must coalesce to the lone neighbor, per quantile_cont."""
    from datafusion_bigtable_spark.operators.stats import grouped_exact_percentiles

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 10.0), ("b", 20.0), ("c", 5.0), ("c", None)],
        "g string, x double",
    )
    out = {
        (r["g"], r["p"]): r["value"]
        for r in grouped_exact_percentiles(df, "g", "x", [0.5, 1.0]).collect()
    }
    assert out == {
        ("a", 0.5): 1.0,
        ("a", 1.0): 1.0,
        ("b", 0.5): 15.0,
        ("b", 1.0): 20.0,
        ("c", 0.5): 5.0,  # null ignored
        ("c", 1.0): 5.0,
    }


def test_ngram_perplexity_orders_gibberish_above_fluent(spark):
    """The perplexity filter's whole point: text unlike the training
    corpus scores higher.  Train on repetitions of a fluent phrase; a
    gibberish doc must flag while in-distribution docs don't, and a doc
    below 3 normalized chars is absent."""
    from datafusion_bigtable_spark.operators.perplexity import ngram_perplexity

    fluent = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, fluent) for i in range(1, 9)] + [
        (9, "zxq jvk wpf qqz xkj vvw zzp qqf"),  # trigrams the model never saw
        (10, "a!"),  # 1 normalized char -> no trigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # tiny corpus: add-one smoothing floors fluent docs near 1.53 (counts
    # ~8 against the +37 denominator); gibberish lands ~2.95
    out = {r.doc_id: r for r in ngram_perplexity(docs, threshold=2.0).collect()}
    assert 10 not in out
    assert all(not out[i].high_perplexity for i in range(1, 9))
    assert out[9].high_perplexity
    assert out[9].avg_nll > out[1].avg_nll + 1.0


def test_word_perplexity_oov_and_signal(spark):
    """Word-bigram model behavior: with a tiny vocab_size, rare words
    collapse into <unk> (model stays bounded) and repetitive fluent text
    scores lower avg-NLL than never-repeated word salad; every doc with
    >= 2 words scores, 1-word and empty docs are absent."""
    from datafusion_bigtable_spark.operators.perplexity import word_perplexity

    rows = [(i, "the cat sat on the mat and the cat sat again") for i in range(1, 9)]
    rows.append((9, "zyx wvu tsr qpo nml kji hgf edc ba"))
    rows.append((10, "solo"))
    rows.append((11, "..."))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 0.83 splits the measured fluent-vs-salad scores (0.7348 / 0.9271
    # — the gap is modest because heavy OOV collapses to predictable
    # <unk><unk> bigrams, the standard CCNet-unk artifact; ordering
    # still carries the signal)
    out = {r.doc_id: r for r in word_perplexity(docs, vocab_size=8, threshold=0.83).collect()}
    assert 10 not in out and 11 not in out
    assert set(out) == set(range(1, 10))
    assert out[9].avg_nll > out[1].avg_nll
    assert out[9].high_perplexity and not out[1].high_perplexity
    # vocab_size caps the model: results are deterministic under repeats
    again = {r.doc_id: r.avg_nll for r in word_perplexity(docs, vocab_size=8, threshold=0.83).collect()}
    assert again == {d: r.avg_nll for d, r in out.items()}


def test_bpe_train_apply_round_trip(spark):
    """Classic BPE sanity on a hand-checkable corpus: frequent pairs
    merge first (deterministic lexicographic tie-break), application
    uses merge RANK order, and detokenization is exactly lossless."""
    from datafusion_bigtable_spark.operators.bpe import (
        bpe_token_stats,
        encode_word,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "low lower newer newest new")],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=4)
    assert len(merges) == 4
    # "lo" is the most frequent pair (appears in every 'low*' word)
    assert merges[0] == ("l", "o")
    ranks = {p: i for i, p in enumerate(merges)}
    # encoding uses ranks, never re-counts; unknown words fall back to chars
    assert "".join(encode_word("low", ranks)).replace("</w>", "") == "low"
    assert encode_word("zzz", ranks) == ["z", "z", "z</w>"]

    stats = {r.doc_id: r for r in bpe_token_stats(docs, merges).collect()}
    assert all(r.round_trip_ok for r in stats.values())
    assert all(r.n_tokens < r.n_chars for r in stats.values())
    assert stats[1].n_words == 5

    # more merges can only shorten (or keep) every document's encoding
    merges8 = train_bpe(docs, n_merges=8)
    stats8 = {r.doc_id: r.n_tokens for r in bpe_token_stats(docs, merges8).collect()}
    assert all(stats8[d] <= stats[d].n_tokens for d in stats8)


def _naive_merges(vocab, n_merges):
    """Reference BPE: recount every pair from scratch each round — the
    ground truth the incremental trainer must match exactly."""
    from collections import Counter

    vocab = dict(vocab)
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, cnt in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] += cnt
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + cnt
        vocab = new_vocab
    return merges


def test_bpe_distributed_training_matches_in_memory(spark):
    """VERDICT r8 #3: merges must reflect CORPUS-WIDE frequencies.  The
    distributed trainer (one groupBy count + driver merge loop with
    incremental pair maintenance) must produce the exact merge list the
    from-scratch in-memory reference computes over the same corpus —
    including saturation (requesting more merges than exist)."""
    from collections import Counter

    from datafusion_bigtable_spark.operators.bpe import _greedy_merges, _word_syms, train_bpe

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown cat naps under the warm sun"),
        (3, "a lazy dog and a lazy cat nap in the sun sun sun"),
        (4, "quick quick brown brown the the the fox"),
        (5, "aaa aa aaaa abab ababab"),  # overlapping-pair stress
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    vocab = Counter()
    for _, t in texts:
        for w in t.split():
            vocab[_word_syms(w)] += 1

    for n in (1, 5, 20, 500):  # 500 saturates the tiny corpus
        assert train_bpe(docs, n_merges=n) == _naive_merges(vocab, n), n
        assert _greedy_merges(vocab, n) == _naive_merges(vocab, n), n


def test_bpe_incremental_matches_naive_on_random_vocabs():
    """Hypothesis sweep: the incremental merge loop equals the
    from-scratch recount on arbitrary word multisets — including
    overlapping pairs, repeated characters, and saturation."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datafusion_bigtable_spark.operators.bpe import _greedy_merges, _word_syms

    @settings(max_examples=120, deadline=None)
    @given(
        words=st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=12
        ),
        n=st.integers(min_value=0, max_value=30),
    )
    def prop(words, n):
        vocab = Counter(_word_syms(w) for w in words)
        assert _greedy_merges(vocab, n) == _naive_merges(dict(vocab), n)

    prop()


def test_bpe_memo_cap_output_identical(spark):
    """r8 #8: the per-task encode memo is a CACHE — capping it (here far
    below the distinct-word count) must not change a single output row."""
    from datafusion_bigtable_spark.operators.bpe import bpe_token_stats, train_bpe

    docs = spark.createDataFrame(
        [(i, f"word{i} word{i + 1} shared shared tail{i * 7 % 13}") for i in range(50)],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=12)

    def rows(cap):
        return sorted(
            (r.doc_id, r.n_words, r.n_tokens, r.n_chars, r.round_trip_ok)
            for r in bpe_token_stats(docs, merges, memo_cap=cap).collect()
        )

    assert rows(2) == rows(1 << 16)
    assert len(rows(2)) == 50


def test_line_dedup_drops_frequent_lines_and_rebuilds_in_order(spark):
    """C4-style line dedup (r11): a 2-word line shared by >= 3 docs is
    cut from ALL of them, surviving lines rebuild in original order,
    and a document made entirely of boilerplate drops out."""
    from datafusion_bigtable_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta unique one gamma delta"),
            (2, "alpha beta unique two gamma delta"),
            (3, "alpha beta unique three gamma delta"),
            (4, "alpha beta gamma delta"),  # all lines boilerplate → drops out
            (5, "solo words here only"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["kept_lines"], r["dropped_lines"], r["kept_text"])
        for r in line_dedup(docs, line_words=2, min_df=3).collect()
    }
    # 'alpha beta' and 'gamma delta' appear in docs 1-4 (df=4): dropped.
    assert out[1] == (1, 2, "unique one")
    assert out[2] == (1, 2, "unique two")
    assert out[3] == (1, 2, "unique three")
    assert 4 not in out
    assert out[5] == (2, 0, "solo words here only")


def test_incremental_ingest_dedup_crosses_sides_only(spark):
    """Ingestion dedup (r11): pairs are strictly batch→index — a near-dup
    WITHIN the batch or WITHIN the index must not appear; an exact
    cross-side duplicate must, at jaccard 1.0."""
    from datafusion_bigtable_spark.operators.dedup import incremental_ingest_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (10, base),                      # batch (id % 10 == 0)
            (20, base + " extra tail word"), # batch: near-dup of 10 — must NOT pair
            (3, base),                       # index: exact dup of 10/20
            (7, base),                       # index: exact dup — within-index, no pair
            (5, "completely different text about spark shuffles and parquet"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["new_doc_id"], r["matched_doc_id"]): r["jaccard"]
        for r in incremental_ingest_dedup(
            docs, F.col("doc_id") % 10 == 0, threshold=0.3
        ).collect()
    }
    assert (10, 3) in got and got[(10, 3)] == 1.0
    assert (10, 7) in got and (20, 3) in got
    assert all(n % 10 == 0 and x % 10 != 0 for n, x in got), got


def test_heavy_hitters_exact_on_skewed_corpus(spark):
    """Top-k from the MG candidate path must equal the plain exact count
    on a Zipf-ish corpus, including the (count desc, token asc) tie-break."""
    from datafusion_bigtable_spark.operators.heavyhitters import exact_top_tokens

    rows = []
    for i in range(200):
        toks = ["the"] * 5 + ["spark"] * 3 + ["row"] * 2 + [f"rare{i}"]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = [(r.rank, r.token, r.cnt) for r in exact_top_tokens(docs, k=3).collect()]
    assert got == [(1, "the", 1000), (2, "spark", 600), (3, "row", 400)]


def test_heavy_hitters_fallback_matches_candidate_path(spark):
    """A summary too small for the guarantee must fall back to the full
    exact plan and return the identical answer (proof-or-fallback: the
    dial can only change cost, never output)."""
    from datafusion_bigtable_spark.operators.heavyhitters import exact_top_tokens

    rows = [(i, " ".join(f"t{j}" for j in range(i % 17))) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    big = [tuple(r) for r in exact_top_tokens(docs, k=10, summary_size=4096).collect()]
    tiny = [tuple(r) for r in exact_top_tokens(docs, k=10, summary_size=2).collect()]
    assert big == tiny and len(big) == 10


def test_mg_candidates_state_is_bounded(spark):
    """Per-partition candidate rows never exceed summary_size, whatever
    the vocabulary; the NULL meta rows carry the exact corpus token total."""
    from datafusion_bigtable_spark.operators.heavyhitters import mg_candidates

    rows = [(i, " ".join(f"u{i}x{j}" for j in range(30))) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)

    out = mg_candidates(docs, summary_size=16).collect()
    cand = [r for r in out if r["token"] is not None]
    meta = [r for r in out if r["token"] is None]
    assert len(cand) <= 4 * 16
    assert sum(r["part_total"] for r in meta) == 400 * 30


def test_ahash_bands_and_dup_pairs(spark):
    """Identical images hash identically (hamming 0); a one-cell tweak
    stays within the near-dup bound; an inverted image is far; the band
    join must find exactly the close pairs.  All through the REAL PNG
    encode->decode path."""
    import numpy as np

    from datafusion_bigtable_spark.functions.media_codecs import build_png_rgb
    from datafusion_bigtable_spark.functions.multimodal import (
        ahash_dup_pairs,
        image_ahash_bands,
    )

    base = (np.arange(64, dtype=np.int64).reshape(8, 8) * 4) % 256
    tweak = base.copy()
    tweak[0, 0] = min(255, tweak[0, 0] + 2)
    far = 255 - base

    def png(cells):
        px = np.kron(cells, np.ones((4, 4), dtype=np.int64)).astype(np.uint8)
        return build_png_rgb(np.stack([px] * 3, axis=-1))

    assets = spark.createDataFrame(
        [(1, "image/png", png(base)), (2, "image/png", png(base)),
         (3, "image/png", png(tweak)), (4, "image/png", png(far))],
        "asset_id long, mime string, payload binary",
    )
    hv = {r["asset_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
          for r in image_ahash_bands(assets).collect()}
    assert hv[1] == hv[2]
    ham13 = sum(bin(a ^ b).count("1") for a, b in zip(hv[1], hv[3]))
    ham14 = sum(bin(a ^ b).count("1") for a, b in zip(hv[1], hv[4]))
    assert 0 <= ham13 <= 3 < ham14

    pairs = {(r.id_a, r.id_b): r.hamming for r in ahash_dup_pairs(assets).collect()}
    assert pairs[(1, 2)] == 0
    assert ((1, 3) in pairs) == (ham13 <= 3)
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_ahash_owned_cache_no_leak(spark):
    """ahash_dup_pairs persists the 5-int/image hash table while its four
    DAG references compute (one decode pass, not four — the r11 39 s →
    ~10 s fix), then drops it synchronously: only the bounded result's
    own reclaimable cache entry may remain (materialize_owned pattern)."""
    import numpy as np

    from datafusion_bigtable_spark.functions.media_codecs import build_png_rgb
    from datafusion_bigtable_spark.functions.multimodal import ahash_dup_pairs

    def png(seed):
        cells = (np.arange(64, dtype=np.int64).reshape(8, 8) * seed) % 256
        px = np.kron(cells, np.ones((4, 4), dtype=np.int64)).astype(np.uint8)
        return build_png_rgb(np.stack([px] * 3, axis=-1))

    assets = spark.createDataFrame(
        [(i, "image/png", png(3 + (i % 2))) for i in range(6)],
        "asset_id long, mime string, payload binary",
    )
    spark.catalog.clearCache()

    # getRDDStorageInfo is GLOBAL, and RDDs persisted by earlier tests may
    # be cleaned up while this test runs: count only the entries added
    # since the baseline, by RDD id
    def cached_ids():
        return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    base = cached_ids()
    out = ahash_dup_pairs(assets, max_hamming=3)
    assert out.count() > 0
    added = cached_ids() - base
    assert len(added) <= 1, f"hash cache leaked: {added} extra storage entries"
    out.unpersist(blocking=True)
    assert not cached_ids() - base
    # lazy path keeps no cache at all
    lazy = ahash_dup_pairs(assets, max_hamming=3, materialize=False)
    assert lazy.count() > 0
    assert not cached_ids() - base


def test_ahash_fails_loud_on_bad_inputs(spark):
    import numpy as np
    import pytest as _pt

    from datafusion_bigtable_spark.functions.media_codecs import build_png_rgb
    from datafusion_bigtable_spark.functions.multimodal import (
        ahash_dup_pairs,
        image_ahash_bands,
    )

    # non-divisible dims: 9x9 image into an 8x8 grid must raise, not guess
    odd = build_png_rgb(np.zeros((9, 9, 3), dtype=np.uint8))
    assets = spark.createDataFrame(
        [(1, "image/png", odd)], "asset_id long, mime string, payload binary"
    )
    with _pt.raises(Exception, match="does not divide"):
        image_ahash_bands(assets).collect()

    # a hamming bound the 4-band index cannot certify must raise eagerly
    with _pt.raises(ValueError, match="max_hamming"):
        ahash_dup_pairs(assets, max_hamming=4)

    # undecodable payloads drop out (null bands filtered), no crash
    junk = spark.createDataFrame(
        [(1, "text/plain", b"not an image")],
        "asset_id long, mime string, payload binary",
    )
    assert ahash_dup_pairs(junk).collect() == []


def test_embedding_block_cap_identity_and_bound(spark, sf_dir):
    """block_cap (VERDICT r11 #2): capping is OUTPUT-IDENTICAL while every
    block fits the cap, and with a small cap every emitted pair still sits
    in one deterministic id-ordered sub-block (subset of the uncapped
    pairs, never a new pair)."""
    from datafusion_bigtable_spark.operators.dedup import embedding_dup_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    uncapped = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_dup_pairs(e, threshold=0.4).collect()
    }
    # cap larger than the largest label block → identical output
    big_cap = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_dup_pairs(e, threshold=0.4, block_cap=10_000).collect()
    }
    assert big_cap == uncapped
    # tiny cap → strict subset; every pair's members share a sub-block
    # under floor(rank/cap) in vec_id order within the label
    cap = 7
    small = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_dup_pairs(e, threshold=0.4, block_cap=cap).collect()
    }
    assert small <= uncapped
    import collections

    by_label = collections.defaultdict(list)
    for r in e.select("vec_id", "label").collect():
        by_label[r.label].append(r.vec_id)
    sub = {}
    for ids in by_label.values():
        for i, vid in enumerate(sorted(ids)):
            sub[vid] = i // cap
    expected = {(a, b, c) for a, b, c in uncapped if sub[a] == sub[b]}
    assert small == expected


def test_order_statistics_rank_interval_pruning_boundaries(spark):
    """r19: partitions whose global-rank interval (_off, _off+_c] misses
    every requested rank are dropped BEFORE the sort window.  The risky
    edge is a rank exactly on a partition boundary (r == _off+_c of one
    partition, r == _off+1 of the next) — pin ranks straddling boundaries
    against a local sort, on a parquet-backed multi-partition frame."""
    from datafusion_bigtable_spark.operators.stats import order_statistics_df

    import random

    rng = random.Random(7)
    vals = [rng.randrange(0, 10_000) for _ in range(1_000)]
    path = "/tmp/dbs_test_rank_prune.parquet"
    spark.createDataFrame([(v,) for v in vals], "x long").repartition(
        8
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    want = sorted(vals)
    n = len(vals)
    # rank 1, a mid rank, ranks around likely partition boundaries, rank n
    ranks = [1, 2, n // 3, n // 2, n // 2 + 1, n - 1, n]
    got = {int(r["_rk"]): r["_v"] for r in order_statistics_df(df, "x", ranks).collect()}
    assert set(got) == set(ranks)
    for r in ranks:
        assert got[r] == want[r - 1], f"rank {r}: got {got[r]} want {want[r-1]}"


def test_grouped_exact_percentiles_extreme_ps(spark):
    """r19 pruning edge: p=0.0 (rank 1) and p=1.0 (rank n, whose n+1
    neighbor exists in no partition) must survive the live-slice prune
    with per-group exact answers."""
    from datafusion_bigtable_spark.operators.stats import grouped_exact_percentiles

    rows = [("a", float(v)) for v in range(100)] + [("b", float(v * 3)) for v in range(17)]
    path = "/tmp/dbs_test_grouped_prune.parquet"
    spark.createDataFrame(rows, "g string, x double").repartition(5).write.mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path)
    got = {
        (r["g"], r["p"]): r["value"]
        for r in grouped_exact_percentiles(df, "g", "x", [0.0, 0.5, 1.0]).collect()
    }
    assert got[("a", 0.0)] == 0.0 and got[("a", 1.0)] == 99.0 and got[("a", 0.5)] == 49.5
    assert got[("b", 0.0)] == 0.0 and got[("b", 1.0)] == 48.0 and got[("b", 0.5)] == 24.0
