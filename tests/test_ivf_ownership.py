"""Ownership + corpus-relative sizing contracts for the IVF family.

VERDICT r9 #2/#3 and ADVICE r9: the throwaway-index paths must neither
leak storage (the r8 orphaned persist) nor recompute the assignment
subtree per join side (the r9 persist=False regression), and the
corpus-relative sizing dial must match its documented ⌈corpus/target⌉
derivation and raise when it cannot apply.  r18: the registered queries
feed the dial from parquet FOOTERS (queries.table_num_rows — zero Spark
jobs) instead of a count action; the operator's ``target_block_size``
path stays for DataFrame callers with no file source, and the footer
count must equal COUNT(*) for the derivation to stay hash-preserving.
"""

from pyspark.sql import functions as F

from datafusion_bigtable_spark.operators.dedup import embedding_dup_pairs_ivf
from datafusion_bigtable_spark.operators.similarity import (
    build_ivf_index,
    topk_ivf,
    topk_ivfpq,
)
from datafusion_bigtable_spark.queries import load
from datafusion_bigtable_spark.sources import swap


def _storage_count(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _pairs(df):
    return {(r.id_a, r.id_b, r.cosine) for r in df.collect()}


def test_ivf_index_save_load_roundtrip(spark, sf_dir, tmp_path):
    """Saved index == built index for search purposes: identical topk
    results, cell-directory partition pruning in the loaded plan, and
    the context-manager lifecycle intact on the parquet-backed frame."""
    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
        topk_ivf,
    )

    e = load(spark, sf_dir, "embeddings")
    pred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)
    path = str(tmp_path / "ivf_index")
    with build_ivf_index(e, n_cells=16, nprobe=4) as idx:
        save_ivf_index(idx, path)
        built = {tuple(r) for r in topk_ivf(e, pred, k=3, nprobe=4, index=idx).collect()}
    loaded = load_ivf_index(spark, path)
    assert loaded.nprobe == 4
    got = {tuple(r) for r in topk_ivf(e, pred, k=3, nprobe=4, index=loaded).collect()}
    assert got == built and len(got) > 0
    # nprobe-widening still fails loud on a loaded index
    import pytest as _pt

    with _pt.raises(ValueError):
        topk_ivf(e, pred, k=3, nprobe=8, index=loaded)
    # file-level cell pruning: filtering the loaded assignments to one
    # cell must show a partition filter, not a post-scan filter only
    plan = (
        loaded.assignments.filter(F.col("cell") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(cell" in plan, plan[:500]
    loaded.unpersist()  # safe no-op on the parquet-backed frame


def test_throwaway_paths_leave_no_storage(spark, sf_dir):
    """Each index=None call materializes its bounded result, drops the
    corpus-sized assignment cache before returning, and leaves the
    result's own (cache-manager-registered) entry as the ONLY block —
    reclaimed here with a plain unpersist, back to baseline.

    The baseline comparisons are one-sided (<=): in the shared test
    session a PRIOR module's lazy localCheckpoint block can survive
    clearCache into our ``base`` and then be reclaimed by
    ContextCleaner GC mid-test, dropping the count BELOW base — an
    equality pin flakes on that race (seen r16 and r17) while a leak,
    the thing this test exists to catch, only ever pushes the count
    ABOVE base."""
    spark.catalog.clearCache()
    base = _storage_count(spark)
    e = load(spark, sf_dir, "embeddings")
    pred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)

    for build in (
        lambda: embedding_dup_pairs_ivf(e, threshold=0.4, n_cells=16),
        lambda: topk_ivf(e, pred, n_cells=16, k=3),
        lambda: topk_ivf(e, pred, n_cells=16, k=3, nprobe=4),
        lambda: topk_ivfpq(e, pred, n_cells=16, m=8, k_c=16, k=3),
    ):
        df = build()
        assert df.count() > 0  # materialized and usable
        grew = _storage_count(spark) - base
        assert grew <= 1, f"throwaway index leaked: {grew} extra storage entries"
        df.unpersist(blocking=True)
        assert _storage_count(spark) <= base, "result cache not reclaimable"


def test_owned_index_path_stays_lazy(spark, sf_dir):
    """index= passes through untouched: no eager job, no result persist,
    and the context manager releases the one assignment cache."""
    spark.catalog.clearCache()
    base = _storage_count(spark)
    e = load(spark, sf_dir, "embeddings")
    with build_ivf_index(e, n_cells=16, nprobe=1) as idx:
        lazy = embedding_dup_pairs_ivf(e, threshold=0.4, index=idx)
        assert lazy.storageLevel.useMemory is False  # not persisted by us
        eager = embedding_dup_pairs_ivf(e, threshold=0.4, n_cells=16)
        assert _pairs(lazy) == _pairs(eager)
        eager.unpersist(blocking=True)
    assert _storage_count(spark) == base


def test_target_block_size_derivation(spark, sf_dir):
    """n_cells = max(floor, ceil(corpus/target)) — pinned by equality
    with the explicit-n_cells runs on the 500-vector sf0.001 corpus:
    target=128 -> ceil(500/128)=4, floor 16 wins (the registered
    queries' hash-preservation case); target=25 -> ceil(500/25)=20."""
    e = load(spark, sf_dir, "embeddings")
    n = e.count()
    assert n == 500, "sf0.001 embeddings corpus moved; re-derive the pins"

    floor_case = embedding_dup_pairs_ivf(e, threshold=0.4, n_cells=16, target_block_size=128)
    explicit_16 = embedding_dup_pairs_ivf(e, threshold=0.4, n_cells=16)
    assert _pairs(floor_case) == _pairs(explicit_16)

    derived_case = embedding_dup_pairs_ivf(e, threshold=0.4, n_cells=16, target_block_size=25)
    explicit_20 = embedding_dup_pairs_ivf(e, threshold=0.4, n_cells=20)
    assert _pairs(derived_case) == _pairs(explicit_20)
    for df in (floor_case, explicit_16, derived_case, explicit_20):
        df.unpersist()


def test_footer_count_matches_spark_count(spark, sf_dir):
    """table_num_rows (the r18 zero-job dial source) must equal COUNT(*)
    — the property that keeps the footer-derived n_cells, and therefore
    every registered IVF query's hash, identical to the count-action
    derivation it replaced."""
    from datafusion_bigtable_spark.queries import table_num_rows

    for table in ("embeddings", "documents"):
        assert table_num_rows(sf_dir, table) == load(spark, sf_dir, table).count()


def test_nprobe1_maxby_assignment_matches_window_path(spark, sf_dir):
    """The nprobe=1 fast path (groupBy max_by — map-side-combinable, no
    corpus x n_cells full-vector window shuffle) must assign every
    vector the IDENTICAL cell the nprobe>1 window path ranks first:
    same (desc cosine, asc cell) winner, so same oracle hashes."""
    e = load(spark, sf_dir, "embeddings")
    with build_ivf_index(e, n_cells=20, nprobe=1) as fast:
        with build_ivf_index(e, n_cells=20, nprobe=2) as windowed:
            a = {
                (r["vec_id"], r["cell"])
                for r in fast.assignments.filter("_rn = 1").select("vec_id", "cell").collect()
            }
            b = {
                (r["vec_id"], r["cell"])
                for r in windowed.assignments.filter("_rn = 1").select("vec_id", "cell").collect()
            }
    assert a == b and len(a) == 500


def test_two_level_assignment_is_valid_partition(spark, sf_dir):
    """Two-level IVF (coarse→fine) must still PARTITION the corpus:
    every vector in exactly one cell, every cell id a fine-seed id, and
    each fine seed assigned to ITSELF (cos(x,x)=1 is the unique max
    through its own coarse bucket)."""
    from datafusion_bigtable_spark.operators.similarity import build_ivf_index_two_level

    e = load(spark, sf_dir, "embeddings")
    idx = build_ivf_index_two_level(e, n_cells=20)
    try:
        rows = idx.assignments.select("vec_id", "cell").collect()
        assert len(rows) == 500
        assert len({r["vec_id"] for r in rows}) == 500
        cells = {r["cell"] for r in rows}
        assert cells <= set(range(20))
        by_id = {r["vec_id"]: r["cell"] for r in rows}
        for seed in range(20):
            assert by_id[seed] == seed, f"fine seed {seed} not in its own cell"
    finally:
        idx.unpersist(blocking=True)


def test_target_block_size_rejects_external_codebook_and_index(spark, sf_dir):
    """ADVICE r9: an explicit codebook/index enumerates its own cells, so
    a target would be silently inert — fail loud instead."""
    import pytest

    e = load(spark, sf_dir, "embeddings")
    cb = [[1.0] + [0.0] * 63, [0.0, 1.0] + [0.0] * 62]
    with pytest.raises(ValueError, match="target_block_size"):
        embedding_dup_pairs_ivf(e, target_block_size=64, codebook=cb)
    with build_ivf_index(e, n_cells=16) as idx:
        with pytest.raises(ValueError, match="target_block_size"):
            embedding_dup_pairs_ivf(e, target_block_size=64, index=idx)


def test_two_level_guard_passes_cells_and_raises_on_loss(spark):
    """ADVICE r10: the two-level build's left join marks assignment loss
    with a null cell; `_cell_or_raise` must pass real cells through
    unchanged and fail LOUD on the null marker (never a silently
    shrunken index).  The loss condition itself needs adversarial
    floating-point seed geometry to trigger end-to-end, so the guard
    mechanism is pinned directly."""
    import pytest

    from datafusion_bigtable_spark.operators.similarity import _cell_or_raise

    df = spark.createDataFrame([(1, 5), (2, 7)], "id long, cell long")
    got = {r.c for r in df.select(_cell_or_raise(F.col("cell")).alias("c")).collect()}
    assert got == {5, 7}

    lossy = spark.createDataFrame([(1, 5), (2, None)], "id long, cell long")
    with pytest.raises(Exception, match="two-level IVF assignment lost"):
        lossy.select(_cell_or_raise(F.col("cell")).alias("c")).collect()


def test_two_level_assignment_preserves_every_vector(spark, sf_dir):
    """Row-count preservation over the full fixture: the two-level index
    partitions the corpus — no vector may vanish through the
    coarse→fine candidate join (ADVICE r10)."""
    from datafusion_bigtable_spark.operators.similarity import build_ivf_index_two_level

    e = load(spark, sf_dir, "embeddings")
    idx = build_ivf_index_two_level(e, n_cells=16)
    try:
        assert idx.assignments.count() == e.count()
    finally:
        idx.unpersist(blocking=True)


def test_random_projection_dimension_drift_fails_loud(spark):
    """ADVICE r10: zip_with pads a short/long vector with nulls, which
    would surface as all-null projection columns; a corpus whose
    embedding length differs from in_dims must error instead."""
    import pytest

    from datafusion_bigtable_spark.operators.similarity import random_projection

    df = spark.createDataFrame(
        [(1, [1.0] * 32)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="!= in_dims=64"):
        random_projection(df, out_dims=4, in_dims=64).collect()


def test_upsert_appends_new_ids_bitstable_and_idempotent(spark, sf_dir, tmp_path):
    """VERDICT r11 #5: upsert_ivf_index must (a) leave every previously
    stored row byte-identical (append-only), (b) assign new ids exactly
    as a from-scratch build over the same centroids would, and (c) append
    nothing when the batch re-ships."""
    import os

    from datafusion_bigtable_spark.operators.similarity import (
        load_ivf_index,
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, str(sf_dir), "embeddings")
    base = e.filter(F.col("vec_id") % 4 != 0)
    batch = e.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "ivf")
    with build_ivf_index(base, n_cells=16) as idx:
        save_ivf_index(idx, path)

    def snapshot():
        return {
            r["vec_id"]: (r["cell"], r["_rn"], tuple(r["_dv"]), r["_n"])
            for r in load_ivf_index(spark, path).assignments.collect()
        }

    before = snapshot()
    files_before = {
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and "_centroids" not in d
    }
    n_new = upsert_ivf_index(spark, path, batch)
    assert n_new == batch.count() > 0
    after = snapshot()
    # (a) old ids bit-stable: same values AND the original files untouched
    assert {k: after[k] for k in before} == before
    assert files_before <= {
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and "_centroids" not in d
    }
    # (b) new ids assigned with the ORIGINAL centroids: a from-scratch
    # assignment over the saved centroid table must agree exactly
    idx2 = load_ivf_index(spark, path)
    seeds = idx2.centroids
    from datafusion_bigtable_spark.operators.similarity import as_double_vec, dot_raw, norm

    b = batch.withColumn("_dv", as_double_vec(F.col("embedding"))).withColumn(
        "_n", norm(F.col("embedding"))
    )
    cs = dot_raw(F.col("_dv"), F.col("sv")) / (F.col("_n") * F.col("sn"))
    want = {
        r["vec_id"]: r["cell"]
        for r in (
            b.crossJoin(F.broadcast(seeds))
            .withColumn("_cs", cs)
            .groupBy("vec_id")
            .agg(F.max_by("cell", F.struct(F.col("_cs"), (-F.col("cell")).alias("_nc"))).alias("cell"))
            .collect()
        )
    }
    assert {k: after[k][0] for k in want} == want
    # (c) idempotent re-ship
    assert upsert_ivf_index(spark, path, batch) == 0
    assert snapshot() == after


def test_upsert_refuses_store_without_centroids(spark, sf_dir, tmp_path):
    """A store saved without centroids cannot assign new vectors against
    the ORIGINAL codebook — upsert must fail loud, never silently reseed."""
    import pytest

    from datafusion_bigtable_spark.operators.similarity import (
        IvfIndex,
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, str(sf_dir), "embeddings")
    with build_ivf_index(e, n_cells=16) as idx:
        bare = IvfIndex(idx.assignments, nprobe=idx.nprobe)  # no centroids
        path = str(tmp_path / "bare")
        save_ivf_index(bare, path)
    with pytest.raises(ValueError, match="_centroids"):
        upsert_ivf_index(spark, path, e.limit(1))


def test_ivf_store_manifest_and_zero_read_load(spark, sf_dir, tmp_path):
    """VERDICT r12 #8: the store carries its schemas in the meta sidecar
    and per-cell file/row counts in a manifest, so load_ivf_index plans
    with ZERO data-file reads (no schema-inference footer pass — at 10⁵
    files that pass is the O(files) planning cliff the cells-store
    manifest retired).  Pinned the hard way: truncate every data parquet
    to zero bytes — any footer read now fails loud — and load must still
    succeed with the original schema.  The manifest refresh after upsert
    is INCREMENTAL and must stay consistent with a from-scratch count."""
    import os

    from datafusion_bigtable_spark.operators.similarity import (
        load_ivf_index,
        read_ivf_manifest,
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, str(sf_dir), "embeddings")
    base = e.filter(F.col("vec_id") % 4 != 0)
    path = str(tmp_path / "ivf")
    with build_ivf_index(base, n_cells=16) as idx:
        save_ivf_index(idx, path)
        want_schema = idx.assignments.schema

    man = read_ivf_manifest(path)
    assert man is not None and sum(r["rows"] for r in man) == base.count()
    assert all(r["files"] >= 1 for r in man)

    # incremental refresh: rows add up, file counts re-listed per touched cell
    n_new = upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 4 == 0))
    man2 = read_ivf_manifest(path)
    assert sum(r["rows"] for r in man2) == base.count() + n_new
    per_cell_actual = {
        r["cell"]: r["count"]
        for r in load_ivf_index(spark, path)
        .assignments.groupBy("cell")
        .count()
        .collect()
    }
    assert {r["cell"]: r["rows"] for r in man2} == per_cell_actual

    # zero-read plan contract: kill every data footer, load must not care
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet") and "_ivf_manifest" not in f:
                open(os.path.join(d, f), "w").close()
    loaded = load_ivf_index(spark, path)
    # file sources force user schemas nullable — names/types are the contract
    assert [(f.name, f.dataType) for f in loaded.assignments.schema] == [
        (f.name, f.dataType) for f in want_schema
    ]
    assert loaded.centroids is not None  # centroids schema came from meta too


def test_upsert_drift_detection(spark, sf_dir, tmp_path):
    """VERDICT r12 #4: frozen centroids mean recall decays silently as the
    upserted distribution drifts — an in-distribution batch must NOT trip
    the retraining recommendation; a shifted batch MUST.  The shift is
    the negated centroid-MEAN direction: it scores negative cosine
    against every cell (c̄·cⱼ > 0 for any non-degenerate codebook), so
    the batch's top-1 mean collapses regardless of whether the corpus is
    clustered or isotropic — a plain negation of random vectors would
    NOT drift (max-cos over sign-symmetric centroids is distribution-
    invariant)."""
    import json
    import os

    from datafusion_bigtable_spark.operators.similarity import (
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, str(sf_dir), "embeddings")
    base = e.filter(F.col("vec_id") % 4 != 0)
    path = str(tmp_path / "ivf")
    with build_ivf_index(base, n_cells=16) as idx:
        save_ivf_index(idx, path)

    def meta():
        with open(os.path.join(path, "_ivf_meta.json")) as f:
            return json.load(f)

    assert meta()["base_top1_mean"] is not None

    in_dist = e.filter(F.col("vec_id") % 4 == 0)
    upsert_ivf_index(spark, path, in_dist)
    m = meta()
    assert m["upserts"][-1]["retrain_recommended"] is False
    assert "retrain_recommended" not in m

    from datafusion_bigtable_spark.operators.similarity import (
        negated_centroid_mean_batch,
    )

    upsert_ivf_index(spark, path, negated_centroid_mean_batch(spark, path, n=50))
    m = meta()
    assert m["upserts"][-1]["retrain_recommended"] is True
    assert m["upserts"][-1]["drift"] > m["drift_threshold"]
    assert m["retrain_recommended"] is True


def test_retrain_resets_codebook_meta_and_matches_fresh_build(spark, sf_dir, tmp_path):
    """r13: retrain_ivf_index must leave the store IDENTICAL to a
    from-scratch build+save over its current vector set — new seed
    codebook over the union, every vector reassigned, drift history
    cleared, fresh yardstick/manifest, no temp/backup dirs left."""
    import json
    import os

    from datafusion_bigtable_spark.operators.similarity import (
        load_ivf_index,
        read_ivf_manifest,
        retrain_ivf_index,
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, str(sf_dir), "embeddings")
    path = str(tmp_path / "ivf")
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        save_ivf_index(idx, path)
    upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 4 == 0))
    from datafusion_bigtable_spark.operators.similarity import (
        negated_centroid_mean_batch,
    )

    shifted = negated_centroid_mean_batch(spark, path, n=50)
    upsert_ivf_index(spark, path, shifted)

    n = retrain_ivf_index(spark, path, n_cells=16)
    assert n == e.count() + 50

    with open(os.path.join(path, "_ivf_meta.json")) as f:
        meta = json.load(f)
    assert meta["upserts"] == [] and "retrain_recommended" not in meta
    assert meta["base_top1_mean"] is not None

    # swap hygiene
    assert not os.path.exists(path + "._retrain_tmp")
    assert not os.path.exists(path + "._retrain_old")

    # identical to a from-scratch build over the union corpus
    union = e.select("vec_id", "embedding").unionByName(shifted)
    with build_ivf_index(union, n_cells=16) as fresh:
        want = {
            (r["vec_id"], r["cell"]) for r in fresh.assignments.collect()
        }
    got = {
        (r["vec_id"], r["cell"])
        for r in load_ivf_index(spark, path).assignments.collect()
    }
    assert got == want

    # manifest consistent with the rewritten layout
    man = read_ivf_manifest(path)
    assert sum(r["rows"] for r in man) == n


def test_retrain_preserves_nprobe(spark, sf_dir, tmp_path):
    """A store built nprobe>1 must retrain into the same probe depth:
    the rebuilt assignments carry _rn 1..nprobe per id and searches may
    still probe as wide as the original build."""
    import json
    import os

    from datafusion_bigtable_spark.operators.similarity import (
        load_ivf_index,
        retrain_ivf_index,
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, str(sf_dir), "embeddings")
    path = str(tmp_path / "ivf")
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16, nprobe=3) as idx:
        save_ivf_index(idx, path)
    upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 4 == 0))
    n = retrain_ivf_index(spark, path, n_cells=16)
    assert n == e.count()
    store = load_ivf_index(spark, path)
    assert store.nprobe == 3
    per_id = store.assignments.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_id] == [3]
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        assert json.load(f)["nprobe"] == 3


def test_upsert_history_is_bounded(spark, sf_dir, tmp_path, monkeypatch):
    """A store upserted many times must not grow an unbounded sidecar:
    the drift history keeps the newest window and rolls older entries
    into exact counters."""
    import json
    import os

    from datafusion_bigtable_spark.operators import similarity as S

    e = load(spark, str(sf_dir), "embeddings")
    path = str(tmp_path / "ivf")
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        S.save_ivf_index(idx, path)
    monkeypatch.setattr(S, "IVF_UPSERT_HISTORY_CAP", 3)
    batch = e.filter(F.col("vec_id") % 4 == 0).limit(20)
    total = 0
    for i in range(5):  # 5 appending upserts of disjoint fresh ids
        shifted = batch.select(
            (F.col("vec_id") + 1_000_000 * (i + 1)).alias("vec_id"), "embedding"
        )
        total += S.upsert_ivf_index(spark, path, shifted)
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        meta = json.load(f)
    assert len(meta["upserts"]) == 3
    assert meta["upserts_rolled_up"] == 2
    kept = sum(u["appended"] for u in meta["upserts"])
    assert kept + meta["upserts_rolled_up_appended"] == total


def test_manifest_reconciles_after_crash_between_append_and_refresh(spark, sf_dir, tmp_path):
    """review r13 #1: a crash after the parquet append but before the
    manifest refresh must not undercount forever — the surviving pending
    marker triggers a bounded footer recount of exactly the touched
    cells on the next manifest read."""
    import json
    import os

    import pyarrow.parquet as pq

    from datafusion_bigtable_spark.operators import similarity as S

    e = load(spark, str(sf_dir), "embeddings")
    path = str(tmp_path / "ivf")
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        S.save_ivf_index(idx, path)
    S.upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 4 == 0))
    truth = {r["cell"]: r["rows"] for r in S.read_ivf_manifest(path)}

    # simulate the crash: the data landed but the refresh never ran —
    # roll one cell's manifest rows back and leave the marker behind
    victim = max(truth)
    stats = {
        int(r["cell"]): {"files": int(r["files"]), "rows": int(r["rows"])}
        for r in pq.read_table(os.path.join(path, S.IVF_MANIFEST_REL_PATH)).to_pylist()
    }
    stats[victim]["rows"] -= 5
    S._write_manifest_table(path, stats)
    with open(os.path.join(path, S._PENDING_MARKER), "w") as f:
        json.dump({"cells": [int(victim)]}, f)

    healed = {r["cell"]: r["rows"] for r in S.read_ivf_manifest(path)}
    assert healed == truth
    # a reader recounts but leaves the marker (it cannot tell a crashed
    # writer from one mid-mutation); the next writer clears it
    marker = os.path.join(path, S._PENDING_MARKER)
    assert os.path.exists(marker)
    gone = spark.createDataFrame([(int(e.first()["vec_id"]),)], "vec_id long")
    assert S.delete_from_ivf_index(spark, path, gone) == 1
    assert not os.path.exists(marker)
    footers = {c: st["rows"] for c, st in swap.partition_stats(path, "cell").items() if st["files"]}
    assert {r["cell"]: r["rows"] for r in S.read_ivf_manifest(path) if r["rows"]} == footers


def _manifest_and_footer_rows(S, path):
    manifest = {r["cell"]: r["rows"] for r in S.read_ivf_manifest(path) if r["rows"]}
    footers = {c: st["rows"] for c, st in swap.partition_stats(path, "cell").items() if st["files"]}
    return manifest, footers


def test_reader_during_upsert_does_not_double_count(spark, sf_dir, tmp_path, monkeypatch):
    """A reader that opens the store between the upsert's append and its
    manifest merge recounts the touched cells from the footers; the
    merge must then not add the batch on top of that recount."""
    import os

    from datafusion_bigtable_spark.operators import similarity as S

    e = load(spark, str(sf_dir), "embeddings")
    path = str(tmp_path / "ivf")
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        S.save_ivf_index(idx, path)
    merge = S._append_ivf_manifest

    def read_then_merge(*args):
        S.read_ivf_manifest(path)
        return merge(*args)

    monkeypatch.setattr(S, "_append_ivf_manifest", read_then_merge)
    assert S.upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 4 == 0)) > 0
    assert not os.path.exists(os.path.join(path, S._PENDING_MARKER))
    manifest, footers = _manifest_and_footer_rows(S, path)
    assert manifest == footers


def test_reader_then_crash_before_merge_recounts_on_next_open(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A reader opens after the upsert armed its marker and before the
    append lands; the upsert then dies before its manifest merge.  The
    reader must leave the marker, so the next open recounts."""
    import pytest

    from datafusion_bigtable_spark.operators import similarity as S

    class Crash(Exception):
        pass

    e = load(spark, str(sf_dir), "embeddings")
    path = str(tmp_path / "ivf")
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        S.save_ivf_index(idx, path)
    arm = swap.PartitionSwap.arm

    def arm_then_read(self, p, payload):
        arm(self, p, payload)
        S.read_ivf_manifest(path)

    def crash(*args):
        raise Crash()

    with monkeypatch.context() as m:
        m.setattr(swap.PartitionSwap, "arm", arm_then_read)
        m.setattr(S, "_append_ivf_manifest", crash)
        with pytest.raises(Crash):
            S.upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 4 == 0))
    manifest, footers = _manifest_and_footer_rows(S, path)
    assert manifest == footers
    assert sum(footers.values()) > 0


def test_torn_pending_marker_heals_on_load_and_stats(spark, sf_dir, tmp_path):
    """A torn IVF pending marker must not wedge the store (the shard
    store's twin: test_layout's test_reconcile_heals_unparsable_manifest_marker):
    load_ivf_index and ivf_store_stats recount EVERY cell, so the manifest
    matches the footers again; the marker stays for a writer to clear."""
    import glob
    import os

    import pyarrow.parquet as pq

    from datafusion_bigtable_spark.operators import similarity as S

    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 600)
    path = str(tmp_path / "ivf")
    with build_ivf_index(e, n_cells=8) as idx:
        S.save_ivf_index(idx, path)

    def footers():
        out = {}
        for d in glob.glob(os.path.join(path, "cell=*")):
            files = glob.glob(os.path.join(d, "*.parquet"))
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            out[int(d.rsplit("=", 1)[1])] = {"files": len(files), "rows": rows}
        return out

    truth = footers()
    for opener in (lambda: S.load_ivf_index(spark, path), lambda: S.ivf_store_stats(path)):
        # a stale manifest (every cell off by one) under a torn marker
        S._write_manifest_table(
            path, {c: {"files": st["files"], "rows": st["rows"] - 1} for c, st in truth.items()}
        )
        with open(os.path.join(path, S._PENDING_MARKER), "w") as f:
            f.write('{"cells": [1, 2')
        opener()
        assert os.path.exists(os.path.join(path, S._PENDING_MARKER))  # only a writer clears
        got = {r["cell"]: {"files": r["files"], "rows": r["rows"]} for r in S.read_ivf_manifest(path)}
        assert got == truth
    assert S.ivf_store_stats(path)["n_rows"] == sum(st["rows"] for st in truth.values())


def test_upsert_crash_inside_meta_write_keeps_old_meta(spark, sf_dir, tmp_path, monkeypatch):
    """A crash partway through writing _ivf_meta.json must leave the
    pre-upsert meta readable: the meta is written aside and renamed over
    the old one, never truncated in place."""
    import json
    import os

    import pytest

    from datafusion_bigtable_spark.operators import similarity as S

    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 600)
    path = str(tmp_path / "ivf")
    with build_ivf_index(e.filter(F.col("vec_id") % 2 == 0), n_cells=8) as idx:
        S.save_ivf_index(idx, path)
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        before = json.load(f)
    real_dump = json.dump

    def torn_dump(obj, fp, *args, **kwargs):
        if os.path.basename(getattr(fp, "name", "")).startswith("_ivf_meta.json"):
            fp.write(json.dumps(obj)[:20])
            raise RuntimeError("injected crash inside the meta write")
        return real_dump(obj, fp, *args, **kwargs)

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(RuntimeError, match="injected"):
        S.upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 2 == 1))
    monkeypatch.setattr(json, "dump", real_dump)
    S.load_ivf_index(spark, path)
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        assert json.load(f) == before


def test_load_heals_mid_retrain_swap_crash_roll_forward(spark, sf_dir, tmp_path):
    """VERDICT r13 #4: a crash between retrain's two renames leaves NO
    store at `path` (old store at ._retrain_old, complete rebuild at
    ._retrain_tmp).  load_ivf_index must roll FORWARD to the complete
    rebuild and clear both sidecars — search works, no manual rename."""
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        load_ivf_index,
        save_ivf_index,
        topk_ivf,
    )

    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 600)
    path = str(tmp_path / "store")
    with build_ivf_index(e, n_cells=8, nprobe=2) as idx:
        save_ivf_index(idx, path)
    # Simulate the crash window: the rebuild (here: an identical copy —
    # retrain guarantees tmp is a COMPLETE save_ivf_index output before
    # the first rename happens) sits at tmp, path was renamed away.
    shutil.copytree(path, path + "._retrain_tmp")
    os.rename(path, path + "._retrain_old")
    assert not os.path.exists(path)

    loaded = load_ivf_index(spark, path)
    assert not os.path.exists(path + "._retrain_tmp")
    assert not os.path.exists(path + "._retrain_old")
    pred = F.col("vec_id") < 5
    got = topk_ivf(e, pred, k=3, nprobe=2, index=loaded)
    assert got.count() > 0


def test_load_heals_mid_retrain_swap_crash_roll_back(spark, sf_dir, tmp_path):
    """Degenerate crash shape: path absent, no (complete) tmp, backup
    present — load_ivf_index rolls BACK to the backup."""
    import os

    from datafusion_bigtable_spark.operators.similarity import (
        load_ivf_index,
        save_ivf_index,
    )

    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 600)
    path = str(tmp_path / "store")
    with build_ivf_index(e, n_cells=8) as idx:
        save_ivf_index(idx, path)
    n = load_ivf_index(spark, path).assignments.filter(F.col("_rn") == 1).count()
    os.rename(path, path + "._retrain_old")

    loaded = load_ivf_index(spark, path)
    assert not os.path.exists(path + "._retrain_old")
    assert loaded.assignments.filter(F.col("_rn") == 1).count() == n


def test_load_never_deletes_backup_when_store_lacks_meta(spark, sf_dir, tmp_path):
    """Conservative branch: if the store directory exists but its meta
    sidecar is unreadable, a leftover backup is the last good copy and
    must NOT be rmtree'd by reconciliation."""
    import os

    from datafusion_bigtable_spark.operators.similarity import (
        _RETRAIN_SWAP,
        save_ivf_index,
    )

    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 600)
    path = str(tmp_path / "store")
    with build_ivf_index(e, n_cells=8) as idx:
        save_ivf_index(idx, path)
    os.makedirs(path + "._retrain_old")
    os.remove(os.path.join(path, "_ivf_meta.json"))
    _RETRAIN_SWAP.heal(path)
    assert os.path.exists(path + "._retrain_old")


def test_upsert_heals_mid_retrain_swap_crash(spark, sf_dir, tmp_path):
    """Review r14 #1: the streaming harness reaches the store through
    upsert_ivf_index (never load_ivf_index), so the upsert path must
    heal the mid-swap crash state too instead of dying on the missing
    meta sidecar."""
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 600)
    path = str(tmp_path / "store")
    with build_ivf_index(e.filter(F.col("vec_id") % 2 == 0), n_cells=8) as idx:
        save_ivf_index(idx, path)
    shutil.copytree(path, path + "._retrain_tmp")
    os.rename(path, path + "._retrain_old")
    assert not os.path.exists(path)

    n = upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 2 == 1))
    assert n > 0
    assert not os.path.exists(path + "._retrain_tmp")
    assert not os.path.exists(path + "._retrain_old")


def test_reconcile_retrain_swap_state_machine(tmp_path):
    """Exhaustive crash-state pin for the retrain swap's heal — all 27
    (store, tmp, backup) × (absent/complete/incomplete) combinations,
    asserting the EXACT contract per case (review r14-2 #3: the first
    version exempted store-present-without-meta states, over-claiming
    'readable whenever any complete copy existed'):

    - store COMPLETE: never replaced; a leftover backup is reclaimed.
    - store present WITHOUT meta: conservative no-op — the reconciler
      must not guess, so tmp and backup survive untouched (a complete
      backup is deliberately NOT promoted over an existing directory).
    - store ABSENT: complete tmp rolls forward (meta at path, tmp gone,
      backup reclaimed only after the store verifies); otherwise a
      backup (even incomplete — it IS the pre-swap store) rolls back.
    - in every case: the last complete copy is never destroyed.
    """
    import itertools
    import json
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        _RETRAIN_SWAP,
    )

    def mk(path, complete):
        os.makedirs(path)
        if complete:
            with open(os.path.join(path, "_ivf_meta.json"), "w") as f:
                json.dump({"nprobe": 1, "columns": []}, f)

    def state(path):
        if not os.path.isdir(path):
            return None
        return os.path.isfile(os.path.join(path, "_ivf_meta.json"))

    # states: None = absent, True = complete, False = dir without meta
    for i, (store, tmp, backup) in enumerate(
        itertools.product([None, True, False], repeat=3)
    ):
        root = str(tmp_path / f"case{i}")
        os.makedirs(root)
        path = os.path.join(root, "store")
        tmp_p, bak_p = path + "._retrain_tmp", path + "._retrain_old"
        for p, s in ((path, store), (tmp_p, tmp), (bak_p, backup)):
            if s is not None:
                mk(p, s)

        _RETRAIN_SWAP.heal(path)

        case = f"case {i}: store={store} tmp={tmp} backup={backup}"
        got = (state(path), state(tmp_p), state(bak_p))
        if store is True:
            # complete store kept; backup reclaimed; tmp left for the
            # next retrain's own cleanup
            assert got == (True, tmp, None), case
        elif store is False:
            # conservative no-op: nothing mutated, nothing deleted
            assert got == (False, tmp, backup), case
        elif tmp is True:
            # roll forward; backup reclaimed only after path verified
            assert got == (True, None, None), case
        elif backup is not None:
            # roll back whatever the pre-swap store was; tmp untouched
            assert got == (backup, tmp, None), case
        else:
            # nothing usable existed; nothing invented
            assert got == (None, tmp, None), case
        # the last complete copy is never destroyed
        if True in (store, tmp, backup):
            assert True in got, case
        shutil.rmtree(root)


def test_pair_salt_preserves_pair_set(spark, sf_dir):
    """r19 (guide §2.5): the skew salt on the IVF-blocked pair stage must
    be pure execution shape — the A side salts by a deterministic id
    hash, the B side replicates, and every within-cell pair still meets
    exactly once, so the (id_a, id_b, cosine) set is IDENTICAL at any
    salt.  Salt 1 must take the unsalted code path (byte-identical plan
    at the oracle-tested SFs, where _pair_salt_for derives 1)."""
    from datafusion_bigtable_spark.queries import _pair_salt_for

    e = load(spark, sf_dir, "embeddings")
    with build_ivf_index(e, n_cells=16, nprobe=1) as idx:
        base = sorted(
            map(tuple, embedding_dup_pairs_ivf(e, threshold=0.4, index=idx).collect())
        )
        for salt in (2, 8):
            salted = sorted(
                map(
                    tuple,
                    embedding_dup_pairs_ivf(
                        e, threshold=0.4, index=idx, pair_salt=salt
                    ).collect(),
                )
            )
            assert salted == base, f"pair set changed under salt={salt}"
    assert len(base) > 0
    # the derivation keeps tested SFs unsalted and engages by sf1+
    assert _pair_salt_for(2000) == 1
    assert _pair_salt_for(200_000) == 8
    assert _pair_salt_for(10**9) == 16
