"""Storage-layout maintenance (sources/layout.py): compaction file-count
mechanics, rewrite avoidance, crash reconciliation (both decidable disk
states), and the range-sorted layout's disjointness + sortedness — the
parts the registry queries' value-hash oracles cannot see."""

from __future__ import annotations

import glob
import json
import math
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datafusion_bigtable_spark.sources.layout import (
    _MANIFEST_MARKER,
    _SHARD_SWAP,
    compact_training_shards,
    shard_file_stats,
    write_range_sorted_shards,
)
from datafusion_bigtable_spark.sources.shards import (
    read_shard_manifest,
    read_training_shards,
    write_training_shards,
)


def _docs(spark, n=200, n_shards=4):
    return spark.range(n).select(
        F.pmod(F.col("id"), F.lit(n_shards)).cast("int").alias("shard_id"),
        F.col("id").alias("doc_id"),
        F.sha1(F.col("id").cast("string")).alias("text"),
    )


def _files(path, shard):
    return sorted(glob.glob(os.path.join(path, f"shard_id={shard}", "*.parquet")))


def test_compact_merges_small_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=10)
    before = shard_file_stats(path)
    assert all(st["files"] == 5 for st in before.values())  # 50 rows / 10
    plan = compact_training_shards(spark, path, target_records_per_file=1000)
    assert sorted(plan) == [0, 1, 2, 3]
    after = shard_file_stats(path)
    assert all(st["files"] == 1 for st in after.values())
    assert {s: st["rows"] for s, st in after.items()} == {
        s: st["rows"] for s, st in before.items()
    }
    # content roundtrip, not just counts
    got = sorted(r.doc_id for r in read_training_shards(spark, path).collect())
    assert got == list(range(200))
    # manifest refreshed to the compacted file counts
    man = {r.shard_id: r.n_files for r in read_shard_manifest(spark, path).collect()}
    assert man == {0: 1, 1: 1, 2: 1, 3: 1}


def test_compact_skips_right_sized_shards(spark, tmp_path):
    """Rewrite avoidance: a second compaction is a no-op and the files of
    an already-compacted shard are byte-identical (same inode paths)."""
    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=10)
    compact_training_shards(spark, path, target_records_per_file=1000)
    names_before = {s: _files(path, s) for s in range(4)}
    mtimes_before = {s: [os.stat(f).st_mtime_ns for f in fs] for s, fs in names_before.items()}
    assert compact_training_shards(spark, path, target_records_per_file=1000) == {}
    assert {s: _files(path, s) for s in range(4)} == names_before
    assert {
        s: [os.stat(f).st_mtime_ns for f in fs] for s, fs in names_before.items()
    } == mtimes_before


def test_reader_heals_half_swapped_shard(spark, tmp_path):
    """Crash between live→backup and tmp→live: backup dir present (its
    NAME is the recovery record — no sidecar to tear), live dir absent.
    A plain READ must heal it — without reconcile-on-read the
    dot-prefixed backup is invisible to Spark and the shard silently
    vanishes from every scan until the next maintenance run."""
    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=10)
    live = os.path.join(path, "shard_id=2")
    backup = os.path.join(path, "._compact_old_shard_id=2")
    os.rename(live, backup)
    assert read_training_shards(spark, path).count() == 200  # not 150
    assert os.path.isdir(live) and not os.path.exists(backup)


def test_compact_reconcile_completes_finished_swap(spark, tmp_path):
    """Crash between tmp→live and cleanup: backup + live both present —
    reconcile keeps the NEW files and drops the backup."""
    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=10)
    compact_training_shards(spark, path, target_records_per_file=1000)
    live_files = _files(path, 1)
    backup = os.path.join(path, "._compact_old_shard_id=1")
    os.makedirs(backup)  # stale pre-swap copy the crash left behind
    _SHARD_SWAP.heal(path)
    assert _files(path, 1) == live_files
    assert not os.path.exists(backup)


def test_reconcile_heals_unparsable_manifest_marker(spark, tmp_path):
    """External corruption of the manifest marker must not wedge
    compaction: the shard column falls back to the partition-dir names
    and the refresh still lands."""
    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=10)
    compact_training_shards(spark, path, target_records_per_file=1000)
    with open(os.path.join(path, _MANIFEST_MARKER), "w") as f:
        f.write('{"shard_col": "sha')  # torn json
    _SHARD_SWAP.heal(path)
    # a reader's heal recounts and leaves the marker; a writer's clears it
    assert os.path.exists(os.path.join(path, _MANIFEST_MARKER))
    man = {r.shard_id: r.n_files for r in read_shard_manifest(spark, path).collect()}
    assert man == {0: 1, 1: 1, 2: 1, 3: 1}
    _SHARD_SWAP.heal(path, writer=True)
    assert not os.path.exists(os.path.join(path, _MANIFEST_MARKER))


def test_compact_reconcile_heals_stale_manifest(spark, tmp_path):
    """Crash after the last swap but before the manifest refresh: the next
    compaction plans nothing (the files ARE compacted), so without the
    manifest marker the stale counts would stand forever."""
    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=10)
    stale = {r.shard_id: r.n_files for r in read_shard_manifest(spark, path).collect()}
    assert stale == {0: 5, 1: 5, 2: 5, 3: 5}
    compact_training_shards(spark, path, target_records_per_file=1000)
    # simulate the crash state: restore the PRE-compaction manifest and
    # leave the manifest marker armed
    rows = [(s, 50, 5) for s in range(4)]
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    mdir = os.path.join(path, "_shard_manifest")
    for f in glob.glob(os.path.join(mdir, "*.parquet")):
        os.remove(f)
    pq_mod.write_table(
        pa.table(
            {
                "shard_id": pa.array([r[0] for r in rows], type=pa.int32()),
                "n_rows": pa.array([r[1] for r in rows], type=pa.int64()),
                "n_files": pa.array([r[2] for r in rows], type=pa.int64()),
            }
        ),
        os.path.join(mdir, "part-00000.parquet"),
    )
    with open(os.path.join(path, _MANIFEST_MARKER), "w") as f:
        json.dump({"shard_col": "shard_id"}, f)
    # the next maintenance entry (a no-op compaction) must heal it
    assert compact_training_shards(spark, path, target_records_per_file=1000) == {}
    man = {r.shard_id: r.n_files for r in read_shard_manifest(spark, path).collect()}
    assert man == {0: 1, 1: 1, 2: 1, 3: 1}
    assert not os.path.exists(os.path.join(path, _MANIFEST_MARKER))


def test_compact_removes_zero_row_shard_files(spark, tmp_path):
    """A shard holding only empty parquet files (external/crashed writer)
    must compact to NO directory — and never wedge future runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=10)
    ghost = os.path.join(path, "shard_id=9")
    os.makedirs(ghost)
    empty = pa.table({"doc_id": pa.array([], type=pa.int64()), "text": pa.array([], type=pa.string())})
    pq_mod.write_table(empty, os.path.join(ghost, "a.parquet"))
    pq_mod.write_table(empty, os.path.join(ghost, "b.parquet"))
    plan = compact_training_shards(spark, path, target_records_per_file=1000)
    assert 9 in plan and plan[9]["rows"] == 0
    assert not os.path.exists(ghost)
    assert read_training_shards(spark, path).count() == 200
    # converged: the next run has nothing left to do
    assert compact_training_shards(spark, path, target_records_per_file=1000) == {}
    man = {r.shard_id for r in read_shard_manifest(spark, path).collect()}
    assert man == {0, 1, 2, 3}


def test_compact_verify_aborts_on_short_rewrite(spark, tmp_path, monkeypatch):
    """A rewrite that lost rows must abort BEFORE any swap — the live
    store stays exactly as it was."""
    import datafusion_bigtable_spark.sources.layout as layout

    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=10)
    before = shard_file_stats(path)
    real = layout.shard_file_stats
    calls = {"n": 0}

    def lying_stats(p, shard_col="shard_id"):
        out = real(p, shard_col)
        calls["n"] += 1
        if "._compact_tmp" in p:  # the post-rewrite verification read
            for st in out.values():
                st["rows"] -= 1
        return out

    monkeypatch.setattr(layout, "shard_file_stats", lying_stats)
    with pytest.raises(RuntimeError, match="compaction aborted"):
        compact_training_shards(spark, path, target_records_per_file=1000)
    monkeypatch.setattr(layout, "shard_file_stats", real)
    assert shard_file_stats(path) == before  # live store untouched
    assert calls["n"] >= 2


def test_range_sorted_layout_disjoint_sorted_deterministic(spark, tmp_path):
    path = str(tmp_path / "sorted")
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        # non-monotone unique key so the layout actually reorders rows
        ((F.col("id") * 37) % 500).alias("ck"),
    )
    bounds = write_range_sorted_shards(df, path, order_col="ck", n_shards=8)
    assert bounds == sorted(bounds) and len(bounds) == 7
    # boundary determinism: (id·37)%500 is a bijection on 0..499 (37 ⊥
    # 500), so the value at rank r is r-1 and the exact boundaries are
    # value-at-rank ⌊i·500/8⌋ — not whatever a runtime sample landed on
    assert bounds == [500 * i // 8 - 1 for i in range(1, 8)]
    # shards are range-DISJOINT and every file internally sorted
    ranges = {}
    for d in sorted(glob.glob(os.path.join(path, "shard_id=*"))):
        s = int(os.path.basename(d).split("=")[1])
        vals = []
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            col = pq.read_table(f, columns=["ck"]).column("ck").to_pylist()
            assert col == sorted(col), f"file not sorted: {f}"
            vals.extend(col)
        ranges[s] = (min(vals), max(vals), len(vals))
    sids = sorted(ranges)
    assert sids == list(range(1, 9))
    for a, b in zip(sids, sids[1:]):
        assert ranges[a][1] < ranges[b][0], "shard ranges overlap"
    # balanced rank-math sizes: every shard gets exactly 500/8 ± 1 rows
    sizes = [ranges[s][2] for s in sids]
    assert sum(sizes) == 500 and max(sizes) - min(sizes) <= 1
    # a re-run reproduces the identical layout (determinism contract)
    path2 = str(tmp_path / "sorted2")
    assert write_range_sorted_shards(df, path2, order_col="ck", n_shards=8) == bounds


def test_range_sorted_rolls_files_and_keeps_global_order(spark, tmp_path):
    """max_records_per_file bounds file size WITHOUT breaking the order
    contract: a shard's rolled files come from its single sorted writer
    task, so concatenating files in name order (then shards in id order)
    is the global order."""
    path = str(tmp_path / "rolled")
    df = spark.range(400).select(
        F.col("id").alias("doc_id"), ((F.col("id") * 7) % 400).alias("ck")
    )
    write_range_sorted_shards(
        df, path, order_col="ck", n_shards=4, max_records_per_file=30
    )
    seq = []
    for d in sorted(
        glob.glob(os.path.join(path, "shard_id=*")),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    ):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        assert len(files) >= 4  # 100 rows / 30 → rolled
        for f in files:
            seq.extend(pq.read_table(f, columns=["ck"]).column("ck").to_pylist())
    assert seq == sorted(seq) and len(seq) == 400


@pytest.mark.parametrize(
    "count,n",
    [(17, 3), (100, 8), (64, 64), (500, 7), (33, 32)],
)
def test_range_sorted_rank_math_holds_at_awkward_sizes(spark, tmp_path, count, n):
    """The balanced rank-math spec — shard of rank r is ⌈r·n/count⌉ —
    must hold when count % n != 0, count == n, and n is nearly count:
    sizes within 1 of each other, ranges disjoint, every shard present.
    Keys are a deterministic pseudo-random permutation (multiplier
    coprime to count) so the layout genuinely reorders rows."""
    mult = next(m for m in (7, 11, 13, 17, 19, 23) if math.gcd(m, count) == 1)
    df = spark.range(count).select(
        F.col("id").alias("doc_id"), ((F.col("id") * mult) % count).alias("ck")
    )
    path = str(tmp_path / f"rm_{count}_{n}")
    write_range_sorted_shards(df, path, order_col="ck", n_shards=n)
    rows = [(r.shard_id, r.ck) for r in spark.read.parquet(path).collect()]
    by_shard = {}
    for s, ck in rows:
        by_shard.setdefault(s, []).append(ck)
    assert sorted(by_shard) == list(range(1, n + 1))
    sizes = [len(v) for _, v in sorted(by_shard.items())]
    assert sum(sizes) == count and max(sizes) - min(sizes) <= 1
    # spec check: rank of ck in the sorted key set → ceil(rank·n/count)
    order = {ck: i + 1 for i, ck in enumerate(sorted(ck for _, v in by_shard.items() for ck in v))}
    for s, cks in by_shard.items():
        for ck in cks:
            assert s == -(-order[ck] * n // count), (s, ck, order[ck])
    # disjoint ranges
    spans = sorted((min(v), max(v)) for v in by_shard.values())
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo


def test_range_sorted_rejects_more_shards_than_rows(spark, tmp_path):
    df = spark.range(3).select(F.col("id").alias("ck"))
    with pytest.raises(ValueError, match="exceeds row count"):
        write_range_sorted_shards(df, str(tmp_path / "x"), order_col="ck", n_shards=8)


def test_range_sorted_rejects_null_order_keys(spark, tmp_path):
    """NULLs would corrupt the layout silently (boundary selector skips
    them, comparisons dump them all in shard 1) — must fail loud."""
    df = spark.range(100).select(
        F.when(F.col("id") % 10 != 0, F.col("id")).alias("ck")
    )
    with pytest.raises(ValueError, match="NULL"):
        write_range_sorted_shards(df, str(tmp_path / "x"), order_col="ck", n_shards=4)


def test_bucketed_fixture_sweeps_stale_dirs_without_catalog(spark, tmp_path, sf_dir):
    """Cross-session leak (fresh catalog knows nothing): a superseded
    content version of the SAME family on disk is swept by path; a
    different family's dir is untouched."""
    import hashlib

    from datafusion_bigtable_spark.operators.bucketing import bucketed_fixture

    src = os.path.join(sf_dir, "nation.parquet")
    fam = hashlib.md5(
        f"{os.path.abspath(src)}|nation|n_nationkey".encode()
    ).hexdigest()[:8]
    sfname = os.path.basename(os.path.normpath(sf_dir))
    stale = f"/tmp/dbs_bucketfix_{sfname}_nation_n_nationkey_{fam}_{'0' * 12}"
    other_family = f"/tmp/dbs_bucketfix_{sfname}_nation_n_nationkey_{'f' * 8}_{'0' * 12}"
    os.makedirs(stale, exist_ok=True)
    os.makedirs(other_family, exist_ok=True)
    try:
        df = bucketed_fixture(spark, sf_dir, "nation", ["n_nationkey"], n_buckets=2)
        assert df.count() > 0
        assert not os.path.exists(stale), "stale same-family dir not swept"
        assert os.path.exists(other_family), "sibling family's dir was taken"
    finally:
        import shutil

        shutil.rmtree(other_family, ignore_errors=True)


# ---------------------------------------------------------------------------
# r15: persisted range-layout boundaries + directory-pruning reader
# ---------------------------------------------------------------------------


def _ranged(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 4000).alias("ck")
    )


def test_range_layout_bounds_persist_and_prune_reader_matches_full_filter(
    spark, tmp_path
):
    """VERDICT r14 #3 done-criterion: the bounds survive the writing
    session (meta + typed parquet), a later reader prunes by them at the
    DIRECTORY level (inputFiles ⊂ selected shard dirs, a proper subset
    of the store), and the pruned frame equals the full-store filter."""
    from datafusion_bigtable_spark.sources.layout import (
        read_range_layout_bounds,
        read_range_sorted_shards,
    )

    path = str(tmp_path / "store")
    bounds = write_range_sorted_shards(
        _ranged(spark), path, order_col="ck", n_shards=8
    )
    meta, persisted = read_range_layout_bounds(path)
    assert persisted == bounds, "persisted bounds differ from returned ones"
    assert all(isinstance(b, int) for b in persisted), "int bounds lost type"
    fixed = {
        "order_col": "ck",
        "shard_col": "shard_id",
        "n_shards": 8,
        "n_bounds": len(bounds),
    }
    assert {k: meta[k] for k in fixed} == fixed
    # r16: the read-side schema is persisted too (miss path builds its
    # empty frame from it — see test_range_prune_miss_reads_nothing...)
    assert "schema" in meta and meta["schema"]["type"] == "struct"
    lo, hi = 900, 1700
    pruned = read_range_sorted_shards(spark, path, lo=lo, hi=hi)
    full = spark.read.parquet(path).filter(
        (F.col("ck") >= lo) & (F.col("ck") <= hi)
    )
    assert sorted(r.doc_id for r in pruned.collect()) == sorted(
        r.doc_id for r in full.collect()
    )
    # directory-level pruning is real: only boundary-chosen dirs scanned
    import bisect

    s_lo = bisect.bisect_left(bounds, lo) + 1
    s_hi = bisect.bisect_left(bounds, hi) + 1
    assert s_hi - s_lo + 1 < 8, "band too wide to prove pruning"
    allowed = {f"shard_id={s}" for s in range(s_lo, s_hi + 1)}
    scanned = {f.split("/")[-2] for f in pruned.inputFiles()}
    assert scanned and scanned <= allowed, (scanned, allowed)


def test_range_prune_open_ended_and_empty_selections(spark, tmp_path):
    from datafusion_bigtable_spark.sources.layout import read_range_sorted_shards

    path = str(tmp_path / "store")
    write_range_sorted_shards(_ranged(spark), path, order_col="ck", n_shards=4)
    # open-ended: hi only
    got = read_range_sorted_shards(spark, path, hi=100)
    want = spark.read.parquet(path).filter(F.col("ck") <= 100)
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    # nothing intersects: empty frame, store schema, no files listed
    empty = read_range_sorted_shards(spark, path, lo=10**9)
    assert empty.count() == 0
    full_schema = spark.read.option("basePath", path).parquet(path).schema
    assert empty.schema == full_schema


def test_range_prune_miss_reads_nothing_beyond_sidecars(spark, tmp_path):
    """VERDICT r15 #7 / ADVICE r15 #3: a no-intersection read must build
    its empty frame from the PERSISTED schema — zero shard-directory
    listing, zero footer reads.  Pinned by physically moving every shard
    directory away: if the reader listed anything beyond the two layout
    sidecars it could not succeed."""
    from datafusion_bigtable_spark.sources.layout import read_range_sorted_shards

    path = str(tmp_path / "store")
    write_range_sorted_shards(_ranged(spark), path, order_col="ck", n_shards=4)
    full_schema = spark.read.option("basePath", path).parquet(path).schema
    hidden = str(tmp_path / "hidden")
    os.makedirs(hidden)
    for d in os.listdir(path):
        if d.startswith("shard_id="):
            os.rename(os.path.join(path, d), os.path.join(hidden, d))
    empty = read_range_sorted_shards(spark, path, lo=10**9)
    assert empty.count() == 0
    assert empty.schema == full_schema


def test_range_reader_fails_loud_without_layout_record(spark, tmp_path):
    """A store missing its layout record (pre-persistence store, or a
    crash between data and meta writes) must refuse to prune — guessed
    bounds would silently drop rows."""
    from datafusion_bigtable_spark.sources.layout import (
        _RANGE_META,
        read_range_sorted_shards,
    )

    path = str(tmp_path / "store")
    write_range_sorted_shards(_ranged(spark), path, order_col="ck", n_shards=4)
    os.remove(os.path.join(path, _RANGE_META))
    with pytest.raises(FileNotFoundError, match="range-layout record"):
        read_range_sorted_shards(spark, path, lo=0, hi=10)


def test_compact_removes_single_file_zero_row_ghost_shard(spark, tmp_path):
    """ADVICE r14: a zero-row shard with exactly ONE empty file used to
    fall outside the plan (files > 1 required) and its ghost directory +
    manifest entry persisted forever; any empty shard now compacts to no
    directory."""
    import pyarrow as pa

    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=1000)
    ghost = os.path.join(path, "shard_id=9")
    os.makedirs(ghost)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    pq.write_table(schema.empty_table(), os.path.join(ghost, "empty.parquet"))
    plan = compact_training_shards(spark, path, target_records_per_file=1000)
    assert 9 in plan and plan[9]["rows"] == 0
    assert not os.path.exists(ghost), "ghost directory survived compaction"
    man = {r.shard_id for r in read_shard_manifest(spark, path).collect()}
    assert 9 not in man


def test_stats_skip_non_integer_partition_dirs(spark, tmp_path):
    """ADVICE r14: a `shard_id=__HIVE_DEFAULT_PARTITION__` directory (null
    shard ids) must not crash planning or reconciliation — it is skipped,
    stays byte-untouched, and integer shards still compact."""
    path = str(tmp_path / "store")
    write_training_shards(_docs(spark), path, max_records_per_file=10)
    hive_null = os.path.join(path, "shard_id=__HIVE_DEFAULT_PARTITION__")
    os.makedirs(hive_null)
    marker = os.path.join(hive_null, "untouched.parquet")
    pq.write_table(
        pq.read_table(_files(path, 0)[0]).slice(0, 1), marker
    )
    stats = shard_file_stats(path)
    assert set(stats) == {0, 1, 2, 3}
    plan = compact_training_shards(spark, path, target_records_per_file=1000)
    assert sorted(plan) == [0, 1, 2, 3]
    assert os.path.isfile(marker), "non-integer shard dir was touched"


def test_compaction_preserves_range_store_internal_order(spark, tmp_path):
    """Compacting a RANGE-SORTED store must re-establish per-shard order
    (global order = shard-id file concat); a plain rewrite keeps the
    rows but shuffles their order — every count still verifies while
    every order-dependent consumer silently breaks.  The persisted
    layout record tells the compactor which column to re-sort by, and
    the pruning reader keeps working over the compacted files."""
    from datafusion_bigtable_spark.sources.layout import read_range_sorted_shards

    path = str(tmp_path / "store")
    bounds = write_range_sorted_shards(
        _ranged(spark), path, order_col="ck", n_shards=4, max_records_per_file=10
    )
    before = shard_file_stats(path)
    assert any(st["files"] > 1 for st in before.values()), "not fragmented"
    plan = compact_training_shards(spark, path, target_records_per_file=1000)
    assert plan, "nothing compacted"
    # per-shard: files (name order) concat to a non-decreasing ck run;
    # shards in id order concat to the global order
    last = None
    for s in sorted(shard_file_stats(path)):
        vals = []
        for f in _files(path, s):
            vals.extend(pq.read_table(f).column("ck").to_pylist())
        assert vals == sorted(vals), f"shard {s} lost internal order"
        if vals:
            assert last is None or vals[0] > last, "shards overlap"
            last = vals[-1]
    # layout record survived the compaction; pruning still exact
    lo, hi = 900, 1700
    pruned = read_range_sorted_shards(spark, path, lo=lo, hi=hi)
    full = spark.read.parquet(path).filter((F.col("ck") >= lo) & (F.col("ck") <= hi))
    assert sorted(r.doc_id for r in pruned.collect()) == sorted(
        r.doc_id for r in full.collect()
    )
