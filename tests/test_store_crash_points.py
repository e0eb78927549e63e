"""Crash-point enumeration for every store mutation that swaps directories.

Every store commits through sources/swap.py, and every filesystem step a
commit takes there is a ``_rename`` or a ``_remove``.  For each step k of a
mutation, the test restores a tiny store from a pristine copy, makes step
k raise, and opens the store with its normal reader (which heals).  Each
partition must then hold its pre-mutation rows or its post-mutation rows,
never both and never neither, and the manifest must equal the footers.
Re-running the mutation must reach the post-mutation rows.  The mutations:
IVF delete, IVF compaction, IVF retrain, shard compaction, cells-store
compaction and the cells-store writers' commits (an overwrite swaps the
whole store; a stream micro-batch is replayed; a batch append is not
atomic).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datafusion_bigtable_spark.sources import swap


class _Crash(Exception):
    pass


def _steps(monkeypatch, crash_at=None, heal=None) -> list:
    """Record every swap step; make step ``crash_at`` (1-based) raise, or,
    given ``heal``, run that reader's heal just before the step instead."""
    seen: list = []
    healing: list = []

    def wrap(real):
        def step(*args):
            if healing:  # the heal's own steps
                return real(*args)
            seen.append((real.__name__, args))
            if len(seen) == crash_at:
                if heal is None:
                    raise _Crash(f"step {crash_at}: {real.__name__}{args}")
                healing.append(True)
                try:
                    heal()
                finally:
                    healing.pop()
            return real(*args)

        return step

    monkeypatch.setattr(swap, "_rename", wrap(swap._rename))
    monkeypatch.setattr(swap, "_remove", wrap(swap._remove))
    return seen


def _crash_points(monkeypatch, pristine, root, mutate, observe, heal=None):
    """Run ``mutate`` on fresh copies of ``pristine`` (copied to ``root``),
    once whole and then once per swap step with that step failing (or,
    given ``heal``, with a reader's heal run just before it: the mutation
    may then finish or raise).  ``observe()`` opens the store with its
    normal reader and returns its state.  Returns
    ``(pre, post, [(k, after_crash, after_rerun), ...])``."""

    def restore():
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(pristine, root)

    restore()
    pre = observe()
    with monkeypatch.context() as m:
        steps = _steps(m)
        mutate()
    post = observe()
    assert steps, "the mutation took no swap step"
    out = []
    for k in range(1, len(steps) + 1):
        restore()
        with monkeypatch.context() as m:
            _steps(m, crash_at=k, heal=heal)
            if heal is None:
                with pytest.raises(_Crash):
                    mutate()
            else:
                # the heal took the rewrite away: the swap raises
                with contextlib.suppress(RuntimeError, OSError):
                    mutate()
        crashed = observe()
        mutate()
        out.append((k, crashed, observe()))
    return pre, post, out


def _each_partition_pre_or_post(k, got, pre, post):
    for part in set(pre) | set(post) | set(got):
        assert got.get(part, []) in (pre.get(part, []), post.get(part, [])), (k, part)


def _footers(path: str, col: str) -> dict:
    """``{partition: (files, rows)}`` straight from the listing and the
    footers, for the partitions that hold a file."""
    out = {}
    for d in glob.glob(os.path.join(path, f"{col}=*")):
        files = glob.glob(os.path.join(d, "*.parquet"))
        if files:
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            out[int(d.rsplit("=", 1)[1])] = (len(files), rows)
    return out


# ---------------------------------------------------------------------------
# IVF store
# ---------------------------------------------------------------------------


def _vectors(spark, ids, like=None):
    import math

    like = like or {}
    return spark.createDataFrame(
        [
            (i, [math.cos(j), math.sin(j), math.cos(2 * j), math.sin(3 * j)])
            for i in ids
            for j in [like.get(i, i)]
        ],
        "vec_id long, embedding array<double>",
    )


def _ivf_store(spark, path, n=24):
    from datafusion_bigtable_spark.operators.similarity import build_ivf_index, save_ivf_index

    with build_ivf_index(_vectors(spark, range(n)), n_cells=4) as idx:
        save_ivf_index(idx, path)


def _ivf_observe(spark, path):
    """Per-cell vec_ids through ``load_ivf_index`` (which heals), after
    checking that the manifest equals the footers."""
    from datafusion_bigtable_spark.operators.similarity import load_ivf_index, read_ivf_manifest

    rows = load_ivf_index(spark, path).assignments.select("vec_id", "cell").collect()
    manifest = {
        m["cell"]: (m["files"], m["rows"]) for m in read_ivf_manifest(path) if m["files"] or m["rows"]
    }
    assert manifest == _footers(path, "cell")
    state: dict = {}
    for r in rows:
        state.setdefault(r.cell, []).append(r.vec_id)
    return {c: sorted(v) for c, v in state.items()}


def test_ivf_delete_every_crash_point_heals(spark, tmp_path, monkeypatch):
    from datafusion_bigtable_spark.operators.similarity import delete_from_ivf_index

    pristine, path = str(tmp_path / "pristine"), str(tmp_path / "store")
    _ivf_store(spark, pristine)
    cells = _ivf_observe(spark, pristine)
    # empty one cell (its partition must vanish) and thin another
    small, other = sorted(cells, key=lambda c: (len(cells[c]), c))[:2]
    gone = cells[small] + cells[other][:1]
    drop = spark.createDataFrame([(i,) for i in gone], "vec_id long")

    pre, post, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: delete_from_ivf_index(spark, path, drop),
        lambda: _ivf_observe(spark, path),
    )
    assert small not in post and post != pre
    for k, crashed, rerun in runs:
        _each_partition_pre_or_post(k, crashed, pre, post)
        assert rerun == post, k


def test_ivf_delete_survives_a_heal_at_every_step(spark, tmp_path, monkeypatch):
    """A reader that opens the store while a delete swaps cells heals it
    under the writer; the delete finishes or raises, and no cell ends up
    with neither its old nor its new rows."""
    from datafusion_bigtable_spark.operators.similarity import _CELL_SWAP, delete_from_ivf_index

    pristine, path = str(tmp_path / "pristine"), str(tmp_path / "store")
    _ivf_store(spark, pristine)
    cells = _ivf_observe(spark, pristine)
    small, other = sorted(cells, key=lambda c: (len(cells[c]), c))[:2]
    drop = spark.createDataFrame([(i,) for i in cells[small] + cells[other][:1]], "vec_id long")

    pre, post, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: delete_from_ivf_index(spark, path, drop),
        lambda: _ivf_observe(spark, path),
        heal=lambda: _CELL_SWAP.heal(path),
    )
    for k, healed, rerun in runs:
        _each_partition_pre_or_post(k, healed, pre, post)
        assert rerun == post, k


def test_ivf_compaction_every_crash_point_heals(spark, tmp_path, monkeypatch):
    from datafusion_bigtable_spark.operators.similarity import compact_ivf_store, upsert_ivf_index

    pristine, path = str(tmp_path / "pristine"), str(tmp_path / "store")
    _ivf_store(spark, pristine)
    # copies of vectors 0 and 1 land in their cells as a second file each
    upsert_ivf_index(spark, pristine, _vectors(spark, [100, 101], like={100: 0, 101: 1}))
    fragmented = {c for c, (files, _) in _footers(pristine, "cell").items() if files > 1}
    assert len(fragmented) == 2

    pre, post, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: compact_ivf_store(spark, path),
        lambda: _ivf_observe(spark, path),
    )
    assert post == pre
    for k, crashed, rerun in runs:
        _each_partition_pre_or_post(k, crashed, pre, post)
        assert rerun == post, k
        assert all(files == 1 for files, _ in _footers(path, "cell").values()), k


def test_ivf_retrain_every_crash_point_heals(spark, tmp_path, monkeypatch):
    from datafusion_bigtable_spark.operators.similarity import retrain_ivf_index

    pristine, path = str(tmp_path / "pristine"), str(tmp_path / "store")
    _ivf_store(spark, pristine)

    pre, post, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: retrain_ivf_index(spark, path, n_cells=3),
        lambda: _ivf_observe(spark, path),
    )
    assert len(post) == 3 and post != pre
    for k, crashed, rerun in runs:
        # one store swapped whole: all of it is old or all of it is new
        assert crashed in (pre, post), k
        assert rerun == post, k
        assert not glob.glob(path + "._retrain_*"), k


# ---------------------------------------------------------------------------
# Shard store
# ---------------------------------------------------------------------------


def test_shard_compaction_every_crash_point_heals(spark, tmp_path, monkeypatch):
    from datafusion_bigtable_spark.sources.layout import compact_training_shards
    from datafusion_bigtable_spark.sources.shards import (
        read_shard_manifest,
        read_training_shards,
        write_training_shards,
    )

    pristine, path = str(tmp_path / "pristine"), str(tmp_path / "store")
    docs = spark.range(40).select(
        F.pmod(F.col("id"), F.lit(2)).cast("int").alias("shard_id"), F.col("id").alias("doc_id")
    )
    write_training_shards(docs, pristine, max_records_per_file=10)

    def observe():
        rows = read_training_shards(spark, path).select("shard_id", "doc_id").collect()
        manifest = {
            r.shard_id: (r.n_files, r.n_rows) for r in read_shard_manifest(spark, path).collect()
        }
        assert manifest == _footers(path, "shard_id")
        state: dict = {}
        for r in rows:
            state.setdefault(r.shard_id, []).append(r.doc_id)
        return {s: sorted(v) for s, v in state.items()}

    pre, post, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: compact_training_shards(spark, path, target_records_per_file=1000),
        observe,
    )
    assert post == pre
    for k, crashed, rerun in runs:
        _each_partition_pre_or_post(k, crashed, pre, post)
        assert rerun == post, k
        assert {files for files, _ in _footers(path, "shard_id").values()} == {1}, k

    # a reader heal from inside the compaction: every row survives (the
    # compaction finishes or raises, and the re-run compacts)
    from datafusion_bigtable_spark.sources.layout import _SHARD_SWAP

    _, _, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: compact_training_shards(spark, path, target_records_per_file=1000),
        observe,
        heal=lambda: _SHARD_SWAP.heal(path),
    )
    for k, healed, rerun in runs:
        assert healed == pre and rerun == post, k
        assert {files for files, _ in _footers(path, "shard_id").values()} == {1}, k


# ---------------------------------------------------------------------------
# Cells store
# ---------------------------------------------------------------------------


_CELLS_OPTS = {
    "column_family": "measurements",
    "allow_full_scan": "true",
    "columns": "pressure:int64,temperature:string",
    "only_read_latest": "false",
}


def _cells_state(spark, path):
    """Every version's row through ``format("bigtable")`` (which heals a
    missing store), and whether the manifest equals the footers."""
    from datafusion_bigtable_spark.sources.cells import footer_file_stats, read_manifest

    rows = spark.read.format("bigtable").options(path=path, **_CELLS_OPTS).load().collect()
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    manifest = read_manifest(path)
    fresh = manifest is not None and [
        (m["file"], m["bytes"], m["min_key"], m["max_key"]) for m in manifest
    ] == [(s["file"], s["bytes"], s["min_key"], s["max_key"]) for s in footer_file_stats(files)]
    return sorted(tuple(r) for r in rows), fresh


def _cells_observe(spark, path):
    rows, fresh = _cells_state(spark, path)
    assert fresh
    return rows


def _rows(keys, minute, pressure):
    """Relational rows (``_row_key`` + ``_timestamp`` + two qualifiers),
    as Spark hands them to a writer task."""
    import datetime as dt

    from pyspark.sql import Row

    ts = dt.datetime(2021, 3, 5, 12, minute)
    return [
        Row(_row_key=f"k{k}", _timestamp=ts, pressure=pressure + k, temperature=f"{minute}.{k}")
        for k in keys
    ]


def _write(path, tasks, overwrite=False, batch_id=None):
    """Run a cells writer in this process as Spark runs it: one ``write``
    per task, then ``commit`` (a stream micro-batch given ``batch_id``)."""
    from datafusion_bigtable_spark.sources.datasource import BigtableStreamWriter, BigtableWriter

    opts = {"path": path, **_CELLS_OPTS}
    if batch_id is None:
        w = BigtableWriter(None, opts, overwrite=overwrite)
        w.commit([w.write(iter(rows)) for rows in tasks])
    else:
        w = BigtableStreamWriter(None, opts)
        w.commit([w.write(iter(rows)) for rows in tasks], batchId=batch_id)


def test_cells_compaction_every_crash_point_heals(spark, tmp_path, monkeypatch):
    """A crash between the two renames leaves no store at the path; the
    next ``format("bigtable")`` read heals it and returns every row."""
    import datetime as dt

    from datafusion_bigtable_spark.sources import datasource as bt_ds
    from datafusion_bigtable_spark.sources.cells import (
        CELLS_SCHEMA,
        compact_cells_store,
        weather_balloons_cells,
        write_cells,
    )

    pristine, path = str(tmp_path / "pristine"), str(tmp_path / "store")
    older = [
        (k, f, q, ts - dt.timedelta(minutes=1), b"\x00" * 8 if q == "pressure" else b"0.0")
        for k, f, q, ts, _ in weather_balloons_cells()
    ]
    write_cells(
        spark.createDataFrame(weather_balloons_cells() + older, CELLS_SCHEMA), pristine, num_ranges=2
    )
    bt_ds.register(spark)

    pre, post, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: compact_cells_store(spark, path, num_ranges=2, versions=1),
        lambda: _cells_observe(spark, path),
    )
    assert len(pre) == 10 and len(post) == 5
    for k, crashed, rerun in runs:
        assert crashed in (pre, post), k
        assert rerun == post, k
        assert not glob.glob(path + "._compact_*"), k


def test_cells_overwrite_every_crash_point_heals(spark, tmp_path, monkeypatch):
    """An overwrite builds the new store aside and swaps it in whole: after
    a failure at any step a read returns the old rows or the new ones,
    never none and never a mix, and re-running the write reaches the new
    rows with the store's GC watermark and compaction epoch carried."""
    from datafusion_bigtable_spark.sources import datasource as bt_ds
    from datafusion_bigtable_spark.sources.cells import (
        read_compaction_epoch,
        read_gc_watermark_us,
    )

    pristine, path = str(tmp_path / "pristine"), str(tmp_path / "store")
    _write(pristine, [_rows(range(3), 0, 100), _rows(range(3, 6), 0, 100)])
    swap.write_json(os.path.join(pristine, "_gc_watermark.json"), {"gc_watermark_us": 7})
    bt_ds.register(spark)

    pre, post, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: _write(path, [_rows(range(2), 1, 500), _rows(range(2, 4), 1, 500)], overwrite=True),
        lambda: _cells_observe(spark, path),
    )
    assert len(pre) == 6 and len(post) == 4
    for k, crashed, rerun in runs:
        assert crashed in (pre, post), k
        assert rerun == post, k
        assert not glob.glob(path + "._compact_*"), k
        assert read_gc_watermark_us(path) == 7 and read_compaction_epoch(path) == 0, k


def test_cells_stream_commit_every_crash_point_replays(spark, tmp_path, monkeypatch):
    """A micro-batch commit that fails at any step, then is replayed (new
    writer, same batch id, as after a checkpoint recovery), reaches
    exactly the post-commit rows; the commit removes the files an earlier
    attempt of the batch left before it moves its own."""
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    pristine, path = str(tmp_path / "pristine"), str(tmp_path / "store")
    _write(pristine, [_rows(range(3), 0, 100)], batch_id=0)
    batch = [_rows(range(2), 1, 500), _rows(range(2, 4), 1, 500)]
    _write(pristine, batch[:1], batch_id=1)  # an earlier attempt's file
    bt_ds.register(spark)

    pre, post, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: _write(path, batch, batch_id=1),
        lambda: _cells_state(spark, path),
    )
    post_rows, fresh = post
    assert fresh and len(post_rows) == 7
    for k, (crashed, _), rerun in runs:
        assert set(crashed) <= set(post_rows), k
        assert rerun == post, k


def test_cells_append_is_not_atomic(spark, tmp_path, monkeypatch):
    """A batch append moves its files into the live store one at a time
    (ROADMAP item 8): a failure between two moves leaves a store whose
    read shows part of the append."""
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    pristine, path = str(tmp_path / "pristine"), str(tmp_path / "store")
    _write(pristine, [_rows(range(3), 0, 100)])
    bt_ds.register(spark)

    pre, post, runs = _crash_points(
        monkeypatch, pristine, path,
        lambda: _write(path, [_rows(range(2), 1, 500), _rows(range(2, 4), 1, 500)]),
        lambda: _cells_state(spark, path)[0],
    )
    assert len(pre) == 3 and len(post) == 7
    assert any(crashed not in (pre, post) for _, crashed, _ in runs)
