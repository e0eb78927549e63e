"""Streaming source: spark.readStream.format("bigtable") tails the cells
store by file arrival — completing the format triad (batch read, batch
write, stream read)."""

from __future__ import annotations

import pytest

from datafusion_bigtable_spark.sources import datasource as bt_ds
from datafusion_bigtable_spark.sources.datasource import BigtableStreamReader, FilePartition


@pytest.fixture(scope="module")
def registered(spark):
    bt_ds.register(spark)
    return spark


OPTS = {
    "column_family": "measurements",
    "columns": "pressure:int64,temperature:string",
    "table_partition_cols": "region,balloon_id,event_minute",
    "only_read_latest": "false",
    "allow_full_scan": "true",  # batch read-backs in these tests; the stream reader itself is offset-bounded
}


def _write_initial(registered, cells_path, dest):
    src = registered.read.format("bigtable").options(path=cells_path, **OPTS).load()
    src.write.format("bigtable").options(path=dest, **OPTS).mode("append").save()
    return src


def test_stream_tails_file_arrivals(registered, cells_path, tmp_path):
    dest = str(tmp_path / "stream_store")
    src = _write_initial(registered, cells_path, dest)

    stream = registered.readStream.format("bigtable").options(path=dest, **OPTS).load()
    q = stream.writeStream.format("memory").queryName("t_bt_stream").outputMode("append").start()
    try:
        q.processAllAvailable()
        first = registered.table("t_bt_stream").count()
        assert first == 5  # the full initial store

        # new cells arrive via the batch writer → exactly the delta streams
        newer = src.filter("event_minute >= '2021-03-05-1203'").selectExpr(
            "region", "balloon_id", "event_minute",
            "_timestamp + INTERVAL 1 HOUR AS _timestamp", "pressure", "temperature",
        )
        newer.write.format("bigtable").options(path=dest, **OPTS).mode("append").save()
        q.processAllAvailable()
        rows = registered.table("t_bt_stream").collect()
        assert len(rows) == 7  # 5 + 2 appended, nothing reprocessed
        assert sum(1 for r in rows if r.event_minute == "2021-03-05-1204") == 2
    finally:
        q.stop()


def _collect(reader, parts):
    out = []
    for p in parts:
        for batch in reader.read(p):
            out.extend(tuple(d.values()) for d in batch.to_pylist())
    return out


def test_stream_replay_between_offsets(registered, cells_path, tmp_path):
    dest = str(tmp_path / "replay_store")
    _write_initial(registered, cells_path, dest)
    r = BigtableStreamReader(None, {"path": dest, **OPTS})
    start = r.initialOffset()
    end = r.latestOffset()
    rows = _collect(r, r.partitions(start, end))
    assert len(rows) == 5
    # deterministic replay of the same batch (checkpoint recovery path)
    assert sorted(_collect(r, r.partitions(start, end))) == sorted(rows)
    # nothing new → one empty partition, schema-stable empty batch
    parts2 = r.partitions(end, r.latestOffset())
    assert _collect(r, parts2) == []


def _write_cells_file(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "row_key": pa.array([r[0] for r in rows], pa.string()),
                "family": pa.array([r[1] for r in rows], pa.string()),
                "qualifier": pa.array([r[2] for r in rows], pa.string()),
                "ts": pa.array([r[3] for r in rows], pa.timestamp("us")),
                "value": pa.array([r[4] for r in rows], pa.binary()),
            }
        ),
        path,
    )


def test_stream_batch_fans_out_and_merges_overlaps(tmp_path):
    """Partitioned micro-batch planning: key-DISJOINT new files scan as
    separate tasks; key-OVERLAPPING files (one (row_key, ts)'s cells split
    across two appends in the same batch) merge into ONE task so the pivot
    emits one complete row, not two partial rows with NULL holes."""
    import datetime as dt

    store = tmp_path / "fanout_store"
    store.mkdir()
    ts = dt.datetime(2021, 3, 5, 12, 0, 5)
    enc = (94558).to_bytes(8, "big", signed=True)
    # two files SPLITTING one row's cells (same key, same ts)…
    _write_cells_file(str(store / "a0.parquet"), [("k1", "measurements", "pressure", ts, enc)])
    _write_cells_file(str(store / "a1.parquet"), [("k1", "measurements", "temperature", ts, b"9.6")])
    # …and one key-disjoint file
    _write_cells_file(str(store / "b.parquet"), [("z9", "measurements", "temperature", ts, b"4.2")])

    # micro-batches pack like a full scan: at two cores, the two groups
    # are two tasks
    opts = {"path": str(store), **{**OPTS, "table_partition_cols": "_row_key"}}
    r = BigtableStreamReader(None, opts, cores=2)
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    groups = sorted(tuple(sorted(p.files)) for p in parts)
    assert len(parts) == 2, f"expected overlap-merged fan-out, got {groups}"
    assert any(len(g) == 2 for g in groups)  # the split row's files grouped

    rows = _collect(r, parts)
    # (_row_key, _timestamp, pressure, temperature) — schema field order
    by_key = {t[0]: t for t in rows}
    assert len(rows) == 2 and by_key["k1"][2] == 94558 and by_key["k1"][3] == "9.6"
    assert by_key["z9"][2] is None and by_key["z9"][3] == "4.2"


def test_stream_batch_packs_groups_like_a_full_scan(tmp_path):
    """A micro-batch is planned by the batch reader's planner: key-disjoint
    groups packed at the session's core count into ``FilePartition``s,
    scanned with the batch reader's ``read``.  The group of two files that
    split one row's cells stays whole, so that row comes out complete."""
    import datetime as dt
    import os

    store = tmp_path / "packed_store"
    store.mkdir()
    ts = dt.datetime(2021, 3, 5, 12, 0, 5)
    enc = (94558).to_bytes(8, "big", signed=True)
    _write_cells_file(str(store / "a0.parquet"), [("k1", "measurements", "pressure", ts, enc)])
    _write_cells_file(str(store / "a1.parquet"), [("k1", "measurements", "temperature", ts, b"9.6")])
    _write_cells_file(str(store / "b.parquet"), [("m5", "measurements", "temperature", ts, b"1.1")])
    _write_cells_file(str(store / "c.parquet"), [("z9", "measurements", "temperature", ts, b"4.2")])

    opts = {"path": str(store), **{**OPTS, "table_partition_cols": "_row_key"}}

    def plan(cores):
        r = BigtableStreamReader(None, opts, cores)
        parts = r.partitions(r.initialOffset(), r.latestOffset())
        assert all(isinstance(p, FilePartition) and p.ranges == () for p in parts)
        return r, parts, [[[os.path.basename(f) for f in g] for g in p.groups] for p in parts]

    # four tiny files cost 4 × 4 MiB: one core packs every group into one
    # task; at three cores the split size is a third of that, so the
    # two-file group closes a task of its own
    _, _, names = plan(1)
    assert names == [[["a0.parquet", "a1.parquet"], ["b.parquet"], ["c.parquet"]]]
    r, parts, names = plan(3)
    assert names == [[["a0.parquet", "a1.parquet"]], [["b.parquet"], ["c.parquet"]]]

    rows = _collect(r, parts)
    # (_row_key, _timestamp, pressure, temperature) — schema field order
    assert [(t[0], t[2], t[3]) for t in rows] == [
        ("k1", 94558, "9.6"), ("m5", None, "1.1"), ("z9", None, "4.2")
    ]


def test_stream_requires_unnest_mode(tmp_path):
    with pytest.raises(ValueError, match="only_read_latest=false"):
        BigtableStreamReader(None, {"path": str(tmp_path), **{**OPTS, "only_read_latest": "true"}})


def test_stream_write_sink_round_trip(registered, cells_path, tmp_path):
    """df.writeStream.format("bigtable"): stream one store into another and
    the destination must equal the source relationally — completing the
    format quad (batch read/write, stream read/write)."""
    src_store = str(tmp_path / "sink_src")
    dest = str(tmp_path / "sink_dest")
    src = _write_initial(registered, cells_path, src_store)

    stream = registered.readStream.format("bigtable").options(path=src_store, **OPTS).load()
    q = (
        stream.writeStream.format("bigtable")
        .options(path=dest, checkpointLocation=str(tmp_path / "ckpt"), **OPTS)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        back = registered.read.format("bigtable").options(path=dest, **OPTS).load()
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))

        # late arrivals flow through the same running sink
        newer = src.filter("event_minute = '2021-03-05-1204'").selectExpr(
            "region", "balloon_id", "event_minute",
            "_timestamp + INTERVAL 1 HOUR AS _timestamp", "pressure", "temperature",
        )
        newer.write.format("bigtable").options(path=src_store, **OPTS).mode("append").save()
        q.processAllAvailable()
        back2 = registered.read.format("bigtable").options(path=dest, **OPTS).load()
        assert back2.count() == src.count() + 1
    finally:
        q.stop()
    # manifest stayed fresh across micro-batch commits → planning is O(1)
    from datafusion_bigtable_spark.sources.cells import read_manifest

    assert read_manifest(dest) is not None


def test_stream_write_replay_is_idempotent(tmp_path):
    """A re-committed micro-batch (checkpoint recovery) must overwrite its
    own deterministically-named files, not duplicate cells."""
    import datetime as dt
    import os

    import pyarrow.parquet as pq

    from datafusion_bigtable_spark.sources.datasource import (
        BigtableStreamWriter,
        _CellsWriteCommit,
    )

    dest = str(tmp_path / "replay_dest")
    w = BigtableStreamWriter(None, {"path": dest, **OPTS})

    def staged_file(tag):
        os.makedirs(w.staging, exist_ok=True)
        p = os.path.join(w.staging, f"{tag}.parquet")
        _write_cells_file(p, [("k1", "measurements", "pressure", dt.datetime(2021, 3, 5), (1).to_bytes(8, "big", signed=True))])
        return p

    w.commit([_CellsWriteCommit(staged_file("a"))], batchId=7)
    first = sorted(os.listdir(dest))
    # replay of batch 7 (same logical content staged again)
    w.commit([_CellsWriteCommit(staged_file("b"))], batchId=7)
    assert sorted(f for f in os.listdir(dest) if f.endswith(".parquet")) == [
        f for f in first if f.endswith(".parquet")
    ]
    files = [os.path.join(dest, f) for f in os.listdir(dest) if f.endswith(".parquet")]
    assert sum(pq.read_table(f).num_rows for f in files) == 1  # no duplicated cells


def test_stream_writer_gc_orphan_staging(tmp_path):
    """ADVICE r5: staging dirs of crashed stream drivers (commit/abort never
    ran) must not accumulate.  Commit sweeps stream-* dirs older than the
    TTL; fresh stream staging (a live writer mid-batch) and batch-job
    staging dirs survive.  Construction-time sweeping would race the live
    write-side instance (Spark re-constructs the writer for commit), which
    is why the GC is commit-time + age-gated."""
    import datetime as dt
    import os

    from datafusion_bigtable_spark.sources.datasource import (
        BigtableStreamWriter,
        _CellsWriteCommit,
    )

    dest = str(tmp_path / "gc_dest")
    old_orphan = os.path.join(dest, "_staging", "stream-deadbeef0000")
    fresh_stream = os.path.join(dest, "_staging", "stream-cafecafe0000")
    batch_staging = os.path.join(dest, "_staging", "job-aaaa00001111")
    for d in (old_orphan, fresh_stream, batch_staging):
        os.makedirs(d)
    open(os.path.join(old_orphan, "x.parquet"), "wb").close()
    stale = 1  # epoch — far past any TTL
    os.utime(old_orphan, (stale, stale))

    w = BigtableStreamWriter(None, {"path": dest, **OPTS})
    os.makedirs(w.staging, exist_ok=True)
    staged = os.path.join(w.staging, "task-x.parquet")
    _write_cells_file(
        staged,
        [("k1", "measurements", "pressure", dt.datetime(2021, 3, 5), (1).to_bytes(8, "big", signed=True))],
    )
    w.commit([_CellsWriteCommit(staged)], batchId=0)

    assert not os.path.exists(old_orphan)
    assert os.path.isdir(fresh_stream)  # age-gate: live writers untouched
    assert os.path.isdir(batch_staging)  # batch jobs never swept


def test_stream_commit_skips_a_task_with_no_cells(tmp_path):
    """The stream writer shares the batch writer's ``write``: a task with
    no cells answers with a message that carries no file, and the
    micro-batch commit moves only the staged files."""
    import datetime as dt
    import os

    from datafusion_bigtable_spark.sources.cells import read_manifest
    from datafusion_bigtable_spark.sources.datasource import (
        BigtableStreamWriter,
        _CellsWriteCommit,
    )

    dest = str(tmp_path / "sparse_dest")
    w = BigtableStreamWriter(None, {"path": dest, **OPTS})
    empty = w.write(iter(()))
    assert isinstance(empty, _CellsWriteCommit) and empty.staged is None
    os.makedirs(w.staging, exist_ok=True)
    staged = os.path.join(w.staging, "task-x.parquet")
    _write_cells_file(
        staged,
        [("k1", "measurements", "pressure", dt.datetime(2021, 3, 5), (1).to_bytes(8, "big", signed=True))],
    )
    w.commit([empty, _CellsWriteCommit(staged)], batchId=3)
    assert [f for f in os.listdir(dest) if f.endswith(".parquet")] == ["stream-b00000003-00001.parquet"]
    assert [os.path.basename(r["file"]) for r in read_manifest(dest)] == ["stream-b00000003-00001.parquet"]


def test_latest_wins_view_matches_batch_latest(registered, cells_path, tmp_path):
    """streaming/sinks.py::latest_wins_view — the stateful latest-version
    twin the stream reader's contract defers to: after newer versions
    arrive mid-stream, the final state per key must equal the batch
    only_read_latest=true read (and a NULL hole in a newer version must
    not erase an older qualifier value)."""
    from datafusion_bigtable_spark.streaming.sinks import latest_wins_view

    dest = str(tmp_path / "lw_store")
    src = _write_initial(registered, cells_path, dest)

    keys = ["region", "balloon_id", "event_minute"]
    stream = registered.readStream.format("bigtable").options(path=dest, **OPTS).load()
    view = latest_wins_view(stream, keys, ["pressure", "temperature"])
    q = (
        view.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_latest_wins")
        .start()
    )
    try:
        q.processAllAvailable()
        # newer PARTIAL versions: pressure-only update (temperature NULL) —
        # the view must take the new pressure and KEEP the old temperature
        newer = src.filter("event_minute = '2021-03-05-1200'").selectExpr(
            "region", "balloon_id", "event_minute",
            "_timestamp + INTERVAL 1 HOUR AS _timestamp",
            "pressure + 1000 AS pressure", "CAST(NULL AS STRING) AS temperature",
        )
        newer.write.format("bigtable").options(path=dest, **OPTS).mode("append").save()
        q.processAllAvailable()

        out = registered.table("t_latest_wins").collect()
        # update-mode memory sink appends; last row per key is current state
        current = {}
        for r in out:
            current[(r.region, r.balloon_id, r.event_minute)] = (r.pressure, r.temperature)

        # Expected: the MERGED current row per key — per qualifier, the
        # newest non-null value.  (The batch only_read_latest pivot mirrors
        # the reference's one-row-per-(key, ts) shape, so per-column latest
        # values at different timestamps land in DIFFERENT rows; the view
        # merges them, so merge here too.)
        batch = (
            registered.read.format("bigtable")
            .options(path=dest, **{**OPTS, "only_read_latest": "true"})
            .load()
        )
        want: dict = {}
        for r in sorted(batch.collect(), key=lambda r: r._timestamp):
            k = (r.region, r.balloon_id, r.event_minute)
            p, t = want.get(k, (None, None))
            want[k] = (r.pressure if r.pressure is not None else p,
                       r.temperature if r.temperature is not None else t)
        assert current == want
        # the partial update really merged: new pressure, surviving temperature
        k = next(k for k in want if k[2] == "2021-03-05-1200")
        assert want[k][0] >= 95000 and want[k][1] is not None
    finally:
        q.stop()


def test_latest_wins_view_all_null_first_batch(registered, cells_path, tmp_path):
    """r6 ADVICE: a key whose first-ever micro-batch carries only rows with
    every tracked value column NULL (here: tracking ["temperature"] while
    the arriving rows are pressure-only) used to hit max() over an empty
    generator and kill the streaming query.  Now: no emit until a non-null
    value arrives, then the normal current-row emit."""
    from datafusion_bigtable_spark.streaming.sinks import latest_wins_view

    dest = str(tmp_path / "lw_nulls_store")
    src = registered.read.format("bigtable").options(path=cells_path, **OPTS).load()
    # first batch: ONE key, pressure-only (temperature NULL in the pivot row)
    first = src.filter("event_minute = '2021-03-05-1200'").selectExpr(
        "region", "balloon_id", "event_minute", "_timestamp",
        "pressure", "CAST(NULL AS STRING) AS temperature",
    ).limit(1)
    first.write.format("bigtable").options(path=dest, **OPTS).mode("append").save()

    keys = ["region", "balloon_id", "event_minute"]
    stream = registered.readStream.format("bigtable").options(path=dest, **OPTS).load()
    view = latest_wins_view(stream, keys, ["temperature"])
    q = (
        view.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_lw_nulls")
        .start()
    )
    try:
        q.processAllAvailable()  # pre-fix: ValueError kills the query here
        assert registered.table("t_lw_nulls").count() == 0  # nothing to say yet

        upd = first.selectExpr(
            "region", "balloon_id", "event_minute",
            "_timestamp + INTERVAL 1 HOUR AS _timestamp",
            "CAST(NULL AS BIGINT) AS pressure", "'warm' AS temperature",
        )
        upd.write.format("bigtable").options(path=dest, **OPTS).mode("append").save()
        q.processAllAvailable()
        rows = registered.table("t_lw_nulls").collect()
        assert [r.temperature for r in rows] == ["warm"]
        assert rows[0]._last_ts is not None
    finally:
        q.stop()


def test_stream_sink_kill_midbatch_restart_exactly_once(registered, tmp_path):
    """r7 (VERDICT #7): kill-mid-batch → restart → exactly-once.  Writer A
    commits batch 5, stages batch 6, and dies before commit (its staging
    dir is orphaned).  Spark restarts from the checkpoint with a FRESH
    writer instance and replays batch 6; then the post-commit-pre-ack
    crash replays it AGAIN through yet another instance.  The store must
    hold every micro-batch exactly once throughout, the manifest must stay
    consistent, and the orphan staging must be age-GC'd without touching
    live data."""
    import datetime as dt
    import os
    import time

    import pyarrow.parquet as pq

    from datafusion_bigtable_spark.sources.cells import read_manifest
    from datafusion_bigtable_spark.sources.datasource import (
        BigtableStreamWriter,
        _CellsWriteCommit,
    )

    dest = str(tmp_path / "crash_dest")
    enc = lambda v: v.to_bytes(8, "big", signed=True)
    T = dt.datetime(2021, 3, 5)

    def stage(w, tag, rows):
        os.makedirs(w.staging, exist_ok=True)
        p = os.path.join(w.staging, f"{tag}.parquet")
        _write_cells_file(p, rows)
        return p

    b5 = [("k1", "measurements", "pressure", T, enc(100))]
    b6 = [("k2", "measurements", "pressure", T, enc(200))]

    wa = BigtableStreamWriter(None, {"path": dest, **OPTS})
    wa.commit([_CellsWriteCommit(stage(wa, "a5", b5))], batchId=5)
    stage(wa, "a6", b6)  # batch 6 staged, never committed: driver dies here
    orphan = wa.staging
    assert os.path.isdir(orphan)

    def store_rows():
        out = []
        for f in sorted(os.listdir(dest)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(dest, f))
                out += list(zip(t.column("row_key").to_pylist(), t.column("value").to_pylist()))
        return sorted(out)

    want_b5 = [("k1", enc(100))]
    want_all = sorted(want_b5 + [("k2", enc(200))])
    assert store_rows() == want_b5  # uncommitted staging leaked nothing

    # restart: fresh writer (new uuid) replays batch 6 from the checkpoint
    wb = BigtableStreamWriter(None, {"path": dest, **OPTS})
    wb.commit([_CellsWriteCommit(stage(wb, "b6", b6))], batchId=6)
    assert store_rows() == want_all

    # crash after commit but before checkpoint ack: batch 6 replays again
    wc = BigtableStreamWriter(None, {"path": dest, **OPTS})
    wc.commit([_CellsWriteCommit(stage(wc, "c6", b6))], batchId=6)
    assert store_rows() == want_all  # no duplicate, no loss

    # manifest stayed consistent with the final file set
    m = read_manifest(dest)
    assert m is not None
    assert sorted(os.path.basename(s["file"]) for s in m) == sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet")
    )

    # the dead driver's staging is orphaned until TTL, then GC'd by the
    # next commit — live data untouched
    assert os.path.isdir(orphan)
    old = time.time() - BigtableStreamWriter.STAGING_ORPHAN_TTL_S - 10
    os.utime(orphan, (old, old))
    wd = BigtableStreamWriter(None, {"path": dest, **OPTS})
    wd.commit([_CellsWriteCommit(stage(wd, "d7", [("k3", "measurements", "pressure", T, enc(300))]))], batchId=7)
    assert not os.path.exists(orphan)
    assert store_rows() == sorted(want_all + [("k3", enc(300))])

    # and the stream reader replaying from offset zero sees exactly-once rows
    from datafusion_bigtable_spark.sources.datasource import BigtableStreamReader

    r = BigtableStreamReader(None, {"path": dest, **OPTS})
    rows = _collect(r, r.partitions(r.initialOffset(), r.latestOffset()))
    assert len(rows) == 3  # one pivoted row per key — exactly-once end to end


def test_stream_sink_checkpoint_restart_live(registered, cells_path, tmp_path):
    """r7: LIVE checkpoint recovery — stop a running stream→store pipeline,
    append more source data while it is down, restart a NEW query on the
    SAME checkpoint, and the destination must hold every source row exactly
    once (Spark's replay of any in-flight batch hits the sink's
    deterministic-name overwrite path; nothing duplicates, nothing drops)."""
    src_store = str(tmp_path / "restart_src")
    dest = str(tmp_path / "restart_dest")
    ckpt = str(tmp_path / "restart_ckpt")
    src = _write_initial(registered, cells_path, src_store)

    def start():
        stream = (
            registered.readStream.format("bigtable").options(path=src_store, **OPTS).load()
        )
        return (
            stream.writeStream.format("bigtable")
            .options(path=dest, checkpointLocation=ckpt, **OPTS)
            .outputMode("append")
            .start()
        )

    q1 = start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    # while the pipeline is DOWN: two more appends land in the source
    for minute in ("2021-03-05-1203", "2021-03-05-1204"):
        newer = src.filter(f"event_minute = '{minute}'").selectExpr(
            "region", "balloon_id", "event_minute",
            "_timestamp + INTERVAL 2 HOUR AS _timestamp", "pressure", "temperature",
        )
        newer.write.format("bigtable").options(path=src_store, **OPTS).mode("append").save()

    q2 = start()
    try:
        q2.processAllAvailable()
        back = registered.read.format("bigtable").options(path=dest, **OPTS).load()
        src_now = registered.read.format("bigtable").options(path=src_store, **OPTS).load()
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src_now.collect()))
        assert back.count() == 7  # 5 original + 2 caught up, exactly once
    finally:
        q2.stop()


# --- compaction under a live tail (VERDICT r11 #8) ----------------------------


def test_compaction_under_live_tail_fails_loud_not_duplicates(registered, cells_path, tmp_path):
    """compact_cells_store renames every file the stream's offsets refer
    to.  Exactly-once pickup therefore CANNOT continue from the same
    checkpoint — and the source must say so, not silently re-emit the
    compacted store as duplicates."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from datafusion_bigtable_spark.sources.cells import compact_cells_store, read_compaction_epoch

    dest = str(tmp_path / "compact_tail_store")
    src = _write_initial(registered, cells_path, dest)
    assert read_compaction_epoch(dest) == 0

    stream = registered.readStream.format("bigtable").options(path=dest, **OPTS).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("t_bt_compact_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert registered.table("t_bt_compact_tail").count() == 5

        compact_cells_store(registered, dest, num_ranges=2)
        assert read_compaction_epoch(dest) == 1
        # an append AFTER the compaction makes latestOffset advance, so
        # the next micro-batch actually plans — and must fail loud
        src.limit(1).selectExpr(
            "region", "balloon_id", "event_minute",
            "_timestamp + INTERVAL 2 HOUR AS _timestamp", "pressure", "temperature",
        ).write.format("bigtable").options(path=dest, **OPTS).mode("append").save()
        with pytest.raises(StreamingQueryException, match="epoch"):
            q.processAllAvailable()
    finally:
        q.stop()

    # documented recovery: fresh checkpoint → the compacted store re-reads
    # EXACTLY ONCE (6 relational rows: 5 original + 1 appended)
    stream2 = registered.readStream.format("bigtable").options(path=dest, **OPTS).load()
    q2 = (
        stream2.writeStream.format("memory")
        .queryName("t_bt_compact_fresh")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .start()
    )
    try:
        q2.processAllAvailable()
        assert registered.table("t_bt_compact_fresh").count() == 6
    finally:
        q2.stop()


def test_replay_with_vanished_file_fails_loud(tmp_path, registered, cells_path):
    """A replayed offset naming a file that no longer exists (out-of-band
    rewrite, no epoch bump) must raise, never return a silently-empty
    batch."""
    dest = str(tmp_path / "vanish_store")
    _write_initial(registered, cells_path, dest)
    r = BigtableStreamReader(None, {"path": dest, **OPTS})
    end = r.latestOffset()
    with pytest.raises(RuntimeError, match="no longer in the store"):
        r.partitions({"files": {}, "epoch": 0}, {**end, "files": {**end["files"], "ghost.parquet": True}})


def test_version_gc_compaction_also_bumps_epoch(registered, cells_path, tmp_path):
    """compact_cells_store(versions=N) rewrites files exactly like the
    plain compaction — the epoch must bump on that path too, or a GC
    compaction under a live tail would silently duplicate."""
    from datafusion_bigtable_spark.sources.cells import compact_cells_store, read_compaction_epoch

    dest = str(tmp_path / "gc_epoch_store")
    _write_initial(registered, cells_path, dest)
    assert read_compaction_epoch(dest) == 0
    compact_cells_store(registered, dest, num_ranges=2, versions=1)
    assert read_compaction_epoch(dest) == 1
    compact_cells_store(registered, dest, num_ranges=2)
    assert read_compaction_epoch(dest) == 2  # monotone across both modes
