"""Write path: df.write.format("bigtable") — the reference's unshipped
"writes to Bigtable" roadmap item (README.md:46-49), as relational-rows →
cells unpivot + encode + manifest refresh."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow.parquet as pq
import pytest

from datafusion_bigtable_spark.sources import datasource as bt_ds
from datafusion_bigtable_spark.sources.cells import read_manifest


@pytest.fixture(scope="module")
def registered(spark):
    bt_ds.register(spark)
    return spark


def _opts(r, path, latest="true"):
    return (
        r.option("path", path)
        .option("column_family", "measurements")
        .option("columns", "pressure:int64,temperature:string")
        .option("table_partition_cols", "region,balloon_id,event_minute")
        .option("allow_full_scan", "true")
        .option("only_read_latest", latest)
    )


def _read(spark, path, **kw):
    return _opts(spark.read.format("bigtable"), path, **kw).load()


def test_write_round_trip(registered, cells_path, tmp_path):
    src = _read(registered, cells_path)
    dest = str(tmp_path / "written_store")
    _opts(src.write.format("bigtable"), dest).mode("append").save()

    back = _read(registered, dest)
    want = sorted(tuple(r) for r in src.collect())
    got = sorted(tuple(r) for r in back.collect())
    assert got == want
    # commit refreshed the manifest and cleaned staging
    assert read_manifest(dest) is not None
    assert not os.path.exists(os.path.join(dest, "_staging"))


def test_write_encodes_cells_exactly(registered, cells_path, tmp_path):
    dest = str(tmp_path / "enc_store")
    _opts(_read(registered, cells_path).write.format("bigtable"), dest).mode("append").save()
    files = glob.glob(os.path.join(dest, "*.parquet"))
    cells = pq.read_table(files).to_pylist()
    by_kq = {(c["row_key"], c["qualifier"]): c["value"] for c in cells}
    # big-endian int64 + utf-8, the inverse of the read kernel's decode
    assert by_kq[("us-west2#3698#2021-03-05-1200", "pressure")] == (94558).to_bytes(8, "big", signed=True)
    assert by_kq[("us-west2#3698#2021-03-05-1200", "temperature")] == b"9.6"
    # within-file ordering: sorted by row_key (reader's streaming contract)
    keys = [c["row_key"] for c in pq.read_table(files[0]).to_pylist()]
    assert keys == sorted(keys)


def test_overwrite_replaces_append_accumulates(registered, cells_path, tmp_path):
    dest = str(tmp_path / "ow_store")
    full = _read(registered, cells_path)
    _opts(full.write.format("bigtable"), dest).mode("append").save()
    one = full.filter("event_minute = '2021-03-05-1200'")
    _opts(one.write.format("bigtable"), dest).mode("overwrite").save()
    assert _read(registered, dest).count() == 1

    # append a NEWER version of the same cell → latest view flips to it
    newer = one.selectExpr(
        "region", "balloon_id", "event_minute",
        "_timestamp + INTERVAL 1 SECOND AS _timestamp",
        "CAST(99999 AS BIGINT) AS pressure", "temperature",
    )
    _opts(newer.write.format("bigtable"), dest).mode("append").save()
    rows = _read(registered, dest).collect()
    assert len(rows) == 1
    assert rows[0].pressure == 99999
    assert rows[0]._timestamp == dt.datetime(2021, 3, 5, 12, 0, 6, 100000)
    # unnest view still sees both versions
    assert _read(registered, dest, latest="false").count() == 2


def test_null_values_write_no_cell(registered, cells_path, tmp_path):
    dest = str(tmp_path / "null_store")
    src = _read(registered, cells_path).filter("event_minute = '2021-03-05-1200'")
    nulled = src.selectExpr(
        "region", "balloon_id", "event_minute", "_timestamp",
        "CAST(NULL AS BIGINT) AS pressure", "temperature",
    )
    _opts(nulled.write.format("bigtable"), dest).mode("append").save()
    cells = pq.read_table(glob.glob(os.path.join(dest, "*.parquet"))).to_pylist()
    assert [c["qualifier"] for c in cells] == ["temperature"]  # no pressure cell
    row = _read(registered, dest).collect()[0]
    assert row.pressure is None and row.temperature == "9.6"


def test_append_with_empty_task_partitions(registered, cells_path, tmp_path):
    """A task whose partition holds no rows still answers with a commit
    message (Spark rejects None), and commit skips it: one row spread over
    two tasks appends one file.  (A DataFrame with no rows at all is
    appended by ``test_empty_store_reads_return_no_rows``.)"""
    src = _read(registered, cells_path).filter("event_minute = '2021-03-05-1200'")
    dest = str(tmp_path / "sparse_store")
    _opts(src.repartition(2).write.format("bigtable"), dest).mode("append").save()
    assert [tuple(r) for r in _read(registered, dest).collect()] == [tuple(r) for r in src.collect()]
    assert len(glob.glob(os.path.join(dest, "*.parquet"))) == 1


@pytest.mark.parametrize("make_empty", ["write_manifest", "empty_append"])
def test_empty_store_reads_return_no_rows(registered, cells_path, tmp_path, make_empty):
    """A store whose valid manifest lists no files plans one partition that
    scans nothing: a key-pruned lookup and a full scan both return [] with
    the declared schema."""
    from datafusion_bigtable_spark.sources.cells import write_manifest

    dest = str(tmp_path / "empty_store")
    if make_empty == "write_manifest":
        os.makedirs(dest)
        write_manifest(dest)
    else:
        src = _read(registered, cells_path).limit(0)
        _opts(src.write.format("bigtable"), dest).mode("append").save()
    assert read_manifest(dest) == []

    declared = _read(registered, cells_path).schema
    full = _read(registered, dest)
    lookup = _opts(registered.read.format("bigtable"), dest).option("allow_full_scan", "false").load().filter(
        "region = 'us-west2' AND balloon_id = '3698' AND event_minute = '2021-03-05-1200'"
    )
    for df in (lookup, full):
        assert df.schema == declared
        assert df.collect() == []


def test_key_disjoint_groups_unit():
    from datafusion_bigtable_spark.sources.datasource import _key_disjoint_groups

    st = lambda f, lo, hi: {"file": f, "min_key": lo, "max_key": hi}
    # disjoint → one group per file, order by key
    assert _key_disjoint_groups([st("b", "d", "f"), st("a", "a", "c")]) == [["a"], ["b"]]
    # overlapping pair merges; third stays alone
    assert _key_disjoint_groups(
        [st("x", "a", "m"), st("y", "k", "p"), st("z", "q", "z")]
    ) == [["x", "y"], ["z"]]
    # chained overlap is transitive
    assert _key_disjoint_groups(
        [st("1", "a", "c"), st("2", "b", "e"), st("3", "d", "g")]
    ) == [["1", "2", "3"]]
    # unknown bounds → single conservative group
    assert _key_disjoint_groups([st("a", None, None), st("b", "a", "b")]) == [["a", "b"]]


MIB = 1024 * 1024


def test_pack_groups_keeps_groups_whole_and_in_order():
    from datafusion_bigtable_spark.sources.datasource import _pack_groups

    groups = [["a"], ["b", "c"], ["d"], ["e", "f", "g"]]
    sizes = {f: 10 * MIB for g in groups for f in g}
    parts = _pack_groups(groups, sizes)
    assert [g for part in parts for g in part] == groups
    assert len(parts) == 1  # 7 files x (10 + 4) MiB fit in 128 MiB


def test_pack_groups_splits_at_the_cap():
    from datafusion_bigtable_spark.sources.datasource import _pack_groups

    # every file costs 1 byte plus the open cost (a 32nd of the cap): 32
    # fill one partition
    groups = [[f"f{i:02d}"] for i in range(33)]
    sizes = {g[0]: 1 for g in groups}
    assert [len(p) for p in _pack_groups(groups[:32], sizes)] == [32]
    parts = _pack_groups(groups, sizes)
    assert [len(p) for p in parts] == [32, 1]
    assert [g for part in parts for g in part] == groups


def test_pack_groups_oversized_group_stays_one_partition():
    from datafusion_bigtable_spark.sources.datasource import _pack_groups

    groups = [["small"], ["big1", "big2"], ["tail"]]
    sizes = {"small": MIB, "big1": 100 * MIB, "big2": 100 * MIB, "tail": MIB}
    assert _pack_groups(groups, sizes) == [[["small"]], [["big1", "big2"]], [["tail"]]]
    assert _pack_groups([["big1", "big2"]], sizes) == [[["big1", "big2"]]]
    assert _pack_groups([], {}) == []


def test_pack_groups_splits_per_core_in_key_order():
    from datafusion_bigtable_spark.sources.datasource import _pack_groups

    groups = [[f"f{i}"] for i in range(8)]
    sizes = {g[0]: MIB for g in groups}
    parts = _pack_groups(groups, sizes, cores=2)
    assert [len(p) for p in parts] == [4, 4]
    assert [g for part in parts for g in part] == groups
    parts = _pack_groups(groups, sizes, cores=3)
    assert [len(p) for p in parts] == [3, 3, 2]
    assert [g for part in parts for g in part] == groups


def test_pack_groups_split_size_floors_at_the_open_cost():
    from datafusion_bigtable_spark.sources.datasource import _pack_groups

    # 8 x (1 + 4) MiB / 32 cores is under the 4 MiB floor: a group a task
    groups = [[f"f{i}"] for i in range(8)]
    sizes = {g[0]: MIB for g in groups}
    assert _pack_groups(groups, sizes, cores=32) == [[g] for g in groups]


def test_pack_groups_cap_binds_over_the_per_core_share():
    from datafusion_bigtable_spark.sources.datasource import _pack_groups

    # 16 x (60 + 4) MiB / 2 cores = 512 MiB per core; the 128 MiB cap
    # still closes a partition after two files
    groups = [[f"f{i:02d}"] for i in range(16)]
    sizes = {g[0]: 60 * MIB for g in groups}
    assert [len(p) for p in _pack_groups(groups, sizes, cores=2)] == [2] * 8


def test_pack_groups_compares_file_bytes_not_open_cost():
    from datafusion_bigtable_spark.sources.datasource import _pack_groups

    # at the cap: 100 MiB + 4 MiB open cost, then 22 MiB of file bytes
    # fits in 128 MiB; with its open cost (130 MiB) it would not
    sizes = {"a": 100 * MIB, "b": 22 * MIB}
    assert _pack_groups([["a"], ["b"]], sizes) == [[["a"], ["b"]]]
    # per core: (5 + 5 + 5 + 6) MiB / 2 = 10.5 MiB; adding the fourth
    # file's open cost would spill it into a third partition
    sizes = {"a": MIB, "b": MIB, "c": MIB, "d": 2 * MIB}
    groups = [["a"], ["b"], ["c"], ["d"]]
    assert _pack_groups(groups, sizes, cores=2) == [[["a"], ["b"]], [["c"], ["d"]]]


def _cells_file(path, keys, ts, quals):
    import pyarrow as pa

    n = len(keys)
    pq.write_table(
        pa.table({
            "row_key": keys, "family": ["f"] * n, "qualifier": quals,
            "ts": pa.array(ts, pa.timestamp("us")),
            "value": pa.array([f"{k}@{t}".encode() for k, t in zip(keys, ts)], pa.binary()),
        }),
        path,
    )


def _split_store(store, n_files):
    """``n_files`` equal key-disjoint cells files; the full-scan options."""
    store.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    for i in range(n_files):
        keys = [f"k{i:02d}-{j:03d}" for j in range(50)]
        _cells_file(str(store / f"part-{i:02d}.parquet"), keys, [t0] * 50, ["p"] * 50)
    return {
        "path": str(store), "column_family": "f", "columns": "p:string,q:string",
        "allow_full_scan": "true",
    }


def test_full_scan_splits_across_the_session_cores(registered, tmp_path):
    """``register`` carries the session's core count to the planner: a full
    scan of 2N equal key-disjoint files at local[N] plans N partitions and
    returns the rows of the one-partition plan, in key order."""
    import pyarrow as pa

    from datafusion_bigtable_spark.sources.datasource import BigtableReader

    cores = registered.sparkContext.defaultParallelism
    if cores < 2:
        pytest.skip("one core plans one partition with or without the per-core term")
    opts = _split_store(tmp_path / "split_store", 2 * cores)
    df = registered.read.format("bigtable").options(**opts).load()
    assert df.rdd.getNumPartitions() == cores

    one = BigtableReader(None, opts)
    (part,) = one.partitions()
    want = pa.Table.from_batches(list(one.read(part))).to_pylist()
    assert len(want) == 100 * cores
    assert [r.asDict() for r in df.collect()] == want


def test_register_honours_leaf_node_default_parallelism(spark, tmp_path):
    """Spark's per-core term prefers ``spark.sql.leafNodeDefaultParallelism``
    to the core count; ``register`` snapshots it, and registering again
    after the setting changes picks up the new value."""
    opts = _split_store(tmp_path / "leaf_store", 6)
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "3")
    try:
        bt_ds.register(spark)
        df = spark.read.format("bigtable").options(**opts).load()
        assert df.rdd.getNumPartitions() == 3
        assert df.count() == 300
    finally:
        spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
        bt_ds.register(spark)
    from datafusion_bigtable_spark.sources.datasource import BigtableReader

    want = len(BigtableReader(None, opts, spark.sparkContext.defaultParallelism).partitions())
    assert spark.read.format("bigtable").options(**opts).load().rdd.getNumPartitions() == want


def test_packed_full_scan_streams_groups_through_one_carry(tmp_path):
    """One task scans three key-disjoint groups: a file whose row keys
    span row groups (streamed, carried), two key-overlapping files
    (materialised together) and a last file.  The rows equal the pivot of
    all cells at once, in (row_key, ts) order."""
    import pyarrow as pa

    from datafusion_bigtable_spark.sources.datasource import (
        CELL_COLUMNS,
        BigtableReader,
        _pivot_partition,
    )

    def cells(keys, ts, quals):
        n = len(keys)
        return pa.table({
            "row_key": keys, "family": ["f"] * n, "qualifier": quals,
            "ts": pa.array(ts, pa.timestamp("us")),
            "value": pa.array([f"{k}@{t}".encode() for k, t in zip(keys, ts)], pa.binary()),
        })

    store = tmp_path / "store"
    store.mkdir()
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    streamed = cells(
        ["a", "a", "a", "b", "b", "c"], [t0, t0, t1, t0, t1, t0], ["p", "q", "p", "p", "p", "q"]
    )
    pq.write_table(streamed, store / "part-0.parquet", row_group_size=2)
    pq.write_table(cells(["d", "f"], [t0, t0], ["p", "p"]), store / "part-1.parquet")
    pq.write_table(cells(["e", "f"], [t1, t1], ["q", "p"]), store / "part-2.parquet")
    pq.write_table(cells(["g"], [t1], ["q"]), store / "part-3.parquet")

    for latest in ("true", "false"):
        reader = BigtableReader(None, {
            "path": str(store), "column_family": "f", "columns": "p:string,q:string",
            "only_read_latest": latest, "allow_full_scan": "true",
        })
        (part,) = reader.partitions()
        assert [len(g) for g in part.groups] == [1, 2, 1]
        batches = list(reader.read(part))
        assert len(batches) > 3  # row-group chunks cut at key boundaries
        got = pa.Table.from_batches(batches).to_pylist()
        every = pa.concat_tables(pq.read_table(f) for f in sorted(store.glob("*.parquet")))
        (want,) = _pivot_partition(every.select(CELL_COLUMNS), reader.config)
        assert got == want.to_pylist()
        assert [r["_row_key"] for r in got] == sorted(r["_row_key"] for r in got)


def test_empty_cells_append_leaves_reads_and_plan_unchanged(registered, tmp_path):
    """An empty ``write_cells`` append leaves a part file with no rows and
    no row groups, so no key statistics.  It must not break the scan, nor
    merge every key-disjoint file into one partition: the full scan and a
    lookup return the rows, and plan the partitions, of the store without
    it."""
    from datafusion_bigtable_spark.sources.cells import CELLS_SCHEMA, write_cells

    t0 = dt.datetime(2024, 1, 1)
    cells = [(f"k{i:03d}", "f", "p", t0, f"v{i}".encode()) for i in range(40)]
    store = str(tmp_path / "store")
    write_cells(registered.createDataFrame(cells, CELLS_SCHEMA), store, num_ranges=4)
    opts = {"path": store, "column_family": "f", "columns": "p:string", "allow_full_scan": "true"}

    def reads():
        full = registered.read.format("bigtable").options(**opts).load()
        lookup = registered.read.format("bigtable").options(**opts).load().filter(
            "_row_key BETWEEN 'k010' AND 'k012'"
        )
        return full.rdd.getNumPartitions(), full.collect(), lookup.collect()

    before = reads()
    write_cells(registered.createDataFrame([], CELLS_SCHEMA), store, mode="append")
    empty = [f for f in glob.glob(os.path.join(store, "*.parquet")) if pq.read_metadata(f).num_rows == 0]
    assert empty, "the empty append wrote no zero-row file"
    assert reads() == before
    assert len(before[1]) == 40 and [r._row_key for r in before[2]] == ["k010", "k011", "k012"]
    assert before[0] == min(4, registered.sparkContext.defaultParallelism)


def _families_file(path, cells):
    """A cells file from ``(row_key, family, qualifier, value)`` tuples,
    one shared ts, written in the given order."""
    import pyarrow as pa

    pq.write_table(
        pa.table({
            "row_key": [c[0] for c in cells], "family": [c[1] for c in cells],
            "qualifier": [c[2] for c in cells],
            "ts": pa.array([dt.datetime(2024, 1, 1)] * len(cells), pa.timestamp("us")),
            "value": pa.array([c[3] for c in cells], pa.binary()),
        }),
        path,
    )


def test_scan_returns_only_the_configured_family(tmp_path):
    """A file holding two column families, in the writers' cell order:
    its footer cannot prove it holds one family, so the scan masks the
    other one; a file of the configured family alone needs no mask."""
    from datafusion_bigtable_spark.sources.datasource import BigtableReader, _file_facts

    store = tmp_path / "store"
    store.mkdir()
    _families_file(store / "part-0.parquet", [
        ("a", "f", "p", b"a-f"), ("a", "g", "p", b"a-g"), ("a", "g", "q", b"a-gq"),
        ("b", "g", "p", b"b-g"), ("c", "f", "q", b"c-f"),
    ])
    _families_file(store / "part-1.parquet", [("d", "f", "p", b"d-f")])
    assert _file_facts(str(store / "part-0.parquet"), "f")[1] is False
    assert _file_facts(str(store / "part-1.parquet"), "f")[1] is True

    reader = BigtableReader(None, {
        "path": str(store), "column_family": "f", "columns": "p:string,q:string",
        "allow_full_scan": "true",
    })
    rows = [r for p in reader.partitions() for b in reader.read(p) for r in b.to_pylist()]
    assert [(r["_row_key"], r["p"], r["q"]) for r in rows] == [
        ("a", "a-f", None), ("c", None, "c-f"), ("d", "d-f", None),
    ]


def test_row_key_spanning_two_files_of_one_ordered_run(tmp_path):
    """A packed partition whose files are key-sorted streams as ONE ordered
    run, even where a row key's cells continue from one file into the
    next: that row comes out once and complete, in key order."""
    import pyarrow as pa

    from datafusion_bigtable_spark.sources.datasource import BigtableReader, _scan_runs

    store = tmp_path / "store"
    store.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    _cells_file(str(store / "part-0.parquet"), ["a", "b"], [t0, t0], ["p", "p"])
    _cells_file(str(store / "part-1.parquet"), ["b", "c"], [t0, t0], ["q", "q"])
    _cells_file(str(store / "part-2.parquet"), ["d"], [t0], ["p"])
    reader = BigtableReader(None, {
        "path": str(store), "column_family": "f", "columns": "p:string,q:string",
        "allow_full_scan": "true",
    })
    (part,) = reader.partitions()
    assert [len(g) for g in part.groups] == [2, 1]
    runs = _scan_runs([list(g) for g in part.groups], "f")
    assert [(len(files), ordered) for files, ordered, _ in runs] == [(3, True)]
    rows = pa.Table.from_batches(list(reader.read(part))).to_pylist()
    at = "2024-01-01 00:00:00"
    assert [(r["_row_key"], r["p"], r["q"]) for r in rows] == [
        ("a", f"a@{at}", None), ("b", f"b@{at}", f"b@{at}"), ("c", None, f"c@{at}"), ("d", f"d@{at}", None),
    ]


def test_compaction_restores_disjoint_layout(registered, cells_path, tmp_path):
    """Appends overlap file key ranges (reader merges them into one
    key-disjoint group); compaction rewrites to disjoint sorted files and
    restores one group per file + the manifest."""
    from datafusion_bigtable_spark.sources.cells import compact_cells_store, read_manifest
    from datafusion_bigtable_spark.sources.datasource import BigtableReader

    dest = str(tmp_path / "compact_store")
    full = _read(registered, cells_path)
    _opts(full.write.format("bigtable"), dest).mode("append").save()
    # second append covers the same key range → overlapping files
    newer = full.selectExpr(
        "region", "balloon_id", "event_minute",
        "_timestamp + INTERVAL 1 HOUR AS _timestamp", "pressure", "temperature",
    )
    _opts(newer.write.format("bigtable"), dest).mode("append").save()

    def full_scan_groups():
        # the key-disjoint file groups the full scan plans (a small store
        # packs them all into one task; the groups are the layout)
        r = BigtableReader(None, {
            "path": dest, "column_family": "measurements",
            "columns": "pressure:int64,temperature:string",
            "table_partition_cols": "region,balloon_id,event_minute",
            "only_read_latest": "false",
            "allow_full_scan": "true",
        })
        return [g for p in r.partitions() for g in p.groups]

    assert len(full_scan_groups()) == 1  # overlap → one merged group
    before = sorted(tuple(r) for r in _read(registered, dest, latest="false").collect())

    compact_cells_store(registered, dest, num_ranges=4)
    assert len(full_scan_groups()) > 1  # disjoint again → one group per file
    assert read_manifest(dest) is not None
    after = sorted(tuple(r) for r in _read(registered, dest, latest="false").collect())
    assert after == before  # same logical content

    # versions=1 compaction garbage-collects old cell versions
    compact_cells_store(registered, dest, num_ranges=2, versions=1)
    rows = _read(registered, dest, latest="false").collect()
    assert len(rows) == 5  # only the newest version of each cell survives
    assert all(r.pressure is not None for r in rows)


def test_write_null_key_components(registered, cells_path, tmp_path):
    """Trailing-NULL key components round-trip as shorter keys; a NULL in
    the middle is unrepresentable and must error, not write 'None'."""
    import pyspark

    dest = str(tmp_path / "nullkey_store")
    src = _read(registered, cells_path).filter("event_minute = '2021-03-05-1200'")
    short = src.selectExpr(
        "region", "balloon_id", "CAST(NULL AS STRING) AS event_minute",
        "_timestamp", "pressure", "temperature",
    )
    _opts(short.write.format("bigtable"), dest).mode("append").save()
    import glob as g
    import pyarrow.parquet as pq

    keys = {c["row_key"] for c in pq.read_table(g.glob(os.path.join(dest, "*.parquet"))).to_pylist()}
    assert keys == {"us-west2#3698"}  # truncated, no "None"
    row = _read(registered, dest).collect()[0]
    assert (row.region, row.balloon_id, row.event_minute) == ("us-west2", "3698", None)

    bad = src.selectExpr(
        "region", "CAST(NULL AS STRING) AS balloon_id", "event_minute",
        "_timestamp", "pressure", "temperature",
    )
    with pytest.raises(Exception, match="NULL row-key component"):
        _opts(bad.write.format("bigtable"), str(tmp_path / "bad")).mode("append").save()


def test_as_of_past_gc_watermark_warns_or_raises(registered, cells_path, tmp_path):
    """Version-GC leaves a watermark; an as-of read bounded at or before it
    is best-effort (warns) or, under strict_as_of, refuses (raises) — the
    loud-failure stance for time travel into garbage-collected history."""
    import warnings

    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
    from datafusion_bigtable_spark.sources.bigtable_table import (
        BigtableTable,
        GCWatermarkError,
        GCWatermarkWarning,
    )
    from datafusion_bigtable_spark.sources.cells import (
        compact_cells_store,
        read_gc_watermark_us,
    )

    dest = str(tmp_path / "gc_strict_store")
    full = _read(registered, cells_path)
    _opts(full.write.format("bigtable"), dest).mode("append").save()
    newer = full.selectExpr(
        "region", "balloon_id", "event_minute",
        "_timestamp + INTERVAL 1 HOUR AS _timestamp", "pressure", "temperature",
    )
    _opts(newer.write.format("bigtable"), dest).mode("append").save()
    compact_cells_store(registered, dest, num_ranges=2, versions=1)
    wm = read_gc_watermark_us(dest)
    assert wm is not None

    cfg = BigtableTableConfig(
        table="gc_strict",
        column_family="measurements",
        columns=(ColumnSpec("pressure", "int64"), ColumnSpec("temperature", "string")),
        table_partition_cols=("region", "balloon_id", "event_minute"),
        only_read_latest=True,
        cells_path=dest,
        allow_full_scan=True,
    )
    table = BigtableTable(cfg)
    past = dt.datetime(2021, 3, 5, 12, 2, 0)  # before the GC'd versions' max ts

    # default: warn, return best-effort snapshot
    with pytest.warns(GCWatermarkWarning, match="GC watermark"):
        df = table.to_df(registered, as_of=past)
    df.collect()  # still executable

    # strict: refuse
    with pytest.raises(GCWatermarkError, match="GC watermark"):
        table.to_df(registered, as_of=past, strict_as_of=True)

    # a bound safely after the watermark is silent in both modes
    future = dt.datetime(2022, 1, 1)
    with warnings.catch_warnings():
        warnings.simplefilter("error", GCWatermarkWarning)
        table.to_df(registered, as_of=future, strict_as_of=True).collect()
