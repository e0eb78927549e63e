"""End-to-end tests for the Python Data Source connector path
(spark.read.format("bigtable")) — the same golden data as the reference's
integration tests, but through Spark's DSv2 pushdown machinery."""

from __future__ import annotations

import datetime as dt

import pytest

from datafusion_bigtable_spark.sources import datasource as bt_ds

TS0 = dt.datetime(2021, 3, 5, 12, 0, 5, 100000)


@pytest.fixture(scope="module")
def registered(spark):
    bt_ds.register(spark)
    return spark


def _reader(spark, cells_path, **overrides):
    opts = dict(
        path=cells_path,
        column_family="measurements",
        columns="pressure:int64,temperature:string",
        table_partition_cols="region,balloon_id,event_minute",
        allow_full_scan="true",
    )
    opts.update(overrides)
    r = spark.read.format("bigtable")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_full_scan_schema_and_rows(registered, cells_path):
    df = _reader(registered, cells_path)
    assert df.columns == ["region", "balloon_id", "event_minute", "_timestamp", "pressure", "temperature"]
    rows = df.orderBy("_timestamp").collect()
    assert len(rows) == 5
    assert rows[0].region == "us-west2"
    assert rows[0].pressure == 94558
    assert rows[0].temperature == "9.6"
    assert rows[0]._timestamp == TS0


def test_pushdown_eq(registered, cells_path):
    df = _reader(registered, cells_path).filter(
        "region = 'us-west2' AND balloon_id = '3698' AND event_minute = '2021-03-05-1200'"
    )
    rows = df.collect()
    assert [(r.event_minute, r.pressure) for r in rows] == [("2021-03-05-1200", 94558)]


def test_pushdown_between_parallel_partitions(registered, cells_path):
    df = _reader(registered, cells_path).filter(
        "region = 'us-west2' AND balloon_id IN ('3698', '9999') "
        "AND event_minute >= '2021-03-05-1200' AND event_minute <= '2021-03-05-1202'"
    )
    rows = df.orderBy("_timestamp").collect()
    assert [r.pressure for r in rows] == [94558, 94122, 95992]
    # two composed ranges, but the balloon 9999 range overlaps no file's
    # [min,max] row_key stats → file-level pruning drops it entirely
    assert df.rdd.getNumPartitions() == 1

    df2 = _reader(registered, cells_path).filter(
        "region = 'us-west2' AND balloon_id = '3698' "
        "AND event_minute IN ('2021-03-05-1200', '2021-03-05-1201')"
    )
    # two point ranges, both inside the single file → one partition that
    # carries both ranges (the file is read once, filtered by their OR)
    assert df2.rdd.getNumPartitions() == 1
    assert sorted(r.pressure for r in df2.collect()) == [94122, 94558]


def test_simple_key_single_component(registered, cells_path):
    df = _reader(registered, cells_path, table_partition_cols="_row_key").filter(
        "_row_key = 'us-west2#3698#2021-03-05-1201'"
    )
    rows = df.collect()
    assert [(r._row_key, r.pressure, r.temperature) for r in rows] == [
        ("us-west2#3698#2021-03-05-1201", 94122, "9.7")
    ]


def test_residual_filter_reapplied_above_scan(registered, cells_path):
    # Inexact semantics: a non-key predicate must still filter results even
    # though the source claims nothing.
    df = _reader(registered, cells_path).filter("pressure > 95000")
    assert sorted(r.pressure for r in df.collect()) == [95992, 96021, 96025]


def test_full_scan_refused_when_disallowed(registered, cells_path):
    df = _reader(registered, cells_path, allow_full_scan="false")
    with pytest.raises(Exception, match="filter is not provided or not supported"):
        df.collect()


def test_full_scan_refused_by_default(registered, cells_path):
    """r7: the DEFAULT matches the reference's refusal posture
    (composer.rs:72-77) — an unfiltered scan with no allow_full_scan
    opt-in raises; at 100 TB an accidental full scan is an outage.
    (_reader's default opts opt in, so build the options by hand.)"""
    df = (
        registered.read.format("bigtable")
        .option("path", cells_path)
        .option("column_family", "measurements")
        .option("columns", "pressure:int64,temperature:string")
        .option("table_partition_cols", "region,balloon_id,event_minute")
        .load()
    )
    with pytest.raises(Exception, match="filter is not provided or not supported"):
        df.collect()
    # key-pruned reads need no opt-in
    pruned = (
        registered.read.format("bigtable")
        .option("path", cells_path)
        .option("column_family", "measurements")
        .option("columns", "pressure:int64,temperature:string")
        .option("table_partition_cols", "region,balloon_id,event_minute")
        .load()
        .filter("region = 'us-west2' AND balloon_id = '3698' AND event_minute = '2021-03-05-1200'")
    )
    assert pruned.count() == 1


def test_fresh_load_per_predicate_set_is_clean(registered, cells_path):
    """Upstream caveat (see sources/datasource.py docstring): Spark caches
    the planned scan per load() handle.  Fresh load() handles per predicate
    set must be independent — pruned then full on separate handles."""
    pruned = _reader(registered, cells_path).filter(
        "region = 'us-west2' AND balloon_id = '3698' AND event_minute = '2021-03-05-1200'"
    )
    assert pruned.count() == 1
    full = _reader(registered, cells_path)
    assert full.count() == 5


def test_datasource_version_unnest(registered, tmp_path, spark):
    """Multi-version cells through the DS reader: only_read_latest=false
    yields one row per (row_key, ts); =true applies the per-column limit
    (same semantics as the DataFrame path, tests/test_versions.py)."""
    import datetime as dt

    from datafusion_bigtable_spark.sources.cells import CELLS_SCHEMA

    T0, T1 = dt.datetime(2021, 1, 1), dt.datetime(2021, 1, 1, 0, 0, 1)
    cells = [
        ("k1", "f", "p", T0, (100).to_bytes(8, "big", signed=True)),
        ("k1", "f", "p", T1, (101).to_bytes(8, "big", signed=True)),
        ("k1", "f", "t", T1, b"a"),
    ]
    path = str(tmp_path / "vcells.parquet")
    spark.createDataFrame(cells, CELLS_SCHEMA).coalesce(1).write.parquet(path)

    def rd(latest):
        return (
            registered.read.format("bigtable")
            .option("path", path)
            .option("column_family", "f")
            .option("columns", "p:int64,t:string")
            .option("table_partition_cols", "_row_key")
            .option("allow_full_scan", "true")
            .option("only_read_latest", latest)
            .load()
        )

    allv = {(r._row_key, r._timestamp): (r.p, r.t) for r in rd("false").collect()}
    assert allv == {("k1", T0): (100, None), ("k1", T1): (101, "a")}
    latest = {(r._row_key, r._timestamp): (r.p, r.t) for r in rd("true").collect()}
    assert latest == {("k1", T1): (101, "a")}


def test_overlapping_predicates_no_duplicate_rows(registered, cells_path):
    """Review finding: a tail point value inside a tail BETWEEN composed
    two overlapping ranges → duplicated rows.  Ranges now merge."""
    df = _reader(registered, cells_path, table_partition_cols="_row_key").filter(
        "_row_key IN ('us-west2#3698#2021-03-05-1200', 'us-west2#3698#2021-03-05-1201') "
        "AND _row_key >= 'us-west2#3698#2021-03-05-1200' "
        "AND _row_key <= 'us-west2#3698#2021-03-05-1204'"
    )
    rows = df.collect()
    assert len(rows) == 2
    assert len({r._row_key for r in rows}) == 2


def test_null_cell_values_through_datasource(registered, tmp_path, spark):
    """Review finding: pandas groupby().last()/pivot_table() skip NaN —
    a NULL latest cell resurrected the older value under the new
    timestamp, and an all-NULL row vanished.  Must match the declarative
    path: NULL stays NULL, rows persist."""
    import datetime as dt

    from datafusion_bigtable_spark.sources.cells import CELLS_SCHEMA

    T0, T1 = dt.datetime(2021, 1, 1), dt.datetime(2021, 1, 1, 0, 0, 1)
    cells = [
        ("k1", "f", "p", T0, b"old"),
        ("k1", "f", "p", T1, None),  # latest version is NULL
        ("k2", "f", "p", T0, None),  # only cell is NULL
    ]
    path = str(tmp_path / "nullcells.parquet")
    spark.createDataFrame(cells, CELLS_SCHEMA).coalesce(1).write.parquet(path)
    df = (
        registered.read.format("bigtable")
        .option("path", path)
        .option("column_family", "f")
        .option("columns", "p:string")
        .option("table_partition_cols", "_row_key")
        .option("allow_full_scan", "true")
        .load()
    )
    got = {(r._row_key, r._timestamp): r.p for r in df.collect()}
    assert got == {("k1", T1): None, ("k2", T0): None}


def _write_cells_pa(path, rows, row_group_size):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "row_key": [r[0] for r in rows],
            "family": [r[1] for r in rows],
            "qualifier": [r[2] for r in rows],
            "ts": pa.array([r[3] for r in rows], type=pa.timestamp("us")),
            "value": pa.array([r[4] for r in rows], type=pa.binary()),
        }
    )
    pq.write_table(table, path, row_group_size=row_group_size)


def _many_cells(n):
    import datetime as dt

    t0 = dt.datetime(2021, 1, 1)
    rows = []
    for i in range(n):
        key = f"k{i:05d}"
        rows.append((key, "f", "a", t0, f"a{i}".encode()))
        rows.append((key, "f", "b", t0, f"b{i}".encode()))
    return rows


def test_streaming_read_multi_rowgroup_carry_over(registered, tmp_path):
    """Sorted store with many tiny row groups: the bounded-memory streaming
    path must flush complete row keys per batch and carry boundary keys —
    same output as a whole-partition pivot."""
    path = str(tmp_path / "sorted_cells.parquet")
    _write_cells_pa(path, _many_cells(500), row_group_size=37)  # keys split across groups
    df = (
        registered.read.format("bigtable")
        .option("path", path)
        .option("column_family", "f")
        .option("columns", "a:string,b:string")
        .option("table_partition_cols", "_row_key")
        .option("allow_full_scan", "true")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 500
    got = {r._row_key: (r.a, r.b) for r in rows}
    assert got["k00000"] == ("a0", "b0") and got["k00499"] == ("a499", "b499")


def test_unsorted_store_falls_back_correctly(registered, tmp_path):
    """Unsorted store (overlapping row-group stats): streaming is unsafe,
    the reader must materialize — and still produce correct results."""
    import random

    rows = _many_cells(200)
    random.Random(7).shuffle(rows)
    path = str(tmp_path / "unsorted_cells.parquet")
    _write_cells_pa(path, rows, row_group_size=31)
    df = (
        registered.read.format("bigtable")
        .option("path", path)
        .option("column_family", "f")
        .option("columns", "a:string,b:string")
        .option("table_partition_cols", "_row_key")
        .option("allow_full_scan", "true")
        .load()
    )
    rows_out = df.collect()
    assert len(rows_out) == 200
    assert {r._row_key for r in rows_out} == {f"k{i:05d}" for i in range(200)}


def test_scan_reuse_warns_loudly(cells_path):
    # ADVICE r1: convention-only mitigation of the Spark 4.1 scan-cache
    # hazard → now also a loud ScanReuseWarning when a handle that planned a
    # pruned scan replans without freshly-pushed filters.
    import warnings

    from datafusion_bigtable_spark.plans.composer import KeyRange

    reader = bt_ds.BigtableReader(
        None,
        {
            "path": cells_path,
            "column_family": "measurements",
            "columns": "pressure:int64,temperature:string",
            "allow_full_scan": "true",
        },
    )
    reader.ranges = [KeyRange("a", "b")]
    reader._pushed_since_last_plan = True
    with warnings.catch_warnings():
        warnings.simplefilter("error", bt_ds.ScanReuseWarning)
        reader.partitions()  # pruned plan, filters were pushed: fine
    with pytest.warns(bt_ds.ScanReuseWarning):
        reader.partitions()  # replanned with no pushFilters since: loud


# --- source-side limit (reference ignores limit, src/datasource.rs:140-148) --


def test_rows_limit_caps_output(registered, cells_path):
    df = _reader(registered, cells_path, rows_limit="2").filter(
        "region = 'us-west2' AND balloon_id = '3698' "
        "AND event_minute >= '2021-03-05-1200' AND event_minute <= '2021-03-05-1204'"
    )
    rows = df.collect()
    # one composed range → one partition → the cap is global; the store is
    # key-sorted so the 2 smallest keys survive deterministically
    assert [(r.event_minute, r.pressure) for r in sorted(rows, key=lambda r: r.event_minute)] == [
        ("2021-03-05-1200", 94558),
        ("2021-03-05-1201", 94122),
    ]


def test_rows_limit_stops_pulling_batches(tmp_path):
    """The cap must abandon the parquet batch stream, not just truncate the
    result: with ~5 Arrow batches of cells in range, rows_limit=10 should
    consume a single pivoted batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_bigtable_spark.sources.datasource import BigtableReader, FilePartition

    n = 300_000
    keys = [f"k{i:07d}" for i in range(n)]
    table = pa.table(
        {
            "row_key": keys,
            "family": ["f"] * n,
            "qualifier": ["v"] * n,
            "ts": pa.array([0] * n, type=pa.timestamp("us")),
            "value": pa.array([b"x"] * n, type=pa.binary()),
        }
    )
    path = str(tmp_path / "big_cells.parquet")
    pq.write_table(table, path)

    def mk_reader(limit):
        opts = {
            "path": path,
            "column_family": "f",
            "columns": "v:string",
            "table_partition_cols": "_row_key",
        }
        if limit:
            opts["rows_limit"] = str(limit)
        return BigtableReader(None, opts)

    span = (("k0000000", "k9999999"),)
    part = FilePartition(((path,),), span)

    full_batches = list(mk_reader(None).read(part))
    assert sum(b.num_rows for b in full_batches) == n
    assert len(full_batches) >= 4  # the stream really is multiple batches

    # the cap travels on the partition (validated per-plan, see
    # partitions()): a planner-attached rows_cap stops the stream
    reader = mk_reader(10)
    capped_part = FilePartition(((path,),), span, rows_cap=10)
    seen = []
    gen = reader.read(capped_part)
    for b in gen:
        seen.append(b)
    assert sum(b.num_rows for b in seen) == 10
    assert len(seen) == 1  # stopped after the first pivoted batch


def _key_cells_file(path, keys):
    """A cells file of one ``v`` cell per key, in the writers' order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = sorted(keys)
    pq.write_table(
        pa.table({
            "row_key": keys, "family": ["f"] * len(keys), "qualifier": ["v"] * len(keys),
            "ts": pa.array([TS0] * len(keys), pa.timestamp("us")),
            "value": pa.array([k.encode() for k in keys], pa.binary()),
        }),
        path,
    )
    return path


def test_in_list_of_64_keys_plans_one_partition(registered, tmp_path):
    """A 64-key ``IN`` whose keys lie in one file is one scan task, with
    exactly the rows of the equivalent ``BETWEEN``."""
    store = tmp_path / "one_file"
    store.mkdir()
    _key_cells_file(
        str(store / "part-0.parquet"),
        [f"r#b#m{i:03d}" for i in range(100)] + [f"r#c#m{i:03d}" for i in range(10)],
    )
    minutes = [f"m{i:03d}" for i in range(20, 84)]

    def lookup(tail):
        return (
            registered.read.format("bigtable")
            .options(path=str(store), column_family="f", columns="v:string",
                     table_partition_cols="region,balloon_id,event_minute")
            .load()
            .filter(f"region = 'r' AND balloon_id = 'b' AND {tail}")
        )

    in_list = lookup("event_minute IN (" + ", ".join(f"'{m}'" for m in minutes) + ")")
    between = lookup(f"event_minute BETWEEN '{minutes[0]}' AND '{minutes[-1]}'")
    assert in_list.rdd.getNumPartitions() == between.rdd.getNumPartitions() == 1
    rows = sorted(tuple(r) for r in in_list.collect())
    assert rows == sorted(tuple(r) for r in between.collect())
    assert [r[2] for r in rows] == minutes


def _two_file_reader(tmp_path):
    from datafusion_bigtable_spark.sources.datasource import BigtableReader

    store = tmp_path / "two_files"
    store.mkdir()
    files = [
        _key_cells_file(str(store / "part-0.parquet"), [f"k{i:02d}" for i in range(10)]),
        _key_cells_file(str(store / "part-1.parquet"), [f"k{i:02d}" for i in range(10, 20)]),
    ]
    opts = {"path": str(store), "column_family": "f", "columns": "v:string"}
    return BigtableReader(None, opts), files


def test_ranges_over_an_ordered_run_return_only_their_rows(tmp_path):
    """One partition, two ranges, two key-sorted files read as ONE ordered
    run: only the in-range rows come out, in key order, and a rows cap
    stops the stream at its first batch."""
    from datafusion_bigtable_spark.sources.datasource import FilePartition, _scan_runs

    reader, files = _two_file_reader(tmp_path)
    groups = tuple((f,) for f in files)
    assert [(len(f), ordered) for f, ordered, _ in _scan_runs([list(g) for g in groups], "f")] == [
        (2, True)
    ]
    ranges = (("k03", "k05"), ("k12", "k12"))
    rows = [r["_row_key"] for b in reader.read(FilePartition(groups, ranges)) for r in b.to_pylist()]
    assert rows == ["k03", "k04", "k05", "k12"]

    capped = list(reader.read(FilePartition(groups, ranges, rows_cap=2)))
    assert len(capped) == 1 and [r["_row_key"] for r in capped[0].to_pylist()] == ["k03", "k04"]


def test_range_between_two_groups_plans_no_file(tmp_path):
    """A range that falls between two files' key spans selects neither;
    next to ranges that do select them, each task gets only the ranges
    that overlap its own files."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from datafusion_bigtable_spark.sources.datasource import FilePartition, _plan_files

    reader, files = _two_file_reader(tmp_path)
    list(reader.pushFilters([
        GreaterThanOrEqual(("_row_key",), "k095"), LessThanOrEqual(("_row_key",), "k099"),
    ]))
    assert reader.partitions() == [FilePartition(())]

    stats = reader._file_stats()
    ranges = [("k01", "k01"), ("k095", "k099"), ("k15", "k15")]
    (one,) = _plan_files(stats, ranges)
    assert one.files == tuple(files)
    assert one.ranges == (("k01", "k01"), ("k15", "k15"))
    # two cores: one task per file, each with its own range
    two = _plan_files(stats, ranges, cores=2)
    assert [(p.files, p.ranges) for p in two] == [
        ((files[0],), (("k01", "k01"),)), ((files[1],), (("k15", "k15"),)),
    ]


def test_rows_limit_disabled_for_residual_filters(registered, cells_path):
    """rows_limit + a predicate not exactly enforced in-scan (strict
    _timestamp bound, widened to inclusive under the Inexact contract)
    must NOT cap the scan — otherwise rows consumed by the cap get dropped
    above and matching rows are silently abandoned."""
    df = _reader(
        registered, cells_path, rows_limit="1", only_read_latest="false"
    ).filter(
        "region = 'us-west2' AND balloon_id = '3698' "
        "AND event_minute >= '2021-03-05-1200' AND event_minute <= '2021-03-05-1204' "
        "AND _timestamp > TIMESTAMP '2021-03-05 12:00:06'"
    )
    rows = df.collect()
    # every event minute after 12:00:06 must be present: the unsafe cap
    # would have kept only the first raw row (ts 12:00:05, then dropped)
    assert sorted(r.event_minute for r in rows) == [
        "2021-03-05-1201",
        "2021-03-05-1202",
        "2021-03-05-1203",
        "2021-03-05-1204",
    ]


def test_filters_exactly_absorbed_rules():
    from dataclasses import dataclass as dc

    from datafusion_bigtable_spark.sources.datasource import BigtableReader

    @dc
    class EqualTo:
        attribute: tuple
        value: object

    @dc
    class GreaterThanOrEqual:
        attribute: tuple
        value: object

    @dc
    class LessThanOrEqual:
        attribute: tuple
        value: object

    @dc
    class IsNull:
        attribute: tuple

    @dc
    class IsNotNull:
        attribute: tuple

    ok = BigtableReader._filters_exactly_absorbed
    pcols = ("a", "b")
    assert ok([EqualTo(("a",), "x")], pcols)
    assert ok([EqualTo(("a",), "x"), GreaterThanOrEqual(("b",), "1"), LessThanOrEqual(("b",), "9")], pcols)
    # Catalyst's companion IsNotNull on a constrained key component is exact
    assert ok([IsNotNull(("a",)), EqualTo(("a",), "x")], pcols)
    # … but IsNotNull on an UNconstrained component is a real residual
    # (truncated stored keys split to NULL tails)
    assert not ok([IsNotNull(("b",)), EqualTo(("a",), "x")], pcols)
    # lone bound on the tail is never recombined into BETWEEN → residual
    assert not ok([EqualTo(("a",), "x"), GreaterThanOrEqual(("b",), "1")], pcols)
    # range on a NON-tail component is residual
    assert not ok([GreaterThanOrEqual(("a",), "1"), LessThanOrEqual(("a",), "9")], pcols)
    # non-string literal → composer ignores it → residual
    assert not ok([EqualTo(("a",), 7)], pcols)
    # non-key predicate → residual
    assert not ok([EqualTo(("a",), "x"), IsNull(("v",))], pcols)


def test_value_contains_and_endswith_pushdown(registered, cells_path):
    """LIKE '%infix%' / '%suffix' reach the scan as byte substring/suffix
    cell predicates (unnest-gated like every value filter) and return
    exactly the re-filtered rows."""
    df = _reader(registered, cells_path, only_read_latest="false").filter(
        "temperature LIKE '%.6'"
    )
    assert sorted(r.event_minute for r in df.collect()) == [
        "2021-03-05-1200",
        "2021-03-05-1204",
    ]
    df2 = _reader(registered, cells_path, only_read_latest="false").filter(
        "temperature LIKE '%9.%'"
    )
    assert df2.count() == 5


def test_value_predicate_translation_rules():
    from dataclasses import dataclass as dc

    from datafusion_bigtable_spark.sources.datasource import BigtableReader

    @dc
    class StringStartsWith:
        attribute: tuple
        value: str

    @dc
    class StringContains:
        attribute: tuple
        value: str

    @dc
    class StringEndsWith:
        attribute: tuple
        value: str

    reader = BigtableReader(
        None,
        {
            "path": "/nonexistent",
            "column_family": "f",
            "columns": "s:string,n:int64",
            "table_partition_cols": "_row_key",
        },
    )
    preds = reader._value_predicates(
        [
            StringStartsWith(("s",), "a"),
            StringContains(("s",), "héllo"),   # non-ASCII contains: SAFE
            StringEndsWith(("s",), "fin"),
            StringStartsWith(("s",), "é"),     # non-ASCII prefix: byte order
                                               # != UTF-16 order → NOT pushed
            StringContains(("n",), "x"),       # non-string column → not pushed
        ]
    )
    assert preds == (("s", "sw", "a"), ("s", "ct", "héllo"), ("s", "ew", "fin"))


def test_rows_limit_disabled_for_tail_points_with_bounds(registered, cells_path):
    """Review finding (reproduced pre-fix): tail IN points + a bound pair
    are UNIONED by compose (deviation 2), so the scanned range is a
    superset of the conjunction — the cap must disable itself or it gets
    consumed by non-matching rows and real matches vanish."""
    df = _reader(registered, cells_path, table_partition_cols="_row_key", rows_limit="1").filter(
        "_row_key IN ('us-west2#3698#2021-03-05-1202', 'us-west2#3698#2021-03-05-1203') "
        "AND _row_key >= 'us-west2#3698#2021-03-05-1200' "
        "AND _row_key <= 'us-west2#3698#2021-03-05-1204'"
    )
    rows = df.collect()
    # the unsafe cap kept only the first raw row (…1200), which the
    # re-applied IN dropped → []; the gate must return both real matches
    assert sorted(r._row_key for r in rows) == [
        "us-west2#3698#2021-03-05-1202",
        "us-west2#3698#2021-03-05-1203",
    ]


def test_spark_scan_cache_canary(registered, cells_path):
    """r7 (VERDICT #8): CANARY for the Spark 4.1 Python-DS scan cache
    (module docstring "KNOWN UPSTREAM CAVEAT").  Today an unfiltered
    re-query of the SAME load() handle silently reuses the pruned scan and
    returns 1 row instead of 5 — the hazard ScanReuseWarning and the
    fresh-handle convention exist for.  If this test FAILS (second count
    == 5), upstream PySpark now replans correctly: retire the workaround
    deliberately — drop ScanReuseWarning, the _pushed_since_last_plan
    machinery, and the module-doc caveat — instead of letting them rot."""
    import warnings

    df = _reader(registered, cells_path)
    pruned = df.filter(
        "region = 'us-west2' AND balloon_id = '3698' AND event_minute = '2021-03-05-1200'"
    )
    assert pruned.count() == 1
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the workaround's own warning may fire
        stale = df.count()
    assert stale == 1, (
        f"unfiltered re-query returned {stale} rows — the upstream scan-cache "
        "bug appears FIXED; retire the ScanReuseWarning workaround"
    )


def test_to_df_frame_requeried_without_a_where_is_not_stale(spark, composite_config):
    """Unlike a bare load() handle (the canary above), a to_df frame may be
    queried with a key WHERE and then without one: the second query still
    sees every row."""
    from datafusion_bigtable_spark.sources.bigtable_table import BigtableTable

    df = BigtableTable(composite_config).to_df(spark)
    key = "region = 'us-west2' AND balloon_id = '3698' AND event_minute = '2021-03-05-1200'"
    assert df.filter(key).count() == 1
    assert df.count() == 5


def test_options_from_config_round_trips(simple_config, composite_config):
    import dataclasses

    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec

    configs = [
        simple_config,
        composite_config,
        dataclasses.replace(composite_config, only_read_latest=False),
        dataclasses.replace(
            composite_config,
            table_partition_separator="||",
            allow_full_scan=False,
            require_manifest=True,
        ),
        BigtableTableConfig(
            table="ints",
            column_family="f",
            columns=(ColumnSpec("v", "string"), ColumnSpec("n", "int64")),
            table_partition_cols=("tenant", "seq"),
            key_types=("int64", "int64"),
            cells_path="ints_store",
        ),
    ]
    for cfg in configs:
        assert bt_ds._config_from_options(bt_ds._options_from_config(cfg)) == cfg
