"""Manifest-table file stats + timestamp-range pushdown.

Covers VERDICT r1 #7 (manifest replaces the per-plan driver-side footer
loop) and #8 (ts-range pruning, the reference's unshipped roadmap item
README.md:46-49) — including the gating that keeps it correct under the
latest-version filter."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThanOrEqual

from datafusion_bigtable_spark.sources.cells import (
    CELLS_SCHEMA,
    MANIFEST_REL_PATH,
    read_manifest,
    write_manifest,
)
from datafusion_bigtable_spark.sources.datasource import BigtableReader, FilePartition

JAN = dt.datetime(2024, 1, 5)
FEB = dt.datetime(2024, 2, 5)


def _write_file(path, keys, ts, values):
    n = len(keys)
    pq.write_table(
        pa.table(
            {
                "row_key": keys,
                "family": ["f"] * n,
                "qualifier": ["q"] * n,
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "value": pa.array(values, type=pa.binary()),
            }
        ),
        path,
    )


@pytest.fixture()
def two_file_store(tmp_path):
    """File A: keys a*, all-January cells.  File B: keys b*, all-February."""
    store = tmp_path / "store"
    store.mkdir()
    _write_file(str(store / "part-a.parquet"), ["a1", "a2"], [JAN, JAN], [b"ja1", b"ja2"])
    _write_file(str(store / "part-b.parquet"), ["b1", "b2"], [FEB, FEB], [b"fb1", b"fb2"])
    return str(store)


def _reader(path, **overrides):
    opts = {
        "path": path,
        "column_family": "f",
        "columns": "q:string",
        "table_partition_cols": "_row_key",
        "only_read_latest": "false",
        "allow_full_scan": "true",
    }
    opts.update(overrides)
    return BigtableReader(None, opts)


# --- manifest --------------------------------------------------------------


def test_manifest_matches_footer_loop(two_file_store):
    r = _reader(two_file_store)
    footer_stats = r._file_stats()  # no manifest yet → footer loop
    assert read_manifest(two_file_store) is None
    write_manifest(two_file_store)
    manifest_stats = _reader(two_file_store)._file_stats()
    assert manifest_stats == footer_stats
    assert manifest_stats[0]["min_key"] == "a1"
    assert manifest_stats[1]["max_ts"] == FEB


def test_manifest_identical_pruning(two_file_store):
    # the point of VERDICT #7: planning decisions must be identical
    def plan():
        r = _reader(two_file_store)
        r.pushFilters([GreaterThanOrEqual(("_row_key",), "b"), LessThanOrEqual(("_row_key",), "c")])
        return [(p.ranges, p.files) for p in r.partitions()]

    before = plan()
    write_manifest(two_file_store)
    assert plan() == before
    assert before == [((("b", "c"),), (os.path.join(two_file_store, "part-b.parquet"),))]


def test_stale_manifest_ignored(two_file_store):
    write_manifest(two_file_store)
    assert read_manifest(two_file_store) is not None
    _write_file(os.path.join(two_file_store, "part-c.parquet"), ["c1"], [JAN], [b"x"])
    assert read_manifest(two_file_store) is None  # file set changed → fall back
    # and the reader still plans correctly from footers
    stats = _reader(two_file_store)._file_stats()
    assert len(stats) == 3


def test_full_scan_packs_by_manifest_file_sizes(two_file_store):
    # the manifest records each file's size, so packing a full scan needs
    # no per-plan stat of the store's files
    from datafusion_bigtable_spark.sources.datasource import _PACK_MAX_BYTES

    write_manifest(two_file_store)
    mpath = os.path.join(two_file_store, MANIFEST_REL_PATH)
    t = pq.read_table(mpath)
    files = [os.path.join(two_file_store, f) for f in t["file"].to_pylist()]
    assert t["bytes"].to_pylist() == [os.path.getsize(f) for f in files]
    (part,) = _reader(two_file_store).partitions()  # two small files, one task
    assert part.files == tuple(files)
    # sizes come from the manifest: at the cap, each file is a task
    at_cap = pa.array([_PACK_MAX_BYTES] * len(files), pa.int64())
    pq.write_table(t.set_column(t.schema.get_field_index("bytes"), "bytes", at_cap), mpath)
    assert [p.files for p in _reader(two_file_store).partitions()] == [(f,) for f in files]


def test_manifest_without_file_sizes_still_plans(two_file_store):
    # a manifest written before sizes were recorded stays usable
    write_manifest(two_file_store)
    mpath = os.path.join(two_file_store, MANIFEST_REL_PATH)
    pq.write_table(pq.read_table(mpath).drop_columns(["bytes"]), mpath)
    stats = read_manifest(two_file_store)
    assert [st["bytes"] for st in stats] == [os.path.getsize(st["file"]) for st in stats]
    (part,) = _reader(two_file_store, require_manifest="true").partitions()
    assert len(part.files) == 2


# --- ts-range pushdown -----------------------------------------------------


def test_ts_prunes_files_in_unnest_mode(two_file_store):
    r = _reader(two_file_store)
    r.pushFilters([GreaterThanOrEqual(("_timestamp",), dt.datetime(2024, 2, 1))])
    parts = r.partitions()
    assert [type(p) for p in parts] == [FilePartition]
    assert parts[0].files == tuple(f for f in parts[0].files if f.endswith("part-b.parquet"))
    assert parts[0].ts_lo == dt.datetime(2024, 2, 1)
    rows = [b for batch in r.read(parts[0]) for b in batch.to_pylist()]
    assert sorted(row["_row_key"] for row in rows) == ["b1", "b2"]


def test_ts_bounds_from_equal_to(two_file_store):
    r = _reader(two_file_store)
    r.pushFilters([EqualTo(("_timestamp",), JAN)])
    parts = r.partitions()
    assert len(parts) == 1 and list(parts[0].files)[0].endswith("part-a.parquet")
    assert (parts[0].ts_lo, parts[0].ts_hi) == (JAN, JAN)


def test_ts_bound_past_every_file_plans_an_empty_scan(two_file_store):
    from datafusion_bigtable_spark.sources.datasource import _arrow_schema

    r = _reader(two_file_store)
    r.pushFilters([GreaterThanOrEqual(("_timestamp",), dt.datetime(2025, 1, 1))])
    parts = r.partitions()
    assert parts == [FilePartition(())]
    (batch,) = r.read(parts[0])
    assert batch.num_rows == 0
    assert batch.schema == _arrow_schema(r.config)


def test_ts_pushdown_gated_under_latest_filter(two_file_store):
    r = _reader(two_file_store, only_read_latest="true")
    r.pushFilters([GreaterThanOrEqual(("_timestamp",), dt.datetime(2024, 2, 1))])
    parts = r.partitions()
    assert len([f for p in parts for f in p.files]) == 2  # nothing pruned
    assert all(p.ts_lo is None and p.ts_hi is None for p in parts)


def test_no_promotion_hazard_end_to_end(spark, tmp_path):
    """THE reason for the gate: key k has v1@Jan and v2@Feb.  A latest-
    version query filtered to January must return NOTHING (the latest
    version is February) — naive ts pushdown would resurrect v1."""
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    path = str(tmp_path / "vstore")
    os.mkdir(path)
    _write_file(os.path.join(path, "part-0.parquet"), ["k", "k"], [JAN, FEB], [b"v1", b"v2"])
    bt_ds.register(spark)

    def q(latest):
        return (
            spark.read.format("bigtable")
            .option("path", path)
            .option("column_family", "f")
            .option("columns", "q:string")
            .option("table_partition_cols", "_row_key")
            .option("only_read_latest", latest)
            .option("allow_full_scan", "true")
            .load()
            .filter(
                "_timestamp >= TIMESTAMP '2024-01-01 00:00:00' "
                "AND _timestamp <= TIMESTAMP '2024-01-31 00:00:00'"
            )
        )

    assert q("true").collect() == []  # latest is Feb → out of range → no row
    unnest = [(r._row_key, r.q) for r in q("false").collect()]
    assert unnest == [("k", "v1")]  # version-unnest mode sees the Jan version


# --- value pushdown --------------------------------------------------------


def _int_store(tmp_path, vals):
    store = tmp_path / "istore"
    store.mkdir()
    pq.write_table(
        pa.table(
            {
                "row_key": [f"k{i}" for i in range(len(vals))],
                "family": ["f"] * len(vals),
                "qualifier": ["p"] * len(vals),
                "ts": pa.array([JAN] * len(vals), type=pa.timestamp("us")),
                "value": pa.array(
                    [v.to_bytes(8, "big", signed=True) for v in vals], type=pa.binary()
                ),
            }
        ),
        str(store / "part-0.parquet"),
    )
    return str(store)


@pytest.mark.parametrize(
    "flt,expect",
    [
        ([GreaterThanOrEqual(("p",), -1)], [-1, 0, 3, 7]),
        ([GreaterThanOrEqual(("p",), 1)], [3, 7]),
        ([LessThanOrEqual(("p",), 0)], [-5, -1, 0]),
        ([LessThanOrEqual(("p",), -2)], [-5]),
        ([EqualTo(("p",), 3)], [3]),
        ([GreaterThanOrEqual(("p",), -3), LessThanOrEqual(("p",), 3)], [-1, 0, 3]),
    ],
)
def test_value_pushdown_signed_int64_order(tmp_path, flt, expect):
    """Two's-complement BE bytes sort negatives ABOVE positives; the
    pushed predicate must still select by NUMERIC order across signs."""
    store = _int_store(tmp_path, [-5, -1, 0, 3, 7])
    r = _reader(store, columns="p:int64")
    r.pushFilters(flt)
    (part,) = r.partitions()
    assert part.value_preds  # actually pushed
    rows = [row for b in r.read(part) for row in b.to_pylist()]
    assert sorted(row["p"] for row in rows) == expect


def test_value_pushdown_gated_under_latest(tmp_path):
    store = _int_store(tmp_path, [1, 2])
    r = _reader(store, columns="p:int64", only_read_latest="true")
    r.pushFilters([GreaterThanOrEqual(("p",), 2)])
    (part,) = r.partitions()
    assert part.value_preds == ()  # gate: no cell-level value filter


def test_value_pushdown_latest_no_stale_match(spark, tmp_path):
    """Latest-mode hazard the gate prevents: cell has versions 5 (old) and
    10 (new); WHERE p = 5 on the latest view must return NOTHING."""
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    path = str(tmp_path / "vvstore")
    os.mkdir(path)
    pq.write_table(
        pa.table(
            {
                "row_key": ["k", "k"],
                "family": ["f", "f"],
                "qualifier": ["p", "p"],
                "ts": pa.array([JAN, FEB], type=pa.timestamp("us")),
                "value": pa.array(
                    [(5).to_bytes(8, "big", signed=True), (10).to_bytes(8, "big", signed=True)],
                    type=pa.binary(),
                ),
            }
        ),
        os.path.join(path, "part-0.parquet"),
    )
    bt_ds.register(spark)

    def q(latest):
        return (
            spark.read.format("bigtable")
            .option("path", path)
            .option("column_family", "f")
            .option("columns", "p:int64")
            .option("table_partition_cols", "_row_key")
            .option("only_read_latest", latest)
            .option("allow_full_scan", "true")
            .load()
            .filter("p = 5")
        )

    assert q("true").collect() == []  # latest version is 10
    assert [(r._row_key, r.p) for r in q("false").collect()] == [("k", 5)]


def test_value_prefix_pushdown(tmp_path):
    """LIKE 'prefix%' (StringStartsWith) pushes as a closed byte range."""
    from pyspark.sql.datasource import StringStartsWith

    store = tmp_path / "sstore"
    store.mkdir()
    vals = [b"click", b"clack", b"cl", b"view", b"climb"]
    pq.write_table(
        pa.table(
            {
                "row_key": [f"k{i}" for i in range(len(vals))],
                "family": ["f"] * len(vals),
                "qualifier": ["q"] * len(vals),
                "ts": pa.array([JAN] * len(vals), type=pa.timestamp("us")),
                "value": pa.array(vals, type=pa.binary()),
            }
        ),
        str(store / "part-0.parquet"),
    )
    r = _reader(str(store), columns="q:string")
    r.pushFilters([StringStartsWith(("q",), "cli")])
    (part,) = r.partitions()
    assert ("q", "sw", "cli") in part.value_preds
    rows = [row for b in r.read(part) for row in b.to_pylist()]
    assert sorted(row["q"] for row in rows) == ["click", "climb"]


def test_like_prefix_on_undeclared_column_is_ignored(tmp_path):
    """Regression: a LIKE prefix on a non-declared (e.g. key) column must
    be skipped cleanly, not crash planning (stale-variable bug)."""
    from pyspark.sql.datasource import StringStartsWith

    store = _int_store(tmp_path, [1, 2])
    r = _reader(store, columns="p:int64")
    r.pushFilters([StringStartsWith(("_row_key",), "k"), StringStartsWith(("p",), "x")])
    (part,) = r.partitions()
    assert part.value_preds == ()  # neither pushed: key col / non-string col


def test_pruned_scan_zero_footer_reads(two_file_store, monkeypatch):
    """r7 (VERDICT #5): with a manifest present, planning a pruned scan
    must never open a parquet footer — at 10⁶ files the footer loop is a
    listing bottleneck, and the manifest (written once at write_cells /
    commit time) is the Bigtable-tablet-metadata analogue that replaces
    it.  The pruning decision must equal the footer loop's (pinned by
    test_manifest_identical_pruning)."""
    import datafusion_bigtable_spark.sources.cells as cells_mod

    write_manifest(two_file_store)

    def boom(files):
        raise AssertionError(f"footer loop ran on {files}")

    monkeypatch.setattr(cells_mod, "footer_file_stats", boom)
    r = _reader(two_file_store)
    r.pushFilters([GreaterThanOrEqual(("_row_key",), "b"), LessThanOrEqual(("_row_key",), "c")])
    parts = r.partitions()
    assert [p.files for p in parts] == [(os.path.join(two_file_store, "part-b.parquet"),)]


# --- require_manifest (VERDICT r11 #6) ---------------------------------------


def test_manifest_present_means_zero_footer_reads(two_file_store, monkeypatch):
    """Plan contract: with a manifest in place, planning must never touch
    a parquet footer — the O(files) driver loop is the 10⁵-file cliff the
    manifest exists to remove."""
    from datafusion_bigtable_spark.sources import cells as cells_mod

    write_manifest(two_file_store)

    def _boom(files):
        raise AssertionError(f"footer loop invoked for {files}")

    monkeypatch.setattr(cells_mod, "footer_file_stats", _boom)
    r = _reader(two_file_store, require_manifest="true")
    r.pushFilters([GreaterThanOrEqual(("_row_key",), "b")])
    parts = list(r.partitions())
    assert parts  # planned entirely from the manifest


def test_require_manifest_errors_on_miss(two_file_store):
    r = _reader(two_file_store, require_manifest="true")
    with pytest.raises(RuntimeError, match="write_manifest"):
        r._file_stats()


def test_require_manifest_errors_on_stale(two_file_store):
    write_manifest(two_file_store)
    _write_file(os.path.join(two_file_store, "part-z.parquet"), ["z1"], [JAN], [b"x"])
    r = _reader(two_file_store, require_manifest="true")
    with pytest.raises(RuntimeError, match="stale"):
        r._file_stats()
    # default posture still falls back silently
    assert len(_reader(two_file_store)._file_stats()) == 3
