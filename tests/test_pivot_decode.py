"""Unit tests for the wide-column structural operators and for the scan
kernel's pivot and value decode (sources/datasource.py)."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa

from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
from datafusion_bigtable_spark.operators.pivot import (
    compose_row_key,
    latest_cells,
    split_row_key,
)
from datafusion_bigtable_spark.sources.cells import CELLS_SCHEMA
from datafusion_bigtable_spark.sources.datasource import (
    _cells_table,
    _decode_be_int64,
    _pivot_partition,
)


def _cells(spark, rows):
    return spark.createDataFrame(rows, CELLS_SCHEMA)


T0 = dt.datetime(2021, 1, 1, 0, 0, 0)
T1 = dt.datetime(2021, 1, 1, 0, 0, 1)


def _pivot(cells, qualifiers, latest=True):
    """Pivot ``(row_key, qualifier, ts, value)`` cells through the scan
    kernel, string-typed qualifier columns, one ``_row_key`` component."""
    cfg = BigtableTableConfig(
        table="t",
        column_family="f",
        columns=tuple(ColumnSpec(q, "string") for q in qualifiers),
        only_read_latest=latest,
    )
    us = [(ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) for _, _, ts, _ in cells]
    table = _cells_table([c[0] for c in cells], [c[1] for c in cells], us, [c[3] for c in cells])
    return [row for batch in _pivot_partition(table, cfg) for row in batch.to_pylist()]


def test_decode_int64_be_roundtrip():
    # Full signed range incl. negatives and boundaries — the reference's
    # BigEndian::read_i64 equivalent (src/execute_plan.rs:287-293), read
    # straight from the Arrow value buffer.
    values = [0, 1, -1, 94558, -94558, 2**63 - 1, -(2**63), 42, -(2**31) - 7]
    raw = pa.array([v.to_bytes(8, "big", signed=True) for v in values], pa.large_binary())
    assert _decode_be_int64(raw).to_pylist() == values


def test_decode_int64_be_bad_length_is_null():
    raw = pa.array([b"", b"\x01\x02", None], pa.large_binary())
    assert _decode_be_int64(raw).to_pylist() == [None, None, None]


def test_latest_cells_per_column(spark):
    # Two versions of `p` for key k; latest filter keeps ts=T1 only —
    # CellsPerColumnLimitFilter(1) semantics (composer.rs:257-261).
    df = _cells(
        spark,
        [
            ("k", "f", "p", T0, b"old"),
            ("k", "f", "p", T1, b"new"),
            ("k", "f", "t", T0, b"t0"),
        ],
    )
    out = {(r.qualifier, r.ts): bytes(r.value) for r in latest_cells(df).collect()}
    assert out == {("p", T1): b"new", ("t", T0): b"t0"}


def test_pivot_one_row_per_key_ts():
    # Versioned cells → one output row per (row_key, ts) with NULL holes
    # (src/execute_plan.rs:223-271; NULL not empty-bytes, SURVEY §1.3).
    cells = [("k", "p", T0, b"p0"), ("k", "p", T1, b"p1"), ("k", "t", T0, b"t0")]
    out = _pivot(cells, ["p", "t"], latest=False)
    assert [(r["_timestamp"], r["p"], r["t"]) for r in out] == [
        (T0, "p0", "t0"),
        (T1, "p1", None),
    ]


def test_pivot_prunes_undeclared_qualifiers():
    out = _pivot([("k", "p", T0, b"x"), ("k", "zz", T0, b"y")], ["p"])
    assert out == [{"_row_key": "k", "_timestamp": T0, "p": "x"}]


def test_split_and_compose_row_key(spark):
    df = spark.createDataFrame([("a#b#c",)], "row_key string")
    out = split_row_key(df, ["x", "y", "z"]).collect()[0]
    assert (out.x, out.y, out.z) == ("a", "b", "c")

    df2 = spark.createDataFrame([("a", "b", 3)], "x string, y string, z long")
    key = df2.select(compose_row_key(["x", "y", "z"]).alias("k")).collect()[0].k
    assert key == "a#b#3"


def test_split_preserves_trailing_empty(spark):
    df = spark.createDataFrame([("a##",)], "row_key string")
    out = split_row_key(df, ["x", "y", "z"]).collect()[0]
    assert (out.x, out.y, out.z) == ("a", "", "")


def test_pivot_regex_metachar_qualifiers():
    # A9 quirk NOT replicated: the reference's ColumnQualifierRegexFilter
    # joins names with '|' so a qualifier like 'a.b' over-matches 'axb'.
    # Our declared-list pruning must match exactly.
    cells = [("k", "a.b", T0, b"dot"), ("k", "axb", T0, b"x"), ("k", "a|b", T0, b"pipe")]
    out = _pivot(cells, ["a.b", "a|b"])
    assert out == [{"_row_key": "k", "_timestamp": T0, "a.b": "dot", "a|b": "pipe"}]


def test_pandas_pivot_multichar_separator_parity():
    # ADVICE r1: pandas str.split treats multi-char patterns as regex by
    # default, so a separator like '||' (regex: two empty alternations)
    # exploded every key char-by-char — inconsistent with split_row_key,
    # which re.escape()s.  Both paths must split literally; the Arrow
    # kernel that replaced the pandas pivot keeps the pin.
    cfg = BigtableTableConfig(
        table="t",
        column_family="f",
        columns=(ColumnSpec("temperature", "string"),),
        table_partition_cols=("region", "balloon_id"),
        table_partition_separator="||",
    )
    cells = pa.table(
        {
            "row_key": ["us-west2||3698", "us-east1||0042"],
            "qualifier": ["temperature", "temperature"],
            "ts": pa.array(
                [dt.datetime(2021, 3, 5, 12, 0, 5), dt.datetime(2021, 3, 5, 12, 0, 6)],
                pa.timestamp("us"),
            ),
            "value": pa.array([b"9.6", b"7.1"], pa.binary()),
        }
    )
    (batch,) = list(_pivot_partition(cells, cfg))
    got = batch.to_pandas().sort_values("region").reset_index(drop=True)
    assert list(got["region"]) == ["us-east1", "us-west2"]
    assert list(got["balloon_id"]) == ["0042", "3698"]


def test_schema_tail_key_components_nullable():
    # ADVICE r1: tail key components ARE emitted as NULL for short keys, so
    # declaring them non-nullable could let Catalyst mis-prune IsNotNull.
    cfg = BigtableTableConfig(
        table="t",
        column_family="f",
        columns=(ColumnSpec("pressure", "int64"),),
        table_partition_cols=("a", "b", "c"),
    )
    fields = {f.name: f.nullable for f in cfg.schema().fields}
    assert fields["a"] is False
    assert fields["b"] is True and fields["c"] is True
    assert fields["_timestamp"] is False
