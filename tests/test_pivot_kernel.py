"""The Arrow pivot kernel (``datasource._pivot_partition``) against an
independent reference: duckdb for the latest-version filter, the
last-write-wins dedupe and the (row_key, ts) pivot; plain Python for the
key split and the value decodes.  Rows must match in order: the kernel
emits them ordered by (row_key, ts)."""

from __future__ import annotations

import datetime as dt
from unittest import mock

import duckdb
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
from datafusion_bigtable_spark.plans.keycodec import encode_int_key
from datafusion_bigtable_spark.sources import datasource
from datafusion_bigtable_spark.sources.datasource import (
    _arrow_schema,
    _cells_table,
    _pivot_partition,
)

COLUMNS = (ColumnSpec("n", "int64"), ColumnSpec("s", "string"), ColumnSpec("raw", "binary"))
EPOCH = dt.datetime(1970, 1, 1)
KEY_LAYOUTS = {
    "row_key": (("_row_key",), None),
    "three": (("a", "b", "c"), None),
    "int_tail": (("a", "b", "c"), ("string", "int64", "int64")),
}


def _config(layout: str, separator: str, latest: bool) -> BigtableTableConfig:
    pcols, key_types = KEY_LAYOUTS[layout]
    return BigtableTableConfig(
        table="t",
        column_family="f",
        columns=COLUMNS,
        table_partition_cols=pcols,
        table_partition_separator=separator,
        only_read_latest=latest,
        key_types=key_types,
    )


def _int_key(s):
    try:
        v = int(s) - 2**63
    except ValueError:
        return None
    return v if -(2**63) <= v < 2**63 else None


def _decode(spec: ColumnSpec, v):
    if v is None:
        return None
    if spec.type == "int64":
        return int.from_bytes(v, "big", signed=True) if len(v) == 8 else None
    if spec.type == "binary":
        return v
    return v.decode("utf-8", errors="replace")


def reference(cells: list[tuple], cfg: BigtableTableConfig) -> list[dict]:
    """``cells`` are (row_key, qualifier, ts_us, value) in input order."""
    con = duckdb.connect()
    con.register(
        "cells",
        pa.table(
            {
                "row_key": pa.array([c[0] for c in cells], pa.string()),
                "qualifier": pa.array([c[1] for c in cells], pa.string()),
                "ts": pa.array([c[2] for c in cells], pa.int64()),
                "value": pa.array([c[3] for c in cells], pa.binary()),
                "pos": pa.array(range(len(cells)), pa.int64()),
            }
        ),
    )
    names = ", ".join(f"'{c.name}'" for c in cfg.columns)
    latest = (
        "QUALIFY row_number() OVER (PARTITION BY row_key, qualifier ORDER BY ts DESC, pos DESC) = 1"
        if cfg.only_read_latest
        else ""
    )
    pivot = ", ".join(f"max(value) FILTER (WHERE qualifier = '{c.name}')" for c in cfg.columns)
    rows = con.execute(
        f"""
        WITH declared AS (SELECT * FROM cells WHERE qualifier IN ({names})),
        latest AS (SELECT * FROM declared {latest}),
        one AS (
            SELECT * FROM latest
            QUALIFY row_number() OVER (PARTITION BY row_key, ts, qualifier ORDER BY pos DESC) = 1
        )
        SELECT row_key, ts, {pivot} FROM one GROUP BY row_key, ts ORDER BY row_key, ts
        """
    ).fetchall()
    pcols = cfg.table_partition_cols
    ktypes = cfg.key_types or ("string",) * len(pcols)
    out = []
    for row_key, ts, *values in rows:
        parts = [row_key] if len(pcols) == 1 else row_key.split(cfg.table_partition_separator)
        rec = {}
        for i, (name, typ) in enumerate(zip(pcols, ktypes)):
            part = parts[i] if i < len(parts) else None
            rec[name] = _int_key(part) if typ == "int64" and part is not None else part
        rec["_timestamp"] = EPOCH + dt.timedelta(microseconds=ts)
        for spec, v in zip(cfg.columns, values):
            rec[spec.name] = _decode(spec, v)
        out.append(rec)
    return out


def kernel(cells: list[tuple], cfg: BigtableTableConfig) -> list[dict]:
    (batch,) = list(_pivot_partition(_cells_table(*zip(*cells)) if cells else _cells_table(), cfg))
    assert batch.schema == _arrow_schema(cfg)
    return batch.to_pylist()


# -- strategies ---------------------------------------------------------------

SEPARATORS = ("#", "||", "::")
INT_COMPONENTS = [encode_int_key(v) for v in (-(2**63), -7, 0, 42, 2**63 - 1)] + [
    "x1",  # malformed
    "",  # empty
    "18446744073709551616",  # 2**64: past the encoding's range
]
VALUES = st.one_of(
    st.none(),
    st.binary(max_size=10),  # int64 values of every length; invalid UTF-8
    st.integers(-(2**63), 2**63 - 1).map(lambda v: v.to_bytes(8, "big", signed=True)),
    st.text(alphabet="aé€😀", max_size=4).map(lambda s: s.encode("utf-8")),
    st.sampled_from([b"\xff", b"ok\xfe", b"\xc3"]),
)


@st.composite
def row_keys(draw, separator: str):
    """A component count of 1-4, so a three-part layout sees short and
    long keys; components may contain separator characters."""
    comps = st.one_of(
        st.text(alphabet="ab#|:é", max_size=3),
        st.sampled_from(INT_COMPONENTS),
    )
    return separator.join(draw(st.lists(comps, min_size=1, max_size=4)))


@st.composite
def cell_lists(draw):
    separator = draw(st.sampled_from(SEPARATORS))
    keys = draw(st.lists(row_keys(separator), min_size=1, max_size=5))
    cell = st.tuples(
        st.sampled_from(keys),
        st.sampled_from(["n", "s", "raw", "undeclared"]),
        st.integers(0, 3).map(lambda i: 1_600_000_000_000_000 + i * 1_000_000),
        VALUES,
    )
    return separator, draw(st.lists(cell, max_size=40))


# How a drawn cell list is ordered before the kernel sees it.  Sorts are
# stable, so ties (equal ts included) keep their drawn order, which the
# reference reads as input order.  "cell" is the order every writer of the
# store produces, (row_key, qualifier, ts) by bytes, and takes the
# kernel's sort-free path in latest mode; "key" and "key_qualifier" are
# key-sorted chunks out of (qualifier, ts) order within a key, which must
# take the sorted path.
ORDERS = {
    "input": None,
    "key": lambda c: c[0].encode(),
    "key_qualifier": lambda c: (c[0].encode(), c[1].encode()),
    "cell": lambda c: (c[0].encode(), c[1].encode(), c[2]),
}


@settings(max_examples=300, deadline=None)
@given(
    case=cell_lists(),
    layout=st.sampled_from(sorted(KEY_LAYOUTS)),
    latest=st.booleans(),
    order=st.sampled_from(sorted(ORDERS)),
)
def test_kernel_matches_reference(case, layout, latest, order):
    separator, cells = case
    if ORDERS[order] is not None:
        cells = sorted(cells, key=ORDERS[order])
    cfg = _config(layout, separator, latest)
    assert kernel(cells, cfg) == reference(cells, cfg)


@settings(max_examples=100, deadline=None)
@given(
    case=cell_lists(),
    layout=st.sampled_from(sorted(KEY_LAYOUTS)),
    latest=st.booleans(),
    cut=st.integers(0, 40),
)
def test_chunked_input_and_bounded_batches_match_reference(case, layout, latest, cut):
    """A two-chunk input (how a materialised group arrives) pivots the same,
    and no output batch holds more than ``_PIVOT_BATCH_ROWS`` rows."""
    separator, cells = case
    cfg = _config(layout, separator, latest)
    table = _cells_table(*zip(*cells)) if cells else _cells_table()
    cut = min(cut, table.num_rows)
    chunked = pa.concat_tables([table.slice(0, cut), table.slice(cut)])
    with mock.patch.object(datasource, "_PIVOT_BATCH_ROWS", 2):
        batches = list(_pivot_partition(chunked, cfg))
    assert all(b.num_rows <= 2 and b.schema == _arrow_schema(cfg) for b in batches)
    assert [r for b in batches for r in b.to_pylist()] == reference(cells, cfg)


# -- the documented edge cases, pinned one by one ------------------------------

T0, T1 = 1_600_000_000_000_000, 1_600_000_001_000_000


@pytest.mark.parametrize("latest", [True, False])
def test_null_cell_is_a_version(latest):
    # the newest version writes NULL: it must not resurrect the older value
    cells = [("k", "n", T0, (5).to_bytes(8, "big")), ("k", "n", T1, None)]
    rows = kernel(cells, _config("row_key", "#", latest))
    at = lambda us: EPOCH + dt.timedelta(microseconds=us)  # noqa: E731
    want = [(at(T1), None)] if latest else [(at(T0), 5), (at(T1), None)]
    assert [(r["_timestamp"], r["n"]) for r in rows] == want


@pytest.mark.parametrize("latest", [True, False])
@pytest.mark.parametrize("column", ["row_key", "ts"])
def test_null_row_key_or_ts_fails_closed(column, latest):
    """The kernel cannot place a cell with no row key or no timestamp: it
    raises a ValueError that names the column, not a raw Arrow error."""
    keys, ts = ["a", "a"], [1, 2]
    if column == "row_key":
        keys = ["a", None]
    else:
        ts = [1, None]
    cells = _cells_table(keys, ["s", "s"], ts, [b"x", b"y"])
    with pytest.raises(ValueError, match=f"NULL {column}"):
        list(_pivot_partition(cells, _config("row_key", "#", latest)))


@pytest.mark.parametrize("latest", [True, False])
def test_duplicate_cell_last_in_input_order_wins(latest):
    cells = [("k", "s", T0, b"first"), ("k", "s", T0, b"second")]
    assert [r["s"] for r in kernel(cells, _config("row_key", "#", latest))] == ["second"]


def test_multichar_separator_and_key_arity():
    cells = [
        ("x||y||z", "s", T0, b"full"),
        ("x||y", "s", T0, b"short"),
        ("x||y||z||w", "s", T0, b"long"),
        ("x|y", "s", T0, b"single"),
    ]
    rows = kernel(cells, _config("three", "||", True))
    assert [(r["a"], r["b"], r["c"], r["s"]) for r in rows] == [
        ("x|y", None, None, "single"),  # byte order: "|y" < "||"
        ("x", "y", None, "short"),
        ("x", "y", "z", "full"),
        ("x", "y", "z", "long"),  # surplus parts are ignored
    ]


def test_invalid_utf8_and_short_int64_values():
    cells = [("k", "s", T0, b"ok\xff"), ("k", "n", T0, b"\x00\x01"), ("k", "raw", T0, b"\xff")]
    (row,) = kernel(cells, _config("row_key", "#", True))
    assert row["s"] == "ok�"
    assert row["n"] is None
    assert row["raw"] == b"\xff"


def test_malformed_int_key_components_decode_to_null():
    cells = [
        (f"r#{encode_int_key(-7)}#x1", "s", T0, b"a"),
        (f"r#{encode_int_key(2**63 - 1)}#18446744073709551616", "s", T0, b"b"),
    ]
    rows = kernel(cells, _config("int_tail", "#", True))
    assert [(r["b"], r["c"]) for r in rows] == [(-7, None), (2**63 - 1, None)]


@pytest.mark.parametrize("layout", sorted(KEY_LAYOUTS))
def test_empty_input_gives_one_empty_batch(layout):
    cfg = _config(layout, "#", True)
    for cells in (_cells_table(), _cells_table(["k"], ["undeclared"], [T0], [b"v"])):
        (batch,) = list(_pivot_partition(cells, cfg))
        assert batch.num_rows == 0
        assert batch.schema == _arrow_schema(cfg)


def _sorts_of(cells, cfg) -> list[int]:
    """Run the kernel and return the key count of each ``_stable_order``
    call it makes."""
    calls = []
    real = datasource._stable_order

    def spy(*keys):
        calls.append(len(keys))
        return real(*keys)

    with mock.patch.object(datasource, "_stable_order", spy):
        kernel(cells, cfg)
    return calls


def test_cell_ordered_chunk_takes_the_sort_free_path():
    """In latest mode a chunk in (row_key, qualifier, ts) order sorts only
    its survivors, by (row_key, ts); a key-sorted chunk out of that order
    within a key, an unsorted one, or any chunk in version-unnest mode
    sorts every cell first."""
    ordered = [
        ("a", "n", T0, b"1"), ("a", "n", T1, b"2"), ("a", "s", T0, b"x"),
        ("b", "raw", T1, b"r"), ("b", "s", T0, b"y"), ("b", "s", T0, b"z"),
    ]
    latest = _config("row_key", "#", True)
    assert _sorts_of(ordered, latest) == [2]
    for cells in (
        [ordered[1], ordered[0]] + ordered[2:],  # ts descending within (a, n)
        [ordered[2]] + ordered[:2] + ordered[3:],  # qualifier out of order within a
        ordered[3:] + ordered[:3],  # keys out of order
    ):
        assert _sorts_of(cells, latest) == [3, 2]
        assert kernel(cells, latest) == reference(cells, latest)
    assert _sorts_of(ordered, _config("row_key", "#", False)) == [3]


def test_newest_version_wins_when_a_qualifier_run_is_out_of_ts_order():
    # key- and qualifier-sorted, but the run of (k, n) is newest first:
    # the last cell of the run is NOT the newest one
    cells = [("k", "n", T1, (2).to_bytes(8, "big")), ("k", "n", T0, (1).to_bytes(8, "big"))]
    rows = kernel(cells, _config("row_key", "#", True))
    assert [(r["_timestamp"], r["n"]) for r in rows] == [(EPOCH + dt.timedelta(microseconds=T1), 2)]
