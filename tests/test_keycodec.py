"""Int64 key components — the order-preserving encoding extension
(plans/keycodec.py) that lifts the reference's string-literal restriction
(composer.rs:175) without touching the lexicographic machinery."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from datafusion_bigtable_spark.plans.keycodec import (
    WIDTH,
    decode_int_key,
    encode_int_key,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(I64)
@settings(max_examples=200, deadline=None)
def test_roundtrip(v):
    e = encode_int_key(v)
    assert len(e) == WIDTH and e.isdigit()
    assert decode_int_key(e) == v


@given(I64, I64)
@settings(max_examples=300, deadline=None)
def test_order_preserving(a, b):
    # THE property everything rests on: numeric order == lexicographic order
    assert (a < b) == (encode_int_key(a) < encode_int_key(b))


def test_extremes_and_range_guard():
    lo, hi = -(2**63), 2**63 - 1
    assert decode_int_key(encode_int_key(lo)) == lo
    assert decode_int_key(encode_int_key(hi)) == hi
    assert encode_int_key(lo) < encode_int_key(-1) < encode_int_key(0) < encode_int_key(hi)
    with pytest.raises(ValueError):
        encode_int_key(2**63)


def test_decode_column_matches_python():
    # the scan kernel's column decode (datasource._decode_int_keys)
    import pyarrow as pa

    from datafusion_bigtable_spark.sources.datasource import _decode_int_keys

    vals = [-(2**63), -1, 0, 1, 42, 2**63 - 1]
    got = _decode_int_keys(pa.array([encode_int_key(v) for v in vals])).to_pylist()
    assert got == [decode_int_key(encode_int_key(v)) for v in vals] == vals


def test_int_keyed_datasource_roundtrip_and_pruning(spark, tmp_path):
    """Dogfood: write an int-keyed store through the DS writer, read it
    back with INT predicates — schema is BIGINT, equality/range/strict
    bounds prune via the composer, negatives order correctly."""
    import datetime as dt

    from datafusion_bigtable_spark.sources import datasource as bt_ds

    bt_ds.register(spark)
    dest = str(tmp_path / "int_store")
    opts = {
        "path": dest,
        "column_family": "f",
        "columns": "v:string",
        "table_partition_cols": "tenant,seq",
        "key_types": "int64,int64",
        "allow_full_scan": "true",
    }
    T = dt.datetime(2024, 1, 1)
    rows = [
        (t, s, T, f"r{t}:{s}")
        for t in (-5, 0, 7)
        for s in (-(2**40), -1, 0, 1, 999, 2**40)
    ]
    df = spark.createDataFrame(rows, "tenant long, seq long, _timestamp timestamp_ntz, v string")
    df.write.format("bigtable").options(**opts).mode("append").save()

    rd = lambda: spark.read.format("bigtable").options(**opts).load()
    assert dict(rd().dtypes)["tenant"] == "bigint" and dict(rd().dtypes)["seq"] == "bigint"

    full = rd().collect()
    assert len(full) == 18
    assert {(r.tenant, r.seq) for r in full} == {(t, s) for t, s, _, _ in rows}

    # int equality + BETWEEN compose to one range; strict bounds tighten
    got = rd().filter("tenant = 7 AND seq >= -1 AND seq <= 999").collect()
    assert sorted((r.tenant, r.seq) for r in got) == [(7, -1), (7, 0), (7, 1), (7, 999)]
    got2 = rd().filter("tenant = -5 AND seq > -1 AND seq < 999").collect()
    assert sorted((r.tenant, r.seq) for r in got2) == [(-5, 0), (-5, 1)]
    # negative tenant isolates from tenant 0 (offset encoding, not ASCII '-')
    got3 = rd().filter("tenant = -5 AND seq >= -9223372036854775808 AND seq <= 9223372036854775807").collect()
    assert len(got3) == 6 and all(r.tenant == -5 for r in got3)


def test_int_keyed_bigtable_table_path(spark, tmp_path):
    """Explicit-predicate path: BigtableTable with key_types encodes
    Eq/In/Between int values before the composer and decodes components
    after the split."""
    import datetime as dt

    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
    from datafusion_bigtable_spark.plans.composer import Between, Eq
    from datafusion_bigtable_spark.sources import datasource as bt_ds
    from datafusion_bigtable_spark.sources.bigtable_table import BigtableTable

    bt_ds.register(spark)
    dest = str(tmp_path / "int_store2")
    opts = {
        "path": dest,
        "column_family": "f",
        "columns": "v:string",
        "table_partition_cols": "tenant,seq",
        "key_types": "int64,int64",
        "allow_full_scan": "true",
    }
    T = dt.datetime(2024, 1, 1)
    rows = [(t, s, T, f"{t}:{s}") for t in (1, 2) for s in range(5)]
    spark.createDataFrame(
        rows, "tenant long, seq long, _timestamp timestamp_ntz, v string"
    ).write.format("bigtable").options(**opts).mode("append").save()

    cfg = BigtableTableConfig(
        table="t",
        column_family="f",
        columns=(ColumnSpec("v", "string"),),
        table_partition_cols=("tenant", "seq"),
        key_types=("int64", "int64"),
        cells_path=dest,
    )
    t = BigtableTable(cfg)
    ranges = t.key_ranges([Eq("tenant", 2), Between("seq", 1, 3)])
    assert len(ranges) == 1  # one composed range over encoded bounds
    got = t.to_df(spark, predicates=[Eq("tenant", 2), Between("seq", 1, 3)]).collect()
    assert sorted((r.tenant, r.seq, r.v) for r in got) == [
        (2, 1, "2:1"),
        (2, 2, "2:2"),
        (2, 3, "2:3"),
    ]


def test_malformed_int_key_component_yields_null(spark, tmp_path):
    """Review finding (reproduced pre-fix): under default ANSI mode the
    decode cast THREW on a malformed component instead of the documented
    NULL (NULL-for-malformed stance).  The scan must yield NULL."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_bigtable_spark.plans.keycodec import encode_int_key
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    bt_ds.register(spark)
    T = dt.datetime(2024, 1, 1)
    rows = [
        (encode_int_key(7), "f", "v", T, b"ok"),
        ("notdigits", "f", "v", T, b"bad"),
    ]
    path = str(tmp_path / "badkey_cells.parquet")
    pq.write_table(
        pa.table(
            {
                "row_key": [r[0] for r in sorted(rows)],
                "family": [r[1] for r in rows],
                "qualifier": [r[2] for r in rows],
                "ts": pa.array([T, T], pa.timestamp("us")),
                "value": pa.array([r[4] for r in sorted(rows)], pa.binary()),
            }
        ),
        path,
    )
    df = (
        spark.read.format("bigtable")
        .option("path", path)
        .option("column_family", "f")
        .option("columns", "v:string")
        .option("table_partition_cols", "seq")
        .option("key_types", "int64")
        .option("allow_full_scan", "true")
        .load()
    )
    got = {r.v: r.seq for r in df.collect()}
    assert got == {"ok": 7, "bad": None}
