"""Execute the real transport path against the in-process ReadRows fake —
the analogue of the reference's emulator-backed integration tests
(Makefile:1-15, src/datasource.rs:177-300): ``fetch_cells`` actually runs,
and ``BigtableTable.to_df`` over the service reproduces the golden frames.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

from datafusion_bigtable_spark.plans.composer import Between, Eq, In, KeyRange
from datafusion_bigtable_spark.sources.bigtable_table import BigtableTable
from datafusion_bigtable_spark.sources.cells import weather_balloons_cells
from datafusion_bigtable_spark.sources.fake_bigtable import (
    InProcessBigtableService,
    service_from_parquet,
)
from datafusion_bigtable_spark.sources.grpc_transport import fetch_cells


from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec

_CFG_VR = BigtableTableConfig(
    table="t", column_family="f", columns=(ColumnSpec("a", "int64"),),
    table_partition_cols=("_row_key",),
)


def _epoch_us(ts: dt.datetime) -> int:
    return int((ts - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _seed_cells():
    return [
        (rk, fam, q, _epoch_us(ts), val) for rk, fam, q, ts, val in weather_balloons_cells()
    ]


# --- pure service semantics ------------------------------------------------


def test_rowset_row_keys_and_ranges():
    svc = InProcessBigtableService(_seed_cells())
    key = b"us-west2#3698#2021-03-05-1201"
    rows = list(svc.read_rows({"rows": {"row_keys": [key], "row_ranges": []}}))
    assert [rk for rk, _ in rows] == [key.decode()]

    rows = list(
        svc.read_rows(
            {
                "rows": {
                    "row_keys": [],
                    "row_ranges": [
                        {
                            "start_key_closed": b"us-west2#3698#2021-03-05-1202",
                            "end_key_closed": b"us-west2#3698#2021-03-05-1203",
                        }
                    ],
                }
            }
        )
    )
    assert [rk for rk, _ in rows] == [
        "us-west2#3698#2021-03-05-1202",
        "us-west2#3698#2021-03-05-1203",
    ]

    # empty RowSet = full table, key order
    rows = list(svc.read_rows({}))
    assert len(rows) == 5
    assert [rk for rk, _ in rows] == sorted(rk for rk, _ in rows)


def test_filter_chain_family_limit_qualifier():
    cells = [
        ("r1", "measurements", "pressure", 200, b"new"),
        ("r1", "measurements", "pressure", 100, b"old"),
        ("r1", "measurements", "temp.c", 100, b"9.6"),
        ("r1", "measurements", "tempxc", 100, b"nope"),  # regex escape probe
        ("r1", "other_family", "pressure", 300, b"wrong-family"),
    ]
    svc = InProcessBigtableService(cells)
    request = {
        "filter": {
            "chain": {
                "filters": [
                    {"family_name_regex_filter": "measurements"},
                    {"cells_per_column_limit_filter": 1},
                    {"column_qualifier_regex_filter": rb"pressure|temp\.c"},
                ]
            }
        }
    }
    (row,) = list(svc.read_rows(request))
    rk, got = row
    assert rk == "r1"
    # latest pressure only; temp.c kept; tempxc and other family dropped
    assert got == [
        ("measurements", "pressure", 200, b"new"),
        ("measurements", "temp.c", 100, b"9.6"),
    ]


# --- fetch_cells through the fake ------------------------------------------


def test_fetch_cells_executes_against_service(composite_config):
    svc = InProcessBigtableService(_seed_cells())
    ranges = [KeyRange("us-west2#3698#2021-03-05-1200", "us-west2#3698#2021-03-05-1201")]
    out = list(fetch_cells(composite_config, ranges, service=svc))
    keys = {rk for rk, *_ in out}
    assert keys == {"us-west2#3698#2021-03-05-1200", "us-west2#3698#2021-03-05-1201"}
    # both qualifiers per key survive the chain; values are raw bytes
    quals = sorted(q for _, _, q, _, _ in out)
    assert quals == ["pressure", "pressure", "temperature", "temperature"]


def test_fetch_cells_qualifier_projection(composite_config):
    svc = InProcessBigtableService(_seed_cells())
    out = list(
        fetch_cells(
            composite_config,
            [KeyRange("us-west2#3698#2021-03-05-1200", "us-west2#3698#2021-03-05-1200")],
            projected_qualifiers=["pressure"],
            service=svc,
        )
    )
    assert [(rk, q) for rk, _, q, _, _ in out] == [("us-west2#3698#2021-03-05-1200", "pressure")]


# --- end-to-end: service → to_df golden frames -----------------------------


def test_to_df_golden_composite_via_service(spark, composite_config, cells_path):
    cfg = dataclasses.replace(composite_config, cells_path=None)
    table = BigtableTable(cfg, service=service_from_parquet(cells_path))
    df = table.to_df(
        spark,
        predicates=[
            Eq("region", "us-west2"),
            In("balloon_id", ("3698",)),
            Between("event_minute", "2021-03-05-1200", "2021-03-05-1202"),
        ],
    ).orderBy("_timestamp")
    rows = [tuple(r) for r in df.collect()]
    assert rows == [
        ("us-west2", "3698", "2021-03-05-1200", dt.datetime(2021, 3, 5, 12, 0, 5, 100000), 94558, "9.6"),
        ("us-west2", "3698", "2021-03-05-1201", dt.datetime(2021, 3, 5, 12, 1, 5, 200000), 94122, "9.7"),
        ("us-west2", "3698", "2021-03-05-1202", dt.datetime(2021, 3, 5, 12, 2, 5, 300000), 95992, "9.5"),
    ]


def test_to_df_full_scan_via_service(spark, simple_config, cells_path):
    cfg = dataclasses.replace(simple_config, cells_path=None)
    table = BigtableTable(cfg, service=service_from_parquet(cells_path))
    df = table.to_df(spark)
    assert df.count() == 5
    assert df.columns == ["_row_key", "_timestamp", "pressure", "temperature"]


def test_latest_version_pushed_into_request(spark, simple_config):
    # two versions of one cell: only_read_latest pins the newest via the
    # request's cells_per_column_limit (composer.rs:257-263)
    cells = _seed_cells() + [
        (
            "us-west2#3698#2021-03-05-1200",
            "measurements",
            "pressure",
            _epoch_us(dt.datetime(2021, 3, 5, 12, 0, 6)),
            (11111).to_bytes(8, "big", signed=True),
        )
    ]
    cfg = dataclasses.replace(simple_config, cells_path=None)
    table = BigtableTable(cfg, service=InProcessBigtableService(cells))
    df = table.to_df(spark, predicates=[Eq("_row_key", "us-west2#3698#2021-03-05-1200")])
    rows = {(r._row_key, r._timestamp): (r.pressure, r.temperature) for r in df.collect()}
    # 94558 (older pressure) is dropped by the request's limit filter;
    # survivors pivot per (row_key, ts) like the reference's scan loop
    assert rows == {
        ("us-west2#3698#2021-03-05-1200", dt.datetime(2021, 3, 5, 12, 0, 5, 100000)): (None, "9.6"),
        ("us-west2#3698#2021-03-05-1200", dt.datetime(2021, 3, 5, 12, 0, 6)): (11111, None),
    }


def test_value_range_filter_in_chain():
    """value_range_filter (the roadmap item) as a real chain member: cells
    outside the closed byte range are dropped server-side."""
    from datafusion_bigtable_spark.sources.grpc_transport import build_filter_chain

    cells = [
        ("r1", "f", "a", 100, (5).to_bytes(8, "big", signed=True)),
        ("r1", "f", "b", 100, (50).to_bytes(8, "big", signed=True)),
        ("r1", "f", "c", 100, (500).to_bytes(8, "big", signed=True)),
    ]
    svc = InProcessBigtableService(cells)
    import dataclasses

    cfg = dataclasses.replace(
        _CFG_VR, columns=(), table_partition_cols=("_row_key",), only_read_latest=False
    )
    chain = build_filter_chain(
        cfg,
        projected_qualifiers=[],
        value_range=((10).to_bytes(8, "big", signed=True), (100).to_bytes(8, "big", signed=True)),
    )
    request = {"filter": {"chain": {"filters": chain}}}
    (row,) = list(svc.read_rows(request))
    assert [q for _, q, *_ in [(c[0], c[1], c[2]) for c in row[1]]] == ["b"]


# --- MutateRows write path -------------------------------------------------


def test_mutate_rows_roundtrip_golden(spark, composite_config, cells_path):
    """Full wire round-trip: relational frame → shared row→cells encoder →
    MutateRows entries → fake service store → ReadRows → to_df reproduces
    the frame bit-for-bit (the write-side analogue of the golden read)."""
    cfg = dataclasses.replace(composite_config, cells_path=None)
    golden = BigtableTable(cfg, service=service_from_parquet(cells_path)).to_df(spark)

    dest_svc = InProcessBigtableService([])
    dest = BigtableTable(cfg, service=dest_svc)
    assert dest.mutate(golden) == 5  # 5 logical rows applied
    back = dest.to_df(spark)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, golden.collect()))


def test_mutate_rows_same_version_replaces():
    svc = InProcessBigtableService([])

    def set_cell(value):
        return {
            "entries": [
                {
                    "row_key": b"k",
                    "mutations": [
                        {
                            "set_cell": {
                                "family_name": "f",
                                "column_qualifier": b"q",
                                "timestamp_micros": 5,
                                "value": value,
                            }
                        }
                    ],
                }
            ]
        }

    assert [r["status"]["code"] for r in svc.mutate_rows(set_cell(b"v1"))] == [0]
    assert [r["status"]["code"] for r in svc.mutate_rows(set_cell(b"v2"))] == [0]
    # same (family, qualifier, ts) coordinate → REPLACED, not duplicated
    assert list(svc.read_rows({})) == [("k", [("f", "q", 5, b"v2")])]


def test_mutate_rows_unsupported_mutation_gated():
    svc = InProcessBigtableService([])
    req = {"entries": [{"row_key": b"k", "mutations": [{"delete_from_row": {}}]}]}
    import pytest

    with pytest.raises(NotImplementedError, match="delete_from_row"):
        list(svc.mutate_rows(req))


def test_value_regex_filter_in_service():
    svc = InProcessBigtableService(
        [("k1", "f", "q", 1, b"click"), ("k2", "f", "q", 1, b"view"), ("k3", "f", "q", 1, b"\xffclicker")]
    )
    req = {"filter": {"value_regex_filter": b"cl.ck"}}
    got = {rk for rk, _ in svc.read_rows(req)}
    assert got == {"k1", "k3"}  # unanchored byte-level RE2, non-UTF8 safe


_AS_OF_T0 = dt.datetime(2021, 1, 1, 0, 0, 0)
_AS_OF_T1 = dt.datetime(2021, 1, 1, 0, 0, 10)
_AS_OF_T2 = dt.datetime(2021, 1, 1, 0, 0, 20)


def _asof_store(tmp_path) -> str:
    """One row key: p written at T0 (100) and T2 (102), t at T1 ("warm")."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        ("k1", "f", "p", _AS_OF_T0, (100).to_bytes(8, "big", signed=True)),
        ("k1", "f", "p", _AS_OF_T2, (102).to_bytes(8, "big", signed=True)),
        ("k1", "f", "t", _AS_OF_T1, b"warm"),
    ]
    path = str(tmp_path / "asof_cells.parquet")
    pq.write_table(
        pa.table(
            {
                "row_key": [r[0] for r in rows],
                "family": [r[1] for r in rows],
                "qualifier": [r[2] for r in rows],
                "ts": pa.array([r[3] for r in rows], pa.timestamp("us")),
                "value": pa.array([r[4] for r in rows], pa.binary()),
            }
        ),
        path,
    )
    return path


def test_asof_time_travel_parquet_and_service(spark, tmp_path):
    """to_df(as_of=T) returns the latest version at-or-before T — via the
    parquet path (scan-level ts bound) AND the service path (chain's
    timestamp_range_filter BEFORE the cells-per-column limit), identically."""
    T0, T1, T2 = _AS_OF_T0, _AS_OF_T1, _AS_OF_T2
    path = _asof_store(tmp_path)
    cfg = BigtableTableConfig(
        table="t",
        column_family="f",
        columns=(ColumnSpec("p", "int64"), ColumnSpec("t", "string")),
        table_partition_cols=("_row_key",),
        cells_path=path,
        allow_full_scan=True,
    )

    def snap(table, as_of):
        return {
            (r._row_key, r._timestamp): (r.p, r.t)
            for r in table.to_df(spark, as_of=as_of).collect()
        }

    parquet_table = BigtableTable(cfg)
    svc_table = BigtableTable(
        dataclasses.replace(cfg, cells_path=None), service=service_from_parquet(path)
    )
    for table in (parquet_table, svc_table):
        # one row per (row_key, version-ts), like the golden model: as-of
        # T1 hides p@T2, so latest p is the T0 version and t keeps T1
        assert snap(table, T1) == {("k1", T0): (100, None), ("k1", T1): (None, "warm")}
        # as-of just below T1: only p@T0 exists
        assert snap(table, dt.datetime(2021, 1, 1, 0, 0, 9)) == {("k1", T0): (100, None)}
        # as-of >= T2: current state (p promoted to its T2 version)
        assert snap(table, T2) == {("k1", T2): (102, None), ("k1", T1): (None, "warm")}
    # inclusive bound at exactly T0
    assert snap(parquet_table, T0) == {("k1", T0): (100, None)}


def test_asof_option_bounds_before_latest_and_where_after(spark, tmp_path):
    """The Data Source's ``as_of`` read option is bound-then-latest, while
    a ``_timestamp`` WHERE on the same latest-mode read stays
    latest-then-filter."""
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    T0, T1, T2 = _AS_OF_T0, _AS_OF_T1, _AS_OF_T2
    path = _asof_store(tmp_path)
    bt_ds.register(spark)

    def read(as_of, where):
        df = (
            spark.read.format("bigtable")
            .option("path", path)
            .option("column_family", "f")
            .option("columns", "p:int64,t:string")
            .option("allow_full_scan", "true")
            .option("as_of", as_of.isoformat(sep=" "))
            .load()
            .filter(where)
        )
        return {(r._row_key, r._timestamp): (r.p, r.t) for r in df.collect()}

    # as_of T1 hides p@T2, so p's latest is its T0 version, which the
    # WHERE then keeps (bounding after the latest filter would hide p)
    assert read(T1, f"_timestamp < '{T1}'") == {("k1", T0): (100, None)}
    # the WHERE is not a second as_of: with as_of past T2, p's latest is
    # T2, and "_timestamp <= T1" leaves t's row only, never resurrecting p@T0
    assert read(T2, f"_timestamp <= '{T1}'") == {("k1", T1): (None, "warm")}
    # and as_of alone at T1 is the snapshot to_df(as_of=T1) returns
    assert read(T1, f"_timestamp <= '{T2}'") == {
        ("k1", T0): (100, None),
        ("k1", T1): (None, "warm"),
    }


def test_asof_chain_order_in_request():
    """The as-of bound must precede the cells-per-column limit in the
    chain — after it, the filter would apply to an already-'latest' cell
    and resurrect nothing (wrong as-of semantics)."""
    from datafusion_bigtable_spark.sources.grpc_transport import build_filter_chain

    cfg = BigtableTableConfig(
        table="t", column_family="f", columns=(ColumnSpec("p", "int64"),),
        table_partition_cols=("_row_key",),
    )
    chain = build_filter_chain(cfg, as_of_us=123)
    kinds = [next(iter(f)) for f in chain]
    assert kinds.index("timestamp_range_filter") < kinds.index("cells_per_column_limit_filter")
    tr = chain[kinds.index("timestamp_range_filter")]["timestamp_range_filter"]
    assert tr == {"end_timestamp_micros": 124}  # exclusive end, +1 for <=


def test_asof_snapshot_is_session_timezone_independent(spark, tmp_path):
    """Review finding (reproduced pre-fix): the parquet as_of bound built
    an LTZ literal via the SYSTEM timezone while NTZ coercion used the
    SESSION timezone — under a non-UTC session the snapshot shifted or
    emptied.  The bound must be a TIMESTAMP_NTZ literal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    T0 = dt.datetime(2021, 1, 1, 0, 0, 0)
    T2 = dt.datetime(2021, 1, 1, 0, 0, 20)
    rows = [
        ("k1", "f", "p", T0, (100).to_bytes(8, "big", signed=True)),
        ("k1", "f", "p", T2, (102).to_bytes(8, "big", signed=True)),
    ]
    path = str(tmp_path / "asof_tz_cells.parquet")
    pq.write_table(
        pa.table(
            {
                "row_key": [r[0] for r in rows],
                "family": [r[1] for r in rows],
                "qualifier": [r[2] for r in rows],
                "ts": pa.array([r[3] for r in rows], pa.timestamp("us")),
                "value": pa.array([r[4] for r in rows], pa.binary()),
            }
        ),
        path,
    )
    cfg = BigtableTableConfig(
        table="t", column_family="f", columns=(ColumnSpec("p", "int64"),),
        table_partition_cols=("_row_key",), cells_path=path, allow_full_scan=True,
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        got = {
            (r._row_key, r._timestamp): r.p
            for r in BigtableTable(cfg).to_df(spark, as_of=dt.datetime(2021, 1, 1, 0, 0, 10)).collect()
        }
        assert got == {("k1", T0): 100}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_to_df_value_filter_pushdown_via_service(spark, composite_config, cells_path):
    """r7: per-qualifier value predicate through the live request.  The
    pressure bound pushes as an Interleave of byte ranges scoped to the
    pressure qualifier — temperature cells must survive untouched (the
    keep-rest branch), and the re-applied exact predicate makes the final
    frame equal the unpushed read filtered relationally."""
    cfg = dataclasses.replace(composite_config, cells_path=None)
    svc = service_from_parquet(cells_path)

    plain = BigtableTable(cfg, service=svc).to_df(spark)
    want = sorted(map(tuple, plain.filter("pressure >= 95000").collect()))

    # NO caller-side re-filter: to_df itself must re-apply the relational
    # predicate (r7 fix — value_filters were accepted but silently dropped,
    # hidden by this test's own .filter)
    pushed_df = BigtableTable(cfg, service=svc).to_df(
        spark, value_filters=[("pressure", "ge", 95000)]
    )
    assert sorted(map(tuple, pushed_df.collect())) == want

    # parquet transport: same contract, no wire pushdown — the re-applied
    # relational predicate alone must produce the identical frame
    parquet_df = BigtableTable(composite_config).to_df(
        spark, value_filters=[("pressure", "ge", 95000)]
    )
    assert sorted(map(tuple, parquet_df.collect())) == want
    assert len(want) >= 2  # fixture really has matches
    # temperature present on every surviving row — the cross-type branch
    # did not eat string cells whose bytes sort outside the int range
    assert all(t[-1] is not None for t in want)

    # server-side reduction is real: count pressure cells the service
    # returns with vs without the pushed predicate
    from datafusion_bigtable_spark.sources.grpc_transport import fetch_cells as _fc

    all_cells = list(_fc(cfg, [], service=svc))
    pushed_cells = list(_fc(cfg, [], service=svc, value_preds=[("pressure", "ge", 95000)]))
    n_pressure = lambda cs: sum(1 for c in cs if c[2] == "pressure")
    n_temp = lambda cs: sum(1 for c in cs if c[2] == "temperature")
    assert n_pressure(pushed_cells) < n_pressure(all_cells)
    assert n_temp(pushed_cells) == n_temp(all_cells)


def test_interleave_negative_int64_range_via_service():
    """Sign-split correctness on the wire: ge over a negative literal must
    keep negative values above it AND all positives (two's-complement
    bytes put negatives lexicographically ABOVE positives)."""
    from datafusion_bigtable_spark.sources.grpc_transport import build_read_rows_request

    enc = lambda v: v.to_bytes(8, "big", signed=True)
    cells = [
        ("r1", "f", "a", 100, enc(-10)),
        ("r2", "f", "a", 100, enc(-2)),
        ("r3", "f", "a", 100, enc(0)),
        ("r4", "f", "a", 100, enc(7)),
    ]
    svc = InProcessBigtableService(cells)
    cfg = dataclasses.replace(_CFG_VR, columns=(ColumnSpec("a", "int64"),))
    req = build_read_rows_request(cfg, [], value_preds=[("a", "ge", -5)])
    keys = [rk for rk, _ in svc.read_rows(req)]
    assert keys == ["r2", "r3", "r4"]


def test_rows_limit_service_and_parquet_parity(spark, composite_config, cells_path):
    """r7: the ReadRowsRequest rows_limit field.  Service path pushes the
    cap into the request; parquet path replicates it as a key-ordered
    TakeOrderedAndProject — both must return the FIRST two row keys."""
    svc = service_from_parquet(cells_path)
    svc_cfg = dataclasses.replace(composite_config, cells_path=None)

    full = BigtableTable(composite_config).to_df(spark)
    want = sorted(map(tuple, full.collect()))[:2]

    via_service = BigtableTable(svc_cfg, service=svc).to_df(spark, rows_limit=2)
    via_parquet = BigtableTable(composite_config).to_df(spark, rows_limit=2)
    assert sorted(map(tuple, via_service.collect())) == want
    assert sorted(map(tuple, via_parquet.collect())) == want
    assert via_service.columns == full.columns  # no __rk leakage

    # the wire really carries the cap (not a client-side truncation)
    from datafusion_bigtable_spark.sources.grpc_transport import fetch_cells as _fc

    keys = {c[0] for c in _fc(svc_cfg, [], service=svc, rows_limit=2)}
    assert len(keys) == 2


def test_rows_limit_with_value_filters_is_exact(spark, composite_config, cells_path):
    """A row can survive the wire value filter through the keep-rest
    branch and die at the relational re-application — the cap must count
    MATCHING rows, so with value_filters it applies relationally, not in
    the request."""
    svc = service_from_parquet(cells_path)
    cfg = dataclasses.replace(composite_config, cells_path=None)
    t = BigtableTable(cfg, service=svc)

    all_match = sorted(
        map(tuple, t.to_df(spark, value_filters=[("pressure", "ge", 95000)]).collect())
    )
    # fixture: pressures 94558, 94122, 95992, 96025, 96021 — the first two
    # KEYS do not match, so a wire cap of 2 would return zero/one rows
    assert len(all_match) == 3
    capped = t.to_df(spark, value_filters=[("pressure", "ge", 95000)], rows_limit=2)
    assert sorted(map(tuple, capped.collect())) == all_match[:2]


def test_rows_limit_counts_rows_matching_a_not_between(spark, composite_config, cells_path):
    """NOT BETWEEN composes to two closed complement ranges, so the
    boundary keys are read and then fail the re-applied predicate: a cap
    taken in the request would count them.  Both transports must return
    the first two MATCHING rows, also for a table that refuses full scans
    (the Data Source never sees the NOT BETWEEN)."""
    preds = [
        Eq("region", "us-west2"),
        Eq("balloon_id", "3698"),
        Between("event_minute", "2021-03-05-1201", "2021-03-05-1203", negated=True),
    ]
    cfg = dataclasses.replace(composite_config, allow_full_scan=False)
    svc_cfg = dataclasses.replace(cfg, cells_path=None)
    for table in (
        BigtableTable(cfg),
        BigtableTable(svc_cfg, service=service_from_parquet(cells_path)),
    ):
        got = table.to_df(spark, predicates=preds, rows_limit=2).collect()
        assert sorted(r.event_minute for r in got) == ["2021-03-05-1200", "2021-03-05-1204"]


def test_rows_limit_orders_by_the_raw_row_key(spark, tmp_path):
    """The cap takes the first rows in STORED key order: '!' sorts below
    the '#' separator, so "a!#..." precedes "a#...", although ("a!", n)
    sorts after ("a", n) as a tuple; int64 components order by their
    fixed-width encoding (9 before 10), not by their decimal text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_bigtable_spark.plans.keycodec import encode_int_key

    keys = sorted(f"{s}#{encode_int_key(n)}" for s, n in (("a!", 10), ("a", 10), ("a", 9)))
    path = str(tmp_path / "raw_order_cells.parquet")
    pq.write_table(
        pa.table(
            {
                "row_key": keys,
                "family": ["f"] * 3,
                "qualifier": ["v"] * 3,
                "ts": pa.array([dt.datetime(2024, 1, 1)] * 3, pa.timestamp("us")),
                "value": pa.array([b"x"] * 3, pa.binary()),
            }
        ),
        path,
    )
    cfg = BigtableTableConfig(
        table="t",
        column_family="f",
        columns=(ColumnSpec("v", "string"),),
        table_partition_cols=("s", "n"),
        key_types=("string", "int64"),
        cells_path=path,
        allow_full_scan=True,
    )
    svc_cfg = dataclasses.replace(cfg, cells_path=None)
    for table in (BigtableTable(cfg), BigtableTable(svc_cfg, service=service_from_parquet(path))):
        got = table.to_df(spark, rows_limit=2).collect()
        assert sorted((r.s, r.n) for r in got) == [("a", 9), ("a!", 10)]


def test_rows_limit_ignored_for_version_unnest(spark, composite_config, cells_path):
    import warnings as _w

    svc = service_from_parquet(cells_path)
    cfg = dataclasses.replace(
        composite_config, cells_path=None, only_read_latest=False
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        df = BigtableTable(cfg, service=svc).to_df(spark, rows_limit=1)
        n = df.count()
    assert any("rows_limit ignored" in str(r.message) for r in rec)
    assert n > 1  # uncapped
