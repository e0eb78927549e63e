"""Seeded differential fuzz of the FULL Spark scan path.

The two existing fuzz tiers are pure Python: the composer's range algebra
(test_composer_properties.py) and the wire request/filter algebra
(test_service_properties.py).  What neither touches is the Spark glue in
between — ``BigtableTable.to_df``'s assembly of pruned scan → latest
filter → (row_key, ts) pivot → key split → type decode → inexact
re-application, and the SQL layer above it.  This test closes that gap:
for seeded-random cell stores and scan shapes, the REGISTERED VIEW queried
through ``spark.sql`` must agree, as a multiset, with a brute-force pure
Python model of the reference semantics (src/execute_plan.rs:186-271's
3-level map, re-evaluated from the raw cells with plain conditionals).

Both transports run every shape — the parquet stand-in and the in-process
ReadRows service — so a divergence in either assembly localizes
immediately.  Shapes are generated once at import from a fixed seed (not
hypothesis: a Spark action per example makes shrinking prohibitively slow;
a frozen seed keeps the suite deterministic and the failure reproducible
by index).

Semantics pinned here that unit tests cover only pointwise:
- multi-timestamp fanout: qualifiers whose latest versions sit at
  different timestamps pivot into SEPARATE (row_key, ts) rows with NULL
  holes (reference emits one row per (row_key, ts); SURVEY §1.3);
- negative int64 decode under pruning (sign-split byte ranges on the
  service path must not drop sign-crossing values);
- the inexact contract: every WHERE is answered exactly even when the
  composed ranges over-approximate (NOT BETWEEN keeps both flanks);
- value predicates conjoined in SQL above the scan filter NULL holes the
  same way the model's three-valued comparison does.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random

import pytest

from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
from datafusion_bigtable_spark.plans.composer import Between, Eq, In
from datafusion_bigtable_spark.sources.bigtable_table import BigtableTable

FAMILY = "measurements"
PCOLS = ("region", "balloon_id", "event_minute")
REGIONS = ["ap-east1", "eu-west3", "us-west2"]
IDS = ["100", "205", "33"]
MINUTES = [f"m0{i}" for i in range(6)]
PRESSURES = [-(2**40) - 7, -5, 0, 7, 94558, 2**41 + 3]
TEMPS = ["-1.5", "9.6", "21.0", ""]
BASE_TS = dt.datetime(2021, 3, 5, 12, 0, 0)
N_SHAPES = 12


def _gen_cells(rng: random.Random) -> list[tuple[str, str, dt.datetime, bytes]]:
    """(row_key, qualifier, ts, value_bytes) — ~75% of the 54-key universe,
    1-3 version rounds each, qualifiers independently present per round so
    latest(pressure) and latest(temperature) frequently land on different
    timestamps (the pivot-fanout case)."""
    cells = []
    for r, i, m in itertools.product(REGIONS, IDS, MINUTES):
        if rng.random() < 0.25:
            continue
        key = f"{r}#{i}#{m}"
        for v in range(rng.randint(1, 3)):
            ts = BASE_TS + dt.timedelta(
                minutes=MINUTES.index(m), seconds=v, microseconds=rng.randint(0, 999)
            )
            wrote = False
            if rng.random() < 0.85:
                p = rng.choice(PRESSURES)
                cells.append((key, "pressure", ts, p.to_bytes(8, "big", signed=True)))
                wrote = True
            if rng.random() < 0.7 or not wrote:
                cells.append((key, "temperature", ts, rng.choice(TEMPS).encode()))
    return cells


def _gen_shape(rng: random.Random):
    """One random scan shape: key predicates (+ SQL), optional value
    predicate, random projection.

    The composer's mandatory-prefix guard (composer.py:140-152) makes a
    GAPPED predicate set an error by contract, so the generator mirrors
    the real calling convention: hand `register` the predicates only when
    the set is composer-legal, else (and randomly 20% of the time even
    when legal) register a full scan and leave the ENTIRE WHERE to the
    relational layer — which is exactly the inexact-contract path this
    test wants under fire too."""
    preds: list = []
    clauses: list[str] = []

    def lit(v):
        return "'" + v + "'"

    if rng.random() < 0.9:
        r = rng.sample(REGIONS + ["zz-none"], rng.randint(1, 2))
        if len(r) == 1 and rng.random() < 0.5:
            preds.append(Eq("region", r[0]))
            clauses.append(f"region = {lit(r[0])}")
        else:
            preds.append(In("region", tuple(r)))
            clauses.append(f"region IN ({', '.join(lit(x) for x in r)})")
    if rng.random() < 0.85:
        i = rng.sample(IDS, rng.randint(1, 2))
        preds.append(In("balloon_id", tuple(i)))
        clauses.append(f"balloon_id IN ({', '.join(lit(x) for x in i)})")
    roll = rng.random()
    if roll < 0.55:
        lo, hi = sorted(rng.sample(MINUTES, 2))
        neg = rng.random() < 0.4
        preds.append(Between("event_minute", lo, hi, negated=neg))
        body = f"event_minute BETWEEN {lit(lo)} AND {lit(hi)}"
        clauses.append(f"NOT ({body})" if neg else body)
    elif roll < 0.85:
        m = rng.sample(MINUTES, rng.randint(1, 2))
        if len(m) == 1:
            preds.append(Eq("event_minute", m[0]))
            clauses.append(f"event_minute = {lit(m[0])}")
        else:
            preds.append(In("event_minute", tuple(m)))
            clauses.append(f"event_minute IN ({', '.join(lit(x) for x in m)})")

    value_cut = None
    if rng.random() < 0.5:
        value_cut = rng.choice([-6, 0, 100, 2**40])
        clauses.append(f"pressure > {value_cut}")

    cols = ["region", "balloon_id", "event_minute", "_timestamp", "pressure", "temperature"]
    proj = rng.sample(cols, rng.randint(2, len(cols)))

    constrained = {p.col for p in preds if not (isinstance(p, (In, Between)) and p.negated)}
    tail_ok = PCOLS[-1] in {p.col for p in preds}  # NOT BETWEEN satisfies the tail guard
    legal = all(c in constrained for c in PCOLS[:-1]) and tail_ok
    reg_preds = list(preds) if (legal and rng.random() >= 0.2) else []
    return preds, reg_preds, clauses, value_cut, proj


_RNG = random.Random(20260814)
_CELLS = _gen_cells(_RNG)
_SHAPES = [_gen_shape(_RNG) for _ in range(N_SHAPES)]


def _eval_key(comp: dict, preds) -> bool:
    for p in preds:
        if isinstance(p, Eq):
            if comp[p.col] != p.value:
                return False
        elif isinstance(p, In):
            hit = comp[p.col] in p.values
            if hit if p.negated else not hit:
                return False
        elif isinstance(p, Between):
            hit = p.low <= comp[p.col] <= p.high
            if hit if p.negated else not hit:
                return False
    return True


def _model(cells, preds, value_cut, proj) -> list[tuple]:
    """Brute-force reference semantics: latest cell per (key, qualifier),
    regroup by (key, ts) — one relational row per timestamp carrying the
    qualifiers whose latest landed there — then key + value predicates."""
    latest: dict[tuple[str, str], tuple[dt.datetime, bytes]] = {}
    for key, q, ts, val in cells:
        cur = latest.get((key, q))
        if cur is None or ts > cur[0]:
            latest[(key, q)] = (ts, val)
    rows: dict[tuple[str, dt.datetime], dict] = {}
    for (key, q), (ts, val) in latest.items():
        rows.setdefault((key, ts), {})[q] = val
    out = []
    for (key, ts), quals in rows.items():
        comp = dict(zip(PCOLS, key.split("#")))
        if not _eval_key(comp, preds):
            continue
        pressure = (
            int.from_bytes(quals["pressure"], "big", signed=True)
            if "pressure" in quals
            else None
        )
        temperature = quals["temperature"].decode() if "temperature" in quals else None
        if value_cut is not None and (pressure is None or not pressure > value_cut):
            continue
        full = {**comp, "_timestamp": ts, "pressure": pressure, "temperature": temperature}
        out.append(tuple(full[c] for c in proj))
    return sorted(out, key=repr)


@pytest.fixture(scope="module")
def fuzz_cells_path(tmp_path_factory) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(_CELLS)
    path = str(tmp_path_factory.mktemp("fuzz_cells") / "cells.parquet")
    pq.write_table(
        pa.table(
            {
                "row_key": [r[0] for r in rows],
                "family": [FAMILY] * len(rows),
                "qualifier": [r[1] for r in rows],
                "ts": pa.array([r[2] for r in rows], type=pa.timestamp("us")),
                "value": pa.array([r[3] for r in rows], type=pa.binary()),
            }
        ),
        path,
    )
    return path


def _config(cells_path, latest: bool = True) -> BigtableTableConfig:
    return BigtableTableConfig(
        table="fuzz_scan",
        column_family=FAMILY,
        columns=(ColumnSpec("pressure", "int64"), ColumnSpec("temperature", "string")),
        table_partition_cols=PCOLS,
        only_read_latest=latest,
        cells_path=cells_path,
        allow_full_scan=True,  # shapes may draw zero key predicates
    )


_SVC = {}


def _table(cells_path, transport, latest: bool = True) -> BigtableTable:
    if transport == "service":
        import dataclasses

        from datafusion_bigtable_spark.sources.fake_bigtable import service_from_parquet

        if cells_path not in _SVC:
            _SVC[cells_path] = service_from_parquet(cells_path)
        return BigtableTable(
            dataclasses.replace(_config(cells_path, latest), cells_path=None),
            service=_SVC[cells_path],
        )
    return BigtableTable(_config(cells_path, latest))


@pytest.mark.parametrize("transport", ["parquet", "service"])
@pytest.mark.parametrize("shape_idx", range(N_SHAPES))
def test_scan_matches_bruteforce_model(spark, fuzz_cells_path, transport, shape_idx):
    preds, reg_preds, clauses, value_cut, proj = _SHAPES[shape_idx]
    table = _table(fuzz_cells_path, transport)
    table.register(spark, name="fuzz_scan", predicates=reg_preds)
    where = f" WHERE {' AND '.join(clauses)}" if clauses else ""
    got = spark.sql(f"SELECT {', '.join(proj)} FROM fuzz_scan{where}")
    assert got.columns == proj
    assert sorted((tuple(r) for r in got.collect()), key=repr) == _model(
        _CELLS, preds, value_cut, proj
    )


def _model_unnest(cells, preds, value_cut, proj) -> list[tuple]:
    """Version-unnest semantics: EVERY cell survives; one relational row
    per (key, ts) carrying the qualifiers written at exactly that ts."""
    rows: dict[tuple[str, dt.datetime], dict] = {}
    for key, q, ts, val in cells:
        rows.setdefault((key, ts), {})[q] = val
    out = []
    for (key, ts), quals in rows.items():
        comp = dict(zip(PCOLS, key.split("#")))
        if not _eval_key(comp, preds):
            continue
        pressure = (
            int.from_bytes(quals["pressure"], "big", signed=True)
            if "pressure" in quals
            else None
        )
        temperature = quals["temperature"].decode() if "temperature" in quals else None
        if value_cut is not None and (pressure is None or not pressure > value_cut):
            continue
        full = {**comp, "_timestamp": ts, "pressure": pressure, "temperature": temperature}
        out.append(tuple(full[c] for c in proj))
    return sorted(out, key=repr)


@pytest.mark.parametrize("transport", ["parquet", "service"])
@pytest.mark.parametrize("shape_idx", range(0, N_SHAPES, 2))
def test_version_unnest_matches_bruteforce_model(
    spark, fuzz_cells_path, transport, shape_idx
):
    """only_read_latest=False: the full version history pivots — every
    (row_key, ts) pair is a relational row.  Half the shapes, both
    transports (the service path must NOT apply a cells-per-column
    limit in this mode)."""
    preds, reg_preds, clauses, value_cut, proj = _SHAPES[shape_idx]
    table = _table(fuzz_cells_path, transport, latest=False)
    table.register(spark, name="fuzz_scan_v", predicates=reg_preds)
    where = f" WHERE {' AND '.join(clauses)}" if clauses else ""
    got = spark.sql(f"SELECT {', '.join(proj)} FROM fuzz_scan_v{where}")
    assert sorted((tuple(r) for r in got.collect()), key=repr) == _model_unnest(
        _CELLS, preds, value_cut, proj
    )


def _null_cells(column: str):
    """Two cells of one row key, the second with a NULL ``column``."""
    keys, ts = ["us-west2#33#m00", "us-west2#33#m00"], [BASE_TS, BASE_TS]
    if column == "row_key":
        keys[1] = None
    else:
        ts[1] = None
    return keys, ts


def _cells_file_table(keys, ts):
    import pyarrow as pa

    n = len(keys)
    return pa.table({
        "row_key": pa.array(keys, pa.string()),
        "family": [FAMILY] * n,
        "qualifier": ["temperature"] * n,
        "ts": pa.array(ts, pa.timestamp("us")),
        "value": pa.array([b"9.6"] * n, pa.binary()),
    })


@pytest.mark.parametrize("column", ["row_key", "ts"])
def test_null_row_key_or_ts_fails_closed_naming_the_file(spark, tmp_path, column):
    """A pyarrow-written file can hold a cell with a NULL row_key or ts (the
    store's writers cannot).  The scan fails closed with a ValueError that
    names the file, not a raw Arrow error."""
    import re

    import pyarrow.parquet as pq

    from datafusion_bigtable_spark.sources import datasource as bt_ds

    keys, ts = _null_cells(column)
    store = tmp_path / "store"
    store.mkdir()
    pq.write_table(_cells_file_table(["us-west2#100#m00"], [BASE_TS]), str(store / "part-0.parquet"))
    bad = str(store / "part-1.parquet")
    pq.write_table(_cells_file_table(keys, ts), bad)
    bt_ds.register(spark)
    df = (
        spark.read.format("bigtable")
        .options(path=str(store), column_family=FAMILY, columns="pressure:int64,temperature:string",
                 table_partition_cols=",".join(PCOLS), allow_full_scan="true")
        .load()
    )
    with pytest.raises(Exception, match=re.escape(f"NULL {column} in {[bad]}")):
        df.collect()


@pytest.mark.parametrize("column", ["row_key", "ts"])
def test_null_row_key_or_ts_over_the_wire_names_the_shard(monkeypatch, column):
    """A ReadRows response can carry a cell with no row key or timestamp:
    the shard's scan fails closed with a ValueError that names the shard.
    The shard's pieces went out as one RowSet."""
    import re

    from datafusion_bigtable_spark.sources.datasource import BigtableReader, WireRangePartition
    from datafusion_bigtable_spark.sources.wire import WireBigtableClient

    keys, ts = _null_cells(column)
    sent = []

    def read_rows(self, request):
        sent.append(request["rows"])
        for k, t in zip(keys, ts):
            yield k, [(FAMILY, "temperature", None if t is None else 0, b"9.6")]

    monkeypatch.setattr(WireBigtableClient, "read_rows", read_rows)
    reader = BigtableReader(None, {
        "endpoint": "127.0.0.1:9", "column_family": FAMILY,
        "columns": "pressure:int64,temperature:string", "table_partition_cols": ",".join(PCOLS),
    })
    pieces = (("a", False, "b"), ("c", True, "d"))
    with pytest.raises(ValueError, match=re.escape(f"NULL {column} in the shard {list(pieces)}")):
        list(reader.read(WireRangePartition(pieces, ("127.0.0.1", 9))))
    assert sent == [{"row_keys": [], "row_ranges": [
        {"start_key_closed": b"a", "end_key_closed": b"b"},
        {"start_key_open": b"c", "end_key_closed": b"d"},
    ]}]
