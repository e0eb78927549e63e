"""Seeded weather-balloon cells stores, op streams and the duckdb oracle.

The generator is modelled on the reference's weather-balloon table: a
3-part row key ``region#device#minute``, two int64 qualifiers stored
8-byte big-endian and two UTF-8 qualifiers, several versions per cell and
some NULL holes (a version that writes no cell for a qualifier).  A store
is written in the layout ``sources.cells.write_cells`` produces: key-sorted
parquet files covering disjoint key ranges, plus the manifest.

The oracle never touches the connector: it runs duckdb over the typed
cells the generator kept in memory, applying the latest-version filter
and the (row_key, ts) pivot itself.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = (
    "ap-east1", "ap-south1", "eu-north1", "eu-west3",
    "sa-east1", "us-central1", "us-east4", "us-west2",
)
INT_QUALIFIERS = ("pressure", "altitude")
STR_QUALIFIERS = ("temperature", "status")
QUALIFIERS = INT_QUALIFIERS + STR_QUALIFIERS
STATUS_WORDS = ("ok", "drift", "lost", "recovered", "ascending", "burst")
FAMILY = "measurements"
KEY_COLS = ("region", "device", "minute")
RESULT_COLS = KEY_COLS + ("_timestamp",) + QUALIFIERS
BASE_MINUTE = dt.datetime(2021, 3, 5, 12, 0)
EPOCH = dt.datetime(1970, 1, 1)

READ_OPTIONS = {
    "column_family": FAMILY,
    "columns": ",".join(
        [f"{q}:int64" for q in INT_QUALIFIERS] + [f"{q}:string" for q in STR_QUALIFIERS]
    ),
    "table_partition_cols": ",".join(KEY_COLS),
}


@dataclass(frozen=True)
class StoreSpec:
    """Shape of one generated store.  Every row key gets ``versions``
    versions; each cell of a version is a NULL hole with ``hole_p``."""

    regions: int
    devices: int
    minutes: int
    versions: int
    files: int
    hole_p: float = 0.1


def device_name(i: int) -> str:
    return f"{1000 + i:04d}"


def minute_name(i: int) -> str:
    return (BASE_MINUTE + dt.timedelta(minutes=int(i))).strftime("%Y-%m-%d-%H%M")


def _binary_from_fixed(data: bytes, n: int, width: int) -> pa.Array:
    offsets = np.arange(n + 1, dtype=np.int32) * width
    return pa.Array.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def generate_cells(
    spec: StoreSpec,
    rng: np.random.Generator,
    *,
    regions=None,
    devices=None,
    minutes=None,
    ts_base_us: int = 0,
) -> pa.Table:
    """Typed cells for the cartesian key space (or the given component
    subsets), sorted by (row_key, qualifier, ts).  Columns: the three key
    components, ``row_key``, ``qualifier``, ``ts`` (µs), the typed value
    (``ival`` or ``sval``) and its encoded ``value`` bytes."""
    regions = list(REGIONS[: spec.regions]) if regions is None else list(regions)
    devices = [device_name(i) for i in range(spec.devices)] if devices is None else list(devices)
    minute_idx = np.arange(spec.minutes) if minutes is None else np.asarray(minutes)
    mins = [minute_name(int(i)) for i in minute_idx]

    r_i, d_i, m_i = (a.ravel() for a in np.meshgrid(
        np.arange(len(regions)), np.arange(len(devices)), np.arange(len(mins)), indexing="ij"
    ))
    n_rows = r_i.size
    nq, nv = len(QUALIFIERS), spec.versions
    # one cell slot per (row, version, qualifier); holes drop slots
    row = np.repeat(np.arange(n_rows), nv * nq)
    ver = np.tile(np.repeat(np.arange(nv), nq), n_rows)
    qual = np.tile(np.arange(nq), n_rows * nv)
    keep = rng.random(row.size) >= spec.hole_p
    row, ver, qual = row[keep], ver[keep], qual[keep]
    n = row.size

    # version v of a row is written at minute start + 10 v seconds + jitter;
    # every cell of one version shares its timestamp, so the pivot groups it
    jitter = rng.integers(0, 1_000_000, size=(n_rows, nv))
    minute_us = (
        (BASE_MINUTE - EPOCH) // dt.timedelta(microseconds=1)
        + np.asarray(minute_idx)[m_i] * 60_000_000
    )
    ts = ts_base_us + minute_us[row] + ver * 10_000_000 + jitter[row, ver]

    is_int = qual < len(INT_QUALIFIERS)
    ival = np.where(
        qual == 0,
        rng.integers(-(2**40), 2**40, size=n),
        rng.integers(0, 40_000, size=n),
    )
    temps = np.char.mod("%.1f", np.round(rng.normal(-20.0, 25.0, size=n), 1))
    words = np.asarray(STATUS_WORDS)[rng.integers(0, len(STATUS_WORDS), size=n)]
    sval = np.where(qual == len(INT_QUALIFIERS), temps, words)

    int_mask = pa.array(is_int)
    enc_int = _binary_from_fixed(ival.astype(">i8").tobytes(), n, 8)
    enc_str = pa.array(sval, type=pa.string()).cast(pa.binary())

    row_region = np.asarray(regions, dtype=object)[r_i]
    row_device = np.asarray(devices, dtype=object)[d_i]
    row_minute = np.asarray(mins, dtype=object)[m_i]
    row_key = np.asarray(
        [f"{a}#{b}#{c}" for a, b, c in zip(row_region, row_device, row_minute)], dtype=object
    )
    table = pa.table(
        {
            "region": pa.array(row_region[row], pa.string()),
            "device": pa.array(row_device[row], pa.string()),
            "minute": pa.array(row_minute[row], pa.string()),
            "row_key": pa.array(row_key[row], pa.string()),
            "qualifier": pa.array(np.asarray(QUALIFIERS, dtype=object)[qual], pa.string()),
            "ts": pa.array(ts.astype("int64"), pa.int64()).cast(pa.timestamp("us")),
            "ival": pc.if_else(int_mask, pa.array(ival, pa.int64()), None),
            "sval": pc.if_else(int_mask, None, pa.array(sval, pa.string())),
            "value": pc.if_else(int_mask, enc_int, enc_str),
        }
    )
    return table.sort_by([("row_key", "ascending"), ("qualifier", "ascending"), ("ts", "ascending")])


def user_bytes(cells: pa.Table) -> int:
    """Bytes of user data in the cells: row key, family, qualifier, an
    8-byte timestamp and the value, per cell."""
    per_cell = len(FAMILY) + 8
    return int(
        pc.sum(pc.binary_length(cells["row_key"])).as_py()
        + pc.sum(pc.binary_length(cells["qualifier"])).as_py()
        + pc.sum(pc.binary_length(cells["value"])).as_py()
        + per_cell * cells.num_rows
    )


def write_store(cells: pa.Table, path: str, files: int) -> None:
    """Write ``cells`` as ``files`` key-sorted parquet files over disjoint
    key ranges plus the manifest — the layout ``write_cells`` produces."""
    from datafusion_bigtable_spark.sources.cells import write_manifest

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    store = pa.table(
        {
            "row_key": cells["row_key"],
            "family": pa.array([FAMILY] * cells.num_rows, pa.string()),
            "qualifier": cells["qualifier"],
            "ts": cells["ts"],
            "value": cells["value"],
        }
    )
    keys = store["row_key"].to_numpy(zero_copy_only=False)
    cuts = [0]
    for i in range(1, files):
        c = i * len(keys) // files
        while 0 < c < len(keys) and keys[c] == keys[c - 1]:
            c += 1  # never split one row key across files
        cuts.append(c)
    cuts.append(len(keys))
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        if b > a:
            pq.write_table(store.slice(a, b - a), os.path.join(path, f"part-{i:05d}.parquet"))
    write_manifest(path)


def stored_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


# -- op streams ---------------------------------------------------------------


def _zipf_weights(n: int, rng: np.random.Generator, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.permutation(w / w.sum())


def lookup_ops(spec: StoreSpec, rng: np.random.Generator, n: int) -> list[dict]:
    """``n`` key predicates over (region, device, minute): Zipf-skewed
    regions and devices; 40% ``=`` on every component, 30% ``IN`` on device
    and minute, 30% ``BETWEEN`` on the minute."""
    rw = _zipf_weights(spec.regions, rng)
    dw = _zipf_weights(spec.devices, rng)
    ops = []
    for _ in range(n):
        op = {"region": REGIONS[rng.choice(spec.regions, p=rw)]}
        kind = rng.choice(3, p=[0.4, 0.3, 0.3])
        if kind == 0:
            op["device"] = (device_name(rng.choice(spec.devices, p=dw)),)
            op["minute"] = (minute_name(rng.integers(0, spec.minutes)),)
        elif kind == 1:
            op["device"] = tuple(sorted({device_name(d) for d in rng.choice(spec.devices, size=3, p=dw)}))
            op["minute"] = tuple(sorted({minute_name(m) for m in rng.integers(0, spec.minutes, size=2)}))
        else:
            lo = int(rng.integers(0, spec.minutes))
            hi = min(spec.minutes - 1, lo + int(rng.integers(4, 30)))
            op["device"] = (device_name(rng.choice(spec.devices, p=dw)),)
            op["between"] = (minute_name(lo), minute_name(hi))
        ops.append(op)
    return ops


def op_sql(op: dict) -> str:
    """The op's predicate as SQL, valid in Spark and in duckdb."""
    terms = [f"region = '{op['region']}'"]
    for col in ("device", "minute"):
        vals = op.get(col)
        if vals and len(vals) == 1:
            terms.append(f"{col} = '{vals[0]}'")
        elif vals:
            terms.append(f"{col} IN ({', '.join(repr(v) for v in vals)})")
    if "between" in op:
        terms.append(f"minute BETWEEN '{op['between'][0]}' AND '{op['between'][1]}'")
    return " AND ".join(terms)


def op_filters(op: dict) -> list:
    """The data-source filters Catalyst pushes for ``op_sql(op)``."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThanOrEqual, In, IsNotNull, LessThanOrEqual,
    )

    out = [EqualTo(("region",), op["region"])]
    for col in ("device", "minute"):
        vals = op.get(col)
        if vals:
            out.append(EqualTo((col,), vals[0]) if len(vals) == 1 else In((col,), tuple(vals)))
            out.append(IsNotNull((col,)))
    if "between" in op:
        out += [
            IsNotNull(("minute",)),
            GreaterThanOrEqual(("minute",), op["between"][0]),
            LessThanOrEqual(("minute",), op["between"][1]),
        ]
    return out


SCAN_GROUPINGS = ("region", "device", "substr(minute, 1, 13)")


def scan_query(grouping: str) -> str:
    """The Catalyst aggregate every ``scan`` op runs over the full table."""
    return (
        f"SELECT {grouping} AS g, count(*) AS n, sum(pressure) AS sp, max(altitude) AS ma, "
        "count(temperature) AS nt, min(status) AS ms FROM t GROUP BY 1"
    )


# -- oracle -------------------------------------------------------------------


class Oracle:
    """Expected results computed with duckdb straight from typed cells."""

    def __init__(self, cells: pa.Table):
        import duckdb

        self._con = duckdb.connect()
        self._tables: list[pa.Table] = []
        self.add(cells)

    def add(self, cells: pa.Table) -> None:
        self._tables.append(cells.drop_columns(["value"]))
        self._con.register("cells", pa.concat_tables(self._tables))

    @staticmethod
    def pivot_sql(where: str) -> str:
        cols = ", ".join(
            f"max({'ival' if q in INT_QUALIFIERS else 'sval'}) FILTER (WHERE qualifier = '{q}') AS {q}"
            for q in QUALIFIERS
        )
        return (
            f"SELECT region, device, minute, ts AS _timestamp, {cols} FROM ("
            f"  SELECT * FROM cells WHERE {where}"
            "  QUALIFY row_number() OVER (PARTITION BY row_key, qualifier ORDER BY ts DESC) = 1"
            ") GROUP BY region, device, minute, ts"
        )

    def rows(self, where: str) -> list[tuple]:
        return sorted(self._con.execute(self.pivot_sql(where)).fetchall(), key=repr)

    def scan(self, grouping: str) -> list[tuple]:
        sql = scan_query(grouping).replace("FROM t", f"FROM ({self.pivot_sql('true')})")
        return sorted(self._con.execute(sql).fetchall(), key=repr)
