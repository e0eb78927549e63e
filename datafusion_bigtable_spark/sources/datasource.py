"""PySpark Python Data Source for the wide-column cells store.

This is the full connector analogue of the reference's DataFusion
``TableProvider`` + ``BigtableExec`` (src/datasource.rs:121-175,
src/execute_plan.rs:45-158), registered via ``spark.dataSource.register``
and used as ``spark.read.format("bigtable")``:

- ``schema()``     — the declared relational schema (A2, datasource.rs:57-103).
- ``pushFilters``  — receives Catalyst predicates, feeds the key-range
  composer, and returns **all** filters as unsupported: exactly the
  reference's Inexact pushdown contract (A16, datasource.rs:163-165) —
  ranges prune, Spark re-applies every predicate above the scan.
- ``partitions()`` — ONE InputPartition PER KeyRange.  The reference scans
  single-partition (``UnknownPartitioning(1)``, execute_plan.rs:84-86;
  roadmap gap README.md:50); here every composed range scans in parallel
  on a different executor.  On a full scan, key-disjoint file groups
  packed into partitions of up to 128 MiB (``FilePartition``).
- ``read()``       — per-partition: pyarrow scan of the cells parquet with
  family/key-range/qualifier predicates pushed into the parquet reader
  (the stand-in for the gRPC ``ReadRowsRequest`` + RowFilter chain,
  execute_plan.rs:168-183), then the latest-version filter, cell→row
  pivot and typed decode (A11/A13/A15) in one Arrow kernel
  (``_pivot_partition``) — *partition-local*, because one
  row key's cells never span two key ranges.  The pruned path therefore
  runs with ZERO shuffles, where the DataFrame-assembly path
  (bigtable_table.py) needs one.

Scale: at 100 TB the cells store is written range-partitioned and sorted
by row_key (see sources/cells.py); ``partitions()`` maps ranges to the
overlapping files only (parquet footer min/max — the emulation of
Bigtable's tablet metadata), so a pruned query reads just those files, and
the full-scan path parallelizes over 128 MiB packs of files.

KNOWN UPSTREAM CAVEAT (Spark 4.1, verified by tracing worker invocations):
the JVM caches a Python data source's planned scan
(read function + partitions) per ``load()`` handle and only re-invokes the
Python planning workers when the new query pushes filters.  Consequence:
an UNFILTERED query planned after a key-filtered query on the SAME
DataFrame handle silently reuses the pruned partitions and returns pruned
results.  Use a fresh ``spark.read...load()`` per distinct predicate set
(cheap — planning only).  The library's own surfaces (BigtableTable,
queries registry, tests) always do.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from datafusion_bigtable_spark.config import (
    DEFAULT_SEPARATOR,
    RESERVED_ROWKEY,
    BigtableTableConfig,
    ColumnSpec,
)
from datafusion_bigtable_spark.plans.composer import (
    ComposerError,
    KeyRange,
    compose,
    from_datasource_filters,
)

FORMAT_NAME = "bigtable"


class ScanReuseWarning(RuntimeWarning):
    """Raised (as a warning) when a ``load()`` handle that planned a
    key-pruned scan is reused in a way that can hit the Spark 4.1 Python-DS
    scan cache (see module docstring) and silently return pruned rows."""


def _config_from_options(options) -> BigtableTableConfig:
    def opt(key: str, default: str | None = None) -> str | None:
        v = options.get(key)
        return v if v is not None else default

    path = opt("path") or opt("cells_path")
    if not path and not opt("endpoint"):
        raise ValueError(
            "bigtable data source requires .option('path', <cells parquet>) "
            "or .option('endpoint', 'host:port')"
        )
    columns = []
    for spec in (opt("columns") or "").split(","):
        spec = spec.strip()
        if spec:
            name, _, typ = spec.partition(":")
            columns.append(ColumnSpec(name.strip(), (typ or "string").strip()))
    if not columns:
        raise ValueError("bigtable data source requires .option('columns', 'name:type,...')")
    pcols = tuple(c.strip() for c in (opt("table_partition_cols") or RESERVED_ROWKEY).split(",") if c.strip())
    raw_kt = opt("key_types")
    key_types = (
        tuple(t.strip().lower() for t in raw_kt.split(",") if t.strip()) if raw_kt else None
    )
    return BigtableTableConfig(
        table=opt("table", "bigtable"),
        column_family=opt("column_family", "default"),
        columns=tuple(columns),
        table_partition_cols=pcols,
        table_partition_separator=opt("table_partition_separator", DEFAULT_SEPARATOR),
        only_read_latest=(opt("only_read_latest", "true").lower() == "true"),
        cells_path=path,
        allow_full_scan=(opt("allow_full_scan", "false").lower() == "true"),
        require_manifest=(opt("require_manifest", "false").lower() == "true"),
        key_types=key_types,
    )


@dataclass
class RangePartition(InputPartition):
    """One composed KeyRange → one Spark scan task, carrying the pruned
    list of overlapping files (empty tuple = all files) and optional cell
    timestamp bounds (only set when pushdown is semantics-preserving)."""

    start: str
    end: str
    files: tuple = ()
    ts_lo: object = None
    ts_hi: object = None
    value_preds: tuple = ()
    rows_cap: object = None


@dataclass
class WireRangePartition(InputPartition):
    """One key-range SHARD of a wire-endpoint scan → one Spark task that
    opens its own connection and issues its own ReadRows — the reference's
    executor-side read shape (its TableProvider streams gRPC inside the
    execution plan), and the only shape that scales: the driver plans
    shard boundaries from SampleRowKeys; executors fetch in parallel.
    ``start_open=True`` makes the start bound exclusive (shard k covers
    ``(bound[k-1], bound[k]]`` — SampleRowKeys boundary semantics).
    ``start``/``end`` of None = unbounded."""

    start: object
    end: object
    endpoint: tuple
    start_open: bool = False
    ts_lo: object = None
    ts_hi: object = None
    value_preds: tuple = ()
    rows_cap: object = None


@dataclass
class FilePartition(InputPartition):
    """Full-scan path: consecutive key-disjoint GROUPS of parquet files
    (``groups``, in key order) → one scan task.  A group is the unit the
    pivot needs whole: with a write_cells layout every group is a single
    file; after appends, files whose key ranges overlap form one group,
    because the latest-version filter and the (row_key, ts) pivot are
    partition-local — splitting one row key's cells across tasks would
    resurrect stale versions / emit partial rows (caught by the writer
    round-trip tests).

    Groups are packed by Spark's own file-packing rule
    (``FilePartition.getFilePartitions``) with Spark's default constants,
    fixed: each file costs its on-disk bytes (recorded in the manifest)
    plus 4 MiB (``spark.sql.files.openCostInBytes``), a partition closes
    before it would exceed 128 MiB (``spark.sql.files.maxPartitionBytes``),
    and a group is never split (see ``_pack_groups``).  A small store
    therefore scans as one task: every Python task pays a fixed start-up
    cost (see README, "Scale posture") that dwarfs the work of a few-MB
    group.  The cap was measured on full scans of 3.3 MB, 39 MiB and
    95 MiB stores at local[2] and local[4] (ROADMAP, "Full-scan packing
    cap"): packed scans beat one task per file on all of them."""

    groups: tuple
    ts_lo: object = None
    ts_hi: object = None
    value_preds: tuple = ()
    rows_cap: object = None

    @property
    def files(self) -> tuple:
        return tuple(f for g in self.groups for f in g)


class BigtableReader(DataSourceReader):
    def __init__(self, schema, options):
        self.config = _config_from_options(options)
        # Wire endpoint mode (r7): scan a live ReadRows service instead of
        # a parquet store.  The driver shards key space from SampleRowKeys;
        # every executor task opens its own connection for its shard.
        ep = options.get("endpoint")
        self.endpoint: tuple | None = None
        if ep:
            host, _, port = str(ep).rpartition(":")
            self.endpoint = (host or "127.0.0.1", int(port))
        raw_stride = options.get("sample_stride_bytes")
        self.sample_stride = int(raw_stride) if raw_stride is not None else None
        # Shard-count cap: a pathologically dense SampleRowKeys response
        # (one sample per key) must not plan O(keys) partitions — thin the
        # boundary list instead.  512 is ~4× a large cluster's task wave.
        self.max_wire_shards = int(options.get("max_wire_shards") or 512)
        self.ranges: list[KeyRange] = []
        self._filters_pushed = False
        self._pushed_since_last_plan = False
        self._last_plan_pruned = False
        # Source-side limit (improvement over the reference, which parses a
        # limit but ignores it — src/datasource.rs:140-148): each partition
        # emits at most rows_limit OUTPUT rows and stops pulling parquet
        # batches as soon as the cap is hit, so a `LIMIT n` probe over a
        # 100 TB store reads a handful of Arrow batches instead of the
        # partition.  Per-partition cap: P partitions still yield >= min(n,
        # total) rows, which is all a global LIMIT needs; callers pair the
        # option with df.limit(n) above their filters for exact semantics.
        #
        # SAFETY GATE: capping raw scan output is only sound when every
        # emitted row survives Spark's re-applied filters (the Inexact
        # contract) — otherwise the cap is consumed by rows that are then
        # dropped above, silently returning fewer than n MATCHING rows
        # while real matches were abandoned.  The cap is therefore honored
        # only when the plan's pushed filters are exactly enforced
        # in-scan: key-component predicates fully absorbed into composed
        # ranges (the bt_limit_pushdown case) or no filters at all.  Any
        # residual — widened strict _timestamp bounds, value pushdown
        # gated off under only_read_latest, a predicate the composer could
        # not absorb — disables the cap for that plan (with a warning).
        # Filters Spark never offers to the source (UDFs, unsupported
        # expressions) are invisible here and still unsafe with rows_limit
        # when pushFilters also is not invoked; the option doc says so.
        raw_limit = options.get("rows_limit")
        self.rows_limit = int(raw_limit) if raw_limit is not None else None
        self._limit_safe = True
        # Timestamp-range pushdown (reference roadmap README.md:46-49,
        # never shipped there): conservative [lo, hi] bounds on the cell
        # timestamp, harvested from _timestamp predicates.
        self.ts_range: tuple | None = None
        # Value pushdown (the roadmap's value-range filter): null-rejecting
        # comparisons on declared qualifier columns, pushed as cell-level
        # parquet predicates.  (col, op, python_value) tuples.
        self.value_preds: tuple = ()

    # -- pushdown (A3-A8 pruning + A16 Inexact) ---------------------------
    def pushFilters(self, filters):
        self._filters_pushed = True
        self._pushed_since_last_plan = True
        self.ts_range = self._timestamp_bounds(filters)
        self.value_preds = self._value_predicates(filters)
        preds = from_datasource_filters(
            filters, self.config.table_partition_cols, self.config.key_types
        )
        try:
            self.ranges = compose(
                preds,
                self.config.table_partition_cols,
                self.config.table_partition_separator,
                allow_full_scan=self.config.allow_full_scan,
            )
        except ComposerError:
            if not self.config.allow_full_scan:
                raise
            self.ranges = []
        # rows_limit safety (see __init__): the cap survives this plan only
        # if the scan enforces every pushed filter exactly — i.e. all
        # filters are key predicates the composer absorbed into ranges.
        filters = list(filters)
        self._limit_safe = not filters or (
            bool(self.ranges)
            and self._filters_exactly_absorbed(
                filters, self.config.table_partition_cols, self.config.key_types
            )
        )
        # Inexact contract: claim nothing, Spark re-applies every filter.
        return iter(filters)

    @staticmethod
    def _filters_exactly_absorbed(filters, pcols, key_types=None) -> bool:
        """True iff every pushed filter is a key-component predicate the
        composer absorbs exactly (``=``/``IN`` with literals of the
        component's declared type on key components; a single bound pair
        on the tail forming a BETWEEN — strict int bounds count, they
        tighten exactly).  Exactness assumes stored keys carry exactly the
        declared component count — the same assumption split_row_key
        round-trips on.  ts/value predicates are NEVER exact in-scan
        (strict bounds widen; cell-level drops leave NULL holes the
        re-applied filter removes).  The IsNotNull filters Catalyst pushes
        alongside comparisons are exact only for columns that ALSO carry
        an absorbed constraint (every row a composed range emits has that
        component non-null)."""
        tail = pcols[-1]
        int_cols = (
            {c for c, t in zip(pcols, key_types) if t == "int64"}
            if key_types is not None
            else set()
        )

        def absorbable(col, v):
            if isinstance(v, str):
                return col not in int_cols
            return (
                col in int_cols and isinstance(v, int) and not isinstance(v, bool)
                and -(2**63) <= v < 2**63
            )

        lowers, uppers = 0, 0
        constrained: set = set()
        not_null: set = set()
        tail_points = False
        for f in filters:
            name = type(f).__name__
            col = getattr(f, "attribute", None)
            col = col[0] if isinstance(col, (tuple, list)) and col else col
            v = getattr(f, "value", None)
            if name == "IsNotNull" and col in pcols:
                not_null.add(col)
                continue
            if name == "EqualTo" and col in pcols and absorbable(col, v):
                constrained.add(col)
                tail_points = tail_points or col == tail
                continue
            if name == "In" and col in pcols:
                raw = v or getattr(f, "values", ())
                if raw and all(absorbable(col, x) for x in raw):
                    constrained.add(col)
                    tail_points = tail_points or col == tail
                    continue
                return False
            if name == "GreaterThanOrEqual" and col == tail and absorbable(col, v):
                lowers += 1
                continue
            if name == "LessThanOrEqual" and col == tail and absorbable(col, v):
                uppers += 1
                continue
            # strict int bounds translate exactly (v±1); strict string
            # bounds never reach the composer → residual
            if name == "GreaterThan" and col == tail and col in int_cols and absorbable(col, v) and v < 2**63 - 1:
                lowers += 1
                continue
            if name == "LessThan" and col == tail and col in int_cols and absorbable(col, v) and v > -(2**63):
                uppers += 1
                continue
            return False
        if lowers == uppers == 1:
            constrained.add(tail)
        # a lone bound on the tail is NOT recombined into a Between by
        # from_datasource_filters → residual → unsafe.  Tail POINTS
        # combined with a bound pair are also unsafe: compose() UNIONS the
        # point values with the BETWEEN range (its documented deviation 2),
        # so the scanned range is a superset of the predicates' CONJUNCTION
        # and capped rows can be non-matching (review finding, reproduced).
        return (
            lowers == uppers
            and lowers <= 1
            and not_null <= constrained
            and not (tail_points and lowers == 1)
        )

    @staticmethod
    def _timestamp_bounds(filters) -> tuple | None:
        """Conservative [lo, hi] on the cell ts from `_timestamp`
        comparisons.  Strict bounds are widened to inclusive — legal under
        the Inexact contract (Spark re-applies the exact predicate above)."""
        import datetime as _dt

        from datafusion_bigtable_spark.config import RESERVED_TIMESTAMP

        lo, hi = None, None
        for f in filters:
            col = getattr(f, "attribute", None)
            col = col[0] if isinstance(col, (tuple, list)) and col else col
            v = getattr(f, "value", None)
            if col != RESERVED_TIMESTAMP or not isinstance(v, _dt.datetime):
                continue
            name = type(f).__name__
            if name in ("GreaterThan", "GreaterThanOrEqual"):
                lo = v if lo is None else max(lo, v)
            elif name in ("LessThan", "LessThanOrEqual"):
                hi = v if hi is None else min(hi, v)
            elif name == "EqualTo":
                lo = v if lo is None else max(lo, v)
                hi = v if hi is None else min(hi, v)
        return (lo, hi) if (lo is not None or hi is not None) else None

    # NOTE on gating: cell-level ts pruning is only semantics-preserving in
    # version-unnest mode (only_read_latest=False).  Under the latest-
    # version filter, dropping a NEWER out-of-range version would promote
    # an older in-range one into a row the un-pruned scan never produces —
    # and that wrong row PASSES the re-applied _timestamp filter.  So ts
    # pushdown is disabled when only_read_latest=True (see partitions()).
    # The same gate applies to value pushdown below.

    def _value_predicates(self, filters) -> tuple:
        """Value pushdown (reference roadmap's ValueRangeFilter analogue,
        README.md:46-49 — never shipped there): null-rejecting comparisons
        (=, <, <=, >, >=) on DECLARED qualifier columns become cell-level
        predicates ``qualifier != col OR value <cmp> encoded``.

        Why that exact shape is safe (unnest mode + Inexact re-apply):
        dropping only the FILTER column's non-matching cells can at most
        turn its slot NULL or remove the (key, ts) row entirely; every such
        row would have been rejected by the re-applied null-rejecting
        predicate anyway.  Other qualifiers' cells are never touched.
        IS NULL / IS NOT NULL are NOT pushable — creating a NULL hole
        would flip IS NULL from false to true (resurrection).
        """
        ops = {
            "EqualTo": "eq",
            "GreaterThan": "gt",
            "GreaterThanOrEqual": "ge",
            "LessThan": "lt",
            "LessThanOrEqual": "le",
        }
        specs = {s.name: s.type for s in self.config.columns}
        out = []
        for f in filters:
            op = ops.get(type(f).__name__)
            col = getattr(f, "attribute", None)
            col = col[0] if isinstance(col, (tuple, list)) and col else col
            v = getattr(f, "value", None)
            if op is None or col not in specs or v is None:
                continue
            typ = specs[col]
            if typ in ("int64", "long") and isinstance(v, int):
                out.append((col, op, v))
            elif typ == "string" and isinstance(v, str):
                # utf-8 byte order == code-point order; Spark compares by
                # UTF-16 code UNIT, which diverges above the BMP — only
                # push ASCII bounds (equality is order-free, always safe)
                if op == "eq" or v.isascii():
                    out.append((col, op, v))
            elif typ == "binary" and isinstance(v, (bytes, bytearray)) and op == "eq":
                out.append((col, op, bytes(v)))
        # The pushable subset of the roadmap's value-regex filter (these
        # are what Catalyst translates LIKE patterns into — it never
        # offers full regexes to a source):
        # - LIKE 'prefix%'  → closed byte RANGE; byte order == UTF-16
        #   order only within ASCII, so prefix bounds stay ASCII-gated.
        # - LIKE '%infix%' / LIKE '%suffix' → byte substring/suffix match.
        #   Equality-like (no ordering), and UTF-8 is self-synchronizing —
        #   a valid-UTF-8 pattern cannot begin with a continuation byte,
        #   so a byte-level match IS a code-point-level match: safe for
        #   ANY unicode pattern, not just ASCII.
        for f in filters:
            name = type(f).__name__
            if name not in ("StringStartsWith", "StringContains", "StringEndsWith"):
                continue
            col = getattr(f, "attribute", None)
            col = col[0] if isinstance(col, (tuple, list)) and col else col
            v = getattr(f, "value", None)
            if specs.get(col) != "string" or not isinstance(v, str) or not v:
                continue
            if name == "StringStartsWith" and v.isascii():
                out.append((col, "sw", v))
            elif name == "StringContains":
                out.append((col, "ct", v))
            elif name == "StringEndsWith":
                out.append((col, "ew", v))
        return tuple(out)

    @staticmethod
    def _value_expr(pa_ds, typ: str, op: str, v):
        """pyarrow predicate for ``value <op> v`` over encoded cell bytes.

        int64 is stored 8-byte big-endian TWO'S COMPLEMENT: byte order is
        numeric order within one sign, but negatives (first bit set) sort
        ABOVE positives — so range predicates become a union of the two
        sign intervals.
        """
        val = pa_ds.field("value")
        if typ in ("int64", "long"):
            enc = int(v).to_bytes(8, "big", signed=True)
            neg = val >= bytes([0x80] + [0x00] * 7)  # sign bit set
            pos = val <= bytes([0x7F] + [0xFF] * 7)
            if op == "eq":
                return val == enc
            ge_like = val >= enc if op == "ge" else val > enc
            le_like = val <= enc if op == "le" else val < enc
            if op in ("ge", "gt"):
                #  v>=0: positives above enc;  v<0: negatives above enc + all positives
                return (pos & ge_like) if v >= 0 else ((neg & ge_like) | pos)
            #  v>=0: negatives + positives below enc;  v<0: negatives below enc
            return (neg | (pos & le_like)) if v >= 0 else (neg & le_like)
        enc = v if isinstance(v, bytes) else str(v).encode("utf-8")
        if op == "sw":
            # starts-with: [prefix, next-prefix) — ASCII last byte < 0x7f,
            # so incrementing never overflows
            upper = enc[:-1] + bytes([enc[-1] + 1])
            return (val >= enc) & (val < upper)
        if op in ("ct", "ew"):
            import pyarrow.compute as pc

            fn = pc.match_substring if op == "ct" else pc.ends_with
            return fn(val, enc.decode("utf-8"))
        return {
            "eq": val == enc,
            "ge": val >= enc,
            "gt": val > enc,
            "le": val <= enc,
            "lt": val < enc,
        }[op]

    # -- parallelism (improves on UnknownPartitioning(1)) -----------------
    def _files(self) -> list[str]:
        p = self.config.cells_path
        if os.path.isdir(p):
            return sorted(glob.glob(os.path.join(p, "*.parquet")))
        return [p]

    def _file_stats(self) -> list[dict]:
        """Per-file ``{file, min_key, max_key, min_ts, max_ts}`` — the
        emulation of Bigtable's tablet metadata.  Served from the store's
        manifest table when present (one small parquet read, written once
        by write_cells — sources/cells.py); falls back to the driver-side
        footer loop, which is fine to ~10⁵ files but O(files) per plan.
        ``require_manifest=True`` turns a manifest miss (absent or stale)
        into an error instead — the 100 TB posture (VERDICT r11 #6)."""
        from datafusion_bigtable_spark.sources.cells import footer_file_stats, read_manifest

        manifest = read_manifest(self.config.cells_path)
        if manifest is not None:
            return manifest
        if self.config.require_manifest:
            raise RuntimeError(
                f"bigtable: no usable manifest under {self.config.cells_path!r} "
                "(absent, or stale against the current *.parquet file set) and "
                "require_manifest=true forbids the O(files) driver footer loop; "
                "run sources.cells.write_manifest(path) after the last append/"
                "compact, or drop the option for small stores"
            )
        return footer_file_stats(self._files())

    @staticmethod
    def _ts_overlaps(st: dict, lo, hi) -> bool:
        """File-level ts pruning (files lacking stats never prune)."""
        if st["min_ts"] is None or st["max_ts"] is None:
            return True
        return (hi is None or st["min_ts"] <= hi) and (lo is None or st["max_ts"] >= lo)

    def partitions(self) -> Sequence[InputPartition]:
        # CONSUME the pushed ranges: Spark reuses this reader instance for
        # every query planned from the same load(), but only calls
        # pushFilters when the plan HAS filters — without the reset, an
        # unfiltered query planned after a pruned one silently inherits the
        # stale ranges (wrong results, found by probing).
        import warnings

        ranges, self.ranges = self.ranges, []
        ts_range, self.ts_range = self.ts_range, None
        ts_push = ts_range is not None and not self.config.only_read_latest
        ts_lo, ts_hi = ts_range if ts_push else (None, None)
        value_preds, self.value_preds = self.value_preds, ()
        if self.config.only_read_latest:
            value_preds = ()  # same promotion hazard as ts — gate to unnest
        limit_safe, self._limit_safe = self._limit_safe, True
        rows_cap = self.rows_limit if limit_safe else None
        if self.rows_limit is not None and not limit_safe:
            warnings.warn(
                "bigtable: rows_limit disabled for this plan — its filters "
                "are not exactly enforced in-scan, so capping raw scan "
                "output could return fewer than the requested matching "
                "rows (see the rows_limit option doc)",
                stacklevel=2,
            )
        if self._last_plan_pruned and not self._pushed_since_last_plan:
            # The JVM re-invoked planning without pushing filters after this
            # handle planned a pruned scan.  The reset above makes THIS call
            # correct, but the reuse pattern is exactly the one the JVM-side
            # scan cache can short-circuit (returning stale pruned rows
            # without ever reaching Python) — tell the user loudly.
            warnings.warn(
                "bigtable: load() handle reused across predicate sets; the "
                "Spark 4.1 Python-DS scan cache can silently return "
                "key-pruned rows for an unfiltered re-query of the same "
                "handle. Use a fresh spark.read...load() per predicate set.",
                ScanReuseWarning,
                stacklevel=2,
            )
            # On this replan path the handle cannot know whether the new
            # query carries filters (they were never pushed here): a
            # rows_cap would be consumed by raw rows the re-applied filters
            # then discard — returning fewer matching rows than requested.
            # Drop the cap; the conservative replan scans uncapped.
            rows_cap = None
        self._pushed_since_last_plan = False
        self._last_plan_pruned = bool(ranges) or ts_push or bool(value_preds)
        if self.endpoint is not None:
            return self._wire_partitions(ranges, ts_lo, ts_hi, value_preds, rows_cap)
        if ranges:
            # File-level pruning: a range partition only scans files whose
            # footer [min,max] row_key interval overlaps the range — with a
            # write_cells() layout (range-partitioned, sorted) that is one
            # or two files per range regardless of store size.  Ts bounds
            # prune further and travel with the partition for row-group-
            # level pruning in the scan.
            stats = self._file_stats()
            parts = []
            for r in ranges:
                files = [
                    st["file"]
                    for st in stats
                    if (
                        st["min_key"] is None
                        or st["max_key"] is None
                        or (st["min_key"] <= r.end and st["max_key"] >= r.start)
                    )
                    and self._ts_overlaps(st, ts_lo, ts_hi)
                ]
                if files:
                    parts.append(
                        RangePartition(r.start, r.end, tuple(files), ts_lo, ts_hi, value_preds, rows_cap)
                    )
            # every range pruned to zero files → still need ≥1 partition so
            # the scan yields an empty result with the right schema
            return parts or [
                RangePartition(ranges[0].start, ranges[0].end, (self._files()[0],), ts_lo, ts_hi, value_preds, rows_cap)
            ]
        if not self.config.allow_full_scan:
            raise ComposerError("table_partition_cols: filter is not provided or not supported")
        stats = self._file_stats()
        if ts_push:
            stats = [st for st in stats if self._ts_overlaps(st, ts_lo, ts_hi)] or stats[:1]
        sizes = {st["file"]: st["bytes"] for st in stats}
        return [
            FilePartition(tuple(tuple(g) for g in part), ts_lo, ts_hi, value_preds, rows_cap)
            for part in _pack_groups(_key_disjoint_groups(stats), sizes)
        ]

    def _wire_partitions(self, ranges, ts_lo, ts_hi, value_preds, rows_cap):
        """Shard the composed ranges (or the full key space) at
        SampleRowKeys boundaries: shard k covers ``(bound[k-1], bound[k]]``
        so shards are disjoint and ordered, one executor task each — the
        same planner shape the real service's connectors use (tablet
        boundaries ≈ sample keys).  Driver work is O(#samples); no parquet
        footers, no driver-side data."""
        from datafusion_bigtable_spark.sources.grpc_transport import _table_name
        from datafusion_bigtable_spark.sources.wire import WireBigtableClient

        if not ranges and not self.config.allow_full_scan:
            raise ComposerError(
                "table_partition_cols: filter is not provided or not supported"
            )
        client = WireBigtableClient(*self.endpoint)
        sample_req: dict = {"table_name": _table_name(self.config)}
        if self.sample_stride is not None:
            sample_req["stride_bytes"] = self.sample_stride
        bounds = [s["row_key"] for s in client.sample_row_keys(sample_req)]
        if len(bounds) > self.max_wire_shards:
            # thin to ≤ max shards, always keeping the LAST boundary (the
            # max-key marker the trailing-segment elision relies on)
            last = bounds[-1]
            step = -(-len(bounds) // self.max_wire_shards)
            bounds = bounds[step - 1 :: step]
            if not bounds or bounds[-1] != last:
                bounds.append(last)
        spans = [(r.start, r.end) for r in ranges] or [(None, None)]
        parts = []
        for s, e in spans:
            cuts = [b for b in bounds if (s is None or b > s) and (e is None or b < e)]
            lo, lo_open = s, False
            for b in cuts:
                parts.append(
                    WireRangePartition(
                        lo, b, self.endpoint, lo_open, ts_lo, ts_hi, value_preds, rows_cap
                    )
                )
                lo, lo_open = b, True
            if lo_open and e is None and bounds and lo == bounds[-1]:
                continue  # (last_key, ∞) is empty by the SampleRowKeys contract
            parts.append(
                WireRangePartition(
                    lo, e, self.endpoint, lo_open, ts_lo, ts_hi, value_preds, rows_cap
                )
            )
        return parts or [
            # zero shards (empty table): one unbounded probe so the scan
            # yields an empty frame with a stable schema
            WireRangePartition(None, None, self.endpoint, False, ts_lo, ts_hi, value_preds, rows_cap)
        ]

    # -- scan (A1/A11/A13/A14/A15, partition-local) -----------------------
    def read(self, partition: InputPartition) -> Iterator:
        # the cap travels on the partition: it was validated against THIS
        # plan's filters at planning time (see partitions())
        remaining = getattr(partition, "rows_cap", None)
        if remaining is None:
            yield from self._scan(partition)
            return
        for batch in self._scan(partition):
            if batch.num_rows > remaining:
                batch = batch.slice(0, remaining)
            yield batch
            remaining -= batch.num_rows
            if remaining <= 0:
                # closing the generator abandons the parquet batch stream:
                # no further IO for this partition
                return

    def _scan(self, partition: InputPartition) -> Iterator:
        if isinstance(partition, WireRangePartition):
            yield from self._wire_scan(partition)
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pa_ds

        cfg = self.config
        flt = pa_ds.field("family") == cfg.column_family
        flt = flt & pa_ds.field("qualifier").isin(list(cfg.qualifiers))
        # ts bounds are only ever attached when pushdown is gated-safe
        if getattr(partition, "ts_lo", None) is not None:
            flt = flt & (pa_ds.field("ts") >= partition.ts_lo)
        if getattr(partition, "ts_hi", None) is not None:
            flt = flt & (pa_ds.field("ts") <= partition.ts_hi)
        specs = {s.name: s.type for s in cfg.columns}
        for col, op, v in getattr(partition, "value_preds", ()):
            # cells of OTHER qualifiers always pass; only the filter
            # column's cells are constrained (see _value_predicates)
            flt = flt & (
                (pa_ds.field("qualifier") != col) | self._value_expr(pa_ds, specs[col], op, v)
            )
        if isinstance(partition, RangePartition):
            flt = flt & (pa_ds.field("row_key") >= partition.start)
            flt = flt & (pa_ds.field("row_key") <= partition.end)
            groups = [list(partition.files) or self._files()]
        else:
            groups = [list(g) for g in partition.groups]

        # The groups are key-disjoint and in key order, so they stream one
        # after another through one carry: the cells of the last (possibly
        # incomplete) row key seen so far, an Arrow slice that joins the
        # next chunk.  A group whose files stream in key order (every
        # write_cells store) is pivoted batch by batch: an executor holds
        # one Arrow batch plus one row key's cells, never the partition.
        # A group that footer statistics cannot prove key-sorted (missing
        # stats, overlapping row groups or files) is materialised whole —
        # correct for any layout, memory-bounded by the group.
        carry = None
        emitted = False
        for files in groups:
            ordered = _key_sorted_order(files)
            if ordered is None:
                dataset = pa_ds.dataset(files, format="parquet")
                chunks = [dataset.to_table(columns=CELL_COLUMNS, filter=flt)]
            else:
                dataset = pa_ds.dataset(ordered, format="parquet")
                chunks = (
                    pa.Table.from_batches([b])
                    for b in dataset.to_batches(columns=CELL_COLUMNS, filter=flt, batch_size=65536)
                )
            for cells in chunks:
                if cells.num_rows == 0:
                    continue
                if carry is not None:
                    cells = pa.concat_tables([carry, cells])
                # a materialised chunk is complete; a streamed one is cut
                # before its trailing key run
                keys = cells["row_key"]
                cut = cells.num_rows if ordered is None else pc.index(keys, keys[-1]).as_py()
                carry = cells.slice(cut) if cut < cells.num_rows else None
                if cut:
                    emitted = True
                    yield from _pivot_partition(cells.slice(0, cut), cfg)
        if carry is not None:
            yield from _pivot_partition(carry, cfg)
        elif not emitted:
            # no rows at all: emit one empty batch for a stable schema
            yield from _pivot_partition(_cells_table(), cfg)

    def _wire_scan(self, partition: WireRangePartition) -> Iterator:
        """Executor-side ReadRows over the wire for one shard: this task
        opens its own connection, streams its key range, and pivots rows
        as they arrive.  The filter work rides the REQUEST (family pin,
        cells-per-column limit in latest mode, qualifier regex, value
        predicates, unnest-gated ts bounds), so wire traffic is already
        reduced server-side — the executor holds one chunk of complete
        rows, never the shard.  NOTE value predicates reach here only in
        version-unnest plans (partitions() gates them in latest mode,
        matching the parquet path); the wire chain places value filters
        after the latest limit, so either gating is sound — Spark
        re-applies every filter above regardless (A16)."""
        from datafusion_bigtable_spark.sources.cells import _naive_datetime_to_us
        from datafusion_bigtable_spark.sources.grpc_transport import (
            build_read_rows_request,
        )
        from datafusion_bigtable_spark.sources.wire import WireBigtableClient

        cfg = self.config
        lo_us, hi_us = (
            None if t is None else _naive_datetime_to_us(t) for t in (partition.ts_lo, partition.ts_hi)
        )
        req = build_read_rows_request(
            cfg,
            [],
            value_preds=tuple(partition.value_preds),
            ts_range_us=(lo_us, hi_us) if (lo_us is not None or hi_us is not None) else None,
        )
        rng: dict = {}
        if partition.start is not None:
            key = "start_key_open" if partition.start_open else "start_key_closed"
            rng[key] = partition.start.encode("utf-8")
        if partition.end is not None:
            rng["end_key_closed"] = partition.end.encode("utf-8")
        req["rows"] = {"row_keys": [], "row_ranges": [rng] if rng else []}

        buf: tuple[list, ...] = ([], [], [], [])  # row_key, qualifier, ts_us, value

        def flush():
            cells = _cells_table(*buf)
            for v in buf:
                v.clear()
            yield from _pivot_partition(cells, cfg)

        client = WireBigtableClient(*partition.endpoint)
        emitted = False
        for row_key, cells in client.read_rows(req):
            for _family, qualifier, ts, value in cells:
                buf[0].append(row_key)
                buf[1].append(qualifier)
                buf[2].append(ts)
                buf[3].append(value)
            if len(buf[0]) >= 65536:
                # rows arrive COMPLETE (one frame per row), so every chunk
                # boundary is a row boundary — no carry logic needed
                yield from flush()
                emitted = True
        if buf[0] or not emitted:
            yield from flush()


def _key_disjoint_groups(stats: list[dict]) -> list[list[str]]:
    """Partition the store's files into groups whose row_key ranges are
    pairwise disjoint ACROSS groups (interval sweep over footer/manifest
    [min,max]).  A file without key stats cannot be proven disjoint from
    anything → everything collapses into one group (correct, sequential).
    write_cells stores come out one file per group (full parallelism);
    appended stores merge only the overlapping groups."""
    if not stats:
        return []
    if any(st["min_key"] is None or st["max_key"] is None for st in stats):
        return [[st["file"] for st in stats]]
    groups: list[list[str]] = []
    cur: list[str] = []
    cur_max: str | None = None
    for st in sorted(stats, key=lambda s: (s["min_key"], s["max_key"])):
        if cur and st["min_key"] > cur_max:
            groups.append(cur)
            cur, cur_max = [], None
        cur.append(st["file"])
        cur_max = st["max_key"] if cur_max is None else max(cur_max, st["max_key"])
    groups.append(cur)
    return groups


# Spark's defaults for spark.sql.files.maxPartitionBytes and
# spark.sql.files.openCostInBytes: the constants of its file-packing rule.
_PACK_MAX_BYTES = 128 * 1024 * 1024
_PACK_OPEN_COST_BYTES = 4 * 1024 * 1024


def _pack_groups(groups: list[list[str]], sizes: dict[str, int]) -> list[list[list[str]]]:
    """Pack consecutive key-disjoint groups into scan partitions, whole and
    in order: each file costs ``sizes[file]`` plus the open cost, and a
    partition closes before a group would take it past the cap.  A group
    larger than the cap is a partition of its own."""
    parts: list[list[list[str]]] = []
    cur: list[list[str]] = []
    cur_bytes = 0
    for g in groups:
        cost = sum(sizes[f] + _PACK_OPEN_COST_BYTES for f in g)
        if cur and cur_bytes + cost > _PACK_MAX_BYTES:
            parts.append(cur)
            cur, cur_bytes = [], 0
        cur.append(g)
        cur_bytes += cost
    if cur:
        parts.append(cur)
    return parts


def _key_sorted_order(files: list[str]):
    """Return the files ordered by key range if footer statistics PROVE the
    whole scan streams in non-decreasing row_key order (row groups sorted
    and non-overlapping within each file; files pairwise disjoint).
    Returns None when that cannot be proven — callers must materialize."""
    import pyarrow.parquet as pq

    spans = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        idx = next(
            (i for i in range(meta.num_columns)
             if meta.row_group(0).column(i).path_in_schema == "row_key"),
            None,
        )
        if idx is None:
            return None
        prev_max = None
        fmin = fmax = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            # equality allowed: a key may span adjacent row groups; the
            # carry-over handles contiguous boundaries
            if prev_max is not None and st.min < prev_max:
                return None
            prev_max = st.max
            fmin = st.min if fmin is None else fmin
            fmax = st.max
        spans.append((fmin, fmax, f))
    spans.sort()
    for (_, e1, _), (s2, _, _) in zip(spans, spans[1:]):
        if s2 < e1:  # files overlap → interleaved keys across fragments
            return None
    return [f for _, _, f in spans]


CELL_COLUMNS = ["row_key", "qualifier", "ts", "value"]
# rows per output batch of the pivot kernel: bounds each batch's string and
# binary columns well below Arrow's 2 GiB per-array offset limit
_PIVOT_BATCH_ROWS = 65536


def _arrow_schema(cfg: BigtableTableConfig):
    """The declared Spark schema (``cfg.schema()``) as an Arrow schema."""
    import pyarrow as pa

    types = {
        "string": pa.string(),
        "long": pa.int64(),
        "binary": pa.binary(),
        "double": pa.float64(),
        "timestamp_ntz": pa.timestamp("us"),
    }
    return pa.schema([pa.field(f.name, types[f.dataType.typeName()]) for f in cfg.schema().fields])


def _cells_table(row_key=(), qualifier=(), ts_us=(), value=()):
    """A cells table in the kernel's input layout; ``ts_us`` are epoch µs."""
    import pyarrow as pa

    return pa.table(
        {
            "row_key": pa.array(row_key, pa.string()),
            "qualifier": pa.array(qualifier, pa.string()),
            "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            "value": pa.array(value, pa.binary()),
        }
    )


def _pivot_partition(cells, cfg: BigtableTableConfig):
    """Latest-version filter + (row_key, ts) pivot + key split + typed
    decode for one chunk of cells, as one Arrow kernel — the reference's
    cell→row loop (execute_plan.rs:186-304), emitting NULL instead of empty
    bytes for a missing cell.

    ``cells`` is a ``pyarrow.Table`` with columns row_key, qualifier, ts,
    value (``CELL_COLUMNS``).  Every key the chunk holds must be complete in
    it (the callers cut chunks at row-key boundaries).  Yields
    RecordBatches in the declared schema, rows ordered by (row_key, ts):
    one batch, or one per ``_PIVOT_BATCH_ROWS`` rows of a larger chunk (a
    materialised group).  Keys and values are handled with 64-bit offsets,
    so a chunk may hold more than 2 GiB of either.

    Semantics (pinned against a duckdb reference in
    tests/test_pivot_kernel.py):
    - cells of undeclared qualifiers are dropped, like ``pivot_cells``;
    - latest mode keeps the newest cell per (row_key, qualifier); then one
      cell per (row_key, ts, qualifier) survives.  Ties go to the LAST cell
      in input order (the reference's HashMap insertion); a NULL value is a
      cell like any other, so it never resurrects an older version;
    - int64 values decode 8-byte big-endian, any other length → NULL;
      strings decode UTF-8, invalid bytes → U+FFFD;
    - the key splits literally on the separator; a missing component is
      NULL, surplus parts are ignored; int64 components decode with
      NULL-for-malformed (plans/keycodec.py).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = _arrow_schema(cfg)
    quals = list(cfg.qualifiers)
    qcode = pc.index_in(cells["qualifier"], value_set=pa.array(quals, pa.string()))
    if qcode.null_count:
        keep = pc.is_valid(qcode)
        cells, qcode = cells.filter(keep), qcode.filter(keep)
    if cells.num_rows == 0:
        yield pa.RecordBatch.from_pylist([], schema=schema)
        return
    # 64-bit offsets: a materialised group may hold more than 2 GiB of
    # keys or values; the output narrows back one bounded batch at a time
    row_key = cells["row_key"].cast(pa.large_string()).combine_chunks()
    value = cells["value"].cast(pa.large_binary()).combine_chunks()
    ts = cells["ts"].combine_chunks().cast(pa.timestamp("us"))

    # Integer sort keys: the row key's rank among the chunk's distinct
    # keys, the declared qualifier index and the ts.  The sorts are stable,
    # so input position is the implicit last key: "last in input order" is
    # last in its run after the sort.
    k = _key_ranks(row_key)
    q = qcode.combine_chunks().to_numpy().astype(np.int64)
    t = ts.cast(pa.int64()).to_numpy()
    if cfg.only_read_latest:
        # newest per (row_key, qualifier), then back into (row_key, ts) order
        idx = _stable_order(k, q, t)
        idx = idx[_last_of_runs(k[idx], q[idx])]
        idx = idx[_stable_order(k[idx], t[idx])]
    else:
        idx = _stable_order(k, t, q)
        idx = idx[_last_of_runs(k[idx], t[idx], q[idx])]
    k, q, t = k[idx], q[idx], t[idx]

    row_start = np.ones(len(idx), dtype=bool)
    row_start[1:] = (k[1:] != k[:-1]) | (t[1:] != t[:-1])
    row_id = np.cumsum(row_start) - 1
    n_rows = int(row_id[-1]) + 1
    first = idx[row_start]

    # scatter: slot[r, j] = the cell holding qualifier j of row r, or -1
    slot = np.full((n_rows, len(quals)), -1, dtype=np.int64)
    slot[row_id, q] = idx

    # key split and decode once per distinct key, then expand to the rows
    row_k = k[row_start]
    key_start = np.ones(n_rows, dtype=bool)
    key_start[1:] = row_k[1:] != row_k[:-1]
    expand = np.cumsum(key_start) - 1
    comps = _split_row_key(row_key.take(pa.array(first[key_start])), cfg)
    fields = [schema.field(c.name) for c in cfg.columns]
    for r0 in range(0, n_rows, _PIVOT_BATCH_ROWS):
        rows = slice(r0, r0 + _PIVOT_BATCH_ROWS)
        out = [c.take(pa.array(expand[rows])).cast(f.type) for c, f in zip(comps, schema)]
        out.append(ts.take(pa.array(first[rows])))
        for j, field in enumerate(fields):
            col = slot[rows, j]
            raw = value.take(pa.array(col, mask=col < 0))
            if field.type == pa.int64():
                out.append(_decode_be_int64(raw))
            elif field.type == pa.binary():
                out.append(raw.cast(pa.binary()))
            else:  # the reference's catch-all: UTF-8 text, then the declared type
                out.append(_decode_utf8(raw).cast(field.type))
        yield pa.RecordBatch.from_arrays(out, schema=schema)


def _key_ranks(row_key):
    """Each row key's rank among the distinct keys (int64): a hash encode
    plus a sort of the distinct keys only."""
    import numpy as np
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(row_key)
    rank = np.empty(len(enc.dictionary), dtype=np.int64)
    rank[pc.sort_indices(enc.dictionary).to_numpy()] = np.arange(len(rank))
    return rank[enc.indices.to_numpy()]


def _stable_order(*keys):
    """Stable ``sort_indices`` over integer key columns (lexicographic)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    table = pa.table({str(i): key for i, key in enumerate(keys)})
    return pc.sort_indices(
        table, sort_keys=[(str(i), "ascending") for i in range(len(keys))]
    ).to_numpy()


def _last_of_runs(*keys):
    """Mask of the last element of each run of equal key tuples."""
    import numpy as np

    last = np.ones(len(keys[0]), dtype=bool)
    last[:-1] = keys[0][1:] != keys[0][:-1]
    for key in keys[1:]:
        last[:-1] |= key[1:] != key[:-1]
    return last


def _split_row_key(keys, cfg: BigtableTableConfig) -> list:
    """One column per key component for ``keys``: a literal split on the
    separator (a missing part is NULL, surplus parts are ignored), int64
    components decoded."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ktypes = cfg.key_types or ("string",) * len(cfg.table_partition_cols)
    if len(cfg.table_partition_cols) == 1:
        comps = [keys]
    else:
        parts = pc.split_pattern(keys, pattern=cfg.table_partition_separator)
        offsets = parts.offsets.to_numpy()
        lengths = np.diff(offsets)
        comps = [
            parts.values.take(pa.array(offsets[:-1] + i, mask=lengths <= i))
            for i in range(len(cfg.table_partition_cols))
        ]
    return [_decode_int_keys(c) if typ == "int64" else c for c, typ in zip(comps, ktypes)]


def _decode_int_keys(comps):
    """Order-preserving int64 key components (plans/keycodec.py) → int64;
    a NULL or malformed component, or one outside int64, decodes to NULL."""
    import pyarrow as pa

    from datafusion_bigtable_spark.plans.keycodec import decode_int_key

    def one(s):
        if s is None:
            return None
        try:
            v = decode_int_key(s)
        except ValueError:
            return None
        return v if -(2**63) <= v < 2**63 else None

    return pa.array([one(s) for s in comps.to_pylist()], pa.int64())


def _decode_be_int64(raw):
    """8-byte big-endian two's complement values → int64, read straight
    from the large_binary array's data buffer; NULL or any other length →
    NULL."""
    import numpy as np
    import pyarrow as pa

    n = len(raw)
    _validity, offsets_buf, data_buf = raw.buffers()
    offsets = np.frombuffer(offsets_buf, dtype=np.int64, count=n + 1, offset=raw.offset * 8)
    ok = np.diff(offsets) == 8
    if raw.null_count:
        ok &= raw.is_valid().to_numpy(zero_copy_only=False)
    out = np.zeros(n, dtype=np.int64)
    if ok.any():
        data = np.frombuffer(data_buf, dtype=np.uint8)
        at = offsets[:-1][ok, None] + np.arange(8)
        out[ok] = data[at].view(">i8").ravel()
    return pa.array(out, mask=~ok)


def _decode_utf8(raw):
    """Binary → string.  Valid UTF-8 (the common case) is a zero-copy
    cast; a column that fails validation decodes with U+FFFD replacement."""
    import pyarrow as pa

    try:
        return raw.cast(pa.string())
    except pa.ArrowInvalid:
        return pa.array(
            [None if b is None else b.decode("utf-8", errors="replace") for b in raw.to_pylist()],
            pa.string(),
        )


@dataclass
class _CellsWriteCommit(WriterCommitMessage):
    staged: str  # task-local staged parquet file


@dataclass
class _WireWriteCommit(WriterCommitMessage):
    applied: int  # rows this task pushed through MutateRows


class BigtableWriter(DataSourceWriter):
    """``df.write.format("bigtable")`` — the reference's unshipped
    roadmap item "writes to Bigtable" (README.md:46-49), expressed for the
    cells store: each task UNPIVOTS its relational rows (key components +
    _timestamp + qualifier columns) back into canonical cells, encodes
    values (int64 → big-endian, string → UTF-8, binary pass-through — the
    exact inverse of operators/decode.py), sorts by row_key and stages one
    parquet file; commit() atomically moves staged files into the store
    and rewrites the manifest.  NULL column values write NO cell
    (round-tripping the NULL-hole pivot semantics).

    Scale: one file per task, sorted within; cross-task key overlap is
    legal (the reader's sorted-stream proof falls back to materialization
    when footers overlap), and the manifest refresh keeps planning O(1).
    For a real Bigtable backend this class is where MutateRows batching
    would live; the parquet layout IS the stand-in service.
    """

    def __init__(self, schema, options, overwrite: bool):
        import uuid

        self.config = _config_from_options(options)
        # Endpoint mode (r7): each task pushes its partition through
        # MutateRows over its own connection — executor-parallel writes,
        # the symmetric twin of the endpoint read path.  Semantics are the
        # SERVICE's, not the staged commit's: per-row atomicity, no
        # job-level rollback (abort cannot unwrite completed tasks), and
        # idempotent task retries (SetCell carries the row's explicit
        # _timestamp, so a replayed batch version-replaces itself).
        ep = options.get("endpoint")
        self.endpoint: tuple | None = None
        if ep:
            host, _, port = str(ep).rpartition(":")
            self.endpoint = (host or "127.0.0.1", int(port))
            if overwrite:
                raise ValueError(
                    "bigtable: mode('overwrite') is not supported for an "
                    "endpoint write — MutateRows has no truncate; use "
                    "mode('append')"
                )
        self.overwrite = overwrite
        self.job_id = uuid.uuid4().hex[:12]
        store = self.config.cells_path
        self.staging = (
            os.path.join(store, "_staging", self.job_id) if store else None
        )

    # -- executor side ----------------------------------------------------
    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from datafusion_bigtable_spark.sources.cells import encode_relational_row

        cfg = self.config
        cells: list[tuple] = []
        for row in iterator:
            # shared row→cells encoder (sources/cells.py) — the MutateRows
            # wire path uses the same one, so parquet staging and wire
            # mutations cannot drift
            cells.extend(encode_relational_row(cfg, row.asDict()))
        if self.endpoint is not None:
            from datafusion_bigtable_spark.sources.cells import _naive_datetime_to_us
            from datafusion_bigtable_spark.sources.grpc_transport import push_cells
            from datafusion_bigtable_spark.sources.wire import WireBigtableClient

            applied = push_cells(
                cfg,
                ((k, f, q, _naive_datetime_to_us(ts), v) for k, f, q, ts, v in cells),
                service=WireBigtableClient(*self.endpoint),
            )
            return _WireWriteCommit(applied)
        if not cells:
            return None
        cells.sort(key=lambda c: (c[0], c[2], c[3]))
        os.makedirs(self.staging, exist_ok=True)
        out = os.path.join(self.staging, f"task-{uuid.uuid4().hex[:12]}.parquet")
        pq.write_table(
            pa.table(
                {
                    "row_key": [c[0] for c in cells],
                    "family": [c[1] for c in cells],
                    "qualifier": [c[2] for c in cells],
                    "ts": pa.array([c[3] for c in cells], type=pa.timestamp("us")),
                    "value": pa.array([c[4] for c in cells], type=pa.binary()),
                }
            ),
            out,
        )
        return _CellsWriteCommit(out)

    # -- driver side ------------------------------------------------------
    def commit(self, messages):
        import shutil

        from datafusion_bigtable_spark.sources.cells import write_manifest

        if self.endpoint is not None:
            return  # mutations are applied per task; nothing to move
        store = self.config.cells_path
        os.makedirs(store, exist_ok=True)
        if self.overwrite:
            for f in glob.glob(os.path.join(store, "*.parquet")):
                os.remove(f)
        for i, m in enumerate(messages):
            if m is None:
                continue
            dest = os.path.join(store, f"part-{i:05d}-{self.job_id}.parquet")
            shutil.move(m.staged, dest)
        self._drop_staging()
        write_manifest(store)

    def abort(self, messages):
        self._drop_staging()

    def _drop_staging(self) -> None:
        """Remove ONLY this job's staging dir — a concurrent append job has
        its own subdir under <store>/_staging and must survive."""
        import contextlib
        import shutil

        if self.staging is None:
            return  # endpoint write: completed tasks cannot be unwritten
        shutil.rmtree(self.staging, ignore_errors=True)
        with contextlib.suppress(OSError):  # non-empty → another job is active
            os.rmdir(os.path.dirname(self.staging))


class BigtableStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("bigtable")`` — the streaming SINK side of
    the cells store, completing the format quad (batch read, batch write,
    stream read, stream write): a continuous relational stream lands as
    cell files the stream READER on the same store tails, so
    stream→store→stream pipelines compose.

    Per micro-batch each task unpivots its rows through the same
    row→cells encoder as the batch writer (staged parquet, sorted by
    row_key); ``commit`` moves staged files to DETERMINISTIC
    ``stream-b<batchId>-<i>`` names and refreshes the manifest.  The
    deterministic names make replays idempotent: after a checkpoint
    recovery the re-committed batch OVERWRITES its own files instead of
    duplicating cells (same single-writer-per-store assumption as the
    batch writer and compaction).
    """

    # Orphan stream-staging dirs older than this are GC'd at commit time.
    # Construction-time sweeping is NOT safe: Spark re-constructs the writer
    # (commit runs through a fresh instance), so an unconditional sweep races
    # the live write-side instance's staged-but-uncommitted files.  A
    # micro-batch stages and commits within seconds; an hour-old stream-*
    # dir belongs to a dead driver.
    STAGING_ORPHAN_TTL_S = 3600

    def __init__(self, schema, options):
        import uuid

        self.config = _config_from_options(options)
        # Endpoint mode (r7): every micro-batch partition pushes through
        # MutateRows executor-side (BigtableWriter.write's endpoint
        # branch).  Delivery is at-least-once made effectively exactly-once
        # by idempotence: a replayed batch re-sends the same
        # (key, qualifier, explicit-ts, value) cells, which version-replace
        # themselves — provided the stream's rows are deterministic per
        # batch (the same property the staged-parquet path's deterministic
        # file names rely on).
        ep = options.get("endpoint")
        self.endpoint: tuple | None = None
        if ep:
            host, _, port = str(ep).rpartition(":")
            self.endpoint = (host or "127.0.0.1", int(port))
        self.job_id = uuid.uuid4().hex[:12]
        store = self.config.cells_path
        self.staging = (
            os.path.join(store, "_staging", f"stream-{self.job_id}") if store else None
        )

    def _gc_orphan_staging(self) -> None:
        """Remove stream-* staging dirs from crashed drivers (ADVICE r5):
        commit/abort only clean the live instance's dir, so a kill between
        micro-batches would otherwise leak <store>/_staging/stream-<uuid>
        forever.  Age-gated so a concurrent batch's fresh staging (and any
        not-yet-committed files of this very stream) is never touched;
        batch-append jobs stage under different names and are skipped."""
        import shutil
        import time

        cutoff = time.time() - self.STAGING_ORPHAN_TTL_S
        for d in glob.glob(os.path.join(self.config.cells_path, "_staging", "stream-*")):
            if d == self.staging:
                continue
            try:
                if os.path.getmtime(d) < cutoff:
                    shutil.rmtree(d, ignore_errors=True)
            except OSError:
                continue

    # executor side — identical unpivot+stage as the batch writer
    write = BigtableWriter.write

    # driver side, once per micro-batch
    def commit(self, messages, batchId: int) -> None:
        import shutil

        from datafusion_bigtable_spark.sources.cells import write_manifest

        if self.endpoint is not None:
            return  # mutations landed per task; nothing staged
        store = self.config.cells_path
        os.makedirs(store, exist_ok=True)
        # drop any files a previously-failed attempt of THIS batch left
        for stale in glob.glob(os.path.join(store, f"stream-b{batchId:08d}-*.parquet")):
            os.remove(stale)
        for i, m in enumerate(messages):
            if m is None:
                continue
            dest = os.path.join(store, f"stream-b{batchId:08d}-{i:05d}.parquet")
            shutil.move(m.staged, dest)
        shutil.rmtree(self.staging, ignore_errors=True)
        self._gc_orphan_staging()
        write_manifest(store)

    def abort(self, messages, batchId: int) -> None:
        import shutil

        if self.staging is not None:
            shutil.rmtree(self.staging, ignore_errors=True)


@dataclass
class StreamFilesPartition(InputPartition):
    """One scan task of a streaming micro-batch: a key-disjoint GROUP of
    newly-arrived files (same invariant as the batch FilePartition — the
    pivot is partition-local, so files whose key ranges overlap must scan
    together or a (row_key, ts) whose cells landed in two files within one
    batch would emit two partial rows with NULL holes)."""

    files: tuple


class BigtableStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("bigtable")`` — the cells store as a
    streaming source.  Bigtable's actual write pattern is a continuous
    cell stream; the parquet stand-in surfaces that as FILE ARRIVALS
    (e.g. the DS writer's commits), so each micro-batch = the files that
    appeared since the last offset, pivoted to relational rows.

    Offsets are the set of processed file names plus the store's
    COMPACTION EPOCH — ``partitions(start, end)`` re-derives exactly the
    files in ``end − start``, which is what deterministic checkpoint
    replay needs.  Renaming files under a live tail
    (compact_cells_store, overwrite writes) invalidates those offsets;
    rather than silently re-emitting the renamed store as duplicates,
    the next micro-batch FAILS LOUD on the epoch mismatch (or on a
    vanished referenced file, which catches rewrites that bump no
    epoch), telling the operator to reset the checkpoint and re-read the
    compacted store once (VERDICT r11 #8).  Requires
    ``only_read_latest=false``: a latest-version view is not incrementally
    computable batch-by-batch (a later file can carry a newer version of
    an already-emitted cell); the stream emits the honest version-unnest
    rows and a downstream stateful dedup (streaming/sinks.py) owns
    latest-wins semantics.

    Partitioned reader (upgraded from SimpleDataSourceStreamReader,
    VERDICT r2 #7): each micro-batch's new files group by key-range
    overlap (footer/manifest stats, same sweep as the batch full-scan
    path) and every group scans as its own task on an executor — a large
    arrival fans out like a batch read instead of bottlenecking one
    process, and key-overlapping files pivot together (no partial rows).
    """

    def __init__(self, schema, options):
        self.config = _config_from_options(options)
        # The full-scan refusal (config.allow_full_scan, default False)
        # guards against accidental unbounded BATCH sweeps; a stream
        # micro-batch is bounded by its offsets (only files in end−start),
        # so the refusal does not apply here.
        if not self.config.allow_full_scan:
            import dataclasses

            self.config = dataclasses.replace(self.config, allow_full_scan=True)
        if self.config.only_read_latest:
            raise ValueError(
                "streaming cells source requires only_read_latest=false — "
                "latest-version semantics are not incrementally computable "
                "per micro-batch; apply latest-wins downstream (see "
                "streaming/sinks.py)"
            )

    def _store_files(self) -> dict[str, str]:
        p = self.config.cells_path
        if os.path.isdir(p):
            return {os.path.basename(f): f for f in sorted(glob.glob(os.path.join(p, "*.parquet")))}
        return {os.path.basename(p): p}

    def initialOffset(self) -> dict:
        from datafusion_bigtable_spark.sources.cells import read_compaction_epoch

        return {"files": {}, "epoch": read_compaction_epoch(self.config.cells_path)}

    def latestOffset(self) -> dict:
        from datafusion_bigtable_spark.sources.cells import read_compaction_epoch

        return {
            "files": {name: True for name in self._store_files()},
            "epoch": read_compaction_epoch(self.config.cells_path),
        }

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from datafusion_bigtable_spark.sources.cells import (
            footer_file_stats,
            read_compaction_epoch,
        )

        seen = start.get("files", {})
        target = end.get("files", {})
        current = self._store_files()
        # Compaction detection (VERDICT r11 #8): offsets name FILES, and
        # compact_cells_store renames every one — processing (or
        # replaying) an offset taken before a compaction would re-emit
        # the whole store as duplicates, silently.  Fail loud instead:
        # epochs disagree, or a referenced file vanished (an overwrite
        # write or out-of-band rewrite — same hazard, no epoch bump).
        store_epoch = read_compaction_epoch(self.config.cells_path)
        # START is the checkpointed high-water mark — the epoch the
        # already-processed file names were taken at; END may have been
        # minted just now (current epoch) or replayed from the checkpoint.
        # Either one disagreeing with the store means the names no longer
        # denote what was processed.
        stale = [
            e for e in (start.get("epoch", 0), end.get("epoch", 0)) if e != store_epoch
        ]
        missing = sorted(n for n in target if n not in seen and n not in current)
        if stale or missing:
            why = (
                f"offset epoch {stale[0]} != store epoch {store_epoch} "
                "(compact_cells_store ran under this tail)"
                if stale
                else f"offset references files no longer in the store: {missing}"
            )
            raise RuntimeError(
                f"bigtable stream: {why}; the store's files were rewritten "
                "underneath a live tail, so exactly-once pickup cannot "
                "continue from this checkpoint — stop the query, delete its "
                "checkpoint, and restart to re-read the compacted store once"
            )
        files = sorted(current[n] for n in target if n not in seen)
        if not files:
            # empty micro-batch still needs one partition for a stable,
            # correctly-typed empty result
            return [StreamFilesPartition(())]
        groups = _key_disjoint_groups(footer_file_stats(files))
        return [StreamFilesPartition(tuple(g)) for g in groups]

    def read(self, partition: StreamFilesPartition) -> Iterator:
        import pyarrow.dataset as pa_ds

        cfg = self.config
        if not partition.files:
            yield from _pivot_partition(_cells_table(), cfg)
            return
        flt = (pa_ds.field("family") == cfg.column_family) & pa_ds.field("qualifier").isin(
            list(cfg.qualifiers)
        )
        # ONE pivot over the whole group's cells: a (row_key, ts) split
        # across the group's files merges into one relational row
        table = pa_ds.dataset(list(partition.files), format="parquet").to_table(
            columns=CELL_COLUMNS, filter=flt
        )
        yield from _pivot_partition(table, cfg)

    def commit(self, end: dict) -> None:
        pass


class BigtableDataSource(DataSource):
    """``spark.read.format("bigtable")`` / ``df.write.format("bigtable")``
    entry point.

    Options: path, column_family, columns ("name:type,..."),
    table_partition_cols ("a,b,c"), table_partition_separator,
    only_read_latest, allow_full_scan, rows_limit.

    rows_limit caps each partition's scan output and abandons the parquet
    batch stream early; pair it with ``df.limit(n)``.  It is honored ONLY
    for plans whose pushed filters are exactly enforced in-scan (key
    ``=``/``IN``/tail-BETWEEN predicates fully absorbed into ranges, or no
    filters); any residual predicate disables the cap for that plan with a
    warning.  Filters Spark cannot push (UDFs, unsupported expressions)
    are invisible to the source — do not combine them with rows_limit.
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        return _config_from_options(self.options).schema()

    def reader(self, schema) -> DataSourceReader:
        return BigtableReader(schema, self.options)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return BigtableWriter(schema, self.options, overwrite)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return BigtableStreamReader(schema, self.options)

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        # streaming appends; overwrite (complete-mode) is refused because a
        # replayed complete batch could not distinguish its own files from
        # history (the deterministic-name idempotency only covers appends)
        if overwrite:
            raise ValueError(
                "bigtable streaming sink supports append output mode only"
            )
        return BigtableStreamWriter(schema, self.options)


def register(spark) -> None:
    """Register the format + enable python filter pushdown for this session."""
    spark.dataSource.register(BigtableDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
