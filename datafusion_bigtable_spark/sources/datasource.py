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
- ``partitions()`` — one planner (``_plan_files``) for lookups, full
  scans and stream micro-batches.  The reference scans single-partition
  (``UnknownPartitioning(1)``, execute_plan.rs:84-86); here the files
  that overlap the composed ranges form key-disjoint groups, packed by
  Spark's file-packing rule at the session's core count, and each task
  carries the ranges that overlap its files (``FilePartition``).
- ``read()``       — per-partition: pyarrow scan of the cells parquet with
  key-range/ts/value predicates pushed into the parquet reader (the
  stand-in for the gRPC ``ReadRowsRequest`` + RowFilter chain,
  execute_plan.rs:168-183); the family is masked only where footer
  statistics do not prove a file holds the configured family alone, and
  undeclared qualifiers are dropped by the kernel.  Then the
  latest-version filter, cell→row pivot and typed decode (A11/A13/A15)
  in one Arrow kernel (``_pivot_partition``) — *partition-local*,
  because one row key's cells never span two key-disjoint file groups.
  The scan therefore runs with ZERO shuffles.  A partition's key-sorted
  files stream as one ordered Arrow stream, so an executor holds what
  pyarrow's scanner reads ahead (by default 16 batches in each of up to
  4 files) plus the chunk being pivoted, never the partition; a group
  the footers cannot prove key-sorted is materialised whole.

Scale: at 100 TB the cells store is written range-partitioned and sorted
by row_key (see sources/cells.py); ``partitions()`` maps ranges to the
overlapping files only (parquet footer min/max — the emulation of
Bigtable's tablet metadata), so a pruned query reads just those files, and
every scan parallelizes over packs of files of at most 128 MiB (one per
core on a store smaller than 128 MiB per core).

KNOWN UPSTREAM CAVEAT (Spark 4.1, verified by tracing worker invocations):
the JVM caches a Python data source's planned scan
(read function + partitions) per ``load()`` handle and only re-invokes the
Python planning workers when the new query pushes filters.  Consequence:
an UNFILTERED query planned after a key-filtered query on the SAME
DataFrame handle silently reuses the pruned partitions and returns pruned
results.  Use a fresh ``spark.read...load()`` per distinct predicate set
(cheap — planning only).  The library's own surfaces (BigtableTable,
queries registry, tests) always do, and a ``BigtableTable.to_df`` frame
carries an always-true ``_timestamp`` bound, so every query over it
pushes a filter and is planned afresh.
"""

from __future__ import annotations

import datetime as _dt
import functools
import glob
import operator
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


def _options_from_config(cfg: BigtableTableConfig) -> dict[str, str]:
    """The read options that ``_config_from_options`` turns back into
    ``cfg``.  ``project`` and ``instance`` name a service table and have
    no option: a cells store does not use them."""
    opts = {
        "path": cfg.cells_path,
        "table": cfg.table,
        "column_family": cfg.column_family,
        "columns": ",".join(f"{c.name}:{c.type}" for c in cfg.columns),
        "table_partition_cols": ",".join(cfg.table_partition_cols),
        "table_partition_separator": cfg.table_partition_separator,
        "only_read_latest": str(cfg.only_read_latest).lower(),
        "allow_full_scan": str(cfg.allow_full_scan).lower(),
        "require_manifest": str(cfg.require_manifest).lower(),
    }
    if cfg.key_types is not None:
        opts["key_types"] = ",".join(cfg.key_types)
    return opts


@dataclass
class WireRangePartition(InputPartition):
    """One SampleRowKeys SHARD of a wire-endpoint scan → one Spark task
    that opens its own connection and issues ONE ReadRows for ALL of its
    pieces — the reference's read shape (one ReadRowsRequest carrying the
    whole RowSet, execute_plan.rs:168-183), per shard so it scales: the
    driver plans shard boundaries from SampleRowKeys; executors fetch in
    parallel.  ``ranges`` are the shard's pieces of the composed ranges,
    in key order, as ``(start, start_open, end)``: ``start_open=True``
    makes the start bound exclusive (shard k covers
    ``(bound[k-1], bound[k]]`` — SampleRowKeys boundary semantics), and a
    ``start``/``end`` of None is unbounded."""

    ranges: tuple
    endpoint: tuple
    ts_lo: object = None
    ts_hi: object = None
    value_preds: tuple = ()
    rows_cap: object = None


@dataclass
class FilePartition(InputPartition):
    """One scan task of the parquet path, planned by ``_plan_files``:
    consecutive key-disjoint GROUPS of parquet files (``groups``, in key
    order) and the closed ``(start, end)`` row-key ranges that overlap
    them (``ranges``; empty means unbounded — a full scan or a stream
    micro-batch).  The scan filter is the OR of the ranges.

    A group is the unit the pivot needs whole: with a write_cells layout
    every group is a single file; after appends, files whose key ranges
    overlap form one group, because the latest-version filter and the
    (row_key, ts) pivot are partition-local — splitting one row key's
    cells across tasks would resurrect stale versions / emit partial rows
    (caught by the writer round-trip tests).

    Groups are packed by Spark's own file-packing rule at the session's
    core count (``_pack_groups``; ``register`` captures the count, and a
    reader built without one plans as ``cores=1``).  A small store of
    key-disjoint files therefore scans as one task per core, a large one
    in 128 MiB tasks, and a lookup whose ranges fall in one file is one
    task however many ranges it has.  Only "one task per core" pays on a
    small store: on a 3.3 MB, 8-file store at local[2], 2 partitions beat
    1 by ~25%, 4 tied 1 and 8 lost to it (README, "Scale posture").

    Memory: the task reads its key-sorted groups as one ordered Arrow
    stream, so it holds what pyarrow's scanner reads ahead (by default
    up to 16 batches of ≤ 65536 cells in each of up to 4 files), one
    pending chunk and the one being pivoted — not the partition's 128 MiB.
    A group whose files overlap is materialised whole (see ``_scan``)."""

    groups: tuple
    ranges: tuple = ()
    ts_lo: object = None
    ts_hi: object = None
    value_preds: tuple = ()
    rows_cap: object = None

    @property
    def files(self) -> tuple:
        return tuple(f for g in self.groups for f in g)


class BigtableReader(DataSourceReader):
    def __init__(self, schema, options, cores: int = 1):
        self.config = _config_from_options(options)
        # The session's core count, the per-core term of the scan
        # packing rule (``_pack_groups``); ``register`` captures it.
        self.cores = cores
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
        # Time-travel read (``BigtableTable.to_df(as_of=...)``): an
        # inclusive upper bound on the cell timestamp, applied in the scan
        # BEFORE the kernel's latest filter in both modes — bound-then-
        # latest is the as-of snapshot the caller asked for, not the
        # promotion hazard the _timestamp pushdown gate below guards.
        raw_as_of = options.get("as_of")
        self.as_of = _dt.datetime.fromisoformat(raw_as_of) if raw_as_of else None
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
        if self.as_of is not None:
            ts_hi = self.as_of if ts_hi is None else min(ts_hi, self.as_of)
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
        if not ranges and not self.config.allow_full_scan:
            raise ComposerError("table_partition_cols: filter is not provided or not supported")
        if self.endpoint is not None:
            return self._wire_partitions(ranges, ts_lo, ts_hi, value_preds, rows_cap)
        return _plan_files(
            self._file_stats(), [(r.start, r.end) for r in ranges], self.cores,
            ts_lo, ts_hi, value_preds=value_preds, rows_cap=rows_cap,
        )

    def _wire_partitions(self, ranges, ts_lo, ts_hi, value_preds, rows_cap):
        """Cut the composed ranges (or the full key space) at SampleRowKeys
        boundaries: shard k covers ``(bound[k-1], bound[k]]``, so shards
        are disjoint and ordered.  Each shard that holds a piece is one
        executor task reading all of its pieces as one RowSet; a shard
        with no piece plans no task — the same planner shape the real
        service's connectors use (tablet boundaries ≈ sample keys).
        Driver work is O(#samples + #ranges); no parquet footers, no
        driver-side data."""
        import bisect

        from datafusion_bigtable_spark.sources.grpc_transport import _table_name
        from datafusion_bigtable_spark.sources.wire import WireBigtableClient

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
        shards: dict[int, list] = {}
        for s, e in [(r.start, r.end) for r in ranges] or [(None, None)]:
            lo, lo_open = s, False
            for k, b in enumerate(bounds):
                if (s is None or b > s) and (e is None or b < e):
                    shards.setdefault(k, []).append((lo, lo_open, b))
                    lo, lo_open = b, True
            if lo_open and e is None and lo == bounds[-1]:
                continue  # (last_key, ∞) is empty by the SampleRowKeys contract
            k = len(bounds) if e is None else bisect.bisect_left(bounds, e)
            shards.setdefault(k, []).append((lo, lo_open, e))
        return [
            WireRangePartition(tuple(shards[k]), self.endpoint, ts_lo, ts_hi, value_preds, rows_cap)
            for k in sorted(shards)
        ]

    # -- scan (A1/A11/A13/A14/A15, partition-local) -----------------------
    def read(self, partition: InputPartition) -> Iterator:
        # the cap travels on the partition: it was validated against THIS
        # plan's filters at planning time (see partitions())
        remaining = partition.rows_cap
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
        # No family/qualifier predicate per cell: the kernel drops
        # undeclared qualifiers, and the family is masked only in a run
        # whose footers do not prove that it holds the family alone
        flt = None
        # ts bounds are only ever attached when pushdown is gated-safe
        if partition.ts_lo is not None:
            flt = _and(flt, pa_ds.field("ts") >= partition.ts_lo)
        if partition.ts_hi is not None:
            flt = _and(flt, pa_ds.field("ts") <= partition.ts_hi)
        specs = {s.name: s.type for s in cfg.columns}
        for col, op, v in partition.value_preds:
            # cells of OTHER qualifiers always pass; only the filter
            # column's cells are constrained (see _value_predicates)
            flt = _and(
                flt, (pa_ds.field("qualifier") != col) | self._value_expr(pa_ds, specs[col], op, v)
            )
        # the OR of the partition's ranges, a point as an equality:
        # row-group statistics prune by it (they would not by an is_in)
        key = pa_ds.field("row_key")
        terms = [(key == s) if s == e else (key >= s) & (key <= e) for s, e in partition.ranges]
        if terms:
            flt = _and(flt, functools.reduce(operator.or_, terms))

        # The groups are key-disjoint and in key order.  Consecutive groups
        # whose files stream in key order (every write_cells store) are
        # read as ONE ordered Arrow stream; a group the footers cannot
        # prove key-sorted (missing stats, overlapping row groups or
        # files) is materialised whole — correct for any layout,
        # memory-bounded by the group.  Chunks pass through one pending
        # chunk, read but not yet pivoted: when the next chunk arrives, a
        # streamed pending chunk is pivoted up to its trailing key run,
        # whose cells may go on in the next chunk and join it; a
        # materialised one is complete.  The last one is pivoted whole.
        # A streamed run holds what pyarrow's scanner reads ahead (by
        # default 16 batches in each of up to 4 files), the pending chunk
        # and the one being pivoted — never the partition.
        pending, streamed = None, False
        for files, ordered, family_only in _scan_runs(partition.groups, cfg.column_family):
            run_flt = flt if family_only else _and(flt, pa_ds.field("family") == cfg.column_family)
            dataset = pa_ds.dataset(files, format="parquet")
            if ordered:
                chunks = (
                    pa.Table.from_batches([b])
                    for b in dataset.to_batches(columns=CELL_COLUMNS, filter=run_flt, batch_size=65536)
                )
            else:
                chunks = [dataset.to_table(columns=CELL_COLUMNS, filter=run_flt)]
            for cells in chunks:
                if cells.num_rows == 0:
                    continue
                _check_keys(cells, files)
                if pending is not None:
                    keys = pending["row_key"]
                    cut = pc.index(keys, keys[-1]).as_py() if streamed else pending.num_rows
                    if cut:
                        yield from _pivot_partition(pending.slice(0, cut), cfg)
                    if cut < pending.num_rows:
                        cells = pa.concat_tables([pending.slice(cut), cells])
                pending, streamed = cells, ordered
        # no rows at all: one empty batch for a stable schema
        yield from _pivot_partition(_cells_table() if pending is None else pending, cfg)

    def _wire_scan(self, partition: WireRangePartition) -> Iterator:
        """Executor-side ReadRows over the wire for one shard: this task
        opens its own connection, reads all of the shard's pieces as one
        RowSet, and pivots rows as they arrive.  The filter work rides the
        REQUEST (family pin, cells-per-column limit in latest mode,
        qualifier regex, value predicates, unnest-gated ts bounds), so
        wire traffic is already reduced server-side — the executor holds
        one chunk of complete rows, never the shard.  NOTE value
        predicates reach here only in version-unnest plans (partitions()
        gates them in latest mode, matching the parquet path); the wire
        chain places value filters after the latest limit, so either
        gating is sound — Spark re-applies every filter above regardless
        (A16)."""
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
        row_ranges = []
        for start, start_open, end in partition.ranges:
            rng: dict = {}
            if start is not None:
                rng["start_key_open" if start_open else "start_key_closed"] = start.encode("utf-8")
            if end is not None:
                rng["end_key_closed"] = end.encode("utf-8")
            row_ranges.append(rng)
        # an unbounded piece (a full scan of an unsampled table) is the
        # empty RowSet, which reads the whole table
        req["rows"] = {"row_keys": [], "row_ranges": [r for r in row_ranges if r]}

        buf: tuple[list, ...] = ([], [], [], [])  # row_key, qualifier, ts_us, value

        def flush():
            cells = _cells_table(*buf)
            for v in buf:
                v.clear()
            _check_keys(cells, f"the shard {list(partition.ranges)}")
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


def _plan_files(
    stats: list[dict], ranges, cores: int = 1, ts_lo=None, ts_hi=None, **scan
) -> list[FilePartition]:
    """The parquet path's one planner, for lookups, full scans and stream
    micro-batches, over per-file stats (manifest or footers) and the
    composed closed ``(start, end)`` row-key ranges (sorted, disjoint;
    none for a full scan).  It selects the files with cells that overlap
    any range and the ts bounds, groups them key-disjointly, packs the
    groups at ``cores`` and gives each partition the ranges that overlap
    its files.  A row key's cells all lie in files that overlap it, so
    they fall in one group: one task reads the key, under the range it
    lies in.  ``scan`` (value predicates, rows cap) rides every partition.
    No file selected → one partition that scans nothing, so the scan
    yields one empty batch with the declared schema."""

    def hits(st, r, lo="min_key", hi="max_key"):
        # file ``st`` may hold a cell in ``r`` (missing stats never prune)
        return st[lo] is None or st[hi] is None or (
            (r[1] is None or st[lo] <= r[1]) and (r[0] is None or st[hi] >= r[0])
        )

    stats = [
        st
        for st in _drop_empty_files(stats)
        if hits(st, (ts_lo, ts_hi), "min_ts", "max_ts")
        and (not ranges or any(hits(st, r) for r in ranges))
    ]
    by_file = {st["file"]: st for st in stats}
    sizes = {st["file"]: st["bytes"] for st in stats}
    parts = []
    for part in _pack_groups(_key_disjoint_groups(stats), sizes, cores):
        files = [by_file[f] for g in part for f in g]
        mine = tuple(r for r in ranges if any(hits(st, r) for st in files))
        parts.append(FilePartition(tuple(tuple(g) for g in part), mine, ts_lo, ts_hi, **scan))
    return parts or [FilePartition(())]


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


def _pack_groups(
    groups: list[list[str]], sizes: dict[str, int], cores: int = 1
) -> list[list[list[str]]]:
    """Pack consecutive key-disjoint groups into scan partitions, whole and
    in order, by Spark's file-packing rule (its
    ``FilePartition.getFilePartitions`` with the default constants above):
    each file costs ``sizes[file]`` (its bytes, from the manifest) plus the
    open cost, the split size is ``min(cap, max(open cost, total cost /
    cores))``, and a partition closes before a group whose FILE bytes
    would take it past the split size (the open cost is added after the
    comparison, as Spark does).  A group larger than the split size is a
    partition of its own."""
    total = sum(sizes[f] + _PACK_OPEN_COST_BYTES for g in groups for f in g)
    max_split = min(_PACK_MAX_BYTES, max(_PACK_OPEN_COST_BYTES, total // cores))
    parts: list[list[list[str]]] = []
    cur: list[list[str]] = []
    cur_bytes = 0
    for g in groups:
        file_bytes = sum(sizes[f] for f in g)
        if cur and cur_bytes + file_bytes > max_split:
            parts.append(cur)
            cur, cur_bytes = [], 0
        cur.append(g)
        cur_bytes += file_bytes + len(g) * _PACK_OPEN_COST_BYTES
    if cur:
        parts.append(cur)
    return parts


def _drop_empty_files(stats: list[dict]) -> list[dict]:
    """``stats`` without the files that hold no cells.  Such a file has no
    key statistics (an empty append leaves a part file with 0 rows), so it
    would merge every group into one; only a file the stats leave without
    keys has its footer opened."""
    import pyarrow.parquet as pq

    return [
        st
        for st in stats
        if st["min_key"] is not None or pq.ParquetFile(st["file"]).metadata.num_rows
    ]


def _file_facts(path: str, family: str):
    """What one file's footer proves, or None for a file with no rows:
    ``(span, family_only)``, where ``span`` is the file's (min, max)
    row_key when its row groups are key-sorted and non-overlapping (None
    when the statistics cannot prove it), and ``family_only`` is True
    when the statistics show every cell in column family ``family``."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    if meta.num_rows == 0:
        return None
    names = [meta.schema.column(i).path for i in range(meta.num_columns)]
    key_at = names.index("row_key") if "row_key" in names else None
    fam_at = names.index("family") if "family" in names else None
    span: tuple | None = None
    family_only = fam_at is not None
    keys_ok = key_at is not None
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        if rg.num_rows == 0:
            continue
        if family_only:
            st = rg.column(fam_at).statistics
            family_only = (
                st is not None and st.has_min_max and st.has_null_count
                and st.null_count == 0 and st.min == st.max == family
            )
        if keys_ok:
            st = rg.column(key_at).statistics
            # equality allowed: a key may span adjacent row groups; the
            # carry-over handles contiguous boundaries
            keys_ok = st is not None and st.has_min_max and (span is None or st.min >= span[1])
            if keys_ok:
                span = (st.min if span is None else span[0], st.max)
    return (span if keys_ok else None), family_only


def _key_sorted_order(spans: list[tuple]):
    """Given ``(span, file)`` pairs, return the files ordered by key range
    if the spans PROVE the files stream in non-decreasing row_key order
    (every span known; files pairwise disjoint but for a shared boundary
    key).  Returns None when that cannot be proven — callers must
    materialise."""
    if any(span is None for span, _ in spans):
        return None
    spans = sorted(spans)
    for ((_, e1), _), ((s2, _), _) in zip(spans, spans[1:]):
        if s2 < e1:  # files overlap → interleaved keys across fragments
            return None
    return [f for _, f in spans]


def _scan_runs(groups: list[list[str]], family: str) -> list[list]:
    """Split a partition's key-disjoint groups (in key order) into read
    runs ``[files, ordered, family_only]``: consecutive groups that each
    stream in key order join ONE ordered run; a group that cannot be
    proven key-sorted is a run of its own, to be materialised.  Files
    without rows are skipped.  Each file's footer is read once."""
    runs: list[list] = []
    for group in groups:
        facts = [(f, _file_facts(f, family)) for f in group]
        facts = [(f, x) for f, x in facts if x is not None]
        if not facts:
            continue
        ordered = _key_sorted_order([(span, f) for f, (span, _) in facts])
        family_only = all(fam for _, (_, fam) in facts)
        if ordered is not None and runs and runs[-1][1]:
            runs[-1][0] += ordered
            runs[-1][2] = runs[-1][2] and family_only
        else:
            runs.append([ordered or [f for f, _ in facts], ordered is not None, family_only])
    return runs


def _and(a, b):
    """Conjunction of two dataset expressions, either of which may be None."""
    return b if a is None else a & b


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


def _check_keys(cells, source=None) -> None:
    """Fail closed on a cell with a NULL ``row_key`` or ``ts``, which the
    pivot cannot place: ``CELLS_SCHEMA`` forbids them, but a pyarrow-written
    file or a ReadRows response can hold one.  ``source`` names where the
    cells came from (a list of files is narrowed to the guilty ones)."""
    for name in ("row_key", "ts"):
        if cells[name].null_count:
            if isinstance(source, list):
                import pyarrow.parquet as pq

                source = [f for f in source if pq.read_table(f, columns=[name])[name].null_count]
            where = f" in {source}" if source else ""
            raise ValueError(
                f"bigtable: a cell has a NULL {name}{where}; every cell needs a row key and a timestamp"
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

    Two paths, chosen by what the chunk shows, with the same output.  A
    chunk already in (row_key, qualifier, ts) order — how every writer of
    the store sorts its files — is checked with adjacent compares and
    needs no sort before the latest filter: the newest cell of each
    (row_key, qualifier) is the last of its run.  Any other chunk
    (overlapping appends, wire responses, version-unnest reads) is
    ordered by stable sorts first.

    Semantics (pinned against a duckdb reference in
    tests/test_pivot_kernel.py):
    - cells of undeclared qualifiers are dropped;
    - latest mode keeps the newest cell per (row_key, qualifier); then one
      cell per (row_key, ts, qualifier) survives.  Ties go to the LAST cell
      in input order (the reference's HashMap insertion); a NULL value is a
      cell like any other, so it never resurrects an older version;
    - int64 values decode 8-byte big-endian, any other length → NULL;
      strings decode UTF-8, invalid bytes → U+FFFD;
    - the key splits literally on the separator; a missing component is
      NULL, surplus parts are ignored; int64 components decode with
      NULL-for-malformed (plans/keycodec.py);
    - a cell with a NULL row_key or ts raises ``ValueError``
      (``_check_keys``).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    _check_keys(cells)
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
    q = qcode.combine_chunks().to_numpy().astype(np.int64)
    t = ts.cast(pa.int64()).to_numpy()

    # k: an int64 per cell that orders like the row key — the run number
    # when the keys arrive sorted, else the rank among the distinct keys
    k = _sorted_key_runs(row_key)
    presorted = k is not None and cfg.only_read_latest and _in_cell_order(k, q, t, cfg)
    if k is None:
        k = _key_ranks(row_key)
    if presorted:
        # the newest cell of each (row_key, qualifier) ends its run; only
        # those survivors are put in (row_key, ts) order
        idx = np.flatnonzero(_last_of_runs(k, q))
        idx = idx[_stable_order(k[idx], t[idx])]
    elif cfg.only_read_latest:
        # the sorts are stable, so input position is the implicit last
        # key: "last in input order" is last in its run after the sort.
        # Newest per (row_key, qualifier), then back into (row_key, ts)
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


def _sorted_key_runs(row_key):
    """Each cell's key run number (int64) when ``row_key`` holds no NULL
    and never decreases; else None.  The order check compares the run
    values, one per distinct key."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if row_key.null_count:
        return None
    runs = pc.run_end_encode(row_key, run_end_type=pa.int64())
    keys = runs.values
    if pc.any(pc.less(keys.slice(1), keys.slice(0, len(keys) - 1))).as_py():
        return None
    ends = runs.run_ends.to_numpy()
    return np.repeat(np.arange(len(ends), dtype=np.int64), np.diff(ends, prepend=0))


def _in_cell_order(k, q, t, cfg: BigtableTableConfig) -> bool:
    """True when, within every key run of ``k``, the cells are ordered by
    qualifier name (byte order) and then by ts — the order the store's
    writers sort by."""
    import numpy as np

    names = [name.encode("utf-8") for name in cfg.qualifiers]
    rank = np.empty(len(names), dtype=np.int64)
    rank[sorted(range(len(names)), key=names.__getitem__)] = np.arange(len(names))
    r = rank[q]
    back = (r[1:] < r[:-1]) | ((r[1:] == r[:-1]) & (t[1:] < t[:-1]))
    return not (back & (k[1:] == k[:-1])).any()


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
    staged: str | None  # task-local staged parquet file; None: the task had no cells


@dataclass
class _WireWriteCommit(WriterCommitMessage):
    applied: int  # rows this task pushed through MutateRows


class BigtableWriter(DataSourceWriter):
    """``df.write.format("bigtable")`` — the reference's unshipped
    roadmap item "writes to Bigtable" (README.md:46-49), expressed for the
    cells store: each task UNPIVOTS its relational rows (key components +
    _timestamp + qualifier columns) back into canonical cells, encodes
    values (int64 → big-endian, string → UTF-8, binary pass-through — the
    exact inverse of the read kernel's decode), sorts by row_key and
    stages one parquet file; commit() atomically moves staged files into
    the store and rewrites the manifest.  NULL column values write NO cell
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
            # an empty task still answers with a message (Spark rejects
            # None); it carries no file and commit skips it
            return _CellsWriteCommit(None)
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
            if m.staged is None:
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
            if m.staged is None:
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
    VERDICT r2 #7): each micro-batch's new files are planned by the batch
    reader's planner (``_plan_files``, over their footer stats, with no
    key range) and scanned by the batch reader's ``read`` — so a large
    arrival fans out like a batch full scan, packed at the session's core
    count, instead of bottlenecking one process, and key-overlapping files
    pivot together (no partial rows).
    """

    def __init__(self, schema, options, cores: int = 1):
        self.config = _config_from_options(options)
        # the per-core term of the packing rule, as for BigtableReader
        self.cores = cores
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
        return {os.path.basename(f): f for f in BigtableReader._files(self)}

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
        # an empty micro-batch plans one partition that scans nothing, for
        # a stable, correctly-typed empty result
        return _plan_files(footer_file_stats(files), (), self.cores)

    # executor side — the batch reader's scan: a group of key-overlapping
    # files is materialised and pivoted whole, so a (row_key, ts) whose
    # cells landed in two files of one micro-batch emits one complete row
    read = BigtableReader.read
    _scan = BigtableReader._scan

    def commit(self, end: dict) -> None:
        pass


class BigtableDataSource(DataSource):
    """``spark.read.format("bigtable")`` / ``df.write.format("bigtable")``
    entry point.

    Options: path, column_family, columns ("name:type,..."),
    table_partition_cols ("a,b,c"), table_partition_separator,
    only_read_latest, allow_full_scan, rows_limit, as_of.

    as_of (an ISO datetime, naive) reads the store as of that instant:
    cells newer than it are dropped in the scan, before the latest-version
    filter, so each cell shows its newest version at or before as_of.  A
    ``_timestamp`` bound in the query still filters afterwards, exactly as
    without as_of.

    rows_limit caps each partition's scan output and abandons the parquet
    batch stream early; pair it with ``df.limit(n)``.  It is honored ONLY
    for plans whose pushed filters are exactly enforced in-scan (key
    ``=``/``IN``/tail-BETWEEN predicates fully absorbed into ranges, or no
    filters); any residual predicate disables the cap for that plan with a
    warning.  Filters Spark cannot push (UDFs, unsupported expressions)
    are invisible to the source — do not combine them with rows_limit.
    """

    # the session's core count; ``register`` sets it on a subclass
    cores = 1

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        return _config_from_options(self.options).schema()

    def reader(self, schema) -> DataSourceReader:
        return BigtableReader(schema, self.options, self.cores)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return BigtableWriter(schema, self.options, overwrite)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return BigtableStreamReader(schema, self.options, self.cores)

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
    """Register the format + enable python filter pushdown for this session.

    The scan packing rule needs the session's core count, which a
    Python planner worker cannot see.  It is read here, on the driver, the
    way Spark reads its own per-core term (``spark.sql.files.minPartitionNum``,
    else ``spark.sql.leafNodeDefaultParallelism``, else
    ``defaultParallelism``), and carried as a class attribute of a
    subclass made at run time: cloudpickle ships such a class by value to
    every planner worker.  The value is a snapshot taken at registration
    (Spark re-reads it per query): executors that register later, or
    dynamic allocation, are seen only when ``register`` runs again."""
    cores = int(
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    spark.dataSource.register(
        type(BigtableDataSource.__name__, (BigtableDataSource,), {"cores": cores})
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
