"""High-level table assembly — the Spark equivalent of registering a
``BigtableDataSource`` with DataFusion (reference src/datasource.rs:195-198).

``BigtableTable(config).to_df(spark, predicates)`` is a thin front over the
one read path, the Arrow pivot kernel (``datasource._pivot_partition``:
latest-version filter A11, cell→row pivot A13, key split A14, typed
decode A15, declared column order):

- parquet cells store: ``spark.read.format("bigtable")`` with the config
  as read options (``datasource._options_from_config``) and the
  predicates as Column filters on the key components.  ``pushFilters``
  composes them back into the key ranges (A3-A8), and each scan task
  filters family, qualifiers and its range in pyarrow (A1, A9, A10), then
  runs the kernel.  The plan has no shuffle.
- ReadRows service: the request carries the ranges and the filter chain
  (``grpc_transport.fetch_cells``); the driver pivots the response with
  the same kernel and hands Spark the Arrow table.

Inexact-pushdown semantics (A16, datasource.rs:163-165): the ranges only
prune.  The predicates and value filters are re-applied as relational
filters on both transports, so the frame holds exactly the rows they
select; registering the view and querying it with a WHERE behaves as
the reference's correctness net.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from datafusion_bigtable_spark.config import RESERVED_TIMESTAMP, BigtableTableConfig
from datafusion_bigtable_spark.operators.pivot import compose_row_key
from datafusion_bigtable_spark.plans.composer import (
    Between,
    ComposerError,
    Eq,
    KeyRange,
    Predicate,
    compose,
)
from datafusion_bigtable_spark.plans.keycodec import encode_predicates


def _bridge_bind_host(master: str, driver_host: str | None) -> str:
    """Bind/advertise interface for the job-lifetime mutate() wire bridge.

    A loopback bind made bridged-service mutate local-mode-only — remote
    executors cannot reach the driver's 127.0.0.1 (ADVICE r12).  Bind the
    NARROWEST interface that serves the deployment (review r13 #4 — the
    bridge is unauthenticated, so 0.0.0.0 would expose write access on
    every interface): in local mode executors are threads in this process,
    loopback suffices; on a cluster bind and advertise the resolved driver
    host.  The bind interface and the address executors dial are the SAME
    value by construction — there is no advertise-what-you-didn't-bind
    split.  Fails loud when ``spark.driver.host`` is unset in non-local
    mode (ADVICE r13) instead of falling back to an all-interfaces bind.
    """
    if master.startswith("local"):
        return "127.0.0.1"
    if not driver_host:
        raise RuntimeError(
            "mutate(): spark.driver.host is unset in non-local mode — "
            "cannot advertise the write bridge without binding every "
            "interface; set spark.driver.host or use a WireBigtableClient "
            "service"
        )
    return driver_host


class GCWatermarkWarning(UserWarning):
    """An as-of read bounded at or before the store's GC watermark — the
    requested snapshot may be missing garbage-collected versions."""


class GCWatermarkError(RuntimeError):
    """Strict-mode twin of GCWatermarkWarning (to_df(strict_as_of=True))."""


class BigtableTable:
    def __init__(self, config: BigtableTableConfig, service=None):
        #: optional live ReadRows service (real SDK client adapter or the
        #: in-process fake, sources/fake_bigtable.py).  When set, reads go
        #: through grpc_transport.fetch_cells — the reference's actual
        #: execution path (execute_plan.rs:168-212) — instead of the
        #: parquet stand-in.  The response is materialized on the driver
        #: (exactly like the reference collects the RPC response into
        #: RecordBatches); for 100 TB-scale data use cells_path parquet.
        self.config = config
        self.service = service

    # -- pruning ----------------------------------------------------------
    def key_ranges(self, predicates: Iterable[Predicate]) -> list[KeyRange]:
        return compose(
            encode_predicates(
                predicates, self.config.table_partition_cols, self.config.key_types
            ),
            self.config.table_partition_cols,
            self.config.table_partition_separator,
            allow_full_scan=self.config.allow_full_scan,
        )

    def _ranges_select_exactly(self, predicates: Sequence[Predicate]) -> bool:
        """True when the composed ranges hold exactly the rows the
        predicates select, so a cap the service takes over the ranges
        counts only matching rows: each key component is constrained at
        most once, by a non-negated ``=`` / ``IN`` with literals of its
        type, or the tail by a non-negated BETWEEN."""
        pcols = self.config.table_partition_cols
        preds = encode_predicates(predicates, pcols, self.config.key_types)
        cols = [p.col for p in preds]
        return len(set(cols)) == len(cols) and all(
            p.col in pcols
            and not getattr(p, "negated", False)
            and (p.col == pcols[-1] or not isinstance(p, Between))
            and all(isinstance(v, str) for v in _literals(p))
            for p in preds
        )

    # -- assembly ---------------------------------------------------------
    def to_df(
        self,
        spark: SparkSession,
        predicates: Sequence[Predicate] = (),
        as_of=None,
        strict_as_of: bool = False,
        value_filters: Sequence[tuple[str, str, object]] = (),
        rows_limit: int | None = None,
    ) -> DataFrame:
        """Assemble the relational view of the rows the key ``predicates``
        select; ``as_of`` (naive datetime) gives a TIME-TRAVEL read: the
        latest version of each cell among versions with ``ts <= as_of`` —
        Bigtable's timestamp-bounded read.  The bound applies BEFORE the
        latest-version filter, in the scan (the Data Source's ``as_of``
        option) or in the request's filter chain.  That is the ordering the
        generic ts-pushdown gate refuses to produce by accident (a ts bound
        pushed under a latest-filtered read turns "latest, then filter"
        into "filter, then latest"); here the caller asks for it.

        ``strict_as_of=True`` raises :class:`GCWatermarkError` when the
        bound is at or before the store's GC watermark (a version-GC
        compaction may have dropped versions the snapshot needs); the
        default warns (:class:`GCWatermarkWarning`) and returns the
        best-effort snapshot.

        ``value_filters`` — ``(column, op, literal)`` triples with op in
        eq/ge/gt/le/lt (r7; the reference's unshipped value-filter roadmap,
        README.md:46-49): on the SERVICE path each pushes into the
        ReadRows request as a per-qualifier Interleave of byte ranges
        (grpc_transport.build_value_pred_filter) positioned AFTER the
        latest-version limit — latest-then-filter, never the promotion
        hazard; on the parquet path they reach ``pushFilters`` like any
        WHERE.  The exact relational predicate is ALWAYS re-applied on the
        decoded frame (the A16 inexact contract).

        ``rows_limit`` (r7) — the ReadRowsRequest's real ``rows_limit``:
        the first N post-filter rows in row-key order.  Pushed into the
        request on the service path when no row of the capped ranges can
        fail a re-applied filter, and always applied relationally as a
        key-ordered TakeOrderedAndProject; latest-mode only (under
        version-unnest a Bigtable row fans out per timestamp, so the cap
        would not be the relational LIMIT — it warns and is ignored).
        """
        cfg = self.config
        # eager: a missing key filter raises ComposerError here, not at
        # the first action
        ranges = self.key_ranges(predicates)

        cap = rows_limit if cfg.only_read_latest else None
        if rows_limit is not None and cap is None:
            import warnings

            warnings.warn(
                "bigtable: rows_limit ignored for a version-unnest read — "
                "the service caps Bigtable ROWS, which pivot to one output "
                "row per surviving timestamp; apply .limit() above instead",
                stacklevel=2,
            )
        if self.service is not None:
            # the wire cap counts Bigtable rows of the ranges; it is exact
            # only if every one of them survives the filters re-applied
            # below (with value_filters, a row can pass the request's
            # keep-rest interleave and still fail the relational compare)
            exact = not value_filters and self._ranges_select_exactly(predicates)
            df = self._service_df(spark, ranges, as_of, value_filters, cap if exact else None)
        elif cfg.cells_path:
            df = self._store_df(spark, predicates, as_of, strict_as_of)
        else:
            raise NotImplementedError(
                "no transport: set cells_path to a parquet cells store, or "
                "pass a ReadRows service (real client or the in-process "
                "fake, sources/fake_bigtable.py)"
            )

        for p in predicates:
            df = df.filter(_predicate_column(p))
        # ASCII-gated string encodings keep byte order equal to Spark's
        # string order, so pushed and re-applied semantics agree; a NULL
        # decoded value — missing cell — fails the compare on both paths
        for col, op, lit in value_filters:
            df = df.filter(_OPS[op](F.col(col), F.lit(lit)))
        if cap is not None:
            # the first N rows in ROW-KEY byte order, after every filter,
            # as the server would cap them — ordered by the rebuilt raw
            # key, not the component tuple: a component character below
            # the separator would invert tuple vs joined order
            df = df.orderBy(_raw_row_key(cfg)).limit(cap)
        return df

    def _store_df(self, spark, predicates, as_of, strict_as_of) -> DataFrame:
        """A fresh ``format("bigtable")`` read of the parquet store (a
        fresh ``load()`` per call: see the scan-cache caveat in
        datasource.py)."""
        from datafusion_bigtable_spark.sources import datasource

        cfg = self.config
        opts = datasource._options_from_config(cfg)
        if as_of is not None:
            _check_gc_watermark(cfg.cells_path, as_of, strict_as_of)
            opts["as_of"] = as_of.isoformat(sep=" ", timespec="microseconds")
        # NOT BETWEEN never reaches the source (Spark pushes no OR to a
        # Python data source); when the tail needs it to compose, the scan
        # is a full one under the re-applied filter — the guard it would
        # trip was enforced eagerly by key_ranges
        try:
            self.key_ranges([p for p in predicates if not getattr(p, "negated", False)])
        except ComposerError:
            opts["allow_full_scan"] = "true"
        datasource.register(spark)
        df = spark.read.format(datasource.FORMAT_NAME).options(**opts).load()
        # Spark reuses a load() handle's last planned scan for a query that
        # pushes no filter (datasource.py, "KNOWN UPSTREAM CAVEAT"): this
        # always-true bound makes every query over the frame push one, so
        # a view queried with and without a WHERE never reads a stale,
        # key-pruned scan
        return df.filter(F.col(RESERVED_TIMESTAMP) >= F.lit(_TS_FLOOR).cast("timestamp_ntz"))

    def _service_df(self, spark, ranges, as_of, value_filters, rows_limit) -> DataFrame:
        """Live ReadRows path: ranges and the filter chain are pushed INTO
        the request (server-side pruning, execute_plan.rs:168-212); the
        response is pivoted on the driver by the scan's Arrow kernel."""
        import pyarrow as pa

        from datafusion_bigtable_spark.sources.cells import _naive_datetime_to_us
        from datafusion_bigtable_spark.sources.datasource import _cells_table, _pivot_partition
        from datafusion_bigtable_spark.sources.grpc_transport import fetch_cells

        cells = list(
            fetch_cells(
                self.config,
                ranges,
                service=self.service,
                as_of_us=_naive_datetime_to_us(as_of) if as_of is not None else None,
                value_preds=tuple(value_filters),
                rows_limit=rows_limit,
            )
        )
        row_key, _family, qualifier, ts_us, value = zip(*cells) if cells else [()] * 5
        rows = pa.Table.from_batches(
            list(_pivot_partition(_cells_table(row_key, qualifier, ts_us, value), self.config))
        )
        return spark.createDataFrame(rows, self.config.schema())

    def mutate(self, df: DataFrame, max_mutations: int = 100_000) -> int:
        """Write a relational DataFrame through the MutateRows transport —
        the live-service counterpart of ``df.write.format("bigtable")``
        (the reference's unshipped "writes to Bigtable", README.md:46-49).

        EXECUTOR-SIDE, never a driver funnel (VERDICT r11 #1 retired the
        ``toLocalIterator`` loop that encoded every cell on the driver):
        each task encodes its partition with the SAME row→cells encoder as
        the parquet staging writer (sources/cells.py::encode_relational_row,
        so wire mutations and staged files cannot drift) and pushes it
        through its OWN connection, one Arrow batch at a time — per-task
        memory stays O(arrow batch), and at 1000 executors the write
        fans out exactly like the DS sink's endpoint mode
        (datasource.py::BigtableWriter.write).

        Executors need a network address, not a driver-resident Python
        object: a :class:`WireBigtableClient` service carries one already;
        any other service (the in-process fake, a real-SDK adapter) gets a
        job-lifetime wire bridge served from the driver process.  Requests
        batch at most ``max_mutations`` SetCell mutations, split on row
        boundaries (per-row atomicity, the service's actual unit).  Task
        retries are idempotent: SetCell carries the row's explicit
        ``_timestamp``, so a replayed batch version-replaces itself.
        Returns the number of MutateRows entries applied (== input rows
        when row keys are unique, the relational frame's normal shape).
        """
        if self.service is None:
            raise NotImplementedError(
                "no transport: MutateRows needs a service (real client or "
                "the in-process fake); for parquet stores use "
                "df.write.format('bigtable')"
            )
        from datafusion_bigtable_spark.sources.wire import (
            WireBigtableClient,
            WireBigtableServer,
        )

        if isinstance(self.service, WireBigtableClient):
            host, port = self.service.address
            bridge = None
        else:
            spark = df.sparkSession
            host = _bridge_bind_host(
                spark.sparkContext.master,
                spark.conf.get("spark.driver.host", None),
            )
            bridge = WireBigtableServer(self.service, host=host).start()
            port = bridge.address[1]

        cfg = self.config
        mm = max_mutations

        def _push(batches):
            from datetime import timezone

            import pyarrow as pa

            from datafusion_bigtable_spark.sources.cells import (
                _naive_datetime_to_us,
                encode_relational_row,
            )
            from datafusion_bigtable_spark.sources.grpc_transport import push_cells
            from datafusion_bigtable_spark.sources.wire import (
                WireBigtableClient as _Client,
            )

            def _us(ts):
                # Arrow hands TIMESTAMP as tz-aware (session tz is UTC,
                # session.py:28) where Row.asDict() gave UTC-naive —
                # normalize so both write paths pin identical micros.
                if ts.tzinfo is not None:
                    ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
                return _naive_datetime_to_us(ts)

            client = _Client(host, port)
            applied = 0
            try:
                for batch in batches:
                    applied += push_cells(
                        cfg,
                        (
                            (k, f, q, _us(ts), v)
                            for row in batch.to_pylist()
                            for k, f, q, ts, v in encode_relational_row(cfg, row)
                        ),
                        service=client,
                        max_mutations=mm,
                    )
            finally:
                client.close()
            yield pa.record_batch([pa.array([applied], type=pa.int64())], names=["applied"])

        try:
            counts = df.mapInArrow(_push, "applied bigint").collect()
        finally:
            if bridge is not None:
                bridge.stop()
        return sum(r.applied for r in counts)

    def register(self, spark: SparkSession, name: str | None = None, **kw) -> DataFrame:
        """``ctx.register_table`` equivalent (reference src/datasource.rs:196-197)."""
        df = self.to_df(spark, **kw)
        df.createOrReplaceTempView(name or self.config.table)
        return df


# the smallest TIMESTAMP_NTZ (and Python datetime): no cell is older
_TS_FLOOR = "0001-01-01 00:00:00"

_OPS = {
    "eq": Column.__eq__,
    "ge": Column.__ge__,
    "gt": Column.__gt__,
    "le": Column.__le__,
    "lt": Column.__lt__,
}


def _literals(p: Predicate) -> tuple:
    if isinstance(p, Eq):
        return (p.value,)
    return (p.low, p.high) if isinstance(p, Between) else tuple(p.values)


def _predicate_column(p: Predicate) -> Column:
    """A composer predicate as a filter on its key component: ``=``,
    ``isin``, or ``>=`` and ``<=`` (what ``pushFilters`` composes back)."""
    col = F.col(p.col)
    if isinstance(p, Eq):
        return col == p.value
    cond = col.between(p.low, p.high) if isinstance(p, Between) else col.isin(list(p.values))
    return ~cond if p.negated else cond


def _raw_row_key(cfg: BigtableTableConfig) -> Column:
    """The stored row key rebuilt from the key components, int64
    components in their order-preserving encoding (plans/keycodec.py)."""
    ktypes = cfg.key_types or ("string",) * len(cfg.table_partition_cols)
    offset = F.expr("CAST('9223372036854775808' AS DECIMAL(20,0))")  # 2**63
    comps = [
        F.lpad((F.col(c).cast("decimal(20,0)") + offset).cast("string"), 20, "0")
        if t == "int64"
        else F.col(c)
        for c, t in zip(cfg.table_partition_cols, ktypes)
    ]
    return compose_row_key(comps, cfg.table_partition_separator)


def _check_gc_watermark(cells_path: str, as_of, strict: bool) -> None:
    """Time travel vs GC: a version-GC compaction drops cell versions and
    records the newest dropped ts in the store's watermark sidecar.  An
    as-of read bounded at or before that instant can no longer reconstruct
    the snapshot that was live then (Bigtable has the same property: GC'd
    cells are unreadable at any timestamp) — silent plausible-but-wrong
    history is the worst outcome, so be loud: warn by default, raise
    under ``strict``."""
    from datafusion_bigtable_spark.sources.cells import (
        _naive_datetime_to_us,
        _us_to_naive_datetime,
        read_gc_watermark_us,
    )

    wm = read_gc_watermark_us(cells_path)
    if wm is None or _naive_datetime_to_us(as_of) > wm:
        return
    msg = (
        f"as_of={as_of.isoformat(sep=' ')} is at or before this store's GC "
        f"watermark {_us_to_naive_datetime(wm).isoformat(sep=' ')} — versions "
        "live at that instant may have been garbage-collected; the snapshot "
        "is best-effort, not exact"
    )
    if strict:
        raise GCWatermarkError(msg)
    import warnings

    warnings.warn(msg, GCWatermarkWarning, stacklevel=4)
