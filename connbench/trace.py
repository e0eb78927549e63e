"""Spans and counters recorded from the benchmark's side of each layer.

Scan and write code runs in Python worker processes the harness cannot
wrap, so a traced run replays each op's connector calls in this process
(``BigtableReader.pushFilters`` / ``partitions`` / ``read``, the writer's
``write`` / ``commit``, the ``WireBigtableClient`` calls) with the layer
entry points below wrapped for the duration.  Nothing in the package is
edited: the wrappers replace module or class attributes and are removed
when the traced run ends.

Spark numbers come from the in-process status store (the UI stays off):
every op runs under its own job group, and ``SparkLayer`` maps each job's
stages to task run/CPU time, shuffle bytes and the job's wall span.
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections import defaultdict

now = time.perf_counter


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory, plus counters
    summed per name.  A layer's self time is its span's duration minus its
    children's."""

    def __init__(self):
        self.op: int | None = None
        self.spans: list[list] = []
        self.counts: dict = defaultdict(float)
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = [name, now(), None, stack[-1] if stack else None, self.op]
        stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = now()
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def self_ms(self) -> dict:
        """``{name: self time in ms}`` summed over every closed span."""
        child = defaultdict(float)
        for _name, t0, t1, parent, _op in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        out: dict = defaultdict(float)
        for i, (name, t0, t1, _parent, _op) in enumerate(self.spans):
            if t1 is not None:
                out[name] += (t1 - t0 - child[i]) * 1e3
        return out

    @staticmethod
    def span_cost_ms() -> float:
        """Calibrated cost of recording one span, for the overhead figure."""
        probe = Tracer()
        n = 2000
        t0 = now()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (now() - t0) * 1e3 / n


def _timed_generator(tracer: Tracer, name: str, gen, on_item=None):
    """Re-yield ``gen``, charging only the time spent inside it to ``name``
    (the consumer's work between items is not the producer's)."""
    while True:
        with tracer.span(name):
            try:
                item = next(gen)
            except StopIteration:
                return
        if on_item is not None:
            on_item(item)
        yield item


@contextlib.contextmanager
def wrap_layers(tracer: Tracer):
    """Install span/counter wrappers on the connector's layer entry points
    for the duration of the block."""
    from datafusion_bigtable_spark.sources import cells, datasource, fake_bigtable, wire

    patches: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = owner.__dict__[attr]
        patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def spanned(name, count=None):
        def make(orig):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    out = orig(*a, **kw)
                if count is not None:
                    tracer.count(count, len(out))
                return out

            return wrapper

        return make

    def pivot(orig):
        def wrapper(cells_df, cfg):
            tracer.count("pivot.cells", len(cells_df))
            return _timed_generator(tracer, "pivot", orig(cells_df, cfg))

        return wrapper

    def client_call(orig):
        def wrapper(self, method, request_buf):
            for payload in orig(self, method, request_buf):
                if method == wire.METHOD_READ_ROWS:
                    tracer.count("wire.read_rows_bytes", len(payload) + 5)  # + frame header
                yield payload

        return wrapper

    def client_stream(name, on_item=None):
        def make(orig):
            def wrapper(self, request):
                return _timed_generator(tracer, name, orig(self, request), on_item)

            return wrapper

        return make

    def key_selected(orig):
        fn = orig.__func__

        def wrapper(key_bytes, rows):
            tracer.count("service.keys_examined")
            return fn(key_bytes, rows)

        return staticmethod(wrapper)

    def service_read_rows(orig):
        def wrapper(self, request):
            for item in orig(self, request):
                tracer.count("service.rows_returned")
                yield item

        return wrapper

    patch(datasource, "compose", spanned("composer", "composer.ranges"))
    patch(datasource, "from_datasource_filters", spanned("composer"))
    patch(cells, "read_manifest", spanned("plan.manifest"))
    patch(cells, "write_manifest", spanned("write.manifest"))
    patch(datasource, "_pivot_partition", pivot)
    patch(wire.WireBigtableClient, "_call", client_call)
    patch(wire.WireBigtableClient, "sample_row_keys", client_stream("wire.sample_row_keys"))
    patch(
        wire.WireBigtableClient, "read_rows",
        client_stream("wire.read_rows", lambda _row: tracer.count("wire.rows")),
    )
    patch(fake_bigtable.InProcessBigtableService, "_key_selected", key_selected)
    patch(fake_bigtable.InProcessBigtableService, "read_rows", service_read_rows)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)


class SparkLayer:
    """Per-op Spark numbers from the status store, keyed by job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext

    def set_op(self, op: int | None) -> None:
        if op is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"connbench-op-{op}", f"connbench op {op}")

    def per_op(self) -> dict:
        """``{op: {jobs, task_run_ms, task_cpu_ms, shuffle_bytes, spans}}``
        where ``spans`` are the jobs' (submit, complete) epoch-ms pairs."""
        store = self._sc._jsc.sc().statusStore()
        gw = self._sc._gateway
        stages = {}
        seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(seq.size()):
            st = seq.apply(i)
            stages[st.stageId()] = (
                st.executorRunTime(),
                st.executorCpuTime() / 1e6,
                st.shuffleReadBytes() + st.shuffleWriteBytes(),
            )
        out: dict = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith("connbench-op-"):
                continue
            op = int(group.get().rsplit("-", 1)[1])
            rec = out.setdefault(
                op, {"jobs": 0, "task_run_ms": 0.0, "task_cpu_ms": 0.0, "shuffle_bytes": 0, "spans": []}
            )
            rec["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                run, cpu, shuffle = stages.get(ids.apply(k), (0, 0.0, 0))
                rec["task_run_ms"] += run
                rec["task_cpu_ms"] += cpu
                rec["shuffle_bytes"] += shuffle
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                rec["spans"].append((sub.get().getTime(), done.get().getTime()))
        return out


def union_ms(spans) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
