"""Connector benchmark: one workload per run, one JSON line of metrics.

    python3 connbench/run.py --workload scan --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout: the package is imported from there,
and Spark's Python workers get the same import path.  Everything the run
writes (stores, Spark scratch, temp files) lives under ``.connbench_work/``
in the checkout and is removed at exit.

Workloads (BENCHMARK.json lists ``scan`` and ``ingest``; NOTES.md says why):

- ``scan``: a full scan of a more-versioned store under a Catalyst
  aggregate, time-bounded;
- ``ingest``: a fixed number of seeded ``mode("append")`` batches, each
  followed by a read-your-write lookup;
- ``lookup``: Zipf-skewed ``=`` / ``IN`` / ``BETWEEN`` key predicates
  against a parquet store, a fresh ``load()`` per op, time-bounded;
- ``wire_lookup``: the ``lookup`` stream through ``.option("endpoint")`` to
  a ``WireBigtableServer`` in this process.

With ``--trace 0`` the run reports the end-to-end metrics.  With
``--trace 1`` it runs the same op stream, puts every op in its own Spark
job group, replays each op's connector calls in this process with the
layer entry points wrapped (see trace.py) and reports per-layer metrics.
Every op's result is checked against a duckdb oracle computed from the
generated cells; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 2  # local[2]: spare cores for the JVM's own threads and a shared host's other load
SETUP_REPEATS = 3
INGEST_APPENDS = 10
APPEND_MINUTES = 48

now = time.perf_counter


def _prepare_environment(work: str) -> None:
    """Point every scratch path into ``work`` and give Spark's Python
    workers the checkout on their import path (workers started by the JVM
    do not inherit this process's ``sys.path``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf spark.ui.showConsoleProgress=false '
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; with ten samples or fewer, the maximum."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        import numpy as np

        from connbench import store as st

        self.np, self.st = np, st
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = work
        self.path = os.path.join(work, "store")
        lookup_store = st.StoreSpec(regions=8, devices=32, minutes=40, versions=2, files=16)
        self.spec = {
            "lookup": lookup_store,
            "wire_lookup": lookup_store,
            "scan": st.StoreSpec(regions=8, devices=32, minutes=120, versions=3, files=8),
            "ingest": st.StoreSpec(regions=8, devices=16, minutes=40, versions=2, files=8),
        }[workload]
        self.spark = None
        self.server = None
        self.cells = None
        self.oracle = None
        self.scan_expected: dict = {}
        self.written_user_bytes = 0
        self.spark_layer = None
        self.tracer = None
        self.wire_tracer = None

    # -- set-up ---------------------------------------------------------------

    def start_session(self) -> float:
        """Launch Spark and warm its Python workers on a tiny fixture."""
        from datafusion_bigtable_spark.session import get_spark
        from datafusion_bigtable_spark.sources import datasource
        from datafusion_bigtable_spark.sources.cells import write_weather_balloons_fixture

        t0 = now()
        self.spark = get_spark("connbench", cpus=CPUS)
        datasource.register(self.spark)
        fixture = write_weather_balloons_fixture(os.path.join(self.work, "warm.parquet"))
        warm = (
            self.spark.read.format("bigtable")
            .option("path", fixture)
            .option("column_family", "measurements")
            .option("columns", "pressure:int64,temperature:string")
            .option("table_partition_cols", "region,balloon_id,event_minute")
            .load()
        )
        warm.filter("region = 'us-west2' AND balloon_id = '3698' AND event_minute = '2021-03-05-1200'").collect()
        return now() - t0

    def setup_store(self) -> float:
        """Generate and write the store (identical on every repetition: the
        generator restarts from the seed), start the wire server for
        ``wire_lookup``, and warm up with one op of the workload's kind."""
        from datafusion_bigtable_spark.sources.fake_bigtable import service_from_parquet
        from datafusion_bigtable_spark.sources.wire import WireBigtableServer

        st = self.st
        t0 = now()
        self.cells = st.generate_cells(self.spec, self.np.random.default_rng([self.seed, 0]))
        st.write_store(self.cells, self.path, self.spec.files)
        if self.workload == "wire_lookup":
            if self.server is not None:
                self.server.stop()
            self.server = WireBigtableServer(service_from_parquet(self.path)).start()
        warm_rng = self.np.random.default_rng([self.seed, 9])
        if self.workload == "scan":
            self.run_op("scan", st.SCAN_GROUPINGS[0])
        else:
            self.run_op("lookup", st.lookup_ops(self.spec, warm_rng, 1)[0])
        if self.workload == "ingest":
            # warm the write path on a throw-away store, not the measured one
            warm = os.path.join(self.work, "warm_store")
            shutil.rmtree(warm, ignore_errors=True)
            self.append(self.ingest_batch(warm_rng, 0)[0], warm)
        return now() - t0

    def source(self) -> dict:
        if self.workload == "wire_lookup":
            host, port = self.server.address
            return {"endpoint": f"{host}:{port}"}
        return {"path": self.path}

    def read(self, opts: dict):
        r = self.spark.read.format("bigtable")
        for k, v in {**self.st.READ_OPTIONS, **opts}.items():
            r = r.option(k, v)
        return r.load()

    # -- ops ------------------------------------------------------------------

    def op_stream(self):
        """Yield ``(kind, payload)`` ops: read workloads are time-bounded,
        ``ingest`` always runs the same fixed number of append + lookup
        pairs."""
        st, np = self.st, self.np
        rng = np.random.default_rng([self.seed, 1])
        if self.workload in ("lookup", "wire_lookup"):
            while True:
                for op in st.lookup_ops(self.spec, rng, 256):
                    yield "lookup", op
        elif self.workload == "scan":
            while True:
                yield "scan", st.SCAN_GROUPINGS[int(rng.integers(0, len(st.SCAN_GROUPINGS)))]
        else:
            for k in range(INGEST_APPENDS):
                yield "ingest", self.ingest_batch(rng, k + 1)

    def ingest_batch(self, rng, k: int):
        """Append batch ``k``: one region/device, APPEND_MINUTES minutes
        from a random start (newer versions of existing minutes, then new
        minutes), and the read-your-write lookup over those minutes."""
        st = self.st
        region = st.REGIONS[int(rng.integers(0, self.spec.regions))]
        device = st.device_name(int(rng.integers(0, self.spec.devices)))
        first = int(rng.integers(0, self.spec.minutes))
        batch = st.generate_cells(
            st.StoreSpec(1, 1, APPEND_MINUTES, 1, 1), rng,
            regions=[region], devices=[device],
            minutes=self.np.arange(first, first + APPEND_MINUTES),
            ts_base_us=k * 3_600_000_000,
        )
        lookup = {
            "region": region,
            "device": (device,),
            "between": (st.minute_name(first), st.minute_name(first + APPEND_MINUTES - 1)),
        }
        return batch, lookup

    def run_op(self, kind: str, payload):
        """Run one op through Spark; return (result rows, cells moved)."""
        st = self.st
        if kind == "scan":
            self.read({"path": self.path, "allow_full_scan": "true"}).createOrReplaceTempView("t")
            rows = self.spark.sql(st.scan_query(payload)).collect()
            return sorted((tuple(r) for r in rows), key=repr), self.cells.num_rows
        written = 0
        if kind == "ingest":
            batch, payload = payload
            self.append(batch, self.path)
            written = batch.num_rows
        rows = sorted((tuple(r) for r in self.read(self.source()).filter(st.op_sql(payload)).collect()), key=repr)
        return rows, written + sum(sum(v is not None for v in r[4:]) for r in rows)

    def append(self, batch, path: str) -> None:
        df = self.spark.createDataFrame(self.batch_rows(batch), self.read({"path": path}).schema)
        w = df.write.format("bigtable").mode("append")
        for k, v in {**self.st.READ_OPTIONS, "path": path}.items():
            w = w.option(k, v)
        w.save()

    def batch_rows(self, batch) -> list[tuple]:
        """An append batch as relational rows (one version per row key, so
        one row each; a NULL is a hole)."""
        import duckdb

        con = duckdb.connect()
        con.register("cells", batch.drop_columns(["value"]))
        return con.execute(self.st.Oracle.pivot_sql("true")).fetchall()

    def expected(self, kind: str, payload):
        """The oracle's answer; an ingest op's batch joins the oracle first."""
        if kind == "scan":  # three distinct queries over a static store
            if payload not in self.scan_expected:
                self.scan_expected[payload] = self.oracle.scan(payload)
            return self.scan_expected[payload]
        if kind == "ingest":
            batch, payload = payload
            self.oracle.add(batch)
            self.written_user_bytes += self.st.user_bytes(batch)
        return self.oracle.rows(self.st.op_sql(payload))

    # -- traced replay ----------------------------------------------------------

    def replay(self, op: int, kind: str, payload) -> None:
        """Re-run the op's connector calls in this process under the layer
        wrappers: planning, scan and pivot for reads, encode and commit for
        appends.  On ``lookup`` and ``ingest`` every lookup is replayed over
        the wire as well, into its own tracer, so the transport layer is
        measured."""
        from connbench.trace import wrap_layers

        for tr in (self.tracer, self.wire_tracer):
            if tr is not None:
                tr.op = op
        with wrap_layers(self.tracer):
            if kind == "scan":
                self.replay_read(self.tracer, {"path": self.path, "allow_full_scan": "true"}, [])
                return
            if kind == "ingest":
                batch, payload = payload
                self.replay_append(batch)
            self.replay_read(self.tracer, self.source(), self.st.op_filters(payload))
        if self.wire_tracer is not None:
            with wrap_layers(self.wire_tracer):
                self.replay_read(
                    self.wire_tracer, {"endpoint": self.wire_endpoint()}, self.st.op_filters(payload)
                )

    def wire_endpoint(self) -> str:
        """A ``WireBigtableServer`` over the store as it is now: started
        once for a static store, again for every lookup on ``ingest``."""
        from datafusion_bigtable_spark.sources.fake_bigtable import service_from_parquet
        from datafusion_bigtable_spark.sources.wire import WireBigtableServer

        if self.server is None or self.workload == "ingest":
            if self.server is not None:
                self.server.stop()
            self.server = WireBigtableServer(service_from_parquet(self.path)).start()
        host, port = self.server.address
        return f"{host}:{port}"

    def replay_read(self, tr, opts: dict, filters: list) -> None:
        from datafusion_bigtable_spark.sources.datasource import BigtableReader

        reader = BigtableReader(None, {**self.st.READ_OPTIONS, **opts})
        with tr.span("plan"):
            if filters:
                list(reader.pushFilters(filters))
            parts = reader.partitions()
        rows = 0
        for p in parts:
            with tr.span("scan"):
                for batch in reader.read(p):
                    rows += batch.num_rows
        tr.count("plan.partitions", len(parts))
        tr.count("scan.rows", rows)
        if "endpoint" in opts:
            tr.count("wire.shards", len(parts))
        else:
            tr.count("plan.files_used", len({f for p in parts for f in p.files}))
            tr.count("plan.files_in_store", sum(f.endswith(".parquet") for f in os.listdir(self.path)))

    def replay_append(self, batch) -> None:
        """Encode and commit the batch into a shadow of the store (hard
        links to its data files, a copy of its manifest), so the replay
        sees the real file count without writing the real store twice."""
        from pyspark.sql import Row

        from datafusion_bigtable_spark.sources.cells import MANIFEST_REL_PATH
        from datafusion_bigtable_spark.sources.datasource import BigtableWriter

        tr = self.tracer
        shadow = os.path.join(self.work, "shadow")
        shutil.rmtree(shadow, ignore_errors=True)
        os.makedirs(os.path.join(shadow, os.path.dirname(MANIFEST_REL_PATH)))
        for f in os.listdir(self.path):
            if f.endswith(".parquet"):
                os.link(os.path.join(self.path, f), os.path.join(shadow, f))
        shutil.copy(os.path.join(self.path, MANIFEST_REL_PATH), os.path.join(shadow, MANIFEST_REL_PATH))
        cols = self.st.RESULT_COLS
        rows = [Row(**dict(zip(cols, r))) for r in self.batch_rows(batch)]
        writer = BigtableWriter(None, {**self.st.READ_OPTIONS, "path": shadow}, overwrite=False)
        with tr.span("write.encode"):
            msg = writer.write(iter(rows))
        with tr.span("write.commit"):
            writer.commit([msg])
        shutil.rmtree(shadow)

    # -- the run ----------------------------------------------------------------

    def run(self) -> dict:
        from connbench.trace import SparkLayer, Tracer

        session_s = self.start_session()
        store_s = [self.setup_store() for _ in range(SETUP_REPEATS)]
        setup_s = session_s + statistics.median(store_s)
        self.oracle = self.st.Oracle(self.cells)
        if self.traced:
            self.spark_layer = SparkLayer(self.spark)
            self.tracer = Tracer()
            if self.workload in ("lookup", "ingest"):
                self.wire_tracer = Tracer()

        walls: dict[int, float] = {}  # op -> wall seconds, successful ops only
        moved = 0
        attempted = failed = 0
        checks: list[tuple] = []
        job_group_s = 0.0
        t_start = now()
        for kind, payload in self.op_stream():
            if self.workload != "ingest" and now() - t_start >= self.seconds:
                break
            op = attempted
            attempted += 1
            if self.traced:
                t = now()
                self.spark_layer.set_op(op)
                job_group_s += now() - t
            try:
                t0 = now()
                rows, cells = self.run_op(kind, payload)
                walls[op] = now() - t0
                moved += cells
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                traceback.print_exc()
                failed += 1
                continue
            finally:
                if self.traced:
                    t = now()
                    self.spark_layer.set_op(None)
                    job_group_s += now() - t
            checks.append((rows, self.expected(kind, payload)))
            if self.traced:
                self.replay(op, kind, payload)
        failed += sum(rows != want for rows, want in checks)

        user = self.st.user_bytes(self.cells) + self.written_user_bytes
        result = {
            "attempted": attempted,
            "failed": failed,
            "walls": walls,
            "setup_s": setup_s,
            "session_s": session_s,
            "store_setup_s": store_s,
            "moved": moved,
            "bytes_ratio": self.st.stored_bytes(self.path) / user,
            "peak_rss_mb": self.peak_rss_mb(),
            "job_group_s": job_group_s,
        }
        if self.traced:
            result["spark"] = self.spark_layer.per_op()
        return result

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as fh:
            hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def close(self) -> None:
        """Stop the wire server, Spark and the JVM, and wait for the JVM."""
        if self.server is not None:
            self.server.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(bench: Bench, r: dict) -> dict:
    walls = list(r["walls"].values())
    tail_ms, tail_pct = tail([w * 1e3 for w in walls])
    print(
        f"# {bench.workload}: {len(walls)} timed ops, p{tail_pct:.0f} {tail_ms:.0f} ms; "
        f"session {r['session_s']:.2f} s, store set-ups {[round(x, 2) for x in r['store_setup_s']]}; "
        f"op walls {[round(w, 2) for w in walls]}",
        file=sys.stderr,
    )
    return {
        "setup_s": (r["setup_s"], "s"),
        "op_p50_ms": (statistics.median(walls) * 1e3, "ms"),
        "cells_per_s": (r["moved"] / sum(walls), "1/s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "bytes_stored_per_user_byte": (r["bytes_ratio"], "ratio"),
    }


def per_layer(bench: Bench, r: dict) -> dict:
    """Per-op means of every layer's self time and counters."""
    from datafusion_bigtable_spark.sources.cells import read_manifest
    from datafusion_bigtable_spark.sources.datasource import _key_disjoint_groups

    from connbench.trace import union_ms

    walls = r["walls"]
    n = max(len(walls), 1)

    def ratio(a, b):
        return a / b if b else 0.0

    ms, cnt = bench.tracer.self_ms(), bench.tracer.counts
    # transport figures come from the wire replay's own tracer where it has one
    wire_tr = bench.wire_tracer or bench.tracer
    wms, wcnt = wire_tr.self_ms(), wire_tr.counts

    composer = ms["composer"]
    plan = ms["plan"] + ms["plan.manifest"]  # pushFilters + partitions, less composer and transport
    scan, pivot = ms["scan"], ms["pivot"]
    srk, rr = ms["wire.sample_row_keys"], ms["wire.read_rows"]
    cells = cnt["pivot.cells"]

    spark = r["spark"]
    gaps = [w * 1e3 - union_ms(spark.get(op, {}).get("spans", [])) for op, w in walls.items()]
    gap = statistics.fmean(gaps) if gaps else 0.0
    store_stats = read_manifest(bench.path) or []
    spans = len(bench.tracer.spans) + (len(bench.wire_tracer.spans) if bench.wire_tracer else 0)

    m = {
        "composer.ms_per_op": (composer / n, "ms"),
        "composer.ranges_per_op": (cnt["composer.ranges"] / n, "count"),
        "plan.ms_per_op": (plan / n, "ms"),
        "plan.partitions_per_op": (cnt["plan.partitions"] / n, "count"),
        "plan.file_prune_ratio": (1 - ratio(cnt["plan.files_used"], cnt["plan.files_in_store"])
                                  if cnt["plan.files_in_store"] else 0.0, "ratio"),
        "scan.ms": (scan / n, "ms"),
        "scan.cells_read": (cells / n, "count"),
        "scan.cells_read_per_row_returned": (ratio(cells, cnt["scan.rows"]), "ratio"),
        "pivot.ms": (pivot / n, "ms"),
        "pivot.cells_per_s": (ratio(cells, pivot / 1e3), "1/s"),
        "pivot.share_of_read": (ratio(pivot, scan + pivot + rr), "ratio"),
        "wire.sample_row_keys_ms_per_op": (wms["wire.sample_row_keys"] / n, "ms"),
        "wire.read_rows_ms_per_op": (wms["wire.read_rows"] / n, "ms"),
        "wire.shards_per_op": (wcnt["wire.shards"] / n, "count"),
        "wire.bytes_per_row": (ratio(wcnt["wire.read_rows_bytes"], wcnt["wire.rows"]), "B"),
        "service.keys_examined_per_row_returned": (
            ratio(wcnt["service.keys_examined"], wcnt["service.rows_returned"]), "ratio"),
        "write.encode_ms": (ms["write.encode"] / n, "ms"),
        "write.commit_ms": (ms["write.commit"] / n, "ms"),
        "write.manifest_ms": (ms["write.manifest"] / n, "ms"),
        "store.files": (len(store_stats), "count"),
        "store.key_disjoint_groups": (len(_key_disjoint_groups(store_stats)), "count"),
        "spark.jobs_per_op": (sum(s["jobs"] for s in spark.values()) / n, "count"),
        "spark.task_run_ms_per_op": (sum(s["task_run_ms"] for s in spark.values()) / n, "ms"),
        "spark.task_cpu_ms_per_op": (sum(s["task_cpu_ms"] for s in spark.values()) / n, "ms"),
        "spark.shuffle_bytes_per_op": (sum(s["shuffle_bytes"] for s in spark.values()) / n, "B"),
        "spark.driver_gap_ms_per_op": (gap, "ms"),
    }
    # The op wall split.  Composer and planning run in Spark's planning
    # workers, inside the driver gap; scan and pivot run in tasks, inside
    # the job spans.  The rest of the driver gap is Spark's own; what no
    # layer covers (task launch, worker IPC, serialisation) is unattributed.
    split = {
        "split.composer_ms": composer / n,
        "split.plan_ms": plan / n,
        "split.scan_ms": scan / n,
        "split.pivot_ms": pivot / n,
        "split.transport_ms": (srk + rr) / n,
        "split.spark_driver_ms": max(gap - (composer + plan + srk) / n, 0.0),
    }
    wall = statistics.fmean(walls.values()) * 1e3 if walls else 0.0
    split["split.unattributed_ms"] = wall - sum(split.values())
    m.update({k: (v, "ms") for k, v in split.items()})
    m["trace.overhead_ms_per_op"] = (
        (spans * bench.tracer.span_cost_ms() + r["job_group_s"] * 1e3) / n, "ms")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["lookup", "wire_lookup", "scan", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".connbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_environment(work)
    bench = None
    try:
        import datafusion_bigtable_spark  # noqa: F401 — fail before any set-up if the package is absent

        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
        r = bench.run()
        metrics = per_layer(bench, r) if args.trace else end_to_end(bench, r)
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run's work dir may still be there
            os.rmdir(os.path.dirname(work))
    out = {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
