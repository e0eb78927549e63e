"""Per-job profile of one registry query (guide §1: measure first).

Runs the named query like bench.py (same session, the same warm-up
``bench.warm_up``, noop sink), then dumps every Spark job the run launched — duration, stage
count, task count, description — from the local UI REST API, plus the
wall-clock gap between jobs (driver-side time: planning, py4j, file ops).

    python tools/profile_query.py sim_index_compact [--runs 2]

Output is human-readable; nothing is written into the repo.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _api(spark, suffix: str):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{suffix}") as r:
        return json.load(r)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 2
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from datafusion_bigtable_spark import queries as Q
    from datafusion_bigtable_spark import session as S

    # Same session as bench.py but with the UI on (the REST API is the
    # per-job metrics source) — wrap the builder config.
    from pyspark.sql import SparkSession

    _orig = SparkSession.Builder.getOrCreate

    def _with_ui(self):
        self.config("spark.ui.enabled", "true")
        return _orig(self)

    SparkSession.Builder.getOrCreate = _with_ui
    try:
        spark = S.get_spark("dbs-profile")
    finally:
        SparkSession.Builder.getOrCreate = _orig
    from bench import warm_up

    warm_up(spark, sf_dir)

    for name in names:
        fn = Q.REGISTRY[name].fn
        for run in range(runs):
            jobs_before = {j["jobId"] for j in _api(spark, "jobs")}
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_plan = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            spark.catalog.clearCache()
            jobs = [j for j in _api(spark, "jobs") if j["jobId"] not in jobs_before]
            jobs.sort(key=lambda j: j["jobId"])
            total_job = 0.0
            print(f"\n=== {name} run {run}: wall {elapsed:.3f}s (fn() returned at {t_plan:.3f}s) ===")
            prev_end = None
            for j in jobs:
                st = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                sub_ms = time.mktime(st) + float(j["submissionTime"][20:23]) / 1000
                ct = j.get("completionTime")
                if ct:
                    cts = time.mktime(time.strptime(ct[:19], "%Y-%m-%dT%H:%M:%S")) + float(ct[20:23]) / 1000
                    dur = cts - sub_ms
                else:
                    cts, dur = sub_ms, 0.0
                gap = "" if prev_end is None else f" gap {sub_ms - prev_end:+.3f}s"
                prev_end = cts
                total_job += dur
                desc = (j.get("description") or j.get("name") or "")[:110]
                print(
                    f"  job {j['jobId']:>4} {dur:7.3f}s  stages={len(j.get('stageIds', []))}"
                    f" tasks={j.get('numTasks', 0):>4}{gap}  {desc}"
                )
                if dur >= 1.0:
                    for sid in sorted(j.get("stageIds", [])):
                        try:
                            for s in _api(spark, f"stages/{sid}"):
                                nm = (s.get("name") or "")[:90]
                                print(
                                    f"       stage {sid}: {s['status']} tasks={s.get('numCompleteTasks', 0)}"
                                    f" runTime={s.get('executorRunTime', 0) / 1000:.2f}s"
                                    f" cpuTime={s.get('executorCpuTime', 0) / 1e9:.2f}s"
                                    f" gc={s.get('jvmGcTime', 0) / 1000:.2f}s"
                                    f" shufR={s.get('shuffleReadBytes', 0)} shufW={s.get('shuffleWriteBytes', 0)}  {nm}"
                                )
                        except Exception:
                            pass
            print(
                f"  jobs={len(jobs)} sum(job)={total_job:.3f}s driver-side={elapsed - total_job:.3f}s"
            )


if __name__ == "__main__":
    main()
