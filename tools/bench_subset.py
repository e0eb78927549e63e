"""Bench a subset of queries with bench.py's own methodology: its session,
its warm-up (``bench.warm_up``), its noop-sink run (``bench.run_once``)
and its sampling rule (``bench.sample``: min-of-2 / median-of-3), so a
targeted optimization can be measured without a full 184-query sweep.

    python tools/bench_subset.py sim_index_upsert sim_index_compact ...

Prints one line per query; writes nothing into the repo.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> None:
    from bench import run_once, sample, warm_up
    from datafusion_bigtable_spark.session import get_spark

    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dbs-bench-subset")
    warm_up(spark, sf_dir)
    samples, timings = sample(lambda n: run_once(spark, sf_dir, n), names)
    for n in names:
        print(f"SUBSET {n}: {timings[n]:.3f}s  samples={samples[n]}")
    print("SUBSET_JSON", json.dumps(timings))


if __name__ == "__main__":
    main()
