"""Cells/s micro-benchmark of the connector's pivot kernel.

    python tools/bench_pivot.py [--seed 1] [--repeats 7] [--latest true|false]

Generates the seeded store of the connector benchmark's ``scan`` workload
(``connbench/store.py``: 30,720 row keys x 3 versions x 4 qualifiers with
NULL holes, ~331.8k cells in 8 key-sorted files) in a temporary
directory, reads each file's cells into Arrow once, then times
``datasource._pivot_partition`` alone: one call per file, the chunk the
packed full scan hands it, ``--repeats`` passes over the store.  Prints
one JSON line: cells, rows out, the best and median pass in seconds and
cells/s at the median.  Nothing is written into the repo.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=7)
    ap.add_argument("--latest", choices=["true", "false"], default="true")
    args = ap.parse_args(argv)

    import numpy as np
    import pyarrow.parquet as pq

    from connbench import store as st
    from datafusion_bigtable_spark.sources import datasource

    spec = st.StoreSpec(regions=8, devices=32, minutes=120, versions=3, files=8)
    cfg = datasource._config_from_options(
        {**st.READ_OPTIONS, "path": "-", "only_read_latest": args.latest}
    )
    with tempfile.TemporaryDirectory() as tmp:
        cells = st.generate_cells(spec, np.random.default_rng([args.seed, 0]))
        st.write_store(cells, tmp, spec.files)
        chunks = [
            pq.read_table(f, columns=datasource.CELL_COLUMNS)
            for f in sorted(Path(tmp).glob("*.parquet"))
        ]

    n_cells = sum(c.num_rows for c in chunks)
    passes, rows = [], 0
    for _ in range(args.repeats):
        t0 = time.perf_counter()
        rows = sum(b.num_rows for c in chunks for b in datasource._pivot_partition(c, cfg))
        passes.append(time.perf_counter() - t0)
    median = statistics.median(passes)
    print(json.dumps({
        "cells": n_cells,
        "rows": rows,
        "latest": args.latest == "true",
        "best_s": round(min(passes), 4),
        "median_s": round(median, 4),
        "cells_per_s": round(n_cells / median),
    }))


if __name__ == "__main__":
    main()
