"""Cells/s micro-benchmark of the connector's read layer: the pivot kernel
alone, and the scan tasks that feed it.

    python tools/bench_pivot.py [--seed 1] [--repeats 7] [--latest true|false] [--cores 2]
                                [--columns 4]

Generates the seeded store of the connector benchmark's ``scan`` workload
(``connbench/store.py``: 30,720 row keys x 3 versions x 4 qualifiers with
NULL holes, ~331.8k cells in 8 key-sorted files) in a temporary
directory and times two figures, ``--repeats`` passes each:

- ``kernel``: ``datasource._pivot_partition`` alone, one call per file
  on the file's cells read into Arrow once (the chunk a packed full scan
  hands it);
- ``scan``: ``BigtableReader.read`` over every partition of a full scan
  planned at ``--cores`` (the benchmark's ``local[2]`` by default), i.e.
  what the scan tasks run: footer reads, the parquet read and the pivot.
  ``task_ms`` is the median pass over the number of partitions;
  ``digest`` hashes the rows of every partition in order, so two trees
  can be checked for identical output.

``--columns N`` declares only the first N of the store's 4 qualifiers,
so both figures time a narrow projection over the same cells.

Prints one JSON line.  Nothing is written into the repo.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _timed(fn, repeats: int) -> list[float]:
    passes = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        passes.append(time.perf_counter() - t0)
    return passes


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=7)
    ap.add_argument("--latest", choices=["true", "false"], default="true")
    ap.add_argument("--cores", type=int, default=2)
    ap.add_argument("--columns", type=int, default=4, choices=range(1, 5))
    args = ap.parse_args(argv)

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from connbench import store as st
    from datafusion_bigtable_spark.sources import datasource

    spec = st.StoreSpec(regions=8, devices=32, minutes=120, versions=3, files=8)
    columns = ",".join(st.READ_OPTIONS["columns"].split(",")[: args.columns])
    options = {
        **st.READ_OPTIONS,
        "columns": columns,
        "only_read_latest": args.latest,
        "allow_full_scan": "true",
    }
    cfg = datasource._config_from_options({**options, "path": "-"})
    with tempfile.TemporaryDirectory() as tmp:
        cells = st.generate_cells(spec, np.random.default_rng([args.seed, 0]))
        st.write_store(cells, tmp, spec.files)
        chunks = [
            pq.read_table(f, columns=datasource.CELL_COLUMNS)
            for f in sorted(Path(tmp).glob("*.parquet"))
        ]
        n_cells = sum(c.num_rows for c in chunks)
        kernel = _timed(
            lambda: [b for c in chunks for b in datasource._pivot_partition(c, cfg)], args.repeats
        )
        rows = sum(b.num_rows for c in chunks for b in datasource._pivot_partition(c, cfg))

        reader = datasource.BigtableReader(None, {**options, "path": tmp}, args.cores)
        parts = reader.partitions()
        scan = _timed(lambda: [list(reader.read(p)) for p in parts], args.repeats)
        digest = hashlib.sha256()
        for p in parts:
            table = pa.Table.from_batches(list(reader.read(p)), datasource._arrow_schema(cfg))
            digest.update(json.dumps(table.to_pylist(), default=str).encode())

    k_med, s_med = statistics.median(kernel), statistics.median(scan)
    print(json.dumps({
        "cells": n_cells,
        "rows": rows,
        "latest": args.latest == "true",
        "columns": args.columns,
        "kernel": {
            "best_s": round(min(kernel), 4),
            "median_s": round(k_med, 4),
            "cells_per_s": round(n_cells / k_med),
        },
        "scan": {
            "cores": args.cores,
            "partitions": len(parts),
            "task_ms": round(s_med * 1e3 / len(parts), 2),
            "best_s": round(min(scan), 4),
            "median_s": round(s_med, 4),
            "cells_per_s": round(n_cells / s_med),
            "digest": digest.hexdigest()[:16],
        },
    }))


if __name__ == "__main__":
    main()
