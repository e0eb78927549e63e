"""Full-registry oracle gate (VERDICT r12 #2): every registered query vs its
DuckDB oracle at sf0.01 — rows + schema-kind + order-insensitive value
compare, the same discipline as tests/oracle_harness.compare and the driver's
50-slot window, but over ALL queries.

The committed output (``FULLGATE_r{N}.json`` at the repo root) is
round-close evidence: each registered query's status on the final tree.  The
verification schedule in queries.py does not read it: the driver window is
derived from the driver's own ``CORRECTNESS_r{N}.json`` artifacts alone.

Usage (run from anywhere; ~4 min on local[32] at sf0.01):

    python tools/full_gate.py --round 13
    python tools/full_gate.py --round 13 --sf-dir /root/testdata/sf0.01 \
        --out /tmp/somewhere.json      # manual run, repo artifact untouched
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--round", type=int, required=True, help="round number N for FULLGATE_r{N}.json")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None, help="override output path (default: repo-root artifact)")
    args = ap.parse_args()

    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(REPO / "tests"))
    from oracle_harness import compare, duck_connection  # noqa: E402

    from datafusion_bigtable_spark.queries import REGISTRY  # noqa: E402
    from datafusion_bigtable_spark.session import get_spark  # noqa: E402

    spark = get_spark("full-gate")
    con = duck_connection(args.sf_dir)
    results: dict[str, str] = {}
    t0 = time.time()
    for i, (name, spec) in enumerate(REGISTRY.items()):
        try:
            if spec.sql is None:
                # Weaker rows-only record, mirroring the driver's posture for
                # non-SQL-expressible ops: the query must execute and return
                # a countable result.
                n = spec.fn(spark, args.sf_dir).count()
                results[name] = f"green-rows-only:{n}"
            else:
                compare(spec.fn(spark, args.sf_dir), con, spec.sql)
                results[name] = "green"
        except Exception as e:  # noqa: BLE001 — record, don't abort the sweep
            results[name] = f"FAIL {type(e).__name__}: {e}"[:300]
        print(f"[{i + 1}/{len(REGISTRY)}] {name}: {results[name][:80]}", flush=True)
        spark.catalog.clearCache()

    green = sum(1 for v in results.values() if v.startswith("green"))
    fails = {k: v for k, v in results.items() if v.startswith("FAIL")}
    payload = {
        "round": args.round,
        "sf_dir": args.sf_dir,
        "total": len(results),
        "green": green,
        "elapsed_s": round(time.time() - t0, 1),
        "results": results,
    }
    out = Path(args.out) if args.out else REPO / f"FULLGATE_r{args.round}.json"
    out.write_text(json.dumps(payload, indent=1) + "\n")
    print(f"TOTAL {len(results)} green: {green} fail: {len(fails)} -> {out}")
    print("GATE_COMPLETE", 0 if not fails else 1)
    return 0 if not fails else 1


if __name__ == "__main__":
    raise SystemExit(main())
