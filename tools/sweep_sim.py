"""Simulate the driver's CORRECTNESS sweep locally.

Runs every registered query at the given sf dir in the driver's
certification order (``__spark_entry__.queries()``, so a ``limit``
prefix is the sample a budget-limited driver would take), with its
DuckDB oracle, through the same type-aware comparison the local
parity tests use — and times each side. Output: one line per query
(spark_s, oracle_s, status) plus a total, so we can see how many
queries fit a given driver time budget and which ones to speed up.

Queries run through a small thread pool (SWEEP_JOBS, default 4):
Spark's scheduler accepts concurrent job submission from threads, the
fixture relations are tiny at test scales, and each compare owns its
own DuckDB connection — so the sweep overlaps one query's JVM stages
with another's Python/DuckDB side and cuts wall-clock ~3× without
touching any query. SWEEP_JOBS=1 restores the sequential behavior.

Usage: python tools/sweep_sim.py [sf_dir] [limit] [out_json]
(runnable from any cwd; defaults: /root/testdata/sf0.01, all, /tmp/sweep_sim.json)
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from oracle_compare import compare  # noqa: E402

import __spark_entry__ as ent  # noqa: E402
import etl_pipeline_sam_gov_spark as eng  # noqa: E402
from etl_pipeline_sam_gov_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    limit = int(sys.argv[2]) if len(sys.argv) > 2 else len(eng.QUERIES)
    out_json = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sweep_sim.json"
    jobs = max(1, int(os.environ.get("SWEEP_JOBS", "4")))
    spark = get_spark("sweep-sim")
    # Pre-register all fixture views once from the main thread so the
    # worker threads never race the temp-view registration.
    from etl_pipeline_sam_gov_spark.tables import TABLE_NAMES, load_tables

    load_tables(spark, sf_dir, TABLE_NAMES)
    results: dict[str, dict] = {}
    t_all = time.monotonic()
    done = 0

    def run_one(name: str) -> tuple[str, dict]:
        fn = eng.QUERIES[name]
        oracle = eng.ORACLES.get(name)
        t0 = time.monotonic()
        status = "ok"
        err = None
        try:
            if oracle is None:
                n = fn(spark, sf_dir).count()
                status = f"rows_only({n})"
            else:
                compare(spark, name, fn, oracle, sf_dir)
        except Exception as e:  # noqa: BLE001
            status = "FAIL"
            err = f"{type(e).__name__}: {e}"
            traceback.print_exc(limit=3)
        dt = time.monotonic() - t0
        return name, {"sec": round(dt, 2), "status": status, "err": err}

    todo = list(ent.queries())[:limit]
    with ThreadPoolExecutor(max_workers=jobs) as pool:
        for name, row in pool.map(run_one, todo):
            results[name] = row
            done += 1
            print(
                f"{done:3d} {name:45s} {row['sec']:6.2f}s {row['status']}",
                flush=True,
            )
    total = time.monotonic() - t_all
    fails = [n for n, r in results.items() if r["status"] == "FAIL"]
    print(f"\nTOTAL {total:.1f}s for {len(results)} queries; FAIL={fails}")
    slow = sorted(results.items(), key=lambda kv: -kv[1]["sec"])[:15]
    print("slowest:", [(n, r["sec"]) for n, r in slow])
    with open(out_json, "w") as f:
        json.dump(
            {"sf_dir": sf_dir, "limit": limit, "total_s": total, "results": results},
            f,
            indent=1,
        )


if __name__ == "__main__":
    main()
