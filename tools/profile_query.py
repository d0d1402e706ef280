"""Per-query profile harness for optimization rounds (guide §1).

For each named registry query at the given sf dir:

- times the full plan end-to-end with the noop sink, best-of-N (the
  bench methodology), with the job labelled via setJobDescription,
  and prints each run's plan-build time, whether the build was a
  prepared-plan hit (the same object as the previous run), the Spark
  jobs the build launched (a build that launched any is not prepared;
  introspect.jobs_started) and the classes Janino compiled during the
  run (introspect.codegen_stats);
- dumps ``explain("formatted")`` to an output directory (the judge's
  plan evidence: plans/rNN/<query>_{before,after}.txt);
- prints a per-operator metrics digest of the EXECUTED plan (rows,
  shuffle bytes, spill) so the expensive exchange/operator is named by
  measurement, not guesswork;
- prints, once per run, the jars on a Python worker's path, what one
  worker-side ``importlib.invalidate_caches()`` costs, whether the
  worker runs pyspark from ``pyspark.zip``, and the engine modules it
  holds (introspect.pyworker_import_cost).

Usage:
    python tools/profile_query.py <query> [<query> ...] \
        [--sf /root/testdata/sf0.1] [--runs 3] [--plans-out DIR] [--tag TAG]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import etl_pipeline_sam_gov_spark as eng  # noqa: E402
from etl_pipeline_sam_gov_spark.plans.introspect import (  # noqa: E402
    codegen_stats,
    execution_metrics,
    explain_formatted,
    jobs_started,
    pyworker_import_cost,
)
from etl_pipeline_sam_gov_spark.session import get_spark  # noqa: E402

#: Metric keys worth a digest line (bytes/rows/spill/time-ish).
_DIGEST_KEYS = (
    "numOutputRows",
    "shuffleBytesWritten",
    "shuffleRecordsWritten",
    "spillSize",
    "dataSize",
    "collectTime",
    "buildTime",
    "aggTime",
    "sortTime",
    "scanTime",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    def _positive_int(v: str) -> int:
        n = int(v)
        if n < 1:
            raise argparse.ArgumentTypeError("--runs must be >= 1")
        return n

    ap.add_argument("--runs", type=_positive_int, default=3)
    ap.add_argument("--plans-out", default=None)
    ap.add_argument("--tag", default="")
    ap.add_argument("--no-metrics", action="store_true")
    args = ap.parse_args()

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    from etl_pipeline_sam_gov_spark.tables import TABLE_NAMES, load_tables

    # Warm page cache / codegen on the fixture tables (bench parity).
    for _, df in load_tables(spark, args.sf, TABLE_NAMES).items():
        df.write.format("noop").mode("overwrite").save()
    # What each Python-worker request pays before it runs (UDF,
    # pandas-function and DataSource queries start one).
    cost = pyworker_import_cost(spark)
    print(
        f"python worker: {len(cost['jars'])} jar(s) on sys.path, "
        f"invalidate_caches {cost['invalidate_ms']:.1f} ms, "
        f"pyspark from {'pyspark.zip' if cost['pyspark_in_zip'] else 'the installed package'}, "
        f"engine modules: {', '.join(cost['engine_modules'])}",
        flush=True,
    )

    for name in args.queries:
        fn = eng.QUERIES[name]
        times = []
        df = None
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}#{i}")
            n0, ms0 = codegen_stats(spark)
            prev, j0 = df, jobs_started(spark)
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t_build = time.perf_counter() - t0
            build_jobs = jobs_started(spark) - j0
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            times.append(dt)
            n1, ms1 = codegen_stats(spark)
            # Classes compiled during the run: nonzero on a repeat run
            # means the codegen cache evicted this query's classes.
            print(
                f"{name} run{i}: {dt:.3f}s (plan build {t_build:.3f}s, "
                f"{'prepared hit' if df is prev else 'built'}, "
                f"{build_jobs} build job(s), "
                f"codegen {n1 - n0} classes ~{ms1 - ms0:.0f} ms)",
                flush=True,
            )
        spark.sparkContext.setJobDescription(None)
        print(f"{name} best: {min(times):.3f}s  all={['%.3f' % t for t in times]}")
        if args.plans_out:
            os.makedirs(args.plans_out, exist_ok=True)
            suffix = f"_{args.tag}" if args.tag else ""
            path = os.path.join(args.plans_out, f"{name}{suffix}.txt")
            with open(path, "w") as f:
                f.write(explain_formatted(df))
            print(f"plan -> {path}")
        if not args.no_metrics:
            # The noop write runs its OWN QueryExecution; the metrics
            # walk reads df's cached one, which only an action on the
            # Dataset ITSELF populates (df.limit(N) would execute a
            # different QueryExecution and leave df's metrics zero).
            # Certified queries emit small outputs by convention, but
            # guard the driver anyway (ADVICE r09): drain df's own
            # toLocalIterator with a row cap, so an ad-hoc profile
            # target with a huge output cannot OOM the driver — at the
            # cost of partial metrics past the cap. One row past the
            # cap tells a truncated drain from an output of exactly
            # the cap. toLocalIterator runs one job per partition, so
            # #metrics has a different job structure from a single
            # collect (and from the timed noop writes above).
            spark.sparkContext.setJobDescription(f"profile:{name}#metrics")
            from itertools import islice

            cap = 1_000_000
            n_seen = sum(1 for _ in islice(df.toLocalIterator(), cap + 1))
            if n_seen > cap:
                print(f"  (metrics action capped at {cap} rows)")
            spark.sparkContext.setJobDescription(None)
            mets = execution_metrics(df)
            for op, m in mets.items():
                line = {k: v for k, v in m.items() if k in _DIGEST_KEYS and v}
                if line:
                    print(f"  {op}: {line}")
        print(flush=True)


if __name__ == "__main__":
    main()
