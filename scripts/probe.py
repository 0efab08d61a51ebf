"""Isolated per-query probe: build and action timings per run, with
optional ``explain("formatted")`` capture and a build-phase profile.

Usage:
    python scripts/probe.py q1 q2 ...
    python scripts/probe.py --explain-dir plans/r12 --suffix before q1 ...
    python scripts/probe.py --profile q1

Method matches bench.py (same session factory and warmups, noop sink,
the same GC+drain+GC before every timed run), so a run's total is
comparable to a BENCH_FULL.json run; each invocation runs only the
named queries, so there are no suite-position effects.  A run splits
into two phases:

- build: ``fn(spark, sf_dir)`` returning the DataFrame: plan
  construction, py4j traffic, and any eager work the query does while
  building (staged parquet writes, driver-loop collects);
- action: the noop write of the returned frame.

Output: one line per query ``name build=[..] action=[..] total=[..]
med_build=.. med_action=.. med=.. best=..``, plus optional plan files
``<dir>/<name>_<suffix>.txt``.  ``--profile`` cProfiles the build of
the last run, to split build time between py4j round trips and eager
Spark jobs.  ``SPARK_GRAFT_PROBE_RUNS`` sets the runs per query
(default 4).
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import statistics
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    explain_dir = None
    suffix = "before"
    profile = False
    n_runs = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "4"))
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--explain-dir":
            explain_dir = args[i + 1]
            i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif args[i] == "--profile":
            profile = True
            i += 1
        else:
            names.append(args[i])
            i += 1

    import bench
    from gtfs_realtime_etl_spark.plans.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench._build_session(sf_dir)

    for name in names:
        fn = QUERIES[name]
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(explain_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
        builds, actions = [], []
        for r in range(n_runs):
            bench._gc_drain(spark)
            spark.sparkContext.setJobDescription(f"probe:{name}")
            pr = cProfile.Profile() if profile and r == n_runs - 1 else None
            t0 = time.perf_counter()
            if pr:
                pr.enable()
            df = fn(spark, sf_dir)
            if pr:
                pr.disable()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            spark.sparkContext.setJobDescription(None)
            builds.append(t1 - t0)
            actions.append(t2 - t1)
        totals = [b + a for b, a in zip(builds, actions)]
        print(
            f"{name} build={[round(t, 2) for t in builds]} "
            f"action={[round(t, 2) for t in actions]} "
            f"total={[round(t, 2) for t in totals]} "
            f"med_build={statistics.median(builds):.2f} "
            f"med_action={statistics.median(actions):.2f} "
            f"med={statistics.median(totals):.2f} best={min(totals):.2f}",
            flush=True,
        )
        if profile:
            st = pstats.Stats(pr)
            st.sort_stats("cumulative")
            print(f"--- cProfile (build, last run) for {name} ---")
            st.print_stats(25)
    spark.stop()


if __name__ == "__main__":
    main()
