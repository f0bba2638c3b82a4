"""Per-query profiling harness for the optimization rounds (guide §1).

Times each declared query in isolation with the noop sink (so the sink
never pollutes the measurement), counts the Spark jobs each run submits
(perfbench's ``sparkstats.jobs_between``), times building its DataFrame
(``build_ms``: the query function's call, including any JVM analysis and
any action it runs before returning) and counts the py4j round trips
that building takes (``Py4JRoundTrips``; round trips undercount JVM
analysis, which ``build_ms`` includes), labels jobs for the UI, and
captures ``explain("formatted")`` for the plan ledger under
``plans/<tag>/``.

Usage:
  python tools/profile_queries.py [--tag r06_before] [--reps 2] \
      [--sf-dir /root/testdata/sf0.1] [--explain-only] [query ...]

Prints ``<query> wall_s=<w> jobs=<n> build_ms=<b> py4j=<r>`` per run on
stderr, then one JSON line: {"queries": {name: [walls...]}, "jobs": {name:
[counts...]}, "build_ms": {name: [ms...]}, "py4j": {name: [counts...]},
"sf_dir": ...}.
This is a measurement tool only — bench.py remains the frozen metric.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(os.path.join(REPO, "perfbench"))


class Py4JRoundTrips:
    """Counts the py4j round trips (calls of the gateway client's
    ``send_command``) the calling thread makes inside a ``with`` block;
    ``n`` holds the count. py4j's finalizer thread, which releases JVM
    objects that Python garbage-collected, is not counted: when it runs
    depends on the collector, not on the code in the block."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0

    def __enter__(self):
        send, me = self.client.send_command, threading.get_ident()

        def counted(*args, **kwargs):
            if threading.get_ident() == me:
                self.n += 1
            return send(*args, **kwargs)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        del self.client.send_command


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default=None, help="plans/<tag>/<query><suffix>.txt explain capture")
    ap.add_argument("--suffix", default="", help="filename suffix, e.g. _before/_after")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    ap.add_argument("--explain-only", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    import sparkstats
    from semstreams_spark.session import get_spark

    spark = get_spark("profile_queries", cores=args.cores, shuffle_partitions=args.cores)
    qs = entry.queries()
    names = args.queries or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    plan_dir = None
    if args.tag:
        plan_dir = os.path.join(REPO, "plans", *args.tag.split("/"))
        os.makedirs(plan_dir, exist_ok=True)

    walls: dict[str, list[float]] = {n: [] for n in names}
    jobs: dict[str, list[int]] = {n: [] for n in names}
    build_ms: dict[str, list[float]] = {n: [] for n in names}
    py4j: dict[str, list[int]] = {n: [] for n in names}
    for rep in range(1 if args.explain_only else args.reps):
        for n in names:
            if rep == 0 and plan_dir is not None:
                # plan capture OUTSIDE the timed window (construction of
                # iterative queries runs actions; the timed rep below
                # re-constructs so its wall matches bench.py's protocol)
                df = qs[n](spark, args.sf_dir)
                p = os.path.join(plan_dir, f"{n}{args.suffix}.txt")
                with open(p, "w") as fh:
                    fh.write(df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                    ))
                spark.catalog.clearCache()
            if args.explain_only:
                continue
            spark.sparkContext.setJobDescription(f"profile:{n}")
            t0_ms = time.time() * 1000
            t0 = time.monotonic()
            with Py4JRoundTrips(spark) as trips:
                df = qs[n](spark, args.sf_dir)
            build_ms[n].append(round((time.monotonic() - t0) * 1000, 1))
            df.write.format("noop").mode("overwrite").save()
            walls[n].append(round(time.monotonic() - t0, 3))
            py4j[n].append(trips.n)
            t1_ms = time.time() * 1000
            spark.sparkContext.setJobDescription(None)
            sparkstats.drain(spark)
            jobs[n].append(len(sparkstats.jobs_between(spark, t0_ms, t1_ms)))
            print(f"{n} wall_s={walls[n][-1]} jobs={jobs[n][-1]} "
                  f"build_ms={build_ms[n][-1]} py4j={py4j[n][-1]}",
                  file=sys.stderr, flush=True)
            spark.catalog.clearCache()
        gc.collect()

    print(json.dumps({
        "queries": walls,
        "jobs": jobs,
        "build_ms": build_ms,
        "py4j": py4j,
        "sf_dir": args.sf_dir,
        "cores": args.cores,
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
