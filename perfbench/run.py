#!/usr/bin/env python3
"""semstreams_spark benchmark: ingest throughput, open-loop stream
freshness and graph queries, on the program's own public entry points.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Workloads (see ``workloads.py``):

- ``ingest_bulk``: closed-loop bulk ingest, repeated for the window.
- ``kg_queries``: warm passes over 4 registry queries for the window.
- ``stream_fresh``: the open-loop stream alone (not in BENCHMARK.json).

stdout carries one ``# <metric> <value> <unit>`` line per measured metric
(every metric the workload produced, by name), then, as its last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` its metrics are the end-to-end ones every workload reports:

- ``setup_s``: median session start (3 starts; restarts reuse the JVM) plus
  the workload's own warm-up.
- ``turns_per_s_norm``: transcript turns per second over the timed window
  (bulk: committed turns over the runs' walls; queries: corpus turns per
  pass over the passes' walls; stream alone: committed turns over first due
  time to last commit).

Both are scaled to a reference host speed: a probe process samples the
speed of a free core while the benchmark runs (``harness.SpeedProbe``), and
each metric is multiplied or divided by its rate over ``PROBE_REF_RATE``.
The host shares its cores with other machines' load and its speed moved
by a third within minutes, which the raw numbers carry; the raw values are
on ``#`` lines (``setup_raw_s``, ``turns_per_s``), with ``op_p50_ms`` (median
operation: a bulk run, a query, a published file), the probe rates, the
workload's own metrics and ``peak_rss_mb``.

With ``--trace 1`` the run records spans around each call into a layer and
reads Spark's progress, plan and status-store metrics; its JSON carries the
per-layer metrics every workload has, and the ``#`` lines add each layer's
own (source, trigger, state, stateful, fanout, sink, gen, q.<query>) plus
the tracing overhead against an untraced run of the same seed, when one
exists. Spans are written to ``perfbench/.work/traces/``.

Exits 0 after printing the result (``correct`` false when an operation
failed or an output differed from its reference); exits 2 without a result
when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

E2E = ("setup_s", "turns_per_s_norm")
PER_LAYER = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms", "spark.task_cpu_ms",
    "spark.gc_ms", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.input_bytes",
    "spark.no_job_ms", "python.rows_out", "python.bytes_received",
)
# which phase metric stands for each generic end-to-end metric, first present wins
ALIASES = {
    "turns_per_s": ("ingest_turns_per_s", "fresh_turns_per_s", "query_turns_per_s"),
    "op_p50_ms": ("bulk_run_ms", "fresh_p50_ms", "query_median_ms"),
}
UNITS = {"setup_s": "s", "turns_per_s": "1/s", "op_p50_ms": "ms"}


def _derive(run) -> None:
    """Add the end-to-end metrics to the report, each scaled to the probe's
    reference host speed by the probe's rate while it was measured:
    ``setup_s`` from the set-up's raw time, and ``turns_per_s_norm`` and
    ``op_p50_ms_norm`` from ``turns_per_s`` and ``op_p50_ms``, which are the
    workload's own metrics (ALIASES) over the timed windows."""
    import harness as H

    rep = {k: v for k, (v, _) in run.report.items()}
    if rep.get("setup_raw_s") is not None and rep.get("host.setup_probe_rate"):
        run.put("setup_s", rep["setup_raw_s"] * rep["host.setup_probe_rate"] / H.PROBE_REF_RATE, "s")
    for name, keys in ALIASES.items():
        v = next((rep[k] for k in keys if rep.get(k) is not None), None)
        if v is None:
            continue
        run.put(name, v, UNITS[name])
        rate = rep.get("host.probe_rate")
        if rate:
            scale = H.PROBE_REF_RATE / rate if name == "turns_per_s" else rate / H.PROBE_REF_RATE
            run.put(f"{name}_norm", v * scale, UNITS[name])


def _host_env(cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    cap the JVM heap to this host and let Python workers import the
    program and the benchmark."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    with open("/proc/meminfo") as fh:
        total_gib = int(fh.readline().split()[1]) / 2**20
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(total_gib // 4)))}g"
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["OMP_NUM_THREADS"] = str(cores)


def _stop_spark(run) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    if run.spark is None:
        return
    gateway = run.spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    run.spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still running: kill and reap
            proc.kill()
            proc.wait(timeout=30)


def _result(run, trace: bool) -> dict:
    metrics = {}
    for n in PER_LAYER if trace else E2E:
        if run.report.get(n, (None,))[0] is None:
            run.ops.fail(f"metric {n} not measured")
            continue
        v, unit = run.report[n]
        metrics[n] = {"value": v, "unit": unit}
    return {"correct": run.ops.correct, "attempted": max(run.ops.attempted, 1),
            "failed": run.ops.failed if run.ops.attempted else 1, "metrics": metrics}


def _overhead_lines(workload: str, seed: int, report: dict) -> list[str]:
    """Traced minus untraced end-to-end numbers, against the untraced run of
    the same workload and seed saved in .work/results."""
    path = os.path.join(WORK, "results", f"{workload}-s{seed}-t0.json")
    if not os.path.exists(path):
        return ["# trace_overhead unavailable: no untraced run of this seed yet"]
    with open(path) as fh:
        base = json.load(fh)
    out = []
    for k, (v, unit) in sorted(report.items()):
        b = base.get(k)
        if isinstance(v, (int, float)) and b and isinstance(b[0], (int, float)) and b[0]:
            if k in E2E + tuple(ALIASES) + ALIASES["turns_per_s"] + ALIASES["op_p50_ms"] + ("fresh_p95_ms", "query_suite_s"):
                out.append(f"# trace_overhead.{k} {v - b[0]:.6g} {unit} ({100 * (v - b[0]) / b[0]:+.1f}%)")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=max(1, len(os.sched_getaffinity(0)) // 2),
                    help="local[N] parallelism and state partitions (default: half of nproc)")
    args = ap.parse_args(argv)

    t_start = time.monotonic()
    _host_env(args.cores)
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        import semstreams_spark.streaming  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2

    run = W.Run(ROOT, WORK, args.seed, args.seconds, bool(args.trace), args.cores)
    run.put("loadavg_1m_start", os.getloadavg()[0], "load")
    run.put("cores", float(args.cores), "count")
    try:
        W.run_workload(run, args.workload)
    except Exception as e:  # noqa: BLE001 - report the failure in the result line
        traceback.print_exc(file=sys.stderr)
        run.ops.fail(f"{args.workload}: {e!r}"[:500])
    finally:
        try:
            t_stop = time.monotonic()
            _stop_spark(run)
            run.put("time.stop_s", time.monotonic() - t_stop, "s")
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
        shutil.rmtree(run.runs_dir, ignore_errors=True)
    run.put("loadavg_1m_end", os.getloadavg()[0], "load")
    run.put("run_wall_s", time.monotonic() - t_start, "s")
    run.put("ops_attempted", float(run.ops.attempted), "count")
    run.put("ops_failed", float(run.ops.failed), "count")

    _derive(run)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run.tracer.write(os.path.join(WORK, "traces", f"{tag}.json"))
    result = _result(run, bool(args.trace))
    lines = [f"# {k} {v:.6g} {u}" if isinstance(v, (int, float)) else f"# {k} {v} {u}"
             for k, (v, u) in sorted(run.report.items())]
    if args.trace:
        lines += _overhead_lines(args.workload, args.seed, run.report)
    lines += [f"# error {e}" for e in run.ops.errors]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as fh:
        json.dump(run.report, fh)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
