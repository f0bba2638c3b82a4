"""Read Spark's own accounting for a time window: jobs and stages from the
application status store, per-operator SQL metrics from the SQL status
store, and streaming progress. All reads go through the py4j gateway of
the benchmark's session and happen after the timed window."""

from __future__ import annotations

import re

# plan nodes that cross the JVM/Python boundary
PYTHON_NODES = ("Pandas", "Python", "MapInArrow")
STATEFUL_NODE = "FlatMapGroupsInPandasWithState"

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-6, "ms": 1.0, "s": 1000.0, "m": 60000.0, "h": 3600000.0,
}


def parse_metric(kind: str, text: str) -> float:
    """A SQL metric's display string as a number: sums as counts, sizes in
    bytes, timings in ms. Multi-task metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; the total is used."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.strip()
    if kind in ("sum", "average"):
        m = re.match(r"-?[\d,]+(\.\d+)?", text)
        return float(m.group(0).replace(",", "")) if m else 0.0
    m = re.match(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event to the stores."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _ms(opt_date):
    return opt_date.get().getTime() if opt_date.isDefined() else None


def jobs_between(spark, t0_ms: float, t1_ms: float) -> list[dict]:
    """Jobs submitted inside [t0_ms, t1_ms] (wall-clock epoch ms)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _seq(store.jobsList(None)):
        sub = _ms(j.submissionTime())
        if sub is None or not (t0_ms <= sub <= t1_ms):
            continue
        end = _ms(j.completionTime())
        out.append({
            "job_id": j.jobId(),
            "start": sub,
            "end": end if end is not None else t1_ms,
            "stages": [int(s) for s in _seq(j.stageIds())],
        })
    return out


def stage_totals(spark, jobs: list[dict]) -> dict[str, float]:
    """Sum of task metrics over the stages the jobs ran (skipped stages,
    whose shuffle output was reused, contribute nothing)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty_q = sc._gateway.new_array(sc._jvm.double, 0)
    tot = dict.fromkeys(
        ("stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "input_bytes"), 0.0)
    seen = set()
    for j in jobs:
        for sid in j["stages"]:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                attempts = _seq(store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, empty_q))
            except Exception:  # noqa: BLE001 - evicted from the store: count nothing
                continue
            for sd in attempts:
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                tot["task_run_ms"] += sd.executorRunTime()
                tot["task_cpu_ms"] += sd.executorCpuTime() / 1e6
                tot["gc_ms"] += sd.jvmGcTime()
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["input_bytes"] += sd.inputBytes()
    return tot


def uncovered_ms(jobs: list[dict], t0_ms: float, t1_ms: float) -> float:
    """Part of [t0_ms, t1_ms] during which no job was running: query planning,
    py4j calls, sink bookkeeping and idle waits."""
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in sorted((max(j["start"], t0_ms), min(j["end"], t1_ms)) for j in jobs):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (t1_ms - t0_ms) - covered)


def sql_node_metrics(spark, t0_ms: float, t1_ms: float) -> dict[tuple[str, str], float]:
    """Per (plan node name, metric name) totals over the SQL executions
    started inside [t0_ms, t1_ms], streaming micro-batches included."""
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[tuple[str, str], float] = {}
    for ex in _seq(store.executionsList()):
        if not (t0_ms <= ex.submissionTime() <= t1_ms):
            continue
        eid = ex.executionId()
        try:
            values = store.executionMetrics(eid)
            nodes = _seq(store.planGraph(eid).allNodes())
        except Exception:  # noqa: BLE001 - evicted from the store: count nothing
            continue
        for n in nodes:
            name = n.name()
            for m in _seq(n.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                key = (name, m.name())
                out[key] = out.get(key, 0.0) + parse_metric(m.metricType(), v.get())
    return out


def plan_metrics(jplan) -> dict[tuple[str, str], float]:
    """Metric values read straight off an executed physical plan's nodes,
    keyed by (node name, metric key). A foreachBatch micro-batch runs its
    plan inside the sink's write, whose SQL execution does not carry the
    stateful node's metrics, so the stream's plan is read this way."""
    out: dict[tuple[str, str], float] = {}
    todo = [jplan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = (name, kv._1())
            out[key] = out.get(key, 0.0) + float(kv._2().value())
        todo.extend(_seq(node.children()))
    return out


def python_boundary(nodes: dict[tuple[str, str], float]) -> dict[str, float]:
    """Rows and bytes crossing the JVM/Python boundary, summed over the
    MapInPandas / ArrowEvalPython / FlatMapGroupsInPandas(WithState) nodes
    (display names from the SQL store or metric keys from a plan)."""
    out = {"rows_out": 0.0, "bytes_sent": 0.0, "bytes_received": 0.0}
    for (node, metric), v in nodes.items():
        if not any(p in node for p in PYTHON_NODES):
            continue
        if metric in ("number of output rows", "numOutputRows"):
            out["rows_out"] += v
        elif metric in ("data sent to Python workers", "pythonDataSent"):
            out["bytes_sent"] += v
        elif metric in ("data returned from Python workers", "pythonDataReceived"):
            out["bytes_received"] += v
    return out


def node_metrics(nodes: dict[tuple[str, str], float], node_name: str) -> dict[str, float]:
    """All metrics of plan nodes with this exact name, by metric name."""
    return {metric: v for (node, metric), v in nodes.items() if node == node_name}
