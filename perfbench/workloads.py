"""The benchmark's workloads. Each phase drives the program only through
its public entry points (``streaming.read_transcript_stream`` /
``build_ingest_stream`` and ``__spark_entry__.queries()``), times its
window, and verifies outputs after the window closes.

- bulk  (closed loop, one client): the corpus, randomly split, ingested as
  a few large triggers; repeated with a fresh checkpoint and output
  directory until the window is spent.
- fresh (open loop): a generator thread publishes event-time-ordered slices
  by atomic rename on a fixed schedule into the directory a continuously
  running ingest stream watches.
- queries (closed loop, one client): passes over 4 registry queries until
  the window is spent, each query timed into a parquet sink under its own
  job group.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
import traceback

import harness as H
import sparkstats as S

SF = 0.002  # about 6.7k turns in 555 conversations
WATERMARK = "90 days"  # bench.py's ingest watermark: no turn is dropped as late
BULK_TRIGGERS = 2
FRESH_FILES_PER_S = 20  # offered rate: 20 files/s x 20 turns = 400 turns/s
FRESH_TURNS_PER_FILE = 20
FRESH_MIN_FILES = 200  # p95 keeps >= 10 samples beyond it
FRESH_DRAIN_S = 20.0  # a file not committed this long after the last due time fails

# the registry queries one pass runs, one per layer: the extract hot path,
# two of the ROADMAP's carried slow items (entity_delete, alert_cooldown)
# and the co-mention graph family through pagerank_entities. A cold pass
# plus two warm ones fit the benchmark's per-run budget on 2 cores.
QUERIES = {
    "triples_extract": "extract",
    "entity_delete": "operators",
    "pagerank_entities": "graph",
    "alert_cooldown": "rules",
}


class Run:
    """State of one benchmark invocation shared by its phases."""

    def __init__(self, root, work, seed, seconds, trace, cores):
        self.root, self.work, self.seed, self.seconds = root, work, seed, seconds
        self.trace, self.cores = trace, cores
        self.tracer = H.Tracer(trace)
        self.ops = H.Ops()
        self.report: dict[str, tuple[float, str]] = {}  # name -> (value, unit)
        self.windows: list[tuple[float, float]] = []  # timed windows, wall-clock ms
        self.spark = None
        self.rss = None
        self.stream_query = None  # the running ingest query, for the traced sink
        self.stream_plan: dict[tuple[str, str], float] = {}  # its plans' node metrics
        self.stream_python: dict[str, float] = {}  # JVM/Python boundary of all streams
        self.data_root = os.path.join(work, "data", f"seed{seed}")
        self.sf_dir = os.path.join(self.data_root, f"sf{SF:g}")
        self.runs_dir = os.path.join(work, "runs", f"{os.getpid()}")
        self._n_dirs = 0

    def put(self, name, value, unit):
        self.report[name] = (value, unit)

    def fresh_dir(self, tag):
        """A new, empty directory: every ingest gets its own checkpoint and output."""
        self._n_dirs += 1
        d = os.path.join(self.runs_dir, f"{tag}-{self._n_dirs}")
        os.makedirs(d)
        return d

    def window(self):
        return _Window(self)


class _Window:
    """A timed window: wall-clock bounds recorded for the Spark stores, RSS
    sampled while open."""

    def __init__(self, run):
        self.run = run

    def __enter__(self):
        self.t0_ms = time.time() * 1000
        self._rss = self.run.rss.window()
        self._rss.__enter__()
        return self

    def __exit__(self, *exc):
        self._rss.__exit__(*exc)
        self.t1_ms = time.time() * 1000
        self.run.windows.append((self.t0_ms, self.t1_ms))


# -- inputs -------------------------------------------------------------------


def make_inputs(run: Run) -> str:
    """Seeded corpus plus an events table for alert_cooldown, under the
    benchmark's data directory (never the program's ``data/``)."""
    import semstreams_spark.datagen.transcripts as tr

    tr.DATA_ROOT = run.data_root  # queries and oracles resolve transcripts here
    path = tr.transcripts_path(SF)
    if not os.path.exists(path):
        write_corpus(path, tr.aliases_path(SF), SF, run.seed)
    events = os.path.join(run.sf_dir, "events.parquet")
    if not os.path.exists(events):
        write_events(events, SF, run.seed)
    return path


def write_corpus(path: str, aliases: str, sf: float, seed: int) -> None:
    """The program's transcript generator at ``hot_factor=1``, its skew-free
    corpus: with the default 1% of 50x-long conversations, which of the
    nproc state partitions those few keys hash to moved the bulk wall by
    about 25% from seed to seed. File layout as ``ensure_transcripts``."""
    import pyarrow.parquet as pq

    from semstreams_spark.datagen.transcripts import generate_transcripts

    tbl, atbl = generate_transcripts(sf, seed, hot_factor=1)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    for t, p, rg in ((atbl, aliases, None), (tbl, path, 16_384)):
        tmp = p + f".tmp.{os.getpid()}"
        pq.write_table(t, tmp, compression="snappy", row_group_size=rg)
        os.replace(tmp, p)


def write_events(path: str, sf: float, seed: int) -> None:
    """Event stream with the shape of the TPC-H-ish ``events`` table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 7)
    n = max(1000, int(1_000_000 * sf))
    base_us = 1704067200000000  # 2024-01-01T00:00:00Z
    ts = base_us + np.cumsum(rng.integers(1, 120_000_000, n))
    tbl = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 200, n).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "view", "error", "purchase"])[rng.integers(0, 4, n)]),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    tmp = path + f".tmp.{os.getpid()}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)


def bulk_files(run: Run, corpus: str) -> str:
    """Random split of the corpus into BULK_TRIGGERS x cores files, with
    the latest turn in the last file and modification times in file order
    (the order the file source reads them in). The watermark then advances
    in the last trigger on every seed, so each run ends with the same
    no-data batch; where the latest turn fell at random decided whether
    that batch ran and moved the run wall by a quarter."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n_files = BULK_TRIGGERS * run.cores
    d = os.path.join(run.sf_dir, f"bulk{n_files}")
    if os.path.isdir(d):
        return d
    tbl = pq.read_table(corpus)
    part = np.random.default_rng(run.seed).integers(0, n_files, tbl.num_rows)
    part[pc.index(tbl["ts"], pc.max(tbl["ts"])).as_py()] = n_files - 1
    tmp = d + f".tmp.{os.getpid()}"
    os.makedirs(tmp)
    t0 = time.time() - n_files
    for i in range(n_files):
        f = os.path.join(tmp, f"part-{i:05d}.parquet")
        pq.write_table(tbl.filter(part == i), f)
        os.utime(f, (t0 + i, t0 + i))
    os.replace(tmp, d)
    return d


def warmup_files(run: Run, corpus: str) -> str:
    """A directory holding the first bulk file alone."""
    d = os.path.join(run.sf_dir, "warmup")
    if not os.path.isdir(d):
        src = bulk_files(run, corpus)
        tmp = d + f".tmp.{os.getpid()}"
        os.makedirs(tmp)
        shutil.copy(os.path.join(src, "part-00000.parquet"), tmp)
        os.replace(tmp, d)
    return d


def fresh_slices(corpus: str, n_files: int):
    """The first n_files x FRESH_TURNS_PER_FILE turns in event-time order,
    cut into consecutive slices."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(corpus).sort_by([("ts", "ascending"), ("conv_id", "ascending"),
                                         ("turn_idx", "ascending")])
    k = FRESH_TURNS_PER_FILE
    return [tbl.slice(i * k, k) for i in range(n_files)]


# -- session and set-up -------------------------------------------------------


def start_session(run: Run, app: str):
    from semstreams_spark.session import get_spark

    return get_spark(app, cores=run.cores, shuffle_partitions=run.cores, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        # keep every job, stage and execution of a run for the traced reads
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
    })


SETUP_CYCLES = 3


def setup(run: Run, workload_warmup) -> None:
    """Start the session SETUP_CYCLES times (the first launches the JVM, a
    restart reuses it), then run the workload's warm-up once: the first
    Spark job, Python workers and the program's modules, and for ingest
    the stateful path.
    setup_s = median session start + warm-up."""
    starts = []
    spark = None
    for i in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.monotonic()
        spark = start_session(run, f"perfbench-{i}")
        starts.append(time.monotonic() - t0)
    run.spark = spark
    t0 = time.monotonic()
    workload_warmup(run)
    warm = time.monotonic() - t0
    run.put("setup_raw_s", H.median(starts) + warm, "s")
    run.put("setup.session_start_s", H.median(starts), "s")
    run.put("setup.warmup_s", warm, "s")


# -- ingest helpers -------------------------------------------------------------


def entity_states_digest(df) -> tuple[int, int]:
    """Order-independent (rows, hash-sum) of an entity-states frame, computed
    in Spark over the columns both sides share, each cast to string."""
    from pyspark.sql import functions as F

    cols = ["subject", "predicate", "object", "object_type", "source", "ts", "confidence", "context"]
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def reference_digest(spark, parquet_paths) -> tuple[int, int]:
    from semstreams_spark.operators.merge import entity_states_source_clustered

    return entity_states_digest(entity_states_source_clustered(spark.read.parquet(*parquet_paths)))


def output_digest(spark, sink) -> tuple[int, int]:
    from semstreams_spark.streaming.state_merge import deltas_to_entity_states

    return entity_states_digest(deltas_to_entity_states(sink.read(spark)))


def traced_sink(run: Run):
    """Wrap the sink's foreachBatch call so stateful compute (materialize the
    batch) and write+commit land in separate spans; traced runs only."""
    from semstreams_spark.streaming import sink as sink_mod

    cls = sink_mod.ExactlyOnceParquetSink
    orig = cls.__call__

    def call(self, batch_df, batch_id):
        with run.tracer.span("sink.call", batch=batch_id):
            with run.tracer.span("stream.compute", batch=batch_id):
                batch_df = batch_df.persist()
                batch_df.count()
            try:
                with run.tracer.span("sink.publish", batch=batch_id):
                    orig(self, batch_df, batch_id)
            finally:
                batch_df.unpersist()
        if run.stream_query is not None:
            plan = run.stream_query._jsq.streamingQuery().lastExecution().executedPlan()
            for k, v in S.plan_metrics(plan).items():
                run.stream_plan[k] = run.stream_plan.get(k, 0.0) + v

    cls.__call__ = call
    return lambda: setattr(cls, "__call__", orig)


def stream_layer_metrics(run: Run, progress: list[dict], sinks, t0_ms, t1_ms, turns_in: int):
    """Per-layer metrics of the streaming layers for one phase: source,
    trigger control, state store, stateful operator, fan-out and sink,
    from Spark's progress, the executed plans, and the sink ledgers."""
    spark = run.spark
    ledger_reads = float(sum(s.ledger_file_reads for s in sinks))  # before ledger() adds its own
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dsum(key):
        return float(sum(p["durationMs"].get(key, 0) for p in progress))

    def ssum(key):
        return float(sum(o.get(key, 0) or 0 for p in progress for o in p.get("stateOperators", [])))

    m = {
        "source.latest_offset_ms": (dsum("latestOffset"), "ms"),
        "source.get_batch_ms": (dsum("getBatch"), "ms"),
        "source.rows_per_trigger": (H.median([p["numInputRows"] for p in data]) or 0.0, "count"),
        "trigger.count": (float(len(progress)), "count"),
        "trigger.exec_ms": (dsum("triggerExecution"), "ms"),
        "trigger.planning_ms": (dsum("queryPlanning"), "ms"),
        "trigger.wal_commit_ms": (dsum("walCommit"), "ms"),
        "trigger.commit_offsets_ms": (dsum("commitOffsets"), "ms"),
        "trigger.add_batch_ms": (dsum("addBatch"), "ms"),
        "state.rows_updated": (ssum("numRowsUpdated"), "count"),
        "state.update_ms": (ssum("allUpdatesTimeMs"), "ms"),
        "state.commit_ms": (ssum("commitTimeMs"), "ms"),
        "state.memory_bytes": (max([o.get("memoryUsedBytes", 0) for p in progress
                                    for o in p.get("stateOperators", [])] or [0]), "bytes"),
    }
    st = S.node_metrics(run.stream_plan, S.STATEFUL_NODE)
    for k, v in S.python_boundary(run.stream_plan).items():
        run.stream_python[k] = run.stream_python.get(k, 0.0) + v
    run.stream_plan = {}
    # the UDF cost split of CIDR'22: worker start, per-task set-up, run
    m["stateful.python_boot_ms"] = (st.get("pythonBootTime", 0.0), "ms")
    m["stateful.python_init_ms"] = (st.get("pythonInitTime", 0.0), "ms")
    m["stateful.python_ms"] = (st.get("pythonTotalTime", 0.0), "ms")
    m["stateful.bytes_to_python"] = (st.get("pythonDataSent", 0.0), "bytes")
    m["stateful.bytes_from_python"] = (st.get("pythonDataReceived", 0.0), "bytes")
    m["stateful.rows_from_python"] = (st.get("pythonNumRowsReceived", 0.0), "count")
    m["stateful.groups"] = (st.get("numUpdatedStateRows", 0.0), "count")
    m["state.rocksdb_load_ms"] = (st.get("rocksdbLoadLatencyMs", 0.0), "ms")
    ledgers = [e for s in sinks for e in s.ledger()]
    triples = float(sum(e["rows"] for e in ledgers))
    m["fanout.triples_out"] = (triples, "count")
    m["fanout.triples_per_turn"] = (triples / turns_in if turns_in else 0.0, "ratio")
    m["sink.commit_ms"] = (1000.0 * sum(e["wall_seconds"] for e in ledgers), "ms")
    m["sink.files"] = (float(sum(len(e["partitions"]) for e in ledgers)), "count")
    m["sink.bytes"] = (float(sum(_dir_bytes(os.path.join(s.table_dir, f"batch={e['batch_id']}"))
                                 for s in sinks for e in s.ledger())), "bytes")
    m["sink.ledger_reads"] = (ledger_reads, "count")
    self_ms = H.self_times_ms(run.tracer.spans)
    m["stream.compute_ms"] = (self_ms.get("stream.compute", 0.0), "ms")
    m["sink.publish_ms"] = (self_ms.get("sink.publish", 0.0), "ms")
    return m


def _dir_bytes(d):
    if not os.path.isdir(d):
        return 0
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


# -- phases -------------------------------------------------------------------


def bulk_ingest(run: Run, indir: str):
    """One closed-loop ingest of every file in indir, into a new checkpoint
    and output directory; returns (checkpoint, sink, start wall, progress)."""
    from semstreams_spark.streaming import build_ingest_stream, read_transcript_stream

    d = run.fresh_dir("bulk")
    t0 = time.time()
    with run.tracer.span("ingest.run"):
        with run.tracer.span("pipeline.read_transcript_stream"):
            src = read_transcript_stream(run.spark, indir, max_files_per_trigger=run.cores)
        with run.tracer.span("pipeline.build_ingest_stream"):
            q, sink = build_ingest_stream(src, os.path.join(d, "out"),
                                          checkpoint_dir=os.path.join(d, "ckpt"),
                                          watermark=WATERMARK)
            run.stream_query = q
        with run.tracer.span("query.await"):
            q.awaitTermination()
    return os.path.join(d, "ckpt"), sink, t0, _progress(q)


def bulk_phase(run: Run, corpus: str) -> dict:
    """Closed-loop bulk ingest, repeated until the window is spent. One
    operation = one run; its latency is query start to last ledger commit."""
    spark = run.spark
    indir = bulk_files(run, corpus)
    files = sorted(f for f in os.listdir(indir) if f.endswith(".parquet"))
    n_turns = sum(_count_rows(os.path.join(indir, f)) for f in files)
    done = []  # (checkpoint, sink, start wall, progress)
    with run.window() as w:
        t_end = time.monotonic() + run.seconds
        while not done or time.monotonic() < t_end:
            done.append(bulk_ingest(run, indir))
    # outside the window: latencies from the checkpoint and ledger, checks.
    # Every run ingests the same files: the first run's output is compared
    # with the reference, each later run's committed rows with the first's.
    walls, progress = [], []
    ref = reference_digest(spark, [indir])
    first_rows = None
    for i, (ckpt, sink, t0, prog) in enumerate(done):
        progress += prog
        fb = H.read_source_log(ckpt)
        commits = H.ledger_commit_times(sink.table_dir)
        lat = H.file_latencies(dict.fromkeys(files, t0), fb, commits)
        rows = H.ledger_rows(sink.table_dir)
        ok = all(v is not None for v in lat.values())
        if i == 0:
            ok = ok and output_digest(spark, sink) == ref
            first_rows = rows if ok else None
        else:
            ok = ok and rows == first_rows
        if ok:
            walls.append(max(commits.values()) - t0)
        run.ops.record(1, failed=0 if ok else 1,
                       error=None if ok else f"bulk run {ckpt}: output differs or files uncommitted")
    wall = H.median(walls)
    out = {
        # committed turns over the time the verified runs took, all runs of the window
        "ingest_turns_per_s": (n_turns * len(walls) / sum(walls) if walls else None, "1/s"),
        "bulk_run_ms": (wall * 1000 if wall else None, "ms"),
        "bulk_run_ms_all": (" ".join(f"{x * 1000:.0f}" for x in walls), "ms"),
        "bulk_runs": (float(len(done)), "count"),
        "bulk_turns": (float(n_turns), "count"),
    }
    if run.trace:
        for k, v in stream_layer_metrics(run, progress, [s for _, s, _, _ in done],
                                         w.t0_ms, w.t1_ms, n_turns * len(done)).items():
            out[f"bulk.{k}"] = v
    return out


def fresh_phase(run: Run, corpus: str) -> dict:
    """Open-loop stream: publish one slice every 1/FRESH_FILES_PER_S s into a
    watched directory; freshness of a file = its batch's ledger commit minus
    its due time. One operation = one published file."""
    import pyarrow.parquet as pq

    from semstreams_spark.streaming import build_ingest_stream, read_transcript_stream

    spark = run.spark
    n_files = max(FRESH_MIN_FILES, FRESH_FILES_PER_S * run.seconds)
    slices = fresh_slices(corpus, n_files)
    d = run.fresh_dir("fresh")
    stage, watch, ckpt = (os.path.join(d, x) for x in ("stage", "in", "ckpt"))
    os.makedirs(stage)
    os.makedirs(watch)
    names = [f"part-{i:05d}.parquet" for i in range(n_files)]
    for name, tbl in zip(names, slices):
        pq.write_table(tbl, os.path.join(stage, name))
    published = os.path.join(d, "published.parquet")
    pq.write_table(pq.read_table(stage), published)
    turns = sum(t.num_rows for t in slices)

    with run.tracer.span("pipeline.read_transcript_stream"):
        src = read_transcript_stream(spark, watch, max_files_per_trigger=n_files)
    with run.tracer.span("pipeline.build_ingest_stream"):
        q, sink = build_ingest_stream(src, os.path.join(d, "out"), checkpoint_dir=ckpt,
                                      watermark=WATERMARK, available_now=False)
        run.stream_query = q
    _wait(lambda: "Waiting for data" in q.status["message"], 60)  # sources initialised

    due: dict[str, float] = {}
    pub: dict[str, float] = {}

    def generator(t0):
        for i, name in enumerate(names):
            t_due = t0 + i / FRESH_FILES_PER_S
            delay = t_due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(os.path.join(stage, name), os.path.join(watch, name))
            due[name], pub[name] = t_due, time.time()

    with run.window() as w:
        t0 = time.time() + 0.2
        gen = threading.Thread(target=generator, args=(t0,), name="perfbench-generator")
        gen.start()
        gen.join()
        deadline = t0 + (n_files - 1) / FRESH_FILES_PER_S + FRESH_DRAIN_S
        _wait(lambda: _all_committed(ckpt, sink, names), deadline - time.time())
    q.stop()
    progress = _progress(q)

    fb = H.read_source_log(ckpt)
    commits = H.ledger_commit_times(sink.table_dir)
    lat = H.file_latencies(due, fb, commits, deadline)
    ok_lat = [v for v in lat.values() if v is not None]
    n_late = len(lat) - len(ok_lat)
    verified = n_late == 0 and output_digest(spark, sink) == reference_digest(spark, [published])
    # a verification mismatch fails every file of the stream
    run.ops.record(n_files, failed=n_files if not verified else 0,
                   error=None if verified else f"stream: {n_late} files uncommitted or output differs")
    done = {f: (commits.get(fb[f]) if f in fb else None) for f in names}
    used = [commits[b] for b in {fb[f] for f in names if f in fb} if b in commits]
    span_s = (max(used) - min(due.values())) if used else None
    out = {
        "fresh_p50_ms": (H.median(ok_lat), "ms"),
        "fresh_p95_ms": (H.percentile(ok_lat, 0.95), "ms"),
        "fresh_files": (float(n_files), "count"),
        "fresh_turns_per_s": (turns / span_s if span_s else None, "1/s"),
        "fresh_offered_turns_per_s": (float(FRESH_FILES_PER_S * FRESH_TURNS_PER_FILE), "1/s"),
        "gen.late_ms_p95": (H.percentile([(pub[f] - due[f]) * 1000 for f in names], 0.95), "ms"),
        "gen.backlog_files_max": (float(H.backlog_max(pub, done)), "count"),
    }
    if run.trace:
        for k, v in stream_layer_metrics(run, progress, [sink], w.t0_ms, w.t1_ms, turns).items():
            out[f"fresh.{k}"] = v
    return out


def _all_committed(ckpt, sink, names) -> bool:
    fb = H.read_source_log(ckpt)
    if any(n not in fb for n in names):
        return False
    return all(sink.committed(fb[n]) for n in names)


def _wait(cond, timeout_s: float, period_s: float = 0.05) -> bool:
    end = time.time() + max(0.0, timeout_s)
    while True:
        if cond():
            return True
        if time.time() >= end:
            return False
        time.sleep(period_s)


def query_pass(run: Run, out_dir: str, errors: dict[str, str],
               spans: dict[str, tuple[float, float]] | None = None) -> dict[str, float]:
    """One pass over QUERIES, each under its own job group and written to
    its own parquet directory under out_dir; returns each query's wall."""
    import __spark_entry__ as entry

    spark = run.spark
    sc = spark.sparkContext
    qs = entry.queries()
    walls: dict[str, float] = {}
    for name, layer in QUERIES.items():
        sc.setJobGroup(f"perfbench.{name}", name)
        t0_ms = time.time() * 1000
        t0 = time.monotonic()
        try:
            with run.tracer.span(f"layer.{layer}", query=name):
                qs[name](spark, run.sf_dir).write.mode("overwrite").parquet(os.path.join(out_dir, name))
        except Exception as e:  # noqa: BLE001 - one failing query must not lose the run
            errors[name] = f"{e!r}"[:300]
        walls[name] = time.monotonic() - t0
        if spans is not None:
            spans.setdefault(name, (t0_ms, time.time() * 1000))
        spark.catalog.clearCache()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return walls


def query_phase(run: Run, corpus: str) -> dict:
    """Passes over QUERIES until the window is spent (the session's first,
    cold pass is the warm-up); a query's wall is its median over the
    passes. After the window each query's last written result is read
    back and its digest compared with the DuckDB oracle's."""
    spark = run.spark
    d = run.fresh_dir("queries")
    samples: dict[str, list[float]] = {name: [] for name in QUERIES}
    spans: dict[str, tuple[float, float]] = {}  # the first timed pass, for the traced reads
    errors: dict[str, str] = {}
    with run.window():
        t_end = time.monotonic() + run.seconds
        while not samples["triples_extract"] or time.monotonic() < t_end:
            for name, w in query_pass(run, d, errors, spans).items():
                samples[name].append(w)
    passes = len(samples["triples_extract"])

    # outside the window: check each written result against its oracle; a
    # wrong result fails every timed run of that query
    oracle = oracle_digests(run)
    for name in QUERIES:
        got = errors.get(name) or H.frame_digest(_read_parquet_dir(os.path.join(d, name)))
        ok = got == oracle[name]
        run.ops.record(passes, failed=0 if ok else passes,
                       error=None if ok else f"{name}: {got} != oracle {oracle[name]}")
    walls = {n: H.median(s) for n, s in samples.items()}
    suite = sum(walls.values())
    out = {f"q.{n}.wall_s": (w, "s") for n, w in walls.items()}
    out |= {
        "query_passes": (float(passes), "count"),
        "query_pass_s_all": (" ".join(f"{sum(p):.2f}" for p in zip(*samples.values())), "s"),
        "query_suite_s": (suite, "s"),
        "query_median_ms": (H.median(list(walls.values())) * 1000, "ms"),
        # corpus turns queried per second over every pass of the window
        "query_turns_per_s": (_count_rows(corpus) * passes / sum(map(sum, samples.values())), "1/s"),
    }
    if run.trace:
        S.drain(spark)
        for name, (a, b) in spans.items():
            jobs = S.jobs_between(spark, a, b)
            st = S.stage_totals(spark, jobs)
            py = S.python_boundary(S.sql_node_metrics(spark, a, b))
            out[f"q.{name}.jobs"] = (float(len(jobs)), "count")
            out[f"q.{name}.stages"] = (st["stages"], "count")
            out[f"q.{name}.shuffle_bytes"] = (st["shuffle_read_bytes"] + st["shuffle_write_bytes"], "bytes")
            out[f"q.{name}.spill_bytes"] = (st["spill_bytes"], "bytes")
            out[f"q.{name}.python_rows"] = (py["rows_out"], "count")
        for layer, ms in H.self_times_ms(run.tracer.spans).items():
            out[f"{layer}.self_ms"] = (ms, "ms")
    return out


def _read_parquet_dir(d):
    import pyarrow.parquet as pq

    return pq.read_table(d).to_pandas()


def _count_rows(path):
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


# -- oracles ------------------------------------------------------------------


def oracle_digests(run: Run) -> dict[str, str]:
    """DuckDB oracle digest per query over the same seeded files, cached per
    seed next to the corpus."""
    path = os.path.join(run.sf_dir, "oracle_digests.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
    missing = [q for q in QUERIES if q not in cached]
    if missing:
        import duckdb

        sqls = oracle_sql(run)
        con = duckdb.connect()
        con.execute(f"SET threads = {run.cores}")
        for q in missing:
            if q == "alert_cooldown":
                cached[q] = H.frame_digest(cooldown_reference(os.path.join(run.sf_dir, "events.parquet")))
            else:
                cached[q] = H.frame_digest(con.execute(sqls[q]).df())
        con.close()
        tmp = path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cached, fh)
        os.replace(tmp, path)
    return cached


def oracle_sql(run: Run) -> dict[str, str]:
    """The registry's oracle SQL for the transcript-derived queries, with
    the arguments ``__spark_entry__.oracle_sql()`` passes."""
    import __spark_entry__ as entry
    from semstreams_spark import oracles as o

    sf = SF
    return {
        "triples_extract": o.sql_triples_extract(sf),
        "pagerank_entities": o.sql_pagerank_entities(sf, max_iter=10, k=20),
        "entity_delete": o.sql_entity_delete(sf, entry.DELETE_TS_LATE, entry.DELETE_TS_EARLY),
    }


def cooldown_reference(events_path: str):
    """alert_cooldown's reference, written independently of the operator:
    per user, in event-time order, an alert on value > 180 fires when at
    least 3600 s have passed since the user's last fired alert."""
    import pandas as pd

    e = pd.read_parquet(events_path)
    e = e[e["value"] > 180].sort_values(["user_id", "ts"], kind="stable")
    rows = []
    for uid, g in e.groupby("user_id", sort=True):
        last = None
        for ts in g["ts"]:
            if last is None or (ts - last).total_seconds() >= 3600:
                rows.append(("high_value", str(uid), ts))
                last = ts
    return pd.DataFrame(rows, columns=["rule_id", "entity_id", "ts"])


# -- workloads ----------------------------------------------------------------


def engine_metrics(run: Run) -> dict:
    """Per-layer metrics every workload has: Spark's job/stage accounting
    and the JVM/Python boundary over the timed windows."""
    spark = run.spark
    S.drain(spark)
    tot: dict[str, float] = {}
    jobs_n = 0.0
    no_job = 0.0
    for a, b in run.windows:
        jobs = S.jobs_between(spark, a, b)
        jobs_n += len(jobs)
        no_job += S.uncovered_ms(jobs, a, b)
        for k, v in S.stage_totals(spark, jobs).items():
            tot[k] = tot.get(k, 0.0) + v
        for k, v in S.python_boundary(S.sql_node_metrics(spark, a, b)).items():
            tot[f"py_{k}"] = tot.get(f"py_{k}", 0.0) + v
    for k, v in run.stream_python.items():  # streams: read off their plans
        tot[f"py_{k}"] = tot.get(f"py_{k}", 0.0) + v
    return {
        "spark.jobs": (jobs_n, "count"),
        "spark.stages": (tot.get("stages", 0.0), "count"),
        "spark.tasks": (tot.get("tasks", 0.0), "count"),
        "spark.task_run_ms": (tot.get("task_run_ms", 0.0), "ms"),
        "spark.task_cpu_ms": (tot.get("task_cpu_ms", 0.0), "ms"),
        "spark.gc_ms": (tot.get("gc_ms", 0.0), "ms"),
        "spark.shuffle_read_bytes": (tot.get("shuffle_read_bytes", 0.0), "bytes"),
        "spark.shuffle_write_bytes": (tot.get("shuffle_write_bytes", 0.0), "bytes"),
        "spark.input_bytes": (tot.get("input_bytes", 0.0), "bytes"),
        "spark.no_job_ms": (no_job, "ms"),
        "python.rows_out": (tot.get("py_rows_out", 0.0), "count"),
        "python.bytes_sent": (tot.get("py_bytes_sent", 0.0), "bytes"),
        "python.bytes_received": (tot.get("py_bytes_received", 0.0), "bytes"),
    }


PHASES = {"bulk": bulk_phase, "fresh": fresh_phase, "queries": query_phase}

WORKLOADS = {
    "ingest_bulk": ("bulk",),
    "stream_fresh": ("fresh",),
    "kg_queries": ("queries",),
}


def run_workload(run: Run, workload: str) -> None:
    """Inputs, set-up, the workload's phases; fills run.report. Each step's
    wall time lands in the report as ``time.<step>_s``."""
    phases = WORKLOADS[workload]
    t = time.monotonic()

    def lap(step):
        nonlocal t
        now = time.monotonic()
        run.put(f"time.{step}_s", now - t, "s")
        t = now

    corpus = make_inputs(run)
    if "queries" in phases:
        oracle_digests(run)  # computed before the session so DuckDB and Spark never overlap
    lap("inputs")
    if set(phases) & {"bulk", "fresh"}:
        def warmup(r):
            # one ingest of one bulk file (Python workers, the state store,
            # the sink's first commit), then one whole bulk ingest: the first
            # whole one after the small one took about 1.2x the next
            bulk_ingest(r, warmup_files(r, corpus))
            bulk_ingest(r, bulk_files(r, corpus))
    else:
        # one cold pass (the first jobs, Python workers): each query's
        # first run took about twice its later ones
        warmup = lambda r: query_pass(r, r.fresh_dir("warmup"), {})  # noqa: E731
    with H.SpeedProbe(os.path.dirname(os.path.abspath(__file__))) as probe:
        t0 = time.time()
        setup(run, warmup)
        run.put("host.setup_probe_rate", probe.rate(t0, time.time()), "1/ms")
        lap("setup")
        _phases(run, phases, corpus, lap)
    run.put("host.probe_rate", H.median([probe.rate(a / 1000, b / 1000) for a, b in run.windows]), "1/ms")
    if run.trace:
        for k, v in engine_metrics(run).items():
            run.put(k, *v)


def _phases(run: Run, phases, corpus: str, lap) -> None:
    restore = traced_sink(run) if run.trace and set(phases) & {"bulk", "fresh"} else None
    try:
        with H.RssSampler(run.spark.sparkContext._gateway.proc.pid) as rss:
            run.rss = rss
            for ph in phases:
                try:
                    with run.tracer.span(f"phase.{ph}"):
                        for k, v in PHASES[ph](run, corpus).items():
                            run.put(k, *v)
                except Exception as e:  # noqa: BLE001 - a failing phase must not lose the others
                    traceback.print_exc(file=sys.stderr)
                    run.ops.fail(f"{ph}: {e!r}"[:500])
                lap(ph)
    finally:
        if restore:
            restore()
    run.put("peak_rss_mb", rss.peak / 2**20, "MB")
