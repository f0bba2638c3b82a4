"""Streaming core: stateful merge parity vs batch, exactly-once at every
crash point of the sink's commit protocol, re-delivery dedup, watermark
session timeout."""

from __future__ import annotations

import datetime as dt
import json
import os
from functools import partial

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from semstreams_spark.extract import extract_triples
from semstreams_spark.streaming import build_ingest_stream, read_transcript_stream

T0 = dt.datetime(2025, 1, 1)


_MTIME_COUNTER = [1_700_000_000]


def _write_file(dirpath: str, name: str, rows: list[tuple]):
    """rows: (conv_id, turn_idx, role, text, tool, ts). Sets strictly
    increasing mtimes: the file stream source orders batches by mtime, and
    two files written in the same clock tick would race."""
    os.makedirs(dirpath, exist_ok=True)
    cols = list(zip(*rows))
    tbl = pa.table(
        {
            "conv_id": pa.array(cols[0]),
            "turn_idx": pa.array(cols[1], type=pa.int32()),
            "role": pa.array(cols[2]),
            "text": pa.array(cols[3]),
            "tool": pa.array(cols[4], type=pa.string()),
            "ts": pa.array([pd.Timestamp(t) for t in cols[5]], type=pa.timestamp("us")),
        }
    )
    path = os.path.join(dirpath, name)
    pq.write_table(tbl, path)
    _MTIME_COUNTER[0] += 10
    os.utime(path, (_MTIME_COUNTER[0], _MTIME_COUNTER[0]))


def _mk_rows(conv, n, start, mention="ent_a"):
    return [
        (conv, i, "user" if i % 2 == 0 else "assistant", f"msg {i} @entity:{mention}", None, start + dt.timedelta(seconds=20 * i))
        for i in range(n)
    ]


def _run(spark, indir, outdir, ckpt, **kw):
    stream = read_transcript_stream(spark, indir, max_files_per_trigger=kw.pop("mfpt", 1))
    q, sink = build_ingest_stream(stream, outdir, checkpoint_dir=ckpt, **kw)
    q.awaitTermination()
    return sink


class _Crash(Exception):
    """A fault a test injects into one step of a commit."""


# the sink's commit steps, in protocol order (see _crash_at)
SINK_POINTS = ("staged", "renamed", "ledgered", "segment", "returned")


def _crash_at(mp, point: str, table: str, batch: int) -> list[str]:
    """Make the first step ``point`` of the sink whose directory is named
    ``table`` raise at batch ``batch``, by patching one method of the sink
    or the rule stage, or ``os.replace``, on the monkeypatch context
    ``mp``. Returns a list that holds ``point`` once the crash happened.

    - staged: after the staging write, before the rename;
    - renamed: after the rename, before the ledger write;
    - ledgered: after the ledger write, before ``_record_commit``;
    - segment: after a ledger segment flush, before its pointer update
      (the table's first flush, whatever its batch);
    - returned: after the sink returns, before Spark's commit log;
    - rule_stage: after the delta commit, before the rule stage runs."""
    from semstreams_spark.streaming.rules_stage import StreamingRuleStage
    from semstreams_spark.streaming.sink import ExactlyOnceParquetSink as Sink

    fired: list[str] = []

    def fire(hit: bool) -> None:
        if hit and not fired:
            fired.append(point)
            raise _Crash(f"injected crash {point} in {table} at batch {batch}")

    def ours(sink, batch_id) -> bool:
        return os.path.basename(sink.table_dir) == table and batch_id == batch

    real_replace = os.replace
    if point == "staged":
        real_lineage = Sink._footer_lineage

        def lineage(directory):
            fire(directory.endswith(os.path.join(table, "_staging", f"batch={batch}")))
            return real_lineage(directory)

        mp.setattr(Sink, "_footer_lineage", staticmethod(lineage))
    elif point == "renamed":

        def replace(src, dst):
            real_replace(src, dst)
            fire(dst.endswith(os.path.join(table, f"batch={batch}")))

        mp.setattr(os, "replace", replace)
    elif point == "segment":

        def replace(src, dst):
            fire(dst.endswith(os.path.join(table, "_ledger", "_checkpoint.json")))
            real_replace(src, dst)

        mp.setattr(os, "replace", replace)
    elif point == "ledgered":
        real_record = Sink._record_commit

        def record(self, entry):
            fire(ours(self, entry["batch_id"]))
            real_record(self, entry)

        mp.setattr(Sink, "_record_commit", record)
    elif point == "returned":
        real_call = Sink.__call__

        def call(self, batch_df, batch_id):
            real_call(self, batch_df, batch_id)
            fire(ours(self, batch_id))

        mp.setattr(Sink, "__call__", call)
    else:
        assert point == "rule_stage", point
        real_stage = StreamingRuleStage.__call__

        def stage(self, batch_df, batch_id):
            fire(batch_id == batch)
            real_stage(self, batch_df, batch_id)

        mp.setattr(StreamingRuleStage, "__call__", stage)
    return fired


def _assert_clean_table(sink) -> None:
    """The table holds a directory for exactly the ledger's non-empty
    batches, no staged leftover, and a fresh sink's index (pointer,
    segments, per-batch suffix) lists every ledger entry once."""
    from semstreams_spark.streaming.sink import ExactlyOnceParquetSink

    ledger = sink.ledger()
    dirs = sorted(int(d.split("=")[1]) for d in os.listdir(sink.table_dir) if d.startswith("batch="))
    assert dirs == [e["batch_id"] for e in ledger if e["rows"] > 0]
    assert not os.path.isdir(sink.staging_dir) or os.listdir(sink.staging_dir) == []
    fresh = ExactlyOnceParquetSink(sink.table_dir)
    assert sorted(fresh._compact_entries()) == [e["batch_id"] for e in ledger]


def _rule_input(indir: str) -> None:
    """One conversation of 10 turns at 20 s spacing, all mentioning one
    entity, turn 5 a calc tool call; 3 event-time-ordered files (a
    log-ordered source: the incremental-greedy == global-greedy
    precondition of the rule stage's cooldown)."""
    rows = [
        ("c1", i, "tool" if i == 5 else "user", f"msg {i} @entity:ent_x", "calc" if i == 5 else None,
         T0 + dt.timedelta(seconds=20 * i))
        for i in range(10)
    ]
    _write_file(indir, "f1.parquet", rows[0:4])
    _write_file(indir, "f2.parquet", rows[4:8])
    _write_file(indir, "f3.parquet", rows[8:10])


def _rules():
    from semstreams_spark.rules.engine import Condition, Rule

    return [
        Rule(id="calc_used", conditions=(Condition("conv.turn.tool", "eq", "calc"),)),
        Rule(
            id="ent_seen",
            conditions=(Condition("entity.mentioned", "starts_with", "test.local.conv."),),
            cooldown_seconds=50,
        ),
    ]


@pytest.mark.parametrize(
    "pipeline,table,point",
    [("ingest", "graph_deltas", p) for p in SINK_POINTS]
    + [("rules", "graph_deltas", p) for p in SINK_POINTS]
    + [("rules", "rule_events", p) for p in (*SINK_POINTS, "rule_stage")],
)
def test_crash_point_exactly_once(spark, tmp_path, monkeypatch, pipeline, table, point):
    """Crash once at one step of the commit protocol at batch 1, restart
    from the checkpoint: the restart is clean, and the committed tables
    equal the batch answer (extract_triples; evaluate_rules +
    apply_cooldown over it) with no lost and no duplicate rows. In the
    rules pipeline, "returned" on rule_events is the crash after both
    commits and "rule_stage" the one between them. Ledger segments flush
    every 2 commits, so batch 1 flushes one."""
    from semstreams_spark.rules.engine import apply_cooldown, evaluate_rules
    from semstreams_spark.streaming import pipeline as pipeline_mod
    from semstreams_spark.streaming import rules_stage as rules_mod
    from semstreams_spark.streaming.sink import ExactlyOnceParquetSink

    for mod in (pipeline_mod, rules_mod):
        monkeypatch.setattr(mod, "ExactlyOnceParquetSink", partial(ExactlyOnceParquetSink, compact_every=2))
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    _rule_input(indir)
    rules = _rules()

    def start():
        stream = read_transcript_stream(spark, indir, max_files_per_trigger=1)
        if pipeline == "ingest":
            return (*build_ingest_stream(stream, outdir, checkpoint_dir=ckpt, watermark="2 days"), None)
        return rules_mod.build_ingest_with_rules(stream, outdir, rules, checkpoint_dir=ckpt, watermark="2 days")

    with monkeypatch.context() as mp:
        fired = _crash_at(mp, point, table, batch=1)
        q, _, _ = start()
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination()
    assert fired == [point]
    q, delta_sink, rule_stage = start()
    q.awaitTermination()  # raises if the restart fails
    assert q.exception() is None

    batch = extract_triples(spark.read.parquet(indir)).withColumnRenamed("seq", "turn_idx")
    key = ["subject", "predicate", "object", "object_type", "ts", "turn_idx"]
    got = delta_sink.read(spark).filter(F.col("kind") == "triple").select(*key)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.select(*key).collect()))
    _assert_clean_table(delta_sink)
    if rule_stage is not None:
        view = rules_mod.rule_states_view(batch.withColumn("kind", F.lit("triple")))
        want = apply_cooldown(evaluate_rules(view, rules), rules)
        key = ["rule_id", "entity_id", "ts"]
        got = rule_stage.sink.read(spark).select(*key)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.select(*key).collect()))
        _assert_clean_table(rule_stage.sink)


def test_restart_after_commit_log_lost(spark, tmp_path):
    """A crash after the sink's ledger write and before Spark's commit log
    (the last ``commits/<N>`` of a finished run removed) restarts cleanly:
    the replayed batch, which the ledger holds, is drained rather than
    skipped, so its state commits, and the table is unchanged."""
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    for i in range(3):
        _write_file(indir, f"f{i}.parquet", _mk_rows(f"c{i}", 3, T0 + dt.timedelta(minutes=i)))
    sink = _run(spark, indir, outdir, ckpt, watermark="2 days")
    before = sorted(map(tuple, sink.read(spark).collect()), key=repr)
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))

    sink2 = _run(spark, indir, outdir, ckpt, watermark="2 days")
    assert os.path.exists(os.path.join(commits, str(last)))
    assert sorted(map(tuple, sink2.read(spark).collect()), key=repr) == before
    assert [e["batch_id"] for e in sink2.ledger()] == list(range(last + 1))


def test_output_dir_of_another_query_is_refused(spark, tmp_path):
    """A fresh checkpoint over an output directory another query committed
    to fails at its first batch with an error naming both query ids, and
    commits nothing there: otherwise the old ledger's batch ids would mark
    the new query's batches as already committed."""
    indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
    for i in range(2):
        _write_file(indir, f"f{i}.parquet", _mk_rows(f"c{i}", 3, T0 + dt.timedelta(minutes=i)))
    _run(spark, indir, outdir, str(tmp_path / "ck1"), watermark="2 days")
    ledger_dir = os.path.join(outdir, "graph_deltas", "_ledger")
    ledger_before = sorted(os.listdir(ledger_dir))

    with pytest.raises(Exception) as err:
        _run(spark, indir, outdir, str(tmp_path / "ck2"), watermark="2 days")
    for ck in ("ck1", "ck2"):
        with open(tmp_path / ck / "metadata") as fh:
            assert json.loads(fh.readline())["id"] in str(err.value)
    assert "fresh output directory" in str(err.value)
    assert sorted(os.listdir(ledger_dir)) == ledger_before


def test_stream_matches_batch_extraction(spark, tmp_path):
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_file(indir, "f1.parquet", _mk_rows("c1", 6, T0) + _mk_rows("c2", 4, T0, "ent_b"))
    # the rest of the contract: a tool turn, two distinct mentions plus a
    # repeat, and a turn with no mention
    t4 = T0 + dt.timedelta(minutes=7)
    _write_file(
        indir,
        "f2.parquet",
        _mk_rows("c3", 5, T0 + dt.timedelta(minutes=5))
        + [
            ("c4", 0, "tool", "calc: 42 @entity:ent_a", "calc", t4),
            ("c4", 1, "assistant", "@entity:ent_b vs @entity:ent_c, again @entity:ent_b", None, t4 + dt.timedelta(seconds=20)),
            ("c4", 2, "user", "thanks, no mention here", None, t4 + dt.timedelta(seconds=40)),
        ],
    )

    sink = _run(spark, indir, outdir, ckpt, watermark="2 days", mfpt=1)
    out = sink.read(spark).filter(F.col("kind") == "triple")

    batch = extract_triples(spark.read.parquet(indir)).withColumnRenamed("seq", "turn_idx")
    key = ["subject", "predicate", "object", "object_type", "ts", "turn_idx"]
    got = sorted(map(tuple, out.select(*key).collect()))
    want = sorted(map(tuple, batch.select(*key).collect()))
    assert got == want


def test_prior_turn_linkage(spark, tmp_path):
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_file(indir, "f1.parquet", _mk_rows("c1", 4, T0))
    sink = _run(spark, indir, outdir, ckpt, watermark="2 days")
    out = (
        sink.read(spark)
        .filter((F.col("kind") == "triple") & (F.col("predicate") == "rdf:type"))
        .select("turn_idx", "prev_turn_idx", "version")
        .collect()
    )
    by_turn = {r["turn_idx"]: r for r in out}
    assert by_turn[0]["prev_turn_idx"] is None
    for i in (1, 2, 3):
        assert by_turn[i]["prev_turn_idx"] == i - 1
    assert [by_turn[i]["version"] for i in range(4)] == [1, 2, 3, 4]


def test_redelivery_dedup(spark, tmp_path):
    """The same turn delivered in two micro-batches is accepted once."""
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    rows = _mk_rows("c1", 3, T0)
    _write_file(indir, "f1.parquet", rows)
    _write_file(indir, "f2.parquet", rows[:2])  # re-delivery of turns 0,1
    sink = _run(spark, indir, outdir, ckpt, watermark="2 days", mfpt=1)
    out = sink.read(spark).filter(F.col("kind") == "triple")
    n_type_triples = out.filter(F.col("predicate") == "rdf:type").count()
    assert n_type_triples == 3  # not 5


def test_session_end_on_watermark_timeout(spark, tmp_path):
    """Idle conversation: state evicted 1h past watermark, session_end emitted."""
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_file(indir, "f1.parquet", _mk_rows("early", 3, T0))
    # second file 6h later pushes the watermark far past early+1h
    _write_file(indir, "f2.parquet", _mk_rows("late", 2, T0 + dt.timedelta(hours=6)))
    # third batch gives the timer a chance to fire
    _write_file(indir, "f3.parquet", _mk_rows("late2", 2, T0 + dt.timedelta(hours=7)))

    sink = _run(spark, indir, outdir, ckpt, watermark="1 minute", mfpt=1)
    ends = sink.read(spark).filter(F.col("kind") == "session_end").collect()
    assert any(r["conv_id"] == "early" and r["object"] == "3" for r in ends)


def test_streaming_tool_correlation(spark, tmp_path):
    """J4 in state: tool turns carry the most recent non-tool turn, across
    micro-batch boundaries."""
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    rows1 = [
        ("c1", 0, "user", "ask", None, T0),
        ("c1", 1, "assistant", "calling", None, T0 + dt.timedelta(seconds=5)),
    ]
    rows2 = [
        ("c1", 2, "tool", "result", "calc", T0 + dt.timedelta(seconds=8)),
        ("c1", 3, "tool", "result2", "search", T0 + dt.timedelta(seconds=9)),
        ("c1", 4, "user", "thanks", None, T0 + dt.timedelta(seconds=12)),
    ]
    _write_file(indir, "f1.parquet", rows1)
    _write_file(indir, "f2.parquet", rows2)
    sink = _run(spark, indir, outdir, ckpt, watermark="2 days", mfpt=1)
    out = (
        sink.read(spark)
        .filter((F.col("predicate") == "conv.turn.tool"))
        .select("turn_idx", "req_turn_idx")
        .collect()
    )
    by_turn = {r["turn_idx"]: r["req_turn_idx"] for r in out}
    # both tool turns attribute to turn 1 (assistant), across the batch boundary
    assert by_turn == {2: 1, 3: 1}


def test_intra_batch_duplicate_dedup(spark, tmp_path):
    """Two copies of the same turn inside ONE micro-batch (one file) must
    be accepted once — the cross-batch seen-set alone misses this."""
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    rows = _mk_rows("c1", 3, T0)
    _write_file(indir, "f1.parquet", rows + rows[:2])  # dup of turns 0,1 in the same file
    sink = _run(spark, indir, outdir, ckpt, watermark="2 days", mfpt=10)
    out = sink.read(spark).filter(F.col("kind") == "triple")
    n_type_triples = out.filter(F.col("predicate") == "rdf:type").count()
    assert n_type_triples == 3  # not 5


def test_streaming_deletes_create_delete_recreate(spark, tmp_path):
    """Tombstones over the streamed sink's committed mention triples: a
    delete after the entity's turns marks it deleted; a later recreate
    (newer turn mentioning it) flips it back to active."""
    from mutations_reference import nodes_with_status

    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    # turns at T0..T0+40s mentioning ent_a; later turn at +2h re-mentions it
    _write_file(indir, "f1.parquet", _mk_rows("c1", 3, T0))
    _write_file(indir, "f2.parquet", _mk_rows("c2", 2, T0 + dt.timedelta(hours=2)))
    sink = _run(spark, indir, outdir, ckpt, watermark="2 days", mfpt=10)

    # a tombstone for ent_a between the two mention bursts (recreated),
    # plus one for a never-seen entity
    ent = "test.local.graph.kb.entity.ent_a"
    t_del = T0 + dt.timedelta(hours=1)
    deletes = spark.createDataFrame(
        [(ent, t_del), ("test.local.graph.kb.entity.ghost", t_del)],
        "entity_id string, ts timestamp",
    )

    triples = sink.read(spark).filter(F.col("kind") == "triple")
    men = triples.filter(F.col("predicate") == "conv.turn.mentions").select(
        F.col("object").alias("id"), "ts"
    )
    nodes = men.groupBy("id").agg(
        F.count(F.lit(1)).alias("version"), F.max("ts").alias("updated_at")
    ).withColumn("type", F.lit("entity"))
    st = {r["id"]: r["status"] for r in nodes_with_status(nodes, deletes).collect()}
    # mentioned again at T0+2h > tombstone at +1h -> recreated
    assert st[ent] == "active"

    # with only the first burst (max mention ts T0+40s < tombstone) the
    # same composition reports deleted
    early = men.filter(F.col("ts") < t_del)
    nodes_early = early.groupBy("id").agg(
        F.count(F.lit(1)).alias("version"), F.max("ts").alias("updated_at")
    ).withColumn("type", F.lit("entity"))
    st_early = {r["id"]: r["status"] for r in nodes_with_status(nodes_early, deletes).collect()}
    assert st_early[ent] == "deleted"


def test_observed_source_metrics_per_batch(spark, tmp_path):
    """Each micro-batch's progress carries observed source metrics (rows,
    event-time bounds) alongside the sink's per-partition lineage."""
    import json as _json

    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_file(indir, "f1.parquet", _mk_rows("c1", 4, T0))
    _write_file(indir, "f2.parquet", _mk_rows("c2", 3, T0 + dt.timedelta(minutes=1)))
    stream = read_transcript_stream(spark, indir, max_files_per_trigger=1)
    q, sink = build_ingest_stream(stream, outdir, checkpoint_dir=ckpt, watermark="2 days")
    q.awaitTermination()
    progresses = [_json.loads(p.json) for p in q.recentProgress]
    observed = [
        p["observedMetrics"]["ingest_source"]
        for p in progresses
        if p.get("observedMetrics", {}).get("ingest_source")
    ]
    data_batches = [m for m in observed if m["rows"] > 0]
    assert sorted(m["rows"] for m in data_batches) == [3, 4]  # both batches reported
    for m in data_batches:
        assert m["min_event_ts"] <= m["max_event_ts"]
        assert m["approx_convs"] >= 1


def test_streaming_rule_stage_kill_resume(spark, tmp_path, monkeypatch):
    """R5 end-to-end: rules + cooldown evaluated inside the live delta
    stream's foreachBatch, committed exactly-once; a crash injected after
    the delta commit but before the rule commit must, after restart,
    yield rule events IDENTICAL to the batch engine (evaluate_rules +
    global greedy apply_cooldown) over the same committed deltas —
    the streaming analogue of the rule_events/alert_cooldown gates."""
    from semstreams_spark.rules.engine import apply_cooldown, evaluate_rules
    from semstreams_spark.streaming.rules_stage import build_ingest_with_rules, rule_states_view

    rules = _rules()
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    _rule_input(indir)

    stream = read_transcript_stream(spark, indir, max_files_per_trigger=1)
    with monkeypatch.context() as mp:
        _crash_at(mp, "rule_stage", "rule_events", batch=1)
        q, _, _ = build_ingest_with_rules(stream, outdir, rules, checkpoint_dir=ckpt, watermark="2 days")
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination()

    stream2 = read_transcript_stream(spark, indir, max_files_per_trigger=1)
    q2, delta_sink, rule_stage = build_ingest_with_rules(
        stream2, outdir, rules, checkpoint_dir=ckpt, watermark="2 days"
    )
    q2.awaitTermination()

    got = sorted(
        map(tuple, rule_stage.sink.read(spark).select("rule_id", "entity_id", "ts").collect())
    )
    deltas = delta_sink.read(spark)
    want_df = apply_cooldown(evaluate_rules(rule_states_view(deltas), rules), rules)
    want = sorted(map(tuple, want_df.select("rule_id", "entity_id", "ts").collect()))
    assert got == want
    # the cooldown actually engaged across batch boundaries: 10 mention
    # events at 20s spacing, 50s mute -> fires at t=0,60,120,180
    ent = [t for t in got if t[0] == "ent_seen"]
    assert [ts.second + 60 * ts.minute for (_, _, ts) in ent] == [0, 60, 120, 180]
    assert [t for t in got if t[0] == "calc_used"]  # the no-cooldown rule fired
    # every committed batch has a ledger row on BOTH tables
    assert {e["batch_id"] for e in rule_stage.sink.ledger()} <= {
        e["batch_id"] for e in delta_sink.ledger()
    }
    # the rules pipeline pins the state layout too (8 buckets per state
    # partition at the session's 8), and resumed on it
    with open(os.path.join(ckpt, "_state_engine")) as fh:
        assert fh.read() == "bucketed:64"


@pytest.mark.parametrize("pipeline", ["ingest", "rules"])
def test_old_layout_checkpoint_fails_at_start(spark, tmp_path, pipeline):
    """Both pipelines refuse a checkpoint whose merge state is not keyed
    by hash bucket — a "tws" marker, or no marker but offsets/ — before
    the query starts, and leave the checkpoint as found."""
    from semstreams_spark.streaming.rules_stage import build_ingest_with_rules

    indir, outdir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_file(indir, "f0.parquet", _mk_rows("c0", 3, T0))
    tws = tmp_path / "ck_tws"
    tws.mkdir()
    (tws / "_state_engine").write_text("tws")
    unmarked = tmp_path / "ck_unmarked"
    (unmarked / "offsets").mkdir(parents=True)
    for ckpt in (tws, unmarked):
        stream = read_transcript_stream(spark, indir)
        with pytest.raises(RuntimeError, match="restart from a fresh checkpoint"):
            if pipeline == "ingest":
                q, _ = build_ingest_stream(stream, outdir, checkpoint_dir=str(ckpt))
            else:
                q, _, _ = build_ingest_with_rules(stream, outdir, [], checkpoint_dir=str(ckpt))
            q.stop()  # reached only when the check is missing
    assert (tws / "_state_engine").read_text() == "tws"
    assert sorted(os.listdir(unmarked)) == ["offsets"]


def _parity_input(indir: str, order: str, seed: int = 7):
    """A skewed corpus (one 50x conversation) in 3 files, in event-time
    or shuffled order, with 20 redeliveries inside a file and 20 of the
    first file's rows again in the last file."""
    import numpy as np

    from semstreams_spark.datagen.transcripts import generate_transcripts

    tbl = generate_transcripts(0.001, seed=seed)[0]
    rng = np.random.default_rng(seed)
    idx = np.argsort(tbl["ts"].to_numpy(), kind="stable") if order == "ts" else rng.permutation(tbl.num_rows)
    parts = np.array_split(idx, 3)
    parts[1] = np.concatenate([parts[1], rng.choice(parts[1], 20, replace=False)])
    parts[2] = np.concatenate([parts[2], rng.choice(parts[0], 20, replace=False)])
    os.makedirs(indir)
    for i, part in enumerate(parts):
        path = os.path.join(indir, f"f{i}.parquet")
        pq.write_table(tbl.take(part), path)
        _MTIME_COUNTER[0] += 10
        os.utime(path, (_MTIME_COUNTER[0], _MTIME_COUNTER[0]))


@pytest.mark.parametrize(
    "order,watermark", [("ts", "1 minute"), ("shuffled", "10 minutes"), ("ts", "2 days")]
)
def test_bucket_count_does_not_change_sink_rows(spark, tmp_path, monkeypatch, order, watermark):
    """A fresh checkpoint at 2 state partitions (16 buckets) commits the
    same rows as a ``legacy-bucketed`` checkpoint (64 buckets, 8
    partitions) that is killed before batch 1's ledger commit and
    restarted."""
    indir = str(tmp_path / "in")
    _parity_input(indir, order)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        fresh = _run(spark, indir, str(tmp_path / "out16"), str(tmp_path / "ck16"), watermark=watermark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert (tmp_path / "ck16" / "_state_engine").read_text() == "bucketed:16"

    legacy_ck = tmp_path / "ck64"
    legacy_ck.mkdir()
    (legacy_ck / "_state_engine").write_text("legacy-bucketed")
    with monkeypatch.context() as mp, pytest.raises(Exception, match="injected crash"):
        _crash_at(mp, "renamed", "graph_deltas", batch=1)
        _run(spark, indir, str(tmp_path / "out64"), str(legacy_ck), watermark=watermark)
    legacy = _run(spark, indir, str(tmp_path / "out64"), str(legacy_ck), watermark=watermark)
    assert (legacy_ck / "_state_engine").read_text() == "legacy-bucketed"

    got = sorted(map(tuple, fresh.read(spark).collect()), key=repr)
    want = sorted(map(tuple, legacy.read(spark).collect()), key=repr)
    assert got == want
    assert any(r[0] == "session_end" for r in got)


def test_streaming_rule_seed_read_is_bounded(spark, tmp_path):
    """The cooldown seed must read only committed rule-event batches
    within max(cooldown) of the incoming batch's min event time (ledger
    footer-stat pruning) — the read's input size is independent of how
    many batches the stream has ever committed."""
    from semstreams_spark.rules.engine import Condition, Rule
    from semstreams_spark.streaming.rules_stage import StreamingRuleStage

    rules = [
        Rule(
            id="r_cd",
            conditions=(Condition("conv.turn.tool", "eq", "calc"),),
            cooldown_seconds=120,
        )
    ]
    stage = StreamingRuleStage(str(tmp_path), rules)
    # 12 committed batches, one hour apart in event time — an "old" stream
    for b in range(12):
        ts = T0 + dt.timedelta(hours=b)
        df = spark.createDataFrame(
            [("r_cd", f"ent_{b}", ts)], "rule_id string, entity_id string, ts timestamp_ntz"
        )
        stage.sink(df, b)
    assert len(stage.sink.ledger()) == 12

    # a new batch starting at hour 11 + 30s: its 120s cooldown horizon
    # reaches only batch 11 — the other 11 committed batches are pruned
    # from the seed read via ledger metadata alone
    min_ev = T0 + dt.timedelta(hours=11, seconds=30)
    dirs = stage.seed_batch_dirs(min_ev)
    assert len(dirs) == 1 and dirs[0].endswith("batch=11")

    from test_read_parquet import _jobs

    seed, n_first = _jobs(spark, lambda: stage.last_fires(spark, min_ev))
    rows = seed.collect()
    assert [(r["rule_id"], r["entity_id"]) for r in rows] == [("r_cd", "ent_11")]
    # the next trigger's seed read reuses the table's schema: no
    # schema-inference job before its query runs
    later = min_ev + dt.timedelta(seconds=30)
    again, n_again = _jobs(spark, lambda: stage.last_fires(spark, later))
    assert n_first >= 1 and n_again == 0
    assert again.collect() == rows

    # grow the history 2x with batches strictly older than the cutoff:
    # the bounded read stays the same size
    for b in range(12, 24):
        ts = T0 + dt.timedelta(hours=(b - 12) % 10, minutes=30)
        df = spark.createDataFrame(
            [("r_cd", f"ent_old_{b}", ts)], "rule_id string, entity_id string, ts timestamp_ntz"
        )
        stage.sink(df, b)
    assert len(stage.sink.ledger()) == 24
    assert len(stage.seed_batch_dirs(min_ev)) == 1


def test_sink_ledger_metadata_reads_are_bounded(spark, tmp_path):
    """Round-5 worklist #1: per-trigger ledger METADATA reads must not
    grow with stream age. The compact checkpoint (written every
    compact_every commits) + per-batch suffix bound file opens to
    O(compact_every) after a restart and ZERO in steady state — the
    ledger analogue of test_streaming_rule_seed_read_is_bounded."""
    from semstreams_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "t"), compact_every=4)
    for b in range(30):
        ts = T0 + dt.timedelta(hours=b)
        df = spark.createDataFrame(
            [("r", f"e{b}", ts)], "rule_id string, entity_id string, ts timestamp_ntz"
        )
        sink(df, b)
    assert os.path.exists(os.path.join(str(tmp_path / "t"), "_ledger", "_checkpoint.json"))

    # steady state (the live committer): pruning consults the in-memory
    # index only — zero ledger file opens per trigger
    cutoff = T0 + dt.timedelta(hours=28, minutes=30)
    r0 = sink.ledger_file_reads
    dirs = sink.batch_dirs_since(cutoff)
    assert [os.path.basename(d) for d in dirs] == ["batch=29"]
    assert sink.ledger_file_reads == r0

    # restart: a fresh sink loads the O(1) pointer + one immutable
    # segment per compact_every committed batches + the <compact_every
    # per-batch suffix — never the per-batch ledgers of the whole history
    sink2 = ExactlyOnceParquetSink(str(tmp_path / "t"), compact_every=4)
    assert sink2.batch_dirs_since(cutoff) == dirs
    assert sink2.ledger_file_reads <= 1 + (30 // 4) + 4
    assert sorted(sink2._compact_entries()) == list(range(30))
    # read() serves from the same bounded index and sees every batch
    assert sink2.read(spark).count() == 30

    # r6 (round-5 verdict #2): checkpoint bytes WRITTEN per commit window
    # are independent of stream age — each flush writes one immutable
    # segment of ≤ compact_every entries plus a constant-size pointer,
    # never a monolith of every entry ever
    import json as _json

    ledger_dir = os.path.join(str(tmp_path / "t"), "_ledger")
    segs = sorted(f for f in os.listdir(ledger_dir) if f.startswith("_checkpoint.seg."))
    assert len(segs) >= 30 // 4 - 1
    seen = []
    for s in segs:
        with open(os.path.join(ledger_dir, s)) as fh:
            entries = _json.load(fh)
        assert len(entries) <= 4  # bounded bytes per flush
        seen.extend(e["batch_id"] for e in entries)
    # segments are disjoint and cover exactly the checkpointed prefix
    with open(os.path.join(ledger_dir, "_checkpoint.json")) as fh:
        ptr = _json.load(fh)
    assert set(ptr) == {"upto", "n_segments"}  # O(1) pointer, no entry list
    assert sorted(seen) == list(range(ptr["upto"] + 1))


def test_compact_entry_conservative_on_partial_stats():
    """ADVICE r4: a batch with ANY unparseable/missing partition max_ts
    must be included conservatively in pruning (max_ts None), not just
    the all-missing case — the bad partition could hold the true max."""
    from semstreams_spark.streaming.sink import ExactlyOnceParquetSink

    mixed = {
        "batch_id": 5,
        "rows": 10,
        "partitions": [{"max_ts": "2025-01-02T00:00:00"}, {"max_ts": "garbage"}],
    }
    assert ExactlyOnceParquetSink._compact_entry(mixed)["max_ts"] is None
    missing = {
        "batch_id": 6,
        "rows": 10,
        "partitions": [{"max_ts": "2025-01-02T00:00:00"}, {"max_ts": "None"}],
    }
    assert ExactlyOnceParquetSink._compact_entry(missing)["max_ts"] is None
    clean = {
        "batch_id": 7,
        "rows": 10,
        "partitions": [{"max_ts": "2025-01-01T00:00:00"}, {"max_ts": "2025-01-02T00:00:00"}],
    }
    assert ExactlyOnceParquetSink._compact_entry(clean)["max_ts"] == "2025-01-02T00:00:00"
    # an EMPTY part file (0 rows — routine with wide parallelism on small
    # batches) holds no events: its missing stats must NOT disable pruning
    empty_ok = {
        "batch_id": 8,
        "rows": 1,
        "partitions": [
            {"rows": 1, "max_ts": "2025-01-02T00:00:00"},
            {"rows": 0, "max_ts": "None"},
        ],
    }
    assert ExactlyOnceParquetSink._compact_entry(empty_ok)["max_ts"] == "2025-01-02T00:00:00"


def test_streaming_rule_late_event_arrival_order(spark, tmp_path):
    """Ordering-semantics pin: a LATE but in-watermark row finalized in a
    LATER batch with an EARLIER event time follows the reference's
    arrival-order mute semantics (rule_factory.go:24 checks elapsed-
    since-lastFired at arrival): the late event arrives after the seeded
    fire, so it is muted — it does NOT retroactively fire or reorder the
    committed output (which a batch-global event-time rescan would)."""
    from semstreams_spark.rules.engine import Condition, Rule
    from semstreams_spark.streaming.rules_stage import StreamingRuleStage, rule_states_view

    rules = [
        Rule(
            id="seen",
            conditions=(Condition("entity.mentioned", "starts_with", "test."),),
            cooldown_seconds=3600,
        )
    ]
    stage = StreamingRuleStage(str(tmp_path), rules)

    def delta_batch(rows):
        # (subject, object, ts) mention triples in the delta-row shape
        return spark.createDataFrame(
            [("conv_x", 0, s, "conv.turn.mentions", o, "entity_ref", t, "triple") for s, o, t in rows],
            "conv_id string, turn_idx int, subject string, predicate string, "
            "object string, object_type string, ts timestamp_ntz, kind string",
        )

    ent = "test.local.graph.kb.entity.e1"
    # condition matches the OBJECT of the entity-view row (= the original
    # turn subject), so turn subjects must carry the "test." prefix
    turn_a, turn_b = "test.local.conv.x.turn.a", "test.local.conv.x.turn.b"
    t_fire = T0 + dt.timedelta(minutes=30)
    t_late = T0 + dt.timedelta(minutes=10)  # earlier ts, later arrival
    stage(delta_batch([(turn_a, ent, t_fire)]), 0)
    stage(delta_batch([(turn_b, ent, t_late)]), 1)

    got = sorted(map(tuple, stage.sink.read(spark).select("rule_id", "entity_id", "ts").collect()))
    # only the first-arriving event fired; the late one was muted by the
    # seeded fire even though its event time is earlier
    assert got == [("seen", ent, t_fire)]

    # sanity: rule_states_view keyed the mention to the entity
    assert rule_states_view(delta_batch([("turn_a", ent, t_fire)])).filter(
        F.col("subject") == ent
    ).count() == 1
