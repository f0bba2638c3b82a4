"""Full-stack end-to-end scenario (SURVEY §5 e2e-scenario parity,
reference ``test/e2e/scenarios/semantic_*.go``): one flow exercising the
whole engine surface in sequence —

  files → streaming ingest (stateful merge) + rule stage (cooldown,
  exactly-once) → publish hour-partitioned triple
  log → compact LWW node/edge tables → tombstone stream (delete rule
  events + status flip) → query API over the result —

with cross-checks at every boundary against the batch engine.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from semstreams_spark.extract import extract_triples
from semstreams_spark.rules.engine import Condition, Rule, apply_cooldown, evaluate_rules
from semstreams_spark.streaming import read_transcript_stream
from semstreams_spark.streaming.rules_stage import build_ingest_with_rules, rule_states_view

T0 = dt.datetime(2025, 1, 1)
_MT = [1_750_000_000]


def _write(dirpath, name, rows):
    os.makedirs(dirpath, exist_ok=True)
    cols = list(zip(*rows))
    tbl = pa.table(
        {
            "conv_id": pa.array(cols[0]),
            "turn_idx": pa.array(cols[1], type=pa.int32()),
            "role": pa.array(cols[2]),
            "text": pa.array(cols[3]),
            "tool": pa.array(cols[4], type=pa.string()),
            "ts": pa.array([dt.datetime.fromtimestamp(t.timestamp()) for t in cols[5]], type=pa.timestamp("us")),
        }
    )
    p = os.path.join(dirpath, name)
    pq.write_table(tbl, p)
    _MT[0] += 10
    os.utime(p, (_MT[0], _MT[0]))


def test_full_pipeline_scenario(spark, tmp_path):
    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    rules = [
        Rule(id="calc_used", conditions=(Condition("conv.turn.tool", "eq", "calc"),)),
        Rule(
            id="ent_seen",
            conditions=(Condition("entity.mentioned", "starts_with", "test.local.conv."),),
            cooldown_seconds=50,
        ),
    ]

    def mk(conv, i, text, tool=None, t_off=0):
        role = "tool" if tool else ("user" if i % 2 == 0 else "assistant")
        return (conv, i, role, text, tool, T0 + dt.timedelta(seconds=20 * i + t_off))

    # three micro-batches; includes a redelivered turn and a tool turn
    rows1 = [mk("c1", i, f"msg {i} @entity:ent_a") for i in range(4)]
    rows2 = [mk("c1", 4, "calc it @entity:ent_a", tool="calc"), mk("c2", 0, "hello @entity:ent_b")]
    rows3 = [rows2[0], mk("c2", 1, "again @entity:ent_b")]  # redelivery of (c1, 4)
    _write(indir, "f1.parquet", rows1)
    _write(indir, "f2.parquet", rows2)
    _write(indir, "f3.parquet", rows3)

    # 1) streaming ingest + rule stage, exactly-once
    stream = read_transcript_stream(spark, indir, max_files_per_trigger=1)
    q, delta_sink, rule_stage = build_ingest_with_rules(
        stream, outdir, rules, checkpoint_dir=ckpt, watermark="2 days"
    )
    q.awaitTermination()
    deltas = delta_sink.read(spark)

    # boundary check: committed delta triples == batch extraction (dedup'd)
    batch = extract_triples(spark.read.parquet(indir).dropDuplicates(["conv_id", "turn_idx"]))
    key = ["subject", "predicate", "object", "ts"]
    assert sorted(map(tuple, deltas.filter(F.col("kind") == "triple").select(*key).collect())) == sorted(
        map(tuple, batch.select(*key).collect())
    )
    # boundary check: committed rule events == batch rules + greedy cooldown
    got_rules = sorted(map(tuple, rule_stage.sink.read(spark).select("rule_id", "entity_id", "ts").collect()))
    want_rules = sorted(
        map(
            tuple,
            apply_cooldown(evaluate_rules(rule_states_view(deltas), rules), rules)
            .select("rule_id", "entity_id", "ts")
            .collect(),
        )
    )
    assert got_rules == want_rules
    assert any(r[0] == "calc_used" for r in got_rules)

    # 2) publish the hour-partitioned triple log + compact LWW tables
    from semstreams_spark.streaming.publish import compact_entity_tables, publish_triples

    log_dir, tables_dir = str(tmp_path / "log"), str(tmp_path / "tables")
    publish_triples(deltas, log_dir)
    assert any(d.startswith("hour=") for d in os.listdir(log_dir))
    compact_entity_tables(spark, log_dir, tables_dir)

    nodes = spark.read.parquet(os.path.join(tables_dir, "nodes"))
    edges = spark.read.parquet(os.path.join(tables_dir, "edges"))
    states = spark.read.parquet(os.path.join(tables_dir, "entity_states"))

    # 3) query API over the compacted tables
    from semstreams_spark.plans.api import GraphQueryAPI

    triples_log = spark.read.parquet(log_dir)
    api = GraphQueryAPI(nodes, edges, triples_log)
    ent_a = "test.local.graph.kb.entity.ent_a"
    # nodes are the triple SUBJECTS (turns/conversations); mentioned
    # entities surface through incoming edges (J5 reverse lookup)
    assert api.exists_entity("test.local.conv.c1.turn.0")
    assert api.relationships_in(ent_a).count() > 0
    # redelivered (c1, 4) accepted once: version counts distinct updates
    c1_turn4 = nodes.filter(F.col("id") == "test.local.conv.c1.turn.4").first()
    assert c1_turn4 is not None and c1_turn4["version"] == 1

    # 4) tombstone stream: delete the c2.turn.1 node AFTER all events →
    # stays deleted; its mention edge is cleaned up; a DELETED rule
    # event is emitted through its own exactly-once sink
    from semstreams_spark.operators.mutations import edges_after_deletes, nodes_with_status
    from semstreams_spark.streaming.mutations import read_delete_stream
    from semstreams_spark.streaming.rules_stage import build_delete_rule_events

    victim = "test.local.conv.c2.turn.1"
    ddir = str(tmp_path / "dels")
    os.makedirs(ddir, exist_ok=True)
    dp = os.path.join(ddir, "d0.parquet")
    pq.write_table(
        pa.table({"entity_id": [victim], "ts": [T0 + dt.timedelta(hours=1)]}), dp
    )
    _MT[0] += 10
    os.utime(dp, (_MT[0], _MT[0]))
    dq, dsink = build_delete_rule_events(
        read_delete_stream(spark, ddir, 1), str(tmp_path / "delout"), str(tmp_path / "delck")
    )
    dq.awaitTermination()
    assert [r["rule_id"] for r in dsink.read(spark).collect()] == ["entity_deleted"]

    deletes = spark.read.parquet(ddir)
    statused = nodes_with_status(nodes, deletes)
    assert statused.filter(F.col("id") == victim).first()["status"] == "deleted"
    assert statused.filter(F.col("status") == "deleted").count() == 1
    live = edges_after_deletes(edges, deletes)
    assert edges.filter(F.col("src") == victim).count() > 0
    assert live.filter(F.col("src") == victim).count() == 0
