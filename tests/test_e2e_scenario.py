"""Full-stack end-to-end scenario (SURVEY §5 e2e-scenario parity,
reference ``test/e2e/scenarios/semantic_*.go``): one flow in sequence —

  files → streaming ingest (stateful merge) + rule stage (cooldown,
  exactly-once) —

with cross-checks at each boundary against the batch engine.
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

    # streaming ingest + rule stage, exactly-once
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
