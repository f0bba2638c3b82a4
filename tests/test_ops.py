"""Sessionization, windows, joins, rules — unit tests on tiny frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from semstreams_spark.operators.joins import (
    resolve_aliases,
    tool_invocation_correlation,
    turn_with_prior,
)
from semstreams_spark.operators.sessions import sessionize
from semstreams_spark.operators.windows import entity_cooccurrence, node_degree_tumbling
from semstreams_spark.rules import Condition, Rule, evaluate_rules

T0 = dt.datetime(2025, 1, 1)


def _tr(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")


def test_sessionize_splits_on_gap(spark):
    rows = [
        ("c1", 0, "user", "a", None, T0),
        ("c1", 1, "assistant", "b", None, T0 + dt.timedelta(minutes=1)),
        ("c1", 2, "user", "c", None, T0 + dt.timedelta(minutes=90)),  # > 30min gap
        ("c2", 0, "user", "d", None, T0),
    ]
    s = sessionize(_tr(spark, rows)).collect()
    c1 = sorted([r for r in s if r["conv_id"] == "c1"], key=lambda r: r["session_start"])
    assert len(c1) == 2
    assert c1[0]["n_turns"] == 2 and c1[1]["n_turns"] == 1
    assert len([r for r in s if r["conv_id"] == "c2"]) == 1


def test_sessionize_out_of_order_input(spark):
    """Same sessions regardless of file order (stable event-time ordering)."""
    rows = [
        ("c1", 2, "user", "c", None, T0 + dt.timedelta(minutes=90)),
        ("c1", 0, "user", "a", None, T0),
        ("c1", 1, "assistant", "b", None, T0 + dt.timedelta(minutes=1)),
    ]
    s = sessionize(_tr(spark, rows)).collect()
    assert sorted(r["n_turns"] for r in s) == [1, 2]


def test_turn_with_prior(spark):
    rows = [
        ("c1", 0, "user", "q1", None, T0),
        ("c1", 1, "assistant", "a1", None, T0 + dt.timedelta(seconds=10)),
    ]
    out = {r["turn_idx"]: r for r in turn_with_prior(_tr(spark, rows)).collect()}
    assert out[0]["prev_text"] is None
    assert out[1]["prev_text"] == "q1" and out[1]["prev_role"] == "user"


def test_tool_correlation_attributes_requesting_turn(spark):
    rows = [
        ("c1", 0, "user", "calc this", None, T0),
        ("c1", 1, "assistant", "calling tool", None, T0 + dt.timedelta(seconds=5)),
        ("c1", 2, "tool", "result", "calc", T0 + dt.timedelta(seconds=8)),
        ("c1", 3, "tool", "result2", "search", T0 + dt.timedelta(seconds=9)),
    ]
    out = {r["turn_idx"]: r for r in tool_invocation_correlation(_tr(spark, rows)).collect()}
    assert out[2]["req_turn_idx"] == 1 and out[2]["req_role"] == "assistant"
    # chained tool turns still attribute to the last non-tool turn
    assert out[3]["req_turn_idx"] == 1


def test_resolve_aliases_passthrough(spark):
    df = spark.createDataFrame([("x",), ("aka1",)], "dst string")
    dim = spark.createDataFrame([("aka1", "canonical1")], "alias string, canonical string")
    out = {r["dst"]: r["dst_resolved"] for r in resolve_aliases(df, dim).collect()}
    assert out == {"x": "x", "aka1": "canonical1"}


def test_degree_tumbling_window_alignment(spark):
    edges = spark.createDataFrame(
        [
            ("e1", "t1", T0 + dt.timedelta(seconds=10)),
            ("e1", "t2", T0 + dt.timedelta(seconds=290)),
            ("e1", "t3", T0 + dt.timedelta(seconds=301)),  # next 5-min window
        ],
        "src string, dst string, ts timestamp",
    )
    out = node_degree_tumbling(edges).collect()
    assert sorted(r["out_degree"] for r in out) == [1, 2]
    assert all(r["window_start"].second == 0 and r["window_start"].minute % 5 == 0 for r in out)


def test_cooccurrence_pairs(spark):
    m = spark.createDataFrame(
        [
            ("c1", "a", T0),
            ("c1", "b", T0 + dt.timedelta(seconds=1)),
            ("c1", "a", T0 + dt.timedelta(seconds=2)),  # dup mention, same window
            ("c2", "a", T0),
        ],
        "conv_id string, entity string, ts timestamp",
    )
    out = entity_cooccurrence(m).collect()
    assert len(out) == 1
    assert out[0]["e1"] == "a" and out[0]["e2"] == "b" and out[0]["cooccur_count"] == 1


def _states(spark, rows):
    return spark.createDataFrame(rows, "subject string, predicate string, object string, ts timestamp")


def test_rules_numeric_coercion_and_ops(spark):
    st = _states(
        spark,
        [
            ("e1", "m.cpu", "95.5", T0),
            ("e2", "m.cpu", "12", T0),
            ("e3", "m.name", "alpha-node", T0),
        ],
    )
    rules = [
        Rule(id="hot", conditions=(Condition("m.cpu", "gt", "90"),)),
        Rule(id="named", conditions=(Condition("m.name", "starts_with", "alpha"),)),
    ]
    out = {(r["rule_id"], r["entity_id"]) for r in evaluate_rules(st, rules).collect()}
    assert out == {("hot", "e1"), ("named", "e3")}


def test_rules_and_or_logic(spark):
    st = _states(
        spark,
        [
            ("e1", "a", "1", T0),
            ("e1", "b", "1", T0 + dt.timedelta(seconds=5)),
            ("e2", "a", "1", T0),
        ],
    )
    both = Rule(id="and_rule", logic="and", conditions=(Condition("a", "eq", "1"), Condition("b", "eq", "1")))
    either = Rule(id="or_rule", logic="or", conditions=(Condition("a", "eq", "1"), Condition("b", "eq", "1")))
    # conditions are REQUIRED by default: e2 has no 'b' state at all, so
    # the OR rule errors out for it (evaluator.go:89-100 — a missing
    # required field fails the whole rule, not just its condition)
    # even though its 'a' branch matches; optional 'b' restores the fire
    loose = Rule(
        id="or_opt",
        logic="or",
        conditions=(Condition("a", "eq", "1"), Condition("b", "eq", "1", required=False)),
    )
    out = evaluate_rules(st, [both, either, loose]).collect()
    and_hits = {r["entity_id"] for r in out if r["rule_id"] == "and_rule"}
    or_hits = {r["entity_id"] for r in out if r["rule_id"] == "or_rule"}
    opt_hits = {r["entity_id"] for r in out if r["rule_id"] == "or_opt"}
    assert and_hits == {"e1"}
    assert or_hits == {"e1"}
    assert opt_hits == {"e1", "e2"}
    # AND event ts = max over contributing predicates
    and_ts = [r["ts"] for r in out if r["rule_id"] == "and_rule"][0]
    assert and_ts == T0 + dt.timedelta(seconds=5)


def test_rule_cooldown_greedy_from_last_fire(spark):
    """Exact reference semantics (rule_factory.go:24): a muted event does
    NOT push the mute window — t=0/30/60 with cooldown 60 fires {0, 60}."""
    from semstreams_spark.rules.engine import apply_cooldown

    events = spark.createDataFrame(
        [
            ("r1", "e1", T0),                               # fires
            ("r1", "e1", T0 + dt.timedelta(seconds=30)),    # muted (< 60s after fire at 0)
            ("r1", "e1", T0 + dt.timedelta(seconds=60)),    # fires (>= 60 after LAST FIRE)
            ("r1", "e1", T0 + dt.timedelta(seconds=90)),    # muted (< 60 after fire at 60)
            ("r1", "e2", T0 + dt.timedelta(seconds=31)),    # different entity: fires
            ("r2", "e1", T0 + dt.timedelta(seconds=32)),    # no-cooldown rule: fires
        ],
        "rule_id string, entity_id string, ts timestamp",
    )
    rules = [
        Rule(id="r1", conditions=(Condition("x", "eq", "1"),), cooldown_seconds=60),
        Rule(id="r2", conditions=(Condition("x", "eq", "1"),)),
    ]
    out = apply_cooldown(events, rules).collect()
    r1e1 = sorted(r["ts"] for r in out if r["rule_id"] == "r1" and r["entity_id"] == "e1")
    assert r1e1 == [T0, T0 + dt.timedelta(seconds=60)]
    assert len(out) == 4


def test_context_flags(spark):
    from semstreams_spark.rules.context_flags import context_flags_df

    edges = spark.createDataFrame(
        [("a", "b", "t"), ("b", "c", "t"), ("c", "d", "t"), ("x", "y", "t")],
        "src string, dst string, edge_type string",
    )
    states = _states(
        spark,
        [
            ("b", "m.status", "critical", T0),
            ("c", "m.cpu", "95", T0),
            ("d", "m.load", "high", T0),  # 3 hops from 'a': past the depth bound
            ("y", "m.status", "critical", T0),  # disconnected from 'a'
        ],
    )
    rules = [
        Rule(id="crit_nearby", conditions=(Condition("m.status", "eq", "critical"),)),
        Rule(id="hot_cpu", conditions=(Condition("m.cpu", "gt", "90"),)),
        Rule(id="far_load", conditions=(Condition("m.load", "eq", "high"),)),
        Rule(id="never", conditions=(Condition("m.cpu", "gt", "99"),)),
    ]
    flags = {r["rule_id"]: r["flag"] for r in context_flags_df(edges, states, "a", rules).collect()}
    assert flags == {"crit_nearby": True, "hot_cpu": True, "far_load": False, "never": False}


def test_salted_two_phase_agg(spark):
    """J7: salted partial agg + final agg equals direct per-conv agg."""
    from semstreams_spark.operators.joins import salt_conv_key

    rows = [("hot", i, "user", f"m{i}", None, T0 + dt.timedelta(seconds=i)) for i in range(100)]
    rows += [("cold", 0, "user", "x", None, T0)]
    df = _tr(spark, rows)
    direct = {r["conv_id"]: r["n"] for r in df.groupBy("conv_id").agg(F.count("*").alias("n")).collect()}
    salted = salt_conv_key(df)
    partial = salted.groupBy("conv_salt").agg(F.count("*").alias("n"))
    final = (
        partial.withColumn("conv_id", F.split("conv_salt", "#")[0])
        .groupBy("conv_id")
        .agg(F.sum("n").alias("n"))
    )
    got = {r["conv_id"]: r["n"] for r in final.collect()}
    assert got == direct
    assert partial.count() > 2  # hot conv actually split across salts


def test_subject_wildcard_matching(spark):
    """R3 (message_handler.go:114-133): NATS-style subject patterns."""
    from semstreams_spark.rules.engine import subject_pattern_filter

    df = spark.createDataFrame(
        [("process.robotics.arm",), ("process.robotics",), ("process.web.arm",), ("other",)],
        "subject string",
    )
    def hits(pattern):
        return {r["subject"] for r in df.filter(subject_pattern_filter(F.col("subject"), pattern)).collect()}

    assert hits(">") == {"process.robotics.arm", "process.robotics", "process.web.arm", "other"}
    assert hits("process.robotics.>") == {"process.robotics.arm"}
    assert hits("process.*.arm") == {"process.robotics.arm", "process.web.arm"}
    assert hits("process.robotics") == {"process.robotics"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        subject_pattern_filter(F.col("subject"), "a.>.b")


def test_rule_subject_pattern_scoping(spark):
    """R3 integrated: a rule with a subject_pattern only fires on matching
    entity ids (both the single-pass and the AND join paths)."""
    st = _states(
        spark,
        [
            ("conv.a.turn.1", "m.cpu", "95", T0),
            ("sys.b.node.1", "m.cpu", "95", T0),
            ("conv.a.turn.2", "m.cpu", "95", T0),
            ("conv.a.turn.2", "m.mem", "90", T0 + dt.timedelta(seconds=1)),
        ],
    )
    scoped = Rule(
        id="conv_hot",
        conditions=(Condition("m.cpu", "gt", "90"),),
        subject_pattern="conv.*.turn.>",
    )
    both = Rule(
        id="conv_hot_and",
        logic="and",
        subject_pattern="conv.>",
        conditions=(Condition("m.cpu", "gt", "90"), Condition("m.mem", "gt", "80")),
    )
    out = evaluate_rules(st, [scoped, both]).collect()
    hits = {(r["rule_id"], r["entity_id"]) for r in out}
    assert hits == {
        ("conv_hot", "conv.a.turn.1"),
        ("conv_hot", "conv.a.turn.2"),
        ("conv_hot_and", "conv.a.turn.2"),
    }

