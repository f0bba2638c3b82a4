"""Differential fuzz of the CEP rules evaluator (round-5 worklist #6).

Hypothesis generates random rule configs (ops × and/or × required/
optional × numeric-vs-string objects) and random flat triple tables;
Spark's ``evaluate_rules`` (rules/engine.py) and the independent SQL
compilation (tests/rules_sql_reference.py) run on DuckDB must agree
row-for-row. This pins the subtle semantics the fixed gates only
sample: numeric-iff-both-cast coercion (evaluator.go:294-323),
missing-required-field rule failure even under OR (evaluator.go:89-100),
AND join multiplicity, and OR max-ts aggregation.

Each Hypothesis example evaluates a BATCH of rules in one Spark pass
(evaluate_rules unions internally), so ≥100 rule configs cost ~10 Spark
jobs, not 100. Value pools deliberately include coercion-adversarial
strings ('01', ' 1', '1e0', '.5', '+1', 'NaN', 'inf') whose
try_cast behavior was verified identical across engines ('1_000' is
excluded: DuckDB accepts underscore separators, Spark does not).
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from semstreams_spark.rules.engine import Condition, Rule, evaluate_rules
from rules_sql_reference import rules_sql

FIELDS = ["f1", "f2", "f3", "f4"]
# object/value pool: numeric spellings that must coerce, near-numerics
# that must NOT, plain strings with shared prefixes/suffixes
VALUES = [
    "1", "1.0", "01", "+1", " 1", "1e0", ".5", "5.", "0.5", "-3", "10",
    "9.99", "abc", "", "a1", "1a", "abcdef", "abx", "xbc", "NaN", "inf",
]
OPS = ["eq", "ne", "lt", "lte", "gt", "gte", "contains", "starts_with", "ends_with", "regex"]
# regex ops draw from a fixed safe pool (valid + same meaning in Java
# and RE2 dialects); all other ops draw values from VALUES
REGEXES = ["^a", "c$", "[0-9]+", "^-?[0-9]+$", "^$", "a.c", "(1|a)"]

conditions = st.builds(
    lambda field, op, value, rx, required: Condition(
        field, op, rx if op == "regex" else value, required
    ),
    field=st.sampled_from(FIELDS),
    op=st.sampled_from(OPS),
    value=st.sampled_from(VALUES),
    rx=st.sampled_from(REGEXES),
    required=st.booleans(),
)

rules_strategy = st.lists(
    st.builds(
        lambda i, conds, logic: Rule(id=f"r{i}", conditions=tuple(conds), logic=logic),
        i=st.integers(min_value=0, max_value=10**6),
        conds=st.lists(conditions, min_size=1, max_size=3),
        logic=st.sampled_from(["and", "or"]),
    ),
    min_size=4,
    max_size=12,
    unique_by=lambda r: r.id,
)

# triple rows: (subject idx, field, value, ts-offset seconds) — small
# subject space forces collisions; missing (subject, field) pairs arise
# naturally and exercise the required-field guard
triples_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.sampled_from(FIELDS),
        st.sampled_from(VALUES),
        st.integers(min_value=0, max_value=9999),
    ),
    min_size=1,
    max_size=40,
)

T0 = dt.datetime(2025, 1, 1)


def _run_both(spark, rows, rules):
    pdf = pd.DataFrame(
        {
            "subject": [f"s{s}" for s, _, _, _ in rows],
            "predicate": [f for _, f, _, _ in rows],
            "object": [v for _, _, v, _ in rows],
            "ts": [T0 + dt.timedelta(seconds=off) for _, _, _, off in rows],
        }
    )
    sdf = spark.createDataFrame(pdf.astype({"ts": "datetime64[us]"}))
    got = {
        (r["rule_id"], r["entity_id"], r["ts"])
        for r in evaluate_rules(sdf, rules).collect()
    }
    con = duckdb.connect()
    con.register("states", pdf)
    want = set(map(tuple, con.execute(rules_sql(rules, "states", "duckdb")).fetchall()))
    con.close()
    return got, want


@given(rows=triples_strategy, rules=rules_strategy)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
def test_rules_differential_fuzz(spark, rows, rules):
    got, want = _run_both(spark, rows, rules)
    assert got == want


def test_rules_exhaustive_sweep(spark):
    """Deterministic companion to the fuzz: every (op × value ×
    required) single-condition rule plus an and/or × required grid of
    two-condition rules — >100 configs, ONE Spark pass, one DuckDB
    query — so the full operator surface is pinned every run, not just
    whatever Hypothesis samples."""
    rows = [
        (s, f, VALUES[(s * 7 + j * 3 + hash(f) % 5) % len(VALUES)], s * 100 + j)
        for s in range(6)
        for j, f in enumerate(FIELDS)
        if (s + j) % 4 != 0  # punch holes: some subjects miss some fields
    ]
    rules = []
    i = 0
    for op in OPS:
        pool = REGEXES if op == "regex" else VALUES
        for v in pool[:8]:
            rules.append(Rule(id=f"e{i}", conditions=(Condition("f1", op, v),)))
            i += 1
    for logic in ("and", "or"):
        for req1 in (True, False):
            for req2 in (True, False):
                for op2, v2 in (("gt", "1"), ("contains", "a"), ("eq", "1.0")):
                    rules.append(
                        Rule(
                            id=f"e{i}",
                            conditions=(
                                Condition("f2", "ne", "abc", required=req1),
                                Condition("f3", op2, v2, required=req2),
                            ),
                            logic=logic,
                        )
                    )
                    i += 1
    assert len(rules) > 100
    got, want = _run_both(spark, rows, rules)
    assert got == want


def test_required_field_blocks_or_rule(spark):
    """The exact evaluator.go:89-100 semantics: an OR rule with a
    REQUIRED condition on a missing field cannot fire for that entity
    even though its other branch matches; with required=False it fires."""
    rows = [(0, "f1", "abc", 0), (1, "f1", "abc", 0), (1, "f2", "zzz", 5)]
    mk = lambda req: [  # noqa: E731
        Rule(
            id="r",
            conditions=(
                Condition("f1", "eq", "abc"),
                Condition("f2", "eq", "nope", required=req),
            ),
            logic="or",
        )
    ]
    got_req, want_req = _run_both(spark, rows, mk(True))
    assert got_req == want_req == {("r", "s1", T0 + dt.timedelta(seconds=0))} | {
        ("r", "s1", T0)
    }  # s0 lacks f2 entirely → blocked; s1 has f2 → fires on the f1 branch
    got_opt, want_opt = _run_both(spark, rows, mk(False))
    assert got_opt == want_opt
    assert {e for _, e, _ in got_opt} == {"s0", "s1"}


if __name__ == "__main__":  # manual deep-fuzz entry point
    import sys

    pytest.main([__file__, "-q", *sys.argv[1:]])
