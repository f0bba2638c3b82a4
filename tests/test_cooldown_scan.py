"""apply_cooldown's partition scan against a per-key pure-Python greedy
reference: several rules (one with cooldown 0, one without a definition),
ts ties broken by the payload column, ``last_fire`` seeds that are later
than some of their key's events, and Arrow batches of 2 rows so that every
key with more than two events spans a batch boundary."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from semstreams_spark.rules.engine import Condition, Rule, apply_cooldown

T0 = dt.datetime(2025, 1, 1)
COOLDOWN = {"r1": 30, "r2": 0, "r3": 45}  # r4 has no rule: passes through
RULES = [
    Rule(id=r, conditions=(Condition("f", "eq", "v"),), cooldown_seconds=s)
    for r, s in COOLDOWN.items()
]

event = st.tuples(
    st.sampled_from(["r1", "r2", "r3", "r4"]),
    st.sampled_from(["e1", "e2"]),
    st.integers(min_value=0, max_value=6).map(lambda k: 10 * k),  # coarse: many ts ties
)
seed = st.tuples(
    st.sampled_from(["r1", "r3", "r4"]),
    st.sampled_from(["e1", "e2"]),
    st.integers(min_value=-60, max_value=60),  # often later than some events
)


def greedy_reference(rows, seeds):
    """Per (rule, entity) in (ts, v) order: an event fires when its key has
    no last fire or it is at least the cooldown after it."""
    out = []
    for key in sorted({(r, e) for r, e, _, _ in rows}):
        sec = COOLDOWN.get(key[0], 0)
        last = seeds.get(key)
        for r, e, ts, v in sorted((x for x in rows if x[:2] == key), key=lambda x: (x[2], x[3])):
            if not sec or last is None or (ts - last).total_seconds() >= sec:
                out.append((r, e, ts, v))
                if sec:
                    last = ts
    return sorted(out)


@given(st.data())
@settings(max_examples=30, deadline=None)
def test_cooldown_scan_matches_greedy_reference(spark, data):
    evs = data.draw(st.lists(event, min_size=1, max_size=30))
    # v numbers the events, so among equal ts the lower v must win;
    # the rows reach Spark in a drawn order
    rows = [(r, e, T0 + dt.timedelta(seconds=s), v) for v, (r, e, s) in enumerate(evs)]
    rows = data.draw(st.permutations(rows))
    seeds = {
        (r, e): T0 + dt.timedelta(seconds=s)
        for r, e, s in data.draw(st.lists(seed, max_size=3, unique_by=lambda x: x[:2]))
    }
    df = spark.createDataFrame(rows, "rule_id string, entity_id string, ts timestamp_ntz, v int")
    last_fire = None
    if seeds:
        last_fire = spark.createDataFrame(
            [(r, e, t) for (r, e), t in seeds.items()],
            "rule_id string, entity_id string, last_fire timestamp_ntz",
        )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        got = sorted(map(tuple, apply_cooldown(df, RULES, last_fire=last_fire).collect()))
    finally:
        spark.conf.set(conf, old)
    assert got == greedy_reference(rows, seeds)
