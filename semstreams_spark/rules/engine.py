"""CEP rule engine: JSON-style rule definitions compiled to Catalyst
Column expressions over the entity-state stream.

Mirrors the reference's rule processor semantics:
- rule definition shape (``processor/rule/rule_factory.go:16-33``):
  {id, name, enabled, conditions[], logic: and|or, cooldown}; a disabled
  rule is one the caller leaves out of the list
- operators ``eq ne lt lte gt gte contains starts_with ends_with regex``
  (``rule_factory.go:208-213``)
- AND/OR combine with **default OR** (``expression/evaluator.go:53-60``)
- missing optional field -> condition false; missing required field ->
  the rule cannot match (``evaluator.go:89-100``)
- numeric comparisons coerce both sides to double when both parse
  (``evaluator.go:294-323``) — reproduced with try_cast
- cooldown: suppress re-fires of (rule, entity) within the cooldown
  interval, greedy from the last fire — ``apply_cooldown``; the streaming
  rule stage seeds it with each key's last fire
  (streaming/rules_stage.py)

The engine evaluates rules against the *flat* entity-state table
(subject, predicate, object, ts) — one filter per condition on the
predicate name, joined per subject. For single-condition rules this is a
single Catalyst filter (no Python).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Condition:
    """One predicate test: field is the triple predicate to look up."""

    field: str
    op: str  # eq ne lt lte gt gte contains starts_with ends_with regex
    value: str
    required: bool = True


@dataclass(frozen=True)
class Rule:
    id: str
    conditions: tuple[Condition, ...]
    logic: str = "or"  # reference default is OR (evaluator.go:53-60)
    cooldown_seconds: int = 0
    # R3: NATS-style subject subscription pattern — the rule only sees
    # entities whose id matches (message_handler.go:114-133); None = all
    subject_pattern: str | None = None


def _cond_expr(c: Condition, obj: Column) -> Column:
    """Compile one condition against the object column; numeric coercion
    via try_cast matches the reference's float64 coercion."""
    v = F.lit(c.value)
    # try_cast: ANSI mode (Spark 4 default) makes plain cast raise on
    # non-numeric strings; the reference coerces silently (evaluator.go:294)
    num_obj = obj.try_cast("double")
    num_val = F.lit(c.value).try_cast("double")
    both_num = num_obj.isNotNull() & num_val.isNotNull()
    if c.op == "eq":
        return F.when(both_num, num_obj == num_val).otherwise(obj == v)
    if c.op == "ne":
        return F.when(both_num, num_obj != num_val).otherwise(obj != v)
    if c.op in ("lt", "lte", "gt", "gte"):
        cmp = {
            "lt": num_obj < num_val,
            "lte": num_obj <= num_val,
            "gt": num_obj > num_val,
            "gte": num_obj >= num_val,
        }[c.op]
        return both_num & cmp
    if c.op == "contains":
        return obj.contains(v)
    if c.op == "starts_with":
        return obj.startswith(v)
    if c.op == "ends_with":
        return obj.endswith(v)
    if c.op == "regex":
        return obj.rlike(c.value)
    raise ValueError(f"unknown rule op: {c.op}")


def evaluate_rules(entity_states: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate rules over the flat state table
    (subject, predicate, object, ts).

    Returns (rule_id, entity_id, ts) — one event per (rule, entity) whose
    state matches, timestamped with the matched predicate's latest ts (for
    multi-condition rules: the max ts over contributing predicates).

    Each single-condition rule is one filter+select (pure Catalyst, the
    stream of rules unions at the end — Spark executes them as one scan of
    the cached/exchanged input in practice).
    """
    simple = [r for r in rules if len(r.conditions) == 1]
    complex_ = [r for r in rules if len(r.conditions) > 1]

    outs: list[DataFrame] = []
    if simple:
        # ALL single-condition rules in ONE scan: per row, build the array
        # of fired rule ids and explode — N rules cost one pass over the
        # state table instead of N (the reference also evaluates all rules
        # per message in one loop, rule/message_handler.go:47-111)
        def _guard(r: Rule) -> Column:
            c = (F.col("predicate") == r.conditions[0].field) & _cond_expr(
                r.conditions[0], F.col("object")
            )
            if r.subject_pattern:
                c = c & subject_pattern_filter(F.col("subject"), r.subject_pattern)
            return c

        fired = F.array(*[F.when(_guard(r), F.lit(r.id)) for r in simple])
        outs.append(
            entity_states.select(
                F.col("subject").alias("entity_id"),
                F.col("ts"),
                F.explode(F.filter(fired, lambda x: x.isNotNull())).alias("rule_id"),
            ).select("rule_id", "entity_id", "ts")
        )

    for r in complex_:
        scoped = entity_states
        if r.subject_pattern:
            scoped = scoped.filter(
                subject_pattern_filter(F.col("subject"), r.subject_pattern)
            )
        per_cond = []
        for c in r.conditions:
            m = scoped.filter(
                (F.col("predicate") == c.field) & _cond_expr(c, F.col("object"))
            ).select(F.col("subject").alias("entity_id"), F.col("ts"))
            per_cond.append(m)
        if r.logic == "and":
            matched = per_cond[0]
            for nxt in per_cond[1:]:
                matched = (
                    matched.alias("l")
                    .join(nxt.alias("r"), F.col("l.entity_id") == F.col("r.entity_id"))
                    .select(
                        F.col("l.entity_id").alias("entity_id"),
                        F.greatest(F.col("l.ts"), F.col("r.ts")).alias("ts"),
                    )
                )
        else:  # or (default)
            matched = per_cond[0]
            for nxt in per_cond[1:]:
                matched = matched.unionByName(nxt)
            matched = matched.groupBy("entity_id").agg(F.max("ts").alias("ts"))
            # required-field semantics (evaluator.go:89-100 + the rule
            # loop at :40-48): a missing REQUIRED field errors the whole
            # rule — it cannot fire for that entity even when another OR
            # branch matches. (Under AND logic the outcome is identical
            # without a guard: the condition on the missing field is
            # false, so the conjunction already fails.)
            req_fields = sorted({c.field for c in r.conditions if c.required})
            if req_fields:
                present = (
                    scoped.filter(F.col("predicate").isin(req_fields))
                    .groupBy("subject")
                    .agg(F.count_distinct("predicate").alias("_nreq"))
                    .filter(F.col("_nreq") == len(req_fields))
                    .select(F.col("subject").alias("entity_id"))
                )
                matched = matched.join(present, "entity_id", "semi")
        outs.append(matched.select(F.lit(r.id).alias("rule_id"), "entity_id", "ts"))
    if not outs:
        raise ValueError("no rules to evaluate")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def apply_cooldown(
    events: DataFrame, rules: list[Rule], last_fire: DataFrame | None = None
) -> DataFrame:
    """R6 cooldown, exact greedy-from-last-fire (``rule_factory.go:24``):
    the first event per (rule_id, entity_id) fires; a later event fires
    iff it is ≥ cooldown after the last FIRED event. Events inside the
    mute window are dropped and do NOT push the mute forward — events at
    t=0/1800/3600 with cooldown 3600 fire {0, 3600}.

    ``last_fire`` (optional, columns rule_id/entity_id/last_fire) seeds
    the scan with each key's last fired timestamp from an earlier prefix
    of the stream — the incremental form used by the streaming rule stage
    (streaming/rules_stage.py), where the seed is derived from the
    committed rule-events table itself. Incremental == global greedy when
    successive calls cover event-time-ordered slices per key.

    A greedy scan is inherently sequential per key, so the events are
    hashed on the key (one exchange), sorted within each partition by key,
    then ts, then the remaining columns as deterministic tie-breakers, and
    one ``mapInPandas`` scan walks each partition. The scan carries the
    current key, its cooldown and its last fire across the partition's
    Arrow batches, so a key split over batches scans as one; there is no
    per-key Python call.
    """
    import numpy as np

    cd = {r.id: r.cooldown_seconds for r in rules}
    if not any(cd.values()):
        return events
    cols = events.columns
    if last_fire is not None:
        seed = last_fire.select(
            "rule_id", "entity_id", F.col("last_fire").alias("_last_fire")
        )
        ev = events.join(F.broadcast(seed), ["rule_id", "entity_id"], "left")
    else:
        ev = events.withColumn("_last_fire", F.lit(None).cast("timestamp_ntz"))
    keys = ["rule_id", "entity_id"]
    # nulls sort last in every column, ts included
    order = [F.asc_nulls_last(c) for c in keys + ["ts"] + [c for c in cols if c not in keys + ["ts"]]]

    def scan(batches):
        key, mute, last = None, None, None
        for pdf in batches:
            rid = pdf["rule_id"].to_numpy()
            eid = pdf["entity_id"].to_numpy()
            ts = pdf["ts"].to_numpy()
            lf = pdf["_last_fire"].to_numpy()
            keep = np.ones(len(pdf), dtype=bool)
            for i in range(len(pdf)):
                if key is None or rid[i] != key[0] or eid[i] != key[1]:
                    key = (rid[i], eid[i])
                    sec = cd.get(rid[i], 0)
                    mute = np.timedelta64(int(sec * 1_000_000), "us") if sec else None
                    last = None if np.isnat(lf[i]) else lf[i]
                if mute is None:
                    continue
                if last is None or ts[i] - last >= mute:
                    last = ts[i]
                else:
                    keep[i] = False
            yield pdf[keep][cols]

    return (
        ev.repartition(*keys)
        .sortWithinPartitions(*order)
        .mapInPandas(scan, events.schema)
    )


def subject_pattern_regex(pattern: str) -> str | None:
    """Anchored regex for a NATS-style subject pattern; None for ``>``
    (match-all). Shared by the Column filter below and the SQL compiler
    the tests check it against (tests/rules_sql_reference.py), so the two
    engines cannot drift."""
    if pattern == ">":
        return None
    parts = pattern.split(".")
    rx_parts: list[str] = []
    for i, p in enumerate(parts):
        if p == ">":
            if i != len(parts) - 1:
                raise ValueError(f"'>' must be the final token: {pattern!r}")
            rx_parts.append(r"[^.]+(\.[^.]+)*")
        elif p == "*":
            rx_parts.append(r"[^.]+")
        else:
            rx_parts.append(re.escape(p))
    return "^" + r"\.".join(rx_parts) + "$"


def subject_pattern_filter(col: Column, pattern: str) -> Column:
    """R3 subject wildcard matching (``processor/rule/message_handler.go:
    114-133``): NATS-style patterns over dot-separated subjects — ``>``
    alone matches everything, a trailing ``.>`` matches one-or-more
    further tokens, ``*`` matches exactly one token, anything else is an
    exact match. (The reference implements the exact/``>``-forms and
    notes "in production, use proper NATS subject matching" — this is
    that proper form.) Compiled to ONE anchored rlike — pure codegen.
    """
    rx = subject_pattern_regex(pattern)
    if rx is None:
        return F.lit(True)
    return col.rlike(rx)


# Keep in sync with oracles.sql_rule_events
DEFAULT_RULES: list[Rule] = [
    Rule(id="tool_calc_used", conditions=(Condition("conv.turn.tool", "eq", "calc"),)),
    Rule(id="invoke_in_text", conditions=(Condition("conv.turn.text", "contains", "invoke"),)),
    Rule(
        id="assistant_regex",
        conditions=(Condition("conv.turn.role", "regex", "^(assistant|system)$"),),
    ),
]
