"""Compile Rule objects to ANSI SQL — an independent second
implementation of the rule semantics (reference:
``processor/rule/expression/evaluator.go``): the DuckDB oracle that
``evaluate_rules`` is checked against row for row
(tests/test_rules_fuzz.py, where Hypothesis generates random rule
configs and random triple tables, and
tests/test_api_transforms.py::test_rule_sql_compiles_subject_pattern),
pinning the subtle coercion and required-field semantics beyond the
fixed gates.

Semantics contract (shared with ``rules/engine.py``, documented there):
- eq/ne compare numerically when BOTH sides cast to double, else as
  strings; lt/lte/gt/gte require both numeric (else false);
- contains / starts_with / ends_with are plain substring tests;
- a missing OPTIONAL field makes its condition false; a missing
  REQUIRED field makes the whole rule unable to fire for that entity,
  even under OR logic (evaluator.go:89-100 errors fail the rule);
- AND joins conditions per entity (event ts = max over contributing
  predicates), OR unions them (ts = max over matches).

The SQL is dialect-portable (Spark + DuckDB) except regex, where the
function name differs (``rlike`` vs ``regexp_matches``) — pass
``dialect``.
"""

from __future__ import annotations

from semstreams_spark.rules.engine import Condition, Rule, subject_pattern_regex


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _subject_pred(r: Rule, dialect: str) -> str:
    """R3 subject_pattern as a WHERE conjunct (r5 ADVICE fix: the
    compiler silently ignored it, over-matching vs the engine). Uses the
    SAME regex builder as engine.subject_pattern_filter so the two
    implementations cannot drift; '>' (match-all) compiles to nothing."""
    if not r.subject_pattern:
        return ""
    rx = subject_pattern_regex(r.subject_pattern)
    if rx is None:
        return ""
    if dialect == "duckdb":
        return f" AND regexp_matches(subject, {_q(rx)})"
    # Spark SQL string literals are escape-processed — double the
    # backslashes so the regex survives parsing
    return f" AND (subject RLIKE {_q(rx.replace(chr(92), chr(92) * 2))})"


def condition_sql(c: Condition, dialect: str = "duckdb", obj: str = "object") -> str:
    """One condition against the object column — mirrors
    ``engine._cond_expr`` in SQL."""
    lit = _q(c.value)
    no = f"TRY_CAST({obj} AS DOUBLE)"
    nv = f"TRY_CAST({lit} AS DOUBLE)"
    both = f"({no} IS NOT NULL AND {nv} IS NOT NULL)"
    if c.op == "eq":
        return f"(CASE WHEN {both} THEN {no} = {nv} ELSE {obj} = {lit} END)"
    if c.op == "ne":
        return f"(CASE WHEN {both} THEN {no} <> {nv} ELSE {obj} <> {lit} END)"
    if c.op in ("lt", "lte", "gt", "gte"):
        sym = {"lt": "<", "lte": "<=", "gt": ">", "gte": ">="}[c.op]
        return f"({both} AND {no} {sym} {nv})"
    if c.op == "contains":
        return f"contains({obj}, {lit})"
    if c.op == "starts_with":
        # left/substr instead of LIKE: the value needs no %_ escaping
        return f"(left({obj}, {len(c.value)}) = {lit})"
    if c.op == "ends_with":
        return f"(right({obj}, {len(c.value)}) = {lit})"
    if c.op == "regex":
        if dialect == "duckdb":
            return f"regexp_matches({obj}, {lit})"
        return f"({obj} RLIKE {lit})"
    raise ValueError(f"unknown rule op: {c.op}")


def rule_sql(r: Rule, table: str = "states", dialect: str = "duckdb") -> str:
    """SELECT rule_id, entity_id, ts for one rule over a flat
    (subject, predicate, object, ts) table — same join/union/guard
    shape as ``engine.evaluate_rules`` so multiplicity matches too."""

    pat = _subject_pred(r, dialect)

    def cond_select(c: Condition) -> str:
        return (
            f"SELECT subject AS entity_id, ts FROM {table} "
            f"WHERE predicate = {_q(c.field)} AND {condition_sql(c, dialect)}{pat}"
        )

    rid = _q(r.id)
    if len(r.conditions) == 1:
        return f"SELECT {rid} AS rule_id, entity_id, ts FROM ({cond_select(r.conditions[0])})"

    if r.logic == "and":
        # pairwise joins with nested greatest — the engine's exact shape
        frm = f"({cond_select(r.conditions[0])}) m0"
        ts_expr = "m0.ts"
        for i, c in enumerate(r.conditions[1:], start=1):
            frm += f" JOIN ({cond_select(c)}) m{i} ON m0.entity_id = m{i}.entity_id"
            ts_expr = f"greatest({ts_expr}, m{i}.ts)"
        return f"SELECT {rid} AS rule_id, m0.entity_id AS entity_id, {ts_expr} AS ts FROM {frm}"

    # or (the reference default)
    union = " UNION ALL ".join(f"({cond_select(c)})" for c in r.conditions)
    body = f"SELECT entity_id, max(ts) AS ts FROM ({union}) GROUP BY entity_id"
    req = sorted({c.field for c in r.conditions if c.required})
    if req:
        in_list = ", ".join(_q(f) for f in req)
        guard = (
            f"SELECT subject FROM {table} WHERE predicate IN ({in_list}){pat} "
            f"GROUP BY subject HAVING COUNT(DISTINCT predicate) = {len(req)}"
        )
        body = f"SELECT * FROM ({body}) WHERE entity_id IN ({guard})"
    return f"SELECT {rid} AS rule_id, entity_id, ts FROM ({body})"


def rules_sql(rules: list[Rule], table: str = "states", dialect: str = "duckdb") -> str:
    """UNION ALL over the rules — the full evaluate_rules equivalent."""
    parts = [rule_sql(r, table, dialect) for r in rules]
    if not parts:
        raise ValueError("no rules to evaluate")
    return " UNION ALL ".join(parts)
