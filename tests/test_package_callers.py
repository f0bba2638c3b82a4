"""Caller ratchet: every top-level function and class of ``semstreams_spark``
has a caller in non-test code, or an entry in ``ALLOWED`` that says why it
stays.

A name counts as called when it appears as an identifier (a ``Name`` or an
``Attribute``) in a non-test module, outside its own definition. Imports do
not count: an import, a package ``__init__.py`` re-export included, keeps a
name importable, not in use. Neither do mentions in strings and docstrings.
An ``ALLOWED`` entry whose name now has a caller, or no longer exists, fails
as well, so the list can only shrink."""

from __future__ import annotations

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "semstreams_spark"
# non-test code besides the root modules (registry, benches): the package,
# the jobs, the tools and the benchmark harness
CALLER_DIRS = (PACKAGE, "jobs", "tools", "perfbench")

_TEST_REFERENCE = "test reference: the formula a test compares the package against"
_NORTH_STAR = "north-star streaming surface (BASELINE) that only tests start"

ALLOWED = {
    "semstreams_spark.operators.similarity.banded_recall": (
        f"{_TEST_REFERENCE}: recall that lsh_band_params is checked against"
    ),
    "semstreams_spark.operators.mp4.mp4_codecs": (
        f"{_TEST_REFERENCE}: codec list beside mp4_duration_ms"
    ),
    "semstreams_spark.operators.textops.lang_id": (
        f"{_TEST_REFERENCE}: expression form lang_id_table is checked against"
    ),
    "semstreams_spark.operators.mutations.nodes_with_status": (
        f"{_TEST_REFERENCE}: composed form entity_status is checked against"
    ),
    "semstreams_spark.operators.mutations.edges_after_deletes": (
        f"{_TEST_REFERENCE}: composed form entity_status is checked against"
    ),
    "semstreams_spark.extract.triples.mention_triples": (
        f"{_TEST_REFERENCE}: SQL-text builder checked by name against tests/triples_reference.py"
    ),
    "semstreams_spark.streaming.joins.tool_request_interval_join": _NORTH_STAR,
    "semstreams_spark.operators.sessions.session_window_streaming": _NORTH_STAR,
    "semstreams_spark.streaming.pipeline.windowed_degree_stream": _NORTH_STAR,
    "semstreams_spark.streaming.pipeline.read_transcript_stream_from_table": _NORTH_STAR,
}


def _caller_files():
    for top in CALLER_DIRS:
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "tests" and not x.startswith((".", "_")))
            yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))
    yield from (os.path.join(ROOT, f) for f in sorted(os.listdir(ROOT)) if f.endswith(".py"))


def _identifiers(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr


def scan() -> tuple[dict[str, tuple[str, str]], dict[str, set[tuple[str, str | None]]]]:
    """(package definitions {qualified name: (file, name)}, identifier uses
    {name: {(file, enclosing top-level definition or None)}})."""
    defs: dict[str, tuple[str, str]] = {}
    uses: dict[str, set[tuple[str, str | None]]] = defaultdict(set)
    for path in _caller_files():
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), rel)
        module = rel[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        for top in tree.body:
            owner = None
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = top.name
                if module.split(".")[0] == PACKAGE:
                    defs[f"{module}.{top.name}"] = (rel, top.name)
            for name in _identifiers(top):
                uses[name].add((rel, owner))
    return defs, uses


def _called(defs, uses) -> set[str]:
    return {q for q, (rel, name) in defs.items() if uses[name] - {(rel, name)}}


def test_every_package_definition_has_a_caller():
    defs, uses = scan()
    unused = sorted(set(defs) - _called(defs, uses) - set(ALLOWED))
    assert not unused, (
        "no non-test caller (delete it, move a test reference into tests/, "
        f"or add it to ALLOWED with a reason): {unused}"
    )


def test_allow_list_has_no_stale_entry():
    defs, uses = scan()
    called = _called(defs, uses)
    stale = sorted(q for q in ALLOWED if q not in defs or q in called)
    assert not stale, f"ALLOWED entries that now have a caller or no longer exist: {stale}"
