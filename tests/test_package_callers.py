"""Caller ratchet: what ``semstreams_spark`` defines is used, or ``ALLOWED``
says why it stays.

- Every top-level function and class has a caller in non-test code.
- Every method of a top-level class (dunders aside) is used in non-test
  code outside its own body, a sibling's ``self.x`` included.
- Every defaulted parameter of a top-level function outside ``oracles.py``
  is set by some call of that name, by keyword or by position, in
  non-test code or in ``tests/``. A call that passes ``*args`` or
  ``**kwargs`` sets every parameter.

A name counts as used when it appears as an identifier (a ``Name`` or an
``Attribute``). Imports do not count: an import, a package ``__init__.py``
re-export included, keeps a name importable, not in use. Neither do
mentions in strings and docstrings. An ``ALLOWED`` entry that is now used
or set, or no longer exists, fails as well, so the list can only shrink."""

from __future__ import annotations

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "semstreams_spark"
# non-test code besides the root modules (registry, benches): the package,
# the jobs, the tools and the benchmark harness
CALLER_DIRS = (PACKAGE, "jobs", "tools", "perfbench")
# SQL texts of the correctness gate: their parameters are the oracle's
ORACLES = os.path.join(PACKAGE, "oracles.py")

_NORTH_STAR = "north-star streaming surface (BASELINE) that only tests start"

# qualified name of a definition (module.name), a method
# (module.Class.method) or a parameter (module.function.parameter) -> why
ALLOWED = {
    "semstreams_spark.streaming.joins.tool_request_interval_join": _NORTH_STAR,
    "semstreams_spark.operators.sessions.session_window_streaming": _NORTH_STAR,
    "semstreams_spark.streaming.pipeline.windowed_degree_stream": _NORTH_STAR,
    "semstreams_spark.streaming.pipeline.read_transcript_stream_from_table": _NORTH_STAR,
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _py_files(top, skip_tests):
    for d, dirs, files in os.walk(os.path.join(ROOT, top)):
        dirs[:] = sorted(
            x for x in dirs if not (skip_tests and x == "tests") and not x.startswith((".", "_"))
        )
        yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _caller_files():
    for top in CALLER_DIRS:
        yield from _py_files(top, skip_tests=True)
    yield from (os.path.join(ROOT, f) for f in sorted(os.listdir(ROOT)) if f.endswith(".py"))


def _parse(path):
    rel = os.path.relpath(path, ROOT)
    with open(path, encoding="utf-8") as f:
        return rel, ast.parse(f.read(), rel)


def _identifiers(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def scan():
    """(package definitions {qualified name: (file, name)}, methods
    {qualified name: (file, name, first line, last line)}, defaulted
    parameters {qualified name: (function, name, position or None)},
    identifier uses {name: {(file, enclosing top-level definition or None,
    line)}}, calls {name: [ast.Call]} in non-test code and ``tests/``)."""
    defs, methods, params = {}, {}, {}
    uses: dict[str, set[tuple[str, str | None, int]]] = defaultdict(set)
    calls: dict[str, list[ast.Call]] = defaultdict(list)
    for path in _caller_files():
        rel, tree = _parse(path)
        module = rel[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        in_package = module.split(".")[0] == PACKAGE
        for top in tree.body:
            owner = None
            if isinstance(top, (*_DEFS, ast.ClassDef)):
                owner = top.name
                if in_package:
                    defs[f"{module}.{top.name}"] = (rel, top.name)
            if in_package and isinstance(top, ast.ClassDef):
                for m in top.body:
                    if isinstance(m, _DEFS) and not (m.name.startswith("__") and m.name.endswith("__")):
                        methods[f"{module}.{top.name}.{m.name}"] = (rel, m.name, m.lineno, m.end_lineno)
            if in_package and isinstance(top, _DEFS) and rel != ORACLES:
                a = top.args
                positional = a.posonlyargs + a.args
                defaulted = [(p, i) for i, p in enumerate(positional) if i >= len(positional) - len(a.defaults)]
                defaulted += [(p, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                for p, i in defaulted:
                    params[f"{module}.{top.name}.{p.arg}"] = (top.name, p.arg, i)
            for name, line in _identifiers(top):
                uses[name].add((rel, owner, line))
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                calls[_callee(n)].append(n)
    for path in _py_files("tests", skip_tests=False):
        for n in ast.walk(_parse(path)[1]):
            if isinstance(n, ast.Call):
                calls[_callee(n)].append(n)
    return defs, methods, params, uses, calls


def _sets(call: ast.Call, name: str, position: int | None) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args) or any(k.arg is None for k in call.keywords):
        return True
    return any(k.arg == name for k in call.keywords) or (
        position is not None and len(call.args) > position
    )


def _in_use(defs, methods, params, uses, calls) -> set[str]:
    """The qualified names of definitions, methods and parameters that are used or set."""
    out = {q for q, (rel, name) in defs.items() if any((r, o) != (rel, name) for r, o, _ in uses[name])}
    out |= {
        q
        for q, (rel, name, first, last) in methods.items()
        if any(not (r == rel and first <= line <= last) for r, _, line in uses[name])
    }
    out |= {q for q, (fn, name, pos) in params.items() if any(_sets(c, name, pos) for c in calls[fn])}
    return out


def test_every_package_definition_has_a_caller():
    defs, methods, params, uses, calls = scan()
    unused = sorted(set(defs) - _in_use(defs, methods, params, uses, calls) - set(ALLOWED))
    assert not unused, (
        "no non-test caller (delete it, move a test reference into tests/, "
        f"or add it to ALLOWED with a reason): {unused}"
    )


def test_every_method_is_used():
    defs, methods, params, uses, calls = scan()
    unused = sorted(set(methods) - _in_use(defs, methods, params, uses, calls) - set(ALLOWED))
    assert not unused, (
        "method not used outside its own body in non-test code (delete it, "
        f"or add it to ALLOWED with a reason): {unused}"
    )


def test_every_defaulted_parameter_is_set():
    defs, methods, params, uses, calls = scan()
    unset = sorted(set(params) - _in_use(defs, methods, params, uses, calls) - set(ALLOWED))
    assert not unset, (
        "defaulted parameter that no call sets (make its default the only "
        f"value, or add it to ALLOWED with a reason): {unset}"
    )


def test_allow_list_has_no_stale_entry():
    defs, methods, params, uses, calls = scan()
    used = _in_use(defs, methods, params, uses, calls)
    known = set(defs) | set(methods) | set(params)
    stale = sorted(q for q in ALLOWED if q not in known or q in used)
    assert not stale, f"ALLOWED entries that are now used or set, or no longer exist: {stale}"
