"""Caller ratchet: what ``semstreams_spark`` defines is used, or ``ALLOWED``
says why it stays.

- Every top-level function and class has a caller in non-test code.
- Every method of a top-level class (dunders aside) is used in non-test
  code outside its own body, a sibling's ``self.x`` included.
- Every name a package module binds once at top level (``X = v``, dunders
  aside) is used in non-test code outside the statement that binds it.
- Every defaulted parameter takes at least two values across the calls
  in non-test code, by keyword or by position: of a top-level package
  function outside ``oracles.py`` or of a top-level function of
  ``__spark_entry__.py``, the calls of that name; of the ``__init__`` of a
  top-level package class, the calls of the class name. An option with
  one value in use is a constant. A call in ``tests/`` counts for
  nothing. An omitted argument is the default. An argument is a known
  value when it is a scalar literal, or a name bound once at module level
  to one in the calling file or imported from the one file that binds
  it. Any other argument, a dict or list literal included, and a call
  that passes ``*args`` or ``**kwargs`` count as setting the parameter.
- ``__spark_entry__.py`` is a registry: its top-level functions are
  ``entry``, ``queries``, ``oracle_sql``, the input readers, one gate
  fixture and the ``q_*`` wrappers, and ``queries()`` registers every
  ``q_*``.
- No code in the package, the jobs or the registry calls
  ``<x>.conf.set`` or ``<x>.conf.unset``: a query does not change
  session state.

A name counts as used when it appears as an identifier (a ``Name`` or an
``Attribute``). Imports do not count: an import, a package ``__init__.py``
re-export included, keeps a name importable, not in use. Neither do
mentions in strings and docstrings. Uses are matched by name, so two
top-level package definitions may not share one: a second definition
would count the first one's callers as its own. An ``ALLOWED`` entry that
is now used or set, or no longer exists, fails as well, so the list can
only shrink."""

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
ENTRY = "__spark_entry__.py"

# qualified name of a definition (module.name), a method
# (module.Class.method) or a parameter (module.function.parameter) -> why
ALLOWED: dict[str, str] = {}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _py_files(top):
    for d, dirs, files in os.walk(os.path.join(ROOT, top)):
        dirs[:] = sorted(x for x in dirs if x != "tests" and not x.startswith((".", "_")))
        yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _caller_files():
    for top in CALLER_DIRS:
        yield from _py_files(top)
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


_NOT_LITERAL = object()


def _literal(node):
    """The value of a literal expression, else ``_NOT_LITERAL``."""
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _NOT_LITERAL


_SCALARS = (int, float, str, bytes, bool, type(None))
_IMPORTED = object()


def _module_constants(tree) -> dict[str, object]:
    """Each name bound exactly once at module level (``X = v`` or ``A, B =
    v, w``) -> its literal value or ``_NOT_LITERAL``; each other name the
    file imports -> ``_IMPORTED``."""
    bound: dict[str, list[ast.expr]] = defaultdict(list)
    for top in tree.body:
        if isinstance(top, ast.Assign):
            targets, value = top.targets, top.value
        elif isinstance(top, ast.AnnAssign) and top.value is not None:
            targets, value = [top.target], top.value
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Tuple) and isinstance(value, ast.Tuple) and len(t.elts) == len(value.elts):
                pairs = zip(t.elts, value.elts)
            else:
                pairs = [(t, value)]
            for n, v in pairs:
                if isinstance(n, ast.Name):
                    bound[n.id].append(v)
    out = {a.asname or a.name: _IMPORTED for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names}
    out.update({k: _literal(v[0]) if len(v) == 1 else _NOT_LITERAL for k, v in bound.items()})
    return out


def _defaulted(fn, callee, skip_self=False):
    """(callee, name, position or None, default expression) of each
    defaulted parameter of ``fn``, positions counted as the caller passes
    them."""
    a = fn.args
    positional = (a.posonlyargs + a.args)[1 if skip_self else 0 :]
    first = len(positional) - len(a.defaults)
    for i, p in enumerate(positional):
        if i >= first:
            yield callee, p.arg, i, a.defaults[i - first]
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield callee, p.arg, None, d


def _bound_once(tree):
    """(name, statement) of each name bound exactly once by a top-level
    assignment, dunders aside."""
    bound = defaultdict(list)
    for top in tree.body:
        if isinstance(top, (ast.Assign, ast.AnnAssign)):
            targets = top.targets if isinstance(top, ast.Assign) else [top.target]
            for n in (n for t in targets for n in ast.walk(t)):
                if isinstance(n, ast.Name) and not (n.id.startswith("__") and n.id.endswith("__")):
                    bound[n.id].append(top)
    return [(name, tops[0]) for name, tops in bound.items() if len(tops) == 1]


def scan():
    """(package definitions {qualified name: (file, name)}, methods
    {qualified name: (file, name, first line, last line)}, defaulted
    parameters {qualified name: (callee, name, position or None, default
    as a call would pass it)}, identifier uses {name: {(file, enclosing
    top-level definition or None, line)}}, calls {name: [(file,
    ast.Call)]} in non-test code, module constants {file: {name:
    value}}, package module names bound once {qualified name: (file,
    name, first line, last line)} with the lines of their binding)."""
    defs, methods, params, consts, bound = {}, {}, {}, {}, {}
    uses: dict[str, set[tuple[str, str | None, int]]] = defaultdict(set)
    calls: dict[str, list[tuple[str, ast.Call]]] = defaultdict(list)
    for path in _caller_files():
        rel, tree = _parse(path)
        consts[rel] = _module_constants(tree)
        module = rel[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        in_package = module.split(".")[0] == PACKAGE
        if in_package:
            for name, top in _bound_once(tree):
                bound[f"{module}.{name}"] = (rel, name, top.lineno, top.end_lineno)
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
                    if isinstance(m, _DEFS) and m.name == "__init__":
                        for p in _defaulted(m, top.name, skip_self=True):
                            params[f"{module}.{top.name}.__init__.{p[1]}"] = (*p[:3], (rel, p[3]))
            if isinstance(top, _DEFS) and ((in_package and rel != ORACLES) or rel == ENTRY):
                for p in _defaulted(top, top.name):
                    params[f"{module}.{top.name}.{p[1]}"] = (*p[:3], (rel, p[3]))
            for name, line in _identifiers(top):
                uses[name].add((rel, owner, line))
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                calls[_callee(n)].append((rel, n))
    return defs, methods, params, uses, calls, consts, bound


def _value(rel: str, node: ast.expr, consts):
    """(type, value) of an argument that is a known scalar (a scalar
    literal, or a name the file binds once to one at module level or
    imports from the one file that does), else ``None``."""
    v = _literal(node)
    if v is _NOT_LITERAL and isinstance(node, ast.Name):
        v = consts[rel].get(node.id, _NOT_LITERAL)
        if v is _IMPORTED:
            bound = [c[node.id] for c in consts.values() if c.get(node.id, _IMPORTED) is not _IMPORTED]
            v = bound[0] if len(bound) == 1 else _NOT_LITERAL
    return (type(v), v) if isinstance(v, _SCALARS) else None


def _takes_values(calls, name: str, position: int | None, default, consts) -> bool:
    """The calls pass ``name`` at least two different values."""
    values = set()
    for rel, call in calls:
        if any(isinstance(a, ast.Starred) for a in call.args) or any(k.arg is None for k in call.keywords):
            return True
        args = [k.value for k in call.keywords if k.arg == name]
        if position is not None and len(call.args) > position:
            args.append(call.args[position])
        values |= {_value(rel, a, consts) for a in args} if args else {_value(*default, consts) or "default"}
    return None in values or len(values) > 1


def _in_use(defs, methods, params, uses, calls, consts, bound) -> set[str]:
    """The qualified names of definitions, methods, parameters and bound
    names that are used or set."""
    out = {q for q, (rel, name) in defs.items() if any((r, o) != (rel, name) for r, o, _ in uses[name])}
    out |= {
        q
        for q, (rel, name, first, last) in {**methods, **bound}.items()
        if any(not (r == rel and first <= line <= last) for r, _, line in uses[name])
    }
    out |= {
        q for q, (fn, name, pos, default) in params.items() if _takes_values(calls[fn], name, pos, default, consts)
    }
    return out


def test_every_package_definition_has_a_caller():
    defs, *_ = scanned = scan()
    by_name = defaultdict(list)
    for q, (_, name) in defs.items():
        by_name[name].append(q)
    shared = sorted(qs for qs in by_name.values() if len(qs) > 1)
    assert not shared, f"package definitions that share a name (keep one): {shared}"
    unused = sorted(set(defs) - _in_use(*scanned) - set(ALLOWED))
    assert not unused, (
        "no non-test caller (delete it, move a test reference into tests/, "
        f"or add it to ALLOWED with a reason): {unused}"
    )


def test_every_method_is_used():
    _, methods, *_ = scanned = scan()
    unused = sorted(set(methods) - _in_use(*scanned) - set(ALLOWED))
    assert not unused, (
        "method not used outside its own body in non-test code (delete it, "
        f"or add it to ALLOWED with a reason): {unused}"
    )


def test_every_module_name_is_used():
    *_, bound = scanned = scan()
    unused = sorted(set(bound) - _in_use(*scanned) - set(ALLOWED))
    assert not unused, (
        "module-level name not used outside its own binding in non-test code "
        f"(delete it, or add it to ALLOWED with a reason): {unused}"
    )


def test_every_defaulted_parameter_is_set():
    _, _, params, *_ = scanned = scan()
    unset = sorted(set(params) - _in_use(*scanned) - set(ALLOWED))
    assert not unset, (
        "defaulted parameter that no non-test call sets to another value "
        f"(make its default a constant, or add it to ALLOWED with a reason): {unset}"
    )


def test_allow_list_has_no_stale_entry():
    defs, methods, params, *_, bound = scanned = scan()
    used = _in_use(*scanned)
    known = set(defs) | set(methods) | set(params) | set(bound)
    stale = sorted(q for q in ALLOWED if q not in known or q in used)
    assert not stale, f"ALLOWED entries that are now used or set, or no longer exist: {stale}"


# the registry's own top-level functions besides its q_* wrappers: its
# three public functions, the input readers and the gate fixture that the
# embedding_neardup_lsh oracle's SQL text names
ENTRY_FUNCTIONS = {
    "entry", "queries", "oracle_sql",
    "_transcripts", "_aliases", "_tbl", "_query_vec",
    "planted_neardup_corpus",
}


def test_entry_is_a_registry():
    """``__spark_entry__.py`` computes nothing of its own: its top-level
    functions are ``ENTRY_FUNCTIONS`` and the ``q_*`` wrappers
    ``queries()`` registers, and every ``q_*`` is registered. A derive
    belongs in the package."""
    _, tree = _parse(os.path.join(ROOT, ENTRY))
    tops = {n.name for n in tree.body if isinstance(n, (*_DEFS, ast.ClassDef))}
    (queries,) = [n for n in tree.body if isinstance(n, _DEFS) and n.name == "queries"]
    (registry,) = [n.value for n in ast.walk(queries) if isinstance(n, ast.Return)]
    registered = {v.id for v in registry.values if isinstance(v, ast.Name)}
    extra = sorted(tops - ENTRY_FUNCTIONS - {q for q in tops if q.startswith("q_")})
    assert not extra, f"the registry defines more than wrappers (move it into the package): {extra}"
    unregistered = sorted(q for q in tops if q.startswith("q_") and q not in registered)
    assert not unregistered, f"q_* wrappers that queries() does not register: {unregistered}"


def test_no_session_conf_mutation():
    """A query must not change session state: no code in the package, the
    jobs or the registry calls ``<x>.conf.set`` or ``<x>.conf.unset``. A
    session is configured where it is built (``session.get_spark``); a
    shared session's settings belong to its owner."""
    found = []
    for path in [*_py_files(PACKAGE), *_py_files("jobs"), os.path.join(ROOT, ENTRY)]:
        rel, tree = _parse(path)
        for n in ast.walk(tree):
            f = n.func if isinstance(n, ast.Call) else None
            if (
                isinstance(f, ast.Attribute)
                and f.attr in ("set", "unset")
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
            ):
                found.append(f"{rel}:{n.lineno}")
    assert not found, f"session conf changed outside the session builder: {found}"
