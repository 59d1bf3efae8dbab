"""One value, no option: every defaulted parameter of a package function
is set by some caller. A parameter that every caller leaves at its
default is a constant with extra steps — it doubles the configurations
that tests and benchmarks must cover while only one is ever run — so
the scan below fails as soon as one appears.

*Package function*: a module-level function or a method of a
module-level class anywhere in the package — the engine, the DuckDB
oracle generators (names ending ``_sql`` or ``_oracle``) and
``testing.py`` alike. An oracle generator reads the engine's named
constants for the values no caller varies, so the engine plan and its
reference never carry two copies of one query parameter.

*Set*: some call in the package, ``tests/``, ``scripts/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py`` whose callee name
matches passes the parameter by keyword, by position or through
``**``. A call through a loop variable bound to a literal tuple of
functions (``for name, fn in (("a", mod.a), ...)``) is a call of each
of them. A starred argument counts as one positional. A call that only
forwards a still-unset parameter of the function it sits in does not
count; the scan iterates to a fixed point."""

from __future__ import annotations

import ast
import pathlib
from collections import defaultdict

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "end_to_end_sales_etl_de_project_spark"
CALLER_ROOTS = (PKG, "tests", "scripts", "perfbench", "bench.py", "__spark_entry__.py")


def _py_files(root: str) -> list[pathlib.Path]:
    p = REPO / root
    return [p] if p.is_file() else sorted(p.rglob("*.py"))


def _package_functions() -> dict[tuple[str, str, str], ast.FunctionDef]:
    """(module path, class or '', name) -> def."""
    out = {}
    for path in _py_files(PKG):
        rel = path.relative_to(REPO).as_posix()
        for node in ast.parse(path.read_text()).body:
            members = [("", node)]
            if isinstance(node, ast.ClassDef):
                members = [(node.name, m) for m in node.body]
            for cls, fn in members:
                if isinstance(fn, ast.FunctionDef):
                    out[(rel, cls, fn.name)] = fn
    return out


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    names = [p.arg for p in pos[len(pos) - len(a.defaults) :]]
    return names + [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _positional(fn: ast.FunctionDef, is_method: bool) -> list[str]:
    names = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    static = any(
        isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list
    )
    return names[1:] if is_method and not static else names


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _loop_aliases(fn: ast.AST) -> dict[str, set[str]]:
    alias: dict[str, set[str]] = defaultdict(set)
    for node in ast.walk(fn):
        if not (isinstance(node, ast.For) and isinstance(node.iter, (ast.Tuple, ast.List))):
            continue
        for elt in node.iter.elts:
            pairs = [(node.target, elt)]
            if isinstance(node.target, ast.Tuple) and isinstance(elt, ast.Tuple):
                pairs = list(zip(node.target.elts, elt.elts))
            for tgt, val in pairs:
                ref = val.id if isinstance(val, ast.Name) else getattr(val, "attr", None)
                if isinstance(tgt, ast.Name) and ref:
                    alias[tgt.id].add(ref)
    return alias


def _calls() -> list[tuple[str, ast.Call, list[tuple[str, str, set[str]]]]]:
    """(callee name, call, enclosing functions as (path, name, params))."""
    out = []
    for root in CALLER_ROOTS:
        for path in _py_files(root):
            rel = path.relative_to(REPO).as_posix()

            def visit(node, stack, alias):
                if isinstance(node, ast.FunctionDef):
                    alias = {**alias, **_loop_aliases(node)}
                if isinstance(node, (ast.FunctionDef, ast.Lambda)):
                    a = node.args
                    params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
                    stack = stack + [(rel, getattr(node, "name", ""), params)]
                if isinstance(node, ast.Call) and _callee(node):
                    name = _callee(node)
                    aliased = isinstance(node.func, ast.Name) and name in alias
                    for n in alias[name] if aliased else {name}:
                        out.append((n, node, stack))
                for child in ast.iter_child_nodes(node):
                    visit(child, stack, alias)

            visit(ast.parse(path.read_text()), [], {})
    return out


def unset_parameters() -> set[tuple[str, str, str, str]]:
    """(module path, class or '', function, parameter) for every
    defaulted package parameter that no caller sets."""
    fns = _package_functions()
    by_name = defaultdict(list)
    for key in fns:
        by_name[key[2]].append(key)
    calls = _calls()
    unset = {(*key, p) for key, fn in fns.items() for p in _defaulted(fn)}

    def forwards_unset(value: ast.expr, stack) -> bool:
        if not isinstance(value, ast.Name):
            return False
        for rel, fname, params in reversed(stack):
            if value.id in params:
                return any(
                    (k[0], k[1], k[2], value.id) in unset
                    for k in by_name.get(fname, ())
                    if k[0] == rel
                )
        return False

    while True:
        still = set(unset)
        for name, call, stack in calls:
            double_star = any(kw.arg is None for kw in call.keywords)
            for key in by_name.get(name, ()):
                fn = fns[key]
                pos = _positional(fn, bool(key[1]))
                for p in _defaulted(fn):
                    value = next((kw.value for kw in call.keywords if kw.arg == p), None)
                    if value is None and p in pos and pos.index(p) < len(call.args):
                        value = call.args[pos.index(p)]
                    if double_star or (value is not None and not forwards_unset(value, stack)):
                        still.discard((*key, p))
        if still == unset:
            return unset
        unset = still


def test_every_engine_parameter_is_set_by_a_caller():
    unset = sorted(f"{m}:{c + '.' if c else ''}{f}({p})" for m, c, f, p in unset_parameters())
    assert not unset, (
        f"{len(unset)} package parameters are never set by any caller — make "
        "each a constant in its function body: " + ", ".join(unset)
    )
