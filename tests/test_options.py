"""One value, no option: every parameter of a package function is one
that its callers vary. A parameter whose callers all pass one constant
— or leave it at its default — is a constant with extra steps: it
doubles the configurations that tests and benchmarks must cover while
only one is ever run. Such a value is a constant read by name in the
function body (``DIM``, ``SIG_BITS``, ``TOP_K``, …), so the scan below
fails as soon as one appears.

*Package function*: a module-level function or a method of a
module-level class anywhere in the package — the engine, the DuckDB
oracle generators (names ending ``_sql`` or ``_oracle``) and
``testing.py`` alike.

*Callers*: every call in the package, ``tests/``, ``scripts/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py`` whose callee name
matches, ``Cls(...)`` standing for ``Cls.__init__``. A call through a
loop variable bound to a literal tuple of functions (``for name, fn in
(("a", mod.a), ...)``) is a call of each of them. A call contributes
one value per parameter:

- the argument passed by keyword or by position;
- the default, when it omits a defaulted parameter;
- the values of a parameter of the enclosing package function that it
  forwards unchanged (iterated to a fixed point);
- *varying*, for any other expression, and for every parameter that a
  ``*`` or ``**`` argument may fill.

A *constant* is a literal, or an UPPER_CASE name or attribute (optional
``_`` prefix); a name bound to one literal in the package stands for
that literal. A parameter is an option when its values hold two
different constants or one varying value.

*Exempt* are the functions whose callers the scan cannot see: decorated
functions (the registered queries, whose ``(spark, sf_dir)`` is the
driver contract), functions referenced as a value (pool targets, UDF
closures), dunder methods other than ``__init__``, and names defined
more than once in the package. Their unseen callers count as passing a
varying value to each required parameter; a defaulted parameter still
needs a visible caller to vary it.

This is a stronger check than "some caller sets every defaulted
parameter": a parameter that no caller sets holds only its default, so
it is flagged here too."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import defaultdict

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "end_to_end_sales_etl_de_project_spark"
CALLER_ROOTS = (PKG, "tests", "scripts", "perfbench", "bench.py", "__spark_entry__.py")
VARYING = "<varying>"
_CONSTANT_NAME = re.compile(r"_?[A-Z][A-Z0-9_]*$")


def _py_files(root: str) -> list[pathlib.Path]:
    p = REPO / root
    return [p] if p.is_file() else sorted(p.rglob("*.py"))


def _parsed(root: str) -> list[tuple[str, ast.Module]]:
    return [(p.relative_to(REPO).as_posix(), ast.parse(p.read_text())) for p in _py_files(root)]


def _package_functions(modules) -> dict[tuple[str, str, str], ast.FunctionDef]:
    """(module path, class or '', name) -> def."""
    out = {}
    for rel, tree in modules:
        for node in tree.body:
            members = [("", node)]
            if isinstance(node, ast.ClassDef):
                members = [(node.name, m) for m in node.body]
            for cls, fn in members:
                if isinstance(fn, ast.FunctionDef):
                    out[(rel, cls, fn.name)] = fn
    return out


def _literals(modules) -> dict[str, str]:
    """UPPER_CASE name -> repr of the one literal every binding gives it."""
    seen = defaultdict(set)
    for _, tree in modules:
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Name) and _CONSTANT_NAME.match(t.id):
                        try:
                            seen[t.id].add(repr(ast.literal_eval(node.value)))
                        except ValueError:
                            seen[t.id].add(None)
    return {k: next(iter(v)) for k, v in seen.items() if len(v) == 1 and None not in v}


def _params(fn: ast.FunctionDef, is_method: bool) -> tuple[list[str], dict[str, ast.expr]]:
    """(positional names, name -> default) without self/cls or *args/**kw."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(pos[len(pos) - len(a.defaults) :], a.defaults))
    defaults.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list)
    if is_method and not static:
        pos = pos[1:]
    return pos, defaults


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _loop_aliases(fn: ast.AST) -> tuple[dict[str, set[str]], set[int]]:
    """Loop variable -> function names, and the ids of the aliased refs."""
    alias: dict[str, set[str]] = defaultdict(set)
    refs: set[int] = set()
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
                    refs.add(id(val))
    return alias, refs


def _assigned(fn: ast.AST) -> set[str]:
    return {
        n.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Name) and isinstance(n.ctx, (ast.Store, ast.Del))
    }


def _scan(modules):
    """Calls as (callee, call, enclosing function scopes) and the names
    referenced as values. A scope is (module path, class, name, params,
    names it rebinds); nested functions and lambdas have class None."""
    calls, value_refs = [], set()
    for rel, tree in modules:
        func_ids = set()

        def visit(node, stack, alias, aliased_refs, cls):
            if isinstance(node, ast.ClassDef) and not stack:
                cls = node.name
            if isinstance(node, ast.FunctionDef):
                more, refs = _loop_aliases(node)
                alias, aliased_refs = {**alias, **more}, aliased_refs | refs
            if isinstance(node, (ast.FunctionDef, ast.Lambda)):
                a = node.args
                params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
                owner = cls if isinstance(node, ast.FunctionDef) and not stack else None
                stack = stack + [(rel, owner, getattr(node, "name", ""), params, _assigned(node))]
            if isinstance(node, ast.Call) and _callee(node):
                func_ids.add(id(node.func))
                name = _callee(node)
                aliased = isinstance(node.func, ast.Name) and name in alias
                for n in alias[name] if aliased else {name}:
                    calls.append((n, node, stack))
            if (
                isinstance(node, (ast.Name, ast.Attribute))
                and isinstance(node.ctx, ast.Load)
                and id(node) not in func_ids
                and id(node) not in aliased_refs
            ):
                value_refs.add(node.id if isinstance(node, ast.Name) else node.attr)
            for child in ast.iter_child_nodes(node):
                visit(child, stack, alias, aliased_refs, cls)

        visit(tree, [], {}, set(), "")
    return calls, value_refs


def hidden_options() -> dict[tuple[str, str, str, str], set[str]]:
    """(module path, class or '', function, parameter) -> the one value
    (or none) that its callers give it, for every package parameter
    that no caller varies."""
    pkg = _parsed(PKG)
    callers = [m for root in CALLER_ROOTS for m in (pkg if root == PKG else _parsed(root))]
    fns = _package_functions(pkg)
    literals = _literals(pkg)
    calls, value_refs = _scan(callers)
    by_name = defaultdict(list)
    for key in fns:
        by_name[key[2]].append(key)
    for key in fns:
        if key[2] == "__init__":
            by_name[key[1]].append(key)
    exempt = {
        key
        for key, fn in fns.items()
        if fn.decorator_list
        and not all(isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list)
        or key[2] in value_refs
        or len(by_name[key[2]]) > 1
        or (key[2].startswith("__") and key[2] != "__init__")
    }
    signature = {key: _params(fn, bool(key[1])) for key, fn in fns.items()}

    def constant(value: ast.expr) -> str | None:
        try:
            return repr(ast.literal_eval(value))
        except ValueError:
            pass
        name = value.id if isinstance(value, ast.Name) else getattr(value, "attr", None)
        if isinstance(value, (ast.Name, ast.Attribute)) and _CONSTANT_NAME.match(name):
            return literals.get(name, name)
        return None

    # Each parameter's values: constants, VARYING, or ("fwd", key, param)
    # references resolved below.
    values: dict[tuple, set] = defaultdict(set)
    for key in exempt:
        pos, defaults = signature[key]
        required = pos + [p.arg for p in fns[key].args.kwonlyargs]
        for p in required:
            if p not in defaults:
                values[(*key, p)].add(VARYING)

    def value_of(expr: ast.expr, stack):
        c = constant(expr)
        if c is not None:
            return c
        if isinstance(expr, ast.Name):
            for rel, cls, fname, params, rebound in reversed(stack):
                if expr.id in params:
                    key = (rel, cls, fname)
                    if cls is not None and key in fns and expr.id not in rebound:
                        return ("fwd", key, expr.id)
                    return VARYING
        return VARYING

    for name, call, stack in calls:
        star_from = next(
            (i for i, a in enumerate(call.args) if isinstance(a, ast.Starred)), None
        )
        double_star = any(kw.arg is None for kw in call.keywords)
        for key in by_name.get(name, ()):
            pos, defaults = signature[key]
            keyword = {kw.arg: kw.value for kw in call.keywords if kw.arg}
            for p in pos + [a.arg for a in fns[key].args.kwonlyargs]:
                i = pos.index(p) if p in pos else None
                if p in keyword:
                    v = value_of(keyword[p], stack)
                elif i is not None and star_from is not None and i >= star_from:
                    v = VARYING
                elif i is not None and i < len(call.args):
                    v = value_of(call.args[i], stack)
                else:
                    v = None
                if v is None:
                    v = VARYING if double_star else constant(defaults[p]) if p in defaults else None
                    if v is None and p in defaults:
                        v = ast.unparse(defaults[p])
                if v is not None:
                    values[(*key, p)].add(v)

    resolved = {k: {v for v in vs if not isinstance(v, tuple)} for k, vs in values.items()}
    while True:
        changed = False
        for k, vs in values.items():
            for v in vs:
                if isinstance(v, tuple):
                    new = resolved.get((*v[1], v[2]), set()) - resolved[k]
                    if new:
                        resolved[k] |= new
                        changed = True
        if not changed:
            break

    hidden = {}
    for key, fn in fns.items():
        pos, _ = signature[key]
        for p in pos + [a.arg for a in fn.args.kwonlyargs]:
            vs = resolved.get((*key, p), set())
            if VARYING not in vs and len(vs) < 2:
                hidden[(*key, p)] = vs
    return hidden


def test_every_package_parameter_is_varied_by_its_callers():
    hidden = sorted(
        f"{m}:{c + '.' if c else ''}{f}({p}={'/'.join(sorted(v)) or 'never called'})"
        for (m, c, f, p), v in hidden_options().items()
    )
    assert not hidden, (
        f"{len(hidden)} package parameters get one value from every caller — "
        "make each a constant in its function body: " + ", ".join(hidden)
    )
