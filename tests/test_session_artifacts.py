"""One mechanism per concern, pinned structurally: every checkpoint in
the package is taken by ``checkpoints.eager_checkpoint``, the only
cross-call memo is the session-artifact memo in ``sources/tables.py``
(``session_artifact``), and the artifacts are built only by the
``plans/documents.py`` builders — operators read the artifacts they are
handed and never rebuild them. Every ANN top-k path ranks its
candidates through the one exact kernel, ``similarity._top_k_exact``.
A new hand-rolled memo dict, a direct ``localCheckpoint`` call, an
operator fallback that rebuilds an artifact or a second copy of the
cosine ranking fails here instead of drifting in."""

from __future__ import annotations

import ast
import pathlib
import re

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "end_to_end_sales_etl_de_project_spark"
)


def _modules() -> list[pathlib.Path]:
    return sorted(PKG.rglob("*.py"))


def test_local_checkpoint_only_in_checkpoints_module():
    offenders = [
        f"{p.relative_to(PKG).as_posix()}:{i}"
        for p in _modules()
        if p.name != "checkpoints.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\.localCheckpoint\(", line)
    ]
    assert not offenders, offenders


def test_module_level_dicts_are_the_allowed_three():
    """Private module-level names bound to an empty dict: the artifact
    memo, the assembled query registry and the checkpoint scopes. (The
    public ``*_QUERIES``/``*_ORACLES`` dicts are the registration API.)"""
    found = set()
    for p in _modules():
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            if not (isinstance(node.value, ast.Dict) and not node.value.keys):
                continue
            for t in targets:
                if isinstance(t, ast.Name) and t.id.startswith("_"):
                    found.add(f"{p.relative_to(PKG).as_posix()}:{t.id}")
    assert found == {
        "sources/tables.py:_ARTIFACTS",
        "plans/registry.py:_ALL_QUERIES",
        "checkpoints.py:_SCOPES",
    }, sorted(found)


def test_operators_have_no_optional_dataframe_parameters():
    """An optional DataFrame parameter is a second path: the operator
    rebuilds the artifact when the caller leaves it out. The one
    exception is ``jaccard_pairs(candidates=)``, a real mode — d02/d08
    run all-pairs and d03 verifies LSH candidates."""
    found = []
    for p in sorted((PKG / "operators").glob("*.py")):
        for fn in ast.walk(ast.parse(p.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
            pairs = list(zip(positional, defaults)) + list(
                zip(a.kwonlyargs, a.kw_defaults)
            )
            for arg, default in pairs:
                if (
                    isinstance(default, ast.Constant)
                    and default.value is None
                    and arg.annotation is not None
                    and "DataFrame" in ast.unparse(arg.annotation)
                ):
                    found.append(f"{p.name}:{fn.name}({arg.arg}=)")
    assert found == ["dedup.py:jaccard_pairs(candidates=)"], found


def test_one_shingle_index_format():
    """Shingle operators take only the hashed (doc, shingle) index, so
    the markers of a second, string-shingle format are gone for good."""
    offenders = [
        f"{p.relative_to(PKG).as_posix()}: {word}"
        for p in _modules()
        for word in ("pre_hashed", "persist_shingles", "_shingle_k")
        if word in p.read_text()
    ]
    assert not offenders, offenders


def test_one_cosine_ranking_window():
    """The (cosine desc, neighbor_id) ranking window is written once, in
    ``similarity._top_k_exact``; brute force, LSH, multiprobe, IVF, the
    PQ rerank and the a21 legs all call it."""
    pat = re.compile(r'\.orderBy\(\s*F\.col\("cosine"\)\.desc\(\)')
    found = [
        p.relative_to(PKG).as_posix()
        for p in _modules()
        for _ in pat.finditer(p.read_text())
    ]
    assert found == ["operators/similarity.py"], found
