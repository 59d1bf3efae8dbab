"""One mechanism per concern, pinned structurally: every checkpoint in
the package is taken by ``checkpoints.eager_checkpoint``, and the only
cross-call memo is the session-artifact memo in ``sources/tables.py``
(``session_artifact``). A new hand-rolled memo dict or a direct
``localCheckpoint`` call fails here instead of drifting in."""

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
