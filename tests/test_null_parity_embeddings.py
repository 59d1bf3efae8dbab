"""Planted-NULL oracle parity for the EMBEDDINGS family — the r9
extension of the documents/events/sales sweeps (VERDICT r8 #7): the
canonical embeddings table has no NULL vec_id/embedding/label and every
vector is exactly 64 long, so Spark-vs-DuckDB NULL-semantics
divergences (NULL array elements folding to NULL sims, size(NULL)=-1,
NULLS FIRST/LAST ordering, NULL group keys) can hide behind green
driver rows. The t34/t37 pre-ship catches proved this class only
surfaces on planted data.

Planted corners: NULL vec_id, NULL embedding, empty embedding array, a
SHORT (3-elem) embedding, a full-length embedding with a NULL ELEMENT,
NULL label, and an all-NULL row — vec_ids 9000001+ so the a-family's
fixed query set (vec_id < 8) is unchanged.

Scope is self-checking like the other sweeps: every in-window query
whose oracle references the embeddings table must be in the sweep or on
the documented exclusion list.

The planted rows, the scope and its exclusions are the "emb" record
of ``scripts/null_sweep_all.FIXTURES``, the one table of degenerate-data
axes that the script and the suites share; the ``axis`` factory in
conftest.py builds it once per module.
"""

from __future__ import annotations

import pytest

from end_to_end_sales_etl_de_project_spark.plans.registry import ORACLES
from end_to_end_sales_etl_de_project_spark.testing import oracle_parity

from scripts.null_sweep_all import FIXTURES

# Sweep scope is DERIVED (VERDICT r9 #1): window ∩ oracle-references-
# the-family, minus the documented exclusions (each must name a
# registered oracle — test_exclusions_are_registered). Rotations update
# the sweep automatically.
WINDOW_EMB_QUERIES = FIXTURES["emb"].tier1_scope()


def test_exclusions_are_registered():
    for name in FIXTURES["emb"].exclusions:
        assert name in ORACLES, f"stale sweep exclusion: {name}"


def test_sweep_is_nonvacuous():
    assert WINDOW_EMB_QUERIES, "no in-window embeddings-readers — sweep vacuous"


@pytest.mark.parametrize("name", WINDOW_EMB_QUERIES)
def test_null_embeddings_oracle_parity(spark, axis, name):
    r = oracle_parity(spark, *axis("emb"), name)
    assert r.match, f"{name} diverges on NULLs: {r.mismatches[:3]}"
