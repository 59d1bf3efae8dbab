"""Planted-NULL oracle parity for the SALES-STAR family — the third
leg of the sweep (documents r7, events r8, sales r8): TPC-H-shaped
synthetic data is NOT NULL everywhere, so NULL-semantics divergences
in the relational operators (NULLS FIRST/LAST sort order, NULL-skipping
aggregates, string_agg vs array_join NULL handling, NULL equi-join
keys) can hide behind green driver rows indefinitely.

NULLs are PLANTED BY MUTATION (deterministic ``key % prime`` masks via
DuckDB ``SELECT * REPLACE``) so schemas and row counts stay canonical
— only the value distribution gains NULL corners. Scope is
self-checking like the other sweeps: every in-window query whose
oracle references a sales table must be swept or excluded by name.

The planted rows, the scope and its exclusions are the "sales" record
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
WINDOW_SALES_QUERIES = FIXTURES["sales"].tier1_scope()


def test_exclusions_are_registered():
    for name in FIXTURES["sales"].exclusions:
        assert name in ORACLES, f"stale sweep exclusion: {name}"


def test_sweep_is_nonvacuous():
    assert WINDOW_SALES_QUERIES, "no in-window sales-readers — sweep vacuous"


def test_fixture_actually_plants_nulls(axis):
    _, null_sales_con = axis("sales")
    n = null_sales_con.execute(
        "SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL OR l_shipdate IS NULL"
    ).fetchone()[0]
    assert n > 0, "mutation masks produced no NULLs — sweep is vacuous"


@pytest.mark.parametrize("name", WINDOW_SALES_QUERIES)
def test_null_sales_oracle_parity(spark, axis, name):
    r = oracle_parity(spark, *axis("sales"), name)
    assert r.match, f"{name} diverges on NULLs: {r.mismatches[:3]}"
