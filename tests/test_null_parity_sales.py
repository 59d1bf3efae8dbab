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
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as E
from end_to_end_sales_etl_de_project_spark.plans.registry import (
    DRIVER_WINDOW,
    ORACLES,
)
from end_to_end_sales_etl_de_project_spark.testing import (
    compare_spark_to_oracle,
    duckdb_connection,
    run_oracle,
)

# The mutation masks come from scripts/null_sweep_all.py's builder
# (single source of the fixture text so the script and the suite
# cannot drift).
from scripts import null_sweep_all
from scripts.null_sweep_all import SALES_TABLES

# In-window sales-readers deliberately OUTSIDE the parity sweep, each
# with a documented reason (and a dedicated pin if behavior-bearing).
# Exclusions must name registered oracles (test_exclusions_are_registered).
SWEEP_EXCLUSIONS: set[str] = set()

_READER_PAT = re.compile(r"\b(" + "|".join(SALES_TABLES) + r")\b")

# Sweep scope is DERIVED (VERDICT r9 #1): window ∩ oracle-references-
# a-sales-table, minus the documented exclusions. Rotations update the
# sweep automatically.
WINDOW_SALES_QUERIES = sorted(
    n
    for n in DRIVER_WINDOW
    if n in ORACLES and _READER_PAT.search(ORACLES[n]) and n not in SWEEP_EXCLUSIONS
)

@pytest.fixture(scope="module")
def null_sales_dir(sf_dir, tmp_path_factory):
    """A full sf-dir clone with NULLs planted by ``null_sweep_all``'s
    per-table ``key % prime`` masks (distinct primes, so the NULL
    patterns overlap but never coincide entirely)."""
    assert null_sweep_all.SF == sf_dir
    d = tmp_path_factory.mktemp("null-sales")
    null_sweep_all.build_sales(str(d))
    return str(d)


@pytest.fixture(scope="module")
def null_sales_con(null_sales_dir):
    return duckdb_connection(null_sales_dir)


def test_exclusions_are_registered():
    for name in SWEEP_EXCLUSIONS:
        assert name in ORACLES, f"stale sweep exclusion: {name}"


def test_sweep_is_nonvacuous():
    assert WINDOW_SALES_QUERIES, "no in-window sales-readers — sweep vacuous"


def test_fixture_actually_plants_nulls(null_sales_con):
    n = null_sales_con.execute(
        "SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL OR l_shipdate IS NULL"
    ).fetchone()[0]
    assert n > 0, "mutation masks produced no NULLs — sweep is vacuous"


@pytest.mark.parametrize("name", WINDOW_SALES_QUERIES)
def test_null_sales_oracle_parity(spark, null_sales_dir, null_sales_con, name):
    r = compare_spark_to_oracle(
        name,
        E.queries()[name](spark, null_sales_dir),
        run_oracle(null_sales_con, E.oracle_sql()[name]),
    )
    assert r.match, f"{name} diverges on NULLs: {r.mismatches[:3]}"
