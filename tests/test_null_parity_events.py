"""Planted-NULL oracle parity for the EVENTS family — the r8 extension
of the documents sweep (VERDICT r7 #5): the canonical events table has
no NULL ts/user/type/value/props, so Spark-vs-DuckDB NULL-semantics
divergences (NULLS FIRST/LAST window ordering, NULL group keys,
NULL-propagating arithmetic) can hide behind green driver rows — the
dsir/m02/t12 bugs all proved this class only surfaces on planted data.

Scope is self-checking the same way as the documents sweep: every
in-window query whose oracle references the events table must be in
the sweep or on the documented exclusion list.

The planted rows, the scope and its exclusions are the "events" record
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
WINDOW_EVENT_QUERIES = FIXTURES["events"].tier1_scope()


def test_exclusions_are_registered():
    for name in FIXTURES["events"].exclusions:
        assert name in ORACLES, f"stale sweep exclusion: {name}"


def test_sweep_is_nonvacuous():
    assert WINDOW_EVENT_QUERIES, "no in-window events-readers — sweep vacuous"


@pytest.mark.parametrize("name", WINDOW_EVENT_QUERIES)
def test_null_events_oracle_parity(spark, axis, name):
    r = oracle_parity(spark, *axis("events"), name)
    assert r.match, f"{name} diverges on NULLs: {r.mismatches[:3]}"
