"""Planted-NULL oracle parity for the EVENTS family — the r8 extension
of the documents sweep (VERDICT r7 #5): the canonical events table has
no NULL ts/user/type/value/props, so Spark-vs-DuckDB NULL-semantics
divergences (NULLS FIRST/LAST window ordering, NULL group keys,
NULL-propagating arithmetic) can hide behind green driver rows — the
dsir/m02/t12 bugs all proved this class only surfaces on planted data.

Scope is self-checking the same way as the documents sweep: every
in-window query whose oracle references the events table must be in
the sweep or on the documented exclusion list.
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

# The planted fixture comes from scripts/null_sweep_all.py's builder
# (single source of the fixture text so the script and the suite
# cannot drift).
from scripts import null_sweep_all

# In-window event-readers deliberately OUTSIDE the parity sweep, each
# with a documented reason (and a dedicated pin if behavior-bearing).
# Exclusions must name registered oracles (test_exclusions_are_registered).
SWEEP_EXCLUSIONS: set[str] = set()

_READER_PAT = re.compile(r"\bevents\b")

# Sweep scope is DERIVED (VERDICT r9 #1): window ∩ oracle-references-
# events, minus the documented exclusions. Rotations update the sweep
# automatically — the r9 failure mode (d23 displaced e17 after the
# hand list was written) cannot recur by construction.
WINDOW_EVENT_QUERIES = sorted(
    n
    for n in DRIVER_WINDOW
    if n in ORACLES and _READER_PAT.search(ORACLES[n]) and n not in SWEEP_EXCLUSIONS
)


@pytest.fixture(scope="module")
def null_ev_dir(sf_dir, tmp_path_factory):
    """A full sf-dir clone whose events.parquet is the REAL corpus plus
    planted rows exercising every NULL corner: NULL ts, NULL user_id,
    NULL event_type, NULL value, NULL props, and an all-NULL row.
    Written by DuckDB (``null_sweep_all.build_events``) so the parquet
    keeps the TIMESTAMP_NS physical type of the canonical file (Spark
    reads it through the same nanos-as-long normalization either
    way)."""
    assert null_sweep_all.SF == sf_dir
    d = tmp_path_factory.mktemp("null-events")
    null_sweep_all.build_events(str(d))
    return str(d)


@pytest.fixture(scope="module")
def null_ev_con(null_ev_dir):
    return duckdb_connection(null_ev_dir)


def test_exclusions_are_registered():
    for name in SWEEP_EXCLUSIONS:
        assert name in ORACLES, f"stale sweep exclusion: {name}"


def test_sweep_is_nonvacuous():
    assert WINDOW_EVENT_QUERIES, "no in-window events-readers — sweep vacuous"


@pytest.mark.parametrize("name", WINDOW_EVENT_QUERIES)
def test_null_events_oracle_parity(spark, null_ev_dir, null_ev_con, name):
    r = compare_spark_to_oracle(
        name,
        E.queries()[name](spark, null_ev_dir),
        run_oracle(null_ev_con, E.oracle_sql()[name]),
    )
    assert r.match, f"{name} diverges on NULLs: {r.mismatches[:3]}"
