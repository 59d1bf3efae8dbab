"""Extreme-values robustness (r12): sales facts with edge rows
appended — money at the working edge of DECIMAL(18,2) arithmetic,
negative prices/quantities, discount outside [0,1], tax > 1, a
duplicated line (PK violation), FK orphans both ways, and timestamps
at rendering boundaries (year 5, pre-epoch 1969, 9999-12-31).

The full 92-query sales-scope sweep lives in
scripts/null_sweep_all.py (fixture ``extreme``; r12 first run found
one REAL oracle bug — q41's DECIMAL(18) squared terms overflowed
DuckDB's int64 multiply path where Spark widened exactly; fixed by
widening the operands to DECIMAL(19,2) in the shared SQL text — plus
the pinned q26 rendering divergence below). This suite keeps a
bounded representative set in CI.

Round 13 adds the other three scopes (VERDICT r12 #4), each with its
own fixture + bounded in-suite representative set; full sweeps via
``python scripts/null_sweep_all.py extreme_docs extreme_events
extreme_emb``. First-run findings: the e18 oracle carried the same
DECIMAL(18) squared-term overflow as q41 (widened); e08's grouped-map
stage died on year-9999 timestamps (Arrow's us→ns pandas cast — fixed
by feeding the UDF epoch micros); e03/e07 inherit the pinned
five-digit-year rendering divergence.

The four fixtures, the representative sets and the divergence
allowlists are the "extreme", "extreme_docs", "extreme_events" and
"extreme_emb" records of ``scripts/null_sweep_all.FIXTURES``, the one
table of degenerate-data axes that the script and the suites share; the
``axis`` factory in conftest.py builds each once per module. Timestamps
outside pandas' ns range fall back to the string-rendered compare inside
``testing.oracle_parity``, the sweep's path.
"""

from __future__ import annotations

import pytest

from end_to_end_sales_etl_de_project_spark.testing import oracle_parity

from scripts.null_sweep_all import FIXTURES


@pytest.mark.parametrize("name", FIXTURES["extreme"].tier1_scope())
def test_extreme_values_oracle_parity(spark, axis, name):
    r = oracle_parity(spark, *axis("extreme"), name)
    assert r.match, f"{name} diverges on extreme-values corpus: {r.mismatches[:3]}"


def test_out_of_ns_timestamps_compare_as_strings(spark, axis):
    """Timestamps outside pandas' ns range [1677, 2262] cannot ride the
    normal comparator (Arrow refuses the cast on BOTH engines' paths) —
    the engines themselves agree; proven via the string-rendered
    compare. q44 returns raw year-9999/year-5 timestamps."""
    r = oracle_parity(spark, *axis("extreme"), "q44_dedup_keep_latest")
    assert r.ts_as_string
    assert r.match, r.detail


def test_year_10000_rendering_divergence_is_pinned(spark, axis):
    """DOCUMENTED DIVERGENCE (upstream rendering): five-digit years
    render with the ISO-8601 expanded-year sign in Spark
    ("+10000-01-30") but without it in DuckDB ("10000-01-30"). q26's
    due_date = 9999-12-31 + 30 days is the one synthetic row that
    crosses the boundary. Values agree; only the text form differs.
    Pinned so an upstream change in either renderer surfaces here."""
    r = oracle_parity(spark, *axis("extreme"), "q26_date_functions")
    assert r.ts_as_string
    assert not r.match, "year-10000 rendering now AGREES — update the pin and the sweep allowlist"
    assert "+10000" in r.detail and "'10000" in r.detail, r.detail
    assert "q26_date_functions" in FIXTURES["extreme"].expected


# ---------------------------------------------------------------------------
# r13 axes: documents / events / embeddings scopes
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name", FIXTURES["extreme_docs"].tier1_scope())
def test_extreme_docs_oracle_parity(spark, axis, name):
    r = oracle_parity(spark, *axis("extreme_docs"), name)
    assert r.match, f"{name} diverges on extreme-docs corpus: {r.mismatches[:3]}"


@pytest.mark.parametrize("name", FIXTURES["extreme_events"].tier1_scope())
def test_extreme_events_oracle_parity(spark, axis, name):
    """Queries returning raw year-9999 timestamps (e01's window_start,
    e18's ts) cannot ride the pandas comparator; oracle_parity
    re-compares them string-rendered on BOTH engines."""
    r = oracle_parity(spark, *axis("extreme_events"), name)
    assert r.match, f"{name} diverges on extreme-events corpus: {r.detail}"


def test_extreme_events_session_end_rendering_pinned(spark, axis):
    """e03/e07's session END for the year-9999 event lands in year
    10000 — the SAME pinned five-digit-year rendering divergence as
    q26 on the sales axis (values agree, ISO expanded-year sign
    differs). Pinned so an upstream renderer change surfaces here."""
    r = oracle_parity(spark, *axis("extreme_events"), "e03_session_window")
    assert r.ts_as_string
    assert not r.match, "year-10000 rendering now AGREES — update the pin and the extreme_events allowlist"
    assert "+10000" in r.detail and "'10000" in r.detail, r.detail
    assert "e03_session_window" in FIXTURES["extreme_events"].expected


@pytest.mark.parametrize("name", FIXTURES["extreme_emb"].tier1_scope())
def test_extreme_emb_oracle_parity(spark, axis, name):
    r = oracle_parity(spark, *axis("extreme_emb"), name)
    assert r.match, f"{name} diverges on extreme-emb corpus: {r.mismatches[:3]}"
