"""Pins the driver-correctness window: the driver verifies only the
first ``DRIVER_WINDOW_SIZE`` entries of ``queries()`` in dict-insertion
order (hard signal from rounds 1-2), so every query that still lacks a
green driver row MUST sit inside that prefix."""

from __future__ import annotations

import json
import os

from end_to_end_sales_etl_de_project_spark.plans.registry import (
    DRIVER_WINDOW,
    DRIVER_WINDOW_SIZE,
    ORACLES,
    QUERIES,
    ROWS_ONLY_ALLOWLIST,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _verified_in_past_rounds() -> set[str]:
    import glob

    seen: set[str] = set()
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        seen |= set(json.load(open(path)))
    return seen


def test_window_is_registry_prefix():
    assert list(QUERIES)[:DRIVER_WINDOW_SIZE] == DRIVER_WINDOW


def test_unverified_queries_inside_window():
    # union over all rounds must cover every registered query: anything
    # never driver-checked has to sit in the upcoming round's window
    missing = set(QUERIES) - _verified_in_past_rounds() - set(DRIVER_WINDOW)
    assert not missing, f"queries without driver evidence outside window: {missing}"


def test_stale_queries_inside_window():
    """VERDICT r6 #5: a green driver row only vouches for the code the
    driver ran. Any query whose function (or a directly-called package
    function) changed since its evidence round must re-earn evidence —
    it has to hold a slot in the upcoming window. scripts/
    driver_evidence.py computes the flag function-by-function against
    each round's verdict commit, so appending unrelated code to a plans
    module does not mark untouched queries stale."""
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.join(_REPO, "scripts"))
    try:
        de = importlib.import_module("driver_evidence")
    finally:
        sys.path.pop(0)
    stale_outside = set(de.stale_queries()) - set(DRIVER_WINDOW)
    assert not stale_outside, (
        f"stale queries (code newer than driver evidence) without a window "
        f"slot: {sorted(stale_outside)} — rotate plans/registry.py"
    )


def test_registry_complete():
    # every oracle has a query; registry holds the full surface
    assert set(ORACLES) <= set(QUERIES)
    assert len(QUERIES) >= 89


def test_rows_only_is_a_closed_allowlist():
    """Every registered query must carry a DuckDB oracle unless it is on
    the documented rows-only allowlist (and the allowlist must not rot:
    an entry that GAINS an oracle must be removed from it)."""
    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == set(ROWS_ONLY_ALLOWLIST), (
        f"undocumented rows-only queries: {sorted(rows_only - ROWS_ONLY_ALLOWLIST)}; "
        f"stale allowlist entries: {sorted(ROWS_ONLY_ALLOWLIST - rows_only)}"
    )


def test_bench_headline_names_resolve():
    """A renamed query must not silently shrink the benchmark — every
    headline name resolves, and headline stays deduplicated."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, missing
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_bench_covers_registry():
    """Registry-vs-HEADLINE completeness (VERDICT r6 #2): every
    registered query is either benched or on the closed, documented
    BENCH_EXCLUDED list — never silently omitted. The two sets must
    also be disjoint and exclusions must not rot (an excluded name that
    leaves the registry must leave the list)."""
    import bench

    headline = set(bench.HEADLINE)
    uncovered = set(QUERIES) - headline - bench.BENCH_EXCLUDED
    assert not uncovered, f"registered but neither benched nor excluded: {sorted(uncovered)}"
    assert not headline & bench.BENCH_EXCLUDED, sorted(headline & bench.BENCH_EXCLUDED)
    stale = bench.BENCH_EXCLUDED - set(QUERIES)
    assert not stale, f"BENCH_EXCLUDED entries not in registry: {sorted(stale)}"


def test_entry_contract_stable(spark):
    """Driver t1 smoke contract: entry() runs, yields rows, and its
    schema is identical across invocations (the driver hashes it)."""
    import __spark_entry__ as E

    a = E.entry(spark)
    b = E.entry(spark)
    assert a.schema == b.schema
    assert len(a.take(1)) == 1


def test_infra_attestation_is_fingerprint_scoped():
    """The r9 attestation mechanism must excuse ONLY the exact pinned
    source: with the fingerprint perturbed (simulating a future edit to
    load_table without a fresh attestation), the load_table-staleness
    must come back in force — the escape hatch cannot silently absorb
    the next infrastructure change."""
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.join(_REPO, "scripts"))
    try:
        de = importlib.import_module("driver_evidence")
    finally:
        sys.path.pop(0)
    assert de.INFRA_ATTESTATIONS, "attestation list unexpectedly empty"
    baseline = len(de.stale_queries())
    saved = [dict(a) for a in de.INFRA_ATTESTATIONS]
    try:
        for att in de.INFRA_ATTESTATIONS:
            att["fingerprint"] = "0" * 16
        perturbed = len(de.stale_queries())
    finally:
        de.INFRA_ATTESTATIONS[:] = saved
    assert perturbed > baseline + 100, (perturbed, baseline)


def test_stale_pin_does_not_shadow_current_one():
    """An older pin of a function listed before its current pin must not
    hide the current one: any matching pin attests the function."""
    import hashlib
    import importlib
    import os
    import sys

    sys.path.insert(0, os.path.join(_REPO, "scripts"))
    try:
        de = importlib.import_module("driver_evidence")
    finally:
        sys.path.pop(0)
    src = "def f():\n    return 1\n"
    current = hashlib.sha256(src.encode()).hexdigest()[:16]
    saved = [dict(a) for a in de.INFRA_ATTESTATIONS]
    baseline = de.stale_queries()
    try:
        de.INFRA_ATTESTATIONS[:] = [
            {"function": "f", "fingerprint": "0" * 16},
            {"function": "f", "fingerprint": current},
        ]
        assert de._attested_ok("f", [("m.py", "f", src)])
        assert not de._attested_ok("f", [("m.py", "f", src + "# edited\n")])
        # a stale copy of every real pin, listed first, changes nothing
        de.INFRA_ATTESTATIONS[:] = [
            {**a, "fingerprint": "0" * 16} for a in saved
        ] + [dict(a) for a in saved]
        assert de.stale_queries() == baseline
    finally:
        de.INFRA_ATTESTATIONS[:] = saved
