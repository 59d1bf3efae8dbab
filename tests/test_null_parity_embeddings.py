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

# In-window embeddings-readers deliberately OUTSIDE the parity sweep,
# each with a documented reason (and a dedicated pin if behavior-
# bearing). Exclusions must name registered oracles
# (test_exclusions_are_registered).
SWEEP_EXCLUSIONS: set[str] = set()

_READER_PAT = re.compile(r"\bembeddings\b")

# Sweep scope is DERIVED (VERDICT r9 #1): window ∩ oracle-references-
# embeddings, minus the documented exclusions. Rotations update the
# sweep automatically.
WINDOW_EMB_QUERIES = sorted(
    n
    for n in DRIVER_WINDOW
    if n in ORACLES and _READER_PAT.search(ORACLES[n]) and n not in SWEEP_EXCLUSIONS
)


@pytest.fixture(scope="module")
def null_emb_dir(sf_dir, tmp_path_factory):
    """A full sf-dir clone whose embeddings.parquet is the REAL corpus
    plus planted rows exercising every NULL/shape corner, among them a
    full-LENGTH vector with a NULL element: it passes the size gate but
    must be excluded by the element-nullity predicate (ADVICE r9 — the
    numpy seams would otherwise crash where DuckDB NULL-propagates).
    Written by DuckDB (``null_sweep_all.build_emb``) so the parquet
    keeps the FLOAT[] physical type of the canonical file."""
    assert null_sweep_all.SF == sf_dir
    d = tmp_path_factory.mktemp("null-emb")
    null_sweep_all.build_emb(str(d))
    return str(d)


@pytest.fixture(scope="module")
def null_emb_con(null_emb_dir):
    return duckdb_connection(null_emb_dir)


def test_exclusions_are_registered():
    for name in SWEEP_EXCLUSIONS:
        assert name in ORACLES, f"stale sweep exclusion: {name}"


def test_sweep_is_nonvacuous():
    assert WINDOW_EMB_QUERIES, "no in-window embeddings-readers — sweep vacuous"


@pytest.mark.parametrize("name", WINDOW_EMB_QUERIES)
def test_null_embeddings_oracle_parity(spark, null_emb_dir, null_emb_con, name):
    r = compare_spark_to_oracle(
        name,
        E.queries()[name](spark, null_emb_dir),
        run_oracle(null_emb_con, E.oracle_sql()[name]),
    )
    assert r.match, f"{name} diverges on NULLs: {r.mismatches[:3]}"
