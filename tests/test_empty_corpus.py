"""Empty-corpus robustness (r11): every table 0 rows, canonical
schemas. At 100 TB an empty slice is routine — a fully-pruned
partition, a new feed's first day, a decontamination pass that drops
everything — and the engine must keep its oracle contract there, not
crash on driver-side folds or diverge on SUM-over-zero-rows NULLs.

The full sweep over every registered oracle is scripts/null_sweep_all.py
(axis ``empty``); this suite keeps a bounded representative set + the
r11 fixes + the documented divergences pinned in CI. The fixture, the
representative set and the divergence allowlist are the "empty" record
of ``scripts/null_sweep_all.FIXTURES``, the one table of degenerate-data
axes that the script and the suites share; the ``axis`` factory in
conftest.py builds it once per module.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from end_to_end_sales_etl_de_project_spark.sources.tables import TABLES
from end_to_end_sales_etl_de_project_spark.testing import oracle_parity, run_oracle

from scripts.null_sweep_all import FIXTURES

PARITY_QUERIES = FIXTURES["empty"].tier1_scope()


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_empty_corpus_oracle_parity(spark, axis, name):
    r = oracle_parity(spark, *axis("empty"), name)
    assert r.match, f"{name} diverges on the empty corpus: {r.mismatches[:3]}"


def test_ann_index_training_fails_loudly_on_empty_corpus(spark, axis):
    """DOCUMENTED DIVERGENCE: the IVF/PQ paths (a04/a05/a12/a13/a20/
    a21/a22) ERROR on an empty corpus instead of returning the oracle's
    zero rows — training an ANN index over nothing is a deployment
    mistake (Faiss errors the same way), and silently serving an
    untrained index would be worse than the crash. The guard message is
    the contract."""
    for name, msg in [
        ("a04_ann_ivf", "empty corpus"),
        ("a05_ann_pq", "empty corpus"),
        ("a22_ivf_cell_balance", "empty corpus"),
    ]:
        with pytest.raises(Exception, match=msg):
            E.queries()[name](spark, axis("empty")[0]).collect()


def test_rollup_grand_total_divergence_is_pinned(spark, axis):
    """DOCUMENTED DIVERGENCE (upstream Spark): GROUP BY ROLLUP/CUBE/
    GROUPING SETS over EMPTY input emits zero rows in Spark (the
    Expand-based implementation produces no rows to aggregate), while
    ANSI SQL — and DuckDB — emit the grand-total () row with zero
    counts. Pinned so an upstream Spark fix (or a local plan change)
    surfaces here instead of silently flipping the empty-input shape.
    Non-empty inputs hash-match exactly (driver evidence: q18/q21/q38).
    """
    empty_sf_dir, empty_con = axis("empty")
    for name in ["q18_rollup", "q21_cube", "q38_grouping_sets"]:
        spark_rows = E.queries()[name](spark, empty_sf_dir).count()
        oracle_rows = len(run_oracle(empty_con, E.oracle_sql()[name]))
        assert spark_rows == 0, f"{name}: Spark now emits {spark_rows} rows on empty"
        assert oracle_rows == 1, f"{name}: oracle grand-total row missing"


def test_empty_fixture_is_actually_empty(axis):
    _, con = axis("empty")
    for name in TABLES:
        n = con.execute(f"SELECT COUNT(*) FROM {name}").fetchone()[0]
        assert n == 0, name
