"""Empty-corpus robustness (r11): every table 0 rows, canonical
schemas. At 100 TB an empty slice is routine — a fully-pruned
partition, a new feed's first day, a decontamination pass that drops
everything — and the engine must keep its oracle contract there, not
crash on driver-side folds or diverge on SUM-over-zero-rows NULLs.

The full 242-query sweep lives in scripts/null_sweep_all.py's sibling
pass (run per-round); this suite keeps a bounded representative set +
the r11 fixes + the documented divergences pinned in CI.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as E
from end_to_end_sales_etl_de_project_spark.testing import (
    compare_spark_to_oracle,
    duckdb_connection,
    run_oracle,
)

# The 0-row fixture comes from scripts/null_sweep_all.py's builder
# (single source of the fixture text so the script and the suite
# cannot drift).
from scripts import null_sweep_all
from scripts.null_sweep_all import ALL_TABLES


@pytest.fixture(scope="module")
def empty_sf_dir(sf_dir, tmp_path_factory):
    assert null_sweep_all.SF == sf_dir
    d = tmp_path_factory.mktemp("empty-sf")
    null_sweep_all.build_empty(str(d))
    return str(d)


@pytest.fixture(scope="module")
def empty_con(empty_sf_dir):
    return duckdb_connection(empty_sf_dir)


# Representative spread: one per operator family, plus every query the
# r11 empty-corpus sweep fixed (q34 schema-on-readback, q102/c15
# SUM-over-zero coalesce) so the regressions stay visible by name.
PARITY_QUERIES = [
    "q12_pricing_summary",      # grouped agg
    "q34_partitioned_write_readback",  # r11 fix: schema on empty readback
    "q102_constraint_audit",    # r11 fix: empty batch passes its checks
    "c15_rule_attribution",     # r11 fix: zero evaluated, zero failed
    "q61_union_by_name",        # schema-evolution union of two empty gens
    "q92_approx_error_bounds",  # sketch audit over zero groups
    "q81_cumulative_distinct",  # window over empty spine
    "q106_volume_shipping",     # multi-join
    "d01_dedup_exact",          # dedup family
    "d03_minhash_lsh",          # LSH family (artifact over empty corpus)
    "d24_dedup_tier_attribution",  # full cascade: all tiers zero
    "t01_text_stats",           # text family
    "t23_vocab_coverage",       # top-k prune over empty vocab
    "e01_tumbling_hourly",      # events family
    "a01_ann_bruteforce",       # ANN exact baseline (no training)
    "c01_curate_corpus",        # curation capstone
]


@pytest.mark.parametrize("name", PARITY_QUERIES)
def test_empty_corpus_oracle_parity(spark, empty_sf_dir, empty_con, name):
    r = compare_spark_to_oracle(
        name,
        E.queries()[name](spark, empty_sf_dir),
        run_oracle(empty_con, E.oracle_sql()[name]),
    )
    assert r.match, f"{name} diverges on the empty corpus: {r.mismatches[:3]}"


def test_ann_index_training_fails_loudly_on_empty_corpus(spark, empty_sf_dir):
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
            E.queries()[name](spark, empty_sf_dir).collect()


def test_rollup_grand_total_divergence_is_pinned(spark, empty_sf_dir, empty_con):
    """DOCUMENTED DIVERGENCE (upstream Spark): GROUP BY ROLLUP/CUBE/
    GROUPING SETS over EMPTY input emits zero rows in Spark (the
    Expand-based implementation produces no rows to aggregate), while
    ANSI SQL — and DuckDB — emit the grand-total () row with zero
    counts. Pinned so an upstream Spark fix (or a local plan change)
    surfaces here instead of silently flipping the empty-input shape.
    Non-empty inputs hash-match exactly (driver evidence: q18/q21/q38).
    """
    for name in ["q18_rollup", "q21_cube", "q38_grouping_sets"]:
        spark_rows = E.queries()[name](spark, empty_sf_dir).count()
        oracle_rows = len(run_oracle(empty_con, E.oracle_sql()[name]))
        assert spark_rows == 0, f"{name}: Spark now emits {spark_rows} rows on empty"
        assert oracle_rows == 1, f"{name}: oracle grand-total row missing"


def test_empty_fixture_is_actually_empty(empty_sf_dir):
    con = duckdb.connect()
    for name in ALL_TABLES:
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{os.path.join(empty_sf_dir, name)}.parquet')"
        ).fetchone()[0]
        assert n == 0, name
