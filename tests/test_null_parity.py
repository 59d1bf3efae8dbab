"""Planted-NULL oracle parity: the canonical testdata has no NULL
text/lang/source, so a Spark-vs-DuckDB NULL-semantics divergence can
hide behind green driver rows indefinitely (exactly how the round-7
dsir_importance bug stayed invisible). This suite re-runs the
document-family queries of the CURRENT driver window over a corpus
with NULLs planted in every nullable column — any divergence must be
fixed while the query already holds a window slot (so re-earning
driver evidence is already scheduled), never discovered later.

Scope is deliberately the window ∩ documents-readers: out-of-window
queries are exercised as they rotate in (the full-registry sweep is
scripts/null_sweep_all.py), keeping fixes staleness-safe by
construction.

The corpus, the scope and its exclusions are the "docs" record of
``scripts/null_sweep_all.FIXTURES``, the one table of degenerate-data
axes that the script and the suites share; the ``axis`` factory in
conftest.py builds it once per module.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as E
from end_to_end_sales_etl_de_project_spark.plans.registry import ORACLES
from end_to_end_sales_etl_de_project_spark.testing import oracle_parity

from scripts.null_sweep_all import FIXTURES

# In-window document-readers deliberately OUTSIDE the parity sweep,
# each with its own dedicated pin below. An exclusion must name a
# registered oracle (test_exclusions_are_registered) so it cannot
# silently outlive a query rename/removal.
SWEEP_EXCLUSIONS = FIXTURES["docs"].exclusions

# Sweep scope is DERIVED (VERDICT r9 #1): window ∩ oracle-references-
# documents, minus the documented exclusions.
WINDOW_DOC_QUERIES = FIXTURES["docs"].tier1_scope()


def test_exclusions_are_registered():
    """A stale exclusion (renamed/removed query) must fail loudly, not
    silently stop matching anything."""
    for name in SWEEP_EXCLUSIONS:
        assert name in ORACLES, f"stale sweep exclusion: {name}"


def test_sweep_is_nonvacuous():
    """A rotation that empties the sweep would silently disable the
    whole NULL-parity class for this family — fail instead."""
    assert WINDOW_DOC_QUERIES, "no in-window documents-readers — sweep vacuous"


def test_d15_guard_fires_on_short_text_not_null(spark, tmp_path, axis):
    """d15's documented precondition (every text >= 16 chars for the
    16-byte prefix blocks) must still fail LOUDLY on a SHORT non-NULL
    text — but NULL text is outside prefix-dedup scope (r11: the raise
    on NULL was a sweep crash, not a semantics; the oracle's length
    predicates NULL-propagate those rows away), so the NULL corpus now
    hash-checks in the parity sweep below instead of raising."""
    import shutil

    null_sf_dir, _ = axis("docs")
    d = tmp_path / "short"
    d.mkdir()
    for name in os.listdir(null_sf_dir):
        if name != "documents.parquet":
            shutil.copy(os.path.join(null_sf_dir, name), d / name)
    df = spark.createDataFrame(
        [(1, "tiny text", "en", "web", 9),
         (2, "long enough document text for the block key", "en", "web", 44)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    staged = str(d / "_st")
    df.coalesce(1).write.parquet(staged)
    part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
    shutil.move(os.path.join(staged, part), d / "documents.parquet")
    shutil.rmtree(staged)
    with pytest.raises(Exception, match="prefix blocking requires"):
        E.queries()["d15_prefix_duplicates"](spark, str(d)).collect()


def test_m03_null_payload_emits_no_frames(spark, axis):
    """r7 debt pin FLIPPED (r8): sample_frames now skips NULL payloads
    (no frames — nothing to decode), matching the oracle where NULL
    lengths fall out of every frame-window predicate. The full
    oracle-parity check runs in the sweep below; this pin keeps the
    specific regression visible by name."""
    null_sf_dir, _ = axis("docs")
    frames = E.queries()["m03_frame_sample"](spark, null_sf_dir)
    null_doc_ids = {4, 7}  # build_docs: the NULL-text docs
    got = {r["asset_id"] for r in frames.select("asset_id").distinct().collect()}
    assert not (got & null_doc_ids), "NULL-payload docs emitted frames"
    assert got, "non-NULL docs must still emit frames"


@pytest.mark.parametrize("name", WINDOW_DOC_QUERIES)
def test_null_corpus_oracle_parity(spark, axis, name):
    r = oracle_parity(spark, *axis("docs"), name)
    assert r.match, f"{name} diverges on NULLs: {r.mismatches[:3]}"
