"""Degenerate-duplication robustness (r12, VERDICT r11 #5): two
corpus shapes that stress the dedup/LSH/containment/component family
where it is weakest —

- ALL-IDENTICAL: every document the same text (one 40-clique). The
  hot-bucket guard's worst case (every banded LSH bucket holds the
  whole corpus), the component loop's densest graph, and — because
  every text-derived score ties — the hardest test of deterministic
  rank/row_number tiebreakers.
- TWO-DOC: a two-document near-dup corpus, the smallest non-empty
  pairwise input (exactly one candidate pair; n=2 statistics).

The full documents-scope sweep lives in scripts/null_sweep_all.py
(axes ``identical`` / ``twodoc``; run per-round on an idle box — r12
first run: 170/170 PASS, zero divergences, no allowlist needed). This
suite keeps a bounded representative set pinned in CI: the
dedup/component/containment family plus the tie-heavy rank shapes.

Both corpora and the representative set are the "identical" and
"twodoc" records of ``scripts/null_sweep_all.FIXTURES``, the one table
of degenerate-data axes that the script and the suites share; the
``axis`` factory in conftest.py builds each once per module.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from end_to_end_sales_etl_de_project_spark.testing import oracle_parity

from scripts.null_sweep_all import FIXTURES


@pytest.fixture(scope="module", params=["identical", "twodoc"])
def degen(request, axis):
    return axis(request.param)


@pytest.mark.parametrize("name", FIXTURES["identical"].tier1_scope())
def test_degenerate_duplication_oracle_parity(spark, degen, name):
    r = oracle_parity(spark, *degen, name)
    assert r.match, f"{name} diverges on degenerate-dup corpus: {r.mismatches[:3]}"


def test_identical_corpus_tier_cascade(spark, axis):
    """Structural invariants, not just parity — both engines agreeing
    on a wrong shape would slip past the oracle compare. On the
    all-identical corpus the DOCUMENTED division of labor between
    tiers must hold exactly:

    - exact dedup (d01) collapses the corpus to ONE group: canonical
      doc 0, 40 copies;
    - the LSH stage finds ZERO near-dup pairs — every (band, key)
      bucket holds all 40 docs, which exceeds DEFAULT_MAX_BUCKET_SIZE
      (32), so the hot-bucket guard drops them BEFORE the self-join
      (lsh_candidate_pairs docstring: oversized buckets are exact/
      near-exact duplicates and belong to the exact tier). d14's
      component histogram therefore reads 40 singletons;
    - the cascade (d24) attributes all 39 non-canonical docs to the
      EXACT tier, leaving zero for near-dup and containment — no
      duplicate escapes just because the LSH tier declined its
      degenerate bucket.

    If the guard semantics change (e.g. per-bucket sampling instead of
    dropping), this pins where the 39 duplicates must still be caught.
    """
    d, _ = axis("identical")
    exact = E.queries()["d01_dedup_exact"](spark, d).collect()
    assert len(exact) == 1
    assert (exact[0]["canonical_id"], exact[0]["n_copies"]) == (0, 40)

    hist = E.queries()["d14_cluster_size_histogram"](spark, d).collect()
    sizes = {r["cluster_size"]: r["n_clusters"] for r in hist}
    assert sizes == {1: 40}, f"near-dup components should be empty: {sizes}"

    tiers = {
        r["tier"]: (r["n_flagged_new"], r["n_flagged_cum"])
        for r in E.queries()["d24_dedup_tier_attribution"](spark, d).collect()
    }
    assert tiers["1_exact"] == (39, 39), tiers
    assert tiers["2_neardup"] == (0, 39), tiers
    assert tiers["3_containment"] == (0, 39), tiers


def test_twodoc_cascade_catches_the_pair(spark, axis):
    """The two-doc corpus holds exactly one true near-dup pair
    (3-shingle Jaccard 0.8667). Pins the measured division of labor:

    - d02 (exact all-pairs Jaccard) finds it — the ground truth;
    - d03 (MinHash-LSH, 16 hashes / 4 bands) MISSES it: with J=0.8667
      the per-pair miss probability is (1 - J^4)^4 = 3.6%, and the
      deterministic hash family lands this fixture in that tail. That
      is LSH's documented probabilistic recall, not a bug — pinned so
      a hash-family or banding change that flips it is noticed;
    - d24's cascade still catches the duplicate at the CONTAINMENT
      tier (tier 3), n_flagged_cum = 1 — the defense-in-depth the
      multi-tier design exists for.
    """
    d, _ = axis("twodoc")
    exact_pairs = E.queries()["d02_ngram_jaccard"](spark, d).collect()
    assert len(exact_pairs) == 1
    assert round(exact_pairs[0]["jaccard"], 4) == 0.8667

    assert E.queries()["d03_minhash_lsh"](spark, d).count() == 0

    tiers = {
        r["tier"]: r["n_flagged_cum"]
        for r in E.queries()["d24_dedup_tier_attribution"](spark, d).collect()
    }
    assert tiers["3_containment"] == 1, tiers


def test_twodoc_corpus_shape(axis):
    _, con = axis("twodoc")
    n, dist = con.execute(
        "SELECT count(*), count(DISTINCT text) FROM documents"
    ).fetchone()
    assert (n, dist) == (2, 2)
