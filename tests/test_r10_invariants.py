"""Behavioral laws for the round-10 changes — the chooser that now
drives d22's filter size, pinned on hand-built curves where the law is
unambiguous (the corpus-level pin lives in test_r9_invariants)."""

from __future__ import annotations

from end_to_end_sales_etl_de_project_spark.operators import dedup

GRID = (8_192, 16_384, 65_536)


def _curve(spark, rows):
    return spark.createDataFrame(rows, "m_bits long, fp_rate double")


def test_choose_m_takes_smallest_qualifying(spark):
    c = _curve(spark, [(8_192, 0.5), (16_384, 0.005), (65_536, 0.001)])
    assert dedup.bloom_choose_m(c, GRID) == 16_384


def test_choose_m_falls_back_to_largest_when_none_qualify(spark):
    c = _curve(spark, [(8_192, 0.5), (16_384, 0.2), (65_536, 0.1)])
    assert dedup.bloom_choose_m(c, GRID) == 65_536


def test_choose_m_nan_and_null_never_qualify(spark):
    """A zero-probe corpus yields NaN fp_rate (0/0 IEEE division) —
    NaN compares false against the target in Python, Spark, and DuckDB
    alike, so it must neither qualify nor crash; NULL likewise."""
    c = _curve(spark, [(8_192, float("nan")), (16_384, None), (65_536, 0.001)])
    assert dedup.bloom_choose_m(c, GRID) == 65_536
    c2 = _curve(spark, [(8_192, float("nan")), (16_384, None), (65_536, None)])
    assert dedup.bloom_choose_m(c2, GRID) == 65_536  # fallback


def test_d24_tier_attribution_laws(spark):
    """Cumulative = prefix-sum of marginals, and the cascade must flag
    SOMETHING on the canonical corpus (near-dups are planted in the
    synthetic data). The exact tier's non-vacuous case — a verbatim
    copy — lives in the documents NULL sweep's planted corpus, where
    d24's hash parity covers it. Tier 0 (the d22 Bloom gate at doc
    grain, VERDICT r10 #5) leads the cascade."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["d24_dedup_tier_attribution"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["tier"],
    )
    assert [r["tier"] for r in rows] == [
        "0_bloom_decontam",
        "1_exact",
        "2_neardup",
        "3_containment",
    ]
    cum = 0
    for r in rows:
        assert r["n_flagged_new"] >= 0
        cum += r["n_flagged_new"]
        assert r["n_flagged_cum"] == cum, rows
    assert cum > 0, "cascade flagged nothing — corpus fixture degenerate"


def test_d24_plan_is_truncated(spark):
    """r14 optimization pin: the four tier flag sets are materialized
    ONCE per invocation (localCheckpoint) instead of being re-planned
    into every later tier's anti-joins and every count leg — the lazy
    form built an ~800-node plan (~1 min of Catalyst time) that
    re-evaluated the bloom set up to 16x. The returned frame must plan
    as a bounded union over ExistingRDD scans: no Exchange survives."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES

    df = QUERIES["d24_dedup_tier_attribution"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "Exchange" not in plan, plan
