"""LSH hot-bucket guard: a boilerplate signature shared by m docs must
not create an O(m²) candidate blowup inside one (band, key) bucket."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.operators import dedup


def _corpus(spark, n_boiler: int):
    """n_boiler identical boilerplate docs + one genuine near-dup pair
    + one unrelated doc."""
    boiler = "the quick brown fox jumps over the lazy dog again and again " * 3
    greek = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    )
    near_a = greek + " one"
    near_b = greek + " two"
    other = "completely different words about rivers mountains oceans forests deserts plains"
    rows = [(i, boiler) for i in range(n_boiler)]
    rows += [(1000, near_a), (1001, near_b), (2000, other)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_guard_drops_boilerplate_bucket(spark):
    docs = _corpus(spark, n_boiler=100)
    sh = dedup.shingle_index(docs, "doc_id", "text")
    sigs = dedup.minhash_signatures(sh)

    unguarded = dedup.lsh_candidate_pairs(sigs, 4, 4, max_bucket_size=None)
    guarded = dedup.lsh_candidate_pairs(sigs, 4, 4, max_bucket_size=32)

    # identical docs share all 4 band buckets -> 100*99/2 pairs unguarded
    assert unguarded.count() >= 100 * 99 // 2
    g = {(r["doc_a"], r["doc_b"]) for r in guarded.collect()}
    assert (1000, 1001) in g  # genuine near-dup survives
    assert all(a >= 1000 for a, _ in g), "boilerplate pairs must be dropped"


def test_guard_off_below_threshold(spark):
    # with fewer boilerplate copies than the cap, guard changes nothing
    docs = _corpus(spark, n_boiler=5)
    sh = dedup.shingle_index(docs, "doc_id", "text")
    sigs = dedup.minhash_signatures(sh)
    a = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(sigs, 4, 4, max_bucket_size=None).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(sigs, 4, 4, max_bucket_size=32).collect()
    }
    assert a == b


def test_stop_shingle_cap_removes_boilerplate_pairs(spark):
    """df-capped Jaccard: docs related ONLY through a boilerplate
    shingle stop pairing; genuine near-dups (rare shingles) survive
    with their Jaccard computed over the reduced universe."""
    greek = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    )
    footer = " copyright footer boilerplate"
    rows = [(i, f"unique words row{i} anchor{i} filler{i} end{i}" + footer) for i in range(30)]
    rows += [(1000, greek + " one"), (1001, greek + " two")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingle_index(docs, "doc_id", "text")

    uncapped = {
        (r["doc_a"], r["doc_b"]) for r in dedup.jaccard_pairs(sh, 0.0).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(dedup.df_capped(sh, 5), 0.0).collect()
    }
    # footer shingles relate every boilerplate doc pairwise when uncapped
    assert any(a < 30 and b < 30 for a, b in uncapped)
    # capped: those pairs vanish; the genuine near-dup pair survives
    assert not any(a < 30 and b < 30 for a, b in capped)
    assert (1000, 1001) in capped


def test_containment_cap_removes_boilerplate_pairs(spark):
    """df-capped containment (d16's guard, VERDICT r5 #4): docs related
    ONLY through a hot boilerplate shingle must stop minting O(df²)
    candidate pairs; a genuine embedded-doc pair (rare shingles)
    survives with containment computed over the reduced universe."""
    greek = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    )
    footer = " copyright footer boilerplate"
    rows = [
        (i, f"unique words row{i} anchor{i} filler{i} end{i}" + footer)
        for i in range(30)
    ]
    # small doc fully embedded in a larger one: containment ~1.0
    rows += [(1000, greek), (1001, greek + " plus extra trailing context words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingle_index(docs, "doc_id", "text")

    # threshold 0: the guard is about CANDIDATE generation (the O(df²)
    # equi-join rows exist before any threshold filters them)
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.containment_pairs(sh, 0.0).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.containment_pairs(dedup.df_capped(sh, 5), 0.0).collect()
    }
    # footer shingles relate every boilerplate doc pairwise when uncapped
    assert any(a < 30 and b < 30 for a, b in uncapped)
    # capped: those pairs vanish; the genuine embedded pair survives
    assert not any(a < 30 and b < 30 for a, b in capped)
    assert (1000, 1001) in capped


def test_containment_capped_sql_matches_flag(spark):
    """The guard is mirrored in the SQL twin: max_df emits the HAVING
    df-cap CTE; without it the cap is absent."""
    sql_on = dedup.containment_pairs_sql(max_df=5)
    sql_off = dedup.containment_pairs_sql()
    assert "HAVING COUNT(*) <= 5" in sql_on
    assert "HAVING" not in sql_off


def test_end_to_end_pairs_guarded_sql_matches(spark):
    """The guard is mirrored in the SQL twin: default-parameter SQL
    contains the HAVING clause; guard-off SQL does not."""
    sql_on = dedup.minhash_lsh_pairs_sql("doc_id", "text")
    sql_off = dedup.minhash_lsh_pairs_sql("doc_id", "text", max_bucket_size=None)
    assert f"WHERE bs.n <= {dedup.DEFAULT_MAX_BUCKET_SIZE}" in sql_on
    assert "bucket_sizes" not in sql_off


def test_lsh_pairs_subset_of_exact_jaccard(spark, sf_dir):
    """Containment law: every MinHash-LSH verified pair (d03) must
    appear in the exact all-pairs result (d02) with the IDENTICAL
    jaccard value — LSH may miss pairs (that's the probabilistic
    trade), but a pair it reports must be exactly right."""
    from end_to_end_sales_etl_de_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_index(docs, "doc_id", "text")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(sh, 0.5).collect()
    }
    sigs = dedup.minhash_signatures(sh)
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(sh, sigs).collect()
    }
    for pair, j in lsh.items():
        assert pair in exact, f"LSH invented pair {pair}"
        assert j == exact[pair], f"jaccard mismatch for {pair}"


def test_minhash_estimate_audit_bounds(spark):
    """d09 estimator laws on planted docs: identical texts estimate and
    measure Jaccard 1.0 with zero error; estimates are multiples of
    1/n_hashes inside [0, 1]; abs_err is consistent with its parts."""
    from end_to_end_sales_etl_de_project_spark.operators.dedup import (
        minhash_estimate_audit,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows = [
        (1, shared),
        (2, shared),                       # exact duplicate of 1
        (3, shared + "different tail words entirely here now"),
        (4, "unrelated content words only once each time period"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingle_index(docs, "doc_id", "text")
    out = minhash_estimate_audit(sh, dedup.minhash_signatures(sh))
    rows_out = {(r["doc_a"], r["doc_b"]): r for r in out.collect()}
    assert rows_out, "no candidate pairs — planted dups not detected"
    exact = rows_out[(1, 2)]
    assert exact["est_jaccard"] == 1.0 and exact["jaccard"] == 1.0
    assert exact["abs_err"] == 0.0
    for r in rows_out.values():
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert abs(r["est_jaccard"] * 16 - round(r["est_jaccard"] * 16)) < 1e-12
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["jaccard"])) < 1e-15


def test_incremental_dedup_decisions(spark):
    """d10 on planted duplicates: discover the hash split first, then
    plant identical texts across and within the sides and pin each
    decision + canonical resolution."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.functions.hashing import h60
    from end_to_end_sales_etl_de_project_spark.operators.dedup import (
        incremental_dedup,
    )

    ids = spark.range(0, 200).select(
        F.col("id"),
        F.pmod(h60(F.concat(F.lit("ingest-v1"), F.col("id").cast("string"))), F.lit(100)).alias("b"),
    )
    sides = {r["id"]: r["b"] for r in ids.collect()}
    corpus_ids = [i for i, b in sides.items() if b < 80]
    batch_ids = [i for i, b in sides.items() if b >= 80]
    assert len(corpus_ids) >= 3 and len(batch_ids) >= 3
    c0, b0, b1, b2 = corpus_ids[0], batch_ids[0], batch_ids[1], batch_ids[2]
    b_lo, b_hi = min(b1, b2), max(b1, b2)
    texts = {i: f"unique text number {i}" for i in sides}
    texts[b0] = texts[c0]          # cross-side duplicate
    texts[b_hi] = texts[b_lo]      # within-batch duplicate
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    out = {r["doc_id"]: r for r in incremental_dedup(docs).collect()}
    assert set(out) == set(batch_ids)  # one row per batch doc, none for corpus
    assert out[b0]["decision"] == "dup_of_corpus"
    assert out[b0]["canonical_id"] == c0
    assert out[b_hi]["decision"] == "dup_in_batch"
    assert out[b_hi]["canonical_id"] == b_lo
    assert out[b_lo]["decision"] == "new"
    assert out[b_lo]["canonical_id"] == b_lo


def test_prefix_blocking_fails_loudly_on_short_text(spark, sf_dir):
    """d15's 16-char block width is an enforced precondition (ADVICE
    r5): a corpus containing a text shorter than the block width must
    raise at execution, never silently miss its prefix pairs."""
    import pytest

    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES

    # the shipped corpus satisfies the precondition: runs clean
    QUERIES["d15_prefix_duplicates"](spark, sf_dir).collect()

    # a short text must raise from the block-key expression
    import tempfile

    from end_to_end_sales_etl_de_project_spark.sources.tables import load_table

    with tempfile.TemporaryDirectory() as tmp:
        docs = load_table(spark, sf_dir, "documents").limit(10).select(
            "doc_id", "text", "source"
        )
        short = spark.createDataFrame(
            [(999999, "tiny", "unit")], "doc_id long, text string, source string"
        )
        docs.unionByName(short).write.parquet(f"{tmp}/documents.parquet")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            load_table(spark, sf_dir, t).limit(1).write.parquet(f"{tmp}/{t}.parquet")
        with pytest.raises(Exception, match="16 chars"):
            QUERIES["d15_prefix_duplicates"](spark, tmp).collect()


def test_skewed_bucket_prunes_and_balances_partitions(spark):
    """VERDICT r6 #6: the 100 TB skew story for the LSH hot paths
    (d03/d11/d16) is guard-first, AQE-second. Plant a pathologically
    skewed bucket (one boilerplate signature shared by 400 docs → one
    (band, key) bucket holding 400 of ~1600 bucket rows) and pin BOTH
    halves of the claim: (a) the guard measurably prunes >0 hot
    buckets before the candidate self-join, and (b) the guarded join
    completes with no straggler partition holding >10x the median
    non-empty partition's rows — the O(m²) mega-bucket never reaches
    the shuffle."""
    import statistics

    docs = _corpus(spark, n_boiler=400)
    sh = dedup.shingle_index(docs, "doc_id", "text")
    sigs = dedup.minhash_signatures(sh)

    # (a) the guard's own drop-list is non-empty on this fixture
    buckets = dedup._band_bucket_rows(sigs, 4, 4)
    hot = (
        buckets.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 32)
    )
    n_hot = hot.count()
    assert n_hot > 0, "fixture failed to create a hot bucket"
    # all 4 bands of the identical docs collapse to the same 4 buckets
    assert n_hot <= 4

    # (b) guarded candidate join: per-partition row counts stay flat
    guarded = dedup.lsh_candidate_pairs(sigs, 4, 4, max_bucket_size=32)
    sizes = [
        n for n in guarded.rdd.glom().map(len).collect() if n > 0
    ]
    if len(sizes) > 1:
        med = statistics.median(sizes)
        assert max(sizes) <= 10 * max(med, 1), (
            f"straggler partition: sizes={sorted(sizes, reverse=True)[:5]}"
        )
    # and the unguarded plan really would have been quadratic — the
    # fixture is a real threat, not a strawman
    assert dedup.lsh_candidate_pairs(sigs, 4, 4, max_bucket_size=None).count() >= (
        400 * 399 // 2
    )


def test_substring_oracle_ceiling_fails_loudly():
    """The d17 DuckDB oracle samples positions from a fixed ceiling
    (generate_series can't take lateral bounds): a doc longer than the
    ceiling must raise via the guard CTE, never silently drop windows
    and surface as a mystery driver hash mismatch (ADVICE r7)."""
    import duckdb
    import pytest

    con = duckdb.connect()
    long_doc = "abcdefgh" * 40  # 320 chars
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        f"(1, '{long_doc}'), (2, '{long_doc}')) t(doc_id, text)"
    )
    # ceiling below the doc length -> loud error
    with pytest.raises(Exception, match="position ceiling"):
        con.execute(
            dedup.substring_dup_groups_sql(max_len=128)
        ).fetchall()
    # ceiling above -> runs clean and still finds the planted dup spans
    rows = con.execute(
        dedup.substring_dup_groups_sql(max_len=1024)
    ).fetchall()
    assert rows and all(r[1] == 2 for r in rows)
