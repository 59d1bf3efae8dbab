"""IVF ANN quality gate: recall@5 vs exact brute force must beat the
sign-LSH multiprobe path (a03) on the same corpus/queries — the reason
IVF exists is that data-adaptive cells recover what fixed axis-sign
hyperplanes lose. Random 64-dim embeddings are close to the
information-theoretic worst case, so the bar is relative, not absolute."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as E
from end_to_end_sales_etl_de_project_spark.operators import similarity
from end_to_end_sales_etl_de_project_spark.plans.documents import _ann_baselines
from end_to_end_sales_etl_de_project_spark.sources.tables import load_table

K = 5
N_QUERIES = 8


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(approx: dict[int, set[int]], exact: dict[int, set[int]]) -> float:
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    return hits / sum(len(nbrs) for nbrs in exact.values())


def test_ivf_recall_beats_lsh_multiprobe(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    exact = _topk_sets(similarity.brute_force_topk(emb, queries, k=K))
    lsh = _topk_sets(similarity.lsh_topk_multiprobe(emb, queries, k=K))
    ivf = _topk_sets(
        similarity.ivf_topk(emb, queries, similarity.ivf_train(emb, similarity.N_CENTROIDS), k=K)
    )

    r_lsh, r_ivf = _recall(lsh, exact), _recall(ivf, exact)
    # a03 measured 9/40 on this corpus in round 1; IVF probing 4/16
    # cells scans ~25% of the corpus chosen by data proximity
    assert r_ivf > r_lsh, f"ivf recall {r_ivf:.3f} <= lsh multiprobe {r_lsh:.3f}"
    assert r_ivf >= 0.3, f"ivf recall {r_ivf:.3f} below floor"


def test_pq_rerank_recall(spark, sf_dir):
    """PQ with exact rerank: the shortlist is built from compressed
    codes, so recall is bounded by shortlist quality — it must clear
    the same relative bar as IVF (beat fixed-hyperplane LSH) and the
    reranked scores must be EXACT cosines (every returned (query,
    neighbor) score equals the brute-force score)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    exact_df = similarity.brute_force_topk(emb, queries, k=K)
    exact = _topk_sets(exact_df)
    pq_df = similarity.pq_topk(emb, queries, similarity.pq_train(emb), k=K)
    pq = _topk_sets(pq_df)

    lsh = _topk_sets(similarity.lsh_topk_multiprobe(emb, queries, k=K))
    r_pq, r_lsh = _recall(pq, exact), _recall(lsh, exact)
    assert r_pq > r_lsh, f"pq recall {r_pq:.3f} <= lsh multiprobe {r_lsh:.3f}"

    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact_df.collect()
    }
    for r in pq_df.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:  # shared neighbors must carry identical scores
            assert r["cosine"] == exact_scores[key], key


def test_ivf_scan_fraction_bounded(spark, sf_dir):
    """The efficiency claim: candidates per query ≈ n_probe/n_centroids
    of the corpus, not the whole corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = similarity.ivf_train(emb, 16)
    n = emb.count()
    vq = similarity._vq_col()
    assigned = emb.select(
        F.array_max(
            similarity._centroid_sims_q(vq, similarity._aq_col(vq), cents)
        )["cid"].alias("cid")
    )
    sizes = {r["cid"]: r["cnt"] for r in assigned.groupBy("cid").agg(F.count("*").alias("cnt")).collect()}
    # no empty training: every centroid keeps a cell; worst cell must not
    # swallow the corpus (that would be the all-pairs shape again)
    assert max(sizes.values()) < 0.5 * n, sizes


def test_a21_full_width_leg_scores_a04(spark, sf_dir):
    """a04 and a21's widest leg share the IVF cell/probe build and the
    exact ranking kernel, so that leg's row is a04's output scored
    against the same session ground truth (``_ann_baselines``)."""
    exact, _ = _ann_baselines(spark, sf_dir)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a04_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in E.queries()["a04_ann_ivf"](spark, sf_dir).collect()
    }
    [row] = [
        r
        for r in E.queries()["a21_ivf_recall_curve"](spark, sf_dir).collect()
        if r["n_probe"] == max(similarity.PROBE_COUNTS)
    ]
    assert row["n_exact"] == len(exact_pairs)
    assert row["n_hit"] == len(exact_pairs & a04_pairs) > 0


def test_topk_pairs_are_distinct(spark, sf_dir):
    """ADVICE r6: the a12/a13 audits count hits via left_semi on the
    Spark side but inner-join pairs in the SQL twin — equal only while
    every top-k table is (query_id, neighbor_id)-distinct. Pin that
    invariant here so a future multiprobe/rerank change emitting
    duplicate pairs breaks THIS test instead of silently breaking
    driver hash parity."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = similarity.ivf_train(emb, similarity.N_CENTROIDS)
    books = similarity.pq_train(emb)
    for name, fn in (
        ("brute_force", similarity.brute_force_topk),
        ("lsh", similarity.lsh_topk),
        ("lsh_multiprobe", similarity.lsh_topk_multiprobe),
        ("ivf", lambda e, q, k: similarity.ivf_topk(e, q, cents, k=k)),
        ("pq", lambda e, q, k: similarity.pq_topk(e, q, books, k=k)),
    ):
        pairs = fn(emb, queries, k=K).select("query_id", "neighbor_id")
        total = pairs.count()
        assert total == pairs.distinct().count(), f"{name} emits duplicate pairs"


def test_numpy_seam_equals_expression_reference(spark, sf_dir):
    """The r9 Arrow-batched ANN seams (_with_cells_np / _with_codes_np
    / _with_lut_np) must be BIT-identical to the expression-level
    reference semantics (_centroid_sims_q / _pq_codes_col /
    _pq_recon_sq_col) they replaced on the hot path — cell ids, probe
    order (ties → highest id), codes, reconstruction norms, and ADC
    table entries. This is the contract that lets the oracle SQL twins
    stay written against the expression semantics."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.ivf_train(emb, 16)
    books = similarity.pq_train(emb)
    sub = similarity.DIM // len(books)
    staged = similarity._valid_vecs(emb).select(
        "vec_id", similarity._vq_col().alias("__vq")
    ).withColumn("__aq", similarity._aq_col(F.col("__vq")))

    ref_cells = {
        r["vec_id"]: r["cid"]
        for r in staged.select(
            "vec_id",
            F.array_max(
                similarity._centroid_sims_q(F.col("__vq"), F.col("__aq"), cents)
            )["cid"].alias("cid"),
        ).collect()
    }
    np_cells = {
        r["vec_id"]: r["cid"]
        for r in similarity._with_cells_np(
            staged.select("vec_id", "__vq"), cents
        ).collect()
    }
    assert np_cells == ref_cells

    ref_probes = {
        r["vec_id"]: list(r["p"])
        for r in staged.select(
            "vec_id",
            F.transform(
                F.slice(
                    F.reverse(
                        F.array_sort(
                            similarity._centroid_sims_q(
                                F.col("__vq"), F.col("__aq"), cents
                            )
                        )
                    ),
                    1,
                    4,
                ),
                lambda s: s["cid"],
            ).alias("p"),
        ).collect()
    }
    np_probes = {
        r["vec_id"]: list(r["p"])
        for r in similarity._with_cells_np(
            staged.select("vec_id", "__vq"), cents, n_probe=4, out_col="p"
        ).collect()
    }
    assert np_probes == ref_probes

    ref_codes = {
        r["vec_id"]: (list(r["codes"]), r["recon_sq"])
        for r in staged.select(
            "vec_id",
            similarity._pq_codes_col(F.col("__vq"), books, sub).alias("codes"),
        )
        .withColumn(
            "recon_sq", similarity._pq_recon_sq_col(F.col("codes"), books)
        )
        .collect()
    }
    np_codes = {
        r["vec_id"]: (list(r["codes"]), r["recon_sq"])
        for r in similarity._with_codes_np(
            staged.select("vec_id", "__vq"), books, with_recon_sq=True
        ).collect()
    }
    assert np_codes == ref_codes

    # LUT entries equal the expression-level subspace dots
    lut_rows = similarity._with_lut_np(
        staged.select("vec_id", F.col("__vq").alias("q_vq")).limit(4), books
    ).collect()
    for r in lut_rows:
        vq = list(r["q_vq"])
        for s, book in enumerate(books):
            qs = vq[s * sub : (s + 1) * sub]
            for c_i, cw in enumerate(book):
                want = sum(int(a) * int(b) for a, b in zip(qs, cw))
                assert r["__lut"][s][c_i] == want
