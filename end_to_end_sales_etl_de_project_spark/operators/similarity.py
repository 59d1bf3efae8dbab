"""Embedding similarity search: brute-force cosine top-k (the exact
baseline) and the approximate candidate paths — sign-LSH buckets,
multiprobe LSH, IVF cells and PQ codes — all ranked by one exact
kernel.

The ``embeddings`` table carries ``embedding array<float>`` (dim 64).
Cosine is a left-to-right sequential sum of per-dimension double
products in BOTH engines: Spark uses ``aggregate(zip_with(...))`` (a
sequential fold — and ~7x faster end-to-end than an unrolled 64-term
expression, whose janino codegen dominated); the DuckDB oracle uses the
explicit unrolled sum, which adds in the same order. Same IEEE
operation sequence ⇒ bit-identical results (engine-internal kernels
like ``list_cosine_similarity`` use float intermediates and would
drift).

One kernel: every top-k path projects its query and corpus sides with
:func:`_side` and ends in :func:`_top_k_exact` — drop the self pair,
exact cosine, ``row_number()`` over (cosine desc, neighbor_id), keep
rank ≤ k. The paths differ only in which (query, neighbor) pairs they
hand the kernel:

- Brute force is a broadcast nested-loop: the (small) query set is
  broadcast, the corpus streams — O(|corpus| x |queries|) with no
  shuffle of the corpus. Right answer up to thousands of queries; the
  baseline for recall measurement.
- Sign-LSH buckets vectors by the sign pattern of the first
  ``SIG_BITS`` dimensions (axis-aligned random-hyperplane LSH — for
  already-whitened/random embeddings axis signs ARE random
  hyperplanes). Candidates = same bucket → the join is an equi-join on
  an 8-bit key; work drops by the bucket-occupancy factor (~256x here).
  Multiprobe adds the Hamming-distance-1 buckets.
- IVF replaces the signature with nearest-centroid cells on a
  quantized-integer grid (:func:`_ivf_cells_and_probes` builds the
  corpus cells and the ranked query probes once for a04 and a21); PQ
  shortlists by approximate codebook scores and hands the shortlist to
  the kernel for the exact rerank.

Every candidate rule is deterministic, so even the ANN paths are
oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.checkpoints import scoped_checkpoint
from end_to_end_sales_etl_de_project_spark.functions.scalar import FIXED_POINT_SCALE

DIM = 64
SIG_BITS = 8
TOP_K = 5
N_CENTROIDS = 16
KMEANS_ITERATIONS = 2
PROBE_COUNTS = (1, 2, 4)
# The ANN oracles' query set, the neighbors per node of the kNN graph
# (a09/a14/a16/a24), and the cosine a near-duplicate pair (d05) or a
# contaminating train vector (d13) must reach.
QUERY_PRED = "q.vec_id < 8"
KNN_GRAPH_K = 3
NEARDUP_MIN_COSINE = 0.25
DECONTAM_MIN_COSINE = 0.25


def _dot_col(a: Column | str, b: Column | str, dim: int = DIM) -> Column:
    """Sequential-fold dot product in double over the first ``dim``
    elements (sliced so the Spark side computes exactly the terms the
    unrolled SQL twin does — a dim narrower than the array must not
    silently diverge)."""
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(
        F.slice(ac, 1, dim), F.slice(bc, 1, dim),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm_col(dim: int = DIM) -> Column:
    return F.sqrt(_dot_col("embedding", "embedding", dim))


def _sig_col() -> Column:
    """The ``SIG_BITS``-bit sign signature of ``embedding``."""
    out = F.lit(0)
    for b in range(SIG_BITS):
        out = out + F.when(F.col("embedding")[b] >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return out


def _dot_sql(a: str, b: str, dim: int) -> str:
    return " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    )


def _norm_sql(a: str, dim: int) -> str:
    return (
        "sqrt("
        + " + ".join(
            f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({a}[{i + 1}] AS DOUBLE)"
            for i in range(dim)
        )
        + ")"
    )


def _sig_sql(a: str) -> str:
    return " + ".join(
        f"CASE WHEN {a}[{b + 1}] >= 0 THEN {1 << b} ELSE 0 END" for b in range(SIG_BITS)
    )


def with_norm(emb: DataFrame, dim: int = DIM) -> DataFrame:
    """Attach the L2 norm as a column (sequential fold — bit-equal to
    the SQL twin's unrolled sum)."""
    return emb.withColumn("norm", _norm_col(dim))


def _side(df: DataFrame, role: str, *extra: Column, dim: int = DIM) -> DataFrame:
    """One side of a candidate join: ``role`` ``"q"`` (query) or ``"n"``
    (corpus neighbor). ``vec_id`` becomes ``query_id``/``neighbor_id``,
    the vector and its norm become ``{role}_emb``/``{role}_norm``, and
    ``extra`` columns (a signature, a quantized vector) ride along."""
    return with_norm(df, dim=dim).select(
        F.col("vec_id").alias("query_id" if role == "q" else "neighbor_id"),
        F.col("embedding").alias(f"{role}_emb"),
        F.col("norm").alias(f"{role}_norm"),
        *extra,
    )


def _top_k_exact(pairs: DataFrame, k: int, dim: int = DIM) -> DataFrame:
    """The exact ranking kernel every top-k path ends in: drop the self
    pair, score each (query, neighbor) candidate of ``pairs`` (built from
    two :func:`_side` projections) by exact cosine, and keep the ``k``
    best per query by (cosine desc, neighbor_id) — a total order, so the
    result is deterministic. Output: (query_id, neighbor_id, rank,
    cosine)."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    cosine = _dot_col("q_emb", "n_emb", dim) / (F.col("q_norm") * F.col("n_norm"))
    return (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = DIM,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (excluding itself), ranked by (similarity desc, vec_id).

    ``queries`` must have (vec_id, embedding); it is broadcast — the
    corpus is never shuffled.
    """
    q = _side(queries, "q", dim=dim)
    n = _side(emb, "n", dim=dim)
    return _top_k_exact(F.broadcast(q).crossJoin(n), k, dim)


def brute_force_topk_sql() -> str:
    dot = _dot_sql("q.embedding", "n.embedding", DIM)
    qn = _norm_sql("q.embedding", DIM)
    nn = _norm_sql("n.embedding", DIM)
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         ({dot}) / (({qn}) * ({nn})) AS cosine
  FROM embeddings q, embeddings n
  WHERE ({QUERY_PRED}) AND q.vec_id <> n.vec_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket, then exact cosine rank within candidates. Equi-join on the
    signature instead of a cross join — the 100 TB shape."""
    sig = _sig_col().alias("sig")
    q = _side(queries, "q", sig)
    n = _side(emb, "n", sig)
    return _top_k_exact(F.broadcast(q).join(n, "sig"), k)


def lsh_topk_sql() -> str:
    dot = _dot_sql("q.embedding", "n.embedding", DIM)
    qn = _norm_sql("q.embedding", DIM)
    nn = _norm_sql("n.embedding", DIM)
    qs = _sig_sql("q.embedding")
    ns = _sig_sql("n.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         ({dot}) / (({qn}) * ({nn})) AS cosine
  FROM embeddings q, embeddings n
  WHERE ({QUERY_PRED}) AND q.vec_id <> n.vec_id AND ({qs}) = ({ns})
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def embedding_neardup_pairs(emb: DataFrame) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ ``NEARDUP_MIN_COSINE``): candidates are
    vectors sharing (block, sign-LSH bucket), then exact cosine verify.

    Scale shape: the join is an equi-join on (block, sig) — NEVER the
    all-pairs-within-block cross join (which is quadratic in block size
    and a scale killer when one label dominates). Expected bucket
    occupancy is |block| / 2^sig_bits, so pairwise work drops by
    ~2^sig_bits; ``SIG_BITS`` is the recall/cost dial (candidates that
    land in different sign buckets are missed — acceptable for
    near-DUP detection, where targets have cosine near 1 and thus
    nearly always share the sign pattern). Residual hot buckets are
    the same problem as LSH banding and take the same cap-style guard
    (operators/dedup.lsh_candidate_pairs).

    Deterministic (sign bucketing + fixed-order fold) ⇒ fully
    oracle-checked; the threshold is set from the corpus so the check
    is non-vacuous (random 64-dim embeddings top out near cosine 0.4
    within sign buckets — a 0.8 threshold would hash-match
    empty-vs-empty and prove nothing).
    """
    sig = _sig_col()
    e = with_norm(emb)
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.col("label").alias("blk"),
        sig.alias("sig"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        F.col("label").alias("blk"),
        sig.alias("sig"),
    )
    dot = _dot_col("emb_a", "emb_b")
    return (
        a.join(b, ["blk", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("norm_a") * F.col("norm_b"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_MIN_COSINE)
    )


def embedding_neardup_pairs_sql() -> str:
    dot = _dot_sql("a.embedding", "b.embedding", DIM)
    an = _norm_sql("a.embedding", DIM)
    bn = _norm_sql("b.embedding", DIM)
    sa = _sig_sql("a.embedding")
    sb = _sig_sql("b.embedding")
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ({dot}) / (({an}) * ({bn})) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND ({sa}) = ({sb}) AND a.vec_id < b.vec_id
WHERE ({dot}) / (({an}) * ({bn})) >= {NEARDUP_MIN_COSINE}
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: nearest-centroid partitioning
# ---------------------------------------------------------------------------
#
# Round-9 promotion (VERDICT r8 #4): the k-means interiors ride the
# repo's established quantized-integer grid (the t30/a08/t34
# ``round(x*scale)`` trick), which makes BOTH training and assignment
# bit-deterministic and exactly SQL-expressible:
#
# - vectors quantize once to ``v_q = round(v * 2^20)`` BIGINTs (the
#   *2^20 multiply is exact — power of two — so the only rounding is
#   ROUND itself, half-away-from-zero in both engines);
# - every centroid similarity is ``T / sqrt(double(A) * double(B))``
#   where T = Σ v_q·c_q, A = Σ v_q², B = Σ c_q² are EXACT integers
#   (order-free sums — |v|≤0.53 ⇒ every sum < 2^45, far under the
#   2^53 double-exact ceiling), so the double ops are the same two
#   instructions in both engines;
# - the Lloyd mean update keeps centroids ON the grid:
#   ``c = sign(s)·((2|s|+n) // (2n))`` — round-half-away integer
#   division of the exact integer sum, reproduced verbatim by the
#   DuckDB twin (``//`` is floor division, operands kept positive);
# - empty cells keep their previous centroid, ties break by highest
#   centroid id in both engines.
#
# Recall-wise the 2^-20 grid is a ulp-scale perturbation (the recall
# gates in tests/test_ivf_recall.py are unchanged); determinism-wise it
# moves a04/a05 from rows-only to hash-exact driver oracles.

QUANT_SCALE = 1 << 20


def _valid_vecs(emb: DataFrame) -> DataFrame:
    """Rows an ANN index can hold: non-NULL id, non-NULL full-length
    vector with NO NULL ELEMENT in the first ``DIM`` positions. The
    element-nullity clause is load-bearing (ADVICE r9): a full-length
    vector with a NULL element passes the size gate but would reach
    the numpy seams as a None→int64 cast (garbage codes) while the
    DuckDB twins NULL-propagate it out of every distance — the
    embeddings NULL sweep plants exactly this row. The SQL twins apply
    the identical predicate (``list_filter`` over the same slice)."""
    return emb.filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") >= DIM)
        & ~F.exists(F.slice(F.col("embedding"), 1, DIM), lambda x: x.isNull())
    )


def _vq_col() -> Column:
    """``embedding`` on the quantized grid: its first ``DIM`` elements
    times ``QUANT_SCALE``, rounded to BIGINT."""
    return F.transform(
        F.slice(F.col("embedding"), 1, DIM),
        lambda x: F.round(x.cast("double") * F.lit(float(QUANT_SCALE))).cast("bigint"),
    )


def _aq_col(vq: Column) -> Column:
    """Guarded (0→1) squared L2 of a quantized vector — exact BIGINT."""
    a = F.aggregate(
        vq, F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
    )
    return F.when(a == 0, F.lit(1).cast("bigint")).otherwise(a)


def _int_mean(s: int, n: int) -> int:
    """Round-half-away-from-zero integer mean — the exact arithmetic
    the SQL twin runs: (2|s|+n) // (2n), sign re-applied (operands kept
    positive so python //, DuckDB // and truncating division agree)."""
    s, n = int(s), int(n)
    q = (2 * abs(s) + n) // (2 * n)
    return -q if s < 0 else q


def _centroid_sims_q(
    vq: Column, aq: Column, cents_q: list[list[int]]
) -> Column:
    """Array of (sim, cid) structs of a QUANTIZED vector against every
    quantized centroid. sim = T / sqrt(double(A)·double(B)) with
    integer T/A/B — bit-deterministic and bit-equal to the SQL twin.
    Struct order (sim first) makes array_max/array_sort rank by
    similarity with centroid id as the deterministic tie-break. Built
    as ONE ``transform`` lambda over an array-of-arrays literal instead
    of k separately-unrolled folds: the dot expression appears once in
    the plan (evaluated k times at runtime), keeping the compiled tree
    k-fold smaller — with k=16 the per-job planning overhead was the
    dominant cost of IVF training on a small corpus (measured r5:
    2.6-4.5 s/train at sf0.1 with unrolled folds)."""
    cents_lit = F.array(
        *[
            F.array(*[F.lit(int(x)).cast("bigint") for x in c])
            for c in cents_q
        ]
    )
    bs = [max(sum(int(x) * int(x) for x in c), 1) for c in cents_q]
    bs_lit = F.array(*[F.lit(float(b)) for b in bs])

    def entry(c: Column, i: Column) -> Column:
        t = F.aggregate(
            F.zip_with(vq, c, lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        sim = t.cast("double") / F.sqrt(
            aq.cast("double") * F.element_at(bs_lit, (i + 1).cast("int"))
        )
        return F.struct(sim.alias("sim"), i.cast("int").alias("cid"))

    return F.transform(cents_lit, entry)


def _with_cells_np(
    df: DataFrame,
    cents_q: list[list[int]],
    vq_col: str = "__vq",
    n_probe: int | None = None,
    out_col: str = "cid",
) -> DataFrame:
    """Vectorized twin of the :func:`_centroid_sims_q` consumers: adds
    the argmax cell id (``n_probe=None``) or the top-``n_probe`` probe
    cell ids (``array<int>``) to ``df`` via one Arrow-batched int64
    matmul per batch — the m07/t34 numpy template applied to the ANN
    hot path, where the interpreted per-row HOF fold (k x dim lambda
    evaluations per vector) was measured at ~1.75 ms/row vs ~µs for
    the matmul (PERF.md round 9).

    Bit-compatibility is by CONSTRUCTION, not tolerance: quantization
    (the only rounding) stays JVM-side in ``vq_col``; here T = vq·c and
    A = Σvq² are exact int64 (|vq| ≤ 2^20·√dim ⇒ sums < 2^47, no
    overflow), promoted to float64 (< 2^53, exact) for the identical
    IEEE sqrt/divide the JVM evaluates; ties break to the HIGHEST cid
    exactly like the (sim, cid) struct order under array_max /
    reverse(array_sort). The udf is a closure (pickled by value, repo
    invariant); passthrough columns ride the Arrow batch untouched."""
    from pyspark.sql import types as T

    if n_probe is None:
        out_field = T.StructField(out_col, T.IntegerType())
    else:
        out_field = T.StructField(out_col, T.ArrayType(T.IntegerType()))
    out_schema = T.StructType(list(df.schema.fields) + [out_field])
    in_cols = [f.name for f in df.schema.fields]

    def assign_batches(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents_q, dtype=np.int64)  # k x dim
        k = C.shape[0]
        B = np.maximum((C * C).sum(axis=1), 1).astype(np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = pd.Series([], dtype="object")
                yield pdf
                continue
            V = np.stack([np.asarray(v, dtype=np.int64) for v in pdf[vq_col]])
            A = np.maximum((V * V).sum(axis=1), 1).astype(np.float64)
            sims = (V @ C.T).astype(np.float64) / np.sqrt(A[:, None] * B[None, :])
            if n_probe is None:
                # argmax returns the FIRST max; struct order favors the
                # LARGEST cid on ties — reverse the column axis
                cid = (k - 1) - np.argmax(sims[:, ::-1], axis=1)
                pdf[out_col] = cid.astype(np.int32)
            else:
                cids = np.arange(k)
                probes = [
                    cids[np.lexsort((-cids, -row))][:n_probe].astype(np.int32)
                    for row in sims
                ]
                pdf[out_col] = probes
            yield pdf

    return df.mapInPandas(assign_batches, out_schema)


def _with_codes_np(
    df: DataFrame,
    books: list[list[list[int]]],
    vq_col: str = "__vq",
    out_col: str = "codes",
    with_recon_sq: bool = False,
    with_err: bool = False,
) -> DataFrame:
    """Vectorized twin of :func:`_pq_codes_col`: per-subspace nearest-
    codeword ids as ``array<int>``, one int64 matmul per subspace per
    Arrow batch (same construction-exactness argument as
    :func:`_with_cells_np`; tie → highest code id). With
    ``with_recon_sq`` also emits :func:`_pq_recon_sq_col`'s guarded
    (0→1) reconstruction norm — Σ per-subspace codeword ||·||², exact
    int64 — and ``with_err`` the exact squared reconstruction error
    Σ(v_q − c_q)² (the a20 fold), both here instead of as literal-table
    expression trees because DRIVER-side plan analysis of those trees
    was the measured cost (PERF.md r9)."""
    from pyspark.sql import types as T

    out_fields = [T.StructField(out_col, T.ArrayType(T.IntegerType()))]
    if with_recon_sq:
        out_fields.append(T.StructField("recon_sq", T.LongType()))
    if with_err:
        out_fields.append(T.StructField("err_sq", T.LongType()))
    out_schema = T.StructType(list(df.schema.fields) + out_fields)

    def code_batches(batches):
        import numpy as np
        import pandas as pd

        Cs = [np.asarray(book, dtype=np.int64) for book in books]
        Bs = [
            np.maximum((C * C).sum(axis=1), 1).astype(np.float64) for C in Cs
        ]
        sqn = [(C * C).sum(axis=1) for C in Cs]  # int64 codeword norms
        sub = Cs[0].shape[1]
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = pd.Series([], dtype="object")
                if with_recon_sq:
                    pdf["recon_sq"] = pd.Series([], dtype="int64")
                if with_err:
                    pdf["err_sq"] = pd.Series([], dtype="int64")
                yield pdf
                continue
            V = np.stack([np.asarray(v, dtype=np.int64) for v in pdf[vq_col]])
            cols = []
            recon = np.zeros(len(pdf), dtype=np.int64)
            err = np.zeros(len(pdf), dtype=np.int64)
            for s, (C, B) in enumerate(zip(Cs, Bs)):
                Vs = V[:, s * sub : (s + 1) * sub]
                A = np.maximum((Vs * Vs).sum(axis=1), 1).astype(np.float64)
                sims = (Vs @ C.T).astype(np.float64) / np.sqrt(
                    A[:, None] * B[None, :]
                )
                k = C.shape[0]
                cid = (k - 1) - np.argmax(sims[:, ::-1], axis=1)
                cols.append(cid)
                recon += sqn[s][cid]
                if with_err:
                    d = Vs - C[cid]
                    err += (d * d).sum(axis=1)
            codes = np.stack(cols, axis=1).astype(np.int32)
            pdf[out_col] = list(codes)
            if with_recon_sq:
                pdf["recon_sq"] = np.maximum(recon, 1)
            if with_err:
                pdf["err_sq"] = err
            yield pdf

    return df.mapInPandas(code_batches, out_schema)


def _with_lut_np(
    df: DataFrame,
    books: list[list[list[int]]],
) -> DataFrame:
    """Per-QUERY ADC lookup table: ``array<array<bigint>>`` of
    dot(q_s, codeword) for every (subspace, codeword) — exact int64
    matmuls (same exactness argument as :func:`_with_cells_np`).
    Computed in the numpy seam rather than as 64 unrolled fold
    expressions because the DRIVER-side analysis of that literal tree
    was the measured pq_topk bottleneck (~4 s per fresh plan, PERF.md
    r9) — the data-side cost was never the problem."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("__lut", T.ArrayType(T.ArrayType(T.LongType())))]
    )

    def lut_batches(batches):
        import numpy as np
        import pandas as pd

        Cs = [np.asarray(book, dtype=np.int64) for book in books]
        sub = Cs[0].shape[1]
        for pdf in batches:
            if len(pdf) == 0:
                pdf["__lut"] = pd.Series([], dtype="object")
                yield pdf
                continue
            V = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q_vq"]])
            luts = [
                V[:, s * sub : (s + 1) * sub] @ C.T for s, C in enumerate(Cs)
            ]
            pdf["__lut"] = [
                [lut[i].tolist() for lut in luts] for i in range(len(pdf))
            ]
            yield pdf

    return df.mapInPandas(lut_batches, out_schema)


def ivf_train(
    emb: DataFrame,
    n_centroids: int,
) -> list[list[int]]:
    """Lloyd's k-means on cosine assignment over the quantized-integer
    grid: deterministic seeding (the ``n_centroids`` lowest vec_ids'
    quantized vectors), then ``KMEANS_ITERATIONS`` rounds of assign →
    per-dimension round-half-away integer mean (see the section
    comment). The model (k x dim ints) is control-plane sized and
    collected to the driver each round — the same shape as any
    distributed k-means; the DATA-side work per round is one scan +
    one groupBy of k*dim cells, each an exact integer SUM (map-side
    combinable, shuffle-order-free). Bit-deterministic ⇒ exactly
    reproduced by :func:`ivf_topk_sql`'s DuckDB twin (promoted from
    rows-only, VERDICT r8 #4)."""
    base = _valid_vecs(emb).select(
        "vec_id", _vq_col().alias("vq")
    )
    cents = [
        [int(x) for x in r["vq"]]
        for r in base.orderBy("vec_id").limit(n_centroids).collect()
    ]
    # a corpus smaller than n_centroids seeds fewer cells; clamp so the
    # rebuild below never indexes past the seeded list
    n_centroids = len(cents)
    if n_centroids == 0:
        raise ValueError("ivf_train: empty corpus — no centroids to seed")
    for _ in range(KMEANS_ITERATIONS):
        assigned = _with_cells_np(base.select("vq"), cents, vq_col="vq")
        cells = (
            assigned.select("cid", F.posexplode("vq").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for r in cells:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = _int_mean(r["s"], r["n"])
        # empty cells keep their previous centroid (standard practice)
        cents = [
            [by_cid[i][p] for p in range(DIM)] if i in by_cid else cents[i]
            for i in range(n_centroids)
        ]
    return cents


def _ivf_cells_and_probes(
    emb: DataFrame, queries: DataFrame, centroids: list[list[int]]
) -> tuple[DataFrame, DataFrame]:
    """The IVF index over one (corpus, query set, model): the corpus
    vectors in their nearest-centroid cell (neighbor_id, n_emb, n_norm,
    cid) and the queries with their ``max(PROBE_COUNTS)`` nearest cells
    ranked (query_id, q_emb, q_norm, probe_cids). ``_with_cells_np``
    orders probes sim-desc, cid-desc, so the probe set at width p is
    the first p entries. Quantization (the only rounding) runs
    JVM-side, then the k x dim sim fold runs as one Arrow-batched int64
    matmul per batch — the interpreted HOF fold was the measured ANN
    hot path (PERF.md r9)."""
    vq = _vq_col().alias("__vq")
    cells = _with_cells_np(_side(_valid_vecs(emb), "n", vq), centroids).select(
        "neighbor_id", "n_emb", "n_norm", "cid"
    )
    probes = _with_cells_np(
        _side(_valid_vecs(queries), "q", vq),
        centroids,
        n_probe=max(PROBE_COUNTS),
        out_col="probe_cids",
    ).select("query_id", "q_emb", "q_norm", "probe_cids")
    return cells, probes


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int = 5,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their
    nearest-``centroids`` cell (:func:`ivf_train`); each query probes its ``max(PROBE_COUNTS)``
    (4) nearest cells; exact cosine ranks the candidates.

    Same equi-join shape as the sign-LSH path (a02/a03) — corpus is
    never cross-joined — but cells adapt to the DATA distribution
    instead of axis signs, which is what lifts recall on corpora where
    fixed hyperplanes split neighborhoods. Scan fraction ≈
    4 / ``N_CENTROIDS`` of the corpus per query. Cell assignment and
    probing run on the quantized grid (bit-deterministic, see the
    section comment); candidate ranking is the exact float cosine —
    the whole query is hash-exact against :func:`ivf_topk_sql`."""
    cells, probes = _ivf_cells_and_probes(emb, queries, centroids)
    q = probes.select(
        "query_id", "q_emb", "q_norm", F.explode("probe_cids").alias("cid")
    )
    return _top_k_exact(F.broadcast(q).join(cells, "cid"), k)


def _kmeans_sql_ctes(
    prefix: str,
    vq: str,
    aq: str,
    part_cols: list[str],
) -> tuple[str, str]:
    """``KMEANS_ITERATIONS`` chained-CTE Lloyd iterations from the
    ``seed_vals`` centroids, shared by the IVF and PQ oracle twins.
    ``part_cols`` are the extra grouping columns of the codebook
    ([] for IVF, ['s'] for PQ subspaces). Returns (cte_sql, final_name)
    where ``{final_name}`` holds (part_cols..., cid, pos, c) and
    ``{final_name}_b`` its guarded per-centroid squared norms. Every
    arithmetic step mirrors the Spark side bit for bit (see the
    quantized-grid section comment)."""
    pc = "".join(f"{c}, " for c in part_cols)  # "s, " or ""
    on_part = " AND ".join([f"q.{c} = c.{c}" for c in part_cols]) or "TRUE"
    ctes = []
    cur = f"{prefix}0"
    ctes.append(f"{cur} AS MATERIALIZED (SELECT {pc}cid, pos, c FROM seed_vals)")
    for i in range(KMEANS_ITERATIONS):
        nxt = f"{prefix}{i + 1}"
        a_on = " AND ".join(
            ["a.vec_id = q.vec_id"] + [f"a.{c} = c.{c}" for c in part_cols]
        )
        b_on = " AND ".join(
            ["b.cid = c.cid"] + [f"b.{c} = c.{c}" for c in part_cols]
        )
        bpc = "".join(f"c.{c}, " for c in part_cols)
        ctes.append(
            f"""{cur}_b AS MATERIALIZED (
  SELECT {pc}cid, CASE WHEN SUM(c*c) = 0 THEN 1 ELSE SUM(c*c) END AS b
  FROM {cur} GROUP BY {pc}cid)"""
        )
        ctes.append(
            f"""{cur}_sim AS MATERIALIZED (
  SELECT q.vec_id, {bpc}c.cid,
         CAST(SUM(q.val * c.c) AS DOUBLE)
           / SQRT(CAST(MIN(a.a) AS DOUBLE) * CAST(MIN(b.b) AS DOUBLE)) AS sim
  FROM {vq} q
  JOIN {cur} c ON {on_part} AND q.lp = c.pos
  JOIN {aq} a ON {a_on}
  JOIN {cur}_b b ON {b_on}
  GROUP BY q.vec_id, {bpc}c.cid)"""
        )
        ctes.append(
            f"""{cur}_asg AS MATERIALIZED (
  SELECT vec_id, {pc}cid FROM (
    SELECT vec_id, {pc}cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id{"".join(", " + c for c in part_cols)}
                              ORDER BY sim DESC, cid DESC) AS rn
    FROM {cur}_sim) WHERE rn = 1)"""
        )
        g_on = " AND ".join(
            ["q.vec_id = a.vec_id"] + [f"q.{c} = a.{c}" for c in part_cols]
        )
        apc = "".join(f"a.{c}, " for c in part_cols)
        anti = " AND ".join(
            ["a.cid = c.cid"] + [f"a.{c} = c.{c}" for c in part_cols]
        )
        ctes.append(
            f"""{nxt} AS MATERIALIZED (
  SELECT {pc}cid, pos, c FROM (
    SELECT {apc}a.cid, q.lp AS pos,
           CASE WHEN SUM(q.val) < 0
                THEN -((2*(-SUM(q.val)) + COUNT(*)) // (2*COUNT(*)))
                ELSE (2*SUM(q.val) + COUNT(*)) // (2*COUNT(*)) END AS c
    FROM {cur}_asg a JOIN {vq} q ON {g_on}
    GROUP BY {apc}a.cid, q.lp)
  UNION ALL
  SELECT {pc}cid, pos, c FROM {cur} c
  WHERE NOT EXISTS (SELECT 1 FROM {cur}_asg a WHERE {anti}))"""
        )
        cur = nxt
    # final guarded norms + final assignment of every vector
    ctes.append(
        f"""{cur}_b AS MATERIALIZED (
  SELECT {pc}cid, CASE WHEN SUM(c*c) = 0 THEN 1 ELSE SUM(c*c) END AS b
  FROM {cur} GROUP BY {pc}cid)"""
    )
    bpc = "".join(f"c.{c}, " for c in part_cols)
    a_on = " AND ".join(
        ["a.vec_id = q.vec_id"] + [f"a.{c} = c.{c}" for c in part_cols]
    )
    b_on = " AND ".join(["b.cid = c.cid"] + [f"b.{c} = c.{c}" for c in part_cols])
    on_part = " AND ".join([f"q.{c} = c.{c}" for c in part_cols]) or "TRUE"
    ctes.append(
        f"""{cur}_sim AS MATERIALIZED (
  SELECT q.vec_id, {bpc}c.cid,
         CAST(SUM(q.val * c.c) AS DOUBLE)
           / SQRT(CAST(MIN(a.a) AS DOUBLE) * CAST(MIN(b.b) AS DOUBLE)) AS sim
  FROM {vq} q
  JOIN {cur} c ON {on_part} AND q.lp = c.pos
  JOIN {aq} a ON {a_on}
  JOIN {cur}_b b ON {b_on}
  GROUP BY q.vec_id, {bpc}c.cid)"""
    )
    return ",\n".join(ctes), cur


def _ivf_lloyd_preamble_sql() -> str:
    """The shared opening CTE chain of every IVF oracle twin (validity
    gate -> quantized grid -> norms -> deterministic seeds): factored
    so a change to the validity predicate or the quantization
    expression lands in ONE place for all four IVF twins — the r9
    NULL-element clause had to be hand-replicated per twin before this
    (r11 review finding). MUST stay in lockstep with _valid_vecs and
    _vq_col; the PQ twins keep their subspace-shaped variant inline."""
    return f"""dimpos AS (SELECT unnest(range(1, {DIM + 1})) AS pos),
valid AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) >= {DIM}
    AND len(list_filter(embedding[1:{DIM}], x -> x IS NULL)) = 0),
vq AS (
  SELECT v.vec_id, d.pos AS lp,
         CAST(ROUND(CAST(v.embedding[d.pos] AS DOUBLE) * {QUANT_SCALE}) AS BIGINT) AS val
  FROM valid v, dimpos d),
aq AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN SUM(val*val) = 0 THEN 1 ELSE SUM(val*val) END AS a
  FROM vq GROUP BY vec_id),
seeds AS (
  SELECT vec_id, DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS cid
  FROM (SELECT vec_id FROM valid ORDER BY vec_id LIMIT {N_CENTROIDS})),
seed_vals AS MATERIALIZED (
  SELECT s.cid, q.lp AS pos, q.val AS c FROM seeds s JOIN vq q USING (vec_id))"""


def ivf_topk_sql() -> str:
    """DuckDB twin of :func:`ivf_train` + :func:`ivf_topk` — the full
    quantized-grid Lloyd training unrolled as chained CTEs, then cell
    assignment, probing, and exact-cosine ranking. Bit-exact against
    the Spark plan (VERDICT r8 #4 promotion)."""
    dot = _dot_sql("q.embedding", "n.embedding", DIM)
    qn = _norm_sql("q.embedding", DIM)
    nn = _norm_sql("n.embedding", DIM)
    kmeans, cfin = _kmeans_sql_ctes(
        "c", "vq", "aq", part_cols=[]
    )
    return f"""
WITH {_ivf_lloyd_preamble_sql()},
{kmeans},
cells AS (
  SELECT vec_id AS neighbor_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
    FROM {cfin}_sim) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
    FROM {cfin}_sim
    WHERE vec_id IN (SELECT q.vec_id FROM valid q WHERE ({QUERY_PRED}))
  ) WHERE rn <= {max(PROBE_COUNTS)}),
scored AS (
  SELECT p.query_id, c.neighbor_id,
         ({dot}) / (({qn}) * ({nn})) AS cosine
  FROM probes p
  JOIN cells c ON c.cid = p.cid
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
  WHERE p.query_id <> c.neighbor_id)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT scored.*,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


def ivf_cell_balance(
    emb: DataFrame,
    centroids: list[list[int]],
) -> DataFrame:
    """IVF cell-occupancy audit: one row per centroid cell with its
    corpus population, share, and skew-vs-uniform ratio — the
    index-health table an ANN deployment reads before serving. Cell
    balance IS probe cost at scale: a query's latency is the size of
    the cells it probes, so a hot cell (skew ≫ 1) makes tail latency
    explode and an empty cell wastes a centroid; re-train (or split
    the hot cell) when this table degrades, BEFORE p99 does.

    Plan: quantized-grid cell assignment (the a04 seam — one
    Arrow-batched int64 matmul per batch), then one map-side-combinable
    count per cid and a 1-row broadcast total join-back. Integer
    counts, one IEEE division per output row ⇒ hash-exact against
    :func:`ivf_cell_balance_sql` (same unrolled Lloyd CTEs as a04)."""
    cells = _with_cells_np(
        _valid_vecs(emb).select(
            "vec_id", _vq_col().alias("__vq")
        ),
        centroids,
    ).select("vec_id", "cid")
    counts = cells.groupBy("cid").agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    total = counts.agg(
        F.sum("n_vecs").alias("total"), F.count(F.lit(1)).alias("n_cells")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("cid").cast("bigint").alias("cid"),
            "n_vecs",
            (F.col("n_vecs").cast("double") / F.col("total")).alias("share"),
            (
                F.col("n_vecs").cast("double")
                * F.col("n_cells")
                / F.col("total")
            ).alias("skew_vs_uniform"),
        )
    )


def ivf_cell_balance_sql() -> str:
    """DuckDB twin of :func:`ivf_cell_balance` — the a04 Lloyd unroll,
    then per-cell counts over the assignment."""
    kmeans, cfin = _kmeans_sql_ctes(
        "c", "vq", "aq", part_cols=[]
    )
    return f"""
WITH {_ivf_lloyd_preamble_sql()},
{kmeans},
cells AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
    FROM {cfin}_sim) WHERE rn = 1),
counts AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM counts)
SELECT CAST(c.cid AS BIGINT) AS cid, c.n_vecs,
       CAST(c.n_vecs AS DOUBLE) / t.total AS share,
       CAST(c.n_vecs AS DOUBLE) * t.n_cells / t.total AS skew_vs_uniform
FROM counts c CROSS JOIN tot t
"""


def ivf_probe_cost(
    emb: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
) -> DataFrame:
    """Predicted IVF probe COST per probe width — the companion table
    to :func:`ivf_cell_balance` and :func:`ivf_recall_curve` that
    closes the serving decision: a21 gives recall-per-n_probe, THIS
    gives cost-per-n_probe (the fraction of the corpus a query's
    probed cells actually hold), so the dial is set from a
    recall-vs-cost table instead of the uniform n_probe/n_centroids
    guess — which skewed cells (a22) can miss by an order of
    magnitude. Output: one row per probe width with (n_probe,
    n_queries, n_candidates, n_corpus, scan_frac).

    Plan: cell sizes and query probe ranks ride the same Arrow-batched
    assignment seam as a04/a22 (queries broadcast-sized, corpus never
    shuffled); each width is a filter over the max-width probe table —
    one assignment pass serves every leg. Exact integer counts, one
    IEEE division per row ⇒ hash-exact vs the unrolled DuckDB twin."""
    base = _valid_vecs(emb).select(
        "vec_id", _vq_col().alias("__vq")
    )
    cells = _with_cells_np(base, centroids).select("vec_id", "cid")
    counts = cells.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cell")
    )
    tot = cells.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    qv = _valid_vecs(queries).select(
        F.col("vec_id").alias("query_id"), _vq_col().alias("__vq")
    )
    max_p = max(PROBE_COUNTS)
    pr = _with_cells_np(qv, centroids, n_probe=max_p, out_col="probe_cids").select(
        "query_id", F.posexplode("probe_cids").alias("pos", "cid")
    )
    sized = pr.join(counts, "cid", "left").select(
        "query_id", "pos", F.coalesce("n_cell", F.lit(0)).alias("n_cell")
    )
    legs = []
    for p in PROBE_COUNTS:
        # groupBy the (constant) corpus total rather than a global agg:
        # with an EMPTY query set each leg must emit ZERO rows exactly
        # like the twin's GROUP BY over zero input — a global agg would
        # manufacture an n_queries=0 row the oracle doesn't have
        legs.append(
            sized.filter(F.col("pos") < p)
            .crossJoin(F.broadcast(tot))
            .groupBy("n_corpus")
            .agg(
                F.lit(p).cast("bigint").alias("n_probe"),
                F.countDistinct("query_id").cast("bigint").alias("n_queries"),
                F.coalesce(F.sum("n_cell"), F.lit(0))
                .cast("bigint")
                .alias("n_candidates"),
            )
            .select(
                "n_probe",
                "n_queries",
                "n_candidates",
                "n_corpus",
                (
                    F.col("n_candidates").cast("double")
                    / (F.col("n_queries") * F.col("n_corpus")).cast("double")
                ).alias("scan_frac"),
            )
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), legs)


def ivf_probe_cost_sql() -> str:
    """DuckDB twin of :func:`ivf_probe_cost` — the a04 Lloyd unroll,
    cell counts, ranked probes, and one aggregated leg per width."""
    kmeans, cfin = _kmeans_sql_ctes(
        "c", "vq", "aq", part_cols=[]
    )
    max_p = max(PROBE_COUNTS)
    legs = "\nUNION ALL\n".join(
        f"""SELECT CAST({p} AS BIGINT) AS n_probe,
       CAST(COUNT(DISTINCT s.query_id) AS BIGINT) AS n_queries,
       CAST(COALESCE(SUM(s.n_cell), 0) AS BIGINT) AS n_candidates,
       t.n_corpus,
       CAST(COALESCE(SUM(s.n_cell), 0) AS DOUBLE)
         / CAST(COUNT(DISTINCT s.query_id) * t.n_corpus AS DOUBLE) AS scan_frac
FROM sized s CROSS JOIN tot t WHERE s.rn <= {p} GROUP BY t.n_corpus"""
        for p in PROBE_COUNTS
    )
    return f"""
WITH {_ivf_lloyd_preamble_sql()},
{kmeans},
cells AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
    FROM {cfin}_sim) WHERE rn = 1),
counts AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_cell FROM cells GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM cells),
probes AS (
  SELECT vec_id AS query_id, cid, rn FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
    FROM {cfin}_sim
    WHERE vec_id IN (SELECT q.vec_id FROM valid q WHERE ({QUERY_PRED}))
  ) WHERE rn <= {max_p}),
sized AS (
  SELECT p.query_id, p.rn, COALESCE(c.n_cell, 0) AS n_cell
  FROM probes p LEFT JOIN counts c USING (cid))
{legs}
"""


def lsh_topk_multiprobe(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Multiprobe sign-LSH top-k: each query probes its own bucket plus
    every Hamming-distance-1 bucket (sig XOR 2^b), widening recall
    ~(1+bits)x at (1+bits)x candidate cost — still an equi-join, never a
    cross join. Deterministic, hence oracle-checkable like a02."""
    probes = F.array(
        F.lit(0), *[F.lit(1 << b) for b in range(SIG_BITS)]
    )
    q = _side(
        queries,
        "q",
        F.explode(
            F.transform(probes, lambda m: _sig_col().bitwiseXOR(m))
        ).alias("sig"),
    )
    n = _side(emb, "n", _sig_col().alias("sig"))
    return _top_k_exact(F.broadcast(q).join(n, "sig"), k)


def lsh_topk_multiprobe_sql(query_pred: str, k: int = TOP_K) -> str:
    dot = _dot_sql("q.embedding", "n.embedding", DIM)
    qn = _norm_sql("q.embedding", DIM)
    nn = _norm_sql("n.embedding", DIM)
    qs = _sig_sql("q.embedding")
    ns = _sig_sql("n.embedding")
    masks = ", ".join(str(m) for m in [0, *[1 << b for b in range(SIG_BITS)]])
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         ({dot}) / (({qn}) * ({nn})) AS cosine
  FROM embeddings q, (SELECT unnest([{masks}]) AS m) masks, embeddings n
  -- no DISTINCT needed: the probe masks are pairwise distinct, so a
  -- (query, neighbor) pair matches exactly one mask (same invariant
  -- the Spark plan relies on)
  WHERE ({query_pred}) AND q.vec_id <> n.vec_id
    AND xor(CAST(({qs}) AS BIGINT), m) = ({ns})
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN: compressed-domain scan + exact rerank
# ---------------------------------------------------------------------------


# Coordinate blocks of the PQ codebooks (a 64x compression of a 64-dim
# float vector).
PQ_SUBSPACES = 4


def pq_train(emb: DataFrame, n_codes: int = 16) -> list[list[list[int]]]:
    """Per-subspace codebooks (PQ_SUBSPACES x n_codes x dim/PQ_SUBSPACES):
    the embedding is split into contiguous coordinate blocks and each
    block gets its own k-means codebook — :func:`ivf_train`'s seeding
    and Lloyd rounds applied to the sliced vectors (cosine assignment
    rather than classic L2; for a cosine-ranking engine the angular
    codebook is the natural choice, and the recall test measures the
    end metric). All subspaces train together: ONE job per Lloyd round
    computes every (subspace, code, dimension) mean cell from a single
    corpus scan, and the model (4x16x16 ints) is control-plane
    sized, like any ANN index build (Faiss trains once, serves many
    queries). Codebooks live on the quantized-integer grid (see the
    IVF section comment): assignment sims and mean updates are exact
    integer arithmetic, so training is bit-deterministic and exactly
    reproduced by :func:`pq_topk_sql`'s DuckDB twin (VERDICT r8 #4)."""
    sub = DIM // PQ_SUBSPACES
    base = _valid_vecs(emb).select(
        "vec_id", _vq_col().alias("vq")
    )
    seed_rows = base.orderBy("vec_id").limit(n_codes).collect()
    if not seed_rows:
        raise ValueError("pq_train: empty corpus — no codewords to seed")
    n_codes = min(n_codes, len(seed_rows))
    books: list[list[list[int]]] = [
        [
            [int(x) for x in r["vq"][s * sub : (s + 1) * sub]]
            for r in seed_rows[:n_codes]
        ]
        for s in range(PQ_SUBSPACES)
    ]
    # All subspaces train in ONE job per Lloyd round: each row emits
    # (subspace, nearest-code, slice) structs, one explode + one
    # groupBy computes every (subspace, code, dimension) SUM cell —
    # exact integers, map-side combinable. Per-subspace loops would
    # rescan the corpus PQ_SUBSPACES times per round — at 100 TB that
    # multiplies the dominant cost (the scan) by the subspace count
    # for zero extra information.
    for _ in range(KMEANS_ITERATIONS):
        assigned = _with_codes_np(base.select("vq"), books, vq_col="vq")
        parts = []
        for s in range(PQ_SUBSPACES):
            sl = F.slice(F.col("vq"), s * sub + 1, sub)
            cid = F.element_at(F.col("codes"), s + 1)
            parts.append(
                F.struct(F.lit(s).alias("s"), cid.alias("cid"), sl.alias("v"))
            )
        cells = (
            assigned.select(F.explode(F.array(*parts)).alias("a"))
            .select("a.s", "a.cid", F.posexplode("a.v").alias("pos", "val"))
            .groupBy("s", "cid", "pos")
            .agg(F.sum("val").alias("sv"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, int]] = {}
        for r in cells:
            by_key.setdefault((r["s"], r["cid"]), {})[r["pos"]] = _int_mean(
                r["sv"], r["n"]
            )
        books = [
            [
                [by_key[(s, i)][p] for p in range(sub)]
                if (s, i) in by_key
                else books[s][i]
                for i in range(n_codes)
            ]
            for s in range(PQ_SUBSPACES)
        ]
    return books


def _pq_codes_col(vq: Column, books: list[list[list[int]]], sub: int) -> Column:
    """Array of per-subspace nearest-codeword ids for a QUANTIZED
    vector (bit-deterministic grid sims, tie → highest code id)."""
    parts = []
    for s, book in enumerate(books):
        sl = F.slice(vq, s * sub + 1, sub)
        parts.append(F.array_max(_centroid_sims_q(sl, _aq_col(sl), book))["cid"])
    return F.array(*parts)


def _pq_recon_sq_col(codes: Column, books: list[list[list[int]]]) -> Column:
    """Guarded (0→1) squared L2 of the reconstructed (codeword-
    concatenated) QUANTIZED vector: sum of per-codeword squared norms —
    exact BIGINT, valid because the subspaces are orthogonal coordinate
    blocks."""
    total = F.lit(0).cast("bigint")
    for s, book in enumerate(books):
        sq_norms = F.array(
            *[F.lit(int(sum(int(x) * int(x) for x in c))).cast("bigint") for c in book]
        )
        total = total + F.element_at(sq_norms, F.element_at(codes, s + 1) + 1)
    return F.when(total == 0, F.lit(1).cast("bigint")).otherwise(total)


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    books: list[list[list[int]]],
    k: int = 5,
) -> DataFrame:
    """PQ approximate top-k — the memory-bound ANN shape: the corpus is
    scanned as CODES of the ``books`` codebooks (:func:`pq_train`)
    (``PQ_SUBSPACES`` small ints per vector, a 64x
    compression of a 64-dim float vector), each (query, code) score is
    a sum of n_subspaces codebook dot-products instead of a dim-term
    fold, the top ``k * 4`` candidates per query are
    re-scored EXACTLY against their real vectors (hash join back to
    the corpus — the candidate fetch every PQ serving system does),
    and the exact top-k is returned.

    Same broadcast shape as a01 (queries broadcast, corpus streams,
    never shuffled) but the streamed payload is codes, not vectors —
    at 100 TB this is the difference between scanning 100 TB and
    scanning ~1.5 TB. Codebooks live on the quantized-integer grid:
    approx scores are exact-integer folds divided once in double, the
    rerank is the exact float cosine — bit-deterministic end to end
    and hash-exact against :func:`pq_topk_sql` (VERDICT r8 #4)."""
    # quantize JVM-side, then per-subspace code assignment as one
    # Arrow-batched matmul per subspace (_with_codes_np — the measured
    # ANN hot path, PERF.md r9)
    codes_tbl = _with_codes_np(
        _valid_vecs(emb).select(
            F.col("vec_id").alias("neighbor_id"),
            _vq_col().alias("__vq"),
        ),
        books,
        with_recon_sq=True,
    ).select("neighbor_id", "codes", "recon_sq")

    q = _side(
        _valid_vecs(queries), "q", _vq_col().alias("q_vq")
    ).withColumn("q_aq", _aq_col(F.col("q_vq")))

    # approx dot via the classic ADC lookup table: dot(q_s, codeword)
    # depends only on (query, subspace, code id), so it is computed
    # ONCE per query on the broadcast side (exact int64 matmuls in the
    # numpy seam — unrolled fold expressions here made DRIVER-side
    # plan analysis the bottleneck, PERF.md r9) and each
    # (query, corpus-code) pair pays n_subspaces array lookups
    q = _with_lut_np(q, books)
    approx_t = F.lit(0).cast("bigint")
    for s in range(len(books)):
        approx_t = approx_t + F.element_at(
            F.element_at(F.col("__lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        )

    approx_cos = approx_t.cast("double") / F.sqrt(
        F.col("q_aq").cast("double") * F.col("recon_sq").cast("double")
    )
    cand = (
        F.broadcast(q)
        .crossJoin(codes_tbl)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "q_emb",
            "q_norm",
            "neighbor_id",
            approx_cos.alias("approx_cosine"),
        )
    )
    w_approx = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("neighbor_id")
    )
    shortlist = cand.withColumn("arank", F.row_number().over(w_approx)).filter(
        F.col("arank") <= k * 4
    )

    # exact rerank: fetch the real vectors for the shortlist only
    return _top_k_exact(shortlist.join(_side(emb, "n"), "neighbor_id"), k)


def pq_topk_sql() -> str:
    """DuckDB twin of :func:`pq_train` + :func:`pq_topk`: per-subspace
    quantized-grid codebook training (shared CTE machinery with the IVF
    twin, partitioned by subspace), code assignment, integer approx
    scoring, shortlist, exact-cosine rerank. Bit-exact against the
    Spark plan (VERDICT r8 #4 promotion)."""
    sub = DIM // 4
    dot = _dot_sql("q.embedding", "n.embedding", DIM)
    qn = _norm_sql("q.embedding", DIM)
    nn = _norm_sql("n.embedding", DIM)
    kmeans, cfin = _kmeans_sql_ctes(
        "kb", "vqs", "asub", part_cols=["s"]
    )
    return f"""
WITH dimpos AS (SELECT unnest(range(1, {DIM + 1})) AS pos),
valid AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) >= {DIM}
    AND len(list_filter(embedding[1:{DIM}], x -> x IS NULL)) = 0),
vqs AS (
  SELECT v.vec_id, (d.pos - 1) // {sub} AS s, ((d.pos - 1) % {sub}) + 1 AS lp,
         CAST(ROUND(CAST(v.embedding[d.pos] AS DOUBLE) * {QUANT_SCALE}) AS BIGINT) AS val
  FROM valid v, dimpos d),
asub AS MATERIALIZED (
  SELECT vec_id, s,
         CASE WHEN SUM(val*val) = 0 THEN 1 ELSE SUM(val*val) END AS a
  FROM vqs GROUP BY vec_id, s),
afull AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN SUM(val*val) = 0 THEN 1 ELSE SUM(val*val) END AS a
  FROM vqs GROUP BY vec_id),
seeds AS (
  SELECT vec_id, DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS cid
  FROM (SELECT vec_id FROM valid ORDER BY vec_id LIMIT 16)),
seed_vals AS MATERIALIZED (
  SELECT q.s, se.cid, q.lp AS pos, q.val AS c
  FROM seeds se JOIN vqs q USING (vec_id)),
{kmeans},
codes AS MATERIALIZED (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY sim DESC, cid DESC) AS rn
    FROM {cfin}_sim) WHERE rn = 1),
recon AS MATERIALIZED (
  SELECT cd.vec_id,
         CASE WHEN SUM(b.b0) = 0 THEN 1 ELSE SUM(b.b0) END AS r
  FROM codes cd
  JOIN (SELECT s, cid, SUM(c*c) AS b0 FROM {cfin} GROUP BY s, cid) b
    ON b.s = cd.s AND b.cid = cd.cid
  GROUP BY cd.vec_id),
approx AS (
  SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
         CAST(SUM(q.val * kk.c) AS DOUBLE)
           / SQRT(CAST(MIN(af.a) AS DOUBLE) * CAST(MIN(r.r) AS DOUBLE)) AS ac
  FROM vqs q
  JOIN codes cd ON cd.s = q.s
  JOIN {cfin} kk ON kk.s = cd.s AND kk.cid = cd.cid AND kk.pos = q.lp
  JOIN afull af ON af.vec_id = q.vec_id
  JOIN recon r ON r.vec_id = cd.vec_id
  WHERE q.vec_id IN (SELECT q.vec_id FROM valid q WHERE ({QUERY_PRED}))
    AND q.vec_id <> cd.vec_id
  GROUP BY q.vec_id, cd.vec_id),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ac DESC, neighbor_id) AS rn
    FROM approx) WHERE rn <= {TOP_K * 4}),
rescored AS (
  SELECT sh.query_id, sh.neighbor_id,
         ({dot}) / (({qn}) * ({nn})) AS cosine
  FROM short sh
  JOIN embeddings q ON q.vec_id = sh.query_id
  JOIN embeddings n ON n.vec_id = sh.neighbor_id)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT rescored.*,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rescored)
WHERE rank <= {TOP_K}
"""


def pq_distortion_by_label(
    emb: DataFrame,
    books: list[list[list[int]]],
) -> DataFrame:
    """Per-label PQ reconstruction distortion — the codebook-quality
    audit run before trusting 64x-compressed codes for a corpus slice:
    a label whose vectors sit far from every codeword (new modality,
    encoder drift) gets systematically worse ANN shortlists, and this
    table shows it per slice instead of as one corpus-wide average
    (the per-label cousin of a08's drift report).

    Exactness (enabled by the r9 quantized-grid promotion): each
    vector's squared reconstruction error Σ(v_q − c_q)² is an exact
    BIGINT — order-free, map-side combinable — and the per-label mean/
    max are single double divisions by scale². Headroom: per-term
    (2·2^20)² ≈ 2^42, ×64 dims ≈ 2^48, summed over 10^9 rows in
    DuckDB's hugeint; Spark's per-label DOUBLE conversion happens
    after the exact per-vector fold, keeping sums under 2^53 per
    vector. Malformed vectors are excluded (the a18/a07 rule). One
    scan of codes vs codebook literals; |labels| state rows."""
    staged = _with_codes_np(
        _valid_vecs(emb).select(
            F.col("label"),
            _vq_col().alias("__vq"),
        ),
        books,
        out_col="__codes",
        with_err=True,
    )
    sq = float(QUANT_SCALE) * float(QUANT_SCALE)
    per_vec = staged.select("label", F.col("err_sq").alias("e"))
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        ((F.sum("e").cast("double") / F.lit(sq)) / F.count(F.lit(1)).cast("double")).alias(
            "mean_sq_err"
        ),
        (F.max("e").cast("double") / F.lit(sq)).alias("max_sq_err"),
    )


def pq_distortion_by_label_sql() -> str:
    """DuckDB twin of :func:`pq_distortion_by_label` — retrains the
    same quantized-grid codebooks (shared CTE machinery with the a05
    twin) and folds the identical integer error sums."""
    sub = DIM // 4
    sq = float(QUANT_SCALE) * float(QUANT_SCALE)
    kmeans, cfin = _kmeans_sql_ctes(
        "kb", "vqs", "asub", part_cols=["s"]
    )
    return f"""
WITH dimpos AS (SELECT unnest(range(1, {DIM + 1})) AS pos),
valid AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND len(embedding) >= {DIM}
    AND len(list_filter(embedding[1:{DIM}], x -> x IS NULL)) = 0),
vqs AS (
  SELECT v.vec_id, (d.pos - 1) // {sub} AS s, ((d.pos - 1) % {sub}) + 1 AS lp,
         CAST(ROUND(CAST(v.embedding[d.pos] AS DOUBLE) * {QUANT_SCALE}) AS BIGINT) AS val
  FROM valid v, dimpos d),
asub AS MATERIALIZED (
  SELECT vec_id, s,
         CASE WHEN SUM(val*val) = 0 THEN 1 ELSE SUM(val*val) END AS a
  FROM vqs GROUP BY vec_id, s),
seeds AS (
  SELECT vec_id, DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS cid
  FROM (SELECT vec_id FROM valid ORDER BY vec_id LIMIT 16)),
seed_vals AS MATERIALIZED (
  SELECT q.s, se.cid, q.lp AS pos, q.val AS c
  FROM seeds se JOIN vqs q USING (vec_id)),
{kmeans},
codes AS MATERIALIZED (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY sim DESC, cid DESC) AS rn
    FROM {cfin}_sim) WHERE rn = 1),
err AS (
  SELECT q.vec_id, CAST(SUM((q.val - kk.c) * (q.val - kk.c)) AS BIGINT) AS e
  FROM vqs q
  JOIN codes cd ON cd.vec_id = q.vec_id AND cd.s = q.s
  JOIN {cfin} kk ON kk.s = cd.s AND kk.cid = cd.cid AND kk.pos = q.lp
  GROUP BY q.vec_id)
SELECT v.label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       (CAST(SUM(err.e) AS DOUBLE) / {sq}) / CAST(COUNT(*) AS DOUBLE)
         AS mean_sq_err,
       CAST(MAX(err.e) AS DOUBLE) / {sq} AS max_sq_err
FROM valid v JOIN err ON err.vec_id = v.vec_id
GROUP BY 1
"""


def ivf_recall_curve(
    emb: DataFrame,
    queries: DataFrame,
    exact: DataFrame,
    centroids: list[list[int]],
) -> DataFrame:
    """Recall@k of the IVF path at several probe widths against the
    exact baseline — the n_probe dial measured from a table (the a15
    pattern applied to IVF, exactly oracle-able since the r9
    quantized-grid promotion). Output: one row per probe count with
    (n_probe, n_exact, n_hit, recall).

    ``exact`` is the materialized brute-force top-k over the SAME
    (emb, queries, k) — the session ground-truth artifact. The corpus
    cell assignment and the query probe RANKING are the a04 build
    (:func:`_ivf_cells_and_probes`), materialized once per invocation
    and shared by every leg (r15, guide §4/§5: left to ivf_topk each
    leg re-ran the corpus numpy-assign seam — 3 seams and 3 full corpus
    passes per run; the DuckDB twin always shared them via its
    materialized cells/probe_rank CTEs). A leg's probe set at width p
    is exactly the first p entries of the max-width ranking, so each
    leg is just a slice + candidate join + the exact top-k kernel; the
    corpus is never shuffled."""
    exact_pairs = exact.select("query_id", "neighbor_id")
    cells, probes = _ivf_cells_and_probes(emb, queries, centroids)
    cells = scoped_checkpoint("ivf_recall_curve.cells", cells)
    q_ranked = scoped_checkpoint("ivf_recall_curve.probes", probes)
    n_exact = exact_pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    legs = []
    for p in PROBE_COUNTS:
        q = q_ranked.select(
            "query_id",
            "q_emb",
            "q_norm",
            F.explode(F.slice("probe_cids", 1, p)).alias("cid"),
        )
        approx = _top_k_exact(F.broadcast(q).join(cells, "cid"), TOP_K)
        legs.append(
            _hits_against(exact_pairs, approx, "n_hit")
            .crossJoin(n_exact)
            .select(
                F.lit(p).cast("int").alias("n_probe"),
                "n_exact",
                "n_hit",
                (F.col("n_hit").cast("double") / F.col("n_exact").cast("double")).alias(
                    "recall"
                ),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def ivf_recall_curve_sql() -> str:
    """DuckDB twin of :func:`ivf_recall_curve`: ONE quantized-grid
    Lloyd training + cell assignment + probe ranking, then one top-k +
    hit-count leg per probe width, unioned."""
    dot = _dot_sql("q.embedding", "n.embedding", DIM)
    qn = _norm_sql("q.embedding", DIM)
    nn = _norm_sql("n.embedding", DIM)
    bf = brute_force_topk_sql()
    kmeans, cfin = _kmeans_sql_ctes(
        "c", "vq", "aq", part_cols=[]
    )
    legs = []
    for p in PROBE_COUNTS:
        legs.append(
            f"""
SELECT CAST({p} AS INTEGER) AS n_probe, tot.n_exact, h{p}.n_hit,
       CAST(h{p}.n_hit AS DOUBLE) / CAST(tot.n_exact AS DOUBLE) AS recall
FROM tot, (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM bf JOIN (
    SELECT query_id, neighbor_id FROM (
      SELECT s.query_id, s.neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
                                ORDER BY s.cosine DESC, s.neighbor_id) AS rank
      FROM (
        SELECT pr.query_id, c.neighbor_id,
               ({dot}) / (({qn}) * ({nn})) AS cosine
        FROM probe_rank pr
        JOIN cells c ON c.cid = pr.cid
        JOIN embeddings q ON q.vec_id = pr.query_id
        JOIN embeddings n ON n.vec_id = c.neighbor_id
        WHERE pr.rn <= {p} AND pr.query_id <> c.neighbor_id) s)
    WHERE rank <= {TOP_K}) a
  ON bf.query_id = a.query_id AND bf.neighbor_id = a.neighbor_id) h{p}"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH {_ivf_lloyd_preamble_sql()},
{kmeans},
cells AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
    FROM {cfin}_sim) WHERE rn = 1),
probe_rank AS MATERIALIZED (
  SELECT vec_id AS query_id, cid, rn FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
    FROM {cfin}_sim
    WHERE vec_id IN (SELECT q.vec_id FROM valid q WHERE ({QUERY_PRED})))),
bf AS MATERIALIZED ({bf}),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM bf)
{union}
"""


# ---------------------------------------------------------------------------
# Recall audit: approximate path measured against the exact baseline
# ---------------------------------------------------------------------------


def ann_recall_report(exact: DataFrame, lsh: DataFrame) -> DataFrame:
    """Per-query recall@k of the multiprobe sign-LSH path against the
    exact brute-force top-k — quality measurement AS A QUERY, so the
    recall/cost dial (probe count, signature width) is tuned from a
    table instead of a notebook. Output: (query_id, n_exact, n_hit,
    recall).

    Both paths are deterministic (fixed-order float folds, total
    tie-break), so unlike IVF/PQ recall (random-ish centroid means ⇒
    rows-only + test bounds), THIS audit is hash-exact against the
    DuckDB twin. Cost is one brute-force pass over the query set plus
    the multiprobe lookup it audits — run it on a sampled query set at
    corpus scale; the corpus is never shuffled by either side.

    ``exact`` / ``lsh`` are the materialized brute-force and multiprobe
    top-k tables (the production shape: the ground-truth set is
    computed once per corpus snapshot and every audit reads it —
    recomputing an identical deterministic table per audit query is
    pure waste). They must be the outputs of ``brute_force_topk`` /
    ``lsh_topk_multiprobe`` over the SAME (emb, queries, k).
    """
    exact = exact.select("query_id", "neighbor_id")
    approx = lsh.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_exact")).alias("recall"),
        )
    )


def ann_recall_report_sql() -> str:
    bf = brute_force_topk_sql()
    mp = lsh_topk_multiprobe_sql(QUERY_PRED)
    return f"""
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
FROM ({bf}) e
LEFT JOIN ({mp}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


# ---------------------------------------------------------------------------
# IVF / PQ recall audits — hash-checkable projections of the
# float-interior ANN paths (VERDICT r5 #5)
# ---------------------------------------------------------------------------
#
# a04/a05's k-means interiors are float averages over unordered
# shuffles, so their RESULT tables are rows-only by the repo
# determinism rules. But their QUALITY INVARIANTS are deterministic
# booleans (the same ones tests/test_ivf_recall.py asserts): recall
# beats the fixed-hyperplane LSH baseline, clears an absolute floor,
# and PQ's rerank scores are exact cosines. The audits below emit ONE
# row of those invariants next to the deterministic pieces the oracle
# CAN recompute exactly (n_exact and the LSH-baseline recall), giving
# the driver a hash-green row per family — the a06 pattern.


def _hits_against(exact: DataFrame, approx: DataFrame, name: str) -> DataFrame:
    """1-row count of approx∩exact pairs (recall numerator; the
    denominator |exact| is shared, so comparing hit COUNTS is exactly
    comparing recalls — no float compare needed)."""
    return (
        exact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).agg(F.count(F.lit(1)).alias(name))
    )


def ivf_recall_audit(
    emb: DataFrame,
    queries: DataFrame,
    exact: DataFrame,
    lsh: DataFrame,
    centroids: list[list[int]],
) -> DataFrame:
    """Single-row IVF quality audit: (n_queries, n_exact, lsh_recall,
    ivf_at_least_lsh, ivf_above_floor). The first three are deterministic
    (exact + multiprobe paths); the booleans project the
    float-interior IVF result onto invariants stable across shuffle
    orders, so the whole row hash-matches a SQL twin that emits the
    booleans as the contract (TRUE).

    ``exact`` / ``lsh`` are the materialized baselines — see
    ann_recall_report's docstring."""
    exact = exact.select("query_id", "neighbor_id")
    ivf = ivf_topk(emb, queries, k=TOP_K, centroids=centroids)
    tot = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    row = (
        tot.crossJoin(F.broadcast(_hits_against(exact, lsh, "lsh_hits")))
        .crossJoin(F.broadcast(_hits_against(exact, ivf, "ivf_hits")))
    )
    recall_ivf = F.col("ivf_hits").cast("double") / F.col("n_exact")
    return row.select(
        F.col("n_queries").cast("bigint").alias("n_queries"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (F.col("lsh_hits").cast("double") / F.col("n_exact")).alias("lsh_recall"),
        # >= not >: on a degenerate corpus where the LSH baseline is
        # already perfect (identical_emb axis: every vector the same,
        # lsh_recall = 1.0) a strict "beats" is unsatisfiable; the real
        # invariant is "the cell-probed path never loses to the
        # signature baseline", and the strict win on realistic corpora
        # is still pinned by tests/test_ivf_recall.py
        (F.col("ivf_hits") >= F.col("lsh_hits")).alias("ivf_at_least_lsh"),
        (recall_ivf >= F.lit(0.3)).alias("ivf_above_floor"),
    )


def ivf_recall_audit_sql() -> str:
    bf = brute_force_topk_sql()
    mp = lsh_topk_multiprobe_sql(QUERY_PRED)
    return f"""
WITH e AS ({bf}), a AS ({mp}),
tot AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
               CAST(COUNT(*) AS BIGINT) AS n_exact FROM e),
h AS (SELECT CAST(COUNT(*) AS BIGINT) AS lsh_hits
      FROM e JOIN a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
SELECT tot.n_queries, tot.n_exact,
       CAST(h.lsh_hits AS DOUBLE) / tot.n_exact AS lsh_recall,
       TRUE AS ivf_at_least_lsh,
       TRUE AS ivf_above_floor
FROM tot, h
"""


def pq_recall_audit(
    emb: DataFrame,
    queries: DataFrame,
    exact: DataFrame,
    lsh: DataFrame,
    books: list[list[list[int]]],
) -> DataFrame:
    """Single-row PQ quality audit: (n_queries, n_exact, lsh_recall,
    pq_at_least_lsh, rerank_scores_exact). rerank_scores_exact recomputes
    the exact cosine for EVERY returned (query, neighbor) pair with
    the same fixed-order fold the brute force uses and ANDs the
    equality — the 'rerank is exact, compression only shapes the
    shortlist' contract from tests/test_ivf_recall.py, as a query.

    ``exact`` / ``lsh`` are the materialized baselines — see
    ann_recall_report's docstring."""
    exact = exact.select("query_id", "neighbor_id")
    # the PQ result feeds TWO consumers (the hit count and the rerank
    # re-verification) and Spark shares no subtrees within a plan — left
    # lazy, the whole encode→ADC→shortlist→rerank chain (2 Python seams)
    # ran twice per run. Materialize the |queries|·k-row result once per
    # invocation (guide §4/§5; the call-site scope frees it on re-entry).
    pq = scoped_checkpoint(
        "pq_recall_audit.pq", pq_topk(emb, queries, k=TOP_K, books=books)
    )
    tot = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    qv = _side(queries, "q")
    nv = _side(emb, "n")
    recomputed = _dot_col("q_emb", "n_emb") / (
        F.col("q_norm") * F.col("n_norm")
    )
    scores_ok = (
        pq.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .agg(F.min(F.col("cosine") == recomputed).alias("rerank_scores_exact"))
    )
    row = (
        tot.crossJoin(F.broadcast(_hits_against(exact, lsh, "lsh_hits")))
        .crossJoin(F.broadcast(_hits_against(exact, pq, "pq_hits")))
        .crossJoin(F.broadcast(scores_ok))
    )
    return row.select(
        F.col("n_queries").cast("bigint").alias("n_queries"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (F.col("lsh_hits").cast("double") / F.col("n_exact")).alias("lsh_recall"),
        # >= not >: see ivf_recall_audit — a perfect LSH baseline
        # (identical_emb axis) makes a strict win unsatisfiable
        (F.col("pq_hits") >= F.col("lsh_hits")).alias("pq_at_least_lsh"),
        "rerank_scores_exact",
    )


def pq_recall_audit_sql() -> str:
    bf = brute_force_topk_sql()
    mp = lsh_topk_multiprobe_sql(QUERY_PRED)
    return f"""
WITH e AS ({bf}), a AS ({mp}),
tot AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
               CAST(COUNT(*) AS BIGINT) AS n_exact FROM e),
h AS (SELECT CAST(COUNT(*) AS BIGINT) AS lsh_hits
      FROM e JOIN a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
SELECT tot.n_queries, tot.n_exact,
       CAST(h.lsh_hits AS DOUBLE) / tot.n_exact AS lsh_recall,
       TRUE AS pq_at_least_lsh,
       TRUE AS rerank_scores_exact
FROM tot, h
"""


# ---------------------------------------------------------------------------
# kNN label agreement (embedding-quality audit over the corpus kNN graph)
# ---------------------------------------------------------------------------


def knn_label_agreement(emb: DataFrame, graph: DataFrame) -> DataFrame:
    """Per-label neighborhood purity over the multiprobe-LSH kNN graph:
    (label, n_vectors, n_edges, n_same, agreement). The standard
    embedding-quality gate before clustering-based curation (SemDeDup,
    k-means mixes): if nearest neighbors don't share labels, distance
    in this space doesn't mean similarity and every downstream
    cluster-keyed decision inherits the noise.

    ``graph`` is the materialized kNN graph
    ``lsh_topk_multiprobe(emb, emb, k=k)`` (the a09 artifact — a
    production pipeline builds it once and every audit reads it).
    Scale: the label lookups are joins on vec_id (co-partitioned,
    never broadcast — labels scale with the corpus); the agg output is
    |labels| rows. All counts are integers ⇒ hash-exact.
    """
    q_lab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    n_lab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    return (
        graph.select("query_id", "neighbor_id")
        .join(q_lab, "query_id")
        .join(n_lab, "neighbor_id")
        .groupBy(F.col("q_label").alias("label"))
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_vectors"),
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum(
                F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_same"),
        )
        .select(
            "label",
            "n_vectors",
            "n_edges",
            "n_same",
            (F.col("n_same").cast("double") / F.col("n_edges")).alias("agreement"),
        )
    )


def knn_label_agreement_sql() -> str:
    mp = lsh_topk_multiprobe_sql("TRUE", KNN_GRAPH_K)
    return f"""
WITH g AS ({mp})
SELECT ql.label AS label,
       CAST(COUNT(DISTINCT g.query_id) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
       CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS agreement
FROM g
JOIN embeddings ql ON g.query_id = ql.vec_id
JOIN embeddings nl ON g.neighbor_id = nl.vec_id
GROUP BY ql.label
"""


# ---------------------------------------------------------------------------
# int8 quantization audit (embedding storage compression)
# ---------------------------------------------------------------------------


def quantization_audit(emb: DataFrame) -> DataFrame:
    """Per-vector audit of symmetric int8 quantization — the 4x (fp32)
    / 8x (fp64) storage compression every large embedding store applies
    before ANN serving: scale = 127/max|x|, q_i = floor(x_i·scale+0.5),
    reported with the max absolute and mean squared dequantization
    error. The table that decides whether int8 (or a per-block variant)
    is safe for YOUR corpus before 100 TB of vectors get rewritten.

    Pure per-row array math: max|x| is an order-insensitive fold (max
    is exact), the error terms use floor-based rounding (identical in
    both engines — float round() is banker's in some engines, so it is
    avoided), and the MSE folds left-to-right exactly as the unrolled
    SQL twin's + chain associates. Zero vectors yield NULLs via the
    max|x|>0 guard in both engines. No shuffle, codegen-resident.

    The error array is MATERIALIZED through two projection stages
    instead of inlined into each output column: Catalyst does not
    common-subexpression-eliminate across higher-order-function
    lambdas, so the inlined form re-evaluated the full quantize-
    dequantize tree once for max_err and once per MSE term — measured
    14x (2.4 s → 0.17 s at sf0.1) for identical arithmetic.

    Malformed vectors (NULL or shorter than ``DIM``) emit an all-NULL
    stats row in BOTH engines — the r9 embeddings NULL sweep caught the
    divergence (Spark's slice+fold half-audited a truncated vector and
    called an empty one a zero vector; DuckDB's unrolled ``arr[i]``
    past the end NULLed the MSE chain but not the NULL-skipping
    GREATEST) — the a18 rule applied here.
    """
    well_formed = F.col("embedding").isNotNull() & (F.size("embedding") >= DIM)
    x = F.slice(F.col("embedding"), 1, DIM)
    absx = F.transform(x, lambda v: F.abs(v.cast("double")))
    max_abs = F.when(
        well_formed, F.aggregate(absx, F.lit(0.0), lambda a, v: F.greatest(a, v))
    )
    staged = emb.select("vec_id", x.alias("__x"), max_abs.alias("max_abs"))
    scale = F.lit(127.0) / F.col("max_abs")
    with_err = staged.select(
        "vec_id",
        "max_abs",
        F.transform(
            F.col("__x"),
            lambda v: F.abs(
                v.cast("double")
                - F.floor(v.cast("double") * scale + F.lit(0.5)) / scale
            ),
        ).alias("__err"),
    )
    guard = F.col("max_abs") > 0
    return with_err.select(
        "vec_id",
        "max_abs",
        F.when(guard, scale).alias("scale"),
        F.when(
            guard,
            F.aggregate(F.col("__err"), F.lit(0.0), lambda a, v: F.greatest(a, v)),
        ).alias("max_abs_err"),
        F.when(
            guard,
            F.aggregate(F.col("__err"), F.lit(0.0), lambda a, v: a + v * v)
            / F.lit(float(DIM)),
        ).alias("mse"),
    )


def quantization_audit_sql() -> str:
    g = ", ".join(f"ABS(CAST(embedding[{i + 1}] AS DOUBLE))" for i in range(DIM))
    wf = f"(embedding IS NOT NULL AND len(embedding) >= {DIM})"
    max_abs = f"CASE WHEN {wf} THEN GREATEST({g}) END"

    def e(i: int) -> str:
        xi = f"CAST(embedding[{i + 1}] AS DOUBLE)"
        return (
            f"ABS({xi} - FLOOR({xi} * (127.0 / max_abs) + 0.5)"
            " / (127.0 / max_abs))"
        )

    max_err = "GREATEST(" + ", ".join(e(i) for i in range(DIM)) + ")"
    mse = " + ".join(f"{e(i)} * {e(i)}" for i in range(DIM))
    return f"""
WITH m AS (
  SELECT vec_id, embedding, {max_abs} AS max_abs FROM embeddings
)
SELECT vec_id, max_abs,
       CASE WHEN max_abs > 0 THEN 127.0 / max_abs END AS scale,
       CASE WHEN max_abs > 0 THEN {max_err} END AS max_abs_err,
       CASE WHEN max_abs > 0 THEN ({mse}) / {float(DIM)} END AS mse
FROM m
"""


# ---------------------------------------------------------------------------
# Per-source embedding drift (exact, quantized-integer domain)
# ---------------------------------------------------------------------------


def source_drift_report(
    emb: DataFrame,
    docs: DataFrame,
) -> DataFrame:
    """Dataset-shift audit: per source, the cosine between that
    source's mean embedding and the corpus mean — the table that flags
    a crawler change or a poisoned source before training on it.

    Float mean vectors are NOT cross-engine deterministic (per-dim
    double sums over an unordered shuffle), so the audit runs in the
    QUANTIZED domain instead: vectors are int8-quantized on a single
    GLOBAL scale (127/corpus-max|x|, one exact scalar), per-dim sums of
    those integers are exact bigints in any order, and cosine is
    scale-invariant — so cos(sum_src, sum_all) IS cos(mean_src,
    mean_all) of the quantized vectors, computed as one fixed-order
    fold. Fully hash-exact, and the quantization error it inherits is
    precisely what a07 measures. One aggregation with 64 conditional
    sums per side; the 1-row corpus aggregate broadcasts.
    """
    # The wide per-dim arithmetic is built as SQL-EXPRESSION STRINGS
    # (one py4j parse call each) instead of Column-by-Column: the
    # Python-side tree construction was ~20k py4j round trips ≈ 6 s of
    # DRIVER time per fresh plan (PERF.md r9) — the resolved expression
    # trees, and therefore the bits, are identical either way.
    x = F.slice(F.col("embedding"), 1, DIM)
    absx = F.transform(x, lambda v: F.abs(v.cast("double")))
    row_max = F.aggregate(absx, F.lit(0.0), lambda a, v: F.greatest(a, v))
    gmax = emb.agg(F.max(row_max).alias("gmax"))
    joined = emb.join(docs.select("doc_id", "source"),
                      emb.vec_id == F.col("doc_id")).crossJoin(F.broadcast(gmax))
    q = [
        F.expr(
            f"CAST(FLOOR(CAST(embedding[{i}] AS DOUBLE) * (CAST(127.0 AS DOUBLE)"
            f" / gmax) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q{i}"
        )
        for i in range(DIM)
    ]
    quantized = joined.select("source", *q)
    per_src = quantized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[F.expr(f"sum(q{i}) AS s{i}") for i in range(DIM)],
    )
    total = quantized.agg(
        *[F.expr(f"sum(q{i}) AS t{i}") for i in range(DIM)]
    )
    both = per_src.crossJoin(F.broadcast(total))

    def _pairsum(a: str, b: str) -> str:
        return " + ".join(
            f"CAST({a}{i} AS DOUBLE) * CAST({b}{i} AS DOUBLE)"
            for i in range(DIM)
        )

    cos = F.expr(
        f"({_pairsum('s', 't')}) / (SQRT({_pairsum('s', 's')})"
        f" * SQRT({_pairsum('t', 't')}))"
    )
    return both.select(
        "source",
        "n_vecs",
        cos.alias("cos_to_corpus"),
        (F.lit(1.0) - cos).alias("drift"),
    )


def source_drift_report_sql() -> str:
    row_max = "GREATEST(" + ", ".join(
        f"ABS(CAST(embedding[{i + 1}] AS DOUBLE))" for i in range(DIM)
    ) + ")"
    qexpr = [
        f"CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * (127.0 / g.gmax) + 0.5)"
        f" AS BIGINT) AS q{i}"
        for i in range(DIM)
    ]
    ssums = ", ".join(f"SUM(q{i}) AS s{i}" for i in range(DIM))
    tsums = ", ".join(f"SUM(q{i}) AS t{i}" for i in range(DIM))
    dot = " + ".join(
        f"CAST(p.s{i} AS DOUBLE) * CAST(t.t{i} AS DOUBLE)" for i in range(DIM)
    )
    ns = " + ".join(
        f"CAST(p.s{i} AS DOUBLE) * CAST(p.s{i} AS DOUBLE)" for i in range(DIM)
    )
    nt = " + ".join(
        f"CAST(t.t{i} AS DOUBLE) * CAST(t.t{i} AS DOUBLE)" for i in range(DIM)
    )
    cos = f"({dot}) / (SQRT({ns}) * SQRT({nt}))"
    return f"""
WITH g AS (SELECT MAX({row_max}) AS gmax FROM embeddings),
quantized AS (
  SELECT d.source, {", ".join(qexpr)}
  FROM embeddings e
  JOIN documents d ON e.vec_id = d.doc_id
  CROSS JOIN g
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vecs, {ssums}
  FROM quantized GROUP BY source
),
total AS (SELECT {tsums} FROM quantized)
SELECT p.source, p.n_vecs,
       {cos} AS cos_to_corpus,
       1.0 - ({cos}) AS drift
FROM per_src p CROSS JOIN total t
"""


# ---------------------------------------------------------------------------
# Semantic decontamination (cross-set near-match removal)
# ---------------------------------------------------------------------------


def semantic_decontaminate(emb: DataFrame, test_pred: Column) -> DataFrame:
    """Train vectors semantically too close to ANY test vector (cosine ≥
    ``DECONTAM_MIN_COSINE``): the embedding-space analogue of d07's shingle
    decontamination — catches paraphrased/reworded eval leakage that
    lexical overlap misses (the reason modern pipelines run BOTH).

    Returns one row per contaminated train vector: (train_id,
    matched_test_id, cosine) with the single BEST match, argmax broken
    on higher test id via a lexicographic struct max (= the SQL twin's
    ``ORDER BY cosine DESC, test_id DESC`` row 1).

    Scale shape: candidates come from an equi-join on the sign-LSH
    signature — never test × train. The test side is tiny by
    construction (held-out evals), so it broadcasts; per-bucket work is
    |test ∩ bucket| × |train ∩ bucket|. Same recall caveat as
    ``embedding_neardup_pairs``: true matches have cosine near 1 and
    almost surely share the sign pattern.
    """
    e = with_norm(emb).withColumn("sig", _sig_col())
    test = e.filter(test_pred).select(
        F.col("vec_id").alias("matched_test_id"),
        F.col("embedding").alias("emb_t"),
        F.col("norm").alias("norm_t"),
        "sig",
    )
    train = e.filter(~test_pred).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        "sig",
    )
    dot = _dot_col("emb_a", "emb_t")
    cand = (
        train.join(F.broadcast(test), "sig")
        .select(
            "train_id",
            "matched_test_id",
            (dot / (F.col("norm_a") * F.col("norm_t"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= DECONTAM_MIN_COSINE)
    )
    best = cand.groupBy("train_id").agg(
        F.max(F.struct(F.col("cosine"), F.col("matched_test_id"))).alias("m")
    )
    return best.select(
        "train_id",
        F.col("m.matched_test_id").alias("matched_test_id"),
        F.col("m.cosine").alias("cosine"),
    )


def semantic_decontaminate_sql() -> str:
    dot = _dot_sql("tr.embedding", "te.embedding", DIM)
    trn = _norm_sql("tr.embedding", DIM)
    ten = _norm_sql("te.embedding", DIM)
    str_ = _sig_sql("tr.embedding")
    ste = _sig_sql("te.embedding")
    return f"""
WITH cand AS (
  SELECT tr.vec_id AS train_id, te.vec_id AS matched_test_id,
         ({dot}) / (({trn}) * ({ten})) AS cosine
  FROM embeddings tr JOIN embeddings te
    ON ({str_}) = ({ste})
   AND te.vec_id % 10 = 0 AND tr.vec_id % 10 <> 0
  WHERE ({dot}) / (({trn}) * ({ten})) >= {DECONTAM_MIN_COSINE}
)
SELECT train_id, matched_test_id, cosine FROM (
  SELECT cand.*, ROW_NUMBER() OVER (
    PARTITION BY train_id ORDER BY cosine DESC, matched_test_id DESC) AS rnk
  FROM cand
) t WHERE rnk = 1
"""


# ---------------------------------------------------------------------------
# Recall@k curve: the standard ANN evaluation artifact (recall at several
# cutoffs in one pass), round 7
# ---------------------------------------------------------------------------

RECALL_KS = (1, 3, 5)


def recall_curve(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Recall@k for each cutoff in ``RECALL_KS``, computed from two ranked
    top-k tables (query_id, neighbor_id, rank, ...) in ONE pass: the
    pair tables join once on (query_id, neighbor_id), every cutoff's
    hit count comes out of a single aggregate over the joined ranks,
    and the per-k rows are exploded from that one row — no per-k
    rescan of the corpus. All counts are integers and the recall
    division is one IEEE double op, so the whole curve hash-matches a
    SQL twin exactly.

    Scale: both inputs are top-k tables (|queries| x k rows, corpus
    already reduced), so every join here is tiny regardless of corpus
    size; the heavy lifting stays in the top-k producers."""
    pairs = exact.select(
        "query_id", "neighbor_id", F.col("rank").alias("er")
    ).join(
        approx.select("query_id", "neighbor_id", F.col("rank").alias("ar")),
        ["query_id", "neighbor_id"],
    )
    hits = pairs.agg(
        *[
            F.sum(((F.col("er") <= k) & (F.col("ar") <= k)).cast("long")).alias(f"h{k}")
            for k in RECALL_KS
        ]
    )
    totals = exact.agg(
        *[F.sum((F.col("rank") <= k).cast("long")).alias(f"n{k}") for k in RECALL_KS]
    )
    row = totals.crossJoin(F.broadcast(hits))
    structs = [
        F.struct(
            F.lit(k).cast("bigint").alias("k"),
            F.coalesce(F.col(f"n{k}"), F.lit(0)).cast("bigint").alias("n_exact"),
            F.coalesce(F.col(f"h{k}"), F.lit(0)).cast("bigint").alias("hits"),
        )
        for k in RECALL_KS
    ]
    return row.select(F.explode(F.array(*structs)).alias("r")).select(
        F.col("r.k").alias("k"),
        F.col("r.n_exact").alias("n_exact"),
        F.col("r.hits").alias("hits"),
        (F.col("r.hits").cast("double") / F.col("r.n_exact")).alias("recall"),
    )


def recall_curve_sql() -> str:
    bf = brute_force_topk_sql()
    mp = lsh_topk_multiprobe_sql(QUERY_PRED)
    per_k = "\nUNION ALL\n".join(
        f"""  SELECT CAST({kk} AS BIGINT) AS k,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE rank <= {kk}) AS n_exact,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM p WHERE er <= {kk} AND ar <= {kk}) AS hits"""
        for kk in RECALL_KS
    )
    return f"""
WITH e AS ({bf}), a AS ({mp}),
p AS (SELECT e.rank AS er, a.rank AS ar
      FROM e JOIN a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
SELECT k, n_exact, hits, CAST(hits AS DOUBLE) / n_exact AS recall
FROM (
{per_k}
)
"""


# ---------------------------------------------------------------------------
# kNN PageRank (graph-centrality data selection over the corpus kNN graph)
# ---------------------------------------------------------------------------

PAGERANK_DAMPING = 0.85


def knn_pagerank(
    emb: DataFrame,
    graph: DataFrame,
) -> DataFrame:
    """PageRank over the corpus kNN graph, a FIXED number of power
    iterations — the graph-centrality signal for representativeness-
    based data selection (a highly-linked vector sits in a dense
    semantic region; leaves are outliers): (vec_id, outdeg, pagerank).

    Fixed-iteration design: 2 power steps from the uniform vector,
    damping ``d = PAGERANK_DAMPING``:  ``p'(v) = (1-d)/n + d * sum_{u->v}
    p(u)/outdeg(u)``. Dangling mass (vectors whose LSH buckets yielded
    no neighbors) is deliberately DROPPED, not redistributed — the
    output is a ranking signal, not a probability distribution, and
    dropping keeps every term attributable to a concrete edge. Two
    iterations already separate hubs from leaves on a k-regular-ish
    graph; convergence-loop variants belong to the d06 fail-loud
    pattern, not an oracle-checked query.

    Exactness: every per-node in-sum folds in PINNED src order
    (array_sort -> sequential F.aggregate; the dsir/t21 fold pattern),
    so the doubles are bit-identical to the DuckDB twin's
    ``list_reduce(list(... ORDER BY src))``. That exactness costs the
    map-side combine a plain float sum would get — the documented
    tradeoff: at 100 TB you would accept last-bit nondeterminism and
    use ``F.sum``, halving shuffle volume; the plan shape (shuffle
    contributions on dst, k|V| message rows per iteration) is
    unchanged either way.

    Scale: edges = k|V| rows of 16 bytes; each iteration is one
    shuffle of contributions on dst plus a co-partitioned join back to
    the rank table — the standard Pregel-free distributed PageRank.
    In-degree is unbounded (a hub vector can be everyone's neighbor);
    the per-dst collect_list is the skew point, bounded in practice by
    LSH bucket occupancy, and the hot-bucket guard upstream
    (lsh_candidate_pairs) is the escape hatch if a degenerate corpus
    concentrates buckets.
    """
    edges = graph.select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("outdeg"))
    nodes = emb.select(F.col("vec_id").alias("node"))
    n_row = F.broadcast(nodes.agg(F.count(F.lit(1)).cast("double").alias("n")))
    # IEEE 1-d computed in PYTHON and injected as the same double into
    # both engines: DuckDB would otherwise evaluate 1.0 - 0.85 in exact
    # DECIMAL (0.15) while Spark folds doubles (0x3FC3333333333332) —
    # a one-ULP divergence the a16 oracle caught at first run
    base = F.lit(1.0 - PAGERANK_DAMPING) / F.col("n")

    def _fold(contribs: DataFrame) -> DataFrame:
        # pinned-order float fold per dst (bit-identical cross-engine)
        seq = F.array_sort(F.collect_list(F.struct(F.col("src"), F.col("c"))))
        s = F.aggregate(
            F.transform(seq, lambda x: x.getField("c")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return contribs.groupBy("dst").agg(s.alias("s"))

    # iteration state: (node, p); start uniform
    ranks = nodes.crossJoin(n_row).select("node", (F.lit(1.0) / F.col("n")).alias("p"))
    for _ in range(2):
        contribs = (
            edges.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select("src", "dst", (F.col("p") / F.col("outdeg").cast("double")).alias("c"))
        )
        ranks = (
            nodes.join(_fold(contribs), nodes.node == F.col("dst"), "left")
            .crossJoin(n_row)
            .select(
                "node",
                (
                    base
                    + F.lit(PAGERANK_DAMPING) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("p"),
            )
        )
    return (
        ranks.join(deg, ranks.node == deg.src, "left")
        .select(
            F.col("node").alias("vec_id"),
            F.coalesce(F.col("outdeg"), F.lit(0).cast("bigint")).alias("outdeg"),
            F.col("p").alias("pagerank"),
        )
    )


def knn_pagerank_sql() -> str:
    """DuckDB twin: the same fixed power iterations with the in-sum as
    ``list_reduce(list_prepend(0.0, list(c ORDER BY src)), +)`` — the
    identical left fold the Spark side runs. The damping constants are
    Python-computed doubles injected as string-cast literals: DuckDB
    decimal-literal arithmetic is exact, Spark's is IEEE, so sharing
    the pre-folded double is the only way the CASE arithmetic can
    hash-match."""
    graph = lsh_topk_multiprobe_sql("TRUE", KNN_GRAPH_K)
    it_cte = []
    prev = "p0"
    for i in (1, 2):
        it_cte.append(f"""contrib{i} AS (
  SELECT e.dst, e.src, {prev}.p / CAST(d.outdeg AS DOUBLE) AS c
  FROM edges e JOIN deg d ON e.src = d.src JOIN {prev} ON {prev}.node = e.src
),
fold{i} AS (
  SELECT dst,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY src)),
                     (a, b) -> a + b) AS s
  FROM contrib{i} GROUP BY dst
),
p{i} AS (
  SELECT v.vec_id AS node,
         CAST('{1.0 - PAGERANK_DAMPING!r}' AS DOUBLE) / nn.n
           + CAST('{PAGERANK_DAMPING!r}' AS DOUBLE) * COALESCE(f.s, 0.0) AS p
  FROM embeddings v CROSS JOIN nn LEFT JOIN fold{i} f ON v.vec_id = f.dst
)""")
        prev = f"p{i}"
    iters = ",\n".join(it_cte)
    return f"""
WITH graph AS ({graph}),
edges AS (SELECT query_id AS src, neighbor_id AS dst FROM graph),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
p0 AS (SELECT vec_id AS node, 1.0 / nn.n AS p FROM embeddings CROSS JOIN nn),
{iters}
SELECT {prev}.node AS vec_id,
       COALESCE(d.outdeg, CAST(0 AS BIGINT)) AS outdeg,
       {prev}.p AS pagerank
FROM {prev} LEFT JOIN deg d ON {prev}.node = d.src
"""


# ---------------------------------------------------------------------------
# kNN-graph triangle census: local clustering coefficient per vector
# ---------------------------------------------------------------------------


def knn_triangles(emb: DataFrame, graph: DataFrame) -> DataFrame:
    """Triangle count + local clustering coefficient per vector over
    the corpus kNN graph — the neighborhood-density signal that
    complements a16's centrality: a vector whose neighbors are also
    neighbors of EACH OTHER sits inside a tight semantic cluster
    (near-dup colony, template family — a10's SemDeDup targets), while
    high degree with zero triangles is hub-like bridging (diverse
    regions, the coreset keeper profile). Output: (vec_id, degree,
    n_tri, lcc) with lcc = 2*T / (deg*(deg-1)), 0.0 below degree 2.

    Algorithm: the degree-ordered triangle census (the standard
    distributed formulation — Suri & Vassilvitskii 2011's MapReduce
    variant). The directed kNN edges are first symmetrized to simple
    undirected edges, then each edge is ORIENTED from its lower
    (degree, id) endpoint to the higher; wedges are built by
    self-joining oriented edges on the low endpoint and closed by an
    equi-join against the oriented edge set. Orienting by degree
    bounds every node's oriented out-degree by O(sqrt(|E|)) — the
    wedge join's fan-out — so a celebrity vector with huge IN-degree
    (everyone's nearest neighbor) generates its wedges at its
    low-degree spokes instead of exploding at the hub. Out-degree of
    the raw kNN graph is k, so |E| <= k|V| and the whole census is
    equi-joins over 16-byte edge rows; nothing ever shuffles payloads.

    Every triangle is counted exactly once (at its lowest-rank
    vertex), then credited to all three corners. Integer counts plus
    one guarded IEEE division per row: hash-exact vs the DuckDB twin.
    """
    und = graph.select(
        F.least("query_id", "neighbor_id").alias("a"),
        F.greatest("query_id", "neighbor_id").alias("b"),
    ).distinct()
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    ed = und.join(
        deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b")
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    orient = ed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(lo_first, F.col("db")).otherwise(F.col("da")).alias("hi_deg"),
    )
    e1 = orient.select("lo", F.col("hi").alias("v"), F.col("hi_deg").alias("dv"))
    e2 = orient.select("lo", F.col("hi").alias("w"), F.col("hi_deg").alias("dw"))
    wedge = e1.join(e2, "lo").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = orient.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    tri = wedge.join(closing, ["v", "w"]).select(
        F.col("lo").alias("x"), "v", "w"
    )
    tcnt = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    dcol = F.coalesce(F.col("degree"), F.lit(0).cast("bigint"))
    tcol = F.coalesce(F.col("n_tri"), F.lit(0).cast("bigint"))
    lcc = F.when(
        dcol >= 2,
        (F.lit(2.0) * tcol.cast("double"))
        / (dcol.cast("double") * (dcol - F.lit(1)).cast("double")),
    ).otherwise(F.lit(0.0))
    return (
        emb.select("vec_id")
        .join(deg.select(F.col("node").alias("vec_id"), "degree"), "vec_id", "left")
        .join(tcnt.select(F.col("node").alias("vec_id"), "n_tri"), "vec_id", "left")
        .select(
            "vec_id",
            dcol.alias("degree"),
            tcol.alias("n_tri"),
            lcc.alias("lcc"),
        )
    )


def knn_triangles_sql() -> str:
    """DuckDB twin: identical symmetrize -> degree-orient -> wedge ->
    close pipeline over the shared multiprobe graph CTE."""
    graph = lsh_topk_multiprobe_sql("TRUE", KNN_GRAPH_K)
    return f"""
WITH graph AS ({graph}),
und AS (
  SELECT DISTINCT least(query_id, neighbor_id) AS a,
                  greatest(query_id, neighbor_id) AS b
  FROM graph),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und) u
  GROUP BY node),
orient AS (
  SELECT CASE WHEN lo_first THEN a ELSE b END AS lo,
         CASE WHEN lo_first THEN b ELSE a END AS hi,
         CASE WHEN lo_first THEN db ELSE da END AS hi_deg
  FROM (
    SELECT u.a, u.b, da.degree AS da, db.degree AS db,
           (da.degree < db.degree
            OR (da.degree = db.degree AND u.a < u.b)) AS lo_first
    FROM und u
    JOIN deg da ON u.a = da.node
    JOIN deg db ON u.b = db.node) x),
tri AS (
  SELECT e1.lo AS x, e1.hi AS v, e2.hi AS w
  FROM orient e1
  JOIN orient e2 ON e1.lo = e2.lo
  JOIN orient e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
  WHERE e1.hi_deg < e2.hi_deg
     OR (e1.hi_deg = e2.hi_deg AND e1.hi < e2.hi)),
tcnt AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT v AS node FROM tri
    UNION ALL SELECT w AS node FROM tri) u
  GROUP BY node)
SELECT e.vec_id,
       COALESCE(d.degree, CAST(0 AS BIGINT)) AS degree,
       COALESCE(t.n_tri, CAST(0 AS BIGINT)) AS n_tri,
       CASE WHEN COALESCE(d.degree, 0) >= 2
            THEN (2.0 * CAST(COALESCE(t.n_tri, 0) AS DOUBLE))
                 / (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE))
            ELSE 0.0 END AS lcc
FROM embeddings e
LEFT JOIN deg d ON e.vec_id = d.node
LEFT JOIN tcnt t ON e.vec_id = t.node
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation audit: recall of prefix-dim search vs full-dim
# ---------------------------------------------------------------------------


def matryoshka_audit(
    emb: DataFrame,
    queries: DataFrame,
    exact: DataFrame,
) -> DataFrame:
    """Recall@k of PREFIX-TRUNCATED embeddings against the full-dim
    exact top-k — the operational question behind Matryoshka-style
    representations (Kusupati et al. 2022): how many leading dimensions
    does retrieval actually need? Scanning 8 of 64 dims cuts the
    dominant ANN cost (bytes read × multiplies) 8× — IF recall holds;
    this table says whether it does, per truncation width. Output: one
    row per width — (trunc_dim, n_pairs, n_hit, recall).

    Both sides are exact brute force at their width (fixed-order float
    folds, total tie-break), so the audit is hash-exact — same
    contract as a06; IVF/PQ-style trained quantizers stay rows-only.
    The full-dim ground truth ``exact`` is the session baseline
    artifact (``brute_force_topk`` at full width); each truncated pass
    broadcasts the query set and slices the corpus vectors inside
    the scan, so the corpus is never shuffled and never read wider
    than the width under audit.
    """
    from functools import reduce as _reduce

    exact_pairs = exact.select("query_id", "neighbor_id")
    reports = []
    for d in (8, 16, 32):
        trunc = brute_force_topk(emb, queries, k=TOP_K, dim=d).select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        )
        reports.append(
            exact_pairs.join(trunc, ["query_id", "neighbor_id"], "left").agg(
                F.lit(d).cast("bigint").alias("trunc_dim"),
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.count("hit").cast("bigint").alias("n_hit"),
                (F.count("hit").cast("double") / F.count(F.lit(1))).alias(
                    "recall"
                ),
            )
        )
    return _reduce(lambda a, b: a.unionByName(b), reports)


def matryoshka_audit_sql() -> str:
    def topk_cte(name: str, d: int) -> str:
        dot = _dot_sql("q.embedding", "n.embedding", d)
        qn = _norm_sql("q.embedding", d)
        nn = _norm_sql("n.embedding", d)
        return f"""
{name} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ({dot}) / (({qn}) * ({nn})) DESC, n.vec_id
           ) AS rank
    FROM embeddings q, embeddings n
    WHERE ({QUERY_PRED}) AND q.vec_id <> n.vec_id
  ) WHERE rank <= {TOP_K}
)"""

    ctes = [topk_cte("exact_full", DIM)]
    legs = []
    for d in (8, 16, 32):
        ctes.append(topk_cte(f"trunc_{d}", d))
        legs.append(f"""
SELECT CAST({d} AS BIGINT) AS trunc_dim,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(t.hit) AS BIGINT) AS n_hit,
       CAST(COUNT(t.hit) AS DOUBLE) / COUNT(*) AS recall
FROM exact_full e
LEFT JOIN (SELECT query_id, neighbor_id, 1 AS hit FROM trunc_{d}) t
  USING (query_id, neighbor_id)""")
    return "WITH " + ",".join(ctes) + "\n" + "\nUNION ALL\n".join(legs)


# ---------------------------------------------------------------------------
# Embedding norm audit: the vector-quality gate before any ANN build
# ---------------------------------------------------------------------------


def norm_audit(
    emb: DataFrame,
) -> DataFrame:
    """Per-label L2-norm distribution audit — the vector-quality gate
    run before building any ANN index: zero vectors make cosine
    undefined (NaN poisons every top-k they appear in), and a label
    whose norm range is wildly off scale signals a broken encoder run
    or an unnormalized shard mixed into a normalized corpus. Output per
    label: vector count, MALFORMED count (NULL or shorter-than-dim
    vectors — an audit that half-scores a truncated vector hides the
    exact defect it exists to catch), zero-vector count, and min/max/
    mean norm over the well-formed rows.

    Exactness: each well-formed row's norm is the fixed-order fold
    both engines compute bit-identically (the a01 discipline); norms
    then round to the t30/a08 quantized-integer grid so min/max/sum are
    exact integer aggregation (order-free, map-side combinable) and the
    mean is two IEEE divisions on exact integers. Malformed rows are
    excluded from the norm stats IDENTICALLY in both engines (the r9
    embeddings NULL sweep caught the divergence: DuckDB's unrolled
    ``arr[i]`` past the end is NULL and poisons the sum, Spark's
    slice+fold sums the elements that exist). One scan, |labels| state
    rows — the plan survives any corpus size.
    """
    well_formed = F.col("embedding").isNotNull() & (F.size("embedding") >= DIM)
    norm = F.when(well_formed, _norm_col())
    q = F.round(norm * FIXED_POINT_SCALE).cast("bigint")
    return (
        emb.select(F.col("label"), norm.alias("nrm"), q.alias("q"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.when(F.col("nrm").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_malformed"),
            F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0))
            .cast("bigint")
            .alias("zero_vectors"),
            (F.min("q").cast("double") / F.lit(float(FIXED_POINT_SCALE))).alias(
                "min_norm"
            ),
            (F.max("q").cast("double") / F.lit(float(FIXED_POINT_SCALE))).alias(
                "max_norm"
            ),
            (
                (F.sum("q").cast("double") / F.lit(float(FIXED_POINT_SCALE)))
                / F.count("q").cast("double")
            ).alias("mean_norm"),
        )
    )


def norm_audit_sql() -> str:
    nrm = _norm_sql("embedding", DIM)
    wf = f"(embedding IS NOT NULL AND len(embedding) >= {DIM})"
    return f"""
WITH q AS (
  SELECT label AS label,
         CASE WHEN {wf} THEN {nrm} END AS nrm,
         CASE WHEN {wf} THEN CAST(ROUND(({nrm}) * {FIXED_POINT_SCALE}) AS BIGINT) END AS qn
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN nrm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_malformed,
       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_vectors,
       CAST(MIN(qn) AS DOUBLE) / {float(FIXED_POINT_SCALE)} AS min_norm,
       CAST(MAX(qn) AS DOUBLE) / {float(FIXED_POINT_SCALE)} AS max_norm,
       (CAST(SUM(qn) AS DOUBLE) / {float(FIXED_POINT_SCALE)}) / CAST(COUNT(qn) AS DOUBLE)
         AS mean_norm
FROM q GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Isotropy histogram: cosine distribution over a deterministic pairing
# ---------------------------------------------------------------------------

# must stay below the smallest corpus's id span or the pairing is
# vacuous (sf0.001/sf0.01 ship 500 vectors). The a19 pair-count-
# conservation test assumes DENSE CONSECUTIVE vec_ids (expected pairs
# = n - shift); a fixture with id gaps keeps the operator well-defined
# (the id-shift join simply matches fewer pairs) but weakens the audit
# — if the fixture ever gains gaps, derive the expected count from the
# actual join, not n - shift (ADVICE r8).
ISOTROPY_SHIFT = 137


def isotropy_histogram(
    emb: DataFrame,
) -> DataFrame:
    """Histogram of pairwise cosines over a DETERMINISTIC id-shift
    pairing (vector i vs vector i+shift) — the embedding-collapse
    audit: a healthy high-dimensional space concentrates random-pair
    cosines near 0; mass piling toward 1 means the encoder collapsed
    (Ethayarajh 2019's anisotropy measurement, as a table). Output:
    one row per 0.1-wide cosine bucket in [-1, 1] with its pair count.

    The fixed-shift pairing replaces random sampling so the audit is
    exactly reproducible AND an equi-join: ids join on ``b = a +
    ISOTROPY_SHIFT`` — never a cross join, one shuffle on the id key, any
    corpus size. Each cosine is the fixed-order fold (bit-identical
    cross-engine); the bucket floor is exact on identical doubles.
    Bucket 20 (cos == 1.0 exactly) folds into bucket 19 so the grid
    stays 20 buckets.
    """
    a = with_norm(emb).select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("va"),
        F.col("norm").alias("na"),
    )
    b = with_norm(emb).select(
        (F.col("vec_id") - ISOTROPY_SHIFT).alias("join_id"),
        F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"),
    )
    paired = a.join(b, a["ida"] == b["join_id"]).filter(
        (F.col("na") > 0) & (F.col("nb") > 0)
    )
    cos = _dot_col("va", "vb") / (F.col("na") * F.col("nb"))
    bucket = F.least(F.floor((cos + 1.0) * 10).cast("bigint"), F.lit(19))
    return (
        paired.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "bucket",
            (F.col("bucket").cast("double") / 10.0 - 1.0).alias("cos_lo"),
            "n_pairs",
        )
    )


def isotropy_histogram_sql() -> str:
    dot = _dot_sql("a.embedding", "b.embedding", DIM)
    na = _norm_sql("a.embedding", DIM)
    nb = _norm_sql("b.embedding", DIM)
    return f"""
WITH paired AS (
  SELECT ({dot}) / (({na}) * ({nb})) AS cos
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + {ISOTROPY_SHIFT}
  WHERE ({na}) > 0 AND ({nb}) > 0
),
bucketed AS (
  SELECT LEAST(CAST(FLOOR((cos + 1.0) * 10) AS BIGINT), 19) AS bucket
  FROM paired
)
SELECT bucket,
       CAST(bucket AS DOUBLE) / 10.0 - 1.0 AS cos_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM bucketed GROUP BY 1
"""
