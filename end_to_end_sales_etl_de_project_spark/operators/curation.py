"""Corpus-curation operators: train/test decontamination, TF-IDF term
extraction, and the end-to-end curation capstone (quality filter →
exact dedup → near-dup resolution → split assignment).

Not present in the reference (its pipeline stops at mart building);
these compose the dedup/text primitives into the decision stages an
LLM-data pipeline runs before training. Everything is built-in Spark
SQL (codegen'd, no Python), deterministic, and oracle-twinned.

Scale design:

- Decontamination is THE standard shape used on real corpora: the
  test-set shingle inventory joins the (deduplicated) train shingle
  inventory on an 8-byte hash — an equi-join whose shuffle carries
  longs, never text. Train-side dedup happens BEFORE the join
  (map-side-combinable distinct), so a boilerplate shingle appearing in
  a million train docs contributes ONE row to the join, not a fanout.
- TF-IDF is two map-side-combinable aggregations (term counts, then
  document frequencies) + an equi-join on the term; the corpus-size
  scalar rides a 1-row broadcast (how Catalyst executes scalar
  subqueries), never a driver-side collect in the data path.
- The curation capstone chains each stage's SURVIVORS into the next, so
  the expensive near-dup stage sees only quality-passing, exact-unique
  docs — the same ordering (cheap filters first) any production
  curation run uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.checkpoints import scoped_checkpoint
from end_to_end_sales_etl_de_project_spark.functions.hashing import h60, h60_sql
from end_to_end_sales_etl_de_project_spark.operators import dedup
from end_to_end_sales_etl_de_project_spark.operators.text import (
    composite_quality,
    composite_quality_sql,
    corpus_split,
    corpus_split_sql,
    positional_shingles_from_tokens,
    positional_shingles_sql_from_toks,
    quality_bucket,
    quality_bucket_sql,
    shingles_from_tokens,
    token_count,
    token_count_sql,
    tokens,
    tokens_sql,
    word_count,
    word_count_sql,
    word_shingles_sql,
)

# ---------------------------------------------------------------------------
# Train/test decontamination
# ---------------------------------------------------------------------------


def contamination_report(sh_base: DataFrame) -> DataFrame:
    """Per TEST-split document: how many of its distinct k-gram shingles
    also occur anywhere in the TRAIN split. A test doc sharing verbatim
    k-grams with training data inflates eval scores; this is the check
    (and the join shape) used to decontaminate benchmark sets against
    pretraining corpora.

    Splits come from :func:`corpus_split` (deterministic content-hash
    assignment), so the report itself is reproducible. Output: one row
    per test doc — (doc_id, n_shingles, n_contaminated,
    is_contaminated), including zero-overlap docs via the left join.

    ``sh_base`` is the materialized (doc, split, sh) table — each doc's
    split and its distinct k-gram shingle array (the session 5-gram
    artifact in plans/documents.py). It feeds three consumers (test
    sizes, test inventory, train inventory) and tokenize+shingle is the
    dominant CPU cost, so it is built once per corpus and every audit
    (d07, the c08 agreement matrix) reads it.
    """
    test_docs = sh_base.filter(F.col("split") == "test").select(
        "doc", F.size("sh").cast("bigint").alias("n_shingles")
    )
    test_sh = (
        sh_base.filter(F.col("split") == "test")
        .select("doc", F.explode("sh").alias("s"))
        .select("doc", h60(F.col("s")).alias("h"))
    )
    train_set = (
        sh_base.filter(F.col("split") == "train")
        .select(F.explode("sh").alias("s"))
        .select(h60(F.col("s")).alias("h"))
        .distinct()
    )
    hits = test_sh.join(train_set, "h").groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        test_docs.join(hits, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint").alias(
                "n_contaminated"
            ),
            (F.coalesce(F.col("n_contaminated"), F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )


def contamination_report_sql() -> str:
    sh = word_shingles_sql("text", CONTAMINATION_K)
    split = corpus_split_sql("text")
    return f"""
WITH base AS (
  SELECT doc_id AS doc, {split} AS split, {sh} AS sh FROM documents
),
tests AS (SELECT doc, len(sh) AS n_shingles FROM base WHERE split = 'test'),
test_sh AS (
  SELECT doc, {h60_sql('s')} AS h
  FROM (SELECT doc, unnest(sh) AS s FROM base WHERE split = 'test')
),
train_set AS (
  SELECT DISTINCT {h60_sql('s')} AS h
  FROM (SELECT unnest(sh) AS s FROM base WHERE split = 'train')
),
hits AS (
  SELECT doc, COUNT(*) AS n_contaminated
  FROM test_sh JOIN train_set USING (h) GROUP BY 1
)
SELECT t.doc AS doc_id,
       CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       COALESCE(h.n_contaminated, 0) > 0 AS is_contaminated
FROM tests t LEFT JOIN hits h USING (doc)
"""


# k-gram size of the train/test contamination check.
CONTAMINATION_K = 5


def contamination_spans(toks_base: DataFrame) -> DataFrame:
    """Span-level decontamination report: per TEST document, the
    longest CONSECUTIVE run of k-gram positions whose shingle also
    occurs in the TRAIN split, plus run count and total contaminated
    positions. :func:`contamination_report` answers "how much of this
    doc overlaps training data"; this answers "is the overlap one long
    verbatim passage or scattered common phrases" — the distinction
    real decontamination policies act on (a 50-gram verbatim span is
    memorization; fifty isolated matches are boilerplate).

    Shape: positional (non-distinct) shingles on the test side only
    (the small split), the deduplicated train inventory on the other,
    equi-join on the 8-byte shingle hash, then gaps-and-islands
    (pos - row_number) per doc over just the CONTAMINATED positions.
    All counters are integers ⇒ hash-exact.

    ``toks_base`` is the materialized (doc, split, toks) table (the
    session tokenized-split artifact), so no run re-tokenizes the
    corpus; shingling at width ``CONTAMINATION_K`` happens here, on the tokens.
    """
    test = toks_base.filter(F.col("split") == "test")
    test_docs = test.select(
        "doc",
        F.greatest(F.size("toks") - (CONTAMINATION_K - 1), F.lit(0))
        .cast("bigint")
        .alias("n_windows"),
    )
    test_pos = (
        test.select(
            "doc",
            F.posexplode(
                positional_shingles_from_tokens(F.col("toks"), CONTAMINATION_K)
            ).alias("pos", "s"),
        )
        .select("doc", "pos", h60(F.col("s")).alias("h"))
    )
    train_set = (
        toks_base.filter(F.col("split") == "train")
        .select(
            F.explode(shingles_from_tokens(F.col("toks"), CONTAMINATION_K)).alias("s")
        )
        .select(h60(F.col("s")).alias("h"))
        .distinct()
    )
    contam = test_pos.join(train_set, "h", "left_semi")
    w = Window.partitionBy("doc").orderBy("pos")
    runs = contam.withColumn("grp", F.col("pos") - F.row_number().over(w))
    per_run = runs.groupBy("doc", "grp").agg(F.count(F.lit(1)).alias("run_len"))
    per_doc = per_run.groupBy("doc").agg(
        F.sum("run_len").cast("bigint").alias("n_contaminated_pos"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("longest_run"),
    )
    return test_docs.join(per_doc, "doc", "left").select(
        F.col("doc").alias("doc_id"),
        "n_windows",
        F.coalesce("n_contaminated_pos", F.lit(0)).cast("bigint").alias(
            "n_contaminated_pos"
        ),
        F.coalesce("n_runs", F.lit(0)).cast("bigint").alias("n_runs"),
        F.coalesce("longest_run", F.lit(0)).cast("bigint").alias("longest_run"),
    )


def contamination_spans_sql() -> str:
    split = corpus_split_sql("text")
    pos_sh = positional_shingles_sql_from_toks(CONTAMINATION_K)
    return f"""
WITH base AS (
  SELECT doc_id AS doc, {split} AS split, {tokens_sql('text')} AS toks
  FROM documents
),
test AS (SELECT doc, toks FROM base WHERE split = 'test'),
test_sh AS (SELECT doc, {pos_sh} AS shl FROM test),
test_pos AS (
  SELECT doc, CAST(i AS BIGINT) - 1 AS pos, {h60_sql('shl[i]')} AS h
  FROM test_sh, UNNEST(range(1, len(shl) + 1)) AS t(i)
),
train_set AS (
  SELECT DISTINCT {h60_sql('s')} AS h
  FROM (
    SELECT unnest(list_distinct({pos_sh})) AS s
    FROM (SELECT toks FROM base WHERE split = 'train')
  )
),
contam AS (SELECT doc, pos FROM test_pos JOIN train_set USING (h)),
runs AS (
  SELECT doc, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc ORDER BY pos) AS grp
  FROM contam
),
per_run AS (SELECT doc, grp, COUNT(*) AS run_len FROM runs GROUP BY 1, 2),
per_doc AS (
  SELECT doc,
         SUM(run_len) AS n_contaminated_pos,
         COUNT(*) AS n_runs,
         MAX(run_len) AS longest_run
  FROM per_run GROUP BY 1
),
tests AS (
  SELECT doc, greatest(len(toks) - {CONTAMINATION_K - 1}, 0) AS n_windows FROM test
)
SELECT t.doc AS doc_id,
       CAST(t.n_windows AS BIGINT) AS n_windows,
       CAST(COALESCE(p.n_contaminated_pos, 0) AS BIGINT) AS n_contaminated_pos,
       CAST(COALESCE(p.n_runs, 0) AS BIGINT) AS n_runs,
       CAST(COALESCE(p.longest_run, 0) AS BIGINT) AS longest_run
FROM tests t LEFT JOIN per_doc p USING (doc)
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    docs: DataFrame, top_n: int = 3
) -> DataFrame:
    """Top-``top_n`` characteristic terms per document by TF-IDF with
    reciprocal-df weighting: score = tf * (N / df) in double.

    Deliberately NO logarithm: ``ln`` is a libm call whose low bits are
    not guaranteed identical across engines, which would break the
    exact-hash oracle; reciprocal weighting preserves the per-document
    ranking (monotone in df for fixed tf) using only IEEE +,*,/ — and
    per the repo determinism rules, bit-reproducibility wins over the
    textbook formula. Ties rank alphabetically.
    """
    tok = docs.select(
        F.col("doc_id").alias("doc"), F.explode(tokens("text")).alias("token")
    )
    tf = tok.groupBy("doc", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(dfreq, "token").crossJoin(F.broadcast(n_docs))
    score = F.col("tf").cast("double") * (
        F.col("n_docs").cast("double") / F.col("df").cast("double")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.col("doc").alias("doc_id"),
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "score",
        )
    )


def tfidf_top_terms_sql() -> str:
    toks = tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id AS doc, unnest({toks}) AS token FROM documents
),
tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc, token, tf, df,
         CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
),
ranked AS (
  SELECT doc, token, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY doc ORDER BY score DESC, token ASC) AS rank
  FROM scored
)
SELECT doc AS doc_id, CAST(rank AS INTEGER) AS rank, token,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Curation capstone: filter → exact dedup → near-dup resolve → split
# ---------------------------------------------------------------------------


def curate_corpus(
    docs: DataFrame,
    hashed_shingles: DataFrame,
    signatures: DataFrame,
) -> DataFrame:
    """The full curation decision per document — what an LLM-data
    pipeline runs end-to-end before training:

    1. quality gate (:func:`~.text.quality_bucket` != 'ok' → dropped)
    2. exact dedup (non-minimal id within a text-hash group → dropped)
    3. near-dup resolution (MinHash-LSH pairs → connected components;
       non-canonical member → dropped)
    4. split assignment (:func:`~.text.corpus_split`) for the keepers

    Output: one row per input doc — (doc_id, stage, split) where stage
    ∈ {kept, dropped_quality, dropped_exact_dup, dropped_near_dup}
    and split is null for dropped docs. Each stage only processes the
    previous stage's survivors (cheap filters first), so the pair-graph
    work runs on the smallest possible corpus.

    The quality→canon→join chain feeds three consumers (the survivor
    set that seeds the pair graph, the component-label init, and the
    final decision join), and the survivor set is re-read many times by
    the iterative component loop — so ``exact`` is materialized ONCE
    (localCheckpoint), exactly where a production curation pipeline
    checkpoints between stages. Measured 7.6 s → ~4 s at sf0.1; on a
    real cluster use a reliable checkpoint dir instead.

    ``hashed_shingles``: the corpus's materialized (doc, shingle-md5)
    index (k=3, the session memo in plans/documents.py). The near-dup
    stage only needs the SURVIVORS' shingles, and survivors ⊆ corpus —
    so the full-corpus artifact is filtered to survivor ids instead of
    re-tokenizing the survivor texts inside this plan.

    ``signatures``: the corpus's materialized MinHash signature table
    (doc, mh0..mh15). Per-doc signatures are corpus-independent (min
    over the doc's OWN shingles), so the survivor subset's signatures
    are exactly the artifact filtered to survivor ids — no survivor
    signature groupBy.
    """
    base = docs.select(F.col("doc_id").alias("doc"), F.col("text"))
    ok = base.filter(quality_bucket() == "ok")
    canon = (
        ok.select("doc", h60(F.col("text")).alias("th"))
        .groupBy("th")
        .agg(F.min("doc").alias("canon_doc"))
    )
    exact = scoped_checkpoint(
        "curate_corpus.exact",
        ok.select("doc", "text", h60(F.col("text")).alias("th")).join(canon, "th"),
    )
    survivors = exact.filter(F.col("doc") == F.col("canon_doc")).select("doc")
    pairs = dedup.minhash_lsh_pairs(
        hashed_shingles.join(survivors, "doc"), signatures.join(survivors, "doc")
    )
    comps = dedup.neardup_components(survivors, pairs, "doc").select(
        F.col("doc_id").alias("doc"), "is_canonical"
    )
    decided = (
        base.join(
            exact.select("doc", F.col("canon_doc")), "doc", "left"
        )
        .join(comps, "doc", "left")
    )
    stage = (
        F.when(F.col("canon_doc").isNull(), "dropped_quality")
        .when(F.col("doc") != F.col("canon_doc"), "dropped_exact_dup")
        .when(~F.col("is_canonical"), "dropped_near_dup")
        .otherwise("kept")
    )
    return decided.select(
        F.col("doc").alias("doc_id"),
        stage.alias("stage"),
        F.when(stage == "kept", corpus_split()).alias("split"),
    )


def training_manifest(kept: DataFrame) -> DataFrame:
    """Corpus in, training manifest out — the end-to-end composition a
    training run consumes:

    1. :func:`curate_corpus` decides keep/drop + split per doc
    2. TEST keepers are flagged if any of their k-gram shingles occur
       in the TRAIN keepers (decontamination, d07's join shape)
    3. TRAIN keepers are packed into 2048-token bins in salted
       hash order (t11's window shape)

    Output: one row per KEPT doc — (doc_id, split, n_tokens,
    bin_id [train only], is_contaminated [test only]). Dropped docs are
    absent (the manifest is what the loader reads, not an audit log —
    c01 is the audit view).

    ``kept`` is the materialized curated-keeper table (doc, split,
    text, toks) — the session's curated-corpus artifact
    (plans/documents.py), built from step 1's decisions. A production
    pipeline persists the curation stage's output and the manifest
    builder READS it rather than re-running curation; it feeds three
    consumers here (train inventory, test inventory, packing).
    """
    sh = kept.select(
        "doc",
        "split",
        F.explode(shingles_from_tokens(F.col("toks"), CONTAMINATION_K)).alias("s"),
    ).select("doc", "split", h60(F.col("s")).alias("h"))
    train_set = sh.filter(F.col("split") == "train").select("h").distinct()
    contaminated = (
        sh.filter(F.col("split") == "test")
        .join(train_set, "h")
        .select("doc")
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )
    from pyspark.sql import Window

    sized = kept.select(
        "doc",
        "split",
        F.size(F.col("toks")).cast("bigint").alias("n_tokens"),
        h60(F.concat(F.lit("pack-v1"), F.col("text"))).alias("ord"),
    )
    w = (
        Window.partitionBy("split")
        .orderBy("ord", "doc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.select(
        "doc",
        "split",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        packed.join(contaminated, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            "split",
            "n_tokens",
            F.when(
                F.col("split") == "train",
                F.expr("cum_before div 2048"),
            )
            .cast("bigint")
            .alias("bin_id"),
            F.when(
                F.col("split") == "test", F.coalesce(F.col("is_contaminated"), F.lit(False))
            ).alias("is_contaminated"),
        )
    )


def training_manifest_sql() -> str:
    cur = curate_corpus_sql()
    sh = word_shingles_sql("text", CONTAMINATION_K)
    toks = tokens_sql("text")
    return f"""
WITH cur AS (SELECT * FROM ({cur}) c0),
kept AS (
  SELECT c.doc_id AS doc, c.split, d.text AS text
  FROM cur c JOIN documents d ON c.doc_id = d.doc_id
  WHERE c.stage = 'kept'
),
sh AS (
  SELECT doc, split, {h60_sql('s')} AS h
  FROM (SELECT doc, split, unnest({sh}) AS s FROM kept)
),
train_set AS (SELECT DISTINCT h FROM sh WHERE split = 'train'),
contaminated AS (
  SELECT DISTINCT s.doc, TRUE AS is_contaminated
  FROM sh s JOIN train_set t USING (h) WHERE s.split = 'test'
),
sized AS (
  SELECT doc, split, CAST(len({toks}) AS BIGINT) AS n_tokens,
         {h60_sql("'pack-v1' || text")} AS ord
  FROM kept
),
packed AS (
  SELECT doc, split, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY split ORDER BY ord, doc
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_before
  FROM sized
)
SELECT p.doc AS doc_id, p.split, p.n_tokens,
       CASE WHEN p.split = 'train' THEN CAST(p.cum_before // 2048 AS BIGINT)
            ELSE NULL END AS bin_id,
       CASE WHEN p.split = 'test' THEN COALESCE(c.is_contaminated, FALSE)
            ELSE NULL END AS is_contaminated
FROM packed p LEFT JOIN contaminated c USING (doc)
"""


def token_rarity(
    docs: DataFrame,
    rare_max: int = 2,
) -> DataFrame:
    """Corpus-relative token-rarity profile per document — a unigram
    language-model quality signal without float folds: documents whose
    tokens are rare in the corpus (low ``avg_token_freq``, high
    ``rare_ratio``) are either high-information or garbage; both tails
    are what a curation run inspects.

    Two map-side-combinable aggregations (corpus token frequencies, then
    the per-doc rollup) around one equi-join on the token. The join key
    is skewed by construction (stopwords dominate any natural corpus) —
    AQE's skew-join split handles the hot tokens, and the frequency side
    carries one row per DISTINCT token, so a stopword appearing a
    billion times contributes a single join row, not a fanout.

    Determinism: every emitted number is either an exact BIGINT count or
    ONE IEEE division of two exact BIGINTs — no order-dependent float
    accumulation, so the DuckDB twin hash-matches exactly.

    Docs with zero tokens have no token rows and are absent from the
    output (identically in both engines).
    """
    tok = docs.select(
        F.col("doc_id").alias("doc"), F.explode(tokens("text")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return (
        tok.join(freq, "token")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("freq_sum"),
            F.sum(F.when(F.col("freq") <= rare_max, 1).otherwise(0)).alias("n_rare"),
        )
        .select(
            F.col("doc").alias("doc_id"),
            "n_tokens",
            "freq_sum",
            (F.col("freq_sum").cast("double") / F.col("n_tokens")).alias(
                "avg_token_freq"
            ),
            "n_rare",
            (F.col("n_rare").cast("double") / F.col("n_tokens")).alias("rare_ratio"),
        )
    )


def token_rarity_sql() -> str:
    toks = tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id AS doc, unnest({toks}) AS token FROM documents
),
freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY token
),
rolled AS (
  SELECT doc,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(freq) AS BIGINT) AS freq_sum,
         CAST(SUM(CASE WHEN freq <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM tok JOIN freq USING (token)
  GROUP BY doc
)
SELECT doc AS doc_id, n_tokens, freq_sum,
       CAST(freq_sum AS DOUBLE) / n_tokens AS avg_token_freq,
       n_rare,
       CAST(n_rare AS DOUBLE) / n_tokens AS rare_ratio
FROM rolled
"""


def boilerplate_ngrams(
    docs: DataFrame,
) -> DataFrame:
    """Per-source boilerplate discovery: the top 5 3-gram shingles by
    document frequency within each source (ties broken on the shingle
    text). This is the AUDIT behind stop-shingle capping (d08) — before
    capping hot shingles you look at what they are, per source, because
    boilerplate is source-specific (site templates, license headers).

    One explode → one (source, shingle) aggregation counting DISTINCT
    docs (a shingle counts once per doc; the single-distinct aggregate
    plans as a two-phase agg — partial dedup map-side, so the shuffle
    carries each (source, shingle, doc) once, not once per occurrence)
    → one rank window over the aggregated frame. The window's input is
    bounded by |sources| x |distinct shingles per source| — at 100 TB
    apply the DF floor of 2 first (done here) so the rank only sees shingles
    that repeat at all. Counts exact, ordering totally tie-broken ⇒
    hash-exact oracle.
    """
    from pyspark.sql import Window

    sh = docs.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.explode(shingles_from_tokens(tokens("text"), 3)).alias("shingle"),
    )
    df_counts = (
        sh.groupBy("source", "shingle")
        .agg(F.count_distinct("doc").alias("df"))
        .filter(F.col("df") >= 2)
    )
    w = Window.partitionBy("source").orderBy(F.desc("df"), "shingle")
    return (
        df_counts.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= 5)
        .select(
            "source",
            F.col("rank_in_source").cast("bigint"),
            "shingle",
            F.col("df").cast("bigint").alias("df"),
        )
    )


def boilerplate_ngrams_sql() -> str:
    sh = word_shingles_sql("text", 3)
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS doc, source, unnest({sh}) AS shingle FROM documents
),
counts AS (
  SELECT source, shingle, CAST(COUNT(*) AS BIGINT) AS df
  FROM sh GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
ranked AS (
  SELECT source, shingle, df,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY df DESC, shingle)
           AS rank_in_source
  FROM counts
)
SELECT source, CAST(rank_in_source AS BIGINT) AS rank_in_source, shingle, df
FROM ranked WHERE rank_in_source <= 5
"""


def dataset_mix_report(docs: DataFrame) -> DataFrame:
    """The dataset-card table: per (split, source, language) — document
    count, token total, and the cell's share of its split's tokens.
    This is the mix report every training run publishes (and the input
    to source-weighting decisions like t12's caps).

    One map-side-combinable aggregation on the derived (split, source,
    lang) key, then a split-partitioned window sum over the AGGREGATED
    frame (bounded by |splits|x|sources|x|langs| — control-plane sized,
    so the second exchange moves almost nothing). Counts are exact
    BIGINTs; the share is one IEEE division of two exact sums ⇒
    hash-exact against the DuckDB twin.
    """
    from pyspark.sql import Window

    per = (
        docs.select(
            corpus_split().alias("split"),
            "source",
            "lang",
            token_count("text").cast("bigint").alias("toks"),
        )
        .groupBy("split", "source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
        )
    )
    w = Window.partitionBy("split")
    denom = F.sum("n_tokens").over(w)
    # guard the divisor: a split whose docs are all empty would give
    # NULL here (non-ANSI /0) but NaN in DuckDB's IEEE division —
    # emit NULL in both engines so the hash-exact oracle claim holds
    # on that edge case
    return per.select(
        "split",
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.when(denom > 0, F.col("n_tokens").cast("double") / denom).alias(
            "token_share"
        ),
    )


def dataset_mix_report_sql() -> str:
    split = corpus_split_sql("text")
    tc = token_count_sql("text")
    return f"""
WITH per AS (
  SELECT {split} AS split, source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({tc}) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY 1, 2, 3
)
SELECT split, source, lang, n_docs, n_tokens,
       CASE WHEN SUM(n_tokens) OVER (PARTITION BY split) > 0
            THEN CAST(n_tokens AS DOUBLE)
                   / CAST(SUM(n_tokens) OVER (PARTITION BY split) AS BIGINT)
       END AS token_share
FROM per
"""


def curate_corpus_sql() -> str:
    qb = quality_bucket_sql()
    th = h60_sql("text")
    pairs_sql = dedup.minhash_lsh_pairs_sql("doc", "text", table="surv")
    comp_sql = dedup.neardup_components_sql(pairs_sql, "doc", table="surv")
    split = corpus_split_sql("d.text")
    return f"""
WITH ok AS (
  SELECT doc_id AS doc, text AS text FROM documents WHERE ({qb}) = 'ok'
),
canon AS (
  SELECT {h60_sql('text')} AS th, MIN(doc) AS canon_doc FROM ok GROUP BY 1
),
ex AS (
  SELECT o.doc, o.text, c.canon_doc
  FROM ok o JOIN canon c ON {h60_sql('o.text')} = c.th
),
surv AS (SELECT doc, text FROM ex WHERE doc = canon_doc),
comp AS (SELECT * FROM ({comp_sql}) z)
SELECT d.doc_id,
       CASE WHEN e.canon_doc IS NULL THEN 'dropped_quality'
            WHEN d.doc_id <> e.canon_doc THEN 'dropped_exact_dup'
            WHEN NOT comp.is_canonical THEN 'dropped_near_dup'
            ELSE 'kept' END AS stage,
       CASE WHEN e.canon_doc IS NOT NULL AND d.doc_id = e.canon_doc
                 AND comp.is_canonical
            THEN {split} ELSE NULL END AS split
FROM documents d
LEFT JOIN ex e ON d.doc_id = e.doc
LEFT JOIN comp ON d.doc_id = comp.doc_id
"""


# ---------------------------------------------------------------------------
# Temperature-weighted source sampling (training-mix rebalancing)
# ---------------------------------------------------------------------------


# Share of the corpus's docs the rebalanced sample keeps.
SAMPLE_TARGET_FRAC = 0.5


def weighted_source_sample(docs: DataFrame) -> DataFrame:
    """Sqrt-temperature source rebalancing: each source's target share
    of a ``SAMPLE_TARGET_FRAC`` sample of the corpus is proportional to the SQUARE ROOT of its
    token mass (the standard alpha=0.5 temperature that upweights small
    sources and flattens head-heavy mixes), and documents are kept by
    deterministic hash against the per-source keep rate. Output: one
    row per KEPT doc with its source's keep_rate — the mix-rebalancing
    step between curation (c01) and packing (t11).

    Scale shape: one map-side-combinable aggregation builds the
    per-source token totals (|sources| rows — control-plane sized, so
    the unpartitioned window over it moves nothing), the rate table
    broadcasts back onto the corpus, and the keep decision is a pure
    per-row hash filter in codegen. Nothing driver-side, nothing
    quadratic, no second corpus pass.

    Determinism: weights are floor(sqrt(tokens)) — INTEGERS — so their
    sum is order-free; the rate is a fixed left-to-right chain of IEEE
    ops mirrored exactly in the SQL twin; the keep test compares
    integers (md5 bucket vs floor(rate*1e6)). Hash-exact, including
    the all-empty-corpus edge (rate NULL in both engines, no rows).
    """
    from pyspark.sql import Window

    per = (
        docs.select("source", token_count("text").cast("bigint").alias("toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    rates = per.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("bigint").alias("wt"),
    )
    total_wt = F.sum("wt").over(w)
    total_docs = F.sum("n_docs").over(w)
    keep_rate = F.least(
        F.lit(1.0),
        F.col("wt").cast("double")
        / total_wt
        * (total_docs * F.lit(SAMPLE_TARGET_FRAC))
        / F.col("n_docs"),
    )
    rates = rates.select(
        "source", F.when(total_wt > 0, keep_rate).alias("keep_rate")
    )
    bucket = F.pmod(
        h60(F.concat(F.lit("mix-v1"), F.col("doc_id").cast("string"))), F.lit(1000000)
    )
    return (
        docs.select(F.col("doc_id"), "source")
        .join(F.broadcast(rates), "source")
        .filter(bucket < F.floor(F.col("keep_rate") * 1000000.0).cast("bigint"))
        .select("doc_id", "source", "keep_rate")
    )


def weighted_source_sample_sql() -> str:
    tc = token_count_sql("text")
    h = h60_sql("'mix-v1' || CAST(d.doc_id AS VARCHAR)")
    return f"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({tc}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
rates AS (
  SELECT source,
         CASE WHEN SUM(CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)) OVER () > 0
              THEN LEAST(1.0,
                CAST(CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS DOUBLE)
                  / SUM(CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)) OVER ()
                  * (SUM(n_docs) OVER () * {SAMPLE_TARGET_FRAC})
                  / n_docs)
         END AS keep_rate
  FROM per
)
SELECT d.doc_id, d.source, r.keep_rate
FROM documents d JOIN rates r ON d.source = r.source
WHERE ({h}) % 1000000 < CAST(FLOOR(r.keep_rate * 1000000.0) AS BIGINT)
"""


# ---------------------------------------------------------------------------
# Training-order materialization: deterministic shuffle into shards
# ---------------------------------------------------------------------------


def training_shards(
    docs: DataFrame,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic global shuffle + sharding: each doc lands in a
    hash-assigned shard and gets a dense position from a SECOND,
    independent hash ordering — the (shard, position) pair a training
    loader consumes as its reproducible read order. Two independent
    salts mean shard assignment and intra-shard order are uncorrelated
    (docs that hash-collide into the same shard are not also adjacent),
    and changing either salt reshuffles without touching the data.

    Scale shape: one shuffle to the shard partitioning, one
    partition-local sort per shard for row_number — exactly the
    ``repartition(n).sortWithinPartitions`` write pattern, expressed as
    a window so the assignment is a queryable, oracle-checked table.
    Position density (0..shard_size-1, no gaps) is what lets loaders
    seek by offset; pinned by test.
    """
    from pyspark.sql import Window

    shard = F.pmod(
        h60(F.concat(F.lit("shard-v1"), F.col("doc_id").cast("string"))),
        F.lit(n_shards),
    )
    order_key = h60(F.concat(F.lit("order-v1"), F.col("doc_id").cast("string")))
    sel = docs.select(
        F.col("doc_id"),
        shard.alias("shard"),
        order_key.alias("ok"),
    )
    w = Window.partitionBy("shard").orderBy("ok", "doc_id")
    return sel.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("position"),
    )


def training_shards_sql() -> str:
    sh = h60_sql("'shard-v1' || CAST(doc_id AS VARCHAR)")
    ok = h60_sql("'order-v1' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH sel AS (
  SELECT doc_id, ({sh}) % 8 AS shard, {ok} AS ok FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ok, doc_id) - 1
            AS BIGINT) AS position
FROM sel
"""


# ---------------------------------------------------------------------------
# Curriculum phases (histogram-quantile bucketing)
# ---------------------------------------------------------------------------


def curriculum_phases(docs: DataFrame) -> DataFrame:
    """Curriculum-learning phase assignment: docs bucketed into 4
    phases by length quartile (short/easy first — the standard
    length-based curriculum), with EXACT discrete quartile cutoffs
    (value at rank ceil(p·n), e19's definition) so the assignment is
    reproducible bit-for-bit.

    Scale shape — the histogram-quantile trick: the corpus pass is a
    map-side-combinable ``groupBy(n_words).count()`` (cardinality
    bounded by distinct doc lengths, thousands at most — NOT corpus
    size), the cumulative walk runs over that tiny histogram, and the
    three cutoffs ride a 1-row broadcast back onto the corpus as a
    codegen'd CASE. No global sort of the corpus, no single-partition
    window over data-sized input (the textbook ntile() would do
    exactly that). Ties at a cutoff all land in the lower phase.

    NULL policy: NULL-text docs (no measurable length) are EXCLUDED
    from the quantile histogram — Spark's NULLS FIRST cumulative walk
    would otherwise count the NULL group into every cutoff while
    DuckDB's NULLS LAST counts it into none, shifting every phase
    boundary between engines (caught by the documents NULL sweep on
    first exposure, r10). They stay in the output with a NULL phase:
    no length, no curriculum position.
    """
    sized = docs.select(
        F.col("doc_id"), word_count("text").cast("bigint").alias("n_words")
    )
    hist = (
        sized.filter(F.col("n_words").isNotNull())
        .groupBy("n_words")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # single-partition window over the HISTOGRAM (bounded cardinality)
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("n_words"))
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy()))

    def cut(p: float, name: str):
        target = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        return F.min(
            F.when(F.col("cum") >= target, F.col("n_words"))
        ).alias(name)

    cuts = cum.agg(cut(0.25, "c25"), cut(0.50, "c50"), cut(0.75, "c75"))
    phase = F.when(
        F.col("n_words").isNotNull(),
        F.lit(1)
        + F.when(F.col("n_words") > F.col("c25"), 1).otherwise(0)
        + F.when(F.col("n_words") > F.col("c50"), 1).otherwise(0)
        + F.when(F.col("n_words") > F.col("c75"), 1).otherwise(0),
    )
    return sized.crossJoin(F.broadcast(cuts)).select(
        F.col("doc_id"), "n_words", phase.cast("bigint").alias("phase")
    )


def curriculum_phases_sql() -> str:
    wc = word_count_sql()
    return f"""
WITH sized AS (SELECT doc_id, {wc} AS n_words FROM documents),
hist AS (
  SELECT n_words AS v, COUNT(*) AS cnt FROM sized
  WHERE n_words IS NOT NULL GROUP BY 1),
cum AS (
  SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum, SUM(cnt) OVER () AS n FROM hist
),
cuts AS (
  SELECT
    MIN(CASE WHEN cum >= CAST(CEIL(0.25 * n) AS BIGINT) THEN v END) AS c25,
    MIN(CASE WHEN cum >= CAST(CEIL(0.50 * n) AS BIGINT) THEN v END) AS c50,
    MIN(CASE WHEN cum >= CAST(CEIL(0.75 * n) AS BIGINT) THEN v END) AS c75
  FROM cum
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CASE WHEN n_words IS NOT NULL THEN
         CAST(1 + (CASE WHEN n_words > c25 THEN 1 ELSE 0 END)
                + (CASE WHEN n_words > c50 THEN 1 ELSE 0 END)
                + (CASE WHEN n_words > c75 THEN 1 ELSE 0 END) AS BIGINT)
       END AS phase
FROM sized, cuts
"""


# ---------------------------------------------------------------------------
# DSIR-style hashed n-gram importance weights (round 7)
# ---------------------------------------------------------------------------


def dsir_importance(
    docs: DataFrame,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR; Xie et al.
    2023) re-expressed: score every document by how much more likely
    its hashed-bigram features are under the TARGET distribution
    (docs where ``lang == 'en'``) than under the
    complement (source) distribution, using add-1-smoothed bucket
    counts over 4096 hash buckets.

    DETERMINISM DEVIATION (documented, deliberate): the paper sums
    log-ratios; natural log is NOT bit-identical across DuckDB and
    the JVM (measured: 76/1592 mismatches on small-integer ratios),
    so this operator folds the RAW likelihood ratios
    ``p_target(f)/p_source(f)`` — each one is three IEEE-rounded
    double ops on exact integers, bit-identical in both engines —
    in pinned position order (the t21 fold pattern). Same features,
    same distributions, same ranking intent; arithmetic that can be
    hash-checked exactly.

    Output: (doc_id, is_target, n_features, sum_ratio, avg_ratio)
    for EVERY doc; docs with <2 tokens have 0 features and 0.0
    scores.

    Scale: the bucket-count model is ONE map-side-combinable
    aggregation to exactly 4096 rows + a 1-row totals
    aggregate — both broadcast; decorating the positional feature
    stream is a broadcast join, so the only corpus-sized exchange is
    the per-doc rollup. Counts stay exact in doubles up to 2^53
    feature occurrences; at larger scale the two-step division form
    below keeps every intermediate near unity instead of overflowing
    a count product."""
    # NULL target_col must count as SOURCE (0), matching the SQL twin's
    # CASE WHEN ... ELSE 0 END — a bare (col == value).cast("int") would
    # null-propagate, silently dropping NULL-lang docs from BOTH
    # smoothed distributions and emitting is_target = NULL
    is_tgt = F.when(F.col("lang") == "en", 1).otherwise(0)
    toked = docs.select(
        F.col("doc_id").alias("doc"), is_tgt.alias("tgt"), tokens("text").alias("toks")
    )
    n1 = F.greatest(F.size("toks") - 1, F.lit(0))
    pairs = toked.select(
        "doc",
        "tgt",
        F.posexplode(
            F.zip_with(
                F.slice(F.col("toks"), 1, n1),
                F.slice(F.col("toks"), 2, n1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("pos0", "bg"),
    ).select(
        "doc",
        "tgt",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        (
            h60(F.concat(F.col("bg.w1"), F.lit(" "), F.col("bg.w2"))) % 4096
        ).alias("bucket"),
    )
    # the model is <= n_buckets rows: persist() it so the totals
    # aggregate and the probe-side broadcast don't each re-execute the
    # corpus-sized tokenize+posexplode pipeline (3 scans -> 2).
    # persist, NOT localCheckpoint: checkpoint (even eager=False)
    # calls queryExecution.toRdd at plan-construction time, which
    # under AQE executes the aggregation's query stages — so merely
    # BUILDING the t27 plan ran a corpus-sized job in explain-only
    # contexts, and the checkpointed blocks had no lineage to
    # recompute on executor loss (ADVICE r7). persist keeps both:
    # lazy until the first action, lineage-backed after it. 4096-row
    # cache entry, never worth unpersisting.
    counts = pairs.groupBy("bucket").agg(
        F.sum("tgt").cast("bigint").alias("ct"),
        F.sum(1 - F.col("tgt")).cast("bigint").alias("cs"),
    ).persist()
    totals = counts.agg(
        F.sum("ct").cast("bigint").alias("t_total"),
        F.sum("cs").cast("bigint").alias("s_total"),
    )
    scored = (
        pairs.join(F.broadcast(counts), "bucket")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc",
            "pos",
            (
                (
                    (F.col("ct") + 1).cast("double")
                    / (F.col("t_total") + 4096).cast("double")
                )
                / (
                    (F.col("cs") + 1).cast("double")
                    / (F.col("s_total") + 4096).cast("double")
                )
            ).alias("ratio"),
        )
    )
    agg = scored.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_features"),
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("ratio")))
        ).alias("seq"),
    )
    sum_ratio = F.aggregate(
        F.transform(F.col("seq"), lambda s: s.getField("ratio")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per = agg.select(
        "doc",
        "n_features",
        sum_ratio.alias("sum_ratio"),
        (sum_ratio / F.col("n_features")).alias("avg_ratio"),
    )
    return (
        docs.select(F.col("doc_id"), is_tgt.alias("is_target"))
        .join(per, F.col("doc_id") == per.doc, "left")
        .select(
            "doc_id",
            F.col("is_target").cast("bigint").alias("is_target"),
            F.coalesce("n_features", F.lit(0).cast("bigint")).alias("n_features"),
            F.coalesce("sum_ratio", F.lit(0.0)).alias("sum_ratio"),
            F.coalesce("avg_ratio", F.lit(0.0)).alias("avg_ratio"),
        )
    )


def dsir_importance_sql() -> str:
    toks = tokens_sql("text")
    bg = h60_sql("(w1 || ' ' || w2)")
    return f"""
WITH toked AS (
  SELECT doc_id AS doc,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
         {toks} AS toks
  FROM documents
),
pairs AS (
  SELECT doc, tgt, CAST(i AS BIGINT) AS pos, toks[i] AS w1, toks[i + 1] AS w2
  FROM toked, UNNEST(range(1, len(toks))) AS t(i)
),
feats AS (
  SELECT doc, tgt, pos, {bg} % 4096 AS bucket FROM pairs
),
counts AS (
  SELECT bucket,
         CAST(SUM(tgt) AS BIGINT) AS ct,
         CAST(SUM(1 - tgt) AS BIGINT) AS cs
  FROM feats GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS t_total, CAST(SUM(cs) AS BIGINT) AS s_total
  FROM counts
),
scored AS (
  SELECT f.doc, f.pos,
         (CAST(c.ct + 1 AS DOUBLE) / CAST(tot.t_total + 4096 AS DOUBLE))
           / (CAST(c.cs + 1 AS DOUBLE) / CAST(tot.s_total + 4096 AS DOUBLE))
           AS ratio
  FROM feats f JOIN counts c USING (bucket), tot
),
agg AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_features,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(ratio ORDER BY pos)),
                     (acc, x) -> acc + x) AS sum_ratio
  FROM scored GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
         AS is_target,
       COALESCE(a.n_features, 0) AS n_features,
       COALESCE(a.sum_ratio, 0.0) AS sum_ratio,
       COALESCE(a.sum_ratio / a.n_features, 0.0) AS avg_ratio
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc
"""


# ---------------------------------------------------------------------------
# Domain mixture reweighting (DoReMi-lite): per-source sampling weights
# that move the token mix toward a target distribution
# ---------------------------------------------------------------------------

MIXTURE_WEIGHT_CAP = 5.0


def domain_mixture(
    docs: DataFrame,
) -> DataFrame:
    """Per-source mixture weights toward a UNIFORM token target — the
    control table a mixture-aware sampler consumes (Doremi, Xie et al.
    2023 fixes weights by optimization; the uniform-target ratio here
    is its closed-form seed and what practitioners actually ship
    first).

    For each source: document count, token mass, realized token share,
    and ``mix_weight = min(MIXTURE_WEIGHT_CAP, target_share / token_share)`` — >1
    upsamples an under-represented source, <1 downsamples an
    over-represented one, and the cap bounds the repetition factor any
    single source can be asked for (unbounded upsampling of a tiny
    source degrades to verbatim repetition). A zero-token source takes
    the cap outright (its share ratio is unbounded); NULL text counts
    zero tokens, NULL source forms its own group on both engines.

    Scale shape: ONE corpus scan -> per-source partial counts (map-side
    combinable, |sources| keys). The global totals come from an
    unpartitioned window OVER THE TINY PER-SOURCE AGGREGATE — |sources|
    rows collapse to one partition, which is exactly right — rather
    than a second aggregate branch: a ``per_source.agg(...)`` subtree
    would make Catalyst re-scan and RE-TOKENIZE the full corpus a
    second time (two Scan nodes in the physical plan), doubling the
    dominant cost at 100 TB. Every float is a fixed tree of single
    IEEE ops over exact integers — identical under any partitioning,
    hence hash-exact vs the oracle.
    """
    toks = F.coalesce(token_count(F.col("text")).cast("bigint"), F.lit(0))
    per_source = docs.groupBy(F.col("source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(toks).cast("bigint").alias("n_tokens"),
    )
    return mixture_weights_from_totals(per_source)


def mixture_weights_from_totals(per_source: DataFrame) -> DataFrame:
    """The t32 weight math from an ALREADY-AGGREGATED (source, n_docs,
    n_tokens) table — shared by the batch query and the streaming
    mixture monitor's per-trigger fold, so the live weights can never
    drift from the batch policy. Input is |sources| rows; the global
    window costs nothing."""
    everything = Window.partitionBy()
    total_tokens = F.sum("n_tokens").over(everything).cast("bigint")
    n_sources = F.count(F.lit(1)).over(everything).cast("bigint")
    share = F.col("n_tokens").cast("double") / total_tokens.cast("double")
    target = F.lit(1.0) / n_sources.cast("double")
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        F.when(F.col("n_tokens") == 0, F.lit(float(MIXTURE_WEIGHT_CAP)))
        .otherwise(F.least(F.lit(float(MIXTURE_WEIGHT_CAP)), target / share))
        .alias("mix_weight"),
    )


def domain_mixture_sql() -> str:
    toks = f"COALESCE({token_count_sql('text')}, 0)"
    return f"""
WITH per_source AS (
  SELECT source AS source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM({toks}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
totals AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per_source
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
       CASE WHEN n_tokens = 0 THEN {float(MIXTURE_WEIGHT_CAP)}
            ELSE LEAST({float(MIXTURE_WEIGHT_CAP)},
                       (1.0 / CAST(n_sources AS DOUBLE))
                       / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)))
       END AS mix_weight
FROM per_source, totals
"""


# ---------------------------------------------------------------------------
# Diversity sampling: cluster-capped quality selection (coreset shape)
# ---------------------------------------------------------------------------

DIVERSITY_BUCKET_BITS = 8
DIVERSITY_CAP = 4


def diversity_sample(
    docs: DataFrame,
    fingerprints: DataFrame,
) -> DataFrame:
    """Cluster-capped quality selection: keep the top-``DIVERSITY_CAP`` documents
    BY QUALITY within each semantic bucket — a coreset spread across
    semantic space instead of dominated by the head cluster (the
    selection step of SemDeDup-style pipelines, Abbas et al. 2023,
    with the cluster assignment made exact: the top ``DIVERSITY_BUCKET_BITS``
    bits of the d04 SimHash fingerprint, so near-identical docs share
    a bucket and compete for the same slots).

    Quality is the shared `text.composite_quality` tree (bit-identical
    across engines, t03-proven); ranking order is total
    (score DESC NULLS LAST, doc_id). Docs with no tokens carry no
    semantic signal and are excluded by the fingerprint inner join —
    same on both engines.

    Scale shape: ``fingerprints`` is the materialized (doc_id,
    simhash) table (:func:`~.dedup.simhash`, the session's d04
    artifact — the production shape where the SimHash index is computed
    once per corpus snapshot and every consumer reads it; measured
    1.9 s → 0.86 s at sf0.1). It is (id, int64) — tiny relative to the
    corpus — and joins back on the id key; the rank and bucket-size
    windows share ONE hashpartitioning(bucket) exchange (plan-pinned).
    Nothing is all-pairs and no centroid iteration is needed — the
    bucket assignment is a pure projection of the fingerprint.
    """
    shift = dedup.SIMHASH_BITS - DIVERSITY_BUCKET_BITS
    fp = fingerprints.select(
        "doc_id",
        F.shiftright(F.col("simhash"), shift).cast("bigint").alias("bucket"),
    )
    scored = docs.select(
        F.col("doc_id"),
        composite_quality(F.col("text")).alias("quality_score"),
    )
    joined = fp.join(scored, "doc_id")
    by_bucket = Window.partitionBy("bucket")
    order = by_bucket.orderBy(
        F.col("quality_score").desc_nulls_last(), F.col("doc_id").asc()
    )
    return joined.select(
        "doc_id",
        "bucket",
        "quality_score",
        F.row_number().over(order).cast("bigint").alias("bucket_rank"),
        F.count(F.lit(1)).over(by_bucket).cast("bigint").alias("bucket_size"),
    ).filter(F.col("bucket_rank") <= DIVERSITY_CAP)


def diversity_sample_sql() -> str:
    shift = dedup.SIMHASH_BITS - DIVERSITY_BUCKET_BITS
    return f"""
WITH fp AS ({dedup.simhash_sql()}),
bucketed AS (
  SELECT doc_id, CAST(simhash >> {shift} AS BIGINT) AS bucket FROM fp
),
scored AS (
  SELECT doc_id AS doc_id,
         {composite_quality_sql()} AS quality_score
  FROM documents
),
ranked AS (
  SELECT b.doc_id, b.bucket, s.quality_score,
         ROW_NUMBER() OVER (
           PARTITION BY b.bucket
           ORDER BY s.quality_score DESC NULLS LAST, b.doc_id
         ) AS bucket_rank,
         CAST(COUNT(*) OVER (PARTITION BY b.bucket) AS BIGINT) AS bucket_size
  FROM bucketed b JOIN scored s USING (doc_id)
)
SELECT doc_id, bucket, quality_score,
       CAST(bucket_rank AS BIGINT) AS bucket_rank, bucket_size
FROM ranked WHERE bucket_rank <= {DIVERSITY_CAP}
"""


# ---------------------------------------------------------------------------
# Corpus datasheet: the per-source release-documentation rollup
# ---------------------------------------------------------------------------


def corpus_datasheet(
    docs: DataFrame,
) -> DataFrame:
    """Per-source corpus datasheet (the quantitative core of "Datasheets
    for Datasets", Gebru et al. 2021 — the table a corpus release ships
    with): document and token mass, corpus token share, NULL-text and
    exact-duplicate counts, language spread with the dominant language,
    and the exact median document length in tokens.

    Exactness choices: the duplicate count is ``docs_with_text −
    distinct text hashes`` (the d01 h60 discipline); the dominant
    language is mode with alphabetical tie-break; the MEDIAN is the
    lower-middle rank picked from a (source, token_count) HISTOGRAM
    cumulative sum — the histogram is |sources|×|distinct lengths|
    rows, so the rank-pick window never sorts the corpus (the e19
    corpus-sort shape would be the bottleneck at 100 TB; a length
    histogram is bounded by the longest doc, not the doc count).

    Scale shape: three map-side-combinable aggregations over one
    narrow projection of the corpus (per-source rollup, length
    histogram, language counts); every window and join downstream runs
    over source-bounded tables. Token share rides a window over the
    per-source rollup (the t32 single-scan discipline). All counts are
    integers; the one IEEE division per row is identical across
    engines.
    """
    toks_n = F.coalesce(token_count(F.col("text")).cast("bigint"), F.lit(0))
    base = docs.select(
        F.col("source"),
        F.col("lang"),
        toks_n.alias("toks"),
        F.col("text").isNull().alias("text_is_null"),
        h60("text").alias("th"),
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("text_is_null"), 1).otherwise(0))
        .cast("bigint")
        .alias("null_text_docs"),
        (F.count("th") - F.count_distinct("th")).cast("bigint").alias("dup_docs"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
    )
    hist = base.groupBy("source", "toks").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # the doc total per source is already IN the histogram (sum of its
    # bucket counts) — deriving it there instead of joining per_source
    # back in saves a whole corpus scan (Catalyst would re-derive the
    # aggregate from the base table, not reuse the sibling subtree)
    cum_w = Window.partitionBy("source").orderBy("toks")
    tot_w = Window.partitionBy("source")
    cum = hist.select(
        "source",
        "toks",
        F.sum("n").over(cum_w).alias("cum"),
        F.sum("n").over(tot_w).alias("total"),
    )
    med = (
        cum.filter(F.col("cum") >= (F.col("total") + 1) / 2)
        .groupBy("source")
        .agg(F.min("toks").cast("bigint").alias("median_tokens"))
    )
    lang_counts = (
        base.filter(F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top_w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("lang").asc()
    )
    top_lang = (
        lang_counts.select(
            "source", "lang", F.row_number().over(top_w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    share_w = Window.partitionBy()
    return (
        per_source.join(med, "source")
        .join(top_lang, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (
                F.col("n_tokens").cast("double")
                / F.sum("n_tokens").over(share_w).cast("double")
            ).alias("token_share"),
            "null_text_docs",
            "dup_docs",
            "n_langs",
            "top_lang",
            "median_tokens",
        )
    )


def corpus_datasheet_sql() -> str:
    toks = f"COALESCE({token_count_sql('text')}, 0)"
    th = h60_sql("text")
    return f"""
WITH base AS (
  SELECT source AS source, lang AS lang,
         {toks} AS toks,
         text IS NULL AS text_is_null,
         {th} AS th
  FROM documents
),
per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN text_is_null THEN 1 ELSE 0 END) AS BIGINT)
           AS null_text_docs,
         CAST(COUNT(th) - COUNT(DISTINCT th) AS BIGINT) AS dup_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM base GROUP BY 1
),
hist AS (
  SELECT source, toks, CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY 1, 2
),
cum AS (
  SELECT source, toks,
         SUM(n) OVER (PARTITION BY source ORDER BY toks) AS cum,
         SUM(n) OVER (PARTITION BY source) AS total
  FROM hist
),
med AS (
  SELECT source, CAST(MIN(toks) AS BIGINT) AS median_tokens
  FROM cum
  WHERE cum >= (total + 1) / 2.0
  GROUP BY 1
),
lang_counts AS (
  SELECT source, lang, COUNT(*) AS n
  FROM base WHERE lang IS NOT NULL GROUP BY 1, 2
),
top_lang AS (
  SELECT source, lang AS top_lang
  FROM (
    SELECT source, lang, ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY n DESC, lang ASC
    ) AS rn
    FROM lang_counts
  ) WHERE rn = 1
)
SELECT p.source, p.n_docs, p.n_tokens,
       CAST(p.n_tokens AS DOUBLE)
         / CAST(SUM(p.n_tokens) OVER () AS DOUBLE) AS token_share,
       p.null_text_docs, p.dup_docs, p.n_langs,
       t.top_lang, m.median_tokens
FROM per_source p
JOIN med m ON p.source = m.source
LEFT JOIN top_lang t ON p.source = t.source
"""


# ---------------------------------------------------------------------------
# Corpus snapshot delta: the release-notes diff between two versions
# ---------------------------------------------------------------------------

# The salted-hash split of one corpus into the OLD snapshot (OLD_PCT %)
# and the NEW one.
OLD_PCT = 80
SNAPSHOT_SALT = "snapshot-v1"


def corpus_delta(
    docs: DataFrame,
) -> DataFrame:
    """Per-source delta between two corpus snapshots — the quantitative
    release notes a corpus version bump ships with: documents and token
    mass in OLD and NEW, the growth, and how much of NEW's text is
    genuinely novel content (by exact content hash) vs carried over or
    re-crawled from OLD. At 100 TB the question "what actually changed
    since v1" is answered from this table, not by diffing files.

    Snapshot membership is the d10/d18 deterministic hash split (stands
    in for two real frames; a production pipeline passes both). Novel
    docs = NEW docs whose content hash never occurs in OLD — the same
    hash-aggregate-then-join shape as d10: both sides collapse to
    distinct-hash tables per source before the anti join, so shuffles
    carry 8-byte hashes, never documents.

    All counts exact integers; the one IEEE division (novel fraction)
    is identical cross-engine; NULL text hashes to NULL and is counted
    in docs/tokens but never in the novel-content join (no content to
    compare) — both engines agree via COUNT(th) semantics.
    """
    toks = F.coalesce(token_count(F.col("text")).cast("bigint"), F.lit(0))
    base = docs.select(
        F.col("source"),
        toks.alias("toks"),
        h60("text").alias("th"),
        (
            F.pmod(
                h60(F.concat(F.lit(SNAPSHOT_SALT), F.col("doc_id").cast("string"))),
                F.lit(100),
            )
            < OLD_PCT
        ).alias("is_old"),
    )
    per_side = base.groupBy("source").agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0)).cast("bigint").alias("old_docs"),
        F.sum(F.when(~F.col("is_old"), 1).otherwise(0)).cast("bigint").alias("new_docs"),
        F.sum(F.when(F.col("is_old"), F.col("toks")).otherwise(0))
        .cast("bigint")
        .alias("old_tokens"),
        F.sum(F.when(~F.col("is_old"), F.col("toks")).otherwise(0))
        .cast("bigint")
        .alias("new_tokens"),
    )
    old_hashes = (
        base.filter(F.col("is_old") & F.col("th").isNotNull())
        .select("th")
        .distinct()
    )
    novel = (
        base.filter(~F.col("is_old") & F.col("th").isNotNull())
        .join(old_hashes, "th", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("novel_docs"))
    )
    return (
        per_side.join(novel, "source", "left")
        .select(
            "source",
            "old_docs",
            "new_docs",
            (F.col("new_docs") - F.col("old_docs")).alias("doc_delta"),
            "old_tokens",
            "new_tokens",
            (F.col("new_tokens") - F.col("old_tokens")).alias("token_delta"),
            F.coalesce(F.col("novel_docs"), F.lit(0))
            .cast("bigint")
            .alias("novel_docs"),
            F.when(
                F.col("new_docs") > 0,
                F.coalesce(F.col("novel_docs"), F.lit(0)).cast("double")
                / F.col("new_docs").cast("double"),
            ).alias("novel_fraction"),
        )
    )


def corpus_delta_sql() -> str:
    toks = f"COALESCE({token_count_sql('text')}, 0)"
    salted = f"'{SNAPSHOT_SALT}' || CAST(doc_id AS VARCHAR)"
    th = h60_sql("text")
    return f"""
WITH base AS (
  SELECT source AS source,
         {toks} AS toks,
         {th} AS th,
         ({h60_sql(salted)}) % 100 < {OLD_PCT} AS is_old
  FROM documents
),
per_side AS (
  SELECT source,
         CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS old_docs,
         CAST(SUM(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS new_docs,
         CAST(SUM(CASE WHEN is_old THEN toks ELSE 0 END) AS BIGINT) AS old_tokens,
         CAST(SUM(CASE WHEN is_old THEN 0 ELSE toks END) AS BIGINT) AS new_tokens
  FROM base GROUP BY 1
),
old_hashes AS (
  SELECT DISTINCT th FROM base WHERE is_old AND th IS NOT NULL
),
novel AS (
  SELECT b.source, CAST(COUNT(*) AS BIGINT) AS novel_docs
  FROM base b
  WHERE NOT b.is_old AND b.th IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM old_hashes o WHERE o.th = b.th)
  GROUP BY 1
)
SELECT p.source, p.old_docs, p.new_docs,
       p.new_docs - p.old_docs AS doc_delta,
       p.old_tokens, p.new_tokens,
       p.new_tokens - p.old_tokens AS token_delta,
       CAST(COALESCE(n.novel_docs, 0) AS BIGINT) AS novel_docs,
       CASE WHEN p.new_docs > 0
            THEN CAST(COALESCE(n.novel_docs, 0) AS DOUBLE)
                 / CAST(p.new_docs AS DOUBLE)
       END AS novel_fraction
FROM per_side p LEFT JOIN novel n ON p.source = n.source
"""


# ---------------------------------------------------------------------------
# Length-distribution drift: exact KS statistic between two snapshots
# ---------------------------------------------------------------------------


def length_drift(
    docs: DataFrame,
) -> DataFrame:
    """Per-source Kolmogorov-Smirnov statistic between the OLD and NEW
    snapshot's document-length (token-count) distributions — the drift
    alarm between corpus versions: a source whose new crawl suddenly
    skews short (truncation bug) or long (boilerplate concatenation)
    moves D toward 1 even when c13's volume deltas look healthy.

    EXACT, not a sampled KS: both empirical CDFs are step functions on
    the shared (source, token_count) HISTOGRAM grid, and the supremum
    over a step function is attained on grid points — so
    D = max |cum_old/tot_old − cum_new/tot_new| over histogram rows is
    the true statistic. Each CDF value is one IEEE division of exact
    integers (bit-identical cross-engine); max over doubles is
    order-free. The corpus collapses to the histogram before any
    window — the same never-sort-the-corpus shape as c12's median.
    Sources present in only one snapshot half report NULL (no
    two-sample test exists), identically via the explicit guard.
    Snapshot membership is the shared c13/d10 hash split.
    """
    toks = F.coalesce(token_count(F.col("text")).cast("bigint"), F.lit(0))
    base = docs.select(
        F.col("source"),
        toks.alias("toks"),
        (
            F.pmod(
                h60(F.concat(F.lit(SNAPSHOT_SALT), F.col("doc_id").cast("string"))),
                F.lit(100),
            )
            < OLD_PCT
        ).alias("is_old"),
    )
    hist = base.groupBy("source", "toks").agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0)).cast("bigint").alias("n_old"),
        F.sum(F.when(~F.col("is_old"), 1).otherwise(0)).cast("bigint").alias("n_new"),
    )
    by_src = Window.partitionBy("source")
    cum_w = by_src.orderBy("toks")
    cdfs = hist.select(
        "source",
        F.sum("n_old").over(cum_w).alias("cum_old"),
        F.sum("n_new").over(cum_w).alias("cum_new"),
        F.sum("n_old").over(by_src).alias("tot_old"),
        F.sum("n_new").over(by_src).alias("tot_new"),
    )
    gap = F.abs(
        F.col("cum_old").cast("double") / F.col("tot_old").cast("double")
        - F.col("cum_new").cast("double") / F.col("tot_new").cast("double")
    )
    return cdfs.groupBy("source").agg(
        F.max("tot_old").cast("bigint").alias("n_old"),
        F.max("tot_new").cast("bigint").alias("n_new"),
        F.max(
            F.when((F.col("tot_old") > 0) & (F.col("tot_new") > 0), gap)
        ).alias("ks_stat"),
    )


def length_drift_sql() -> str:
    toks = f"COALESCE({token_count_sql('text')}, 0)"
    salted = f"'{SNAPSHOT_SALT}' || CAST(doc_id AS VARCHAR)"
    return f"""
WITH base AS (
  SELECT source AS source,
         {toks} AS toks,
         ({h60_sql(salted)}) % 100 < {OLD_PCT} AS is_old
  FROM documents
),
hist AS (
  SELECT source, toks,
         CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         CAST(SUM(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS n_new
  FROM base GROUP BY 1, 2
),
cdfs AS (
  SELECT source,
         SUM(n_old) OVER (PARTITION BY source ORDER BY toks) AS cum_old,
         SUM(n_new) OVER (PARTITION BY source ORDER BY toks) AS cum_new,
         SUM(n_old) OVER (PARTITION BY source) AS tot_old,
         SUM(n_new) OVER (PARTITION BY source) AS tot_new
  FROM hist
)
SELECT source,
       CAST(MAX(tot_old) AS BIGINT) AS n_old,
       CAST(MAX(tot_new) AS BIGINT) AS n_new,
       MAX(CASE WHEN tot_old > 0 AND tot_new > 0
                THEN ABS(CAST(cum_old AS DOUBLE) / CAST(tot_old AS DOUBLE)
                       - CAST(cum_new AS DOUBLE) / CAST(tot_new AS DOUBLE))
           END) AS ks_stat
FROM cdfs GROUP BY 1
"""
