"""Text-analysis operators for training-data pipelines: tokenization
stats, language ID, quality scoring, document fingerprinting.

Not present in the reference (its only string work is concat/substring,
SURVEY §2.8); these are the engine's first-class extensions for
LLM-data curation at 100 TB scale. Everything here is built-in Spark
SQL functions (codegen'd, no Python in the hot path); each has an exact
DuckDB-SQL twin so the plans in ``plans/documents.py`` are
oracle-checked.

Design for scale: all operators are embarrassingly parallel per-row
projections — no shuffle at all; they pipeline inside whole-stage
codegen over the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.functions.hashing import h60, h60_sql
from end_to_end_sales_etl_de_project_spark.functions.scalar import FIXED_POINT_SCALE

# Word-token regex (BPE-ish pre-tokenization: letter runs, digit runs,
# or single punctuation marks — the shape GPT-style pre-tokenizers use).
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
WORD_REGEX = "[A-Za-z0-9]+"
PUNCT_REGEX = "[^A-Za-z0-9 ]"

# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# backreferences, no lookaround) so the Spark expression and the DuckDB
# oracle compile the SAME automaton.
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_REGEX = r"\b\d{3}-\d{3}-\d{4}\b"

# The synthetic corpus contains no real PII (verified: zero regex hits),
# so the PII counters and the redaction run on text enriched with
# DETERMINISTIC synthetic PII — this concat in the oracles, the same
# expression as the ``pii_text`` column of the Spark side (t10/t39) —
# making the hash check discriminate actual redaction behavior instead
# of matching untouched-vs-untouched.
PII_TEXT_SQL = (
    "text || ' Contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' or call 555-123-4567' ELSE '' END"
)

# Function-word stopword sets for the n-gram-free language-ID heuristic.
# Ordered: ties resolve to the earlier language.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "en", "que", "los"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit"),
    "fr": ("le", "les", "et", "des", "un", "une", "dans"),
    "zh": ("的", "是", "在", "了", "我", "有", "和"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokens, lowercased, empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), " "), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    return f"list_filter(string_split(lower({expr}), ' '), t -> t <> '')"


def token_count(col: Column | str) -> Column:
    """BPE-ish token count via the pre-tokenization regex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(TOKEN_REGEX))


def token_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{TOKEN_REGEX}')) AS BIGINT)"


def word_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(WORD_REGEX))


def word_count_sql() -> str:
    return f"CAST(len(regexp_extract_all(text, '{WORD_REGEX}')) AS BIGINT)"


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PUNCT_REGEX))


def punct_count_sql() -> str:
    return f"CAST(len(regexp_extract_all(text, '{PUNCT_REGEX}')) AS BIGINT)"


def pii_email_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(EMAIL_REGEX)).cast("bigint")


def pii_email_count_sql() -> str:
    return f"CAST(len(regexp_extract_all({PII_TEXT_SQL}, '{EMAIL_REGEX}')) AS BIGINT)"


def pii_phone_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PHONE_REGEX)).cast("bigint")


def pii_phone_count_sql() -> str:
    return f"CAST(len(regexp_extract_all({PII_TEXT_SQL}, '{PHONE_REGEX}')) AS BIGINT)"


def redact_pii() -> Column:
    """The ``pii_text`` column with every email / phone occurrence
    replaced by a typed placeholder — the scrubbing stage a training
    corpus passes before release. Chained ``regexp_replace``
    (replace-all in both engines), JVM-side and codegen'd; the pattern
    subset compiles identically under Java regex and RE2 so the DuckDB
    twin is exact."""
    redacted = F.regexp_replace(F.col("pii_text"), EMAIL_REGEX, "<EMAIL>")
    return F.regexp_replace(redacted, PHONE_REGEX, "<PHONE>")


def redact_pii_sql() -> str:
    return (
        f"regexp_replace(regexp_replace({PII_TEXT_SQL}, '{EMAIL_REGEX}', '<EMAIL>', 'g'), "
        f"'{PHONE_REGEX}', '<PHONE>', 'g')"
    )


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of tokens (with multiplicity) in ``lang``'s stopword set."""
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda t: t.isin(*words)))


def stopword_hits_sql(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"CAST(len(list_filter({tokens_sql('text')}, t -> t IN ({inlist}))) AS BIGINT)"


def predicted_lang() -> Column:
    """Argmax language of ``text`` by stopword hits; ties break in LANG_STOPWORDS
    declaration order (same CASE-chain in the SQL twin). NULL text →
    NULL prediction on BOTH engines: without the explicit guard Spark's
    score comparisons would see non-NULL zeros (size of an empty token
    array) and elect the first language while DuckDB's NULL conditions
    fall through the CASE — the divergence the planted-NULL sweep
    caught in round 7 (tests/test_null_parity.py)."""
    langs = list(LANG_STOPWORDS)
    scores = {lg: stopword_hits("text", lg) for lg in langs}
    expr = F.lit(langs[-1])
    # build CASE chain from the end backwards: lang_i wins if its score
    # >= every later language's score
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            cj = scores[langs[i]] >= scores[langs[j]]
            cond = cj if cond is None else (cond & cj)
        expr = F.when(cond, langs[i]).otherwise(expr)
    return F.when(F.col("text").isNotNull(), expr)


def predicted_lang_sql() -> str:
    langs = list(LANG_STOPWORDS)
    score = {lg: stopword_hits_sql(lg) for lg in langs}
    clauses = ["WHEN text IS NULL THEN NULL"]
    for i in range(len(langs) - 1):
        conds = " AND ".join(
            f"{score[langs[i]]} >= {score[langs[j]]}" for j in range(i + 1, len(langs))
        )
        clauses.append(f"WHEN {conds} THEN '{langs[i]}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


def shingles_from_tokens(toks: Column, k: int) -> Column:
    """Distinct k-word shingles (space-joined; empty for docs shorter than
    k words — Spark ``sequence(0, n)`` with n<0 counts DOWN, so that case
    is guarded, not clamped) from an ALREADY-MATERIALIZED token-array
    column — the unit for n-gram Jaccard, minhash and fingerprinting. Callers take the
    two-step projection (``select(tokens) → select(shingles)``) rather
    than inlining :func:`tokens`: when the token expression is inlined, Catalyst
    evaluates the whole lower+split+filter chain once PER SHINGLE inside
    the ``transform`` lambda (~6.5x slower on the shingle explode,
    measured at sf0.1 — 2.16 s vs 0.33 s); a separate projection step
    evaluates it once per row and survives optimization because
    CollapseProject refuses to inline non-cheap expressions referenced
    more than once."""
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    # slice+array_join references the token array once per shingle;
    # per-position element_at made Catalyst re-evaluate the whole
    # split+filter chain k times per shingle (~4x slower, measured).
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, (i + 1).cast("int"), k), " "))
    )
    return F.when(F.size(toks) >= k, sh).otherwise(F.array().cast("array<string>"))


def word_shingles_sql(expr: str, k: int) -> str:
    """DuckDB twin of :func:`shingles_from_tokens` over the tokens of
    ``expr`` (1-based list indexing;
    ``range(1, n)`` with n<=1 is already empty, no guard needed).

    The token array is LET-BOUND once via a single-element-list lambda
    (``list_transform([toks], t -> ...)``): inlining ``tokens_sql``
    into the per-shingle lambda made DuckDB re-split the WHOLE text
    for every list element — O(doc²), 40 s for one 60k-char document
    (found by the r13 extreme-docs axis; the bound form is 0.01 s,
    verified value-identical including NULL/empty/<k-token edges).
    ``flatten`` of the one-element outer list is the identity."""
    toks = tokens_sql(expr)
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return (
        f"flatten(list_transform([{toks}], t -> "
        f"list_distinct(list_transform("
        f"range(1, greatest(len(t) - {k - 1}, 0) + 1), i -> {parts}))))"
    )


def positional_shingles_from_tokens(toks: Column, k: int) -> Column:
    """ALL k-gram shingles of a pre-materialized token array, in
    document order and WITHOUT dedup — the positional variant of
    :func:`shingles_from_tokens` for span-level analyses where the
    i-th shingle's offset matters (contamination span detection).
    ``posexplode`` over this array yields (position, shingle) rows."""
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    sh = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, (i + 1).cast("int"), k), " ")
    )
    return F.when(F.size(toks) >= k, sh).otherwise(F.array().cast("array<string>"))


def positional_shingles_sql_from_toks(k: int) -> str:
    """DuckDB twin of :func:`positional_shingles_from_tokens` over the
    already-aliased token list ``toks`` (no dedup, document order)."""
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return (
        f"list_transform(range(1, greatest(len(toks) - {k - 1}, 0) + 1), "
        f"i -> {parts})"
    )


# Shingle width of the document fingerprint.
FINGERPRINT_K = 4


def doc_fingerprint_from_tokens(toks: Column) -> Column:
    """Single-permutation minhash fingerprint over a pre-materialized
    token array: min 60-bit hash over the doc's ``FINGERPRINT_K``-word
    shingles (null for docs shorter than that) — use with a two-step
    projection in hot paths (see :func:`shingles_from_tokens`)."""
    return F.array_min(
        F.transform(shingles_from_tokens(toks, FINGERPRINT_K), lambda s: h60(s))
    )


def doc_fingerprint_sql() -> str:
    return (
        f"list_min(list_transform({word_shingles_sql('text', FINGERPRINT_K)}, "
        f"s -> {h60_sql('s')}))"
    )


def quality_bucket(min_words: int = 10, max_punct: float = 0.2) -> Column:
    """Routing bucket of ``text`` under the composite quality filter (length +
    punctuation density) — the drop/keep decision a curation pipeline
    acts on. Shared by the t03 scoring query and the c01 curation
    capstone so both stages apply identical thresholds; the thresholds
    are parameters so policy changes can be impact-analyzed (c04)
    before they ship."""
    c = F.col("text")
    words = word_count(c)
    punct_ratio = punct_count(c) / F.length(c).cast("double")
    return (
        F.when(words < min_words, "too_short")
        .when(punct_ratio > max_punct, "too_puncty")
        .otherwise("ok")
    )


def quality_bucket_sql(min_words: int = 10, max_punct: float = 0.2) -> str:
    return (
        f"CASE WHEN {word_count_sql()} < {min_words} THEN 'too_short' "
        f"WHEN {punct_count_sql()} / CAST(length(text) AS DOUBLE) > {max_punct} "
        f"THEN 'too_puncty' ELSE 'ok' END"
    )


# Keep percentage per ``lang`` stratum of the training mix, and for
# every stratum not listed.
SAMPLE_RATES = {"en": 10}
SAMPLE_DEFAULT_PCT = 60


def stratified_keep() -> Column:
    """Deterministic per-``lang`` downsampling decision: keep a row iff
    its salted ``text``-hash bucket (0-99) falls under the stratum's
    keep percentage (``SAMPLE_RATES``, else ``SAMPLE_DEFAULT_PCT``). The
    training-mix primitive — e.g. downsample the dominant language while
    keeping the tail — with the same guarantees as :func:`corpus_split`:
    reproducible across engines/cluster sizes, stable under corpus
    growth, zero RNG. Per-row projection, no shuffle; the rate lookup is
    a literal CASE chain (codegen'd), never a join."""
    bucket = F.pmod(h60(F.concat(F.lit("sample-v1"), F.col("text"))), F.lit(100))
    rate: Column = F.lit(SAMPLE_DEFAULT_PCT)
    for stratum, pct in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == stratum, F.lit(pct)).otherwise(rate)
    return bucket < rate


def stratified_keep_sql() -> str:
    h = h60_sql("'sample-v1' || text")
    # build the CASE chain in the same last-wins order as the Spark
    # when()-fold (later dict entries override earlier ones)
    rate = str(SAMPLE_DEFAULT_PCT)
    for stratum, pct in SAMPLE_RATES.items():
        rate = f"CASE WHEN lang = '{stratum}' THEN {pct} ELSE {rate} END"
    return f"(({h}) % 100) < ({rate})"


def corpus_split() -> Column:
    """Deterministic train/val/test assignment by ``text`` hash — the
    reproducible-sampling primitive of a training-data pipeline: the
    same document lands in the same split on every run, every engine,
    every cluster size (no RNG, no partition-order dependence — Spark's
    ``sample()`` guarantees neither across repartitions). Salting the
    hash decorrelates the split from every other use of the content
    hash (dedup grouping, fingerprints) and gives a new independent
    split per salt value.

    Hash-mod assignment is also stable under corpus growth: adding
    documents never moves an existing document between splits, unlike
    percentile- or sort-based splits.
    """
    bucket = F.pmod(h60(F.concat(F.lit("split-v1"), F.col("text"))), F.lit(100))
    return (
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
    )


def corpus_split_sql(expr: str) -> str:
    h = h60_sql(f"'split-v1' || {expr}")
    # h60 is non-negative (60-bit), so plain % matches Spark's pmod
    return (
        f"CASE WHEN ({h}) % 100 < 90 THEN 'train' "
        f"WHEN ({h}) % 100 < 95 THEN 'val' "
        "ELSE 'test' END"
    )


def doc_chunks(
    docs,
    chunk_size: int = 128,
    stride: int = 96,
):
    """Split documents into fixed-size token windows with overlap — the
    context-length chunking every pretraining/RAG loader runs before
    tokenized text reaches a model. One row per (doc, window): window
    ``i`` covers tokens ``[i*stride, i*stride + chunk_size)``; with
    ``stride < chunk_size`` consecutive windows overlap by
    ``chunk_size - stride`` tokens so no boundary context is lost.

    Pure per-row explode (sequence of window starts → slice) — no
    shuffle, pipelines inside whole-stage codegen over the scan, and
    the fan-out is bounded by ceil(n_tokens / stride) per doc. Empty
    docs produce no chunks. Deterministic (integer window math +
    substring joins) ⇒ exact DuckDB twin.

    ``stride`` must be in (0, chunk_size]: a stride beyond chunk_size
    would silently drop the tokens between windows, violating the
    every-token-covered guarantee above.
    """
    if not 0 < stride <= chunk_size:
        raise ValueError(
            f"stride ({stride}) must be in (0, chunk_size={chunk_size}]: "
            "a larger stride drops tokens between windows"
        )
    from pyspark.sql import functions as _F

    toked = docs.select(
        _F.col("doc_id").alias("doc"), tokens("text").alias("toks")
    ).withColumn("n", _F.size("toks"))
    starts = _F.sequence(
        _F.lit(0),
        ((_F.col("n") - 1) - ((_F.col("n") - 1) % stride)),
        _F.lit(stride),
    )
    return (
        toked.filter(_F.col("n") > 0)
        .select("doc", "toks", "n", _F.explode(starts).alias("chunk_start"))
        .select(
            _F.col("doc").alias("doc_id"),
            (_F.col("chunk_start") / stride).cast("bigint").alias("chunk_id"),
            _F.col("chunk_start").cast("bigint"),
            _F.least(_F.lit(chunk_size), _F.col("n") - _F.col("chunk_start"))
            .cast("bigint")
            .alias("chunk_len"),
            _F.array_join(
                _F.slice(_F.col("toks"), _F.col("chunk_start") + 1, chunk_size), " "
            ).alias("chunk_text"),
        )
    )


def doc_chunks_sql(chunk_size: int = 128, stride: int = 96) -> str:
    if not 0 < stride <= chunk_size:
        raise ValueError(
            f"stride ({stride}) must be in (0, chunk_size={chunk_size}]: "
            "a larger stride drops tokens between windows"
        )
    toks = tokens_sql("text")
    return f"""
WITH toked AS (
  SELECT doc_id AS doc, {toks} AS toks, len({toks}) AS n FROM documents
),
expanded AS (
  SELECT doc, toks, n, unnest(generate_series(0, n - 1, {stride})) AS chunk_start
  FROM toked WHERE n > 0
)
SELECT doc AS doc_id,
       CAST(chunk_start // {stride} AS BIGINT) AS chunk_id,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       CAST(LEAST({chunk_size}, n - chunk_start) AS BIGINT) AS chunk_len,
       array_to_string(list_slice(toks, chunk_start + 1, chunk_start + {chunk_size}), ' ')
         AS chunk_text
FROM expanded
"""


def normalized_text_pandas() -> Column:
    """Scalar Pandas UDF normalization of ``text``: NFC-normalize, lowercase,
    collapse whitespace. The ONE text op that genuinely needs Python
    (unicodedata isn't in Spark SQL); Arrow-vectorized per batch, and
    the UDF is a closure — pickled by value, no worker PYTHONPATH
    dependency. Everything else in this module stays JVM-side."""
    from pyspark.sql import functions as F2

    @F2.pandas_udf("string")
    def _normalize(s):
        import re
        import unicodedata

        import pandas as pd

        ws = re.compile(r"\s+")
        return pd.Series(
            [
                None if x is None else ws.sub(" ", unicodedata.normalize("NFC", x).lower()).strip()
                for x in s
            ]
        )

    return _normalize(F.col("text"))


# Gram width (tokens) of the repetition profile.
REPETITION_K = 3


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Duplicated n-gram CHARACTER mass per document (the Gopher /
    MassiveText quality filter, Rae et al. 2021 §A1.1): of all the
    characters flowing through the doc's k-gram occurrence stream
    (k = ``REPETITION_K``), the
    fraction belonging to occurrences BEYOND the first of their gram —
    templated/looping text (boilerplate headers, generation loops)
    carries most of its mass in repeats and gets dropped before
    training.

    Distinct from :func:`t07_repetition`'s occurrence-count ratio
    (1 − distinct/total, a zero-shuffle projection): weighting by
    gram LENGTH requires per-(doc, gram) occurrence counts, so this
    is the grouped form — explode the POSITIONAL stream
    (:func:`positional_shingles_from_tokens`; dedup would erase the
    signal), count per (doc, gram), then one per-doc rollup. Both
    aggregations are map-side combinable and per-doc state is bounded
    by doc length. Docs shorter than k tokens have no k-grams:
    dup_char_frac is NULL and they are never flagged. Integer char
    sums + one IEEE division ⇒ hash-exact oracle.
    """
    toked = docs.select(
        F.col("doc_id").alias("doc"), tokens("text").alias("toks")
    )
    grams = toked.select(
        "doc",
        F.explode(positional_shingles_from_tokens(F.col("toks"), REPETITION_K)).alias("g"),
    )
    per_gram = grams.groupBy("doc", "g").agg(F.count(F.lit(1)).alias("cnt"))
    glen = F.length("g").cast("bigint")
    per_doc = per_gram.groupBy("doc").agg(
        F.sum("cnt").cast("bigint").alias("n_ngrams"),
        F.sum((F.col("cnt") - 1) * glen).cast("bigint").alias("dup_chars"),
        F.sum(F.col("cnt") * glen).cast("bigint").alias("total_chars"),
    )
    frac = F.col("dup_chars").cast("double") / F.col("total_chars")
    return (
        docs.select(F.col("doc_id").alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("bigint").alias("n_ngrams"),
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("bigint").alias("dup_chars"),
            F.coalesce(F.col("total_chars"), F.lit(0))
            .cast("bigint")
            .alias("total_chars"),
            frac.alias("dup_char_frac"),
            F.coalesce(frac > F.lit(0.1), F.lit(False)).alias("repetitive"),
        )
    )


def repetition_profile_sql() -> str:
    toks = tokens_sql("text")
    grams = positional_shingles_sql_from_toks(REPETITION_K)
    return f"""
WITH toked AS (SELECT doc_id AS doc, {toks} AS toks FROM documents),
g AS (SELECT doc, unnest({grams}) AS g FROM toked),
per_gram AS (
  SELECT doc, g, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY doc, g
),
per_doc AS (
  SELECT doc,
         CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
         CAST(SUM((cnt - 1) * length(g)) AS BIGINT) AS dup_chars,
         CAST(SUM(cnt * length(g)) AS BIGINT) AS total_chars
  FROM per_gram GROUP BY doc
)
SELECT d.doc_id AS doc_id,
       COALESCE(p.n_ngrams, 0) AS n_ngrams,
       COALESCE(p.dup_chars, 0) AS dup_chars,
       COALESCE(p.total_chars, 0) AS total_chars,
       CAST(p.dup_chars AS DOUBLE) / p.total_chars AS dup_char_frac,
       COALESCE(CAST(p.dup_chars AS DOUBLE) / p.total_chars > 0.1, FALSE)
         AS repetitive
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc
"""


# ---------------------------------------------------------------------------
# Cross-source vocabulary overlap (corpus-mix drift audit)
# ---------------------------------------------------------------------------


def vocab_overlap(
    docs: DataFrame,
) -> DataFrame:
    """Pairwise Jaccard of the top-50 token vocabularies between
    sources — the corpus-mix drift audit: two sources whose head
    vocabularies barely overlap contribute genuinely different text;
    near-1 overlap flags a mirrored/duplicated source feeding the mix
    twice under two names (the corpus-level cousin of d02's per-doc
    Jaccard). Output: (source_a, source_b, vocab_a, vocab_b, n_common,
    jaccard), source_a < source_b.

    Determinism: per-source top-k elects by (count DESC, token ASC) —
    a total order, so the vocab sets are identical cross-engine and
    every output is integer counts + one division.

    Scale: token counting is one map-side-combinable aggregation over
    the token stream (|sources| x |vocab| partial rows); the rank
    window partitions by source — |sources| partitions is the skew
    point, the same documented shape as t12's per-source cap (at
    extreme skew: pre-aggregate is already done, so each partition
    holds DISTINCT tokens of one source, bounded by vocabulary not
    corpus size). Everything after the top-k filter is
    |sources| * top_k rows — control-plane sized, broadcast by stats.
    NULL sources form their own group and drop out of the pair join
    (NULL < s is never true, both engines); NULL text contributes no
    tokens.
    """
    from pyspark.sql import Window

    counts = (
        docs.select(
            F.col("source").alias("src"), F.explode(tokens("text")).alias("tok")
        )
        .groupBy("src", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("src").orderBy(F.col("n").desc(), F.col("tok").asc())
    top = counts.select(
        "src", "tok", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 50)
    sizes = top.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    a = top.select(F.col("src").alias("source_a"), "tok")
    b = top.select(F.col("src").alias("source_b"), "tok")
    common = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("src").alias("source_a"), F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("src").alias("source_b"), F.col("vocab").alias("vocab_b"))
    return (
        common.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def vocab_overlap_sql() -> str:
    toks = tokens_sql("text")
    return f"""
WITH counts AS (
  SELECT source AS src, tok, COUNT(*) AS n
  FROM documents, UNNEST({toks}) AS u(tok)
  GROUP BY 1, 2
),
top AS (
  SELECT src, tok
  FROM (SELECT src, tok,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, tok ASC) AS rk
        FROM counts)
  WHERE rk <= 50
),
sizes AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS vocab FROM top GROUP BY src),
common AS (
  SELECT a.src AS source_a, b.src AS source_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM top a JOIN top b ON a.tok = b.tok AND a.src < b.src
  GROUP BY 1, 2
)
SELECT c.source_a, c.source_b,
       sa.vocab AS vocab_a, sb.vocab AS vocab_b, c.n_common,
       CAST(c.n_common AS DOUBLE)
         / CAST(sa.vocab + sb.vocab - c.n_common AS DOUBLE) AS jaccard
FROM common c
JOIN sizes sa ON c.source_a = sa.src
JOIN sizes sb ON c.source_b = sb.src
"""


def zipf_slope(
    docs: DataFrame,
) -> DataFrame:
    """Per-source Zipf fit: least-squares slope of ln(frequency) on
    ln(rank) over the top-300 terms — natural text sits near -1;
    a flat slope flags templated/generated content, a cliff flags a
    tiny vocabulary looping (the corpus-level cousin of t28's per-doc
    repetition mass). Output: (source, n_terms, zipf_slope, fit_r2).

    Determinism: ln values are quantized to ``FIXED_POINT_SCALE`` (=1e5) and the
    regression runs on exact BIGINT sufficient statistics — the only
    float steps are the final divisions on identical exact integers,
    so the hash matches cross-engine. (The quantization grid is the
    a08 trick: a half-ulp straddle of a rounding boundary would need
    ln(x)*1e5 within one ulp of .5 — not present on any fixture and
    loud in the parity gate if a future corpus ever lands on one.)
    Overflow headroom: |x_q| <= ln(top_k)*scale (~5.7e5), |y_q| <=
    ln(n)*scale (~2.8e6 even at n=1e12 occurrences), so every product
    and the n*Sxy/Sx*Sy cross terms stay under ~1e17 << 2^63.

    Scale: one map-side-combinable token count (the corpus-sized
    stage), a rank window partitioned by source over DISTINCT terms
    only (vocabulary-bounded, same documented skew shape as t29), and
    a |sources|-row regression rollup. Nothing after the top-k filter
    exceeds |sources| * top_k rows.
    """
    from pyspark.sql import Window

    counts = (
        docs.select(
            F.col("source").alias("src"), F.explode(tokens("text")).alias("tok")
        )
        .groupBy("src", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("src").orderBy(F.col("n").desc(), F.col("tok").asc())
    ranked = counts.select(
        "src", "n", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 300)
    xq = F.round(F.log(F.col("rk").cast("double")) * FIXED_POINT_SCALE).cast("bigint")
    yq = F.round(F.log(F.col("n").cast("double")) * FIXED_POINT_SCALE).cast("bigint")
    stats = ranked.select(
        "src", xq.alias("xq"), yq.alias("yq")
    ).groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
    )
    numer = F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("cnt") * F.col("syy") - F.col("sy") * F.col("sy")
    return stats.select(
        F.col("src").alias("source"),
        F.col("cnt").alias("n_terms"),
        (numer.cast("double") / den_x.cast("double")).alias("zipf_slope"),
        (
            (numer.cast("double") * numer.cast("double"))
            / (den_x.cast("double") * den_y.cast("double"))
        ).alias("fit_r2"),
    )


def zipf_slope_sql() -> str:
    toks = tokens_sql("text")
    return f"""
WITH counts AS (
  SELECT source AS src, tok, COUNT(*) AS n
  FROM documents, UNNEST({toks}) AS u(tok)
  GROUP BY 1, 2
),
ranked AS (
  SELECT src, n,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, tok ASC) AS rk
  FROM counts
  QUALIFY rk <= 300
),
quant AS (
  SELECT src,
         CAST(ROUND(LN(CAST(rk AS DOUBLE)) * {FIXED_POINT_SCALE}) AS BIGINT) AS xq,
         CAST(ROUND(LN(CAST(n AS DOUBLE)) * {FIXED_POINT_SCALE}) AS BIGINT) AS yq
  FROM ranked
),
stats AS (
  SELECT src,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(xq) AS BIGINT) AS sx,
         CAST(SUM(yq) AS BIGINT) AS sy,
         CAST(SUM(xq * xq) AS BIGINT) AS sxx,
         CAST(SUM(yq * yq) AS BIGINT) AS syy,
         CAST(SUM(xq * yq) AS BIGINT) AS sxy
  FROM quant GROUP BY src
)
SELECT src AS source,
       cnt AS n_terms,
       CAST(cnt * sxy - sx * sy AS DOUBLE)
         / CAST(cnt * sxx - sx * sx AS DOUBLE) AS zipf_slope,
       (CAST(cnt * sxy - sx * sy AS DOUBLE) * CAST(cnt * sxy - sx * sy AS DOUBLE))
         / (CAST(cnt * sxx - sx * sx AS DOUBLE)
            * CAST(cnt * syy - sy * sy AS DOUBLE)) AS fit_r2
FROM stats
"""


def token_concentration(
    docs: DataFrame,
) -> DataFrame:
    """Per-source token-mass concentration: the share of all token
    occurrences held by the top decile of the vocabulary (by
    frequency) — the head-heaviness number behind source weighting
    decisions: a source whose top 10% of terms carries ~99% of its
    mass is boilerplate-dominated however long its documents are.
    Output: (source, vocab_size, total_tokens, top_decile_terms,
    top_decile_share).

    Determinism: everything is BIGINT counts until one final division;
    the decile cut ``(V + 9) // 10`` is integer arithmetic and the
    rank order (n DESC, tok ASC) is total, so the cut set is identical
    cross-engine.

    Scale: one map-side-combinable token count, then a single window
    exchange partitioned by source over distinct terms
    (vocabulary-bounded — t29's documented skew shape), then a
    |sources|-row rollup. No second corpus pass.
    """
    from pyspark.sql import Window

    counts = (
        docs.select(
            F.col("source").alias("src"), F.explode(tokens("text")).alias("tok")
        )
        .groupBy("src", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_src = Window.partitionBy("src")
    w_ord = Window.partitionBy("src").orderBy(F.col("n").desc(), F.col("tok").asc())
    ranked = counts.select(
        "src",
        "n",
        F.row_number().over(w_ord).alias("rk"),
        F.count(F.lit(1)).over(w_src).cast("bigint").alias("vocab"),
        F.sum("n").over(w_src).cast("bigint").alias("total"),
    )
    return (
        ranked.filter(F.col("rk") <= F.expr("(vocab + 9) div 10"))
        .groupBy(F.col("src").alias("source"))
        .agg(
            F.max("vocab").alias("vocab_size"),
            F.max("total").alias("total_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("top_decile_terms"),
            (
                F.sum("n").cast("double") / F.max("total").cast("double")
            ).alias("top_decile_share"),
        )
    )


def token_concentration_sql() -> str:
    toks = tokens_sql("text")
    return f"""
WITH counts AS (
  SELECT source AS src, tok, COUNT(*) AS n
  FROM documents, UNNEST({toks}) AS u(tok)
  GROUP BY 1, 2
),
ranked AS (
  SELECT src, n,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, tok ASC) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS vocab,
         CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS total
  FROM counts
)
SELECT src AS source,
       MAX(vocab) AS vocab_size,
       MAX(total) AS total_tokens,
       CAST(COUNT(*) AS BIGINT) AS top_decile_terms,
       CAST(SUM(n) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS top_decile_share
FROM ranked
WHERE rk <= (vocab + 9) // 10
GROUP BY src
"""


# ---------------------------------------------------------------------------
# BPE pair statistics: the distributed inner loop of tokenizer training
# ---------------------------------------------------------------------------


def bpe_pair_stats(
    docs: DataFrame,
) -> DataFrame:
    """Adjacent character-pair frequencies over the corpus — the merge-
    candidate table of one BPE training step (Sennrich et al. 2016).
    The top row is the pair the tokenizer would merge next.

    The scale move mirrors how real BPE trainers run: count WORDS
    first (one corpus scan into a vocabulary-bounded table), then
    generate pairs over the DISTINCT-word table weighted by word
    count. Pair-explosion cost is O(|vocab| x word_len), independent
    of corpus size — exploding the raw token stream instead would
    re-pay the corpus at every merge step. Lowercased alphabetic
    pre-tokenization keeps the pair alphabet <= 26^2, so the final
    rank window runs over at most 676 rows.

    ``pair_count`` weights every in-word occurrence by the word's
    corpus frequency; ``n_vocab_words`` counts distinct vocabulary
    entries containing the pair (the pair's merge blast radius). All
    counts exact integers; total order (count desc, pair) ⇒
    hash-exact vs the oracle. NULL text extracts no words on either
    engine.
    """
    from pyspark.sql import Window

    words = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("word")
    )
    vocab = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("wc")
    )
    # sequence(1, 0) would run DESCENDING in Spark — guard 1-char words
    # out before building the position sequence.
    pairs = vocab.filter(F.length("word") >= 2).select(
        "word",
        "wc",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("wc").cast("bigint").alias("pair_count"),
        F.count_distinct("word").cast("bigint").alias("n_vocab_words"),
    )
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return agg.select(
        "pair",
        "pair_count",
        "n_vocab_words",
        F.row_number().over(w).cast("bigint").alias("rnk"),
    ).filter(F.col("rnk") <= 50)


def bpe_pair_stats_sql() -> str:
    return """
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
vocab AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM words GROUP BY 1
),
pairs AS (
  SELECT substring(v.word, CAST(i AS INT), 2) AS pair, v.word, v.wc
  FROM vocab v, UNNEST(range(1, length(v.word))) AS t(i)
),
agg AS (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count,
         CAST(COUNT(DISTINCT word) AS BIGINT) AS n_vocab_words
  FROM pairs GROUP BY 1
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rnk
  FROM agg
)
SELECT pair, pair_count, n_vocab_words, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 50
"""


def composite_quality(col: Column | str) -> Column:
    """The t03 composite quality score (length, stopword density,
    punctuation density) as a reusable expression — the SAME fixed
    IEEE tree as `composite_quality_sql`, so scores are bit-identical
    across engines and safe to rank on."""
    c = F.col(col) if isinstance(col, str) else col
    words = word_count(c)
    stop_ratio = stopword_hits(c, "en") / words.cast("double")
    punct_ratio = punct_count(c) / F.length(c).cast("double")
    return (
        F.least(words / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(stop_ratio / F.lit(0.1), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct_ratio / F.lit(0.2), F.lit(1.0))) * 0.2
    )


def composite_quality_sql() -> str:
    return (
        f"least({word_count_sql()} / 100.0, 1.0) * 0.5"
        f" + least({stopword_hits_sql('en')}"
        f"         / CAST({word_count_sql()} AS DOUBLE) / 0.1, 1.0) * 0.3"
        f" + (1.0 - least({punct_count_sql()}"
        f"               / CAST(length(text) AS DOUBLE) / 0.2, 1.0)) * 0.2"
    )


def _bigram_grid_stats_np(docs: DataFrame) -> DataFrame:
    """(doc, t, s) bigram-grid statistics via a numpy sliding window —
    the m07 template applied to t34 (VERDICT r8 #5): one Arrow-batched
    pass computes per-doc T = Σc and S = Σ c·round(ln(c)·FIXED_POINT_SCALE)
    without exploding one row per character through a hash aggregate.
    Bit-compatibility with Spark's ``F.round`` and the DuckDB twin:
    rounding uses the shortest-decimal HALF_UP rule (Decimal(repr(x)))
    — the same rule java.math.BigDecimal.valueOf applies inside
    F.round — and the ln-grid absorbs libm-vs-Math.log ulp noise. The
    udf is a closure (pickled by value, repo invariant)."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("t", T.LongType()),
            T.StructField("s", T.LongType()),
        ]
    )

    def stat_batches(batches):
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        qc_cache: dict[int, int] = {}

        def qc_of(c: int) -> int:
            v = qc_cache.get(c)
            if v is None:
                x = math.log(float(c)) * FIXED_POINT_SCALE
                v = qc_cache[c] = int(
                    Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
                )
            return v

        for pdf in batches:
            out_doc, out_t, out_s = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                if txt is None or len(txt) < 2:
                    continue
                cp = np.frombuffer(
                    txt.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                grams = (cp[:-1] << 21) | cp[1:]  # code points < 2^21
                _, counts = np.unique(grams, return_counts=True)
                # distinct COUNT VALUES are far fewer than distinct
                # grams — fold multiplicities before the log lookups
                cvals, cmult = np.unique(counts, return_counts=True)
                s = int(
                    sum(
                        int(m) * int(v) * qc_of(int(v))
                        for v, m in zip(cvals, cmult)
                    )
                )
                out_doc.append(did)
                out_t.append(int(grams.size))
                out_s.append(s)
            yield pd.DataFrame(
                {
                    "doc": pd.Series(out_doc, dtype="Int64"),
                    "t": pd.Series(out_t, dtype="int64"),
                    "s": pd.Series(out_s, dtype="int64"),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(stat_batches, out_schema)


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-doc character-bigram Shannon entropy (nats) — the
    compression-ratio quality signal: templated/looping junk compresses
    well and sits far below natural text's ~3 nats, so a low-entropy
    tail cut is a standard corpus filter (the per-doc cousin of t28's
    duplicate-gram mass, catching character-level loops that word-level
    n-grams miss).

    Exactness: H = ln(T) − (Σ c·ln c)/T is folded on the t30/a08
    quantized-integer grid — BOTH ln(c) and ln(T) round to BIGINTs at
    ``FIXED_POINT_SCALE`` (jvm Math.log vs libm log differ by 1 ulp on some inputs;
    the grid absorbs it), the Σ c·qc sum is exact integer arithmetic
    (order-free, so map-side combinable and partition-independent), and
    the only float steps are divisions on identical exact integers —
    hence hash-exact. Overflow
    headroom: c·qc ≤ T·ln(T)·scale ≈ 3e15 for a 1-GB doc — far under
    2^63.

    Scale shape: one Arrow-batched numpy pass per doc
    (:func:`_bigram_grid_stats_np`) yields (doc, T, S) — no row per
    character ever reaches a hash aggregate or the shuffle. Docs with
    <2 chars (and NULL text) re-enter via the left join with
    n_bigrams=0 and NULL entropy — same on both engines.
    """
    per_doc = _bigram_grid_stats_np(docs)
    # ln(T) must ride the SAME quantized grid as the ln(c) terms:
    # jvm Math.log and libm log disagree by 1 ulp on some inputs, and
    # a raw ln(T) leaks that ulp straight into the hash (observed on
    # 5/500 sf0.001 docs); round-to-grid absorbs it exactly like t30
    qt = F.round(F.log(F.col("t").cast("double")) * FIXED_POINT_SCALE).cast("bigint")
    ent = qt.cast("double") / F.lit(float(FIXED_POINT_SCALE)) - (
        F.col("s").cast("double") / F.lit(float(FIXED_POINT_SCALE))
    ) / F.col("t").cast("double")
    return docs.select(F.col("doc_id")).join(
        per_doc.select(
            F.col("doc").alias("doc_id"),
            F.col("t").alias("n_bigrams"),
            ent.alias("entropy_nats"),
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        "entropy_nats",
    )


def char_entropy_sql() -> str:
    return f"""
WITH grams AS (
  SELECT doc_id AS doc, substring(text, CAST(i AS INT), 2) AS g
  FROM documents, UNNEST(range(1, length(text))) AS u(i)
  WHERE length(text) >= 2
),
counts AS (
  SELECT doc, g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY 1, 2
),
per_doc AS (
  SELECT doc,
         CAST(SUM(c) AS BIGINT) AS t,
         CAST(SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * {FIXED_POINT_SCALE}) AS BIGINT))
              AS BIGINT) AS s
  FROM counts GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       CAST(COALESCE(p.t, 0) AS BIGINT) AS n_bigrams,
       CAST(CAST(ROUND(LN(CAST(p.t AS DOUBLE)) * {FIXED_POINT_SCALE}) AS BIGINT) AS DOUBLE)
           / {float(FIXED_POINT_SCALE)}
         - (CAST(p.s AS DOUBLE) / {float(FIXED_POINT_SCALE)}) / CAST(p.t AS DOUBLE)
         AS entropy_nats
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc
"""


def language_confidence(
    docs: DataFrame,
) -> DataFrame:
    """t02's language election plus its CONFIDENCE: the stopword-hit
    score of the elected language, the best score among the OTHER
    languages, and their margin — the gating signal CCNet-style
    pipelines threshold on (a doc elected 'en' by 1 hit over 'es' is
    mixed/ambiguous content; filters keep confident docs and route the
    ambiguous to review). margin = 0 flags exact ties (which t02's
    declaration-order tie-break resolves silently).

    All scores are integer hit counts; the second-best is a CASE on
    the elected language over GREATEST of the remaining four — no
    NULL-skipping greatest() semantics to diverge on. NULL text →
    all-NULL row on both engines (the t02 fall-through). Pure per-row
    projection: no shuffle, pipelines inside the scan.

    The expression is built in STAGED projections (scores → election →
    top/second → margin), each stage referencing the previous stage's
    COLUMNS: inlining ``stopword_hits`` (lower+split+filter per
    reference) into the ~20 comparison sites made Catalyst re-evaluate
    the tokenize chain per site (measured 1.9 s vs 0.7 s at sf0.1),
    and re-embedding the election CASE into every top/second/margin
    site blew the generated-code size up ~10× — compile cost that
    dominates under a loaded JVM. Multi-reference non-trivial
    expressions survive CollapseProject (the ``shingles_from_tokens``
    discipline); output verified identical at every step.
    """
    langs = list(LANG_STOPWORDS)
    scored = docs.select(
        F.col("doc_id"),
        F.col("text").isNotNull().alias("has_text"),
        *[
            stopword_hits("text", lg).cast("bigint").alias(f"s_{lg}")
            for lg in langs
        ],
    )
    s = {lg: F.col(f"s_{lg}") for lg in langs}
    # same election as predicted_lang, on the materialized columns
    pred = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            cj = s[langs[i]] >= s[langs[j]]
            cond = cj if cond is None else (cond & cj)
        pred = F.when(cond, langs[i]).otherwise(pred)
    pred = F.when(F.col("has_text"), pred)
    elected = scored.select(
        "doc_id",
        *[f"s_{lg}" for lg in langs],
        pred.alias("predicted_lang"),
    )

    def second_for(lg_elected: str) -> Column:
        return F.greatest(*[s[lg] for lg in langs if lg != lg_elected])

    p = F.col("predicted_lang")
    top = None
    second = None
    for lg in langs:
        top = (
            F.when(p == lg, s[lg]) if top is None else top.when(p == lg, s[lg])
        )
        second = (
            F.when(p == lg, second_for(lg))
            if second is None
            else second.when(p == lg, second_for(lg))
        )
    ranked = elected.select(
        "doc_id",
        "predicted_lang",
        top.alias("top_score"),
        second.alias("second_score"),
    )
    return ranked.select(
        "doc_id",
        "predicted_lang",
        "top_score",
        "second_score",
        (F.col("top_score") - F.col("second_score")).alias("margin"),
    )


def language_confidence_sql() -> str:
    langs = list(LANG_STOPWORDS)
    pred = predicted_lang_sql()
    score = {lg: stopword_hits_sql(lg) for lg in langs}

    def second_for(elected: str) -> str:
        return "GREATEST(" + ", ".join(
            score[lg] for lg in langs if lg != elected
        ) + ")"

    top = (
        "CASE "
        + " ".join(f"WHEN ({pred}) = '{lg}' THEN {score[lg]}" for lg in langs)
        + " END"
    )
    second = (
        "CASE "
        + " ".join(f"WHEN ({pred}) = '{lg}' THEN {second_for(lg)}" for lg in langs)
        + " END"
    )
    return f"""
SELECT doc_id AS doc_id,
       {pred} AS predicted_lang,
       CAST({top} AS BIGINT) AS top_score,
       CAST({second} AS BIGINT) AS second_score,
       CAST(({top}) - ({second}) AS BIGINT) AS margin
FROM documents
"""


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021 §A1.1): named per-doc booleans
# ---------------------------------------------------------------------------

# each rule is (name, spark_builder, sql_expr_builder); thresholds are
# the published ones re-expressed as INTEGER cross-multiplications so
# no rule ever computes a float (3 <= mean_word_len <= 10 becomes
# 3*n_words <= alnum_chars <= 10*n_words, exact at any magnitude)
GOPHER_STOP_PRESENCE = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_parts(col: Column):
    words = word_count(col).cast("bigint")
    alnum = F.regexp_count(col, F.lit("[A-Za-z0-9]")).cast("bigint")
    alpha_words = F.regexp_count(
        col, F.lit("[0-9]*[A-Za-z][A-Za-z0-9]*")
    ).cast("bigint")
    lines = (F.regexp_count(col, F.lit("\n")) + 1).cast("bigint")
    bullets = F.regexp_count(col, F.lit(r"(?m)^[-*]")).cast("bigint")
    ellipsis = F.regexp_count(col, F.lit(r"(?m)\.\.\.$")).cast("bigint")
    hashes = F.regexp_count(col, F.lit(r"#|\.\.\.")).cast("bigint")
    stops = F.size(
        F.array_distinct(
            F.filter(tokens(col), lambda t: t.isin(*GOPHER_STOP_PRESENCE))
        )
    ).cast("bigint")
    return words, alnum, alpha_words, lines, bullets, ellipsis, hashes, stops


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Per-doc breakdown of the Gopher/MassiveText quality rules (Rae
    et al. 2021 §A1.1) — one named boolean per rule plus the overall
    verdict, the t03-composite's auditable sibling: a composite score
    says HOW GOOD, this table says WHICH rule a rejected doc tripped
    (what you need before loosening any threshold).

    Every threshold is re-expressed as an integer cross-multiplication
    (mean word length 3..10 ⇒ ``3·n_words ≤ alnum_chars ≤ 10·n_words``)
    so the whole table is exact integer arithmetic — no ratio ever
    materializes as a float. Pure projection: no shuffle, pipelines in
    the scan. Every rule is wrapped in an explicit NULL-text guard:
    Spark's ``size(NULL array)`` is -1 (not NULL), so the unguarded
    stop-presence rule evaluates to a real False on NULL text — and
    ``False AND NULL`` then collapses passes_all — while the DuckDB
    twin's NULLs propagate (the t02 divergence class; caught by the
    planted-NULL sweep before this ever shipped).
    """
    c = F.col("text")
    words, alnum, alpha_words, lines, bullets, ellipsis, hashes, stops = (
        _gopher_parts(c)
    )
    rules = {
        "r_word_count": (words >= 50) & (words <= 100_000),
        "r_mean_word_len": (alnum >= 3 * words) & (alnum <= 10 * words),
        "r_symbol_ratio": hashes * 10 <= words,
        "r_alpha_words": alpha_words * 5 >= words * 4,
        "r_stop_presence": stops >= 2,
        "r_bullets": bullets * 10 <= lines * 9,
        "r_ellipsis": ellipsis * 10 <= lines * 3,
    }
    rules = {
        name: F.when(c.isNotNull(), expr) for name, expr in rules.items()
    }
    passes = None
    for expr in rules.values():
        passes = expr if passes is None else (passes & expr)
    return docs.select(
        F.col("doc_id"),
        *[expr.alias(name) for name, expr in rules.items()],
        passes.alias("passes_all"),
    )


def _gopher_parts_sql() -> dict[str, str]:
    inlist = ", ".join(f"'{w}'" for w in GOPHER_STOP_PRESENCE)
    return {
        "words": word_count_sql(),
        "alnum": f"CAST(len(regexp_extract_all(text, '[A-Za-z0-9]')) AS BIGINT)",
        "alpha_words": (
            f"CAST(len(regexp_extract_all(text,"
            f" '[0-9]*[A-Za-z][A-Za-z0-9]*')) AS BIGINT)"
        ),
        "lines": f"CAST(len(regexp_extract_all(text, '\\n')) + 1 AS BIGINT)",
        "bullets": f"CAST(len(regexp_extract_all(text, '(?m)^[-*]')) AS BIGINT)",
        "ellipsis": (
            f"CAST(len(regexp_extract_all(text, '(?m)\\.\\.\\.$')) AS BIGINT)"
        ),
        "hashes": f"CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT)",
        "stops": (
            f"CAST(len(list_distinct(list_filter({tokens_sql('text')},"
            f" t -> t IN ({inlist})))) AS BIGINT)"
        ),
    }


def gopher_rules_sql() -> str:
    p = _gopher_parts_sql()
    rules = {
        "r_word_count": f"{p['words']} >= 50 AND {p['words']} <= 100000",
        "r_mean_word_len": (
            f"{p['alnum']} >= 3 * {p['words']} AND {p['alnum']} <= 10 * {p['words']}"
        ),
        "r_symbol_ratio": f"{p['hashes']} * 10 <= {p['words']}",
        "r_alpha_words": f"{p['alpha_words']} * 5 >= {p['words']} * 4",
        "r_stop_presence": f"{p['stops']} >= 2",
        "r_bullets": f"{p['bullets']} * 10 <= {p['lines']} * 9",
        "r_ellipsis": f"{p['ellipsis']} * 10 <= {p['lines']} * 3",
    }
    cols = ",\n       ".join(f"({sql}) AS {name}" for name, sql in rules.items())
    conj = " AND ".join(f"({sql})" for sql in rules.values())
    return f"""
SELECT doc_id AS doc_id,
       {cols},
       ({conj}) AS passes_all
FROM documents
"""


GOPHER_RULE_NAMES = (
    "r_word_count",
    "r_mean_word_len",
    "r_symbol_ratio",
    "r_alpha_words",
    "r_stop_presence",
    "r_bullets",
    "r_ellipsis",
)


def gopher_rule_attribution(docs: DataFrame) -> DataFrame:
    """Per-rule rejection accounting over :func:`gopher_rules` — which
    named rule is doing the filtering, the table read before any
    threshold is loosened: (rule, n_eval, n_fail, fail_rate). NULL-text
    docs evaluate no rule (three-valued logic) and are excluded from
    the denominator. One corpus scan, one aggregate row exploded into
    |rules| rows — the rollup never re-reads the corpus per rule."""
    rules = gopher_rules(docs)
    aggs = []
    # coalesce: SUM over ZERO rows is NULL; an empty corpus evaluates
    # and fails zero docs per rule (r11 empty-corpus sweep), matching
    # the oracle's COUNT / coalesced CASE-sum
    for name in GOPHER_RULE_NAMES:
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col(name).isNotNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias(f"eval_{name}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(~F.col(name), 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(f"fail_{name}")
        )
    one = rules.agg(*aggs)
    legs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"eval_{name}").alias("n_eval"),
                F.col(f"fail_{name}").alias("n_fail"),
            )
            for name in GOPHER_RULE_NAMES
        ]
    )
    return (
        one.select(F.explode(legs).alias("leg"))
        .select("leg.rule", "leg.n_eval", "leg.n_fail")
        .select(
            "rule",
            "n_eval",
            "n_fail",
            F.when(
                F.col("n_eval") > 0,
                F.col("n_fail").cast("double") / F.col("n_eval").cast("double"),
            ).alias("fail_rate"),
        )
    )


def gopher_rule_attribution_sql() -> str:
    rules = gopher_rules_sql()
    legs = "\nUNION ALL\n".join(
        f"""
SELECT '{name}' AS rule,
       CAST(COUNT({name}) AS BIGINT) AS n_eval,
       CAST(COALESCE(SUM(CASE WHEN NOT {name} THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_fail,
       CASE WHEN COUNT({name}) > 0
            THEN CAST(SUM(CASE WHEN NOT {name} THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT({name}) AS DOUBLE)
       END AS fail_rate
FROM rules"""
        for name in GOPHER_RULE_NAMES
    )
    return f"WITH rules AS ({rules})\n{legs}"


def unigram_entropy(
    docs: DataFrame,
) -> DataFrame:
    """Per-source unigram Shannon entropy (nats) — the vocabulary-
    DIVERSITY number next to t30's Zipf slope and t31's concentration:
    low entropy = a few tokens carry the mass (templated content);
    natural prose sits near ln(vocab) − 1..2. Output: (source,
    n_tokens, vocab_size, unigram_entropy).

    Same exactness scheme as t34: H = ln(T) − (Σ n·ln n)/T with BOTH
    logs on the quantized-integer grid (1-ulp jvm/libm divergence
    absorbed), so every sum is order-free exact integer arithmetic.
    Scale shape: one corpus scan into (source, token) counts (map-side
    combinable), then a vocabulary-bounded per-source fold — the
    corpus never sorts and never re-scans.
    """
    counts = (
        docs.select(
            F.col("source"),
            F.explode(tokens("text")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    qn = F.round(F.log(F.col("n").cast("double")) * FIXED_POINT_SCALE).cast("bigint")
    per_source = counts.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.col("n") * qn).cast("bigint").alias("s"),
    )
    qt = F.round(F.log(F.col("t").cast("double")) * FIXED_POINT_SCALE).cast("bigint")
    ent = qt.cast("double") / F.lit(float(FIXED_POINT_SCALE)) - (
        F.col("s").cast("double") / F.lit(float(FIXED_POINT_SCALE))
    ) / F.col("t").cast("double")
    return per_source.select(
        "source",
        F.col("t").alias("n_tokens"),
        "vocab_size",
        ent.alias("unigram_entropy"),
    )


def unigram_entropy_sql() -> str:
    toks = tokens_sql("text")
    return f"""
WITH counts AS (
  SELECT source AS source, tok, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents, UNNEST({toks}) AS u(tok)
  GROUP BY 1, 2
),
per_source AS (
  SELECT source,
         CAST(SUM(n) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(n * CAST(ROUND(LN(CAST(n AS DOUBLE)) * {FIXED_POINT_SCALE}) AS BIGINT))
              AS BIGINT) AS s
  FROM counts GROUP BY 1
)
SELECT source,
       t AS n_tokens,
       vocab_size,
       CAST(CAST(ROUND(LN(CAST(t AS DOUBLE)) * {FIXED_POINT_SCALE}) AS BIGINT) AS DOUBLE)
           / {float(FIXED_POINT_SCALE)}
         - (CAST(s AS DOUBLE) / {float(FIXED_POINT_SCALE)}) / CAST(t AS DOUBLE)
         AS unigram_entropy
FROM per_source
"""



# ---------------------------------------------------------------------------
# Frequent tokens: Misra-Gries candidates + exact verification
# ---------------------------------------------------------------------------


# Misra-Gries counters per partition of the t42 frequent-token sketch.
FREQUENT_TOKENS_CAPACITY = 128


def frequent_tokens(
    docs: DataFrame,
    capacity: int = FREQUENT_TOKENS_CAPACITY,
) -> DataFrame:
    """Corpus-wide heavy-hitter tokens — every token whose exact count
    exceeds ``total/capacity`` — via the two-phase sketch-then-verify
    pattern that makes frequent-items tractable at 100 TB: (token,
    n_token, total_tokens, share).

    Phase 1 runs a Misra-Gries summary of ``capacity`` counters PER
    PARTITION (bounded memory, one streaming pass, no shuffle), then
    merges the per-partition summaries on the driver with the
    mergeable-summaries rule (Agarwal et al. 2012: sum counters, then
    subtract the (capacity+1)-th largest and drop non-positives). The
    merged summary undercounts any token by at most N/(capacity+1), so
    every token with true count > N/capacity is GUARANTEED a candidate
    — the candidate set itself may vary with partitioning, but phase 2
    makes the output partition-independent. Phase 2 exact-counts ONLY
    the <= capacity candidate tokens: the broadcast IN-list prunes the
    token grain before the aggregation shuffle, so the shuffle carries
    candidate rows only — never the full vocabulary. The strict filter
    ``n_token * capacity > total`` then yields EXACTLY the true heavy
    hitters: deterministic, partition-order-free, hash-checkable.

    The collect is control-plane bounded: <= capacity rows per
    partition summary (at 1000 executors x 32 partitions each this is
    a few MB; a tree-merge of summaries is the escape hatch long
    before that matters). ``total_tokens`` folds map-side from per-doc
    token-array lengths — the corpus-wide token count never shuffles
    the token grain either. The DuckDB twin is the exact GROUP BY +
    HAVING the two phases reproduce.
    """
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    cap = int(capacity)

    def mg_partition(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > cap:
                vals = sorted(counters.values(), reverse=True)
                thr = vals[cap]
                counters = {
                    t: c - thr for t, c in counters.items() if c - thr > 0
                }
        yield pd.DataFrame(
            {"token": list(counters.keys()), "cnt": list(counters.values())}
        )

    summaries = toks.mapInPandas(mg_partition, "token string, cnt long").collect()
    merged: dict[str, int] = {}
    for row in summaries:
        merged[row["token"]] = merged.get(row["token"], 0) + int(row["cnt"])
    if len(merged) > cap:
        vals = sorted(merged.values(), reverse=True)
        thr = vals[cap]
        merged = {t: c - thr for t, c in merged.items() if c - thr > 0}
    candidates = sorted(merged)

    # size(NULL) is -1 under legacy semantics (the t37 lesson — caught
    # live by the planted-NULL docs sweep: two NULL-text docs shaved 2
    # off the threshold denominator), so NULL text is guarded to 0
    n_toks = F.when(
        F.col("text").isNull(), F.lit(0)
    ).otherwise(F.size(tokens("text")))
    total_df = docs.agg(
        F.coalesce(
            F.sum(n_toks.cast("bigint")), F.lit(0).cast("bigint")
        ).alias("total_tokens")
    )
    cand_pred = F.col("token").isin(candidates) if candidates else F.lit(False)
    exact = (
        toks.filter(cand_pred)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_token"))
    )
    return (
        exact.crossJoin(F.broadcast(total_df))
        .filter(F.col("n_token") * F.lit(cap) > F.col("total_tokens"))
        .select(
            "token",
            "n_token",
            "total_tokens",
            (
                F.col("n_token").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("share"),
        )
    )


def frequent_tokens_sql() -> str:
    """DuckDB twin: the exact GROUP BY + strict HAVING the sketch-then-
    verify phases reproduce (the Misra-Gries guarantee makes the Spark
    output identical to this for every partitioning)."""
    toks = tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT unnest({toks}) AS token FROM documents WHERE text IS NOT NULL
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens FROM tok),
cnt AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_token FROM tok GROUP BY token
)
SELECT c.token, c.n_token, t.total_tokens,
       CAST(c.n_token AS DOUBLE) / CAST(t.total_tokens AS DOUBLE) AS share
FROM cnt c CROSS JOIN tot t
WHERE c.n_token * {FREQUENT_TOKENS_CAPACITY} > t.total_tokens
"""
