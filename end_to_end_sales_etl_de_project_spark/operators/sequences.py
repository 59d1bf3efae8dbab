"""Ordered-sequence operators: gaps-and-islands streaks and the
distributed sweep-line (two-level prefix sum).

Both exist because the naive SQL forms are sequential or quadratic:
``count(distinct) OVER`` / interval self-joins don't survive 100 TB,
and a single global ``SUM() OVER (ORDER BY t)`` is one sorted
partition. These decompositions compute identical numbers with bounded
per-partition work; ``tests/test_properties.py`` pins equivalence to
in-Python sequential references on random inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def streak_islands(days: DataFrame) -> DataFrame:
    """Collapse a distinct (user_id, d) day table into one row per
    consecutive-day run: (user_id, anchor, streak_len).

    The island key ``day - row_number`` is constant exactly within a
    consecutive run. The window sorts each key's DAY rows (≤ calendar
    span), never the raw fact — callers must pass an already-distinct
    day table.
    """
    w = Window.partitionBy("user_id").orderBy("d")
    return (
        days.withColumn("rn", F.row_number().over(w))
        .withColumn("anchor", F.date_sub(F.col("d"), F.col("rn")))
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )


def swept_peaks(pts: DataFrame, bucket_s: int = 3600) -> DataFrame:
    """Per-bucket PEAK of the running sum of +1/-1 sweep ``delta``s at
    times ``t`` —
    identical numbers to the sequential ``SUM(delta) OVER (ORDER BY t,
    delta ROWS UNBOUNDED PRECEDING)`` followed by a per-bucket MAX, but
    computed as a distributed two-level prefix sum:

    1. per-bucket delta totals, cumulated over the tiny bucket spine
       (the ONLY unpartitioned window, |buckets| rows);
    2. the within-bucket running sum, windowed per bucket partition.

    The global running value at any point is prior-buckets offset +
    within-bucket prefix, because time is monotone in (bucket, t).
    Ends sort before starts at equal t (delta asc) so touching
    intervals never double-count. Returns (bucket_s, peak) with the
    bucket column named ``hour_s`` for the default hour bucket.
    """
    bucket = (F.col("t") - F.col("t") % F.lit(bucket_s)).alias("hour_s")
    pts = pts.withColumn("hour_s", bucket)
    bucket_tot = pts.groupBy("hour_s").agg(F.sum("delta").alias("bucket_delta"))
    w_spine = Window.orderBy("hour_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = bucket_tot.withColumn(
        "offset", F.sum("bucket_delta").over(w_spine) - F.col("bucket_delta")
    ).select("hour_s", "offset")
    w_in = (
        Window.partitionBy("hour_s")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.withColumn("run", F.sum("delta").over(w_in))
        .join(F.broadcast(offsets), "hour_s")
        .withColumn("live", F.col("run") + F.col("offset"))
        .groupBy("hour_s")
        .agg(F.max("live").cast("bigint").alias("peak_concurrency"))
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int = 2048,
    bucket_width: int = 4096,
) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus in ``doc_id``
    order and cut it into fixed-``capacity`` token sequences, letting
    documents SPAN sequence boundaries — the layout a pretraining data
    loader actually materializes. Per doc:

      (doc_id, n_tokens, first_seq, n_seqs, seq_offset)

    where ``first_seq`` is the sequence holding the doc's first token,
    ``n_seqs`` how many sequences the doc touches, and ``seq_offset``
    the doc's starting position within ``first_seq``. Zero-token docs
    keep their stream position with ``n_seqs = 0``.

    The global token prefix sum is the whole computation, and a naive
    ``SUM() OVER (ORDER BY doc_id)`` is ONE sorted partition — the
    same trap :func:`swept_peaks` avoids. Identical two-level
    decomposition: doc-id range blocks of ``bucket_width`` docs give a
    tiny spine (the only unpartitioned window, |docs|/bucket_width
    rows); per-block running sums are windowed inside each block
    partition; block offsets ride a broadcast. All arithmetic is
    integer (``div``/``pmod``) so the oracle is bit-exact at any
    magnitude.
    """
    from end_to_end_sales_etl_de_project_spark.operators.text import token_count

    base = docs.select(
        F.col("doc_id").alias("doc"),
        token_count("text").cast("bigint").alias("n_tokens"),
    ).withColumn("bkt", F.expr("doc div " + str(int(bucket_width))))
    tot = base.groupBy("bkt").agg(F.sum("n_tokens").alias("bkt_tokens"))
    w_spine = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = tot.withColumn(
        "offset", F.sum("bkt_tokens").over(w_spine) - F.col("bkt_tokens")
    ).select("bkt", "offset")
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("doc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cap = F.lit(int(capacity))
    enriched = (
        base.withColumn("run_end", F.sum("n_tokens").over(w_in))
        .join(F.broadcast(offsets), "bkt")
        .withColumn("cum_end", F.col("run_end") + F.col("offset"))
        .withColumn("cum_start", F.col("cum_end") - F.col("n_tokens"))
    )
    first_seq = F.expr(f"cum_start div {int(capacity)}")
    last_seq = F.expr(f"(cum_end - 1) div {int(capacity)}")
    return enriched.select(
        F.col("doc").alias("doc_id"),
        F.col("n_tokens"),
        first_seq.alias("first_seq"),
        F.when(F.col("n_tokens") > 0, last_seq - first_seq + 1)
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_seqs"),
        F.pmod(F.col("cum_start"), cap).cast("bigint").alias("seq_offset"),
    )


def pack_sequences_sql() -> str:
    """DuckDB twin of :func:`pack_sequences` — the sequential prefix-sum
    form the distributed decomposition must equal bit-for-bit."""
    from end_to_end_sales_etl_de_project_spark.operators.text import token_count_sql

    ntok = token_count_sql("text")
    return f"""
WITH t AS (SELECT doc_id AS doc, {ntok} AS n_tokens FROM documents),
c AS (
  SELECT doc, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
  FROM t
)
SELECT doc AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum_end - n_tokens) // 2048 AS BIGINT) AS first_seq,
       CAST(CASE WHEN n_tokens > 0
                 THEN (cum_end - 1) // 2048 - (cum_end - n_tokens) // 2048 + 1
                 ELSE 0 END AS BIGINT) AS n_seqs,
       CAST((cum_end - n_tokens) % 2048 AS BIGINT) AS seq_offset
FROM c
"""


def packing_fragmentation(
    packed: DataFrame,
    docs: DataFrame,
) -> DataFrame:
    """Per-source fragmentation audit of the c10 spanning layout: how
    many documents a sequence boundary CUTS, total cut points, and the
    fragmentation rate. Spanning packing pays zero padding but splits
    docs across training sequences (tokens on opposite sides never
    attend to each other); this table quantifies that cost per source
    so the capacity / ordering choice is made from numbers.

    Pure rollup over :func:`pack_sequences`' exact output joined to
    the source attribution — integer counts and one division, oracle
    bit-exact. ``docs_cut = n_seqs > 1``; ``cut_points = n_seqs − 1``
    summed over token-bearing docs.
    """
    src = docs.select(F.col("doc_id"), F.col("source"))
    return (
        packed.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_seqs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_cut"),
            F.sum(
                F.when(F.col("n_seqs") > 1, F.col("n_seqs") - 1).otherwise(0)
            )
            .cast("bigint")
            .alias("cut_points"),
            (
                F.sum(F.when(F.col("n_seqs") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("frag_rate"),
        )
    )


def packing_fragmentation_sql() -> str:
    packed = pack_sequences_sql()
    return f"""
WITH packed AS ({packed})
SELECT d.source AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN p.n_seqs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_cut,
       CAST(SUM(CASE WHEN p.n_seqs > 1 THEN p.n_seqs - 1 ELSE 0 END) AS BIGINT)
         AS cut_points,
       CAST(SUM(CASE WHEN p.n_seqs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS frag_rate
FROM packed p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY 1
"""
