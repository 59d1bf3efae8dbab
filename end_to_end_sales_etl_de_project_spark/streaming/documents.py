"""Streaming document ingestion with a quality gate — the front door
of a training-data pipeline run continuously instead of as nightly
batches: documents land as parquet files, every doc gets its admission
decision (the same ``text.quality_bucket`` + token accounting the batch
curation stages apply), and per-source admission totals stay current.

Design:

- **Decisions are stateless** (per-row projection), so the decision
  stream runs in append mode with zero state — at any corpus rate the
  only cost is the projection itself, and batch ≡ stream is exact by
  construction (same column expressions, same engine).
- **Accounting is a keyed aggregation without event time** (the
  documents table carries none): bounded state = one row per
  (source, bucket), emitted in update/complete mode. Cardinality is
  |sources| × 3 buckets — driver-safe at any scale.
- **Thresholds are shared** with t03/c01/c04 (one ``quality_bucket``
  definition), so the streaming gate can never drift from the batch
  curation policy it fronts.

The reference has no streaming surface (SURVEY §2.9); this module is
Spark-native capability layered on the reference's validate→route
semantics (``/root/reference/src/validation/validate.py`` routes whole
files; the gate routes rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_sales_etl_de_project_spark.operators.dedup import SHINGLE_K
from end_to_end_sales_etl_de_project_spark.operators.text import (
    quality_bucket,
    token_count,
)
from end_to_end_sales_etl_de_project_spark.writers import swap_in

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

def read_documents_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over a documents landing zone, one file per
    trigger. Reads with the canonical documents schema so ingestion can
    be armed on an EMPTY directory (no batch peek needed)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def quality_gate(docs: DataFrame) -> DataFrame:
    """Per-document admission decision — works identically on a static
    or streaming frame (stateless projection): (doc_id, source, bucket,
    n_tokens, admitted)."""
    return docs.select(
        "doc_id",
        "source",
        quality_bucket().alias("bucket"),
        token_count("text").cast("bigint").alias("n_tokens"),
        (quality_bucket() == "ok").alias("admitted"),
    )


def ingest_accounting(gated: DataFrame) -> DataFrame:
    """Per-(source, bucket) admission totals — the dashboard row a
    continuously-running ingest exposes: how many docs/tokens each
    source contributed and how many the gate refused. Keyed streaming
    aggregation with |sources|×|buckets| state rows."""
    return gated.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(F.when(F.col("admitted"), F.col("n_tokens")).otherwise(0)).alias(
            "admitted_tokens"
        ),
    )


def dedup_documents_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact content dedup at the ingest door: the first
    document carrying each distinct content is admitted, every later
    copy (re-crawls, mirror sites, redelivered files) is dropped — the
    streaming twin of the batch incremental-ingest dedup
    (``operators/dedup.py`` d10 semantics, which joins a new batch
    against the corpus index).

    Key: ``(text_hash, text_len)`` — the 60-bit content hash alone
    makes a silent-drop collision material around ~1B distinct docs
    (birthday bound ~2^30 on a 2^60 space); compounding with the exact
    CHARACTER length (``F.length`` counts characters, not bytes —
    ADVICE r8) pushes a false positive to same-hash AND same-length,
    and costs nothing (length is already computed engine-side). For
    multi-byte text the character count discriminates slightly less
    than a byte count would, but the compound key's job is only to
    square the collision exponent, which either length does. NULL
    text passes through UNDEDUPED by explicit choice: there is no
    content to compare, so the dedup door is not the stage that judges
    it — the quality gate downstream buckets NULL/empty text as
    refuse. (Before this split, every NULL-text doc collapsed into one
    because their hashes compare equal — ADVICE r7.)

    State: one (8-byte hash + 8-byte length) entry per distinct
    document FOREVER — for exact dedup that is the honest minimum (a
    copy can arrive years later). Footprint is ~16 B/doc of key plus
    state-store overhead (~100 B/entry measured on the HDFS-backed
    store): ~10^9 distinct docs ≈ ~100 GB spread across executors —
    operable with the RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass``) which keeps
    state on local SSD, but NOT with the default in-memory provider.
    The documents table carries no event time, so there is no
    watermark to bound it; a deployment that can tolerate a dedup
    horizon adds an ingest-time column and switches to
    ``dropDuplicatesWithinWatermark`` (the ``dedup_stream`` pattern).
    ``tests/test_streaming.py`` pins the state-row count == distinct
    non-NULL docs via the query's stateOperators progress metrics.
    """
    from end_to_end_sales_etl_de_project_spark.functions.hashing import h60

    hashed = docs.withColumn("text_hash", h60(F.col("text"))).withColumn(
        "text_len", F.length("text").cast("bigint")
    )
    deduped = hashed.filter(F.col("text").isNotNull()).dropDuplicates(
        ["text_hash", "text_len"]
    )
    null_text = hashed.filter(F.col("text").isNull())
    return deduped.unionByName(null_text)


def source_token_totals(gated: DataFrame) -> DataFrame:
    """Per-source running document/token totals over the gated ingest
    stream — the keyed aggregation feeding the live mixture monitor.
    Bounded state: one row per source (no event time needed; totals
    are monotone). Token NULLs (NULL text) add zero on both the batch
    and stream paths, so totals match t32's COALESCE semantics."""
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
    )


def start_mixture_monitor(
    spark: SparkSession,
    src_dir: str,
    mart_path: str,
    checkpoint_dir: str,
):
    """Live DoReMi-lite mixture monitor: as documents land, maintain
    t32's per-source sampling-weight table continuously — the answer
    to "is today's crawl suddenly 80% one domain, and what weight
    corrects it?" updated per micro-batch instead of per nightly run.

    Shape: the complete-mode totals stream hands each trigger the FULL
    |sources|-row totals table; ``foreachBatch`` applies the SHARED
    batch math (``curation.mixture_weights_from_totals`` — the same
    expression tree t32 ships, so live and batch weights are
    bit-identical on identical totals) and rewrites the parquet mart
    the loader/dashboard reads: staged sibling + ``writers.swap_in``,
    like every rewrite of an existing directory, so a trigger whose
    write fails leaves the previous mart in place. State is |sources|
    rows; the per-trigger fold work is |sources| rows; nothing here
    scales with corpus size except the stateless gate projection
    upstream."""
    from end_to_end_sales_etl_de_project_spark.operators.curation import (
        mixture_weights_from_totals,
    )

    docs = read_documents_stream(spark, src_dir)
    totals = source_token_totals(quality_gate(docs))

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        staged = mart_path + ".staged"
        mixture_weights_from_totals(batch_df).write.mode("overwrite").parquet(staged)
        swap_in(staged, mart_path)

    return (
        totals.writeStream.outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fold)
        .start()
    )


def decontamination_gate(
    docs: DataFrame,
    bitmap_words: list[int],
) -> DataFrame:
    """Streaming Bloom decontamination at the ingest door: per arriving
    document, how many of its k-word shingles hit the test-set Bloom
    filter — ``(doc_id, source, n_shingles, n_flagged, contaminated)``.
    The streaming face of d22 (``operators/dedup.bloom_decontaminate``):
    batch audits the corpus, this gate screens documents AS THEY LAND
    so contaminated ingest is quarantined for exact verification before
    it ever reaches a training shard.

    STATELESS by construction, which is the whole design: the filter
    rides along as a packed ``array<long>`` literal
    (``dedup.bloom_bitmap_words`` — m bits regardless of corpus or
    test-set size), and membership is per-row higher-order-function
    arithmetic (``dedup.bloom_membership``), so the gate runs in append
    mode with ZERO state rows at any ingest rate — no stream-static
    join to re-plan, no keyed aggregation. Batch ≡ stream is exact
    because both run the identical projection.

    A flagged doc is a Bloom hit, not a conviction — the d22 audit
    prices the FP rate; the quarantine path applies the exact
    shingle join to flagged docs only (|flagged| ≪ |ingest|).

    NULL text ⇒ 0 shingles, not flagged (``size(NULL)`` is -1 under
    legacy semantics — the t37 lesson — so the counts are guarded
    explicitly)."""
    from end_to_end_sales_etl_de_project_spark.functions.hashing import h60
    from end_to_end_sales_etl_de_project_spark.operators.dedup import bloom_membership
    from end_to_end_sales_etl_de_project_spark.operators.text import (
        shingles_from_tokens,
        tokens,
    )

    shingles = shingles_from_tokens(tokens("text"), SHINGLE_K)
    flagged = F.filter(shingles, lambda s: bloom_membership(h60(s), bitmap_words))
    n_sh = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(shingles))
    n_fl = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(flagged))
    return docs.select(
        "doc_id",
        "source",
        n_sh.cast("bigint").alias("n_shingles"),
        n_fl.cast("bigint").alias("n_flagged"),
        (n_fl > 0).alias("contaminated"),
    )


def neardup_probe(
    docs: DataFrame,
    corpus_index: DataFrame,
) -> DataFrame:
    """Near-dup probe at the ingest door — the streaming face of d18
    (``operators/dedup.incremental_neardup``): each arriving document
    probes the corpus's LSH banding index
    (``operators/dedup.corpus_lsh_index``) and every verified match
    surfaces as a row; the election into per-doc decisions is
    ``neardup_decisions`` below.

    STATELESS end to end, which is the design: the per-doc MinHash
    signature is a per-row higher-order-function fold — ``array_min``
    over the shingle array per hash-family member, EXACTLY the batch
    groupBy-min (a min cannot be changed by duplicate shingles, so the
    multiset array and the distinct shingle table agree) — the band
    keys are the same ``concat_ws`` strings the batch banding writes,
    and candidates come from a stream-static LEFT equi-join on
    (band, key) with the verify as an ``array_intersect`` Jaccard
    (one IEEE division of exact counts, the ``jaccard_pairs``
    arithmetic verbatim). Append mode, zero state rows at any ingest
    rate; the corpus side is the static index a deployment refreshes
    per corpus build.

    Output: one row per (doc, band[, candidate]) —
    (doc_id, matched_doc, jaccard), with sub-threshold and unmatched
    probes carrying NULLs. Every doc always emits its ``N_BANDS`` rows
    (LEFT join), so the election can decide ``novel`` without an
    anti-join; a pair matching in several bands appears several times
    and collapses in the election.

    NULL/empty text: no shingles → NULL signature members → concat_ws
    skips NULLs → key "" — which can never match a corpus key (corpus
    rows come from docs WITH shingles) — so such docs flow through as
    unmatched rows and elect to ``novel``, exactly d18's left-join
    semantics."""
    from end_to_end_sales_etl_de_project_spark.functions.hashing import (
        h60,
        minhash_family,
    )
    from end_to_end_sales_etl_de_project_spark.operators.dedup import (
        MIN_JACCARD,
        N_BANDS,
        N_HASHES,
        band_keys,
    )
    from end_to_end_sales_etl_de_project_spark.operators.text import (
        shingles_from_tokens,
        tokens,
    )

    sh_a = F.array_distinct(
        F.transform(shingles_from_tokens(tokens("text"), SHINGLE_K), lambda s: h60(s))
    )
    def _mh_member(i: int):
        # factory closure: a 2-arg lambda would be misread by pyspark's
        # HOF bridge as an (element, index) lambda
        return F.array_min(F.transform(sh_a, lambda h: minhash_family(h, i)))

    mh = [_mh_member(i) for i in range(N_HASHES)]
    probe = docs.select(
        "doc_id", sh_a.alias("sh_a"), F.explode(band_keys(mh, N_BANDS)).alias("bk")
    ).select(
        "doc_id",
        "sh_a",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    joined = probe.join(corpus_index, ["band", "key"], "left")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("bigint")
    n_a = F.size("sh_a").cast("bigint")
    jac = inter / (n_a + F.col("n_b") - inter).cast("double")
    hit = F.col("corpus_doc").isNotNull() & (jac >= F.lit(MIN_JACCARD))
    return joined.select(
        "doc_id",
        F.when(hit, F.col("corpus_doc")).alias("matched_doc"),
        F.when(hit, jac).alias("jaccard"),
    )


def neardup_decisions(probe_rows: DataFrame) -> DataFrame:
    """Best-match election over ``neardup_probe`` rows — BATCH mode
    (the streaming face applies it per micro-batch via ``foreachBatch``;
    file-source micro-batches contain whole files, so one doc's probe
    rows never split across triggers): max Jaccard, ties to the
    smallest corpus doc id (d18's exact election), docs whose rows are
    all NULL elect to ``novel``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc_nulls_last(), F.col("matched_doc").asc_nulls_last()
    )
    best = (
        probe_rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return best.select(
        "doc_id",
        F.when(F.col("matched_doc").isNull(), "novel")
        .otherwise("near_dup_of_corpus")
        .alias("decision"),
        "matched_doc",
        "jaccard",
    )


def start_neardup_gate(
    spark: SparkSession,
    src_dir: str,
    corpus_index: DataFrame,
    decisions_path: str,
    checkpoint_dir: str,
):
    """Continuous near-dup gate: as document files land, probe the
    static corpus LSH index (stream-static join, zero streaming state)
    and add each micro-batch's elected decisions to the decisions
    mart. The election runs inside ``foreachBatch`` in batch mode —
    the same ``neardup_decisions`` the batch path uses, so live and
    nightly decisions are bit-identical on identical input.

    Exactly once per epoch: micro-batch ``n`` owns the partition
    directory ``epoch=n`` of the mart, written to a staged sibling of
    the mart and committed with ``writers.swap_in``. An epoch that Spark
    replays after a crash between the write and its commit-log entry
    replaces its own output instead of adding a second copy, so the
    mart holds one decision per document."""
    stream = read_documents_stream(spark, src_dir)
    rows = neardup_probe(stream, corpus_index)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        staged = f"{decisions_path}.staged-epoch={epoch_id}"
        neardup_decisions(batch_df).write.mode("overwrite").parquet(staged)
        os.makedirs(decisions_path, exist_ok=True)
        swap_in(staged, os.path.join(decisions_path, f"epoch={epoch_id}"))

    return (
        rows.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fold)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming count-min sketch: online shingle-DF tracking (d28's twin)
# ---------------------------------------------------------------------------

CMS_STREAM_W = 1024
CMS_STREAM_DEPTH = 4


def _doc_shingle_rows(docs: DataFrame) -> DataFrame:
    """Per-document DISTINCT hashed k-shingles as (shingle) rows — the
    per-row-expression form of ``dedup.shingle_index`` (the same
    array pipeline the decontamination gate runs), so each (doc,
    shingle) contributes exactly once: document-frequency semantics,
    identical to the batch d28 ground truth."""
    from end_to_end_sales_etl_de_project_spark.functions.hashing import h60
    from end_to_end_sales_etl_de_project_spark.operators.text import (
        shingles_from_tokens,
        tokens,
    )

    # two-step projection (tokens -> shingles): inlining the token
    # chain re-evaluates it per shingle inside the transform lambda
    # (shingles_from_tokens docstring, ~6.5x on the explode)
    toked = docs.filter(F.col("text").isNotNull()).select(
        tokens("text").alias("toks")
    )
    hashed = F.array_distinct(
        F.transform(shingles_from_tokens(F.col("toks"), SHINGLE_K), h60)
    )
    return toked.select(F.explode(hashed).alias("shingle"))


def cms_probe_stream(
    docs: DataFrame,
    probes: list[int],
) -> DataFrame:
    """Online shingle document-frequency tracking via a count-min
    sketch held IN STATE — the streaming face of d28: the batch audit
    prices the width; this gate maintains the w x depth counter grid
    as documents land and emits, per micro-batch, each PROBE key's
    per-row estimate. The production question it answers online is the
    d-family's: "has this shingle's DF crossed the max_df boilerplate
    cap yet" — without tracking per-key state for an unbounded key
    universe (the entire point of a CMS: state is w*depth longs,
    CONSTANT in corpus size, vs the unbounded map a per-key counter
    gate would grow).

    State is partitioned BY HASH ROW (``CMS_STREAM_DEPTH`` groups, each holding
    its w-counter array): rows are independent by construction, so
    this is the natural shard key; at production width shard further
    by counter block — (row, bucket // B) — since bucket updates
    within a row are also independent sums. Counter updates COMMUTE
    (integer sums), so the state after all input is bit-identical for
    every micro-batch partitioning — the final emission per (row,
    probe) equals the batch sketch exactly (test-pinned), unlike the
    order-sensitive summaries (t42's Misra-Gries) where only the
    verified output is partition-free.

    Output per batch and probe: (row_idx, probe, est, n_seen) with
    ``est`` the row's counter at the probe's bucket AFTER folding the
    batch and ``n_seen`` the row's total folded shingle occurrences
    (monotone — the test selects each row's final emission by max
    n_seen). Election to the CMS estimate (min across rows) is
    ``cms_probe_decisions`` below, the neardup_probe/decisions split.
    """
    from collections.abc import Iterable

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from end_to_end_sales_etl_de_project_spark.functions.hashing import (
        h60_py,
        h60_seeded,
    )

    probe_buckets = {
        s: [(int(p), h60_py(f"{p}#{s}") % CMS_STREAM_W) for p in probes]
        for s in range(CMS_STREAM_DEPTH)
    }
    seeded = _doc_shingle_rows(docs).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("row_idx"),
                        (
                            h60_seeded(F.col("shingle").cast("string"), s)
                            % F.lit(CMS_STREAM_W)
                        ).alias("bucket"),
                    )
                    for s in range(CMS_STREAM_DEPTH)
                ]
            )
        ).alias("e")
    ).select("e.row_idx", "e.bucket")

    def update_cms(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import pandas as pd  # noqa: F811 — resolved on the worker

        (row_idx,) = key
        if state.exists:
            counters_t, n_seen = state.get
            counters = list(counters_t)
        else:
            counters, n_seen = [0] * CMS_STREAM_W, 0
        for pdf in pdfs:
            for b, c in pdf["bucket"].value_counts().items():
                counters[int(b)] += int(c)
                n_seen += int(c)
        state.update((counters, n_seen))
        pb = probe_buckets[int(row_idx)]
        yield pd.DataFrame(
            {
                "row_idx": [int(row_idx)] * len(pb),
                "probe": [p for p, _ in pb],
                "est": [counters[b] for _, b in pb],
                "n_seen": [n_seen] * len(pb),
            }
        )

    return seeded.groupBy("row_idx").applyInPandasWithState(
        update_cms,
        outputStructType="row_idx int, probe bigint, est bigint, n_seen bigint",
        stateStructType="counters array<bigint>, n_seen bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cms_probe_batch(
    docs: DataFrame,
    probes: list[int],
) -> DataFrame:
    """BATCH twin of the final stream state: per (row, probe), the
    bucket sum over the whole corpus — bit-equal to the stream's last
    emission because counter updates are integer sums. One bounded
    (<= w-row) aggregate per hash row; probe lookup joins are against
    a driver-built <= |probes|-row frame."""
    from end_to_end_sales_etl_de_project_spark.functions.hashing import (
        h60_py,
        h60_seeded,
    )

    rows = _doc_shingle_rows(docs)
    spark = docs.sparkSession
    legs = []
    for s in range(CMS_STREAM_DEPTH):
        sums = (
            rows.select(
                (
                    h60_seeded(F.col("shingle").cast("string"), s)
                    % F.lit(CMS_STREAM_W)
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("est"))
        )
        pb = spark.createDataFrame(
            [(s, int(p), h60_py(f"{p}#{s}") % CMS_STREAM_W) for p in probes],
            "row_idx int, probe long, bucket long",
        )
        legs.append(
            pb.join(sums, "bucket", "left").select(
                "row_idx",
                "probe",
                F.coalesce(F.col("est"), F.lit(0).cast("bigint")).alias("est"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def cms_probe_decisions(probe_rows: DataFrame) -> DataFrame:
    """Election over ``cms_probe_stream`` emissions: keep each row's
    FINAL emission (max n_seen — state is monotone), then the CMS
    estimate is the min across hash rows: (probe, df_estimate).
    One-sided by construction: df_estimate >= the key's exact DF."""
    from pyspark.sql.window import Window

    win = Window.partitionBy("row_idx", "probe").orderBy(F.col("n_seen").desc())
    latest = probe_rows.withColumn("rn", F.row_number().over(win)).filter(
        F.col("rn") == 1
    )
    return latest.groupBy("probe").agg(
        F.min("est").cast("bigint").alias("df_estimate")
    )
