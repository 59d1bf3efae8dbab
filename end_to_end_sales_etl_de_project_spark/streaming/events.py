"""Structured Streaming over the events table.

The reference is batch-by-cron with a hand-rolled exactly-once ledger
(``/root/reference/src/staging/staging.py:51-113``, SURVEY §2.9) and
lists "real-time processing with Kafka" as an unchecked future
enhancement (``README.md:258``). This module is that future, done the
Spark way: file-source streams with checkpointed exactly-once progress
(the ledger becomes the checkpoint), watermarked event-time windows for
late data, and native session windows.

The aggregation bodies are shared with the batch plans
(``plans/events.py``) — same groupBy expressions — and a test pins
batch ≡ streaming on the same input.

Scale notes: watermark bounds state (late rows beyond it are dropped);
``maxFilesPerTrigger`` bounds per-batch work during backfill; state
store is RocksDB-able via conf on a real cluster — nothing here is
local-mode-specific.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.operators.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from end_to_end_sales_etl_de_project_spark.sources.tables import (
    enable_nanos_as_long,
    normalize_event_ts,
)

# Event-time lateness every streaming twin tolerates before its state
# for a window is dropped.
WATERMARK = "2 hours"


def read_events_stream(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-source stream over an events parquet directory.

    Streaming sources need an explicit schema; it is peeked from the
    files already landed, so an EMPTY landing zone fails loudly (the
    batch peek cannot infer from nothing). Event-time normalization is
    shared with the batch loader (``sources.tables.normalize_event_ts``)
    so the paths cannot drift.
    """
    enable_nanos_as_long(spark)
    try:
        schema = spark.read.parquet(src_dir).schema
    except Exception as e:
        raise ValueError(
            f"cannot infer a streaming schema from {src_dir!r} (empty "
            "landing zone?) — arm ingestion after the first file arrives"
        ) from e
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(src_dir))


def tumbling_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling window — SAME aggregation body as
    ``e01_tumbling_hourly`` (operators/windows.py)."""
    return tumbling_agg(events.withWatermark("ts", WATERMARK))


def sliding_stream(events: DataFrame) -> DataFrame:
    """Watermarked sliding window — same body as e02."""
    return sliding_agg(events.withWatermark("ts", WATERMARK))


def session_stream(events: DataFrame) -> DataFrame:
    """Watermarked session windows — same body as e03."""
    return session_agg(events.withWatermark("ts", WATERMARK))


def run_to_memory_sink(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drive a streaming aggregation over all currently-available input
    synchronously and return the sink table as a DataFrame (test/smoke
    harness; production sinks are parquet/kafka via ``writeStream``)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def start_checkpointed_ingestion(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
):
    """Exactly-once file ingestion: stream parquet files from ``src_dir``
    into ``dest_dir`` with progress tracked in ``checkpoint_dir``.

    This replaces the reference's entire staging-table state machine
    (START/COMPLETED rows, crash check, idempotency filter —
    ``src/staging/staging.py``): already-committed files are never
    reprocessed across restarts, partially-processed batches replay —
    the same guarantees, from the checkpoint log instead of hand-rolled
    SQL. Returns the started StreamingQuery; callers stop it.
    """
    events = read_events_stream(spark, src_dir, max_files_per_trigger=None)
    return (
        events.writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
) -> DataFrame:
    """Stream-stream inner join: each left event matched to same-user
    right events from the preceding 600 seconds — the streaming
    twin of the batch range join (e06) for enrich-on-arrival pipelines
    (purchase ⋈ recent views, click ⋈ recent impressions).

    Both sides are watermarked and the join condition bounds right's
    event time relative to left's, which is exactly what Spark needs to
    EXPIRE join state: a buffered right row is dropped once the left
    watermark passes ``ts + 600 s`` — state stays proportional to the
    gap window, not the stream length. Inner join ⇒ append mode; rows
    emit as soon as both sides arrive.
    """
    l = left.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("id_l"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("ts_l"),
        F.col("value").alias("value_l"),
    )
    r = right.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("id_r"),
        F.col("user_id").alias("user_r"),
        F.col("ts").alias("ts_r"),
        F.col("value").alias("value_r"),
    )
    cond = (
        (l["user_id"] == r["user_r"])
        & (r["ts_r"] >= l["ts_l"] - F.expr("INTERVAL 600 SECONDS"))
        & (r["ts_r"] <= l["ts_l"])
    )
    return l.join(r, cond, "inner").drop("user_r")


def hourly_active_stream(events: DataFrame) -> DataFrame:
    """Exact distinct users per tumbling hour, streaming — the twin of
    batch ``e21_hourly_active_users``'s ``n_users`` column.

    ``COUNT(DISTINCT ...)`` is unsupported inside a streaming
    aggregation, so this uses the canonical two-stage decomposition:
    dedup each (user, hour) pair with watermark-bounded state, then an
    ordinary windowed COUNT over the surviving pairs. Both stages are
    stateful but bounded — pair-dedup state lives only until the
    watermark passes the hour, and the count state is one row per open
    window. ``n_buyers`` composes the same way: pre-filter the stream to
    purchases and reuse this function (pinned in the test).
    """
    hour = F.date_trunc("hour", F.col("ts")).alias("hour_start")
    pairs = (
        events.withWatermark("ts", WATERMARK)
        .select("user_id", "ts", hour)
        .dropDuplicatesWithinWatermark(["user_id", "hour_start"])
    )
    return (
        pairs.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "n_users")
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup by event_id with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each id's state only until
    the watermark passes it — the streaming twin of the batch exact
    dedup (``operators/dedup.py``): re-delivered events (at-least-once
    sources) are emitted once, and state does not grow with the stream.
    """
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def anomaly_score_stream(
    events: DataFrame,
    median_n: float,
    mad_n: float,
) -> DataFrame:
    """Online twin of ``e29_hourly_mad_outliers``: score each hourly
    window's event count against OFFLINE-fitted robust statistics
    (median/MAD from the batch pass), flagging |z| > 3.5.

    A true streaming median is not incrementally maintainable; the
    production pattern is exactly this split — fit the robust baseline
    offline on history (e29), broadcast the two scalars into the
    stream, and score windows as the watermark closes them. State is
    bounded by the watermark (one count per open window); the scoring
    itself is stateless arithmetic, identical to the batch expression,
    so a closed window's row is bit-equal to e29 run over the same
    data with the same cutoffs.
    """
    h = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour"), "n_events")
    )
    if mad_n == 0:
        z = F.lit(0.0)
        flag = F.lit(False)
    else:
        z = (F.col("n_events") - F.lit(median_n)) / (F.lit(1.4826) * F.lit(mad_n))
        flag = F.abs(z) > 3.5
    return h.select(
        "hour",
        "n_events",
        z.alias("robust_z"),
        flag.alias("is_outlier"),
    )


def violation_monitor_stream(
    events: DataFrame,
) -> DataFrame:
    """Live data-quality monitor: the declarative expectations contract
    (q102 / ``profiling.expectations_report``) running continuously —
    per event-time hour, the row count and each
    ``profiling.EVENT_CHECKS`` check's violation
    count, emitted as windows close. SAME aggregation body as the
    batch form (``profiling.violation_monitor_agg``), so the alert
    thresholds a team tunes on batch history apply unchanged to the
    live stream. State: one row per open window, closed by the
    watermark — bounded at any corpus rate.
    """
    from end_to_end_sales_etl_de_project_spark.operators.profiling import (
        violation_monitor_agg,
    )

    return violation_monitor_agg(events.withWatermark("ts", WATERMARK))
