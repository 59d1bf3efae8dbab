"""Shared event-window aggregation bodies.

Batch plans (``plans/events.py``) and streaming twins
(``streaming/events.py``) use these SAME builders — the batch≡streaming
equivalence the tests pin is then true by construction, not by keeping
two copies in sync.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.functions.scalar import money

# An event with no timestamp cannot be assigned to a time window.
# Spark's window()/session_window() silently drop NULL-ts rows; the
# DuckDB oracles would instead keep a NULL bucket group (date_trunc of
# NULL). The builders filter EXPLICITLY so the choice is visible and
# both engines agree (r8 planted-NULL events sweep) — and the batch
# filter is a no-op for streaming, where a NULL event time can never
# pass the watermark anyway.


def _timed(events: DataFrame) -> DataFrame:
    return events.filter(F.col("ts").isNotNull())


def tumbling_agg(events: DataFrame) -> DataFrame:
    return (
        _timed(events).groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value"
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    return (
        _timed(events)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value"
        )
    )


def session_agg(events: DataFrame) -> DataFrame:
    return (
        _timed(events)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
