"""Incrementally-maintained materialized view over the event stream —
the capstone composition: checkpointed streaming ingestion + per-batch
partial aggregation + key-based upsert into a parquet mart.

This is what the reference's cron-batch pipeline becomes when taken
streaming end-to-end: instead of recomputing marts per run, each
micro-batch folds its partial aggregates into the standing mart via
``foreachBatch`` + :func:`upsert_parquet`. Exactly-once at the mart
level comes from the combination of checkpointed offsets (a batch
replays only if its fold never committed) and the idempotence of the
fold being guarded per epoch (epoch id recorded in the mart's
companion marker).

Scale notes: the per-batch aggregate is tiny (|users| x |types|);
the upsert rewrites only the mart (bounded), never the stream history.
State lives in the mart itself — no unbounded streaming state.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.functions.scalar import money
from end_to_end_sales_etl_de_project_spark.writers import heal, swap_in


def fold_additive_batch(
    spark: SparkSession,
    mart_path: str,
    batch: DataFrame,
    epoch_id: int,
    key_cols: list[str] | None = None,
    value_col: str = "value",
) -> None:
    """Fold one micro-batch's additive aggregates (count + decimal sum
    of ``value_col`` per ``key_cols``) into the standing parquet mart,
    exactly once per epoch.

    The folded epoch id lives INSIDE the mart directory (underscore-
    prefixed files are invisible to the parquet reader, like _SUCCESS),
    so data and marker swap in the SAME rename — a crash between an
    upsert and a separate marker file would otherwise double-fold the
    replayed batch.

    Crash recovery (same protocol as upsert_parquet): a prior fold that
    died between its two renames leaves the mart only in .bak; without
    :func:`heal`, the replayed epoch would find no mart/marker, take
    the merged=partial branch, and silently replace accumulated
    history with one micro-batch's aggregates.
    """
    if key_cols is None:
        key_cols = ["user_id", "event_type"]
    import glob
    import shutil
    import uuid

    heal(mart_path)
    # a fold that died between writing its staged dir and the swap leaves
    # an orphaned .staged-<uuid>; sweep them here so crashes don't
    # accumulate stale directories across restarts
    for stale in glob.glob(mart_path + ".staged-*"):
        shutil.rmtree(stale, ignore_errors=True)
    marker = os.path.join(mart_path, "_epoch.json")
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f).get("last_epoch", -1) >= epoch_id:
                return  # replayed batch already folded — keep exactly-once
    partial = batch.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money(value_col)).alias("total_value_dec"),
    )
    if os.path.exists(mart_path):
        current = spark.read.parquet(mart_path)
        merged = (
            current.select(
                *key_cols,
                "n_events",
                F.col("total_value").cast("decimal(18,2)").alias("total_value_dec"),
            )
            .unionByName(partial)
            .groupBy(*key_cols)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("total_value_dec").alias("total_value_dec"),
            )
        )
    else:
        merged = partial
    out = merged.select(
        *key_cols,
        "n_events",
        F.col("total_value_dec").cast("double").alias("total_value"),
    )
    # staged write + swap directly (the merge already replaced every key,
    # so upsert_parquet's anti-join/dup machinery would be wasted mart
    # reads); one mart read per micro-batch total.
    tmp = f"{mart_path}.staged-{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_epoch.json"), "w") as f:
        json.dump({"last_epoch": epoch_id}, f)
    swap_in(tmp, mart_path)


def _fold_batch(spark: SparkSession, mart_path: str, batch: DataFrame, epoch_id: int) -> None:
    fold_additive_batch(spark, mart_path, batch, epoch_id)


def start_materialized_rollup(
    spark: SparkSession,
    events_stream: DataFrame,
    mart_path: str,
    checkpoint_dir: str,
):
    """Maintain a per-(user, type) activity mart incrementally from a
    streaming events DataFrame. Returns the StreamingQuery."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        _fold_batch(batch.sparkSession, mart_path, batch, epoch_id)

    return (
        events_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
