"""Temporal join operators Spark lacks natively: as-of join and
bucketed range join.

Neither exists in the reference (inner equi-joins only, SURVEY §2.3
'not present') nor as a Spark built-in; both are standard time-series
needs. Implemented as compositions of built-in ops (option (a) of the
custom-operator ladder) — no Python in the data path.

**As-of join** (backward): for each left row, the latest right row with
``right.ts <= left.ts`` per key. Plan: tag + union both sides, one
window sort per key carrying the last-seen right payload forward, then
filter to left rows. Cost: ONE shuffle on the key (same as any keyed
window) — no range cross-product, no per-group Python. This is the
union-scan formulation TimescaleDB/QuestDB use internally.

**Range join**: pairs within a time distance. Naive Spark is a theta
join (O(n²) per key). Bucketizing the time axis turns it into an
equi-join on (key, bucket) with each left row probing its own and the
adjacent bucket, then an exact filter — the standard interval-banding
trick; work scales with true match density, not |L|x|R|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, right_cols: list[str]) -> DataFrame:
    """Backward as-of join: latest right row (by ``ts``) per ``user_id``
    with ``right.ts <= left.ts``. Left rows keep all their columns;
    matched ``right_cols`` arrive suffixed ``_right``; unmatched → null (left
    semantics). Ties on ``ts``: an equal-timestamp right row IS matched
    (DuckDB ASOF semantics); among DUPLICATE (user_id, ts) right rows the
    max payload (struct ordering) wins — deterministic on any cluster
    layout. Null-``ts`` right rows never match; null-``ts`` left rows
    match nothing (three-valued logic).
    """
    lcols = left.columns
    l_tagged = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__ts", F.col("ts")
    )
    # The right payload is carried as ONE struct: last(ignorenulls) over
    # per-column payloads would skip a column's NULL and tear the row
    # (mixing values from different right rows). The struct is non-null
    # for every right row even when fields inside are null, so the
    # matched row arrives whole — DuckDB ASOF semantics.
    r_tagged = (
        right.select(
            F.col("user_id"),
            F.col("ts").alias("__ts"),
            F.struct(*[F.col(c).alias(c + "_right") for c in right_cols]).alias(
                "__right"
            ),
        )
        # a null-ts right row can never satisfy right.ts <= left.ts
        # (three-valued logic / DuckDB ASOF) — drop it before the union
        # so nulls-first ordering can't smuggle it into the frame
        .filter(F.col("__ts").isNotNull())
        .withColumn("__is_left", F.lit(0))
    )
    # positional-safe union via unionByName with missing columns allowed
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    # Final __right sort key: duplicate (by, ts) right rows would
    # otherwise make last() partition-layout-dependent. Struct ordering
    # picks the max payload deterministically (documented tie rule).
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("__ts"), F.col("__is_left"), F.col("__right"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = F.last(F.col("__right"), ignorenulls=True).over(w)
    return (
        unioned.select(
            *lcols,
            "__is_left",
            *[matched[c + "_right"].alias(c + "_right") for c in right_cols],
        )
        .filter(F.col("__is_left") == 1)
        .drop("__is_left")
    )


def range_join_bucketed(events: DataFrame, max_gap_seconds: int) -> DataFrame:
    """Self range-join: event pairs (a, b) with the same ``user_id``,
    ``a.event_id < b.event_id`` and ``|b.ts - a.ts| <= max_gap_seconds``,
    each side's ``event_type`` carried along.

    Each row is assigned ``floor(epoch/gap)``; a candidate pair's
    timestamps differ by ≤ gap only if their buckets differ by ≤ 1, so
    the a-side probes {bucket-1, bucket, bucket+1} via a 3-element
    explode and the join is a plain equi-join on (key, bucket) + exact
    filter. Each true pair matches exactly once (the b row has one
    bucket) — no dedup pass needed.
    """
    bucket = F.floor(F.unix_timestamp(F.col("ts")) / max_gap_seconds).cast("long")
    a = events.select(
        F.col("user_id").alias("__by"),
        F.col("ts").alias("ts_a"),
        F.col("event_id").alias("id_a"),
        F.col("event_type").alias("event_type_a"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("__bucket"),
    )
    b = events.select(
        F.col("user_id").alias("__by"),
        F.col("ts").alias("ts_b"),
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("event_type_b"),
        bucket.alias("__bucket"),
    )
    gap = F.abs(F.col("ts_b").cast("double") - F.col("ts_a").cast("double"))
    return (
        a.join(b, ["__by", "__bucket"])
        .filter((F.col("id_a") < F.col("id_b")) & (gap <= max_gap_seconds))
        .select(
            F.col("__by").alias("user_id"),
            "id_a",
            "id_b",
            "ts_a",
            "ts_b",
            "event_type_a",
            "event_type_b",
        )
    )
