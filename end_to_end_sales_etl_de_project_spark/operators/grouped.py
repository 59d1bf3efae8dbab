"""Grouped-map (applyInPandas) operators: per-group computations that
need a whole group in memory at once.

This is the engine's third Python escape hatch after ``mapInPandas``
(multimodal) and ``applyInPandasWithState`` (streaming): use it only
when per-group logic can't be expressed as window functions — here,
order-statistics over irregular gaps. Groups arrive as Arrow batches;
the UDF is a closure (pickled by value, no worker PYTHONPATH
dependency). Scale: state is O(group), parallelism is O(groups); a
group must fit in one worker's memory — true for per-user event
histories, NOT for e.g. per-country groups (use window/agg forms
there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

INTERARRIVAL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("median_gap_s", T.DoubleType()),
        T.StructField("max_gap_s", T.DoubleType()),
    ]
)


def interarrival_stats(events: DataFrame) -> DataFrame:
    """Per-user inter-arrival gap statistics (median/max seconds).

    Median over an explicit sorted diff — an order statistic, so the
    result is exact and engine-independent (pandas' even-count median
    averages the two middle values, the same IEEE mean DuckDB's
    ``median`` computes). Users with <2 events yield null gaps.
    Un-timestamped events are dropped explicitly on both engines — a
    gap to/from a NULL ts is undefined, and leaving them in made
    n_events engine-dependent (r8 planted-NULL events sweep; same
    convention as operators/windows.py).

    The timestamp is converted to epoch MICROSECONDS (bigint) before
    it enters the Python stage (r13 extreme-events sweep): Arrow's
    pandas bridge casts timestamp[us] to ns, which overflows for
    timestamps outside [1677, 2262] (a year-9999 event killed the
    whole stage). Integer micros have no such bound, the diff is
    exact 64-bit arithmetic, and gap_s = diff/1e6 is the identical
    one IEEE division the DuckDB oracle computes from epoch_us.

    The explicit ``repartition(n, user_id)`` before the groupBy is
    load-bearing (r12 scale smoke): AQE's partition coalescing sizes
    shuffle partitions by BYTES, but a grouped-map Python stage costs
    per GROUP (one Arrow exchange + one Python call each) — at sf0.1
    the ~2 MB shuffle coalesced to ONE partition and serialized all
    1,500 group calls through a single worker (measured 4.9 s; the
    10x corpus, kept at 10 partitions by its size, ran 1.3 s — more
    data, 3.7x faster). A user-specified repartition is exempt from
    AQE coalescing and satisfies the groupBy's required distribution
    (no second exchange), so the Python stage always runs at the
    session's configured shuffle width — measured 0.9 s at sf0.1.
    That width is respected VERBATIM (the r12 max(width,
    defaultParallelism) floor was dropped per ADVICE r13 so a
    user-tuned narrow width is honored): a deliberately tiny
    shuffle.partitions (e.g. 1) therefore re-serializes this
    grouped-map stage by construction — that is the configured
    behavior, not a regression.
    Same plan at 100 TB: shuffle.partitions is the cluster-tuned
    width there, and bytes-based coalescing never starves the
    per-group stage.
    """
    spark = events.sparkSession
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:  # "auto" under some AQE configs
        width = spark.sparkContext.defaultParallelism

    def per_user(pdf):
        import numpy as np
        import pandas as pd

        # diff in int64 FIRST (exact), convert to double after — pandas'
        # .diff() converts to float64 before subtracting, which loses
        # low bits for epoch values beyond 2^53 us (year >2255) and
        # would diverge from the oracle's exact epoch_us subtraction
        us = np.sort(pdf["ts_us"].to_numpy(dtype=np.int64))
        gaps = pd.Series((us[1:] - us[:-1]).astype(np.float64) / 1e6)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "median_gap_s": [float(gaps.median()) if len(gaps) else None],
                "max_gap_s": [float(gaps.max()) if len(gaps) else None],
            }
        )

    return (
        events.select("user_id", F.unix_micros(F.col("ts")).alias("ts_us"))
        .filter(F.col("ts_us").isNotNull())
        .repartition(width, "user_id")
        .groupBy("user_id")
        .applyInPandas(per_user, schema=INTERARRIVAL_SCHEMA)
    )


def interarrival_stats_sql() -> str:
    # gaps via INTEGER microsecond subtraction then one division —
    # subtracting epoch() doubles (~1.7e9 s) would carry ~2.4e-7 s of
    # representation noise that pandas' exact integer diff doesn't have
    return """
WITH gaps AS (
  SELECT user_id,
         CAST(epoch_us(ts)
              - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS DOUBLE)
           / 1000000.0 AS gap_s
  FROM events
  WHERE ts IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       median(gap_s) AS median_gap_s,
       MAX(gap_s) AS max_gap_s
FROM gaps
GROUP BY user_id
"""
