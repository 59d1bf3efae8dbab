"""Time-window query plans over the ``events`` table.

The reference has no streaming (SURVEY §2.9) — its micro-batch-by-cron
file pipeline is the degenerate case. These plans are the engine's
time-window surface in **batch** form (oracle-checkable against DuckDB);
``streaming/events.py`` runs the same aggregations as Structured
Streaming with watermarks, and tests pin batch≡streaming equivalence.

Scale notes: tumbling/sliding windows are plain groupBy aggregations on
a derived bucket key — map-side combine applies, cardinality is bounded
by |buckets|x|types|. Session windows shuffle once on the entity key;
Spark's native ``session_window`` handles merge logic without any
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.functions.scalar import money, money_sum
from end_to_end_sales_etl_de_project_spark.operators.temporal_joins import (
    asof_join,
    range_join_bucketed,
)
from end_to_end_sales_etl_de_project_spark.operators.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from end_to_end_sales_etl_de_project_spark.plans.registry import register
from end_to_end_sales_etl_de_project_spark.sources.tables import load_table


_E01_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


@register("e01_tumbling_hourly", _E01_ORACLE)
def e01_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event type. Spark's ``window()`` start
    is epoch-aligned, identical to ``date_trunc('hour')``."""
    return tumbling_agg(load_table(spark, sf_dir, "events"))


# Sliding windows assign each event to window starts
# floor30(ts) - k*30min for k in {0,1}; the oracle materializes the same
# two assignments per row.
_E02_ORACLE = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 * 1000000 AS BIGINT))
         - k.k * INTERVAL 30 MINUTE AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events, (SELECT unnest([0, 1]) AS k) k
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


@register("e02_sliding_hourly_30m", _E02_ORACLE)
def e02_sliding_hourly_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide, per event type."""
    return sliding_agg(load_table(spark, sf_dir, "events"))


# Session semantics (Spark session_window): an event extends the current
# session iff ts < previous ts + gap; session end = last ts + gap. The
# oracle reproduces this with lag + running sum of session-break flags.
_E03_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sessions
GROUP BY user_id, session_id
"""


@register("e03_session_window", _E03_ORACLE)
def e03_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 30-minute inactivity gap, via
    Spark's native ``session_window`` (no Python state)."""
    return session_agg(load_table(spark, sf_dir, "events"))


_E04_ORACLE = """
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MIN(ts) AS first_seen,
       MAX(ts) AS last_seen
FROM events
GROUP BY 1, 2
"""


@register("e04_user_activity_rollup", _E04_ORACLE)
def e04_user_activity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user/type activity profile (hypertable-rollup shape: one
    groupBy, bounded output)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money("value")).cast("double").alias("total_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


# As-of semantics: latest right row with right.ts <= left.ts per key;
# equal timestamps match (DuckDB ASOF). The oracle spells the match
# out as an explicit argmax instead of DuckDB's native ASOF LEFT JOIN
# because ASOF leaves the pick among DUPLICATE (key, ts) right rows
# unspecified — the r14 identical_events axis (every event at one
# timestamp) made it disagree with the engine's documented tie rule.
# The tie rule IS part of the operator contract (temporal_joins.
# asof_join: max right payload by struct ordering — here ts equal, so
# max value, NULLs losing), and the ORDER BY below states it exactly.
_E05_ORACLE = """
WITH l AS (SELECT event_id, user_id, ts, value
           FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, ts, value
      FROM events WHERE event_type = 'signup' AND ts IS NOT NULL),
cand AS (
  SELECT l.event_id, r.ts AS ts_right, r.value AS value_right,
         ROW_NUMBER() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts DESC,
                                     r.value DESC NULLS LAST) AS rn
  FROM l JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
)
SELECT l.event_id, l.user_id, l.ts, l.value, c.ts_right, c.value_right
FROM l LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
  ON l.event_id = c.event_id
"""


@register("e05_asof_join", _E05_ORACLE)
def e05_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest
    prior-or-equal signup. One keyed window shuffle — no native Spark
    as-of exists; see operators/temporal_joins.py."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select("user_id", "ts", "value")
    return asof_join(purchases, signups, right_cols=["ts", "value"])


_E06_ORACLE = """
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       a.ts AS ts_a, b.ts AS ts_b,
       a.event_type AS event_type_a, b.event_type AS event_type_b
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND abs(epoch(b.ts) - epoch(a.ts)) <= 600
"""


@register("e06_range_join", _E06_ORACLE)
def e06_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: same-user event pairs within 10 minutes, via
    time-bucket banding (equi-join on (key, bucket), never a theta
    join). The oracle is the naive theta join — same result."""
    ev = load_table(spark, sf_dir, "events")
    return range_join_bucketed(ev, max_gap_seconds=600)


# Lag+cumsum sessionization — the window-function formulation of e03
# (same sessions as session_window; both forms provided because the
# lag/cumsum shape generalizes to gap conditions session_window cannot
# express, e.g. value-dependent gaps). Same oracle as e03.
@register("e07_sessionize_lag", _E03_ORACLE)
def e07_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + running sum of session-break flags —
    one window pass, no native session_window."""
    from pyspark.sql import Window

    # un-timestamped events cannot be sessionized — dropped explicitly
    # on both engines (see operators/windows.py; r8 planted-NULL sweep)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.expr("INTERVAL 30 MINUTES")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull() | (F.col("ts") >= F.lag("ts").over(w) + gap),
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("is_new").over(wrun))
    return (
        flagged.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + gap).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .drop("session_id")
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


from end_to_end_sales_etl_de_project_spark.operators.grouped import (  # noqa: E402
    interarrival_stats,
    interarrival_stats_sql,
)


@register("e08_interarrival_stats", interarrival_stats_sql())
def e08_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gap stats via applyInPandas (grouped-map
    Arrow path) — order statistics the window API can't express
    directly; exact median matches the DuckDB oracle."""
    ev = load_table(spark, sf_dir, "events")
    return interarrival_stats(ev)


# JVM-native twin of e08, same oracle — the e01/e01g-style pairing that
# quantifies the grouped-map Python tax: lag window for the gaps, then
# exact percentile()/max in one aggregation. r12 re-measure: the tax is
# 1.4x (0.85 s vs 0.61 s at sf0.1), NOT the 7x recorded through r11 —
# most of that gap was AQE coalescing the small shuffle to ONE
# partition and serializing e08's 1,500 per-group Python calls through
# a single worker (see interarrival_stats' repartition note). e08
# stays as the documented Arrow escape
# hatch for per-group logic that genuinely needs Python. Both engines
# interpolate the even-count median as lower + (upper-lower)*0.5 over
# exact integer-second gaps, so the hash matches bit-for-bit.
@register("e14_interarrival_native", interarrival_stats_sql())
def e14_interarrival_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival stats, built-ins only: one window shuffle
    on user_id (lag), reused by the grouping; percentile() is Spark's
    exact sort-based median."""
    from pyspark.sql import Window

    # un-timestamped events cannot be sessionized — dropped explicitly
    # on both engines (see operators/windows.py; r8 planted-NULL sweep)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ).cast("double") / F.lit(1000000.0)
    return (
        ev.select("user_id", gap.alias("gap_s"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.percentile("gap_s", F.lit(0.5)).alias("median_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
    )


_E09_ORACLE = """
SELECT event_id, user_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
       CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) >= 50
            THEN 'high' ELSE 'low' END AS k_bucket
FROM events
"""


@register("e09_json_extract", _E09_ORACLE)
def e09_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: extract a typed field from the JSON
    ``props`` column (get_json_object — JVM-side, codegen'd; the
    pattern for sparse/evolving event payloads at scale)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select(
        "event_id",
        "user_id",
        k.alias("k_value"),
        F.when(k >= 50, "high").otherwise("low").alias("k_bucket"),
    )


# Cohort analysis: both engines truncate to ISO weeks (Monday start),
# so the cohort keys are identical.
_E12_ORACLE = """
WITH firsts AS (
  SELECT user_id, ts,
         date_trunc('week', MIN(ts) OVER (PARTITION BY user_id)) AS cohort_week
  FROM events
)
SELECT cohort_week,
       date_trunc('week', ts) AS activity_week,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM firsts
GROUP BY 1, 2
"""


@register("e12_cohort_retention", _E12_ORACLE)
def e12_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen week, counted
    distinct per (cohort week, activity week) — the retention-triangle
    input. One shuffle on user_id for the min-window (no join back —
    the window carries the cohort onto every event row), then the
    distinct-count aggregation; both keys are derived columns, so
    map-side partial aggregation applies."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    firsts = ev.select(
        "user_id",
        "ts",
        F.date_trunc("week", F.min("ts").over(w)).alias("cohort_week"),
    )
    return firsts.groupBy(
        "cohort_week", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).agg(F.count_distinct(F.col("user_id")).alias("n_users"))


# Decile assignment needs a TOTAL order to be cross-engine
# deterministic: (value, event_id) is unique, so tie rows can't swap
# across a decile boundary between engines.
_E10_ORACLE = """
WITH d AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
  FROM events
)
SELECT event_type, CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM d
GROUP BY 1, 2
"""


# OHLC needs deterministic FIRST/LAST: (ts, event_id) is a total order
# (event_id unique), so open/close are well-defined even when two events
# share a timestamp. Both engines compute the same rn via the same
# tie-broken window.
_E11_ORACLE = """
WITH ranked AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts, event_id) AS rn_open,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_close
  FROM events
)
SELECT bucket AS window_start, event_type,
       MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM ranked
GROUP BY 1, 2
"""


@register("e11_ohlc_hourly", _E11_ORACLE)
def e11_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) per event type — the
    hypertable/candlestick rollup time-series stores ship natively.
    One shuffle for the tie-broken rank window, then a
    map-side-combinable aggregation; open/close are deterministic via
    the (ts, event_id) total order, never first()/last() on an
    unordered shuffle."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # materialize the bucket BEFORE the windows: partitioning the window
    # on the named column (not the raw date_trunc expression) lets the
    # downstream groupBy reuse the window's exchange instead of adding a
    # second shuffle (Catalyst treats an inlined expression copy as a
    # distinct attribute)
    bucketed = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
        "value",
        "ts",
        "event_id",
    )
    w_open = Window.partitionBy("window_start", "event_type").orderBy("ts", "event_id")
    w_close = Window.partitionBy("window_start", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = bucketed.select(
        "window_start",
        "event_type",
        "value",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return ranked.groupBy("window_start", "event_type").agg(
        F.max(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_close") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# Gaps-and-islands run-length encoding: the CDC/SCD-2 primitive. A
# change log (user_id, ts, state) becomes effective-dated intervals —
# one row per consecutive run of the same state. (ts, event_id) is a
# total order, so run boundaries are identical in both engines.
_E13_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
)
SELECT user_id, event_type,
       MIN(ts) AS valid_from,
       MAX(ts) AS valid_to,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM runs
GROUP BY user_id, event_type, run_id
"""


@register("e13_change_intervals", _E13_ORACLE)
def e13_change_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log → effective-dated intervals (SCD Type-2 / CDC shape):
    consecutive same-state runs per user collapse to one
    (valid_from, valid_to) row via gaps-and-islands (lag-break flag +
    running sum). One shuffle on user_id serves both window passes AND
    the final grouping (same prefix key), then a map-side-combinable
    aggregation. This is how a dimension change feed becomes the
    effective-dated dim table the reference's mart joins would consume."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    flagged = ev.withColumn(
        "brk",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    ).withColumn("run_id", F.sum("brk").over(wrun))
    return (
        flagged.groupBy("user_id", "event_type", "run_id")
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("valid_to"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .drop("run_id")
        .select(
            "user_id", "event_type", "valid_from", "valid_to", "n_events", "total_value"
        )
    )


@register("e10_value_deciles", _E10_ORACLE)
def e10_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value deciles (quantile bucketing — the curriculum /
    difficulty-binning primitive): ntile over a total order, then
    per-bucket stats. One shuffle on event_type for the window, one
    map-side-combinable aggregation; the decimal-sum discipline keeps
    the per-bucket totals bit-deterministic."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(10).over(w).alias("decile"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .withColumn("decile", F.col("decile").cast("int"))
        .select(
            "event_type", "decile", "n_events", "min_value", "max_value", "total_value"
        )
    )


# Ordered funnel (view -> click -> purchase, strictly increasing ts):
# the product-analytics sequencing query. Stage n's "first qualifying
# timestamp" depends on stage n-1's, so the funnel is the standard
# chain of conditional-min aggregations — every aggregation and join
# keys on user_id, so one hash partitioning serves the whole chain
# (no broadcast needed: the per-user frames are |users|-sized, and the
# joins are co-partitioned equi-joins).
_E15_ORACLE = """
WITH s1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS view_ts
  FROM events GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.view_ts
  GROUP BY 1
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.click_ts
  GROUP BY 1
)
SELECT s1.user_id, s1.view_ts, s2.click_ts, s3.purchase_ts,
       CAST(CASE WHEN s3.purchase_ts IS NOT NULL THEN 3
                 WHEN s2.click_ts IS NOT NULL THEN 2
                 WHEN s1.view_ts IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS reached
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


@register("e15_funnel", _E15_ORACLE)
def e15_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user: first view, first click strictly after
    it, first purchase strictly after that, and the step reached."""
    ev = load_table(spark, sf_dir, "events")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("view_ts")
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    reached = (
        F.when(F.col("purchase_ts").isNotNull(), 3)
        .when(F.col("click_ts").isNotNull(), 2)
        .when(F.col("view_ts").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            reached.cast("bigint").alias("reached"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling time-range window (trailing 1 h per user)
# ---------------------------------------------------------------------------

_E16_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_1h
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


@register("e16_rolling_1h", _E16_ORACLE)
def e16_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour rolling count/sum per user — the RANGE-frame
    window (frame bounds in event-time seconds, not row counts) behind
    rate limits, rolling spend, and anomaly baselines. One shuffle on
    user_id; the frame walks each partition sorted once. Both engines
    evaluate the identical integer-second frame (Spark's timestamp→long
    cast and DuckDB's floor(epoch()) truncate alike), peers included,
    and the windowed sum folds in exact decimal — hash-exact."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(money("value")).over(w).cast("double").alias("value_1h"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + last-observation-carried-forward
# ---------------------------------------------------------------------------

_E17_ORACLE = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
  GROUP BY 1, 2
),
spans AS (
  SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY 1
),
spine AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM spans
)
SELECT s.user_id, s.hour,
       COALESCE(h.n_events, 0) AS n_events,
       (h.n_events IS NULL) AS is_gap,
       last_value(h.total_value IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM spine s
LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
"""


@register("e17_gap_fill_locf", _E17_ORACLE)
def e17_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user hourly resample over a
    dense hour spine (each user's own active span), missing hours
    surfaced as gap rows with count 0 and the last observed hourly
    total carried forward (LOCF) — what every downstream
    forecaster/feature pipeline does to an irregular event stream.

    Scale shape: aggregate FIRST (events → per-user-hour rollup), then
    build the spine by exploding ``sequence(min_hour, max_hour)`` off
    the per-user span — the explode fans out over the AGGREGATED frame
    (|users| rows → |users|×|span| rows), never over raw events, and
    the dense frame is bounded by span length. The spine join and the
    LOCF window both key on user_id, so the whole chain rides one hash
    partitioning. First spine hour per user is that user's first active
    hour ⇒ the LOCF window never reads an all-NULL prefix."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= "2024-01-08") & (F.col("ts") < "2024-01-15")
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money("value")).cast("double").alias("total_value"),
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.col("n_events").isNull().alias("is_gap"),
            F.last("total_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling anomaly z-score (trailing-window moments per event)
# ---------------------------------------------------------------------------

_E18_ORACLE = """
SELECT event_id, user_id, ts, value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS mean_1h,
       CASE WHEN (CAST(CAST(SUM(CAST(value AS DECIMAL(19,2)) * CAST(value AS DECIMAL(19,2))) OVER w AS VARCHAR) AS DOUBLE)
                    / COUNT(*) OVER w
                  - (CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                       / COUNT(*) OVER w)
                    * (CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                         / COUNT(*) OVER w)) > 0
            THEN (value - CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                            / COUNT(*) OVER w)
                 / SQRT(CAST(CAST(SUM(CAST(value AS DECIMAL(19,2)) * CAST(value AS DECIMAL(19,2))) OVER w AS VARCHAR) AS DOUBLE)
                          / COUNT(*) OVER w
                        - (CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                             / COUNT(*) OVER w)
                          * (CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                               / COUNT(*) OVER w))
       END AS z_1h
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


@register("e18_rolling_zscore", _E18_ORACLE)
def e18_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event anomaly score: how far this event's value sits from
    its user's trailing-1h mean, in trailing-1h standard deviations —
    the rolling baseline behind fraud/abuse/outage detectors. Same
    single user_id shuffle as e16; the two decimal window sums (value,
    value²) ride the SAME frame, so the whole score is one window pass.

    Determinism: both moments fold in exact decimal (value² carries 4
    decimals — still exact); the variance is then a FIXED-ORDER IEEE
    expression (E[x²] − mean·mean), sqrt is correctly rounded per
    IEEE-754, and the oracle spells out the identical operation tree —
    hash-exact. Degenerate windows (zero variance, e.g. a single
    event) yield NULL via the var>0 guard in both engines. The
    oracle's squared terms are DECIMAL(19,2) (q41's r12 bug class,
    re-found by the r13 extreme-events axis): DuckDB multiplies
    DECIMAL(18) operands in int64 and overflows at the money edge
    where Spark's BigDecimal widens — one digit of operand headroom
    moves DuckDB onto the HUGEINT path, values unchanged. The
    oracle's Σvalue² cast then goes DECIMAL→VARCHAR→DOUBLE (r14
    fractional pre-epoch axis): DuckDB's direct hugeint-decimal→
    double cast DOUBLE-ROUNDS (upper·2⁶⁴ + lower, two roundings —
    measured 1 ulp off at 9999999999998000000001.0001) where Spark's
    BigDecimal.doubleValue() rounds once; the string roundtrip is
    correctly rounded, restoring bit-exact z parity when a money-edge
    value shares a frame with an ordinary one.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    vdec = F.col("value").cast("decimal(18,2)")
    n = F.count(F.lit(1)).over(w)
    mean = F.sum(vdec).over(w).cast("double") / n
    ex2 = F.sum(vdec * vdec).over(w).cast("double") / n
    var = ex2 - mean * mean
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        mean.alias("mean_1h"),
        F.when(var > 0, (F.col("value") - mean) / F.sqrt(var)).alias("z_1h"),
    )


# ---------------------------------------------------------------------------
# Exact per-group quantile values (discrete — no interpolation)
# ---------------------------------------------------------------------------

_E19_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       MIN(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN value END) AS p25,
       MIN(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN value END) AS p50,
       MIN(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN value END) AS p75,
       MIN(CASE WHEN rn = CAST(CEIL(0.90 * n) AS BIGINT) THEN value END) AS p90
FROM ranked
GROUP BY event_type
"""


@register("e19_exact_quantiles", _E19_ORACLE)
def e19_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type quantile VALUES by the discrete (type-7-free)
    definition: the element at rank ceil(p·n) of the sorted values. No
    interpolation ⇒ no cross-engine float blending ⇒ hash-exact, unlike
    percentile_cont. One window pass (rank + count ride the same sort)
    and one conditional aggregation; complements e10 (bucket stats) and
    q32 (approximate sketches) with the exact quantile extraction.

    Scale note: a full sort per group is the price of EXACT quantiles —
    at 100 TB use q32's approx_percentile unless exactness is the
    point (SLA attestation, billing tiers)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("event_type").orderBy("value", "event_id")
    wp = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )

    def pick(p: float, name: str):
        target = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        return F.min(F.when(F.col("rn") == target, F.col("value"))).alias(name)

    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_events"),
        pick(0.25, "p25"),
        pick(0.50, "p50"),
        pick(0.75, "p75"),
        pick(0.90, "p90"),
    )


# ---------------------------------------------------------------------------
# Late-event audit (watermark-delay sizing)
# ---------------------------------------------------------------------------

_E20_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, ts,
         MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS high_water
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE high_water IS NOT NULL AND ts < high_water)
            AS BIGINT) AS n_out_of_order,
       CAST(COUNT(*) FILTER (WHERE high_water IS NOT NULL
                             AND ts < high_water - INTERVAL 600 SECOND)
            AS BIGINT) AS n_late_10m,
       CAST(MAX(CASE WHEN high_water IS NOT NULL AND ts < high_water
                     THEN CAST(FLOOR(epoch(high_water)) AS BIGINT)
                          - CAST(FLOOR(epoch(ts)) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS max_lateness_s
FROM seq
GROUP BY user_id
"""


@register("e20_late_event_audit", _E20_ORACLE)
def e20_late_event_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay sizing from the data: per key, how far events
    arrive behind that key's event-time high-water mark (arrival order
    = event_id). ``n_late_10m`` is exactly the rows a 10-minute
    watermark would drop; ``max_lateness_s`` is the delay that would
    drop none — the two numbers that decide the lateness/latency
    trade-off BEFORE a streaming job ships. One shuffle on user_id;
    the running max and the rollup ride the same partitioning."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hw = F.max("ts").over(w)
    seq = ev.select(
        "user_id",
        "ts",
        hw.alias("high_water"),
    )
    out_of_order = F.col("high_water").isNotNull() & (
        F.col("ts") < F.col("high_water")
    )
    late_10m = F.col("high_water").isNotNull() & (
        F.col("ts") < F.col("high_water") - F.expr("INTERVAL 600 SECONDS")
    )
    lateness = F.when(
        out_of_order,
        F.col("high_water").cast("long") - F.col("ts").cast("long"),
    ).otherwise(F.lit(0))
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(out_of_order, 1)).alias("n_out_of_order"),
        F.count(F.when(late_10m, 1)).alias("n_late_10m"),
        F.max(lateness).cast("bigint").alias("max_lateness_s"),
    )


_E21_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT user_id) FILTER (WHERE event_type = 'purchase')
            AS BIGINT) AS n_buyers
FROM events
GROUP BY 1
"""


@register("e21_hourly_active_users", _E21_ORACLE)
def e21_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly active users — the DAU/HAU primitive: per tumbling hour,
    events, exact distinct users, and distinct purchasers. The two
    distincts plan through Catalyst's Expand (map-side partial dedup of
    (window, user) pairs — the shuffle carries each active pair once,
    not once per event); at 100 TB swap in approx_count_distinct (q32)
    when ±2% beats the Expand cost. Exact counts ⇒ hash-exact oracle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.count_distinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            ).alias("n_buyers"),
        )
    )


# ---------------------------------------------------------------------------
# Exponentially-weighted moving average (ordered fold)
# ---------------------------------------------------------------------------

_E22_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(ts) AS last_ts,
       list_reduce(list(value ORDER BY ts, event_id),
                   (acc, x) -> acc * 0.5 + x * 0.5) AS ewma_value
FROM events
GROUP BY user_id
"""


@register("e22_ewma", _E22_ORACLE)
def e22_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event value (alpha = 0.5): s1 = x1,
    s_i = 0.5*x_i + 0.5*s_{i-1} — the classic smoothed-load / trend
    signal that needs an ORDERED fold, which plain aggregation can't
    express. One groupBy collects the (ts, event_id, value) sequence,
    ``array_sort`` fixes the order (event_id is unique ⇒ a total
    order), and ``F.aggregate`` folds it sequentially JVM-side.

    Hash-exact across engines because alpha = 0.5 makes each step's
    multiplies EXACT in binary floating point (halving never rounds),
    leaving one rounding per addition — and the fold order is pinned
    identically on both sides (DuckDB's ``list_reduce`` seeds the
    accumulator with the first element, mirrored here via
    element_at(.., 1) + slice-from-2).

    Scale: shuffle on user_id only; per-key state is that user's event
    history (bounded for human-scale entities — for unbounded keys the
    streaming twin with windowed state is the right tool)."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_ts"),
        F.array_sort(
            F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
        ).alias("seq"),
    )
    vals = F.transform(F.col("seq"), lambda s: s.getField("value"))
    tail = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    ewma = F.aggregate(
        tail,
        F.element_at(vals, 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return seq.select("user_id", "n_events", "last_ts", ewma.alias("ewma_value"))


@register("e23_quantiles_histogram", _E19_ORACLE)
def e23_quantiles_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e19's exact discrete quantiles by the HISTOGRAM plan — the scale
    path: instead of row_number over a full per-group sort of the
    corpus (e19's price for exactness), aggregate to a (type, value)
    count histogram first (map-side combinable; cardinality is bounded
    by distinct values, not events), window only the histogram, and
    pick the value whose cumulative-count interval contains rank
    ceil(p·n). Identical output to e19 — ties in `value` can't change
    WHICH value sits at a rank — so both share one oracle; the bench
    shows the plan delta (same pattern as q01/q01g and e08/e14 twins).
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    hist = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("value")
    wp = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "value",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wp).alias("n"),
    )

    def pick(p: float, name: str):
        target = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        hit = (F.col("cum") - F.col("cnt") < target) & (target <= F.col("cum"))
        return F.min(F.when(hit, F.col("value"))).alias(name)

    return cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_events"),
        pick(0.25, "p25"),
        pick(0.50, "p50"),
        pick(0.75, "p75"),
        pick(0.90, "p90"),
    )


# ---------------------------------------------------------------------------
# Marketing attribution (last touch within a lookback window)
# ---------------------------------------------------------------------------

_E24_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000  # 7 days in microseconds

_E24_ORACLE = f"""
SELECT l.event_id, l.user_id, l.ts, l.value,
       CASE WHEN r.ts IS NOT NULL
                 AND epoch_us(l.ts) - epoch_us(r.ts) <= {_E24_LOOKBACK_US}
            THEN r.event_type ELSE 'direct' END AS channel,
       CASE WHEN r.ts IS NOT NULL
                 AND epoch_us(l.ts) - epoch_us(r.ts) <= {_E24_LOOKBACK_US}
            THEN r.ts END AS touch_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (
  -- pre-reduce to ONE touch per (user, ts): DuckDB's ASOF choice among
  -- equal-timestamp right rows is unspecified, while the Spark as-of
  -- join's documented tie rule is max-payload — collapsing ties with
  -- MAX(event_type) on BOTH engines removes the ambiguity entirely
  SELECT user_id, ts, MAX(event_type) AS event_type
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
) r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@register("e24_attribution_last_touch", _E24_ORACLE)
def e24_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION: each purchase credited to the user's
    most recent prior non-purchase event (the touch), falling back to
    'direct' when none exists inside the 7-day lookback — the revenue-
    attribution primitive of marketing analytics. Same single keyed
    window shuffle as the as-of join (operators/temporal_joins.py);
    the lookback test runs in exact integer MICROseconds on both
    engines (second-truncated unix timestamps would disagree with
    DuckDB's fractional epoch at the boundary)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        # one touch per (user, ts): removes the equal-timestamp tie the
        # two engines' as-of implementations would resolve differently
        # (see the oracle's mirrored GROUP BY)
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("event_type"))
    )
    joined = asof_join(purchases, touches, right_cols=["ts", "event_type"])
    within = F.col("ts_right").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("ts_right") <= F.lit(_E24_LOOKBACK_US)
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(within, F.col("event_type_right")).otherwise("direct").alias("channel"),
        F.when(within, F.col("ts_right")).alias("touch_ts"),
    )


# ---------------------------------------------------------------------------
# Hourly leaderboard (windowed top-k over aggregates)
# ---------------------------------------------------------------------------

_E25_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spent,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                               ORDER BY spent DESC, user_id) AS rnk
  FROM hourly
)
SELECT window_start, user_id, spent, n_events, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


@register("e25_hourly_leaderboard", _E25_ORACLE)
def e25_hourly_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour top-3 purchasers by exact spend — the windowed
    leaderboard shape (dashboards, abuse detection). The rank window
    runs over the ALREADY-AGGREGATED (hour, user) rows — cardinality
    bounded by active users per hour, not events — so the corpus pays
    only one map-side-combinable aggregation; spend sums in DECIMAL
    (order-independent ⇒ rank ties can't flip across partitionings)
    with a total tie-break."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), F.col("user_id")
        )
        .agg(
            money_sum("value").alias("spent"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("spent"), "user_id")
    return (
        hourly.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "user_id", "spent", "n_events", "rnk")
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-active-day streak per user
# ---------------------------------------------------------------------------

_E26_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
numbered AS (
  SELECT user_id, d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM days
),
islands AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_len
  FROM numbered
  GROUP BY user_id, d - CAST(rn AS INTEGER)
)
SELECT user_id,
       CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM islands GROUP BY 1
"""


@register("e26_daily_streaks", _E26_ORACLE)
def e26_daily_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of CONSECUTIVE active days per user — the
    gaps-and-islands pattern (engagement streaks, SLA uptime runs).

    Scale shape: active days are first collapsed by a distinct on
    (user, day) — the only pass over the raw fact, map-side
    combinable — then the island key ``day - row_number`` (constant
    within a consecutive run, the classic trick) needs one window over
    each user's DAY COUNT (≤ calendar span, never event count). Exact
    integer/date arithmetic end to end. Core in
    ``operators/sequences.streak_islands`` (property-tested against a
    sequential in-Python reference).
    """
    from end_to_end_sales_etl_de_project_spark.operators.sequences import streak_islands

    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    islands = streak_islands(days)
    return islands.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------------

_E27_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id
           ORDER BY ts NULLS LAST, event_id NULLS LAST) AS next_type
  FROM events
),
counts AS (
  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, next_type, n,
       CAST(n AS DOUBLE)
         / SUM(n) OVER (PARTITION BY event_type) AS p_transition
FROM counts
"""


@register("e27_event_transitions", _E27_ORACLE)
def e27_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: count and conditional probability of each (event_type →
    next event_type) step — the funnel-discovery/anomaly primitive.

    Scale shape: ONE window pass per user partition computes the lead
    (tie-broken on the unique event_id so the sequence is total-ordered
    and deterministic); the transition rollup is a map-side-combinable
    groupBy on a 25-cell key space, and the row-normalization window
    runs over ≤|types| rows per partition. The probability is one IEEE
    division of exact integer counts.

    NULL policy: NULLS LAST explicitly on both sort keys — Spark's ASC
    default is NULLS FIRST where DuckDB's is NULLS LAST, so an
    un-annotated ORDER BY silently reorders NULL-ts rows between
    engines (caught by the events NULL sweep on first exposure, r10).
    A NULL-ts event sorts to the end of its user's sequence in both.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("event_type")
    return counts.withColumn(
        "p_transition", F.col("n").cast("double") / F.sum("n").over(wt)
    )


# ---------------------------------------------------------------------------
# Peak concurrency via distributed two-level prefix sum (sweep line)
# ---------------------------------------------------------------------------

_E28_ORACLE = """
WITH iv AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + 60 * CAST(floor(value) AS BIGINT) AS end_s
  FROM events WHERE event_type = 'view'
),
pts AS (
  SELECT start_s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT end_s, -1 FROM iv
),
swept AS (
  SELECT t,
         SUM(delta) OVER (ORDER BY t, delta
                          ROWS UNBOUNDED PRECEDING) AS live
  FROM pts
)
SELECT t - (t % 3600) AS hour_s,
       CAST(MAX(live) AS BIGINT) AS peak_concurrency
FROM swept GROUP BY 1
"""


@register("e28_concurrency_peak", _E28_ORACLE)
def e28_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour PEAK number of simultaneously-open view intervals
    (interval = [ts, ts + value minutes]) — the sweep-line +1/-1
    cumulative sum, which an interval self-join would compute
    quadratically.

    Scale shape: the oracle's single global ``SUM() OVER (ORDER BY t)``
    is inherently one sorted partition — a 100 TB non-starter. This
    plan computes the SAME numbers as a distributed two-level prefix
    sum: (1) per-hour delta totals, cumulated over the tiny hour
    spine (one window over |hours| rows); (2) the within-hour running
    sum, windowed PER HOUR-PARTITION; the global running value at any
    point is prior-hours offset + within-hour prefix, because time is
    monotone in (hour, t). Ends sort before starts at equal t
    (delta asc) so touching intervals don't double-count. All exact
    integer arithmetic ⇒ hash-identical to the sequential oracle. Core
    in ``operators/sequences.swept_peaks`` (property-tested against a
    sequential in-Python reference).
    """
    from end_to_end_sales_etl_de_project_spark.operators.sequences import swept_peaks

    ev = load_table(spark, sf_dir, "events")
    # floor(unix_micros/1e6), not unix_timestamp: the oracle floors
    # epoch while unix_timestamp TRUNCATES toward zero, so fractional
    # pre-epoch timestamps land one second apart (the e33 class, r14
    # fractional pre-epoch axis — masked here by hour bucketing until
    # an interval straddles an hour edge)
    sec = F.floor(F.unix_micros("ts") / F.lit(1_000_000)).cast("bigint")
    iv = ev.filter(F.col("event_type") == "view").select(
        sec.alias("start_s"),
        (sec + 60 * F.col("value").cast("bigint")).alias("end_s"),
    )
    pts = iv.select(F.col("start_s").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("end_s").alias("t"), F.lit(-1).alias("delta"))
    )
    return swept_peaks(pts, 3600)


# ---------------------------------------------------------------------------
# Robust (median/MAD) hourly-volume anomaly detection
# ---------------------------------------------------------------------------

_E29_ORACLE = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
s AS (SELECT quantile_cont(n_events, 0.5) AS med FROM h),
m AS (SELECT quantile_cont(ABS(n_events - med), 0.5) AS mad FROM h, s)
SELECT hour, n_events,
       med AS median_n,
       mad AS mad_n,
       CASE WHEN mad = 0 THEN 0.0
            ELSE (n_events - med) / (1.4826 * mad) END AS robust_z,
       CASE WHEN mad = 0 THEN FALSE
            ELSE ABS((n_events - med) / (1.4826 * mad)) > 3.5 END AS is_outlier
FROM h, s, m
"""


@register("e29_hourly_mad_outliers", _E29_ORACLE)
def e29_hourly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on hourly event volume: flag hours
    whose count deviates from the corpus MEDIAN by more than 3.5
    robust z-units (MAD scaled by the normal-consistency constant
    1.4826) — the median/MAD pair shrugs off the very spikes a
    mean/stddev z-score would be contaminated by.

    Determinism: counts are integers, so both exact medians
    (percentile ≡ DuckDB quantile_cont, same linear interpolation)
    land on integers or exact halves; the z is then one IEEE
    multiply+divide on identical doubles. mad=0 (constant series)
    pins z to 0 rather than dividing by zero.

    Scale shape: the fact collapses to one row per hour first
    (map-side combinable count, ≤ |hours| rows regardless of event
    volume); both median passes and the z-scoring run over that tiny
    spine, with the scalars riding 1-row broadcasts — the raw stream
    is touched exactly once.
    """
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    med = h.agg(F.expr("percentile(n_events, 0.5D)").alias("med"))
    h2 = h.crossJoin(F.broadcast(med))
    mad = h2.agg(F.expr("percentile(abs(n_events - med), 0.5D)").alias("mad"))
    h3 = h2.crossJoin(F.broadcast(mad))
    z = (F.col("n_events") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    zero_mad = F.col("mad") == 0
    return h3.select(
        "hour",
        "n_events",
        F.col("med").alias("median_n"),
        F.col("mad").alias("mad_n"),
        F.when(zero_mad, F.lit(0.0)).otherwise(z).alias("robust_z"),
        F.when(zero_mad, F.lit(False)).otherwise(F.abs(z) > 3.5).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------

_E30_ORACLE = """
WITH p AS (
  SELECT user_id,
         MAX(ts) AS last_ts,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
g AS (SELECT MAX(last_ts) AS gmax FROM p),
r AS (
  SELECT user_id,
         CAST(FLOOR(epoch(gmax)) AS BIGINT)
           - CAST(FLOOR(epoch(last_ts)) AS BIGINT) AS recency_s,
         frequency, monetary
  FROM p, g
),
c AS (
  SELECT quantile_cont(recency_s, [0.2, 0.4, 0.6, 0.8]) AS qr,
         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS qf,
         quantile_cont(monetary,  [0.2, 0.4, 0.6, 0.8]) AS qm
  FROM r
)
SELECT user_id, recency_s, frequency, monetary,
       CAST(6 - (1 + (CASE WHEN recency_s > qr[1] THEN 1 ELSE 0 END)
                   + (CASE WHEN recency_s > qr[2] THEN 1 ELSE 0 END)
                   + (CASE WHEN recency_s > qr[3] THEN 1 ELSE 0 END)
                   + (CASE WHEN recency_s > qr[4] THEN 1 ELSE 0 END)) AS BIGINT)
         AS r_score,
       CAST(1 + (CASE WHEN frequency > qf[1] THEN 1 ELSE 0 END)
              + (CASE WHEN frequency > qf[2] THEN 1 ELSE 0 END)
              + (CASE WHEN frequency > qf[3] THEN 1 ELSE 0 END)
              + (CASE WHEN frequency > qf[4] THEN 1 ELSE 0 END) AS BIGINT)
         AS f_score,
       CAST(1 + (CASE WHEN monetary > qm[1] THEN 1 ELSE 0 END)
              + (CASE WHEN monetary > qm[2] THEN 1 ELSE 0 END)
              + (CASE WHEN monetary > qm[3] THEN 1 ELSE 0 END)
              + (CASE WHEN monetary > qm[4] THEN 1 ELSE 0 END) AS BIGINT)
         AS m_score
FROM r, c
"""


@register("e30_rfm_segments", _E30_ORACLE)
def e30_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per purchasing user, recency (seconds since
    their last purchase, against the corpus max), frequency (purchase
    count) and monetary (exact-decimal spend), each scored 1–5 by
    exact quintile CUTOFFS (r_score inverted so 5 = most recent).

    Scoring by broadcast cutoffs instead of ``ntile(5)`` is the scale
    decision: ntile needs a TOTAL order over all users (Exchange
    SinglePartition — one reducer owns every user), while the cutoff
    form is one map-side-combinable rollup to the per-user spine, one
    4-double percentile per metric, and a per-row CASE — same quintile
    semantics, no serial stage, and ties get equal scores instead of
    ntile's arbitrary split. Exact interpolated percentiles and
    integer/exact-decimal inputs make every comparison engine-identical.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("monetary"),
    )
    g = p.agg(F.max("last_ts").alias("gmax"))
    r = p.crossJoin(F.broadcast(g)).select(
        "user_id",
        # floored epoch seconds (not unix_timestamp's truncation): the
        # oracle's FLOOR(epoch) differs by 1s on fractional pre-epoch
        # timestamps, which can flip a quintile comparison (e33 class)
        (
            F.floor(F.unix_micros("gmax") / F.lit(1_000_000))
            - F.floor(F.unix_micros("last_ts") / F.lit(1_000_000))
        ).cast("bigint").alias("recency_s"),
        "frequency",
        "monetary",
    )
    q = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    c = r.agg(
        F.expr(f"percentile(recency_s, {q})").alias("qr"),
        F.expr(f"percentile(frequency, {q})").alias("qf"),
        F.expr(f"percentile(monetary, {q})").alias("qm"),
    )

    def score(col: str, cuts: str):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + F.when(F.col(col) > F.element_at(F.col(cuts), i), 1).otherwise(0)
        return s.cast("bigint")

    return r.crossJoin(F.broadcast(c)).select(
        "user_id",
        "recency_s",
        "frequency",
        "monetary",
        (F.lit(6) - score("recency_s", "qr")).cast("bigint").alias("r_score"),
        score("frequency", "qf").alias("f_score"),
        score("monetary", "qm").alias("m_score"),
    )


# ---------------------------------------------------------------------------
# Variant-typed semi-structured shredding (Spark 4 VariantType)
# ---------------------------------------------------------------------------

_E31_ORACLE = """
WITH k AS (
  SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
         value
  FROM events
)
SELECT CAST(FLOOR(k_value / 10.0) AS BIGINT) AS k_decade,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT k_value) AS BIGINT) AS n_distinct_k,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM k GROUP BY 1
"""


@register("e31_variant_shred", _E31_ORACLE)
def e31_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding through Spark 4's VARIANT type: parse
    the JSON payload ONCE into a binary variant (``parse_json``), then
    extract typed fields with ``variant_get`` — the modern path for
    sparse/evolving payloads (e09 is the classic string-path
    ``get_json_object`` twin). Parsing to variant once and extracting
    N fields beats N string re-parses; at rest the same column shreds
    into Parquet typed subcolumns.

    The rollup groups by k-decade (integer division) with exact count
    / distinct / decimal-sum — all engine-identical; DuckDB reads the
    same field via ``json_extract``.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "bigint")
    shredded = ev.select(k.alias("k_value"), "value")
    return shredded.groupBy(
        F.floor(F.col("k_value") / 10).cast("bigint").alias("k_decade")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("k_value").alias("n_distinct_k"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Round-13 additions: daily type profile, per-type burst detection,
# weekday-hour seasonality.
# ---------------------------------------------------------------------------

_E32_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
       CAST(COUNT(DISTINCT event_type) AS INT) AS n_types,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE ts IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1
"""


@register("e32_daily_type_profile", _E32_ORACLE)
def e32_daily_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day activity profile: the SORTED distinct event-type set
    (serialized — collect_set order is shuffle-dependent, sorting +
    joining makes it engine- and partitioning-independent), type and
    user distinct counts, and volume.

    Scale shape: one aggregation keyed on day (bounded by the time
    range); the two count-distincts expand to the standard two-level
    partial aggregate. NULL ts / NULL event_type rows are dropped
    explicitly on both engines (a NULL inside a serialized set would
    render engine-dependently)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.count_distinct("event_type").cast("int").alias("n_types"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )


_E33_ORACLE = """
WITH buckets AS (
  SELECT event_type,
         -- FLOOR division, not //: DuckDB's // truncates toward zero,
         -- so the pre-epoch minute (-1s) would land in bucket 0 where
         -- Spark's floor(sec/60) gives -1 (r13 extreme-events axis)
         CAST(FLOOR(FLOOR(epoch(ts)) / 60) AS BIGINT) AS minute_idx,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events
  WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
scored AS (
  SELECT event_type, minute_idx, n_events,
         CAST(SUM(n_events) OVER w AS DOUBLE)
           / CAST(COUNT(*) OVER w AS DOUBLE) AS trailing_avg,
         COUNT(*) OVER w AS n_trailing
  FROM buckets
  WINDOW w AS (PARTITION BY event_type ORDER BY minute_idx
               RANGE BETWEEN 60 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, minute_idx, n_events, trailing_avg,
       CASE WHEN n_trailing >= 5
                 AND CAST(n_events AS DOUBLE) >= 2.0 * trailing_avg
            THEN TRUE ELSE FALSE END AS is_burst
FROM scored
"""


@register("e33_burst_detection", _E33_ORACLE)
def e33_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type burst detector: a minute is a burst when its event
    count reaches 2x the type's trailing-hour per-active-minute
    average (computed over the PRECEDING frame only, so the spike
    can't dilute its own baseline; >=5 active trailing minutes keeps
    cold starts quiet) — the rate-anomaly primitive behind abuse and
    outage monitors.

    Scale shape: the fact collapses to a (type, minute) spine first
    (map-side combinable), then one range-frame window partitioned by
    event_type — parallel across types, each partition bounded by the
    time range, never the event count. Determinism: counts are exact
    ints, the trailing average is one IEEE division, the burst
    comparison is the same double compare on both engines; an empty
    trailing frame gives NULL avg and FALSE via the explicit guard."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # unix_micros, not unix_timestamp: unix_timestamp TRUNCATES sub-second
    # timestamps toward zero, so 1969-12-31 23:59:59.5 would bucket into
    # minute 0 while the oracle's FLOOR(FLOOR(epoch)/60) floors it into
    # minute -1. floor(micros/60e6) == floor(floor(sec)/60) for all reals
    # (nested-floor identity with a positive integer divisor), so this
    # matches the oracle on every input including fractional pre-epoch.
    buckets = ev.groupBy(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(60_000_000))
        .cast("bigint")
        .alias("minute_idx"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute_idx")
        .rangeBetween(-60, -1)
    )
    scored = buckets.select(
        "event_type",
        "minute_idx",
        "n_events",
        (
            F.sum("n_events").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("trailing_avg"),
        F.count(F.lit(1)).over(w).alias("n_trailing"),
    )
    return scored.select(
        "event_type",
        "minute_idx",
        "n_events",
        "trailing_avg",
        F.when(
            (F.col("n_trailing") >= 5)
            & (F.col("n_events").cast("double") >= 2.0 * F.col("trailing_avg")),
            F.lit(True),
        )
        .otherwise(F.lit(False))
        .alias("is_burst"),
    )


_E34_ORACLE = """
WITH cells AS (
  SELECT CAST(isodow(ts) - 1 AS INT) AS weekday,
         CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events
  WHERE ts IS NOT NULL
  GROUP BY 1, 2
)
SELECT weekday, hour, n_events,
       CAST(n_events AS DOUBLE) / CAST(SUM(n_events) OVER () AS DOUBLE)
         AS share
FROM cells
"""


@register("e34_weekly_seasonality", _E34_ORACLE)
def e34_weekly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-hour seasonality matrix: event share per (weekday,
    hour) cell — the traffic-shape baseline capacity planning reads
    first. weekday is ISO (0=Monday..6=Sunday): Spark's weekday()
    matches DuckDB's isodow()-1 exactly.

    Scale shape: the fact collapses to at most 168 cells map-side; the
    share window runs over those 168 rows (bounded domain — the
    adjudicated WindowExec-unpartitioned class), one IEEE division per
    cell of two exact counts."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cells = ev.groupBy(
        F.weekday("ts").cast("int").alias("weekday"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    w = Window.partitionBy()
    return cells.select(
        "weekday",
        "hour",
        "n_events",
        (
            F.col("n_events").cast("double")
            / F.sum("n_events").over(w).cast("double")
        ).alias("share"),
    )


_E35_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id)
           - epoch_us(ts) AS gap_us
  FROM events
  WHERE ts IS NOT NULL
)
SELECT event_type,
       CAST(LENGTH(CAST(gap_us AS VARCHAR)) AS INT) AS magnitude,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY 1, 2
"""


@register("e35_dwell_histogram", _E35_ORACLE)
def e35_dwell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-of-magnitude dwell-time histogram per event type: the gap
    from each event to the same user's NEXT event of the same type,
    bucketed by decimal magnitude — the engagement-cadence profile
    (sub-second bots vs minute-scale browsing vs day-scale returns)
    that e08/e14's per-user median/max summaries can't show.

    The bucket is the DIGIT COUNT of the microsecond gap rendered as a
    string — exactly floor(log10)+1 for positive ints and 1 for the
    zero gap (duplicate timestamps), computed with NO floating log at
    all: a pure string length is engine-exact where floor(log10(x))
    sits one ulp from flipping at every power of ten. Gaps are exact
    64-bit epoch-microsecond differences (the e08 discipline — micros,
    not the ns-bounded pandas bridge); window order ties break on
    event_id, so duplicate-ts runs produce deterministic zero-gap rows.
    Un-timestamped events are dropped explicitly on both engines; each
    user+type's last event has no successor and contributes no gap.

    Scale shape: one (user_id, event_type) shuffle for the lag window
    — partitions bounded by per-user-per-type event counts, never the
    corpus — then a map-side-combinable aggregation on a key domain
    bounded by (types x ~20 magnitudes)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy(
        "event_type",
        F.length(F.col("gap_us").cast("string")).cast("int").alias("magnitude"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )
