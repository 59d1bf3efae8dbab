"""Single-pass column profiling — the Deequ-style data-quality audit
(row/null/distinct counts, numeric and timestamp min/max) as a reusable
operator.

Not present in the reference (its only validation is the mandatory-
column header check, SURVEY §2.1 A3); this is the audit a production
ingest runs per batch. Design for scale: ALL metrics for ALL profiled
columns fold into ONE aggregation over ONE scan — the multi-column
exact count-distinct runs through Catalyst's Expand (map-side row
replication, still a single shuffle), and a ``stack()`` unpivots the
1-row aggregate into the per-column report. Profiling N columns costs
one pass regardless of N; the Expand factor (one replica per distinct
aggregate) is the explicit, bounded price of EXACT distinct counts —
swap ``approx_count_distinct`` in at 100 TB if ±2% is acceptable and
the Expand shuffle dominates.

Determinism: counts are exact BIGINTs; numeric min/max surface as
exact doubles (bigint/int/epoch-millis magnitudes fit a double
losslessly); timestamp min/max stay typed columns; string columns
profile nulls+distinct only — cross-engine string rendering of MIN/MAX
is not pinned, so it is not claimed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# kind ∈ {num, ts, str}
ProfileCols = list[tuple[str, str]]

# The lineitem columns of the q59 profile.
LINEITEM_PROFILE: ProfileCols = [
    ("l_orderkey", "num"),
    ("l_linenumber", "num"),
    ("l_quantity", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
]


def profile_columns(df: DataFrame, cols: ProfileCols) -> DataFrame:
    """One row per profiled column: (column_name, n_rows, n_nulls,
    n_distinct, min_value, max_value, min_ts, max_ts)."""
    aggs: list = [F.count(F.lit(1)).alias("n_rows")]
    stack_args: list[str] = []
    null_d = "CAST(NULL AS DOUBLE)"
    null_t = "CAST(NULL AS TIMESTAMP_NTZ)"
    for col, kind in cols:
        aggs.append(F.count(F.when(F.col(col).isNull(), 1)).alias(f"{col}__nulls"))
        aggs.append(F.count_distinct(F.col(col)).alias(f"{col}__distinct"))
        mn = mx = null_d
        mnt = mxt = null_t
        if kind == "num":
            aggs.append(F.min(col).cast("double").alias(f"{col}__min"))
            aggs.append(F.max(col).cast("double").alias(f"{col}__max"))
            mn, mx = f"{col}__min", f"{col}__max"
        elif kind == "ts":
            aggs.append(F.min(col).alias(f"{col}__min"))
            aggs.append(F.max(col).alias(f"{col}__max"))
            mnt, mxt = f"{col}__min", f"{col}__max"
        stack_args.append(
            f"'{col}', {col}__nulls, {col}__distinct, {mn}, {mx}, {mnt}, {mxt}"
        )
    row = df.agg(*aggs)
    n = len(cols)
    return row.select(
        F.expr(
            f"stack({n}, {', '.join(stack_args)}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value, min_ts, max_ts)"
        ),
        "n_rows",
    ).select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_value",
        "max_value",
        "min_ts",
        "max_ts",
    )


def profile_columns_sql() -> str:
    """DuckDB twin over the ``LINEITEM_PROFILE`` columns: one
    independent SELECT per column, UNION ALL'd (the oracle re-derives
    each row; only the engine's plan is single-pass)."""
    rows = []
    for col, kind in LINEITEM_PROFILE:
        mn = mx = "CAST(NULL AS DOUBLE)"
        mnt = mxt = "CAST(NULL AS TIMESTAMP)"
        if kind == "num":
            mn, mx = f"CAST(MIN({col}) AS DOUBLE)", f"CAST(MAX({col}) AS DOUBLE)"
        elif kind == "ts":
            mnt, mxt = f"MIN({col})", f"MAX({col})"
        rows.append(
            f"SELECT '{col}' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,\n"
            f"       CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,\n"
            f"       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,\n"
            f"       {mn} AS min_value, {mx} AS max_value,\n"
            f"       {mnt} AS min_ts, {mxt} AS max_ts\n"
            "FROM lineitem"
        )
    return "\nUNION ALL\n".join(rows)


FkSpec = list[tuple[str, DataFrame, str, DataFrame, str]]


def fk_orphans(fks: FkSpec) -> DataFrame:
    """Referential-integrity audit — one row per declared foreign key:
    (fk_name, n_rows, n_null_keys, n_orphans). An orphan is a child row
    whose non-null key has no parent (SQL ``NOT EXISTS`` semantics;
    NULL keys are counted separately, never as orphans — matching the
    null-aware discipline of q43's anti join).

    Scale shape: each FK costs ONE left join on the key plus one
    map-side-combinable aggregation — the parent side is deduplicated
    first, so the join never expands the child, and Catalyst broadcasts
    bounded dims (part/supplier/customer) while big-big pairs
    (lineitem ⋈ orders) take the one shuffle they need. The per-FK
    1-row aggregates union into the report: an audit over any number of
    declared keys stays a fixed number of passes over each child, never
    a collect.
    """
    reports = []
    for name, child, child_key, parent, parent_key in fks:
        par = parent.select(F.col(parent_key).alias("__pk")).distinct()
        joined = child.select(F.col(child_key).alias("__ck")).join(
            par, F.col("__ck") == F.col("__pk"), "left"
        )
        reports.append(
            joined.agg(
                F.lit(name).alias("fk_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("__ck").isNull(), 1)).alias("n_null_keys"),
                F.count(
                    F.when(F.col("__ck").isNotNull() & F.col("__pk").isNull(), 1)
                ).alias("n_orphans"),
            ).select("fk_name", "n_rows", "n_null_keys", "n_orphans")
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# The star schema's declared foreign keys (q63): (fk_name, child_table,
# child_key, parent_table, parent_key).
FOREIGN_KEYS = [
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
]


def fk_orphans_sql() -> str:
    """DuckDB twin over ``FOREIGN_KEYS``, same
    left-join-against-distinct-parent shape."""
    rows = []
    for name, child, ck, parent, pk in FOREIGN_KEYS:
        rows.append(
            f"SELECT '{name}' AS fk_name,\n"
            f"       CAST(COUNT(*) AS BIGINT) AS n_rows,\n"
            f"       CAST(COUNT(*) FILTER (WHERE c.{ck} IS NULL) AS BIGINT)"
            f" AS n_null_keys,\n"
            f"       CAST(COUNT(*) FILTER (WHERE c.{ck} IS NOT NULL"
            f" AND p.__pk IS NULL) AS BIGINT) AS n_orphans\n"
            f"FROM {child} c LEFT JOIN"
            f" (SELECT DISTINCT {pk} AS __pk FROM {parent}) p\n"
            f"  ON c.{ck} = p.__pk"
        )
    return "\nUNION ALL\n".join(rows)


# (name, SQL predicate over the table's columns) — the predicate names
# the VIOLATION. Written in the Spark∩DuckDB SQL subset so one string
# drives both engines (F.expr on the Spark side, FILTER on the oracle
# side).
RowChecks = list[tuple[str, str]]
UniqueChecks = list[tuple[str, list[str]]]

# The q102 constraint suite over lineitem.
LINEITEM_ROW_CHECKS: RowChecks = [
    ("not_null_quantity", "l_quantity IS NULL"),
    ("not_null_shipdate", "l_shipdate IS NULL"),
    ("range_quantity", "l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 60)"),
    (
        "accepted_returnflag",
        "l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N', 'R')",
    ),
    ("nonnegative_extendedprice", "l_extendedprice IS NOT NULL AND l_extendedprice < 0"),
]
LINEITEM_UNIQUE_CHECKS: UniqueChecks = [("unique_line_key", ["l_orderkey", "l_linenumber"])]

# The live-monitor check list: the q102 contract applied to the event
# stream (same three-valued-logic semantics). The spike check is a
# monitoring rule, not an integrity rule — it fires on the clean
# corpus, proving the monitor emits non-zero counts end-to-end.
EVENT_CHECKS: RowChecks = [
    ("null_value", "value IS NULL"),
    ("negative_value", "value IS NOT NULL AND value < 0"),
    (
        "unknown_type",
        "event_type IS NOT NULL AND event_type NOT IN "
        "('signup','click','error','view','purchase')",
    ),
    ("value_spike", "value IS NOT NULL AND value > 250"),
]


def expectations_report(
    df: DataFrame, row_checks: RowChecks, unique_checks: UniqueChecks
) -> DataFrame:
    """Declarative data-quality expectations (the Deequ/Great-
    Expectations suite shape): one row per check — (check_name, kind,
    n_rows, n_violations, passed). Row-level checks (not-null, range,
    accepted values, non-negative, …) are violation predicates;
    uniqueness checks count every row of every key group that occurs
    more than once. (Referential integrity is the same report shape via
    :func:`fk_orphans` — q63.)

    Scale shape: ALL row checks fold into ONE conditional aggregation
    over ONE scan (`stack()` unpivots the 1-row aggregate — profiling
    N checks costs one pass regardless of N); each uniqueness check is
    one map-side-combinable groupBy whose rollup derives n_rows as
    SUM(cnt) — no second scan, no scalar join-back. Everything is
    exact BIGINTs.

    NULL semantics, pinned: row predicates run under SQL three-valued
    logic (a NULL predicate is NOT a violation — write an explicit
    IS NULL check for null-freeness); uniqueness groups NULL keys
    together (GROUP BY equality), so two all-NULL keys count as
    duplicates in both engines.
    """
    # stack(0, ) is invalid SQL — with no row checks, build the report
    # from the uniqueness legs alone (ADVICE r8).
    legs: list[DataFrame] = []
    if row_checks:
        aggs: list = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
        stack_args: list[str] = []
        for name, pred in row_checks:
            # coalesce: SUM over ZERO rows is NULL where the oracle's
            # COUNT(*) FILTER is 0 — an empty batch has zero
            # violations and PASSES its checks (r11 empty-corpus sweep)
            aggs.append(
                F.coalesce(
                    F.sum(F.when(F.expr(pred), 1).otherwise(0)), F.lit(0)
                )
                .cast("bigint")
                .alias(f"{name}__viol")
            )
            stack_args.append(f"'{name}', {name}__viol")
        legs.append(
            df.agg(*aggs).select(
                F.expr(
                    f"stack({len(row_checks)}, {', '.join(stack_args)}) AS "
                    "(check_name, n_violations)"
                ),
                "n_rows",
            )
        )
    for name, key_cols in unique_checks:
        grouped = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
        legs.append(
            grouped.agg(
                F.lit(name).alias("check_name"),
                F.coalesce(
                    F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0)
                )
                .cast("bigint")
                .alias("n_violations"),
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_rows"),
            )
        )
    if not legs:
        raise ValueError(
            "expectations_report needs at least one row_check or unique_check"
        )
    out = legs[0].select("check_name", "n_rows", "n_violations")
    for leg in legs[1:]:
        out = out.unionByName(leg.select("check_name", "n_rows", "n_violations"))
    return out.select(
        "check_name",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def expectations_report_sql() -> str:
    """DuckDB twin over the lineitem suite: one FILTER'd SELECT per row
    check, one grouped rollup per uniqueness check, UNION ALL'd."""
    rows = []
    for name, pred in LINEITEM_ROW_CHECKS:
        rows.append(
            f"SELECT '{name}' AS check_name,\n"
            f"       CAST(COUNT(*) AS BIGINT) AS n_rows,\n"
            f"       CAST(COUNT(*) FILTER (WHERE {pred}) AS BIGINT)"
            " AS n_violations\nFROM lineitem"
        )
    for name, key_cols in LINEITEM_UNIQUE_CHECKS:
        keys = ", ".join(key_cols)
        rows.append(
            f"SELECT '{name}' AS check_name,\n"
            f"       CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,\n"
            f"       CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt END), 0)"
            f" AS BIGINT) AS n_violations\n"
            f"FROM (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY {keys})"
        )
    union = "\nUNION ALL\n".join(rows)
    return (
        f"SELECT check_name, n_rows, n_violations,\n"
        f"       n_violations = 0 AS passed\nFROM ({union})"
    )


def month_completeness(df: DataFrame, date_col: str) -> DataFrame:
    """Partition-completeness audit over a month spine: every calendar
    month between the table's min and max date gets (sales_month,
    n_rows, present) — a month with zero rows is a HOLE a downstream
    incremental consumer must know about (a missed load, an upstream
    outage), invisible to per-partition profiling because the partition
    simply isn't there.

    Scale shape: one map-side-combinable month rollup over the fact +
    a 1-row min/max aggregate exploded into the bounded month spine
    (|months| rows — control-plane sized, broadcast by stats) left-
    joined against the rollup. NULL dates are excluded from both the
    bounds and the counts in both engines, explicitly.
    """
    dated = df.filter(F.col(date_col).isNotNull())
    month = F.date_trunc("month", F.col(date_col))
    per_month = dated.groupBy(month.alias("month_start")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    spine = (
        dated.agg(
            F.date_trunc("month", F.min(date_col)).alias("mn"),
            F.date_trunc("month", F.max(date_col)).alias("mx"),
        )
        .select(
            F.explode(
                F.sequence("mn", "mx", F.expr("interval 1 month"))
            ).alias("month_start")
        )
    )
    return (
        spine.join(per_month, "month_start", "left")
        .select(
            F.substring(F.col("month_start").cast("string"), 1, 7).alias(
                "sales_month"
            ),
            F.coalesce(F.col("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
            (F.coalesce(F.col("n_rows"), F.lit(0)) > 0).alias("present"),
        )
    )


def month_completeness_sql() -> str:
    """DuckDB twin over ``orders.o_orderdate`` (q103)."""
    return """
WITH dated AS (SELECT o_orderdate AS d FROM orders WHERE o_orderdate IS NOT NULL),
bounds AS (
  SELECT date_trunc('month', MIN(d)) AS mn, date_trunc('month', MAX(d)) AS mx
  FROM dated
),
spine AS (
  SELECT UNNEST(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month_start
  FROM bounds
),
per_month AS (
  SELECT date_trunc('month', d) AS month_start, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM dated GROUP BY 1
)
SELECT substr(CAST(s.month_start AS VARCHAR), 1, 7) AS sales_month,
       CAST(COALESCE(p.n_rows, 0) AS BIGINT) AS n_rows,
       COALESCE(p.n_rows, 0) > 0 AS present
FROM spine s LEFT JOIN per_month p ON s.month_start = p.month_start
"""


def violation_monitor_agg(events: DataFrame) -> DataFrame:
    """Hourly-windowed violation totals for the ``EVENT_CHECKS`` list —
    the SHARED aggregation body behind the batch audit and the live
    streaming monitor (``streaming/events.violation_monitor_stream``):
    one row per event-time window with the row count and each check's
    violation count. Batch ≡ stream is exact by construction (same
    column expressions, same engine).

    Scale: conditional sums over an event-time window groupBy — one
    map-side-combinable exchange; state in the streaming form is one
    row per open window, closed by the watermark. Same three-valued-
    logic contract as expectations_report (NULL predicate ≠ violation).
    """
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")] + [
        F.sum(F.when(F.expr(pred), 1).otherwise(0))
        .cast("bigint")
        .alias(f"{name}_violations")
        for name, pred in EVENT_CHECKS
    ]
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), "*")
        .drop("w")
    )
