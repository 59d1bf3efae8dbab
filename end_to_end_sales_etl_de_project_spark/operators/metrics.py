"""Business-metric operators: per-group monthly sums and top-performer
incentive.

Reference parity (SURVEY §2.4-2.5):

- ``customer_monthly_sales_calculate``
  (``/root/reference/src/transform/transform.py:123-136``): windowed
  ``sum(total_cost) OVER (PARTITION BY customer_id, month)`` → project →
  ``distinct()``.
- ``sales_team_incentive_calculate``
  (``/root/reference/src/transform/transform.py:139-158``): same windowed
  sum per (store, person, month), then ``rank()`` per (store, month) by
  the monthly total desc and ``when(rank==1, total*0.01)`` rounded to
  cents — **ties at rank 1 all earn the incentive** (semantics of
  ``rank`` vs ``row_number``, pinned here deliberately).

Both forms are provided:

- ``windowed_partition_sum`` is the reference-faithful plan
  (window + distinct). Physically this is a full shuffle on the window
  partition keys *plus* a second exchange for the distinct — the shape
  the reference actually runs.
- ``grouped_monthly_sum`` is the idiomatic plan the pipeline's marts
  run over ``total_cost``: ``groupBy().agg()`` gets map-side partial
  aggregation, so at 100 TB the shuffle carries
  pre-aggregated partials instead of raw rows. Equivalent iff the
  carried descriptive columns are functionally dependent on the group
  key — which the reference assumes via its ``distinct()``.

Scale notes: the measure is summed as DECIMAL (exact ⇒ result is
independent of partitioning/shuffle order); group keys include the month
bucket, so cardinality is bounded by |entities| x |months| and the
aggregation parallelizes without skew concerns beyond AQE's skew-join
handling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.functions.scalar import money


def windowed_partition_sum(
    df: DataFrame,
    partition_keys: Sequence[str],
    measure: str,
    out_col: str,
    carry_cols: Sequence[Column | str] = (),
) -> DataFrame:
    """Reference-faithful aggregate: sum-over-window, project, distinct.

    Mirrors ``src/transform/transform.py:124-132``: the window has no
    orderBy ⇒ whole-partition frame, every row gets its partition's
    total; ``distinct()`` over the projection collapses to one row per
    key. The projected columns define the dedup key — carried columns
    must be functionally dependent on ``partition_keys`` or the distinct
    keeps multiple rows (reference semantics, preserved).
    """
    w = Window.partitionBy(*partition_keys)
    total = F.sum(money(measure)).over(w).cast("double").alias(out_col)
    carried = [F.col(c) if isinstance(c, str) else c for c in carry_cols]
    return df.select(*partition_keys, *carried, total).distinct()


def grouped_monthly_sum(
    df: DataFrame,
    group_keys: Sequence[str],
    out_col: str,
    carry_cols: Sequence[str],
) -> DataFrame:
    """Idiomatic equivalent of :func:`windowed_partition_sum` over the
    sales ``total_cost``.

    ``carry_cols`` are folded into the grouping key (exactly what the
    reference's distinct-over-projection does when they are functionally
    dependent). One exchange, with map-side combine.
    """
    return (
        df.groupBy(*group_keys, *carry_cols)
        .agg(F.sum(money("total_cost")).cast("double").alias(out_col))
    )


def top_performer_incentive(
    monthly: DataFrame,
    rank_partition: Sequence[str],
    total_col: str,
) -> DataFrame:
    """Rank groups by monthly total desc; rank-1 rows earn
    ``round(total * 1%, 2)`` as ``incentive``, everyone else 0.

    Mirrors ``src/transform/transform.py:150-154``: ``rank()`` keeps the
    reference's tie semantics (all tied leaders paid).

    The incentive is computed in decimal (exact 4-dp product, HALF_UP
    round to cents) and emitted as double, so results are engine- and
    partitioning-independent.
    """
    w = Window.partitionBy(*rank_partition).orderBy(F.col(total_col).desc())
    rate = F.lit(0.01).cast("decimal(9,6)")
    total_dec = F.col(total_col).cast("decimal(18,2)")
    paid = F.round(total_dec * rate, 2).cast("double")
    return (
        monthly.withColumn("rnk", F.rank().over(w))
        .withColumn("incentive", F.when(F.col("rnk") == 1, paid).otherwise(F.lit(0.0)))
        .drop("rnk")
    )
