"""Enrichment joins, data marts, and the two business metrics on the
reference-shaped sales star schema.

Reference parity:

- ``dimesions_table_join`` (``/root/reference/src/transform/
  transform.py:88-117``): fact ⋈ customer ⋈ store ⋈ sales_team, all
  inner equi-joins — here with explicit ``broadcast()`` on the
  genuinely bounded dims (store, sales_team) and a statistics-gated
  join for the scaling customer dim (the fact never shuffles for
  these joins while the dims fit the broadcast threshold).
- Customer mart (``src/main_1.py:423-432``), sales-team mart
  (``src/main_1.py:486-499``) — same projections; the mart write is
  partitioned by (sales_month, store_id) like main_1.py:524-529.
- ``customer_monthly_sales_calculate`` / ``sales_team_incentive_
  calculate`` (transform.py:123-158) via the generic operators in
  ``operators/metrics.py``.

The enriched frame is built once and should be cached by the caller
when feeding multiple sinks — the reference recomputed the whole join
plan up to 7 times per run (SURVEY §4 'caching: absent'), the single
biggest physical fix in this engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.functions.scalar import full_name, month_key
from end_to_end_sales_etl_de_project_spark.operators.metrics import (
    grouped_monthly_sum,
    top_performer_incentive,
)


def enrich_sales(
    sales: DataFrame,
    customer: DataFrame,
    store: DataFrame,
    sales_team: DataFrame,
) -> DataFrame:
    """Three dim inner joins (transform.py:88-117). Dimension
    columns are pre-renamed to avoid the reference's qualified-name
    ``drop`` no-op trap (SURVEY §2.2 P3).

    Broadcast policy (VERDICT r5 #1): store and sales_team are bounded
    by business reality — hint them. ``customer`` scales with the
    corpus, so it carries NO hint; statistics pick broadcast while it
    fits the threshold and a shuffled join once it doesn't."""
    cust = customer.select(
        "customer_id",
        F.col("first_name").alias("customer_first_name"),
        F.col("last_name").alias("customer_last_name"),
        F.col("address").alias("customer_address"),
        F.col("pincode").alias("customer_pincode"),
        "phone_number",
    )
    st = store.select(
        F.col("id").alias("store_pk"),
        F.col("store_manager_name"),
    )
    team = sales_team.select(
        F.col("id").alias("sales_person_pk"),
        F.col("first_name").alias("sales_person_first_name"),
        F.col("last_name").alias("sales_person_last_name"),
        "manager_id",
        "is_manager",
        F.col("address").alias("sales_person_address"),
        F.col("pincode").alias("sales_person_pincode"),
    )
    return (
        sales.join(cust, "customer_id", "inner")
        .join(F.broadcast(st), sales.store_id == st.store_pk, "inner")
        .join(F.broadcast(team), sales.sales_person_id == team.sales_person_pk, "inner")
        .drop("store_pk", "sales_person_pk")
    )


def customer_mart(enriched: DataFrame) -> DataFrame:
    """8-column customer mart (main_1.py:423-432)."""
    return enriched.select(
        "customer_id",
        F.col("customer_first_name").alias("first_name"),
        F.col("customer_last_name").alias("last_name"),
        F.col("customer_address").alias("address"),
        F.col("customer_pincode").alias("pincode"),
        "phone_number",
        "sales_date",
        "total_cost",
    )


def sales_team_mart(enriched: DataFrame) -> DataFrame:
    """12-column sales-team mart with the SQL-expr month key
    (main_1.py:486-499)."""
    return enriched.select(
        "store_id",
        "sales_person_id",
        "sales_person_first_name",
        "sales_person_last_name",
        "store_manager_name",
        "manager_id",
        "is_manager",
        "sales_person_address",
        "sales_person_pincode",
        "sales_date",
        "total_cost",
        F.expr("SUBSTRING(sales_date, 1, 7)").alias("sales_month"),
    )


def customer_monthly_purchase(enriched: DataFrame) -> DataFrame:
    """Metric 1 (transform.py:123-136): per-customer monthly spend.

    The groupBy equivalent (map-side combine) of the reference's
    window+distinct plan; tests/test_pipeline.py checks the two agree.
    Output columns match the reference mart (transform.py:129-131).
    """
    base = enriched.withColumn("sales_date_month", month_key("sales_date"))
    base = base.withColumn(
        "full_name", full_name("customer_first_name", "customer_last_name")
    )
    out = grouped_monthly_sum(
        base,
        group_keys=["customer_id", "sales_date_month"],
        out_col="total_sales",
        carry_cols=["full_name", "customer_address", "phone_number"],
    )
    return out.select(
        "customer_id",
        "full_name",
        F.col("customer_address").alias("address"),
        "phone_number",
        "sales_date_month",
        "total_sales",
    )


def sales_team_incentive(enriched: DataFrame) -> DataFrame:
    """Metric 2 (transform.py:139-158): monthly total per (store,
    person), rank within (store, month), 1% incentive to rank 1 — ties
    all paid (``rank()``)."""
    base = enriched.withColumn("sales_month", month_key("sales_date")).withColumn(
        "full_name", full_name("sales_person_first_name", "sales_person_last_name")
    )
    monthly = grouped_monthly_sum(
        base,
        group_keys=["store_id", "sales_person_id", "sales_month"],
        out_col="total_sales_every_month",
        carry_cols=["full_name"],
    )
    return top_performer_incentive(
        monthly,
        rank_partition=["store_id", "sales_month"],
        total_col="total_sales_every_month",
    ).select(
        "store_id",
        "sales_person_id",
        "full_name",
        "sales_month",
        "total_sales_every_month",
        "incentive",
    )
