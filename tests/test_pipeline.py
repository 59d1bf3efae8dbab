"""Golden pipeline tests (SURVEY §5 strategy #2): the full
validate→enrich→marts→metrics path on reference-shaped fixtures,
asserting the README's worked semantics — plus ledger crash/idempotency
behavior and the property checks from SURVEY §5 #4."""

from __future__ import annotations

import os
import threading
from decimal import Decimal

import pytest

from end_to_end_sales_etl_de_project_spark import pipeline
from end_to_end_sales_etl_de_project_spark.ledger import Ledger
from end_to_end_sales_etl_de_project_spark.pipeline import (
    CrashDetectedError,
    run_pipeline,
)
from tests.fixtures import dim_dataframes, write_sales_fixture_files


@pytest.fixture()
def env(spark, tmp_path):
    input_dir = str(tmp_path / "landing")
    output_dir = str(tmp_path / "out")
    write_sales_fixture_files(input_dir)
    ledger = Ledger(spark, str(tmp_path / "ledger"))
    return {"in": input_dir, "out": output_dir, "ledger": ledger, "dims": dim_dataframes(spark)}


def _run(spark, env, ts="run1"):
    return run_pipeline(
        spark, env["in"], env["out"], env["dims"], env["ledger"], run_ts=ts
    )


def test_end_to_end_golden(spark, env):
    result = _run(spark, env)
    assert sorted(result.processed_files) == [
        "sales_extra.csv",
        "sales_jan.csv",
        "sales_mar.csv",
    ]
    # orphan row (customer 999) vanished via inner join: 11 valid rows - 1
    assert result.row_counts["customer_mart"] == 10

    # golden: customer 1 January spend = 10 + 20 = 30.00
    cmp_df = spark.read.parquet(result.outputs["customer_monthly_purchase"])
    jan_c1 = cmp_df.filter(
        "customer_id = 1 AND sales_date_month = '2024-01'"
    ).collect()
    assert len(jan_c1) == 1
    assert jan_c1[0]["total_sales"] == 30.0
    assert jan_c1[0]["full_name"] == "Ada Lovelace"

    # golden: March tie at store 10 — persons 100 and 101 both 30.00,
    # BOTH get rank 1 and the 1% incentive (rank() semantics,
    # reference transform.py:150-153)
    inc = spark.read.parquet(result.outputs["sales_team_incentive"])
    march10 = {
        r["sales_person_id"]: r
        for r in inc.filter("store_id = 10 AND sales_month = '2024-03'").collect()
    }
    assert march10[100]["incentive"] == 0.3
    assert march10[101]["incentive"] == 0.3

    # non-winner gets 0 (store 10, 2024-01: person 100 sells 30, 101 sells 15)
    jan10 = {
        r["sales_person_id"]: r
        for r in inc.filter("store_id = 10 AND sales_month = '2024-01'").collect()
    }
    assert jan10[100]["incentive"] == 0.3
    assert jan10[101]["incentive"] == 0.0

    # partitioned mart layout on disk (Hive-style, prunable)
    sm_path = result.outputs["sales_team_mart"]
    assert any(p.startswith("sales_month=") for p in os.listdir(sm_path))

    # property: sum of monthly customer totals == sum of joined total_cost
    total_metric = sum(r["total_sales"] for r in cmp_df.collect())
    cm = spark.read.parquet(result.outputs["customer_mart"])
    total_mart = sum(Decimal(str(r["total_cost"])) for r in cm.collect())
    assert total_metric == float(total_mart)

    # property: every (store, month) has >= 1 rank-1 incentive row
    by_group = {}
    for r in inc.collect():
        by_group.setdefault((r["store_id"], r["sales_month"]), []).append(r["incentive"])
    assert all(any(v > 0 for v in vals) for vals in by_group.values())


def test_idempotent_rerun(spark, env):
    r1 = _run(spark, env, "run1")
    assert len(r1.processed_files) == 3
    # same files land again (simulate re-delivery)
    write_sales_fixture_files(env["in"])
    r2 = _run(spark, env, "run2")
    assert r2.processed_files == []
    assert sorted(r2.skipped_files) == sorted(r1.processed_files)


def test_crash_detection(spark, env):
    # simulate a crashed run: files marked START, never COMPLETED
    env["ledger"].mark_start({"sales_jan.csv": env["in"] + "/sales_jan.csv"})
    with pytest.raises(CrashDetectedError, match="sales_jan.csv"):
        _run(spark, env)


def test_quarantine_moves_files(spark, env):
    result = _run(spark, env)
    for route in ("wrong_files", "bad_schema", "empty_files"):
        routed = os.listdir(os.path.join(env["out"], route))
        assert len(routed) == 1, route
    # processed files archived out of the landing dir
    assert os.listdir(env["in"]) == []


def test_faithful_and_grouped_metrics_agree(spark, env):
    """Window+distinct (reference plan, built here from the operators
    q01/q02 run) ≡ groupBy (the marts' plan) on the same cached frame."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.functions.scalar import (
        full_name,
        month_key,
    )
    from end_to_end_sales_etl_de_project_spark.marts import (
        customer_monthly_purchase,
        enrich_sales,
        sales_team_incentive,
    )
    from end_to_end_sales_etl_de_project_spark.operators.metrics import (
        top_performer_incentive,
        windowed_partition_sum,
    )
    from end_to_end_sales_etl_de_project_spark.sources.csv_source import (
        read_sales_csv,
        validate_files,
    )

    files = [os.path.join(env["in"], f) for f in os.listdir(env["in"])]
    sales = read_sales_csv(spark, validate_files(files))
    enriched = enrich_sales(sales, **env["dims"]).cache()

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    customers = enriched.withColumn(
        "sales_date_month", month_key("sales_date")
    ).withColumn("full_name", full_name("customer_first_name", "customer_last_name"))
    faithful_purchase = windowed_partition_sum(
        customers,
        partition_keys=["customer_id", "sales_date_month"],
        measure="total_cost",
        out_col="total_sales",
        carry_cols=["full_name", "customer_address", "phone_number"],
    ).select(
        "customer_id",
        "full_name",
        F.col("customer_address").alias("address"),
        "phone_number",
        "sales_date_month",
        "total_sales",
    )
    team = enriched.withColumn("sales_month", month_key("sales_date")).withColumn(
        "full_name", full_name("sales_person_first_name", "sales_person_last_name")
    )
    faithful_incentive = top_performer_incentive(
        windowed_partition_sum(
            team,
            partition_keys=["store_id", "sales_person_id", "sales_month"],
            measure="total_cost",
            out_col="total_sales_every_month",
            carry_cols=["full_name"],
        ),
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

    assert canon(faithful_purchase) == canon(customer_monthly_purchase(enriched))
    assert canon(faithful_incentive) == canon(sales_team_incentive(enriched))


def test_crash_detected_even_after_inputs_archived(spark, env):
    """A crashed run may have already archived its inputs — the crash
    check must be ledger-wide, not scoped to the landing dir."""
    env["ledger"].mark_start({"ghost.csv": "/already/archived/ghost.csv"})
    with pytest.raises(CrashDetectedError, match="ghost.csv"):
        _run(spark, env)


def test_sink_writes_run_concurrently(spark, env, monkeypatch):
    """The four sink writes are in flight together: each write waits on
    a four-party barrier, so the run completes only if all four were
    submitted at once (written one after another, the first write's
    wait times out). Each write runs under the caller's job group, and
    the batch's pool threads are gone when the run returns."""
    sc = spark.sparkContext
    barrier = threading.Barrier(4, timeout=60)
    groups: dict[str, str | None] = {}
    orig = pipeline.write_parquet

    def rendezvous(df, path, **kwargs):
        groups[os.path.basename(path)] = sc.getLocalProperty("spark.jobGroup.id")
        barrier.wait()
        return orig(df, path, **kwargs)

    monkeypatch.setattr(pipeline, "write_parquet", rendezvous)
    threads_before = threading.active_count()
    sc.setJobGroup("daily-batch", "one batch of the daily run")
    try:
        result = _run(spark, env)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    sinks = [
        "customer_mart",
        "sales_team_mart",
        "customer_monthly_purchase",
        "sales_team_incentive",
    ]
    assert list(result.outputs) == sinks and list(result.row_counts) == sinks
    assert result.row_counts["customer_mart"] == 10
    assert groups == dict.fromkeys(sinks, "daily-batch")
    assert threading.active_count() == threads_before
