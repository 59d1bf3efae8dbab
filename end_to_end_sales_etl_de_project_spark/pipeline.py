"""End-to-end batch pipeline orchestrator — the reference's
``run_pipeline()`` (``/root/reference/src/main_1.py:683-837``)
re-expressed Spark-first.

Step order preserved (SURVEY §3.1): crash check → file validation /
quarantine → idempotency filter → mark START → read+union → enrich →
marts (parquet, partitioned) → metrics (parquet or JDBC) → archive →
mark COMPLETED. Failure semantics preserved: abort when a previous run
left files in START; any exception leaves the ledger in START so the
next run aborts loudly instead of double-processing.

Physical differences from the reference (each a SURVEY §4 fix):

- the enriched frame is **cached once** and feeds every mart/metric
  (the reference re-executed the full CSV+JDBC+3-join plan per sink);
- one schema'd multi-file read, no per-file inferSchema/count scans;
- quarantine/ledger are explicit, testable components.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.config import ROUTE_PROCESSED
from end_to_end_sales_etl_de_project_spark.ledger import Ledger
from end_to_end_sales_etl_de_project_spark.marts import (
    customer_mart,
    customer_monthly_purchase,
    enrich_sales,
    sales_team_incentive,
    sales_team_mart,
)
from end_to_end_sales_etl_de_project_spark.sources.csv_source import (
    quarantine,
    read_sales_csv,
    validate_files,
)
from end_to_end_sales_etl_de_project_spark.writers import write_parquet


class CrashDetectedError(RuntimeError):
    """A previous run left files in START (main_1.py:45-86 abort)."""


@dataclass
class PipelineResult:
    processed_files: list[str] = field(default_factory=list)
    skipped_files: list[str] = field(default_factory=list)
    quarantined: dict[str, str] = field(default_factory=dict)
    outputs: dict[str, str] = field(default_factory=dict)
    row_counts: dict[str, int] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    dims: dict[str, DataFrame],
    ledger: Ledger,
    run_ts: str = "run",
) -> PipelineResult:
    """Execute one batch over every file in ``input_dir``.

    ``dims`` must provide 'customer', 'store', 'sales_team' DataFrames
    (from parquet or JDBC — source-agnostic, like the reference's
    ``load_dimension_tables``).
    """
    result = PipelineResult()
    files = sorted(
        os.path.join(input_dir, f)
        for f in os.listdir(input_dir)
        if os.path.isfile(os.path.join(input_dir, f))
    )
    names = [os.path.basename(f) for f in files]

    # 1. crash check (abort BEFORE touching anything) — ledger-wide:
    # a crashed run may have archived its inputs already, so scoping
    # to files currently in the landing dir would miss it
    stuck = ledger.stuck_in_start()
    if stuck:
        raise CrashDetectedError(
            f"previous run left files in START: {stuck}; reconcile the ledger first"
        )

    # 2. validate + quarantine
    report = validate_files(files)
    result.quarantined = quarantine(report, output_dir)

    # 3. idempotency filter
    valid_names = {os.path.basename(p): p for p in report.valid}
    to_process, already_done = ledger.split_processed(sorted(valid_names))
    result.skipped_files = already_done
    report.valid = [valid_names[n] for n in to_process]
    if not report.valid:
        return result  # a normal, empty outcome — not None, not a crash

    # 4. mark START
    ledger.mark_start({n: valid_names[n] for n in to_process})

    # 5. single-pass schema'd read + union
    sales = read_sales_csv(spark, report)

    # 6. enrichment — cached: feeds 2 marts + 2 metrics below
    enriched = enrich_sales(
        sales, dims["customer"], dims["store"], dims["sales_team"]
    ).cache()

    # 7/8. marts + metrics — row counts ride the WRITE pass via
    # df.observe() (an Observation resolves once its action runs),
    # not a second .count() action per sink: the enriched frame is
    # cached so the old double-execution was cheap, but at cluster
    # scale every extra action is an extra stage DAG + scheduler
    # round-trip per sink.
    def _write(name: str, df: DataFrame, **write_kwargs) -> None:
        obs = Observation(f"rows-{name}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        result.outputs[name] = write_parquet(
            observed, os.path.join(output_dir, name), timestamp=run_ts, **write_kwargs
        )
        result.row_counts[name] = obs.get["rows"]

    _write("customer_mart", customer_mart(enriched))
    _write(
        "sales_team_mart",
        sales_team_mart(enriched),
        partition_by=["sales_month", "store_id"],
    )
    _write("customer_monthly_purchase", customer_monthly_purchase(enriched))
    _write("sales_team_incentive", sales_team_incentive(enriched))

    enriched.unpersist()

    # 9. archive processed inputs
    processed_dir = os.path.join(output_dir, ROUTE_PROCESSED, run_ts)
    os.makedirs(processed_dir, exist_ok=True)
    for path in report.valid:
        shutil.move(path, os.path.join(processed_dir, os.path.basename(path)))
    result.processed_files = to_process

    # 10. mark COMPLETED — last, so any failure above leaves the ledger
    # in START and the next run's crash check fires
    ledger.mark_completed(to_process)
    return result
