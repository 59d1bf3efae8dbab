"""Output checks, run outside the timed region.

- Pipeline batches: DuckDB recomputes, from the landing's valid rows and
  the dimension parquet, what each of the four sinks must hold (row
  counts, partition leaves, customer monthly spend, and the incentive
  with ``rank()`` ties) and compares it exactly with what was written.
- Queries: the repo's DuckDB oracle (``ORACLES``) through
  ``testing.compare_spark_to_oracle``, evaluated on the unpermuted tables.
"""

from __future__ import annotations

import glob
import os

import duckdb

SINKS = ("customer_mart", "sales_team_mart", "customer_monthly_purchase", "sales_team_incentive")


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall(), key=repr)


def expected_outputs(con, expect: str, dims_dir: str) -> dict[str, list[tuple]]:
    """The four sinks' content, recomputed in DuckDB from the batch's rows."""
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW enriched AS
        SELECT s.* FROM read_parquet('{expect}') s
        JOIN read_parquet('{dims_dir}/customer.parquet') c USING (customer_id)
        JOIN read_parquet('{dims_dir}/store.parquet') st ON st.id = s.store_id
        JOIN read_parquet('{dims_dir}/sales_team.parquet') t ON t.id = s.sales_person_id""")
    return {
        "customer_mart": _rows(con, "SELECT count(*) FROM enriched"),
        "sales_team_mart": _rows(con, """
            SELECT substr(sales_date, 1, 7) AS m, store_id, count(*) FROM enriched GROUP BY ALL"""),
        "customer_monthly_purchase": _rows(con, """
            SELECT customer_id, substr(sales_date, 1, 7), CAST(sum(total_cost) AS DOUBLE)
            FROM enriched GROUP BY ALL"""),
        "sales_team_incentive": _rows(con, """
            WITH m AS (
                SELECT store_id, sales_person_id, substr(sales_date, 1, 7) AS month,
                       sum(CAST(total_cost AS DECIMAL(18,2))) AS tot
                FROM enriched GROUP BY ALL)
            SELECT store_id, sales_person_id, month, CAST(tot AS DOUBLE),
                   CASE WHEN rank() OVER (PARTITION BY store_id, month ORDER BY tot DESC) = 1
                        THEN CAST(round(tot * CAST(0.01 AS DECIMAL(9,6)), 2) AS DOUBLE)
                        ELSE 0.0 END
            FROM m"""),
    }


def written_outputs(con, out: str, run_ts: str) -> dict[str, list[tuple]]:
    def src(sink: str) -> str:
        return f"read_parquet('{out}/{sink}/{run_ts}/**/*.parquet', hive_partitioning = true)"

    return {
        "customer_mart": _rows(con, f"SELECT count(*) FROM {src('customer_mart')}"),
        "sales_team_mart": _rows(con, f"""
            SELECT CAST(sales_month AS VARCHAR), CAST(store_id AS BIGINT), count(*)
            FROM {src('sales_team_mart')} GROUP BY ALL"""),
        "customer_monthly_purchase": _rows(con, f"""
            SELECT customer_id, sales_date_month, total_sales
            FROM {src('customer_monthly_purchase')}"""),
        "sales_team_incentive": _rows(con, f"""
            SELECT store_id, sales_person_id, sales_month, total_sales_every_month, incentive
            FROM {src('sales_team_incentive')}"""),
    }


def compare_batch(expected: dict, written: dict, row_counts: dict) -> list[str]:
    errs = []
    for sink in SINKS:
        if written[sink] != expected[sink]:
            only_w = sorted(set(written[sink]) - set(expected[sink]), key=repr)[:2]
            only_e = sorted(set(expected[sink]) - set(written[sink]), key=repr)[:2]
            errs.append(f"{sink}: written-only {only_w} expected-only {only_e}")
    n = expected["customer_mart"][0][0]
    want_counts = {
        "customer_mart": n,
        "sales_team_mart": n,
        "customer_monthly_purchase": len(expected["customer_monthly_purchase"]),
        "sales_team_incentive": len(expected["sales_team_incentive"]),
    }
    if row_counts != want_counts:
        errs.append(f"observed row counts {row_counts} != {want_counts}")
    return errs


def has_incentive_tie(expected: dict) -> bool:
    """At least one (store, month) pays two rank-1 sellers."""
    paid: dict[tuple, int] = {}
    for store, _person, month, _tot, incentive in expected["sales_team_incentive"]:
        if incentive > 0:
            paid[(store, month)] = paid.get((store, month), 0) + 1
    return any(v > 1 for v in paid.values())


def check_batch(rec: dict, dims_dir: str, out: str) -> list[str]:
    """All checks of one pipeline batch; returns problems (empty = ok)."""
    res = rec["result"]
    errs = []
    want_routes = {n: r for n, r in rec["routes"].items() if r != "valid"}
    got_routes = {
        os.path.basename(src): os.path.basename(os.path.dirname(dst))
        for src, dst in res.quarantined.items()
    }
    if got_routes != want_routes:
        errs.append(f"quarantine routes {got_routes} != {want_routes}")
    valid = sorted(n for n, r in rec["routes"].items() if r == "valid")
    if sorted(res.processed_files) != valid or res.skipped_files:
        errs.append(f"processed {res.processed_files} skipped {res.skipped_files}")
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        expected = expected_outputs(con, rec["expect"], dims_dir)
        written = written_outputs(con, out, rec["run_ts"])
    finally:
        con.close()
    if not has_incentive_tie(expected):
        errs.append("input lost its planted incentive tie")
    errs += compare_batch(expected, written, res.row_counts)
    rec["leaves"] = len(glob.glob(f"{out}/sales_team_mart/{rec['run_ts']}/*/*"))
    return errs


def oracle_connection(tables_dir: str):
    from end_to_end_sales_etl_de_project_spark.testing import duckdb_connection

    return duckdb_connection(tables_dir)


def check_query(spark, con, name: str, data_dir: str, transform=None) -> str | None:
    """Re-run ``name`` on ``data_dir`` and compare it with its oracle on
    the catalog behind ``con``. ``transform`` may alter the Spark result
    first (the tests use it to drop a row). Returns a problem or None."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import ORACLES, QUERIES
    from end_to_end_sales_etl_de_project_spark.testing import compare_spark_to_oracle, run_oracle

    df = QUERIES[name](spark, data_dir)
    if transform is not None:
        df = transform(df)
    res = compare_spark_to_oracle(name, df, run_oracle(con, ORACLES[name]))
    return None if res.match else "; ".join(res.mismatches)[:300]
