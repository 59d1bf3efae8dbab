"""Behavioral invariants for the round-13 operators — properties the
oracle hash cannot express directly (planted-spike detection, NTILE
bucket-size law, gap-sum telescoping), so a future rewrite that stays
hash-green on the fixture corpus but breaks the operator's CONTRACT
still trips here."""

from __future__ import annotations

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def test_q111_gaps_telescope(spark):
    """Per customer: n_gaps = n_orders - 1, gaps are non-negative, and
    avg_gap * n_gaps telescopes to (last - first) order date — the
    lag-window decomposition's conservation law."""
    from pyspark.sql import functions as F

    rows = E.queries()["q111_reorder_gap_profile"](spark, SF).collect()
    assert rows
    orders = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            ).alias("span_days"),
        )
    )
    spans = {r["o_custkey"]: (r["n"], r["span_days"]) for r in orders.collect()}
    for r in rows:
        n, span = spans[r["customer_id"]]
        assert r["n_gaps"] == r["n_orders"] - 1 == n - 1
        assert r["max_gap_days"] >= 0
        assert abs(r["avg_gap_days"] * r["n_gaps"] - span) < 1e-6, r


def test_q110_ntile_bucket_law(spark):
    """NTILE(10) law per nation: bucket sizes differ by at most one,
    larger buckets come first, and the per-nation customer total equals
    the nation's distinct purchasing customers."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    rows = E.queries()["q110_decile_spend_profile"](spark, SF).collect()
    per_nation: dict[int, dict[int, int]] = defaultdict(dict)
    for r in rows:
        per_nation[r["nation_key"]][r["decile"]] = r["n_customers"]
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    truth = {
        r["c_nationkey"]: r["n"]
        for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    for nation, buckets in per_nation.items():
        sizes = [buckets[d] for d in sorted(buckets)]
        assert max(sizes) - min(sizes) <= 1, (nation, sizes)
        assert sizes == sorted(sizes, reverse=True), (nation, sizes)
        assert sum(sizes) == truth[nation]


def test_e33_flags_a_planted_spike(spark):
    """A synthetic stream with a flat baseline and one 10x minute: the
    spike minute (and only it) is flagged once >=5 trailing minutes
    exist."""
    import datetime as dt

    import end_to_end_sales_etl_de_project_spark.plans.events  # noqa: F401 — registration side effect
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for m in range(20):
        n = 20 if m == 15 else 2  # flat 2/min, one 10x burst at minute 15
        for j in range(n):
            eid += 1
            rows.append((eid, base + dt.timedelta(minutes=m, seconds=j), 1, "click", 1.0, None))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="e33-spike-")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {
        r["minute_idx"]: r
        for r in E.queries()["e33_burst_detection"](spark, d).collect()
    }
    spike_idx = [k for k, r in out.items() if r["is_burst"]]
    m15 = int((base + dt.timedelta(minutes=15)).timestamp() // 60)
    assert spike_idx == [m15], (spike_idx, m15)


def test_q109_rate_consistency(spark):
    rows = E.queries()["q109_return_rate_by_brand"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_returned"] <= r["n_lines"]
        assert abs(r["return_rate"] - r["n_returned"] / r["n_lines"]) < 1e-12


def test_e32_types_match_serialized_set(spark):
    rows = E.queries()["e32_daily_type_profile"](spark, SF).collect()
    assert rows
    for r in rows:
        names = [t for t in r["event_types"].split(",") if t]
        assert len(names) == r["n_types"]
        assert names == sorted(names)


def test_t40_and_d27_bounds(spark):
    for r in E.queries()["t40_stopword_profile"](spark, SF).collect():
        assert 0 <= r["stop_tokens"] <= r["total_tokens"]
        if r["total_tokens"]:
            assert 0.0 <= r["stop_ratio"] <= 1.0
    for r in E.queries()["d27_cluster_purity"](spark, SF).collect():
        assert r["cluster_size"] >= 2
        assert 0.0 < r["majority_share"] <= 1.0


def test_anti_join_null_key_parity(spark, tmp_path):
    """r13 anti-join NULL-parity audit (the q107 ADVICE class): with a
    planted NULL l_suppkey line, the two anti-join-vs-exclusion-list
    queries must still hash-match their oracles — q107 drops NULL keys
    explicitly to match its NOT IN oracle; q90's oracle is stated as
    NOT EXISTS to match anti-join three-valued logic. No shipped
    fixture NULLs a join key, so this corpus is the only standing
    coverage of the divergence both fixes close."""
    import os
    import shutil

    import duckdb

    from end_to_end_sales_etl_de_project_spark.testing import (
        compare_spark_to_oracle,
        duckdb_connection,
        run_oracle,
    )

    out = str(tmp_path)
    for f in os.listdir(SF):
        if not f.startswith("lineitem"):
            shutil.copy(f"{SF}/{f}", f"{out}/{f}")
    duckdb.connect().execute(
        f"""
COPY (
  SELECT * FROM read_parquet('{SF}/lineitem.parquet')
  UNION ALL
  SELECT 7777777, CAST(1 AS BIGINT), NULL, 1, CAST(1.0 AS DOUBLE),
         CAST(10.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
         'N', 'O', TIMESTAMP '2000-01-01 00:00:00'
) TO '{out}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con = duckdb_connection(out)
    try:
        for name in ("q90_supplier_diversity", "q107_supplier_part_breadth"):
            r = compare_spark_to_oracle(
                name,
                E.queries()[name](spark, out),
                run_oracle(con, E.oracle_sql()[name]),
            )
            assert r.match, f"{name}: {r.mismatches[:3]}"
    finally:
        con.close()
