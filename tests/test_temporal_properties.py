"""Property tests for the temporal joins against independent references:
asof_join vs pandas.merge_asof, range_join_bucketed vs a brute-force
pair scan — on hypothesis-generated irregular timestamp data."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from end_to_end_sales_etl_de_project_spark.operators.temporal_joins import (
    asof_join,
    range_join_bucketed,
)

BASE = dt.datetime(2024, 1, 1)

# events: (key, seconds offset) — duplicates and unordered input allowed
EVENTS = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 7200)), min_size=1, max_size=25
)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(left=EVENTS, right=EVENTS)
@settings(**_SETTINGS)
def test_asof_matches_pandas_merge_asof(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, BASE + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)],
        "event_id long, user_id long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), float(i)) for i, (k, s) in enumerate(right)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        r["event_id"]: (r["ts_right"], r["value_right"])
        for r in asof_join(ldf, rdf, right_cols=["ts", "value"]).collect()
    }

    lp = pd.DataFrame(
        [(i, k, BASE + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)],
        columns=["event_id", "user_id", "ts"],
    ).sort_values(["ts", "event_id"])
    rp = (
        pd.DataFrame(
            [(k, BASE + dt.timedelta(seconds=s), float(i)) for i, (k, s) in enumerate(right)],
            columns=["user_id", "ts", "value"],
        )
        # pandas merge_asof picks the LAST of equal-ts right rows within a
        # key; our window formulation does the same (later __ts sorts later)
        .sort_values("ts", kind="stable")
    )
    merged = pd.merge_asof(lp, rp, on="ts", by="user_id", direction="backward")
    for row in merged.itertuples(index=False):
        got_ts, got_val = got[row.event_id]
        if pd.isna(row.value):  # right values are never null here ⇒ no match
            assert got_ts is None and got_val is None, (row, got_ts, got_val)
        else:
            assert got_val == row.value, (row, got_ts, got_val)


@given(events=EVENTS, gap=st.integers(60, 1200))
@settings(**_SETTINGS)
def test_range_join_matches_bruteforce(spark, events, gap):
    rows = [
        (i, k, BASE + dt.timedelta(seconds=s), "t")
        for i, (k, s) in enumerate(events)
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = {
        (r["id_a"], r["id_b"])
        for r in range_join_bucketed(ev, max_gap_seconds=gap).collect()
    }
    want = set()
    for i, (ka, sa) in enumerate(events):
        for j, (kb, sb) in enumerate(events):
            if i < j and ka == kb and abs(sb - sa) <= gap:
                want.add((i, j))
    assert got == want


def test_change_intervals_partition_the_event_stream(spark, sf_dir):
    """e13 invariants: per user, intervals ordered by valid_from never
    overlap, adjacent intervals always change state, and every event is
    in exactly one interval (counts partition the per-user total)."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES
    from end_to_end_sales_etl_de_project_spark.sources.tables import load_table

    out = QUERIES["e13_change_intervals"](spark, sf_dir)
    rows = out.orderBy("user_id", "valid_from", "valid_to").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
        assert r["valid_from"] <= r["valid_to"]
        assert r["n_events"] >= 1
    for user, ivs in by_user.items():
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] <= b["valid_from"]
            assert a["event_type"] != b["event_type"]
    ev = load_table(spark, sf_dir, "events")
    totals = {r["user_id"]: r["n"] for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    for user, ivs in by_user.items():
        assert sum(r["n_events"] for r in ivs) == totals[user]


def test_gap_fill_locf_invariants(spark, sf_dir):
    """e17 invariants on real data: per-user spine is dense hourly,
    gap rows carry n_events=0, and filled_value on a gap equals the
    most recent non-gap hour's total."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES

    rows = QUERIES["e17_gap_fill_locf"](spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user, "gap-fill returned no rows"
    checked_gaps = 0
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r["hour"])
        # dense hourly spine
        for a, b in zip(rs, rs[1:]):
            assert (b["hour"] - a["hour"]).total_seconds() == 3600, user
        # first row is the user's first ACTIVE hour — never a gap
        assert not rs[0]["is_gap"]
        last_observed = None
        for r in rs:
            if r["is_gap"]:
                assert r["n_events"] == 0
                assert r["filled_value"] == last_observed
                checked_gaps += 1
            else:
                assert r["n_events"] > 0
                last_observed = r["filled_value"]
    assert checked_gaps > 0, "corpus produced no gaps — test is vacuous"


def test_late_event_audit_planted(spark):
    """The sf corpus arrives in event-time order (e20 reports zeros),
    so this plants out-of-order arrivals and pins the lateness math:
    arrival order is event_id, lateness is against the running
    high-water mark, and the 10-minute bucket only counts true
    stragglers."""
    import datetime as dt

    from end_to_end_sales_etl_de_project_spark.plans.events import (
        e20_late_event_audit,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def row(eid, offset_s, user=1):
        return (eid, t0 + dt.timedelta(seconds=offset_s), user, "view", 1.0, "{}")

    rows = [
        row(1, 0),
        row(2, 1000),
        row(3, 400),    # 600s behind high-water 1000 — out-of-order, not >600
        row(4, 2000),
        row(5, 100),    # 1900s behind high-water 2000 — late beyond 10m
        (6, t0, 2, "view", 1.0, "{}"),  # user 2: single event, never late
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    import end_to_end_sales_etl_de_project_spark.sources.tables as tables
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf_dir, name: ev
        # plans module binds load_table at import; patch via its globals
        import end_to_end_sales_etl_de_project_spark.plans.events as pe
        pe_orig = pe.load_table
        pe.load_table = lambda spark, sf_dir, name: ev
        try:
            out = {r["user_id"]: r for r in e20_late_event_audit(spark, "unused").collect()}
        finally:
            pe.load_table = pe_orig
    finally:
        tables.load_table = orig
    u1 = out[1]
    assert u1["n_events"] == 5
    assert u1["n_out_of_order"] == 2          # events 3 and 5
    assert u1["n_late_10m"] == 1              # only event 5 (1900s > 600s)
    assert u1["max_lateness_s"] == 1900
    u2 = out[2]
    assert u2["n_out_of_order"] == 0 and u2["max_lateness_s"] == 0
