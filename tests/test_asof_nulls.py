"""Regression: as-of join must carry the matched right row WHOLE — a
NULL in one payload column must not be replaced by an older row's value
(the torn-row bug found in review)."""

from __future__ import annotations

import datetime as dt

from end_to_end_sales_etl_de_project_spark.operators.temporal_joins import asof_join

T = dt.datetime


def test_asof_null_payload_not_torn(spark):
    left = spark.createDataFrame(
        [(1, 9, T(2024, 1, 1, 11, 30), 5.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(9, T(2024, 1, 1, 10, 0), 5.0), (9, T(2024, 1, 1, 11, 0), None)],
        "user_id long, ts timestamp, value double",
    )
    out = asof_join(left, right, right_cols=["ts", "value"]).collect()
    assert len(out) == 1
    r = out[0]
    # latest right row at 11:00 has value NULL: must match WITH its null,
    # not resurrect 10:00's value 5.0
    assert r["ts_right"] == T(2024, 1, 1, 11, 0)
    assert r["value_right"] is None
