"""Crash-window recovery: a swap that dies between its two renames
leaves state only in .bak — every consumer must rename it back instead
of silently proceeding from nothing (ADVICE r1: materialized mart would
lose accumulated history; ledger would wave through double-processing)."""

from __future__ import annotations

import os

import pytest

from end_to_end_sales_etl_de_project_spark import pipeline
from end_to_end_sales_etl_de_project_spark.config import (
    ROUTE_PROCESSED,
    STATUS_COMPLETED,
    STATUS_START,
)
from end_to_end_sales_etl_de_project_spark.ledger import LEDGER_SCHEMA, Ledger
from end_to_end_sales_etl_de_project_spark.pipeline import CrashDetectedError, run_pipeline
from end_to_end_sales_etl_de_project_spark.streaming.materialized import _fold_batch
from end_to_end_sales_etl_de_project_spark.writers import (
    compact_parquet,
    delete_keys_parquet,
    swap_in,
)
from tests.fixtures import dim_dataframes, write_sales_fixture_files


def test_ledger_crash_between_compact_renames_is_healed(spark, tmp_path):
    led = Ledger(spark, str(tmp_path / "ledger"))
    led.mark_start({"a.csv": "/in", "b.csv": "/in"})
    led.mark_completed(["a.csv"])

    # simulate compact() dying after rename(live -> .bak)
    os.rename(led.path, led.path + ".bak")

    # crash check must still see b.csv stuck in START (empty would pass)
    assert led.stuck_in_start() == ["b.csv"]
    assert os.path.exists(led.path) and not os.path.exists(led.path + ".bak")

    # and compact() from the healed state keeps one event per file
    assert led.compact() == 2
    to_process, done = led.split_processed(["a.csv", "b.csv"])
    assert to_process == ["b.csv"] and done == ["a.csv"]


def test_ledger_compact_after_crash_midwindow(spark, tmp_path):
    led = Ledger(spark, str(tmp_path / "ledger2"))
    led.mark_start({"x.csv": "/in"})
    os.rename(led.path, led.path + ".bak")
    # compact() itself must heal before reading
    assert led.compact() == 1
    assert led.current_state().collect()[0]["status"] == STATUS_START


def _batch(spark, rows):
    return spark.createDataFrame(rows, "user_id long, event_type string, value double")


def test_fold_batch_crash_between_renames_keeps_history(spark, tmp_path):
    mart = str(tmp_path / "mart")
    _fold_batch(spark, mart, _batch(spark, [(1, "click", 10.0), (2, "buy", 5.0)]), 0)

    # simulate the fold of epoch 1 dying after rename(mart -> .bak)
    os.rename(mart, mart + ".bak")

    # replay of epoch 1 must restore history and fold on top of it
    _fold_batch(spark, mart, _batch(spark, [(1, "click", 2.0)]), 1)
    got = {
        (r.user_id, r.event_type): (r.n_events, r.total_value)
        for r in spark.read.parquet(mart).collect()
    }
    assert got == {(1, "click"): (2, 12.0), (2, "buy"): (1, 5.0)}
    assert not os.path.exists(mart + ".bak")


def test_fold_batch_replayed_epoch_after_crash_not_double_folded(spark, tmp_path):
    mart = str(tmp_path / "mart2")
    _fold_batch(spark, mart, _batch(spark, [(1, "click", 10.0)]), 0)
    _fold_batch(spark, mart, _batch(spark, [(1, "click", 1.0)]), 1)

    # crash after epoch 1 committed; restart replays epoch 1
    os.rename(mart, mart + ".bak")
    _fold_batch(spark, mart, _batch(spark, [(1, "click", 1.0)]), 1)

    got = spark.read.parquet(mart).collect()[0]
    assert (got.n_events, got.total_value) == (2, 11.0)  # not 3 / 12.0


def test_ledger_append_cost_bounded_by_compaction(spark, tmp_path):
    """VERDICT r4 #8: _append's max(seq) probe reads one parquet footer
    per ledger FILE — O(appends) control plane on a long-lived ledger.
    compact() is the documented bound. Pin it at a 1k-file ledger:
    synthesize 1000 single-event append files directly (pyarrow — the
    shape 1000 real _append calls produce), then assert compact folds
    the directory to O(1) files, keeps exactly the live state, and the
    next append scans the compacted file count, not 1000."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from end_to_end_sales_etl_de_project_spark.config import (
        STATUS_COMPLETED,
        STATUS_START,
    )

    led = Ledger(spark, str(tmp_path / "ledger1k"))
    os.makedirs(led.path)
    t0 = dt.datetime(2026, 1, 1)
    # 500 files: START for f000..f499, then 500 files: COMPLETED for
    # the even half — latest state: 250 START, 250 COMPLETED... plus
    # odd files completed never -> live rows = 500
    for i in range(1000):
        name = f"f{i % 500:03d}.csv"
        status = STATUS_START if i < 500 else STATUS_COMPLETED
        if i >= 500 and (i % 2 == 1):
            continue  # odd files stay START
        tbl = pa.table(
            {
                "file_name": pa.array([name], pa.string()),
                "file_location": pa.array(["/in"], pa.string()),
                "created_date": pa.array([t0], pa.timestamp("us")),
                "status": pa.array([status], pa.string()),
                "seq": pa.array([i + 1], pa.int64()),
            }
        )
        pq.write_table(tbl, os.path.join(led.path, f"part-{i:05d}.parquet"))

    def n_files():
        return sum(1 for n in os.listdir(led.path) if n.endswith(".parquet"))

    assert n_files() == 750  # 500 STARTs + 250 COMPLETEDs
    assert led._max_seq() == 999  # footer-stats path sees every file

    live = led.compact()
    assert live == 500  # one latest event per distinct file
    assert n_files() <= 4, "compact must fold the ledger to O(1) files"

    # append cost is now bounded: the footer probe touches the compacted
    # files plus this append's own output, never the original 750
    led.mark_completed(["f001.csv"])
    assert n_files() <= 5
    # and seq stayed strictly monotonic across the compaction
    assert led._max_seq() > 999
    to_process, done = led.split_processed(["f001.csv", "f003.csv"])
    assert done == ["f001.csv"] and to_process == ["f003.csv"]


# --- crash matrix: a failure at every step boundary of run_pipeline ------

VALID_FILES = ["sales_extra.csv", "sales_jan.csv", "sales_mar.csv"]
SINKS = [
    "customer_mart",
    "sales_team_mart",
    "customer_monthly_purchase",
    "sales_team_incentive",
]


class InjectedCrash(RuntimeError):
    pass


def _always(*args, **kwargs):
    return True


def _sink_is(sink):
    return lambda df, path, **kwargs: os.path.basename(path) == sink


def _into_archive(src, dst):
    return f"{os.sep}{ROUTE_PROCESSED}{os.sep}" in dst


# step -> (owner, attribute, when-to-raise predicate over the call's args)
AFTER_START = {
    "read": (pipeline, "read_sales_csv", _always),
    "enrich": (pipeline, "enrich_sales", _always),
    **{f"write-{s}": (pipeline, "write_parquet", _sink_is(s)) for s in SINKS},
    "archive": (pipeline.shutil, "move", _into_archive),
    "mark_completed": (Ledger, "mark_completed", _always),
}
BEFORE_START = {
    "validate": (pipeline, "validate_files", _always),
    "quarantine": (pipeline, "quarantine", _always),
    "split_processed": (Ledger, "split_processed", _always),
}


def _inject(monkeypatch, owner, attr, when):
    orig = getattr(owner, attr)

    def failing(*args, **kwargs):
        if when(*args, **kwargs):
            raise InjectedCrash(attr)
        return orig(*args, **kwargs)

    monkeypatch.setattr(owner, attr, failing)


@pytest.fixture()
def landing(spark, tmp_path):
    write_sales_fixture_files(str(tmp_path / "landing"))
    ledger = Ledger(spark, str(tmp_path / "ledger"))
    dims = dim_dataframes(spark)

    def run(ts):
        return run_pipeline(
            spark, str(tmp_path / "landing"), str(tmp_path / "out"), dims, ledger, run_ts=ts
        )

    return run, ledger


@pytest.mark.parametrize("step", list(AFTER_START))
def test_crash_after_mark_start_aborts_next_run(landing, monkeypatch, step):
    run, ledger = landing
    _inject(monkeypatch, *AFTER_START[step])
    with pytest.raises(InjectedCrash):
        run("run1")
    monkeypatch.undo()

    assert ledger.stuck_in_start() == VALID_FILES
    with pytest.raises(CrashDetectedError) as err:
        run("run2")
    for name in VALID_FILES:
        assert name in str(err.value)


@pytest.mark.parametrize("step", list(BEFORE_START))
def test_crash_before_mark_start_leaves_next_run_normal(landing, monkeypatch, step):
    run, ledger = landing
    _inject(monkeypatch, *BEFORE_START[step])
    with pytest.raises(InjectedCrash):
        run("run1")
    monkeypatch.undo()

    assert ledger.stuck_in_start() == []
    result = run("run2")
    assert sorted(result.processed_files) == VALID_FILES
    assert result.row_counts["customer_mart"] == 10
    assert ledger.stuck_in_start() == []
    assert ledger.split_processed(VALID_FILES) == ([], VALID_FILES)


# --- format compatibility with Spark-written ledgers ---------------------


def test_spark_written_ledger_reads_the_same(spark, tmp_path):
    """A log written the way Spark writes it (createDataFrame ->
    parquet, INT96 timestamps, several append files, an equal-seq tie)
    folds to the same state the window ranking gives, and driver-side
    appends to it stay readable by Spark."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    path = str(tmp_path / "spark_ledger")
    t0 = dt.datetime(2026, 1, 1)
    appends = [
        [("a.csv", "/in", STATUS_START, 10), ("b.csv", "/in", STATUS_START, 12)],
        [("a.csv", "", STATUS_COMPLETED, 11), ("d.csv", "/in", STATUS_START, 13)],
        # equal-seq tie (a pre-fix ledger): resolves to COMPLETED
        [("c.csv", "/in", STATUS_START, 14), ("c.csv", "", STATUS_COMPLETED, 14)],
        [("d.csv", "", STATUS_COMPLETED, 15), ("d.csv", "/in", STATUS_START, 16)],
    ]
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        for batch in appends:
            rows = [(n, loc, t0, st, seq) for n, loc, st, seq in batch]
            spark.createDataFrame(rows, LEDGER_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(path)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    led = Ledger(spark, path)
    w = Window.partitionBy("file_name").orderBy(F.col("seq").desc(), F.col("status").asc())
    ranked = (
        led.events().withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    )
    window_state = {r["file_name"]: r["status"] for r in ranked}
    assert window_state == {
        "a.csv": STATUS_COMPLETED,
        "b.csv": STATUS_START,
        "c.csv": STATUS_COMPLETED,
        "d.csv": STATUS_START,
    }
    assert led.stuck_in_start() == ["b.csv", "d.csv"]
    assert led.split_processed(["a.csv", "b.csv", "c.csv", "e.csv"]) == (
        ["b.csv", "e.csv"],
        ["a.csv", "c.csv"],
    )
    def by_file(rows):
        return {r["file_name"]: (r["status"], r["seq"], r["created_date"]) for r in rows}

    assert by_file(led.current_state().collect()) == by_file(ranked)
    assert led._max_seq() == 16

    led.mark_completed(["b.csv"])
    assert led.events().count() == 9
    assert led.stuck_in_start() == ["d.csv"]
    assert led._max_seq() > 16


# --- the directory swap: heal and rollback -------------------------------


def _table(spark, path):
    spark.range(0, 50).selectExpr("id", "id * 3 AS v").repartition(4).write.parquet(path)
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_compact_parquet_heals_crash_between_renames(spark, tmp_path):
    path = str(tmp_path / "tbl")
    before = _table(spark, path)
    os.rename(path, path + ".bak")  # a swap that died after its first rename

    assert compact_parquet(spark, path) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
    assert not os.path.exists(path + ".bak")


def test_delete_keys_parquet_heals_crash_between_renames(spark, tmp_path):
    path = str(tmp_path / "tbl")
    before = _table(spark, path)
    os.rename(path, path + ".bak")

    doomed = spark.createDataFrame([(3,)], "id long")
    assert delete_keys_parquet(spark, path, doomed, "id") == 1
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == [r for r in before if r[0] != 3]
    assert not os.path.exists(path + ".bak")


def test_swap_in_rolls_back_when_commit_rename_fails(tmp_path, monkeypatch):
    path, staged = str(tmp_path / "live"), str(tmp_path / "live.staged")
    for d, body in ((path, "old"), (staged, "new")):
        os.makedirs(d)
        with open(os.path.join(d, "part"), "w") as f:
            f.write(body)
    real_rename = os.rename

    def failing_rename(src, dst):
        if src == staged:
            raise OSError("injected")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        swap_in(staged, path)
    monkeypatch.undo()

    with open(os.path.join(path, "part")) as f:
        assert f.read() == "old"
    assert not os.path.exists(staged) and not os.path.exists(path + ".bak")
