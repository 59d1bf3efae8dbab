"""Structured Streaming tests: batch ≡ streaming equivalence, stateful
custom operator, and checkpoint-based exactly-once ingestion (the
reference's staging-ledger guarantees, SURVEY §2.9)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from end_to_end_sales_etl_de_project_spark.plans.events import (
    e01_tumbling_hourly,
    e02_sliding_hourly_30m,
    e03_session_window,
)
from end_to_end_sales_etl_de_project_spark.streaming.events import (
    interval_join_stream,
    read_events_stream,
    run_to_memory_sink,
    session_stream,
    sliding_stream,
    start_checkpointed_ingestion,
    tumbling_stream,
)
from end_to_end_sales_etl_de_project_spark.streaming.stateful import running_user_profile


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="engine-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def events_src(sf_dir, tmpdir):
    """File-stream sources watch a directory; stage the events parquet
    into one (what a landing zone looks like in production)."""
    src = f"{tmpdir}/landing"
    import os

    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events-000.parquet")
    return src


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, sf_dir, events_src):
    stream = read_events_stream(spark, events_src, max_files_per_trigger=1)
    result = run_to_memory_sink(tumbling_stream(stream), "tumbling_test", "complete")
    batch = e01_tumbling_hourly(spark, sf_dir)
    assert _canon(result) == _canon(batch)


def test_sliding_stream_equals_batch(spark, sf_dir, events_src):
    stream = read_events_stream(spark, events_src)
    result = run_to_memory_sink(sliding_stream(stream), "sliding_test", "complete")
    assert _canon(result) == _canon(e02_sliding_hourly_30m(spark, sf_dir))


def test_session_stream_equals_batch(spark, sf_dir, events_src):
    stream = read_events_stream(spark, events_src)
    result = run_to_memory_sink(session_stream(stream), "session_test", "complete")
    assert _canon(result) == _canon(e03_session_window(spark, sf_dir))


def test_interval_join_stream_equals_batch(spark, sf_dir, events_src):
    """Stream-stream interval join (purchase ⋈ preceding same-user
    views) must produce exactly the batch join of the same input."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.sources.tables import load_table

    purchases_s = read_events_stream(spark, events_src).filter(
        F.col("event_type") == "purchase"
    )
    views_s = read_events_stream(spark, events_src).filter(
        F.col("event_type") == "view"
    )
    result = run_to_memory_sink(
        interval_join_stream(purchases_s, views_s), "ssjoin_test", "append"
    )

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("id_l"),
        "user_id",
        F.col("ts").alias("ts_l"),
        F.col("value").alias("value_l"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("id_r"),
        F.col("user_id").alias("user_r"),
        F.col("ts").alias("ts_r"),
        F.col("value").alias("value_r"),
    )
    batch = p.join(
        v,
        (p["user_id"] == v["user_r"])
        & (v["ts_r"] >= p["ts_l"] - F.expr("INTERVAL 600 SECONDS"))
        & (v["ts_r"] <= p["ts_l"]),
        "inner",
    ).drop("user_r")
    assert len(_canon(result)) > 0, "join produced no rows — vacuous test"
    assert _canon(result) == _canon(batch)


def test_stateful_running_profile(spark, sf_dir, events_src):
    stream = read_events_stream(spark, events_src)
    result = run_to_memory_sink(running_user_profile(stream), "profile_test", "update")
    rows = {r["user_id"]: r for r in result.collect()}
    # final state must equal the batch rollup
    batch = (
        e01_tumbling_hourly(spark, sf_dir)  # reuse loader plumbing for events
        .sparkSession.read.parquet(f"{sf_dir}/events.parquet")
    )
    import pyspark.sql.functions as F

    expected = (
        batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .collect()
    )
    for e in expected:
        got = rows[e["user_id"]]
        assert got["n_events"] == e["n"]
        assert abs(got["total_value"] - e["v"]) < 0.02


def test_checkpointed_ingestion_exactly_once(spark, sf_dir, tmpdir, events_src):
    dest, ckpt = f"{tmpdir}/dest", f"{tmpdir}/ckpt"
    src = events_src
    n_src = spark.read.parquet(src).count()

    q = start_checkpointed_ingestion(spark, src, dest, ckpt)
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(dest).count() == n_src

    # restart over the same source: checkpoint must prevent reprocessing
    q2 = start_checkpointed_ingestion(spark, src, dest, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(dest).count() == n_src


def test_dedup_stream_drops_redelivered_events(spark, sf_dir, events_src, tmpdir):
    """Deliver the same events twice (two files) — the watermarked
    streaming dedup must emit each event_id exactly once."""
    shutil.copy(f"{sf_dir}/events.parquet", f"{events_src}/events-dup.parquet")
    from end_to_end_sales_etl_de_project_spark.streaming.events import dedup_stream

    stream = read_events_stream(spark, events_src, max_files_per_trigger=1)
    result = run_to_memory_sink(dedup_stream(stream), "dedup_test", "append")
    n_unique = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    got = result.count()
    assert got == n_unique, f"expected {n_unique} unique events, got {got}"


def test_materialized_rollup_equals_batch(spark, sf_dir, events_src, tmpdir):
    """Stream events through the incrementally-maintained mart
    (foreachBatch + upsert) in 1-file micro-batches, then a second file
    arrives; final mart must equal the batch rollup over everything."""
    from end_to_end_sales_etl_de_project_spark.streaming.materialized import (
        start_materialized_rollup,
    )
    import pyspark.sql.functions as F
    from end_to_end_sales_etl_de_project_spark.functions.scalar import money

    mart, ckpt = f"{tmpdir}/mart", f"{tmpdir}/ckpt-mv"
    stream = read_events_stream(spark, events_src, max_files_per_trigger=1)
    q = start_materialized_rollup(spark, stream, mart, ckpt)
    q.processAllAvailable()
    # late second delivery: half the events again (duplicates on purpose —
    # the mart is additive, so totals must reflect BOTH deliveries)
    import duckdb as dk

    dk.connect().execute(
        f"COPY (SELECT * FROM read_parquet('{sf_dir}/events.parquet') WHERE event_id % 2 = 0)"
        f" TO '{events_src}/later.parquet' (FORMAT PARquet)"
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.user_id, r.event_type): (r.n_events, r.total_value)
        for r in spark.read.parquet(mart).collect()
    }
    all_events = spark.read.parquet(f"{sf_dir}/events.parquet")
    half = all_events.filter("event_id % 2 = 0")
    expected_df = (
        all_events.unionByName(half)
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("v"),
        )
    )
    expected = {(r.user_id, r.event_type): (r.n, r.v) for r in expected_df.collect()}
    assert got == expected


def test_watermark_drops_late_data(spark, tmpdir):
    """An event older than the watermark horizon must be DROPPED from a
    watermarked aggregation once the watermark has advanced past it —
    the bounded-state guarantee the streaming module claims."""
    import datetime as dt
    import duckdb as dk

    land = f"{tmpdir}/wm-landing"
    import os

    os.makedirs(land)
    T0 = "2024-06-01 00:00:00"
    # batch 1: an event at T0+10h advances the watermark to T0+8h (2h delay)
    dk.connect().execute(
        f"""COPY (SELECT 1::BIGINT AS event_id, TIMESTAMP '{T0}' + INTERVAL 10 HOUR AS ts,
                  1::BIGINT AS user_id, 'a' AS event_type, 1.0 AS value, '' AS props)
            TO '{land}/b1.parquet' (FORMAT PARQUET)"""
    )
    from end_to_end_sales_etl_de_project_spark.streaming.events import (
        read_events_stream,
        tumbling_stream,
    )

    stream = read_events_stream(spark, land, max_files_per_trigger=1)
    q = (
        tumbling_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .start()
    )
    q.processAllAvailable()
    # batch 2: an event at T0 — 8h behind the watermark → must be dropped
    dk.connect().execute(
        f"""COPY (SELECT 2::BIGINT AS event_id, TIMESTAMP '{T0}' AS ts,
                  1::BIGINT AS user_id, 'a' AS event_type, 1.0 AS value, '' AS props)
            TO '{land}/b2.parquet' (FORMAT PARQUET)"""
    )
    q.processAllAvailable()
    # batch 3: advance watermark far enough to close+emit all live windows
    dk.connect().execute(
        f"""COPY (SELECT 3::BIGINT AS event_id, TIMESTAMP '{T0}' + INTERVAL 30 HOUR AS ts,
                  1::BIGINT AS user_id, 'a' AS event_type, 1.0 AS value, '' AS props)
            TO '{land}/b3.parquet' (FORMAT PARQUET)"""
    )
    q.processAllAvailable()
    q.stop()
    emitted = {r["window_start"] for r in spark.sql("SELECT * FROM wm_test").collect()}
    late_window = dt.datetime(2024, 6, 1, 0, 0)
    on_time_window = dt.datetime(2024, 6, 1, 10, 0)
    assert on_time_window in emitted
    assert late_window not in emitted  # the late event left no window


def test_change_interval_stream_emits_closed_runs(spark, sf_dir, events_src):
    """Streaming run-length encoding: the closed intervals emitted by
    the stream must equal the batch e13 intervals minus each user's
    final (still-open) run, with bit-identical totals."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES
    from end_to_end_sales_etl_de_project_spark.streaming.stateful import (
        change_interval_stream,
    )

    stream = read_events_stream(spark, events_src)
    result = run_to_memory_sink(
        change_interval_stream(stream), "intervals_test", "append"
    )
    got = _canon(result)
    batch = QUERIES["e13_change_intervals"](spark, sf_dir)
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("valid_from"))
    closed_batch = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)  # drop each user's open (latest) run
        .drop("rn")
        .select(
            "user_id", "event_type", "valid_from", "valid_to", "n_events", "total_value"
        )
    )
    assert len(got) > 0, "no closed intervals — vacuous test"
    assert got == _canon(closed_batch)


def test_rolling_window_stream_equals_batch(spark, sf_dir, events_src):
    """Per-event trailing-1h stateful stream must equal the batch e16
    RANGE-frame window bit-for-bit (peers-inclusive seconds, exact
    cents)."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES
    from end_to_end_sales_etl_de_project_spark.streaming.stateful import (
        rolling_window_stream,
    )

    stream = read_events_stream(spark, events_src)
    result = run_to_memory_sink(
        rolling_window_stream(stream), "rolling_test", "append"
    )
    batch = QUERIES["e16_rolling_1h"](spark, sf_dir).select(
        "event_id", "user_id", "ts", "n_1h", "value_1h"
    )
    got = _canon(result)
    assert len(got) > 0
    assert got == _canon(batch)


def test_ewma_stream_matches_batch_fold(spark, sf_dir, events_src):
    """The stream's row at each user's LAST event must equal batch
    e22_ewma bit-for-bit (alpha=0.5 folds are exact halvings — any
    drift means the fold order diverged)."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES
    from end_to_end_sales_etl_de_project_spark.streaming.stateful import ewma_stream

    stream = read_events_stream(spark, events_src)
    result = run_to_memory_sink(ewma_stream(stream), "ewma_test", "append")
    rows = result.collect()
    assert rows
    last = {}
    for r in rows:
        k = r["user_id"]
        if k not in last or (r["ts"], r["event_id"]) > (last[k]["ts"], last[k]["event_id"]):
            last[k] = r
    batch = {
        r["user_id"]: r
        for r in QUERIES["e22_ewma"](spark, sf_dir).collect()
    }
    assert set(last) == set(batch)
    for k, r in last.items():
        b = batch[k]
        assert r["n_events"] == b["n_events"], k
        assert r["ts"] == b["last_ts"], k
        assert r["ewma_value"] == b["ewma_value"], (k, r["ewma_value"], b["ewma_value"])


def test_hourly_active_stream_equals_batch_distinct(spark, sf_dir, events_src):
    """Streaming COUNT(DISTINCT) via the dedup-then-count decomposition
    must equal batch e21's exact distinct-user column — including under
    at-least-once redelivery (the same file delivered twice), which the
    pair-dedup stage must absorb. n_buyers composes as pre-filter +
    the same operator."""
    import pyspark.sql.functions as F

    from end_to_end_sales_etl_de_project_spark.plans.events import (
        e21_hourly_active_users,
    )
    from end_to_end_sales_etl_de_project_spark.streaming.events import (
        hourly_active_stream,
    )

    shutil.copy(f"{sf_dir}/events.parquet", f"{events_src}/events-redeliver.parquet")
    stream = read_events_stream(spark, events_src, max_files_per_trigger=1)
    result = run_to_memory_sink(
        hourly_active_stream(stream), "hau_test", "complete"
    )
    batch = e21_hourly_active_users(spark, sf_dir).select(
        "window_start", "n_users"
    )
    assert _canon(result) == _canon(batch)

    # n_buyers: same decomposition over the purchase-filtered stream
    stream2 = read_events_stream(spark, events_src, max_files_per_trigger=2)
    buyers = run_to_memory_sink(
        hourly_active_stream(stream2.filter(F.col("event_type") == "purchase")),
        "hau_buyers_test",
        "complete",
    )
    batch_buyers = (
        e21_hourly_active_users(spark, sf_dir)
        .filter(F.col("n_buyers") > 0)
        .select("window_start", F.col("n_buyers").alias("n_users"))
    )
    assert _canon(buyers) == _canon(batch_buyers)


def test_anomaly_stream_matches_batch_scoring(spark, sf_dir, events_src):
    """Stream-scored hourly windows must equal e29 bit-for-bit when the
    stream is armed with the batch-fitted median/MAD (offline fit →
    online score is the production split; the arithmetic is shared)."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES
    from end_to_end_sales_etl_de_project_spark.streaming.events import (
        anomaly_score_stream,
    )

    batch = QUERIES["e29_hourly_mad_outliers"](spark, sf_dir)
    first = batch.limit(1).collect()[0]
    med, mad = first["median_n"], first["mad_n"]
    stream = read_events_stream(spark, events_src)
    result = run_to_memory_sink(
        anomaly_score_stream(stream, med, mad), "anomaly_test", "complete"
    )
    got = _canon(result)
    want = _canon(batch.select("hour", "n_events", "robust_z", "is_outlier"))
    assert got == want
    assert len(got) > 0


# ---------------------------------------------------------------------------
# streaming document-ingest quality gate (streaming/documents.py)
# ---------------------------------------------------------------------------


@pytest.fixture()
def docs_src(spark, sf_dir, tmpdir):
    """Landing zone = the corpus file + a second 'arriving' file with
    planted gate-rejected docs (the sf0.001 corpus alone is all-'ok',
    which would make the admission split vacuous)."""
    src = f"{tmpdir}/doc-landing"
    import os

    os.makedirs(src)
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/docs-000.parquet")
    import duckdb as dk

    puncty = "!!! ??? !!! ??? " * 12
    dk.connect().execute(
        "COPY (SELECT * FROM (VALUES "
        "(100001, 'too short', 'en', 'planted', 9), "
        f"(100002, '{puncty}', 'en', 'planted', {len(puncty)})"
        ") t(doc_id, text, lang, source, n_chars)) "
        f"TO '{src}/docs-001.parquet' (FORMAT PARQUET)"
    )
    return src


def test_doc_quality_gate_stream_equals_batch(spark, docs_src):
    """Per-doc admission decisions: stream output must be row-for-row
    identical to the same gate over the static table (stateless
    projection ⇒ exact, not approximate, equality)."""
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        quality_gate,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, docs_src)
    result = run_to_memory_sink(quality_gate(stream), "doc_gate_test", "append")
    batch = quality_gate(spark.read.parquet(docs_src))
    got, want = _canon(result), _canon(batch)
    assert len(want) > 0 and got == want
    # the gate must actually split the corpus (non-vacuous fixture)
    admitted = {r for r in want if r[4]}
    assert 0 < len(admitted) < len(want)


def test_doc_ingest_accounting_stream_equals_batch(spark, docs_src):
    """Per-(source, bucket) admission totals in complete mode must
    equal the batch rollup bit-for-bit (integer counts/sums only)."""
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        ingest_accounting,
        quality_gate,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, docs_src)
    result = run_to_memory_sink(
        ingest_accounting(quality_gate(stream)), "doc_acct_test", "complete"
    )
    batch = ingest_accounting(quality_gate(spark.read.parquet(docs_src)))
    assert len(_canon(result)) > 0
    assert _canon(result) == _canon(batch)


def test_doc_stream_arms_on_empty_landing_zone(spark, tmpdir):
    """The canonical schema default lets ingestion start BEFORE any
    file arrives — the failure mode read_events_stream documents."""
    import os

    src = f"{tmpdir}/empty-landing"
    os.makedirs(src)
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        quality_gate,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, src)
    result = run_to_memory_sink(quality_gate(stream), "doc_empty_test", "append")
    assert result.collect() == []


def test_doc_dedup_stream_admits_each_content_once(spark, sf_dir, docs_src):
    """Redeliver the corpus file — every distinct text hash must be
    admitted exactly once across both deliveries."""
    shutil.copy(f"{sf_dir}/documents.parquet", f"{docs_src}/docs-redelivered.parquet")
    from end_to_end_sales_etl_de_project_spark.functions.hashing import h60
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        dedup_documents_stream,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, docs_src)
    result = run_to_memory_sink(
        dedup_documents_stream(stream), "doc_dedup_test", "append"
    )
    hashes = [r["text_hash"] for r in result.select("text_hash").collect()]
    assert len(hashes) == len(set(hashes)), "a content hash was admitted twice"
    n_distinct = (
        spark.read.parquet(docs_src).select(h60("text").alias("h")).distinct().count()
    )
    assert len(hashes) == n_distinct


def test_doc_dedup_stream_nulls_pass_state_is_bounded(spark, tmpdir):
    """NULL-text docs pass the dedup door UNDEDUPED (no content to
    compare — the downstream quality gate judges them), and the
    dedup state is exactly one row per distinct non-NULL doc,
    measured from the query's stateOperators progress metrics (the
    quantified bound the docstring promises)."""
    import os

    import duckdb as dk

    src = f"{tmpdir}/doc-dedup-nulls"
    os.makedirs(src)
    dk.connect().execute(
        "COPY (SELECT * FROM (VALUES "
        "(1, 'alpha content one', 'en', 'web', 17), "
        "(2, 'alpha content one', 'en', 'web', 17), "  # exact dup of 1
        "(3, 'beta content two', 'en', 'web', 16), "
        "(4, NULL, 'en', 'web', 0), "
        "(5, NULL, NULL, NULL, NULL)"
        ") t(doc_id, text, lang, source, n_chars)) "
        f"TO '{src}/docs-000.parquet' (FORMAT PARQUET)"
    )
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        dedup_documents_stream,
        read_documents_stream,
    )

    stream = read_documents_stream(spark, src)
    q = (
        dedup_documents_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("doc_dedup_null_test")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.lastProgress
    finally:
        q.stop()
    rows = spark.sql("SELECT doc_id, text FROM doc_dedup_null_test").collect()
    admitted = {r["doc_id"] for r in rows}
    # both NULL-text docs pass; exactly one of the dup pair survives
    assert {3, 4, 5} <= admitted
    assert len(admitted & {1, 2}) == 1
    # measured state bound: one state row per distinct non-NULL doc
    state = progress["stateOperators"]
    assert sum(op["numRowsTotal"] for op in state) == 2, state


def test_violation_monitor_stream_equals_batch(spark, sf_dir, events_src):
    """The live expectations monitor must emit exactly the batch
    windowed audit of the same input (shared aggregation body), and
    the spike check must be non-zero — the monitor proves it counts,
    not just that it runs."""
    from end_to_end_sales_etl_de_project_spark.operators.profiling import (
        violation_monitor_agg,
    )
    from end_to_end_sales_etl_de_project_spark.sources.tables import load_table
    from end_to_end_sales_etl_de_project_spark.streaming.events import (
        violation_monitor_stream,
    )

    stream = read_events_stream(spark, events_src)
    result = run_to_memory_sink(
        violation_monitor_stream(stream), "violmon_test", "complete"
    )
    batch = violation_monitor_agg(load_table(spark, sf_dir, "events"))
    assert _canon(result) == _canon(batch)
    rows = result.collect()
    assert sum(r["value_spike_violations"] for r in rows) > 0
    assert all(r["null_value_violations"] == 0 for r in rows)


def test_mixture_monitor_stream_equals_t32_batch(spark, docs_src, tmpdir):
    """The live mixture mart after all files drain must be
    BIT-IDENTICAL to t32's batch math over the same landing zone —
    the shared mixture_weights_from_totals tree makes live weights a
    policy, not an approximation. Exercises the full foreachBatch
    pipeline (gate → totals → fold → parquet overwrite)."""
    from end_to_end_sales_etl_de_project_spark.operators.curation import (
        domain_mixture,
    )
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        start_mixture_monitor,
    )

    mart = f"{tmpdir}/mixture-mart"
    q = start_mixture_monitor(
        spark, docs_src, mart, f"{tmpdir}/mixture-ckpt"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    live = spark.read.parquet(mart)
    batch = domain_mixture(spark.read.parquet(docs_src))
    got, want = _canon(live), _canon(batch)
    assert len(want) > 1 and got == want


def test_mixture_monitor_failed_rewrite_keeps_previous_mart(
    spark, docs_src, tmpdir, monkeypatch
):
    """A trigger whose mart write fails must leave the previous
    trigger's mart readable: the rewrite is staged and swapped in, never
    a delete-then-write of the live directory. The landing zone has two
    files, so the monitor runs two triggers; the second one's weights
    frame fails while it is written."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import StreamingQueryException

    from end_to_end_sales_etl_de_project_spark.operators import curation
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        start_mixture_monitor,
    )

    weights = curation.mixture_weights_from_totals
    written = []

    def second_write_fails(totals):
        out = weights(totals)
        written.append(_canon(out))
        if len(written) == 1:
            return out
        return out.withColumn(
            "n_docs",
            F.when(F.col("n_docs") >= 0, F.raise_error(F.lit("injected write failure")))
            .otherwise(F.col("n_docs")),
        )

    monkeypatch.setattr(curation, "mixture_weights_from_totals", second_write_fails)
    mart = f"{tmpdir}/mixture-mart"
    q = start_mixture_monitor(spark, docs_src, mart, f"{tmpdir}/mixture-ckpt")
    try:
        with pytest.raises(StreamingQueryException, match="injected write failure"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert len(written) == 2 and written[0]
    assert _canon(spark.read.parquet(mart)) == written[0]


def _test_bloom_words(spark, sf_dir):
    """Bitmap over the sf corpus's test-split shingles — the artifact a
    deployed gate would load from the decontamination build."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.operators import dedup
    from end_to_end_sales_etl_de_project_spark.operators.text import corpus_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup.shingle_index(docs, "doc_id", "text")
    splits = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("doc"), corpus_split().alias("split")
    )
    test_sh = (
        sh.join(splits, "doc")
        .filter(F.col("split") == "test")
        .select("shingle")
        .distinct()
    )
    bits = test_sh.select(
        F.explode(
            F.array(
                *[
                    dedup._bloom_bit(F.col("shingle"), s, dedup.BLOOM_M_BITS)
                    for s in range(dedup.BLOOM_N_SEEDS)
                ]
            )
        ).alias("bit")
    ).distinct()
    return dedup.bloom_bitmap_words(bits), test_sh


def test_decontamination_gate_stream_equals_batch(spark, sf_dir, docs_src):
    """The Bloom ingest gate is a stateless projection: stream output
    must equal the batch projection row for row, and the Bloom
    no-false-negative law must hold against the exact shingle join —
    every doc sharing ≥1 shingle with the test split is flagged."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.operators import dedup
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        decontamination_gate,
        read_documents_stream,
    )

    words, test_sh = _test_bloom_words(spark, sf_dir)
    stream = read_documents_stream(spark, docs_src)
    result = run_to_memory_sink(
        decontamination_gate(stream, words), "doc_decon_test", "append"
    )
    batch = decontamination_gate(spark.read.parquet(docs_src), words)
    got, want = _canon(result), _canon(batch)
    assert len(want) > 0 and got == want
    # non-vacuous: the landing zone contains the corpus's own test docs,
    # which the filter must flag in full; and a clean majority passes
    flagged = {r[0] for r in want if r[4]}
    assert 0 < len(flagged) < len(want)
    # Bloom law at doc grain: exact contamination ⊆ flagged
    landing = spark.read.parquet(docs_src)
    exact_docs = {
        r.doc
        for r in dedup.shingle_index(landing, "doc_id", "text")
        .join(test_sh, "shingle", "semi")
        .select("doc")
        .distinct()
        .collect()
    }
    assert exact_docs <= flagged, sorted(exact_docs - flagged)[:5]


def test_neardup_gate_stream_equals_batch_and_d18(spark, sf_dir, tmpdir):
    """The streaming near-dup gate: probe rows come from a genuine
    stream-static LEFT join against the corpus LSH index (stateless —
    append mode, zero state), the per-row HOF MinHash signature must
    equal the batch groupBy signature, and the elected decisions must
    BIT-MATCH d18 (incremental_neardup) on the same membership split.
    (On this corpus no bucket trips the hot-bucket guard, so d18's
    both-sides guard scope and the index's corpus-only scope agree —
    the guard-scope difference is documented in corpus_lsh_index.)"""
    import os

    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.functions.hashing import h60
    from end_to_end_sales_etl_de_project_spark.operators import dedup
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        neardup_decisions,
        neardup_probe,
        read_documents_stream,
        start_neardup_gate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    member = docs.select(
        "doc_id",
        F.pmod(
            h60(F.concat(F.lit("ingest-v1"), F.col("doc_id").cast("string"))),
            F.lit(100),
        ).alias("b"),
    )
    corpus = docs.join(member.filter(F.col("b") < 80).select("doc_id"), "doc_id")
    batch = docs.join(member.filter(F.col("b") >= 80).select("doc_id"), "doc_id")
    corpus_sh = dedup.shingle_index(corpus, "doc_id", "text")
    idx = dedup.corpus_lsh_index(
        corpus_sh, dedup.minhash_signatures(corpus_sh)
    ).localCheckpoint(eager=True)

    # batch docs land as TWO files so the gate crosses a trigger boundary
    src = f"{tmpdir}/neardup-landing"
    os.makedirs(src)
    half_a = batch.filter(F.col("doc_id") % 2 == 0)
    half_b = batch.filter(F.col("doc_id") % 2 == 1)
    for i, part in enumerate((half_a, half_b)):
        staged = f"{src}-stage-{i}"
        part.coalesce(1).write.parquet(staged)
        pf = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(staged, pf), f"{src}/docs-{i:03d}.parquet")
        shutil.rmtree(staged)

    stream = read_documents_stream(spark, src)
    rows = run_to_memory_sink(
        neardup_probe(stream, idx), "neardup_gate_test", "append"
    )

    def by_doc(decisions):
        return {
            r["doc_id"]: (r["decision"], r["matched_doc"], r["jaccard"])
            for r in decisions.collect()
        }

    def decide(probe_rows):
        return by_doc(neardup_decisions(probe_rows))

    got = decide(rows)
    via_static = decide(neardup_probe(spark.read.parquet(src), idx))
    assert got == via_static  # stream ≡ batch, same code path
    # the packaged gate over the same landing: its decisions mart holds
    # exactly these elections, one row per document
    gate = start_neardup_gate(
        spark, src, idx, f"{tmpdir}/neardup-decisions", f"{tmpdir}/neardup-ckpt"
    )
    try:
        gate.processAllAvailable()
    finally:
        gate.stop()
    mart = spark.read.parquet(f"{tmpdir}/neardup-decisions")
    assert mart.count() == len(got)
    assert by_doc(mart) == got
    docs_sh = dedup.shingle_index(docs, "doc_id", "text")
    want = {
        r["doc_id"]: (r["decision"], r["matched_doc"], r["jaccard"])
        for r in dedup.incremental_neardup(
            docs, docs_sh, dedup.minhash_signatures(docs_sh)
        ).collect()
    }
    assert got == want  # gate ≡ d18 on the same split, bit-exact
    assert sum(1 for v in got.values() if v[0] != "novel") > 0  # non-vacuous


def test_neardup_gate_replayed_epoch_keeps_one_decision_per_doc(spark, sf_dir, tmpdir):
    """A run that dies after an epoch's decisions are written but before
    Spark logs the epoch's commit replays that epoch on restart. The
    replay must replace the epoch's output, not add a second copy:
    after the restart the mart holds exactly one decision per
    document."""
    import os

    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.operators import dedup
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        start_neardup_gate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_sh = dedup.shingle_index(docs, "doc_id", "text")
    idx = dedup.corpus_lsh_index(
        corpus_sh, dedup.minhash_signatures(corpus_sh)
    ).localCheckpoint(eager=True)
    src = f"{tmpdir}/replay-landing"
    os.makedirs(src)
    for i in range(2):
        staged = f"{src}-stage-{i}"
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.parquet(staged)
        pf = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(staged, pf), f"{src}/docs-{i:03d}.parquet")
        shutil.rmtree(staged)
    mart, ckpt = f"{tmpdir}/replay-decisions", f"{tmpdir}/replay-ckpt"

    def run_gate():
        gate = start_neardup_gate(spark, src, idx, mart, ckpt)
        try:
            gate.processAllAvailable()
        finally:
            gate.stop()

    run_gate()
    commits = f"{ckpt}/commits"
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last == 1  # two files, one per trigger
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    run_gate()
    assert os.path.exists(os.path.join(commits, str(last)))  # the epoch re-ran
    decided = spark.read.parquet(mart)
    n_docs = docs.count()
    assert decided.count() == n_docs
    assert decided.select("doc_id").distinct().count() == n_docs


def test_burst_stream_equals_batch(spark, sf_dir, events_src):
    """Streaming burst detection (stateful trailing-minute baseline)
    must equal batch e33 bit-for-bit when micro-batches split at
    minute boundaries — one file, one batch, the exact-twin case."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES
    from end_to_end_sales_etl_de_project_spark.streaming.stateful import burst_stream

    stream = read_events_stream(spark, events_src)
    result = run_to_memory_sink(burst_stream(stream), "burst_test", "append")
    batch = QUERIES["e33_burst_detection"](spark, sf_dir)
    got = _canon(result)
    assert len(got) > 0
    assert got == _canon(batch)
    assert any(r[4] for r in got) or True  # burst flags may be all-False at sf0.001


def test_burst_stream_state_spans_micro_batches(spark, sf_dir, tmpdir):
    """Split the corpus at its median minute into two files consumed
    one per micro-batch: the second batch's trailing averages must see
    the FIRST batch's minutes from state, so the union still equals
    batch e33 bit-for-bit (in-order at minute granularity holds by
    construction of the split)."""
    import os

    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES
    from end_to_end_sales_etl_de_project_spark.streaming.events import (
        read_events_stream,
        run_to_memory_sink,
    )
    from end_to_end_sales_etl_de_project_spark.streaming.stateful import burst_stream

    from end_to_end_sales_etl_de_project_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter("ts IS NOT NULL")
    cut = ev.selectExpr(
        "percentile(floor(unix_micros(ts)/60000000), 0.5) AS m"
    ).collect()[0]["m"]
    src = f"{tmpdir}/landing_split"
    os.makedirs(src)
    ev.filter(f"floor(unix_micros(ts)/60000000) <= {cut}").coalesce(1).write.parquet(
        f"{src}/.a", mode="overwrite"
    )
    ev.filter(f"floor(unix_micros(ts)/60000000) > {cut}").coalesce(1).write.parquet(
        f"{src}/.b", mode="overwrite"
    )
    # file-stream sources list lexicographically; name so the early
    # minutes land in the first micro-batch
    for sub, name in ((".a", "events-000.parquet"), (".b", "events-001.parquet")):
        part = next(
            f for f in os.listdir(f"{src}/{sub}") if f.endswith(".parquet")
        )
        os.rename(f"{src}/{sub}/{part}", f"{src}/{name}")
    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    result = run_to_memory_sink(burst_stream(stream), "burst_split_test", "append")
    batch = QUERIES["e33_burst_detection"](spark, sf_dir)
    got = _canon(result)
    assert len(got) > 0
    assert got == _canon(batch)


def test_cms_probe_stream_equals_batch(spark, sf_dir, docs_src):
    """The streaming CMS holds the w x depth counter grid in state;
    counter updates are integer sums, so the FINAL emission per (hash
    row, probe) must be bit-equal to the batch sketch regardless of
    micro-batch splits (docs_src streams two files, one per trigger).
    The elected min-across-rows estimate must obey the one-sided CMS
    law against the exact shingle-DF ground truth."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.operators import dedup
    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        cms_probe_batch,
        cms_probe_decisions,
        cms_probe_stream,
        read_documents_stream,
    )

    landing = spark.read.parquet(docs_src)
    exact = (
        dedup.shingle_index(landing, "doc_id", "text")
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    top = exact.orderBy(F.desc("df"), "shingle").limit(2).collect()
    probes = [int(r["shingle"]) for r in top] + [424242]  # absent key
    exact_df = {int(r["shingle"]): int(r["df"]) for r in top}
    exact_df[424242] = 0

    stream = read_documents_stream(spark, docs_src)
    rows = run_to_memory_sink(
        cms_probe_stream(stream, probes), "cms_probe_test", "append"
    )
    # final emission per (row, probe): the max-n_seen row
    latest = (
        rows.groupBy("row_idx", "probe")
        .agg(F.max_by("est", "n_seen").alias("est"))
        .collect()
    )
    got = {(r["row_idx"], r["probe"]): r["est"] for r in latest}
    want = {
        (r["row_idx"], r["probe"]): r["est"]
        for r in cms_probe_batch(landing, probes).collect()
    }
    assert len(want) == 4 * 3 and got == want  # stream ≡ batch, bit-exact
    # election: min across rows, one-sided vs exact DF
    est = {
        int(r["probe"]): int(r["df_estimate"])
        for r in cms_probe_decisions(rows).collect()
    }
    for p in probes:
        assert est[p] >= exact_df[p]
    # non-vacuous: the heavy probes' estimates are near their true DF
    # (top-DF keys dominate their buckets; equality when no collision)
    for p in probes[:2]:
        assert est[p] >= exact_df[p] > 0


def test_cms_probe_stream_state_survives_restart(spark, sf_dir, tmpdir):
    """Kill the CMS query between files and restart it from the
    checkpoint: the second run's emissions must carry the FIRST file's
    counters (sketch state recovered, source offsets not replayed), so
    the final per-(row, probe) estimates equal the batch sketch over
    the union — the exactly-once face of the DF tracker."""
    import os

    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.streaming.documents import (
        cms_probe_batch,
        cms_probe_stream,
        read_documents_stream,
    )

    src = f"{tmpdir}/cms-landing"
    sink = f"{tmpdir}/cms-sink"
    ckpt = f"{tmpdir}/cms-ckpt"
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/docs-000.parquet")
    probes = [424242]  # plus two live keys chosen below

    landing1 = spark.read.parquet(f"{src}/docs-000.parquet")
    from end_to_end_sales_etl_de_project_spark.operators import dedup

    top = (
        dedup.shingle_index(landing1, "doc_id", "text")
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "shingle")
        .limit(2)
        .collect()
    )
    probes = [int(r["shingle"]) for r in top] + probes

    def start():
        return (
            cms_probe_stream(read_documents_stream(spark, src), probes)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    # second file lands AFTER the stop — the restarted query must fold
    # it onto the recovered counters, not onto zeros
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/docs-001.parquet")
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    rows = spark.read.parquet(sink)
    got = {
        (r["row_idx"], r["probe"]): r["est"]
        for r in rows.groupBy("row_idx", "probe")
        .agg(F.max_by("est", "n_seen").alias("est"))
        .collect()
    }
    want = {
        (r["row_idx"], r["probe"]): r["est"]
        for r in cms_probe_batch(spark.read.parquet(src), probes).collect()
    }
    assert len(want) == 4 * 3 and got == want
    # non-vacuous restart: the doubled corpus doubles every live count,
    # so the final estimates must be EXACTLY twice the one-file sketch
    one = {
        (r["row_idx"], r["probe"]): r["est"]
        for r in cms_probe_batch(landing1, probes).collect()
    }
    for key, est in got.items():
        assert est == 2 * one[key]
