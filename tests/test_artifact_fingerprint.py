"""Session artifacts must never serve stale results after the data
under their sf_dir is rewritten mid-session (VERDICT r10 #4): the memo
keys carry a corpus fingerprint (file listing + sizes + mtimes), so a
compaction or a new snapshot landing at the same path forces a rebuild
instead of silently serving the old corpus."""

from __future__ import annotations

import shutil

import duckdb
import pytest

from end_to_end_sales_etl_de_project_spark.plans import documents as doc_plans
from end_to_end_sales_etl_de_project_spark.sources.tables import (
    corpus_fingerprint,
    load_table,
    session_memo_key,
)

SRC = "/root/testdata/sf0.001"


@pytest.fixture()
def mutable_sf(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in ("documents", "embeddings"):
        shutil.copy(f"{SRC}/{name}.parquet", sf / f"{name}.parquet")
    return str(sf)


def _shrink_documents(sf_dir: str, keep_frac: float = 0.5) -> None:
    """Rewrite documents.parquet in place with roughly half the rows —
    the planted mid-session mutation."""
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE d AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE doc_id % 2 = 0"
    )
    con.execute(f"COPY d TO '{sf_dir}/documents.parquet' (FORMAT PARQUET)")
    con.close()


def test_fingerprint_changes_on_rewrite(mutable_sf):
    before = corpus_fingerprint(f"{mutable_sf}/documents.parquet")
    assert before == corpus_fingerprint(f"{mutable_sf}/documents.parquet")
    _shrink_documents(mutable_sf)
    assert corpus_fingerprint(f"{mutable_sf}/documents.parquet") != before


def test_fingerprint_remote_uri_is_constant():
    # remote URIs can't be stat'd cheaply — constant stamp, never a crash
    assert corpus_fingerprint("s3a://bucket/corpus") == -1


def test_session_memo_evicts_stale_fingerprint(spark, mutable_sf):
    cache: dict = {}
    k1 = session_memo_key(cache, spark, mutable_sf)
    cache[k1] = "artifact-v1"
    assert session_memo_key(cache, spark, mutable_sf) == k1
    assert cache  # unchanged data: entry survives
    _shrink_documents(mutable_sf)
    k2 = session_memo_key(cache, spark, mutable_sf)
    assert k2 != k1
    assert not cache  # stale entry evicted, not just shadowed


def test_load_table_refreshes_after_rewrite(spark, mutable_sf):
    n_before = load_table(spark, mutable_sf, "documents").count()
    _shrink_documents(mutable_sf)
    n_after = load_table(spark, mutable_sf, "documents").count()
    assert 0 < n_after < n_before


def test_shingle_index_rebuilds_after_rewrite(spark, mutable_sf):
    """The planted-mutation test: pre-fix, the (applicationId, sf_dir)
    memo served the OLD corpus's checkpointed shingle index after the
    rewrite; the fingerprinted key must rebuild it."""
    docs_before = load_table(spark, mutable_sf, "documents").count()
    idx_before = doc_plans._shingle_index(spark, mutable_sf)
    n_before = idx_before.select("doc").distinct().count()
    assert n_before > 0
    _shrink_documents(mutable_sf)
    idx_after = doc_plans._shingle_index(spark, mutable_sf)
    n_after = idx_after.select("doc").distinct().count()
    docs_after = load_table(spark, mutable_sf, "documents").count()
    assert docs_after < docs_before
    # the rebuilt index covers only the surviving docs (NULL-text docs
    # aside, strictly fewer than before)
    assert n_after < n_before, (n_before, n_after)


def test_cms_audit_reruns_after_other_corpora(spark, tmp_path):
    """d28 on corpora A, B, C and then A again must serve A's exact-DF
    artifact from the session memo. A memoized artifact materialized
    under a per-call-site checkpoint scope was freed two generations
    later (by C's build), and the second A run failed with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    dirs = []
    for name in ("a", "b", "c"):
        d = tmp_path / name
        d.mkdir()
        shutil.copy(f"{SRC}/documents.parquet", d / "documents.parquet")
        dirs.append(str(d))
    for sf in (*dirs, dirs[0]):
        assert doc_plans.d28_cms_error_audit(spark, sf).collect(), sf
