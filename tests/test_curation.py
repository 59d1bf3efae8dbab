"""Curation operators: stage coverage for curate_corpus on planted
docs (the sf corpora have no quality-fail or exact-dup docs, so the
oracle parity run alone can't exercise those branches), plus
decontamination and stratified-sampling behavior pins."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.operators import curation, dedup, text

LONG_A = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))
LONG_B = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(20))


def _index_and_sigs(docs):
    """The k=3 shingle index and its 16-hash signature table — the two
    artifacts the near-dup operators read."""
    sh = dedup.shingle_index(docs, "doc_id", "text")
    return sh, dedup.minhash_signatures(sh)


def _split_toks(docs):
    """(doc, split, toks): the tokenized-split base of the
    decontamination operators."""
    return docs.select(
        F.col("doc_id").alias("doc"),
        text.corpus_split().alias("split"),
        text.tokens("text").alias("toks"),
    )


def _split_shingles(docs, k: int = 5):
    """(doc, split, sh): each doc's distinct k-gram shingle array."""
    return _split_toks(docs).select(
        "doc", "split", text.shingles_from_tokens(F.col("toks"), k).alias("sh")
    )


def test_curate_corpus_stages(spark):
    # doc 1: quality fail (too short); docs 2,3: exact dups (3 loses);
    # docs 4,5: near dups (one word changed; 5 loses); doc 6: unique keeper
    near_a = LONG_A
    near_b = LONG_A.replace("alpha7", "OMEGA", 1)
    rows = [
        (1, "tiny doc"),
        (2, LONG_B),
        (3, LONG_B),
        (4, near_a),
        (5, near_b),
        (6, "unique " + LONG_A.replace("beta", "kappa")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    decisions = curation.curate_corpus(docs, *_index_and_sigs(docs))
    out = {r["doc_id"]: r for r in decisions.collect()}
    assert out[1]["stage"] == "dropped_quality"
    assert out[2]["stage"] == "kept"
    assert out[3]["stage"] == "dropped_exact_dup"
    assert out[4]["stage"] == "kept"
    assert out[5]["stage"] == "dropped_near_dup"
    assert out[6]["stage"] == "kept"
    # split only for keepers, and consistent with corpus_split
    for i in (1, 3, 5):
        assert out[i]["split"] is None
    for i in (2, 4, 6):
        assert out[i]["split"] in ("train", "val", "test")


def test_contamination_planted(spark):
    # Build texts whose split assignment we discover first, then assert
    # overlap is detected between a train doc and a test doc sharing a
    # 5-gram, using the report end-to-end.
    candidates = [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g") for i in range(200)]
    docs = spark.createDataFrame(candidates, "doc_id long, text string")
    splits = {
        r["doc_id"]: r["split"]
        for r in docs.select(
            "doc_id", text.corpus_split().alias("split")
        ).collect()
    }
    train_ids = [i for i, s in splits.items() if s == "train"]
    test_ids = [i for i, s in splits.items() if s == "test"]
    assert train_ids and test_ids, "need both splits in the sample"
    # contaminate: append one test doc's text onto one train doc so the
    # test doc's every 5-gram occurs in the train side
    t_id, tr_id = test_ids[0], train_ids[0]
    texts = dict(candidates)
    texts[tr_id] = texts[tr_id] + " " + texts[t_id]
    docs2 = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    rep = {
        r["doc_id"]: r
        for r in curation.contamination_report(_split_shingles(docs2)).collect()
    }
    # appending text changes the train doc's hash bucket only for itself;
    # the chosen test doc keeps its split (text unchanged)
    if t_id in rep:
        assert rep[t_id]["is_contaminated"]
        assert rep[t_id]["n_contaminated"] == rep[t_id]["n_shingles"]
    clean = [r for r in rep.values() if not r["is_contaminated"]]
    assert clean, "expected at least one uncontaminated test doc"
    assert all(r["n_contaminated"] == 0 for r in clean)


def test_stratified_keep_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr", f"text body number {i}") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = (
        docs.filter(text.stratified_keep())
        .groupBy("lang")
        .count()
        .collect()
    )
    by_lang = {r["lang"]: r["count"] for r in kept}
    # 1000 docs per lang: en ~10%, fr ~60% — generous tolerance, zero RNG
    assert 50 <= by_lang["en"] <= 160
    assert 500 <= by_lang["fr"] <= 700
    # determinism: second evaluation is identical
    again = (
        docs.filter(text.stratified_keep())
        .groupBy("lang")
        .count()
        .collect()
    )
    assert {r["lang"]: r["count"] for r in again} == by_lang


def test_training_manifest_composition(spark, sf_dir):
    """Manifest rows are exactly c01's keepers; bin/contamination
    columns are populated per split; train bins are contiguous from 0."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    decisions = curation.curate_corpus(docs, *_index_and_sigs(docs))
    kept = (
        decisions.filter(F.col("stage") == "kept")
        .select("doc_id", "split")
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(
            F.col("doc_id").alias("doc"),
            "split",
            "text",
            text.tokens("text").alias("toks"),
        )
    )
    manifest = curation.training_manifest(kept)
    kept_ids = {r["doc_id"] for r in decisions.filter(F.col("stage") == "kept").collect()}
    rows = manifest.collect()
    assert {r["doc_id"] for r in rows} == kept_ids
    for r in rows:
        if r["split"] == "train":
            assert r["bin_id"] is not None and r["is_contaminated"] is None
        elif r["split"] == "test":
            assert r["bin_id"] is None and r["is_contaminated"] is not None
        else:
            assert r["bin_id"] is None and r["is_contaminated"] is None
    train_bins = sorted({r["bin_id"] for r in rows if r["split"] == "train"})
    assert train_bins == list(range(len(train_bins))), "bins must be contiguous from 0"


def test_tfidf_rank_is_per_doc_and_bounded(spark):
    rows = [
        (1, "apple apple banana common common common"),
        (2, "banana cherry common common common common"),
        (3, "date date date common apple cherry"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curation.tfidf_top_terms(docs, top_n=2).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in by_doc.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == [1, 2]
    # doc 3's signature term is 'date' (tf=3, df=1)
    top3 = min(by_doc[3], key=lambda r: r["rank"])
    assert top3["token"] == "date"


def test_token_rarity_exact_counts(spark):
    # corpus: "common" appears in all 3 docs (freq 5), "solo" once.
    rows = [
        (1, "common common solo"),
        (2, "common"),
        (3, "common other other"),
        (4, ""),  # zero tokens: absent from the output
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.token_rarity(docs, rare_max=1).collect()}
    assert set(out) == {1, 2, 3}
    # corpus freqs: common=4, solo=1, other=2
    r1 = out[1]
    assert r1["n_tokens"] == 3
    assert r1["freq_sum"] == 4 + 4 + 1
    assert r1["n_rare"] == 1  # only "solo" has freq <= 1
    assert r1["avg_token_freq"] == (4 + 4 + 1) / 3
    assert r1["rare_ratio"] == 1 / 3
    assert out[2]["n_tokens"] == 1 and out[2]["freq_sum"] == 4 and out[2]["n_rare"] == 0
    assert out[3]["freq_sum"] == 4 + 2 + 2


def test_doc_chunks_cover_every_token(spark):
    """Chunk invariants: windows start at multiples of the stride, the
    last window reaches the final token, every token position is inside
    >=1 window, and consecutive windows overlap by chunk_size - stride."""
    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),   # n < chunk: one window
        (2, " ".join(f"u{i}" for i in range(300))),  # several windows
        (3, ""),                                      # no windows
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.doc_chunks(docs, chunk_size=128, stride=96).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    one = by_doc[1]
    assert len(one) == 1 and one[0]["chunk_len"] == 10
    assert one[0]["chunk_text"].split(" ") == [f"t{i}" for i in range(10)]
    two = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert [r["chunk_start"] for r in two] == [0, 96, 192, 288]
    assert [r["chunk_len"] for r in two] == [128, 128, 108, 12]
    covered = set()
    for r in two:
        covered.update(range(r["chunk_start"], r["chunk_start"] + r["chunk_len"]))
    assert covered == set(range(300))
    # overlap: window i+1 re-reads the last chunk_size - stride tokens
    assert two[0]["chunk_text"].split(" ")[96:] == two[1]["chunk_text"].split(" ")[:32]


def test_doc_chunks_rejects_gapping_stride(spark):
    """stride > chunk_size would silently drop inter-window tokens —
    both the Spark operator and its SQL twin must refuse."""
    import pytest

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride"):
        text.doc_chunks(docs, chunk_size=64, stride=65)
    with pytest.raises(ValueError, match="stride"):
        text.doc_chunks_sql(chunk_size=64, stride=65)
    with pytest.raises(ValueError, match="stride"):
        text.doc_chunks(docs, chunk_size=64, stride=0)


def test_weighted_source_sample_rates(spark):
    """t16 semantics on a planted skewed corpus: sqrt-temperature
    upweights the small source (higher keep rate than the head source),
    rates never exceed 1.0, and the kept count per source tracks
    rate * n_docs within hash noise."""
    from end_to_end_sales_etl_de_project_spark.operators.curation import (
        weighted_source_sample,
    )

    rows = [(i, "w " * 50, "head") for i in range(400)] + [
        (1000 + i, "w " * 50, "tail") for i in range(25)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = weighted_source_sample(docs).collect()
    rate = {}
    n_kept: dict = {}
    for r in kept:
        rate[r["source"]] = r["keep_rate"]
        n_kept[r["source"]] = n_kept.get(r["source"], 0) + 1
    assert set(rate) == {"head", "tail"}
    assert all(0.0 < v <= 1.0 for v in rate.values())
    # sqrt temperature: tail source keeps a LARGER fraction of itself
    assert rate["tail"] > rate["head"]
    # kept counts track rate * n_docs (hash-uniformity, generous bound)
    assert abs(n_kept["head"] - 400 * rate["head"]) < 60
    assert abs(n_kept["tail"] - 25 * rate["tail"]) < 15


def test_training_shards_dense_and_deterministic(spark):
    """t17 invariants: every doc appears exactly once, positions are
    dense 0..n-1 per shard, and re-evaluation is bit-identical."""
    from end_to_end_sales_etl_de_project_spark.operators.curation import (
        training_shards,
    )

    docs = spark.range(0, 500).selectExpr("id AS doc_id")
    out = training_shards(docs, n_shards=4).collect()
    assert len(out) == 500
    assert {r["doc_id"] for r in out} == set(range(500))
    by_shard: dict = {}
    for r in out:
        assert 0 <= r["shard"] < 4
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps))), f"shard {shard} not dense"
    # shards are roughly balanced (hash uniformity; generous bound)
    assert all(80 <= len(ps) <= 170 for ps in by_shard.values())
    again = training_shards(docs, n_shards=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_contamination_spans_planted(spark):
    """One long verbatim passage (12 tokens => 8 consecutive 5-gram
    positions) plus one isolated shared 5-gram must yield exactly two
    runs with longest_run == 8 — and a clean test doc must report
    all-zero counters."""
    passage = " ".join(f"p{i}" for i in range(12))
    gram = "g0 g1 g2 g3 g4"

    def pick(base: str, want: str) -> str:
        cands = [(i, f"{base} fill{i}") for i in range(64)]
        df = spark.createDataFrame(cands, "i long, text string")
        got = {
            r["i"]: r["split"]
            for r in df.select("i", text.corpus_split().alias("split")).collect()
        }
        for i, t in cands:
            if got[i] == want:
                return t
        raise AssertionError(f"no candidate landed in split {want!r}")

    t_doc = pick(f"ta tb tc {passage} va vb vc vd ve {gram} xa xb xc", "test")
    tr_doc = pick(f"ra rb {passage} rc rd {gram} re", "train")
    clean = pick("ca cb cc cd ce cf cg ch", "test")
    docs = spark.createDataFrame(
        [(1, t_doc), (2, tr_doc), (3, clean)], "doc_id long, text string"
    )
    rep = {
        r["doc_id"]: r
        for r in curation.contamination_spans(_split_toks(docs)).collect()
    }
    assert set(rep) == {1, 3}  # test-split docs only
    assert rep[1]["longest_run"] == 8
    assert rep[1]["n_runs"] == 2
    assert rep[1]["n_contaminated_pos"] == 9
    assert rep[3]["n_contaminated_pos"] == 0
    assert rep[3]["n_runs"] == 0
    assert rep[3]["longest_run"] == 0


def test_fuzzy_decontaminate_planted(spark):
    """A test-split doc that paraphrases a train-split doc (one word
    changed out of 60) must be flagged with jaccard >= 0.5; unrelated
    docs must not pair."""
    base = " ".join(f"tok{i}" for i in range(60))
    para = base.replace("tok30", "changed", 1)

    def pick(base_text: str, want: str) -> str:
        cands = [(i, f"{base_text} fill{i}") for i in range(64)]
        df = spark.createDataFrame(cands, "i long, text string")
        got = {
            r["i"]: r["split"]
            for r in df.select("i", text.corpus_split().alias("split")).collect()
        }
        for i, t in cands:
            if got[i] == want:
                return t
        raise AssertionError(f"no candidate landed in split {want!r}")

    # suffix fill tokens differ, but 57+ of ~61 3-gram shingles shared
    train_doc = pick(base, "train")
    test_doc = pick(para, "test")
    other = pick(" ".join(f"zzz{i}" for i in range(30)), "test")
    docs = spark.createDataFrame(
        [(1, train_doc), (2, test_doc), (3, other)], "doc_id long, text string"
    )
    rows = dedup.fuzzy_decontaminate(docs, *_index_and_sigs(docs)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["test_doc"], r["train_doc"]) == (2, 1)
    assert r["jaccard"] >= 0.5


def test_dsir_importance_null_lang_matches_oracle(spark, tmp_path):
    """NULL target_col must count as SOURCE in BOTH engines — the bare
    (col == value).cast('int') form null-propagated, dropping NULL-lang
    docs from both smoothed distributions while the SQL twin's CASE
    WHEN ... ELSE 0 counted them as source; one NULL-lang doc then
    shifted every doc's ratios (regression for the round-7 review
    finding)."""
    import duckdb

    rows = [
        (1, "the cat sat on the mat today", "en", "s", 28),
        (2, "le chat est sur le tapis aujourd'hui", "fr", "s", 36),
        (3, "unknown words drift through empty space", None, "s", 39),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    pq = str(tmp_path / "docs.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(pq)

    got = {
        r["doc_id"]: (r["is_target"], r["n_features"], r["sum_ratio"], r["avg_ratio"])
        for r in curation.dsir_importance(df).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = {
        row[0]: tuple(row[1:])
        for row in con.execute(curation.dsir_importance_sql()).fetchall()
    }
    assert got == want
    assert got[3][0] == 0  # NULL lang is SOURCE, never NULL
