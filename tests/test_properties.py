"""Property-based checks (SURVEY §5 strategy #4) with hypothesis:
partitioning-invariance of decimal sums, salted ≡ plain aggregation,
incentive invariants on random data."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from end_to_end_sales_etl_de_project_spark.functions.scalar import money_sum
from end_to_end_sales_etl_de_project_spark.operators.metrics import top_performer_incentive
from end_to_end_sales_etl_de_project_spark.operators.skew import salted_sum

MONEY = st.decimals(
    min_value=Decimal("0.01"), max_value=Decimal("99999.99"), places=2
)
ROWS = st.lists(
    st.tuples(st.integers(1, 5), MONEY), min_size=1, max_size=40
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=ROWS, n_parts=st.integers(1, 7))
@settings(**_SETTINGS)
def test_decimal_sum_partitioning_invariant(spark, rows, n_parts):
    """sum over money decimals is identical for ANY partitioning — the
    property that makes results cluster-layout-independent."""
    df = spark.createDataFrame(
        [(k, float(v)) for k, v in rows], "k int, v double"
    )
    plain = df.groupBy("k").agg(money_sum("v").alias("s"))
    reparted = df.repartition(n_parts).groupBy("k").agg(money_sum("v").alias("s"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, reparted.collect()))


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_salted_equals_plain(spark, rows):
    df = spark.createDataFrame([(k, float(v)) for k, v in rows], "k int, v double")
    plain = {r["k"]: r["s"] for r in df.groupBy("k").agg(money_sum("v").alias("s")).collect()}
    salted = {
        r["k"]: r["s"] for r in salted_sum(df, ["k"], "v", "s", salt_buckets=4).collect()
    }
    assert plain == salted


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_incentive_invariants(spark, rows):
    """Exactly the rank-1 rows (ties included) earn round(1%, 2) > 0;
    everyone else exactly 0; at least one winner per group."""
    df = spark.createDataFrame(
        [(k, i, float(v)) for i, (k, v) in enumerate(rows)], "grp int, pid int, total double"
    )
    monthly = df.groupBy("grp", "pid").agg(money_sum("total").alias("t"))
    out = top_performer_incentive(monthly, ["grp"], "t").collect()
    by_grp: dict[int, list] = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r)
    for grp, rs in by_grp.items():
        top = max(r["t"] for r in rs)
        for r in rs:
            if r["t"] == top:
                # HALF_UP to match Spark's decimal round (python default
                # quantize is HALF_EVEN — would disagree at .xx5)
                expected = float(
                    (Decimal(str(r["t"])) * Decimal("0.01")).quantize(
                        Decimal("0.01"), rounding=ROUND_HALF_UP
                    )
                )
                assert r["incentive"] == expected
            else:
                assert r["incentive"] == 0.0
        # NB: a group CAN have zero paid incentive when 1% of the top
        # total rounds below a cent (e.g. 0.30 → 0.003 → 0.00) — the
        # reference's semantics, so no "at least one winner" assertion.


def test_salted_join_spreads_hot_key(spark):
    """The default salt must vary PER ROW within a join key — salting
    by the key alone would re-collapse the hot key onto one task. Plant
    a hot key and check its rows land on several salts, and that the
    join result equals the plain join."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, i, float(i)) for i in range(400)] + [(2, 9999, 1.0)],
        "k long, row_id long, v double",
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold")], "sk long, label string")
    out = salted_join(big, small, "k", "sk")
    plain = big.join(small, big["k"] == small["sk"])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
    # the spread itself: recompute the operator's default salt expression
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in big.columns], F.lit(41)), F.lit(8)
    ).cast("int")
    n_salts_hot = (
        big.filter(F.col("k") == 1).select(salt.alias("s")).distinct().count()
    )
    assert n_salts_hot >= 6, f"hot key only spread over {n_salts_hot} salts"


def test_scd2_interval_laws(spark, sf_dir):
    """q72 SCD-2 invariants: per customer, versions are dense from 1,
    exactly one current row, valid ranges chain (valid_to of version v
    == valid_from of version v+1), and consecutive versions never
    repeat a segment."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES

    rows = QUERIES["q72_scd2_segments"](spark, sf_dir).collect()
    by_cust: dict = {}
    for r in rows:
        by_cust.setdefault(r["customer_id"], []).append(r)
    assert by_cust
    for cust, vs in by_cust.items():
        vs.sort(key=lambda r: r["version"])
        assert [v["version"] for v in vs] == list(range(1, len(vs) + 1)), cust
        assert sum(1 for v in vs if v["is_current"]) == 1, cust
        assert vs[-1]["is_current"] and vs[-1]["valid_to"] is None, cust
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"], cust
            assert a["segment"] != b["segment"], cust


def test_ewma_bounds_and_single_event_identity(spark, sf_dir):
    """e22 invariants: a user's EWMA lies within [min, max] of their
    values (convex combination), and a single-event user's EWMA is
    exactly that event's value."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES
    from end_to_end_sales_etl_de_project_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    ewma = {r["user_id"]: r for r in QUERIES["e22_ewma"](spark, sf_dir).collect()}
    bounds = {
        r["user_id"]: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    assert set(ewma) == set(bounds)
    for u, r in ewma.items():
        assert bounds[u]["lo"] <= r["ewma_value"] <= bounds[u]["hi"], u
        if r["n_events"] == 1:
            assert r["ewma_value"] in (bounds[u]["lo"], bounds[u]["hi"]), u


def test_curriculum_phase_boundaries(spark, sf_dir):
    """c05 invariants: phases are monotone in n_words (no phase-p doc
    is longer than any phase-(p+1) doc) and every phase is non-empty on
    the corpus."""
    from end_to_end_sales_etl_de_project_spark.plans.registry import QUERIES

    rows = QUERIES["c05_curriculum_phases"](spark, sf_dir).collect()
    by_phase: dict = {}
    for r in rows:
        by_phase.setdefault(r["phase"], []).append(r["n_words"])
    assert set(by_phase) == {1, 2, 3, 4}
    for p in (1, 2, 3):
        assert max(by_phase[p]) <= min(by_phase[p + 1]), p


# ---------------------------------------------------------------------------
# Sequence operators (operators/sequences.py): distributed decompositions
# must equal sequential in-Python references on arbitrary inputs.
# ---------------------------------------------------------------------------

from datetime import date, timedelta

from end_to_end_sales_etl_de_project_spark.operators.sequences import (
    streak_islands,
    swept_peaks,
)

DAY_SETS = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 40)),  # (user, day offset)
    min_size=1,
    max_size=60,
    unique=True,
)


@given(pairs=DAY_SETS)
@settings(**_SETTINGS)
def test_streak_islands_match_sequential_reference(spark, pairs):
    base = date(2024, 1, 1)
    rows = [(u, base + timedelta(days=o)) for u, o in pairs]
    df = spark.createDataFrame(rows, "user_id int, d date")
    got = {
        (r["user_id"], r["anchor"]): r["streak_len"]
        for r in streak_islands(df).collect()
    }
    # sequential reference: walk each user's sorted days
    want: dict[tuple, int] = {}
    by_user: dict[int, list[date]] = {}
    for u, d in rows:
        by_user.setdefault(u, []).append(d)
    for u, days in by_user.items():
        days.sort()
        run_start, run_len, rn_at_start = days[0], 1, 1
        for i in range(1, len(days) + 1):
            if i < len(days) and (days[i] - days[i - 1]).days == 1:
                run_len += 1
                continue
            want[(u, run_start - timedelta(days=rn_at_start))] = run_len
            if i < len(days):
                run_start, rn_at_start, run_len = days[i], i + 1, 1
    assert got == want


SWEEP_POINTS = st.lists(
    st.tuples(st.integers(0, 500), st.sampled_from([1, -1])),
    min_size=1,
    max_size=80,
)


@given(pts=SWEEP_POINTS, bucket=st.sampled_from([16, 60, 100]))
@settings(**_SETTINGS)
def test_swept_peaks_match_sequential_prefix_sum(spark, pts, bucket):
    df = spark.createDataFrame(pts, "t long, delta int").repartition(5)
    got = {
        r["hour_s"]: r["peak_concurrency"]
        for r in swept_peaks(df, bucket).collect()
    }
    # sequential reference: one global running sum in (t, delta) order
    want: dict[int, int] = {}
    run = 0
    for t, delta in sorted(pts):
        run += delta
        b = t - t % bucket
        want[b] = max(want.get(b, run), run)
    assert got == want


def test_containment_dominates_jaccard_on_shared_corpus(spark, sf_dir):
    """Containment laws on the real corpus: for every pair surfaced by
    either measure, C(A,B) ≥ J(A,B) (min ≤ union), both lie in (0, 1],
    and C = 1 exactly when the smaller shingle set is a subset of the
    larger (n_common = min size)."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.operators import dedup
    from end_to_end_sales_etl_de_project_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_index(docs, "doc_id", "text")
    cont = {
        (r["doc_a"], r["doc_b"]): r
        for r in dedup.containment_pairs(sh, 0.0).collect()
    }
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(sh, 0.0).collect()
    }
    assert cont and set(jac) == set(cont)  # same shared-shingle candidate pairs
    for pair, r in cont.items():
        c = r["containment"]
        assert 0.0 < c <= 1.0
        assert c >= jac[pair] - 1e-12
        if c == 1.0:
            # subset relation: reconstruct n_common from the jaccard
            n_a, n_b = r["n_a"], r["n_b"]
            j = jac[pair]
            n_common = j * (n_a + n_b) / (1 + j)
            assert abs(n_common - min(n_a, n_b)) < 1e-6


# ---------------------------------------------------------------------------
# pack_sequences ≡ sequential prefix-sum packing (hypothesis)
# ---------------------------------------------------------------------------

PACK_DOCS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=100_000),  # sparse doc ids
        st.text(
            alphabet="ab c",  # spaces included -> variable token counts
            max_size=40,
        ),
    ),
    unique_by=lambda t: t[0],
    max_size=60,
)


@given(docs=PACK_DOCS, cap=st.sampled_from([1, 7, 32]), bw=st.sampled_from([1, 8, 4096]))
@settings(**_SETTINGS)
def test_pack_sequences_match_sequential_packing(spark, docs, cap, bw):
    """The two-level decomposition must equal a sequential walk of the
    token stream for ANY doc-id distribution (sparse ids, empty docs,
    capacity 1, degenerate 1-doc blocks) — and per-doc spans must tile
    the stream with no gaps or overlaps."""
    import re

    from end_to_end_sales_etl_de_project_spark.operators.sequences import pack_sequences
    from end_to_end_sales_etl_de_project_spark.operators.text import TOKEN_REGEX

    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(5)
    got = {
        r["doc_id"]: (r["n_tokens"], r["first_seq"], r["n_seqs"], r["seq_offset"])
        for r in pack_sequences(df, capacity=cap, bucket_width=bw).collect()
    }
    cum = 0
    pat = re.compile(TOKEN_REGEX)
    for doc_id, text in sorted(docs):
        n = len(pat.findall(text))
        first, off = cum // cap, cum % cap
        n_seqs = ((cum + n - 1) // cap - first + 1) if n > 0 else 0
        assert got[doc_id] == (n, first, n_seqs, off), (doc_id, got[doc_id])
        cum += n
    assert len(got) == len(docs)


def test_repetition_profile_flags_looping_text(spark):
    """A doc that is one phrase repeated must flag; distinct-word text
    must not; sub-k docs get NULL frac and never flag. Char-mass
    bookkeeping must tie out: dup + first-occurrence chars = total."""
    from end_to_end_sales_etl_de_project_spark.operators.text import repetition_profile

    rows = [
        (1, "spam ham eggs " * 20),                      # pure loop
        (2, "one two three four five six seven eight"),  # all distinct
        (3, "hi"),                                       # shorter than k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    assert out[1]["repetitive"] and out[1]["dup_char_frac"] > 0.9
    assert not out[2]["repetitive"] and out[2]["dup_char_frac"] == 0.0
    assert out[3]["n_ngrams"] == 0 and out[3]["dup_char_frac"] is None
    assert not out[3]["repetitive"]
    for r in out.values():
        assert r["dup_chars"] <= r["total_chars"]


# ---- Bloom tier laws (d22 / streaming gate) on random hash sets ----

HASHES = st.lists(
    st.integers(min_value=0, max_value=(1 << 60) - 1), min_size=1, max_size=60
)


@given(test_hashes=HASHES, probe_hashes=HASHES)
@settings(**_SETTINGS)
def test_bloom_membership_never_misses(spark, test_hashes, probe_hashes):
    """The Bloom law on arbitrary inputs, through the REAL Spark
    column paths (d22's broadcast-lookup probe is pinned equal to the
    packed-bitmap probe elsewhere; here the bitmap probe faces random
    member/non-member hash sets): every true member must test positive
    — a single false negative anywhere means the build and probe hash
    families diverged."""
    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.operators import dedup

    member = set(test_hashes)
    tdf = spark.createDataFrame([(h,) for h in sorted(member)], "shingle: long")
    bits = (
        tdf.select(
            F.explode(
                F.array(
                    *[
                        dedup._bloom_bit(F.col("shingle"), s, dedup.BLOOM_M_BITS)
                        for s in range(dedup.BLOOM_N_SEEDS)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )
    words = dedup.bloom_bitmap_words(bits)
    probes = sorted(set(probe_hashes) | member)
    pdf = spark.createDataFrame([(h,) for h in probes], "shingle: long")
    got = {
        r["shingle"]: r["m"]
        for r in pdf.select(
            "shingle",
            dedup.bloom_membership(F.col("shingle"), words).alias("m"),
        ).collect()
    }
    for h in member:
        assert got[h], f"false negative for member {h}"
    # sanity on the other side: with a tiny member set against a 64k-bit
    # filter, SOME random non-member should test negative (an all-positive
    # filter would mean the bitmap degenerated to all-ones)
    non_members = [h for h in probes if h not in member]
    if len(non_members) >= 20:
        assert not all(got[h] for h in non_members), "filter degenerated"


# ---------------------------------------------------------------------------
# Connected components (pointer-doubling min-label loop) vs union-find
# ---------------------------------------------------------------------------

_EDGE_SETS = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda e: e[0] != e[1]),
    min_size=0,
    max_size=40,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_EDGE_SETS)
def test_neardup_components_matches_union_find(spark, edges):
    """The r10 pointer-doubling hop must not change the fixpoint: on
    arbitrary pair graphs (cycles, stars, multi-edges, self-symmetric
    duplicates), every node's component label equals the min reachable
    id computed by a sequential union-find, and is_canonical marks
    exactly the min of each component."""
    from end_to_end_sales_etl_de_project_spark.operators.dedup import (
        neardup_components,
    )

    n = 25
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {i: find(i) for i in range(n)}

    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = (
        spark.createDataFrame(edges, "doc_a long, doc_b long")
        if edges
        else spark.createDataFrame([], "doc_a long, doc_b long")
    )
    got = {
        r.doc_id: (r.component, r.is_canonical)
        for r in neardup_components(docs, pairs, "doc_id").collect()
    }
    for i in range(n):
        assert got[i][0] == expect[i], (i, got[i], expect[i])
        assert got[i][1] == (i == expect[i]), (i, got[i])


def test_h60_forms_agree_on_ascii_and_utf8(spark):
    """The three forms of the 60-bit hash in functions/hashing — Spark
    ``h60``, DuckDB ``h60_sql`` and the driver-side ``h60_py`` — agree on
    ASCII and on multi-byte UTF-8 (2-, 3- and 4-byte sequences): every
    engine hashes the UTF-8 bytes."""
    import duckdb

    from end_to_end_sales_etl_de_project_spark.functions.hashing import (
        h60,
        h60_py,
        h60_sql,
    )

    texts = [
        "", "a", "the quick brown fox", "17#3", "café crème", "ß" * 40,
        "naïve — dash", "中文分词测试", "emoji 🚀 four-byte", "mixed é中🚀",
    ]
    on_spark = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(t,) for t in texts], "s string")
        .select("s", h60("s").alias("h"))
        .collect()
    }
    on_duckdb = dict(
        duckdb.connect().execute(
            f"SELECT s, {h60_sql('s')} FROM (SELECT unnest(?::VARCHAR[]) AS s)",
            [texts],
        ).fetchall()
    )
    in_python = {t: h60_py(t) for t in texts}
    assert on_spark == on_duckdb == in_python
    assert len(set(in_python.values())) == len(texts)
    assert all(0 <= h < 1 << 60 for h in in_python.values())
