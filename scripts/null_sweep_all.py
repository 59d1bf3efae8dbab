"""Degenerate-data oracle sweep over the whole registry, and the one
table of degenerate-data axes.

``FIXTURES`` below holds one record per axis: its builder, its table
family, the Tier-1 scope, the sweep exclusions and the divergences
pinned in the Tier-1 suites. This script reads it for the full sweep;
the seven Tier-1 suites (``tests/test_null_parity*.py``,
``tests/test_empty_corpus.py``, ``tests/test_extreme_values.py``,
``tests/test_degenerate_duplication.py``) read it through the ``axis``
factory in ``tests/conftest.py``. Both compare through
``testing.oracle_parity``.

The Tier-1 NULL suites are scoped to the driver window, so a NULL-
semantics divergence in an out-of-window query hides until a rotation
carries it in (r11 caught q72/q81/m05 exactly that way). The sweep runs
EVERY registered oracle whose SQL references the axis's table family —
the whole class at once instead of 50 per round. The axes:

- planted NULLs: sales mutation masks, planted documents corpus,
  planted events rows, planted embeddings rows (r11);
- the empty corpus: every table 0 rows (r11);
- degenerate duplication: an all-identical-documents corpus (one
  40-clique — the hot-bucket guard's worst case, every text score
  tied), a two-document near-dup corpus (the smallest non-empty
  pairwise input) (r12), and all-identical sales measures, event
  timestamps and embeddings (r14);
- extreme values: sales decimal/date edge rows (r12), edge documents
  (max-length / single-char / all-whitespace / empty /
  one-token-repeated), edge event timestamps (year 9999, pre-epoch,
  epoch, duplicate-ts ties) and values, and edge embeddings
  (zero-norm, max-magnitude, one-hot-huge) (r13).

Usage:  python scripts/null_sweep_all.py [axis ...]   (default: all)
Prints one PASS/FAIL/XFAIL(pinned) line per (axis, query); exits
non-zero on any FAIL. Slow (~10-20 min per axis at sf0.001); run on an
idle machine.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from end_to_end_sales_etl_de_project_spark.plans.registry import (  # noqa: E402
    DRIVER_WINDOW,
    ORACLES,
)
from end_to_end_sales_etl_de_project_spark.session import get_spark_session  # noqa: E402
from end_to_end_sales_etl_de_project_spark.sources.tables import TABLES  # noqa: E402
from end_to_end_sales_etl_de_project_spark.testing import (  # noqa: E402
    duckdb_connection,
    oracle_parity,
)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

SALES_TABLES = ("lineitem", "orders", "customer", "supplier", "part", "nation", "region")
_SALES_MUTATIONS = {
    "lineitem": (
        "l_orderkey",
        [
            ("l_quantity", 97),
            ("l_extendedprice", 89),
            ("l_discount", 83),
            ("l_returnflag", 79),
            ("l_linestatus", 73),
            ("l_shipdate", 71),
            ("l_tax", 67),
        ],
    ),
    "orders": (
        "o_orderkey",
        [
            ("o_totalprice", 97),
            ("o_orderdate", 89),
            ("o_orderpriority", 83),
            ("o_orderstatus", 79),
        ],
    ),
    "supplier": ("s_suppkey", [("s_name", 7), ("s_nationkey", 11), ("s_acctbal", 5)]),
    "nation": ("n_nationkey", [("n_name", 5)]),
    "region": ("r_regionkey", [("r_name", 3)]),
}


def _clone_except(sf_dir: str, out: str, skip: set[str]) -> None:
    os.makedirs(out, exist_ok=True)
    for name in os.listdir(sf_dir):
        if name.removesuffix(".parquet") not in skip:
            shutil.copy(os.path.join(sf_dir, name), os.path.join(out, name))


def build_sales(out: str) -> None:
    """NULLs planted by per-table ``key % prime`` masks (distinct
    primes, so the NULL patterns overlap but never coincide entirely);
    schemas and row counts stay canonical."""
    _clone_except(SF, out, set(_SALES_MUTATIONS))
    con = duckdb.connect()
    for table, (key, masks) in _SALES_MUTATIONS.items():
        replaces = ", ".join(
            f"CASE WHEN {key} % {mod} = 0 THEN NULL ELSE {col} END AS {col}"
            for col, mod in masks
        )
        con.execute(
            f"COPY (SELECT * REPLACE ({replaces}) "
            f"FROM read_parquet('{SF}/{table}.parquet')) "
            f"TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )


_PAR = " pellentesque habitant morbi tristique senectus et netus et malesuada fames"


def _docs_values(rows: list[tuple]) -> str:
    """``SELECT`` of (doc_id, text, lang, source, n_chars) rows with the
    canonical documents types."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        return "'" + v.replace("'", "''") + "'" if isinstance(v, str) else str(v)

    values = ", ".join("(" + ", ".join(map(lit, r)) + ")" for r in rows)
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(text AS VARCHAR) AS text, "
        "CAST(lang AS VARCHAR) AS lang, CAST(source AS VARCHAR) AS source, "
        "CAST(n_chars AS BIGINT) AS n_chars "
        f"FROM (VALUES {values}) t(doc_id, text, lang, source, n_chars)"
    )


def build_docs(out: str) -> None:
    """Planted documents: every NULL/degenerate corner the synthetic
    corpus lacks (NULL text, lang, source, an all-NULL row), plus enough
    normal/near-dup content that the dedup paths stay non-vacuous. d15
    requires texts >= 16 chars or < 16 uniformly — keep every non-NULL
    text >= 16 chars."""
    _clone_except(SF, out, {"documents"})
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sleepy badgers watch from the old stone bridge" + _PAR * 3
    )
    rows = [
        (0, base, "en", "web", len(base)),
        (1, base + " appended tail words here", "en", "web", len(base) + 25),
        (2, base, "en", "books", len(base)),
        (3, "completely different arctic penguins assemble quietly near "
            "the frozen shoreline under pale green auroras tonight" + _PAR * 2,
         "fr", "web", 113),
        (4, None, "en", "web", 0),
        (5, base[:40] + " un texte distinct pour la suite du corpus" + _PAR,
         None, "web", 82),
        (6, "another moderately long document about rivers mountains "
            "oceans forests and the deserts beyond them" + _PAR * 2,
         "en", None, 98),
        (7, None, None, None, None),
    ]
    duckdb.connect().execute(
        f"COPY ({_docs_values(rows)}) TO '{out}/documents.parquet' (FORMAT PARQUET)"
    )


def build_events(out: str) -> None:
    """The real events plus planted rows exercising every NULL corner:
    NULL ts, NULL user_id, NULL event_type, NULL value, NULL props, and
    an all-NULL row. Written by DuckDB so the parquet keeps the
    timestamp physical type of the canonical file."""
    _clone_except(SF, out, {"events"})
    duckdb.connect().execute(
        f"""
COPY (
  SELECT * FROM read_parquet('{SF}/events.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (9000001, NULL,                              CAST(7 AS BIGINT),
     'click', CAST(1.5 AS DOUBLE), '{{"plan": "a", "n": 1}}'),
    (9000002, TIMESTAMP '2024-01-02 03:04:05',   NULL,
     'view',  CAST(2.0 AS DOUBLE), NULL),
    (9000003, TIMESTAMP '2024-01-02 03:04:06',   CAST(7 AS BIGINT),
     NULL,    NULL,                '{{"plan": "b", "n": 2}}'),
    (9000004, NULL, NULL, NULL, NULL, NULL)
  ) t(event_id, ts, user_id, event_type, value, props)
) TO '{out}/events.parquet' (FORMAT PARQUET)
"""
    )


def build_empty(out: str) -> None:
    """Every table present with its canonical schema and ZERO rows —
    the fully-pruned-slice / first-day-of-feed case."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF}/{name}.parquet') LIMIT 0) "
            f"TO '{out}/{name}.parquet' (FORMAT PARQUET)"
        )


def build_extreme(out: str) -> None:
    """Extreme-values axis (r12): APPEND edge rows to the sales facts —
    money at the comfortable edge of DECIMAL(18,2) arithmetic, negative
    prices/quantities, discount outside [0,1] (full, negative), tax >
    1, a duplicated line (PK violation, the ingest reality), FK
    orphans both ways, and timestamps at rendering boundaries
    (year 5 — 4-digit zero-padded rendering; pre-epoch 1969;
    9999-12-31). Originals kept so aggregates stay non-degenerate.
    Events are NOT touched: extreme dates live in the micros sales
    columns only (the events nanos column has its own domain and a
    pandas consumer with the 1677-2262 range)."""
    _clone_except(SF, out, {"lineitem", "orders"})
    con = duckdb.connect()
    con.execute(
        f"""
COPY (
  SELECT * FROM read_parquet('{SF}/lineitem.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (8000001, CAST(1 AS BIGINT), CAST(1 AS BIGINT), 1, CAST(0.0 AS DOUBLE),
     CAST(99999999999.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
     'N', 'O', TIMESTAMP '9999-12-31 23:59:59'),
    (8000002, CAST(2 AS BIGINT), CAST(2 AS BIGINT), 1, CAST(-7.5 AS DOUBLE),
     CAST(-5000.25 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
     'R', 'F', TIMESTAMP '1969-12-31 23:59:59'),
    (8000003, CAST(3 AS BIGINT), CAST(3 AS BIGINT), 1, CAST(3.0 AS DOUBLE),
     CAST(0.01 AS DOUBLE), CAST(-0.5 AS DOUBLE), CAST(2.5 AS DOUBLE),
     'A', 'F', TIMESTAMP '0005-03-07 00:00:00'),
    (8000003, CAST(3 AS BIGINT), CAST(3 AS BIGINT), 1, CAST(3.0 AS DOUBLE),
     CAST(0.01 AS DOUBLE), CAST(-0.5 AS DOUBLE), CAST(2.5 AS DOUBLE),
     'A', 'F', TIMESTAMP '0005-03-07 00:00:00'),
    (8000005, CAST(4 AS BIGINT), CAST(4 AS BIGINT), 1, CAST(1.0 AS DOUBLE),
     CAST(10.00 AS DOUBLE), CAST(0.1 AS DOUBLE), CAST(0.05 AS DOUBLE),
     'N', 'O', TIMESTAMP '1999-06-15 12:00:00')
  ) t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
      l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
      l_shipdate)
) TO '{out}/lineitem.parquet' (FORMAT PARQUET)
"""
    )
    con.execute(
        f"""
COPY (
  SELECT * FROM read_parquet('{SF}/orders.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (8000001, CAST(1 AS BIGINT), 'O', CAST(99999999999.99 AS DOUBLE),
     TIMESTAMP '9999-12-31 23:59:59', '1-URGENT'),
    (8000002, CAST(1 AS BIGINT), 'F', CAST(-123.45 AS DOUBLE),
     TIMESTAMP '1969-12-31 23:59:59', '5-LOW'),
    (8000003, CAST(1 AS BIGINT), 'P', CAST(0.0 AS DOUBLE),
     TIMESTAMP '0005-03-07 00:00:00', '3-MEDIUM'),
    (8000006, CAST(2 AS BIGINT), 'O', CAST(50.00 AS DOUBLE),
     TIMESTAMP '2000-01-01 00:00:00', '2-HIGH')
  ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      o_orderpriority)
) TO '{out}/orders.parquet' (FORMAT PARQUET)
"""
    )


def build_extreme_docs(out: str) -> None:
    """Extreme-values axis for the documents scope (VERDICT r12 #4):
    APPEND edge documents to the real corpus — max-length (~60k chars,
    the shingle/entropy families' widest per-doc fan-out), single-char,
    all-whitespace, empty-string (distinct from NULL), punctuation-only,
    one token repeated thousands of times (repetition family's edge),
    and a single 5k-char token with no whitespace at all (tokenizer /
    shingle boundary). ASCII only — the t05-class oracle promotions are
    documented as valid on ASCII corpora, and this axis stresses VALUE
    edges, not charset semantics. Originals kept so corpus-level
    statistics stay non-degenerate."""
    _clone_except(SF, out, {"documents"})
    long_text = (
        "the quick brown fox jumps over the lazy dog near the river " * 1000
    ).rstrip()
    rows = [
        (8000001, "x", "en", "web", 1),
        (8000002, "   \t\t  \n\n   ", "en", "books", 12),
        (8000003, "", "fr", "web", 0),
        (8000004, "!!! ??? ... ;;; --- ,,, :::", "en", "news", 27),
        (8000005, long_text, "en", "web", len(long_text)),
        (8000006, ("spam " * 3000).rstrip(), "de", "wiki", 5 * 3000 - 1),
        (8000007, "a" * 5000, "en", "code", 5000),
    ]
    duckdb.connect().execute(
        f"COPY (SELECT * FROM read_parquet('{SF}/documents.parquet') "
        f"UNION ALL {_docs_values(rows)}) "
        f"TO '{out}/documents.parquet' (FORMAT PARQUET)"
    )


def build_extreme_events(out: str) -> None:
    """Extreme-values axis for the events scope: year-9999 and
    pre-epoch timestamps against the window family (the r12 sales axis
    deliberately skipped events because of the pandas ns-range consumer
    — this axis confronts exactly that), the epoch itself, duplicate
    timestamps for one user (zero inter-arrival gap, window ORDER BY
    ties), and value at the DECIMAL(18,2) money-discipline edge
    (±99999999999.99, the same bound the r12 sales axis used — values
    beyond the decimal cast's range are out of the engine's documented
    domain: Spark's non-ANSI decimal overflow yields NULL where DuckDB
    errors, by design) plus a 1e-300 subnormal-adjacent tiny (rounds
    to 0.00 through the decimal cast on both engines)."""
    _clone_except(SF, out, {"events"})
    duckdb.connect().execute(
        f"""
COPY (
  SELECT * FROM read_parquet('{SF}/events.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (9500001, TIMESTAMP '9999-12-31 23:59:59', CAST(999001 AS BIGINT),
     'click', CAST(99999999999.99 AS DOUBLE),  '{{"plan": "z", "n": 1}}'),
    (9500002, TIMESTAMP '1969-12-31 23:59:59', CAST(999001 AS BIGINT),
     'view',  CAST(-99999999999.99 AS DOUBLE), '{{"plan": "z", "n": 2}}'),
    -- FRACTIONAL pre-epoch second: truncate-toward-zero vs floor
    -- disagree here (truncation buckets -0.5s into second/minute 0,
    -- floor into -1) — the r14 axis that catches unix_timestamp-based
    -- second/minute bucketing (the e33 class, ADVICE r13)
    (9500007, TIMESTAMP '1969-12-31 23:59:59.5', CAST(999001 AS BIGINT),
     'view',  CAST(-1.0 AS DOUBLE), '{{"plan": "z", "n": 7}}'),
    (9500003, TIMESTAMP '1970-01-01 00:00:00', CAST(999002 AS BIGINT),
     'click', CAST(1e-300 AS DOUBLE), '{{"plan": "y", "n": 3}}'),
    (9500004, TIMESTAMP '2024-01-05 10:00:00', CAST(999003 AS BIGINT),
     'click', CAST(0.0 AS DOUBLE),    '{{"plan": "x", "n": 4}}'),
    (9500005, TIMESTAMP '2024-01-05 10:00:00', CAST(999003 AS BIGINT),
     'view',  CAST(-0.0 AS DOUBLE),   '{{"plan": "x", "n": 5}}'),
    (9500006, TIMESTAMP '2024-01-05 10:00:01', CAST(999003 AS BIGINT),
     'purchase', CAST(42.0 AS DOUBLE), '{{"plan": "x", "n": 6}}')
  ) t(event_id, ts, user_id, event_type, value, props)
) TO '{out}/events.parquet' (FORMAT PARQUET)
"""
    )


def build_extreme_emb(out: str) -> None:
    """Extreme-values axis for the embeddings scope: the zero-norm
    vector (cosine's 0/0 — NaN-vs-NULL semantics must agree), a
    max-magnitude vector (components ±100, ~250x the corpus norm but
    inside the quantized-integer grid's int64 envelope — beyond it the
    grid overflows by design and the first sweep proved both engines
    fail there, differently), an all-equal vector, and a one-hot
    vector with a single huge component (1e4). Appended with fresh
    ids; labels in the existing domain so classifier-family groupBys
    keep their keys."""
    _clone_except(SF, out, {"embeddings"})
    dim = 64
    zero = "[" + ", ".join("0.0" for _ in range(dim)) + "]"
    maxmag = "[" + ", ".join(f"{100.0 if i % 2 == 0 else -100.0}" for i in range(dim)) + "]"
    equal = "[" + ", ".join("0.5" for _ in range(dim)) + "]"
    # one-hot magnitude sits INSIDE the quantized-integer grid's int64
    # envelope: at the 2^20 grid a component c contributes (c·2^20)² to
    # the int64 distance sums, so |c| must stay ≤ ~360 for a 64-dim
    # worst case (the first sweep proved 1e4 overflows — DuckDB errors,
    # Spark's non-ANSI int64 wraps silently; both out-of-contract)
    onehot = "[" + ", ".join("250.0" if i == 0 else "0.0" for i in range(dim)) + "]"
    duckdb.connect().execute(
        f"""
COPY (
  SELECT * FROM read_parquet('{SF}/embeddings.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (9500001, CAST({zero} AS FLOAT[]),   CAST(0 AS INTEGER)),
    (9500002, CAST({maxmag} AS FLOAT[]), CAST(1 AS INTEGER)),
    (9500003, CAST({equal} AS FLOAT[]),  CAST(2 AS INTEGER)),
    (9500004, CAST({onehot} AS FLOAT[]), CAST(3 AS INTEGER))
  ) t(vec_id, embedding, label)
) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
"""
    )


_IDENT_TEXT = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "sleepy badgers watch from the old stone bridge and the river "
    "keeps moving under the pale morning light" + _PAR * 3
)


def build_identical(out: str) -> None:
    """Degenerate-duplication axis 1 (VERDICT r11 #5): EVERY document
    the same text — one 40-clique for the dedup/LSH/containment/
    component family, the hot-bucket guard's worst case (every banded
    LSH bucket holds the whole corpus) and the component loop's densest
    graph. lang/source still vary so groupBys keep keys; every
    text-derived score ties, stressing rank/row_number tiebreakers."""
    _clone_except(SF, out, {"documents"})
    langs = ["en", "fr", "de", "es"]
    sources = ["web", "books", "wiki", "code", "news"]
    rows = ", ".join(
        f"({i}, $txt$, '{langs[i % 4]}', '{sources[i % 5]}', length($txt$))"
        for i in range(40)
    )
    duckdb.connect().execute(
        f"""
COPY (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         lang, source, CAST(n_chars AS BIGINT) AS n_chars
  FROM (VALUES {rows}) t(doc_id, text, lang, source, n_chars)
) TO '{out}/documents.parquet' (FORMAT PARQUET)
""".replace("$txt$", "'" + _IDENT_TEXT + "'")
    )


def build_identical_sales(out: str) -> None:
    """Degenerate-duplication axis for the sales scope (r14): every
    MEASURE and ORDERING COLUMN identical — one order date, one total
    price, one quantity/price/discount/tax per line, one ship date —
    while all KEYS keep their real distribution. Every revenue rank
    ties across an entire nation, every keep-latest window ties on the
    date, every decile/NTILE boundary is one value, every month key is
    the same month, every Pareto cumulative share is linear. Rank/
    row_number tie-breaks that hold on realistic data by luck (the
    e05 ASOF class) break loudly; aggregates must still be exact on
    the constant inputs."""
    _clone_except(SF, out, set(_SALES_MUTATIONS))
    con = duckdb.connect()
    con.execute(
        f"""
COPY (SELECT * REPLACE (
        TIMESTAMP '2024-03-15 00:00:00' AS o_orderdate,
        CAST(1000.00 AS DOUBLE) AS o_totalprice,
        'O' AS o_orderstatus,
        '3-MEDIUM' AS o_orderpriority)
      FROM read_parquet('{SF}/orders.parquet'))
TO '{out}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""
COPY (SELECT * REPLACE (
        CAST(10.0 AS DOUBLE) AS l_quantity,
        CAST(500.00 AS DOUBLE) AS l_extendedprice,
        CAST(0.05 AS DOUBLE) AS l_discount,
        CAST(0.04 AS DOUBLE) AS l_tax,
        'N' AS l_returnflag,
        'O' AS l_linestatus,
        TIMESTAMP '2024-03-20 00:00:00' AS l_shipdate)
      FROM read_parquet('{SF}/lineitem.parquet'))
TO '{out}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    # _clone_except skipped the whole mutation set; supplier/nation/
    # region stay UNMUTATED on this axis (keys and dims are real)
    for t in ("supplier", "nation", "region"):
        shutil.copy(f"{SF}/{t}.parquet", f"{out}/{t}.parquet")


def build_identical_events(out: str) -> None:
    """Degenerate-duplication axis for the events scope (r14): EVERY
    event at the same timestamp — the window family's worst case.
    Every ORDER BY ts is one giant peer group (RANGE frames include
    the whole partition, lag/lead resolve purely by the documented
    tie-breaks), every session is a single zero-length run, every
    inter-arrival gap is zero, and every funnel/attribution lookback
    collapses to simultaneity. Tie-break discipline that holds on
    realistic data by luck breaks loudly here. event_id/user_id/type/
    value keep their real distribution so aggregations stay
    non-degenerate."""
    _clone_except(SF, out, {"events"})
    duckdb.connect().execute(
        f"""
COPY (
  SELECT event_id, TIMESTAMP '2024-01-05 10:00:00' AS ts,
         user_id, event_type, value, props
  FROM read_parquet('{SF}/events.parquet')
) TO '{out}/events.parquet' (FORMAT PARQUET)
"""
    )


def build_identical_emb(out: str) -> None:
    """Degenerate-duplication axis for the embeddings scope (VERDICT
    r13 #5): EVERY vector identical — the IVF/PQ training loop's
    empty-cell worst case. Seeding takes the k lowest vec_ids'
    (identical) quantized vectors, every point assigns to one cell,
    and all other cells stay empty across every Lloyd round — the
    empty-cell centroid-retention branch (similarity.py ivf_train)
    runs for k-1 of k centroids on every iteration, which no shipped
    fixture exercised. Downstream, every cosine similarity in the
    corpus ties exactly, stressing the a-family's deterministic
    tie-breaks, kNN-graph degree caps, and recall-audit denominators.
    vec_ids/labels keep their real distribution so label-keyed
    aggregations stay non-degenerate; the vector is unit-norm-ish
    with distinct components so quantization is non-trivial."""
    _clone_except(SF, out, {"embeddings"})
    vec = "[" + ", ".join(f"{(i % 9 - 4) / 16:.4f}" for i in range(64)) + "]"
    duckdb.connect().execute(
        f"""
COPY (
  SELECT vec_id, CAST({vec} AS FLOAT[]) AS embedding, label
  FROM read_parquet('{SF}/embeddings.parquet')
) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
"""
    )


def build_twodoc(out: str) -> None:
    """Degenerate-duplication axis 2: a two-document corpus — one
    near-dup pair. The smallest non-empty input where every pairwise
    operator must still produce its one candidate pair (or correctly
    none), and where sampled/statistical operators see n=2."""
    _clone_except(SF, out, {"documents"})
    duckdb.connect().execute(
        f"""
COPY (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
         lang, source, CAST(length(text) AS BIGINT) AS n_chars
  FROM (VALUES
    (0, '{_IDENT_TEXT}', 'en', 'web'),
    (1, '{_IDENT_TEXT} with a slightly different ending here', 'en', 'books')
  ) t(doc_id, text, lang, source)
) TO '{out}/documents.parquet' (FORMAT PARQUET)
"""
    )


def build_emb(out: str) -> None:
    """The real embeddings plus planted rows exercising every NULL/shape
    corner, among them a full-LENGTH vector with a NULL element: it
    passes the size gate but must be excluded by the element-nullity
    predicate (ADVICE r9 — the numpy seams would otherwise crash where
    DuckDB NULL-propagates). Written by DuckDB so the parquet keeps the
    FLOAT[] physical type of the canonical file."""
    _clone_except(SF, out, {"embeddings"})
    full = "[" + ", ".join(f"{(i % 7 - 3) / 8:.3f}" for i in range(64)) + "]"
    holed = (
        "["
        + ", ".join("NULL" if i == 17 else f"{(i % 5 - 2) / 8:.3f}" for i in range(64))
        + "]"
    )
    duckdb.connect().execute(
        f"""
COPY (
  SELECT * FROM read_parquet('{SF}/embeddings.parquet')
  UNION ALL
  SELECT * FROM (VALUES
    (9000001, NULL,                                  CAST(3 AS INTEGER)),
    (9000002, CAST([] AS FLOAT[]),                   CAST(1 AS INTEGER)),
    (9000003, CAST([0.25, -0.5, 0.125] AS FLOAT[]),  CAST(2 AS INTEGER)),
    (9000004, CAST({full} AS FLOAT[]),               NULL),
    (NULL,    CAST({full} AS FLOAT[]),               CAST(4 AS INTEGER)),
    (9000006, NULL, NULL),
    (9000007, CAST({holed} AS FLOAT[]),              CAST(5 AS INTEGER))
  ) t(vec_id, embedding, label)
) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
"""
    )


@dataclass(frozen=True)
class Axis:
    """One degenerate-data axis.

    - ``build(out)`` writes a full sf-dir clone with the axis planted;
    - ``tables`` is the table family: the full sweep runs every oracle
      that reads one of them (every oracle when None);
    - ``tier1`` is the Tier-1 suite's hand list, or None for the
      window-derived scope: every in-window query of the family minus
      ``exclusions``, so rotations update it by construction (the r9
      failure mode — d23 displaced e17 after a hand list was written —
      cannot recur);
    - ``expected`` holds the divergences pinned in the Tier-1 suite;
      the sweep reports them as XFAIL(pinned).
    """

    build: Callable[[str], None]
    tables: tuple[str, ...] | None
    tier1: tuple[str, ...] | None = ()
    exclusions: frozenset[str] = frozenset()
    expected: frozenset[str] = frozenset()

    def sweep_scope(self) -> list[str]:
        if self.tables is None:
            return sorted(ORACLES)
        pat = re.compile(r"\b(" + "|".join(self.tables) + r")\b")
        return sorted(n for n, sql in ORACLES.items() if pat.search(sql))

    def tier1_scope(self) -> list[str]:
        if self.tier1 is not None:
            return list(self.tier1)
        return [
            n for n in self.sweep_scope()
            if n in DRIVER_WINDOW and n not in self.exclusions
        ]


# Tier-1 representatives on the two degenerate-duplication corpora:
# exact-dup grouping, banded LSH (hot-bucket worst case), SimHash,
# all-pairs Jaccard/containment, component resolution + histogram,
# tier attribution (all four tiers hit the same clique), chunk-grain
# near-dup, substring/prefix dedup, and the tie-heavy curation ranks.
_DEGENERATE_DUP_TIER1 = (
    "d01_dedup_exact",
    "d03_minhash_lsh",
    "d04_simhash",
    "d02_ngram_jaccard",
    "d06_neardup_resolve",
    "d11_chunk_neardup",
    "d14_cluster_size_histogram",
    "d15_prefix_duplicates",
    "d16_containment_pairs",
    "d17_substring_dedup",
    "d24_dedup_tier_attribution",
    "d26_neardup_survivors",
    "t18_chunk_dedup",
    "c01_curate_corpus",
    "c02_training_manifest",
    "c11_diversity_sample",
    "t23_vocab_coverage",
)
_DOCS = ("documents",)
_EVENTS = ("events",)
_EMB = ("embeddings",)

FIXTURES: dict[str, Axis] = {
    "sales": Axis(build_sales, SALES_TABLES, tier1=None),
    "docs": Axis(
        build_docs, _DOCS, tier1=None,
        # fail-loud precondition, pinned in tests/test_null_parity.py
        exclusions=frozenset({"d15_prefix_duplicates"}),
    ),
    "events": Axis(build_events, _EVENTS, tier1=None),
    "emb": Axis(build_emb, _EMB, tier1=None),
    "empty": Axis(
        build_empty, None,
        # one per operator family, plus every query the r11 empty-corpus
        # sweep fixed (q34 schema-on-readback, q102/c15 SUM-over-zero
        # coalesce) so the regressions stay visible by name
        tier1=(
            "q12_pricing_summary",      # grouped agg
            "q34_partitioned_write_readback",  # r11 fix: schema on empty readback
            "q102_constraint_audit",    # r11 fix: empty batch passes its checks
            "c15_rule_attribution",     # r11 fix: zero evaluated, zero failed
            "q61_union_by_name",        # schema-evolution union of two empty gens
            "q92_approx_error_bounds",  # sketch audit over zero groups
            "q81_cumulative_distinct",  # window over empty spine
            "q106_volume_shipping",     # multi-join
            "d01_dedup_exact",          # dedup family
            "d03_minhash_lsh",          # LSH family (artifact over empty corpus)
            "d24_dedup_tier_attribution",  # full cascade: all tiers zero
            "t01_text_stats",           # text family
            "t23_vocab_coverage",       # top-k prune over empty vocab
            "e01_tumbling_hourly",      # events family
            "a01_ann_bruteforce",       # ANN exact baseline (no training)
            "c01_curate_corpus",        # curation capstone
        ),
        # pinned in tests/test_empty_corpus.py: the IVF/PQ paths fail
        # loudly on an empty training corpus (deliberate guard), and
        # upstream Spark emits zero rows for ROLLUP/CUBE/GROUPING SETS
        # over empty input where ANSI/DuckDB emit the grand-total row
        expected=frozenset({
            "a04_ann_ivf", "a05_ann_pq", "a12_ivf_recall_audit",
            "a13_pq_recall_audit", "a20_pq_distortion", "a21_ivf_recall_curve",
            "a22_ivf_cell_balance", "a23_ivf_probe_cost",
            "q18_rollup", "q21_cube", "q38_grouping_sets",
        }),
    ),
    # degenerate-duplication axes (VERDICT r11 #5): each swept over
    # every oracle reading its family
    "identical": Axis(build_identical, _DOCS, tier1=_DEGENERATE_DUP_TIER1),
    "identical_emb": Axis(build_identical_emb, _EMB),
    "identical_events": Axis(build_identical_events, _EVENTS),
    "identical_sales": Axis(build_identical_sales, SALES_TABLES),
    "twodoc": Axis(build_twodoc, _DOCS, tier1=_DEGENERATE_DUP_TIER1),
    # extreme-values axis (r12): sales facts with edge rows appended
    "extreme": Axis(
        build_extreme, ("lineitem", "orders"),
        # the r12 q41 fix by name, decimal-heavy aggregates,
        # negative-revenue ranking, set ops over the duplicated line,
        # FK-orphan handling, and month keys at the year-5/9999 edges
        tier1=(
            "q41_exact_moment_stats",  # the r12 fix: DECIMAL(19,2) squared terms
            "q12_pricing_summary",     # decimal sums over negative/edge money
            "q01_customer_monthly_spend",  # month keys at 0005/9999 boundaries
            "q02_sales_team_incentive",    # rank with negative revenue months
            "q10_rank_top1",
            "q63_fk_orphans",          # the planted orphans, both directions
            "q08_distinct",            # duplicated line collapses identically
            "q17_join_left_agg",
            "q107_supplier_part_breadth",
            "q108_cohort_ltv",         # cohort index at year-5/9999 months
        ),
        # q26's due_date lands in year 10000 (9999-12-31 + 30 days) and
        # the two engines RENDER five-digit years differently — Spark
        # uses the ISO-8601 expanded-year sign ("+10000-01-30"), DuckDB
        # does not ("10000-01-30"). Values agree; only the text form
        # differs, and only via the ts-as-string fallback (pandas cannot
        # represent the value at all). Upstream rendering behavior on
        # data outside any real domain — pinned, not patched (matching
        # DuckDB would mean changing timestamp→string semantics that
        # month_key and every string-rendered date rely on).
        expected=frozenset({"q26_date_functions"}),
    ),
    # extreme-values axes (r13, VERDICT r12 #4): the other three scopes,
    # their divergences pinned in tests/test_extreme_values.py
    "extreme_docs": Axis(
        build_extreme_docs, _DOCS,
        # per-doc stats over empty/whitespace/single-char texts
        # (size(NULL)/empty-array edges), the repetition family on the
        # 3000x one-token doc, shingle/LSH over the 60k-char doc,
        # chunking at both length extremes, and the stopword profile
        # (whose explicit NULL-text drop the axis exists to prove)
        tier1=(
            "t01_text_stats",
            "t07_repetition",
            "t14_doc_chunking",
            "t34_char_entropy",
            "t40_stopword_profile",
            "d03_minhash_lsh",
        ),
        # d15: the engine's own fail-loud guard — prefix blocking
        # requires every text >= the 16-char block width, and the axis
        # plants 1-char / empty docs. The guard exists precisely so short
        # texts can't silently vanish from the prefix index (its message
        # says to lower the block width to the corpus minimum); erroring
        # here is the designed behavior, same class as IVF/PQ on the
        # empty corpus.
        expected=frozenset({"d15_prefix_duplicates"}),
    ),
    "extreme_events": Axis(
        build_extreme_events, _EVENTS,
        # the e08 epoch-micros fix (year-9999 gap through the Python
        # stage), the e18 DECIMAL(19,2) widening at the money edge,
        # tumbling sums over edge values, and burst scoring over the
        # planted duplicate-timestamp minute
        tier1=(
            "e01_tumbling_hourly",
            "e08_interarrival_stats",
            "e18_rolling_zscore",
            "e33_burst_detection",
        ),
        # e03/e07: the session END timestamp for a year-9999 event lands
        # in year 10000 (9999-12-31 23:59:59 + the 30-min gap window) —
        # the q26 rendering class of the extreme axis above
        expected=frozenset({"e03_session_window", "e07_sessionize_lag"}),
    ),
    "extreme_emb": Axis(
        build_extreme_emb, _EMB,
        # brute-force cosine over the zero-norm vector (0/0 guard), norm
        # audit at max magnitude, and the PQ path at the quantized
        # grid's working edge
        tier1=("a01_ann_bruteforce", "a18_norm_audit", "a05_ann_pq"),
    ),
}


def main() -> int:
    spark = get_spark_session(master="local[16]", shuffle_partitions=16)
    failures: list[tuple[str, str, str]] = []
    for fam in sys.argv[1:] or list(FIXTURES):
        axis = FIXTURES[fam]
        scope = axis.sweep_scope()
        out = tempfile.mkdtemp(prefix=f"nullsweep-{fam}-")
        axis.build(out)
        con = duckdb_connection(out)
        print(f"== {fam}: {len(scope)} queries ==", flush=True)
        for name in scope:
            try:
                r = oracle_parity(spark, out, con, name)
                ok, detail = r.match, r.detail
            except Exception as e:  # noqa: BLE001
                ok, detail = False, f"{type(e).__name__}: {e}"[:300]
            if not ok and name in axis.expected:
                print("XFAIL(pinned)", fam, name, flush=True)
                continue
            print(("PASS" if ok else f"FAIL {detail}"), fam, name, flush=True)
            if not ok:
                failures.append((fam, name, detail))
    print(f"\nTOTAL FAILURES: {len(failures)}")
    for fam, name, detail in failures:
        print(" ", fam, name, detail[:160])
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
