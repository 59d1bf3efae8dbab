"""Seeded input generator for the benchmark.

Everything the program reads is made here from ``--seed``: the same seed
gives byte-identical files. numpy draws the values, DuckDB (at most
``nproc`` threads) does the relational mapping and writes every file.

Two input families, both shaped like the TPC-H-ish star the repo's
queries are written against (FIXTURES.md §B):

- ``write_tables``: the ten catalog tables (region ... embeddings) as one
  single-row-group parquet file each, the layout ``sources.tables`` reads.
- ``write_etl_dims`` and ``write_landing``: the pipeline's inputs.
  Dimension parquet (customer, store = nation, sales_team = supplier) plus
  one landing directory per batch: lineitem ⋈ orders mapped to sales rows for one month, split into
  four CSVs (one with an extra column), plus a non-CSV file, a header-only
  CSV and a missing-column CSV, so every quarantine route runs. Each
  landing also plants an incentive tie (two rank-1 sellers) and a few
  orphan-customer rows, and keeps its valid rows as parquet for the
  output checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa

VOCAB = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "order filter group vector stream"
).split()
LANGS = ("en", "en", "en", "es", "fr", "zh", "de")
EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
COLORS = ("red", "blue", "green", "small", "large", "steel", "brass", "olive")
NOUNS = ("widget", "ring", "bolt", "gear", "valve", "plate", "spring", "coil")
PTYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL")
EPOCH = np.datetime64("1995-01-01")
N_MONTHS = 80  # 1995-01 .. 2001-08, the order-date range of the star

SALES_COLUMNS = (
    "customer_id", "store_id", "product_name", "sales_date",
    "sales_person_id", "price", "quantity", "total_cost",
)


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated star (``orders`` sets the fact size)."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    documents: int
    embeddings: int


# the row counts of the repo's sf0.01 test catalog (TESTDATA.md)
QUERY_SIZES = Sizes(1500, 100, 2000, 15000, 10000, 500, 500)
TINY_SIZES = Sizes(150, 50, 200, 1500, 1000, 60, 60)
# the pipeline draws from a sf0.1-sized population: ~7.5k sales rows a month
ETL_SIZES = Sizes(15000, 1000, 20000, 0, 0, 0, 0)
ETL_ROWS_PER_MONTH = 7500
TINY_ROWS_PER_MONTH = 400


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false")
    con.execute(f"SET threads TO {max(1, threads)}")
    return con


def _copy(con, rel_sql: str, path: str) -> None:
    # one row group per file, like the catalog the queries were tuned on
    con.execute(
        f"COPY ({rel_sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 10000000)"
    )


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _dims(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    c = np.arange(s.customers, dtype=np.int64)
    sp = np.arange(s.suppliers, dtype=np.int64)
    p = np.arange(s.parts, dtype=np.int64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i:02d}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": c,
            "c_name": [f"Customer#{i:09d}" for i in c],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.customers), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, s.customers)],
        }),
        "supplier": pa.table({
            "s_suppkey": sp,
            "s_name": [f"Supplier#{i:09d}" for i in sp],
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.suppliers), 2),
        }),
        "part": pa.table({
            "p_partkey": p,
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, s.parts), rng.integers(0, 8, s.parts))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
            "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), s.parts)],
            "p_size": pa.array(rng.integers(1, 51, s.parts).astype(np.int32)),
            "p_retailprice": np.round(900 + (p % 1000) * 0.1 + rng.integers(0, 100, s.parts), 2),
        }),
    }


def _facts(
    rng: np.random.Generator, s: Sizes, n_orders: int, day_lo: np.ndarray, day_span: np.ndarray,
    retail: np.ndarray, key_base: int = 0,
) -> tuple[pa.Table, pa.Table]:
    """orders + lineitem; order dates drawn in [day_lo, day_lo+day_span)."""
    okey = np.arange(key_base, key_base + n_orders, dtype=np.int64)
    odate = EPOCH + (day_lo + (rng.random(n_orders) * day_span).astype(np.int64)).astype("timedelta64[D]")
    nlines = rng.integers(1, 8, n_orders)
    lok = np.repeat(okey, nlines)
    ldate = np.repeat(odate, nlines)
    n = len(lok)
    linenumber = (np.arange(n) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1).astype(np.int32)
    part = rng.integers(0, s.parts, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * retail[part], 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    charge = price * (1 - disc) * (1 + tax)
    total = np.round(np.bincount(np.searchsorted(okey, lok), weights=charge, minlength=n_orders), 2)
    ship = ldate + rng.integers(1, 122, n).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, s.customers, n_orders).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": total,
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lineitem = pa.table({
        "l_orderkey": lok,
        "l_partkey": part,
        "l_suppkey": rng.integers(0, s.suppliers, n).astype(np.int64),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    return orders, lineitem


def _corpus(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    """events, documents (with exact and near duplicates) and clustered
    embeddings (with near-duplicate vectors)."""
    # a mean gap of 259 s: the test catalog's 10k events span 30 days
    gaps = rng.integers(1_000_000, 518_000_000, s.events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    events = pa.table({
        "event_id": np.arange(s.events, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, 150, s.events).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), s.events)],
        "value": np.round(rng.uniform(0, 20, s.events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, s.events)],
    })
    texts: list[str] = []
    for i in range(s.documents):
        roll = rng.random()
        if i >= 4 and roll < 0.01:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 4 and roll < 0.06:  # near duplicate: a few words changed
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(_words(rng, int(rng.integers(10, 100))))
    documents = pa.table({
        "doc_id": np.arange(s.documents, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), s.documents)],
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, s.embeddings)
    vecs = centers[labels] + rng.normal(0, 0.35, (s.embeddings, 64))
    dup = np.flatnonzero(rng.random(s.embeddings) < 0.05)
    dup = dup[dup > 0]
    vecs[dup] = vecs[dup - 1] + rng.normal(0, 0.001, (len(dup), 64))
    labels[dup] = labels[dup - 1]
    embeddings = pa.table({
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {"events": events, "documents": documents, "embeddings": embeddings}


def write_tables(out: str, seed: int, sizes: Sizes, threads: int) -> dict:
    """The ten catalog tables under ``out``; returns per-table rows/MB."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    tables = _dims(rng, sizes)
    retail = tables["part"]["p_retailprice"].to_numpy()
    day_lo = np.zeros(sizes.orders, dtype=np.int64)
    span = np.full(sizes.orders, 2404, dtype=np.int64)  # to 2001-08-01
    tables["orders"], tables["lineitem"] = _facts(rng, sizes, sizes.orders, day_lo, span, retail)
    tables.update(_corpus(rng, sizes))
    con = connect(threads)
    stats = {}
    for name, tbl in tables.items():
        con.register("t", tbl)
        path = os.path.join(out, f"{name}.parquet")
        _copy(con, "SELECT * FROM t", path)
        con.unregister("t")
        stats[name] = {"rows": tbl.num_rows, "mb": os.path.getsize(path) / 1e6}
    con.close()
    return stats


def permuted_copy(src: str, dst: str, seed: int, threads: int) -> None:
    """A fresh path holding every catalog table, with the corpus tables
    (documents, embeddings) row-permuted by ``seed``: same content, new
    path and fingerprint, so every session artifact is rebuilt on it."""
    os.makedirs(dst, exist_ok=True)
    con = connect(threads)
    for name in sorted(os.listdir(src)):
        table = name.removesuffix(".parquet")
        order = {"documents": "doc_id", "embeddings": "vec_id"}.get(table)
        rel = f"SELECT * FROM read_parquet('{src}/{name}')"
        if order:
            rel += f" ORDER BY hash({order} + {int(seed)}), {order}"
        _copy(con, rel, os.path.join(dst, name))
    con.close()


# --- pipeline inputs ---------------------------------------------------


def month_label(m: int) -> str:
    return f"{1995 + m // 12}-{m % 12 + 1:02d}"


def _month_days(m: int) -> tuple[int, int]:
    start = np.datetime64(f"{month_label(m)}-01")
    end = np.datetime64(f"{month_label(m + 1)}-01")
    return int((start - EPOCH).astype(int)), int((end - start).astype(int))


def write_etl_dims(out: str, seed: int, sizes: Sizes, threads: int) -> np.ndarray:
    """customer / store / sales_team parquet (reference column shapes,
    FIXTURES.md §A2-A4) mapped from customer / nation / supplier.
    Returns the part retail prices the landings price against."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    d = _dims(rng, sizes)
    con = connect(threads)
    for name, tbl in d.items():
        con.register(name, tbl)
    _copy(con, """
        SELECT c_custkey AS customer_id, 'First' || c_custkey AS first_name,
               'Last' || (c_custkey % 97) AS last_name, c_mktsegment || ' St ' || c_custkey AS address,
               lpad(CAST(c_nationkey AS VARCHAR), 6, '1') AS pincode, '555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS phone_number,
               '2020-01-01' AS customer_joining_date
        FROM customer ORDER BY c_custkey""", f"{out}/customer.parquet")
    _copy(con, """
        SELECT CAST(n_nationkey AS BIGINT) AS id, n_name || ' Market St' AS address,
               lpad(CAST(n_nationkey AS VARCHAR), 6, '2') AS store_pincode, 'Manager ' || n_name AS store_manager_name,
               '2019-01-01' AS store_opening_date, 'good' AS reviews
        FROM nation ORDER BY n_nationkey""", f"{out}/store.parquet")
    _copy(con, """
        SELECT s_suppkey AS id, 'Seller' AS first_name, 'No' || s_suppkey AS last_name,
               CAST(s_suppkey - s_suppkey % 10 AS BIGINT) AS manager_id,
               CASE WHEN s_suppkey % 10 = 0 THEN 'Y' ELSE 'N' END AS is_manager,
               s_name || ' Quota Rd' AS address, lpad(CAST(s_nationkey AS VARCHAR), 6, '3') AS pincode,
               '2021-01-01' AS joining_date
        FROM supplier ORDER BY s_suppkey""", f"{out}/sales_team.parquet")
    con.register("s_nat", d["supplier"].select(["s_suppkey", "s_nationkey"]))
    _copy(con, "SELECT * FROM s_nat", f"{out}/supplier_nation.parquet")
    con.close()
    return d["part"]["p_retailprice"].to_numpy()


def write_landing(
    dims_dir: str, landing: str, expect: str, seed: int, batch: int, month: int,
    rows: int, sizes: Sizes, retail: np.ndarray, threads: int,
) -> dict:
    """One month of sales in four CSVs plus the three quarantine-route
    files. The valid rows (after the planted tie) are also written to
    ``expect`` as parquet for the output checks. Returns input sizes."""
    os.makedirs(landing, exist_ok=True)
    rng = np.random.default_rng([seed, 3, batch])
    lo, span = _month_days(month)
    n_orders = max(1, rows // 4)
    orders, lineitem = _facts(
        rng, sizes, n_orders, np.full(n_orders, lo), np.full(n_orders, span), retail,
        key_base=batch * 10_000_000,
    )
    con = connect(threads)
    con.register("orders", orders)
    con.register("lineitem", lineitem)
    con.execute(f"CREATE VIEW supplier AS SELECT * FROM read_parquet('{dims_dir}/supplier_nation.parquet')")
    # lineitem ⋈ orders → sales; store = the seller's nation (FIXTURES §B)
    con.execute("""
        CREATE TABLE sales AS
        SELECT o.o_custkey AS customer_id, CAST(s.s_nationkey AS BIGINT) AS store_id,
               'part ' || l.l_partkey AS product_name, strftime(o.o_orderdate, '%Y-%m-%d') AS sales_date,
               l.l_suppkey AS sales_person_id,
               CAST(round(l.l_extendedprice / l.l_quantity, 2) AS DECIMAL(12,2)) AS price,
               CAST(l.l_quantity AS INTEGER) AS quantity,
               CAST(l.l_extendedprice AS DECIMAL(12,2)) AS total_cost,
               l.l_orderkey * 8 + l.l_linenumber AS rid
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey""")
    # plant an incentive tie: in the busiest store, lift its top two
    # sellers to the same total, one above the store's month maximum
    store, top = con.execute("""
        WITH t AS (SELECT store_id, sales_person_id, sum(total_cost) AS tot FROM sales GROUP BY ALL)
        SELECT store_id, max(tot) FROM t GROUP BY store_id ORDER BY count(*) DESC, store_id LIMIT 1""").fetchone()
    sellers = con.execute(f"""
        SELECT sales_person_id, sum(total_cost) FROM sales WHERE store_id = {store}
        GROUP BY ALL ORDER BY 2 DESC, 1 LIMIT 2""").fetchall()
    date = f"{month_label(month)}-15"
    for k, (person, tot) in enumerate(sellers):
        lift = top - tot + 1000
        con.execute(f"""INSERT INTO sales VALUES (0, {store}, 'tie lift', '{date}', {person},
                        {lift}, 1, {lift}, {-1 - k})""")
    # orphan customers: valid files, but the rows vanish in the inner join
    for k in range(3):
        con.execute(f"""INSERT INTO sales VALUES ({10**9 + k}, {store}, 'orphan', '{date}',
                        {sellers[0][0]}, 1.00, 1, 1.00, {-10 - k})""")
    cols = ", ".join(SALES_COLUMNS)
    con.execute(f"COPY (SELECT {cols} FROM sales ORDER BY rid) TO '{expect}' (FORMAT PARQUET)")
    # seeded row order and file split; the seed picks the extra-column file
    n = con.execute("SELECT count(*) FROM sales").fetchone()[0]
    perm = rng.permutation(n)
    con.register("perm", pa.table({"pos": np.arange(n, dtype=np.int64), "slot": perm % 4, "ord": perm}))
    extra_slot = int(rng.integers(0, 4))
    tag = month_label(month)
    files = {}
    for slot in range(4):
        extra = ", 'web' AS channel" if slot == extra_slot else ""
        name = f"sales_{tag}_part{slot}.csv"
        con.execute(f"""
            COPY (SELECT {cols}{extra} FROM (SELECT *, row_number() OVER (ORDER BY rid) - 1 AS pos FROM sales)
                  JOIN perm USING (pos) WHERE slot = {slot} ORDER BY ord)
            TO '{landing}/{name}' (HEADER, DELIMITER ',')""")
        files[name] = "valid"
    con.close()
    bad = {
        f"{tag}_notes.txt": ("wrong_files", "delivery notes, not a csv\n"),
        f"sales_{tag}_empty.csv": ("empty_files", ",".join(SALES_COLUMNS) + "\n"),
        f"sales_{tag}_nocost.csv": (
            "bad_schema",
            ",".join(SALES_COLUMNS[:-1]) + "\n1,1,part 1," + date + ",1,1.00,1\n",
        ),
    }
    for name, (route, body) in bad.items():
        with open(os.path.join(landing, name), "w") as f:
            f.write(body)
        files[name] = route
    mb = sum(os.path.getsize(os.path.join(landing, f)) for f in files) / 1e6
    return {"month": tag, "rows": int(n), "files": len(files), "mb": mb, "routes": files}


def etl_months(seed: int, n: int) -> list[int]:
    """The seed picks which months form the landings (distinct months)."""
    rng = np.random.default_rng([seed, 4])
    return [int(m) for m in rng.permutation(N_MONTHS)[: min(n, N_MONTHS)]]
