"""Portable 60-bit hash: identical in Spark and DuckDB.

The dedup/fingerprint operators need a hash both engines compute
bit-identically so every stage (minhash, banding, simhash) is
oracle-checkable. ``xxhash64``/``hash`` differ across engines; md5 is
standardized. We take the first 15 hex chars (60 bits — fits a signed
64-bit int without overflow) and parse as an integer:

- Spark:  ``conv(substr(md5(x), 1, 15), 16, 10)`` cast to bigint
- DuckDB: ``CAST(('0x' || substr(md5(x), 1, 15)) AS UBIGINT)::BIGINT``
- Python: ``int(md5(x.encode()).hexdigest()[:15], 16)`` (driver side)

Verified equal across engines including UTF-8 inputs. At 100 TB this is
still the right shape: md5 is computed JVM-side inside codegen, no
Python involved.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def h60(col: Column | str) -> Column:
    """Spark-side 60-bit md5 hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def h60_seeded(col: Column | str, seed: int) -> Column:
    """Seeded variant: hash of ``value || '#seed'`` — one independent
    hash family member per seed (minhash permutations)."""
    c = F.col(col) if isinstance(col, str) else col
    return h60(F.concat(c, F.lit(f"#{seed}")))


def h60_sql(expr: str) -> str:
    """DuckDB SQL snippet computing the same hash of ``expr``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS UBIGINT)::BIGINT"


def h60_py(s: str) -> int:
    """Driver-side Python twin of :func:`h60` (md5 of the UTF-8 bytes,
    same prefix parse), for hashing keys without a Spark job."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def h60_seeded_sql(seed: int) -> str:
    """:func:`h60_seeded` of the ``shingle`` column (cast to text)."""
    return h60_sql(f"(CAST(shingle AS VARCHAR) || '#{seed}')")


# Universal-hash family for minhash permutations: one md5 per value,
# then h_i(x) = (a_i * (x mod p) + b_i) mod p with p = 2^31-1 (Mersenne).
# Products stay under 2^62 (no 64-bit overflow in either engine, no ANSI
# wrap), the mod breaks monotonicity so each i picks an independent min.
# Constants are fixed (seeded offline) — runtime is fully deterministic.
MERSENNE_P = (1 << 31) - 1
# (a, b) pairs; a in [1, p-1], b in [0, p-1]
PERM_PARAMS: tuple[tuple[int, int], ...] = (
    (1203747112, 1005361664), (580039302, 1862224989), (821130565, 112940234),
    (1573568959, 1962694034), (297744391, 422162351), (1120800168, 547672805),
    (773115746, 646247111), (1953696076, 192118812), (1117130925, 1266476612),
    (733755415, 915427722), (1442995860, 253925662), (497575115, 1563231413),
    (373529042, 1087503196), (1041885765, 741809077), (661112198, 1892966551),
    (1955999981, 675568437), (2128164061, 398802782), (596987483, 1147225393),
    (1916785055, 1479347476), (972347433, 116450322), (291219901, 430979121),
    (234034475, 1406942087), (1761180996, 1267685540), (924035317, 1172698795),
    (2038977239, 402639405), (2143289124, 1357670270), (1355823819, 2113210625),
    (668925749, 252657889), (1177825180, 428031840), (1696544698, 230896653),
    (794664036, 1758809000), (1480032976, 858479239),
)


def minhash_family(h_col: Column, i: int) -> Column:
    """i-th universal-hash value of an already-hashed 60-bit column."""
    a, b = PERM_PARAMS[i]
    return (F.lit(a) * (h_col % MERSENNE_P) + F.lit(b)) % MERSENNE_P


def minhash_family_sql(i: int) -> str:
    """:func:`minhash_family` of the already-hashed ``shingle`` column."""
    a, b = PERM_PARAMS[i]
    return f"(({a} * ((shingle) % {MERSENNE_P}) + {b}) % {MERSENNE_P})"
