"""Skew-handling aggregation: salted two-phase groupBy.

At 100 TB a single hot key (one huge customer, one boilerplate shingle)
turns a groupBy into one straggler task. AQE's skew-join splitting
covers joins; for aggregations the classic fix is salting — phase 1
aggregates on (key, salt) spreading the hot key over N partitions,
phase 2 merges the N partials per key. Correct for any commutative
associative aggregate; exact for decimal sums (hence still
oracle-checkable — same result as the plain groupBy, different
physical distribution).

The salt must be uniform even when (key, measure) values repeat — a
content hash would collapse a hot key with a constant measure into ONE
salt bucket, defeating the operator. ``rand(seed)`` is the right
source: Spark seeds it per (partition, row position), so task retries
reproduce identical salts (retry-safe) while duplicate rows still
spread uniformly. Exactness of the decimal sum means the salt choice
can never change the result, only the distribution.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.functions.scalar import money


def salted_sum(
    df: DataFrame,
    group_keys: Sequence[str],
    measure: str,
    out_col: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe exact sum: groupBy(key, salt) → groupBy(key).

    The salt is seeded ``rand()`` (uniform across duplicate rows,
    reproduced exactly on task retry). Result is bit-identical to the
    single-phase decimal sum for ANY salt.
    """
    salt = F.floor(F.rand(seed=42) * salt_buckets).cast("long")
    salted = df.withColumn("__salt", F.pmod(salt, F.lit(salt_buckets)))
    partial = salted.groupBy(*group_keys, "__salt").agg(
        F.sum(money(measure)).alias("__partial")
    )
    return (
        partial.groupBy(*group_keys)
        .agg(F.sum("__partial").cast("double").alias(out_col))
    )


# Salt values of the skew-safe join: copies of the small side, and the
# tasks a hot key's rows spread over.
N_SALTS = 8


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
) -> DataFrame:
    """Skew-safe equi-join: the SMALL side is replicated ``N_SALTS``
    times (one copy per salt value) and the BIG side scatters each row
    to one salt — so a hot key's rows spread over ``N_SALTS`` tasks
    instead of hammering one. This is the standard manual remedy when
    the skewed side is too large to broadcast and AQE's skew-join split
    (which this engine also enables) can't help — e.g. a single key
    holding >spark.sql.adaptive.advisoryPartitionSizeInBytes after
    splitting, or a non-AQE engine boundary.

    Join OUTPUT is provably independent of the salt assignment (every
    big row still meets every matching small row exactly once), so the
    oracle for a salted join is the PLAIN join — correctness of the
    rewrite is hash-checked, not argued. The salt is a
    deterministic hash of ALL big-side columns: it must vary per ROW
    (hashing only the join key would re-collapse a hot key's rows into
    one salt, defeating the spread; identical full rows landing on the
    same salt is fine — they're interchangeable).

    Name hygiene (ADVICE r4): a pre-existing ``__salt`` column on either
    input is rejected (silently overwriting it would corrupt caller
    data), and both the key and salt equi-conditions are resolved via
    the PARENT DataFrames, so ``big_key == small_key`` (the usual case)
    never hits an ambiguous-column error.
    """
    for side, df in (("big", big), ("small", small)):
        if "__salt" in df.columns:
            raise ValueError(
                f"salted_join: {side} side already has a '__salt' column — "
                "rename it first (the operator would silently clobber it)"
            )
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in big.columns], F.lit(41)), F.lit(N_SALTS)
    )
    salted_big = big.withColumn("__salt", salt.cast("int"))
    replicated_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))
    )
    joined = salted_big.join(
        replicated_small,
        on=(salted_big[big_key] == replicated_small[small_key])
        & (salted_big["__salt"] == replicated_small["__salt"]),
    )
    # drop by parent reference: plain .drop("__salt") removes only one
    # of the two same-named columns non-deterministically
    return joined.drop(salted_big["__salt"]).drop(replicated_small["__salt"])
