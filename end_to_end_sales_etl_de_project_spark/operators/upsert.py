"""MERGE-style upsert for parquet tables (no Delta/Iceberg in this
environment — emulated with anti-join + union, the standard pattern).

The reference can only append (JDBC mode=append, SURVEY §2.1 S7);
real marts need key-based upsert: new rows inserted, existing keys
replaced by the update. Plan shape: target anti-join updates on the key
(drop superseded rows) → union updates → rewrite. At scale this is the
copy-on-write strategy: with a partitioned target, restrict the rewrite
to partitions present in the update set (partition pruning on both the
read and the overwrite via dynamic partition overwrite) instead of
rewriting the table.

Write protocol: new data lands in a staged dir first, then swaps in
with :func:`~end_to_end_sales_etl_de_project_spark.writers.swap_in` —
a reader never sees a half-written table.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from end_to_end_sales_etl_de_project_spark.writers import heal, swap_in


def upsert_parquet(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> int:
    """Upsert ``updates`` into the parquet table at ``target_path`` by
    ``key_cols``. Returns the resulting row count. Creates the table
    when absent.

    An update batch with duplicate keys is rejected (SQL MERGE's
    multiple-matched-rows error) — otherwise both rows would silently
    land; dedupe first (e.g. keep-latest, q44 shape) when the source is
    a CDC stream.
    """
    from pyspark.sql import functions as F

    dups = (
        updates.groupBy(*key_cols)
        .count()
        .filter(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dups:
        raise ValueError(
            f"update batch has duplicate keys (e.g. {[tuple(r)[:-1] for r in dups]}); "
            "dedupe to one row per key before upserting"
        )
    # crash recovery: a prior swap that died between its two renames
    # leaves data only in .bak — restore it before reading, otherwise
    # this call would take the create branch and silently drop history
    heal(target_path)
    tmp = f"{target_path}.staged-{uuid.uuid4().hex[:8]}"
    if os.path.exists(target_path):
        target = spark.read.parquet(target_path)
        kept = target.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates
    merged.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    swap_in(tmp, target_path)
    return n
