"""Sinks: parquet (plain + partitioned) and JDBC append.

Reference parity (SURVEY §2.1 S5-S7, ``/root/reference/src/load/
write.py`` + ``src/utils/utility.py:63-77``), with its bugs fixed by
construction:

- the ``.save().partitionBy()`` ordering crash (write.py:27-46, dead
  code) cannot be expressed here;
- the JDBC writer that swallowed exceptions and returned an error
  string in a set (utility.py:76-77) is replaced by fail-loud writes.

Timestamped output directories reproduce the reference's
``<dir>/<ts>/`` layout (write.py:8-10) but take the timestamp as an
argument — writers are deterministic; clocks belong to the caller.

Every rewrite of an existing directory (compaction, key deletion, the
upsert, the materialized-view fold, the ledger compaction) commits
through one protocol: the new contents are written to a staged sibling,
then :func:`swap_in` renames ``path`` to ``<path>.bak`` and the staged
dir to ``path``, and deletes the backup last. POSIX has no atomic swap
of two directories without a transactional table format, so the window
between the two renames is the one non-atomic step; it is two metadata
ops wide, not O(data). Because the backup name is fixed, :func:`heal`
can finish a swap that died in that window: every reader of a swapped
directory calls it first, so ``path`` never reads as missing or empty.
On a real lakehouse this is exactly what Delta/Iceberg's atomic commit
replaces.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    timestamp: str | None = None,
) -> str:
    """Write parquet, optionally Hive-partitioned. Returns the final
    path. Partitioning by low-cardinality keys (e.g. sales_month,
    store_id — reference main_1.py:524-529) gives downstream partition
    pruning for free.

    A partitioned write repartitions on the partition keys first:
    without it every upstream task emits a file into every leaf it
    touches (measured 4x file blowup at 200k rows; at cluster scale
    it's tasks x leaves — the canonical small-files failure). One
    shuffle buys one file per leaf.
    """
    if timestamp:
        path = os.path.join(path, timestamp)
    if partition_by:
        df = df.repartition(*partition_by)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def heal(path: str) -> None:
    """Finish a :func:`swap_in` that died between its two renames: when
    ``path`` is missing and ``<path>.bak`` exists, rename it back."""
    bak = path + ".bak"
    if not os.path.exists(path) and os.path.exists(bak):
        os.rename(bak, path)


def swap_in(staged: str, path: str) -> None:
    """Replace directory ``path`` (if any) with the complete directory
    ``staged``. If the second rename raises, the original is rolled back
    into place and the staged copy removed, so a failed swap neither
    leaves ``path`` missing nor accumulates rewritten copies."""
    heal(path)
    bak = path + ".bak"
    shutil.rmtree(bak, ignore_errors=True)  # left by a swap that died after its commit
    if not os.path.exists(path):
        os.rename(staged, path)
        return
    os.rename(path, bak)
    try:
        os.rename(staged, path)
    except BaseException:
        try:
            os.rename(bak, path)
        except OSError as rollback_err:
            raise RuntimeError(
                f"swap AND rollback failed — the original survives at {bak!r}; "
                "restore it manually"
            ) from rollback_err
        shutil.rmtree(staged, ignore_errors=True)
        raise
    shutil.rmtree(bak)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files —
    the maintenance pass every long-lived table needs (streaming sinks
    and per-key partitioned writes accumulate small files; at cluster
    scale a million 1 MB files costs more in open/footer overhead than
    the data). Returns the new file count.

    The compacted output lands in a staged sibling and is swapped in
    with :func:`swap_in`; a crash between its renames is healed by the
    next call. File count is computed from the ACTUAL on-disk bytes,
    never estimated from row counts (row width varies wildly across
    schemas).
    """
    import uuid

    heal(path)
    files = []
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if os.path.isfile(full) and not name.startswith(("_", ".")):
            files.append(full)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    staged = f"{path}.staged-{uuid.uuid4().hex[:8]}"
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(staged)
    swap_in(staged, path)
    return n_out


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    mode: str = "append",
) -> None:
    """JDBC append (reference utility.py:63-77). Fails loudly — any
    exception propagates to the orchestrator, which leaves the ledger
    in START so the crash check catches the next run."""
    df.write.jdbc(url=url, table=table, mode=mode, properties=properties or {})


def delete_keys_parquet(spark, path: str, keys_df: DataFrame) -> int:
    """Targeted-row deletion by key — the right-to-be-forgotten /
    retention-expiry rewrite: every row whose ``id`` appears in
    ``keys_df`` is dropped and the table is swapped in from a staged
    sibling with :func:`swap_in` (same as :func:`compact_parquet`).
    Returns the number of rows deleted.

    Scale shape: the delete set is deduplicated and joined ANTI against
    the table. The join strategy is left to the optimizer/AQE — a
    thousands-of-keys deletion batch broadcasts on its statistics, while
    a bulk purge of millions of keys gets a shuffle join instead of an
    OOM-courting forced broadcast. Partition-level file pruning (only
    rewriting files that contain a doomed key) is the next refinement on
    a real lakehouse — the per-file min/max footer stats q58 exercises
    are exactly what makes it possible; this utility rewrites the whole
    directory, which is the correct baseline and the only safe option
    for unpartitioned layouts.
    """
    import uuid

    from pyspark.sql import functions as F

    heal(path)
    current = spark.read.parquet(path)
    doomed = keys_df.select(F.col("id").alias("__dk")).distinct()
    kept = current.join(doomed, current["id"] == F.col("__dk"), "left_anti")
    n_before = current.count()
    staged = f"{path}.staged-{uuid.uuid4().hex[:8]}"
    kept.write.mode("overwrite").parquet(staged)
    n_after = spark.read.parquet(staged).count()
    swap_in(staged, path)
    return n_before - n_after
