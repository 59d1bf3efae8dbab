"""Writer behavior pins: partitioned-write compaction (one file per
leaf) and the uncompacted control."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from end_to_end_sales_etl_de_project_spark.writers import write_parquet


def _df(spark):
    return (
        spark.range(0, 5000)
        .select((F.col("id") % 4).alias("grp"), "id")
        .repartition(8)
    )


def test_partitioned_write_compacts_to_one_file_per_leaf(spark, tmp_path):
    out = write_parquet(_df(spark), str(tmp_path / "c"), partition_by=["grp"])
    assert len(glob.glob(f"{out}/grp=*/*.parquet")) == 4  # == leaves


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from end_to_end_sales_etl_de_project_spark.writers import compact_parquet

    out = str(tmp_path / "frag")
    _df(spark).repartition(16).write.parquet(out)  # fragment: 16 tiny files
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    n_files_before = len(glob.glob(f"{out}/*.parquet"))
    assert n_files_before >= 16

    n_out = compact_parquet(spark, out, target_file_bytes=64 * 1024 * 1024)
    assert n_out == 1  # tiny data packs into one target-sized file
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    assert len(glob.glob(f"{out}.staged-*")) == 0 and len(glob.glob(f"{out}.bak-*")) == 0
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert after == before  # content byte-identical through the swap


def test_uncompacted_control_fans_out(spark, tmp_path):
    # the layout write_parquet avoids: a plain partitioned write
    out = str(tmp_path / "p")
    _df(spark).write.partitionBy("grp").parquet(out)
    files = len(glob.glob(f"{out}/grp=*/*.parquet"))
    assert files > 4  # tasks x leaves blowup the default prevents
    # both layouts hold identical data (partition columns come back
    # LAST on read — select to a fixed order before comparing)
    a = sorted(tuple(r) for r in spark.read.parquet(out).select("grp", "id").collect())
    b = sorted(tuple(r) for r in _df(spark).select("grp", "id").collect())
    assert a == b


def test_delete_keys_parquet_removes_only_doomed(spark, tmp_path):
    """GDPR-delete rewrite: doomed keys vanish, everything else
    survives byte-identical, and the swap leaves no staged/backup
    litter behind."""
    import os

    from pyspark.sql import functions as F

    from end_to_end_sales_etl_de_project_spark.writers import delete_keys_parquet

    path = str(tmp_path / "tbl")
    spark.range(0, 100).withColumn("v", F.col("id") * 2).write.parquet(path)
    doomed = spark.createDataFrame([(3,), (7,), (7,), (999,)], "id long")
    n_deleted = delete_keys_parquet(spark, path, doomed, "id")
    assert n_deleted == 2  # 999 absent, 7 listed twice but one row
    rows = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert set(rows) == set(range(100)) - {3, 7}
    assert all(rows[i] == 2 * i for i in rows)
    litter = [n for n in os.listdir(tmp_path) if "staged" in n or "bak" in n]
    assert not litter, litter
