"""SparkSession factory.

Reference parity: ``src/utils/utility.py:27-49`` builds a ``local[*]``
session with s3a + MySQL jars. Here the session is tuned for the engine's
execution model instead:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — the knob that makes one logical plan
  survive a 100x scale-up.
- ``spark.sql.shuffle.partitions`` sized to cores for local runs; on a
  real cluster AQE coalesces from this initial number, so a higher
  initial value is safe.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (and are deployment-independent).
- Arrow enabled for any Pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def object_store_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
    committer: str = "magic",
) -> dict[str, str]:
    """s3a configuration preset for object-store deployments — the
    cloud-session surface the reference wires inline
    (``/root/reference/src/utils/utility.py:38-45``), re-expressed for a
    1000-executor cluster. Pass the result as ``extra_conf`` to
    :func:`get_spark_session` (plus ``spark.jars.packages`` =
    hadoop-aws at deploy time; no jar and no network is needed to SET
    these confs, so the wiring is unit-testable here).

    Differences from the reference, each load-bearing at scale:

    - Credentials default to the provider CHAIN (env, IAM instance/role
      profile) instead of inline static keys — keys in code leak and
      can't rotate. Explicit keys remain supported for dev endpoints
      (MinIO) and pin ``SimpleAWSCredentialsProvider`` like the
      reference did.
    - The S3A *magic committer* replaces the rename-based default:
      rename on S3 is a COPY of every output object through the driver
      commit phase — O(output bytes) extra traffic and a non-atomic
      window. The magic committer finalizes multipart uploads instead
      (O(files) metadata calls, task-commit atomic).
    - Upload tuning: fast upload with array buffers, 64 MB multipart
      parts, and a connection pool sized for 32 concurrent streams per
      executor.
    """
    if access_key and not secret_key:
        raise ValueError(
            "access_key given without secret_key — failing at config time "
            "beats an opaque 403 at first S3 request"
        )
    providers = (
        "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        if access_key
        else (
            # hadoop-aws FQCNs: env-var creds (AWS SDK), then instance/role
            # profile (hadoop's own wrapper) — the rotating-credential chain
            "com.amazonaws.auth.EnvironmentVariableCredentialsProvider,"
            "org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider"
        )
    )
    conf: dict[str, str] = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.aws.credentials.provider": providers,
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.fast.upload.buffer": "array",
        "spark.hadoop.fs.s3a.multipart.size": str(64 * 1024 * 1024),
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        "spark.hadoop.fs.s3a.threads.max": "32",
        # directory-listing performance: no per-dir marker DELETEs
        "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
    }
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key  # validated above
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if committer == "magic":
        conf.update(
            {
                "spark.hadoop.fs.s3a.committer.name": "magic",
                "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
                "spark.sql.sources.commitProtocolClass": (
                    "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
                ),
                "spark.sql.parquet.output.committer.class": (
                    "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
                ),
            }
        )
    elif committer != "file":
        raise ValueError(f"unknown committer {committer!r}: use 'magic' or 'file'")
    return conf


def get_spark_session(
    app_name: str = "end_to_end_sales_etl_de_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` and set ``MASTER`` via
    spark-submit instead — every other conf here is cluster-safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = max(os.cpu_count() or 8, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 defaults ANSI on: x/0 THROWS where DuckDB yields NULL —
        # both a crash on legitimate data (empty doc → word_count 0) and a
        # cross-engine divergence. Hive-style NULL semantics match the
        # oracle; load_table pins this too for driver-owned sessions.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def runtime_filter_conf() -> dict[str, str]:
    """Runtime-filter (row-level Bloom) preset for large shuffled
    joins — the Catalyst-native sibling of the explicit d22 prefilter.
    Pass as ``extra_conf`` to :func:`get_spark_session`.

    What it does at 100 TB: for a shuffled fact ⋈ filtered-dim join,
    Catalyst builds a Bloom filter over the dim join keys (one
    ``bloom_filter_agg`` subquery on the SMALL side) and injects
    ``might_contain(...)`` into the FACT side's scan filter — fact rows
    that cannot match are dropped at the scan, BEFORE paying the
    shuffle write. Complements (does not replace) dynamic partition
    pruning: DPP prunes whole partitions by partition column; the
    runtime Bloom prunes row-level on arbitrary join keys.

    The thresholds are cluster-sized on purpose (build side ≤ 10 MB
    so the filter build never dominates; probe side ≥ 10 GB so tiny scans
    skip the overhead) — local[] test corpora never cross the 10 GB
    application floor, which is why the plan-shape pin
    (``tests/test_plan_shapes.py::test_runtime_bloom_filter_injection``)
    lowers both to exercise the injection at test scale. Broadcast
    joins never inject (the build side ships whole anyway);
    ``autoBroadcastJoinThreshold`` decides that first.

    Semi-join reduction (an exact semi-join filter instead of a Bloom
    where the optimizer estimates it pays) stays off, as in Spark.
    """
    return {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems": "1000000",
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits": "67108864",
        "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled": "false",
    }
