"""SparkSession factory.

Mirrors the reference's env-driven setup (``scripts/__init__.py:30-42``
builds paths and S3 clients from env vars) but feeds a SparkSession
builder instead of boto3/minio clients: when configured for object
storage the engine speaks ``s3a://`` natively, so there is no custom
byte-shuffling client code at all.

Scale defaults: AQE on (runtime coalesce + skew-join split), shuffle
partitions sized for the local harness but overridable via env for a
real cluster, Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime re-planning — coalesces tiny shuffle partitions and
    # splits skewed ones; critical at 100 TB where static partition
    # counts are always wrong for some stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas_udf / applyInPandas / mapInPandas / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Auto-broadcast threshold: Spark's 10 MB default, deliberately NOT
    # raised. A high threshold lets column-pruned size ESTIMATES of
    # fact tables slip under it — measured: 6M-row lineitem (110 MB on
    # disk, ~40 MB estimated after pruning) got broadcast at 64 MB and
    # the serial driver-side hash build made TPC-H Q5 2.1× slower than
    # the shuffle join. True dimensions (nation/region/supplier) are
    # explicitly F.broadcast()'d at call sites instead.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    # Split size: Spark's 128 MB default leaves small-SF test files as
    # ONE task — every scan-side stage runs serial. 8 MB keeps the
    # local harness parallel; cluster deployments against TB-scale
    # inputs override via ENGINE_MAX_PARTITION_BYTES (128m there).
    "spark.sql.files.maxPartitionBytes": os.environ.get("ENGINE_MAX_PARTITION_BYTES", "8m"),
    "spark.sql.files.openCostInBytes": "1m",
    # TIMESTAMP(NANOS) parquet (events table) is unreadable by default;
    # read as long and convert with timestamp_micros(ns div 1000).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet scans: vectorized reader + nested pushdown.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.ui.explainMode": "formatted",
}


def default_driver_memory() -> str:
    """Local-mode driver heap: 16g, capped at three quarters of the
    host's physical memory so the JVM never claims the whole machine
    (16g is all of a 16 GB host's RAM)."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 * 1024, physical * 3 // 4 // 2**20)}m"


def get_spark(
    app_name: str = "dpe_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Env overrides (all optional):
      - ``SPARK_GRAFT_CPUS``: local parallelism (default: all cores).
      - ``SPARK_GRAFT_DRIVER_MEM``: local-mode driver heap (default:
        ``default_driver_memory()``).
      - ``SPARK_GRAFT_SHUFFLE_PARTITIONS``: shuffle width (default:
        2x local cores locally; on a real cluster set ~2-3x total
        executor cores, or leave AQE to coalesce a high initial count).
      - ``ENGINE_S3_ENDPOINT`` / ``ENGINE_S3_ACCESS_KEY`` /
        ``ENGINE_S3_SECRET_KEY``: object-store credentials -> fs.s3a.*
        (the reference's minio client, ``filestorage_helper.py:44-61``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_sp:
            shuffle_partitions = int(env_sp)
        else:
            shuffle_partitions = 2 * (int(cpus) if cpus else (os.cpu_count() or 8))

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if master.startswith("local"):
        # In local mode the driver JVM IS every executor, yet Spark's
        # default heap is 1g — a single 64 MB-threshold broadcast
        # build dies on it once inputs grow (measured: TPC-H Q5 at a
        # 6 M-row lineitem). Static conf: applies only when this call
        # actually launches the JVM.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )

    endpoint = os.environ.get("ENGINE_S3_ENDPOINT")
    if endpoint:
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", endpoint)
            .config("spark.hadoop.fs.s3a.access.key", os.environ.get("ENGINE_S3_ACCESS_KEY", ""))
            .config("spark.hadoop.fs.s3a.secret.key", os.environ.get("ENGINE_S3_SECRET_KEY", ""))
            .config("spark.hadoop.fs.s3a.path.style.access", "true")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
