"""SparkSession construction.

The reference ships Hive/Hadoop tuning in its test config
(hive-site.xml: auto map-join, map-side aggregation, bucket SMB join —
SURVEY.md §4); on Spark these are Catalyst/AQE defaults. This builder
pins the configs that matter for a columnar analytics engine running
local[N] now and a 1000-executor cluster later:

- AQE on (runtime join-strategy switch, skew-join split, partition
  coalescing) — replaces hive.auto.convert.join / bucketmapjoin intent.
- shuffle.partitions sized to the machine, not the 200 default.
- Arrow enabled for the Pandas-UDF slow path.
- UTC session timezone so timestamp semantics are stable across hosts.
- partition-discovery listing in at most one task per core: Spark
  lists more than 32 paths (a partitioned table's directories) in a
  Spark job with one task per path up to 10,000 — on local[N] that is
  hundreds of scheduling-only tasks on a cold scan. Capping the job
  at defaultParallelism keeps the listing parallel (and distributed
  on a cluster, where defaultParallelism is the executor core count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def get_session(
    app_name: str = "cascading_hive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    hive_support: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # 8g default: enough for local-mode shuffles up to ~1M-doc corpora
    # (the scale smoke in BASELINE.md), while staying small enough that
    # G1 young collections stay cheap — a 48g heap measured ~1.8x
    # slower across the whole bench. Override with SPARK_GRAFT_DRIVER_MEM.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: the driver JVM is the whole cluster — size it
        # accordingly (only applies at JVM creation)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.orc.compression.codec", "snappy")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    if hive_support:
        builder = builder.enableHiveSupport()
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return _tune_listing(spark)


def _tune_listing(spark: SparkSession) -> SparkSession:
    """Cap the partition-discovery listing job at one task per core,
    unless the session already sets the cap (extra_conf, the
    submitting driver's own conf)."""
    if spark.conf.get(_LISTING_PARALLELISM, None) is None:
        spark.conf.set(
            _LISTING_PARALLELISM, str(spark.sparkContext.defaultParallelism)
        )
    return spark


def tune_for_queries(spark: SparkSession) -> SparkSession:
    """Idempotent runtime settings applied when the session is supplied
    by an external driver (``__spark_entry__``): only confs that are
    mutable after start."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return _tune_listing(spark)
