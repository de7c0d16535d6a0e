"""SparkSession factory with scale-aware defaults.

Configured for correctness testing on local[N] but with settings chosen
for a large multi-executor cluster reading ~100 TB:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace hand-tuned partition counts.
* Arrow on — every pandas_udf / mapInPandas boundary is Arrow-batched.
* Broadcast threshold raised to 64 MB — every dimension table in the
  star schema (region/nation/customer/supplier/part at reasonable SF)
  broadcast-joins instead of shuffling the fact table.
* maxPartitionBytes 128 MB — scan-side split sizing that keeps task
  counts sane at 100 TB (~800k tasks) while saturating executors.
* Driver heap from ``SPARK_GRAFT_DRIVER_MEM``, else half the host's
  physical memory capped at 16g (``default_driver_memory``).
* Python workers fork from ``worker_daemon``, which stops every task
  from re-reading pyspark.zip's directory (~0.14-0.26 core-s per task
  on CPython < 3.12). Executors already import this package to unpickle
  its UDFs, so the daemon module adds no deployment requirement.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


_DRIVER_MEM_CAP_MB = 16 * 1024


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    half the host's physical memory (``phys_bytes``, default from
    ``os.sysconf``), capped at 16g. A heap allowed to outgrow the host
    invites a machine-wide OOM kill once a second session (a bench
    probe, a concurrent test run) shares the box."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(_DRIVER_MEM_CAP_MB, phys_bytes // 2 // 2**20)}m"


def get_spark(
    app_name: str = "data_ingestion_pimcore_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Respects an already-running session's master; otherwise uses
    ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "data_ingestion_pimcore_spark.worker_daemon")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as epoch-nanos long and convert in load().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Single-JVM box: keep the driver fat, but sized to the host; on
        # a real cluster these come from spark-submit and are ignored
        # here if already set.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
