"""Parquet table loaders for the driver's star schema.

All queries read through these helpers so scan behavior is uniform:
column pruning and predicate pushdown reach the parquet reader (verify
with ``df.explain("formatted")`` — look for ReadSchema / PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic SF.
BROADCAST_DIMS = frozenset({"region", "nation"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        # Depending on how the dataset was generated, ts arrives either as
        # TIMESTAMP(NANOS) read as epoch-nanos long (via
        # spark.sql.legacy.parquet.nanosAsLong) or directly as a native
        # timestamp type. Normalize both to microsecond TIMESTAMP_NTZ.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Re-balance a narrow scan for CPU-bound per-row work.

    A small parquet table arrives as a handful of file splits (often
    one), so expensive per-row expressions (shingling, per-doc O(L²)
    gates, hash fans, Arrow Python stages) would run at the scan's task
    count — serializing on one core while the rest idle. When the input
    has materially fewer partitions than the target, pay one cheap
    round-robin shuffle of the raw rows to unlock the cores.

    The target is the session's task slots (``defaultParallelism``),
    capped by ``spark.sql.shuffle.partitions``. Each Arrow Python task
    carries a fixed, data-independent cost, and AQE never coalesces an
    explicit ``repartition(n)``, so splitting a small input into more
    tasks than slots only adds waves of that fixed cost. The cap was
    set when the cost was ~0.25 core-s per task, nearly all of it the
    Python worker re-reading pyspark.zip on every task; under
    ``worker_daemon`` it is ~0.06-0.07 core-s (~25 ms JVM + ~40 ms
    Python). At real scale the scan has plenty of splits and this is
    a no-op — the condition, not the repartition, is the point.
    """
    spark = df.sparkSession
    target = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df
