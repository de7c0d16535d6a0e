"""tables.spread: re-balance a narrow scan to the session's task slots,
and leave an already-wide input alone."""

from __future__ import annotations

import pytest

from data_ingestion_pimcore_spark.tables import spread


@pytest.fixture
def shuffle_partitions(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    yield lambda n: spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_spread_one_split_caps_at_task_slots(spark, shuffle_partitions):
    slots = spark.sparkContext.defaultParallelism
    one_split = spark.range(0, 1000, 1, 1)
    # shuffle.partitions above the slots: the slots win
    shuffle_partitions(2 * slots + 1)
    assert spread(one_split).rdd.getNumPartitions() == slots
    # shuffle.partitions below the slots: shuffle.partitions wins
    if slots >= 2:
        shuffle_partitions(2)
        assert spread(one_split).rdd.getNumPartitions() == 2


def test_spread_leaves_wide_input_unchanged(spark, shuffle_partitions):
    shuffle_partitions(64)
    target = min(64, spark.sparkContext.defaultParallelism)
    wide = spark.range(0, 1000, 1, max(2, target // 2))
    out = spread(wide)
    assert out is wide
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
