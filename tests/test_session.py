"""Session defaults that depend on the host."""

from __future__ import annotations

import os

from data_ingestion_pimcore_spark.session import default_driver_memory


def test_default_driver_memory_is_half_the_host_capped_at_16g():
    assert default_driver_memory(15 * 2**30) == "7680m"
    assert default_driver_memory(2 * 2**30) == "1024m"
    assert default_driver_memory(32 * 2**30) == "16384m"
    assert default_driver_memory(256 * 2**30) == "16384m"
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(phys)


def test_session_driver_memory_is_the_override_or_the_host_default(spark):
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    assert spark.conf.get("spark.driver.memory") == want
