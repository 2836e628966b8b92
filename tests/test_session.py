"""The driver JVM's heap floor (``session.initial_heap_mb``)."""

from __future__ import annotations

import pytest

from agentic_workflow_for_data_transformation_spark.session import (
    HEAP_FLOOR_MB,
    initial_heap_mb,
)


def _heap(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage()


def _floor_bytes(spark) -> int:
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    return initial_heap_mb(conf) * 2**20


def test_session_jvm_starts_at_the_heap_floor(spark):
    assert _heap(spark).getInit() >= _floor_bytes(spark)


def test_heap_stays_at_the_floor_after_a_full_collection(spark):
    spark.sparkContext._jvm.System.gc()
    assert _heap(spark).getCommitted() >= _floor_bytes(spark)


@pytest.mark.parametrize("driver_memory, max_mb, want", [
    ("12g", 12288, HEAP_FLOOR_MB), ("2g", 2048, 2048), ("1g", 1024, 1024),
    ("512m", 512, 512), ("4GB", 4096, HEAP_FLOOR_MB), ("768", 768, 768),
])
def test_heap_floor_never_exceeds_the_max_heap(driver_memory, max_mb, want):
    """The JVM refuses -Xms above -Xmx, so a small spark.driver.memory
    clamps the floor."""
    assert initial_heap_mb(driver_memory) == want <= max_mb


def test_heap_floor_rejects_a_non_size():
    with pytest.raises(ValueError, match="not a size"):
        initial_heap_mb("lots")
