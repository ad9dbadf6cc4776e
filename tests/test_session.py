"""The session factory starts the driver JVM with a quarter of its heap."""

from __future__ import annotations

import pytest

from mongodb_nats_connector_spark.session import _initial_heap_mb


@pytest.mark.parametrize(
    "size, mb",
    [("8g", 2048), ("8G", 2048), ("4096m", 1024), ("1gb", 256), ("2048", 512), ("2k", 1)],
)
def test_initial_heap_is_a_quarter_of_driver_memory(size, mb):
    assert _initial_heap_mb(size) == mb


def test_driver_jvm_starts_with_initial_heap(spark):
    memory = spark.sparkContext.getConf().get("spark.driver.memory")
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    assert heap.getHeapMemoryUsage().getInit() == _initial_heap_mb(memory) * 2**20
