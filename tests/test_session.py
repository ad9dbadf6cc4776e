"""The session factory starts the driver JVM with a quarter of its heap, and
every session the engine builds or tunes checkpoints through Spark's
FileSystem-based checkpoint manager."""

from __future__ import annotations

import pytest

from mongodb_nats_connector_spark.session import _initial_heap_mb, tune_existing

CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


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


def _checkpoint_manager(session, path):
    jvm = session._jvm
    hadoop_conf = session._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return manager.create(jvm.org.apache.hadoop.fs.Path(path), hadoop_conf).getClass().getSimpleName()


def test_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    """Offset and commit logs publish by ``FileSystem.rename``, not through
    FileContext, whose link-status lookups fork ``readlink`` per call without
    Hadoop's native library — on ``get_spark`` sessions and on a foreign
    session once ``tune_existing`` ran on it."""
    path = str(tmp_path / "checkpoint")
    assert _checkpoint_manager(spark, path) == "FileSystemBasedCheckpointFileManager"
    foreign = spark.newSession()
    foreign.conf.unset(CHECKPOINT_MANAGER)
    assert _checkpoint_manager(foreign, path) == "FileContextBasedCheckpointFileManager"
    tune_existing(foreign)
    assert _checkpoint_manager(foreign, path) == "FileSystemBasedCheckpointFileManager"
