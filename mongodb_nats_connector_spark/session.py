"""SparkSession factory tuned for this engine.

Local testing runs on local[N] but every default here is chosen to also be the
right default on a large cluster: AQE owns runtime re-planning (partition
coalescing, skew-join splitting, broadcast demotion), session timezone is
pinned to UTC so results are comparable with the DuckDB oracle (DuckDB
timestamps are UTC-naive), and Arrow is enabled so any pandas-UDF hop is
vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults that are correct at any scale. Cluster-size-dependent knobs
# (shuffle partitions) are set relative to parallelism below.
_SCALE_SAFE_CONF = {
    # AQE: runtime re-planning — coalesce small shuffle partitions, split
    # skewed ones, demote/promote joins based on observed sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic comparison with the DuckDB oracle (UTC-naive timestamps).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas UDF / toPandas hop.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part at bench SF) are
    # tiny next to fact tables; let Catalyst broadcast up to 64 MiB.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Prefer shuffled-hash over sort-merge when the planner's own size
    # conditions hold (one side per-partition-buildable and much smaller):
    # skips both sort passes. Measured ~15% across the TPC-H join suite at
    # bench scale; at cluster scale the same conditions gate the choice
    # (oversized build sides still plan as sort-merge) and AQE skew-join
    # splitting applies to shuffled-hash joins too. This is a planner
    # PREFERENCE, not a forced hint — no query pins SHUFFLE_HASH.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Parquet scans: read in splits that fit executor memory at 100 TB scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Structured Streaming: per-epoch correctness over micro-optimization.
    "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    # Spark's own fallback checkpoint manager: an offset or commit log entry
    # is published by FileSystem.rename after an exists check — on the local
    # filesystem File.renameTo. The default, FileContext-based manager
    # renames through FileContext, whose link-status lookups fork `readlink`
    # when Hadoop's native library is absent (two dozen forks per epoch).
    # Both rename atomically on the local filesystem and on HDFS.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # NB: spark.sql.legacy.parquet.nanosAsLong is deliberately NOT set here:
    # sources/tables.py scopes it to each events read so other nanos tables
    # read in the same session keep their own semantics.
    "spark.sql.shuffle.partitions": "32",
}


def default_parallelism() -> int:
    """CPU budget: $SPARK_GRAFT_CPUS if set, else all local cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _initial_heap_mb(driver_memory: str) -> int:
    """A quarter of the driver heap (a Spark size string: "8g", "4096m"; a
    bare number is MiB), the JVM's starting heap. G1 otherwise starts at
    1/64 of physical memory and grows only when its pause time asks for it;
    a connector whose heap stayed near twice its live set (a few hundred MB,
    a third of it in humongous regions) began a concurrent mark
    on every humongous allocation, several a second, and spent about 1.6x
    the CPU per event of one whose heap had grown, depending on nothing but
    when the growth happened."""
    s = driver_memory.strip().lower().removesuffix("b")
    unit = _UNIT_MB.get(s[-1:])
    mb = float(s[:-1]) * unit if unit else float(s)
    return max(1, int(mb) // 4)


def get_spark(
    app_name: str = "mongodb-nats-connector-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; on a real cluster
    pass the cluster master or let spark-submit supply it.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_SCALE_SAFE_CONF)
    # local mode: one shuffle partition per core. On a cluster this should be
    # ~2-3x total executor cores (AQE coalesces the excess anyway).
    conf["spark.sql.shuffle.partitions"] = str(max(cpus, 8))
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    conf["spark.driver.extraJavaOptions"] = f"-Xms{_initial_heap_mb(conf['spark.driver.memory'])}m"
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not build (the driver
    hands us one in ``__spark_entry__``). Static conf (driver memory) cannot
    change post-start; everything here is runtime-safe."""
    for k, v in _SCALE_SAFE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep the driver's value
    return spark
