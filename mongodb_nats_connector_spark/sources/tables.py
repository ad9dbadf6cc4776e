"""Parquet table loaders for the driver-generated synthetic schema.

All batch queries read through here so scan behavior is uniform: plain
``spark.read.parquet`` — Catalyst gets predicate pushdown, column pruning and
partition pruning for free on every query (verify with
``plans.explain.assert_pushed_filters``).
"""

from __future__ import annotations

import os

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


def table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Load one table. ``parallel=True`` repartitions to the full core count —
    use it for compute-heavy per-row operators (hashing, vector math) over the
    small single-file tables, where the scan yields one partition and would
    serialize the whole query. At real scale the scan itself produces enough
    splits and the repartition collapses to a cheap round-robin of row groups.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
        # rejects; read nanos as long and truncate to microseconds (exactly
        # what DuckDB does on read, keeping the oracle comparable). The
        # legacy conf is scoped to the read: schema conversion happens at
        # spark.read.parquet() time, so restoring the previous value right
        # after keeps a concurrent reader of a DIFFERENT nanos table from
        # silently inheriting it (execution still works — the captured
        # read schema, not the live conf, drives the scan).
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        try:
            prev: str | None = spark.conf.get(conf_key)
        except Exception:
            prev = None
        spark.conf.set(conf_key, "true")
        try:
            df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Newer fixtures write ts as TIMESTAMP(MICROS, isAdjustedToUTC
            # =false), which Spark infers as TIMESTAMP_NTZ. The cast to the
            # LTZ type is epoch-preserving ONLY under a UTC session tz (it
            # reinterprets the wall time in the session zone), so fail
            # loudly instead of silently shifting epochs if the session was
            # built without session.configure()'s UTC pin.
            # No default arg: RuntimeConfig.get validates an explicit
            # default through the entry's converter, and '' is not a legal
            # timezone — with no default it returns the session's RESOLVED
            # value (the JVM zone when unset), which is what the cast uses.
            try:
                tz = spark.conf.get("spark.sql.session.timeZone")
            except Exception:
                tz = None
            if not _is_utc_zone(spark, tz):
                raise RuntimeError(
                    "events.ts is TIMESTAMP_NTZ; converting to TIMESTAMP "
                    f"requires a UTC session timezone, got {tz!r}"
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return _maybe_repartition(spark, df, parallel)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _maybe_repartition(spark, df, parallel)


# common spellings, fast path only — _is_utc_zone resolves anything else
# (e.g. '+00:00', 'GMT0', 'UTC0') through java.time.ZoneId so every
# zero-offset zone id Spark itself accepts is treated as epoch-preserving
_UTC_ZONES = frozenset(
    ("UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "Zulu", "Universal",
     "Etc/Universal", "Etc/Zulu", "+00:00", "-00:00", "+0000", "GMT0",
     "Etc/GMT0", "Etc/GMT+0", "Etc/GMT-0", "UTC0", "Greenwich",
     "Etc/Greenwich", "GMT+00:00", "GMT-00:00")
)


def _is_utc_zone(spark: SparkSession, tz: str | None) -> bool:
    """True iff ``tz`` is a zero-offset (UTC-equivalent) zone id, so the
    NTZ->LTZ cast is epoch-preserving. Resolves through java.time.ZoneId
    rather than string-matching: any spelling Spark accepted for the
    session conf normalizes to ZoneOffset.UTC when it is truly UTC."""
    if tz is None:
        return False
    if tz in _UTC_ZONES:
        return True
    try:
        jvm = spark.sparkContext._jvm
        zone = jvm.java.time.ZoneId.of(tz, jvm.java.time.ZoneId.SHORT_IDS)
        return bool(zone.normalized().equals(jvm.java.time.ZoneOffset.UTC))
    except Exception:
        return False


def _maybe_repartition(spark: SparkSession, df: DataFrame, parallel: bool) -> DataFrame:
    if not parallel:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)
