"""Shared relational building blocks for the graph/sketch families.

No ``@register`` calls live here — this module must stay registration-free
so importing it from any operator module cannot perturb the registry's
insertion order (the rank tiebreak of driver-verification priority; see
registry.all_queries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.plans.hints import maybe_broadcast
from mongodb_nats_connector_spark.sources.tables import table


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed nation trade graph: (src customer nation, dst supplier
    nation, w = lineitem count), self-loops excluded. The single
    corpus-proportional aggregation shared by BFS, widest-path, and label
    propagation; its SQL twin is the ``dir_edges`` CTE each oracle embeds.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(maybe_broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )


def md5_hash60(col: Column) -> Column:
    """60-bit integer from the md5 hex prefix — the one hash construction
    BOTH engines compute identically (DuckDB: CAST('0x'||substr(md5(x),1,15)
    AS BIGINT)), which is what makes the KMV and HLL sketch ESTIMATES
    hash-verifiable cross-engine. Any change here must change the oracle
    side in lockstep."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# --- HyperLogLog register mapping (shared by batch agg_hll_registers and
# the streaming register merge in streaming/windows.py). Lives here, in the
# registration-free module, so streaming can import it without triggering
# pipeline7's @register side effects (which would reorder the driver
# verification window — see registry._load_all).

HLL_P = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_ALPHA = 0.7213 / (1 + 1.079 / 256)  # alpha_m, m>=128 (Flajolet et al.)
HLL_REST_BITS = 60 - HLL_P  # 52; rho in [1, 53]
HLL_POW = 1 << (HLL_REST_BITS + 1)  # 2^53: integer scale for sum(2^-rho)


def hll_reg_rows(ev: DataFrame) -> DataFrame:
    """Per-event (cohort, bucket, rho) register contributions — shared by
    the batch ``agg_hll_registers`` query and the streaming register merge
    (streaming/windows.py:hll_register_stream). No distinct is needed:
    max-per-bucket absorbs duplicate hashes, which is exactly the
    idempotence that makes HLL safe under at-least-once replay. Rows with a
    NULL user_id or ts are dropped up front — a NULL key would hash to a
    NULL bucket/rho row that silently inflates the register count (and
    pollutes the streaming register state), so it never enters the sketch.
    """
    d = ev.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.col("event_type").alias("cohort"),
        "user_id",
        F.col("ts").cast("date").alias("day"),
    )
    return hll_reg_rows_from_userdays(d)


def hll_reg_rows_from_userdays(d: DataFrame) -> DataFrame:
    """Register contributions from prepared non-NULL (cohort, user_id, day)
    rows — the shared tail of ``hll_reg_rows``, split out so the batch
    query can feed it the DISTINCT user-day relation its exact-count
    columns need anyway (md5 is pure in (user_id, day), so registers off
    the deduplicated relation are identical)."""
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit("@"),
        F.col("day").cast("string"),
    )
    h = d.select("cohort", md5_hash60(key).alias("h"))
    rest = F.shiftright(F.col("h"), HLL_P)
    return h.select(
        "cohort",
        F.col("h").bitwiseAND(HLL_M - 1).alias("bucket"),
        F.when(rest == 0, F.lit(HLL_REST_BITS + 1))
        .otherwise(F.lit(HLL_REST_BITS + 1) - F.length(F.bin(rest)))
        .alias("rho"),
    )
