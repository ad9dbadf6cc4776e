#!/usr/bin/env python
"""SF>=1 scaling evidence: run the heaviest headline queries on the sf1
replica at the current $SPARK_GRAFT_CPUS, min-of-3 per query, and print one
JSON line. Run it at two core counts to measure multi-core speedup at a
scale where sub-second overheads no longer hide it (at sf0.1 the queries
are overhead-bound and every 8-vs-32-core ratio reads ~1.0):

    SPARK_GRAFT_CPUS=32 python tools/sf1_scaling.py
    SPARK_GRAFT_CPUS=8  python tools/sf1_scaling.py

The replica (see ``build_replica``) lives under
spark-warehouse/scaleprobe_sf1; this module is its one builder, shared with
tools/scale_probe.py through ``replica_dir``. A replica is reused only if
its build finished (the _COMPLETE marker); delete the directory to rebuild.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import read_proc_stat, time_query, warm_up  # noqa: E402

QUERIES = [
    "q1_pricing_summary",
    "q9_product_profit",
    "agg_spearman_corr",
    "agg_bootstrap_poisson",
    "bigram_lm_surprisal",
    "dedup_embedding_cosine",
    "dedup_minhash_lsh",
    "text_bm25_topk",
    "events_max_concurrency",
    "similarity_topk_bruteforce",
]

REPLICA_DIR = os.path.join(ROOT, "spark-warehouse", "scaleprobe_sf1")
REPS = 10
N_RUNS = 3


def key_shifts(spark) -> dict[str, int]:
    """Per keyspace, the offset between two replica copies: the sf0.1 max
    key + 1, so each copy's keys are disjoint from every other copy's."""
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.sources.tables import table

    shifts = {}
    for name, keycol in [
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
        ("part", "p_partkey"),
        ("supplier", "s_suppkey"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
    ]:
        shifts[name] = (
            table(spark, "/root/testdata/sf0.1", name).agg(F.max(keycol)).first()[0]
            + 1
        )
    return shifts


def build_replica(spark, rep_dir: str) -> None:
    """Write the sf1 replica into ``rep_dir``: REPS copies of every sf0.1
    table, copy r shifting each key and foreign key by r * its keyspace's
    ``key_shifts`` offset, so every join relationship holds and each copy
    is a disjoint keyspace — facts and dims grow 10x, the way TPC-H scales.
    nation/region stay fixed, as in TPC-H; documents and embeddings
    replicate with identical content, which multiplies duplicate density
    for the dedup rows.

    The _COMPLETE marker is removed before the first table is written and
    written after the last, so a build that stops part-way — even over an
    earlier complete replica — is rebuilt, not reused."""
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.sources.tables import table

    marker = os.path.join(rep_dir, "_COMPLETE")
    if os.path.exists(marker):
        os.remove(marker)
    shifts = key_shifts(spark)
    # which columns of each table shift by which table's keyspace
    SHIFT_COLS = {
        "lineitem": {
            "l_orderkey": "orders",
            "l_partkey": "part",
            "l_suppkey": "supplier",
        },
        "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
        "customer": {"c_custkey": "customer"},
        "part": {"p_partkey": "part"},
        "supplier": {"s_suppkey": "supplier"},
        "documents": {"doc_id": "documents"},
        "embeddings": {"vec_id": "embeddings"},
        "events": {"event_id": "events"},
        "nation": {},
        "region": {},
    }
    for name, cols in SHIFT_COLS.items():
        df = table(spark, "/root/testdata/sf0.1", name)
        if cols:
            df = df.crossJoin(
                spark.range(REPS).select(F.col("id").alias("rep"))
            )
            for col, space in cols.items():
                df = df.withColumn(col, F.col(col) + F.col("rep") * shifts[space])
            # A multi-file layout, as a real 6M-row dataset has: the
            # crossJoin is map-side over the single-file sf0.1 input, so
            # without this the replica lands in 1-2 files and every sf1
            # scan runs on 1-2 cores.
            df = df.drop("rep").repartition(32)
        df.write.mode("overwrite").parquet(os.path.join(rep_dir, f"{name}.parquet"))
    open(marker, "w").close()


def replica_dir(spark) -> str:
    """The sf1 replica directory, built first unless a complete build is
    already there."""
    if not os.path.exists(os.path.join(REPLICA_DIR, "_COMPLETE")):
        build_replica(spark, REPLICA_DIR)
    return REPLICA_DIR


def main() -> None:
    from mongodb_nats_connector_spark import registry
    from mongodb_nats_connector_spark.session import get_spark

    registry._load_all()
    spark = get_spark(app_name="mnc-sf1-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.master

    rep_dir = replica_dir(spark)
    warm_up(spark, rep_dir)

    qs = {n: q.fn for n, q in registry._REGISTRY.items()}
    steal0 = read_proc_stat()["steal"]
    out: dict[str, dict] = {}
    for name in QUERIES:
        runs = [
            round(sum(time_query(spark, qs[name], rep_dir)), 3) for _ in range(N_RUNS)
        ]
        out[name] = {"min_s": min(runs), "runs": runs}
    print(
        json.dumps(
            {
                "master": cpus,
                "sf": "sf1-replica",
                "steal_cpu_s": round(read_proc_stat()["steal"] - steal0, 2),
                "queries": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
