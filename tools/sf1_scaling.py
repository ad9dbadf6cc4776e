#!/usr/bin/env python
"""SF>=1 scaling evidence (round 15, VERDICT r14 item 6): run the heaviest
headline queries on the consistent sf1 replica (10 key-shifted copies of
every sf0.1 table, the scale_probe.py recipe) at the CURRENT
$SPARK_GRAFT_CPUS, min-of-3 per query, and print one JSON line. Run twice
(SPARK_GRAFT_CPUS=32 and =8) to measure multi-core speedup at a scale
where sub-second overheads no longer hide it — at sf0.1 every 8v32 ratio
reads ~1.0 because queries are overhead-bound (PERF_r14 scaling block).

    SPARK_GRAFT_CPUS=32 python tools/sf1_scaling.py
    SPARK_GRAFT_CPUS=8  python tools/sf1_scaling.py

The replica is built once under spark-warehouse/scaleprobe_sf1 and reused
only if its build finished (the _COMPLETE marker); delete the directory to
rebuild."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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

REPS = 10
N_RUNS = 3


def _steal() -> float:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / float(os.sysconf("SC_CLK_TCK"))


def build_replica(spark, rep_dir: str) -> None:
    """Write every replica table, then the _COMPLETE marker ``main`` checks,
    so a build that crashed part-way is rebuilt, not reused."""
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
            df = df.drop("rep").repartition(32)
        df.write.mode("overwrite").parquet(os.path.join(rep_dir, f"{name}.parquet"))
    open(os.path.join(rep_dir, "_COMPLETE"), "w").close()


def main() -> None:
    from mongodb_nats_connector_spark import registry
    from mongodb_nats_connector_spark.session import get_spark

    registry._load_all()
    spark = get_spark(app_name="mnc-sf1-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.master

    rep_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        "scaleprobe_sf1",
    )
    if not os.path.exists(os.path.join(rep_dir, "_COMPLETE")):
        build_replica(spark, rep_dir)

    # same warmup as bench.py
    spark.read.parquet(os.path.join(rep_dir, "lineitem.parquet")).count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(x):
        return x

    spark.range(1000).select(_warm(F.col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()

    qs = {n: q.fn for n, q in registry._REGISTRY.items()}
    steal0 = _steal()
    out: dict[str, dict] = {}
    for name in QUERIES:
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            df = qs[name](spark, rep_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min_s": min(runs), "runs": runs}
    print(
        json.dumps(
            {
                "master": cpus,
                "sf": "sf1-replica",
                "steal_cpu_s": round(_steal() - steal0, 2),
                "queries": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
