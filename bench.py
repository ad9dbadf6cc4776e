#!/usr/bin/env python
"""Batch benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line.

Each query is built, then forced end-to-end with a noop-format write: full
computation, no sink cost, nothing collected to the driver (``time_query``).
``warm_up`` runs first in every session, so JVM start, parquet footer reads
and the Python worker fork are not billed to the first query.

The run has two phases:

- the suite: every HEADLINE_QUERIES entry, SPARK_GRAFT_BENCH_PASSES times
  (default 3) in one session;
- the watch runs: each WATCH_LINES_S query WATCH_MIN_RUNS more times in a
  fresh session, judged against its line on the minimum of all its runs.

The hold lines are judged on minimums across runs because on a shared host
the minimum is the reading with the least contention in it: same-code suite
totals have spread 1.66x (17.9-29.8 s) on one box, so one sample mixes plan
cost with hypervisor steal. The /proc/stat deltas recorded next to them
show how much contention a run saw.

``tools/`` imports ``warm_up``, ``time_query``, ``read_proc_stat`` and
``HEADLINE_QUERIES`` from here, so every batch timing in the repo is taken
the same way.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# One query per operator family, weighted toward the shapes that dominate at
# 100 TB (fact-table aggregation, fact-fact join, windows, LSH dedup,
# similarity). Order matters: the first 24 entries are the common24 series
# every artifact reports, so new entries go at the end.
HEADLINE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q9_product_profit",
    "agg_count_distinct",
    "agg_rollup",
    "window_rank_topk",
    "join_asof",
    "stream_tumbling_window",
    "stream_session_window",
    "cdc_serialize_envelope",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "text_fingerprint",
    "text_chunk_tokens",
    "pack_sequences",
    "q13_customer_distribution",
    "events_funnel",
    "text_passage_dedup",
    "embedding_quantize_int8",
    "pagerank_nations",
    "bigram_lm_surprisal",
    "events_time_rollup",
    "agg_heavy_hitters_cms",
    "graph_triangle_count",
    "dq_rule_violations",
    "embedding_gram_matrix",
    "stream_window_topk",
    "bpe_learn_merges",
    "embedding_pca_power_iteration",
    "merge_upsert_snapshot",
    "dedup_embedding_cosine",
    "docs_topp_quality",
    "events_stickiness_dau_wau",
    "agg_kmv_distinct_setops",
    "events_activity_streaks",
    "agg_hll_registers",
    "graph_cc_bigstar",
    "cdc_apply_asof",
    "events_max_concurrency",
    "text_bm25_topk",
    "orders_ols_multifactor",
    "agg_bootstrap_poisson",
    "customer_ltv_deciles",
    "agg_spearman_corr",
]

# Hold lines for the watch queries, in seconds of noop-write execution. Each
# is judged on the query's minimum over all its in-artifact runs (the suite
# passes plus WATCH_MIN_RUNS fresh-session runs), so the evidence for a line
# lives in the BENCH artifact itself.
#
# Every line is a cold-protocol anchor taken on 32 cores (SCALING.md): it
# sits under every historical cold suite reading of the query (bootstrap
# 1.43-2.30 s, bm25 1.83-2.10 s) and above its isolated min-of-5 probe
# (1.08 / 0.86 s), so it catches a real regression without flagging noise.
# hll's 1.1 sits just above the worst fresh-session minimum observed on
# unchanged code (0.52-1.02 s over four runs, the 1.02 one under heavy
# steal) and far below every in-suite cold reading (1.9-2.5 s).
WATCH_LINES_S = {
    "agg_spearman_corr": 3.0,
    "agg_bootstrap_poisson": 1.6,
    "text_bm25_topk": 1.6,
    "agg_hll_registers": 1.1,
    "agg_heavy_hitters_cms": 0.6,
    "events_max_concurrency": 1.6,
}
# Each watch query gets this many full runs in the fresh session, not a
# top-up to 5: the first one or two runs pay C2-JIT warm-up for the query's
# operators, and the minimum must be able to land on a post-JIT run
# (spearman converged 4.67 -> 2.36 s over 5 fresh runs).
WATCH_MIN_RUNS = 5


def read_proc_stat() -> dict[str, float]:
    """First /proc/stat cpu line in seconds per field (user nice system idle
    iowait irq softirq steal), so host contention is recorded inside the
    artifact. Empty where /proc/stat does not exist."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        tck = float(os.sysconf("SC_CLK_TCK"))
        names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
        return {n: int(v) / tck for n, v in zip(names, parts[1:1 + len(names)])}
    except OSError:
        return {}


def warm_up(spark, table_dir: str) -> None:
    """Touch the biggest input once (JVM and parquet footer caches) and run
    one trivial Arrow batch so the Python UDF worker pool is up: steady
    state is what is measured, not worker fork time."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark.read.parquet(os.path.join(table_dir, "lineitem.parquet")).count()

    @pandas_udf("long")
    def identity(x):
        return x

    spark.range(1000).select(identity(F.col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()


def time_query(spark, fn, sf_dir: str) -> tuple[float, float]:
    """Build ``fn(spark, sf_dir)``, then force it with a noop write; returns
    (build_s, exec_s). The two are billed separately because driver-loop
    queries (pagerank, BPE, PCA) run their iteration jobs while the
    DataFrame is being built; for everything else build is ~0."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))

    from mongodb_nats_connector_spark.registry import queries
    from mongodb_nats_connector_spark.session import default_parallelism, get_spark

    spark = get_spark(app_name="mnc-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    warm_up(spark, sf_dir)

    stat0 = read_proc_stat()
    wall0 = time.perf_counter()

    # Suite: every headline query, n_passes whole-suite sweeps.
    build_s: dict[str, float] = {}
    exec_passes: dict[str, list[float]] = {name: [] for name in HEADLINE_QUERIES}
    for pass_i in range(n_passes):
        for name in HEADLINE_QUERIES:
            b, e = time_query(spark, qs[name], sf_dir)
            exec_passes[name].append(round(e, 3))
            if pass_i == 0:
                build_s[name] = round(b, 3)

    stat_suite = read_proc_stat()

    # Watch runs, appended to each watch query's exec_passes. They run in a
    # fresh SparkContext (new block manager, scheduler and codegen cache):
    # after three suite sweeps (~1700 jobs) the accumulated JVM heap, GC and
    # scheduler state inflates sub-second queries ~1.5x (spearman 3.9 s
    # in-suite vs 2.4 s fresh-session min-of-5 at the same steal), which
    # would breach lines that no fresh run breaches.
    spark.stop()
    spark = get_spark(app_name="mnc-spark-bench-watch")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    warm_up(spark, sf_dir)
    for name in WATCH_LINES_S:
        if name not in exec_passes:
            continue
        for _ in range(WATCH_MIN_RUNS):
            _, e = time_query(spark, qs[name], sf_dir)
            exec_passes[name].append(round(e, 3))

    stat1 = read_proc_stat()
    wall1 = time.perf_counter()

    exec_s = {n: v[0] for n, v in exec_passes.items()}
    exec_pass2_s = {n: v[1] if len(v) > 1 else v[0] for n, v in exec_passes.items()}
    exec_best_s = {n: min(v) for n, v in exec_passes.items()}
    exec_best_suite_s = {n: min(v[:n_passes]) for n, v in exec_passes.items()}
    # Bootstrap is the one CPU-bound watch query (2.42x from 8 to 32 cores
    # at sf1, plans/r15/sf1_scaling.md): below 16 cores its fresh-session
    # minimum reads 1.2-2.3 s on unchanged code, so the 32-core anchor would
    # read parallelism as regression. 2.6 s clears every such reading and
    # still catches a 2x regression (~3.5 s at 8 cores). The other anchors
    # are overhead-bound and hold at any core count.
    parallelism = default_parallelism()
    watch_lines = dict(WATCH_LINES_S)
    line_rule = dict.fromkeys(watch_lines, "anchor")
    if parallelism < 16:
        watch_lines["agg_bootstrap_poisson"] = 2.6
        line_rule["agg_bootstrap_poisson"] = "bootstrap_lt16_cores"
    watch = {
        n: {
            "min_s": min(exec_passes[n]),
            "line_s": watch_lines[n],
            "ok": min(exec_passes[n]) <= watch_lines[n],
            "runs": exec_passes[n],
            "line_rule": {"rule": line_rule[n], "parallelism": parallelism},
        }
        for n in watch_lines
        if n in exec_passes
    }
    timings = {
        n: round(build_s[n] + exec_s[n], 3) for n in HEADLINE_QUERIES
    }

    total = round(sum(timings.values()), 3)
    common24 = HEADLINE_QUERIES[:24]
    common24_exec = round(sum(exec_s[q] for q in common24), 3)
    common24_exec_runs = [
        round(sum(exec_passes[q][i] for q in common24), 3) for i in range(n_passes)
    ]
    common24_exec_best = round(sum(exec_best_s[q] for q in common24), 3)
    # The common24 hold line is judged on min over exactly the first
    # min(3, n_passes) sweeps: a minimum only falls as samples are added, so
    # raising SPARK_GRAFT_BENCH_PASSES must not lower the judged number.
    official_passes = min(3, n_passes)
    common24_exec_best_official3 = round(
        sum(min(exec_passes[q][:official_passes]) for q in common24), 3
    )
    steal = (
        round(stat1["steal"] - stat0["steal"], 2)
        if stat0.get("steal") is not None and stat1.get("steal") is not None
        else None
    )
    watch_steal = (
        round(stat1["steal"] - stat_suite["steal"], 2)
        if stat_suite.get("steal") is not None
        and stat1.get("steal") is not None
        else None
    )
    busy = (
        round(sum(stat1[k] - stat0[k] for k in ("user", "nice", "system")), 2)
        if stat0 and stat1
        else None
    )
    # Field order matters: a capture window that truncates the line eats its
    # tail, so the summary numbers come first and the per-query maps last.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "common24_exec_total": common24_exec,
                "common24_exec_runs": common24_exec_runs,
                "common24_exec_best": common24_exec_best,
                "common24_exec_best_official3": common24_exec_best_official3,
                "bench_passes": n_passes,
                "bench_passes_official": official_passes,
                "host_steal_s": steal,
                "watch_steal_s": watch_steal,
                "host_busy_cpu_s": busy,
                "bench_wall_s": round(wall1 - wall0, 1),
                "watch": watch,
                "note": "value = sum of queries. queries = build_s + exec_s "
                "per headline query. exec_s = pass-1 noop-write time (cold). "
                "exec_pass2_s = each query's second recorded run: suite pass "
                "2, or with bench_passes 1, pass 1 for a suite-only query and "
                "the first watch run for a watch query. exec_best_suite_s = "
                "per-query min over the suite sweeps; exec_best_s = per-query "
                "min over all runs, watch runs included. common24_* sum the "
                "first 24 headline queries' exec times: pass 1, each pass, "
                "best, and best over the first bench_passes_official sweeps "
                "(the hold line's series). watch = each watch query's min "
                "over its suite runs and its fresh-session runs against "
                "line_s; line_rule names the rule that set line_s (anchor, or "
                "bootstrap_lt16_cores below 16 cores) and the parallelism it "
                "saw. host_steal_s and host_busy_cpu_s are the /proc/stat "
                "steal and user+nice+system deltas over the whole run; "
                "watch_steal_s is the steal over the watch phase.",
                "queries": timings,
                "build_s": build_s,
                "exec_s": exec_s,
                "exec_pass2_s": exec_pass2_s,
                "exec_best_s": exec_best_s,
                "exec_best_suite_s": exec_best_suite_s,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
