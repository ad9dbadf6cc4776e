"""Invariants for the round-7 operators: BFS levels, widest path, CUSUM
changepoint, KMV/HLL/log2-histogram sketches, KS test, Gini/HHI,
temperature resampling, activity streaks.

These pin semantic properties the DuckDB parity gate cannot distinguish
from a shared bug (both engines run the registered formulations):
independent Python/pandas/numpy re-derivations (BFS, widest path, streaks,
KS, Gini/HHI, quantile buckets), the CUSUM telescoping identity, sketch
error bounds against exact counts, merge monotonicity, and budget
conservation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _bfs_parts(spark):
    from mongodb_nats_connector_spark.operators.graph import (
        BFS_SOURCE_NODE,
        BFS_TOP_OUT,
        graph_bfs_levels,
    )

    nation = spark.read.parquet(f"{SF}/nation.parquet")
    levels = {
        r["nation"]: r["hop"] for r in graph_bfs_levels(spark, SF).collect()
    }
    key_by_name = {
        r["n_name"]: r["n_nationkey"] for r in nation.collect()
    }
    return BFS_SOURCE_NODE, BFS_TOP_OUT, levels, key_by_name


def test_bfs_levels_consistent_with_edges(spark):
    """hop(source) = 0; every hop-h>0 node has an in-edge from some node at
    hop h-1 and none from any node at hop < h-1 that would give it a
    shorter path; unreachable nations are NULL."""
    from mongodb_nats_connector_spark.operators.graph import BFS_TOP_OUT

    src, _topk, levels, key_by_name = _bfs_parts(spark)
    # rebuild the same top-k graph independently (pandas, not the operator)
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    s = spark.read.parquet(f"{SF}/supplier.parquet")
    ed = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b"))
        .count()
        .toPandas()
    )
    ed = ed.sort_values(["a", "count", "b"], ascending=[True, False, True])
    g: dict[int, list[int]] = {}
    for a, grp in ed.groupby("a", sort=True):
        g[a] = list(grp["b"].head(BFS_TOP_OUT))
    # reference BFS
    ref = {src: 0}
    frontier = [src]
    while frontier:
        nxt = []
        for u in frontier:
            for v in g.get(u, []):
                if v not in ref:
                    ref[v] = ref[u] + 1
                    nxt.append(v)
        frontier = nxt
    got = {key_by_name[name]: hop for name, hop in levels.items()}
    assert {k: v for k, v in got.items() if v is not None} == ref
    assert all(v is None for k, v in got.items() if k not in ref)


def test_cusum_telescopes_and_flags_unique_argmax(spark):
    from mongodb_nats_connector_spark.operators.events import events_cusum_changepoint

    rows = events_cusum_changepoint(spark, SF).orderBy("day").collect()
    # telescoping identity: S_n = prefix_n - n*mean = 0 exactly
    assert rows[-1]["cusum"] == 0.0
    flagged = [r for r in rows if r["is_changepoint"]]
    assert len(flagged) == 1
    peak = max(abs(r["cusum"]) for r in rows)
    assert abs(flagged[0]["cusum"]) == peak
    # ties break to the earliest day
    first_at_peak = min(r["day"] for r in rows if abs(r["cusum"]) == peak)
    assert flagged[0]["day"] == first_at_peak


def test_kmv_estimates_within_bounds(spark):
    """KMV standard error is ~1/sqrt(k-2) (~13% at k=64); assert a loose
    3-sigma envelope vs the exact counts it carries, plus sketch algebra
    sanity (union >= each side, intersection <= union)."""
    from mongodb_nats_connector_spark.operators.stats import agg_kmv_distinct_setops

    r = agg_kmv_distinct_setops(spark, SF).collect()[0]
    for est, exact in [
        (r["est_a"], r["exact_a"]),
        (r["est_b"], r["exact_b"]),
        (r["est_union"], r["exact_union"]),
        (r["est_inter"], r["exact_inter"]),
    ]:
        assert exact > 0
        assert abs(est - exact) / exact < 0.4, (est, exact)
    assert r["est_union"] >= max(r["est_a"], r["est_b"]) * 0.6
    assert r["est_inter"] <= r["est_union"]


def test_kmv_exact_below_k(spark):
    """When a cohort has fewer than k distinct members the sketch IS the
    set and the estimate must be exact. sf0.001 has fewer than k=64
    distinct users per cohort, so the registered query itself exercises
    the exact branch here (sf0.01+ exercises the estimation branch)."""
    from mongodb_nats_connector_spark.operators.stats import (
        KMV_K,
        agg_kmv_distinct_setops,
    )

    r = agg_kmv_distinct_setops(spark, SF).collect()[0]
    if r["exact_a"] < KMV_K:
        assert r["est_a"] == r["exact_a"]
    if r["exact_union"] < KMV_K:
        assert r["est_union"] == r["exact_union"]
        assert r["est_inter"] == r["exact_inter"]


def test_temperature_resample_conserves_budget_and_flattens(spark):
    from mongodb_nats_connector_spark.operators.curation import (
        RESAMPLE_BUDGET,
        curate_temperature_resample,
    )

    rows = curate_temperature_resample(spark, SF).collect()
    # per-group rounding drifts at most 0.5 docs/group
    assert abs(sum(r["alloc_docs"] for r in rows) - RESAMPLE_BUDGET) <= len(rows) / 2
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-2
    # sqrt weighting flattens: the sample rate must be (weakly) decreasing
    # in group size — rare groups are upsampled relative to head groups
    by_size = sorted(rows, key=lambda r: r["n_docs"])
    rates = [r["sample_rate"] for r in by_size]
    assert all(a >= b - 1e-9 for a, b in zip(rates, rates[1:]))


def test_streaks_match_pandas_rederivation(spark):
    from mongodb_nats_connector_spark.operators.events import events_activity_streaks

    got = {
        r["user_id"]: (r["streak_days"], r["streak_start"])
        for r in events_activity_streaks(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    pdf = ev.toPandas().drop_duplicates()
    ref = {}
    for uid, grp in pdf.groupby("user_id"):
        days = sorted(grp["day"])
        best_len, best_start = 0, None
        run_len, run_start = 0, None
        prev = None
        for d in days:
            if prev is not None and (d - prev) == pd.Timedelta(days=1):
                run_len += 1
            else:
                run_len, run_start = 1, d
            if run_len > best_len:
                best_len, best_start = run_len, run_start
            prev = d
        ref[uid] = (best_len, best_start)
    assert got == ref


def test_streaks_two_exchanges_only(spark):
    """The plan claim in the docstring: (user, day) distinct plus ONE
    user_id exchange that serves the window, the streak aggregation, and
    the per-user argmax."""
    from mongodb_nats_connector_spark.operators.events import events_activity_streaks
    from mongodb_nats_connector_spark.plans.explain import count_key_exchanges

    assert count_key_exchanges(events_activity_streaks(spark, SF)) == 2


def test_widest_path_matches_python_reference(spark):
    """Max-min capacities recomputed in pure Python over the collected
    (nation-sized) edge list via iterate-to-fixpoint — the operator's fixed
    3 rounds must already be at the fixpoint on this dense graph."""
    from mongodb_nats_connector_spark.operators.graph import (
        WIDEST_SOURCE,
        graph_widest_path,
    )

    got = {
        r["nation"]: r["capacity"] for r in graph_widest_path(spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    s = spark.read.parquet(f"{SF}/supplier.parquet")
    ew = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b"))
        .count()
        .collect()
    )
    INF = 1 << 62
    cap = {WIDEST_SOURCE: INF}
    for _ in range(30):  # fixpoint on a 25-node graph
        nxt = dict(cap)
        for r in ew:
            if r["a"] in cap:
                cand = min(cap[r["a"]], r["count"])
                if cand > nxt.get(r["b"], -1):
                    nxt[r["b"]] = cand
        if nxt == cap:
            break
        cap = nxt
    names = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{SF}/nation.parquet").collect()
    }
    ref = {
        name: (None if k == WIDEST_SOURCE else cap.get(k))
        for k, name in names.items()
    }
    assert got == ref


def test_hll_registers_error_bound_and_merge_monotone(spark):
    """HLL relative error at m=256 is sigma ~ 1.04/16 = 6.5%; assert a
    loose 4-sigma envelope per cohort, and that the merged-register row
    dominates every cohort estimate (registers are pointwise >=, and the
    estimate is monotone in the registers)."""
    from mongodb_nats_connector_spark.operators.stats import agg_hll_registers

    rows = {r["cohort"]: r for r in agg_hll_registers(spark, SF).collect()}
    assert "ALL" in rows
    for cohort, r in rows.items():
        assert abs(r["est_userdays"] - r["exact_userdays"]) <= max(
            0.3 * r["exact_userdays"], 3
        ), (cohort, r)
    all_est = rows["ALL"]["est_userdays"]
    for cohort, r in rows.items():
        if cohort != "ALL":
            assert all_est >= r["est_userdays"]


def test_gini_hhi_matches_pandas_and_bounds(spark):
    from mongodb_nats_connector_spark.operators.orders import orders_gini_hhi

    r = orders_gini_hhi(spark, SF).collect()[0]
    per = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
        .toPandas()
        .sort_values(["rev", "o_custkey"])
        .reset_index(drop=True)
    )
    n = len(per)
    tot = per["rev"].sum()
    hhi = float(((per["rev"] / tot) ** 2).sum())
    i = pd.Series(range(1, n + 1), dtype="float64")
    gini = float(2.0 * (i * per["rev"].values).sum() / (n * tot) - (n + 1.0) / n)
    assert r["n_customers"] == n
    assert abs(r["hhi"] - hhi) < 1e-4
    assert abs(r["gini"] - gini) < 1e-4
    assert 0.0 <= r["gini"] < 1.0
    assert 1.0 / n <= r["hhi"] <= 1.0


def test_log2_histogram_counts_and_quantile_flags(spark):
    """Bucket counts tile the positive measurements; each quantile flag
    marks exactly one bucket, and that bucket's [lo, hi] range contains
    the numpy-exact quantile of the tick-quantized values."""
    import numpy as np

    from mongodb_nats_connector_spark.operators.stats import (
        _LOG2_SCALE,
        agg_log2_histogram_quantiles,
    )

    rows = agg_log2_histogram_quantiles(spark, SF).orderBy("bucket").collect()
    vals = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("value") > 0)
        .select("value")
        .toPandas()["value"]
        .to_numpy()
    )
    ticks = np.round(vals * _LOG2_SCALE).astype("int64")
    assert sum(r["cnt"] for r in rows) == len(ticks)
    assert rows[-1]["cum"] == len(ticks)
    for flag, q in [
        ("is_p50_bucket", 0.5),
        ("is_p90_bucket", 0.9),
        ("is_p99_bucket", 0.99),
    ]:
        marked = [r for r in rows if r[flag]]
        assert len(marked) == 1, flag
        # the q-quantile by the inverted-CDF definition lands in the bucket
        k = int(np.ceil(q * len(ticks)))  # 1-indexed order statistic
        qv = np.sort(ticks)[k - 1] / _LOG2_SCALE
        assert marked[0]["lo"] <= qv <= marked[0]["hi"], (flag, qv, marked)


def test_ks_statistic_matches_pandas(spark):
    import numpy as np

    from mongodb_nats_connector_spark.operators.stats import (
        _KS_G1,
        _KS_G2,
        agg_ks_test,
    )

    r = agg_ks_test(spark, SF).collect()[0]
    o = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderstatus", "o_totalprice")
        .toPandas()
    )
    a = np.sort(o[o.o_orderstatus == _KS_G1].o_totalprice.to_numpy())
    b = np.sort(o[o.o_orderstatus == _KS_G2].o_totalprice.to_numpy())
    grid = np.unique(np.concatenate([a, b]))
    f1 = np.searchsorted(a, grid, side="right") / len(a)
    f2 = np.searchsorted(b, grid, side="right") / len(b)
    d = float(np.abs(f1 - f2).max())
    assert r["n1"] == len(a) and r["n2"] == len(b)
    assert abs(r["ks_d"] - d) < 1e-6
    crit = 1.3581015157406195 * np.sqrt((len(a) + len(b)) / (len(a) * len(b)))
    assert abs(r["crit_05"] - crit) < 1e-6
    assert r["reject_05"] == (d > crit)


def test_streaming_hll_registers_match_batch(spark, tmp_path):
    """The streaming register merge (max per (cohort, bucket), complete
    mode, 3 micro-batches) must produce the IDENTICAL register table the
    batch query derives — the idempotent-merge property that makes HLL
    state exactly-once under replay. Estimates follow from registers."""
    import uuid

    from mongodb_nats_connector_spark.operators.graph_common import hll_reg_rows
    from mongodb_nats_connector_spark.streaming.windows import (
        EVENTS_DDL,
        hll_register_stream,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    path = str(tmp_path / "hll_feed")
    # 3 micro-batches, with batch overlap on user-days (replay-like dupes)
    ev.filter(F.col("event_id") % 3 == 0).write.parquet(path, mode="append")
    ev.filter(F.col("event_id") % 3 != 0).write.parquet(path, mode="append")
    ev.filter(F.col("event_id") % 7 == 0).write.parquet(path, mode="append")

    stream = spark.readStream.schema(EVENTS_DDL).parquet(path)
    name = "hll" + uuid.uuid4().hex[:10]
    q = (
        hll_register_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    streamed = {
        (r["cohort"], r["bucket"]): r["r"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    q.stop()
    batch = {
        (r["cohort"], r["bucket"]): r["r"]
        for r in hll_reg_rows(ev)
        .groupBy("cohort", "bucket")
        .agg(F.max("rho").alias("r"))
        .collect()
    }
    assert streamed == batch


def test_locf_matches_pandas_ffill(spark):
    from mongodb_nats_connector_spark.operators.events import events_locf_fill

    got = events_locf_fill(spark, SF).toPandas()
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    # match the operator's SQL semantics: event_type <> 'error' is NULL (not
    # true) for NULL event_type, so those rows must be gaps too
    ev["v"] = ev["value"].where(
        ev["event_type"].notna() & (ev["event_type"] != "error")
    )
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    ev["v_filled"] = ev.groupby("user_id")["v"].ffill()
    ref = ev.set_index("event_id")[["v", "v_filled"]]
    assert len(got) == len(ev)  # LOCF is 1:1 — no rows dropped
    g = got.set_index("event_id")[["v", "v_filled"]].reindex(ref.index)
    for col in ("v", "v_filled"):
        assert (
            (g[col] == ref[col]) | (g[col].isna() & ref[col].isna())
        ).all(), col
