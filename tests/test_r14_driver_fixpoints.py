"""Round-14 optimization pins: the driver-side exact-integer rewrites
(graph_rw_visit_probs walk steps, graph_rich_club profile sweep,
orders_association_metrics map-side pair expansion) vs independent pandas
brute-force references on the sf0.001 sample. agg_hodges_lehmann's driver
selection is already pinned by test_round11's numpy Walsh-median test."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _trade_weights(spark):
    """(src, dst) -> weight of the directed customer->supplier trade graph,
    recomputed with pandas merges (independent of the operators' rollup)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()[
        ["l_orderkey", "l_suppkey"]
    ]
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()[
        ["o_orderkey", "o_custkey"]
    ]
    c = spark.read.parquet(f"{SF}/customer.parquet").toPandas()[
        ["c_custkey", "c_nationkey"]
    ]
    s = spark.read.parquet(f"{SF}/supplier.parquet").toPandas()[
        ["s_suppkey", "s_nationkey"]
    ]
    f = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
    )
    f = f[f["c_nationkey"] != f["s_nationkey"]]
    g = f.groupby(["c_nationkey", "s_nationkey"]).size()
    return {
        (int(src), int(dst)): int(w) for (src, dst), w in g.items()
    }


def test_rw_visit_probs_matches_bruteforce_walk(spark):
    """The driver-side 4-step walk must equal a from-scratch integer
    replay of the per-step (p*w) // s distribution over the pandas-built
    trade graph (the formulation the oracle unrolls as chained CTEs)."""
    from mongodb_nats_connector_spark.operators.graph import graph_rw_visit_probs

    tr = _trade_weights(spark)
    st: dict = {}
    for (src, _), w in tr.items():
        st[src] = st.get(src, 0) + w
    start = min(st, key=lambda k: (-st[k], k))
    p = {start: 10**12}
    for _ in range(4):
        nxt: dict = {}
        for (src, dst), w in tr.items():
            if src in p:
                nxt[dst] = nxt.get(dst, 0) + (p[src] * w) // st[src]
        p = nxt
    expected = sorted((k, v) for k, v in p.items() if v > 0)
    rows = graph_rw_visit_probs(spark, SF).collect()
    got = [(r["nationkey"], r["p4_pico"]) for r in rows]
    assert got == expected
    # picomass can only be lost to per-edge flooring, never created
    assert sum(v for _, v in got) <= 10**12


def test_rich_club_matches_bruteforce_profile(spark):
    """The driver-side club sweep must equal a from-scratch recomputation:
    undirected fold, the 20*w*cnt >= 23*s backbone threshold, degree
    floors, club node/edge counts and the exact ppb floor division."""
    from mongodb_nats_connector_spark.operators.graph import graph_rich_club

    tr = _trade_weights(spark)
    uw: dict = {}
    for (src, dst), w in tr.items():
        a, b = min(src, dst), max(src, dst)
        uw[(a, b)] = uw.get((a, b), 0) + w
    cnt, s_tot = len(uw), sum(uw.values())
    und = [e for e, w in uw.items() if 20 * w * cnt >= 23 * s_tot]
    deg: dict = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    expected = []
    for k in sorted(set(deg.values())):
        n_k = sum(1 for d in deg.values() if d >= k)
        if n_k < 2:
            continue
        e_k = sum(1 for a, b in und if deg[a] >= k and deg[b] >= k)
        expected.append(
            (k, n_k, e_k, (2000000000 * e_k) // (n_k * (n_k - 1)))
        )
    rows = graph_rich_club(spark, SF).collect()
    got = [
        (
            r["degree_floor"],
            r["n_club_nodes"],
            r["n_club_edges"],
            r["phi_ppb"],
        )
        for r in rows
    ]
    assert got == expected
    # phi is a density: monotone bounds, never above complete-graph 2e9/2
    assert all(0 <= phi <= 10**9 for *_rest, phi in got)


def test_copurchase_pairs_keep_selfjoin_multiplicity(spark, tmp_path):
    """The map-side basket expansion must reproduce the lineitem
    self-join's COUNT(*) multiplicity: a part appearing on two lineitems
    of one order pairs twice with every other part (collect_set would
    count it once), and never pairs with itself."""
    from mongodb_nats_connector_spark.operators.relational import (
        part_copurchase_pairs,
    )

    rows = [
        (1, 10), (1, 10), (1, 20),  # 10 duplicated -> (10,20) counts 2
        (2, 10), (2, 20),           # plus 1 -> total 3
        (2, 30),                    # (10,30) and (20,30) count 1 each
    ]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet", mode="overwrite")
    got = {
        (r["part_a"], r["part_b"]): r["n_orders"]
        for r in part_copurchase_pairs(spark, str(tmp_path)).collect()
    }
    assert got == {(10, 20): 3, (10, 30): 1, (20, 30): 1}


def test_theil_sen_driver_round_is_half_up(spark, tmp_path):
    """The numpy replay of Spark's round() must round exact .5 slope
    boundaries HALF_UP away from zero (numpy's default rint is half-even
    and would disagree): two days 2000 apart with a +-1-cent revenue
    difference yield slope_mc = round(+-0.5) = +-1, never 0."""
    import datetime

    from mongodb_nats_connector_spark.operators.stats import agg_theil_sen

    base = datetime.date(1992, 1, 1)
    for sign, prices in ((1, (100.00, 100.01)), (-1, (100.01, 100.00))):
        spark.createDataFrame(
            [
                (1, base, prices[0]),
                (2, base + datetime.timedelta(days=2000), prices[1]),
            ],
            "o_orderkey long, o_orderdate date, o_totalprice double",
        ).write.parquet(f"{tmp_path}/orders.parquet", mode="overwrite")
        r = agg_theil_sen(spark, str(tmp_path)).collect()[0]
        assert r["n_days"] == 2 and r["n_pairs"] == 1
        assert r["slope_mc_x2"] == 2 * sign


def test_association_metrics_matches_selfjoin_bruteforce(spark):
    """The map-side sorted-array pair expansion must reproduce the former
    distinct + self-join formulation: identical top-20 pair counts,
    supports and every exact-integer metric."""
    from mongodb_nats_connector_spark.operators.orders import orders_association_metrics

    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()[
        ["l_orderkey", "l_partkey"]
    ]
    b = li.drop_duplicates()
    n = int(b["l_orderkey"].nunique())
    supp = b.groupby("l_partkey").size().to_dict()
    pairs: dict = {}
    for _, grp in b.groupby("l_orderkey"):
        parts = sorted(int(p) for p in grp["l_partkey"])
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                key = (parts[i], parts[j])
                pairs[key] = pairs.get(key, 0) + 1
    top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    expected = []
    for (pa, pb), cab in sorted(
        top, key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    ):
        n_a, n_b = int(supp[pa]), int(supp[pb])
        conv = (
            (1000000 * (n - n_b) * n_a) // (n * (n_a - cab))
            if n_a > cab
            else 0
        )
        expected.append(
            (
                pa,
                pb,
                cab,
                n_a,
                n_b,
                (1000000 * cab) // n_a,
                (1000000 * cab * n) // (n_a * n_b),
                1 if cab * n >= n_a * n_b else -1,
                (1000000000 * abs(cab * n - n_a * n_b)) // (n * n),
                conv,
                (1000000 * cab) // (n_a + n_b - cab),
            )
        )
    rows = orders_association_metrics(spark, SF).collect()
    got = [
        (
            r["part_a"],
            r["part_b"],
            r["n_together"],
            r["n_a"],
            r["n_b"],
            r["confidence_ppm"],
            r["lift_ppm"],
            r["leverage_sign"],
            r["leverage_abs_ppb"],
            r["conviction_ppm"],
            r["jaccard_ppm"],
        )
        for r in rows
    ]
    assert got == expected
