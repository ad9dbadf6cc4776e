"""Graph operators (``operators/graph.py``): PageRank, triangles,
connected components, BFS levels and widest paths checked against
independent Python re-derivations, and pure-Python pins of the integer
algebra behind HITS, Moran/Geary, modularity and k-truss peeling, each
against an independent reference (``test_stats.py`` says why).
"""

from __future__ import annotations

import random
from fractions import Fraction

from pyspark.sql import functions as F

from mongodb_nats_connector_spark.operators.graph import (
    MIN_SUPPORT,
    graph_triangle_count,
)
from mongodb_nats_connector_spark.plans.explain import plan_string
from mongodb_nats_connector_spark.sources.tables import table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# HITS integer normalization (graph_hits_scores)
# ---------------------------------------------------------------------------


def test_hits_integer_power_iteration():
    """The integer fold tracks the true L-inf-normalized power iteration:
    top hub/authority agree with a float reference on a random weighted
    digraph, and fixed-point values stay in [0, SCALE]."""
    rng = random.Random(8)
    scale = 1_000_000
    for _ in range(20):
        n = rng.randint(3, 10)
        w = {}
        for i in range(n):
            for j in range(n):
                if i != j and rng.random() < 0.6:
                    w[(i, j)] = rng.randint(1, 50)
        if not w:
            continue
        a_i = [scale] * n
        a_f = [1.0] * n
        for _ in range(4):
            h_raw = [
                sum(w.get((i, j), 0) * a_i[j] for j in range(n))
                for i in range(n)
            ]
            mx = max(max(h_raw), 1)
            h_i = [(scale * s) // mx for s in h_raw]
            hf = [
                sum(w.get((i, j), 0) * a_f[j] for j in range(n))
                for i in range(n)
            ]
            mf = max(max(hf), 1e-30)
            h_f = [s / mf for s in hf]
            a_raw = [
                sum(w.get((i, j), 0) * h_i[i] for i in range(n))
                for j in range(n)
            ]
            mx = max(max(a_raw), 1)
            a_i = [(scale * s) // mx for s in a_raw]
            af = [
                sum(w.get((i, j), 0) * h_f[i] for i in range(n))
                for j in range(n)
            ]
            mf = max(max(af), 1e-30)
            a_f = [s / mf for s in af]
        assert all(0 <= x <= scale for x in a_i + h_i)
        for int_v, flt_v in ((a_i, a_f), (h_i, h_f)):
            for iv, fv in zip(int_v, flt_v):
                assert abs(iv / scale - fv) < 1e-3


# ---------------------------------------------------------------------------
# Moran / Geary n-scaled identities (graph_moran_geary)
# ---------------------------------------------------------------------------


def test_moran_geary_nscaled_identities():
    rng = random.Random(79)
    for _ in range(30):
        nn = rng.randint(3, 10)
        xs = [rng.randint(-50, 100) for _ in range(nn)]
        edges = [
            (i, j)
            for i in range(nn)
            for j in range(nn)
            if i != j and rng.random() < 0.4
        ]
        # symmetrize
        eset = set(edges) | {(j, i) for i, j in edges}
        if not eset:
            continue
        w = len(eset)
        mean = Fraction(sum(xs), nn)
        sz2_ref = sum((Fraction(x) - mean) ** 2 for x in xs)
        if sz2_ref == 0:
            continue
        i_ref = (
            Fraction(nn, w)
            * sum((xs[i] - mean) * (xs[j] - mean) for i, j in eset)
            / sz2_ref
        )
        c_ref = (
            Fraction(nn - 1, 2 * w)
            * sum((xs[i] - xs[j]) ** 2 for i, j in eset)
            / sz2_ref
        )
        z = [nn * x - sum(xs) for x in xs]
        sz2 = sum(zz * zz for zz in z)
        i_id = Fraction(nn * sum(z[i] * z[j] for i, j in eset), w * sz2)
        c_id = Fraction(
            (nn - 1) * sum((z[i] - z[j]) ** 2 for i, j in eset), 2 * w * sz2
        )
        assert i_id == i_ref
        assert c_id == c_ref


def test_ktruss_peel_brute_force():
    rng = random.Random(137)
    for _ in range(25):
        nn = rng.randint(4, 9)
        edges = {
            (i, j)
            for i in range(nn)
            for j in range(i + 1, nn)
            if rng.random() < 0.5
        }

        def peel(es, k):
            es = set(es)
            while True:
                sup = {}
                for a, b in es:
                    s = 0
                    for c in range(nn):
                        if c in (a, b):
                            continue
                        e1 = (min(a, c), max(a, c))
                        e2 = (min(b, c), max(b, c))
                        if e1 in es and e2 in es:
                            s += 1
                    sup[(a, b)] = s
                nxt = {e for e in es if sup[e] >= k - 2}
                if nxt == es:
                    return es, sup
                es = nxt

        final, sup = peel(edges, 4)
        # every surviving edge has support >= 2 within the final set
        for e in final:
            a, b = e
            s = sum(
                1
                for c in range(nn)
                if c not in e
                and (min(a, c), max(a, c)) in final
                and (min(b, c), max(b, c)) in final
            )
            assert s >= 2
        # peel depth is bounded by the edge count (each round removes >= 1)
        assert len(final) <= len(edges)


# ---------------------------------------------------------------------------
# Modularity cleared denominator (graph_modularity_split)
# ---------------------------------------------------------------------------


def test_modularity_cleared_denominator():
    rng = random.Random(233)
    for _ in range(40):
        k = rng.randint(2, 5)
        edges = []
        for _ in range(rng.randint(3, 30)):
            edges.append(
                (rng.randrange(k), rng.randrange(k), rng.randint(1, 50))
            )
        w_tot = sum(w for _, _, w in edges)
        e_in = sum(w for a, b, w in edges if a == b)
        deg = [0] * k
        for a, b, w in edges:
            deg[a] += w
            deg[b] += w
        q_ref = sum(
            Fraction(sum(w for a, b, w in edges if a == b == c), w_tot)
            - Fraction(deg[c], 2 * w_tot) ** 2
            for c in range(k)
        )
        num = 4 * w_tot * e_in - sum(d * d for d in deg)
        assert Fraction(num, 4 * w_tot * w_tot) == q_ref


# ---------------------------------------------------------------------------
# PageRank (pagerank_nations)
# ---------------------------------------------------------------------------


def test_pagerank_mass_conserved_and_partition_invariant(spark):
    """Fixed-point PageRank: total mass stays within truncation loss of 1.0
    (each // drops < 1 micro-unit per edge), and the BIGINT results are
    bit-identical when the fact input is repartitioned differently —
    the property float PageRank cannot give."""
    from mongodb_nats_connector_spark.operators.graph import (
        PR_SCALE,
        pagerank_nations,
    )

    rows = {r["nation"]: r["pr_fixed"] for r in pagerank_nations(spark, SF).collect()}
    assert len(rows) == 25
    total = sum(rows.values())
    # damping reinjects (1-d) exactly; integer truncation only loses mass
    assert 0.95 * PR_SCALE <= total <= PR_SCALE

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        rows7 = {
            r["nation"]: r["pr_fixed"] for r in pagerank_nations(spark, SF).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows7 == rows


def test_pagerank_final_plan_is_map_only(spark):
    """The iterations run as driver-loop jobs over the cached edge relation;
    the RETURNED DataFrame must be a map-only literal lookup over the nation
    dimension — no exchange, no join left in its plan."""
    from mongodb_nats_connector_spark.operators.graph import pagerank_nations

    s = plan_string(pagerank_nations(spark, SF))
    assert "Exchange" not in s
    assert "Join" not in s
    assert "CartesianProduct" not in s


# ---------------------------------------------------------------------------
# Triangles (graph_triangle_count)
# ---------------------------------------------------------------------------


def test_triangles_are_closed_and_ordered(spark):
    """Every reported (a, b, c) is strictly ordered and all three edges
    exist in the ≥MIN_SUPPORT co-purchase edge set."""
    tri = graph_triangle_count(spark, SF).toPandas()
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_partkey").toPandas()
    pp = li.drop_duplicates()
    merged = pp.merge(pp, on="l_orderkey")
    pairs = merged[merged["l_partkey_x"] < merged["l_partkey_y"]]
    support = pairs.groupby(["l_partkey_x", "l_partkey_y"]).size()
    edges = set(support[support >= MIN_SUPPORT].index)
    for r in tri.itertuples():
        assert r.a < r.b < r.c
        assert (r.a, r.b) in edges and (r.b, r.c) in edges and (r.a, r.c) in edges
    # and completeness: count matches an independent enumeration
    n_expected = sum(
        1
        for (a, b) in edges
        for c in {y for (x, y) in edges if x == b}
        if (a, c) in edges
    )
    assert len(tri) == n_expected


# ---------------------------------------------------------------------------
# Connected components (bigstar_labels, graph_cc_bigstar,
# graph_label_propagation)
# ---------------------------------------------------------------------------


def test_bigstar_labels_on_path_and_triangle(spark):
    """A 10-node path forces multiple large/small-star rounds (the near-dup
    corpus converges in one — it would not catch a wrong star fixpoint);
    the disjoint triangle checks component isolation."""
    from mongodb_nats_connector_spark.operators.graph import bigstar_labels

    path = [(i, i + 1) for i in range(9)]  # 0-1-2-...-9
    tri = [(20, 21), (21, 22), (20, 22)]
    edges = spark.createDataFrame(path + tri, "a long, b long")
    got = {
        r["doc_id"]: r["label"] for r in bigstar_labels(edges).collect()
    }
    assert got == {**{i: 0 for i in range(10)}, **{i: 20 for i in (20, 21, 22)}}


def test_bigstar_matches_label_propagation(spark):
    """Two different physical plans (shuffle-only big-star vs broadcast
    label propagation) must reach the identical clustering."""
    from mongodb_nats_connector_spark.operators.dedup import dedup_clusters
    from mongodb_nats_connector_spark.operators.graph import graph_cc_bigstar

    a = {tuple(r) for r in graph_cc_bigstar(spark, SF).collect()}
    b = {tuple(r) for r in dedup_clusters(spark, SF).collect()}
    assert a == b


def test_label_propagation_labels_are_reachable_nodes(spark):
    """Every community label must itself be a nation key, and at least one
    community must contain more than one nation (the trade graph is
    connected enough that propagation actually groups)."""
    from mongodb_nats_connector_spark.operators.graph import graph_label_propagation

    out = graph_label_propagation(spark, "/root/testdata/sf0.01").toPandas()
    assert len(out) == 25
    assert out["community"].between(0, 24).all()
    assert (out.groupby("community").size() > 1).any()


# ---------------------------------------------------------------------------
# BFS levels and widest path (graph_bfs_levels, graph_widest_path)
# ---------------------------------------------------------------------------


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
