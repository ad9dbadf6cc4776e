"""Graph operators (``operators/graph.py``): PageRank, triangles,
connected components, BFS levels, widest paths, k-core, Adamic-Adar,
assortativity, the Boruvka MST, closeness/eccentricity/harmonic
centrality, clustering coefficients, random-walk visits and the rich-club
profile checked against independent Python re-derivations, and
pure-Python pins of the integer algebra behind HITS, Moran/Geary,
modularity and k-truss peeling, each against an independent reference
(``test_stats.py`` says why).
"""

from __future__ import annotations

import math
import random
from collections import defaultdict
from fractions import Fraction

import pytest
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


# ---------------------------------------------------------------------------
# k-core, link prediction, MST, centrality, clustering and random walks
# vs BFS and brute-force references
# ---------------------------------------------------------------------------


def _peel_reference(edges, k):
    nodes = {x for e in edges for x in e}
    es = list(edges)
    while True:
        deg = defaultdict(int)
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        keep = {n for n in nodes if deg[n] >= k}
        if keep == nodes:
            return es
        nodes = keep
        es = [(a, b) for a, b in es if a in nodes and b in nodes]


def test_kcore_matches_python_peel(spark):
    """The DataFrame peel loop must land on the same core (nodes AND
    degrees) as a plain-Python peeling reference over the same thresholded
    edge list."""
    from mongodb_nats_connector_spark.operators.graph_common import trade_edges
    from mongodb_nats_connector_spark.operators.graph import (
        KCORE_K,
        KCORE_W_FACTOR,
        graph_kcore,
    )

    de = trade_edges(spark, SF).toPandas()
    de["a"] = de[["src", "dst"]].min(axis=1)
    de["b"] = de[["src", "dst"]].max(axis=1)
    uw = de.groupby(["a", "b"])["w"].sum().reset_index()
    thr = KCORE_W_FACTOR * uw["w"].mean()
    edges = [
        (int(r.a), int(r.b)) for r in uw.itertuples(index=False) if r.w >= thr
    ]
    core_edges = _peel_reference(edges, KCORE_K)
    deg = defaultdict(int)
    for a, b in core_edges:
        deg[a] += 1
        deg[b] += 1
    nation = spark.read.parquet(f"{SF}/nation.parquet").toPandas()
    name_of = dict(zip(nation["n_nationkey"], nation["n_name"]))
    expected = {name_of[n]: d for n, d in deg.items()}
    got = {
        r["nation"]: r["core_degree"] for r in graph_kcore(spark, SF).collect()
    }
    assert got == expected


def test_adamic_adar_matches_python(spark):
    """AA scores recomputed from the thresholded edge list in plain Python
    agree for every pair."""
    from mongodb_nats_connector_spark.operators.graph_common import trade_edges
    from mongodb_nats_connector_spark.operators.graph import (
        KCORE_W_FACTOR,
        graph_adamic_adar,
    )

    de = trade_edges(spark, SF).toPandas()
    de["a"] = de[["src", "dst"]].min(axis=1)
    de["b"] = de[["src", "dst"]].max(axis=1)
    uw = de.groupby(["a", "b"])["w"].sum().reset_index()
    thr = KCORE_W_FACTOR * uw["w"].mean()
    edges = {
        (int(r.a), int(r.b)) for r in uw.itertuples(index=False) if r.w >= thr
    }
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    nation = spark.read.parquet(f"{SF}/nation.parquet").toPandas()
    name_of = dict(zip(nation["n_nationkey"], nation["n_name"]))
    exp = {}
    nodes = sorted(nbrs)
    for i, na in enumerate(nodes):
        for nb in nodes[i + 1:]:
            common = [
                z for z in nbrs[na] & nbrs[nb] if len(nbrs[z]) > 1
            ]
            if not common:
                continue
            score = round(
                sum(round(1.0 / math.log(len(nbrs[z])), 9) for z in common), 6
            )
            exp[(name_of[na], name_of[nb])] = (
                len(common),
                score,
                1 if (na, nb) in edges else 0,
            )
    got = {
        (r["nation_a"], r["nation_b"]): (
            r["n_common"],
            r["aa_score"],
            r["is_edge"],
        )
        for r in graph_adamic_adar(spark, SF).collect()
    }
    assert got == exp


def test_assortativity_matches_numpy(spark):
    """Degree assortativity equals numpy's corrcoef over endpoint degrees
    of the same thresholded edge list."""
    import numpy as np

    from mongodb_nats_connector_spark.operators.graph import (
        _thresholded_und_edges,
        graph_assortativity,
    )

    row = graph_assortativity(spark, SF).collect()[0]
    assert -1.0 <= row["assortativity"] <= 1.0
    edges = [(r["a"], r["b"]) for r in _thresholded_und_edges(spark, SF).collect()]
    deg = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    du = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
    dv = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
    r = float(np.corrcoef(du, dv)[0, 1])
    assert abs(row["assortativity"] - round(r, 4)) < 1e-3
    assert row["n_dir_edges"] == 2 * len(edges)


def test_mst_matches_kruskal(spark):
    """Boruvka (Spark) must return the identical edge set as a driver-side
    Kruskal under the same (w, a, b) total order — the third independent
    algorithm (the oracle is Prim)."""
    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )
    from mongodb_nats_connector_spark.operators.graph import graph_mst_boruvka

    de = trade_edges(spark, SF).toPandas()
    und = {}
    for r in de.itertuples():
        a, b = sorted((int(r.src), int(r.dst)))
        und[(a, b)] = und.get((a, b), 0) + int(r.w)
    edges = sorted((w, a, b) for (a, b), w in und.items())
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    kruskal = set()
    for w, a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            kruskal.add((a, b, w))

    got = {
        (r["a"], r["b"], r["w"])
        for r in graph_mst_boruvka(spark, SF).collect()
    }
    assert got == kruskal
    nodes = {n for e in und for n in e}
    assert len(got) == len(nodes) - 1  # spanning tree of a connected graph


def test_closeness_matches_bfs(spark):
    """Min-plus doubling distances must equal an independent BFS over the
    same undirected nation graph."""
    from collections import deque

    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )
    from mongodb_nats_connector_spark.operators.graph import graph_closeness_centrality

    de = trade_edges(spark, SF).toPandas()
    adj = {}
    for r in de.itertuples():
        a, b = int(r.src), int(r.dst)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    got = {
        r["node"]: (r["n_reachable"], r["total_dist"], r["closeness"])
        for r in graph_closeness_centrality(spark, SF).collect()
    }
    for src in adj:
        dist = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        reach = len(dist) - 1
        total = sum(d for n_, d in dist.items() if n_ != src)
        assert got[src][0] == reach
        assert got[src][1] == total
        assert got[src][2] == pytest.approx(reach / total)


def test_eccentricity_matches_bfs(spark):
    """Per-node eccentricity, the diameter, the radius, and the
    peripheral/central flags must all agree with an independent BFS over
    the same undirected nation graph."""
    from collections import deque

    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )
    from mongodb_nats_connector_spark.operators.graph import graph_eccentricity_diameter

    de = trade_edges(spark, SF).toPandas()
    adj = {}
    for r in de.itertuples():
        a, b = int(r.src), int(r.dst)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    ecc = {}
    reach = {}
    for src in adj:
        dist = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        ecc[src] = max(d for n_, d in dist.items() if n_ != src)
        reach[src] = len(dist) - 1
    diameter = max(ecc.values())
    radius = min(ecc.values())
    rows = graph_eccentricity_diameter(spark, SF).collect()
    assert len(rows) == len(adj)
    for r in rows:
        assert r["eccentricity"] == ecc[r["node"]]
        assert r["n_reachable"] == reach[r["node"]]
        assert r["diameter"] == diameter
        assert r["radius"] == radius
        assert r["is_peripheral"] == (ecc[r["node"]] == diameter)
        assert r["is_central"] == (ecc[r["node"]] == radius)


def test_harmonic_centrality_matches_bfs(spark):
    """Harmonic sums must equal an independent BFS recomputation, and the
    exact-LCM numerator must reconstruct them without float error."""
    from collections import deque

    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )
    from mongodb_nats_connector_spark.operators.graph import (
        _HARMONIC_LCM,
        graph_harmonic_centrality,
    )

    de = trade_edges(spark, SF).toPandas()
    adj = {}
    for r in de.itertuples():
        a, b = int(r.src), int(r.dst)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    got = {r["node"]: r for r in graph_harmonic_centrality(spark, SF).collect()}
    assert set(got) == set(adj)
    for src in adj:
        dist = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        num = sum(_HARMONIC_LCM // d for n_, d in dist.items() if n_ != src)
        assert got[src]["n_reachable"] == len(dist) - 1
        assert got[src]["harmonic_num"] == num  # exact: every d divides LCM
        assert got[src]["harmonic"] == num / _HARMONIC_LCM
        assert (
            abs(
                got[src]["harmonic_normalized"]
                - got[src]["harmonic"] / (len(adj) - 1)
            )
            < 1e-15
        )


def test_clustering_coefficient_matches_bruteforce(spark):
    """Per-node triangles, coefficients and transitivity must match a
    brute-force adjacency-set recomputation; sum of per-node triangles
    must equal 3x the global triangle count."""
    from itertools import combinations

    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )
    from mongodb_nats_connector_spark.operators.graph import (
        graph_clustering_coefficient,
    )

    de = trade_edges(spark, SF).toPandas()
    adj = {}
    for r in de.itertuples():
        a, b = int(r.src), int(r.dst)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    got = {
        r["node"]: r for r in graph_clustering_coefficient(spark, SF).collect()
    }
    assert set(got) == set(adj)
    tri_total = 0
    wedges = 0
    for node, nbrs in adj.items():
        tri = sum(1 for v, w in combinations(sorted(nbrs), 2) if w in adj[v])
        d = len(nbrs)
        tri_total += tri
        wedges += d * (d - 1)
        r = got[node]
        assert r["degree"] == d
        assert r["triangles"] == tri
        expected_c = 2 * tri / (d * (d - 1)) if d > 1 else 0.0
        assert abs(r["clustering"] - expected_c) < 1e-15
        assert 0.0 <= r["clustering"] <= 1.0
    any_row = next(iter(got.values()))
    assert abs(any_row["transitivity"] - 2 * tri_total / wedges) < 1e-15
    # each triangle is counted once per member node
    assert tri_total % 3 == 0


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
