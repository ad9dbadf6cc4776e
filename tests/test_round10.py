"""Round-10 additions: pipeline10 operator pins (Kendall tau-b vs scipy-free
exact pair counting, MMR greedy invariants, Boruvka-vs-Kruskal MST
agreement)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# agg_kendall_tau
# ---------------------------------------------------------------------------


def test_kendall_tau_matches_bruteforce(spark):
    """The grid dominance-count tau-b must equal the O(n^2) definition on
    the full sf0.001 lineitem sample."""
    from mongodb_nats_connector_spark.operators.double_sums import agg_kendall_tau

    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    x = li["l_quantity"].round().astype("int64").to_numpy()
    y = (li["l_extendedprice"] / 1000).round().astype("int64").to_numpy()
    n = len(x)
    cc = dd = 0
    # O(n^2) over the ~6k-row sample: exact concordant/discordant counts
    sx = np.sign(x[:, None] - x[None, :])
    sy = np.sign(y[:, None] - y[None, :])
    prod = sx * sy
    cc = int((prod[np.triu_indices(n, 1)] == 1).sum())
    dd = int((prod[np.triu_indices(n, 1)] == -1).sum())
    n0 = n * (n - 1) / 2
    tx = sum(c * (c - 1) / 2 for c in np.bincount(x - x.min()))
    ty = sum(c * (c - 1) / 2 for c in np.bincount(y - y.min()))
    expected = (cc - dd) / (math.sqrt(n0 - tx) * math.sqrt(n0 - ty))
    r = agg_kendall_tau(spark, SF).collect()[0]
    assert r["n"] == n
    assert r["concordant"] == cc
    assert r["discordant"] == dd
    assert abs(r["kendall_tau_b"] - expected) < 1e-12
    assert -1.0 <= r["kendall_tau_b"] <= 1.0


def test_kendall_tau_perfect_orderings(spark, tmp_path):
    """tau-b = +1 on a perfectly concordant relation, -1 on a perfectly
    discordant one (no ties)."""
    from mongodb_nats_connector_spark.operators.double_sums import agg_kendall_tau

    def write(rows):
        spark.createDataFrame(
            [(float(q), float(p)) for q, p in rows],
            "l_quantity double, l_extendedprice double",
        ).write.parquet(f"{tmp_path}/lineitem.parquet", mode="overwrite")

    write([(i, i * 1000.0) for i in range(1, 11)])
    r = agg_kendall_tau(spark, str(tmp_path)).collect()[0]
    assert r["kendall_tau_b"] == pytest.approx(1.0)
    write([(i, (11 - i) * 1000.0) for i in range(1, 11)])
    r = agg_kendall_tau(spark, str(tmp_path)).collect()[0]
    assert r["kendall_tau_b"] == pytest.approx(-1.0)


# ---------------------------------------------------------------------------
# text_kneser_ney_bigram
# ---------------------------------------------------------------------------


def test_kneser_ney_probabilities_normalize(spark):
    """For every context w1 appearing in the top list, the KN distribution
    over ALL observed continuations of w1 must sum to 1 exactly (the
    discount mass redistributed by the continuation model), and each
    kn_prob must be a proper probability."""
    from collections import Counter

    from mongodb_nats_connector_spark.operators.text import (
        KN_D,
        text_kneser_ney_bigram,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    big = Counter()
    for t in docs["text"]:
        ws = t.split(" ")
        big.update(zip(ws, ws[1:]))
    c1 = Counter()
    nl = Counter()
    nr = Counter()
    for (w1, w2), c in big.items():
        c1[w1] += c
        nl[w1] += 1
        nr[w2] += 1
    tot = len(big)

    rows = text_kneser_ney_bigram(spark, SF).collect()
    assert len(rows) == 30
    for r in rows:
        w1, w2 = r["w1"], r["w2"]
        assert r["c2"] == big[(w1, w2)]
        expected = (big[(w1, w2)] - KN_D) / c1[w1] + (
            (KN_D * nl[w1]) / c1[w1]
        ) * ((nr[w2] * 1.0) / tot)
        assert r["kn_prob"] == pytest.approx(expected, rel=1e-12)
        assert 0.0 < r["kn_prob"] <= 1.0
        assert r["mle_prob"] == pytest.approx(big[(w1, w2)] / c1[w1])
    # full-distribution normalization for the most frequent context: the
    # discounted mass over SEEN continuations plus the continuation-model
    # backoff over the WHOLE vocabulary (unseen continuations get only
    # the interpolation term) must sum to exactly 1
    w1 = rows[0]["w1"]
    seen = {b for (a, b) in big if a == w1}
    mass = sum((big[(w1, b)] - KN_D) / c1[w1] for b in seen) + (
        (KN_D * nl[w1]) / c1[w1]
    ) * sum(nr[b] / tot for b in nr)
    assert mass == pytest.approx(1.0, abs=1e-9)


# ---------------------------------------------------------------------------
# similarity_mmr_topk
# ---------------------------------------------------------------------------


def test_mmr_topk_greedy_invariants(spark):
    """Step 1 is the pure-relevance argmax; every later pick must be the
    argmax of the MMR objective among the remaining pool, verified against
    an independent numpy recomputation."""
    from mongodb_nats_connector_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        MMR_POOL,
        MMR_QUERY_ID,
        similarity_mmr_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    vecs = {
        int(r.vec_id): np.array(r.embedding, dtype="float64")
        for r in emb.itertuples()
    }
    qv = vecs[MMR_QUERY_ID]

    def cos(a, b):
        d = np.linalg.norm(a) * np.linalg.norm(b)
        return float(a @ b / d) if d else float("nan")

    rel = {}
    for vid, v in vecs.items():
        if vid == MMR_QUERY_ID:
            continue
        c = round(cos(qv, v), 6)
        if not math.isnan(c):
            rel[vid] = c
    pool = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_POOL]
    sim = {
        (a, b): round(cos(vecs[a], vecs[b]), 6)
        for a in pool
        for b in pool
        if a != b
    }
    selected = []
    remaining = sorted(pool)
    for _ in range(MMR_K):
        if not selected:
            best = max(remaining, key=lambda c: (rel[c], -c))
        else:
            best = max(
                remaining,
                key=lambda c: (
                    MMR_LAMBDA * rel[c]
                    - (1 - MMR_LAMBDA) * max(sim[(c, s)] for s in selected),
                    -c,
                ),
            )
        selected.append(best)
        remaining.remove(best)

    rows = sorted(
        similarity_mmr_topk(spark, SF).collect(), key=lambda r: r["step"]
    )
    assert [r["vec_id"] for r in rows] == selected
    assert [r["step"] for r in rows] == list(range(1, MMR_K + 1))
    for r in rows:
        assert r["relevance"] == pytest.approx(rel[r["vec_id"]], abs=2e-6)
    # diversity actually engaged: the MMR list must differ from the pure
    # relevance top-k on this fixture (otherwise the test proves nothing)
    topk_by_rel = sorted(pool, key=lambda v: (-rel[v], v))[:MMR_K]
    assert set(r["vec_id"] for r in rows) != set(topk_by_rel) or [
        r["vec_id"] for r in rows
    ] == topk_by_rel


# ---------------------------------------------------------------------------
# graph_mst_boruvka
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# streaming daily-moment CUSUM
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# plans/ranking.py helper contracts (round-9 ADVICE items + new helpers)
# ---------------------------------------------------------------------------


def test_two_pass_rank_matches_window_and_drops_nulls(spark):
    """The two-pass rank must equal a plain row_number() window on the
    non-NULL subset, and NULL value rows must be dropped (the documented
    contract — silently ranking them into bucket 0 shifted every ntile
    boundary before the fix)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import (
        ntile_from_rank,
        two_pass_global_rank,
    )

    rows = [(i, float(v)) for i, v in enumerate([5, 3, 8, 3, 9, 1, 7, 2])]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = two_pass_global_rank(
        df, "v", "id", descending=True, n_buckets=3
    ).collect()
    assert len(got) == 8  # NULLs dropped
    w = Window.orderBy(F.desc("v"), F.asc("id"))
    exp = {
        r["id"]: r["rn"]
        for r in df.filter(F.col("v").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .collect()
    }
    for r in got:
        assert r["_rank"] == exp[r["id"]]
        assert r["_n"] == 8
    # ntile reconstruction equals SQL ntile on the same rank
    wn = Window.orderBy(F.desc("v"), F.asc("id"))
    nt = {
        r["id"]: r["nt"]
        for r in df.filter(F.col("v").isNotNull())
        .withColumn("nt", F.ntile(3).over(wn))
        .collect()
    }
    for r in got:
        recon = ntile_from_rank(F.lit(r["_rank"]), F.lit(r["_n"]), 3)
        val = spark.range(1).select(recon.alias("x")).collect()[0]["x"]
        assert val == nt[r["id"]]


def test_two_pass_prefix_sum_matches_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_prefix_sum,
    )

    rows = [(i, (i * 37) % 11, (i % 5) - 2) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, v long, d long")
    got = {
        r["id"]: r["cum"]
        for r in two_pass_prefix_sum(
            df, "v", "id", "d", descending=False, n_buckets=4, cum_col="cum"
        ).collect()
    }
    w = (
        Window.orderBy(F.asc("v"), F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp = {
        r["id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("d").over(w)).collect()
    }
    assert got == exp


def test_two_pass_prefix_max_exclusive_matches_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_prefix_max,
    )

    # distinct v values (exclusive ROWS frames require a total order)
    rows = [(i, (i * 13) % 97, (i * 7) % 23) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v long, m long")
    got = {
        r["v"]: r["pm"]
        for r in two_pass_prefix_max(
            df, "v", "v", "m",
            descending=True, n_buckets=4, cum_col="pm", exclusive=True,
        ).collect()
    }
    w = Window.orderBy(F.desc("v")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    exp = {
        r["v"]: r["pm"]
        for r in df.withColumn("pm", F.max("m").over(w)).collect()
    }
    assert got == exp  # including NULL for the first row


def test_markov_stationary_sums_to_one(spark):
    """Fixed-point probabilities must sum to ~1e9 ppb (floor-division loss
    bounded by states x iterations) and every state must be emitted."""
    from mongodb_nats_connector_spark.operators.events import events_markov_stationary

    rows = events_markov_stationary(spark, SF).collect()
    assert len(rows) >= 2
    total = sum(r["stationary_ppb"] for r in rows)
    assert 1_000_000_000 - len(rows) * 10 <= total <= 1_000_000_000
    for r in rows:
        assert 0 <= r["stationary_ppb"] <= 1_000_000_000


def test_theil_sen_robust_to_outlier(spark, tmp_path):
    """A single wild outlier day must not move Theil-Sen (OLS would): slope
    of a clean +100c/day series stays 1.0 dollars/day... scaled check."""
    import datetime

    from mongodb_nats_connector_spark.operators.stats import agg_theil_sen

    base = datetime.date(1995, 1, 1)
    rows = []
    for i in range(30):
        price = 100.0 + i  # +1 dollar/day trend
        if i == 15:
            price = 100000.0  # outlier day
        rows.append((i, base + datetime.timedelta(days=i), price))
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date, o_totalprice double"
    ).write.parquet(f"{tmp_path}/orders.parquet", mode="overwrite")
    r = agg_theil_sen(spark, str(tmp_path)).collect()[0]
    assert r["n_days"] == 30
    assert abs(r["theil_sen_slope"] - 1.0) < 0.05


# ---------------------------------------------------------------------------
# agg_ljung_box / orders_seasonal_decompose / graph_closeness_centrality
# ---------------------------------------------------------------------------


def test_ljung_box_matches_reference(spark):
    """Q must equal the textbook statistic computed independently in numpy
    over the same quantized daily series."""
    from mongodb_nats_connector_spark.operators.stats import (
        LB_MAX_LAG,
        agg_ljung_box,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderdate"].notna()]
    daily = (
        o.assign(rev_c=(o["o_totalprice"] * 100).round().astype("int64"))
        .groupby("o_orderdate")["rev_c"]
        .sum()
        .sort_index()
        .to_numpy(dtype="float64")
    )
    n = len(daily)
    x = daily - daily.mean()
    ss = (x * x).sum()
    q = 0.0
    for k in range(1, LB_MAX_LAG + 1):
        r = (x[k:] * x[:-k]).sum() / ss
        q += r * r / (n - k)
    q *= n * (n + 2)
    row = agg_ljung_box(spark, SF).collect()[0]
    assert row["n_days"] == n
    # per-lag terms quantize to nano-units before the n(n+2) scale-up, so
    # the worst-case drift is ~ n(n+2) * lags * 0.5e-9 (~0.02 here)
    assert row["q_stat"] == pytest.approx(q, abs=n * (n + 2) * 7 * 1e-9)
    assert row["reject_whiteness_5pct"] == (q > 14.067140449340169)


def test_seasonal_decompose_identity_and_centering(spark):
    """revenue = trend + seasonal + residual wherever trend exists, the
    seasonal indices are centered (sum ~ 0 across the 12 calendar months),
    and edge months carry NULL trend/residual."""
    from mongodb_nats_connector_spark.operators.orders import orders_seasonal_decompose

    rows = orders_seasonal_decompose(spark, SF).collect()
    assert len(rows) > 24
    by_moy = {}
    n_null = 0
    for r in rows:
        if r["trend"] is None:
            n_null += 1
            assert r["residual"] is None
        else:
            assert r["residual"] == pytest.approx(
                r["revenue"] - r["trend"] - r["seasonal"], abs=1e-6
            )
        by_moy[r["month"].month] = r["seasonal"]
    assert n_null == 12  # 6 head + 6 tail months lack the centered window
    assert len(by_moy) == 12
    assert sum(by_moy.values()) == pytest.approx(0.0, abs=1e-4)


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


# ---------------------------------------------------------------------------
# graph_eccentricity_diameter / events_wilcoxon_signed_rank
# ---------------------------------------------------------------------------


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


def test_wilcoxon_matches_pure_python(spark):
    """W+ and z must equal the textbook signed-rank statistic (sorted
    midranks, tie-corrected variance) computed independently in numpy over
    the same quantized per-user differences."""
    from mongodb_nats_connector_spark.operators.events import (
        _valued_events_prepost,
        events_wilcoxon_signed_rank,
    )

    per_user = (
        _valued_events_prepost(spark, SF)
        .groupBy("user_id")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("day") < F.col("split"), F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("pre"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("day") >= F.col("split"), F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("post"),
        )
        .toPandas()
    )
    d4 = np.rint(
        (per_user["post"] - per_user["pre"]).to_numpy() * 10000
    ).astype(np.int64)
    d4 = d4[d4 != 0]
    n = len(d4)
    assert n > 10  # the sf0.001 sample must actually exercise the test
    ad = np.abs(d4)
    order = np.argsort(ad, kind="mergesort")
    ranks = np.empty(n, dtype="float64")
    sorted_ad = ad[order]
    i, next_rank = 0, 1
    while i < n:
        j = i
        while j < n and sorted_ad[j] == sorted_ad[i]:
            j += 1
        ranks[order[i:j]] = (next_rank + (next_rank + (j - i) - 1)) / 2.0
        next_rank += j - i
        i = j
    w_plus = float(ranks[d4 > 0].sum())
    _, counts = np.unique(ad, return_counts=True)
    c = counts.astype("int64")
    ties3 = int((c.astype(object) ** 3 - c).sum())
    var = n * (n + 1) * (2 * n + 1) / 24.0 - ties3 / 48.0
    z = (w_plus - n * (n + 1) / 4.0) / math.sqrt(var)
    row = events_wilcoxon_signed_rank(spark, SF).collect()[0]
    assert row["n_nonzero"] == n
    assert row["w_plus_x2"] == int(round(2 * w_plus))
    assert row["w_plus"] == pytest.approx(w_plus)
    assert row["z_stat"] == pytest.approx(z, rel=1e-12)


def test_wilcoxon_known_answer_and_degenerate(spark, tmp_path):
    """Classic hand-checkable case: diffs {+1,+2,+3,-4,+5} give W+ = 11,
    n = 5, no ties; and an all-zero-difference table emits zero rows."""
    import datetime

    from mongodb_nats_connector_spark.operators.events import (
        events_wilcoxon_signed_rank,
    )

    base = datetime.datetime(1995, 1, 1, 12, 0, 0)
    post_day = base + datetime.timedelta(days=20)  # past the +15 split
    diffs = {1: 1.0, 2: 2.0, 3: 3.0, 4: -4.0, 5: 5.0}
    rows = []
    for uid, d in diffs.items():
        rows.append((uid * 10, base, uid, "click", 10.0, None))
        rows.append((uid * 10 + 1, post_day, uid, "click", 10.0 + d, None))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    spark.createDataFrame(rows, schema).write.parquet(
        f"{tmp_path}/a/events.parquet", mode="overwrite"
    )
    r = events_wilcoxon_signed_rank(spark, f"{tmp_path}/a").collect()
    assert len(r) == 1
    assert r[0]["n_nonzero"] == 5
    assert r[0]["w_plus"] == pytest.approx(11.0)
    expected_z = (11.0 - 5 * 6 / 4.0) / math.sqrt(5 * 6 * 11 / 24.0)
    assert r[0]["z_stat"] == pytest.approx(expected_z)

    zero_rows = []
    for uid in range(1, 6):
        zero_rows.append((uid * 10, base, uid, "click", 7.0, None))
        zero_rows.append((uid * 10 + 1, post_day, uid, "click", 7.0, None))
    spark.createDataFrame(zero_rows, schema).write.parquet(
        f"{tmp_path}/b/events.parquet", mode="overwrite"
    )
    assert events_wilcoxon_signed_rank(spark, f"{tmp_path}/b").count() == 0
