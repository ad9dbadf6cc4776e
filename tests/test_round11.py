"""Round-10 batch-2 pins: pipeline11 operators vs scipy-free brute-force
references on the sf0.001 sample (ROC AUC pairwise definition,
Kruskal-Wallis/Ansari-Bradley from literal rank formulas, Wasserstein CDF
integral, Page-Hinkley recurrence replay, Grubbs/McNemar/Cochran direct
formulas)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"


def _li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()


def test_roc_auc_matches_pairwise_definition(spark):
    """AUC from the bucketed Mann-Whitney identity must equal the O(n^2)
    pair-counting definition (ties at half credit) on the same buckets."""
    from mongodb_nats_connector_spark.operators.pipeline11 import agg_roc_auc

    li = _li(spark)
    s = (li["l_extendedprice"] / 1000).round().astype("int64").to_numpy()
    pos = (li["l_returnflag"] == "R").to_numpy()
    sp, sn = s[pos], s[~pos]
    gt = (sp[:, None] > sn[None, :]).sum()
    eq = (sp[:, None] == sn[None, :]).sum()
    expected = (gt + 0.5 * eq) / (len(sp) * len(sn))
    r = agg_roc_auc(spark, SF).collect()[0]
    assert r["n_pos"] == len(sp) and r["n_neg"] == len(sn)
    assert r["u_x2"] == 2 * gt + eq
    assert abs(r["roc_auc"] - expected) < 1e-12
    assert abs(r["gini_coefficient"] - (2 * expected - 1)) < 1e-12


def test_kruskal_wallis_matches_rank_formula(spark):
    """H (and its tie correction) must match the direct midrank formula
    computed with pandas average ranks."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_kruskal_wallis,
    )

    li = _li(spark)
    v = li["l_quantity"].round().astype("int64")
    g = li["l_returnflag"]
    ranks = v.rank(method="average")
    n = len(v)
    h = 12.0 / (n * (n + 1)) * sum(
        ranks[g == grp].sum() ** 2 / (g == grp).sum() for grp in g.unique()
    ) - 3 * (n + 1)
    ties = v.value_counts().to_numpy()
    corr = 1 - (ties**3 - ties).sum() / (n**3 - n)
    rows = {r["grp"]: r for r in agg_kruskal_wallis(spark, SF).collect()}
    assert set(rows) == set(g.unique())
    for grp, r in rows.items():
        assert r["n_g"] == (g == grp).sum()
        assert r["rank_sum_x2"] == int(round(2 * ranks[g == grp].sum()))
        assert abs(r["h_stat"] - h) < 1e-6  # nano-quantization granularity
        assert abs(r["h_tie_corrected"] - h / corr) < 1e-6


def test_ansari_bradley_matches_score_formula(spark):
    """AB statistic and its z must match the literal both-ends score
    definition score = min(rank, N+1-rank) with average midranks."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_ansari_bradley,
    )

    li = _li(spark)
    v = (li["l_extendedprice"] / 1000).round().astype("int64")
    g1 = (li["l_linestatus"] == "O").to_numpy()
    ranks = v.rank(method="average").to_numpy()
    n = len(v)
    scores = np.minimum(ranks, n + 1 - ranks)
    ab = scores[g1].sum()
    n1, n0 = int(g1.sum()), int((~g1).sum())
    a1 = int(round(2 * scores.sum()))  # doubled-score sum, exact integer
    a2 = int(round(4 * (scores**2).sum()))  # doubled-score square sum
    mean = n1 * (a1 / 2) / n
    # the operator floor-divides the exact variance numerator by N(N-1)
    # (keeping it below 2^53); replicate that quantization exactly
    q = (n * a2 - a1 * a1) // (n * (n - 1))
    var = n1 * n0 * q / (4 * n)
    r = agg_ansari_bradley(spark, SF).collect()[0]
    assert r["n1"] == n1 and r["n0"] == n0
    assert r["ab_x2"] == int(round(2 * ab))
    assert abs(r["ab_stat"] - ab) < 1e-9
    assert abs(r["z_stat"] - (ab - mean) / math.sqrt(var)) < 1e-9
    # the quantized variance sits within 1/q relative of the exact form
    # (q is the floor-divided integer, so truncation loses at most 1 unit)
    var_exact = (
        n1 * n0
        * (n * (a2 / 4) - (a1 / 2) ** 2)
        / (n**2 * (n - 1))
    )
    assert abs(var - var_exact) / var_exact < 1.0 / q + 1e-12


def test_wasserstein_matches_cdf_integral(spark):
    """W1 must equal the numpy CDF-difference integral over the bucketed
    values, and be symmetric-positive."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        orders_wasserstein_1d,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderpriority"].isin(["1-URGENT", "5-LOW"])]
    v = (o["o_totalprice"] / 10000).round().astype("int64")
    u = np.sort(v[o["o_orderpriority"] == "1-URGENT"].to_numpy())
    l_ = np.sort(v[o["o_orderpriority"] == "5-LOW"].to_numpy())
    grid = np.unique(np.concatenate([u, l_]))
    f1 = np.searchsorted(u, grid, side="right") / len(u)
    f2 = np.searchsorted(l_, grid, side="right") / len(l_)
    expected = float(np.sum(np.abs(f1 - f2)[:-1] * np.diff(grid)))
    r = orders_wasserstein_1d(spark, SF).collect()[0]
    assert r["n_urgent"] == len(u) and r["n_low"] == len(l_)
    assert abs(r["wasserstein_buckets"] - expected) < 1e-9
    assert r["wasserstein_dollars"] >= 0
    assert abs(r["wasserstein_dollars"] - expected * 10000) < 1e-5


def test_page_hinkley_matches_recurrence_replay(spark):
    """The scaled PH columns must replay the textbook recurrence
    m_t = sum(x_i - mean), PH+ = m - min, PH- = max - m (scaled by T)."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        events_page_hinkley,
    )

    rows = sorted(
        events_page_hinkley(spark, SF).collect(), key=lambda r: r["day"]
    )
    x = np.array([r["value_x10k"] for r in rows], dtype=object)
    t = len(x)
    s = int(x.sum())
    cum, mn, mx = 0, None, None
    for i, r in enumerate(rows):
        cum += int(x[i])
        m = t * cum - (i + 1) * s
        # running extremes over the OBSERVED prefix only (no virtual m_0)
        mn = m if mn is None else min(mn, m)
        mx = m if mx is None else max(mx, m)
        assert r["m_scaled"] == m
        # running extremes INCLUDE the current row (inclusive frame)
        assert r["ph_inc"] == m - mn and r["ph_inc"] >= 0
        assert r["ph_dec"] == mx - m and r["ph_dec"] >= 0
    assert rows[-1]["m_scaled"] == 0  # telescopes to zero at t = T
    assert sum(r["is_upshift_peak"] for r in rows) >= 1
    assert sum(r["is_downshift_peak"] for r in rows) >= 1


def test_grubbs_matches_numpy(spark):
    """G must equal max|x - mean| / sd(ddof=1) over the daily revenue
    series, and the flagged day must attain the max deviation."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_grubbs_test,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderdate"].notna()]
    daily = (
        (o["o_totalprice"] * 100).round().astype("int64")
        .groupby(o["o_orderdate"].astype("datetime64[ns]").dt.date)
        .sum()
    )
    x = daily.to_numpy(dtype="float64")
    g_exp = np.max(np.abs(x - x.mean())) / x.std(ddof=1)
    # replicate the operator's exact integer micro-quantization of G^2
    xi = [int(v) for v in daily.to_numpy()]
    n_ = len(xi)
    s_ = sum(xi)
    ss_ = sum(v * v for v in xi)
    maxdev = max(abs(v * n_ - s_) for v in xi)
    g2_u = (maxdev * maxdev * (n_ - 1) * 1000000) // (
        n_ * (n_ * ss_ - s_ * s_)
    )
    r = agg_grubbs_test(spark, SF).collect()[0]
    assert r["n_days"] == len(x)
    assert r["grubbs_g2"] == g2_u / 1e6
    assert r["grubbs_g"] == math.sqrt(g2_u / 1e6)
    # micro-quantization keeps G within 1e-6 of the float formula
    assert abs(r["grubbs_g"] - g_exp) < 1e-6
    assert abs(r["grubbs_g2"] - g_exp**2) < 1e-5
    dev = np.abs(daily.to_numpy() * len(x) - daily.sum())
    assert r["max_dev_n"] == dev.max()
    assert r["outlier_day"] == min(
        d for d, dv in zip(daily.index, dev) if dv == dev.max()
    )


def test_mcnemar_matches_pandas(spark):
    """The 2x2 discordance table and both chi-squares must match a pandas
    recomputation of the above-median flags."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_mcnemar_test,
    )

    e = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    e = e[e["value"].notna()].copy()
    e["day"] = pd.to_datetime(e["ts"]).dt.date
    split = e["day"].min() + pd.Timedelta(days=15).to_pytimedelta()
    # dropna=False keeps a NULL user_id group, matching the operator's
    # groupBy semantics (Spark and DuckDB both group NULL keys)
    pre = e[e["day"] < split].groupby("user_id", dropna=False)["value"].sum()
    post = (
        e[e["day"] >= split].groupby("user_id", dropna=False)["value"].sum()
    )
    users = e["user_id"].unique()
    pre4 = np.array(
        [int(round(round(pre.get(u, 0.0), 4) * 10000)) for u in users]
    )
    post4 = np.array(
        [int(round(round(post.get(u, 0.0), 4) * 10000)) for u in users]
    )
    pre_a = 2 * pre4 > int(round(np.median(pre4) * 2))
    post_a = 2 * post4 > int(round(np.median(post4) * 2))
    b = int((pre_a & ~post_a).sum())
    c = int((~pre_a & post_a).sum())
    r = agg_mcnemar_test(spark, SF).collect()[0]
    assert r["n_users"] == len(users)
    assert r["pre_only"] == b and r["post_only"] == c
    assert r["both_above"] == int((pre_a & post_a).sum())
    assert abs(r["mcnemar_chi2"] - (b - c) ** 2 / (b + c)) < 1e-12
    assert (
        abs(r["mcnemar_chi2_cc"] - (abs(b - c) - 1) ** 2 / (b + c)) < 1e-12
    )


def test_cochran_q_matches_direct_formula(spark):
    """Q must match the direct (k-1)(k*sum C^2 - N^2)/(kN - sum R^2) on the
    pandas-built engagement matrix."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        COCHRAN_MIN_DAYS,
        agg_cochran_q,
    )

    e = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    e = e[e["user_id"].notna() & e["event_type"].notna() & e["ts"].notna()]
    days = (
        e.assign(day=pd.to_datetime(e["ts"]).dt.date)
        .groupby(["user_id", "event_type"])["day"]
        .nunique()
    )
    mat = (days >= COCHRAN_MIN_DAYS).unstack(fill_value=False)
    # include types engaged by nobody and users engaging nothing: both are
    # implicit zeros that only enter through k and n_users
    k = e["event_type"].nunique()
    rr = mat.sum(axis=1).to_numpy()
    cc = mat.sum(axis=0).to_numpy()
    n = int(rr.sum())
    q_num = (k - 1) * (k * int((cc**2).sum()) - n * n)
    q_den = k * n - int((rr**2).sum())
    r = agg_cochran_q(spark, SF).collect()[0]
    assert r["k"] == k
    assert r["n_users"] == e["user_id"].nunique()
    assert r["n_presences"] == n
    assert r["q_num"] == q_num and r["q_den"] == q_den
    assert abs(r["cochran_q"] - q_num / q_den) < 1e-12


def test_friedman_matches_rank_formula(spark):
    """Per-treatment rank sums and Q must match a pandas within-block
    average-rank recomputation over complete months."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_friedman_test,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderdate"].notna()].copy()
    o["blk"] = pd.to_datetime(o["o_orderdate"]).dt.to_period("M")
    o["cents"] = (o["o_totalprice"] * 100).round().astype("int64")
    cell = (
        o.groupby(["blk", "o_orderpriority"])["cents"]
        .agg(["sum", "count"])
        .reset_index()
    )
    k = o["o_orderpriority"].nunique()
    full = cell.groupby("blk").size()
    full_blocks = set(full[full == k].index)
    cell = cell[cell["blk"].isin(full_blocks)].copy()
    # rank treatment means within each block; compare as exact fractions
    from fractions import Fraction

    cell["avg"] = [
        Fraction(int(s), int(c)) for s, c in zip(cell["sum"], cell["count"])
    ]
    cell["rank"] = cell.groupby("blk")["avg"].rank(method="average")
    rsum = cell.groupby("o_orderpriority")["rank"].sum()
    n = len(full_blocks)
    q = 12.0 / (n * k * (k + 1)) * float((rsum**2).sum()) - 3 * n * (k + 1)
    rows = {r["priority"]: r for r in agg_friedman_test(spark, SF).collect()}
    assert set(rows) == set(rsum.index)
    for trt, r in rows.items():
        assert r["k"] == k and r["n_blocks"] == n
        assert r["rank_sum_x2"] == int(round(2 * rsum[trt]))
        assert abs(r["q_stat"] - q) < 1e-6  # nano-quantization granularity


def test_hodges_lehmann_matches_walsh_median(spark):
    """HL must equal the numpy median of all Walsh averages (i <= j) of the
    daily revenue series."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_hodges_lehmann,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderdate"].notna()]
    daily = (
        (o["o_totalprice"] * 100).round().astype("int64")
        .groupby(o["o_orderdate"])
        .sum()
        .to_numpy()
    )
    i, j = np.triu_indices(len(daily))
    walsh = (daily[i] + daily[j]) / 2.0
    r = agg_hodges_lehmann(spark, SF).collect()[0]
    assert r["n_days"] == len(daily)
    assert r["n_pairs"] == len(walsh)
    assert abs(r["hl_dollars"] - np.median(walsh) / 100.0) < 1e-9
    # robustness: HL sits between the min and max daily revenue
    assert daily.min() / 100.0 <= r["hl_dollars"] <= daily.max() / 100.0


def test_simpson_diversity_matches_token_counts(spark):
    """All three indices must match a direct pandas token-count
    recomputation, and satisfy their algebraic bounds."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        docs_simpson_diversity,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    counts = pd.Series(
        [w for t in docs["text"] for w in t.split(" ")]
    ).value_counts()
    n = int(counts.sum())
    d = float((counts * (counts - 1)).sum()) / (n * (n - 1))
    inv = n * n / float((counts**2).sum())
    r = docs_simpson_diversity(spark, SF).collect()[0]
    assert r["n_tokens"] == n
    assert r["vocab"] == len(counts)
    assert abs(r["simpson_d"] - d) < 1e-12
    assert abs(r["gini_simpson"] - (1 - d)) < 1e-12
    assert abs(r["inv_simpson"] - inv) < 1e-9
    assert 0.0 <= r["simpson_d"] <= 1.0
    assert 1.0 <= r["inv_simpson"] <= r["vocab"]


def test_harmonic_centrality_matches_bfs(spark):
    """Harmonic sums must equal an independent BFS recomputation, and the
    exact-LCM numerator must reconstruct them without float error."""
    from collections import deque

    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )
    from mongodb_nats_connector_spark.operators.pipeline11 import (
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


def test_pq_codebook_lloyd_semantics(spark):
    """The trained codebook must satisfy Lloyd's invariants per subspace:
    round-2 centroids are the means of the round-1 assignment, and the
    reported per-cell counts/distortions match a numpy recomputation
    against those centroids."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        _pq_train_subspace,
        embedding_pq_codebook,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    vecs = np.stack(
        e.sort_values("vec_id")["embedding"].map(np.asarray)
    ).astype("float64")
    ids = e.sort_values("vec_id")["vec_id"].to_numpy()
    got = {
        (r["subspace"], r["cid"]): r
        for r in embedding_pq_codebook(spark, SF).collect()
    }
    sdf = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    for m in range(PQ_M):
        sub = vecs[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        se = sdf.select(
            "vec_id", F.slice("v", 1 + m * PQ_SUBDIM, PQ_SUBDIM).alias("sv")
        )
        cents = _pq_train_subspace(se)
        # Lloyd invariant: final centroids = means of the init-assignment
        init = {cid: np.asarray(cv) for cid, cv in zip(range(PQ_K), sub[:PQ_K])}
        d0 = np.stack(
            [((sub - init[c]) ** 2).sum(axis=1) for c in range(PQ_K)]
        )
        a0 = d0.argmin(axis=0)  # ties to smallest cid via argmin order
        for cid, cv in cents:
            # centroid coordinates are round(avg, 6)-anchored cross-engine
            # (the unrounded distributed avg depends on partial-agg order),
            # so the replay allows exactly the half-quantum anchor slack
            # (numpy's half-even vs Spark's HALF_UP makes exact-equality
            # against np.round fragile at a tie boundary)
            np.testing.assert_allclose(
                np.asarray(cv),
                sub[a0 == cid].mean(axis=0),
                rtol=0,
                atol=5.001e-7,
            )
        # reported cells match the numpy re-assignment against them
        cmat = np.stack([np.asarray(cv) for _, cv in cents])
        d1 = np.stack([((sub - c) ** 2).sum(axis=1) for c in cmat])
        a1 = d1.argmin(axis=0)
        for j, (cid, _) in enumerate(cents):
            sel = a1 == j
            r = got[(m, cid)]
            assert r["n_assigned"] == int(sel.sum())
            exp = sum(int(round(x * 10000)) for x in d1[j][sel])
            assert abs(r["d2_sum_x10k"] - exp) <= len(ids)  # ulp-slack
            assert r["avg_sq_dist"] >= 0
    assert sum(r["n_assigned"] for (s, _), r in got.items() if s == 0) == len(
        ids
    )


def test_ann_pq_adc_consistency(spark):
    """Every returned candidate's approx distance must equal the sum of its
    two codebook-table entries, the list must be sorted by (approx,
    vec_id), and the query itself must be excluded."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        ANN_PQ_QUERY_ID,
        ANN_PQ_TOPK,
        similarity_ann_pq,
    )

    rows = similarity_ann_pq(spark, SF).collect()
    assert len(rows) == ANN_PQ_TOPK
    keys = [(r["approx_d2"], r["vec_id"]) for r in rows]
    assert keys == sorted(keys)
    assert all(r["vec_id"] != ANN_PQ_QUERY_ID for r in rows)
    assert all(r["approx_d2"] >= 0 for r in rows)
    # vectors sharing both codes must have identical approx distance
    by_code = {}
    for r in rows:
        by_code.setdefault((r["code0"], r["code1"]), set()).add(
            r["approx_d2"]
        )
    assert all(len(v) == 1 for v in by_code.values())


def test_burst_detection_hysteresis_replay(spark):
    """State, starts and burst ids must replay the two-threshold machine
    exactly from the daily counts."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        BURST_HI_NUM,
        BURST_LO_NUM,
        events_burst_detection,
    )

    rows = sorted(
        events_burst_detection(spark, SF).collect(), key=lambda r: r["day"]
    )
    t = len(rows)
    n = sum(r["n_events"] for r in rows)
    state, bid = 0, 0
    for r in rows:
        lhs = 50 * r["n_events"] * t
        prev = state
        if lhs > BURST_HI_NUM * n:
            state = 1
        elif lhs < BURST_LO_NUM * n:
            state = 0
        start = state == 1 and prev == 0
        if start:
            bid += 1
        assert r["state"] == state
        assert r["is_burst_start"] == start
        assert r["burst_id"] == (bid if state == 1 else 0)
    assert sum(r["is_burst_start"] for r in rows) >= 1  # machine fires


def test_logrank_matches_pandas_replay(spark):
    """O1, the observed-expected sum, the variance sum and chi2 must match
    a pandas risk-set replay of the same duration/censoring construction."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        orders_logrank_test,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o.sort_values(["o_orderdate", "o_orderkey"])
    tmax = o["o_orderdate"].max()
    firsts = o.groupby("o_custkey").nth(0)
    seconds = o.groupby("o_custkey").nth(1)
    t2 = seconds.set_index("o_custkey")["o_orderdate"]
    rows = []
    for _, r in firsts.iterrows():
        cust = r["o_custkey"]
        end = t2.get(cust, None)
        ev = end is not None
        dur = ((end if ev else tmax) - r["o_orderdate"]).days
        rows.append(
            (dur, int(ev), int(r["o_orderpriority"] in ("1-URGENT", "2-HIGH")))
        )
    df = pd.DataFrame(rows, columns=["dur", "ev", "g"])
    n, n1 = len(df), int(df["g"].sum())
    o1 = diff_nn = var_nn = 0
    for dur in sorted(df["dur"].unique()):
        at = df[df["dur"] >= dur]
        here = df[df["dur"] == dur]
        d, d1 = int(here["ev"].sum()), int((here["ev"] * here["g"]).sum())
        nr, nr1 = len(at), int(at["g"].sum())
        if d == 0 or nr == 0:
            continue
        o1 += d1
        diff_nn += int(round(1e9 * (d1 * nr - nr1 * d) / nr))
        if nr > 1:
            var_nn += int(
                round(
                    1e9 * (float(nr1) * (nr - nr1) * d * (nr - d))
                    / ((float(nr) * nr) * (nr - 1))
                )
            )
    r = orders_logrank_test(spark, SF).collect()[0]
    assert r["n1"] == n1 and r["n0"] == n - n1
    assert r["o1"] == o1
    assert r["diff_nn"] == diff_nn
    assert r["var_nn"] == var_nn
    assert abs(r["logrank_chi2"] - diff_nn**2 / (1e9 * var_nn)) < 1e-9


def test_cohen_kappa_matches_po_pe_form(spark):
    """The integer num/den form must equal the textbook (po-pe)/(1-pe), and
    the confusion matrix must match a pandas recomputation."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_cohen_kappa,
    )

    li = _li(spark)
    price_c = (li["l_extendedprice"] * 100).round().astype("int64")
    m2 = int(round(np.median(price_c) * 2))
    ra = (2 * price_c > m2).astype(int)
    rb = (li["l_returnflag"] == "R").astype(int)
    n = len(li)
    a11 = int((ra & rb).sum())
    a10 = int((ra & (1 - rb)).sum())
    a01 = int(((1 - ra) & rb).sum())
    a00 = int(((1 - ra) & (1 - rb)).sum())
    po = (a11 + a00) / n
    pe = ((a11 + a10) * (a11 + a01) + (a01 + a00) * (a10 + a00)) / n**2
    r = agg_cohen_kappa(spark, SF).collect()[0]
    assert (r["n"], r["a11"], r["a10"], r["a01"], r["a00"]) == (
        n, a11, a10, a01, a00,
    )
    assert r["kappa_num"] == n * (a11 + a00) - round(pe * n * n)
    assert abs(r["cohen_kappa"] - (po - pe) / (1 - pe)) < 1e-12
    assert -1.0 <= r["cohen_kappa"] <= 1.0


def test_hellinger_matches_numpy(spark):
    """BC and H must match the numpy sum-of-sqrt over the same bucketed
    histograms, and satisfy 0 <= BC <= 1, H = sqrt(1-BC)."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_hellinger_distance,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderpriority"].isin(["1-URGENT", "5-LOW"])]
    v = (o["o_totalprice"] / 10000).round().astype("int64")
    u = v[o["o_orderpriority"] == "1-URGENT"].value_counts()
    l_ = v[o["o_orderpriority"] == "5-LOW"].value_counts()
    grid = sorted(set(u.index) | set(l_.index))
    bc_nn = sum(
        int(round(1e9 * math.sqrt(float(u.get(x, 0)) * l_.get(x, 0))))
        for x in grid
    )
    n1, n0 = int(u.sum()), int(l_.sum())
    bc = bc_nn / 1e9 / math.sqrt(float(n1) * n0)
    r = agg_hellinger_distance(spark, SF).collect()[0]
    assert r["n_urgent"] == n1 and r["n_low"] == n0
    assert r["bc_nn"] == bc_nn
    assert abs(r["bhattacharyya_coef"] - bc) < 1e-12
    assert 0.0 <= r["bhattacharyya_coef"] <= 1.0
    assert abs(r["hellinger_dist"] - math.sqrt(1 - bc)) < 1e-12


def test_tukey_pairwise_matches_anova_pooling(spark):
    """Every pair's mean difference, pooled-MSE standard error and |t|
    must match a pandas one-way ANOVA recomputation (micro-cents^2
    within-SS quantization respected)."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        orders_tukey_pairwise,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    grp = o["o_orderpriority"]
    stats = {}
    ssw_m = 0
    for gname, gvals in cents.groupby(grp):
        n, s, ss = len(gvals), int(gvals.sum()), int((gvals.astype(object) ** 2).sum())
        stats[gname] = (n, s)
        ssw_m += (ss * n - s * s) // (n * 1000000)
    nn, k = len(cents), len(stats)
    mse = ssw_m * 1e6 / (nn - k)
    rows = orders_tukey_pairwise(spark, SF).collect()
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        na, sa = stats[r["grp_a"]]
        nb, sb = stats[r["grp_b"]]
        diff = (sa / na - sb / nb) / 100.0
        se = math.sqrt(mse * (1 / na + 1 / nb)) / 100.0
        assert r["na"] == na and r["nb"] == nb
        assert abs(r["mean_diff"] - diff) < 1e-9
        assert abs(r["se_diff"] - se) < 1e-9
        assert abs(r["t_stat"] - abs(diff) / se) < 1e-9


def test_clustering_coefficient_matches_bruteforce(spark):
    """Per-node triangles, coefficients and transitivity must match a
    brute-force adjacency-set recomputation; sum of per-node triangles
    must equal 3x the global triangle count."""
    from itertools import combinations

    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )
    from mongodb_nats_connector_spark.operators.pipeline11 import (
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


def test_trimmed_mean_matches_numpy(spark):
    """Trimmed/winsorized means and fences must match a numpy sort-based
    recomputation, and bracket the robustness hierarchy."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_trimmed_mean,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderdate"].notna()]
    daily = np.sort(
        (o["o_totalprice"] * 100).round().astype("int64")
        .groupby(o["o_orderdate"])
        .sum()
        .to_numpy()
    )
    n = len(daily)
    k = n // 10
    mid = daily[k : n - k]
    r = agg_trimmed_mean(spark, SF).collect()[0]
    assert r["n_days"] == n and r["n_trimmed_per_tail"] == k
    assert r["mid_sum"] == int(mid.sum())
    assert r["lower_fence_c"] == daily[k]
    assert r["upper_fence_c"] == daily[n - k - 1]
    assert abs(r["trimmed_mean"] - mid.mean() / 100.0) < 1e-9
    wins = np.clip(daily, daily[k], daily[n - k - 1])
    assert abs(r["winsorized_mean"] - wins.mean() / 100.0) < 1e-9
    # winsorized uses clamped tails, trimmed drops them — both finite
    assert daily.min() / 100.0 <= r["trimmed_mean"] <= daily.max() / 100.0


def test_gini_split_matches_entropy_ordering_and_formula(spark):
    """Gini gains must match the direct rational formula per threshold, and
    the best Gini threshold must score positively on the entropy criterion
    too (criterion cross-check)."""
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        agg_gini_impurity_split,
    )
    from mongodb_nats_connector_spark.operators.pipeline10 import (
        agg_info_gain_split,
    )

    li = _li(spark)
    q = li["l_quantity"].round().astype("int64")
    pos = (li["l_returnflag"] == "R").astype(int)
    cells = (
        pd.DataFrame({"q": q, "p": pos})
        .groupby("q")
        .agg(n=("p", "size"), p=("p", "sum"))
        .sort_index()
    )
    nn, pp = int(cells["n"].sum()), int(cells["p"].sum())

    def gini2(p, n):
        return 2.0 * p * (n - p) / (float(n) * n)

    rows = {r["split_at"]: r for r in agg_gini_impurity_split(spark, SF).collect()}
    nl = pl = 0
    for qv, row in cells.iterrows():
        nl += int(row["n"])
        pl += int(row["p"])
        if nl >= nn:
            assert qv not in rows
            continue
        nr, pr = nn - nl, pp - pl
        gain = (
            gini2(pp, nn)
            - gini2(pl, nl) * (float(nl) / nn)
            - gini2(pr, nr) * (float(nr) / nn)
        )
        r = rows[qv]
        assert r["n_left"] == nl and r["n_right"] == nr
        assert r["gain_nn"] == int(round(1e9 * gain))
    best_gini = max(rows.values(), key=lambda r: (r["gain_nn"], -r["split_at"]))
    ig = {r["split_at"]: r for r in agg_info_gain_split(spark, SF).collect()}
    assert ig[best_gini["split_at"]]["gain_nn"] > 0
