"""Invariants for the round-8 operators: skyline dominance, k-core
fixpoint, Mann-Whitney midranks, Benford/Wilson/CUPED statistics,
exponential-smoothing recursion, interval union, Adamic-Adar, balanced
sampling, Borda ranking, kNN labeling, lateness audit, Heaps-law fit.

These pin semantic properties the DuckDB parity gate cannot distinguish
from a shared bug (both engines run the registered formulations):
independent Python/pandas re-derivations (brute-force skyline, peeling
loop, scipy-free U statistic, recursive smoothing, sweep-line interval
union), plus closed-form identities (U1+U2 = n1*n2, Wilson bounds inside
[0,1], Benford shares summing to 1).
"""

from __future__ import annotations

import math
from collections import defaultdict

import pandas as pd

SF = "/root/testdata/sf0.001"


def test_skyline_no_dominated_survivor_and_no_missing(spark):
    """Brute-force O(n^2) dominance over the per-customer points must agree
    exactly with the sort-based skyline."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        orders_skyline_pareto,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    per = (
        o.groupby("o_custkey")
        .agg(spend=("o_totalprice", "sum"), n_orders=("o_totalprice", "size"))
        .reset_index()
    )
    per["spend_c"] = (per["spend"] * 100).round().astype("int64")
    pts = list(per[["o_custkey", "spend_c", "n_orders"]].itertuples(index=False))
    expected = set()
    for p in pts:
        dominated = any(
            (q.spend_c >= p.spend_c and q.n_orders >= p.n_orders)
            and (q.spend_c > p.spend_c or q.n_orders > p.n_orders)
            for q in pts
        )
        if not dominated:
            expected.add(p.o_custkey)
    got = {
        r["o_custkey"] for r in orders_skyline_pareto(spark, SF).collect()
    }
    assert got == expected


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
    from mongodb_nats_connector_spark.operators.pipeline8 import (
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


def test_mann_whitney_identities(spark):
    """U1 + U2 = n1*n2 exactly, and U1 recomputed from scipy-free midranks
    in pandas matches."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        _MW_A,
        _MW_B,
        agg_mann_whitney,
    )

    row = agg_mann_whitney(spark, SF).collect()[0]
    assert abs((row["u1"] + row["u2"]) - row["n1"] * row["n2"]) < 1e-6
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["event_type"].isin([_MW_A, _MW_B]) & ev["value"].notna()]
    ranks = ev["value"].rank(method="average")
    r1 = ranks[ev["event_type"] == _MW_A].sum()
    n1 = int((ev["event_type"] == _MW_A).sum())
    u1 = r1 - n1 * (n1 + 1) / 2.0
    assert abs(row["u1"] - round(u1, 2)) < 1e-6
    assert row["n1"] == n1


def test_benford_shares_and_chi2(spark):
    """Observed shares sum to 1; expected shares are exactly Benford's law;
    chi2 terms are nonnegative."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        agg_benford_test,
    )

    out = agg_benford_test(spark, SF).toPandas().sort_values("digit")
    assert abs(out["share"].sum() - 1.0) < 1e-4
    for _, r in out.iterrows():
        assert abs(r["benford_share"] - round(math.log10(1 + 1 / r["digit"]), 6)) < 1e-9
        assert r["chi2_term"] >= 0


def test_wilson_interval_bounds(spark):
    """Wilson bounds are inside [0,1] and bracket p_hat."""
    from mongodb_nats_connector_spark.operators.pipeline8 import agg_wilson_ci

    out = agg_wilson_ci(spark, SF).toPandas()
    assert len(out) > 0
    assert (out["ci_lo"] >= 0).all() and (out["ci_hi"] <= 1).all()
    assert (out["ci_lo"] <= out["p_hat"] + 1e-9).all()
    assert (out["ci_hi"] >= out["p_hat"] - 1e-9).all()


def test_cuped_reduces_variance(spark):
    """The CUPED-adjusted metric has variance <= the raw post metric (the
    whole point of the transform), and adjusted means match raw means."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        events_cuped_adjust,
    )

    out = events_cuped_adjust(spark, SF).toPandas()
    assert out["post_adj"].var() <= out["post"].var() + 1e-9
    # theta*(pre - mean(pre)) has mean ~0, so means agree
    assert abs(out["post_adj"].mean() - out["post"].mean()) < 1e-2


def test_exp_smoothing_matches_recursion(spark):
    """The fold result equals the plain recursive filter computed in
    Python over the same monthly series."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        SMOOTH_ALPHA,
        orders_exp_smoothing,
    )

    import math

    out = orders_exp_smoothing(spark, SF).toPandas()
    for prio, g in out.groupby("priority"):
        g = g.sort_values("month")
        s = None
        for _, r in g.iterrows():
            x_c = round(r["revenue"] * 100)
            # integer-cent fold, half rounding AWAY from zero like both
            # engines (python round() is half-to-even)
            s = (
                x_c
                if s is None
                else math.floor(
                    SMOOTH_ALPHA * x_c + (1 - SMOOTH_ALPHA) * s + 0.5
                )
            )
            assert abs(r["smoothed"] - s / 100.0) < 1e-9, (prio, r["month"])


def test_intervals_union_matches_sweep(spark):
    """Covered time and block count per user equal a plain-Python
    interval-merge sweep."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        INTERVAL_US,
        events_intervals_union,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["ts"].notna()].copy()
    ev["s"] = ev["ts"].astype("datetime64[us]").astype("int64")
    exp = {}
    for uid, g in ev.groupby("user_id"):
        ivs = sorted((s, s + INTERVAL_US) for s in g["s"])
        covered = blocks = 0
        cur_end = None
        for s, e in ivs:
            if cur_end is None or s >= cur_end:
                blocks += 1
                covered += e - s
                cur_end = e
            elif e > cur_end:
                covered += e - cur_end
                cur_end = e
        exp[uid] = (len(ivs), covered, blocks)
    got = {
        r["user_id"]: (r["n_events"], r["covered_us"], r["n_blocks"])
        for r in events_intervals_union(spark, SF).collect()
    }
    assert got == exp


def test_adamic_adar_matches_python(spark):
    """AA scores recomputed from the thresholded edge list in plain Python
    agree for every pair."""
    from mongodb_nats_connector_spark.operators.graph_common import trade_edges
    from mongodb_nats_connector_spark.operators.pipeline8 import (
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


def test_balanced_class_exact_counts(spark):
    """Every class is sampled to exactly the minority count, and the kept
    ids are the hash-order prefix (deterministic across runs)."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        sample_balanced_class,
    )

    out = sample_balanced_class(spark, SF).toPandas()
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    m = int(ev.groupby("event_type").size().min())
    counts = out.groupby("event_type").size()
    assert (counts == m).all()
    out2 = sample_balanced_class(spark, SF).toPandas()
    assert sorted(out["event_id"]) == sorted(out2["event_id"])


def test_borda_rank_is_permutation_and_monotone(spark):
    """final_rank is a permutation of 1..n and ordering by borda (ties by
    doc_id) reproduces it."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        docs_quality_ensemble_rank,
    )

    out = docs_quality_ensemble_rank(spark, SF).toPandas()
    n = len(out)
    assert sorted(out["final_rank"]) == list(range(1, n + 1))
    ordered = out.sort_values(["borda", "doc_id"]).reset_index(drop=True)
    assert list(ordered["final_rank"]) == list(range(1, n + 1))


def test_knn_classify_matches_python_vote(spark):
    """Predictions recomputed with a plain numpy cosine + Counter vote
    (same rounding, same tiebreaks) agree exactly. (The synthetic labels
    are NOT clustered in embedding space, so accuracy is chance-level by
    construction — the operator's contract is the vote, not the corpus.)"""
    import numpy as np

    from mongodb_nats_connector_spark.operators.pipeline8 import (
        KNN_K,
        KNN_QUERIES,
        docs_knn_classify,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.itertuples(index=False)}
    labels = dict(zip(emb["vec_id"], emb["label"]))
    exp = {}
    for qid in sorted(vecs):
        if qid >= KNN_QUERIES:
            continue
        qv = vecs[qid]
        sims = []
        for vid, v in vecs.items():
            if vid == qid:
                continue
            cs = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            sims.append((-round(cs, 6), vid))
        top = sorted(sims)[:KNN_K]
        votes = defaultdict(int)
        for _, vid in top:
            votes[labels[vid]] += 1
        pred, n = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        exp[qid] = (pred, n, 1 if pred == labels[qid] else 0)
    got = {
        r["query_id"]: (r["pred_label"], r["n_votes"], r["correct"])
        for r in docs_knn_classify(spark, SF).collect()
    }
    assert got == exp


def test_lateness_audit_integers_consistent(spark):
    """n_late <= n_msgs; total lateness >= max lateness when any row is
    late; zero-late subjects report NULL max and 0 total."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        cdc_out_of_order_audit,
    )

    out = cdc_out_of_order_audit(spark, SF).toPandas()
    assert (out["n_late"] <= out["n_msgs"]).all()
    late = out[out["n_late"] > 0]
    assert (late["total_lateness_us"] >= late["max_lateness_us"]).all()
    clean = out[out["n_late"] == 0]
    assert clean["max_lateness_us"].isna().all()
    assert (clean["total_lateness_us"] == 0).all()


def test_heaps_fit_sane(spark):
    """beta in (0, 1) (vocabulary grows sublinearly), totals consistent
    with direct counts."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        text_heaps_law_fit,
    )

    row = text_heaps_law_fit(spark, SF).collect()[0]
    assert 0 < row["beta"] < 1
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    all_words = [w for t in docs["text"] for w in t.split(" ")]
    assert row["total_tokens"] == len(all_words)
    assert row["total_vocab"] == len(set(all_words))
    assert row["n_docs"] == len(docs)


def test_funnel_windowed_ordering_and_window(spark):
    """t1 <= t2 <= t3, every step within the window of t1, level counts
    monotone, and levels match a plain-pandas recompute."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        FUNNEL_WINDOW_DAYS,
        events_funnel_windowed,
    )

    out = events_funnel_windowed(spark, SF).toPandas()
    w = pd.Timedelta(days=FUNNEL_WINDOW_DAYS)
    got2 = out[out["t2"].notna()]
    assert (got2["t2"] >= got2["t1"]).all()
    assert (got2["t2"] <= got2["t1"] + w).all()
    got3 = out[out["t3"].notna()]
    assert (got3["t3"] >= got3["t2"]).all()
    assert (got3["t3"] <= got3["t1"] + w).all()
    n1, n2, n3 = (out["level"] >= 1).sum(), (out["level"] >= 2).sum(), (
        out["level"] >= 3
    ).sum()
    assert n1 >= n2 >= n3
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    exp_levels = {}
    for uid, g in ev.groupby("user_id"):
        views = g[g.event_type == "view"]["ts"]
        if views.empty:
            continue
        t1 = views.min()
        lvl = 1
        clicks = g[(g.event_type == "click") & (g.ts >= t1) & (g.ts <= t1 + w)]["ts"]
        if not clicks.empty:
            t2 = clicks.min()
            lvl = 2
            buys = g[(g.event_type == "purchase") & (g.ts >= t2) & (g.ts <= t1 + w)]["ts"]
            if not buys.empty:
                lvl = 3
        exp_levels[uid] = lvl
    got_levels = dict(zip(out["user_id"], out["level"]))
    assert got_levels == exp_levels


def test_pmi_matches_python(spark):
    """PMI recomputed from raw counts in Python matches for every pair."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        PMI_MIN_COUNT,
        docs_pmi_collocations,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    from collections import Counter

    uni, big = Counter(), Counter()
    for t in docs["text"]:
        ws = t.split(" ")
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    n_tok = sum(uni.values())
    n_big = sum(big.values())
    exp = {}
    for (a, b), c in big.items():
        if c >= PMI_MIN_COUNT:
            exp[(a, b)] = (
                c,
                round(
                    math.log(
                        (c / n_big) / ((uni[a] / n_tok) * (uni[b] / n_tok))
                    ),
                    6,
                ),
            )
    got = {
        (r["a"], r["b"]): (r["c_ab"], r["pmi"])
        for r in docs_pmi_collocations(spark, SF).collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert abs(got[k][1] - exp[k][1]) < 1e-5, k


def test_autocorrelation_bounds_and_lag1(spark):
    """|acf| <= 1, and lag-1 matches a numpy recompute."""
    import numpy as np

    from mongodb_nats_connector_spark.operators.pipeline8 import (
        agg_autocorrelation,
    )

    out = agg_autocorrelation(spark, SF).toPandas().sort_values("lag")
    assert (out["acf"].abs() <= 1.0 + 1e-9).all()
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o["day"] = o["o_orderdate"].dt.date
    o["cents"] = (o["o_totalprice"] * 100).round().astype("int64")
    daily = o.groupby("day")["cents"].sum().sort_index().to_numpy(dtype=float)
    mu = daily.mean()
    dev = daily - mu
    ss = (dev * dev).sum()
    r1 = (dev[:-1] * dev[1:]).sum() / ss
    got1 = float(out[out["lag"] == 1]["acf"].iloc[0])
    assert abs(got1 - round(r1, 4)) < 1e-3


def test_survival_km_matches_python(spark):
    """The KM curve recomputed with a plain-Python product-limit estimator
    agrees at every duration, and survival is non-increasing in [0,1]."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        orders_survival_km,
    )

    out = orders_survival_km(spark, SF).toPandas().sort_values("duration_days")
    s = out["survival"].to_numpy()
    assert ((s >= 0) & (s <= 1)).all()
    assert (s[1:] <= s[:-1] + 1e-9).all()
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    tmax = o["o_orderdate"].max().date()
    durs = []
    for cust, g in o.groupby("o_custkey"):
        dates = list(g["o_orderdate"])
        t1 = dates[0].date()
        if len(dates) >= 2:
            durs.append(((dates[1].date() - t1).days, 1))
        else:
            durs.append(((tmax - t1).days, 0))
    from collections import Counter

    ev_at = Counter(d for d, e in durs if e)
    all_at = Counter(d for d, e in durs)
    n = len(durs)
    surv, at_risk = 1.0, n
    exp = {}
    for d in sorted(all_at):
        d_ev = ev_at.get(d, 0)
        if at_risk == d_ev:
            surv = 0.0
        elif d_ev:
            surv *= (at_risk - d_ev) / at_risk
        exp[d] = (at_risk, d_ev, all_at[d] - d_ev, surv)
        at_risk -= all_at[d]
    for _, r in out.iterrows():
        e = exp[r["duration_days"]]
        assert r["n_risk"] == e[0] and r["n_events"] == e[1]
        assert r["n_censored"] == e[2]
        assert abs(r["survival"] - e[3]) < 1e-4, r["duration_days"]


def test_assortativity_matches_numpy(spark):
    """Degree assortativity equals numpy's corrcoef over endpoint degrees
    of the same thresholded edge list."""
    import numpy as np

    from mongodb_nats_connector_spark.operators.pipeline8 import (
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


def _write_orders(spark, path, rows):
    """rows: (o_orderkey, o_custkey, o_totalprice, o_orderdate str)."""
    df = spark.createDataFrame(
        [
            (k, c, "O", p, pd.Timestamp(d).to_pydatetime(), "1-URGENT")
            for k, c, p, d in rows
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")


def test_skyline_tie_torture(spark, tmp_path):
    """Adversarial ties: equal spend with different order counts, equal
    order counts with different spend, exact duplicates (both kept), and a
    strictly dominated point — against brute-force dominance."""
    rows = [
        # cust 1: spend 300, 1 order  (frontier: highest spend)
        (1, 1, 300.0, "2024-01-01"),
        # cust 2: spend 200, 2 orders (frontier)
        (2, 2, 100.0, "2024-01-01"),
        (3, 2, 100.0, "2024-01-02"),
        # cust 3: spend 200, 2 orders — duplicate point of cust 2: BOTH kept
        (4, 3, 150.0, "2024-01-01"),
        (5, 3, 50.0, "2024-01-02"),
        # cust 4: spend 200, 1 order — dominated by cust 2 (same spend, fewer)
        (6, 4, 200.0, "2024-01-01"),
        # cust 5: spend 100, 2 orders — dominated by cust 2 (less spend, same)
        (7, 5, 60.0, "2024-01-01"),
        (8, 5, 40.0, "2024-01-02"),
        # cust 6: spend 50, 3 orders (frontier: most orders)
        (9, 6, 20.0, "2024-01-01"),
        (10, 6, 20.0, "2024-01-02"),
        (11, 6, 10.0, "2024-01-03"),
    ]
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        orders_skyline_pareto,
    )

    _write_orders(spark, str(tmp_path), rows)
    got = {
        r["o_custkey"]: (r["spend"], r["n_orders"])
        for r in orders_skyline_pareto(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2, 3, 6}
    assert got[2] == (200.0, 2) and got[3] == (200.0, 2)


def _write_events(spark, path, rows):
    """rows: (event_id, ts str, user_id)."""
    df = spark.createDataFrame(
        [
            (i, pd.Timestamp(t).to_pydatetime(), u, "view", 1.0, "{}")
            for i, t, u in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_intervals_union_nesting_and_ties(spark, tmp_path):
    """Adversarial interval shapes: identical timestamps (fully nested),
    back-to-back touching intervals (half-open semantics: coverage never
    double counts; touching intervals are adjacent-but-disjoint, so they
    count as separate blocks), and a disjoint gap (two blocks)."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        INTERVAL_US,
        events_intervals_union,
    )

    ten_min = INTERVAL_US // 1_000_000  # 600 s
    rows = [
        # user 1: two identical events -> one 600 s block
        (1, "2024-01-01 00:00:00", 1),
        (2, "2024-01-01 00:00:00", 1),
        # user 2: touching intervals [0,600) + [600,1200): 1200 s covered,
        # TWO blocks (half-open — adjacent, not overlapping)
        (3, "2024-01-01 00:00:00", 2),
        (4, f"2024-01-01 00:{ten_min // 60:02d}:00", 2),
        # user 3: overlap by half -> one block, 900 s
        (5, "2024-01-01 00:00:00", 3),
        (6, "2024-01-01 00:05:00", 3),
        # user 4: disjoint -> two blocks, 1200 s total
        (7, "2024-01-01 00:00:00", 4),
        (8, "2024-01-01 01:00:00", 4),
    ]
    _write_events(spark, str(tmp_path), rows)
    got = {
        r["user_id"]: (r["n_events"], r["covered_us"], r["n_blocks"])
        for r in events_intervals_union(spark, str(tmp_path)).collect()
    }
    M = 1_000_000
    assert got[1] == (2, 600 * M, 1)
    assert got[2] == (2, 1200 * M, 2)
    assert got[3] == (2, 900 * M, 1)
    assert got[4] == (2, 1200 * M, 2)


def test_survival_km_total_extinction_guard(spark, tmp_path):
    """If every cohort member converts at the same duration (risk set ==
    events at the last duration), survival must be exactly 0 with no
    log-domain error."""
    rows = [
        (1, 1, 10.0, "2024-01-01"),
        (2, 1, 10.0, "2024-01-03"),
        (3, 2, 10.0, "2024-01-01"),
        (4, 2, 10.0, "2024-01-03"),
    ]
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        orders_survival_km,
    )

    _write_orders(spark, str(tmp_path), rows)
    out = orders_survival_km(spark, str(tmp_path)).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["duration_days"] == 2 and r["n_risk"] == 2
    assert r["n_events"] == 2 and r["survival"] == 0.0


def test_registered_name_matches_function_name():
    """Every registry key equals its function's __name__ — a def slipped
    between a @register(...) call and its intended target silently
    registers the WRONG callable (this caught graph_kcore serving raw
    edges in round 7)."""
    from mongodb_nats_connector_spark import registry

    registry._load_all()
    mismatched = [
        (n, q.fn.__name__)
        for n, q in registry._REGISTRY.items()
        if q.fn.__name__ != n
    ]
    assert not mismatched, f"registry key != function name: {mismatched}"


def test_did_identity_and_cells(spark):
    """The DiD estimate equals (T_post-T_pre)-(C_post-C_pre) recomputed
    from the emitted cell means, and the 4 cells partition all valued
    events."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        events_did_uplift,
    )

    out = events_did_uplift(spark, SF).toPandas()
    assert len(out) == 4
    cells = {(r["treat"], r["post"]): r["mean_v"] for _, r in out.iterrows()}
    did = round(
        (cells[(1, 1)] - cells[(1, 0)]) - (cells[(0, 1)] - cells[(0, 0)]), 6
    )
    assert (out["did"] - did).abs().max() < 1e-9
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    assert out["n"].sum() == ev["value"].notna().sum()


def test_contamination_check_matches_numpy(spark):
    """Hit counts and worst matches recomputed with numpy cosine agree
    exactly; clean eval rows carry NULLs and a zero count."""
    import numpy as np

    from mongodb_nats_connector_spark.operators.pipeline8 import (
        CONTAM_COS,
        CONTAM_EVAL_N,
        similarity_contamination_check,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.itertuples(index=False)}
    exp = {}
    for eid, evv in vecs.items():
        if eid >= CONTAM_EVAL_N:
            continue
        hits = []
        for tid, trv in vecs.items():
            if tid < CONTAM_EVAL_N:
                continue
            cs = round(
                float(evv @ trv / (np.linalg.norm(evv) * np.linalg.norm(trv))),
                6,
            )
            if cs >= CONTAM_COS:
                hits.append((cs, tid))
        if hits:
            worst = sorted(hits, key=lambda h: (-h[0], h[1]))[0]
            exp[eid] = (len(hits), worst[0], worst[1])
        else:
            exp[eid] = (0, None, None)
    got = {}
    for r in similarity_contamination_check(spark, SF).collect():
        got[r["eval_id"]] = (
            r["n_contaminated"],
            r["worst_cos"],
            r["worst_train_id"],
        )
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0], k
        if exp[k][1] is None:
            assert got[k][1] is None and got[k][2] is None
        else:
            assert abs(got[k][1] - exp[k][1]) < 1e-9
            assert got[k][2] == exp[k][2]


def test_paired_ttest_matches_pandas(spark):
    """t statistic recomputed from per-user pre/post sums in pandas
    matches; pairing uses the same split as CUPED (shared helper)."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        CUPED_SPLIT_DAYS,
        events_paired_ttest,
    )

    row = events_paired_ttest(spark, SF).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["value"].notna()].copy()
    ev["day"] = ev["ts"].dt.date
    import datetime

    split = min(ev["day"]) + datetime.timedelta(days=CUPED_SPLIT_DAYS)
    diffs = []
    for _, g in ev.groupby("user_id"):
        pre = round(g[g["day"] < split]["value"].sum(), 4)
        post = round(g[g["day"] >= split]["value"].sum(), 4)
        diffs.append(round(post - pre, 4))
    s = pd.Series(diffs)
    t = s.mean() / (s.std(ddof=1) / (len(s) ** 0.5))
    assert row["n_users"] == len(diffs)
    assert abs(row["t_stat"] - round(t, 4)) < 1e-3


def test_shewhart_limits_and_flags(spark):
    """Control limits bracket the center symmetrically, flags agree with a
    pandas recompute, and in-control days dominate (3-sigma ~ 0.3%)."""
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        SHEWHART_SIGMA,
        orders_shewhart_control,
    )

    out = orders_shewhart_control(spark, SF).toPandas()
    assert ((out["ucl"] - out["center"]) - (out["center"] - out["lcl"])).abs().max() < 0.02
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o["day"] = o["o_orderdate"].dt.date
    o["cents"] = (o["o_totalprice"] * 100).round().astype("int64")
    daily = o.groupby("day")["cents"].sum()
    mu, sd = daily.mean(), daily.std(ddof=1)
    exp_flags = ((daily < mu - SHEWHART_SIGMA * sd) | (daily > mu + SHEWHART_SIGMA * sd))
    got = dict(zip(out["day"], out["out_of_control"]))
    for day, f in exp_flags.items():
        assert got[day] == int(f), day
    assert out["out_of_control"].mean() < 0.2


# ---------------------------------------------------------------------------
# round 8: two-pass distributed rank (plans/ranking.py)
# ---------------------------------------------------------------------------


def _reference_ntile(n: int, k: int) -> list[int]:
    """SQL ntile(k) semantics: tile sizes n//k, the first n%k tiles one
    larger; returns the tile of each 1-based rank."""
    base, rem = divmod(n, k)
    out = []
    for tile in range(1, k + 1):
        out.extend([tile] * (base + (1 if tile <= rem else 0)))
    return out


def test_ntile_from_rank_formula_matches_sql_semantics():
    """The exact-integer ntile arithmetic (remainder-first allocation)
    agrees with the reference allocation for every (n, k) shape class:
    n < k, n == k, n % k == 0, and ragged remainders."""
    for n in [1, 3, 7, 10, 11, 19, 20, 100, 101, 997]:
        for k in [1, 2, 3, 10]:
            ref = _reference_ntile(n, k)
            for r in range(1, n + 1):
                base, rem = divmod(n, k)
                cut = rem * (base + 1)
                if r <= cut:
                    got = (r - 1) // (base + 1) + 1
                else:
                    got = rem + (r - 1 - cut) // max(base, 1) + 1
                assert got == ref[r - 1], (n, k, r)


def test_two_pass_rank_matches_global_window(spark):
    """two_pass_global_rank + ntile_from_rank reproduce the single-partition
    ntile window exactly — heavy ties included — while every
    data-proportional window in its plan partitions by bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import (
        ntile_from_rank,
        two_pass_global_rank,
    )

    for n_rows, k in [(7, 10), (1000, 10), (9973, 7)]:
        df = spark.range(n_rows).select(
            F.col("id").alias("tie"),
            ((F.col("id") * 2654435761) % 97).cast("bigint").alias("v"),
        )
        expected = df.withColumn(
            "t", F.ntile(k).over(Window.orderBy(F.col("v").desc(), "tie"))
        )
        ranked = two_pass_global_rank(df, "v", "tie", descending=True)
        got = ranked.withColumn(
            "t", ntile_from_rank(F.col("_rank"), F.col("_n"), k)
        )
        exp = {r["tie"]: r["t"] for r in expected.collect()}
        act = {r["tie"]: r["t"] for r in got.collect()}
        assert act == exp, (n_rows, k)


def test_two_pass_rank_ascending(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import two_pass_global_rank

    df = spark.range(500).select(
        F.col("id").alias("tie"), ((F.col("id") * 31) % 13).alias("v")
    )
    w = Window.orderBy(F.col("v").asc(), "tie")
    exp = {
        r["tie"]: r["r"]
        for r in df.withColumn("r", F.row_number().over(w)).collect()
    }
    ranked = two_pass_global_rank(df, "v", "tie", descending=False)
    act = {r["tie"]: r["_rank"] for r in ranked.collect()}
    assert act == exp


def test_two_pass_rank_edge_cases(spark):
    """Degenerate shapes: all-equal values (every row one bucket — the cap
    on correctness is the tie column), fewer rows than boundaries, and an
    empty relation."""
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import two_pass_global_rank

    allsame = spark.range(100).select(
        F.col("id").alias("tie"), F.lit(7).cast("bigint").alias("v")
    )
    got = {
        r["tie"]: r["_rank"]
        for r in two_pass_global_rank(allsame, "v", "tie").collect()
    }
    assert got == {i: i + 1 for i in range(100)}

    tiny = spark.range(3).select(
        F.col("id").alias("tie"), (10 - F.col("id")).alias("v")
    )
    ranked = two_pass_global_rank(tiny, "v", "tie", descending=True)
    assert {r["tie"]: r["_rank"] for r in ranked.collect()} == {0: 1, 1: 2, 2: 3}
    assert ranked.select("_n").first()["_n"] == 3

    empty = spark.range(0).select(
        F.col("id").alias("tie"), F.col("id").alias("v")
    )
    assert two_pass_global_rank(empty, "v", "tie").count() == 0
