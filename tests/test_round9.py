"""Invariants for the round-9 operators: BM25 vs a brute-force scorer, OLS
vs numpy lstsq, Jarque-Bera moments vs numpy, Brown-Forsythe vs a pandas
re-derivation, Poisson-bootstrap CI bracketing + determinism, Pettitt vs the
O(n^2) sign double-sum, Weibull rank regression vs numpy, mutual information
vs a crosstab re-derivation and its entropy bounds, newsvendor quantile
arithmetic, dataset-card share closure, odds-ratio CI bracketing, MAPE
winner consistency, and Cohen's d / Hedges' g identities.

These pin semantic properties the DuckDB parity gate cannot distinguish
from a shared bug (both engines run the registered formulations): every
check below is an INDEPENDENT pandas/numpy re-derivation or a closed-form
identity, not a re-run of the registered SQL.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_bm25_matches_bruteforce(spark):
    from mongodb_nats_connector_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
        text_bm25_topk,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    words = {r.doc_id: r.text.split(" ") for r in docs.itertuples()}
    n_docs = len(words)
    avgdl = sum(len(w) for w in words.values()) / n_docs
    scores = {}
    for term in BM25_TERMS:
        df_t = sum(1 for w in words.values() if term in w)
        if df_t == 0:
            continue
        idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        for doc_id, w in words.items():
            tf = w.count(term)
            if tf == 0:
                continue
            s = (
                idf
                * (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(w) / avgdl))
            )
            scores[doc_id] = scores.get(doc_id, 0.0) + s
    expected = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOPK]
    got = (
        text_bm25_topk(spark, SF)
        .toPandas()
        .sort_values("rn")
        .reset_index(drop=True)
    )
    assert list(got["doc_id"]) == [d for d, _ in expected]
    for (_, exp_s), got_s in zip(expected, got["bm25"]):
        assert abs(exp_s - got_s) < 1e-5


def test_ols_matches_numpy_lstsq(spark):
    from mongodb_nats_connector_spark.operators.double_sums import (
        orders_ols_multifactor,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    x1 = li["l_quantity"].round().to_numpy(dtype="float64")
    x2 = (li["l_discount"] * 100).round().to_numpy(dtype="float64")
    y = (li["l_extendedprice"] * 100).round().to_numpy(dtype="float64")
    a = np.column_stack([np.ones_like(x1), x1, x2])
    coef, _, _, _ = np.linalg.lstsq(a, y, rcond=None)
    pred = a @ coef
    r2 = 1.0 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    row = orders_ols_multifactor(spark, SF).collect()[0]
    assert row["n_rows"] == len(li)
    assert abs(row["intercept_c"] - coef[0]) < max(1e-3, abs(coef[0]) * 1e-6)
    assert abs(row["coef_qty"] - coef[1]) < max(1e-3, abs(coef[1]) * 1e-6)
    assert abs(row["coef_disc_pct"] - coef[2]) < max(1e-3, abs(coef[2]) * 1e-6)
    assert abs(row["r2"] - r2) < 1e-6


def test_jarque_bera_matches_numpy(spark):
    from mongodb_nats_connector_spark.operators.double_sums import agg_jarque_bera

    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    got = {r["l_returnflag"]: r for r in agg_jarque_bera(spark, SF).collect()}
    for flag, grp in li.groupby("l_returnflag"):
        x = grp["l_quantity"].round().to_numpy(dtype="float64")
        n = len(x)
        m = x.mean()
        m2 = ((x - m) ** 2).mean()
        m3 = ((x - m) ** 3).mean()
        m4 = ((x - m) ** 4).mean()
        skew = m3 / m2**1.5
        kurt = m4 / m2**2
        jb = n / 6.0 * (skew**2 + (kurt - 3.0) ** 2 / 4.0)
        r = got[flag]
        assert r["n"] == n
        assert abs(r["skewness"] - skew) < 1e-5
        assert abs(r["kurtosis"] - kurt) < 1e-5
        assert abs(r["jb_stat"] - jb) < max(1e-3, jb * 1e-5)


def test_levene_bf_matches_pandas(spark):
    from mongodb_nats_connector_spark.operators.stats import agg_levene_bf

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o["x"] = (o["o_totalprice"] * 100).round()
    z = o.groupby("o_orderpriority")["x"].transform(
        lambda s: (s - s.median()).abs()
    )
    g = pd.DataFrame({"grp": o["o_orderpriority"], "z": z})
    k = g["grp"].nunique()
    n = len(g)
    zbar = g["z"].mean()
    per = g.groupby("grp")["z"]
    ssb = (per.size() * (per.mean() - zbar) ** 2).sum()
    ssw = ((g["z"] - per.transform("mean")) ** 2).sum()
    f = (ssb / (k - 1)) / (ssw / (n - k))
    row = agg_levene_bf(spark, SF).collect()[0]
    assert row["n_groups"] == k and row["n_rows"] == n
    # the registered op works on doubled-median integers; F is
    # scale-invariant, so it must agree with the raw-cents re-derivation
    assert abs(row["bf_stat"] - f) < max(1e-4, f * 1e-5)


def test_bootstrap_poisson_ci_brackets_and_deterministic(spark):
    from mongodb_nats_connector_spark.operators.stats import (
        BOOT_B,
        agg_bootstrap_poisson,
    )

    r1 = agg_bootstrap_poisson(spark, SF).collect()[0]
    r2 = agg_bootstrap_poisson(spark, SF).collect()[0]
    assert r1 == r2  # hash-seeded weights: no run-to-run randomness
    assert r1["n_reps"] == BOOT_B
    assert r1["ci_lo"] <= r1["boot_mean"] <= r1["ci_hi"]
    assert r1["ci_lo"] < r1["ci_hi"]
    # Poisson(1) resampling is unbiased: the bootstrap mean lands near the
    # exact mean (loose 5% band — 15 orders at sf0.001)
    assert abs(r1["boot_mean"] - r1["exact_mean"]) < 0.05 * r1["exact_mean"]


def test_pettitt_matches_sign_double_sum(spark):
    from mongodb_nats_connector_spark.operators.events import events_pettitt_changepoint

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["ts"].notna()]
    daily = (
        ev.groupby(ev["ts"].dt.date).size().sort_index().reset_index(name="cnt")
    )
    x = daily["cnt"].to_numpy()
    n = len(x)
    best_k, best_day = -1, None
    for t in range(1, n):  # split after position t-1 (1..n-1 prefix sizes)
        u = int(np.sign(x[:t][:, None] - x[t:][None, :]).sum())
        if abs(u) > best_k:
            best_k, best_day = abs(u), daily.iloc[t - 1, 0]
    row = events_pettitt_changepoint(spark, SF).collect()[0]
    assert row["n_days"] == n
    assert row["k_stat"] == best_k
    assert row["cp_day"] == best_day
    assert 0.0 <= row["p_approx"] <= 1.0


def test_weibull_gaps_matches_numpy(spark):
    from mongodb_nats_connector_spark.operators.double_sums import events_weibull_gaps

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["user_id"].notna() & ev["ts"].notna()].copy()
    ev["tus"] = ev["ts"].astype("datetime64[us]").astype("int64")
    ev = ev.sort_values(["user_id", "tus", "event_id"])
    gaps = ev.groupby("user_id")["tus"].diff().dropna()
    gaps = gaps[gaps > 0].to_numpy()
    gaps.sort()
    n = len(gaps)
    i = np.arange(1, n + 1)
    fi = (i - 0.3) / (n + 0.4)
    xv = np.log(gaps)
    yv = np.log(-np.log(1.0 - fi))
    slope, icpt = np.polyfit(xv, yv, 1)
    row = events_weibull_gaps(spark, SF).collect()[0]
    assert row["n_gaps"] == n
    assert abs(row["weibull_shape"] - slope) < 1e-3
    assert abs(row["weibull_scale_s"] - math.exp(-icpt / slope) / 1e6) < max(
        1e-2, row["weibull_scale_s"] * 1e-3
    )
    assert row["weibull_shape"] > 0 and row["weibull_scale_s"] > 0


def test_mutual_information_matches_crosstab(spark):
    from mongodb_nats_connector_spark.operators.stats import agg_mutual_information

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["ts"].notna() & ev["event_type"].notna()].copy()
    epoch = pd.Timestamp("1970-01-01")
    ev["dow"] = (ev["ts"].dt.normalize() - epoch).dt.days % 7
    ct = pd.crosstab(ev["event_type"], ev["dow"]).to_numpy(dtype="float64")
    nn = ct.sum()
    pxy = ct / nn
    px = pxy.sum(axis=1, keepdims=True)
    py = pxy.sum(axis=0, keepdims=True)
    with np.errstate(divide="ignore", invalid="ignore"):
        terms = np.where(pxy > 0, pxy * np.log(pxy / (px * py)), 0.0)
    mi = terms.sum()
    hx = -(px * np.log(px)).sum()
    hy = -(py * np.log(py)).sum()
    row = agg_mutual_information(spark, SF).collect()[0]
    assert row["n_events"] == int(nn)
    assert abs(row["mi_nats"] - mi) < 1e-5
    assert abs(row["h_event_type"] - hx) < 1e-5
    assert abs(row["h_weekday"] - hy) < 1e-5
    assert -1e-9 <= row["mi_nats"] <= min(hx, hy) + 1e-9
    assert 0.0 <= row["nmi"] <= 1.0


def test_newsvendor_matches_numpy_quantile(spark):
    from mongodb_nats_connector_spark.operators.orders import (
        NV_Q,
        orders_newsvendor_fractile,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    c = spark.read.parquet(f"{SF}/customer.parquet").toPandas()
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["day"] = j["o_orderdate"].dt.date
    d = (
        j.groupby(["c_mktsegment", "day"]).size().reset_index(name="cnt")
    )
    rows = {r["segment"]: r for r in orders_newsvendor_fractile(spark, SF).collect()}
    for seg, grp in d.groupby("c_mktsegment"):
        cnt = grp["cnt"].to_numpy(dtype="float64")
        stock = round(np.quantile(cnt, NV_Q, method="linear") * 10) / 10.0
        r = rows[seg]
        assert r["n_days"] == len(cnt)
        assert abs(r["stock_q90"] - stock) < 1e-9
        over = np.maximum(0.0, stock - cnt).mean()
        under = np.maximum(0.0, cnt - stock).mean()
        assert abs(r["exp_overage"] - over) < 1e-3
        assert abs(r["exp_underage"] - under) < 1e-3
        fill = 1.0 - np.maximum(0.0, cnt - stock).sum() / cnt.sum()
        assert abs(r["fill_rate"] - fill) < 1e-5


def test_dataset_card_share_closure_and_counts(spark):
    from mongodb_nats_connector_spark.operators.curation import curate_dataset_card

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    card = curate_dataset_card(spark, SF).toPandas()
    assert card["n_docs"].sum() == len(docs)
    assert card["total_chars"].sum() == docs["n_chars"].sum()
    exp_tokens = docs["text"].str.split(" ").str.len().sum()
    assert card["total_tokens"].sum() == exp_tokens
    # rounded basis points must close to ~10000 (one bp slack per source)
    assert abs(card["token_share_bp"].sum() - 10000) <= len(card)
    assert (card["dup_docs"] >= 0).all()
    for r in card.itertuples():
        sub = docs[docs["source"] == r.source]["n_chars"]
        assert sub.min() <= r.p50_chars <= sub.max()
        assert r.n_langs == docs[docs["source"] == r.source]["lang"].nunique()


def test_odds_ratio_ci_brackets_point(spark):
    from mongodb_nats_connector_spark.operators.events import events_odds_ratio

    rows = events_odds_ratio(spark, SF01).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["ci_lo"] <= r["odds_ratio"] <= r["ci_hi"]
    expected = r["n11"] * r["n00"] / (r["n10"] * r["n01"])
    assert abs(r["odds_ratio"] - expected) < 1e-3
    # median split: conv=1 is the strict-majority-above side, so each
    # cohort keeps both converters and non-converters
    assert min(r["n11"], r["n10"], r["n01"], r["n00"]) > 0


def test_mape_backtest_winner_consistent(spark):
    from mongodb_nats_connector_spark.operators.orders import orders_mape_backtest

    r = orders_mape_backtest(spark, SF).collect()[0]
    assert r["n_months"] > 0
    assert r["mape_naive_pct"] >= 0 and r["mape_ma3_pct"] >= 0
    if r["mape_ma3_pct"] < r["mape_naive_pct"]:
        assert r["winner"] == "ma3"
    elif r["mape_ma3_pct"] > r["mape_naive_pct"]:
        assert r["winner"] == "naive"
    # independent re-derivation of the naive MAPE on monthly integer cents
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o["rev_c"] = (o["o_totalprice"] * 100).round().astype("int64")
    m = (
        o.groupby(o["o_orderdate"].dt.to_period("M"))["rev_c"]
        .sum()
        .sort_index()
    )
    rev = m.to_numpy(dtype="float64")
    scored = rev[3:]
    naive = rev[2:-1]
    ape = np.round(1e6 * np.abs(scored - naive) / scored)
    exp_naive = ape.mean() / 1e4
    assert r["n_months"] == len(scored)
    assert abs(r["mape_naive_pct"] - exp_naive) < 1e-3


def test_effect_size_matches_numpy(spark):
    from mongodb_nats_connector_spark.operators.events import events_effect_size

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["user_id"].notna() & ev["value"].notna()].copy()
    v = (ev["value"] * 10000).round() / 10000.0
    coh = (ev["user_id"] % 2).to_numpy()
    a, b = v[coh == 1].to_numpy(), v[coh == 0].to_numpy()
    n1, n0 = len(a), len(b)
    pooled = math.sqrt(
        ((n1 - 1) * a.var(ddof=1) + (n0 - 1) * b.var(ddof=1)) / (n1 + n0 - 2)
    )
    d = (a.mean() - b.mean()) / pooled
    g = d * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0))
    r = events_effect_size(spark, SF).collect()[0]
    assert r["n1"] == n1 and r["n0"] == n0
    assert abs(r["mean_diff"] - (a.mean() - b.mean())) < 1e-3
    assert abs(r["cohens_d"] - d) < 1e-4
    assert abs(r["hedges_g"] - g) < 1e-4
    assert abs(r["hedges_g"]) < abs(r["cohens_d"])


def test_holt_linear_matches_python_fold(spark):
    from mongodb_nats_connector_spark.operators.orders import (
        HOLT_ALPHA,
        HOLT_BETA,
        orders_holt_linear,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o["rev_c"] = (o["o_totalprice"] * 100).round().astype("int64")
    o["month"] = o["o_orderdate"].dt.to_period("M")
    got = orders_holt_linear(spark, SF).toPandas()
    for prio, grp in o.groupby("o_orderpriority"):
        series = grp.groupby("month")["rev_c"].sum().sort_index()
        l, b = int(series.iloc[0]), 0
        rows = (
            got[got["priority"] == prio]
            .sort_values("month")
            .reset_index(drop=True)
        )
        assert abs(rows.loc[0, "level"] - l / 100.0) < 1e-9
        def round_away(v: float) -> int:
            # both engines round .5 away from zero; python round() is
            # half-to-even, so mirror the engine convention explicitly
            return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

        for i in range(1, len(series)):
            x = int(series.iloc[i])
            l_new = round_away(HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b))
            b = round_away(HOLT_BETA * (l_new - l) + (1 - HOLT_BETA) * b)
            l = l_new
            assert abs(rows.loc[i, "level"] - l / 100.0) < 1e-6, (prio, i)
            assert abs(rows.loc[i, "trend"] - b / 100.0) < 1e-6, (prio, i)
        assert abs(
            rows.loc[len(series) - 1, "forecast_1"] - (l + b) / 100.0
        ) < 1e-6


def test_rake_phrases_are_stopword_free_runs(spark):
    from mongodb_nats_connector_spark.operators.text import (
        _RAKE_STOPS,
        text_rake_keyphrases,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    # independent phrase extraction: split each text on stopwords
    phrases = {}
    for t in docs["text"]:
        run = []
        for w in t.split(" ") + [next(iter(_RAKE_STOPS))]:
            if w.lower() in _RAKE_STOPS:
                if run:
                    phrases[" ".join(run)] = phrases.get(" ".join(run), 0) + 1
                run = []
            else:
                run.append(w)
    got = text_rake_keyphrases(spark, SF).toPandas()
    assert len(got) > 0
    for r in got.itertuples():
        # every ranked phrase is a real extracted run with the right count
        assert r.phrase in phrases, r.phrase
        assert r.n_occ == phrases[r.phrase]
        assert not any(w.lower() in _RAKE_STOPS for w in r.phrase.split(" "))
        assert r.rake_score > 0
    # ranking is by score desc then phrase
    scores = list(got.sort_values("rn")["rake_score"])
    assert scores == sorted(scores, reverse=True) or all(
        a >= b - 1e-9 for a, b in zip(scores, scores[1:])
    )


def test_price_index_identities(spark):
    from mongodb_nats_connector_spark.operators.orders import orders_price_index

    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    got = orders_price_index(spark, SF).toPandas().sort_values("year")
    years = sorted(li["l_shipdate"].dt.year.unique())
    # one row per non-base year, base = min year
    assert list(got["year"]) == years[1:]
    for r in got.itertuples():
        # Fisher is the geometric mean of Laspeyres and Paasche
        assert abs(r.fisher - math.sqrt(r.laspeyres * r.paasche)) < 1e-4
        assert r.laspeyres > 0 and r.paasche > 0
        assert r.n_parts > 0
    # independent Laspeyres re-derivation for the first comparison year
    li["y"] = li["l_shipdate"].dt.year
    li["price_c"] = (li["l_extendedprice"] * 100).round()
    li["qty"] = li["l_quantity"].round()
    py = (
        li.groupby(["y", "l_partkey"])
        .agg(ext=("price_c", "sum"), q=("qty", "sum"))
        .reset_index()
    )
    py["p_u"] = (1e4 * py["ext"] / py["q"]).round()
    y0, y1 = years[0], years[1]
    base = py[py["y"] == y0].set_index("l_partkey")
    cur = py[py["y"] == y1].set_index("l_partkey")
    common = base.index.intersection(cur.index)
    lasp = (cur.loc[common, "p_u"] * base.loc[common, "q"]).sum() / (
        base.loc[common, "p_u"] * base.loc[common, "q"]
    ).sum()
    assert abs(got.iloc[0]["laspeyres"] - lasp) < 1e-4


def test_dispersion_matches_pandas(spark):
    from mongodb_nats_connector_spark.operators.stats import agg_dispersion_test

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["ts"].notna() & ev["event_type"].notna()]
    daily = (
        ev.groupby(["event_type", ev["ts"].dt.date]).size().reset_index(name="cnt")
    )
    got = {r["event_type"]: r for r in agg_dispersion_test(spark, SF).collect()}
    for et, grp in daily.groupby("event_type"):
        cnt = grp["cnt"].to_numpy(dtype="float64")
        if len(cnt) < 2:
            assert et not in got
            continue
        r = got[et]
        assert r["n_days"] == len(cnt)
        assert abs(r["mean_cnt"] - cnt.mean()) < 1e-3
        assert abs(r["var_cnt"] - cnt.var(ddof=1)) < 1e-3
        d = cnt.var(ddof=1) / cnt.mean()
        assert abs(r["dispersion"] - d) < 1e-4
        assert r["overdispersed"] == (1 if d > 1.5 else 0)


def test_runs_test_matches_python(spark):
    from mongodb_nats_connector_spark.operators.stats import agg_runs_test

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o["rev_c"] = (o["o_totalprice"] * 100).round().astype("int64")
    daily = o.groupby(o["o_orderdate"].dt.date)["rev_c"].sum().sort_index()
    med = daily.median()
    hi = (daily > med).astype(int).to_numpy()
    runs = 1 + int((hi[1:] != hi[:-1]).sum())
    a, b = int(hi.sum()), int(len(hi) - hi.sum())
    r = agg_runs_test(spark, SF).collect()[0]
    assert r["runs"] == runs
    assert r["n_hi"] == a and r["n_lo"] == b
    mu = 2.0 * a * b / (a + b) + 1.0
    sig = math.sqrt(
        2.0 * a * b * (2.0 * a * b - a - b) / ((a + b) ** 2 * (a + b - 1))
    )
    assert abs(r["expected_runs"] - mu) < 1e-3
    assert abs(r["z_stat"] - (runs - mu) / sig) < 1e-3


def _write_orders9(spark, path, rows):
    """rows: (o_orderkey, o_custkey, o_totalprice, o_orderdate str)."""
    df = spark.createDataFrame(
        [
            (k, c, p, pd.Timestamp(d).to_pydatetime(), "O", "1-URGENT")
            for k, c, p, d in rows
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp, o_orderstatus string, o_orderpriority string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")


def _write_events9(spark, path, rows):
    """rows: (event_id, ts str, user_id, event_type)."""
    df = spark.createDataFrame(
        [
            (i, pd.Timestamp(t).to_pydatetime(), u, et, 1.0, "{}")
            for i, t, u, et in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_pettitt_argmax_tie_breaks_to_earliest_day(spark, tmp_path):
    """A symmetric step series where multiple split points share the max
    |U|: the changepoint must be the EARLIEST argmax day in both engines."""
    from mongodb_nats_connector_spark.operators.events import events_pettitt_changepoint

    # counts per day: 1,1,2,2 -> |U| peaks identically at t=2 (and t=2 only
    # by construction), then extend with a flat tail creating a tie plateau
    rows = []
    eid = 0
    counts = [1, 1, 3, 3, 3]
    for d, c in enumerate(counts, start=1):
        for _ in range(c):
            eid += 1
            rows.append((eid, f"2024-01-{d:02d} 12:00:00", 1, "view"))
    _write_events9(spark, str(tmp_path), rows)
    r = events_pettitt_changepoint(spark, str(tmp_path)).collect()[0]
    # brute force
    x = np.array(counts)
    n = len(x)
    us = [
        abs(int(np.sign(x[:t][:, None] - x[t:][None, :]).sum()))
        for t in range(1, n)
    ]
    k = max(us)
    first_t = us.index(k) + 1
    assert r["k_stat"] == k
    assert str(r["cp_day"]) == f"2024-01-{first_t:02d}"


def test_pettitt_constant_series_k_zero(spark, tmp_path):
    from mongodb_nats_connector_spark.operators.events import events_pettitt_changepoint

    rows = [
        (i * 10 + d, f"2024-02-{d:02d} 00:30:00", 1, "view")
        for d in range(1, 6)
        for i in range(2)
    ]
    _write_events9(spark, str(tmp_path), rows)
    r = events_pettitt_changepoint(spark, str(tmp_path)).collect()[0]
    assert r["k_stat"] == 0
    assert r["p_approx"] == 1.0  # capped: 2*exp(0) -> least(1, 2)


def test_bootstrap_single_row_table_no_null_rank_divergence(spark, tmp_path):
    """One order: many replicates draw total weight 0 and MUST be dropped
    before ranking (a NULL mean would rank first in Spark, last in DuckDB).
    Surviving replicate means all equal the single order's value."""
    from mongodb_nats_connector_spark.operators.stats import agg_bootstrap_poisson

    _write_orders9(spark, str(tmp_path), [(1, 1, 123.45, "2024-01-01")])
    out = agg_bootstrap_poisson(spark, str(tmp_path)).collect()
    # either the 2nd/39th ranked replicates exist (all equal 123.45) or too
    # few survive and the result is empty — never a NULL-polluted row
    if out:
        r = out[0]
        assert r["exact_mean"] == 123.45
        assert r["ci_lo"] == 123.45 and r["ci_hi"] == 123.45
        assert r["boot_mean"] == 123.45


def test_weibull_periodic_gaps_zero_rows(spark, tmp_path):
    """Perfectly periodic events: every gap identical, regression
    denominator exactly 0 -> zero rows, not inf/NaN."""
    from mongodb_nats_connector_spark.operators.double_sums import events_weibull_gaps

    rows = [
        (i, f"2024-01-01 {i:02d}:00:00", 7, "view") for i in range(10)
    ]
    _write_events9(spark, str(tmp_path), rows)
    assert events_weibull_gaps(spark, str(tmp_path)).count() == 0


def test_mutual_information_single_type_zero_rows(spark, tmp_path):
    """One event type -> H(X) = 0 -> NMI undefined -> zero rows."""
    from mongodb_nats_connector_spark.operators.stats import agg_mutual_information

    rows = [
        (i, f"2024-01-{1 + i % 7:02d} 09:00:00", 1, "view") for i in range(20)
    ]
    _write_events9(spark, str(tmp_path), rows)
    assert agg_mutual_information(spark, str(tmp_path)).count() == 0


def test_triplet_mining_matches_bruteforce(spark):
    from mongodb_nats_connector_spark.operators.similarity import (
        TRIPLET_ANCHORS,
        TRIPLET_MARGIN,
        embedding_triplet_mining,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    vecs = {
        r.vec_id: (np.array(r.embedding, dtype="float64"), r.label)
        for r in emb.itertuples()
    }
    got = {
        r["anchor_id"]: r
        for r in embedding_triplet_mining(spark, SF).collect()
    }
    for aid, (av, albl) in vecs.items():
        if aid >= TRIPLET_ANCHORS:
            continue
        pos, neg = [], []
        for vid, (v, lbl) in vecs.items():
            if vid == aid:
                continue
            denom = np.linalg.norm(av) * np.linalg.norm(v)
            if denom == 0:
                continue
            c = round(float(av @ v / denom), 6)
            (pos if lbl == albl else neg).append((c, vid))
        if not pos or not neg:
            assert aid not in got
            continue
        hard_p = min(pos)  # lowest cosine, then smallest id
        hard_n = max(neg, key=lambda t: (t[0], -t[1]))
        # engine tiebreak: highest cosine, then SMALLEST vec_id
        best_c = max(c for c, _ in neg)
        hard_n = (best_c, min(v for c, v in neg if c == best_c))
        r = got[aid]
        assert (r["pos_sim"], r["pos_id"]) == hard_p
        assert (r["neg_sim"], r["neg_id"]) == hard_n
        loss = round(hard_n[0] - hard_p[0] + TRIPLET_MARGIN, 6)
        assert abs(r["triplet_loss_term"] - loss) < 1e-9
        assert r["is_active"] == (1 if loss > 0 else 0)


def test_median_test_matches_pandas(spark):
    from mongodb_nats_connector_spark.operators.stats import agg_median_test

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    x = (o["o_totalprice"] * 100).round()
    hi = (x > x.median()).astype(int)
    tab = pd.crosstab(o["o_orderpriority"], hi)
    if 1 not in tab.columns:
        tab[1] = 0
    if 0 not in tab.columns:
        tab[0] = 0
    n = len(o)
    a = int(hi.sum())
    chi2 = 0.0
    for _, row in tab.iterrows():
        n_i = row.sum()
        for col, tot_col in ((1, a), (0, n - a)):
            exp = n_i * tot_col / n
            chi2 += (row.get(col, 0) - exp) ** 2 / exp
    r = agg_median_test(spark, SF).collect()[0]
    assert r["n_groups"] == tab.shape[0]
    assert r["n_rows"] == n
    assert r["dof"] == tab.shape[0] - 1
    assert abs(r["chi2_stat"] - chi2) < 1e-3


def test_power_analysis_formula_and_monotonicity(spark):
    from mongodb_nats_connector_spark.operators.events import (
        POWER_MDE_PP,
        POWER_Z_ALPHA,
        POWER_Z_BETA,
        events_power_analysis,
    )

    rows = sorted(
        events_power_analysis(spark, SF01).collect(),
        key=lambda r: r["lift_pp"],
    )
    assert len(rows) == len([m for m in POWER_MDE_PP])
    # bigger detectable lifts need fewer users per arm
    ns = [r["n_per_arm"] for r in rows]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        p1 = r["conv_users"] / r["n_users"]
        p2 = p1 + r["lift_pp"] / 100.0
        pbar = (p1 + p2) / 2
        num = POWER_Z_ALPHA * math.sqrt(
            2 * pbar * (1 - pbar)
        ) + POWER_Z_BETA * math.sqrt(p1 * (1 - p1) + p2 * (1 - p2))
        expect = math.ceil(num * num / (p2 - p1) ** 2)
        assert r["n_per_arm"] == expect
        assert r["currently_powered"] == (
            1 if r["n_users"] // 2 >= expect else 0
        )


def test_poisson_weight_ladder_calibration(spark):
    """The md5-uniform CDF ladder must actually produce Poisson(1)
    weights: over the replicated (order, replicate) grid, the empirical
    mean weight is ~1 and P(w=0) is ~1/e — validating the hard-coded
    thresholds end-to-end rather than trusting the constants."""
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.operators.stats import (
        _POIS_CUM,
        agg_bootstrap_poisson,
    )

    # re-derive thresholds independently from the Poisson(1) pmf
    pmf, cum, fact = [], [], 1
    for k in range(len(_POIS_CUM)):
        if k:
            fact *= k
        pmf.append(math.exp(-1.0) / fact)
        cum.append(sum(pmf))
        assert abs(_POIS_CUM[k] - cum[k]) < 1e-15, k
    # empirical check over a deterministic hash grid
    n, b = 2000, 40
    df = (
        spark.range(n)
        .withColumn("g", F.explode(F.sequence(F.lit(0), F.lit(b // 4 - 1))))
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("id").cast("string"), F.lit(":"), F.col("g").cast("string")
                )
            ),
        )
        .withColumn("slot", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .select(
            (
                F.conv(
                    F.substring(F.col("h"), F.lit(1) + F.col("slot") * 7, F.lit(7)),
                    16,
                    10,
                ).cast("bigint")
                / F.lit(float(1 << 28))
            ).alias("u")
        )
    )
    w_expr = F.lit(len(_POIS_CUM))
    for k in range(len(_POIS_CUM) - 1, -1, -1):
        w_expr = F.when(F.col("u") < F.lit(_POIS_CUM[k]), F.lit(k)).otherwise(w_expr)
    stats = df.select(w_expr.alias("w")).agg(
        F.avg("w").alias("mean_w"),
        F.avg(F.when(F.col("w") == 0, 1.0).otherwise(0.0)).alias("p0"),
    ).collect()[0]
    assert abs(stats["mean_w"] - 1.0) < 0.01
    assert abs(stats["p0"] - math.exp(-1.0)) < 0.01


# ---------------------------------------------------------------------------
# property tests (pure python) — the mathematical identities the round-9
# operators rest on, checked over random inputs
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=20), min_size=2, max_size=40))
def test_pettitt_rank_identity_under_ties(xs):
    """The operator's rank formulation U_t = 2*S_t - t*(n+1) (with
    average-rank ties) must equal the defining sign double-sum
    U_t = sum_{i<=t, j>t} sign(x_i - x_j) for EVERY split point — the
    identity that lets the distributed plan avoid the O(n^2) pairs."""
    n = len(xs)
    # average ranks: min-rank + (ties - 1) / 2
    order = sorted(range(n), key=lambda i: xs[i])
    ranks = [0.0] * n
    i = 0
    while i < n:
        j = i
        while j < n and xs[order[j]] == xs[order[i]]:
            j += 1
        avg = (i + 1 + j) / 2.0  # mean of positions i+1 .. j
        for k in range(i, j):
            ranks[order[k]] = avg
        i = j
    s = 0.0
    for t in range(1, n):
        s += ranks[t - 1]
        u_rank = 2.0 * s - t * (n + 1)
        u_sign = sum(
            (xs[i] > xs[j]) - (xs[i] < xs[j])
            for i in range(t)
            for j in range(t, n)
        )
        assert abs(u_rank - u_sign) < 1e-9, (t, u_rank, u_sign)


@settings(max_examples=500, deadline=None)
@given(st.floats(min_value=0.0, max_value=1.0, exclude_max=True))
def test_poisson_ladder_inverts_cdf(u):
    """The CASE ladder is the inverse CDF: for any uniform u, the weight k
    it assigns satisfies CDF(k-1) <= u < CDF(k)."""
    from mongodb_nats_connector_spark.operators.stats import _POIS_CUM

    k = next((i for i, t in enumerate(_POIS_CUM) if u < t), len(_POIS_CUM))
    if k > 0:
        assert u >= _POIS_CUM[k - 1]
    if k < len(_POIS_CUM):
        assert u < _POIS_CUM[k]


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**12), min_size=1, max_size=60
    )
)
def test_holt_integer_fold_is_float_smoothing(xs):
    """The integer-cent Holt fold stays within 1 cent per step of the
    unquantized float recursion — re-quantization bounds the drift."""
    from mongodb_nats_connector_spark.operators.orders import (
        HOLT_ALPHA,
        HOLT_BETA,
    )

    li, bi = xs[0], 0  # integer state
    lf, bf = float(xs[0]), 0.0  # float state
    for x in xs[1:]:
        l_new = math.floor(HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (li + bi) + 0.5)
        bi = math.floor(
            HOLT_BETA * (l_new - li) + (1 - HOLT_BETA) * bi + 0.5
        )
        li = l_new
        lf_new = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (lf + bf)
        bf = HOLT_BETA * (lf_new - lf) + (1 - HOLT_BETA) * bf
        lf = lf_new
        # quantization error is a geometric series with ratio < 1: the
        # integer state tracks the float recursion within a few cents
        assert abs(li - lf) < 5.0
        assert abs(bi - bf) < 5.0


def test_spearman_matches_scipy_free_rederivation(spark):
    from mongodb_nats_connector_spark.operators.stats import agg_spearman_corr

    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    x = li["l_quantity"].round()
    y = (li["l_extendedprice"] * 100).round()
    rx = x.rank(method="average")
    ry = y.rank(method="average")
    rho = np.corrcoef(rx, ry)[0, 1]
    r = agg_spearman_corr(spark, SF).collect()[0]
    assert r["n"] == len(li)
    assert abs(r["spearman_rho"] - rho) < 1e-5
    t = rho * math.sqrt((len(li) - 2) / (1.0 - rho * rho))
    assert abs(r["t_stat"] - t) < 1e-3


def test_nelson_aalen_matches_lifelines_free_rederivation(spark):
    from mongodb_nats_connector_spark.operators.orders import orders_nelson_aalen

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    tmax = o["o_orderdate"].max().date()
    durs, evs = [], []
    for _, g in o.groupby("o_custkey"):
        t1 = g.iloc[0]["o_orderdate"].date()
        if len(g) > 1:
            durs.append((g.iloc[1]["o_orderdate"].date() - t1).days)
            evs.append(1)
        else:
            durs.append((tmax - t1).days)
            evs.append(0)
    df = pd.DataFrame({"dur": durs, "ev": evs}).sort_values("dur")
    n = len(df)
    got = {
        r["duration_days"]: r for r in orders_nelson_aalen(spark, SF).collect()
    }
    h_nn = 0
    seen = 0
    for dur, g in df.groupby("dur"):
        n_risk = n - seen
        d = int(g["ev"].sum())
        seen += len(g)
        if d == 0:
            assert dur not in got
            continue
        h_nn += round(1e9 * d / n_risk)
        r = got[dur]
        assert r["n_events"] == d and r["n_risk"] == n_risk
        assert abs(r["cum_hazard"] - h_nn / 1e9) < 1e-6
        # the round-9 hash surface is the exact integer nano-hazard (the
        # round(exp(-H),6) display column was dropped as libm-ulp-fragile)
        assert r["cum_hazard_nn"] == h_nn
    # hazard is nondecreasing, survival nonincreasing, NA >= KM pointwise
    hs = [got[k]["cum_hazard"] for k in sorted(got)]
    assert hs == sorted(hs)


def test_js_divergence_bounds_and_symmetry(spark):
    from mongodb_nats_connector_spark.operators.text import (
        JS_SOURCE_A,
        JS_SOURCE_B,
        docs_js_divergence,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    from collections import Counter

    ca = Counter(
        w
        for t in docs[docs["source"] == JS_SOURCE_A]["text"]
        for w in t.split(" ")
    )
    cb = Counter(
        w
        for t in docs[docs["source"] == JS_SOURCE_B]["text"]
        for w in t.split(" ")
    )
    na, nb = sum(ca.values()), sum(cb.values())
    js = 0.0
    for w in set(ca) | set(cb):
        p = ca.get(w, 0) / na
        q = cb.get(w, 0) / nb
        m = (p + q) / 2
        if p > 0:
            js += 0.5 * p * math.log(p / m)
        if q > 0:
            js += 0.5 * q * math.log(q / m)
    r = docs_js_divergence(spark, SF).collect()[0]
    assert r["n_tokens_a"] == na and r["n_tokens_b"] == nb
    assert r["vocab_union"] == len(set(ca) | set(cb))
    assert abs(r["js_nats"] - js) < 1e-5
    assert 0.0 <= r["js_nats"] <= math.log(2) + 1e-9


def test_entropy_rate_matches_crosstab(spark):
    from mongodb_nats_connector_spark.operators.events import events_entropy_rate

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["user_id"].notna() & ev["ts"].notna() & ev["event_type"].notna()]
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    pairs = []
    for _, g in ev.groupby("user_id"):
        types = list(g["event_type"])
        pairs += list(zip(types, types[1:]))
    from collections import Counter

    nij = Counter(pairs)
    ni = Counter(p for p, _ in pairs)
    nn = len(pairs)
    h = sum(
        (c / nn) * math.log(ni[p] / c) for (p, _), c in nij.items()
    )
    r = events_entropy_rate(spark, SF).collect()[0]
    assert r["n_transitions"] == nn
    assert r["n_states"] == len(ni)
    assert abs(r["entropy_rate_nats"] - h) < 1e-5
    assert 0.0 <= r["efficiency"] <= 1.0 + 1e-9
