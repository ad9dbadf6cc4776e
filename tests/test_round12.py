"""Round-11 bank pins: pipeline12 operators vs brute-force references
(Mann-Kendall pairwise signs + tie-corrected variance, Theil's U ratio,
Croston integer-fold replay)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"


def test_mann_kendall_matches_pairwise(spark):
    """S, 18*Var and z must match the O(n^2) definition with tie
    correction, and agree in direction with agg_theil_sen's slope sign."""
    from mongodb_nats_connector_spark.operators.double_sums import agg_roc_auc
    from mongodb_nats_connector_spark.operators.stats import agg_mann_kendall

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderdate"].notna()]
    daily = (
        (o["o_totalprice"] * 100).round().astype("int64")
        .groupby(o["o_orderdate"])
        .sum()
        .sort_index()
        .to_numpy()
    )
    n = len(daily)
    s = int(np.sign(daily[None, :] - daily[:, None])[
        np.triu_indices(n, 1)
    ].sum())
    ties = pd.Series(daily).value_counts()
    tie18 = int(sum(c * (c - 1) * (2 * c + 5) for c in ties if c > 1))
    var18 = n * (n - 1) * (2 * n + 5) - tie18
    if s > 0:
        z = (s - 1) / math.sqrt(var18 / 18.0)
    elif s < 0:
        z = (s + 1) / math.sqrt(var18 / 18.0)
    else:
        z = 0.0
    r = agg_mann_kendall(spark, SF).collect()[0]
    assert r["n_days"] == n
    assert r["s_stat"] == s
    assert r["var_x18"] == var18
    assert abs(r["mk_z"] - z) < 1e-12
    assert r["trend_direction"] == int(np.sign(s))


def test_theil_u_matches_direct_ratio(spark):
    """U^2 must equal the direct MA3-vs-naive squared-error ratio (nano
    floor-division replicated), and the skill verdict must follow U < 1."""
    from mongodb_nats_connector_spark.operators.orders import orders_theil_u

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderdate"].notna()].copy()
    o["m"] = pd.to_datetime(o["o_orderdate"]).dt.to_period("M")
    a = (
        (o["o_totalprice"] * 100).round().astype("int64")
        .groupby(o["m"])
        .sum()
        .sort_index()
        .to_numpy()
    )
    num = den = 0
    scored = 0
    for t in range(3, len(a)):
        em = 3 * int(a[t]) - int(a[t - 1] + a[t - 2] + a[t - 3])
        en = 3 * int(a[t] - a[t - 1])
        num += em * em
        den += en * en
        scored += 1
    u2_nano = (num * 10**9) // den
    r = orders_theil_u(spark, SF).collect()[0]
    assert r["n_scored"] == scored
    assert r["u2_nano"] == u2_nano
    assert r["theil_u2"] == u2_nano / 1e9
    assert r["theil_u"] == math.sqrt(u2_nano / 1e9)
    assert r["beats_naive"] == (u2_nano < 10**9)


def test_croston_matches_integer_fold_replay(spark):
    """Per-part Croston state must replay the integer recurrence exactly,
    and the rate must be positive and bounded by the max demand."""
    from mongodb_nats_connector_spark.operators.orders import orders_croston

    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    li = li[li["l_shipdate"].notna()].copy()
    li["t"] = (
        pd.to_datetime(li["l_shipdate"]).dt.date
        - pd.Timestamp("1992-01-01").date()
    ).map(lambda d: d.days)
    li["q"] = li["l_quantity"].round().astype("int64")
    dem = li.groupby(["l_partkey", "t"])["q"].sum()
    rows = orders_croston(spark, SF).collect()
    assert 0 < len(rows) <= 25
    counts = dem.groupby(level=0).size()
    for r in rows:
        series = dem.loc[r["partkey"]].sort_index()
        assert r["n_demands"] == len(series) == counts[r["partkey"]]
        ts = list(series.index)
        qs = [int(v) for v in series.to_numpy()]
        z = qs[0] * 1000
        p = (ts[1] - ts[0]) * 1000
        last = ts[0]
        for t, q in zip(ts[1:], qs[1:]):
            z = (q * 1000 + 3 * z + 2) // 4
            p = ((t - last) * 1000 + 3 * p + 2) // 4
            last = t
        assert r["size_x1000"] == z
        assert r["interval_x1000"] == p
        assert r["croston_rate_per_day"] == z / p
        assert 0 < r["croston_rate_per_day"] <= max(qs)
    # the report picks the highest-traffic parts
    kth = sorted(counts.to_numpy())[-len(rows)]
    assert all(r["n_demands"] >= kth for r in rows)


def test_flesch_matches_direct_formula(spark):
    """Per-doc counts and both readability scores must match a direct
    Python recomputation with the same vowel-group heuristic."""
    import re

    from mongodb_nats_connector_spark.operators.text import text_readability_flesch

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    got = {
        r["doc_id"]: r for r in text_readability_flesch(spark, SF).collect()
    }
    assert set(got) == set(docs["doc_id"])
    for _, d in docs.iterrows():
        text = d["text"]
        w = len(text.split(" "))
        s = max(1, len(re.findall(r"[.!?]", text)))
        syl = len(re.findall(r"[aeiouy]+", text.lower()))
        r = got[d["doc_id"]]
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (
            w, s, syl,
        )
        assert abs(
            r["flesch_score"] - (206.835 - 1.015 * (w / s) - 84.6 * (syl / w))
        ) < 1e-9
        assert abs(
            r["fk_grade"] - (0.39 * (w / s) + 11.8 * (syl / w) - 15.59)
        ) < 1e-9

