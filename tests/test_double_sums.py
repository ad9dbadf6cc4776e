"""The six queries whose ``_dsum`` is ``double_sum``
(``operators/double_sums.py``): multifactor OLS, Jarque-Bera, Weibull
gaps, Kendall tau-b, ROC AUC and Simpson diversity.

Each test recomputes a query's result on the smoke tables, or on a small
hand-written table, with an independent numpy/pandas re-derivation or
the O(n^2) definition, and compares it with what the query returns.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from test_events import _write_events9
from test_stats import _li

SF = "/root/testdata/sf0.001"


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


def test_weibull_periodic_gaps_zero_rows(spark, tmp_path):
    """Perfectly periodic events: every gap identical, regression
    denominator exactly 0 -> zero rows, not inf/NaN."""
    from mongodb_nats_connector_spark.operators.double_sums import events_weibull_gaps

    rows = [
        (i, f"2024-01-01 {i:02d}:00:00", 7, "view") for i in range(10)
    ]
    _write_events9(spark, str(tmp_path), rows)
    assert events_weibull_gaps(spark, str(tmp_path)).count() == 0


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


def test_roc_auc_matches_pairwise_definition(spark):
    """AUC from the bucketed Mann-Whitney identity must equal the O(n^2)
    pair-counting definition (ties at half credit) on the same buckets."""
    from mongodb_nats_connector_spark.operators.double_sums import agg_roc_auc

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


def test_simpson_diversity_matches_token_counts(spark):
    """All three indices must match a direct pandas token-count
    recomputation, and satisfy their algebraic bounds."""
    from mongodb_nats_connector_spark.operators.double_sums import (
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
