"""Pipeline13 pins: free-rederivation checks for the round-11 operators
whose correctness is NOT obvious from their SQL shape — the integer
Viterbi burst decoder vs exhaustive path enumeration, the Holt-Winters
integer fold vs a pure-Python replay, the MTLD fold vs a reference walk,
Brunner-Munzel vs a direct rank computation, and the C-index vs the
O(n^2) pair definition."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"


def _floor_div(a: int, b: int) -> int:
    return a // b  # python // floors, which is the contract


def test_kleinberg_viterbi_is_optimal(spark):
    """The decoded path must (a) cost exactly the DP optimum computed by
    an independent costs-only value iteration, and (b) beat or tie every
    path in a large adversarial sample: all single-flip and
    segment-boundary perturbations of the decoded path, threshold
    baselines, and 100k seeded random paths. For short series (n <= 20)
    the check is the FULL 2^n enumeration instead."""
    from mongodb_nats_connector_spark.operators.events import events_kleinberg_burst

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["ts"].notna()]
    daily = ev.groupby(pd.to_datetime(ev["ts"]).dt.date).size()
    cs = [int(c) for c in daily.sort_index().values]
    days = sorted(daily.index)
    n = len(cs)
    r0 = sum(cs) // n
    r1 = (51 * r0) // 50
    gam = r0 // 100 + 1

    def path_cost(states):
        cost = gam if states[0] == 1 else 0
        prev = states[0]
        for t, s in enumerate(states):
            cost += abs(cs[t] - (r1 if s == 1 else r0))
            if t > 0 and prev == 0 and s == 1:
                cost += gam
            prev = s
        return cost

    # independent costs-only value iteration (no path bookkeeping)
    c0, c1 = abs(cs[0] - r0), gam + abs(cs[0] - r1)
    for t in range(1, n):
        c0, c1 = (
            min(c0, c1) + abs(cs[t] - r0),
            min(c0 + gam, c1) + abs(cs[t] - r1),
        )
    best = min(c0, c1)

    out = events_kleinberg_burst(spark, SF).orderBy("start_day").collect()
    decoded = []
    for r in out:
        span = (r["end_day"] - r["start_day"]).days + 1
        decoded += [int(r["burst_state"])] * span
        assert r["n_days"] == span
    assert len(decoded) == n
    assert path_cost(decoded) == best

    if n <= 20:
        assert best == min(
            path_cost(p) for p in itertools.product((0, 1), repeat=n)
        )
    else:
        rng = np.random.default_rng(13)
        challengers = [tuple([0] * n), tuple([1] * n)]
        challengers.append(tuple(1 if c > r0 else 0 for c in cs))
        for i in range(n):
            flip = list(decoded)
            flip[i] ^= 1
            challengers.append(tuple(flip))
        for i in range(n):
            for j in range(i + 1, n):
                seg = list(decoded)
                for t in range(i, j + 1):
                    seg[t] ^= 1
                challengers.append(tuple(seg))
        for _ in range(100_000):
            challengers.append(tuple(rng.integers(0, 2, n)))
        assert all(path_cost(p) >= best for p in challengers)

    assert sum(r["total_events"] for r in out) == sum(cs)
    assert out[0]["start_day"] == days[0]
    assert out[-1]["end_day"] == days[-1]


def test_holt_winters_fold_matches_python_replay(spark):
    """The Spark HOF fold must equal a direct Python replay of the
    integer recurrence (floor division semantics, twelfth-cent units),
    including every seasonal index and the 12 forecasts."""
    from mongodb_nats_connector_spark.operators.orders import orders_holt_winters

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderdate"].notna()]
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    monthly = (
        cents.groupby(pd.to_datetime(o["o_orderdate"]).dt.to_period("M"))
        .sum()
        .sort_index()
    )
    xs = [int(v) for v in monthly.values]
    assert len(xs) >= 24
    l = sum(xs[:12])
    b = 0
    s = [12 * x - l for x in xs[:12]]
    for x in xs[12:]:
        X = 12 * x
        lt = _floor_div((X - s[0]) + 3 * (l + b) + 2, 4)
        bt = _floor_div((lt - l) + 3 * b + 2, 4)
        st = _floor_div((X - lt) + s[0] + 1, 2)
        l, b, s = lt, bt, s[1:] + [st]

    rows = orders_holt_winters(spark, SF).orderBy("horizon_months").collect()
    assert len(rows) == 12
    for h, r in enumerate(rows, start=1):
        assert r["level_s12"] == l
        assert r["trend_s12"] == b
        assert r["seasonal_s12"] == s[h - 1]
        assert r["forecast_s12"] == l + h * b + s[h - 1]


def test_mtld_fold_matches_python_replay(spark):
    """Every emitted (factors, partial, mtld_milli) must equal the
    reference MTLD walk over the same filtered lowercase tokens."""
    from mongodb_nats_connector_spark.operators.text import (
        MTLD_TTR_NUM,
        text_mtld_diversity,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    rows = text_mtld_diversity(spark, SF).collect()
    assert rows, "expected a non-empty top-k"
    byid = docs.set_index("doc_id")["text"].to_dict()
    for r in rows:
        words = [w for w in byid[r["doc_id"]].lower().split(" ") if w]
        fac, ty, tk = 0, [], 0
        for w in words:
            if w not in ty:
                ty = ty + [w]
            tk += 1
            if 100 * len(ty) < MTLD_TTR_NUM * tk:
                fac, ty, tk = fac + 1, [], 0
        partial = (
            ((tk * 100 - len(ty) * 100) * 1000000)
            // ((100 - MTLD_TTR_NUM) * tk)
            if tk > 0
            else 0
        )
        fppm = fac * 1000000 + partial
        assert r["n_words"] == len(words)
        assert r["full_factors"] == fac
        assert r["factors_ppm"] == fppm
        assert r["mtld_milli"] == (len(words) * 1000000000) // fppm


def test_brunner_munzel_matches_direct_ranks(spark):
    """W and p_hat must match the direct midrank computation (scipy's
    published formulation) on the raw rows."""
    from mongodb_nats_connector_spark.operators.stats import agg_brunner_munzel

    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    cents = (li["l_extendedprice"] * 100).round().astype("int64")
    v = (cents + 50000) // 100000
    g = ((li["l_discount"] * 100).round().astype("int64") >= 6).astype(int)
    x = v[g == 0].to_numpy()
    y = v[g == 1].to_numpy()
    nx, ny = len(x), len(y)
    combined = np.concatenate([x, y])
    rc = pd.Series(combined).rank().to_numpy()
    rx_within = pd.Series(x).rank().to_numpy()
    ry_within = pd.Series(y).rank().to_numpy()
    rcx, rcy = rc[:nx], rc[nx:]
    sx = np.sum(
        (rcx - rx_within - rcx.mean() + (nx + 1) / 2) ** 2
    ) / (nx - 1)
    sy = np.sum(
        (rcy - ry_within - rcy.mean() + (ny + 1) / 2) ** 2
    ) / (ny - 1)
    w_ref = (
        nx * ny * (rcy.mean() - rcx.mean())
        / ((nx + ny) * np.sqrt(nx * sx + ny * sy))
    )
    p_ref = (rcy.mean() - (ny + 1) / 2) / nx

    r = agg_brunner_munzel(spark, SF).collect()[0]
    assert r["n0"] == nx and r["n1"] == ny
    assert abs(r["w_bm"] - w_ref) < 1e-6
    assert abs(r["p_hat"] - p_ref) < 1e-12


def test_survival_cindex_matches_pairwise(spark):
    """conc2/usable must equal the O(n^2) definition over per-customer
    (duration, event, score-bucket) observations."""
    from mongodb_nats_connector_spark.operators.orders import orders_survival_cindex

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    tmax = o["o_orderdate"].max()
    obs = []
    for _, grp in o.groupby("o_custkey"):
        first = grp.iloc[0]
        t1 = first["o_orderdate"]
        sb = int(
            (round(first["o_totalprice"] * 100) + 250000) // 500000
        )
        if len(grp) >= 2:
            dur = (
                pd.to_datetime(grp.iloc[1]["o_orderdate"])
                - pd.to_datetime(t1)
            ).days
            obs.append((dur, 1, sb))
        else:
            dur = (pd.to_datetime(tmax) - pd.to_datetime(t1)).days
            obs.append((dur, 0, sb))
    conc2 = usable = 0
    for di, ei, si in obs:
        if ei != 1:
            continue
        for dj, _, sj in obs:
            if dj > di:
                usable += 1
                if si > sj:
                    conc2 += 2
                elif si == sj:
                    conc2 += 1
    r = orders_survival_cindex(spark, SF).collect()[0]
    assert r["concordant_x2"] == conc2
    assert r["usable_pairs"] == usable
    assert r["cindex_ppb"] == (conc2 * 10**9) // (2 * usable)


def test_pyramidal_construction_exact_for_all_residues():
    """The division-free pyramidal-number SQL must equal n(n+1)(2n+1)/6
    for every n mod 6 residue class, at small and astronomically large n
    (DuckDB evaluation; the Spark text differs only in the div token)."""
    import duckdb

    from mongodb_nats_connector_spark.operators.stats import _pyramidal_duck

    con = duckdb.connect()
    ns = list(range(1, 50)) + [
        10**6 + r for r in range(6)
    ] + [10**9 + r for r in range(6)]
    for n in ns:
        got = con.execute(
            f"SELECT {_pyramidal_duck(f'CAST({n} AS HUGEINT)')}"
        ).fetchone()[0]
        assert int(got) == n * (n + 1) * (2 * n + 1) // 6, n
    con.close()


def test_hi_lo_split_reproduces_wide_casts():
    """(q div 2^26)*2^26.0 + (q % 2^26) must equal float(q) exactly below
    2^53 and the correctly-rounded double above it — on BOTH engines."""
    import duckdb

    con = duckdb.connect()
    qs = [
        0,
        1,
        2**26 - 1,
        2**26,
        2**53 - 1,
        2**53,
        2**53 + 1,
        2**60 + 123456789,
        10**17 + 7,
    ]
    for q in qs:
        duck = con.execute(
            f"SELECT CAST(CAST({q} AS HUGEINT) // 67108864 AS DOUBLE)"
            f" * 67108864.0"
            f" + CAST(CAST({q} AS HUGEINT) % 67108864 AS DOUBLE)"
        ).fetchone()[0]
        assert duck == float(q), (q, duck)  # python float() rounds-half-even
    con.close()


def test_median_polish_reconstructs_grid(spark):
    """effects + residual must reconstruct the original x16 cell values
    exactly, and each row/column residual median after the final sweep
    must be zero for the dimension polished LAST."""
    from mongodb_nats_connector_spark.operators.orders import orders_median_polish

    rows = orders_median_polish(spark, SF).collect()
    assert rows
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o = o[o["o_orderdate"].notna()]
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    dt = pd.to_datetime(o["o_orderdate"])
    grid = (16 * cents).groupby([dt.dt.year, dt.dt.month]).sum()
    for r in rows:
        v16 = int(grid.loc[(r["year"], r["month"])])
        assert (
            r["resid_x16"] + r["year_effect_x16"] + r["month_effect_x16"]
            == v16
        )
    # the last sweep polished columns (months): per-month residual median
    # must be exactly zero (even count -> two middles average to 0 or the
    # exact doubled-median is 0)
    import collections

    bymo = collections.defaultdict(list)
    for r in rows:
        bymo[r["month"]].append(r["resid_x16"])
    for mo, vals in bymo.items():
        s = sorted(vals)
        n = len(s)
        assert s[(n + 1) // 2 - 1] + s[n // 2] == 0, (mo, s)
