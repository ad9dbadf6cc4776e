"""Order and supply-chain analytics (``operators/orders.py``, ``orders_*``):
forecasting folds, process control, survival, concentration and econ
indices, skylines, group comparisons and association rules.

Spark tests recompute a query's result on the smoke tables from its
definition. Pure-Python pins check the algebra both engines share
against an independent reference; ``test_stats.py`` says why.
"""

from __future__ import annotations

import math
import random
from fractions import Fraction

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


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


def _floor_div(a: int, b: int) -> int:
    return a // b  # python // floors, which is the contract


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


# ---------------------------------------------------------------------------
# SBA fold (orders_sba_forecast)
# ---------------------------------------------------------------------------


def test_sba_fold_matches_python_recurrence():
    """The engines' integer fold == round-half-up exponential smoothing
    with alpha = 1/8 in 1e-3 units, and the SBA deflator is 15/16."""
    rng = random.Random(7)
    for _ in range(25):
        k = rng.randint(2, 40)
        ts = sorted(rng.sample(range(0, 3000), k))
        qs = [rng.randint(1, 120) for _ in range(k)]
        # the fold as both engines run it
        q_st = qs[0] * 1000
        p_st = (ts[1] - ts[0]) * 1000
        t_st = ts[0]
        for t, q in zip(ts[1:], qs[1:]):
            q_st = (q * 1000 + 7 * q_st + 4) // 8
            p_st = ((t - t_st) * 1000 + 7 * p_st + 4) // 8
            t_st = t
        # reference recurrence: new = round_half_up((x*1000 + 7*old)/8)
        q_ref = qs[0] * 1000
        p_ref = (ts[1] - ts[0]) * 1000
        t_ref = ts[0]
        for t, q in zip(ts[1:], qs[1:]):
            num_q = Fraction(q * 1000 + 7 * q_ref, 8)
            num_p = Fraction((t - t_ref) * 1000 + 7 * p_ref, 8)
            q_ref = int(num_q + Fraction(1, 2)) if num_q % 1 != Fraction(1, 2) else int(num_q) + 1
            p_ref = int(num_p + Fraction(1, 2)) if num_p % 1 != Fraction(1, 2) else int(num_p) + 1
            t_ref = t
        assert (q_st, p_st) == (q_ref, p_ref)
        if p_st > 0:
            assert abs(15 * q_st / (16 * p_st)
                       - 0.9375 * (q_st / p_st)) < 1e-12


# ---------------------------------------------------------------------------
# Tracking signal arithmetic (orders_tracking_signal)
# ---------------------------------------------------------------------------


def test_tracking_signal_ppm_sign_split():
    rng = random.Random(23)
    for _ in range(40):
        k = rng.randint(2, 90)
        ys = [rng.randint(50, 800) for _ in range(k)]
        errs = [b - a for a, b in zip(ys, ys[1:])]
        cum_e = cum_a = 0
        for t, e in enumerate(errs, start=1):
            cum_e += e
            cum_a += abs(e)
            if cum_e >= 0:
                ppm = (1000000 * cum_e * t) // max(cum_a, 1)
            else:
                ppm = -((1000000 * -cum_e * t) // max(cum_a, 1))
            if cum_a > 0:
                ts = cum_e * t / cum_a  # TS = cum_err / (cum_abs / t)
                assert abs(ppm / 1e6 - ts) < 1e-5 * max(1.0, abs(ts))
            else:
                assert ppm == 0


# ---------------------------------------------------------------------------
# SNHT / KPSS / Buishand n-scaled partial-sum identities
# ---------------------------------------------------------------------------


def test_nscaled_partial_sum_identities():
    rng = random.Random(59)
    for _ in range(40):
        xs = [rng.randint(1, 100) for _ in range(rng.randint(3, 40))]
        n = len(xs)
        s = sum(xs)
        sxx = sum(x * x for x in xs)
        v = n * sxx - s * s
        if v == 0:
            continue
        mean = Fraction(s, n)
        var = Fraction(v, n * n)
        pk = 0
        sa2 = 0
        for k in range(1, n + 1):
            pk += xs[k - 1]
            a_k = n * pk - k * s
            assert Fraction(a_k, n) == pk - k * mean  # S_k identity
            sa2 += a_k * a_k
            if k < n:
                # SNHT: T_k = k*zbar1^2 + (n-k)*zbar2^2
                m1 = Fraction(pk, k) - mean
                m2 = Fraction(s - pk, n - k) - mean
                t_ref = (k * m1**2 + (n - k) * m2**2) / var
                t_id = Fraction(a_k * a_k * n, k * (n - k) * v)
                assert t_id == t_ref
        # KPSS: eta = sum S_k^2 / (n^2 sigma^2)
        eta_ref = sum(
            (Fraction(n * p - k * s, n)) ** 2
            for k, p in enumerate(_prefixes(xs), 1)
        ) / (n * n * var)
        assert Fraction(sa2, n * n * v) == eta_ref


def _prefixes(xs):
    t = 0
    for x in xs:
        t += x
        yield t


# ---------------------------------------------------------------------------
# Foster-Stuart records + Cox-Stuart pairing
# ---------------------------------------------------------------------------


def test_foster_stuart_records_brute_force():
    rng = random.Random(61)
    for _ in range(40):
        xs = [rng.randint(1, 1000) for _ in range(rng.randint(3, 60))]
        u = sum(
            1
            for t in range(1, len(xs))
            if xs[t] > max(xs[:t])
        )
        lo = sum(
            1
            for t in range(1, len(xs))
            if xs[t] < min(xs[:t])
        )
        # engine form: prefix max/min windows, t >= 2 flags
        u2 = l2 = 0
        pmax, pmin = xs[0], xs[0]
        for t in range(1, len(xs)):
            if xs[t] > pmax:
                u2 += 1
            if xs[t] < pmin:
                l2 += 1
            pmax = max(pmax, xs[t])
            pmin = min(pmin, xs[t])
        assert (u, lo) == (u2, l2)


def test_cox_stuart_pair_indices():
    for n in range(2, 41):
        h = (n + 1) // 2
        pairs = [(i, i + h) for i in range(1, n - h + 1)]
        # even n: n/2 pairs covering both halves; odd n: middle dropped
        assert len(pairs) == n // 2
        assert all(j <= n for _, j in pairs)
        if n % 2 == 1:
            mid = h
            assert all(i != mid and j != mid for i, j in pairs)


# ---------------------------------------------------------------------------
# TSB + RMST integer folds (python replays of both engines' recurrence)
# ---------------------------------------------------------------------------


def test_tsb_fold_decays_to_zero_and_tracks_probability():
    # constant demand every period: p -> 1000, z -> q*1000
    p, z = 1000, 5000
    for _ in range(200):
        p = (1 * 1000 + 7 * p + 4) // 8
        z = (5 * 1000 + 3 * z + 2) // 4
    assert p == 1000 and z == 5000
    # demand stops: probability decays toward zero, size freezes
    for _ in range(200):
        p = (0 * 1000 + 7 * p + 4) // 8
    assert p <= 4  # rounding floor of the dyadic decay
    assert z == 5000


def test_rmst_fold_matches_float_km_area():
    rng = random.Random(83)
    for _ in range(20):
        n0 = rng.randint(20, 200)
        events = []
        at_risk = n0
        dur = 0
        while at_risk > 2 and rng.random() < 0.9:
            dur += rng.randint(1, 40)
            d = rng.randint(1, max(1, at_risk // 4))
            cens = rng.randint(0, max(0, (at_risk - d) // 4))
            events.append((dur, d, at_risk))
            at_risk -= d + cens
        if not events:
            continue
        tau = 365
        # float KM reference
        s_f, pd_f, area = 1.0, 0, 0.0
        for dur, d, n in events:
            area += s_f * (min(dur, tau) - min(pd_f, tau))
            s_f *= (n - d) / n
            pd_f = dur
        area += s_f * max(tau - min(pd_f, tau), 0)
        # integer nano fold (the engines' recurrence)
        s_i, pd_i, acc = 10**9, 0, 0
        for dur, d, n in events:
            acc += s_i * (min(dur, tau) - min(pd_i, tau))
            s_i = (2 * s_i * (n - d) + n) // (2 * n)
            pd_i = dur
        acc += s_i * max(tau - min(pd_i, tau), 0)
        assert abs(acc / 1e9 - area) < 1e-4 * tau


# ---------------------------------------------------------------------------
# Haar detail energy identity (orders_haar_wavelet)
# ---------------------------------------------------------------------------


def test_haar_signed_block_sums_match_direct_transform():
    rng = random.Random(103)
    for _ in range(20):
        n = rng.choice([64, 128, 256])
        xs = [rng.randint(0, 1000) for _ in range(n)]
        for j in range(1, 7):
            if (1 << j) > n:
                continue
            # direct: pair adjacent level-(j-1) block sums
            block = 1 << (j - 1)
            sums = [
                sum(xs[k : k + block]) for k in range(0, n, block)
            ]
            direct = [
                sums[2 * t] - sums[2 * t + 1]
                for t in range(len(sums) // 2)
            ]
            e_direct = sum(d * d for d in direct)
            # engine: signed sum with sign from bit j-1 of the index
            det = {}
            for i, x in enumerate(xs):
                blk = i >> j
                sgn = 1 if ((i >> (j - 1)) % 2 == 0) else -1
                det[blk] = det.get(blk, 0) + sgn * x
            e_engine = sum(d * d for d in det.values())
            assert e_engine == e_direct


# ---------------------------------------------------------------------------
# Theta-method scaled identities (orders_theta_forecast)
# ---------------------------------------------------------------------------


def test_theta_scaled_line_and_forecast_identity():
    rng = random.Random(107)
    for _ in range(30):
        n = rng.randint(4, 60)
        xs = [rng.randint(100, 10000) for _ in range(n)]
        sy = sum(xs)
        st = n * (n + 1) // 2
        stt = sum(t * t for t in range(1, n + 1))
        sty = sum(t * x for t, x in zip(range(1, n + 1), xs))
        dd = n * stt - st * st
        bn = n * sty - st * sy
        b = Fraction(bn, dd)
        a = Fraction(sy, n) - b * Fraction(st, n)
        for t, x in zip(range(1, n + 1), xs):
            x2_ref = 2 * x - (a + b * t)
            x2s = 2 * x * n * dd - ((sy * dd - bn * st) + bn * n * t)
            assert Fraction(x2s, n * dd) == x2_ref
        # forecast composition: ses2/(2 n dd) is the SES level of the
        # theta-2 line; line extrapolation a + b(n+1) =
        # (bn(n+1) + (sy dd - bn st)/n)/dd
        line_next = a + b * (n + 1)
        comp = Fraction(bn * (n + 1) * n + (sy * dd - bn * st), n * dd)
        assert comp == line_next


# ---------------------------------------------------------------------------
# DFT / circular trig literal tables
# ---------------------------------------------------------------------------


def test_trig_literal_tables():
    from mongodb_nats_connector_spark.operators.events import (
        _CIRC_COS,
        _CIRC_SIN,
    )
    from mongodb_nats_connector_spark.operators.orders import (
        _DFT_COS,
        _DFT_SIN,
    )

    cos12 = eval(_DFT_COS)  # noqa: S307
    sin12 = eval(_DFT_SIN)  # noqa: S307
    for m in range(12):
        a = 2 * math.pi * m / 12
        assert abs(cos12[m] - 1e9 * math.cos(a)) < 1.0
        assert abs(sin12[m] - 1e9 * math.sin(a)) < 1.0
    cos24 = eval(_CIRC_COS)  # noqa: S307
    sin24 = eval(_CIRC_SIN)  # noqa: S307
    for h in range(24):
        a = 2 * math.pi * h / 24
        assert abs(cos24[h] - 1e9 * math.cos(a)) < 1.0
        assert abs(sin24[h] - 1e9 * math.sin(a)) < 1.0


# ---------------------------------------------------------------------------
# SPRT literals (orders_sprt_sequential)
# ---------------------------------------------------------------------------


def test_sprt_literals():
    from mongodb_nats_connector_spark.operators.orders import (
        _SPRT_A,
        _SPRT_L0,
        _SPRT_L1,
    )

    assert _SPRT_L1 == math.floor(1e6 * math.log(Fraction(26, 24)))
    assert _SPRT_L0 == math.floor(1e6 * math.log(Fraction(74, 76)))
    assert _SPRT_A == math.floor(1e6 * math.log(19))


# ---------------------------------------------------------------------------
# Damped-trend fold (orders_damped_trend) — floor(x+0.5) replay
# ---------------------------------------------------------------------------


def test_damped_trend_fold_properties():
    rng = random.Random(211)
    for _ in range(20):
        xs = [rng.randint(10**6, 10**8) for _ in range(rng.randint(3, 40))]
        l, b = xs[0], 0
        for x in xs[1:]:
            lt = math.floor(0.3 * x + 0.7 * (l + 0.9 * b) + 0.5)
            bt = math.floor(
                0.2 * (lt - l) + 0.72 * b + 0.5
            )
            l, b = lt, bt
        # level stays within the observed range expanded by trend slack
        assert min(xs) - abs(b) * 10 <= l <= max(xs) + abs(b) * 10
        # constant series => level converges to it with zero trend
        c = xs[0]
        l2, b2 = c, 0
        for _ in range(10):
            lt = math.floor(0.3 * c + 0.7 * (l2 + 0.9 * b2) + 0.5)
            b2 = math.floor(0.2 * (lt - l2) + 0.72 * b2 + 0.5)
            l2 = lt
        assert l2 == c and b2 == 0


# ---------------------------------------------------------------------------
# p-chart flag (orders_p_chart) — cross-multiplication == 3-sigma test
# ---------------------------------------------------------------------------


def test_p_chart_cross_multiplication():
    rng = random.Random(223)
    for _ in range(200):
        months = [
            (rng.randint(50, 500), 0) for _ in range(rng.randint(3, 12))
        ]
        months = [(n, rng.randint(0, n)) for n, _ in months]
        big_l = sum(n for n, _ in months)
        big_r = sum(r for _, r in months)
        if big_r == 0 or big_r == big_l:
            continue
        pbar = big_r / big_l
        for n, r in months:
            lhs = (r * big_l - n * big_r) ** 2
            rhs = 9 * big_r * (big_l - big_r) * n
            flag_int = lhs > rhs
            flag_float = (r / n - pbar) ** 2 > 9 * pbar * (1 - pbar) / n
            # the two decisions agree except within float epsilon of the
            # boundary; exact integers are the ground truth
            if abs(lhs - rhs) > 1e-6 * max(1, rhs):
                assert flag_int == flag_float


# ---------------------------------------------------------------------------
# Bass diffusion (orders_bass_diffusion) — Cramer vs lstsq on synthetic
# ---------------------------------------------------------------------------


def test_bass_cramer_solves_quadratic_ols():
    """Pins the literal cofactor expansion: the first draft of dc wrote
    s3*sy for the (2,2) minor term instead of sy1*s2 — IDENTICALLY on
    both engine surfaces, so the parity probe was green while the
    statistic was wrong; this exact-Fraction normal-equation check is
    what caught it (the agg_kendall_w lesson applied in-round)."""
    rng = random.Random(227)
    for _ in range(20):
        ys = [rng.randint(0, 500) for _ in range(12)]
        ns = [rng.randint(1, 80) for _ in range(12)]
        t0 = len(ys)
        s1 = sum(ys)
        s2 = sum(y * y for y in ys)
        s3 = sum(y**3 for y in ys)
        s4 = sum(y**4 for y in ys)
        sy = sum(ns)
        sy1 = sum(n * y for n, y in zip(ns, ys))
        sy2 = sum(n * y * y for n, y in zip(ns, ys))
        dd = (
            t0 * (s2 * s4 - s3 * s3)
            - s1 * (s1 * s4 - s3 * s2)
            + s2 * (s1 * s3 - s2 * s2)
        )
        if dd == 0:
            continue
        da = (
            sy * (s2 * s4 - s3 * s3)
            - s1 * (sy1 * s4 - s3 * sy2)
            + s2 * (sy1 * s3 - s2 * sy2)
        )
        db = (
            t0 * (sy1 * s4 - sy2 * s3)
            - sy * (s1 * s4 - s3 * s2)
            + s2 * (s1 * sy2 - s2 * sy1)
        )
        dc = (
            t0 * (s2 * sy2 - s3 * sy1)
            - s1 * (s1 * sy2 - sy1 * s2)
            + sy * (s1 * s3 - s2 * s2)
        )
        a, b, c = (
            Fraction(da, dd),
            Fraction(db, dd),
            Fraction(dc, dd),
        )
        # normal equations hold exactly
        assert a * t0 + b * s1 + c * s2 == sy
        assert a * s1 + b * s2 + c * s3 == sy1
        assert a * s2 + b * s3 + c * s4 == sy2


# ---------------------------------------------------------------------------
# Benford second-digit expected table (orders_benford_second_digit)
# ---------------------------------------------------------------------------


def test_benford_second_digit_table():
    from mongodb_nats_connector_spark.operators.orders import _BENF2

    table = eval(_BENF2)  # noqa: S307
    for d in range(10):
        p = sum(math.log10(1 + 1 / (10 * k + d)) for k in range(1, 10))
        assert table[d] == math.floor(p * 1e9)
    # a probability law: nano masses sum to 1e9 within quantization loss
    assert 1e9 - 10 <= sum(table) <= 1e9


# ---------------------------------------------------------------------------
# RCA / Grubel-Lloyd cross-multiplications (orders_rca_index, _grubel_lloyd)
# ---------------------------------------------------------------------------


def test_rca_and_gl_identities():
    rng = random.Random(269)
    for _ in range(100):
        x_nb = rng.randint(1, 10**6)
        x_n = x_nb + rng.randint(0, 10**6)
        x_b = x_nb + rng.randint(0, 10**6)
        x_t = x_n + x_b + rng.randint(0, 10**6)
        ref = Fraction(x_nb, x_n) / Fraction(x_b, x_t)
        assert Fraction(x_nb * x_t, x_n * x_b) == ref
        a, b = rng.randint(0, 10**6), rng.randint(0, 10**6)
        if a + b == 0:
            continue
        gl_ref = 1 - Fraction(abs(a - b), a + b)
        got = Fraction(10**9 - (10**9 * abs(a - b)) // (a + b), 10**9)
        assert abs(got - gl_ref) <= Fraction(1, 10**9)


def test_gamma_negbin_vr_identities():
    rng = random.Random(337)
    for _ in range(60):
        xs = [rng.randint(1, 10**5) for _ in range(rng.randint(3, 50))]
        n, s, s2 = len(xs), sum(xs), sum(x * x for x in xs)
        if n * s2 == s * s:
            continue
        mean = Fraction(s, n)
        # POPULATION variance clears to (n*s2 - s^2)/n^2
        varp = Fraction(n * s2 - s * s, n * n)
        shape_ref = mean**2 / varp
        assert Fraction(s * s, n * s2 - s * s) == shape_ref
        scale_ref = varp / mean
        assert Fraction(n * s2 - s * s, n * s) == scale_ref
        # variance ratio clears both sample denominators
        ys = [rng.randint(1, 10**5) for _ in range(rng.randint(3, 50))]
        k, t, t2 = len(ys), sum(ys), sum(y * y for y in ys)
        va = Fraction(n * s2 - s * s, n * (n - 1))
        vb = Fraction(k * t2 - t * t, k * (k - 1))
        if va == 0:
            continue
        ref = vb / (3 * va)
        got = Fraction((k * t2 - t * t) * n * (n - 1),
                       3 * (n * s2 - s * s) * k * (k - 1))
        assert got == ref


def test_rosenbluth_cleared_denominator():
    rng = random.Random(457)
    for _ in range(60):
        k = rng.randint(2, 25)
        vs = sorted((rng.randint(1, 10**6) for _ in range(k)), reverse=True)
        t = sum(vs)
        shares = [Fraction(v, t) for v in vs]
        hti_ref = 1 / (2 * sum((i + 1) * s for i, s in enumerate(shares)) - 1)
        iv = sum((i + 1) * v for i, v in enumerate(vs))
        assert Fraction(t, 2 * iv - t) == hti_ref
        assert Fraction(1, k) <= hti_ref <= 1


def test_pinball_identities():
    rng = random.Random(461)
    for _ in range(80):
        y, f = rng.randint(0, 10**6), rng.randint(0, 10**6)
        over = max(y - f, 0)
        under = max(f - y, 0)
        # tau = 0.5 doubled is the absolute error
        assert 5 * over + 5 * under == 5 * abs(y - f)
        for q10 in (1, 5, 9):
            ref = (
                Fraction(q10, 10) * over + Fraction(10 - q10, 10) * under
            )
            assert q10 * over + (10 - q10) * under == 10 * ref


def test_shift_share_exact_identity():
    rng = random.Random(463)
    for _ in range(40):
        n_nat, n_pri = rng.randint(2, 6), rng.randint(2, 5)
        ra = [[rng.randint(1, 1000) for _ in range(n_pri)]
              for _ in range(n_nat)]
        rb = [[rng.randint(0, 1500) for _ in range(n_pri)]
              for _ in range(n_nat)]
        ta = sum(map(sum, ra))
        tb = sum(map(sum, rb))
        rpa = [sum(ra[i][p] for i in range(n_nat)) for p in range(n_pri)]
        rpb = [sum(rb[i][p] for i in range(n_nat)) for p in range(n_pri)]
        g = Fraction(tb, ta)
        for i in range(n_nat):
            ns = sum(ra[i]) * (g - 1)
            im = sum(
                ra[i][p] * (Fraction(rpb[p], rpa[p]) - g)
                for p in range(n_pri)
            )
            ce = sum(
                rb[i][p] - ra[i][p] * Fraction(rpb[p], rpa[p])
                for p in range(n_pri)
            )
            assert ns + im + ce == sum(rb[i]) - sum(ra[i])
            # per-cell cleared numerators match the div arrangement
            for p in range(n_pri):
                lhs = ra[i][p] * (Fraction(rpb[p], rpa[p]) - g)
                rhs = Fraction(
                    ra[i][p] * (rpb[p] * ta - tb * rpa[p]), rpa[p] * ta
                )
                assert lhs == rhs


def _gehan_phi(a, b):
    ta, ea = a
    tb, eb = b
    if (ta > tb and eb == 1) or (ta == tb and eb == 1 and ea == 0):
        return 1
    if (tb > ta and ea == 1) or (ta == tb and ea == 1 and eb == 0):
        return -1
    return 0


def test_gehan_placement_formula_vs_bruteforce():
    rng = random.Random(467)
    for _ in range(40):
        na, nb = rng.randint(3, 15), rng.randint(3, 15)
        A = [(rng.randint(1, 10), rng.randint(0, 1)) for _ in range(na)]
        B = [(rng.randint(1, 10), rng.randint(0, 1)) for _ in range(nb)]
        comb = A + B
        w_direct = sum(_gehan_phi(a, b) for a in A for b in B)
        # combined-sample U per observation
        def u_of(k):
            return sum(_gehan_phi(k, l) for l in comb)

        w_via_u = sum(u_of(a) for a in A)
        assert w_via_u == w_direct  # within-A terms cancel
        # cumulative-count closed form for U
        from collections import Counter
        ev_at = Counter(t for t, e in comb if e == 1)
        cn_at = Counter(t for t, e in comb if e == 0)
        ntot = len(comb)
        for t, e in comb:
            e_lt = sum(c for tt, c in ev_at.items() if tt < t)
            if e == 1:
                n_gt = sum(1 for tt, _ in comb if tt > t)
                u_ref = e_lt - (n_gt + cn_at.get(t, 0))
            else:
                u_ref = e_lt + ev_at.get(t, 0)
            assert u_ref == u_of((t, e))


def _pava(ys, ws):
    # classic pool-adjacent-violators with weights, exact Fractions;
    # each block tracks (mean, weight, #original points)
    blocks = []
    for y, w in zip(ys, ws):
        blocks.append([Fraction(y), Fraction(w), 1])
        while len(blocks) > 1 and blocks[-2][0] > blocks[-1][0]:
            y2, w2, c2 = blocks.pop()
            y1, w1, c1 = blocks.pop()
            blocks.append(
                [(y1 * w1 + y2 * w2) / (w1 + w2), w1 + w2, c1 + c2]
            )
    fitted = []
    for y, w, c in blocks:
        fitted.extend([y] * c)
    return fitted


def test_isotonic_maxmin_equals_pava():
    rng = random.Random(479)
    for _ in range(30):
        n = rng.randint(2, 12)
        ys = [rng.randint(0, 100) for _ in range(n)]
        ws = [rng.randint(1, 5) for _ in range(n)]
        pava = _pava(ys, ws)
        # max-min formula over weighted interval means
        pm = [0]
        cm = [0]
        for y, w in zip(ys, ws):
            pm.append(pm[-1] + y * w)
            cm.append(cm[-1] + w)
        for i in range(1, n + 1):
            cands = []
            for j in range(0, i):
                mn = min(
                    Fraction(pm[k] - pm[j], cm[k] - cm[j])
                    for k in range(i, n + 1)
                )
                cands.append(mn)
            assert max(cands) == pava[i - 1]
    # quantized interval means keep the fit monotone
    for _ in range(20):
        n = rng.randint(2, 10)
        ys = [rng.randint(0, 10**6) for _ in range(n)]
        ws = [rng.randint(1, 9) for _ in range(n)]
        pm = [0]
        cm = [0]
        for y, w in zip(ys, ws):
            pm.append(pm[-1] + y * w)
            cm.append(cm[-1] + w)
        fit = []
        for i in range(1, n + 1):
            fit.append(
                max(
                    min(
                        (10**6 * (pm[k] - pm[j])) // (cm[k] - cm[j])
                        for k in range(i, n + 1)
                    )
                    for j in range(0, i)
                )
            )
        assert all(fit[i] <= fit[i + 1] for i in range(len(fit) - 1))


def test_cumulative_incidence_sums_to_one_minus_km():
    rng = random.Random(487)
    for _ in range(40):
        n = rng.randint(5, 40)
        # observations: (duration, cause 0=censored / 1..3)
        obs = [(rng.randint(1, 12), rng.randint(0, 3)) for _ in range(n)]
        durs = sorted(set(t for t, _ in obs))
        at_risk = n
        s = Fraction(1)
        cif = {1: Fraction(0), 2: Fraction(0), 3: Fraction(0)}
        for t in durs:
            d_k = {
                k: sum(1 for tt, c in obs if tt == t and c == k)
                for k in (1, 2, 3)
            }
            d = sum(d_k.values())
            cens = sum(1 for tt, c in obs if tt == t and c == 0)
            for k in (1, 2, 3):
                cif[k] += s * Fraction(d_k[k], at_risk)
            s *= Fraction(at_risk - d, at_risk)
            at_risk -= d + cens
        assert cif[1] + cif[2] + cif[3] == 1 - s


# ---------------------------------------------------------------------------
# Price records and concentration (orders_price_records, orders_gini_hhi)
# ---------------------------------------------------------------------------


def test_price_records_strictly_increase(spark):
    from mongodb_nats_connector_spark.operators.orders import orders_price_records

    rows = sorted(orders_price_records(spark, SF).collect(), key=lambda r: r["day"])
    assert rows
    prices = [r["best_price"] for r in rows]
    assert all(b > a for a, b in zip(prices, prices[1:]))


def test_gini_hhi_matches_pandas_and_bounds(spark):
    from mongodb_nats_connector_spark.operators.orders import orders_gini_hhi

    r = orders_gini_hhi(spark, SF).collect()[0]
    per = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
        .toPandas()
        .sort_values(["rev", "o_custkey"])
        .reset_index(drop=True)
    )
    n = len(per)
    tot = per["rev"].sum()
    hhi = float(((per["rev"] / tot) ** 2).sum())
    i = pd.Series(range(1, n + 1), dtype="float64")
    gini = float(2.0 * (i * per["rev"].values).sum() / (n * tot) - (n + 1.0) / n)
    assert r["n_customers"] == n
    assert abs(r["hhi"] - hhi) < 1e-4
    assert abs(r["gini"] - gini) < 1e-4
    assert 0.0 <= r["gini"] < 1.0
    assert 1.0 / n <= r["hhi"] <= 1.0


# ---------------------------------------------------------------------------
# Skylines, smoothing folds, survival, control limits and forecasts,
# recomputed from their definitions
# ---------------------------------------------------------------------------


def test_skyline_no_dominated_survivor_and_no_missing(spark):
    """Brute-force O(n^2) dominance over the per-customer points must agree
    exactly with the sort-based skyline."""
    from mongodb_nats_connector_spark.operators.orders import orders_skyline_pareto

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


def test_exp_smoothing_matches_recursion(spark):
    """The fold result equals the plain recursive filter computed in
    Python over the same monthly series."""
    from mongodb_nats_connector_spark.operators.orders import (
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


def test_survival_km_matches_python(spark):
    """The KM curve recomputed with a plain-Python product-limit estimator
    agrees at every duration, and survival is non-increasing in [0,1]."""
    from mongodb_nats_connector_spark.operators.orders import orders_survival_km

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
    from mongodb_nats_connector_spark.operators.orders import orders_skyline_pareto

    _write_orders(spark, str(tmp_path), rows)
    got = {
        r["o_custkey"]: (r["spend"], r["n_orders"])
        for r in orders_skyline_pareto(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2, 3, 6}
    assert got[2] == (200.0, 2) and got[3] == (200.0, 2)


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
    from mongodb_nats_connector_spark.operators.orders import orders_survival_km

    _write_orders(spark, str(tmp_path), rows)
    out = orders_survival_km(spark, str(tmp_path)).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["duration_days"] == 2 and r["n_risk"] == 2
    assert r["n_events"] == 2 and r["survival"] == 0.0


def test_shewhart_limits_and_flags(spark):
    """Control limits bracket the center symmetrically, flags agree with a
    pandas recompute, and in-control days dominate (3-sigma ~ 0.3%)."""
    from mongodb_nats_connector_spark.operators.orders import (
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


def test_wasserstein_matches_cdf_integral(spark):
    """W1 must equal the numpy CDF-difference integral over the bucketed
    values, and be symmetric-positive."""
    from mongodb_nats_connector_spark.operators.orders import orders_wasserstein_1d

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


def test_logrank_matches_pandas_replay(spark):
    """O1, the observed-expected sum, the variance sum and chi2 must match
    a pandas risk-set replay of the same duration/censoring construction."""
    from mongodb_nats_connector_spark.operators.orders import orders_logrank_test

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


def test_tukey_pairwise_matches_anova_pooling(spark):
    """Every pair's mean difference, pooled-MSE standard error and |t|
    must match a pandas one-way ANOVA recomputation (micro-cents^2
    within-SS quantization respected)."""
    from mongodb_nats_connector_spark.operators.orders import orders_tukey_pairwise

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
