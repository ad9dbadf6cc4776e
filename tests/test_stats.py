"""Statistical aggregates (``operators/stats.py``, ``agg_*``).

Most tests here are pure-Python pins. Each replays one operator's integer
or cleared-denominator algebra on small random inputs against an
independent Fraction/float reference. The Spark expression and the DuckDB
oracle share that algebra, so oracle parity cannot catch a closed form
that is wrong the same way in both engines. With the pin in place, a
green hash in the correctness run proves the statistic is right, not
only that the two engines agree. The Spark tests recompute a query's
result on the smoke tables from its definition, check a sketch's error
bound against the exact count, or pin a plan shape. The ``agg_*``
queries of ``operators/double_sums.py`` are tested in
``test_double_sums.py``.
"""

from __future__ import annotations

import math
import random
from fractions import Fraction
from itertools import combinations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.operators.stats import (
    CMS_WIDTH,
    agg_heavy_hitters_cms,
)
from mongodb_nats_connector_spark.plans.explain import plan_string
from mongodb_nats_connector_spark.sources.tables import table

from test_events import _write_events9

SF = "/root/testdata/sf0.001"


def test_mann_kendall_matches_pairwise(spark):
    """S, 18*Var and z must match the O(n^2) definition with tie
    correction, and agree in direction with agg_theil_sen's slope sign."""
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


def _st_ranks_bruteforce(n: int) -> list[int]:
    """Reference Siegel-Tukey alternating-extreme rank assignment:
    rank 1 to the minimum; 2,3 to the two maxima; 4,5 to the next two
    minima; ... (positions 1..n, 1 = smallest value)."""
    ranks = [0] * (n + 1)
    lo, hi = 1, n
    r = 1
    take_low, count = True, 1
    while lo <= hi:
        for _ in range(count):
            if lo > hi:
                break
            if take_low:
                ranks[lo] = r
                lo += 1
            else:
                ranks[hi] = r
                hi -= 1
            r += 1
        take_low = not take_low
        count = 2
    return ranks


def _sb(j: int) -> int:
    return j * (j + 1) - (j + 1) // 2


def _stp(j: int) -> int:
    return j * (j + 1) - j // 2


def _bottom_count(n: int) -> int:
    return 2 * (n // 4) + (0 if n % 4 == 0 else 1)


def _g(p: int, n: int) -> int:
    b = _bottom_count(n)
    g = _sb(min(p, b))
    if p > b:
        g += _stp(n - b) - _stp(n - p)
    return g


def test_siegel_tukey_prefix_closed_form_matches_bruteforce():
    """agg_siegel_tukey's G(p) prefix (same algebra in the Spark expr and
    the DuckDB oracle) must equal the brute-force alternating-rank prefix
    for every position at every n. The first draft used B = ceil(n/2)
    bottom-assigned positions and was wrong for n % 4 != 0 — IDENTICALLY
    in both engines, so the bitexact probe stayed green. This pin is the
    only guard for that failure class."""
    for n in range(1, 300):
        ranks = _st_ranks_bruteforce(n)
        assert sorted(ranks[1:]) == list(range(1, n + 1))
        prefix = 0
        for p in range(1, n + 1):
            prefix += ranks[p]
            assert _g(p, n) == prefix, (n, p)


def test_siegel_tukey_rank_sum_identity():
    """Full-statistic cross-check on a deterministic small sample: the
    domain-grid block-sum route must reproduce the per-item midrank sum."""
    vals = [(i * 7919) % 9 + 1 for i in range(257)]
    grp = [(i * 104729) % 2 for i in range(257)]
    n = len(vals)
    order = sorted(range(n), key=lambda i: vals[i])
    ranks = _st_ranks_bruteforce(n)
    from collections import defaultdict

    positions = defaultdict(list)
    for pos, idx in enumerate(order, start=1):
        positions[vals[idx]].append(pos)
    mid2 = {
        v: 2 * sum(ranks[p] for p in ps) / len(ps)
        for v, ps in positions.items()
    }
    w2_ref = sum(mid2[vals[i]] for i in range(n) if grp[i] == 1)

    cells = defaultdict(lambda: [0, 0])
    for i in range(n):
        cells[vals[i]][0] += grp[i]
        cells[vals[i]][1] += 1
    tq = 0
    lo0 = 0
    for v in sorted(cells):
        n1, c = cells[v]
        block = _g(lo0 + c, n) - _g(lo0, n)
        tq += (2_000_000 * n1 * block) // c
        lo0 += c
    w2_query = tq // 1_000_000 + (tq % 1_000_000) / 1_000_000
    assert abs(w2_query - w2_ref) < 1e-3


# ---------------------------------------------------------------------------
# Ansari-Bradley prefix S(p) (agg_lepage)
# ---------------------------------------------------------------------------


def _t(x: int) -> int:
    return (x * (x + 1)) // 2


def _s_closed(p: int, n: int) -> int:
    """The closed-form prefix used by agg_lepage:
    S(p) = T(min(p,h)) + [p>h](T(n-h) - T(n-p)), h = ceil(n/2)."""
    h = (n + 1) // 2
    s = _t(min(p, h))
    if p > h:
        s += _t(n - h) - _t(n - p)
    return s


def test_ansari_prefix_closed_form_bruteforce():
    for n in range(1, 81):
        scores = [min(i, n + 1 - i) for i in range(1, n + 1)]
        acc = 0
        for p in range(0, n + 1):
            if p > 0:
                acc += scores[p - 1]
            assert _s_closed(p, n) == acc, (n, p)


# ---------------------------------------------------------------------------
# Mood doubled-midrank block identity (agg_mood_scale)
# ---------------------------------------------------------------------------


def _midranks(values):
    """value -> midrank over the sorted multiset (ties get the average)."""
    sv = sorted(values)
    first = {}
    for i, v in enumerate(sv):
        first.setdefault(v, i + 1)
    count = {}
    for v in sv:
        count[v] = count.get(v, 0) + 1
    return {v: Fraction(2 * first[v] + count[v] - 1, 2) for v in count}


def test_mood_block_identity_bruteforce():
    rng = random.Random(1511)
    for _ in range(40):
        n = rng.randint(2, 200)
        vals = [rng.randint(1, 12) for _ in range(n)]
        grp = [rng.randint(0, 1) for _ in range(n)]
        mid = _midranks(vals)
        # direct: 4 * sum over treatment of (midrank - (N+1)/2)^2
        direct = sum(
            (2 * mid[v] - (n + 1)) ** 2 for v, g in zip(vals, grp) if g
        )
        assert direct.denominator == 1
        # block form: sum over cells of n1 * (2*lo0 + c - N)^2
        cells = {}
        for v, g in zip(vals, grp):
            c, n1 = cells.get(v, (0, 0))
            cells[v] = (c + 1, n1 + g)
        lo0, block = 0, 0
        for v in sorted(cells):
            c, n1 = cells[v]
            block += n1 * (2 * lo0 + c - n) ** 2
            lo0 += c
        assert block == int(direct)


# ---------------------------------------------------------------------------
# Permutation moments of a linear rank statistic (agg_mood_scale/agg_lepage)
# ---------------------------------------------------------------------------


def test_permutation_moments_match_enumeration():
    """E[T] = n*S1/N and Var[T] = n(N-n)(N*S2 - S1^2)/(N^2(N-1)) for the
    sum T of a simple random subset of size n from fixed scores —
    verified exactly (Fractions) against full subset enumeration."""
    rng = random.Random(42)
    for trial in range(10):
        nn = rng.randint(2, 9)
        n = rng.randint(1, nn - 1)
        scores = [rng.randint(-5, 9) for _ in range(nn)]
        subs = list(combinations(scores, n))
        ts = [sum(s) for s in subs]
        e_enum = Fraction(sum(ts), len(ts))
        var_enum = Fraction(sum(t * t for t in ts), len(ts)) - e_enum**2
        s1 = sum(scores)
        s2 = sum(s * s for s in scores)
        e_closed = Fraction(n * s1, nn)
        var_closed = Fraction(
            n * (nn - n) * (nn * s2 - s1 * s1), nn * nn * (nn - 1)
        )
        assert e_closed == e_enum, trial
        assert var_closed == var_enum, trial


# ---------------------------------------------------------------------------
# Type-1 order-statistic selection (agg_quartile_dispersion / gastwirth)
# ---------------------------------------------------------------------------


def _type1_from_cells(values, k):
    """min v with cumulative count >= k, from value cells (the engines'
    selection)."""
    cells = {}
    for v in values:
        cells[v] = cells.get(v, 0) + 1
    cum = 0
    for v in sorted(cells):
        cum += cells[v]
        if cum >= k:
            return v
    raise AssertionError("k out of range")


def test_type1_quantile_selection_rule():
    rng = random.Random(99)
    for _ in range(60):
        n = rng.randint(1, 300)
        vals = [rng.randint(1, 50) for _ in range(n)]
        sv = sorted(vals)
        for num, den in ((1, 4), (3, 4), (1, 3), (1, 2), (2, 3)):
            k = (num * n + den - 1) // den  # ceil(num*n/den)
            assert k >= 1
            assert _type1_from_cells(vals, k) == sv[k - 1]
    # the ceil identities used in the SQL
    for n in range(1, 500):
        assert (n + 3) // 4 == -((-n) // 4)
        assert (3 * n + 3) // 4 == -((-3 * n) // 4)
        assert (n + 2) // 3 == -((-n) // 3)
        assert (n + 1) // 2 == -((-n) // 2)
        assert (2 * n + 2) // 3 == -((-2 * n) // 3)


# ---------------------------------------------------------------------------
# Kuiper V from grid cumulatives (agg_kuiper_test)
# ---------------------------------------------------------------------------


def test_kuiper_grid_identity():
    rng = random.Random(16)
    for _ in range(40):
        n1 = rng.randint(1, 80)
        n2 = rng.randint(1, 80)
        xs = [rng.randint(1, 12) for _ in range(n1)]
        ys = [rng.randint(1, 12) for _ in range(n2)]
        # reference: sup over the domain of the signed ECDF differences
        dom = sorted(set(xs) | set(ys))
        dplus = dminus = Fraction(0)
        for v in dom:
            f1 = Fraction(sum(1 for x in xs if x <= v), n1)
            f2 = Fraction(sum(1 for y in ys if y <= v), n2)
            dplus = max(dplus, f1 - f2)
            dminus = max(dminus, f2 - f1)
        v_ref = dplus + dminus
        # engines: integer d(v) = n2*cum1 - n1*cum2 on the shared grid
        best_p = best_m = 0
        c1 = c2 = 0
        for v in dom:
            c1 += sum(1 for x in xs if x == v)
            c2 += sum(1 for y in ys if y == v)
            d = n2 * c1 - n1 * c2
            best_p = max(best_p, d)
            best_m = max(best_m, -d)
        assert Fraction(best_p + best_m, n1 * n2) == v_ref


# ---------------------------------------------------------------------------
# Energy distance via sorted-grid identities (agg_energy_distance)
# ---------------------------------------------------------------------------


def test_energy_distance_grid_identity():
    rng = random.Random(61)
    for _ in range(30):
        n1 = rng.randint(2, 60)
        n2 = rng.randint(2, 60)
        xs = [rng.randint(1, 10) for _ in range(n1)]
        ys = [rng.randint(1, 10) for _ in range(n2)]
        axy_ref = sum(abs(x - y) for x in xs for y in ys)
        sd1_ref = sum(
            abs(a - b) for i, a in enumerate(xs) for b in xs[i + 1:]
        )
        sd2_ref = sum(
            abs(a - b) for i, a in enumerate(ys) for b in ys[i + 1:]
        )
        # grid form
        dom = sorted(set(xs) | set(ys))
        cells = {
            v: (xs.count(v), ys.count(v)) for v in dom
        }
        cb1 = sb1 = cb2 = sb2 = 0
        axy = sd1 = sd2 = 0
        s2t = sum(ys)
        for v in dom:
            c1, c2 = cells[v]
            sa2 = s2t - sb2 - c2 * v
            ca2 = n2 - cb2 - c2
            axy += c1 * ((v * cb2 - sb2) + (sa2 - v * ca2))
            sd1 += c1 * v * (cb1 - (n1 - cb1 - c1))
            sd2 += c2 * v * (cb2 - (n2 - cb2 - c2))
            cb1 += c1
            sb1 += c1 * v
            cb2 += c2
            sb2 += c2 * v
        assert axy == axy_ref
        assert sd1 == sd1_ref
        assert sd2 == sd2_ref
        # E = 2A/(n1n2) - 2sd1/n1^2 - 2sd2/n2^2 >= 0 (Székely's theorem)
        e_scaled = (
            2 * axy * n1 * n2 - 2 * sd1 * n2 * n2 - 2 * sd2 * n1 * n1
        )
        assert e_scaled >= 0


# ---------------------------------------------------------------------------
# Anderson-Darling doubled-mass algebra (agg_anderson_darling)
# ---------------------------------------------------------------------------


def test_anderson_darling_doubling_identities():
    """The doubled masses clear the half-cell corrections exactly:
    N*M_ij - n_i*B_j = (N*M2 - n_i*B2)/2 and
    B_j(N-B_j) - N*c_j/4 = (B2(2N-B2) - N*c_j)/4, and the two samples'
    numerators are exact negatives."""
    rng = random.Random(77)
    for _ in range(40):
        n1 = rng.randint(1, 40)
        n2 = rng.randint(1, 40)
        nn = n1 + n2
        xs = [rng.randint(1, 8) for _ in range(n1)]
        ys = [rng.randint(1, 8) for _ in range(n2)]
        dom = sorted(set(xs) | set(ys))
        p1 = p = 0
        for v in dom:
            c1 = xs.count(v)
            c = c1 + ys.count(v)
            m1 = Fraction(2 * p1 + c1, 2)  # midrank mass, sample 1
            bj = Fraction(2 * p + c, 2)
            m2_ = bj - m1
            b2 = 2 * p + c
            num1 = nn * (2 * p1 + c1) - n1 * b2
            # halved-mass identity
            assert Fraction(num1, 2) == nn * m1 - n1 * bj
            # two-sample antisymmetry
            assert nn * (2 * (p - p1) + (c - c1)) - n2 * b2 == -num1
            # denominator identity
            assert Fraction(b2 * (2 * nn - b2) - nn * c, 4) == bj * (
                nn - bj
            ) - Fraction(nn * c, 4)
            p1 += c1
            p += c


# ---------------------------------------------------------------------------
# Hoover index scaling identity (agg_hoover_index)
# ---------------------------------------------------------------------------


def test_hoover_scaled_identity():
    rng = random.Random(5)
    for _ in range(40):
        n = rng.randint(1, 100)
        xs = [rng.randint(1, 10000) for _ in range(n)]
        s = sum(xs)
        sad = sum(abs(n * x - s) for x in xs)
        mean = Fraction(s, n)
        h_ref = sum(abs(Fraction(x) - mean) for x in xs) / (2 * s)
        assert Fraction(sad, 2 * n * s) == h_ref
        ppb = (10**9 * sad) // (2 * n * s)
        assert 0 <= ppb <= 10**9


# ---------------------------------------------------------------------------
# Fleiss' kappa closed form (agg_fleiss_kappa)
# ---------------------------------------------------------------------------


def test_fleiss_kappa_closed_form():
    rng = random.Random(4)
    m = 4
    for _ in range(40):
        items = []
        for _ in range(rng.randint(2, 60)):
            counts = [0, 0, 0]
            for _ in range(m):
                counts[rng.randint(0, 2)] += 1
            items.append(counts)
        i = len(items)
        # textbook definition with Fractions
        p_bar = Fraction(
            sum(sum(c * c for c in it) - m for it in items),
            i * m * (m - 1),
        )
        tc = [sum(it[j] for it in items) for j in range(3)]
        p_e = sum(Fraction(t, i * m) ** 2 for t in tc)
        # closed form used by the engines
        sa = sum(sum(c * c for c in it) for it in items)
        sb = sum(t * t for t in tc)
        assert p_bar == Fraction(sa - 4 * i, 12 * i)
        assert p_e == Fraction(sb, 16 * i * i)
        num = 4 * i * (sa - 4 * i) - 3 * sb
        den = 3 * (16 * i * i - sb)
        if p_e != 1:
            assert Fraction(num, den) == (p_bar - p_e) / (1 - p_e)


# ---------------------------------------------------------------------------
# Bowker fold: signed unordered pairs (agg_bowker_symmetry)
# ---------------------------------------------------------------------------


def test_bowker_signed_fold():
    rng = random.Random(9)
    cats = list("ABCDE")
    for _ in range(30):
        obs = [
            (rng.choice(cats), rng.choice(cats)) for _ in range(200)
        ]
        # direct contingency
        cnt = {}
        for f, l in obs:
            cnt[(f, l)] = cnt.get((f, l), 0) + 1
        chi_ref = Fraction(0)
        for i, a in enumerate(cats):
            for b in cats[i + 1:]:
                nij = cnt.get((a, b), 0)
                nji = cnt.get((b, a), 0)
                if nij + nji:
                    chi_ref += Fraction((nij - nji) ** 2, nij + nji)
        # signed fold
        pairs = {}
        for f, l in obs:
            if f == l:
                continue
            k = (min(f, l), max(f, l))
            tot, net = pairs.get(k, (0, 0))
            pairs[k] = (tot + 1, net + (1 if f < l else -1))
        chi_fold = sum(
            Fraction(net * net, tot) for tot, net in pairs.values()
        )
        assert chi_fold == chi_ref


# ---------------------------------------------------------------------------
# One-way ANOVA decomposition (agg_oneway_anova)
# ---------------------------------------------------------------------------


def test_anova_decomposition():
    rng = random.Random(11)
    for _ in range(30):
        groups = [
            [rng.randint(0, 500) for _ in range(rng.randint(2, 40))]
            for _ in range(rng.randint(2, 6))
        ]
        allx = [x for g in groups for x in g]
        n = len(allx)
        gm = Fraction(sum(allx), n)
        ssb_ref = sum(
            len(g) * (Fraction(sum(g), len(g)) - gm) ** 2 for g in groups
        )
        ssw_ref = sum(
            sum((Fraction(x) - Fraction(sum(g), len(g))) ** 2 for x in g)
            for g in groups
        )
        # moment form (exact rationals)
        sgq = sum(Fraction(sum(g) ** 2, len(g)) for g in groups)
        s = sum(allx)
        q = sum(x * x for x in allx)
        assert sgq - Fraction(s * s, n) == ssb_ref
        assert q - sgq == ssw_ref
        # floor-quantized engine form is within k+1 of exact
        sgq_i = sum((sum(g) ** 2) // len(g) for g in groups)
        ssb_i = max(sgq_i - (s * s) // n, 0)
        assert abs(ssb_i - ssb_ref) <= len(groups) + 1


# ---------------------------------------------------------------------------
# Cohen's d / Hedges' g moments (agg_cohens_d)
# ---------------------------------------------------------------------------


def test_cohens_d_pooled_variance_moments():
    rng = random.Random(21)
    for _ in range(30):
        xs = [rng.randint(0, 900) for _ in range(rng.randint(2, 60))]
        ys = [rng.randint(0, 900) for _ in range(rng.randint(2, 60))]
        n1, n2 = len(xs), len(ys)
        s1, s2 = sum(xs), sum(ys)
        q1 = sum(x * x for x in xs)
        q2 = sum(y * y for y in ys)
        ssq_ref = sum((Fraction(x) - Fraction(s1, n1)) ** 2 for x in xs)
        ssq_ref += sum((Fraction(y) - Fraction(s2, n2)) ** 2 for y in ys)
        exact = (q1 - Fraction(s1 * s1, n1)) + (q2 - Fraction(s2 * s2, n2))
        assert exact == ssq_ref
        var_q = ((q1 - (s1 * s1) // n1) + (q2 - (s2 * s2) // n2)) // (
            n1 + n2 - 2
        )
        var_ref = ssq_ref / (n1 + n2 - 2)
        assert abs(var_q - var_ref) <= 2
        # Hedges J factor matches the textbook form
        df = n1 + n2 - 2
        assert abs((1 - 3 / (4 * df - 1)) - (1 - 3.0 / (4.0 * df - 1.0))) == 0


# ---------------------------------------------------------------------------
# Gamma / Somers' D 2D suffix factorization (agg_goodman_kruskal_gamma)
# ---------------------------------------------------------------------------


def test_gamma_grid_factorization_bruteforce():
    rng = random.Random(31)
    for _ in range(25):
        n = rng.randint(2, 120)
        pts = [(rng.randint(1, 6), rng.randint(1, 4)) for _ in range(n)]
        c_ref = d_ref = ty_ref = 0
        for i in range(n):
            for j in range(i + 1, n):
                (x1, y1), (x2, y2) = pts[i], pts[j]
                if (x1 - x2) * (y1 - y2) > 0:
                    c_ref += 1
                elif (x1 - x2) * (y1 - y2) < 0:
                    d_ref += 1
                elif y1 == y2 and x1 != x2:
                    ty_ref += 1
        # grid form: per cell, strictly-greater-in-both / greater-x-less-y
        cells = {}
        for p in pts:
            cells[p] = cells.get(p, 0) + 1
        cc = dd = 0
        for (x, y), c in cells.items():
            g = sum(
                c2 for (x2, y2), c2 in cells.items() if x2 > x and y2 > y
            )
            h = sum(
                c2 for (x2, y2), c2 in cells.items() if x2 > x and y2 < y
            )
            cc += c * g
            dd += c * h
        assert (cc, dd) == (c_ref, d_ref)
        # Y-tie count from marginals
        my = {}
        for (x, y), c in cells.items():
            my[y] = my.get(y, 0) + c
        ty2 = sum(m * m for m in my.values()) - sum(
            c * c for c in cells.values()
        )
        assert ty2 // 2 == ty_ref


# ---------------------------------------------------------------------------
# Welch ANOVA quantized pipeline (agg_welch_anova)
# ---------------------------------------------------------------------------


def test_welch_anova_quantized_matches_float():
    rng = random.Random(71)
    for _ in range(25):
        groups = []
        for _ in range(rng.randint(3, 6)):
            n = rng.randint(50, 400)
            base = rng.randint(100, 800)
            groups.append([base + rng.randint(-90, 90) for _ in range(n)])
        # float reference
        k = len(groups)
        w = [
            len(g)
            / (
                sum((x - sum(g) / len(g)) ** 2 for x in g)
                / (len(g) - 1)
            )
            for g in groups
        ]
        ww = sum(w)
        mw = sum(wi * (sum(g) / len(g)) for wi, g in zip(w, groups)) / ww
        num = sum(
            wi * ((sum(g) / len(g)) - mw) ** 2 for wi, g in zip(w, groups)
        ) / (k - 1)
        lam = sum(
            (1 - wi / ww) ** 2 / (len(g) - 1) for wi, g in zip(w, groups)
        )
        f_ref = num / (1 + (2 * (k - 2) / (k * k - 1)) * lam)
        # quantized engine pipeline
        wq = []
        mq = []
        for g in groups:
            n, s = len(g), sum(g)
            q = sum(x * x for x in g)
            wq.append((10**12 * n * n * (n - 1)) // max(n * q - s * s, 1))
            mq.append((10**6 * s) // n)
        wwq = sum(wq)
        mwq = sum(wi * mi for wi, mi in zip(wq, mq)) // wwq
        numq = sum(wi * (mi - mwq) ** 2 for wi, mi in zip(wq, mq)) // 10**12
        lamq = sum(
            (10**9 * (wwq - wi) ** 2) // (wwq * wwq * (len(g) - 1))
            for wi, g in zip(wq, groups)
        )
        f_q = (numq / 1e12 / (k - 1)) / (
            1 + (2 * (k - 2) / (k * k - 1)) * (lamq / 1e9)
        )
        assert abs(f_q - f_ref) < 1e-3 * max(1.0, abs(f_ref))


# ---------------------------------------------------------------------------
# PR-AUC picounit quantization (agg_pr_auc)
# ---------------------------------------------------------------------------


def test_pr_auc_step_interpolation_identity():
    rng = random.Random(17)
    for _ in range(40):
        n = rng.randint(5, 200)
        rows = [(rng.randint(1, 12), rng.random() < 0.3) for _ in range(n)]
        cells = {}
        for s, pos in rows:
            n1, n0 = cells.get(s, (0, 0))
            cells[s] = (n1 + int(pos), n0 + int(not pos))
        p = sum(n1 for n1, _ in cells.values())
        if p == 0:
            continue
        # reference: AP = sum over desc thresholds of d-recall * precision
        tp = pred = 0
        ap_ref = Fraction(0)
        for s in sorted(cells, reverse=True):
            n1, n0 = cells[s]
            tp += n1
            pred += n1 + n0
            if n1 > 0:
                ap_ref += Fraction(n1, p) * Fraction(tp, pred)
        # engines: per-cell picounit floor, sum, then // (p * 1000)
        tp = pred = 0
        acc = 0
        for s in sorted(cells, reverse=True):
            n1, n0 = cells[s]
            tp += n1
            pred += n1 + n0
            if n1 > 0:
                acc += (n1 * tp * 10**12) // pred
        ap_ppb = acc // (p * 1000)
        assert abs(Fraction(ap_ppb, 10**9) - ap_ref) < Fraction(2, 10**9)


# ---------------------------------------------------------------------------
# KS separation cross-multiplied sup (agg_ks_separation)
# ---------------------------------------------------------------------------


def test_ks_separation_cross_multiplied_sup():
    rng = random.Random(71)
    for _ in range(40):
        xs = [rng.randint(1, 10) for _ in range(rng.randint(2, 60))]
        ys = [rng.randint(1, 10) for _ in range(rng.randint(2, 60))]
        p, q = len(xs), len(ys)
        dom = sorted(set(xs) | set(ys))
        best = Fraction(0)
        c1 = c0 = 0
        best_scaled = 0
        for v in dom:
            c1 += sum(1 for x in xs if x == v)
            c0 += sum(1 for y in ys if y == v)
            best = max(best, abs(Fraction(c1, p) - Fraction(c0, q)))
            best_scaled = max(best_scaled, abs(q * c1 - p * c0))
        assert Fraction(best_scaled, p * q) == best


# ---------------------------------------------------------------------------
# ECE telescoping numerator (agg_expected_calibration_error)
# ---------------------------------------------------------------------------


def test_ece_numerator_telescopes():
    rng = random.Random(23)
    for _ in range(40):
        cells = [
            (p10, rng.randint(1, 50), None) for p10 in range(11)
        ]
        cells = [
            (p10, n, rng.randint(0, n)) for p10, n, _ in cells
        ]
        nn = sum(n for _, n, _ in cells)
        ece_ref = sum(
            Fraction(n, nn) * abs(Fraction(o, n) - Fraction(p10, 10))
            for p10, n, o in cells
        )
        num = sum(abs(10 * o - n * p10) for p10, n, o in cells)
        assert Fraction(num, 10 * nn) == ece_ref


# ---------------------------------------------------------------------------
# Gwet AC1 + Krippendorff alpha closed forms (m = 4 raters, 3 categories)
# ---------------------------------------------------------------------------


def _units(rng, n_items):
    units = []
    for _ in range(n_items):
        counts = [0, 0, 0]
        for _ in range(4):
            counts[rng.randint(0, 2)] += 1
        units.append(counts)
    return units


def test_gwet_ac1_closed_form():
    rng = random.Random(41)
    for _ in range(30):
        units = _units(rng, rng.randint(2, 80))
        i = len(units)
        a = sum(c * (c - 1) for u in units for c in u)
        t = [sum(u[q] for u in units) for q in range(3)]
        b = sum(tq * (4 * i - tq) for tq in t)
        pa = Fraction(a, 12 * i)
        pe = sum(
            Fraction(tq, 4 * i) * (1 - Fraction(tq, 4 * i)) for tq in t
        ) / 2
        ref = (pa - pe) / (1 - pe) if pe != 1 else Fraction(0)
        got = Fraction(8 * i * a - 3 * b, 96 * i * i - 3 * b)
        assert got == ref


def test_krippendorff_alpha_closed_form():
    rng = random.Random(43)
    for _ in range(30):
        units = _units(rng, rng.randint(2, 80))
        i = len(units)
        sa = sum(c * c for u in units for c in u)
        t = [sum(u[q] for u in units) for q in range(3)]
        sb = sum(tq * tq for tq in t)
        # coincidence-matrix reference (nominal metric, all m_u = 4)
        d_o = sum(
            Fraction(sum(u[c] * (4 - u[c]) for c in range(3)), 3)
            for u in units
        ) / (4 * i)
        nn = 4 * i
        d_e = Fraction(nn * nn - sb, nn * (nn - 1))
        ref = 1 - d_o / d_e
        got = 1 - Fraction((16 * i - sa) * (4 * i - 1), 3 * (16 * i * i - sb))
        assert got == ref


# ---------------------------------------------------------------------------
# Kendall W with ties, doubled midranks (agg_kendall_w)
# ---------------------------------------------------------------------------


def test_kendall_w_tie_corrected_identity():
    rng = random.Random(47)
    for _ in range(30):
        m = rng.randint(2, 8)  # blocks (years)
        blocks = [[rng.randint(1, 6) for _ in range(12)] for _ in range(m)]
        # reference midranks per block
        r2sum = [0] * 12
        tsum = 0
        for blk in blocks:
            order = sorted(range(12), key=lambda j: blk[j])
            ranks = [0.0] * 12
            k = 0
            while k < 12:
                j = k
                while j < 12 and blk[order[j]] == blk[order[k]]:
                    j += 1
                mid = (k + j + 1) / 2.0
                for idx in order[k:j]:
                    ranks[idx] = mid
                c = j - k
                tsum += c * c * c - c
                k = j
            for jj in range(12):
                r2sum[jj] += int(2 * ranks[jj])
        s4 = sum((r - m * 13) ** 2 for r in r2sum)  # 4*S exactly
        s_ref = sum(
            (Fraction(r, 2) - Fraction(m * 13, 2)) ** 2 for r in r2sum
        )
        assert Fraction(s4, 4) == s_ref
        den = m * m * (12**3 - 12) - m * tsum
        if den > 0:
            w = Fraction(3 * s4, den)
            assert 0 <= w <= 1
            # textbook W from UNdoubled ranks/ties must equal the
            # operator's doubled-rank ratio 12*s4 / (6864 m^2 - 4 m T)
            s_plain = s_ref
            w_ref = Fraction(12 * s_plain, den)
            assert w == w_ref
            den2 = 6864 * m * m - 4 * m * tsum
            assert Fraction(12 * s4, den2) == w_ref


def test_kendall_w_operator_literal_constants():
    """Pin the literal numerator/denominator constants in BOTH the Spark
    expression and the DuckDB oracle: the doubled-rank form divides
    12*s4 by 6864 m^2 - 4 m T (a 3*s4 numerator reports W/4 — the
    round-11 advisor finding)."""
    import inspect

    from mongodb_nats_connector_spark.operators import stats
    from mongodb_nats_connector_spark.registry import _REGISTRY

    src = inspect.getsource(stats.agg_kendall_w)
    oracle = _REGISTRY["agg_kendall_w"].oracle
    for text in (src, oracle):
        assert "(12 * s4)" in text
        assert "(3 * s4)" not in text
        assert "6864" in text


# ---------------------------------------------------------------------------
# Conover squared-rank moments (agg_conover_squared_ranks)
# ---------------------------------------------------------------------------


def test_conover_squared_rank_moments_brute_force():
    from itertools import combinations

    rng = random.Random(53)
    for _ in range(12):
        n1 = rng.randint(2, 5)
        n0 = rng.randint(2, 5)
        vals = [rng.randint(1, 5) for _ in range(n1 + n0)]
        nn = n1 + n0
        # doubled midranks of the pooled values
        a2 = {}
        svals = sorted(vals)
        for v in set(vals):
            lo = sum(1 for x in svals if x < v)
            c = sum(1 for x in svals if x == v)
            a2[v] = 2 * lo + c + 1
        scores = [a2[v] ** 2 for v in vals]  # 4x the squared midrank
        suma = sum(scores)
        suma2 = sum(s * s for s in scores)
        mean_ref = Fraction(n1 * suma, nn)
        var_ref = Fraction(
            n1 * n0 * (nn * suma2 - suma * suma), nn * nn * (nn - 1)
        )
        # brute force over all treatment assignments
        stats = [
            sum(scores[i] for i in comb)
            for comb in combinations(range(nn), n1)
        ]
        mean_bf = Fraction(sum(stats), len(stats))
        var_bf = sum((Fraction(s) - mean_bf) ** 2 for s in stats) / len(stats)
        assert mean_bf == mean_ref
        # permutation variance is the finite-population form; the classical
        # linear-rank formula matches it exactly
        assert var_bf == var_ref


# ---------------------------------------------------------------------------
# Palma head-mass clamp identity + Lorenz asymmetry
# ---------------------------------------------------------------------------


def test_palma_head_mass_clamp_identity():
    rng = random.Random(67)
    for _ in range(40):
        xs = sorted(rng.randint(1, 30) for _ in range(rng.randint(5, 80)))
        n = len(xs)
        for num, den in ((2, 5), (1, 5), (9, 10), (4, 5)):
            k = (num * n) // den
            head_ref = sum(xs[:k])
            # engine form over the value grid
            cells = {}
            for x in xs:
                cells[x] = cells.get(x, 0) + 1
            lo = 0
            head = 0
            for v in sorted(cells):
                c = cells[v]
                head += max(min(k - lo, c), 0) * v
                lo += c
            assert head == head_ref


def test_lorenz_asymmetry_tie_rule():
    rng = random.Random(73)
    for _ in range(40):
        xs = [rng.randint(1, 20) for _ in range(rng.randint(3, 60))]
        n, s = len(xs), sum(xs)
        m = sum(1 for x in xs if n * x < s)
        eq = sum(1 for x in xs if n * x == s)
        lm = sum(x for x in xs if n * x < s)
        f_ref = Fraction(m, n) + Fraction(eq, 2 * n)
        l_ref = (Fraction(lm) + Fraction(eq) * Fraction(s, n) / 2) / s
        assert Fraction(2 * m + eq, 2 * n) == f_ref
        assert Fraction(2 * n * lm + eq * s, 2 * n * s) == l_ref


# ---------------------------------------------------------------------------
# Stuart-Maxwell k=3 closed form (agg_stuart_maxwell)
# ---------------------------------------------------------------------------


def test_stuart_maxwell_closed_form_matches_matrix_form():
    rng = random.Random(89)
    for _ in range(40):
        n = [[rng.randint(0, 30) for _ in range(3)] for _ in range(3)]
        row = [sum(n[i]) for i in range(3)]
        col = [sum(n[i][j] for i in range(3)) for j in range(3)]
        d = [row[i] - col[i] for i in range(3)]
        m12 = n[0][1] + n[1][0]
        m13 = n[0][2] + n[2][0]
        m23 = n[1][2] + n[2][1]
        den = m12 * m13 + m12 * m23 + m13 * m23
        if den == 0:
            continue
        got = Fraction(d[0] ** 2 * m23 + d[1] ** 2 * m13 + d[2] ** 2 * m12,
                       den)
        # matrix form on the (k-1)=2 subspace: chi2 = d' V^-1 d with
        # V_ii = row_i + col_i - 2 n_ii, V_ij = -(n_ij + n_ji)
        v11 = row[0] + col[0] - 2 * n[0][0]
        v22 = row[1] + col[1] - 2 * n[1][1]
        v12 = -(n[0][1] + n[1][0])
        det = v11 * v22 - v12 * v12
        if det == 0:
            continue
        ref = Fraction(
            d[0] ** 2 * v22 - 2 * d[0] * d[1] * v12 + d[1] ** 2 * v11, det
        )
        assert got == ref


# ---------------------------------------------------------------------------
# Dunn post-hoc variance identity (agg_dunn_posthoc)
# ---------------------------------------------------------------------------


def test_dunn_posthoc_variance_identity():
    rng = random.Random(97)
    for _ in range(30):
        groups = {
            g: [rng.randint(1, 8) for _ in range(rng.randint(3, 30))]
            for g in "ABC"
        }
        pooled = sorted(v for xs in groups.values() for v in xs)
        nn = len(pooled)
        # doubled midranks per distinct value
        a2 = {}
        for v in set(pooled):
            lo = sum(1 for x in pooled if x < v)
            c = sum(1 for x in pooled if x == v)
            a2[v] = 2 * lo + c + 1
        tie = sum(
            c**3 - c
            for c in (
                sum(1 for x in pooled if x == v) for v in set(pooled)
            )
        )
        vnum = nn * (nn + 1) * (nn - 1) - tie
        for ga, gb in (("A", "B"), ("A", "C"), ("B", "C")):
            na, nb = len(groups[ga]), len(groups[gb])
            s2a = sum(a2[v] for v in groups[ga])
            s2b = sum(a2[v] for v in groups[gb])
            # reference: z = (Rbar_a - Rbar_b)/sqrt(var), var =
            # (N(N+1)/12 - tie/(12(N-1))) * (1/na + 1/nb)
            rbar_a = Fraction(s2a, 2 * na)
            rbar_b = Fraction(s2b, 2 * nb)
            var = (
                Fraction(nn * (nn + 1), 12)
                - Fraction(tie, 12 * (nn - 1))
            ) * (Fraction(1, na) + Fraction(1, nb))
            if var == 0:
                continue
            import math

            z_ref = float(rbar_a - rbar_b) / math.sqrt(float(var))
            dnum = nb * s2a - na * s2b
            bnum = na * nb * vnum * (na + nb)
            z_id = (
                dnum * math.sqrt(12 * (nn - 1)) / (2 * math.sqrt(bnum))
            )
            assert abs(z_id - z_ref) < 1e-9 * max(1.0, abs(z_ref))
            # the engines' shape: vq = VV div (N-1) pre-divides so the
            # pair product stays in DECIMAL(38,0); relative error of the
            # floor is < (N-1)/VV ~ 1/N^2
            vq = vnum // (nn - 1)
            z_eng = dnum * math.sqrt(12) / (
                2 * math.sqrt(na * nb * (na + nb) * vq)
            )
            assert abs(z_eng - z_ref) < 2e-2 * max(1.0, abs(z_ref))


# ---------------------------------------------------------------------------
# Nemenyi integer significance decision (agg_nemenyi_friedman)
# ---------------------------------------------------------------------------


def test_nemenyi_integer_decision_matches_float_cd():
    import math

    rng = random.Random(101)
    q2_micro = 10679824
    for _ in range(200):
        m = rng.randint(2, 12)
        dr2 = rng.randint(0, 24 * m)  # |R2_i - R2_j| <= 2*m*(k-1)... loose
        mean_diff = dr2 / (2.0 * m)
        cd = math.sqrt(q2_micro / 1e6) * math.sqrt(12 * 13 / (6.0 * m))
        int_sig = dr2 * dr2 * 1000000 > 4 * m * 26 * q2_micro
        float_sig = mean_diff > cd
        # identical except exact-boundary ties, which integers decide
        if abs(mean_diff - cd) > 1e-9:
            assert int_sig == float_sig


def test_uplift_cross_multiplied_identity():
    rng = random.Random(127)
    for _ in range(60):
        cnt = rng.randint(1, 500)
        cnc = rng.randint(1, 500)
        cyt = rng.randint(0, cnt)
        cyc = rng.randint(0, cnc)
        ref = Fraction(cyt, cnt) - Fraction(cyc, cnc)
        num = cyt * cnc - cyc * cnt
        assert Fraction(num, cnt * cnc) == ref


def test_lins_ccc_nscaled_identity():
    rng = random.Random(131)
    for _ in range(40):
        n = rng.randint(2, 60)
        xs = [rng.randint(1, 100) for _ in range(n)]
        ys = [rng.randint(1, 100) for _ in range(n)]
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        mx, my = Fraction(sx, n), Fraction(sy, n)
        cov = Fraction(sxy, n) - mx * my
        vx = Fraction(sxx, n) - mx * mx
        vy = Fraction(syy, n) - my * my
        den = vx + vy + (mx - my) ** 2
        if den == 0:
            continue
        ref = 2 * cov / den
        got = Fraction(
            2 * (n * sxy - sx * sy),
            (n * sxx - sx * sx) + (n * syy - sy * sy) + (sx - sy) ** 2,
        )
        assert got == ref
        assert -1 <= got <= 1


# ---------------------------------------------------------------------------
# Scott's pi (agg_scott_pi) — cleared-denominator identity
# ---------------------------------------------------------------------------


def test_scott_pi_cleared_denominator():
    rng = random.Random(191)
    for _ in range(50):
        cells = [[rng.randint(0, 40) for _ in range(3)] for _ in range(3)]
        nn = sum(sum(r) for r in cells)
        if nn == 0:
            continue
        diag = sum(cells[i][i] for i in range(3))
        s = [
            sum(cells[i][j] for j in range(3))
            + sum(cells[j][i] for j in range(3))
            for i in range(3)
        ]
        po = Fraction(diag, nn)
        pe = sum(Fraction(si, 2 * nn) ** 2 for si in s)
        if pe == 1:
            continue
        ref = (po - pe) / (1 - pe)
        num = 4 * nn * diag - sum(si * si for si in s)
        den = 4 * nn * nn - sum(si * si for si in s)
        assert Fraction(num, den) == ref


# ---------------------------------------------------------------------------
# Fowlkes-Mallows + adjusted Rand (doubled pair counts)
# ---------------------------------------------------------------------------


def _contingency(rng, na=4, nb=5, lo=0, hi=30):
    return [[rng.randint(lo, hi) for _ in range(nb)] for _ in range(na)]


def test_fowlkes_mallows_and_ari_identities():
    rng = random.Random(193)
    for _ in range(40):
        t = _contingency(rng)
        n = sum(sum(r) for r in t)
        if n < 2:
            continue
        a = [sum(r) for r in t]
        b = [sum(t[i][j] for i in range(len(t))) for j in range(len(t[0]))]
        c2 = lambda x: x * (x - 1) // 2  # noqa: E731
        tp = sum(c2(v) for r in t for v in r)
        pa = sum(c2(x) for x in a)
        pb = sum(c2(x) for x in b)
        # doubled counts used by the operators
        t2 = sum(v * (v - 1) for r in t for v in r)
        pa2 = sum(x * (x - 1) for x in a)
        pb2 = sum(x * (x - 1) for x in b)
        assert (t2, pa2, pb2) == (2 * tp, 2 * pa, 2 * pb)
        if pa and pb:
            fm_ref = tp / math.sqrt(pa * pb)
            fm_op = t2 / math.sqrt(float(pa2) * pb2)
            assert abs(fm_ref - fm_op) < 1e-12
        tot = c2(n)
        if tot == 0:
            continue
        exp = Fraction(pa * pb, tot)
        den_ref = Fraction(pa + pb, 2) - exp
        if den_ref == 0:
            continue
        ari_ref = (tp - exp) / den_ref
        tot2 = n * (n - 1)
        num = tot2 * t2 - pa2 * pb2
        den = tot2 * ((pa2 + pb2) // 2) - pa2 * pb2
        assert (pa2 + pb2) % 2 == 0
        assert Fraction(num, den) == ari_ref


# ---------------------------------------------------------------------------
# GE(2) (agg_ge2_index) — half squared CV identity
# ---------------------------------------------------------------------------


def test_ge2_identity():
    rng = random.Random(197)
    for _ in range(50):
        xs = [rng.randint(1, 10**6) for _ in range(rng.randint(2, 60))]
        n, s, s2 = len(xs), sum(xs), sum(x * x for x in xs)
        mean = Fraction(s, n)
        ge2_ref = (Fraction(s2, n) / mean**2 - 1) / 2
        assert Fraction(n * s2 - s * s, 2 * s * s) == ge2_ref


# ---------------------------------------------------------------------------
# Medcouple (agg_medcouple) — doubled kernel vs float reference
# ---------------------------------------------------------------------------


def test_medcouple_doubled_kernel():
    rng = random.Random(199)
    for _ in range(30):
        n = rng.randint(5, 40)
        xs = sorted(rng.randint(1, 10**6) for _ in range(n))
        med2 = xs[(n + 1) // 2 - 1] + xs[n // 2]
        med = med2 / 2.0
        for _ in range(20):
            xi, xj = rng.choice(xs), rng.choice(xs)
            if not (2 * xi <= med2 <= 2 * xj and xi < xj):
                continue
            ref = ((xj - med) - (med - xi)) / (xj - xi)
            num = (2 * xj - med2) + (2 * xi - med2)
            den = 2 * (xj - xi)
            assert abs(num / den - ref) < 1e-12
            # sign-split ppb quantization is the emitted form
            sign = 1 if num >= 0 else -1
            q = sign * ((10**9 * abs(num)) // den)
            assert abs(q / 1e9 - ref) < 2e-9


# ---------------------------------------------------------------------------
# Footrule normalization (agg_spearman_footrule)
# ---------------------------------------------------------------------------


def test_footrule_max_is_72_for_n12():
    ranks = list(range(1, 13))
    worst = sum(abs(a - b) for a, b in zip(ranks, ranks[::-1]))
    assert worst == 72  # n^2/2 for even n = 12


# ---------------------------------------------------------------------------
# NDCG discount literals (agg_ndcg_at10)
# ---------------------------------------------------------------------------


def test_ndcg_discount_literals():
    from mongodb_nats_connector_spark.operators.stats import _NDCG_W

    table = eval(_NDCG_W)  # noqa: S307 - literal list
    assert table == [
        math.floor(1e9 / math.log2(i + 1)) for i in range(1, 11)
    ]


# ---------------------------------------------------------------------------
# Theil T / L on the bucketed domain (agg_theil_index)
# ---------------------------------------------------------------------------


def test_theil_bucketed_reference():
    rng = random.Random(239)
    for _ in range(20):
        vals = [rng.randint(1, 300) for _ in range(rng.randint(5, 200))]
        n, s = len(vals), sum(vals)
        t_ref = sum((v / s) * math.log(v * n / s) for v in vals)
        l_ref = sum(math.log(s / (n * v)) for v in vals) / n
        # the operator's per-cell quantized sums approximate within the
        # quantization budget (1e-6 per cell, <= #cells cells)
        from collections import Counter

        cells = Counter(vals)
        tnum = sum(
            math.floor(1e6 * c * v * math.log(n * v / s))
            for v, c in cells.items()
        )
        lnum = sum(
            math.floor(1e6 * c * math.log(s / (n * v)))
            for v, c in cells.items()
        )
        assert abs(tnum / (1e6 * s) - t_ref) < len(cells) / (1e6 * min(1, s) if s else 1)
        assert abs(tnum / 1e6 / s - t_ref) < 1e-3
        assert abs(lnum / 1e6 / n - l_ref) < 1e-3
        assert t_ref >= -1e-12 and l_ref >= -1e-12


# ---------------------------------------------------------------------------
# Gumbel fit constants (agg_gumbel_fit)
# ---------------------------------------------------------------------------


def test_gumbel_literal_constants():
    import inspect

    from mongodb_nats_connector_spark.operators import stats
    from mongodb_nats_connector_spark.registry import _REGISTRY

    src = inspect.getsource(stats.agg_gumbel_fit)
    oracle = _REGISTRY["agg_gumbel_fit"].oracle
    sqrt6_over_pi = repr(math.sqrt(6) / math.pi)
    euler_gamma = "0.5772156649015329"
    # -ln(-ln(0.99)) for the 99% return level
    rl99 = repr(-math.log(-math.log(0.99)))
    for text in (src, oracle):
        assert sqrt6_over_pi in text, sqrt6_over_pi
        assert euler_gamma in text
        assert rl99 in text, rl99


# ---------------------------------------------------------------------------
# F1 sweep identity (agg_f1_sweep)
# ---------------------------------------------------------------------------


def test_f1_harmonic_identity():
    rng = random.Random(263)
    for _ in range(200):
        p = rng.randint(1, 1000)           # total positives
        tp = rng.randint(0, p)
        fp = rng.randint(0, 1000)
        fn = p - tp
        if tp + fp == 0:
            continue
        prec = Fraction(tp, tp + fp)
        rec = Fraction(tp, p)
        if prec + rec == 0:
            continue
        f1_ref = 2 * prec * rec / (prec + rec)
        # the operator's single-division form
        assert Fraction(2 * tp, tp + fp + p) == f1_ref


# ---------------------------------------------------------------------------
# Log-loss Laplace clamp (agg_log_loss)
# ---------------------------------------------------------------------------


def test_log_loss_clamp_properties():
    # p' = (10*p10 + 1)/102 maps the tenths grid into (0, 1) symmetrically
    ps = [(10 * d + 1) / 102 for d in range(11)]
    assert all(0 < p < 1 for p in ps)
    assert abs(ps[0] + ps[10] - 1) < 1e-12  # endpoint symmetry
    # and is monotone so ranking by p is preserved
    assert ps == sorted(ps)


def test_cronbach_cleared_denominator():
    rng = random.Random(281)
    for _ in range(40):
        m = rng.randint(3, 40)
        rows = [[rng.randint(1, 50) for _ in range(4)] for _ in range(m)]
        cols = list(zip(*rows))
        n = m
        # n-scaled variance numerators share the 1/(n(n-1)) factor
        def vnum(xs):
            s = sum(xs)
            return n * sum(x * x for x in xs) - s * s

        sum_vi = sum(vnum(c) for c in cols)
        totals = [sum(r) for r in rows]
        vt = vnum(totals)
        if vt == 0:
            continue
        # float reference with population-consistent scaling cancels
        alpha_ref = Fraction(4, 3) * (1 - Fraction(sum_vi, vt))
        assert Fraction(4 * (vt - sum_vi), 3 * vt) == alpha_ref


def test_icc_oneway_cleared_denominator():
    rng = random.Random(283)
    for _ in range(40):
        m = rng.randint(3, 30)
        groups = [[rng.randint(1, 500) for _ in range(4)] for _ in range(m)]
        t = sum(sum(g) for g in groups)
        sgg = sum(sum(g) ** 2 for g in groups)
        st2 = sum(x * x for g in groups for x in g)
        ssb = Fraction(sgg, 4) - Fraction(t * t, 4 * m)
        ssw = st2 - Fraction(sgg, 4)
        msb = ssb / (m - 1)
        msw = ssw / (3 * m)
        if msb + 3 * msw == 0:
            continue
        icc_ref = (msb - msw) / (msb + 3 * msw)
        a = m * sgg - t * t
        b = 4 * st2 - sgg
        assert Fraction(3 * a - (m - 1) * b, 3 * a + 3 * (m - 1) * b) == icc_ref


def test_ks_uniform_decision_cross_multiplication():
    rng = random.Random(293)
    for _ in range(200):
        n = rng.randint(100, 10**6)
        dnum = rng.randint(0, 11 * n)
        d = dnum / (11 * n)
        flag_float = d > 1.36 / math.sqrt(n)
        flag_int = 10000 * dnum * dnum > 18496 * 121 * n
        lhs, rhs = 10000 * dnum * dnum, 18496 * 121 * n
        if abs(lhs - rhs) > 1e-9 * max(1, rhs):
            assert flag_int == flag_float


def test_overlap_coefficient_identity():
    rng = random.Random(307)
    for _ in range(50):
        k = rng.randint(2, 30)
        c1 = [rng.randint(0, 100) for _ in range(k)]
        c2 = [rng.randint(0, 100) for _ in range(k)]
        n1, n2 = sum(c1), sum(c2)
        if n1 == 0 or n2 == 0:
            continue
        ref = sum(min(Fraction(a, n1), Fraction(b, n2)) for a, b in zip(c1, c2))
        got = Fraction(sum(min(a * n2, b * n1) for a, b in zip(c1, c2)), n1 * n2)
        assert got == ref
        assert 0 <= ref <= 1


def test_tukey_fence_doubling():
    rng = random.Random(313)
    for _ in range(100):
        q1 = rng.randint(1, 40)
        q3 = q1 + rng.randint(0, 30)
        lo = q1 - 1.5 * (q3 - q1)
        hi = q3 + 1.5 * (q3 - q1)
        assert 5 * q1 - 3 * q3 == 2 * lo
        assert 5 * q3 - 3 * q1 == 2 * hi
        v = rng.randint(-50, 100)
        assert (2 * v < 5 * q1 - 3 * q3) == (v < lo)
        assert (2 * v > 5 * q3 - 3 * q1) == (v > hi)


def test_two_proportion_cross_multiplication():
    rng = random.Random(347)
    for _ in range(200):
        n1, n2 = rng.randint(10, 10**5), rng.randint(10, 10**5)
        r1, r2 = rng.randint(0, n1), rng.randint(0, n2)
        big_r, big_n = r1 + r2, n1 + n2
        if big_r == 0 or big_r == big_n:
            continue
        p1, p2, pp = r1 / n1, r2 / n2, big_r / big_n
        se2 = pp * (1 - pp) * (1 / n1 + 1 / n2)
        if se2 == 0:
            continue
        flag_float = (p1 - p2) ** 2 > 1.96**2 * se2
        lhs = 10000 * (r1 * n2 - r2 * n1) ** 2 * big_n
        rhs = 38416 * big_r * (big_n - big_r) * n1 * n2
        if abs(lhs - rhs) > 1e-9 * max(1, rhs):
            assert (lhs > rhs) == flag_float


def test_yule_q_identity():
    rng = random.Random(331)
    for _ in range(100):
        a, b, c, d = (rng.randint(1, 500) for _ in range(4))
        q = Fraction(a * d - b * c, a * d + b * c)
        # odds-ratio map onto [-1,1]: Q = (OR-1)/(OR+1)
        orr = Fraction(a * d, b * c)
        assert q == (orr - 1) / (orr + 1)
        assert -1 <= q <= 1


def test_goodman_kruskal_lambda_is_pre():
    rng = random.Random(337)
    for _ in range(60):
        cells = [[rng.randint(0, 50) for _ in range(3)] for _ in range(5)]
        n = sum(sum(r) for r in cells)
        colmarg = [sum(cells[i][j] for i in range(5)) for j in range(3)]
        if n == max(colmarg):
            continue
        # proportional reduction in error of the modal column guess
        e_without = n - max(colmarg)
        e_with = n - sum(max(r) for r in cells)
        lam = Fraction(e_without - e_with, e_without)
        assert lam == Fraction(sum(max(r) for r in cells) - max(colmarg),
                               n - max(colmarg))
        assert 0 <= lam <= 1


def _pair_counts(pts):
    conc = disc = tie_x = tie_y = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx == 0 and dy == 0:
                continue
            elif dx == 0:
                tie_x += 1
            elif dy == 0:
                tie_y += 1
            elif (dx > 0) == (dy > 0):
                conc += 1
            else:
                disc += 1
    return conc, disc, tie_x, tie_y


def test_stuart_tau_c_cell_orientation_and_literal():
    rng = random.Random(347)
    for _ in range(30):
        pts = [(rng.randint(1, 5), rng.randint(1, 3)) for _ in range(40)]
        conc, disc, _, _ = _pair_counts(pts)
        # cell-pair formula with the r2 > r1 orientation counts each
        # unordered concordant/discordant pair exactly once
        from collections import Counter
        cells = Counter(pts)
        c2 = sum(
            na * nb
            for (r1, c1), na in cells.items()
            for (r2, cc2), nb in cells.items()
            if r2 > r1 and cc2 > c1
        )
        d2 = sum(
            na * nb
            for (r1, c1), na in cells.items()
            for (r2, cc2), nb in cells.items()
            if r2 > r1 and cc2 < c1
        )
        assert (c2, d2) == (conc, disc)
        n = len(pts)
        m = 3
        tau_c = Fraction(2 * m * (conc - disc), n * n * (m - 1))
        # the fused ppb literal: 1e9 * 2m = 6e9 with m = 3, denominator
        # n^2 (m-1)
        assert Fraction(6000000000 * (conc - disc),
                        10**9 * n * n * (m - 1)) == tau_c


def test_somers_d_identity():
    rng = random.Random(349)
    for _ in range(30):
        pts = [(rng.randint(1, 7), rng.randint(1, 9)) for _ in range(50)]
        conc, disc, tie_x, tie_y = _pair_counts(pts)
        if conc + disc + tie_y == 0:
            continue
        d_yx = Fraction(conc - disc, conc + disc + tie_y)
        from collections import Counter
        cells = Counter(pts)
        cc = sum(na * nb for (x1, y1), na in cells.items()
                 for (x2, y2), nb in cells.items() if x2 > x1 and y2 > y1)
        dd = sum(na * nb for (x1, y1), na in cells.items()
                 for (x2, y2), nb in cells.items() if x2 > x1 and y2 < y1)
        ty = sum(na * nb for (x1, y1), na in cells.items()
                 for (x2, y2), nb in cells.items() if x2 > x1 and y2 == y1)
        assert Fraction(cc - dd, cc + dd + ty) == d_yx


def test_rank_biserial_x8_identity():
    rng = random.Random(353)
    for _ in range(40):
        xs = [rng.randint(1, 10) for _ in range(rng.randint(3, 25))]
        ys = [rng.randint(1, 10) for _ in range(rng.randint(3, 25))]
        n1, n2 = len(xs), len(ys)
        # direct favorable/unfavorable pair counts (ties -> 1/2)
        u1 = sum(
            Fraction(1) if x > y else
            (Fraction(1, 2) if x == y else Fraction(0))
            for x in xs for y in ys
        )
        rb = 1 - Fraction(2) * u1 / (n1 * n2)
        # the operator's midrank route: doubled midranks over the value
        # grid, r1_twice = sum cnt_a * (2 cum - cnt + 1), u1_x8 =
        # 2(2 r1_twice - 2 n1 (n1+1))
        vals = sorted(set(xs + ys))
        cum = 0
        r1_twice = 0
        from collections import Counter
        ca, cb = Counter(xs), Counter(ys)
        for v in vals:
            cnt = ca[v] + cb[v]
            cum += cnt
            r1_twice += ca[v] * (2 * cum - cnt + 1)
        u1_x8 = 2 * (2 * r1_twice - 2 * n1 * (n1 + 1))
        assert Fraction(u1_x8, 8) == u1
        assert Fraction(8 * n1 * n2 - 2 * u1_x8, 8 * n1 * n2) == rb


def test_weighted_kappa_cleared_denominator():
    rng = random.Random(359)
    for _ in range(50):
        cells = [[rng.randint(0, 30) for _ in range(4)] for _ in range(4)]
        n = sum(sum(r) for r in cells)
        if n == 0:
            continue
        w_obs = sum(abs(i - j) * cells[i][j]
                    for i in range(4) for j in range(4))
        rm = [sum(cells[i]) for i in range(4)]
        cm = [sum(cells[i][j] for i in range(4)) for j in range(4)]
        w_exp = sum(abs(i - j) * rm[i] * cm[j]
                    for i in range(4) for j in range(4))
        if w_exp == 0:
            continue
        # textbook: kappa_w = 1 - (W_obs/n) / (W_exp/n^2)
        kw = 1 - Fraction(w_obs, n) / Fraction(w_exp, n * n)
        assert Fraction(w_exp - n * w_obs, w_exp) == kw


def test_geary_ratio_cleared_denominator():
    rng = random.Random(367)
    for _ in range(50):
        xs = [rng.randint(1, 50) for _ in range(rng.randint(5, 60))]
        n = len(xs)
        s = sum(xs)
        s2 = sum(x * x for x in xs)
        if n * s2 - s * s == 0:
            continue
        mad = Fraction(sum(abs(x * n - s) for x in xs), n * n)
        var = Fraction(n * s2 - s * s, n * n)
        a2 = mad * mad / var
        adev = sum(abs(n * x - s) for x in xs)
        assert Fraction(adev * adev, n * n * (n * s2 - s * s)) == a2


def test_blomqvist_lower_median_and_beta():
    rng = random.Random(373)
    for _ in range(60):
        xs = sorted(rng.randint(1, 9) for _ in range(rng.randint(4, 30)))
        n = len(xs)
        # lower median = element at index ceil(n/2) - 1 (1-based rank
        # ceil(n/2)); the grid rule picks min v with 2*cum(v) >= n
        from collections import Counter
        cnt = Counter(xs)
        cum = 0
        med = None
        for v in sorted(cnt):
            cum += cnt[v]
            if 2 * cum >= n and med is None:
                med = v
        assert med == xs[(n - 1) // 2]
    # beta identity on quadrant counts
    for _ in range(40):
        pp, mm, pm, mp = (rng.randint(0, 50) for _ in range(4))
        tot = pp + mm + pm + mp
        if tot == 0:
            continue
        beta = Fraction((pp + mm) - (pm + mp), tot)
        # equivalently 2*P(concordant quadrant) - 1 among off-median points
        assert beta == 2 * Fraction(pp + mm, tot) - 1


def test_tukey_quick_counting_convention():
    rng = random.Random(421)
    for _ in range(80):
        a = [rng.randint(0, 60) for _ in range(rng.randint(3, 25))]
        b = [rng.randint(0, 60) for _ in range(rng.randint(3, 25))]
        if max(a) > max(b) and min(a) > min(b):
            direction, t = 1, (
                sum(1 for x in a if x > max(b))
                + sum(1 for y in b if y < min(a))
            )
        elif max(b) > max(a) and min(b) > min(a):
            direction, t = -1, (
                sum(1 for y in b if y > max(a))
                + sum(1 for x in a if x < min(b))
            )
        else:
            direction, t = 0, 0
        # the operator's branch structure reproduces exactly this
        if direction == 0:
            assert t == 0
        else:
            assert t >= 2  # at least the two extreme points themselves
        assert (t >= 7) <= (t >= 2)  # thresholds only reachable via t


def test_fligner_policello_cleared_identity():
    rng = random.Random(431)
    for _ in range(60):
        xs = [rng.randint(1, 12) for _ in range(rng.randint(4, 20))]
        ys = [rng.randint(1, 12) for _ in range(rng.randint(4, 20))]
        m, n = len(xs), len(ys)
        # textbook placements with half-ties
        P = [sum(1 for y in ys if y < x)
             + Fraction(1, 2) * sum(1 for y in ys if y == x) for x in xs]
        Q = [sum(1 for x in xs if x < y)
             + Fraction(1, 2) * sum(1 for x in xs if x == y) for y in ys]
        pbar = sum(P) / m
        qbar = sum(Q) / n
        vp = sum((p - pbar) ** 2 for p in P)
        vq = sum((q - qbar) ** 2 for q in Q)
        denom = vp + vq + pbar * qbar
        if denom == 0:
            continue
        u2_ref = (sum(P) - sum(Q)) ** 2 / (4 * denom)
        # the operator's doubled-placement integers
        sp = sum(int(2 * p) for p in P)
        sq = sum(int(2 * q) for q in Q)
        sp2 = sum(int(2 * p) ** 2 for p in P)
        sq2 = sum(int(2 * q) ** 2 for q in Q)
        u2_int = Fraction(
            m * n * (sp - sq) ** 2,
            4 * (n * (m * sp2 - sp * sp) + m * (n * sq2 - sq * sq)
                 + sp * sq),
        )
        assert u2_int == u2_ref
        # and the doubled grid placements really are integers
        assert all(2 * p == int(2 * p) for p in P)


def test_pearson_median_skewness_cleared():
    rng = random.Random(433)
    for _ in range(60):
        xs = [rng.randint(1, 50) for _ in range(rng.randint(5, 50))]
        n, s = len(xs), sum(xs)
        s2 = sum(x * x for x in xs)
        if n * s2 - s * s == 0:
            continue
        med = sorted(xs)[(n - 1) // 2]
        mean = Fraction(s, n)
        var_pop = Fraction(n * s2 - s * s, n * n)
        skew2_ref = 9 * (mean - med) ** 2 / var_pop
        assert Fraction(9 * (s - n * med) ** 2, n * s2 - s * s) == skew2_ref


def test_watson_u2_centering_and_shift_invariance():
    rng = random.Random(439)
    for _ in range(60):
        k = rng.randint(2, 11)
        d = [rng.randint(-500, 500) for _ in range(k)]
        dbar = Fraction(sum(d), k)
        ref = sum((di - dbar) ** 2 for di in d)
        cleared = Fraction(k * sum(x * x for x in d) - sum(d) ** 2, k)
        assert cleared == ref
        # Watson's rotation property: a common shift leaves U^2 unchanged
        c = rng.randint(-100, 100)
        shifted = [di + c for di in d]
        assert (
            k * sum(x * x for x in shifted) - sum(shifted) ** 2
            == k * sum(x * x for x in d) - sum(d) ** 2
        )


def test_james_stein_positive_part_contraction():
    rng = random.Random(443)
    for _ in range(60):
        k = rng.randint(4, 25)
        gms = [rng.randint(-10**6, 10**6) for _ in range(k)]
        nis = [rng.randint(2, 50) for _ in range(k)]
        vbar = rng.randint(0, 10**10)
        gg = sum(g * n for g, n in zip(gms, nis)) // sum(nis)
        ss = sum((g - gg) ** 2 for g in gms)
        fac_num = max(ss - (k - 3) * vbar, 0)
        for gm in gms:
            if gm >= gg:
                shrunk = gg + (fac_num * (gm - gg)) // max(ss, 1)
            else:
                shrunk = gg - (fac_num * (gg - gm)) // max(ss, 1)
            # positive-part JS contracts toward gg and never overshoots
            assert min(gm, gg) <= shrunk <= max(gm, gg)
            if fac_num == 0:
                assert shrunk == gg
        # unclamped factor matches the textbook 1 - (k-3) vbar / SS
        if ss > 0 and ss - (k - 3) * vbar >= 0:
            c = 1 - Fraction((k - 3) * vbar, ss)
            assert Fraction(fac_num, ss) == c


# ---------------------------------------------------------------------------
# Weighted median (agg_weighted_median)
# ---------------------------------------------------------------------------


def test_weighted_median_reduces_to_plain_median_on_unit_weights(spark):
    """With all weights forced to 1 the crossing rule gives the lower median
    — cross-check against percentile_approx-free exact computation."""
    import statistics

    df = spark.createDataFrame(
        [("a", float(v)) for v in [5, 1, 9, 3, 7]]
        + [("b", float(v)) for v in [4, 2, 8, 6]],
        "g string, v double",
    )
    from pyspark.sql import Window

    per_value = df.groupBy("g", "v").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    w_cum = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_tot = Window.partitionBy("g")
    cum = per_value.select(
        "g", "v", F.sum("w").over(w_cum).alias("cw"), F.sum("w").over(w_tot).alias("tw")
    )
    got = {
        r["g"]: r["m"]
        for r in cum.groupBy("g")
        .agg(F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v"))).alias("m"))
        .collect()
    }
    assert got["a"] == statistics.median([5, 1, 9, 3, 7])  # odd: true median
    assert got["b"] == 4.0  # even: lower median


def test_weighted_median_windows_over_reduced_relation(spark):
    """The ordered window must consume the per-(group, value) aggregate, not
    the raw fact table: exactly one shuffle on the fact, then the window's
    partial exchange over the reduced relation."""
    from mongodb_nats_connector_spark.operators.stats import agg_weighted_median

    s = plan_string(agg_weighted_median(spark, SF))
    below_window = s[s.index("Window"):]
    # reading top-down from the Window operator, a HashAggregate (the
    # per-(group, value) pre-agg) must sit between it and the scan
    assert "HashAggregate" in below_window
    assert below_window.index("HashAggregate") < below_window.index("Scan parquet")


# ---------------------------------------------------------------------------
# Sketches: count-min, KMV, HLL, bitmap (agg_heavy_hitters_cms,
# agg_kmv_distinct_setops, agg_hll_registers, agg_bitmap_distinct)
# ---------------------------------------------------------------------------


def test_cms_never_underestimates(spark):
    """The defining CMS property: est >= true for every reported key, and
    the heaviest key survives sketching (top-1 by estimate == exact top-1
    when its true count is strictly dominant)."""
    out = agg_heavy_hitters_cms(spark, SF).toPandas()
    n_keys = table(spark, SF, "lineitem").select("l_suppkey").distinct().count()
    assert len(out) == min(20, n_keys)
    assert (out["est_count"] >= out["true_count"]).all()
    exact = (
        table(spark, SF, "lineitem")
        .groupBy("l_suppkey")
        .count()
        .toPandas()
        .sort_values(["count", "l_suppkey"], ascending=[False, True])
    )
    # the estimate's top key must be among the true heavy hitters (its true
    # count within the additive CMS error bound of the true max)
    eps_bound = len(table(spark, SF, "lineitem").toPandas()) * 2.0 / CMS_WIDTH
    top_est = out.iloc[0]
    assert top_est["true_count"] >= exact["count"].max() - eps_bound


def test_kmv_estimates_within_bounds(spark):
    """KMV standard error is ~1/sqrt(k-2) (~13% at k=64); assert a loose
    3-sigma envelope vs the exact counts it carries, plus sketch algebra
    sanity (union >= each side, intersection <= union)."""
    from mongodb_nats_connector_spark.operators.stats import agg_kmv_distinct_setops

    r = agg_kmv_distinct_setops(spark, SF).collect()[0]
    for est, exact in [
        (r["est_a"], r["exact_a"]),
        (r["est_b"], r["exact_b"]),
        (r["est_union"], r["exact_union"]),
        (r["est_inter"], r["exact_inter"]),
    ]:
        assert exact > 0
        assert abs(est - exact) / exact < 0.4, (est, exact)
    assert r["est_union"] >= max(r["est_a"], r["est_b"]) * 0.6
    assert r["est_inter"] <= r["est_union"]


def test_kmv_exact_below_k(spark):
    """When a cohort has fewer than k distinct members the sketch IS the
    set and the estimate must be exact. sf0.001 has fewer than k=64
    distinct users per cohort, so the registered query itself exercises
    the exact branch here (sf0.01+ exercises the estimation branch)."""
    from mongodb_nats_connector_spark.operators.stats import (
        KMV_K,
        agg_kmv_distinct_setops,
    )

    r = agg_kmv_distinct_setops(spark, SF).collect()[0]
    if r["exact_a"] < KMV_K:
        assert r["est_a"] == r["exact_a"]
    if r["exact_union"] < KMV_K:
        assert r["est_union"] == r["exact_union"]
        assert r["est_inter"] == r["exact_inter"]


def test_hll_registers_error_bound_and_merge_monotone(spark):
    """HLL relative error at m=256 is sigma ~ 1.04/16 = 6.5%; assert a
    loose 4-sigma envelope per cohort, and that the merged-register row
    dominates every cohort estimate (registers are pointwise >=, and the
    estimate is monotone in the registers)."""
    from mongodb_nats_connector_spark.operators.stats import agg_hll_registers

    rows = {r["cohort"]: r for r in agg_hll_registers(spark, SF).collect()}
    assert "ALL" in rows
    for cohort, r in rows.items():
        assert abs(r["est_userdays"] - r["exact_userdays"]) <= max(
            0.3 * r["exact_userdays"], 3
        ), (cohort, r)
    all_est = rows["ALL"]["est_userdays"]
    for cohort, r in rows.items():
        if cohort != "ALL":
            assert all_est >= r["est_userdays"]


def test_bitmap_distinct_equals_exact(spark):
    from mongodb_nats_connector_spark.operators.stats import agg_bitmap_distinct

    got = {
        r["event_type"]: r["n_users"]
        for r in agg_bitmap_distinct(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact


# ---------------------------------------------------------------------------
# Tests, merges and histograms (agg_chi_square, agg_incremental_merge,
# agg_log2_histogram_quantiles, agg_ks_test)
# ---------------------------------------------------------------------------


def test_r5c_statistics_invariants(spark):
    """Sanity bounds that hold on ANY data: chi² >= 0 with the right cell
    count; Welch t finite with positive group sizes; Pareto shares sum to 1
    and decrease; lift and Jaccard positive with Jaccard <= 1."""
    from mongodb_nats_connector_spark.operators.graph import graph_jaccard_neighbors
    from mongodb_nats_connector_spark.operators.orders import (
        orders_basket_lift,
        orders_pareto_curve,
    )
    from mongodb_nats_connector_spark.operators.stats import (
        agg_chi_square,
        agg_welch_ttest,
    )

    chi = agg_chi_square(spark, SF).toPandas().iloc[0]
    assert chi["chi_square"] >= 0
    assert chi["n_cells"] > 0 and chi["n_obs"] > 0

    t = agg_welch_ttest(spark, SF).toPandas().iloc[0]
    assert t["n_purchase"] > 0 and t["n_click"] > 0
    assert np.isfinite(t["welch_t"])

    par = orders_pareto_curve(spark, SF).toPandas().sort_values("bucket")
    assert abs(par["revenue_share"].sum() - 1.0) < 1e-3
    assert (np.diff(par["revenue_share"].values) <= 1e-9).all(), (
        "revenue share must be non-increasing across rank buckets"
    )

    lift = orders_basket_lift(spark, SF).toPandas()
    assert (lift["lift"] > 0).all()

    jac = graph_jaccard_neighbors(spark, SF).toPandas()
    assert ((jac["jaccard"] > 0) & (jac["jaccard"] <= 1.0)).all()


def test_incremental_merge_equals_full_recompute(spark):
    """The defining property: merging base+delta partials must equal the
    single-pass aggregation over the whole table."""
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.operators.stats import agg_incremental_merge

    merged = (
        agg_incremental_merge(spark, SF)
        .toPandas()
        .sort_values("month")
        .reset_index(drop=True)
    )
    full = (
        table(spark, SF, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.round(F.sum("o_totalprice") / F.count(F.lit(1)), 4).alias(
                "avg_price"
            ),
        )
        .toPandas()
        .sort_values("month")
        .reset_index(drop=True)
    )
    assert merged.equals(full)


def test_log2_histogram_counts_and_quantile_flags(spark):
    """Bucket counts tile the positive measurements; each quantile flag
    marks exactly one bucket, and that bucket's [lo, hi] range contains
    the numpy-exact quantile of the tick-quantized values."""
    import numpy as np

    from mongodb_nats_connector_spark.operators.stats import (
        _LOG2_SCALE,
        agg_log2_histogram_quantiles,
    )

    rows = agg_log2_histogram_quantiles(spark, SF).orderBy("bucket").collect()
    vals = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("value") > 0)
        .select("value")
        .toPandas()["value"]
        .to_numpy()
    )
    ticks = np.round(vals * _LOG2_SCALE).astype("int64")
    assert sum(r["cnt"] for r in rows) == len(ticks)
    assert rows[-1]["cum"] == len(ticks)
    for flag, q in [
        ("is_p50_bucket", 0.5),
        ("is_p90_bucket", 0.9),
        ("is_p99_bucket", 0.99),
    ]:
        marked = [r for r in rows if r[flag]]
        assert len(marked) == 1, flag
        # the q-quantile by the inverted-CDF definition lands in the bucket
        k = int(np.ceil(q * len(ticks)))  # 1-indexed order statistic
        qv = np.sort(ticks)[k - 1] / _LOG2_SCALE
        assert marked[0]["lo"] <= qv <= marked[0]["hi"], (flag, qv, marked)


def test_ks_statistic_matches_pandas(spark):
    import numpy as np

    from mongodb_nats_connector_spark.operators.stats import (
        _KS_G1,
        _KS_G2,
        agg_ks_test,
    )

    r = agg_ks_test(spark, SF).collect()[0]
    o = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderstatus", "o_totalprice")
        .toPandas()
    )
    a = np.sort(o[o.o_orderstatus == _KS_G1].o_totalprice.to_numpy())
    b = np.sort(o[o.o_orderstatus == _KS_G2].o_totalprice.to_numpy())
    grid = np.unique(np.concatenate([a, b]))
    f1 = np.searchsorted(a, grid, side="right") / len(a)
    f2 = np.searchsorted(b, grid, side="right") / len(b)
    d = float(np.abs(f1 - f2).max())
    assert r["n1"] == len(a) and r["n2"] == len(b)
    assert abs(r["ks_d"] - d) < 1e-6
    crit = 1.3581015157406195 * np.sqrt((len(a) + len(b)) / (len(a) * len(b)))
    assert abs(r["crit_05"] - crit) < 1e-6
    assert r["reject_05"] == (d > crit)


# ---------------------------------------------------------------------------
# Rank, dispersion, agreement and impurity statistics and the Poisson
# bootstrap, recomputed from their definitions
# ---------------------------------------------------------------------------


def test_mann_whitney_identities(spark):
    """U1 + U2 = n1*n2 exactly, and U1 recomputed from scipy-free midranks
    in pandas matches."""
    from mongodb_nats_connector_spark.operators.stats import (
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
    from mongodb_nats_connector_spark.operators.stats import agg_benford_test

    out = agg_benford_test(spark, SF).toPandas().sort_values("digit")
    assert abs(out["share"].sum() - 1.0) < 1e-4
    for _, r in out.iterrows():
        assert abs(r["benford_share"] - round(math.log10(1 + 1 / r["digit"]), 6)) < 1e-9
        assert r["chi2_term"] >= 0


def test_wilson_interval_bounds(spark):
    """Wilson bounds are inside [0,1] and bracket p_hat."""
    from mongodb_nats_connector_spark.operators.stats import agg_wilson_ci

    out = agg_wilson_ci(spark, SF).toPandas()
    assert len(out) > 0
    assert (out["ci_lo"] >= 0).all() and (out["ci_hi"] <= 1).all()
    assert (out["ci_lo"] <= out["p_hat"] + 1e-9).all()
    assert (out["ci_hi"] >= out["p_hat"] - 1e-9).all()


def test_autocorrelation_bounds_and_lag1(spark):
    """|acf| <= 1, and lag-1 matches a numpy recompute."""
    import numpy as np

    from mongodb_nats_connector_spark.operators.stats import agg_autocorrelation

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


def test_mutual_information_single_type_zero_rows(spark, tmp_path):
    """One event type -> H(X) = 0 -> NMI undefined -> zero rows."""
    from mongodb_nats_connector_spark.operators.stats import agg_mutual_information

    rows = [
        (i, f"2024-01-{1 + i % 7:02d} 09:00:00", 1, "view") for i in range(20)
    ]
    _write_events9(spark, str(tmp_path), rows)
    assert agg_mutual_information(spark, str(tmp_path)).count() == 0


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


def _li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()


def test_kruskal_wallis_matches_rank_formula(spark):
    """H (and its tie correction) must match the direct midrank formula
    computed with pandas average ranks."""
    from mongodb_nats_connector_spark.operators.stats import agg_kruskal_wallis

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
    from mongodb_nats_connector_spark.operators.stats import agg_ansari_bradley

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


def test_grubbs_matches_numpy(spark):
    """G must equal max|x - mean| / sd(ddof=1) over the daily revenue
    series, and the flagged day must attain the max deviation."""
    from mongodb_nats_connector_spark.operators.stats import agg_grubbs_test

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
    from mongodb_nats_connector_spark.operators.stats import agg_mcnemar_test

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
    from mongodb_nats_connector_spark.operators.stats import (
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
    from mongodb_nats_connector_spark.operators.stats import agg_friedman_test

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
    from mongodb_nats_connector_spark.operators.stats import agg_hodges_lehmann

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


def test_cohen_kappa_matches_po_pe_form(spark):
    """The integer num/den form must equal the textbook (po-pe)/(1-pe), and
    the confusion matrix must match a pandas recomputation."""
    from mongodb_nats_connector_spark.operators.stats import agg_cohen_kappa

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
    from mongodb_nats_connector_spark.operators.stats import agg_hellinger_distance

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


def test_trimmed_mean_matches_numpy(spark):
    """Trimmed/winsorized means and fences must match a numpy sort-based
    recomputation, and bracket the robustness hierarchy."""
    from mongodb_nats_connector_spark.operators.stats import agg_trimmed_mean

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
    from mongodb_nats_connector_spark.operators.stats import (
        agg_gini_impurity_split,
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


def test_theil_sen_driver_round_is_half_up(spark, tmp_path):
    """The numpy replay of Spark's round() must round exact .5 slope
    boundaries HALF_UP away from zero (numpy's default rint is half-even
    and would disagree): two days 2000 apart with a +-1-cent revenue
    difference yield slope_mc = round(+-0.5) = +-1, never 0."""
    import datetime

    from mongodb_nats_connector_spark.operators.stats import agg_theil_sen

    base = datetime.date(1992, 1, 1)
    for sign, prices in ((1, (100.00, 100.01)), (-1, (100.01, 100.00))):
        spark.createDataFrame(
            [
                (1, base, prices[0]),
                (2, base + datetime.timedelta(days=2000), prices[1]),
            ],
            "o_orderkey long, o_orderdate date, o_totalprice double",
        ).write.parquet(f"{tmp_path}/orders.parquet", mode="overwrite")
        r = agg_theil_sen(spark, str(tmp_path)).collect()[0]
        assert r["n_days"] == 2 and r["n_pairs"] == 1
        assert r["slope_mc_x2"] == 2 * sign
