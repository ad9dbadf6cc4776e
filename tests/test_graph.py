"""Graph operators (``operators/graph.py``): pure-Python pins of the integer
algebra behind HITS, Moran/Geary, modularity and k-truss peeling, each
against an independent reference (``test_stats.py`` says why).
"""

from __future__ import annotations

import random
from fractions import Fraction


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
