"""Round-12-bank second-tranche (pipeline17) unit pins — no SparkSession.

Pure-python brute-force checks of the derivations both engines share —
the cross-engine probe can't catch identical-bug-in-both-engines (the
agg_siegel_tukey lesson), so every closed form here gets an independent
reference implementation.
"""

import random
from fractions import Fraction


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
# Truncated-dot agreement frame (embedding_truncation_fidelity)
# ---------------------------------------------------------------------------


def test_truncation_fidelity_integer_dots():
    import math

    rng = random.Random(109)
    for _ in range(20):
        d = 8
        vecs = {
            i: [rng.uniform(-1, 1) for _ in range(d)] for i in range(12)
        }
        q = {i: [math.floor(x * 1000) for x in v] for i, v in vecs.items()}
        qid = 0
        # full and half integer dots, argmax with id tie-break
        def top1(dims):
            best = None
            for nb in vecs:
                if nb == qid:
                    continue
                dot = sum(q[qid][k] * q[nb][k] for k in range(dims))
                key = (-dot, nb)
                if best is None or key < best[0]:
                    best = (key, nb)
            return best[1]

        t_full, t_half = top1(d), top1(d // 2)
        # the engine's zip_with/list_transform folds are plain ordered
        # sums of the same integers — re-derive via reversed iteration
        def top1_rev(dims):
            best = None
            for nb in sorted(vecs, reverse=True):
                if nb == qid:
                    continue
                dot = sum(q[qid][k] * q[nb][k] for k in reversed(range(dims)))
                key = (-dot, nb)
                if best is None or key < best[0]:
                    best = (key, nb)
            return best[1]

        assert top1(d) == top1_rev(d) == t_full
        assert top1(d // 2) == top1_rev(d // 2) == t_half


# ---------------------------------------------------------------------------
# ISO-BMFF box walker roundtrip (multimodal_mp4_box_parse)
# ---------------------------------------------------------------------------


def test_mp4_sniffer_roundtrip_and_rejects():
    import struct

    from mongodb_nats_connector_spark.operators.multimodal import (
        sniff_mp4_meta,
    )

    def build(brand: bytes, ts: int, dur: int) -> bytes:
        ftyp = struct.pack(">I", 16) + b"ftyp" + brand + b"\x00" * 4
        mvhd_body = (
            b"\x00\x00\x00\x00"  # version + flags
            + b"\x00" * 8  # creation + modification
            + struct.pack(">II", ts, dur)
            + b"\x00\x01\x00\x00"  # rate
            + b"\x01\x00\x00\x00"  # volume + reserved
            + b"\x00" * 8  # reserved2
            + b"\x00" * 36  # matrix (content irrelevant to the parse)
            + b"\x00" * 24  # pre_defined
            + b"\x00\x00\x00\x02"
        )
        mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        return ftyp + moov

    rng = random.Random(113)
    for _ in range(30):
        ts = rng.choice([600, 1000, 90000, 12288, 48000])
        dur = rng.randint(1, 10**7)
        raw = build(b"isom", ts, dur)
        assert len(raw) == 132
        meta = sniff_mp4_meta(raw)
        assert meta == (2, "isom", ts, dur)
    # rejects: truncation, bad size, missing ftyp
    raw = build(b"mp42", 1000, 5000)
    assert sniff_mp4_meta(raw[:50]) is None
    assert sniff_mp4_meta(b"\x00\x00\x00\x03abcd" + raw[8:]) is None
    assert sniff_mp4_meta(raw[16:]) is None  # moov only, no brand
    # v1 mvhd (64-bit duration) parses too
    body1 = (
        b"\x01\x00\x00\x00"
        + b"\x00" * 16
        + struct.pack(">IQ", 90000, 2**33)
        + b"\x00" * 80
    )
    mvhd1 = struct.pack(">I", 8 + len(body1)) + b"mvhd" + body1
    moov1 = struct.pack(">I", 8 + len(mvhd1)) + b"moov" + mvhd1
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
    meta = sniff_mp4_meta(ftyp + moov1)
    assert meta == (2, "isom", 90000, 2**33)
    # v1 mvhd too short for its 64-bit fields (32 <= csize < 44): typed
    # miss, never a v0-offset garbage parse (round-11 advisor finding)
    short1 = b"\x01\x00\x00\x00" + b"\x00" * 24  # csize = 8 + 28 = 36
    mvhd_s = struct.pack(">I", 8 + len(short1)) + b"mvhd" + short1
    moov_s = struct.pack(">I", 8 + len(mvhd_s)) + b"moov" + mvhd_s
    assert sniff_mp4_meta(ftyp + moov_s) is None
    # v1 duration >= 2^63 would overflow the Int64 column: typed miss
    body_big = (
        b"\x01\x00\x00\x00"
        + b"\x00" * 16
        + struct.pack(">IQ", 90000, 2**63 + 7)
        + b"\x00" * 80
    )
    mvhd_b = struct.pack(">I", 8 + len(body_big)) + b"mvhd" + body_big
    moov_b = struct.pack(">I", 8 + len(mvhd_b)) + b"moov" + mvhd_b
    assert sniff_mp4_meta(ftyp + moov_b) is None
    # v1 duration < 2^63 but derived duration_ms >= 2^63 (small timescale)
    # also crashes Int64 construction downstream: typed miss (round-12
    # advisor finding — timescale=1, duration=2^62)
    body_ms = (
        b"\x01\x00\x00\x00"
        + b"\x00" * 16
        + struct.pack(">IQ", 1, 2**62)
        + b"\x00" * 80
    )
    mvhd_m = struct.pack(">I", 8 + len(body_ms)) + b"mvhd" + body_ms
    moov_m = struct.pack(">I", 8 + len(mvhd_m)) + b"moov" + mvhd_m
    assert sniff_mp4_meta(ftyp + moov_m) is None
    # ... while a v1 payload whose ms stays in-range still parses
    body_ok = (
        b"\x01\x00\x00\x00"
        + b"\x00" * 16
        + struct.pack(">IQ", 1000, 2**40)
        + b"\x00" * 80
    )
    mvhd_o = struct.pack(">I", 8 + len(body_ok)) + b"mvhd" + body_ok
    moov_o = struct.pack(">I", 8 + len(mvhd_o)) + b"moov" + mvhd_o
    assert sniff_mp4_meta(ftyp + moov_o) == (2, "isom", 1000, 2**40)


# ---------------------------------------------------------------------------
# pipeline18 (round-13 bank) pins
# ---------------------------------------------------------------------------


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


def test_eval_contamination_semi_join_frame():
    rng = random.Random(139)
    for _ in range(20):
        words = [f"w{rng.randint(0, 12)}" for _ in range(300)]
        docs = {
            i: words[rng.randint(0, 250) :][: rng.randint(15, 40)]
            for i in range(20)
        }
        k = 13
        grams = {
            i: {tuple(a[j : j + k]) for j in range(len(a) - k + 1)}
            for i, a in docs.items()
        }
        train = set().union(
            *(g for i, g in grams.items() if i % 10 != 0)
        ) if any(i % 10 != 0 for i in grams) else set()
        # reference: per eval doc, distinct grams and shared-with-train
        for i, g in grams.items():
            if i % 10 != 0 or not g:
                continue
            shared_ref = len(g & train)
            # engine frame: distinct (doc, gram) left-joined to the
            # distinct train-gram set, summing hit indicators
            shared_eng = sum(1 for x in g if x in train)
            assert shared_eng == shared_ref
            assert 0 <= shared_ref <= len(g)
