"""Pure-python identity pins: re-derive each statistic with Fraction/float on
random small inputs and check its cleared-denominator identities and literal
constants against the textbook definition (or against zlib/base64 where a
stdlib reference exists). These tests exercise no package code.
"""

from __future__ import annotations

import math
import random
from fractions import Fraction


def test_deflate_lz77_formula_matches_zlib():
    """The closed-form byte layout (header + reversed literal codes +
    the 19-bit V = rev7(len257)|rev5(dist2)<<7 = 1088 tail) must decode
    through REAL zlib to literals + their own last-3 copy."""
    import zlib

    def rev8(c):
        return ((c * 8623620610) & 1136090292240) % 1023

    assert (64 | (8 << 7)) == 1088
    assert 1088 % 32 == 0 and 1088 // 32 == 34 and 1088 // 8192 == 0

    def compose(lits):
        k = len(lits)
        r = [rev8(48 + L) for L in lits]
        out = [3 + (r[0] % 32) * 8]
        for i in range(1, k):
            out.append(r[i - 1] // 32 + (r[i] % 32) * 8)
        out += [r[k - 1] // 32, 34, 0]
        return bytes(out)

    rng = random.Random(701)
    for _ in range(60):
        k = rng.randint(3, 30)
        lits = [rng.randrange(144) for _ in range(k)]
        dec = zlib.decompress(compose(lits), -15)
        assert list(dec) == lits + lits[-3:]


def test_crc32_bitwise_reduction_matches_zlib():
    """The oracle's 8-step LSB-first 0xEDB88320 reduction IS CRC-32."""
    import zlib

    def crc32_bitwise(data):
        crc = 0xFFFFFFFF
        for b in data:
            crc ^= b
            for _ in range(8):
                crc = (crc >> 1) ^ (0xEDB88320 if crc & 1 else 0)
        return crc ^ 0xFFFFFFFF

    rng = random.Random(709)
    for _ in range(120):
        d = bytes(rng.randrange(256) for _ in range(rng.randint(0, 80)))
        assert crc32_bitwise(d) == zlib.crc32(d)


def test_var_es_prefix_trick():
    rng = random.Random(727)
    for _ in range(40):
        vals = sorted(rng.randint(1, 500) for _ in range(rng.randint(25, 80)))
        n = len(vals)
        from collections import Counter

        cells = sorted(Counter(vals).items())
        for num, den in ((19, 20), (99, 100)):
            # VaR: smallest v with cum*den >= num*n
            lo = 0
            var = None
            tail = 0
            for v, c in cells:
                if var is None and (lo + c) * den >= num * n:
                    var = v
                tail += max(min(c, (lo + c) - (num * n) // den), 0) * v
                lo += c
            k = n - (num * n) // den
            assert tail == sum(vals[n - k:])
            es = tail // max(k, 1)
            assert es >= var  # ES dominates VaR


def test_omega_telescoping_and_balance():
    rng = random.Random(733)
    for _ in range(60):
        xs = [rng.randint(0, 10**6) for _ in range(rng.randint(3, 40))]
        chg = [b - a for a, b in zip(xs, xs[1:])]
        gains = sum(c for c in chg if c > 0)
        losses = sum(-c for c in chg if c < 0)
        assert gains - losses == xs[-1] - xs[0]  # telescoping
    assert (1000 * 7) // 7 == 1000  # omega = 1 when masses balance


def test_ulcer_bounds():
    rng = random.Random(739)
    for _ in range(60):
        xs = [rng.randint(1, 10**6) for _ in range(rng.randint(2, 50))]
        peak, dds = 0, []
        for x in xs:
            peak = max(peak, x)
            dd = (1000000 * (peak - x)) // peak
            assert 0 <= dd < 1000000
            dds.append(dd)
        ui2 = sum(d * d for d in dds) // len(dds)
        assert ui2 <= max(dds) ** 2


def test_visibility_rule_vs_bruteforce():
    rng = random.Random(743)
    for _ in range(40):
        n = rng.randint(3, 15)
        xs = [rng.randint(0, 50) for _ in range(n)]
        # brute force with floats
        edges_f = set()
        for a in range(n):
            for b in range(a + 1, n):
                if all(
                    xs[c] < xs[a] + (xs[b] - xs[a]) * (c - a) / (b - a)
                    for c in range(a + 1, b)
                ):
                    edges_f.add((a, b))
        # integer cross-multiplication rule (the operator's)
        edges_i = set()
        for a in range(n):
            for b in range(a + 1, n):
                if all(
                    (xs[c] - xs[a]) * (b - a) < (xs[b] - xs[a]) * (c - a)
                    for c in range(a + 1, b)
                ):
                    edges_i.add((a, b))
        assert edges_i == edges_f
        # adjacent samples always see each other
        assert all((a, a + 1) in edges_i for a in range(n - 1))


def test_ccf_cleared_pearson():
    rng = random.Random(751)
    for _ in range(60):
        n = rng.randint(3, 30)
        xs = [rng.randint(0, 100) for _ in range(n)]
        ys = [rng.randint(0, 100) for _ in range(n)]
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        num = n * sxy - sx * sy
        dx, dy = n * sxx - sx * sx, n * syy - sy * sy
        if dx == 0 or dy == 0:
            continue
        r2 = Fraction(num * num, dx * dy)
        assert 0 <= r2 <= 1  # Cauchy-Schwarz
        assert (10**6 * num * num) // (dx * dy) == int(10**6 * r2)


def test_granger_rss_closed_forms():
    rng = random.Random(757)
    for _ in range(40):
        n = rng.randint(5, 25)
        ys = [rng.randint(0, 50) for _ in range(n)]
        zs = [rng.randint(0, 50) for _ in range(n)]
        ws = [rng.randint(0, 50) for _ in range(n)]
        sy, sz, sw = sum(ys), sum(zs), sum(ws)
        syy = sum(v * v for v in ys)
        szz = sum(v * v for v in zs)
        sww = sum(v * v for v in ws)
        syz = sum(a * b for a, b in zip(ys, zs))
        syw = sum(a * b for a, b in zip(ys, ws))
        szw = sum(a * b for a, b in zip(zs, ws))
        cyy = n * syy - sy * sy
        dzz = n * szz - sz * sz
        dww = n * sww - sw * sw
        nyz = n * syz - sy * sz
        nyw = n * syw - sy * sw
        czw = n * szw - sz * sw
        if dzz == 0 or dww == 0 or dzz * dww == czw * czw:
            continue
        # restricted RSS via direct OLS on (1, z)
        rss_r = Fraction(cyy * dzz - nyz * nyz, n * dzz)
        # direct check: min over beta of sum (y - a - b z)^2
        b_hat = Fraction(nyz, dzz)
        a_hat = Fraction(sy, n) - b_hat * Fraction(sz, n)
        direct = sum(
            (Fraction(y) - a_hat - b_hat * z) ** 2 for y, z in zip(ys, zs)
        )
        assert direct == rss_r
        # unrestricted RSS via the 2x2 determinant expansion
        det = dzz * dww - czw * czw
        rss_u = Fraction(
            cyy * det - (nyz * nyz * dww - 2 * nyz * nyw * czw
                         + nyw * nyw * dzz),
            n * det,
        )
        assert rss_u <= rss_r + Fraction(1, 10**12)  # adding a regressor


def test_qn_census_convolution():
    from collections import Counter

    rng = random.Random(761)
    for _ in range(40):
        vals = [rng.randint(1, 12) for _ in range(rng.randint(4, 40))]
        n = len(vals)
        brute = sorted(
            abs(a - b)
            for i, a in enumerate(vals)
            for b in vals[i + 1:]
        )
        cells = Counter(vals)
        census: dict[int, int] = {}
        for v, c in cells.items():
            census[0] = census.get(0, 0) + c * (c - 1) // 2
            for u, cu in cells.items():
                if v > u:
                    census[v - u] = census.get(v - u, 0) + c * cu
        rebuilt = sorted(
            d for d, cnt in census.items() for _ in range(cnt)
        )
        assert rebuilt == brute
        h = n // 2 + 1
        k = h * (h - 1) // 2
        if k >= 1:
            # order-statistic pick via cumulative census
            cum, qn = 0, None
            for d in sorted(census):
                cum += census[d]
                if cum >= k:
                    qn = d
                    break
            assert qn == brute[k - 1]


def test_biweight_cancellation_identity():
    from collections import Counter

    rng = random.Random(769)
    checked = 0
    for _ in range(80):
        vals = [rng.randint(1, 50) for _ in range(rng.randint(9, 60))]
        n = len(vals)
        med = sorted(vals)[(n - 1) // 2]
        mad = sorted(abs(v - med) for v in vals)[(n - 1) // 2]
        if mad == 0:
            continue
        m2 = 81 * mad * mad
        # direct (Fraction) biweight midvariance, u = d/(9 MAD)
        num_f = sum(
            Fraction(v - med, 1) ** 2
            * (1 - Fraction((v - med) ** 2, m2)) ** 4
            for v in vals
            if (v - med) ** 2 < m2
        )
        den_f = sum(
            (1 - Fraction((v - med) ** 2, m2))
            * (1 - 5 * Fraction((v - med) ** 2, m2))
            for v in vals
            if (v - med) ** 2 < m2
        )
        if den_f == 0:
            continue
        direct = n * num_f / den_f**2
        # cleared integer form over the value census
        cells = Counter(vals)
        num_i = sum(
            c * (v - med) ** 2 * (m2 - (v - med) ** 2) ** 4
            for v, c in cells.items()
            if (v - med) ** 2 < m2
        )
        den_i = sum(
            c * (m2 - (v - med) ** 2) * (m2 - 5 * (v - med) ** 2)
            for v, c in cells.items()
            if (v - med) ** 2 < m2
        )
        assert Fraction(n * num_i, den_i**2) == direct
        checked += 1
    assert checked >= 30


def test_quantile_trend_median_slope():
    rng = random.Random(773)
    for _ in range(40):
        k = rng.randint(3, 12)
        q = [(i, rng.randint(0, 1000)) for i in range(k)]
        slopes = sorted(
            (
                math.floor(1000.0 * (q[b][1] - q[a][1]) / (b - a)),
                a,
                b,
            )
            for a in range(k)
            for b in range(a + 1, k)
        )
        np_ = len(slopes)
        mids = [slopes[(np_ + 1) // 2 - 1][0], slopes[(np_ + 2) // 2 - 1][0]]
        med2 = sum(mids) // 2
        # floor-average of the two middle order statistics brackets the
        # true median of the floored slopes
        floored = sorted(s[0] for s in slopes)
        lo_m = floored[(np_ - 1) // 2]
        hi_m = floored[np_ // 2]
        assert lo_m <= med2 <= hi_m


def test_ordpattern_classes_partition():
    # exactly one of the six order-3 patterns fires for any triple
    rng = random.Random(787)
    for _ in range(500):
        a, b, c = (rng.randint(0, 10) for _ in range(3))
        pats = [
            a <= b and b <= c,
            a <= c and c < b,
            b < a and a <= c,
            b <= c and c < a,
            c < a and a <= b,
        ]
        assert sum(pats) <= 1
        # ELSE branch: c <= b < a strictly descending-ish
        if not any(pats):
            assert c <= b and b < a or (c < b and b <= a) or (c <= b <= a)


def test_peak_prominence_bruteforce():
    rng = random.Random(797)
    for _ in range(60):
        n = rng.randint(3, 20)
        xs = [rng.randint(0, 30) for _ in range(n)]
        for i in range(n):
            left = xs[i - 1] if i > 0 else -1
            right = xs[i + 1] if i < n - 1 else -1
            if not (left < xs[i] and right < xs[i]):
                continue
            # brute prominence: walk out to nearest strictly higher
            def saddle(rng_):
                vals = [xs[j] for j in rng_]
                out = []
                for v in vals:
                    if v > xs[i]:
                        break
                    out.append(v)
                return min(out) if out and len(out) == len(vals) or True else 0
            # left side
            lvals = []
            for j in range(i - 1, -1, -1):
                if xs[j] > xs[i]:
                    break
                lvals.append(xs[j])
            else:
                lvals.append(0)  # reached edge: ground level
            ls = min(lvals) if lvals else 0
            rvals = []
            for j in range(i + 1, n):
                if xs[j] > xs[i]:
                    break
                rvals.append(xs[j])
            else:
                rvals.append(0)
            rs = min(rvals) if rvals else 0
            prom = xs[i] - max(ls, rs)
            assert 0 < prom <= xs[i]


def test_shapley_r2_efficiency_axiom():
    # the two Shapley shares must sum exactly to the joint R^2 (ppm)
    rng = random.Random(809)
    for _ in range(200):
        r2z = rng.randint(0, 10**6)
        r2w = rng.randint(0, 10**6)
        r2zw = rng.randint(max(r2z, r2w), 2 * 10**6)
        phi_z = (r2z + r2zw - r2w) // 2
        phi_w = (r2w + r2zw - r2z) // 2
        assert phi_z + phi_w in (r2zw, r2zw - 1)  # parity of the halves
        if (r2z + r2zw - r2w) % 2 == 0:
            assert phi_z + phi_w == r2zw
    # correlation-form R2 identity on exact Fractions
    for _ in range(60):
        ryz = Fraction(rng.randint(-99, 99), 100)
        ryw = Fraction(rng.randint(-99, 99), 100)
        rzw = Fraction(rng.randint(-99, 99), 100)
        if abs(rzw) == 1:
            continue
        r2both = (ryz**2 + ryw**2 - 2 * ryz * ryw * rzw) / (1 - rzw**2)
        # equals the moment determinant expansion
        det = (1 - rzw**2)
        alt = (ryz * (ryz - ryw * rzw) + ryw * (ryw - ryz * rzw)) / det
        assert r2both == alt


def test_ratio_estimator_common_denominator():
    rng = random.Random(811)
    for _ in range(60):
        n = rng.randint(3, 40)
        ys = [rng.randint(1, 10**4) for _ in range(n)]
        xs = [rng.randint(1, 50) for _ in range(n)]
        sy, sx = sum(ys), sum(xs)
        syy = sum(v * v for v in ys)
        sxx = sum(v * v for v in xs)
        sxy = sum(a * b for a, b in zip(ys, xs))
        r_mil = (1000 * sy) // sx
        num6 = (
            10**6 * (n * syy - sy * sy)
            - 2000 * r_mil * (n * sxy - sy * sx)
            + r_mil * r_mil * (n * sxx - sx * sx)
        )
        got = num6 // (n * sx * sx)
        # against the exact delta-method value with the quantized R
        rq = Fraction(r_mil, 1000)
        exact = (
            Fraction(n * syy - sy * sy)
            - 2 * rq * (n * sxy - sy * sx)
            + rq * rq * (n * sxx - sx * sx)
        ) / (n * sx * sx)
        assert got == int(10**6 * exact) or got == math.floor(
            10**6 * exact
        )


def test_base32_composition_matches_stdlib():
    import base64

    ALPH = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

    def compose(data):
        out = []
        for i in range(0, len(data), 5):
            chunk = data[i:i + 5]
            bits = int.from_bytes(chunk + b"\0" * (5 - len(chunk)), "big")
            keep = {1: 2, 2: 4, 3: 5, 4: 7, 5: 8}[len(chunk)]
            out.append(
                "".join(
                    ALPH[(bits >> (35 - 5 * j)) & 31] for j in range(keep)
                )
                + "=" * (8 - keep)
            )
        return "".join(out)

    rng = random.Random(829)
    for _ in range(300):
        d = bytes(rng.randrange(256) for _ in range(rng.randint(1, 23)))
        assert compose(d) == base64.b32encode(d).decode()
        assert base64.b32decode(compose(d)) == d
    # all five partial-group layouts appear across the operator's
    # n = 10 + doc_id % 9 sizes
    assert {(10 + k % 9) % 5 for k in range(9)} == {0, 1, 2, 3, 4}
    # strict decode rejects bad padding / alphabet (the typed-miss path)
    import binascii
    for bad in ("A=======", "abcdefgh", "AAAAAAA0"):
        try:
            base64.b32decode(bad)
            raise AssertionError(f"accepted {bad!r}")
        except (binascii.Error, ValueError):
            pass
