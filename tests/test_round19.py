"""Pure-python identity pins for the pipeline19 (round-13 bank) operators.

Each test replays an operator's integer/cleared-denominator algebra on
random small inputs against an independent Fraction/float reference —
the same discipline as test_round16/test_round17: the identities the
oracles and Spark expressions share are proven here, so a driver-green
hash means the STATISTIC is right, not merely that two engines agree.
"""

from __future__ import annotations

import math
import random
import struct
from fractions import Fraction


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
# DFA box RSS closed form (events_dfa_alpha)
# ---------------------------------------------------------------------------


def test_dfa_box_rss_closed_form():
    rng = random.Random(229)
    for s in (8, 16, 32):
        for _ in range(10):
            ps = [rng.randint(-(10**6), 10**6) for _ in range(s)]
            sy = sum(ps)
            sjy = sum((j + 1) * p for j, p in enumerate(ps))
            syy = sum(p * p for p in ps)
            closed = (
                syy
                - sy * sy / s
                - (sjy - (s + 1) * sy / 2.0) ** 2
                / (s * (s * s - 1) / 12.0)
            )
            # explicit OLS residuals
            js = list(range(1, s + 1))
            jbar = sum(js) / s
            pbar = sy / s
            beta = sum(
                (j - jbar) * (p - pbar) for j, p in zip(js, ps)
            ) / sum((j - jbar) ** 2 for j in js)
            alpha = pbar - beta * jbar
            rss = sum(
                (p - alpha - beta * j) ** 2 for j, p in zip(js, ps)
            )
            assert abs(closed - rss) < 1e-3 * max(1.0, abs(rss))


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
# BMP decoder (multimodal.decode_bmp24) — stride + bottom-up flip
# ---------------------------------------------------------------------------


def _build_bmp(w: int, h: int, px) -> bytes:
    """px(x, y) -> (r, g, b) with y = 0 the logical TOP row."""
    stride = (3 * w + 3) // 4 * 4
    rows = []
    for y in range(h - 1, -1, -1):  # stored bottom-up
        row = b""
        for x in range(w):
            r, g, b = px(x, y)
            row += bytes([b, g, r])
        rows.append(row + b"\x00" * (stride - 3 * w))
    data = b"".join(rows)
    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0
        )
    )
    return hdr + data


def test_bmp_decoder_roundtrip_and_rejects():
    from mongodb_nats_connector_spark.operators.multimodal import (
        decode_bmp24,
    )

    rng = random.Random(241)
    for _ in range(20):
        w, h = rng.randint(1, 7), rng.randint(1, 5)
        vals = {
            (x, y): (
                rng.randrange(256),
                rng.randrange(256),
                rng.randrange(256),
            )
            for x in range(w)
            for y in range(h)
        }
        raw = _build_bmp(w, h, lambda x, y: vals[(x, y)])
        got = decode_bmp24(raw)
        assert got is not None
        gw, gh, pixels = got
        assert (gw, gh) == (w, h)
        # logical raster order: y-major from the top
        assert pixels == [
            vals[(x, y)] for y in range(h) for x in range(w)
        ]
    raw = _build_bmp(3, 2, lambda x, y: (x, y, 7))
    assert decode_bmp24(raw[:40]) is None  # truncated
    assert decode_bmp24(b"XX" + raw[2:]) is None  # bad magic
    bad_bpp = raw[:28] + struct.pack("<H", 8) + raw[30:]
    assert decode_bmp24(bad_bpp) is None  # non-24bpp


# ---------------------------------------------------------------------------
# WAV PCM decoder (multimodal.decode_wav_pcm16)
# ---------------------------------------------------------------------------


def test_wav_pcm_decoder_roundtrip():
    from mongodb_nats_connector_spark.operators.multimodal import (
        decode_wav_pcm16,
    )

    rng = random.Random(251)
    for _ in range(20):
        samples = [
            rng.randint(-32768, 32767) for _ in range(rng.randint(1, 100))
        ]
        data = struct.pack("<%dh" % len(samples), *samples)
        hdr = (
            b"RIFF"
            + struct.pack("<I", 36 + len(data))
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
            + b"data"
            + struct.pack("<I", len(data))
        )
        assert decode_wav_pcm16(hdr + data) == samples
    assert decode_wav_pcm16(b"RIFX" + b"\x00" * 60) is None


# ---------------------------------------------------------------------------
# Rademacher sign matrix (embedding_rademacher_projection)
# ---------------------------------------------------------------------------


def test_rademacher_signs_deterministic_and_balanced():
    from mongodb_nats_connector_spark.operators.similarity import _rademacher_signs

    s1 = _rademacher_signs()
    s2 = _rademacher_signs()
    assert s1 == s2  # literal stability across calls/engines
    flat = [v for row in s1 for v in row]
    assert set(flat) == {-1, 1}
    # md5 uniformity keeps the matrix roughly balanced
    assert abs(sum(flat)) < 0.2 * len(flat)
    # JL expectation: E||Sx||^2 = J * ||x||^2 over random x
    rng = random.Random(257)
    ratios = []
    for _ in range(40):
        x = [rng.randint(-50, 50) for _ in range(64)]
        x2 = sum(v * v for v in x)
        if x2 == 0:
            continue
        y2 = sum(
            sum(s * v for s, v in zip(row, x)) ** 2 for row in s1
        )
        ratios.append(y2 / (16 * x2))
    mean = sum(ratios) / len(ratios)
    assert 0.7 < mean < 1.3


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


# ---------------------------------------------------------------------------
# GIF walker rejects malformed block streams (multimodal.walk_gif_frames)
# ---------------------------------------------------------------------------


def test_gif_walker_adversarial():
    import struct as _s

    from mongodb_nats_connector_spark.operators.multimodal import (
        walk_gif_frames,
    )

    def build(w, h, delays):
        out = b"GIF89a" + _s.pack("<HH", w, h) + bytes([0x00, 0, 0])
        for d in delays:
            out += bytes([0x21, 0xF9, 4, 0]) + _s.pack("<H", d)
            out += bytes([0, 0])
            out += bytes([0x2C]) + _s.pack("<HHHH", 0, 0, w, h) + bytes([0])
            out += bytes([2, 1, 0x4C, 0])
        return out + bytes([0x3B])

    raw = build(9, 4, [1, 2, 3, 4])
    assert walk_gif_frames(raw) == (9, 4, 4, 10)
    assert walk_gif_frames(raw[:-1]) is None        # missing trailer
    assert walk_gif_frames(raw[:30]) is None        # truncated mid-block
    bad = raw[:13] + bytes([0x7F]) + raw[14:]       # unknown block type
    assert walk_gif_frames(bad) is None
    # global color table skipping: set GCT flag with 2-entry table
    gct = (
        b"GIF89a" + _s.pack("<HH", 5, 5) + bytes([0x80, 0, 0])
        + b"\x00" * 6 + raw[13:]
    )
    assert walk_gif_frames(gct) == (5, 5, 4, 10)


# ---------------------------------------------------------------------------
# pipeline20 (round-14 bank seed) pins
# ---------------------------------------------------------------------------


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


def test_png_walker_roundtrip_and_rejects():
    import struct as _s

    from mongodb_nats_connector_spark.operators.multimodal import (
        walk_png_chunks,
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return _s.pack(">I", len(data)) + ctype + data + b"\x00" * 4

    def build(w, h, ntext, idat_len):
        out = b"\x89PNG\r\n\x1a\n"
        out += chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        for i in range(ntext):
            out += chunk(b"tEXt", b"K" * (5 + i))
        out += chunk(b"IDAT", b"\xa5" * idat_len)
        out += chunk(b"IEND", b"")
        return out

    rng = random.Random(331)
    for _ in range(20):
        w, h = rng.randint(1, 4000), rng.randint(1, 4000)
        ntext, idat = rng.randint(0, 5), rng.randint(0, 500)
        got = walk_png_chunks(build(w, h, ntext, idat))
        assert got == (w, h, 3 + ntext, ntext, idat, 1)
    raw = build(9, 9, 2, 50)
    assert walk_png_chunks(raw[:-5]) is None     # truncated before IEND
    assert walk_png_chunks(b"GIF89a" + raw[6:]) is None  # bad magic
    # declared length larger than the remaining stream: malformed
    bad = raw[:8] + _s.pack(">I", 10**6) + raw[12:]
    assert walk_png_chunks(bad) is None


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


def test_zipf_mandelbrot_argmax_is_sse_argmin():
    # with Syy common across offsets, argmin SSE == argmax Sxy^2/Sxx
    rng = random.Random(349)
    for _ in range(30):
        nn = rng.randint(5, 60)
        ys = [rng.randint(1, 10**7) for _ in range(nn)]
        best_sse, best_score = None, None
        for b in range(6):
            xs = [
                math.floor(1e6 * math.log(r + b)) for r in range(1, nn + 1)
            ]
            sx, sy = sum(xs), sum(ys)
            sxx = sum(x * x for x in xs)
            sxy = sum(x * y for x, y in zip(xs, ys))
            syy = sum(y * y for y in ys)
            a_ = nn * sxy - sx * sy
            bden = nn * sxx - sx * sx
            sse = Fraction(nn * syy - sy * sy, 1) - Fraction(a_ * a_, bden)
            score = Fraction(a_ * a_, bden)
            if best_sse is None or sse < best_sse:
                best_sse, sse_b = sse, b
            if best_score is None or score > best_score:
                best_score, score_b = score, b
        assert sse_b == score_b


# ---------------------------------------------------------------------------
# pipeline20 batch-2 (association / agreement / normality) pins
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# pipeline20 batch-2 (text spectrum / events series) pins
# ---------------------------------------------------------------------------


def test_good_turing_identities():
    rng = random.Random(379)
    for _ in range(50):
        # frequency-of-frequencies spectrum
        nr = [rng.randint(1, 200) for _ in range(6)]
        n = sum((r + 1) * nr[r] for r in range(6))
        # Good's unseen mass p0 = N1/N; adjusted count r* = (r+1)N_{r+1}/N_r
        p0 = Fraction(nr[0], n)
        assert 0 < p0 < 1
        for r in range(1, 5):
            r_star = Fraction((r + 1) * nr[r], nr[r - 1])
            # the micro literal: floor(1e6 * r*) == (1e6*(r+1)*N_{r+1}) // N_r
            assert (10**6 * (r + 1) * nr[r]) // nr[r - 1] == int(
                10**6 * r_star
            )


def test_chao1_and_jackknife_identities():
    rng = random.Random(383)
    for _ in range(50):
        v = rng.randint(10, 500)
        f1 = rng.randint(0, v)
        f2 = rng.randint(0, v - f1)
        d = rng.randint(2, 40)
        q1 = rng.randint(0, v)
        if f2 > 0:
            chao1 = v + Fraction(f1 * f1, 2 * f2)
            assert 1000 * v + (1000 * f1 * f1) // (2 * f2) == int(
                1000 * chao1
            )
        else:
            chao1 = v + Fraction(f1 * (f1 - 1), 2)
            assert 1000 * v + (1000 * f1 * (f1 - 1)) // 2 == int(
                1000 * chao1
            )
        assert chao1 >= v  # estimator never shrinks the observed richness
        jk1 = v + Fraction(q1 * (d - 1), d)
        assert 1000 * v + (1000 * q1 * (d - 1)) // d == int(1000 * jk1)


def test_teager_kaiser_linear_and_sine_identities():
    # on a linear ramp x_t = a t + b the TKO is exactly a^2 everywhere
    rng = random.Random(389)
    for _ in range(40):
        a, b = rng.randint(-9, 9), rng.randint(-50, 50)
        xs = [a * t + b for t in range(12)]
        for t in range(1, 11):
            assert xs[t] * xs[t] - xs[t - 1] * xs[t + 1] == a * a
    # on a geometric series x_t = r^t the TKO is exactly 0
    for r in (2, 3, 5):
        xs = [r**t for t in range(10)]
        for t in range(1, 9):
            assert xs[t] * xs[t] - xs[t - 1] * xs[t + 1] == 0


def test_mean_crossing_nscaled_sign():
    rng = random.Random(397)
    for _ in range(60):
        xs = [rng.randint(0, 30) for _ in range(rng.randint(3, 40))]
        n, s = len(xs), sum(xs)
        mean = Fraction(s, n)
        crossings_float = sum(
            1
            for i in range(1, n)
            if (xs[i] - mean) * (xs[i - 1] - mean) < 0
        )
        crossings_int = sum(
            1
            for i in range(1, n)
            if (n * xs[i] - s) * (n * xs[i - 1] - s) < 0
        )
        assert crossings_int == crossings_float


def test_von_neumann_cleared_denominator():
    rng = random.Random(401)
    for _ in range(50):
        xs = [rng.randint(0, 50) for _ in range(rng.randint(4, 40))]
        n, s = len(xs), sum(xs)
        s2 = sum(x * x for x in xs)
        if n * s2 - s * s == 0:
            continue
        sd2 = sum((xs[i] - xs[i - 1]) ** 2 for i in range(1, n))
        mean = Fraction(s, n)
        vn_ref = Fraction(sd2) / sum((x - mean) ** 2 for x in xs)
        assert Fraction(n * sd2, n * s2 - s * s) == vn_ref


def test_ordinal_pattern_encoding_and_entropy_quantization():
    import itertools

    # distinct triples -> the 6 strict orderings get 6 distinct codes
    codes = set()
    for perm in itertools.permutations((1, 2, 3)):
        x1, x2, x3 = perm
        c = lambda a, b: 0 if a < b else (1 if a == b else 2)
        codes.add(9 * c(x1, x2) + 3 * c(x2, x3) + c(x1, x3))
    assert len(codes) == 6
    # tie patterns are distinct from all strict ones
    c = lambda a, b: 0 if a < b else (1 if a == b else 2)
    tie = 9 * c(1, 1) + 3 * c(1, 2) + c(1, 2)
    assert tie not in codes
    # quantized n-scaled entropy: each cell floors, so the integer sum is
    # within n_cells of the true 1e6 * n * H
    rng = random.Random(409)
    for _ in range(40):
        cells = [rng.randint(1, 100) for _ in range(rng.randint(2, 27))]
        n = sum(cells)
        true = sum(10**6 * ci * math.log(n / ci) for ci in cells)
        quant = sum(math.floor(10**6 * ci * math.log(n / ci)) for ci in cells)
        assert 0 <= true - quant <= len(cells)


def test_western_electric_cleared_sigma_zones():
    rng = random.Random(419)
    for _ in range(60):
        xs = [rng.randint(0, 40) for _ in range(rng.randint(5, 30))]
        n, s = len(xs), sum(xs)
        s2 = sum(x * x for x in xs)
        v2 = n * s2 - s * s
        mean = Fraction(s, n)
        var_pop = Fraction(v2, n * n)
        for x in xs:
            for k in (1, 2, 3):
                beyond_ref = (x - mean) ** 2 > k * k * var_pop
                beyond_int = (n * x - s) ** 2 > k * k * v2
                assert beyond_int == beyond_ref


# ---------------------------------------------------------------------------
# pipeline20 batch-2 (robust tests / shrinkage / SPC) pins
# ---------------------------------------------------------------------------


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


def test_hampel_threshold_and_window_median():
    import statistics

    rng = random.Random(449)
    # 3 * 1.4826 scaled by 1e4 is exactly the 44478 literal
    assert round(3 * 1.4826 * 10000) == 44478
    for _ in range(80):
        win = [rng.randint(0, 100) for _ in range(7)]
        med = sorted(win)[3]
        assert med == statistics.median(win)
        mad = sorted(abs(v - med) for v in win)[3]
        assert mad == statistics.median([abs(v - med) for v in win])
        x = rng.randint(0, 100)
        flag_int = 10000 * abs(x - med) > 44478 * mad
        flag_frac = abs(x - med) > Fraction(44478, 10000) * mad
        assert flag_int == flag_frac


# ---------------------------------------------------------------------------
# pipeline20 batch-2 (econ / survival / isotonic) pins
# ---------------------------------------------------------------------------


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
# pipeline20 batch-2 (multimodal walkers / cluster validity / PPS) pins
# ---------------------------------------------------------------------------


def test_tiff_walker_roundtrip_and_rejects():
    import struct as _s

    from mongodb_nats_connector_spark.operators.multimodal import (
        walk_tiff_ifd,
    )

    def entry(pre, tag, val):
        return _s.pack(pre + "HHI", tag, 4, 1) + _s.pack(pre + "I", val)

    for pre, hdr, le in (
        ("<", b"II" + _s.pack("<H", 42), 1),
        (">", b"MM" + _s.pack(">H", 42), 0),
    ):
        b = hdr + _s.pack(pre + "I", 8) + _s.pack(pre + "H", 4)
        b += (
            entry(pre, 256, 640)
            + entry(pre, 257, 480)
            + entry(pre, 258, 24)
            + entry(pre, 400, 7)
        )
        b += _s.pack(pre + "I", 0)
        assert walk_tiff_ifd(b) == (le, 640, 480, 24, 4)
        # truncated IFD -> typed miss
        assert walk_tiff_ifd(b[:-6]) is None
    # wrong byte-order mark / wrong magic / missing dimension tags
    assert walk_tiff_ifd(b"XX" + b"\x00" * 10) is None
    bad_magic = b"II" + _s.pack("<H", 43) + _s.pack("<I", 8)
    assert walk_tiff_ifd(bad_magic + b"\x00" * 20) is None
    nodims = (
        b"II" + _s.pack("<H", 42) + _s.pack("<I", 8) + _s.pack("<H", 1)
        + entry("<", 400, 7) + _s.pack("<I", 0)
    )
    assert walk_tiff_ifd(nodims) is None
    # SHORT(3)-typed dimensions decode from the first 2 inline bytes in
    # BOTH byte orders — a big-endian SHORT must NOT read as value<<16
    # (ADVICE r13) — and an unsupported type (RATIONAL=5) is skipped, so
    # a RATIONAL-typed width is a typed miss, not a garbage value.
    def entry_t(pre, tag, typ, val):
        if typ == 3:
            return _s.pack(pre + "HHI", tag, 3, 1) + _s.pack(
                pre + "H", val
            ) + b"\x00\x00"
        return _s.pack(pre + "HHI", tag, typ, 1) + _s.pack(pre + "I", val)

    for pre, hdr, le in (
        ("<", b"II" + _s.pack("<H", 42), 1),
        (">", b"MM" + _s.pack(">H", 42), 0),
    ):
        b = hdr + _s.pack(pre + "I", 8) + _s.pack(pre + "H", 3)
        b += (
            entry_t(pre, 256, 3, 640)
            + entry_t(pre, 257, 3, 480)
            + entry_t(pre, 258, 3, 16)
        )
        b += _s.pack(pre + "I", 0)
        assert walk_tiff_ifd(b) == (le, 640, 480, 16, 3)
        rational_w = hdr + _s.pack(pre + "I", 8) + _s.pack(pre + "H", 3)
        rational_w += (
            entry_t(pre, 256, 5, 640)
            + entry_t(pre, 257, 3, 480)
            + entry_t(pre, 258, 3, 16)
        )
        rational_w += _s.pack(pre + "I", 0)
        assert walk_tiff_ifd(rational_w) is None


def test_ico_walker_roundtrip_and_rejects():
    import struct as _s

    from mongodb_nats_connector_spark.operators.multimodal import (
        walk_ico_dir,
    )

    ico = _s.pack("<HHH", 0, 1, 2)
    ico += bytes([0, 32, 0, 0]) + _s.pack("<HH", 1, 32) + _s.pack(
        "<II", 1200, 22
    )
    ico += bytes([16, 0, 0, 0]) + _s.pack("<HH", 1, 32) + _s.pack(
        "<II", 900, 22
    )
    # the 0-means-256 quirk on width AND height
    assert walk_ico_dir(ico) == (2, 256, 256, 2100)
    # cursor resource type (2) and zero-count directories are misses
    assert walk_ico_dir(_s.pack("<HHH", 0, 2, 1) + b"\x00" * 16) is None
    assert walk_ico_dir(_s.pack("<HHH", 0, 1, 0)) is None
    # truncated directory
    assert walk_ico_dir(ico[:20]) is None


def test_participation_ratio_equals_eigen_form():
    import numpy as np

    rng = random.Random(491)
    for _ in range(20):
        n, d = rng.randint(3, 20), rng.randint(2, 8)
        X = np.array(
            [[rng.randint(-50, 50) for _ in range(d)] for _ in range(n)],
            dtype=np.int64,
        )
        M = X.T @ X
        tr = int(np.trace(M))
        fro2 = int((M * M).sum())
        if fro2 == 0:
            continue
        lam = np.linalg.eigvalsh(M.astype(float))
        pr_eig = lam.sum() ** 2 / (lam**2).sum()
        pr_int = tr * tr / fro2
        assert abs(pr_int - pr_eig) < 1e-6 * max(1.0, pr_eig)
        assert 1 - 1e-9 <= pr_int <= d + 1e-9
        # upper-triangle symmetry weighting matches the full sum
        upper = sum(
            (2 if i != j else 1) * int(M[i, j]) ** 2
            for i in range(d)
            for j in range(i, d)
        )
        assert upper == fro2


def test_calinski_harabasz_cleared_terms():
    rng = random.Random(499)
    for _ in range(30):
        k, d = rng.randint(2, 5), rng.randint(1, 4)
        pts = []
        for c in range(k):
            for _ in range(rng.randint(2, 8)):
                pts.append((c, [rng.randint(-20, 20) for _ in range(d)]))
        N = len(pts)
        G = [sum(p[1][j] for p in pts) for j in range(d)]
        ssb = Fraction(0)
        ssw = Fraction(0)
        sst = Fraction(0)
        gbar = [Fraction(G[j], N) for j in range(d)]
        for c in range(k):
            mem = [p[1] for p in pts if p[0] == c]
            nc = len(mem)
            S = [sum(x[j] for x in mem) for j in range(d)]
            T = sum(x[j] ** 2 for x in mem for j in range(d))
            cbar = [Fraction(S[j], nc) for j in range(d)]
            ssw_c = sum(
                sum((x[j] - cbar[j]) ** 2 for j in range(d)) for x in mem
            )
            ssb_c = nc * sum((cbar[j] - gbar[j]) ** 2 for j in range(d))
            # cleared forms used by the operator
            assert ssw_c == Fraction(
                nc * T - sum(S[j] ** 2 for j in range(d)), nc
            )
            assert ssb_c == Fraction(
                sum((N * S[j] - nc * G[j]) ** 2 for j in range(d)),
                nc * N * N,
            )
            ssw += ssw_c
            ssb += ssb_c
        for _, x in pts:
            sst += sum((x[j] - gbar[j]) ** 2 for j in range(d))
        assert sst == ssb + ssw  # the variance decomposition


def test_silhouette_and_dunn_distance_clearing():
    rng = random.Random(503)
    for _ in range(50):
        d = rng.randint(1, 5)
        nc, nd = rng.randint(1, 9), rng.randint(1, 9)
        q = [rng.randint(-30, 30) for _ in range(d)]
        S = [rng.randint(-200, 200) for _ in range(d)]
        S2 = [rng.randint(-200, 200) for _ in range(d)]
        ref = sum((q[j] - Fraction(S[j], nc)) ** 2 for j in range(d))
        assert Fraction(
            sum((nc * q[j] - S[j]) ** 2 for j in range(d)), nc * nc
        ) == ref
        ref2 = sum(
            (Fraction(S[j], nc) - Fraction(S2[j], nd)) ** 2
            for j in range(d)
        )
        assert Fraction(
            sum((nd * S[j] - nc * S2[j]) ** 2 for j in range(d)),
            nc * nc * nd * nd,
        ) == ref2
    # silhouette sign-split formula vs the textbook (b-a)/max(a,b)
    for _ in range(50):
        a, b = rng.randint(0, 10**6), rng.randint(0, 10**6)
        if max(a, b) == 0:
            continue
        ref = Fraction(b - a, max(a, b))
        if b >= a:
            got = Fraction((1000 * (b - a)) // max(b, 1), 1000)
        else:
            got = -Fraction((1000 * (a - b)) // max(a, 1), 1000)
        assert abs(got - ref) < Fraction(1, 1000)


def test_pps_systematic_telescopes_to_k():
    rng = random.Random(509)
    for _ in range(60):
        sizes = [rng.randint(1, 500) for _ in range(rng.randint(2, 40))]
        t = sum(sizes)
        k = 5
        cum = 0
        picks = 0
        crossings = 0
        for sz in sizes:
            before, cum = cum, cum + sz
            lo, hi = (k * before) // t, (k * cum) // t
            crossings += hi - lo
            if lo < hi:
                picks += 1
                # a lattice multiple of t/k lies in (before, cum]
                assert any(
                    before < Fraction(m * t, k) <= cum
                    for m in range(1, k + 1)
                )
            else:
                assert not any(
                    before * k < m * t <= cum * k for m in range(1, k + 1)
                )
        assert crossings == k  # telescoping: floor(k*T/T) - floor(0)
        assert picks <= k
