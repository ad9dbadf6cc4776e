"""Text operators (``operators/text.py``): readability, lexical diversity,
vocabulary spectra and document fingerprints.

Spark tests recompute a query's result on the smoke tables from its
definition. Pure-Python pins check the algebra both engines share
against an independent reference; ``test_stats.py`` says why.
"""

from __future__ import annotations

import math
import random
from fractions import Fraction

SF = "/root/testdata/sf0.001"


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


def test_winnowing_short_doc_yields_zero_grams(spark):
    """Documents with fewer than 5 words must contribute ZERO shingles —
    the first draft's sequence(0, -1) descended and crashed slice()."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "one two three"), (2, "a b c d e f")], ["doc_id", "text"]
    )
    arr = df.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias(
            "a"
        ),
    )
    g = arr.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("a") >= 5, F.sequence(F.lit(0), F.size("a") - 5)
            ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
        ).alias("pos", "i"),
    )
    rows = g.groupBy("doc_id").count().collect()
    counts = {r["doc_id"]: r["count"] for r in rows}
    assert 1 not in counts
    assert counts[2] == 2


# ---------------------------------------------------------------------------
# STTR segmentation (text_sttr_segments)
# ---------------------------------------------------------------------------


def test_sttr_segmentation_matches_python():
    rng = random.Random(15)
    vocab = [f"w{i}" for i in range(30)]
    for _ in range(30):
        nw = rng.randint(50, 400)
        words = [rng.choice(vocab) for _ in range(nw)]
        fs = nw // 50
        ttr_sum = sum(
            len(set(words[50 * i: 50 * i + 50])) for i in range(fs)
        )
        # the engines' arithmetic
        ppm = (1000000 * ttr_sum) // (fs * 50)
        mean_ttr = ttr_sum / (fs * 50)
        assert abs(ppm / 1e6 - mean_ttr) < 1e-5
        assert 0 < ppm <= 10**6


# ---------------------------------------------------------------------------
# MATTR strided windows (text_mattr)
# ---------------------------------------------------------------------------


def test_mattr_strided_windows():
    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(20)]
    for _ in range(30):
        nw = rng.randint(50, 400)
        words = [rng.choice(vocab) for _ in range(nw)]
        n_win = (nw - 50) // 10 + 1
        ttr_sum = sum(
            len(set(words[10 * i: 10 * i + 50])) for i in range(n_win)
        )
        ppm = (1000000 * ttr_sum) // (n_win * 50)
        assert abs(ppm / 1e6 - ttr_sum / (n_win * 50)) < 1e-5
        assert 0 < ppm <= 10**6


# ---------------------------------------------------------------------------
# Gries DP cross-multiplied identity (text_gries_dp)
# ---------------------------------------------------------------------------


def test_gries_dp_cross_multiplication():
    rng = random.Random(51)
    for _ in range(40):
        k = rng.randint(2, 6)
        sizes = [rng.randint(100, 5000) for _ in range(k)]
        big_s = sum(sizes)
        f = rng.randint(1, 200)
        # split f across parts
        vs = [0] * k
        for _ in range(f):
            vs[rng.randrange(k)] += 1
        dp_ref = (
            sum(
                abs(Fraction(v, f) - Fraction(s, big_s))
                for v, s in zip(vs, sizes)
            )
            / 2
        )
        sad = sum(abs(v * big_s - s * f) for v, s in zip(vs, sizes))
        assert Fraction(sad, 2 * f * big_s) == dp_ref
        ppb = (500000000 * sad) // (f * big_s)
        assert 0 <= ppb <= 10**9


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


def _poly(text: str) -> int:
    acc = 0
    for ch in text:
        acc = (acc * 31 + ord(ch)) % 1000000007
    return acc


def test_fingerprint_matches_python_poly_hash(spark, sf_smoke):
    from mongodb_nats_connector_spark.registry import _REGISTRY, _load_all

    _load_all()
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").limit(64)
    expected = {r["doc_id"]: _poly(r["text"]) for r in docs.collect()}
    got = {
        r["doc_id"]: r["fingerprint"]
        for r in _REGISTRY["text_fingerprint"].fn(spark, sf_smoke).collect()
        if r["doc_id"] in expected
    }
    assert got == expected


def test_fingerprint_edge_cases(spark, tmp_path):
    # empty text folds to 0 (old sequence(1,0) form also landed on 0);
    # NULL propagates; non-ASCII code points hash as full code points.
    from mongodb_nats_connector_spark.registry import _REGISTRY, _load_all

    _load_all()
    cases = ["", "a", "ab", "x y", "café €", "a" * 600, None]
    spark.createDataFrame(
        list(enumerate(cases)), "doc_id bigint, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r["fingerprint"]
        for r in _REGISTRY["text_fingerprint"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {
        i: None if t is None else _poly(t) for i, t in enumerate(cases)
    }
