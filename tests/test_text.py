"""Text operators (``operators/text.py``): passage dedup, surprisal,
BPE, fuzzy joins, quality selection, readability, lexical diversity,
vocabulary spectra, document fingerprints, BM25 retrieval, kNN labels,
keyphrases, collocations and bigram language models.

Spark tests recompute a query's result on the smoke tables from its
definition, or pin the physical plan shape that keeps it scalable.
Pure-Python pins check the algebra both engines share against an
independent reference; ``test_stats.py`` says why. The BPE merge cases
run the same greedy whole-symbol semantics through the Spark fold, the
DuckDB oracle fold and a plain-Python reference.
"""

from __future__ import annotations

import math
import random
from collections import defaultdict
from fractions import Fraction

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.operators.text import (
    _duck_merge,
    _merge_pair_arr,
)
from mongodb_nats_connector_spark.plans.explain import plan_string

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


# ---------------------------------------------------------------------------
# Passage dedup (text_passage_dedup)
# ---------------------------------------------------------------------------


def test_passage_dedup_flags_an_injected_duplicate(spark):
    """Two documents sharing all passages must both show dup_ratio 1.0 and
    keep=0; a unique document keeps dup_ratio 0.0 and keep=1."""
    from mongodb_nats_connector_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(16))),      # 2 passages, cloned
            (2, " ".join(f"w{i}" for i in range(16))),      # exact clone of 1
            (3, " ".join(f"u{i}" for i in range(16))),      # unique
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("passage_fixture")

    toks = F.split("text", " ")
    passages = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    (F.size(toks) / text_ops.PASSAGE_WORDS).cast("int") - 1,
                ),
                lambda i: F.concat_ws(
                    " ",
                    F.slice(toks, i * text_ops.PASSAGE_WORDS + 1, text_ops.PASSAGE_WORDS),
                ),
            )
        ).alias("passage"),
    )
    freq = passages.groupBy("passage").agg(F.count_distinct("doc_id").alias("n_docs"))
    per_doc = (
        passages.join(freq, "passage")
        .groupBy("doc_id")
        .agg(
            (F.sum((F.col("n_docs") > 1).cast("int")) / F.count(F.lit(1))).alias("r")
        )
        .collect()
    )
    ratios = {r["doc_id"]: r["r"] for r in per_doc}
    assert ratios[1] == 1.0 and ratios[2] == 1.0 and ratios[3] == 0.0


def test_passage_dedup_two_finegrained_shuffles_only(spark):
    """The plan must shuffle on the passage then doc_id — fine-grained keys —
    and never materialize a join wider than the passage relation (no
    nested-loop / cartesian shapes)."""
    from mongodb_nats_connector_spark.operators.text import text_passage_dedup

    s = plan_string(text_passage_dedup(spark, SF))
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


# ---------------------------------------------------------------------------
# Unigram surprisal (text_unigram_surprisal)
# ---------------------------------------------------------------------------


def test_surprisal_vocab_joins_broadcast(spark):
    """The vocabulary and the 1-row total must broadcast: the token stream
    (the 100 TB side) never shuffles for the join, only for the per-doc
    mean."""
    from mongodb_nats_connector_spark.operators.text import text_unigram_surprisal

    s = plan_string(text_unigram_surprisal(spark, SF))
    assert "BroadcastHashJoin" in s


def test_surprisal_is_scale_invariant_of_uniform_text(spark):
    """On a corpus where every token is equally likely (single repeated
    token), surprisal is exactly -ln(1/1) = 0 for every doc."""
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a")], "doc_id long, text string"
    )
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    out = (
        w.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.avg(-F.log(F.col("cnt") / F.col("n"))).alias("s"))
        .collect()
    )
    assert all(abs(r["s"]) < 1e-12 for r in out)


# ---------------------------------------------------------------------------
# Blocked fuzzy join (fuzzy_join_blocked)
# ---------------------------------------------------------------------------


def test_fuzzy_join_recall_and_plan(spark):
    """Every generated misspelling must match its source word at distance
    exactly 1 (deleting the 2nd char of a >=4-char word always yields
    distance 1), and the block join must be a hash join, not a nested loop."""
    from mongodb_nats_connector_spark.operators.text import (
        FUZZY_MIN_LEN,
        fuzzy_join_blocked,
    )

    out = fuzzy_join_blocked(spark, SF).collect()
    assert out, "no fuzzy matches found"
    assert all(r["dist"] <= 1 for r in out)

    part = spark.read.parquet(f"{SF}/part.parquet")
    words = {
        w["w"]
        for w in part.select(
            F.explode(F.split("p_name", " ")).alias("w")
        ).distinct().collect()
    }
    expected_misspells = {
        w[0] + w[2:] for w in words if len(w) >= FUZZY_MIN_LEN
    }
    got_misspells = {r["m"] for r in out}
    # every misspelling recovers at least its own source word
    assert expected_misspells <= got_misspells

    s = plan_string(fuzzy_join_blocked(spark, SF))
    assert "BroadcastHashJoin" in s
    assert "BroadcastNestedLoopJoin" not in s


# ---------------------------------------------------------------------------
# BPE pair counts / bigram surprisal (bpe_pair_counts, bigram_lm_surprisal)
# ---------------------------------------------------------------------------


def test_bpe_pair_counts_orders_and_bounds(spark):
    from mongodb_nats_connector_spark.operators.text import (
        PAIR_TOPK,
        bpe_pair_counts,
    )

    rows = bpe_pair_counts(spark, SF).collect()
    assert 0 < len(rows) <= PAIR_TOPK
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    s = plan_string(bpe_pair_counts(spark, SF))
    assert "TakeOrderedAndProject" in s


def test_bigram_surprisal_nonnegative_and_complete(spark):
    """MLE probabilities are <= 1 so surprisal >= 0; every multi-token doc
    appears with n_bigrams = token_count - 1."""
    from mongodb_nats_connector_spark.operators.text import bigram_lm_surprisal
    from mongodb_nats_connector_spark.sources.tables import table

    out = {r["doc_id"]: r for r in bigram_lm_surprisal(spark, SF).collect()}
    docs = table(spark, SF, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    ).collect()
    for d in docs:
        if d["n"] >= 2:
            assert out[d["doc_id"]]["n_bigrams"] == d["n"] - 1
            assert out[d["doc_id"]]["avg_surprisal_nats"] >= 0.0


# ---------------------------------------------------------------------------
# BPE merges (bpe_learn_merges, bpe_apply_merges)
# ---------------------------------------------------------------------------


def test_bpe_apply_compression_invariants(spark):
    """Applying merges can only shrink token counts: chars/token >= 1,
    n_tokens <= char count, and every learned merge is a 2-symbol pair."""
    from mongodb_nats_connector_spark.operators.text import (
        bpe_apply_merges,
        bpe_learn_merges,
    )

    out = bpe_apply_merges(spark, SF).toPandas()
    assert (out["n_tokens"] <= out["n_symbols_chars"]).all()
    assert (out["chars_per_token"] >= 1.0).all()
    merges = bpe_learn_merges(spark, SF).toPandas()
    for r in merges.itertuples():
        a, b = r.pair.split(" ")
        assert r.merged == a + b
        assert r.pair_count > 0


# (word-as-spaced-symbols, pair, merged, expected greedy-BPE result).
# 'th t' + pair 'h t' is the boundary case: substring replace would
# rewrite it to 'tht' by matching the tail of merged symbol 'th'.
MERGE_CASES = [
    ("t h t h", "t h", "th", "th th"),
    ("t h t", "h t", "ht", "t ht"),
    ("th t", "h t", "ht", "th t"),
    ("a a a a a", "a a", "aa", "aa aa a"),
    ("a a a", "a a", "aa", "aa a"),
    ("", "a b", "ab", ""),
    ("x", "a b", "ab", "x"),
]


@pytest.mark.parametrize("w,pair,merged,expect", MERGE_CASES)
def test_bpe_merge_whole_symbols_spark(spark, w, pair, merged, expect):
    """The Spark fold merges whole symbols only, greedy left-to-right —
    never a substring match across a previously-merged symbol boundary."""
    p1, p2 = pair.split(" ")
    got = (
        spark.createDataFrame([(w,)], "w string")
        .select(
            F.array_join(
                _merge_pair_arr(F.split("w", " "), p1, p2, merged), " "
            ).alias("r")
        )
        .first()["r"]
    )
    assert got == expect


@pytest.mark.parametrize("w,pair,merged,expect", MERGE_CASES)
def test_bpe_merge_whole_symbols_duckdb(w, pair, merged, expect):
    """The DuckDB oracle fold implements the identical greedy semantics,
    so the parity gate actually exercises true BPE on both engines."""
    con = duckdb.connect()
    q = f"SELECT {_duck_merge(repr(w), repr(pair), repr(merged))} AS r"
    assert con.execute(q).fetchone()[0] == expect
    con.close()


def _greedy_merge_reference(tokens: list[str], p1: str, p2: str, merged: str) -> list[str]:
    """Plain-Python greedy left-to-right BPE pair merge — the semantics the
    SQL/Spark folds must reproduce."""
    out: list[str] = []
    for tok in tokens:
        if out and out[-1] == p1 and tok == p2:
            out[-1] = merged
        else:
            out.append(tok)
    return out


@given(
    tokens=st.lists(st.sampled_from(["a", "b", "ab", "ba", "c"]), min_size=0, max_size=12),
    pair=st.sampled_from([("a", "b"), ("b", "a"), ("a", "a"), ("ab", "a"), ("b", "ab")]),
)
@settings(max_examples=200, deadline=None)
def test_bpe_fold_matches_greedy_reference(tokens, pair):
    """Property: the DuckDB list_reduce fold equals plain greedy merging on
    arbitrary token sequences, including self-pairs and merged-symbol
    tokens (the boundary cases substring replace got wrong)."""
    p1, p2 = pair
    merged = p1 + p2
    w = " ".join(tokens)
    expect = " ".join(_greedy_merge_reference(tokens, p1, p2, merged))
    con = duckdb.connect()
    q = f"SELECT {_duck_merge(repr(w), repr(p1 + ' ' + p2), repr(merged))} AS r"
    got = con.execute(q).fetchone()[0]
    con.close()
    assert got == expect


# ---------------------------------------------------------------------------
# Quality selection and novelty (docs_topp_quality, docs_ngram_novelty)
# ---------------------------------------------------------------------------


def test_topp_quality_invariants(spark):
    """Per-source nucleus selection: kept docs must (a) be a prefix of the
    score-desc ranking, (b) cover >= TOPP_PCT% of the source's score mass,
    (c) be minimal — dropping the last kept doc falls below the target."""
    from mongodb_nats_connector_spark.operators.text import (
        TOPP_PCT,
        docs_topp_quality,
    )

    sf = "/root/testdata/sf0.01"
    kept = docs_topp_quality(spark, sf).toPandas()
    full = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .selectExpr("source", "doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS score")
        .toPandas()
    )
    for source, grp in full.groupby("source"):
        grp = grp.sort_values(["score", "doc_id"], ascending=[False, True])
        total = grp["score"].sum()
        k = kept[kept["source"] == source]
        n = len(k)
        # (a) prefix of the deterministic ranking
        assert set(k["doc_id"]) == set(grp.head(n)["doc_id"])
        mass = grp.head(n)["score"].sum()
        # (b) coverage reaches the target
        assert mass * 100 >= TOPP_PCT * total
        # (c) minimality
        assert (mass - grp.head(n)["score"].iloc[-1]) * 100 < TOPP_PCT * total


def test_ngram_novelty_bounds_and_first_doc_is_fully_novel(spark):
    """novelty_ratio in [0, 1]; novel_grams <= n_grams; and the smallest
    doc_id (nothing precedes it) is 100% novel."""
    from mongodb_nats_connector_spark.operators.text import docs_ngram_novelty

    out = docs_ngram_novelty(spark, "/root/testdata/sf0.01").toPandas()
    assert (out["novel_grams"] <= out["n_grams"]).all()
    assert ((out["novelty_ratio"] >= 0) & (out["novelty_ratio"] <= 1)).all()
    first = out.loc[out["doc_id"].idxmin()]
    assert first["novel_grams"] == first["n_grams"]


# ---------------------------------------------------------------------------
# Retrieval, keyphrases, language models and the BPE driver learn loop
# ---------------------------------------------------------------------------


def test_borda_rank_is_permutation_and_monotone(spark):
    """final_rank is a permutation of 1..n and ordering by borda (ties by
    doc_id) reproduces it."""
    from mongodb_nats_connector_spark.operators.text import docs_quality_ensemble_rank

    out = docs_quality_ensemble_rank(spark, SF).toPandas()
    n = len(out)
    assert sorted(out["final_rank"]) == list(range(1, n + 1))
    ordered = out.sort_values(["borda", "doc_id"]).reset_index(drop=True)
    assert list(ordered["final_rank"]) == list(range(1, n + 1))


def test_knn_classify_matches_python_vote(spark):
    """Predictions recomputed with a plain numpy cosine + Counter vote
    (same rounding, same tiebreaks) agree exactly. (The synthetic labels
    are NOT clustered in embedding space, so accuracy is chance-level by
    construction — the operator's contract is the vote, not the corpus.)"""
    import numpy as np

    from mongodb_nats_connector_spark.operators.text import (
        KNN_K,
        KNN_QUERIES,
        docs_knn_classify,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.itertuples(index=False)}
    labels = dict(zip(emb["vec_id"], emb["label"]))
    exp = {}
    for qid in sorted(vecs):
        if qid >= KNN_QUERIES:
            continue
        qv = vecs[qid]
        sims = []
        for vid, v in vecs.items():
            if vid == qid:
                continue
            cs = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            sims.append((-round(cs, 6), vid))
        top = sorted(sims)[:KNN_K]
        votes = defaultdict(int)
        for _, vid in top:
            votes[labels[vid]] += 1
        pred, n = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        exp[qid] = (pred, n, 1 if pred == labels[qid] else 0)
    got = {
        r["query_id"]: (r["pred_label"], r["n_votes"], r["correct"])
        for r in docs_knn_classify(spark, SF).collect()
    }
    assert got == exp


def test_heaps_fit_sane(spark):
    """beta in (0, 1) (vocabulary grows sublinearly), totals consistent
    with direct counts."""
    from mongodb_nats_connector_spark.operators.text import text_heaps_law_fit

    row = text_heaps_law_fit(spark, SF).collect()[0]
    assert 0 < row["beta"] < 1
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    all_words = [w for t in docs["text"] for w in t.split(" ")]
    assert row["total_tokens"] == len(all_words)
    assert row["total_vocab"] == len(set(all_words))
    assert row["n_docs"] == len(docs)


def test_pmi_matches_python(spark):
    """PMI recomputed from raw counts in Python matches for every pair."""
    from mongodb_nats_connector_spark.operators.text import (
        PMI_MIN_COUNT,
        docs_pmi_collocations,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    from collections import Counter

    uni, big = Counter(), Counter()
    for t in docs["text"]:
        ws = t.split(" ")
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    n_tok = sum(uni.values())
    n_big = sum(big.values())
    exp = {}
    for (a, b), c in big.items():
        if c >= PMI_MIN_COUNT:
            exp[(a, b)] = (
                c,
                round(
                    math.log(
                        (c / n_big) / ((uni[a] / n_tok) * (uni[b] / n_tok))
                    ),
                    6,
                ),
            )
    got = {
        (r["a"], r["b"]): (r["c_ab"], r["pmi"])
        for r in docs_pmi_collocations(spark, SF).collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert abs(got[k][1] - exp[k][1]) < 1e-5, k


def test_bm25_matches_bruteforce(spark):
    from mongodb_nats_connector_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
        text_bm25_topk,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    words = {r.doc_id: r.text.split(" ") for r in docs.itertuples()}
    n_docs = len(words)
    avgdl = sum(len(w) for w in words.values()) / n_docs
    scores = {}
    for term in BM25_TERMS:
        df_t = sum(1 for w in words.values() if term in w)
        if df_t == 0:
            continue
        idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        for doc_id, w in words.items():
            tf = w.count(term)
            if tf == 0:
                continue
            s = (
                idf
                * (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(w) / avgdl))
            )
            scores[doc_id] = scores.get(doc_id, 0.0) + s
    expected = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOPK]
    got = (
        text_bm25_topk(spark, SF)
        .toPandas()
        .sort_values("rn")
        .reset_index(drop=True)
    )
    assert list(got["doc_id"]) == [d for d, _ in expected]
    for (_, exp_s), got_s in zip(expected, got["bm25"]):
        assert abs(exp_s - got_s) < 1e-5


def test_rake_phrases_are_stopword_free_runs(spark):
    from mongodb_nats_connector_spark.operators.text import (
        _RAKE_STOPS,
        text_rake_keyphrases,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    # independent phrase extraction: split each text on stopwords
    phrases = {}
    for t in docs["text"]:
        run = []
        for w in t.split(" ") + [next(iter(_RAKE_STOPS))]:
            if w.lower() in _RAKE_STOPS:
                if run:
                    phrases[" ".join(run)] = phrases.get(" ".join(run), 0) + 1
                run = []
            else:
                run.append(w)
    got = text_rake_keyphrases(spark, SF).toPandas()
    assert len(got) > 0
    for r in got.itertuples():
        # every ranked phrase is a real extracted run with the right count
        assert r.phrase in phrases, r.phrase
        assert r.n_occ == phrases[r.phrase]
        assert not any(w.lower() in _RAKE_STOPS for w in r.phrase.split(" "))
        assert r.rake_score > 0
    # ranking is by score desc then phrase
    scores = list(got.sort_values("rn")["rake_score"])
    assert scores == sorted(scores, reverse=True) or all(
        a >= b - 1e-9 for a, b in zip(scores, scores[1:])
    )


def test_js_divergence_bounds_and_symmetry(spark):
    from mongodb_nats_connector_spark.operators.text import (
        JS_SOURCE_A,
        JS_SOURCE_B,
        docs_js_divergence,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    from collections import Counter

    ca = Counter(
        w
        for t in docs[docs["source"] == JS_SOURCE_A]["text"]
        for w in t.split(" ")
    )
    cb = Counter(
        w
        for t in docs[docs["source"] == JS_SOURCE_B]["text"]
        for w in t.split(" ")
    )
    na, nb = sum(ca.values()), sum(cb.values())
    js = 0.0
    for w in set(ca) | set(cb):
        p = ca.get(w, 0) / na
        q = cb.get(w, 0) / nb
        m = (p + q) / 2
        if p > 0:
            js += 0.5 * p * math.log(p / m)
        if q > 0:
            js += 0.5 * q * math.log(q / m)
    r = docs_js_divergence(spark, SF).collect()[0]
    assert r["n_tokens_a"] == na and r["n_tokens_b"] == nb
    assert r["vocab_union"] == len(set(ca) | set(cb))
    assert abs(r["js_nats"] - js) < 1e-5
    assert 0.0 <= r["js_nats"] <= math.log(2) + 1e-9


def test_kneser_ney_probabilities_normalize(spark):
    """For every context w1 appearing in the top list, the KN distribution
    over ALL observed continuations of w1 must sum to 1 exactly (the
    discount mass redistributed by the continuation model), and each
    kn_prob must be a proper probability."""
    from collections import Counter

    from mongodb_nats_connector_spark.operators.text import (
        KN_D,
        text_kneser_ney_bigram,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    big = Counter()
    for t in docs["text"]:
        ws = t.split(" ")
        big.update(zip(ws, ws[1:]))
    c1 = Counter()
    nl = Counter()
    nr = Counter()
    for (w1, w2), c in big.items():
        c1[w1] += c
        nl[w1] += 1
        nr[w2] += 1
    tot = len(big)

    rows = text_kneser_ney_bigram(spark, SF).collect()
    assert len(rows) == 30
    for r in rows:
        w1, w2 = r["w1"], r["w2"]
        assert r["c2"] == big[(w1, w2)]
        expected = (big[(w1, w2)] - KN_D) / c1[w1] + (
            (KN_D * nl[w1]) / c1[w1]
        ) * ((nr[w2] * 1.0) / tot)
        assert r["kn_prob"] == pytest.approx(expected, rel=1e-12)
        assert 0.0 < r["kn_prob"] <= 1.0
        assert r["mle_prob"] == pytest.approx(big[(w1, w2)] / c1[w1])
    # full-distribution normalization for the most frequent context: the
    # discounted mass over SEEN continuations plus the continuation-model
    # backoff over the WHOLE vocabulary (unseen continuations get only
    # the interpolation term) must sum to exactly 1
    w1 = rows[0]["w1"]
    seen = {b for (a, b) in big if a == w1}
    mass = sum((big[(w1, b)] - KN_D) / c1[w1] for b in seen) + (
        (KN_D * nl[w1]) / c1[w1]
    ) * sum(nr[b] / tot for b in nr)
    assert mass == pytest.approx(1.0, abs=1e-9)


def test_bpe_learn_driver_matches_distributed(spark, monkeypatch):
    """_bpe_learn's collected driver loop (exact integer pair counts, the
    same greedy fold, the same (count DESC, pair ASC) argmax) returns the
    identical merge table as the distributed per-round loop."""
    from mongodb_nats_connector_spark.operators import text

    fast = text._bpe_learn(spark, SF)

    def never_fits(*a, **k):
        return False

    monkeypatch.setattr(text, "counted_fits_broadcast", never_fits)
    assert text._bpe_learn.__globals__["counted_fits_broadcast"] is never_fits
    dist = text._bpe_learn(spark, SF)
    assert fast == dist
    assert len(fast) == text.BPE_ROUNDS


@pytest.mark.parametrize(
    "w,pair,merged,expect",
    [
        ("t h t h", "t h", "th", "th th"),
        ("t h t", "h t", "ht", "t ht"),
        ("th t", "h t", "ht", "th t"),
        ("a a a a a", "a a", "aa", "aa aa a"),
        ("a a a", "a a", "aa", "aa a"),
        ("", "a b", "ab", ""),
        ("x", "a b", "ab", "x"),
    ],
)
def test_bpe_merge_word_matches_spark_fold(w, pair, merged, expect):
    """The pure-Python fold used by the driver learn loop implements the
    exact whole-symbol greedy semantics of the Spark/DuckDB folds
    (same cases as test_text.py's cross-engine suite)."""
    from mongodb_nats_connector_spark.operators.text import _bpe_merge_word

    toks = w.split(" ")
    p1, p2 = pair.split(" ")
    assert " ".join(_bpe_merge_word(toks, p1, p2, merged)) == expect
