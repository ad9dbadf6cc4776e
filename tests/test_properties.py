"""Property-based tests (hypothesis) for the deterministic kernels.

These run WITHOUT a SparkSession: the minhash/simhash/jaccard math and the
quality heuristics are pure functions of their inputs, so properties are
checked directly against reference implementations in Python. (The Spark
expressions are separately pinned to these semantics by the DuckDB oracle
parity suite; here we pin the algorithms themselves.)
"""

from __future__ import annotations

import json
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from mongodb_nats_connector_spark.functions.texthash import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_K,
    _MERSENNE_P,
)

words = st.text(alphabet="abcdefg", min_size=1, max_size=4)
docs = st.lists(words, min_size=3, max_size=40)


def _shingles(ws: list[str], n: int = 3) -> set[str]:
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _minhash(sh: set[str]) -> list[int]:
    # mirror of the Spark pipeline: xxhash64 -> u32 fold -> affine min.
    # xxhash64 isn't in stdlib; any deterministic 64-bit hash preserves the
    # PROPERTIES under test (bounds, permutation-min structure, estimator
    # unbiasedness), so use blake2b-derived 64-bit values here.
    import hashlib

    def h64(s: str) -> int:
        d = hashlib.blake2b(s.encode(), digest_size=8).digest()
        return int.from_bytes(d, "little", signed=True) % (1 << 32)

    hs = [h64(s) for s in sh]
    return [
        min((MINHASH_A[i] * x + MINHASH_B[i]) % _MERSENNE_P for x in hs)
        for i in range(MINHASH_K)
    ]


@given(docs)
@settings(max_examples=200, deadline=None)
def test_minhash_identical_docs_identical_signatures(ws):
    sh = _shingles(ws)
    assert _minhash(sh) == _minhash(set(sh))
    assert all(0 <= v < _MERSENNE_P for v in _minhash(sh))


@given(docs, docs)
@settings(max_examples=100, deadline=None)
def test_minhash_agreement_bounded_by_jaccard_extremes(wa, wb):
    """j=1 => all K minhashes agree; disjoint sets can only collide, never
    be forced equal — and band structure covers the whole signature."""
    sa, sb = _shingles(wa), _shingles(wb)
    if sa == sb:
        assert _minhash(sa) == _minhash(sb)
    assert LSH_BANDS * LSH_ROWS == MINHASH_K


@given(docs, docs)
@settings(max_examples=50, deadline=None)
def test_jaccard_is_a_metric_similarity(wa, wb):
    sa, sb = _shingles(wa), _shingles(wb)
    inter = len(sa & sb)
    union = len(sa | sb)
    j = inter / union if union else 1.0
    assert 0.0 <= j <= 1.0
    assert (j == 1.0) == (sa == sb)


oid_hex = st.text(alphabet="0123456789abcdef", min_size=24, max_size=24)


@given(oid_hex, st.integers(0, 2**31 - 1), st.integers(0, 1000))
@settings(max_examples=200, deadline=None)
def test_extjson_envelope_shapes_roundtrip(oid, epoch_s, inc):
    """The relaxed-ExtJSON forms the engine emits parse back losslessly
    (the reference's MarshalExtJSON contract, client.go:222)."""
    ev = {
        "_id": {"_data": oid},
        "documentKey": {"_id": {"$oid": oid}},
        "clusterTime": {"$timestamp": {"t": epoch_s, "i": inc}},
    }
    s = json.dumps(ev, separators=(",", ":"))
    back = json.loads(s)
    assert back == ev
    assert back["documentKey"]["_id"]["$oid"] == oid
    assert back["clusterTime"]["$timestamp"]["t"] == epoch_s


@given(st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=2, max_size=64))
@settings(max_examples=200, deadline=None)
def test_cosine_bounds_and_self_similarity(v):
    """cosine(v, v) == 1 for any non-zero vector; |cosine| <= 1 + eps."""
    n = math.sqrt(sum(x * x for x in v))
    if n == 0 or not math.isfinite(n):
        return
    cos_self = sum(x * x for x in v) / (n * n)
    assert abs(cos_self - 1.0) < 1e-9
    rev = list(reversed(v))
    nr = math.sqrt(sum(x * x for x in rev))
    cos = sum(a * b for a, b in zip(v, rev)) / (n * nr)
    assert -1.0 - 1e-9 <= cos <= 1.0 + 1e-9


def _tuple_shingles(ws: list[str], n: int = 3) -> set[tuple]:
    return {tuple(ws[i : i + n]) for i in range(len(ws) - n + 1)}


@given(st.lists(words, min_size=3, max_size=40), st.lists(words, min_size=3, max_size=40))
@settings(max_examples=200, deadline=None)
def test_tuple_shingles_preserve_jaccard_exactly(wa, wb):
    """The word-TUPLE shingle set (what hashed_word_shingles hashes) and the
    joined-string shingle set induce identical Jaccard for any document
    pair: ' '.join is injective on space-free words, so the two set families
    are in bijection. This is the invariant that makes hashing the tuple
    (skipping the string build) a pure optimization."""
    sa, sb = _shingles(wa), _shingles(wb)
    ta, tb = _tuple_shingles(wa), _tuple_shingles(wb)
    assert len(sa) == len(ta) and len(sb) == len(tb)
    assert len(sa & sb) == len(ta & tb)
    assert len(sa | sb) == len(ta | tb)


finite_vec = st.lists(
    st.floats(min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=64,
)


def _quantize(v: list[float]) -> tuple[float, list[int]]:
    m = max(max(abs(x) for x in v), 1e-30)
    q = [math.floor(x * 127.0 / m + 0.5) for x in v]
    return m, q


@given(finite_vec)
@settings(max_examples=300, deadline=None)
def test_int8_quantization_bounds_and_error(v):
    """Codes stay in [-127, 127] and round-to-nearest reconstruction error
    never exceeds half a quantization step."""
    m, q = _quantize(v)
    scale = m / 127.0
    assert all(-127 <= x <= 127 for x in q)
    for x, qi in zip(v, q):
        assert abs(x - qi * scale) <= scale / 2 + 1e-12 * max(1.0, abs(x))


@given(finite_vec, st.floats(min_value=0.001, max_value=1000.0, allow_nan=False))
@settings(max_examples=300, deadline=None)
def test_int8_quantization_scale_invariant(v, c):
    """Quantization codes are invariant under positive rescaling of the
    vector (only the stored scale changes) — the property that makes the
    int-dot ADC ranking meaningful across differently-normed vectors."""
    if max(abs(x) for x in v) < 1e-12:
        return  # all-zero vector: scaling is degenerate by construction
    _, q1 = _quantize(v)
    _, q2 = _quantize([x * c for x in v])
    # float roundoff in x*c can flip an exact .5 boundary; allow only that
    assert sum(1 for a, b in zip(q1, q2) if a != b) <= len(v) // 8


# --- doubled-midrank identity (the shared rank-statistic kernel) ---

ints = st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=200)


@given(ints)
@settings(max_examples=200, deadline=None)
def test_doubled_midrank_identity(values):
    """mr2(v) = 2*count_below(v) + tie_count(v) + 1 must equal twice the
    average (midrank) rank for EVERY value of EVERY multiset — the exact
    integer identity the Mann-Whitney / Wilcoxon / Kruskal-Wallis /
    Ansari-Bradley / ROC-AUC family rides instead of materializing
    per-row ranks."""
    from collections import Counter

    cnt = Counter(values)
    below = 0
    for v in sorted(cnt):
        t = cnt[v]
        mr2 = 2 * below + t + 1
        # reference: average rank of the t copies in the sorted order is
        # ((below+1) + (below+t)) / 2
        assert mr2 == (below + 1) + (below + t)
        below += t
    assert below == len(values)


@given(ints)
@settings(max_examples=200, deadline=None)
def test_doubled_midrank_sum_invariant(values):
    """sum over the multiset of doubled midranks = n*(n+1) — the rank-sum
    conservation every rank statistic's expectation terms rely on."""
    from collections import Counter

    cnt = Counter(values)
    below, total = 0, 0
    for v in sorted(cnt):
        t = cnt[v]
        total += t * (2 * below + t + 1)
        below += t
    n = len(values)
    assert total == n * (n + 1)


@given(ints)
@settings(max_examples=200, deadline=None)
def test_ansari_doubled_score_bounds(values):
    """Doubled Ansari scores s2 = min(mr2, 2(N+1)-mr2) are even-count
    symmetric: they lie in [2, N+1] and the multiset sum is invariant
    under reversing the sort order (both-ends symmetry)."""
    from collections import Counter

    cnt = Counter(values)
    n = len(values)
    below = 0
    fwd = []
    for v in sorted(cnt):
        t = cnt[v]
        mr2 = 2 * below + t + 1
        fwd.extend([min(mr2, 2 * (n + 1) - mr2)] * t)
        below += t
    below = 0
    rev = []
    for v in sorted(cnt, reverse=True):
        t = cnt[v]
        mr2 = 2 * below + t + 1
        rev.extend([min(mr2, 2 * (n + 1) - mr2)] * t)
        below += t
    assert all(2 <= s <= n + 1 for s in fwd)
    assert sorted(fwd) == sorted(rev)
