"""Round-14 optimization internals: the broadcast-size-gated driver fast
paths (dedup_clusters union-find, BPE driver learn loop) must be
bit-identical to the distributed paths they replace, and the explicit
``boundaries`` bucketization must reproduce sketched ranks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_dedup_clusters_driver_matches_loop(spark, monkeypatch):
    """The driver union-find path (edge list proven broadcast-sized) and
    the iterative min-label propagation loop are two physical plans for
    the same fixpoint — identical labels row for row."""
    from mongodb_nats_connector_spark.operators import dedup

    fast = {tuple(r) for r in dedup.dedup_clusters(spark, SF).collect()}
    monkeypatch.setattr(
        dedup, "counted_fits_broadcast", lambda *a, **k: False
    )
    loop = {tuple(r) for r in dedup.dedup_clusters(spark, SF).collect()}
    assert fast == loop
    assert fast, "fixture corpus should produce labels"


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


def test_explicit_boundaries_rank_identical(spark):
    """two_pass_global_rank with ANY explicit boundary set returns the
    same ranks as the sketched path (boundaries only balance work)."""
    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_global_rank,
    )

    df = spark.range(200).select(
        (F.col("id") * 37 % 101).alias("v"), F.col("id").alias("tie")
    )
    base = {
        (r["tie"], r["_rank"], r["_n"])
        for r in two_pass_global_rank(df, "v", "tie").collect()
    }
    for bounds in ([], [50], [10, 20, 90], [-5, 0, 1000]):
        got = {
            (r["tie"], r["_rank"], r["_n"])
            for r in two_pass_global_rank(
                df, "v", "tie", boundaries=bounds
            ).collect()
        }
        assert got == base, bounds
        coll = {
            (r["tie"], r["_rank"], r["_n"])
            for r in two_pass_global_rank(
                df, "v", "tie", boundaries=bounds, collected_offsets=True
            ).collect()
        }
        assert coll == base, bounds
