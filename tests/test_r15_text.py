"""Round-15 text-operator optimization pins.

text_fingerprint's character expansion moved from transform(sequence) +
substr(i, 1) per position (an O(len^2) seek-from-start per document) to a
single split('') pass. These tests pin the polynomial-hash semantics the
rewrite must preserve: exact integer fold (acc*31 + code) mod 1e9+7 over
per-position code points, empty/NULL behavior, and non-ASCII code points.
"""

from __future__ import annotations


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
