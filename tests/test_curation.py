"""Curation operators: determinism properties the docstrings promise."""

from __future__ import annotations

import random
from fractions import Fraction

from pyspark.sql import functions as F

from mongodb_nats_connector_spark.operators.curation import sample_hash_split

SF = "/root/testdata/sf0.001"


def test_split_deterministic_under_repartitioning(spark):
    """The salted-hash split must be a pure function of doc_id: identical
    assignment regardless of partitioning — the property df.sample() lacks
    and the reason this operator exists."""
    a = sample_hash_split(spark, SF)
    b = sample_hash_split(spark, SF).repartition(17, "doc_id")
    merged = a.alias("a").join(b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"))
    diff = merged.filter(
        (F.col("a.split") != F.col("b.split"))
        | (F.col("a.in_10pct_sample") != F.col("b.in_10pct_sample"))
    )
    assert diff.count() == 0


def test_split_partitions_are_exhaustive_and_disjoint(spark):
    df = sample_hash_split(spark, SF)
    n = df.count()
    by_split = {r["split"]: r["n"] for r in df.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(by_split) <= {"train", "val", "test"}
    assert sum(by_split.values()) == n
    # rough proportions at n=100: generous bounds, deterministic data
    assert by_split.get("train", 0) > n * 0.6
    assert by_split.get("train", 0) < n * 0.95


def test_stratified_sample_exact_quota_and_determinism(spark):
    from mongodb_nats_connector_spark.operators.curation import (
        STRAT_QUOTA,
        sample_stratified,
    )
    from mongodb_nats_connector_spark.sources.tables import table

    df = sample_stratified(spark, SF)
    per_lang = {
        r["lang"]: r["n"]
        for r in df.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    avail = {
        r["lang"]: r["n"]
        for r in table(spark, SF, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for lang, n in per_lang.items():
        assert n == min(STRAT_QUOTA, avail[lang]), (lang, n, avail[lang])
    # pure function of doc_id + lang: same rows on a second evaluation
    again = set(r["doc_id"] for r in sample_stratified(spark, SF).collect())
    assert set(r["doc_id"] for r in df.collect()) == again


def test_dataset_mix_exact_ratios(spark):
    """Selected counts must be exactly wt * units per source — the
    advertised 3:2:2:1 mixing contract."""
    from mongodb_nats_connector_spark.operators.curation import curate_dataset_mix

    df = curate_dataset_mix(spark, SF)
    rows = df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.max("quota").alias("quota")
    ).collect()
    wts = {r["source"]: (3 if r["source"] == "src0"
                         else 2 if r["source"] in ("src1", "src2") else 1)
           for r in rows}
    units = {r["source"]: r["quota"] // wts[r["source"]] for r in rows}
    assert len(set(units.values())) == 1, f"units differ: {units}"
    for r in rows:
        assert r["n"] == r["quota"], (r["source"], r["n"], r["quota"])


def test_pack_sequences_bins_respect_budget(spark):
    """Within each source, bin offsets stay under the budget and documents
    are contiguous in doc_id order (cumulative assignment)."""
    from mongodb_nats_connector_spark.operators.curation import (
        PACK_BUDGET,
        pack_sequences,
    )

    rows = pack_sequences(spark, SF).orderBy("source", "doc_id").collect()
    assert rows
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, rs in by_source.items():
        cum = 0
        for r in rs:
            assert r["bin_id"] == cum // PACK_BUDGET, (source, r)
            assert 0 <= r["bin_offset"] < PACK_BUDGET, (source, r)
            assert r["bin_offset"] == cum - r["bin_id"] * PACK_BUDGET
            cum += r["n_tokens"]


def test_chunking_covers_and_overlaps(spark):
    """Chunk invariants: chunk 0 starts the doc, consecutive chunks overlap
    by CHUNK_TOKENS - CHUNK_STRIDE tokens, and every token appears in some
    chunk (full coverage)."""
    from mongodb_nats_connector_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        text_chunk_tokens,
    )
    from mongodb_nats_connector_spark.sources.tables import table

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in table(spark, SF, "documents").collect()
    }
    chunks: dict = {}
    for r in text_chunk_tokens(spark, SF).collect():
        chunks.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"].split(" ")
    assert set(chunks) == set(docs)
    for doc_id, toks in docs.items():
        got = chunks[doc_id]
        n_chunks = max(got) + 1
        assert n_chunks == (len(toks) - 1) // CHUNK_STRIDE + 1
        covered = 0
        for cid in range(n_chunks):
            start = cid * CHUNK_STRIDE
            expect = toks[start : start + CHUNK_TOKENS]
            assert got[cid] == expect, (doc_id, cid)
            covered = max(covered, start + len(got[cid]))
        assert covered == len(toks), f"doc {doc_id}: {covered} != {len(toks)}"


def test_pii_scrub_removes_all_matches(spark):
    """After scrubbing, no email/phone pattern survives, and scrubbing is
    idempotent (scrub(scrub(x)) == scrub(x))."""
    import re

    from mongodb_nats_connector_spark.operators.text import (
        PII_EMAIL,
        PII_PHONE,
        text_pii_scrub,
    )

    rows = text_pii_scrub(spark, SF).collect()
    email, phone = re.compile(PII_EMAIL), re.compile(PII_PHONE)
    for r in rows:
        assert r["n_emails"] >= 1  # the synthesized PII is always present
        assert not email.search(r["scrubbed"]), r["scrubbed"]
        assert not phone.search(r["scrubbed"]), r["scrubbed"]


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
