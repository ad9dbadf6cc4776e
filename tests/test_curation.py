"""Curation operators (``operators/curation.py``): sharding, layout,
profiling, data-quality rules, sampling and dataset cards, checked for
the determinism and accounting properties their docstrings promise.
"""

from __future__ import annotations

import random
from fractions import Fraction

from pyspark.sql import functions as F

from mongodb_nats_connector_spark.operators.curation import (
    SAMPLE_K,
    dq_rule_violations,
    profile_key_skew,
    sample_hash_split,
    sample_reservoir_perkey,
)
from mongodb_nats_connector_spark.sources.tables import table

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


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


# ---------------------------------------------------------------------------
# Shard plan (corpus_shard_plan)
# ---------------------------------------------------------------------------


def test_shard_plan_partitions_every_doc_exactly_once(spark):
    from mongodb_nats_connector_spark.operators.curation import (
        N_SHARDS,
        corpus_shard_plan,
    )
    from mongodb_nats_connector_spark.sources.tables import table

    rows = corpus_shard_plan(spark, SF).collect()
    n_docs = table(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert {r["shard"] for r in rows} <= set(range(N_SHARDS))
    # skew ratios hover around 1.0 by construction of the uniform hash
    assert all(0.2 <= r["skew_vs_ideal"] <= 5.0 for r in rows)


def test_shard_assignment_stable_under_repartitioning(spark):
    """Same doc -> same shard regardless of the input partitioning: the
    property that makes incremental/export re-runs append-consistent."""
    from mongodb_nats_connector_spark.operators.curation import corpus_shard_plan

    a = {
        (r["shard"], r["min_doc_id"], r["max_doc_id"], r["n_docs"])
        for r in corpus_shard_plan(spark, SF).collect()
    }
    b = {
        (r["shard"], r["min_doc_id"], r["max_doc_id"], r["n_docs"])
        for r in corpus_shard_plan(spark, SF).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# Layout, profiles and data-quality rules (layout_zorder_tiles,
# profile_orders_columns, dq_rule_violations, profile_key_skew)
# ---------------------------------------------------------------------------


def test_zorder_tiles_bound_locality(spark):
    """A 256-wide z-range is a 16x16 tile of the key grid: no tile may touch
    more than 16 distinct buckets of either dimension — the locality
    guarantee that makes z-sorted files prunable on either key."""
    from mongodb_nats_connector_spark.operators.curation import layout_zorder_tiles

    rows = layout_zorder_tiles(spark, SF01).collect()
    assert rows
    for r in rows:
        assert r["n_part_buckets"] <= 16
        assert r["n_supp_buckets"] <= 16
        assert r["z_tile"] * 256 <= r["z_min"] <= r["z_max"] < (r["z_tile"] + 1) * 256


def test_profile_covers_all_columns_consistently(spark):
    from mongodb_nats_connector_spark.operators.curation import (
        _PROFILE_COLS,
        profile_orders_columns,
    )
    from mongodb_nats_connector_spark.sources.tables import table

    out = {r["column_name"]: r for r in profile_orders_columns(spark, SF).collect()}
    assert set(out) == set(_PROFILE_COLS)
    n = table(spark, SF, "orders").count()
    for r in out.values():
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
        assert 1 <= r["n_distinct"] <= n
        assert r["min_value"] <= r["max_value"]


def test_dq_rules_complete_and_bounded(spark):
    out = dq_rule_violations(spark, SF).toPandas()
    assert sorted(out["rule"]) == [
        "li_discount_range",
        "li_nonpositive_price",
        "li_nonpositive_qty",
        "li_orphan_order",
        "li_ship_before_order",
        "ord_negative_total",
        "ord_null_custkey",
        "ord_orphan_customer",
    ]
    assert (out["violations"] >= 0).all()
    assert (out["violations"] <= out["checked"]).all()


def test_key_skew_profile_invariants(spark):
    row = profile_key_skew(spark, SF).toPandas().iloc[0]
    n_keys = row["n_keys"]
    assert row["max_share"] >= 1.0 / n_keys - 1e-9
    assert 1.0 / n_keys - 1e-6 <= row["herfindahl"] <= 1.0
    assert row["max_key_rows"] >= row["avg_key_rows"] - 1e-9
    li = table(spark, SF, "lineitem").toPandas()
    counts = li.groupby("l_suppkey").size()
    assert row["n_rows"] == len(li)
    assert row["top_key"] == counts.sort_values(ascending=False).index[0] or (
        counts[row["top_key"]] == counts.max()
    )


# ---------------------------------------------------------------------------
# Sampling (sample_reservoir_perkey, sample_epoch_upsample,
# curate_temperature_resample)
# ---------------------------------------------------------------------------


def test_reservoir_sample_is_deterministic_and_capped(spark):
    one = sample_reservoir_perkey(spark, SF).toPandas()
    two = sample_reservoir_perkey(spark, SF).toPandas()
    key = ["event_type", "rn"]
    a = one.sort_values(key).reset_index(drop=True)
    b = two.sort_values(key).reset_index(drop=True)
    assert a.equals(b), "sample must be reproducible across runs"
    per_key = one.groupby("event_type").size()
    assert (per_key <= SAMPLE_K).all()
    # every key with >= K rows yields exactly K
    ev = table(spark, SF, "events").toPandas()
    full = ev.groupby("event_type").size()
    for k, n in full.items():
        assert per_key.get(k, 0) == min(n, SAMPLE_K)


def test_epoch_upsample_invariants(spark):
    """Every document appears exactly n_copies times with copy_idx 1..n,
    n_copies in {1,2,3}, and sample_id is unique."""
    from mongodb_nats_connector_spark.operators.curation import sample_epoch_upsample

    out = sample_epoch_upsample(spark, "/root/testdata/sf0.01").toPandas()
    assert out["n_copies"].isin([1, 2, 3]).all()
    assert out["sample_id"].is_unique
    per_doc = out.groupby("doc_id").agg(
        n=("copy_idx", "size"), declared=("n_copies", "first"),
        mx=("copy_idx", "max"), mn=("copy_idx", "min"),
    )
    assert (per_doc["n"] == per_doc["declared"]).all()
    assert (per_doc["mx"] == per_doc["declared"]).all()
    assert (per_doc["mn"] == 1).all()


def test_temperature_resample_conserves_budget_and_flattens(spark):
    from mongodb_nats_connector_spark.operators.curation import (
        RESAMPLE_BUDGET,
        curate_temperature_resample,
    )

    rows = curate_temperature_resample(spark, SF).collect()
    # per-group rounding drifts at most 0.5 docs/group
    assert abs(sum(r["alloc_docs"] for r in rows) - RESAMPLE_BUDGET) <= len(rows) / 2
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-2
    # sqrt weighting flattens: the sample rate must be (weakly) decreasing
    # in group size — rare groups are upsampled relative to head groups
    by_size = sorted(rows, key=lambda r: r["n_docs"])
    rates = [r["sample_rate"] for r in by_size]
    assert all(a >= b - 1e-9 for a, b in zip(rates, rates[1:]))


# ---------------------------------------------------------------------------
# Balanced sampling and dataset cards (sample_balanced_class,
# curate_dataset_card)
# ---------------------------------------------------------------------------


def test_balanced_class_exact_counts(spark):
    """Every class is sampled to exactly the minority count, and the kept
    ids are the hash-order prefix (deterministic across runs)."""
    from mongodb_nats_connector_spark.operators.curation import sample_balanced_class

    out = sample_balanced_class(spark, SF).toPandas()
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    m = int(ev.groupby("event_type").size().min())
    counts = out.groupby("event_type").size()
    assert (counts == m).all()
    out2 = sample_balanced_class(spark, SF).toPandas()
    assert sorted(out["event_id"]) == sorted(out2["event_id"])


def test_dataset_card_share_closure_and_counts(spark):
    from mongodb_nats_connector_spark.operators.curation import curate_dataset_card

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    card = curate_dataset_card(spark, SF).toPandas()
    assert card["n_docs"].sum() == len(docs)
    assert card["total_chars"].sum() == docs["n_chars"].sum()
    exp_tokens = docs["text"].str.split(" ").str.len().sum()
    assert card["total_tokens"].sum() == exp_tokens
    # rounded basis points must close to ~10000 (one bp slack per source)
    assert abs(card["token_share_bp"].sum() - 10000) <= len(card)
    assert (card["dup_docs"] >= 0).all()
    for r in card.itertuples():
        sub = docs[docs["source"] == r.source]["n_chars"]
        assert sub.min() <= r.p50_chars <= sub.max()
        assert r.n_langs == docs[docs["source"] == r.source]["lang"].nunique()
