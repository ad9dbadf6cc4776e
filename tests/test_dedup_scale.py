"""Adversarial-scale behavior of the dedup bucket machinery.

A degenerate corpus (every document sharing one LSH band key or SimHash
chunk) must not expand O(k^2) candidate pairs in a single task. The cap
(`texthash.MAX_BUCKET_MEMBERS`) truncates bucket membership deterministically
and `expand_bucket_pairs` streams pairs through chained generators with O(k)
per-row memory instead of one O(k^2) flattened array row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions import texthash
from mongodb_nats_connector_spark.functions.texthash import (
    MAX_BUCKET_MEMBERS,
    capped_members,
    expand_bucket_pairs,
)


def test_mega_bucket_pair_count_is_capped(spark):
    """5000 members in ONE bucket -> exactly C(cap, 2) pairs, not C(5000, 2)."""
    n = 5000
    members = spark.range(n).select(F.lit("k").alias("band_key"), F.col("id"))
    buckets = (
        members.groupBy("band_key")
        .agg(capped_members(F.col("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = expand_bucket_pairs(
        buckets, "ids", lambda x, y: F.struct(x.alias("a"), y.alias("b"))
    )
    cap = MAX_BUCKET_MEMBERS
    assert pairs.count() == cap * (cap - 1) // 2
    # deterministic truncation: the lowest ids survive
    kept = buckets.select(F.array_max("ids").alias("mx")).first()["mx"]
    assert kept == cap - 1


def test_healthy_buckets_unaffected_by_cap(spark):
    """Buckets below the cap produce the exact full pair set."""
    members = spark.createDataFrame(
        [("a", i) for i in range(5)] + [("b", i) for i in range(3)],
        "band_key string, id long",
    )
    buckets = members.groupBy("band_key").agg(capped_members(F.col("id")).alias("ids"))
    pairs = expand_bucket_pairs(
        buckets, "ids", lambda x, y: F.struct(x.alias("a"), y.alias("b"))
    ).select("p.a", "p.b")
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    want = {(i, j) for i in range(5) for j in range(i + 1, 5)} | {
        (i, j) for i in range(3) for j in range(i + 1, 3)
    }
    assert got == want


def test_plan_has_no_single_row_flatten(spark):
    """The pair expansion must be chained Generate operators (streaming),
    never a flatten that materializes the whole k^2 array in one row."""
    members = spark.range(100).select(F.lit("k").alias("band_key"), F.col("id"))
    buckets = members.groupBy("band_key").agg(capped_members(F.col("id")).alias("ids"))
    pairs = expand_bucket_pairs(
        buckets, "ids", lambda x, y: F.struct(x.alias("a"), y.alias("b"))
    )
    from mongodb_nats_connector_spark.plans.explain import plan_string

    s = plan_string(pairs)
    assert s.count("Generate") >= 2, s
    assert "flatten" not in s.lower(), s


def test_adversarial_identical_corpus_end_to_end(spark, tmp_path, monkeypatch):
    """dedup_minhash_lsh on a corpus of IDENTICAL documents (the worst-case
    mega-bucket: every doc lands in every band's single bucket) completes
    with capped work and links the surviving members at jaccard 1.0."""
    from mongodb_nats_connector_spark.operators.dedup import dedup_minhash_lsh

    monkeypatch.setattr(texthash, "MAX_BUCKET_MEMBERS", 64)
    n = 500
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = dedup_minhash_lsh(spark, str(tmp_path))
    rows = out.collect()
    # every band bucket truncates to the same lowest-64 doc_ids
    assert len(rows) == 64 * 63 // 2
    assert all(abs(r["jaccard"] - 1.0) < 1e-9 for r in rows)
    assert max(max(r["doc_a"], r["doc_b"]) for r in rows) == 63


def test_cluster_invariants(spark):
    """Connected-components contract: documents joined by a verified pair
    share a cluster, every cluster's id is its minimum member, and
    untouched documents are singleton clusters."""
    from mongodb_nats_connector_spark.operators.dedup import (
        dedup_clusters,
        dedup_minhash_lsh,
    )

    sf = "/root/testdata/sf0.001"
    pairs = [(r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf).collect()]
    cluster = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(spark, sf).collect()}
    canon = {
        r["doc_id"]: r["is_canonical"] for r in dedup_clusters(spark, sf).collect()
    }
    assert pairs, "fixture corpus should contain near-dups"
    for a, b in pairs:
        assert cluster[a] == cluster[b], (a, b)
    members: dict = {}
    for doc, cid in cluster.items():
        members.setdefault(cid, []).append(doc)
    for cid, docs in members.items():
        assert cid == min(docs), (cid, docs)
    paired = {d for p in pairs for d in p}
    for doc, cid in cluster.items():
        if doc not in paired:
            # singleton unless connected transitively through a chain
            if len(members[cid]) == 1:
                assert cid == doc
        assert canon[doc] == (1 if doc == cid else 0)
