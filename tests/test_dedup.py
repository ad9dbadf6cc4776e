"""Dedup operators (``operators/dedup.py``): boilerplate-prefix clusters,
LSH embedding dedup, the survivorship report and the driver union-find
path of ``dedup_clusters``.

The embedding dedup's precision is structural (an exact cosine verify
decides every candidate), so it is pinned as a subset of the quadratic
baseline; its recall is pinned on planted near-duplicates.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# Boilerplate prefixes (dedup_prefix_boilerplate)
# ---------------------------------------------------------------------------


def test_prefix_dedup_clusters_are_well_formed(spark):
    """Every cluster has >= 2 members and exactly one canonical doc (the
    smallest id)."""
    from mongodb_nats_connector_spark.operators.dedup import dedup_prefix_boilerplate

    out = dedup_prefix_boilerplate(spark, SF01).toPandas()
    assert len(out) > 0
    for h, grp in out.groupby("prefix_hash"):
        assert len(grp) == grp["cluster_size"].iloc[0] >= 2
        assert grp["is_canonical"].sum() == 1
        assert grp.loc[grp["is_canonical"], "doc_id"].iloc[0] == grp["doc_id"].min()


# ---------------------------------------------------------------------------
# Embedding near-duplicates (dedup_embedding_cosine)
# ---------------------------------------------------------------------------


def test_dedup_embedding_cosine_subset_of_exact(spark):
    """Precision is 1.0 by construction: the bucketing only GENERATES
    candidates, the exact cosine verify decides — so the emitted pair set
    must be a subset of the quadratic baseline's."""
    from mongodb_nats_connector_spark.operators.dedup import dedup_embedding_cosine
    from mongodb_nats_connector_spark.operators.similarity import (
        similarity_neardup_pairs,
    )

    sf_dir = "/root/testdata/sf0.01"
    lsh = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    exact = {
        (r.vec_a, r.vec_b)
        for r in similarity_neardup_pairs(spark, sf_dir).collect()
    }
    assert exact, "baseline found no near-dup pairs; threshold too high"
    assert lsh, "LSH path found no pairs at all"
    assert lsh <= exact, f"LSH emitted non-duplicate pairs: {lsh - exact}"


def test_dedup_embedding_cosine_recall_on_planted_dups(spark, tmp_path):
    """Recall on TRUE near-duplicates: plant 40 high-similarity pairs
    (cos >= 0.95 — tiny additive noise on a copy) among random vectors;
    the 10x8-bit sign-LSH misses such a pair with probability
    (1 - agree^8)^10 < 1e-3, so all-but-at-most-two must be recovered."""
    import random as _random

    from mongodb_nats_connector_spark.operators.dedup import dedup_embedding_cosine

    rng = _random.Random(99)
    rows = []
    n_base, dim = 40, 64
    for i in range(n_base):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        dup = [x + rng.gauss(0.0, 0.08) for x in v]
        rows.append((i, [float(x) for x in v], 0))
        rows.append((i + 1000, [float(x) for x in dup], 0))
    for i in range(200):  # background noise vectors
        rows.append(
            (i + 5000, [float(rng.gauss(0.0, 1.0)) for _ in range(dim)], 1)
        )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    emb.write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine(spark, str(tmp_path)).collect()
    }
    planted = {(i, i + 1000) for i in range(n_base)}
    found = len(planted & got)
    assert found >= n_base - 2, (
        f"recall {found}/{n_base} on planted cos>=0.95 duplicates"
    )


# ---------------------------------------------------------------------------
# Survivorship (dedup_survivorship_report)
# ---------------------------------------------------------------------------


def test_survivorship_report_accounts_for_every_document(spark):
    """kept + dropped = total per source, and totals sum to the corpus."""
    from mongodb_nats_connector_spark.operators.dedup import (
        dedup_survivorship_report,
    )

    sf = "/root/testdata/sf0.01"
    out = dedup_survivorship_report(spark, sf).toPandas()
    assert (out["docs_kept"] + out["docs_dropped"] == out["docs_total"]).all()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert out["docs_total"].sum() == n_docs
    assert (out.loc[out["docs_dropped"] == 0, "chars_saved"] == 0).all()


# ---------------------------------------------------------------------------
# Driver union-find fast path (dedup_clusters)
# ---------------------------------------------------------------------------


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
