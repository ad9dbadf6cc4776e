"""Invariants for the round-6b operators: big-star CC, CDC as-of snapshot,
offset-gap audit, bitmap count-distinct."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_bigstar_labels_on_path_and_triangle(spark):
    """A 10-node path forces multiple large/small-star rounds (the near-dup
    corpus converges in one — it would not catch a wrong star fixpoint);
    the disjoint triangle checks component isolation."""
    from mongodb_nats_connector_spark.operators.graph import bigstar_labels

    path = [(i, i + 1) for i in range(9)]  # 0-1-2-...-9
    tri = [(20, 21), (21, 22), (20, 22)]
    edges = spark.createDataFrame(path + tri, "a long, b long")
    got = {
        r["doc_id"]: r["label"] for r in bigstar_labels(edges).collect()
    }
    assert got == {**{i: 0 for i in range(10)}, **{i: 20 for i in (20, 21, 22)}}


def test_bigstar_matches_label_propagation(spark):
    """Two different physical plans (shuffle-only big-star vs broadcast
    label propagation) must reach the identical clustering."""
    from mongodb_nats_connector_spark.operators.dedup import dedup_clusters
    from mongodb_nats_connector_spark.operators.graph import graph_cc_bigstar

    a = {tuple(r) for r in graph_cc_bigstar(spark, SF).collect()}
    b = {tuple(r) for r in dedup_clusters(spark, SF).collect()}
    assert a == b


def test_bitmap_distinct_equals_exact(spark):
    from mongodb_nats_connector_spark.operators.stats import agg_bitmap_distinct

    got = {
        r["event_type"]: r["n_users"]
        for r in agg_bitmap_distinct(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact


def test_offset_gap_accounting_closes(spark):
    """Per subject: ids skipped between deliveries + ids delivered must
    tile the [first, last] offset interval exactly."""
    from mongodb_nats_connector_spark.operators.cdc import cdc_offset_gap_detect

    ev = spark.read.parquet(f"{SF}/events.parquet")
    firsts = {
        r["event_type"]: r["first_id"]
        for r in ev.groupBy("event_type")
        .agg(F.min("event_id").alias("first_id"))
        .collect()
    }
    for r in cdc_offset_gap_detect(spark, SF).collect():
        span = r["last_offset"] - firsts[r["event_type"]] + 1
        assert r["missing_between"] + r["n_msgs"] == span, r
        assert r["n_gaps"] <= r["missing_between"]
        assert r["max_gap"] <= r["missing_between"]


def test_apply_asof_is_a_prefix_of_latest(spark):
    from mongodb_nats_connector_spark.operators.cdc import (
        ASOF_SNAPSHOT_TS,
        cdc_apply_asof,
        cdc_apply_latest,
    )

    asof = {r["user_id"]: r["last_ts"] for r in cdc_apply_asof(spark, SF).collect()}
    latest = {
        r["user_id"]: r["last_ts"] for r in cdc_apply_latest(spark, SF).collect()
    }
    assert set(asof) <= set(latest)
    cut = ASOF_SNAPSHOT_TS
    for uid, ts in asof.items():
        assert str(ts) <= cut or ts.strftime("%Y-%m-%d %H:%M:%S") <= cut
        assert ts <= latest[uid]
