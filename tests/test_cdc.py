"""Batch CDC operators (``operators/cdc.py``): offset-gap accounting,
as-of snapshots, MERGE upserts and the lateness audit, checked for the
row accounting each docstring promises.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Offset gaps (cdc_offset_gap_detect)
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# Snapshots (cdc_apply_asof, merge_upsert_snapshot)
# ---------------------------------------------------------------------------


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


def test_merge_upsert_invariants(spark):
    """MERGE row accounting: |result| = |base| - |deletes| + |inserts|;
    updated keys carry the new status, deleted keys are gone, inserted keys
    exist above the shift, untouched rows pass through unchanged."""
    from mongodb_nats_connector_spark.operators.cdc import merge_upsert_snapshot

    sf = "/root/testdata/sf0.01"
    out = merge_upsert_snapshot(spark, sf).toPandas().set_index("o_orderkey")
    base = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .selectExpr("o_orderkey", "o_orderstatus", "round(o_totalprice, 2) AS p")
        .toPandas()
        .set_index("o_orderkey")
    )
    deletes = {k for k in base.index if k % 10 == 0}
    updates = {k for k in base.index if k % 10 in (1, 2)}
    # the operator derives the insert shift from the data: max key + 1
    shift = max(base.index) + 1
    inserts = {k + shift for k in base.index if k % 10 == 7}
    assert len(out) == len(base) - len(deletes) + len(inserts)
    assert not (set(out.index) & deletes)
    assert inserts <= set(out.index)
    assert (out.loc[sorted(updates), "o_orderstatus"] == "UPDATED").all()
    untouched = sorted(set(base.index) - deletes - updates)[:100]
    assert (
        out.loc[untouched, "o_orderstatus"] == base.loc[untouched, "o_orderstatus"]
    ).all()


# ---------------------------------------------------------------------------
# Lateness audit (cdc_out_of_order_audit)
# ---------------------------------------------------------------------------


def test_lateness_audit_integers_consistent(spark):
    """n_late <= n_msgs; total lateness >= max lateness when any row is
    late; zero-late subjects report NULL max and 0 total."""
    from mongodb_nats_connector_spark.operators.cdc import cdc_out_of_order_audit

    out = cdc_out_of_order_audit(spark, SF).toPandas()
    assert (out["n_late"] <= out["n_msgs"]).all()
    late = out[out["n_late"] > 0]
    assert (late["total_lateness_us"] >= late["max_lateness_us"]).all()
    clean = out[out["n_late"] == 0]
    assert clean["max_lateness_us"].isna().all()
    assert (clean["total_lateness_us"] == 0).all()
