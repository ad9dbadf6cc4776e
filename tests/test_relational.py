"""Relational operators (``operators/relational.py``): as-of joins,
window ranks, customer segments, approximate sketches, co-purchase pairs
and the plan shapes that keep them scalable.

Oracle parity (``tests/test_oracle_parity.py``) pins each query against
DuckDB; these tests assert the invariants the docstrings promise. The
sketch queries have no cross-engine oracle, so their documented error
bounds are checked against exact counts. ``agg_mad_outliers``' output
rounding must replicate DuckDB's ``round(x, 2)``.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.plans.explain import plan_string

SF = "/root/testdata/sf0.001"


def test_scaled_round_replays_duckdb_round2(spark):
    """agg_mad_outliers' output rounding (r15 parity fix): the scaled form
    round(x*100)/100 must replicate DuckDB's round(x, 2) — half away from
    zero on the *product's* integer ties — where F.round(x, 2)'s
    decimal-repr HALF_UP diverges. 52724.244999999995 is the real sf0.001
    flag-R median whose product is exactly 5272424.5."""
    cases = [
        (52724.244999999995, 52724.25),   # product tie: F.round(x,2) says .24
        (-52724.244999999995, -52724.25),
        (0.125, 0.13),
        (-0.125, -0.13),
        (2.675, 2.68),
        (0.005, 0.01),
        (104949.5, 104949.5),
        (936.12, 936.12),
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], "v double")
    got = {
        r["v"]: r["r"]
        for r in df.select(
            "v", (F.round(F.col("v") * 100) / 100).alias("r")
        ).collect()
    }
    for v, want in cases:
        assert got[v] == want, (v, got[v], want)


# ---------------------------------------------------------------------------
# Running distinct and as-of joins (window_running_distinct, join_asof_*)
# ---------------------------------------------------------------------------


def test_running_distinct_is_monotone_and_bounded(spark):
    """Per user the running distinct count never decreases and never exceeds
    the number of event types."""
    from mongodb_nats_connector_spark.operators.relational import (
        window_running_distinct,
    )
    from pyspark.sql.window import Window

    df = window_running_distinct(spark, SF)
    w = Window.partitionBy("user_id").orderBy("event_id")
    lagged = df.withColumn(
        "prev", F.lag("running_distinct_types").over(w)
    ).filter(F.col("prev").isNotNull())
    assert lagged.filter(F.col("running_distinct_types") < F.col("prev")).count() == 0
    assert df.agg(F.max("running_distinct_types")).collect()[0][0] <= 5


def test_asof_tolerance_gap_never_exceeds_bound(spark):
    """Every non-null match respects the 60-minute tolerance."""
    from mongodb_nats_connector_spark.operators.relational import (
        ASOF_TOLERANCE_MIN,
        join_asof_tolerance,
    )

    df = join_asof_tolerance(spark, SF)
    bad = df.filter(
        F.col("matched_click_id").isNotNull()
        & (F.col("gap_seconds") > ASOF_TOLERANCE_MIN * 60)
    )
    assert bad.count() == 0
    # and the tolerance actually bites: some purchase has no match
    assert df.filter(F.col("matched_click_id").isNull()).count() > 0


def test_asof_nearest_never_farther_than_backward(spark):
    """The nearest match is at most as far as the backward-only match for
    every purchase that has a preceding signup."""
    from mongodb_nats_connector_spark.operators.relational import (
        join_asof,
        join_asof_nearest,
    )

    near = (
        join_asof_nearest(spark, SF).toPandas().set_index("event_id")
    )
    back = join_asof(spark, SF).toPandas().set_index("event_id")
    joined = near.join(back[["last_signup_ts"]], how="inner")
    has_back = joined.dropna(subset=["last_signup_ts"])
    back_gap = (
        has_back["ts"] - has_back["last_signup_ts"]
    ).dt.total_seconds() * 1e6
    assert (has_back["gap_micros"] <= back_gap + 0.5).all()


def test_asof_forward_never_before_purchase(spark):
    """Forward as-of matches only signups AT-OR-AFTER the purchase, and the
    nearest-direction gap is never larger than the forward-only gap."""
    from mongodb_nats_connector_spark.operators.relational import (
        join_asof_forward,
        join_asof_nearest,
    )

    sf = "/root/testdata/sf0.001"
    fwd = join_asof_forward(spark, sf).toPandas().set_index("event_id")
    has_next = fwd.dropna(subset=["next_signup_ts"])
    assert (has_next["next_signup_ts"] >= has_next["ts"]).all()

    near = join_asof_nearest(spark, sf).toPandas().set_index("event_id")
    joined = near.join(fwd[["next_signup_ts"]], how="inner").dropna(
        subset=["next_signup_ts", "gap_micros"]
    )
    fwd_gap = (
        joined["next_signup_ts"] - joined["ts"]
    ).dt.total_seconds() * 1e6
    assert (joined["gap_micros"] <= fwd_gap + 0.5).all()


def test_asof_nearest_null_gap_when_no_signup(spark, tmp_path):
    """A purchase whose user never signed up gets NULL nearest_signup_ts
    AND NULL gap_micros — not a Long.MAX sentinel that downstream latency
    aggregates would absorb as a real value."""
    import datetime as dt

    from mongodb_nats_connector_spark.operators.relational import join_asof_nearest

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("uA", t0, "e1", "signup"),
        ("uA", t0 + dt.timedelta(minutes=5), "e2", "purchase"),
        ("uB", t0, "e3", "purchase"),  # never signed up
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id string, event_type string"
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))
    out = (
        join_asof_nearest(spark, str(tmp_path)).toPandas().set_index("event_id")
    )
    assert out.loc["e2", "gap_micros"] == 5 * 60 * 1_000_000
    assert pd.isna(out.loc["e3", "nearest_signup_ts"])
    assert pd.isna(out.loc["e3", "gap_micros"])


# ---------------------------------------------------------------------------
# Plan shapes (part_copurchase_pairs, agg_mad_outliers, window_rank_topk)
# ---------------------------------------------------------------------------


def test_copurchase_topk_plan_equijoins_and_heaps(spark):
    """r14 basket shape: NO join at all — one orderkey shuffle into the
    collect_list basket aggregate, map-side pair expansion (Generate),
    and the global top-k must compile to TakeOrderedAndProject, not a
    full sort. (Formerly this pinned the self-join's equi-join strategy;
    the join was removed outright.)"""
    from mongodb_nats_connector_spark.operators.relational import (
        part_copurchase_pairs,
    )

    s = plan_string(part_copurchase_pairs(spark, SF))
    assert "TakeOrderedAndProject" in s
    assert "Join" not in s and "CartesianProduct" not in s
    assert "Generate" in s  # the map-side explode of the pair arrays
    assert "collect_list" in s


def test_mad_outliers_median_stats_broadcast(spark):
    """r15: the per-group median/MAD statistic joins were removed outright —
    the two-pass order-statistic selection (plans/selection.py) collects the
    bounded per-group stats at build time and recomposes them as literals,
    so the executed plan must have NO join of any kind, no exact
    Percentile/Median aggregate funneling a fact-sized value map through one
    reducer, and only the fact table's own aggregation exchange. (Formerly
    this pinned the two stat joins' broadcast strategy; the joins are gone.)"""
    from mongodb_nats_connector_spark.operators.relational import agg_mad_outliers

    s = plan_string(agg_mad_outliers(spark, SF))
    assert "Join" not in s and "CartesianProduct" not in s
    assert "percentile" not in s and "median" not in s
    # formatted plans name each node twice (tree line + detail header)
    assert len(re.findall(r"^\(\d+\) Exchange", s, re.M)) == 1


def test_rank_filters_compile_to_window_group_limit(spark):
    """Rank-then-filter shapes must trigger Spark's WindowGroupLimit rewrite:
    per-partition top-k heaps BEFORE the window shuffle, so only k rows per
    group cross the wire instead of every row — the difference between a
    top-k and a full materialized ranking at 100 TB."""
    from mongodb_nats_connector_spark.operators.relational import window_rank_topk
    from mongodb_nats_connector_spark.operators.similarity import (
        similarity_topk_bruteforce,
        similarity_topk_quantized,
    )

    for op in (window_rank_topk, similarity_topk_bruteforce, similarity_topk_quantized):
        s = plan_string(op(spark, SF))
        assert "WindowGroupLimit" in s, op.__name__


# ---------------------------------------------------------------------------
# Customer aggregates (events_attribution_last_touch, customer_rfm_segments,
# agg_percentile_threshold)
# ---------------------------------------------------------------------------


def test_attribution_shares_sum_to_one(spark):
    from mongodb_nats_connector_spark.operators.relational import (
        events_attribution_last_touch,
    )

    rows = events_attribution_last_touch(spark, SF).collect()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 0.01
    assert all(r["n_purchases"] > 0 for r in rows)


def test_rfm_quartiles_are_balanced_and_segments_exhaustive(spark):
    from mongodb_nats_connector_spark.operators.relational import (
        customer_rfm_segments,
    )

    df = customer_rfm_segments(spark, SF)
    n = df.count()
    for col in ("r_quartile", "f_quartile", "m_quartile"):
        counts = [
            r["n"]
            for r in df.groupBy(col).agg(F.count(F.lit(1)).alias("n")).collect()
        ]
        assert len(counts) == 4
        assert max(counts) - min(counts) <= 1  # ntile balance guarantee
    segs = {r["segment"] for r in df.select("segment").distinct().collect()}
    assert segs <= {"champion", "at_risk", "regular"}
    assert df.filter(F.col("segment").isNull()).count() == 0
    assert n > 0


def test_percentile_threshold_cohort_is_about_ten_percent(spark):
    """n_above_p90 must be ~10% of each nation's customers (exact-percentile
    semantics: at most 10% strictly above the interpolated p90 + rounding
    slack on small groups)."""
    from mongodb_nats_connector_spark.operators.relational import (
        agg_percentile_threshold,
    )

    import math

    for r in agg_percentile_threshold(spark, SF).collect():
        n = r["n_customers"]
        # continuous-interpolation p90: at most ceil(0.1*(n-1)) order
        # statistics lie strictly above it (small groups round up)
        assert r["n_above_p90"] <= math.ceil(0.1 * (n - 1)) + 1, (
            r["c_nationkey"],
            r["n_above_p90"],
            n,
        )
        if n >= 50:
            assert r["n_above_p90"] / n >= 0.05, (r["c_nationkey"], n)


# ---------------------------------------------------------------------------
# Approximate-sketch calibration (agg_approx_distinct, agg_approx_quantile)
# ---------------------------------------------------------------------------


def test_approx_count_distinct_within_rsd(spark):
    """HLL++ at rsd=0.01 must land within ~5 relative standard deviations of
    the exact distinct count per group — the sketch's documented contract,
    checked since no cross-engine oracle can exist for it."""
    from mongodb_nats_connector_spark.operators.relational import (
        agg_approx_distinct,
    )
    from mongodb_nats_connector_spark.sources.tables import table

    approx = {
        r["l_returnflag"]: r["approx_orders"]
        for r in agg_approx_distinct(spark, SF).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in table(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_orderkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        rel_err = abs(approx[k] - exact[k]) / exact[k]
        assert rel_err <= 0.05, (k, approx[k], exact[k])


def test_approx_quantile_within_accuracy(spark):
    """percentile_approx(accuracy=1000) guarantees rank error <= n/1000: the
    approximate p50 must sit between the exact p45 and p55."""
    from mongodb_nats_connector_spark.operators.relational import (
        agg_approx_quantile,
    )
    from mongodb_nats_connector_spark.sources.tables import table

    approx = {
        r["l_returnflag"]: r["p50_approx"]
        for r in agg_approx_quantile(spark, SF).collect()
    }
    bounds = {
        r["l_returnflag"]: (r["lo"], r["hi"])
        for r in table(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.45)).alias("lo"),
            F.percentile("l_extendedprice", F.lit(0.55)).alias("hi"),
        )
        .collect()
    }
    for k, (lo, hi) in bounds.items():
        assert lo <= approx[k] <= hi, (k, approx[k], lo, hi)


# ---------------------------------------------------------------------------
# Co-purchase pairs (part_copurchase_pairs)
# ---------------------------------------------------------------------------


def test_copurchase_pairs_keep_selfjoin_multiplicity(spark, tmp_path):
    """The map-side basket expansion must reproduce the lineitem
    self-join's COUNT(*) multiplicity: a part appearing on two lineitems
    of one order pairs twice with every other part (collect_set would
    count it once), and never pairs with itself."""
    from mongodb_nats_connector_spark.operators.relational import (
        part_copurchase_pairs,
    )

    rows = [
        (1, 10), (1, 10), (1, 20),  # 10 duplicated -> (10,20) counts 2
        (2, 10), (2, 20),           # plus 1 -> total 3
        (2, 30),                    # (10,30) and (20,30) count 1 each
    ]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet", mode="overwrite")
    got = {
        (r["part_a"], r["part_b"]): r["n_orders"]
        for r in part_copurchase_pairs(spark, str(tmp_path)).collect()
    }
    assert got == {(10, 20): 3, (10, 30): 1, (20, 30): 1}
