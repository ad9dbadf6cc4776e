"""Semantic + plan-shape tests for the round-4 operators.

Oracle parity (tests/test_oracle_parity.py) pins each against DuckDB; here we
assert the invariants the docstrings PROMISE and the plan shapes that make
them 100 TB-safe.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongodb_nats_connector_spark.plans.explain import plan_string

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# pagerank_nations
# ---------------------------------------------------------------------------


def test_pagerank_mass_conserved_and_partition_invariant(spark):
    """Fixed-point PageRank: total mass stays within truncation loss of 1.0
    (each // drops < 1 micro-unit per edge), and the BIGINT results are
    bit-identical when the fact input is repartitioned differently —
    the property float PageRank cannot give."""
    from mongodb_nats_connector_spark.operators.graph import (
        PR_SCALE,
        pagerank_nations,
    )

    rows = {r["nation"]: r["pr_fixed"] for r in pagerank_nations(spark, SF).collect()}
    assert len(rows) == 25
    total = sum(rows.values())
    # damping reinjects (1-d) exactly; integer truncation only loses mass
    assert 0.95 * PR_SCALE <= total <= PR_SCALE

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        rows7 = {
            r["nation"]: r["pr_fixed"] for r in pagerank_nations(spark, SF).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows7 == rows


def test_pagerank_final_plan_is_map_only(spark):
    """The iterations run as driver-loop jobs over the cached edge relation;
    the RETURNED DataFrame must be a map-only literal lookup over the nation
    dimension — no exchange, no join left in its plan."""
    from mongodb_nats_connector_spark.operators.graph import pagerank_nations

    s = plan_string(pagerank_nations(spark, SF))
    assert "Exchange" not in s
    assert "Join" not in s
    assert "CartesianProduct" not in s


# ---------------------------------------------------------------------------
# fuzzy_join_blocked
# ---------------------------------------------------------------------------


def test_fuzzy_join_recall_and_plan(spark):
    """Every generated misspelling must match its source word at distance
    exactly 1 (deleting the 2nd char of a >=4-char word always yields
    distance 1), and the block join must be a hash join, not a nested loop."""
    from mongodb_nats_connector_spark.operators.text import (
        FUZZY_MIN_LEN,
        fuzzy_join_blocked,
    )

    out = fuzzy_join_blocked(spark, SF).collect()
    assert out, "no fuzzy matches found"
    assert all(r["dist"] <= 1 for r in out)

    part = spark.read.parquet(f"{SF}/part.parquet")
    words = {
        w["w"]
        for w in part.select(
            F.explode(F.split("p_name", " ")).alias("w")
        ).distinct().collect()
    }
    expected_misspells = {
        w[0] + w[2:] for w in words if len(w) >= FUZZY_MIN_LEN
    }
    got_misspells = {r["m"] for r in out}
    # every misspelling recovers at least its own source word
    assert expected_misspells <= got_misspells

    s = plan_string(fuzzy_join_blocked(spark, SF))
    assert "BroadcastHashJoin" in s
    assert "BroadcastNestedLoopJoin" not in s


# ---------------------------------------------------------------------------
# layout_zorder_tiles
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


# ---------------------------------------------------------------------------
# agg_weighted_median
# ---------------------------------------------------------------------------


def test_weighted_median_reduces_to_plain_median_on_unit_weights(spark):
    """With all weights forced to 1 the crossing rule gives the lower median
    — cross-check against percentile_approx-free exact computation."""
    import statistics

    df = spark.createDataFrame(
        [("a", float(v)) for v in [5, 1, 9, 3, 7]]
        + [("b", float(v)) for v in [4, 2, 8, 6]],
        "g string, v double",
    )
    from pyspark.sql import Window

    per_value = df.groupBy("g", "v").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    w_cum = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_tot = Window.partitionBy("g")
    cum = per_value.select(
        "g", "v", F.sum("w").over(w_cum).alias("cw"), F.sum("w").over(w_tot).alias("tw")
    )
    got = {
        r["g"]: r["m"]
        for r in cum.groupBy("g")
        .agg(F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v"))).alias("m"))
        .collect()
    }
    assert got["a"] == statistics.median([5, 1, 9, 3, 7])  # odd: true median
    assert got["b"] == 4.0  # even: lower median


def test_weighted_median_windows_over_reduced_relation(spark):
    """The ordered window must consume the per-(group, value) aggregate, not
    the raw fact table: exactly one shuffle on the fact, then the window's
    partial exchange over the reduced relation."""
    from mongodb_nats_connector_spark.operators.stats import agg_weighted_median

    s = plan_string(agg_weighted_median(spark, SF))
    below_window = s[s.index("Window"):]
    # reading top-down from the Window operator, a HashAggregate (the
    # per-(group, value) pre-agg) must sit between it and the scan
    assert "HashAggregate" in below_window
    assert below_window.index("HashAggregate") < below_window.index("Scan parquet")


# ---------------------------------------------------------------------------
# events_time_gap_fill / events_time_rollup
# ---------------------------------------------------------------------------


def test_gap_fill_is_dense_and_consistent(spark):
    """Output must cover every (event_type, day) cell of the calendar; filled
    values on observed rows equal the daily aggregate."""
    from mongodb_nats_connector_spark.operators.events import events_time_gap_fill

    out = events_time_gap_fill(spark, SF).toPandas()
    n_types = out["event_type"].nunique()
    n_days = out["day"].nunique()
    assert len(out) == n_types * n_days
    # forward fill: an unobserved day carries some earlier day's value (or 0)
    assert (out.loc[~out["observed"], "filled_value"] >= 0).all()


def test_time_rollup_grand_total_matches(spark):
    """The grain-3 row is the grand total: its n_events equals the raw count."""
    from mongodb_nats_connector_spark.operators.events import events_time_rollup
    from mongodb_nats_connector_spark.sources.tables import table

    out = events_time_rollup(spark, SF).collect()
    grand = [r for r in out if r["grain"] == 3]
    assert len(grand) == 1
    raw = table(spark, SF, "events").count()
    assert grand[0]["n_events"] == raw
    # every grain's events sum to the same total
    for g in (0, 1, 2):
        assert sum(r["n_events"] for r in out if r["grain"] == g) == raw


# ---------------------------------------------------------------------------
# dedup_prefix_boilerplate
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
# bpe_pair_counts / bigram_lm_surprisal
# ---------------------------------------------------------------------------


def test_bpe_pair_counts_orders_and_bounds(spark):
    from mongodb_nats_connector_spark.operators.text import (
        PAIR_TOPK,
        bpe_pair_counts,
    )

    rows = bpe_pair_counts(spark, SF).collect()
    assert 0 < len(rows) <= PAIR_TOPK
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    s = plan_string(bpe_pair_counts(spark, SF))
    assert "TakeOrderedAndProject" in s


def test_bigram_surprisal_nonnegative_and_complete(spark):
    """MLE probabilities are <= 1 so surprisal >= 0; every multi-token doc
    appears with n_bigrams = token_count - 1."""
    from mongodb_nats_connector_spark.operators.text import bigram_lm_surprisal
    from mongodb_nats_connector_spark.sources.tables import table

    out = {r["doc_id"]: r for r in bigram_lm_surprisal(spark, SF).collect()}
    docs = table(spark, SF, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    ).collect()
    for d in docs:
        if d["n"] >= 2:
            assert out[d["doc_id"]]["n_bigrams"] == d["n"] - 1
            assert out[d["doc_id"]]["avg_surprisal_nats"] >= 0.0


# ---------------------------------------------------------------------------
# profile_orders_columns
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# orders_price_records
# ---------------------------------------------------------------------------


def test_price_records_strictly_increase(spark):
    from mongodb_nats_connector_spark.operators.orders import orders_price_records

    rows = sorted(orders_price_records(spark, SF).collect(), key=lambda r: r["day"])
    assert rows
    prices = [r["best_price"] for r in rows]
    assert all(b > a for a, b in zip(prices, prices[1:]))
