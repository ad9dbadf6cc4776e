"""Round-5 operator invariants, beyond the DuckDB-parity gate: the
mathematical properties each operator must keep on ANY data (the parity
suite pins exact values on the fixture; these pin the semantics)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from mongodb_nats_connector_spark.operators.graph import (
    MIN_SUPPORT,
    graph_triangle_count,
)
from mongodb_nats_connector_spark.operators.similarity import embedding_gram_matrix
from mongodb_nats_connector_spark.operators.stats import (
    CMS_DEPTH,
    CMS_WIDTH,
    agg_heavy_hitters_cms,
)
from mongodb_nats_connector_spark.operators.udfs import (
    EMB_STUB_DIM,
    inference_embed_stub,
)
from mongodb_nats_connector_spark.operators.windows_batch import (
    TOPK_PER_WINDOW,
    stream_window_topk,
    window_pattern_match,
)
from mongodb_nats_connector_spark.operators.curation import (
    SAMPLE_K,
    dq_rule_violations,
    profile_key_skew,
    sample_reservoir_perkey,
)
from mongodb_nats_connector_spark.operators.events import events_time_to_convert
from mongodb_nats_connector_spark.sources.tables import table

SF = "/root/testdata/sf0.001"


def test_cms_never_underestimates(spark):
    """The defining CMS property: est >= true for every reported key, and
    the heaviest key survives sketching (top-1 by estimate == exact top-1
    when its true count is strictly dominant)."""
    out = agg_heavy_hitters_cms(spark, SF).toPandas()
    n_keys = table(spark, SF, "lineitem").select("l_suppkey").distinct().count()
    assert len(out) == min(20, n_keys)
    assert (out["est_count"] >= out["true_count"]).all()
    exact = (
        table(spark, SF, "lineitem")
        .groupBy("l_suppkey")
        .count()
        .toPandas()
        .sort_values(["count", "l_suppkey"], ascending=[False, True])
    )
    # the estimate's top key must be among the true heavy hitters (its true
    # count within the additive CMS error bound of the true max)
    eps_bound = len(table(spark, SF, "lineitem").toPandas()) * 2.0 / CMS_WIDTH
    top_est = out.iloc[0]
    assert top_est["true_count"] >= exact["count"].max() - eps_bound


def test_triangles_are_closed_and_ordered(spark):
    """Every reported (a, b, c) is strictly ordered and all three edges
    exist in the ≥MIN_SUPPORT co-purchase edge set."""
    tri = graph_triangle_count(spark, SF).toPandas()
    li = table(spark, SF, "lineitem").select("l_orderkey", "l_partkey").toPandas()
    pp = li.drop_duplicates()
    merged = pp.merge(pp, on="l_orderkey")
    pairs = merged[merged["l_partkey_x"] < merged["l_partkey_y"]]
    support = pairs.groupby(["l_partkey_x", "l_partkey_y"]).size()
    edges = set(support[support >= MIN_SUPPORT].index)
    for r in tri.itertuples():
        assert r.a < r.b < r.c
        assert (r.a, r.b) in edges and (r.b, r.c) in edges and (r.a, r.c) in edges
    # and completeness: count matches an independent enumeration
    n_expected = sum(
        1
        for (a, b) in edges
        for c in {y for (x, y) in edges if x == b}
        if (a, c) in edges
    )
    assert len(tri) == n_expected


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


def test_pattern_match_agrees_with_pandas_replay(spark):
    out = window_pattern_match(spark, SF).toPandas().set_index("user_id")
    ev = (
        table(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    import re

    for uid, g in ev.groupby("user_id"):
        seq = ">".join(g["event_type"])
        row = out.loc[uid]
        assert row["n_events"] == len(g)
        assert row["converted"] == (1 if re.search("signup.*purchase", seq) else 0)
        assert row["n_purchases"] == (g["event_type"] == "purchase").sum()


def test_gram_matrix_matches_numpy(spark):
    out = embedding_gram_matrix(spark, SF).toPandas()
    emb = table(spark, SF, "embeddings").select("embedding").toPandas()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    g = m.T @ m
    d = m.shape[1]
    assert len(out) == d * (d + 1) // 2
    for r in out.itertuples():
        assert abs(r.g - round(g[r.i - 1, r.j - 1], 4)) < 1e-9


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


def test_inference_stub_matches_numpy_replay(spark):
    out = inference_embed_stub(spark, SF).toPandas()
    docs = table(spark, SF, "documents").select("doc_id", "text").toPandas()
    got = {(r.doc_id, r.j): r.v for r in out.itertuples()}
    for r in docs.head(50).itertuples():
        codes = np.frombuffer(r.text.encode("utf-32-le"), dtype=np.uint32)
        for j in range(min(EMB_STUB_DIM, len(codes))):
            assert got[(r.doc_id, j)] == int(codes[j::EMB_STUB_DIM].sum())


def test_time_to_convert_nonnegative_and_consistent(spark):
    out = events_time_to_convert(spark, SF).toPandas()
    ev = table(spark, SF, "events").toPandas()
    signups = set(ev[ev["event_type"] == "signup"]["user_id"])
    assert set(out["user_id"]) == signups
    conv = out.dropna(subset=["micros_to_convert"])
    assert (conv["micros_to_convert"] >= 0).all()
    assert (conv["first_purchase_ts"] >= conv["signup_ts"]).all()


def test_window_topk_bounded_and_descending(spark):
    out = stream_window_topk(spark, SF).toPandas()
    for _, g in out.groupby("window_start"):
        g = g.sort_values("rn")
        assert len(g) <= TOPK_PER_WINDOW
        assert (g["rn"].values == np.arange(1, len(g) + 1)).all()
        assert (np.diff(g["n"].values) <= 0).all(), "counts must be non-increasing"


def test_pca_matches_numpy_power_iteration(spark):
    """The distributed power iteration must walk the exact same fixed point
    as a numpy replay over the same round-4 Gram matrix, and after 3
    iterations the eigenvalue estimate must be close to numpy's true top
    eigenvalue of that matrix."""
    from mongodb_nats_connector_spark.operators.similarity import (
        PCA_ITERS,
        embedding_pca_power_iteration,
    )

    out = (
        embedding_pca_power_iteration(spark, SF)
        .toPandas()
        .sort_values("dim")
        .reset_index(drop=True)
    )
    emb = table(spark, SF, "embeddings").select("embedding").toPandas()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    g = np.round(m.T @ m, 4)
    v = np.full(g.shape[0], 0.125)
    for _ in range(PCA_ITERS):
        mv = g @ v
        nrm = float(np.sqrt((mv * mv).sum()))
        v = np.round(mv / nrm, 8)
    assert np.abs(out["component"].to_numpy() - np.round(v, 4)).max() < 1e-9
    # ||G v|| for unit v never exceeds the true top eigenvalue (Rayleigh
    # bound); 3 iterations from a uniform start must already recover a
    # dominant fraction of it (exact convergence depends on the eigengap)
    true_top = float(np.linalg.eigvalsh(g).max())
    eig = out["eigenvalue"].iloc[0]
    assert 0 < eig <= true_top * (1 + 1e-9)
    assert eig >= 0.5 * true_top


def test_r5c_statistics_invariants(spark):
    """Sanity bounds that hold on ANY data: chi² >= 0 with the right cell
    count; Welch t finite with positive group sizes; Pareto shares sum to 1
    and decrease; lift and Jaccard positive with Jaccard <= 1."""
    from mongodb_nats_connector_spark.operators.graph import graph_jaccard_neighbors
    from mongodb_nats_connector_spark.operators.orders import (
        orders_basket_lift,
        orders_pareto_curve,
    )
    from mongodb_nats_connector_spark.operators.stats import (
        agg_chi_square,
        agg_welch_ttest,
    )

    chi = agg_chi_square(spark, SF).toPandas().iloc[0]
    assert chi["chi_square"] >= 0
    assert chi["n_cells"] > 0 and chi["n_obs"] > 0

    t = agg_welch_ttest(spark, SF).toPandas().iloc[0]
    assert t["n_purchase"] > 0 and t["n_click"] > 0
    assert np.isfinite(t["welch_t"])

    par = orders_pareto_curve(spark, SF).toPandas().sort_values("bucket")
    assert abs(par["revenue_share"].sum() - 1.0) < 1e-3
    assert (np.diff(par["revenue_share"].values) <= 1e-9).all(), (
        "revenue share must be non-increasing across rank buckets"
    )

    lift = orders_basket_lift(spark, SF).toPandas()
    assert (lift["lift"] > 0).all()

    jac = graph_jaccard_neighbors(spark, SF).toPandas()
    assert ((jac["jaccard"] > 0) & (jac["jaccard"] <= 1.0)).all()


def test_incremental_merge_equals_full_recompute(spark):
    """The defining property: merging base+delta partials must equal the
    single-pass aggregation over the whole table."""
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.operators.stats import agg_incremental_merge

    merged = (
        agg_incremental_merge(spark, SF)
        .toPandas()
        .sort_values("month")
        .reset_index(drop=True)
    )
    full = (
        table(spark, SF, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.round(F.sum("o_totalprice") / F.count(F.lit(1)), 4).alias(
                "avg_price"
            ),
        )
        .toPandas()
        .sort_values("month")
        .reset_index(drop=True)
    )
    assert merged.equals(full)


def test_funnel_paths_counts_partition_users(spark):
    from mongodb_nats_connector_spark.operators.events import events_funnel_paths_topk

    out = events_funnel_paths_topk(spark, SF).toPandas()
    n_users = table(spark, SF, "events").select("user_id").distinct().count()
    assert out["n_users"].sum() <= n_users
    assert (np.diff(out["n_users"].values) <= 0).all()


def test_bpe_apply_compression_invariants(spark):
    """Applying merges can only shrink token counts: chars/token >= 1,
    n_tokens <= char count, and every learned merge is a 2-symbol pair."""
    from mongodb_nats_connector_spark.operators.text import (
        bpe_apply_merges,
        bpe_learn_merges,
    )

    out = bpe_apply_merges(spark, SF).toPandas()
    assert (out["n_tokens"] <= out["n_symbols_chars"]).all()
    assert (out["chars_per_token"] >= 1.0).all()
    merges = bpe_learn_merges(spark, SF).toPandas()
    for r in merges.itertuples():
        a, b = r.pair.split(" ")
        assert r.merged == a + b
        assert r.pair_count > 0


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
