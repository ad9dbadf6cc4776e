"""Plan-quality regression tests: the properties that keep these queries fast
at 1000-executor / 100 TB scale, asserted on the actual physical plans."""

from __future__ import annotations

import pytest

from mongodb_nats_connector_spark.operators.relational import (
    filter_predicates,
    join_inner,
    join_theta_range,
    projection_computed,
    q1_pricing_summary,
    q3_shipping_priority,
    sort_multi_limit,
)
from mongodb_nats_connector_spark.plans.explain import (
    count_exchanges,
    count_key_exchanges,
    has_broadcast_join,
    has_partial_aggregation,
    has_take_ordered,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.001"


def test_filters_push_to_parquet_scan(spark):
    pf = pushed_filters(filter_predicates(spark, SF))
    assert "o_totalprice" in pf, f"price filter not pushed: {pf}"
    assert "o_orderdate" in pf, f"date filter not pushed: {pf}"


def test_scan_is_column_pruned(spark):
    rs = read_schemas(projection_computed(spark, SF))
    assert "l_extendedprice" in rs
    # untouched wide columns must not be scanned
    assert "l_shipdate" not in rs
    assert "l_partkey" not in rs


def test_dim_join_broadcasts(spark):
    df = join_inner(spark, SF)
    assert has_broadcast_join(df), "customer should broadcast, not shuffle"


def test_q1_partial_aggregation_single_shuffle(spark):
    df = q1_pricing_summary(spark, SF)
    assert has_partial_aggregation(df), "agg must combine map-side"
    assert count_exchanges(df) <= 1, "Q1 needs exactly one shuffle"


def test_q3_broadcasts_dim_side(spark):
    assert has_broadcast_join(q3_shipping_priority(spark, SF))


def test_multi_fact_shapes_broadcast_dims_single_wide_shuffle(spark):
    """q7/q8/q9: every dimension chain broadcasts; the only wide exchanges
    are the lineitem-orders fact join and the final aggregation."""
    from mongodb_nats_connector_spark.operators.relational import (
        q7_volume_shipping,
        q8_market_share,
        q9_product_profit,
    )
    from mongodb_nats_connector_spark.plans.explain import plan_string

    for fn in (q7_volume_shipping, q8_market_share, q9_product_profit):
        df = fn(spark, SF)
        s = plan_string(df)
        assert has_broadcast_join(df), f"{fn.__name__} should broadcast dims"
        assert "CartesianProduct" not in s
        # fact-fact join (both sides) + final agg — no dim may shuffle
        assert count_exchanges(df) <= 3, f"{fn.__name__} shuffles a dim:\n{s}"


def test_topk_avoids_global_sort(spark):
    assert has_take_ordered(sort_multi_limit(spark, SF)), (
        "ORDER BY + LIMIT should plan TakeOrderedAndProject, not a full sort"
    )


def test_theta_range_join_keeps_equi_hash_part(spark):
    """The band predicate must ride on a hash/broadcast equi-join on
    nationkey — not degrade to a nested-loop cross product."""
    from mongodb_nats_connector_spark.plans.explain import plan_string

    s = plan_string(join_theta_range(spark, SF))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_partitioned_sink_read_prunes_partitions(spark):
    """Hive-partitioned re-read must prune to the filtered partition
    directory (PartitionFilters on l_returnflag), not scan all of them."""
    from mongodb_nats_connector_spark.operators.formats import (
        sink_parquet_partitioned,
    )
    from mongodb_nats_connector_spark.plans.explain import plan_string

    s = plan_string(sink_parquet_partitioned(spark, SF))
    assert "PartitionFilters" in s
    block = s.split("PartitionFilters", 1)[1].split("]")[0]
    assert "l_returnflag" in block, f"partition filter missing: {block}"


def test_minhash_verification_broadcasts_candidates(spark):
    """Candidate verification must broadcast the (tiny) pair list, never
    shuffle the shingle-set relation for it."""
    from mongodb_nats_connector_spark.operators.dedup import dedup_minhash_lsh
    from mongodb_nats_connector_spark.plans.explain import has_broadcast_join

    assert has_broadcast_join(dedup_minhash_lsh(spark, SF))


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both sides of a recurring join key makes the join
    shuffle-free: each bucket pair joins co-located. This is the 100 TB
    answer to 'this equi-join runs every hour on the same key' — pay the
    shuffle once at write time, never again at read time."""
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.explain import plan_string
    from mongodb_nats_connector_spark.sources.tables import table

    for name, key in [("orders", "o_custkey"), ("customer", "c_custkey")]:
        (
            table(spark, SF, name)
            .write.mode("overwrite")
            .option("path", str(tmp_path / name))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(f"bkt_{name}")
        )
    try:
        j = (
            spark.table("bkt_orders")
            .join(
                spark.table("bkt_customer").hint("merge"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        s = plan_string(j)
        assert "SortMergeJoin" in s
        assert "Bucketed: true" in s
        # exactly ONE exchange: the final groupBy. The join itself reads
        # co-located buckets with no shuffle on either side.
        from mongodb_nats_connector_spark.plans.explain import count_exchanges

        assert count_exchanges(j) == 1, f"bucketed join still shuffles:\n{s}"
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


# Queries that are intentionally quadratic (brute-force correctness
# baselines whose docs say so) or intentionally row-at-a-time (the one
# query that demonstrates the plain Python UDF surface).
_ALLOWED_NESTED_LOOP = {
    "similarity_neardup_pairs",   # documented brute-force baseline
    "similarity_topk_bruteforce", # broadcast NLJ of tiny query set (by design)
    "similarity_topk_quantized",  # broadcast NLJ of tiny query set (by design)
    "join_theta_range",           # non-equi band join (broadcast NLJ is the plan)
    "join_skew_salted",           # 8-row salt table replicated by crossJoin
    "similarity_ann_ivf",         # 16-row centroid codebook broadcast crossJoin
    "text_tfidf",                 # 1-row corpus-size scalar broadcast crossJoin
    "q22_no_order_customers",     # 1-row avg-balance scalar broadcast crossJoin
    "curate_dataset_mix",         # 1-row units scalar broadcast crossJoin
    "text_unigram_surprisal",     # 1-row corpus-token-total scalar broadcast crossJoin
    "text_perplexity_bucket",     # 1-row corpus-token-total scalar broadcast crossJoin
    "events_attribution_last_touch",  # 1-row purchase-total scalar broadcast crossJoin
    "corpus_shard_plan",          # 1-row corpus-size scalar broadcast crossJoin
    # agg_equidepth_histogram: r15 two-pass selection — boundary array is a literal, no crossJoin
    "q11_important_parts",        # 1-row value-threshold scalar broadcast crossJoin
    "q20_heavy_shippers",         # 1-row qty-threshold scalar broadcast crossJoin
    "text_kl_divergence",         # 1-row corpus-token-total scalar broadcast crossJoin
    "events_time_gap_fill",       # dimension × calendar scaffold broadcast crossJoin
    "dq_rule_violations",         # 1-row checked-count scalars broadcast crossJoin
    "orders_pareto_curve",        # 1-row revenue-total scalar broadcast crossJoin
    "orders_basket_lift",         # 1-row order-total scalar broadcast crossJoin
    "agg_chi_square",             # 1-row grand-total scalar broadcast crossJoin
    "text_keywords_topk",         # 1-row corpus-size scalar broadcast crossJoin
    "events_cusum_changepoint",   # 1-row totals + 1-row argmax broadcast crossJoin
    "orders_cusum_control",       # 1-row totals + 1-row decision-limit broadcast crossJoins
    "orders_durbin_watson",       # 1-row normal-equation scalars broadcast crossJoin
    "orders_pacf_lag2",           # 1-row moment scalars broadcast crossJoin
    "text_word_burstiness",       # 1-row document-count scalar broadcast crossJoin
    "agg_siegel_tukey",           # 1-row totals scalar broadcast crossJoin
    "agg_breslow_day",            # 1-row MH-psi scalar broadcast crossJoin
    "orders_xmr_chart",           # 1-row control-limit scalars broadcast crossJoin
    "customer_churn_rates",       # 1-row horizon scalar broadcast crossJoin
    "events_type_cooccurrence",   # 1-row user-day total broadcast crossJoin
    "agg_ranking_concordance",    # 25-nation rank pair NLJ + 1-row footrule crossJoin
    "orders_demand_classification",  # 1-row day-count scalar broadcast crossJoin
    "curate_temperature_resample",  # 1-row weight-total scalar broadcast crossJoin
    "agg_kmv_distinct_setops",    # 1-row sketch-tail scalars broadcast crossJoin
    "agg_log2_histogram_quantiles",  # 1-row total broadcast crossJoin
    "merge_upsert_snapshot",      # 1-row max-key shift broadcast crossJoin
    "events_seasonal_baseline",   # 1-row min-day cutoff broadcast crossJoin
    "graph_kcore",                # 1-row mean-edge-weight scalar broadcast crossJoin
    "graph_adamic_adar",          # 1-row mean-edge-weight scalar broadcast crossJoin
    "agg_benford_test",           # 1-row digit-total scalar broadcast crossJoin
    "orders_abc_xyz",             # 1-row revenue-total scalar broadcast crossJoin
    "events_cuped_adjust",        # 1-row cutoff + 1-row theta broadcast crossJoins
    "sample_balanced_class",      # 1-row minority-count scalar broadcast crossJoin
    "docs_knn_classify",          # broadcast NLJ of tiny query set (by design)
    "docs_pmi_collocations",      # 1-row token/bigram totals broadcast crossJoins
    "agg_autocorrelation",        # 7-row lag literal + 1-row moment scalars broadcast crossJoins
    "orders_survival_km",         # 1-row horizon + 1-row cohort-size broadcast crossJoins
    "graph_assortativity",        # 1-row mean-edge-weight scalar broadcast crossJoin
    "events_did_uplift",          # 1-row cutoff + 1-row 4-cell pivot broadcast crossJoins
    "similarity_contamination_check",  # broadcast NLJ of tiny eval set (by design)
    "events_paired_ttest",        # 1-row cutoff scalar broadcast crossJoin
    "orders_shewhart_control",    # 1-row control-limit scalars broadcast crossJoin
    "text_bm25_topk",             # 1-row corpus (n_docs, total_w) scalar broadcast crossJoin
    "agg_levene_bf",              # 1-row grand-mean/count scalar broadcast crossJoin
    "agg_bootstrap_poisson",      # 1-row exact-mean + CI-rank scalars broadcast crossJoins
    "events_pettitt_changepoint", # 1-row n + K-argmax scalars broadcast crossJoins
    "events_weibull_gaps",        # 1-row gap-count scalar broadcast crossJoin
    "agg_mutual_information",     # 1-row total + entropy scalars broadcast crossJoins
    "curate_dataset_card",        # 1-row corpus-token-total scalar broadcast crossJoin
    "events_odds_ratio",          # 1-row doubled-median scalar broadcast crossJoin
    "orders_price_index",         # 1-row base-year scalar broadcast crossJoins
    "agg_runs_test",              # 1-row doubled-median scalar broadcast crossJoin
    "embedding_triplet_mining",   # broadcast NLJ of bounded anchor set (by design)
    "agg_median_test",            # 1-row pooled-total scalar broadcast crossJoin
                                  # (r15: the doubled-median crossJoin is gone —
                                  # med2 is a two-pass-selection literal)
    "events_power_analysis",      # 1-row doubled-median scalar broadcast crossJoin
    "orders_nelson_aalen",        # 1-row horizon + cohort-size broadcast crossJoins
    "docs_js_divergence",         # 1-row token-total scalar broadcast crossJoin
    "events_entropy_rate",        # 1-row total/state/sum scalars broadcast crossJoins
    "customer_ltv_deciles",       # 1-row quantile-boundary array broadcast crossJoin
    "agg_kendall_tau",            # bounded domain-grid crossJoin + 1-row scalars
    # text_kneser_ney_bigram: r15 bounded-collect rewrite — no crossJoin left
    "similarity_mmr_topk",        # broadcast NLJ over the bounded candidate pool (by design)
    # agg_theil_sen: r14 driver selection — no NLJ/crossJoin left
    "agg_cramers_v",              # 1-row total scalar broadcast crossJoin
    "agg_info_gain_split",        # 1-row total scalar broadcast crossJoin
    # events_markov_stationary: r14 driver fixpoint — no crossJoin left
    "agg_ljung_box",              # 7-row lag literal + 1-row moment scalars broadcast crossJoins
    "orders_seasonal_decompose",  # 1-row seasonal-center scalar broadcast crossJoin
    "graph_eccentricity_diameter",  # 1-row diameter/radius extremes broadcast crossJoin
    "events_wilcoxon_signed_rank",  # 1-row cutoff scalar broadcast crossJoin
    # pipeline11 (round 10): all 1-row scalar broadcast crossJoins
    "agg_roc_auc",                # 1-row class-total scalars broadcast crossJoin
    "agg_kruskal_wallis",         # 1-row N/ties + 1-row H-sum broadcast crossJoins
    "agg_ansari_bradley",         # 1-row N/n1 scalar broadcast crossJoin
    "orders_wasserstein_1d",      # 1-row sample-size scalars broadcast crossJoin
    "events_page_hinkley",        # 1-row totals + 1-row PH-extremes broadcast crossJoins
    "agg_grubbs_test",            # 1-row moments + 1-row max-dev broadcast crossJoins
    "agg_mcnemar_test",           # 1-row cutoff + 1-row doubled-median broadcast crossJoins
    "agg_cochran_q",              # 1-row k/N/R2/C2 scalar broadcast crossJoins
    "agg_friedman_test",          # 1-row k + Q scalar broadcast crossJoins
    # agg_hodges_lehmann: r14 driver selection — no NLJ/crossJoin left
    "graph_harmonic_centrality",  # 1-row node-count scalar broadcast crossJoin
    "similarity_ann_pq",          # 1-row query-subvector x K-centroid distance tables
    "events_burst_detection",     # 1-row day/event-total scalar broadcast crossJoin
    "orders_logrank_test",        # 1-row horizon + cohort-size broadcast crossJoins
    "agg_hellinger_distance",     # 1-row sample-size scalars broadcast crossJoin
    "orders_tukey_pairwise",      # k^2-bounded (k=5) group-pair NLJ + 1-row scalars
    "graph_clustering_coefficient",  # 1-row global-ratio scalar broadcast crossJoin
    "agg_trimmed_mean",           # 1-row k/fence/mid scalars broadcast crossJoins
    "agg_gini_impurity_split",    # 1-row total scalar broadcast crossJoin
    # pipeline12 (round-11 bank)
    "agg_mann_kendall",           # calendar-bounded sign-pair NLJ (by design) + 1-row scalars
    # pipeline13 (round 11): 1-row scalar / bounded-literal broadcast
    # crossJoins only — no data-proportional NLJ
    "agg_jonckheere_terpstra",    # 1-row group-moment scalars broadcast crossJoin
    "agg_permutation_test",       # 200-row perm-id literal + 1-row obs/judged scalars
    "agg_quade_test",             # years^2-bounded range-rank NLJ + 1-row scalars
    "agg_youden_threshold",       # 1-row class-total scalars broadcast crossJoin
    "events_allan_variance",      # 3-row tau literal broadcast crossJoin
    "events_mosum_changepoint",   # 1-row moment scalars broadcast crossJoin
    "orders_decile_lift",         # 1-row response-total scalars broadcast crossJoin
    "orders_eoq_policy",          # 1-row calendar-span scalar broadcast crossJoin
    "orders_regression_diagnostics",  # 1-row normal-equation scalars broadcast crossJoins
    "orders_rescaled_range",      # 4-row scale literal broadcast crossJoin
    "orders_survival_cindex",     # 1-row horizon scalar broadcast crossJoin
    "similarity_recall_at_k",     # inherits the bruteforce op's bounded query-set NLJ
    "events_hourly_profile",      # 1-row total + 1-row peak scalar broadcast crossJoins
    # pipeline16 (round-12 bank): bounded-domain densification + 1-row /
    # 5-row scalar broadcast crossJoins only
    "agg_goodman_kruskal_gamma",  # ~50x11 domain-grid densify (two DISTINCT
    #                               relations; the jonckheere precedent)
    "text_gries_dp",              # 20-row source-size + 1-row total broadcast crossJoins
    "agg_welch_anova",            # 1-row weighted-center scalar broadcast crossJoin
    # pipeline17 (round-12 bank, second tranche): 1-row scalar broadcast
    # crossJoins + two bounded literal grids
    "agg_conover_squared_ranks",  # 1-row per-group (n, S) scalars broadcast crossJoin
    "agg_kendall_w",              # 1-row block-count + 1-row tie-total broadcast crossJoins
    "agg_ks_separation",          # 1-row class-total scalars broadcast crossJoin
    "agg_lorenz_asymmetry",       # 1-row (n, S) scalars broadcast crossJoin
    "agg_palma_quintile",         # 1-row (n, S) scalars broadcast crossJoin
    "graph_moran_geary",          # 1-row denominator x 1-row pair-moment scalars
    # graph_rich_club: r14 driver sweep — no crossJoin left
    "orders_buishand_range",      # 1-row moment scalars broadcast crossJoin
    "orders_cox_stuart",          # 1-row day-count scalar broadcast crossJoin
    "orders_kpss_level",          # 1-row moment scalars broadcast crossJoin
    "orders_rmst",                # 1-row horizon + 1-row cohort-size broadcast crossJoins
    "orders_seasonal_mann_kendall",  # 1-row variance-total scalar broadcast crossJoin
    "orders_snht_test",           # 1-row moment scalars broadcast crossJoin
    "orders_tsb_forecast",        # 25-part x ~84-month bounded literal grid
    "text_burrows_delta",         # sources x 20-marker-word bounded literal grid
    "agg_dunn_posthoc",           # 3-row group-moment pair NLJ + 1-row variance scalar
    "agg_nemenyi_friedman",       # 12-row month rank-sum pair NLJ (66 pairs)
    "agg_games_howell",           # 5-row priority-moment pair NLJ (10 pairs)
    "orders_haar_wavelet",        # 1-row power-of-two + 1-row energy-total crossJoins
    "orders_theta_forecast",      # 1-row OLS-coefficient scalars broadcast crossJoin
    "embedding_truncation_fidelity",  # bounded 50-query panel NLJ (by design)
    # pipeline19 (round-13 bank)
    "agg_fowlkes_mallows",        # 1-row pair-count scalars broadcast crossJoins
    "agg_rand_adjusted",          # 1-row pair-count scalars broadcast crossJoins
    "agg_medcouple",              # 1-row doubled-median + bounded 84x84 kernel NLJ
    "embedding_hubness_skew",     # bounded 100-query panel NLJ (by design)
    "events_dfa_alpha",           # 1-row totals + 3 per-scale 1-row box sums crossJoins
    "events_vmr_windows",         # 3-row window-size scaffold broadcast crossJoin
    "graph_degree_gini",          # 1-row node-count scalar broadcast crossJoin
    "graph_modularity_split",     # 1-row community-degree scalars broadcast crossJoin
    "orders_association_metrics", # 1-row basket-total scalar broadcast crossJoin
    "orders_p_chart",             # 1-row pooled-proportion scalars broadcast crossJoin
    "orders_sprt_sequential",     # 1-row boundary-hit + 1-row final-LLR crossJoins
    "sample_neyman_allocation",   # 1-row weight-total scalar broadcast crossJoin
    "text_juilland_d",            # bounded 20-word x sources scaffold crossJoin
    "agg_spearman_footrule",      # 2-row year-pick scalar broadcast crossJoin
    "orders_max_drawdown",        # 1-row month-count scalar broadcast crossJoin
    "orders_segmented_regression",  # 1-row post-segment moments broadcast crossJoin
    "orders_siegel_repeated_median",  # bounded 84x84 slope-pair NLJ + 1-row count
    "events_distribution_drift",  # 1-row split-day + 1-row totals broadcast crossJoins
    "orders_benford_second_digit",  # 1-row digit-total scalar broadcast crossJoin
    "embedding_twonn_intrinsic_dim",  # bounded 100-query panel NLJ (by design)
    # pipeline20 (round-14 bank seed)
    "agg_overlap_coefficient",    # 1-row cohort-total scalars broadcast crossJoin
    "agg_tukey_fences",           # 1-row quartile/fence scalars broadcast crossJoins
    "embedding_cosine_concentration",  # bounded 100-vector panel NLJ (by design)
    "orders_variance_ratio_test",  # 1-row 3-sum moment scalars broadcast crossJoin
    "text_zipf_mandelbrot_grid",  # bounded 6-offset x 200-rank scaffold crossJoin
    "events_exponential_gof",     # 1-row rate scalars + 1-row sup broadcast crossJoins
    # pipeline20 (round-14 bank, batch 2)
    "agg_goodman_kruskal_lambda",  # four 1-row margin scalars broadcast crossJoins
    "agg_stuart_tau_c",           # bounded 15-cell contingency pair NLJ + 1-row total
    "agg_somers_d",               # bounded 350-cell contingency pair NLJ
    "agg_weighted_kappa",         # bounded 4x4 margin pair NLJ + 1-row crossJoin
    "agg_geary_ratio",            # 1-row moment scalars broadcast crossJoin
    "agg_blomqvist_beta",         # two 1-row median scalars broadcast crossJoins
    "agg_tukey_quick_test",       # 1-row extremes scalars broadcast crossJoin
    "agg_pearson_median_skewness",  # 1-row totals + 1-row median broadcast crossJoins
    "agg_james_stein_shrinkage",  # 1-row pooled scalars broadcast crossJoins
    "orders_shift_share",         # 1-row two-period totals broadcast crossJoin
    "orders_gehan_wilcoxon",      # 1-row horizon + group-totals broadcast crossJoins
    "orders_isotonic_monthly",    # bounded ~80-month prefix range NLJs (max-min lattice)
    "orders_cumulative_incidence",  # 1-row horizon + cohort-total broadcast crossJoins
    "embedding_participation_ratio",  # 1-row trace x 1-row Frobenius broadcast crossJoin
    "embedding_calinski_harabasz",  # 1-row SSW/SSB/totals broadcast crossJoins
    "embedding_dunn_index",       # 1-row min-inter x 1-row max-intra broadcast crossJoin
}
_ALLOWED_ROW_PYTHON = {
    "udf_python_scalar",  # exists to cover the UDF surface
    "udtf_expand_props",  # UDTFs are row-Python by construction; input pre-filtered
}


_LINT_DATA: dict[str, tuple[str, int]] = {}


def _registry_lint_data(spark) -> dict[str, tuple[str, int]]:
    """Build every registered query ONCE and extract both lint signals
    (plan string + unpartitioned-window count). The two registry-wide
    lints below share this sweep — running it twice was ~10 of the
    suite's ~40 minutes (VERIFY r14 blew the driver's 30-minute cap).
    Constructions overlap on a small driver thread pool (optimization
    guide §2.6: actions are only sequential because driver code calls
    them sequentially); each query's build is independent and the shared
    SparkSession is thread-safe for job submission."""
    if _LINT_DATA:
        return _LINT_DATA
    from concurrent.futures import ThreadPoolExecutor

    from mongodb_nats_connector_spark.plans.explain import (
        plan_string,
        unpartitioned_windows,
    )
    from mongodb_nats_connector_spark.registry import all_queries

    def one(item):
        name, q = item
        df = q.fn(spark, SF)
        return name, (plan_string(df), len(unpartitioned_windows(df)))

    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, data in pool.map(one, sorted(all_queries().items())):
            _LINT_DATA[name] = data
    return _LINT_DATA


def test_registry_wide_plan_lint(spark):
    """Every registered query's physical plan is lint-checked: no accidental
    CartesianProduct anywhere, and no row-at-a-time Python eval outside the
    one query that exists to demonstrate it. This is the 'would this plan
    survive 100x scale-up' gate, applied to the WHOLE surface."""
    offenders = []
    for name, (s, _nwin) in sorted(_registry_lint_data(spark).items()):
        if "CartesianProduct" in s:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in s and name not in _ALLOWED_NESTED_LOOP:
            offenders.append((name, "BroadcastNestedLoopJoin"))
        if "BatchEvalPython" in s and name not in _ALLOWED_ROW_PYTHON:
            offenders.append((name, "BatchEvalPython (row-at-a-time Python)"))
    assert not offenders, f"plan lint failures: {offenders}"


# Every query whose logical plan contains an EMPTY-partition-spec Window,
# pinned with its count and classification. "bounded": the window input is
# bounded by construction (a calendar series, a bucket/replicate/stage
# count, a value DOMAIN compacted via distinct-value grouping) — the
# single task sees a relation that does not grow with the fact table.
# "data-proportional": the input grows with the data; each carries a
# documented scale path — the two-pass range-partitioned rank in
# plans/ranking.py (landed with customer_ltv_deciles' conversion) is the
# drop-in swap. This dict can only SHRINK or reclassify toward "bounded";
# any query not listed here must have zero unpartitioned windows.
_GLOBAL_WINDOWS = {
    "agg_info_gain_split": (1, "bounded: ~50-value quantity-domain prefix"),
    "agg_ljung_box": (1, "bounded: daily series row index"),
    "orders_seasonal_decompose": (1, "bounded: monthly series MA window"),
    # surfaced when unpartitioned_windows learned to descend into persisted
    # (InMemoryRelation) subtrees — hidden-by-cache before, bounded all along
    "agg_autocorrelation": (1, "bounded: daily series row index"),
    "agg_kmv_distinct_setops": (1, "bounded: 64-hash sketch rank"),
    "events_pettitt_changepoint": (2, "bounded: daily series"),
    "events_wilcoxon_signed_rank": (1, "bounded: distinct-value groups"),
    "agg_ks_test": (2, "bounded: distinct-value marginals"),
    "agg_log2_histogram_quantiles": (1, "bounded: log2 bucket series"),
    "agg_mann_whitney": (1, "bounded: distinct-value groups"),
    "agg_runs_test": (1, "bounded: daily series"),
    # customer_rfm_segments / docs_quality_ensemble_rank: r14 moved
    # their two-pass bucket offsets to collected construction-time
    # literals — no unpartitioned window remains in either plan
    "events_cusum_changepoint": (2, "bounded: daily series"),
    "orders_cusum_control": (2, "bounded: daily series prefix + prefix-min"),
    "agg_cliff_delta": (2, "bounded: ~50-value quantity-domain cumulatives"),
    "orders_turning_points": (1, "bounded: daily series lag/lead"),
    "orders_bartels_rank": (3, "bounded: daily value-grid + series"),
    "orders_durbin_watson": (2, "bounded: monthly series"),
    "orders_pacf_lag2": (1, "bounded: monthly series index"),
    "agg_siegel_tukey": (2, "bounded: ~50-value quantity-domain grid"),
    "agg_cucconi": (2, "bounded: ~50-value quantity-domain grid"),
    "agg_ranking_concordance": (2, "bounded: 25-nation rank windows"),
    "events_reliability_mtbf": (2, "bounded: distinct-gap-seconds grid"),
    "orders_mase_seasonal_naive": (1, "bounded: monthly series lags"),
    "orders_xmr_chart": (1, "bounded: daily series lag"),
    "events_dau_rolling": (1, "bounded: daily series"),
    "events_funnel": (1, "bounded: funnel stages"),
    "events_max_concurrency": (1, "bounded: daily carry-in series "
                                  "(day-decomposed sweep)"),
    "events_weibull_gaps": (1, "bounded: n_buckets offset window "
                               "(two-pass rank)"),
    "orders_abc_xyz": (1, "bounded: n_buckets offset window "
                          "(two-pass prefix sum)"),
    "orders_gini_hhi": (1, "bounded: n_buckets offset window "
                           "(two-pass rank)"),
    "orders_mape_backtest": (1, "bounded: monthly series"),
    "orders_monthly_growth": (1, "bounded: monthly series"),
    "orders_nelson_aalen": (2, "bounded: distinct-duration risk sets"),
    "orders_pareto_curve": (2, "bounded: n_buckets offset/total windows "
                               "(two-pass converted)"),
    "orders_price_records": (1, "bounded: distinct-day series"),
    "orders_running_share": (2, "bounded: monthly series"),
    "orders_skyline_pareto": (1, "bounded: n_buckets offset window "
                                 "(two-pass prefix max)"),
    "orders_survival_km": (2, "bounded: distinct-duration risk sets"),
    "revenue_yoy": (1, "bounded: yearly series"),
    "text_bm25_topk": (1, "bounded: query-term posting lists"),
    "text_heaps_law_fit": (1, "bounded: vocabulary (sub-linear) relation"),
    "text_rake_keyphrases": (1, "bounded: candidate-phrase scores"),
    "text_vocab_coverage": (1, "bounded: vocabulary relation"),
    "text_zipf_slope": (1, "bounded: vocabulary relation"),
    # pipeline11 (round 10): every one runs over a value-DOMAIN histogram
    # (~50-105 distinct buckets) or the calendar-bounded daily series
    "agg_roc_auc": (1, "bounded: ~105-bucket score-domain prefix"),
    "agg_kruskal_wallis": (1, "bounded: ~50-value quantity-domain prefix"),
    "agg_ansari_bradley": (1, "bounded: ~105-bucket price-domain prefix"),
    "orders_wasserstein_1d": (1, "bounded: ~55-bucket price-domain "
                                 "prefix + lead (one Window node)"),
    "events_page_hinkley": (4, "bounded: daily series (row index, cumsum, "
                               "running min/max)"),
    "events_burst_detection": (3, "bounded: daily series (LOCF state, lag, "
                                  "running burst count)"),
    "orders_logrank_test": (1, "bounded: distinct-duration risk sets"),
    "agg_trimmed_mean": (2, "bounded: daily series rank + total"),
    "agg_gini_impurity_split": (1, "bounded: ~50-value quantity-domain "
                                   "prefix"),
    "orders_theil_u": (1, "bounded: monthly series lag window"),
    # agg_hodges_lehmann: r14 driver selection — no offset window left
    # agg_theil_sen: r14 driver selection — no offset window left
    # pipeline13 (round 11): value-DOMAIN histograms, the calendar-bounded
    # daily series, or n_buckets/decile offset relations — all bounded
    "agg_brunner_munzel": (1, "bounded: ~105-bucket price-domain prefix"),
    "agg_cvm_two_sample": (1, "bounded: ~50-value quantity-domain prefix"),
    "agg_youden_threshold": (1, "bounded: ~105-bucket score-domain "
                                "prefix"),
    "events_mosum_changepoint": (2, "bounded: daily series (row index + "
                                    "moving sums)"),
    "orders_decile_lift": (5, "bounded: n_buckets offset/total windows "
                              "(two-pass rank) + 10-row decile cums"),
    "orders_rescaled_range": (1, "bounded: daily series row index"),
    "events_allan_variance": (1, "bounded: daily series row index"),
    "orders_regression_diagnostics": (1, "bounded: monthly series row "
                                         "index"),
    "orders_seasonality_strength": (2, "bounded: monthly series (row "
                                       "index + MA windows)"),
    # pipeline15 (round 11): value-DOMAIN histograms only
    "agg_mood_scale": (2, "bounded: ~50-value quantity-domain grid"),
    "agg_lepage": (2, "bounded: ~50-value quantity-domain grid"),
    # pipeline16 (round-12 bank): value-DOMAIN histograms only
    "agg_kuiper_test": (2, "bounded: ~50-value quantity-domain grid"),
    "agg_energy_distance": (2, "bounded: ~50-value quantity-domain grid"),
    "agg_anderson_darling": (2, "bounded: ~105-bucket price-domain grid"),
    # graph_hits_scores dropped from this inventory (round 11): the power
    # loop moved to exact python-int driver rounds over the collected
    # nation-bounded adjacency — no Window nodes remain in its plan
    # pipeline17 (round-12 bank, second tranche): value-DOMAIN histograms
    # and calendar-bounded series only
    "agg_conover_squared_ranks": (1, "bounded: ~200-cell scaled-deviation "
                                     "domain grid"),
    "agg_ks_separation": (1, "bounded: ~105-bucket price-domain prefix"),
    "agg_palma_quintile": (1, "bounded: balance-cents domain grid"),
    "agg_pr_auc": (1, "bounded: ~105-bucket price-domain prefix (desc)"),
    "events_wallis_moore": (2, "bounded: daily series lag + sign-sequence "
                               "lag"),
    "orders_buishand_range": (1, "bounded: ~84-month series prefix"),
    "orders_cox_stuart": (4, "bounded: ~2.4k-day series (row index + "
                             "count, on both join sides)"),
    "orders_foster_stuart": (1, "bounded: ~84-month series (row index + "
                                "prefix max/min, one Window node)"),
    "orders_kpss_level": (1, "bounded: ~2.4k-day series prefix"),
    "orders_rmst": (1, "bounded: distinct-duration risk sets"),
    "orders_snht_test": (1, "bounded: ~84-month series prefix"),
    "agg_dunn_posthoc": (2, "bounded: ~50-value quantity-domain prefix "
                            "(subtree shared by the rank-sum and tie "
                            "rollups)"),
    "orders_theta_forecast": (2, "bounded: ~84-month series row index "
                                 "(duplicated under the moment and "
                                 "theta-line branches)"),
    # pipeline18 (round-13 bank)
    "agg_uplift_curve": (1, "bounded: ~105-bucket score-domain prefix "
                            "(desc)"),
    "orders_haar_wavelet": (4, "bounded: ~2.4k-day series (row index + "
                               "count, duplicated under the signed-sum "
                               "and power-of-two branches)"),
    # pipeline19 (round-13 bank)
    "agg_g_test": (1, "bounded: 25-cell contingency grid total"),
    "agg_freeman_tukey": (1, "bounded: 25-cell contingency grid total"),
    "agg_f1_sweep": (3, "bounded: ~105-bucket score-domain suffix + "
                        "total + best-flag max"),
    "agg_medcouple": (6, "bounded: ~84-month sorted series + kernel-set "
                         "rank/count, duplicated across median/pair "
                         "branches"),
    "events_dfa_alpha": (6, "bounded: calendar-day profile prefix + row "
                            "index, duplicated under the 3 box scales"),
    "graph_degree_gini": (1, "bounded: 25-node strength rank"),
    "orders_bass_diffusion": (1, "bounded: monthly adopter series prefix"),
    "orders_rca_index": (1, "bounded: nation x brand grid total"),
    "orders_sprt_sequential": (3, "bounded: calendar-day LLR prefix + "
                                  "day count + last-row pick"),
    "orders_wright_learning": (1, "bounded: monthly cumulative-quantity "
                                  "prefix"),
    "orders_sharpe_sortino": (1, "bounded: monthly series lag window"),
    "orders_max_drawdown": (1, "bounded: monthly series prefix max"),
    "orders_segmented_regression": (4, "bounded: monthly series row "
                                       "index + count, duplicated under "
                                       "the two segment branches"),
    "orders_siegel_repeated_median": (4, "bounded: ~84-month series row "
                                         "index + outer-median rank/"
                                         "count over the bounded "
                                         "per-month medians"),
    # pipeline20 (round-14 bank seed)
    "agg_ks_uniform_gof": (2, "bounded: 11-cell discount-grid prefix + "
                              "total"),
    "events_gini_time_concentration": (1, "bounded: calendar-day rank"),
    "agg_tukey_fences": (4, "bounded: ~50-value quantity-grid prefix + "
                            "total, duplicated under the quartile and "
                            "census branches"),
    "orders_duane_growth": (1, "bounded: monthly checkpoint prefix"),
    "orders_variance_ratio_test": (3, "bounded: monthly series lag + two "
                                      "leads"),
    "text_zipf_mandelbrot_grid": (1, "bounded: 200-rank top-k window"),
    "events_exponential_gof": (1, "bounded: 1440-cell minute-grid "
                                  "prefix"),
    # pipeline20 (round-14 bank, batch 2)
    "agg_rank_biserial": (1, "bounded: ~50-value quantity-grid "
                             "cumulative midrank"),
    "agg_blomqvist_beta": (4, "bounded: 50-value and 11-value grids, "
                              "each carrying a cumulative + a total "
                              "window for the lower median"),
    "agg_fligner_policello": (1, "bounded: distinct-value groups (the "
                                 "agg_mann_whitney cent grid)"),
    "agg_watson_u2_uniform": (2, "bounded: 11-cell discount-grid prefix "
                                 "+ total"),
    "agg_pearson_median_skewness": (1, "bounded: ~50-value quantity-grid "
                                       "census cumulative"),
    "orders_rosenbluth_index": (1, "bounded: 25-nation revenue rank"),
    "orders_pinball_loss": (1, "bounded: ~80-month series lag-12"),
    "orders_gehan_wilcoxon": (1, "bounded: duration-day grid cumulative "
                                 "placements"),
    "orders_isotonic_monthly": (4, "bounded: ~80-month prefix "
                                   "(row_number + sums) duplicated "
                                   "under the prefix/output branches"),
    "orders_cumulative_incidence": (3, "bounded: duration-day grid "
                                       "(risk-set prefix, product-limit "
                                       "prefix, CIF running sums)"),
}


def test_registry_wide_global_window_lint(spark):
    """Single-partition windows are pinned query-by-query: every
    empty-partition-spec Window in the whole registry must match the
    documented inventory above — a new data-proportional global sort
    cannot land silently, and converted queries (customer_ltv_deciles ->
    plans/ranking.py two-pass rank) cannot regress."""
    found = {}
    for name, (_s, n) in sorted(_registry_lint_data(spark).items()):
        if n:
            found[name] = n
    expected = {name: cnt for name, (cnt, _why) in _GLOBAL_WINDOWS.items()}
    assert found == expected, (
        f"unpartitioned-window inventory drifted: "
        f"unexpected={ {k: v for k, v in found.items() if expected.get(k) != v} } "
        f"missing={ {k: v for k, v in expected.items() if found.get(k) != v} }"
    )


def test_q17_broadcasts_part_dim(spark):
    """q17's brand/size part selection must broadcast into the lineitem
    probe; the only wide exchanges are lineitem's partkey shuffle (shared
    by the per-part average and the join) and the final scalar agg."""
    from mongodb_nats_connector_spark.operators.relational import (
        q17_small_quantity_revenue,
    )
    from mongodb_nats_connector_spark.plans.explain import plan_string

    df = q17_small_quantity_revenue(spark, SF)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan_string(df)


def test_chunking_is_map_only(spark):
    """Sliding-window chunking must not shuffle by key: tokenize + explode +
    slice are all map-side (the only exchange allowed is the round-robin scan
    fan-out from table(parallel=True))."""
    from mongodb_nats_connector_spark.operators.text import text_chunk_tokens

    assert count_key_exchanges(text_chunk_tokens(spark, SF)) == 0


def test_pii_scrub_is_map_only(spark):
    from mongodb_nats_connector_spark.operators.text import text_pii_scrub

    assert count_key_exchanges(text_pii_scrub(spark, SF)) == 0


def test_contamination_broadcasts_eval_side(spark):
    """The (tiny) eval-doc gram list must broadcast; the train grams may
    shuffle only for their distinct."""
    from mongodb_nats_connector_spark.operators.dedup import (
        contamination_ngram_overlap,
    )

    df = contamination_ngram_overlap(spark, SF)
    assert has_broadcast_join(df)


def test_ngram_topk_uses_take_ordered(spark):
    """Global top-k over bigram counts must plan TakeOrderedAndProject
    (per-partition heaps), never a full sort of the gram relation."""
    from mongodb_nats_connector_spark.operators.text import text_ngram_topk

    assert has_take_ordered(text_ngram_topk(spark, SF))


def test_funnel_single_wide_shuffle(spark):
    """The single-pass funnel: exactly one exchange touches the events
    relation (the user_id collect); everything after is 3-row-sized."""
    from mongodb_nats_connector_spark.operators.relational import events_funnel
    from mongodb_nats_connector_spark.plans.explain import plan_string

    df = events_funnel(spark, SF)
    s = plan_string(df)
    # one corpus shuffle + the trivial final single-partition window; no
    # join of the events relation back to itself
    assert "SortMergeJoin" not in s and "ShuffledHashJoin" not in s
    assert count_exchanges(df) <= 3


def test_q13_aggregates_orders_before_join(spark):
    """The join probe must be the per-custkey count relation, not raw
    orders: a HashAggregate must appear BELOW the join in the plan."""
    from mongodb_nats_connector_spark.operators.relational import (
        q13_customer_distribution,
    )
    from mongodb_nats_connector_spark.plans.explain import plan_string

    s = plan_string(q13_customer_distribution(spark, SF))
    assert "CartesianProduct" not in s
    join_pos = min(
        (s.find(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
         if s.find(j) != -1),
        default=-1,
    )
    assert join_pos != -1, f"no join in plan:\n{s}"
    assert "HashAggregate" in s[join_pos:], (
        "orders must pre-aggregate below the join"
    )


def test_reservoir_sample_uses_window_group_limit(spark):
    """The per-key rank filter must rewrite to WindowGroupLimit so each map
    task pre-prunes to k rows per key before the shuffle."""
    from mongodb_nats_connector_spark.operators.curation import sample_reservoir_perkey
    from mongodb_nats_connector_spark.plans.explain import plan_string

    s = plan_string(sample_reservoir_perkey(spark, SF))
    assert "WindowGroupLimit" in s, f"rank filter not pushed down:\n{s}"


def test_window_topk_uses_window_group_limit(spark):
    from mongodb_nats_connector_spark.operators.windows_batch import stream_window_topk
    from mongodb_nats_connector_spark.plans.explain import plan_string

    s = plan_string(stream_window_topk(spark, SF))
    assert "WindowGroupLimit" in s, f"rank filter not pushed down:\n{s}"


def test_cms_sketch_broadcasts_into_estimate_join(spark):
    """The d×w counter table (≤1024 rows) must broadcast into the per-key
    estimate join — never shuffle the key relation against it."""
    from mongodb_nats_connector_spark.operators.stats import agg_heavy_hitters_cms
    from mongodb_nats_connector_spark.plans.explain import plan_string

    df = agg_heavy_hitters_cms(spark, SF)
    assert has_broadcast_join(df)
    assert has_take_ordered(df), "top-20 must plan TakeOrderedAndProject"
    assert "CartesianProduct" not in plan_string(df)


def test_triangle_count_all_hash_joins(spark):
    """Wedge + closing joins must be hash equi-joins on part keys: no
    cartesian, no broadcast nested loop."""
    from mongodb_nats_connector_spark.operators.graph import graph_triangle_count
    from mongodb_nats_connector_spark.plans.explain import plan_string

    s = plan_string(graph_triangle_count(spark, SF))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    # the runtime-count gate must grant the hint at test scale: both wedge
    # and closing joins broadcast the cached edge relation, so no exchange
    # follows the edge build (the r5->r6 estimate-gate regression pinned)
    assert s.count("BroadcastHashJoin") >= 2


def test_interval_overlap_is_tile_hash_join(spark):
    """The interval-overlap join must equi-join on the day tile with the
    range predicate as a post-filter — a hash/broadcast join, never a
    cartesian range join."""
    from mongodb_nats_connector_spark.operators.relational import join_interval_overlap
    from mongodb_nats_connector_spark.plans.explain import plan_string

    s = plan_string(join_interval_overlap(spark, SF))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_merge_upsert_single_copartitioned_join(spark):
    """MERGE executes as ONE full-outer join co-partitioned on the natural
    key — no broadcast (both sides are data-proportional), no extra
    exchanges beyond the two join-side shuffles."""
    from mongodb_nats_connector_spark.operators.cdc import merge_upsert_snapshot
    from mongodb_nats_connector_spark.plans.explain import plan_string

    s = plan_string(merge_upsert_snapshot(spark, SF))
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" not in s
    # exactly one shuffle join in the TREE section (plan_string repeats the
    # node name once more in the detail section below the tree); the
    # strategy may be sort-merge or shuffled-hash (r14: the session prefers
    # shuffled-hash when its size conditions hold) — both are the
    # co-partitioned one-shuffle shape this test pins
    assert (
        s.count("SortMergeJoin FullOuter")
        + s.count("ShuffledHashJoin FullOuter")
    ) == 1


def test_epoch_upsample_is_map_only(spark):
    """Hash-tiered explode must not shuffle: tiering + sequence + explode
    are all map-side."""
    from mongodb_nats_connector_spark.operators.curation import sample_epoch_upsample

    assert count_key_exchanges(sample_epoch_upsample(spark, SF)) == 0


def test_stream_static_enrich_broadcasts_dim(spark):
    """The dimension side must broadcast: in streaming this is the zero-
    stream-shuffle stream-static join shape."""
    from mongodb_nats_connector_spark.operators.windows_batch import (
        stream_static_enrich,
    )

    assert has_broadcast_join(stream_static_enrich(spark, SF))


def test_gram_matrix_shuffles_only_cells(spark):
    """Only the d(d+1)/2 partial cells may shuffle: a single exchange keyed
    on (i, j) after the Arrow-batched partials, plus at most the input
    repartition round-robin."""
    from mongodb_nats_connector_spark.operators.similarity import embedding_gram_matrix
    from mongodb_nats_connector_spark.plans.explain import plan_string

    df = embedding_gram_matrix(spark, SF)
    s = plan_string(df)
    assert "BatchEvalPython" not in s, "gram partials must be Arrow-batched"
    assert count_key_exchanges(df) == 1, f"expected one keyed exchange:\n{s}"


def test_registered_bucketed_join_is_colocated(spark):
    """The registered bucketed-join query must read both sides bucketed and
    shuffle only for the final aggregation."""
    from mongodb_nats_connector_spark.operators.formats import (
        join_bucketed_colocate,
    )
    from mongodb_nats_connector_spark.plans.explain import plan_string

    df = join_bucketed_colocate(spark, SF)
    s = plan_string(df)
    assert "Bucketed: true" in s
    assert count_exchanges(df) == 1, f"bucketed join still shuffles:\n{s}"


def test_ols_is_single_shuffle_moment_sketch(spark):
    """Closed-form OLS must be ONE map-combined aggregation: a single
    exchange carrying the 10-number sufficient-statistic row — the shape
    that makes distributed regression O(1) reduce state."""
    from mongodb_nats_connector_spark.operators.double_sums import (
        orders_ols_multifactor,
    )

    df = orders_ols_multifactor(spark, SF)
    assert has_partial_aggregation(df), "sums must combine map-side"
    assert count_exchanges(df) <= 1, "OLS needs exactly one shuffle"


def test_bm25_topk_is_take_ordered(spark):
    """The BM25 ranking must end in TakeOrderedAndProject, never a full
    sort of the scored relation."""
    from mongodb_nats_connector_spark.operators.text import text_bm25_topk

    assert has_take_ordered(text_bm25_topk(spark, SF))


def test_bootstrap_replicate_agg_combines_map_side(spark):
    """The Poisson bootstrap's 40-key replicate aggregation must partial-
    aggregate before the exchange — the property that keeps the resample
    'shuffle' at 40 rows per partition regardless of fact volume."""
    from mongodb_nats_connector_spark.operators.stats import agg_bootstrap_poisson

    assert has_partial_aggregation(agg_bootstrap_poisson(spark, SF))


def test_entropy_rate_single_fact_exchange(spark):
    """Everything after the (user_id)-keyed lag window and the joint count
    is cell-sized: the plan may shuffle the facts once for the window and
    once for the (prev, nxt) count, nothing more."""
    from mongodb_nats_connector_spark.operators.events import events_entropy_rate

    # fact-sized exchanges: user_id (window) + prev/nxt (count); the
    # remaining exchanges move cell-sized relations only
    df = events_entropy_rate(spark, SF)
    assert has_partial_aggregation(df)
