"""Plan-quality regression tests: the properties that keep these queries fast
at 1000-executor / 100 TB scale, asserted on the actual physical plans.

The ``plans/selection.py`` tests check that the two-pass selection's
driver-side replay of Spark's percentile interpolation is bit-identical to
the JVM evaluation, the property the exact-median queries stand on.
The ``plans/hints.py`` tests check when a broadcast hint is applied, and
the ``plans/caching.py`` test that operators release their cached
intermediates once the result is dropped. The ``plans/ranking.py`` tests
check that the two-pass distributed rank, ntile and prefix aggregates
equal the single-partition windows they replace."""

from __future__ import annotations

import random
import struct

import pytest
from pyspark.sql import functions as F

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
from mongodb_nats_connector_spark.plans.selection import (
    _median_ranks,
    doubled_median2,
    percentile_ranks,
    selected_order_stats,
    spark_percentile_replay,
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
    # all 1-row scalar broadcast crossJoins
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

    "agg_mann_kendall",           # calendar-bounded sign-pair NLJ (by design) + 1-row scalars
    # 1-row scalar / bounded-literal broadcast crossJoins only — no
    # data-proportional NLJ
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
    # bounded-domain densification + 1-row / 5-row scalar broadcast
    # crossJoins only
    "agg_goodman_kruskal_gamma",  # ~50x11 domain-grid densify (two DISTINCT
    #                               relations; the jonckheere precedent)
    "text_gries_dp",              # 20-row source-size + 1-row total broadcast crossJoins
    "agg_welch_anova",            # 1-row weighted-center scalar broadcast crossJoin
    # 1-row scalar broadcast crossJoins + two bounded literal grids
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

    "agg_overlap_coefficient",    # 1-row cohort-total scalars broadcast crossJoin
    "agg_tukey_fences",           # 1-row quartile/fence scalars broadcast crossJoins
    "embedding_cosine_concentration",  # bounded 100-vector panel NLJ (by design)
    "orders_variance_ratio_test",  # 1-row 3-sum moment scalars broadcast crossJoin
    "text_zipf_mandelbrot_grid",  # bounded 6-offset x 200-rank scaffold crossJoin
    "events_exponential_gof",     # 1-row rate scalars + 1-row sup broadcast crossJoins

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
    # every one runs over a value-DOMAIN histogram (~50-105 distinct
    # buckets) or the calendar-bounded daily series
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
    # value-DOMAIN histograms, the calendar-bounded daily series, or
    # n_buckets/decile offset relations — all bounded
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
    # value-DOMAIN histograms only
    "agg_mood_scale": (2, "bounded: ~50-value quantity-domain grid"),
    "agg_lepage": (2, "bounded: ~50-value quantity-domain grid"),
    "agg_kuiper_test": (2, "bounded: ~50-value quantity-domain grid"),
    "agg_energy_distance": (2, "bounded: ~50-value quantity-domain grid"),
    "agg_anderson_darling": (2, "bounded: ~105-bucket price-domain grid"),
    # graph_hits_scores dropped from this inventory: the power
    # loop moved to exact python-int driver rounds over the collected
    # nation-bounded adjacency — no Window nodes remain in its plan
    # value-DOMAIN histograms and calendar-bounded series only
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

    "agg_uplift_curve": (1, "bounded: ~105-bucket score-domain prefix "
                            "(desc)"),
    "orders_haar_wavelet": (4, "bounded: ~2.4k-day series (row index + "
                               "count, duplicated under the signed-sum "
                               "and power-of-two branches)"),

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


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


FRACS = [0.5, 0.9, 0.95, 0.99, 0.125, 7.0 / 8.0, 1.0 / 3.0]


def test_percentile_replay_bit_exact_doubles(spark):
    """Random multisets (heavy duplicates, odd/even/tiny sizes): replayed
    percentile values must match F.percentile bit-for-bit for every
    fraction, including the same-key and integer-position branches."""
    rng = random.Random(20260818)
    for n in [1, 2, 3, 4, 5, 7, 10, 33, 100, 101, 837]:
        base = [rng.uniform(-1e6, 1e6) for _ in range(max(1, n // 3))]
        vals = [rng.choice(base) for _ in range(n)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        expected = df.agg(
            F.percentile("v", F.array(*[F.lit(p) for p in FRACS])).alias(
                "ps"
            )
        ).collect()[0]["ps"]
        stats = selected_order_stats(
            df, "v", lambda m: percentile_ranks(m, FRACS)
        )
        nn, at = stats[()]
        assert nn == n
        for p, e in zip(FRACS, expected):
            g = spark_percentile_replay(nn, at, p)
            assert _bits(g) == _bits(e), (n, p, g, e)


def test_percentile_replay_bit_exact_grouped(spark):
    rng = random.Random(77)
    rows = []
    for grp in ["A", "B", "C"]:
        n = rng.choice([6, 11, 40])
        base = [rng.uniform(0, 1e5) for _ in range(3)]
        rows += [(grp, rng.choice(base) + rng.random()) for _ in range(n)]
    df = spark.createDataFrame(rows, "g string, v double")
    exp = {
        r["g"]: r["m"]
        for r in df.groupBy("g")
        .agg(F.median("v").alias("m"))
        .collect()
    }
    stats = selected_order_stats(df, "v", _median_ranks, ["g"])
    for (g,), (n, at) in stats.items():
        got = spark_percentile_replay(n, at, 0.5)
        assert _bits(got) == _bits(exp[g]), (g, got, exp[g])


def test_doubled_median2_exact_ints(spark):
    """round(percentile(x, .5) * 2) over BIGINTs == v_lo + v_hi exactly."""
    rng = random.Random(5)
    for n in [1, 2, 9, 10, 250]:
        vals = [rng.randrange(-(10**12), 10**12) for _ in range(n)]
        vals += vals[: n // 2]  # duplicates
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        exp = df.agg(
            F.round(F.percentile("v", F.lit(0.5)) * 2)
            .cast("bigint")
            .alias("m2")
        ).collect()[0]["m2"]
        stats = selected_order_stats(
            df, "v", _median_ranks
        )
        nn, at = stats[()]
        assert doubled_median2(nn, at) == exp


def test_selection_drops_nulls(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (3.0,), (None,), (2.0,)], "v double"
    )
    exp = df.agg(F.median("v").alias("m")).collect()[0]["m"]
    stats = selected_order_stats(df, "v", _median_ranks)
    nn, at = stats[()]
    assert nn == 3
    assert _bits(spark_percentile_replay(nn, at, 0.5)) == _bits(exp)


# ---------------------------------------------------------------------------
# Broadcast hints (plans/hints.py)
# ---------------------------------------------------------------------------


def test_maybe_broadcast_hints_only_under_threshold(spark):
    """maybe_broadcast applies the hint when Catalyst's estimate is under
    the threshold and declines it (returning the frame unchanged, so AQE
    keeps the runtime decision) when the side is estimated too big."""
    from mongodb_nats_connector_spark.plans.hints import (
        estimated_size_bytes,
        maybe_broadcast,
    )

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    est = estimated_size_bytes(cust)
    assert est is not None and est > 0
    hinted = maybe_broadcast(cust, threshold_bytes=est + 1)
    assert hinted is not cust
    # a dangling hint is erased by the optimizer; the analyzed plan keeps it
    plan = hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan
    declined = maybe_broadcast(cust, threshold_bytes=1)
    assert declined is cust


def test_maybe_broadcast_conf_parsing():
    from mongodb_nats_connector_spark.plans.hints import _parse_bytes

    assert _parse_bytes("10485760b") == 10 << 20
    assert _parse_bytes("64MB") == 64 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("-1") == -1
    assert _parse_bytes("1048576") == 1 << 20


def test_counted_fits_broadcast_requires_persist_and_gates_on_count(spark):
    """The runtime-count gate must (a) refuse un-persisted inputs — the
    count would recompute the full lineage and diverge from what the join
    reads, (b) hint small persisted relations, (c) decline when the
    materialized count exceeds the threshold."""
    from mongodb_nats_connector_spark.plans.hints import counted_fits_broadcast

    df = spark.range(100)
    with pytest.raises(ValueError, match="persisted"):
        counted_fits_broadcast(df)
    df = df.persist()
    try:
        assert counted_fits_broadcast(df, row_bytes=8)
        # 100 rows * 1 MiB/row >> 64 MiB session threshold -> declined
        assert not counted_fits_broadcast(df, row_bytes=1 << 20)
    finally:
        df.unpersist()


# ---------------------------------------------------------------------------
# Cache release (plans/caching.py)
# ---------------------------------------------------------------------------


def test_no_sql_cache_leak_after_results_dropped(spark):
    """Operators that persist() an intermediate referenced by the returned
    plan must release it once the caller drops the result — the SQL
    CacheManager entry count returns to its pre-call level (it is NOT
    GC-reclaimed on its own, so a missing finalizer would leak here)."""
    import gc

    from mongodb_nats_connector_spark.operators.text import (
        bigram_lm_surprisal,
        fuzzy_join_blocked,
    )
    from mongodb_nats_connector_spark.operators.dedup import dedup_prefix_boilerplate
    from mongodb_nats_connector_spark.operators.relational import join_bloom_semi
    from mongodb_nats_connector_spark.operators.graph import (
        graph_jaccard_neighbors,
        graph_triangle_count,
    )
    from mongodb_nats_connector_spark.operators.orders import orders_basket_lift
    from mongodb_nats_connector_spark.operators.events import events_seasonal_baseline
    from mongodb_nats_connector_spark.operators.orders import orders_pareto_curve
    from mongodb_nats_connector_spark.operators.stats import agg_chi_square
    from mongodb_nats_connector_spark.operators.relational import (
        q20_heavy_shippers,
        q21_waiting_suppliers,
    )

    sf = "/root/testdata/sf0.001"
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.cachedData().size()
    for fn in [
        graph_triangle_count,
        orders_basket_lift,
        graph_jaccard_neighbors,
        orders_pareto_curve,
        events_seasonal_baseline,
        agg_chi_square,
        join_bloom_semi,
        q20_heavy_shippers,
        q21_waiting_suppliers,
        dedup_prefix_boilerplate,
        bigram_lm_surprisal,
        fuzzy_join_blocked,
    ]:
        df = fn(spark, sf)
        df.collect()
        del df
        gc.collect()
        assert cm.cachedData().size() == before, (
            f"{fn.__name__} leaked a CacheManager entry"
        )


# ---------------------------------------------------------------------------
# Two-pass distributed rank (plans/ranking.py)
# ---------------------------------------------------------------------------


def _reference_ntile(n: int, k: int) -> list[int]:
    """SQL ntile(k) semantics: tile sizes n//k, the first n%k tiles one
    larger; returns the tile of each 1-based rank."""
    base, rem = divmod(n, k)
    out = []
    for tile in range(1, k + 1):
        out.extend([tile] * (base + (1 if tile <= rem else 0)))
    return out


def test_ntile_from_rank_formula_matches_sql_semantics():
    """The exact-integer ntile arithmetic (remainder-first allocation)
    agrees with the reference allocation for every (n, k) shape class:
    n < k, n == k, n % k == 0, and ragged remainders."""
    for n in [1, 3, 7, 10, 11, 19, 20, 100, 101, 997]:
        for k in [1, 2, 3, 10]:
            ref = _reference_ntile(n, k)
            for r in range(1, n + 1):
                base, rem = divmod(n, k)
                cut = rem * (base + 1)
                if r <= cut:
                    got = (r - 1) // (base + 1) + 1
                else:
                    got = rem + (r - 1 - cut) // max(base, 1) + 1
                assert got == ref[r - 1], (n, k, r)


def test_two_pass_rank_matches_global_window(spark):
    """two_pass_global_rank + ntile_from_rank reproduce the single-partition
    ntile window exactly — heavy ties included — while every
    data-proportional window in its plan partitions by bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import (
        ntile_from_rank,
        two_pass_global_rank,
    )

    for n_rows, k in [(7, 10), (1000, 10), (9973, 7)]:
        df = spark.range(n_rows).select(
            F.col("id").alias("tie"),
            ((F.col("id") * 2654435761) % 97).cast("bigint").alias("v"),
        )
        expected = df.withColumn(
            "t", F.ntile(k).over(Window.orderBy(F.col("v").desc(), "tie"))
        )
        ranked = two_pass_global_rank(df, "v", "tie", descending=True)
        got = ranked.withColumn(
            "t", ntile_from_rank(F.col("_rank"), F.col("_n"), k)
        )
        exp = {r["tie"]: r["t"] for r in expected.collect()}
        act = {r["tie"]: r["t"] for r in got.collect()}
        assert act == exp, (n_rows, k)


def test_two_pass_rank_ascending(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import two_pass_global_rank

    df = spark.range(500).select(
        F.col("id").alias("tie"), ((F.col("id") * 31) % 13).alias("v")
    )
    w = Window.orderBy(F.col("v").asc(), "tie")
    exp = {
        r["tie"]: r["r"]
        for r in df.withColumn("r", F.row_number().over(w)).collect()
    }
    ranked = two_pass_global_rank(df, "v", "tie", descending=False)
    act = {r["tie"]: r["_rank"] for r in ranked.collect()}
    assert act == exp


def test_two_pass_rank_edge_cases(spark):
    """Degenerate shapes: all-equal values (every row one bucket — the cap
    on correctness is the tie column), fewer rows than boundaries, and an
    empty relation."""
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import two_pass_global_rank

    allsame = spark.range(100).select(
        F.col("id").alias("tie"), F.lit(7).cast("bigint").alias("v")
    )
    got = {
        r["tie"]: r["_rank"]
        for r in two_pass_global_rank(allsame, "v", "tie").collect()
    }
    assert got == {i: i + 1 for i in range(100)}

    tiny = spark.range(3).select(
        F.col("id").alias("tie"), (10 - F.col("id")).alias("v")
    )
    ranked = two_pass_global_rank(tiny, "v", "tie", descending=True)
    assert {r["tie"]: r["_rank"] for r in ranked.collect()} == {0: 1, 1: 2, 2: 3}
    assert ranked.select("_n").first()["_n"] == 3

    empty = spark.range(0).select(
        F.col("id").alias("tie"), F.col("id").alias("v")
    )
    assert two_pass_global_rank(empty, "v", "tie").count() == 0


def test_two_pass_rank_matches_window_and_drops_nulls(spark):
    """The two-pass rank must equal a plain row_number() window on the
    non-NULL subset, and NULL value rows must be dropped (the documented
    contract — silently ranking them into bucket 0 shifted every ntile
    boundary before the fix)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import (
        ntile_from_rank,
        two_pass_global_rank,
    )

    rows = [(i, float(v)) for i, v in enumerate([5, 3, 8, 3, 9, 1, 7, 2])]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = two_pass_global_rank(
        df, "v", "id", descending=True, n_buckets=3
    ).collect()
    assert len(got) == 8  # NULLs dropped
    w = Window.orderBy(F.desc("v"), F.asc("id"))
    exp = {
        r["id"]: r["rn"]
        for r in df.filter(F.col("v").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .collect()
    }
    for r in got:
        assert r["_rank"] == exp[r["id"]]
        assert r["_n"] == 8
    # ntile reconstruction equals SQL ntile on the same rank
    wn = Window.orderBy(F.desc("v"), F.asc("id"))
    nt = {
        r["id"]: r["nt"]
        for r in df.filter(F.col("v").isNotNull())
        .withColumn("nt", F.ntile(3).over(wn))
        .collect()
    }
    for r in got:
        recon = ntile_from_rank(F.lit(r["_rank"]), F.lit(r["_n"]), 3)
        val = spark.range(1).select(recon.alias("x")).collect()[0]["x"]
        assert val == nt[r["id"]]


def test_two_pass_prefix_sum_matches_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_prefix_sum,
    )

    rows = [(i, (i * 37) % 11, (i % 5) - 2) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, v long, d long")
    got = {
        r["id"]: r["cum"]
        for r in two_pass_prefix_sum(
            df, "v", "id", "d", descending=False, n_buckets=4, cum_col="cum"
        ).collect()
    }
    w = (
        Window.orderBy(F.asc("v"), F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exp = {
        r["id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("d").over(w)).collect()
    }
    assert got == exp


def test_two_pass_prefix_max_exclusive_matches_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_prefix_max,
    )

    # distinct v values (exclusive ROWS frames require a total order)
    rows = [(i, (i * 13) % 97, (i * 7) % 23) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v long, m long")
    got = {
        r["v"]: r["pm"]
        for r in two_pass_prefix_max(
            df, "v", "v", "m",
            descending=True, n_buckets=4, cum_col="pm", exclusive=True,
        ).collect()
    }
    w = Window.orderBy(F.desc("v")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    exp = {
        r["v"]: r["pm"]
        for r in df.withColumn("pm", F.max("m").over(w)).collect()
    }
    assert got == exp  # including NULL for the first row


def test_explicit_boundaries_rank_identical(spark):
    """two_pass_global_rank with ANY explicit boundary set returns the
    same ranks as the sketched path (boundaries only balance work)."""
    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_global_rank,
    )

    df = spark.range(200).select(
        (F.col("id") * 37 % 101).alias("v"), F.col("id").alias("tie")
    )
    base = {
        (r["tie"], r["_rank"], r["_n"])
        for r in two_pass_global_rank(df, "v", "tie").collect()
    }
    for bounds in ([], [50], [10, 20, 90], [-5, 0, 1000]):
        got = {
            (r["tie"], r["_rank"], r["_n"])
            for r in two_pass_global_rank(
                df, "v", "tie", boundaries=bounds
            ).collect()
        }
        assert got == base, bounds
        coll = {
            (r["tie"], r["_rank"], r["_n"])
            for r in two_pass_global_rank(
                df, "v", "tie", boundaries=bounds, collected_offsets=True
            ).collect()
        }
        assert coll == base, bounds
