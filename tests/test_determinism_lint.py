"""Package-wide lints: float round() on the hash surface, bare persist().

The last three driver-only hash divergences (orders_exp_smoothing r8,
orders_nelson_aalen r8 AND r9) were all ONE pattern: ``round()`` applied
to a float expression on the hash surface.  Local probes are provably
unable to catch this class — the query probes bit-exact against the local
DuckDB build and still fails on the driver platform, because the failure
needs either (a) a libm function (exp/ln/pow/sqrt) whose last ulp is
platform-dependent, or (b) an argument that can land EXACTLY on a
round-half boundary (any integer-ratio expression can), where Spark's
HALF_UP and a foreign round implementation (e.g. nearbyint's half-even)
disagree.

This lint pins every currently-shipped ``round(<float expr>)`` site —
"float expr" meaning the argument contains a float division (``/`` but
not ``//``/``div``) or a libm call — in BOTH the Spark source and the
DuckDB oracle of every registered query.  The pinned sites are
empirically cross-engine-stable (each has at least one driver-green
round behind it).  The dict can only SHRINK: a NEW risky round() site
fails this test and must either (preferred) be rewritten all-integer —
half-away division is ``(2*a + b) div (2*b)`` on exact integers, see
orders_nelson_aalen — or be added here with a one-line justification in
the same commit explaining why the argument can never tie on a
round-half boundary and never passes through libm.

``test_no_new_bare_persists`` pins the count of bare ``.persist()`` sites
per module, each paired with the release that keeps it from leaking a
session-lifetime cache entry.
"""

import inspect
import re

# query-name -> number of round()-of-float sites (Spark source + oracle)
_ALLOWED_FLOAT_ROUND = {
    # round(l_extendedprice / 1000) price-kilobucket GROUPING construct on
    # both engine sides — identical double input -> identical rounding
    # (the agg_ansari_bradley precedent, same domain)
    "agg_anderson_darling": 2,
    "agg_ansari_bradley": 2,
    "agg_autocorrelation": 3,
    "agg_benford_test": 5,
    "agg_bootstrap_poisson": 15,
    "agg_chi_square": 2,
    "agg_cramers_v": 2,
    "agg_dispersion_test": 4,
    "agg_friedman_test": 2,
    "agg_gini_impurity_split": 1,
    "agg_hellinger_distance": 4,
    "agg_hll_registers": 3,
    "agg_incremental_merge": 3,
    "agg_info_gain_split": 1,
    "agg_jarque_bera": 2,
    "agg_kendall_tau": 2,
    "agg_kmv_distinct_setops": 13,
    "agg_kruskal_wallis": 2,
    "agg_ks_test": 4,
    "agg_levene_bf": 5,
    "agg_ljung_box": 3,
    "agg_log2_histogram_quantiles": 6,
    "agg_mann_whitney": 7,
    "agg_median_test": 6,
    "agg_mutual_information": 14,
    "agg_roc_auc": 2,
    "agg_runs_test": 3,
    "agg_spearman_corr": 3,
    "agg_theil_sen": 1,  # r14: the round(2*percentile) median site became
    # integer order-statistic selection; the slope round() remains
    "agg_welch_ttest": 2,
    "agg_wilson_ci": 8,
    "bigram_lm_surprisal": 2,
    "bpe_apply_merges": 2,
    "cdc_out_of_order_audit": 2,
    "contamination_ngram_overlap": 1,
    "corpus_shard_plan": 3,
    "curate_dataset_card": 4,
    "curate_gate_report": 3,
    "curate_temperature_resample": 7,
    "customer_ltv_deciles": 6,
    "dedup_containment_pairs": 2,
    "dedup_minhash_lsh": 1,
    "dedup_ngram_jaccard": 1,
    "docs_js_divergence": 9,
    "docs_ngram_novelty": 2,
    "docs_pmi_collocations": 3,
    "embedding_centroids": 1,
    "embedding_pca_power_iteration": 3,
    "embedding_quantize_int8": 2,
    "events_ab_uplift": 3,
    "events_attribution_last_touch": 2,
    "events_cusum_changepoint": 2,
    "events_daily_anomaly": 2,
    "events_decayed_engagement": 5,
    "events_effect_size": 4,
    "events_entropy_rate": 8,
    "events_funnel": 2,
    "events_odds_ratio": 5,
    "events_paired_ttest": 3,
    "events_pettitt_changepoint": 2,
    "events_stickiness_dau_wau": 3,
    "events_weibull_gaps": 6,
    "graph_adamic_adar": 6,
    "graph_jaccard_neighbors": 3,
    "orders_abc_xyz": 6,
    "orders_basket_lift": 3,
    "orders_exp_smoothing": 6,
    "orders_gini_hhi": 5,
    "orders_holt_linear": 12,
    "orders_logrank_test": 4,
    "orders_mape_backtest": 9,
    "orders_monthly_growth": 6,
    "orders_newsvendor_fractile": 12,
    "orders_ols_multifactor": 2,
    "orders_pareto_curve": 3,
    "orders_price_index": 8,
    "orders_running_share": 2,
    "orders_seasonal_decompose": 5,
    "orders_shewhart_control": 12,
    "orders_skyline_pareto": 2,
    "orders_cumulative_incidence": 8,  # AJ product-limit + 3 CIF running
    # sums on the survival_km exp-sum-ln scheme (round(ln,9)/round(,6)
    # per surface)
    "orders_survival_km": 4,
    "orders_wasserstein_1d": 2,
    "profile_key_skew": 4,
    "q14_promo_revenue": 2,
    "q17_small_quantity_revenue": 2,
    "q8_market_share": 2,
    "revenue_yoy": 4,
    "scalar_math": 6,
    "scalar_try_safe": 1,
    "text_bm25_topk": 5,
    "text_heaps_law_fit": 3,
    "text_keywords_topk": 3,
    "text_kl_divergence": 2,
    "text_passage_dedup": 2,
    "text_perplexity_bucket": 2,
    "text_quality": 6,
    "text_rake_keyphrases": 6,
    "text_repetition_quality": 2,
    "text_stats": 2,
    "text_tfidf": 1,
    "text_unigram_surprisal": 2,
    "text_word_entropy": 2,
    "text_zipf_slope": 4,
    "udf_grouped_zscore": 1,
}

_ROUND = re.compile(r"(?<![A-Za-z0-9_.])(?:F\.)?b?round\s*\(", re.IGNORECASE)
_FLOATY = re.compile(
    r"(?<!/)/(?!/)"
    r"|(?<![A-Za-z0-9_])(exp|ln|log|log2|log10|pow|power|sqrt)\s*\(",
    re.IGNORECASE,
)


def _balanced_arg(text: str, lparen: int) -> str:
    depth = 0
    for i in range(lparen, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return text[lparen + 1 : i]
    return text[lparen:]


def _risky_round_sites(query) -> int:
    try:
        src = inspect.getsource(query.fn)
    except OSError:
        src = ""
    texts = [src]
    if query.oracle and query.oracle not in src:
        texts.append(query.oracle)
    n = 0
    for t in texts:
        for m in _ROUND.finditer(t):
            lparen = t.index("(", m.end() - 1)
            if _FLOATY.search(_balanced_arg(t, lparen)):
                n += 1
    return n


def test_no_new_float_round_on_hash_surface():
    from mongodb_nats_connector_spark.registry import all_queries

    found = {}
    for name, q in sorted(all_queries().items()):
        n = _risky_round_sites(q)
        if n:
            found[name] = n
    new = {k: v for k, v in found.items() if _ALLOWED_FLOAT_ROUND.get(k) != v}
    gone = {k: v for k, v in _ALLOWED_FLOAT_ROUND.items() if found.get(k) != v}
    assert found == _ALLOWED_FLOAT_ROUND, (
        "round()-of-float inventory drifted (prefer an all-integer "
        f"half-away div rewrite): new/changed={new} missing/changed={gone}"
    )


def test_no_hugeint_on_oracle_output_surface():
    """No oracle may emit a HUGEINT/UHUGEINT output column.

    The orders_nelson_aalen r8-r10 triple-red root cause: DuckDB promotes
    ``BIGINT - sum(BIGINT) OVER (...)`` (and several other wide-int
    operations) to int128.  pandas has no int128, so ``.df()``
    materializes the column as float64 while Spark emits int64 — values
    compare equal, serialized value-hashes don't, and the failure is
    INVISIBLE to every local value-parity probe.  ``DESCRIBE`` binds the
    query without executing it, so this sweep over all ~360 oracles costs
    milliseconds per query and mechanically closes the channel: any
    int128-typed output column must be ``CAST(... AS BIGINT)`` (or
    DOUBLE, if the Spark side is float) in the oracle's final SELECT.
    """
    import duckdb

    from mongodb_nats_connector_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    offenders = {}
    for name, q in sorted(all_queries().items()):
        if not q.oracle:
            continue
        try:
            desc = con.execute(f"DESCRIBE ({q.oracle})").fetchall()
        except Exception as e:  # pragma: no cover - surfaced as a failure
            offenders[name] = f"DESCRIBE failed: {e}"
            continue
        bad = [c for c, typ, *_ in desc if "HUGEINT" in typ.upper()]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle output surface carries int128 columns (pandas will "
        "materialize them as float64 and the driver value-hash will "
        f"diverge from Spark's int64): {offenders}"
    )


def test_nelson_aalen_hash_surface_is_all_integer():
    """The twice-red query specifically: its increment must stay integer
    (div), with the single h_nn/1e9 display division as the only float op
    — no round() anywhere."""
    from mongodb_nats_connector_spark.registry import all_queries

    q = all_queries()["orders_nelson_aalen"]
    src = inspect.getsource(q.fn)
    assert _risky_round_sites(q) == 0
    assert "div (2 * n_risk)" in src and "// (2 * n_risk)" in src


def test_no_new_bare_persists():
    """Bare .persist() in an operator leaks a session-lifetime cache entry
    unless the function itself unpersists (driver-loop pattern) or the
    cache is a documented cross-query share. Every allowed site is pinned
    here; new intermediates that outlive the function must go through
    plans.caching.persist_until_collected instead."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    allowed = {
        # file -> bare-persist count, each paired with an in-function
        # unpersist (BPE/dedup-clusters driver loops), the documented
        # session-scoped shingle cache, or a release_on_gc /
        # persist_until_collected release on the returned result.
        # Two-pass-rank inputs are cached BEFORE the helper's
        # construction-time boundary-sketch job (else the upstream rollup
        # recomputes per pass).
        "operators/dedup.py": 3,  # shingle cache + dedup_clusters loop
        "operators/double_sums.py": 1,  # weibull gaps
        "operators/events.py": 2,  # hourly-profile 24x7 grid,
        # type-cooccurrence user-day grain
        "operators/graph.py": 7,  # triangle edges, jaccard deg (runtime-
        # stat broadcast gates), eccentricity's nation-sized relation,
        # harmonic-centrality distances, clustering-coefficient adjacency
        # + per-node relations, reciprocity edges
        "operators/orders.py": 21,  # basket-lift items (broadcast gate),
        # seasonal-decompose month series, tukey k-sized group stats,
        # decile-lift input, c-index duration x bucket cells,
        # regression-diagnostics month index + residual rows,
        # seasonality-strength detrended rows, cusum daily grid + scaled
        # increments, bartels day series, durbin-watson month index,
        # pacf month index + centered values, xmr moving ranges,
        # demand-class daily grid, association-metrics baskets, gini's
        # two-pass-rank input, skyline per_cust, abc rev, pareto
        # per-customer rollup
        "operators/relational.py": 2,  # ltv + rfm per-customer rollups
        "operators/similarity.py": 5,  # MMR candidate pool (cached
        # BEFORE its bounded driver-collect loop), PQ codebook + ANN-PQ
        # embedding relations (before their bounded k-means collects),
        # hubness's and TwoNN's quantized embedding relation
        "operators/stats.py": 20,  # ljung-box day series, cochran-q
        # presence matrix, friedman month x priority cells + rank sums,
        # trimmed-mean ranked day series, mann-kendall day series, JT
        # priority x price-domain cells, page-test monthly grid,
        # permutation-test daily series, quade monthly grid + gated grid
        # + score cells, siegel cells, breslow strata, winsorized
        # cumulative grid, concordance ranks, gamma's 2D grid cells,
        # welch's weight relation, hll's deduplicated user-day relation,
        # spearman fact projection
        "operators/text.py": 9,  # BPE learn loop (lex + nxt),
        # Kneser-Ney bigram-type rollup (unpersisted before return),
        # burstiness (doc, word) counts, winnowing gram hashes,
        # dale-chall tokens, vocab-overlap word sets, gries' (word,
        # source) counts, quality-ensemble sig
        # (graph_cc_bigstar's CC loop uses eager localCheckpoint per
        # round — plan truncation, not a bare persist)
    }
    pkg = root / "mongodb_nats_connector_spark"
    found = {}
    for sub in ("operators", "streaming", "sources", "functions"):
        for f in sorted((pkg / sub).glob("*.py")):
            n = f.read_text().count(".persist()")
            if n:
                found[f"{sub}/{f.name}"] = n
    assert found == allowed, (
        f"bare persist() sites changed: {found} != {allowed} — use "
        "persist_until_collected for intermediates the returned plan needs"
    )
