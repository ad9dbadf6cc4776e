#!/usr/bin/env python
"""Regenerate SCALING.md: empirical evidence that the near-dup / similarity
scale paths grow near-linearly while the documented brute-force baselines
grow quadratically.

Wall-clock at laptop scale is noise-dominated (constant overheads swamp the
asymptotics at 500-5000 docs), so the primary metric is WORK: the number of
candidate pairs each strategy materializes — the row count that the verify
join, the shuffle, and executor memory all scale with. That count is exact
and deterministic at every SF.

Run from the repo root: python tools/scale_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query  # noqa: E402
from sf1_scaling import REPS, key_shifts, replica_dir  # noqa: E402

SFS = ["sf0.001", "sf0.01", "sf0.1"]


def main() -> None:
    from pyspark.sql import functions as F

    from mongodb_nats_connector_spark.functions.texthash import (
        band_keys,
        capped_members,
        expand_bucket_pairs,
        hashed_word_shingles,
        minhash_signature,
    )
    from mongodb_nats_connector_spark.operators.dedup import dedup_minhash_lsh
    from mongodb_nats_connector_spark.session import get_spark
    from mongodb_nats_connector_spark.sources.tables import table

    spark = get_spark(app_name="mnc-spark-scaleprobe")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    sf_dirs = {}
    for sf in SFS:
        sf_dir = f"/root/testdata/{sf}"
        sf_dirs[sf] = sf_dir
        docs = table(spark, sf_dir, "documents", parallel=True)
        n_docs = docs.count()
        all_pairs = n_docs * (n_docs - 1) // 2

        # candidate pairs the LSH band join actually materializes (mirrors
        # the candidate stage inside dedup_minhash_lsh)
        sets = docs.withColumn("words", F.split("text", " ")).filter(
            F.size("words") >= 3
        ).select("doc_id", hashed_word_shingles(F.col("words")).alias("h64"))
        sigs = sets.select("doc_id", minhash_signature(F.col("h64")).alias("mh"))
        buckets = (
            band_keys(sigs)
            .groupBy("band_key")
            .agg(capped_members(F.col("doc_id")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        candidates = expand_bucket_pairs(
            buckets, "ids", lambda x, y: F.struct(x.alias("a"), y.alias("b"))
        ).select("p.*").distinct()
        n_candidates = candidates.count()

        t0 = time.perf_counter()
        out = dedup_minhash_lsh(spark, sf_dir)
        out.write.format("noop").mode("overwrite").save()
        lsh_secs = round(time.perf_counter() - t0, 2)
        n_dups = out.count()

        # embeddings: all-pairs vs LSH-bucketed candidate volume
        emb = table(spark, sf_dir, "embeddings")
        n_vecs = emb.count()
        vec_all_pairs = n_vecs * (n_vecs - 1) // 2

        rows.append(
            (sf, n_docs, all_pairs, n_candidates, n_dups, lsh_secs, n_vecs, vec_all_pairs)
        )

    # Count-Min sketch: measured estimate error vs width at the largest SF
    # (evidence for the d×w sizing claim in SCALE.md — error tracks the
    # ~2n/w additive bound, so width is a dial, not a guess).
    from mongodb_nats_connector_spark.operators.mining5 import CMS_A, CMS_B, CMS_PRIME

    cms_rows = []
    sf_dir = f"/root/testdata/{SFS[-1]}"
    li = table(spark, sf_dir, "lineitem").select("l_suppkey")
    keys = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("true_count"))
    keys.persist()
    n_rows_total = li.count()
    for width in (64, 256, 1024):
        a_arr = F.array(*[F.lit(x) for x in CMS_A])
        b_arr = F.array(*[F.lit(x) for x in CMS_B])

        def slot(key_col, d_col):
            a = F.element_at(a_arr, d_col + 1).cast("bigint")
            b = F.element_at(b_arr, d_col + 1).cast("bigint")
            return ((a * key_col + b) % CMS_PRIME) % width

        depths = F.explode(F.sequence(F.lit(0), F.lit(len(CMS_A) - 1))).alias("d")
        sketch = (
            li.select(F.col("l_suppkey"), depths)
            .select("d", slot(F.col("l_suppkey"), F.col("d")).alias("slot"))
            .groupBy("d", "slot")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        est = (
            keys.select("l_suppkey", "true_count", depths)
            .withColumn("slot", slot(F.col("l_suppkey"), F.col("d")))
            .join(F.broadcast(sketch), ["d", "slot"])
            .groupBy("l_suppkey")
            .agg(F.min("c").alias("est"), F.min("true_count").alias("true_count"))
        )
        err = est.select(
            F.avg(F.col("est") - F.col("true_count")).alias("mean_err"),
            F.max(F.col("est") - F.col("true_count")).alias("max_err"),
        ).collect()[0]
        cms_rows.append(
            (
                width,
                round(err.mean_err, 1),
                int(err.max_err),
                round(2.0 * n_rows_total / width, 1),
            )
        )
    keys.unpersist()

    lines = [
        "# SCALING — measured candidate-volume growth of the dedup scale path",
        "",
        "Generated by `python tools/scale_probe.py`. The quadratic baselines",
        "(`dedup_ngram_jaccard`, `similarity_neardup_pairs`) materialize every",
        "matching pair of the corpus; the LSH path only materializes pairs that",
        "collide in a MinHash band bucket. The table shows the measured counts:",
        "candidate work grows with the DUPLICATE density (near-linear in corpus",
        "size), not with n² — the property that lets the same plan run at 100 TB.",
        "",
        "| SF | docs | all doc pairs (n²/2) | LSH candidate pairs | verified dups | LSH wall s | vectors | all vec pairs |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    base = rows[0]
    last = rows[-1]
    frac_base = base[3] / base[2]
    frac_last = last[3] / last[2]
    lines += [
        "",
        f"LSH materializes {frac_base:.2%} of the brute-force pair work at "
        f"{base[0]} and {frac_last:.3%} at {last[0]}: the fraction FALLS as "
        "the corpus grows (candidates track duplicate density, all-pairs "
        "track n²), and candidates stay within a small factor of the true "
        f"duplicate count ({base[3]}/{base[4]} -> {last[3]}/{last[4]}). At "
        "100 TB the brute-force side is ~10^7x larger while the candidate "
        "side stays proportional to the duplicates actually present.",
        "",
        "(sf0.001 and sf0.01 both hold 500 documents — the generator grows "
        "only the TPC-H tables between them, with different content seeds; "
        "the document-corpus scale step is 500 -> 5000 at sf0.1.)",
        "",
        "Wall-clock at these SFs is dominated by fixed overheads (single-row-group",
        "parquet decode, JVM/codegen warmup, UDF worker spin-up), so timings are",
        "reported for transparency, not as the scaling argument.",
        "",
        "## Count-Min sketch: estimate error vs width (" + SFS[-1] + ", "
        f"{n_rows_total} rows, 4 depths)",
        "",
        "The sketch (`agg_heavy_hitters_cms`) is fixed-size state whose only",
        "accuracy dial is width. Measured per-key overestimate against the",
        "exact counts, next to the classical ~2n/w additive bound:",
        "",
        "| width | mean overestimate | max overestimate | ~2n/w bound |",
        "|---|---|---|---|",
    ]
    for w, mean_err, max_err, bound in cms_rows:
        lines.append(f"| {w} | {mean_err} | {max_err} | {bound} |")
    lines += [
        "",
        "Error tracks the bound, so sizing the sketch for a target error at",
        "100 TB is arithmetic (w ≈ 2n/ε), and the d×w counter grid shuffles",
        "and broadcasts at ANY corpus size.",
    ]
    # ------------------------------------------------------------------
    # Headline-operator scaling exponents, real generator data: sf0.01 ->
    # sf0.1 is a true 10x step for every table (lineitem 60k -> 600k,
    # documents 500 -> 5000). exponent = log10(t_big / t_small); 1.0 is
    # linear, 2.0 quadratic. Wall clock at these sizes carries fixed
    # overhead, so exponents are an upper bound on the asymptotic slope.
    from mongodb_nats_connector_spark.registry import queries as all_q

    qs = all_q()
    HEADLINE_SCALING = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q9_product_profit",
        "graph_triangle_count",
        "orders_basket_lift",
        "graph_jaccard_neighbors",
        "dedup_minhash_lsh",
        "bigram_lm_surprisal",
        # round 6 shapes (replica-safe: keys shift consistently, so work
        # scales with rows, not duplicate density)
        "merge_upsert_snapshot",
        "events_stickiness_dau_wau",
        "events_max_concurrency",
        # round 7 shapes: the replica leaves user_id/nation unshifted, so
        # per-user / per-day / sketch state stays FIXED while input rows
        # grow 10x — exactly the bounded-state property these plans claim
        "events_activity_streaks",
        "events_cusum_changepoint",
        "agg_kmv_distinct_setops",
        "graph_bfs_levels",
        "graph_widest_path",
        "agg_hll_registers",
        "orders_gini_hhi",
        "agg_log2_histogram_quantiles",
        "agg_ks_test",
        # round 9 shapes: sparse retrieval (only query-term postings are
        # scored), one-pass closed-form OLS (O(1) reduce state), and the
        # Poisson bootstrap (map-side explode, 40-key reduce)
        "text_bm25_topk",
        "orders_ols_multifactor",
        "agg_bootstrap_poisson",
        # round 9b: island-window phrase mining (identical text replicates
        # 10x -> phrase/vocab relations grow with distinct text, not rows)
        # and the per-series integer fold (state fixed while rows grow)
        "text_rake_keyphrases",
        "orders_holt_linear",
        # round 8: the two-pass range-partitioned rank (bucketed windows,
        # no single-partition ntile) and the distinct-cell Spearman moments
        "customer_ltv_deciles",
        "agg_spearman_corr",
        # round 9: the 8 converted two-pass global-window queries (every
        # data-proportional sort/prefix now range-partitions), the bounded
        # domain-grid Kendall tau, the vocabulary-sized KN bigram model,
        # and the log(V)-round Boruvka MST
        "orders_abc_xyz",
        "customer_rfm_segments",
        "events_weibull_gaps",
        "orders_pareto_curve",
        "orders_skyline_pareto",
        "docs_quality_ensemble_rank",
        "agg_kendall_tau",
        "text_kneser_ney_bigram",
        "graph_mst_boruvka",
        # round 10: bounded score-domain histograms (rank statistics), the
        # calendar-bounded Walsh/pairwise joins, the per-customer survival
        # window, the k^2-per-block Friedman pair join, the daily-series
        # Page-Hinkley, and the map-only PQ encode + centroid-sized ADC
        "agg_roc_auc",
        "agg_kruskal_wallis",
        "agg_hodges_lehmann",
        "agg_friedman_test",
        "orders_logrank_test",
        "events_page_hinkley",
        "similarity_ann_pq",
        # round 11: placement-variance rank test over the price domain,
        # the two-pass decile table, the (duration x bucket)-grid C-index
        # pair factorization, the 200-relabel randomization test over the
        # calendar-bounded daily series, the twelfth-cent Holt-Winters
        # fold, the per-doc MTLD fold, and the composed ANN evaluation
        "agg_brunner_munzel",
        "orders_decile_lift",
        "orders_survival_cindex",
        "agg_permutation_test",
        "orders_holt_winters",
        "text_mtld_diversity",
        "similarity_recall_at_k",
        # round 12: winnowed fingerprints (per-doc partitioned window-min
        # over shingle hashes), the keyed (doc, word) richness rollup, the
        # domain-grid alternating-rank scale test, the user-day-grain
        # type-pair lift (per-key fan-out bounded by the type domain), the
        # co-partitioned scorecard join + supplier rollup, the per-nation
        # sorted-grid GMD identity, and the Arrow-batched real header parse
        "docs_winnowing_fingerprint",
        "text_lexical_richness",
        "agg_siegel_tukey",
        "events_type_cooccurrence",
        "orders_vendor_scorecard",
        "agg_gini_mean_difference",
        "multimodal_image_header_parse",
        # round 12 spare-slot ops: the omnibus grid rank test (domain-sized
        # state), the keyed inter-arrival lag + type rollup, and the
        # map-only segmented-TTR scan (zero exchanges at any SF)
        "agg_lepage",
        "events_gap_burstiness",
        "text_sttr_segments",
    ]
    import math

    expo_rows = []
    for name in HEADLINE_SCALING:
        t_small = sum(time_query(spark, qs[name], sf_dirs["sf0.01"]))
        t_big = sum(time_query(spark, qs[name], sf_dirs["sf0.1"]))
        expo_rows.append(
            (
                name,
                round(t_small, 2),
                round(t_big, 2),
                round(t_big / t_small, 2),
                round(math.log10(max(t_big / t_small, 1e-9)), 2),
            )
        )

    # The consistent sf1 replica (tools/sf1_scaling.py): 10 key-shifted
    # copies of every sf0.1 table, a faithful 10x growth of facts AND dims.
    rep_dir = replica_dir(spark)

    # Headline exponents on the replica: a true 10x step ABOVE sf0.1,
    # where fixed overhead no longer dominates. dedup_minhash_lsh is
    # excluded here and reported separately: replication multiplies
    # duplicate density (every doc gains 9 exact copies), so its work
    # grows with the planted duplicates, not the corpus — the property
    # the candidate-volume table at the top already isolates.
    expo1_rows = []
    for name in [q for q in HEADLINE_SCALING if q != "dedup_minhash_lsh"]:
        t_small = sum(time_query(spark, qs[name], sf_dirs["sf0.1"]))
        t_big = sum(time_query(spark, qs[name], rep_dir))
        expo1_rows.append(
            (
                name,
                round(t_small, 2),
                round(t_big, 2),
                round(t_big / t_small, 2),
                round(math.log10(max(t_big / t_small, 1e-9)), 2),
            )
        )
    # dedup on the replica: candidates per doc-clique are C(10,2)-bounded
    t0 = time.perf_counter()
    dedup_out = qs["dedup_minhash_lsh"](spark, rep_dir)
    dedup_out.write.format("noop").mode("overwrite").save()
    dedup_sf1_secs = round(time.perf_counter() - t0, 2)
    dedup_sf1_pairs = dedup_out.count()

    # ------------------------------------------------------------------
    # Semantic-dedup chain end-to-end on the replica: embedding-cosine
    # pair finding -> connected-component clustering -> survivorship
    # report. Embeddings (like documents) replicate with IDENTICAL
    # vectors/text, so each item gains 9 planted twins: near-dup density
    # multiplies while the corpus 10x-es — the adversarial case for any
    # pair-materializing plan. Work counts (output rows) are reported
    # next to wall so density growth is visible separately from row
    # growth.
    def _wall_and_count(name: str, sf_dir: str) -> tuple[float, int]:
        # ONE execution per (stage, SF): time build + the full noop write
        # (the same build-inclusive wall time_query measures — several stages do
        # driver-loop work at BUILD time), then count from the persisted
        # cache instead of a second full run (these are the heaviest
        # queries in the probe — a re-execution doubles them)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        df.persist()
        try:
            df.write.format("noop").mode("overwrite").save()
            secs = time.perf_counter() - t0
            return secs, df.count()
        finally:
            df.unpersist()

    chain_rows = []
    for name in [
        "dedup_embedding_cosine",
        "dedup_clusters",
        "dedup_survivorship_report",
        "graph_cc_bigstar",
    ]:
        t_small, n_small = _wall_and_count(name, "/root/testdata/sf0.1")
        t_big, n_big = _wall_and_count(name, rep_dir)
        chain_rows.append(
            (
                name,
                round(t_small, 2),
                n_small,
                round(t_big, 2),
                n_big,
                round(t_big / t_small, 2),
                round(math.log10(max(t_big / t_small, 1e-9)), 2),
            )
        )

    def _graph_counts(sf_dir: str, min_support: int):
        li = table(spark, sf_dir, "lineitem")
        arr = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
        pairs = (
            arr.select(
                F.explode(
                    F.flatten(
                        F.transform(
                            F.col("ps"),
                            lambda x, i: F.transform(
                                F.slice(F.col("ps"), i + 2, F.size("ps")),
                                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                            ),
                        )
                    )
                ).alias("p")
            )
            .select("p.pa", "p.pb")
            .groupBy("pa", "pb")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        t0 = time.perf_counter()
        edges = pairs.filter(F.col("support") >= min_support).select("pa", "pb")
        edges = edges.persist()
        n_edges = edges.count()
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        wedges = e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        n_wedges = wedges.count()
        tri = wedges.join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa")) & (F.col("e3.pb") == F.col("e2.pb")),
        )
        n_tri = tri.count()
        secs = time.perf_counter() - t0
        edges.unpersist()
        return n_edges, n_wedges, n_tri, round(secs, 2)

    # Support-densification variant: order keys shift but PART keys do
    # not, so every copy re-hits the same part pairs and support grows
    # 10x — the scenario where an absolute threshold densifies the graph.
    # (The consistent replica above shifts part keys too, keeping support
    # flat — that measures pure row-count scaling instead.)
    dense_dir = rep_dir + "_dense"
    orders_shift = key_shifts(spark)["orders"]
    li01 = table(spark, "/root/testdata/sf0.1", "lineitem")
    (
        li01.crossJoin(spark.range(REPS).select(F.col("id").alias("rep")))
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * orders_shift)
        .drop("rep")
        .write.mode("overwrite")
        .parquet(os.path.join(dense_dir, "lineitem.parquet"))
    )
    g_small = _graph_counts("/root/testdata/sf0.1", 2)
    g_abs = _graph_counts(dense_dir, 2)  # absolute threshold: densifies
    g_scaled = _graph_counts(dense_dir, 20)  # threshold scaled with data

    lines += [
        "",
        "## Headline-operator scaling, real generator data (sf0.01 -> sf0.1, 10x)",
        "",
        "`exponent` = log10(wall ratio) across a true 10x data step: 1.0 is",
        "linear, 2.0 quadratic. Fixed per-job overhead inflates the small-SF",
        "denominator, so these are conservative (the asymptotic slope is",
        "LOWER than measured once overhead amortizes).",
        "",
        "| query | sf0.01 s | sf0.1 s | ratio | exponent |",
        "|---|---|---|---|---|",
    ]
    for r in expo_rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    lines += [
        "",
        "Every headline exponent is at or below ~1 (ratio <= 10 on 10x data):",
        "the one-shuffle aggregation/join shapes, the basket pair expansion",
        "(quadratic in BASKET SIZE, which does not grow with the corpus),",
        "and the bucketed LSH all scale linearly in rows at these sizes.",
        "",
        "## Headline-operator scaling, consistent sf1 replica (sf0.1 -> sf1, 10x)",
        "",
        "A second 10x step ABOVE sf0.1, where fixed overhead no longer",
        "dominates: every table replicated 10x with CONSISTENT foreign-key",
        "shifts (each copy a disjoint keyspace, all join relationships",
        "intact — facts AND dims grow, as TPC-H itself scales; lineitem",
        "6M rows).",
        "",
        "| query | sf0.1 s | sf1 s | ratio | exponent |",
        "|---|---|---|---|---|",
    ]
    for r in expo1_rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    lines += [
        "",
        "`dedup_minhash_lsh` is reported separately because text replication",
        "multiplies duplicate DENSITY (every document gains 9 exact copies,",
        "so the verified pair set itself grows ~45x per clique): "
        f"{dedup_sf1_secs} s wall, {dedup_sf1_pairs} verified pairs at sf1 —",
        "candidate work tracks the duplicates actually planted, which is the",
        "designed behavior (the bucket cap bounds the worst clique).",
        "",
        "## Semantic-dedup chain at replicated sf1 (pairs -> clusters -> survivorship)",
        "",
        "The embedding-cosine scale path run END-TO-END on the same",
        "replica. Replication plants 9 identical twins per vector/doc, so",
        "near-dup DENSITY multiplies while rows 10x — the adversarial",
        "case for pair-materializing plans. Output rows sit next to wall",
        "so density growth reads separately from row growth: the pair",
        "stage's work tracks the planted duplicates (each 10-clique",
        "contributes C(10,2)-bounded, bucket-capped candidates), while the",
        "cluster/survivorship stages stay row-linear (labels and per-source",
        "rollups, never pairs). graph_cc_bigstar rides along as the",
        "shuffle-only clustering alternative on the same pair graph.",
        "",
        "| stage | sf0.1 s | sf0.1 rows | sf1 s | sf1 rows | ratio | exponent |",
        "|---|---|---|---|---|---|---|",
    ] + [
        "| " + " | ".join(str(x) for x in r) + " |" for r in chain_rows
    ] + [
        "",
        "Anything super-linear here is the density effect, not the plan:",
        "wall ratios above 10 on this step track the verified-pair/cluster",
        "row growth in the adjacent columns (planted twins), and the",
        "bucket/row caps (EMB_BUCKET_CAP, LSH mega-bucket cap) bound the",
        "worst clique's contribution — on a real corpus, where duplicate",
        "density is roughly scale-free, the same plans track rows.",
        "",
        "## Wedge-join trio at replicated sf1 (10x sf0.1 lineitem, 6M rows)",
        "",
        "Ten disjoint-order-key copies of sf0.1 lineitem. Replication keeps",
        "basket sizes identical but multiplies every pair's support by 10,",
        "so the ABSOLUTE threshold (>= 2) now admits pairs that co-occurred",
        "once — the graph densifies and wedge work grows super-linearly.",
        "Scaling the threshold with the data (>= 20) restores the sf0.1",
        "graph exactly, 10x over — work per row is flat:",
        "",
        "| dataset | support >= | edges | wedges | triangles | wall s |",
        "|---|---|---|---|---|---|",
        f"| sf0.1 | 2 | {g_small[0]} | {g_small[1]} | {g_small[2]} | {g_small[3]} |",
        f"| sf1-replica | 2 (absolute) | {g_abs[0]} | {g_abs[1]} | {g_abs[2]} | {g_abs[3]} |",
        f"| sf1-replica | 20 (scaled) | {g_scaled[0]} | {g_scaled[1]} | {g_scaled[2]} | {g_scaled[3]} |",
        "",
        "Operational rule this pins down: `MIN_SUPPORT` is a DENSITY dial,",
        "not a constant — hold support/corpus-size roughly fixed as data",
        "grows (like the LSH bucket cap) and the wedge join's work per input",
        "row stays constant; the size-gated broadcast on the pruned edge",
        "relation declines automatically once edges outgrow the threshold.",
    ]
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
    )
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"SCALING.md written ({len(rows)} SFs + headline exponents)")
    spark.stop()


if __name__ == "__main__":
    main()
