"""Round-12 bank, second tranche: classifier-evaluation completions
(PR-AUC, KS separation, calibration error), variance-homogeneity and
agreement statistics, rank-concordance and records/trend tests,
change-point homogeneity (Buishand/SNHT/KPSS), inequality measures
(Atkinson, Palma, Lorenz asymmetry), spatial/graph autocorrelation
(Moran/Geary, rich-club), intermittent-demand TSB, restricted mean
survival time, and cross-document n-gram novelty.

Registered through ``registry._load_all`` like every operator module.

Reference provenance: like pipeline7-16, none of these operators exist in
the reference's Go core (a MongoDB change-stream -> NATS connector,
/root/reference/internal/server/connector.go) — they extend the
engine-side analytics surface documented in SURVEY.md §2.3/§2.4
downstream of the connector's change streams.

Cross-engine determinism rules (the pipeline11-16 discipline):
- exact integers end-to-end on the hash surface; cumulative masses over
  value DOMAINS (never row-proportional rank windows);
- any total that can cross 2^53 stays DECIMAL(38,0)/HUGEINT and
  floor-divides (`div` / ``//``) to a sub-2^53 integer before the ONE
  double conversion;
- integer `div` (Spark) and `//` (DuckDB) BOTH truncate toward zero on
  negatives (-7//2 = -3 in DuckDB; only Python's // floors), so signed
  divisions match across engines — the sign-split/abs discipline used
  in most operators here is belt-and-suspenders, not a correctness
  requirement;
- no exp/ln/pow/round-of-float anywhere on the hash surface; +,-,*,/,
  sqrt are IEEE-correctly-rounded and bit-portable in fixed operand
  order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# ---------------------------------------------------------------------------
# agg_pr_auc — average precision (step-interpolated PR-AUC)
# ---------------------------------------------------------------------------


@register(
    "agg_pr_auc",
    oracle="""
    WITH b AS (
      SELECT (CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)
               // 100000 AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ),
    cells AS (
      SELECT s, CAST(sum(pos) AS BIGINT) AS n1,
             CAST(count(*) - sum(pos) AS BIGINT) AS n0
      FROM b GROUP BY s
    ),
    cum AS (
      SELECT s, n1,
             sum(n1) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(n1 + n0) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pred
      FROM cells
    ),
    acc AS (
      SELECT CAST(sum((CAST(n1 AS HUGEINT) * tp * 1000000000000) // pred)
                  AS HUGEINT) AS ap_num,
             CAST(sum(n1) AS BIGINT) AS p,
             CAST(count(*) AS BIGINT) AS n_thresholds
      FROM cum WHERE n1 > 0
    )
    SELECT p AS positives,
           n_thresholds,
           CAST(ap_num // (p * 1000) AS BIGINT) AS ap_ppb,
           CAST(ap_num // (p * 1000) AS DOUBLE) / 1000000000.0
             AS average_precision
    FROM acc
    """,
    doc="Average precision (step-interpolated area under the precision-"
    "recall curve) for predicting returned lineitems from the price "
    "score — the rank metric that, unlike agg_roc_auc, does not reward "
    "a classifier for ranking easy negatives low when positives are "
    "rare (the class-imbalance standard in retrieval and LLM data "
    "quality filtering). AP = sum over positive-bearing thresholds of "
    "delta-recall * precision; on the ~105-value price-kilobucket "
    "DOMAIN each term is the exact rational n1*tp/(P*pred), quantized "
    "per-cell to picounits by ONE non-negative floor-division (both "
    "engines floor identically; error < 1e-12 per cell, bounded by "
    "1e-10 overall) and accumulated in HUGEINT/DECIMAL(38,0). Only "
    "cells that contain positives contribute (delta-recall = 0 "
    "elsewhere), matching the step interpolation exactly. One map-"
    "combined rollup, one bounded descending prefix window over the "
    "domain grid, a 1-row result.",
)
def agg_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)"
            " div 100000"
        ).alias("s"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("pos"),
    )
    cells = b.groupBy("s").agg(
        F.sum("pos").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("bigint").alias("n0"),
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "s",
        "n1",
        F.sum("n1").over(w).alias("tp"),
        F.sum(F.col("n1") + F.col("n0")).over(w).alias("pred"),
    )
    acc = cum.filter(F.col("n1") > 0).agg(
        _dsum(
            F.expr(
                "(CAST(n1 AS DECIMAL(38,0)) * tp * 1000000000000) div pred"
            )
        ).alias("ap_num"),
        F.sum("n1").cast("bigint").alias("p"),
        F.count(F.lit(1)).cast("bigint").alias("n_thresholds"),
    )
    return acc.select(
        F.col("p").alias("positives"),
        "n_thresholds",
        F.expr("CAST(ap_num div (p * 1000) AS BIGINT)").alias("ap_ppb"),
        (
            F.expr("CAST(ap_num div (p * 1000) AS BIGINT)").cast("double")
            / F.lit(1000000000.0)
        ).alias("average_precision"),
    )


# ---------------------------------------------------------------------------
# agg_ks_separation — Kolmogorov-Smirnov score-separation statistic
# ---------------------------------------------------------------------------


@register(
    "agg_ks_separation",
    oracle="""
    WITH b AS (
      SELECT (CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)
               // 100000 AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ),
    cells AS (
      SELECT s, CAST(sum(pos) AS BIGINT) AS n1,
             CAST(count(*) - sum(pos) AS BIGINT) AS n0
      FROM b GROUP BY s
    ),
    tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS p, CAST(sum(n0) AS BIGINT) AS q
      FROM cells
    ),
    cum AS (
      SELECT s,
             sum(n1) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             sum(n0) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c0
      FROM cells
    ),
    d AS (
      SELECT s,
             abs(CAST(t.q AS HUGEINT) * c1 - CAST(t.p AS HUGEINT) * c0)
               AS dev,
             t.p AS p, t.q AS q
      FROM cum CROSS JOIN tot t
    )
    SELECT s AS threshold_bucket, p AS positives, q AS negatives,
           CAST(dev AS BIGINT) AS ks_scaled,
           CAST(dev AS DOUBLE)
             / (CAST(p AS DOUBLE) * CAST(q AS DOUBLE)) AS ks_stat
    FROM d ORDER BY dev DESC, s ASC LIMIT 1
    """,
    doc="Two-sample Kolmogorov-Smirnov separation of the price score "
    "between returned and kept lineitems, reported WITH the maximizing "
    "threshold — the credit-scoring 'KS statistic' that complements "
    "agg_roc_auc (integral quality) and agg_youden_threshold (additive "
    "cut): KS is the sup-norm ECDF gap and its argmax is the natural "
    "cutoff when costs are proportional to class priors. On the "
    "~105-value price-kilobucket domain the deviation Q*cum1 - P*cum0 "
    "= P*Q*(F1 - F0) is an exact integer (HUGEINT/DECIMAL-widened "
    "cross-multiplication); the winner is decided on integers with "
    "ties broken to the LOWEST bucket, and the display statistic is "
    "one fixed IEEE division on the winning row. One rollup, one "
    "bounded prefix window, TakeOrdered(1).",
)
def agg_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)"
            " div 100000"
        ).alias("s"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("pos"),
    )
    cells = b.groupBy("s").agg(
        F.sum("pos").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("bigint").alias("n0"),
    )
    tot = cells.agg(
        F.sum("n1").cast("bigint").alias("p"),
        F.sum("n0").cast("bigint").alias("q"),
    )
    w = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "s",
        F.sum("n1").over(w).alias("c1"),
        F.sum("n0").over(w).alias("c0"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "s",
        "p",
        "q",
        F.expr(
            "abs(CAST(q AS DECIMAL(38,0)) * c1"
            " - CAST(p AS DECIMAL(38,0)) * c0)"
        ).alias("dev"),
    )
    return (
        d.orderBy(F.col("dev").desc(), F.col("s").asc())
        .limit(1)
        .select(
            F.col("s").alias("threshold_bucket"),
            F.col("p").alias("positives"),
            F.col("q").alias("negatives"),
            F.col("dev").cast("bigint").alias("ks_scaled"),
            (
                F.col("dev").cast("double")
                / (F.col("p").cast("double") * F.col("q").cast("double"))
            ).alias("ks_stat"),
        )
    )


# ---------------------------------------------------------------------------
# agg_expected_calibration_error — ECE + MCE on the tenths grid
# ---------------------------------------------------------------------------


@register(
    "agg_expected_calibration_error",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS p10,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    cells AS (
      SELECT p10, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS o
      FROM b GROUP BY p10
    ),
    dev AS (
      SELECT p10, n, o,
             abs(10 * o - n * p10) AS adev,
             (1000000000 * CAST(abs(10 * o - n * p10) AS HUGEINT))
               // (10 * n) AS cell_ppb
      FROM cells
    )
    SELECT CAST(sum(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST((1000000000 * CAST(sum(CAST(adev AS HUGEINT)) AS HUGEINT))
                // (10 * sum(n)) AS BIGINT) AS ece_ppb,
           CAST(max(cell_ppb) AS BIGINT) AS mce_ppb
    FROM dev
    """,
    doc="Expected and maximum calibration error of the discount-as-"
    "return-probability forecast on its native tenths grid — the "
    "reliability summary that complements agg_brier_score (which mixes "
    "calibration with refinement) and agg_hosmer_lemeshow (which "
    "chi-squares the same table): ECE = sum_cells (n_c/N)|obs_c - "
    "p_c|, MCE = max_cells |obs_c - p_c|. Each cell deviation "
    "|obs - p| = |10*O - n*p10|/(10n) is an exact integer ratio: the "
    "ECE numerator sum(n_c * dev_c) telescopes to the exact integer "
    "sum|10 O - n p10| (the n_c cancels), one non-negative floor-"
    "division lands ppb; MCE takes the max of per-cell ppb quantized "
    "by the same floor rule in both engines. One map-side rollup over "
    "the 11-cell grid; no windows, no joins.",
)
def agg_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("p10"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    cells = b.groupBy("p10").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("o"),
    )
    dev = cells.select(
        "n",
        F.expr("abs(10 * o - n * p10)").alias("adev"),
        F.expr(
            "(1000000000 * CAST(abs(10 * o - n * p10) AS DECIMAL(38,0)))"
            " div (10 * n)"
        )
        .cast("bigint")
        .alias("cell_ppb"),
    )
    return dev.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.expr(
            "CAST((1000000000 * CAST(sum(CAST(adev AS DECIMAL(38,0))) AS"
            " DECIMAL(38,0))) div (10 * sum(n)) AS BIGINT)"
        ).alias("ece_ppb"),
        F.max("cell_ppb").cast("bigint").alias("mce_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_cochran_hartley — variance-homogeneity ratios across priorities
# ---------------------------------------------------------------------------


@register(
    "agg_cochran_hartley",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM b GROUP BY grp
    ),
    v AS (
      SELECT grp, n,
             CAST((n * sxx - sx * sx) // (n * (n - 1)) AS BIGINT) AS s2
      FROM g WHERE n >= 2
    )
    SELECT CAST(count(*) AS BIGINT) AS k_groups,
           CAST(min(n) AS BIGINT) AS min_n,
           CAST(max(s2) AS BIGINT) AS max_var_cents2,
           CAST(min(s2) AS BIGINT) AS min_var_cents2,
           CAST((1000000000 * CAST(max(s2) AS HUGEINT))
                // sum(CAST(s2 AS HUGEINT)) AS BIGINT) AS cochran_c_ppb,
           CAST((1000000 * CAST(max(s2) AS HUGEINT))
                // greatest(min(s2), 1) AS BIGINT) AS hartley_fmax_ppm
    FROM v
    """,
    doc="Cochran's C (max variance / summed variance) and Hartley's "
    "F_max (max variance / min variance) across the 5 order-priority "
    "groups on order totals — the quick variance-homogeneity screens "
    "that gate classical ANOVA (agg_oneway_anova assumes equal "
    "variances; agg_welch_anova is the escape hatch these statistics "
    "justify). Unlike Bartlett's test, C and F_max need NO logarithm, "
    "so the whole surface stays exact: per-group sample variances come "
    "from integer cent moments as (n*Sxx - Sx^2) div (n(n-1)) (exact "
    "to < 1 cent^2, HUGEINT/DECIMAL-widened), and each ratio is one "
    "non-negative floor-division to ppb/ppm. One map-side rollup over "
    "5 groups + a 5-row scalar aggregate; no windows, no joins.",
)
def agg_cochran_hartley(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
    )
    g = b.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    v = g.filter(F.col("n") >= 2).select(
        "n",
        F.expr(
            "CAST((n * sxx - sx * sx) div (n * (n - 1)) AS BIGINT)"
        ).alias("s2"),
    )
    return v.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.min("n").cast("bigint").alias("min_n"),
        F.max("s2").cast("bigint").alias("max_var_cents2"),
        F.min("s2").cast("bigint").alias("min_var_cents2"),
        F.expr(
            "CAST((1000000000 * CAST(max(s2) AS DECIMAL(38,0)))"
            " div sum(CAST(s2 AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("cochran_c_ppb"),
        F.expr(
            "CAST((1000000 * CAST(max(s2) AS DECIMAL(38,0)))"
            " div greatest(min(s2), 1) AS BIGINT)"
        ).alias("hartley_fmax_ppm"),
    )


# ---------------------------------------------------------------------------
# agg_gwet_ac1 — chance-robust multi-rater agreement (Fleiss frame)
# ---------------------------------------------------------------------------


@register(
    "agg_gwet_ac1",
    oracle="""
    WITH r AS (
      SELECT l_orderkey,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nr,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na,
             CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nn_
      FROM lineitem GROUP BY l_orderkey
    ),
    f AS (SELECT * FROM r WHERE m = 4),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS i,
             CAST(sum(nr * (nr - 1) + na * (na - 1) + nn_ * (nn_ - 1))
                  AS BIGINT) AS a,
             CAST(sum(nr) AS BIGINT) AS tr,
             CAST(sum(na) AS BIGINT) AS ta,
             CAST(sum(nn_) AS BIGINT) AS tn
      FROM f
    ),
    k AS (
      SELECT i, a,
             CAST(tr AS HUGEINT) * (4 * i - tr)
               + CAST(ta AS HUGEINT) * (4 * i - ta)
               + CAST(tn AS HUGEINT) * (4 * i - tn) AS b
      FROM s
    ),
    z AS (
      SELECT i, a, b,
             8 * CAST(i AS HUGEINT) * a - 3 * b AS num,
             greatest(96 * CAST(i AS HUGEINT) * i - 3 * b, 1) AS den
      FROM k
    )
    SELECT i AS n_items, CAST(4 AS BIGINT) AS n_raters,
           CAST((1000000000 * CAST(a AS HUGEINT)) // (12 * i) AS BIGINT)
             AS p_obs_ppb,
           CAST((1000000000 * b) // (32 * CAST(i AS HUGEINT) * i)
                AS BIGINT) AS p_exp_ppb,
           CAST(CASE WHEN num >= 0
                THEN (1000000000 * num) // den
                ELSE -((1000000000 * -num) // den) END AS BIGINT)
             AS ac1_ppb
    FROM z
    """,
    doc="Gwet's AC1 chance-robust agreement over orders with EXACTLY 4 "
    "lineitems (return flag as 4 raters x 3 categories — the "
    "agg_fleiss_kappa frame): AC1 replaces kappa's chance term with "
    "P_e = (1/(Q-1)) sum_q pi_q (1 - pi_q), which stays stable when "
    "category prevalence is extreme — the documented 'kappa paradox' "
    "fix used to audit crowd/ensemble label quality where one class "
    "dominates (exactly the regime of return flags). With I items, A "
    "= sum of n(n-1) cell agreements and B = sum_q T_q(4I - T_q), the "
    "statistic collapses to the exact integer ratio (8IA - 3B) / "
    "(96I^2 - 3B): sign-split non-negative floor-divisions emit ppb "
    "(observed and expected agreement alongside). One orderkey-keyed "
    "aggregation + one scalar rollup; no windows, no joins.",
)
def agg_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    r = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("nr"),
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
        .cast("bigint")
        .alias("nn_"),
    )
    s = r.filter(F.col("m") == 4).agg(
        F.count(F.lit(1)).cast("bigint").alias("i"),
        F.sum(
            F.expr("nr * (nr - 1) + na * (na - 1) + nn_ * (nn_ - 1)")
        )
        .cast("bigint")
        .alias("a"),
        F.sum("nr").cast("bigint").alias("tr"),
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nn_").cast("bigint").alias("tn"),
    )
    k = s.select(
        "i",
        "a",
        F.expr(
            "CAST(tr AS DECIMAL(38,0)) * (4 * i - tr)"
            " + CAST(ta AS DECIMAL(38,0)) * (4 * i - ta)"
            " + CAST(tn AS DECIMAL(38,0)) * (4 * i - tn)"
        ).alias("b"),
    )
    z = k.select(
        "i",
        "a",
        "b",
        F.expr("8 * CAST(i AS DECIMAL(38,0)) * a - 3 * b").alias("num"),
        F.expr(
            "greatest(96 * CAST(i AS DECIMAL(38,0)) * i - 3 * b, 1)"
        ).alias("den"),
    )
    return z.select(
        F.col("i").alias("n_items"),
        F.lit(4).cast("bigint").alias("n_raters"),
        F.expr(
            "CAST((1000000000 * CAST(a AS DECIMAL(38,0))) div (12 * i)"
            " AS BIGINT)"
        ).alias("p_obs_ppb"),
        F.expr(
            "CAST((1000000000 * b) div (32 * CAST(i AS DECIMAL(38,0)) * i)"
            " AS BIGINT)"
        ).alias("p_exp_ppb"),
        F.expr(
            "CAST(CASE WHEN num >= 0"
            " THEN (1000000000 * num) div den"
            " ELSE -((1000000000 * -num) div den) END AS BIGINT)"
        ).alias("ac1_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_kendall_w — Kendall's coefficient of concordance (years x months)
# ---------------------------------------------------------------------------


@register(
    "agg_kendall_w",
    oracle="""
    WITH m AS (
      SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
             CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS mo,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS v
      FROM lineitem WHERE l_shipdate IS NOT NULL
      GROUP BY 1, 2
    ),
    yrs AS (
      SELECT yr FROM m GROUP BY yr HAVING count(*) = 12
    ),
    f AS (SELECT m.* FROM m JOIN yrs USING (yr)),
    ranked AS (
      SELECT yr, mo,
             2 * (SELECT count(*) FROM f b
                  WHERE b.yr = f.yr AND b.v < f.v)
               + (SELECT count(*) FROM f b
                  WHERE b.yr = f.yr AND b.v = f.v) + 1 AS r2
      FROM f
    ),
    ties AS (
      SELECT yr, CAST(sum(c * c * c - c) AS BIGINT) AS t
      FROM (SELECT yr, v, CAST(count(*) AS BIGINT) AS c
            FROM f GROUP BY yr, v) GROUP BY yr
    ),
    rsum AS (
      SELECT mo, CAST(sum(r2) AS BIGINT) AS r2sum,
             (SELECT CAST(count(*) AS BIGINT) FROM yrs) AS m_blk
      FROM ranked GROUP BY mo
    ),
    s AS (
      SELECT CAST(max(m_blk) AS BIGINT) AS m_blk,
             CAST(sum(CAST((r2sum - m_blk * 13) AS HUGEINT)
                      * (r2sum - m_blk * 13)) AS HUGEINT) AS s4
      FROM rsum
    ),
    tt AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS tsum FROM ties)
    SELECT s.m_blk AS n_blocks, CAST(12 AS BIGINT) AS n_items,
           CAST(s4 // 4 AS BIGINT) AS s_exact,
           CAST((1000000000 * (12 * s4))
                // greatest(CAST(s.m_blk AS HUGEINT) * s.m_blk * 6864
                            - 4 * s.m_blk * tt.tsum, 1) AS BIGINT)
             AS w_ppb,
           CAST(((s.m_blk * 11) * ((1000000000 * (12 * s4))
                // greatest(CAST(s.m_blk AS HUGEINT) * s.m_blk * 6864
                            - 4 * s.m_blk * tt.tsum, 1))) AS DOUBLE)
             / 1000000000.0 AS chi2_approx
    FROM s, tt
    """,
    doc="Kendall's coefficient of concordance W across complete ship-"
    "years: do the 12 months keep the SAME volume ranking year after "
    "year? W is the multi-judge agreement on ORDERINGS (blocks = "
    "years as judges, items = months), the effect size behind "
    "agg_friedman_test and the seasonal-stability readout next to "
    "orders_seasonality_strength (which measures amplitude, not rank "
    "agreement). Within-year DOUBLED midranks 2m = 2*lo + c + 1 come "
    "from bounded 12-cell per-year count subqueries (Spark: one "
    "partitioned 12-row window per year — never a global sort); S' = "
    "sum_j (R'_j - m*13)^2 is 4S exactly, and the tie-corrected "
    "denominator m^2(n^3-n) - m*sumT with n=12 gives W = 12S/(1716 m^2 "
    "- m sumT) = 12*S' / (6864 m^2 - 4 m sumT) (numerator 12*S' "
    "because BOTH S'=4S and the doubled denominator carry a factor "
    "4) as ONE exact integer ratio -> ppb floor-"
    "division (chi2 = m(n-1)W displayed from the same integer). All "
    "relations after the month rollup are <= 12*years rows.",
)
def agg_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    m = li.groupBy(
        F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("yr"),
        F.month(F.col("l_shipdate").cast("date")).cast("bigint").alias("mo"),
    ).agg(F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("v"))
    yrs = m.groupBy("yr").agg(F.count(F.lit(1)).alias("nmo")).filter(
        F.col("nmo") == 12
    )
    f = m.join(yrs.select("yr"), "yr")
    w_lo = (
        Window.partitionBy("yr")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cells = f.groupBy("yr", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.collect_list("mo").alias("mos"),
    )
    pos = cells.select(
        "yr",
        "c",
        "mos",
        (
            2 * F.coalesce(F.sum("c").over(w_lo), F.lit(0))
            + F.col("c")
            + F.lit(1)
        ).alias("r2"),
    )
    ranked = pos.select("yr", "r2", F.explode("mos").alias("mo"))
    ties = (
        cells.groupBy("yr")
        .agg(
            F.sum(F.expr("c * c * c - c")).cast("bigint").alias("t")
        )
    )
    mblk = yrs.agg(F.count(F.lit(1)).cast("bigint").alias("m_blk"))
    rsum = (
        ranked.groupBy("mo")
        .agg(F.sum("r2").cast("bigint").alias("r2sum"))
        .crossJoin(F.broadcast(mblk))
    )
    s = rsum.agg(
        F.max("m_blk").cast("bigint").alias("m_blk"),
        _dsum(
            F.expr(
                "CAST((r2sum - m_blk * 13) AS DECIMAL(38,0))"
                " * (r2sum - m_blk * 13)"
            )
        ).alias("s4"),
    )
    tt = ties.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("tsum")
    )
    z = s.crossJoin(F.broadcast(tt))
    return z.select(
        F.col("m_blk").alias("n_blocks"),
        F.lit(12).cast("bigint").alias("n_items"),
        F.expr("CAST(s4 div 4 AS BIGINT)").alias("s_exact"),
        F.expr(
            "CAST((1000000000 * (12 * s4))"
            " div greatest(CAST(m_blk AS DECIMAL(38,0)) * m_blk * 6864"
            " - 4 * m_blk * tsum, 1) AS BIGINT)"
        ).alias("w_ppb"),
        F.expr(
            "CAST(((m_blk * 11) * ((1000000000 * (12 * s4))"
            " div greatest(CAST(m_blk AS DECIMAL(38,0)) * m_blk * 6864"
            " - 4 * m_blk * tsum, 1))) AS DOUBLE) / 1000000000.0"
        ).alias("chi2_approx"),
    )


# ---------------------------------------------------------------------------
# agg_krippendorff_alpha — nominal inter-rater reliability (Fleiss frame)
# ---------------------------------------------------------------------------


@register(
    "agg_krippendorff_alpha",
    oracle="""
    WITH r AS (
      SELECT l_orderkey,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nr,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS BIGINT) AS na,
             CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nn_
      FROM lineitem GROUP BY l_orderkey
    ),
    f AS (SELECT * FROM r WHERE m = 4),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS i,
             CAST(sum(nr * nr + na * na + nn_ * nn_) AS BIGINT) AS sa,
             CAST(sum(nr) AS BIGINT) AS tr,
             CAST(sum(na) AS BIGINT) AS ta,
             CAST(sum(nn_) AS BIGINT) AS tn
      FROM f
    ),
    k AS (
      SELECT i, sa,
             CAST(tr AS HUGEINT) * tr + CAST(ta AS HUGEINT) * ta
               + CAST(tn AS HUGEINT) * tn AS sb
      FROM s
    ),
    z AS (
      SELECT i, sa, sb,
             CAST(16 * CAST(i AS HUGEINT) * i - sb AS HUGEINT) AS de3,
             CAST((16 * i - sa) AS HUGEINT) * (4 * i - 1) AS do3
      FROM k
    )
    SELECT i AS n_items, CAST(4 AS BIGINT) AS n_raters,
           CAST(16 * i - sa AS BIGINT) AS disagree_num,
           CAST(CASE WHEN 3 * de3 - do3 >= 0
                THEN (1000000000 * (3 * de3 - do3)) // greatest(3 * de3, 1)
                ELSE -((1000000000 * (do3 - 3 * de3))
                       // greatest(3 * de3, 1)) END AS BIGINT)
             AS alpha_ppb
    FROM z
    """,
    doc="Krippendorff's alpha (nominal metric) over the agg_fleiss_kappa "
    "frame (orders with exactly 4 lineitems, return flag as 4 raters x "
    "3 categories) — the reliability index content-analysis "
    "methodology prefers over kappa because its expected disagreement "
    "conditions on the OBSERVED value totals without assuming rater "
    "exchangeability: alpha = 1 - D_o/D_e with D_o = (16I - SA)/3 per "
    "the coincidence-matrix construction (m_u - 1 = 3 pairable "
    "companions per value) and D_e = (16I^2 - SB)/(4I - 1). The whole "
    "statistic collapses to alpha = 1 - (16I - SA)(4I - 1) / "
    "(3(16I^2 - SB)) — exact integers, sign-split ppb floor-division. "
    "Completes the agreement triptych (Fleiss = chance-corrected, "
    "Gwet = prevalence-robust, Krippendorff = sampling-corrected). "
    "One orderkey-keyed aggregation + one scalar rollup.",
)
def agg_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    r = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("nr"),
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0))
        .cast("bigint")
        .alias("nn_"),
    )
    s = r.filter(F.col("m") == 4).agg(
        F.count(F.lit(1)).cast("bigint").alias("i"),
        F.sum(F.expr("nr * nr + na * na + nn_ * nn_"))
        .cast("bigint")
        .alias("sa"),
        F.sum("nr").cast("bigint").alias("tr"),
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nn_").cast("bigint").alias("tn"),
    )
    k = s.select(
        "i",
        "sa",
        F.expr(
            "CAST(tr AS DECIMAL(38,0)) * tr + CAST(ta AS DECIMAL(38,0)) * ta"
            " + CAST(tn AS DECIMAL(38,0)) * tn"
        ).alias("sb"),
    )
    z = k.select(
        "i",
        "sa",
        F.expr("16 * CAST(i AS DECIMAL(38,0)) * i - sb").alias("de3"),
        F.expr(
            "CAST((16 * i - sa) AS DECIMAL(38,0)) * (4 * i - 1)"
        ).alias("do3"),
    )
    return z.select(
        F.col("i").alias("n_items"),
        F.lit(4).cast("bigint").alias("n_raters"),
        F.expr("CAST(16 * i - sa AS BIGINT)").alias("disagree_num"),
        F.expr(
            "CAST(CASE WHEN 3 * de3 - do3 >= 0"
            " THEN (1000000000 * (3 * de3 - do3)) div greatest(3 * de3, 1)"
            " ELSE -((1000000000 * (do3 - 3 * de3))"
            " div greatest(3 * de3, 1)) END AS BIGINT)"
        ).alias("alpha_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_conover_squared_ranks — squared-rank dispersion test (price domain)
# ---------------------------------------------------------------------------


@register(
    "agg_conover_squared_ranks",
    oracle="""
    WITH b AS (
      SELECT (CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)
               // 100000 AS x,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    gs AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s
      FROM b GROUP BY g
    ),
    sc AS (
      SELECT max(CASE WHEN g = 1 THEN n END) AS n1,
             max(CASE WHEN g = 1 THEN s END) AS s1,
             max(CASE WHEN g = 0 THEN n END) AS n0,
             max(CASE WHEN g = 0 THEN s END) AS s0
      FROM gs
    ),
    u AS (
      SELECT b.g,
             CASE WHEN b.g = 1
                  THEN sc.n0 * abs(sc.n1 * b.x - sc.s1)
                  ELSE sc.n1 * abs(sc.n0 * b.x - sc.s0) END AS v
      FROM b CROSS JOIN sc
    ),
    cells AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS c
      FROM u GROUP BY v
    ),
    pos AS (
      SELECT v, c1, c,
             2 * coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) + c + 1 AS a2
      FROM cells
    ),
    acc AS (
      SELECT CAST(sum(c) AS BIGINT) AS nn,
             CAST(sum(c1) AS BIGINT) AS n_t,
             CAST(sum(CAST(c1 AS HUGEINT) * a2 * a2) AS HUGEINT) AS t4,
             CAST(sum(CAST(c AS HUGEINT) * a2 * a2) AS HUGEINT) AS su,
             CAST(sum(CAST(c AS HUGEINT) * a2 * a2 * a2 * a2)
                  AS HUGEINT) AS su2
      FROM pos
    ),
    d AS (
      SELECT nn, n_t, t4, su,
             n_t * (nn - n_t) AS nm,
             CAST(t4 // 1000000000 AS BIGINT) AS s_giga,
             CAST(t4 % 1000000000 AS BIGINT) AS s_gfrac,
             CAST((CAST(n_t AS HUGEINT) * su)
                  // (CAST(nn AS HUGEINT) * 1000000000) AS BIGINT) AS mg,
             CAST(((CAST(n_t AS HUGEINT) * su)
                   % (CAST(nn AS HUGEINT) * 1000000000)) // nn
                  AS BIGINT) AS mu2,
             CAST(su // 1073741824 AS BIGINT) AS suq,
             CAST(su2 // 1152921504606846976 AS BIGINT) AS su2q
      FROM acc
    ),
    f AS (
      SELECT nn, n_t, nm, s_giga, s_gfrac, mg, mu2,
             greatest(CAST((nn * CAST(su2q AS HUGEINT)
                            - CAST(suq AS HUGEINT) * suq) // (nn - 1)
                           AS BIGINT), 1) AS a3
      FROM d
    )
    SELECT n_t AS n_treat,
           CAST(nn - n_t AS BIGINT) AS n_control,
           s_giga, s_gfrac,
           ((CAST(s_giga AS DOUBLE) * 1000000000.0
             + CAST(s_gfrac AS DOUBLE)
             - (CAST(mg AS DOUBLE) * 1000000000.0 + CAST(mu2 AS DOUBLE)))
            * CAST(nn AS DOUBLE))
           / (1073741824.0
              * sqrt(CAST(nm AS DOUBLE) * CAST(a3 AS DOUBLE))) AS z_score
    FROM f
    """,
    doc="Conover's squared-rank test for equal DISPERSION of returned vs "
    "kept line prices: score each pooled observation by the SQUARED "
    "rank of its absolute deviation from its own group mean — the "
    "rank test whose null does NOT require equal locations (Mood's "
    "agg_mood_scale assumes common medians; Conover centers per "
    "group first), the standard nonparametric Levene alternative. "
    "The deviations never touch floats: |x - mean_g| scales to the "
    "integer n_other*|n_g*x - S_g| (common n1*n0 scale across "
    "groups), whose ~100-cell price-kilobucket DOMAIN carries doubled "
    "midranks a2 = 2*lo + c + 1; the statistic sum of squared ranks, "
    "its exact permutation mean n1*SumA/N, and variance "
    "n1*n0*(N*SumA2 - SumA^2)/(N^2(N-1)) are integer aggregates with "
    "the agg_mood_scale reduction ladder (2^30/2^60/1e9 splits) "
    "before the one fixed-shape double z. SCALE BOUND (same as "
    "Mood): the quartic SumA2 ~ 16N^5 crosses DECIMAL(38,0) near "
    "N ~ 2e7 rows — both engines then fail loudly; the reduction "
    "literals are the SF-band dial. One domain-sized shuffle; "
    "bounded grid windows only.",
)
def agg_conover_squared_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)"
            " div 100000"
        ).alias("x"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("g"),
    )
    gs = b.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    sc = gs.agg(
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("g") == 0, F.col("s"))).alias("s0"),
    )
    u = b.crossJoin(F.broadcast(sc)).select(
        "g",
        F.expr(
            "CASE WHEN g = 1 THEN n0 * abs(n1 * x - s1)"
            " ELSE n1 * abs(n0 * x - s0) END"
        ).alias("v"),
    )
    cells = u.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    w_lo = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pos = cells.select(
        "c1",
        "c",
        (
            2 * F.coalesce(F.sum("c").over(w_lo), F.lit(0))
            + F.col("c")
            + F.lit(1)
        ).alias("a2"),
    )
    acc = pos.agg(
        F.sum("c").cast("bigint").alias("nn"),
        F.sum("c1").cast("bigint").alias("n_t"),
        _dsum(F.expr("CAST(c1 AS DECIMAL(38,0)) * a2 * a2")).alias("t4"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * a2 * a2")).alias("su"),
        _dsum(
            F.expr("CAST(c AS DECIMAL(38,0)) * a2 * a2 * a2 * a2")
        ).alias("su2"),
    )
    d = acc.select(
        "nn",
        "n_t",
        (F.col("n_t") * (F.col("nn") - F.col("n_t"))).alias("nm"),
        F.expr("CAST(t4 div 1000000000 AS BIGINT)").alias("s_giga"),
        F.expr("CAST(t4 % 1000000000 AS BIGINT)").alias("s_gfrac"),
        F.expr(
            "CAST((n_t * su) div (CAST(nn AS DECIMAL(38,0)) * 1000000000)"
            " AS BIGINT)"
        ).alias("mg"),
        F.expr(
            "CAST(((n_t * su) % (CAST(nn AS DECIMAL(38,0)) * 1000000000))"
            " div nn AS BIGINT)"
        ).alias("mu2"),
        F.expr("CAST(su div 1073741824 AS BIGINT)").alias("suq"),
        F.expr("CAST(su2 div 1152921504606846976 AS BIGINT)").alias("su2q"),
    )
    f = d.select(
        "nn",
        "n_t",
        "nm",
        "s_giga",
        "s_gfrac",
        "mg",
        "mu2",
        F.expr(
            "greatest(CAST((nn * CAST(su2q AS DECIMAL(38,0))"
            " - CAST(suq AS DECIMAL(38,0)) * suq) div (nn - 1)"
            " AS BIGINT), 1)"
        ).alias("a3"),
    )
    return f.select(
        F.col("n_t").alias("n_treat"),
        (F.col("nn") - F.col("n_t")).cast("bigint").alias("n_control"),
        "s_giga",
        "s_gfrac",
        F.expr(
            "((CAST(s_giga AS DOUBLE) * 1000000000.0"
            "  + CAST(s_gfrac AS DOUBLE)"
            "  - (CAST(mg AS DOUBLE) * 1000000000.0"
            "     + CAST(mu2 AS DOUBLE)))"
            " * CAST(nn AS DOUBLE))"
            " / (1073741824.0"
            "    * sqrt(CAST(nm AS DOUBLE) * CAST(a3 AS DOUBLE)))"
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# orders_cox_stuart — paired-halves trend test on daily revenue
# ---------------------------------------------------------------------------


@register(
    "orders_cox_stuart",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT rev, row_number() OVER (ORDER BY d) AS i,
             count(*) OVER () AS n
      FROM daily
    ),
    pairs AS (
      SELECT a.rev AS x, b.rev AS y
      FROM idx a JOIN idx b ON b.i = a.i + (a.n + 1) // 2
      WHERE a.i <= a.n - (a.n + 1) // 2
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT)
               AS plus,
             CAST(sum(CASE WHEN y < x THEN 1 ELSE 0 END) AS BIGINT)
               AS minus
      FROM pairs
    ),
    nd AS (SELECT CAST(max(n) AS BIGINT) AS n_days FROM idx)
    SELECT nd.n_days, s.plus + s.minus AS n_pairs, s.plus AS n_plus,
           s.minus AS n_minus,
           CASE WHEN abs(2 * s.plus - (s.plus + s.minus)) <= 1 THEN 0.0
                ELSE (CASE WHEN 2 * s.plus > s.plus + s.minus
                      THEN 1.0 ELSE -1.0 END)
                     * CAST(abs(2 * s.plus - (s.plus + s.minus)) - 1
                            AS DOUBLE)
                     / sqrt(CAST(s.plus + s.minus AS DOUBLE)) END AS z_cc
    FROM s, nd
    """,
    doc="Cox-Stuart trend test on daily order revenue: pair each day in "
    "the first half of the series with its opposite number half a "
    "series later and sign-test the differences — the assumption-free "
    "monotone-trend screen that reads ONLY signs (agg_mann_kendall "
    "reads all O(n^2) pair orientations; Cox-Stuart is its n/2-pair "
    "sibling, robust to any monotone transform of revenue). The "
    "daily rollup is exact integer cents; pairing is one equi-join "
    "of the ~2.4k-day grid on i + ceil(n/2) (hash join on a computed "
    "key, no theta join); plus/minus counts are integers; z carries "
    "the standard +-1 continuity correction via an explicit sign "
    "CASE so no negative ever meets a floor-division, and the "
    "statistic is one fixed IEEE expression. The two grid windows "
    "(row_number + count) are daily-grid-bounded.",
)
def orders_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    w_i = Window.orderBy("d")
    w_all = Window.partitionBy()
    idx = daily.select(
        "rev",
        F.row_number().over(w_i).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    a = idx.select(
        F.col("rev").alias("x"),
        (F.col("i") + F.expr("(n + 1) div 2")).alias("j"),
        F.col("i").alias("i"),
        F.col("n").alias("n"),
    ).filter(F.col("i") <= F.col("n") - F.expr("(n + 1) div 2"))
    bjoin = idx.select(F.col("rev").alias("y"), F.col("i").alias("j"))
    pairs = a.join(bjoin, "j")
    s = pairs.agg(
        F.sum(F.when(F.col("y") > F.col("x"), 1).otherwise(0))
        .cast("bigint")
        .alias("plus"),
        F.sum(F.when(F.col("y") < F.col("x"), 1).otherwise(0))
        .cast("bigint")
        .alias("minus"),
    )
    nd = idx.agg(F.max("n").cast("bigint").alias("n_days"))
    return s.crossJoin(F.broadcast(nd)).select(
        "n_days",
        (F.col("plus") + F.col("minus")).alias("n_pairs"),
        F.col("plus").alias("n_plus"),
        F.col("minus").alias("n_minus"),
        F.expr(
            "CASE WHEN abs(2 * plus - (plus + minus)) <= 1 THEN 0.0"
            " ELSE (CASE WHEN 2 * plus > plus + minus"
            " THEN 1.0 ELSE -1.0 END)"
            " * CAST(abs(2 * plus - (plus + minus)) - 1 AS DOUBLE)"
            " / sqrt(CAST(plus + minus AS DOUBLE)) END"
        ).alias("z_cc"),
    )


# ---------------------------------------------------------------------------
# orders_foster_stuart — records test on monthly revenue
# ---------------------------------------------------------------------------


@register(
    "orders_foster_stuart",
    oracle="""
    WITH mon AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT rev, row_number() OVER (ORDER BY mo) AS t,
             max(rev) OVER (ORDER BY mo ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING) AS prevmax,
             min(rev) OVER (ORDER BY mo ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING) AS prevmin
      FROM mon
    ),
    rec AS (
      SELECT t,
             CASE WHEN t > 1 AND rev > prevmax THEN 1 ELSE 0 END AS u,
             CASE WHEN t > 1 AND rev < prevmin THEN 1 ELSE 0 END AS l,
             CASE WHEN t > 1 THEN 2000000 // t ELSE 0 END AS h2_micro
      FROM seq
    ),
    s AS (
      SELECT CAST(max(t) AS BIGINT) AS n_months,
             CAST(sum(u) AS BIGINT) AS n_upper,
             CAST(sum(l) AS BIGINT) AS n_lower,
             CAST(sum(h2_micro) AS BIGINT) AS var_d_micro
      FROM rec
    )
    SELECT n_months, n_upper, n_lower,
           n_upper - n_lower AS d_stat,
           n_upper + n_lower AS s_stat,
           var_d_micro,
           CAST(n_upper - n_lower AS DOUBLE) * 1000.0
             / sqrt(CAST(var_d_micro AS DOUBLE)) AS z_trend
    FROM s
    """,
    doc="Foster-Stuart records test on monthly order revenue: count "
    "upper records (new all-time highs) and lower records (new "
    "all-time lows); under exchangeability D = U - L has mean 0 and "
    "variance ~ 2*sum_{t=2..n} 1/t, so a records IMBALANCE is trend "
    "evidence that is immune to the magnitude of the moves — the "
    "extreme-value cousin of orders_turning_points (which reads local "
    "extrema) and orders_cox_stuart (which reads paired signs). "
    "Record flags come from bounded prefix-max/min windows over the "
    "~84-month grid; the harmonic variance term quantizes per-month "
    "to exact micro-units via the non-negative floor 2000000 div t "
    "(identical in both engines, error < 1e-4 overall); z is one "
    "fixed IEEE expression (plain float division — a NEGATIVE "
    "numerator never meets an integer division). Everything after "
    "the month rollup is 84 rows.",
)
def orders_foster_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mon = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("mo")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    w_t = Window.orderBy("mo")
    w_pre = Window.orderBy("mo").rowsBetween(Window.unboundedPreceding, -1)
    seq = mon.select(
        "rev",
        F.row_number().over(w_t).alias("t"),
        F.max("rev").over(w_pre).alias("prevmax"),
        F.min("rev").over(w_pre).alias("prevmin"),
    )
    rec = seq.select(
        "t",
        F.when(
            (F.col("t") > 1) & (F.col("rev") > F.col("prevmax")), 1
        )
        .otherwise(0)
        .alias("u"),
        F.when(
            (F.col("t") > 1) & (F.col("rev") < F.col("prevmin")), 1
        )
        .otherwise(0)
        .alias("l"),
        F.when(F.col("t") > 1, F.expr("2000000 div t"))
        .otherwise(0)
        .alias("h2_micro"),
    )
    s = rec.agg(
        F.max("t").cast("bigint").alias("n_months"),
        F.sum("u").cast("bigint").alias("n_upper"),
        F.sum("l").cast("bigint").alias("n_lower"),
        F.sum("h2_micro").cast("bigint").alias("var_d_micro"),
    )
    return s.select(
        "n_months",
        "n_upper",
        "n_lower",
        (F.col("n_upper") - F.col("n_lower")).alias("d_stat"),
        (F.col("n_upper") + F.col("n_lower")).alias("s_stat"),
        "var_d_micro",
        (
            (F.col("n_upper") - F.col("n_lower")).cast("double")
            * F.lit(1000.0)
            / F.sqrt(F.col("var_d_micro").cast("double"))
        ).alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# orders_buishand_range — cumulative-deviation homogeneity (monthly)
# ---------------------------------------------------------------------------


@register(
    "orders_buishand_range",
    oracle="""
    WITH mon AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM mon
    ),
    pre AS (
      SELECT t.n, t.s, t.sxx,
             t.n * sum(m.x) OVER (ORDER BY m.mo
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (row_number() OVER (ORDER BY m.mo)) * t.s AS a_k
      FROM mon m CROSS JOIN tot t
    ),
    r AS (
      SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(s) AS BIGINT) AS s,
             CAST(max(sxx) AS HUGEINT) AS sxx,
             CAST(max(a_k) AS BIGINT) AS a_max,
             CAST(min(a_k) AS BIGINT) AS a_min
      FROM pre
    ),
    f AS (
      SELECT n, a_max, a_min, a_max - a_min AS rstar,
             CAST(((n * sxx - CAST(s AS HUGEINT) * s) * n) // 1073741824
                  AS BIGINT) AS vnq
      FROM r
    )
    SELECT n AS n_months, a_max, a_min, rstar AS range_nscaled,
           CAST(rstar AS DOUBLE)
             / (32768.0 * sqrt(CAST(greatest(vnq, 1) AS DOUBLE)))
             AS rescaled_range
    FROM f
    """,
    doc="Buishand range test for homogeneity of monthly order revenue: "
    "the adjusted partial sums S_k = sum_{i<=k}(x_i - mean) wander "
    "near zero for a homogeneous series and bulge when the level "
    "shifts; R/(s*sqrt(n)) is the classical rescaled range readout "
    "(the hydrology change-point screen; orders_cusum_control is its "
    "sequential SPC sibling, orders_rescaled_range its long-memory "
    "cousin). Everything is n-scaled to stay integer: A_k = n*P_k - "
    "k*S is exact (one bounded prefix window over the ~84-month "
    "kilodollar grid), R* = max A - min A, and R/(s sqrt(n)) = "
    "R*/sqrt(n*V) with V = n*Sxx - S^2 — the HUGEINT/DECIMAL product "
    "n*V floor-divides by 2^30 (both engines identically; relative "
    "error < 2^30/nV ~ 1e-9) so the one final sqrt sees a sub-2^53 "
    "integer, divisor 2^15 restores the scale. No negative integer "
    "division anywhere (A_k may be negative but only max/min/subtract "
    "touch it).",
)
def orders_buishand_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mon = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("mo")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div 100000 AS BIGINT)"
        ).alias("x")
    )
    tot = mon.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    w_cum = Window.orderBy("mo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_rn = Window.orderBy("mo")
    pre = mon.crossJoin(F.broadcast(tot)).select(
        "n",
        "s",
        "sxx",
        (
            F.col("n") * F.sum("x").over(w_cum)
            - F.row_number().over(w_rn) * F.col("s")
        ).alias("a_k"),
    )
    r = pre.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("s").cast("bigint").alias("s"),
        F.max("sxx").alias("sxx"),
        F.max("a_k").cast("bigint").alias("a_max"),
        F.min("a_k").cast("bigint").alias("a_min"),
    )
    f = r.select(
        "n",
        "a_max",
        "a_min",
        (F.col("a_max") - F.col("a_min")).alias("rstar"),
        F.expr(
            "CAST(((n * sxx - CAST(s AS DECIMAL(38,0)) * s) * n)"
            " div 1073741824 AS BIGINT)"
        ).alias("vnq"),
    )
    return f.select(
        F.col("n").alias("n_months"),
        "a_max",
        "a_min",
        F.col("rstar").alias("range_nscaled"),
        (
            F.col("rstar").cast("double")
            / (
                F.lit(32768.0)
                * F.sqrt(F.expr("CAST(greatest(vnq, 1) AS DOUBLE)"))
            )
        ).alias("rescaled_range"),
    )


# ---------------------------------------------------------------------------
# orders_snht_test — standard normal homogeneity test (monthly)
# ---------------------------------------------------------------------------


@register(
    "orders_snht_test",
    oracle="""
    WITH mon AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM mon
    ),
    pre AS (
      SELECT t.n,
             row_number() OVER (ORDER BY m.mo) AS k,
             t.n * sum(m.x) OVER (ORDER BY m.mo
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (row_number() OVER (ORDER BY m.mo)) * t.s AS a_k,
             t.n * t.sxx - CAST(t.s AS HUGEINT) * t.s AS v
      FROM mon m CROSS JOIN tot t
    ),
    scored AS (
      SELECT n, k, a_k,
             CAST((CAST(a_k AS HUGEINT) * a_k * n * 1000000)
                  // (k * (n - k) * greatest(v, 1)) AS BIGINT) AS t_micro
      FROM pre WHERE k < n
    )
    SELECT n AS n_months, k AS k_best, CAST(a_k AS BIGINT) AS a_best,
           t_micro AS t_snht_micro,
           CAST(t_micro AS DOUBLE) / 1000000.0 AS t_snht
    FROM scored ORDER BY t_micro DESC, k ASC LIMIT 1
    """,
    doc="Alexandersson's standard normal homogeneity test (SNHT) on "
    "monthly order revenue: T_k = k*zbar1^2 + (n-k)*zbar2^2 peaks at "
    "the most likely mean-shift point — the parametric complement of "
    "orders_buishand_range (range of the SAME partial sums) and "
    "agg_pettitt_test (its rank twin), most sensitive to breaks near "
    "the series ends. The identity T_k = A_k^2 * n / (k(n-k)V) with "
    "A_k = n*P_k - k*S and V = n*Sxx - S^2 makes every candidate an "
    "exact integer ratio: one micro-unit floor-division per k (both "
    "engines identical; A_k^2 is non-negative), the winner decided "
    "on integers with ties to the earliest month, display T = one "
    "cast. One bounded prefix window over the ~84-month kilodollar "
    "grid, TakeOrdered(1).",
)
def orders_snht_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mon = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("mo")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div 100000 AS BIGINT)"
        ).alias("x")
    )
    tot = mon.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    w_cum = Window.orderBy("mo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_rn = Window.orderBy("mo")
    pre = mon.crossJoin(F.broadcast(tot)).select(
        "n",
        F.row_number().over(w_rn).alias("k"),
        (
            F.col("n") * F.sum("x").over(w_cum)
            - F.row_number().over(w_rn) * F.col("s")
        ).alias("a_k"),
        F.expr("n * sxx - CAST(s AS DECIMAL(38,0)) * s").alias("v"),
    )
    scored = pre.filter(F.col("k") < F.col("n")).select(
        "n",
        "k",
        "a_k",
        F.expr(
            "CAST((CAST(a_k AS DECIMAL(38,0)) * a_k * n * 1000000)"
            " div (k * (n - k) * greatest(v, 1)) AS BIGINT)"
        ).alias("t_micro"),
    )
    return (
        scored.orderBy(F.col("t_micro").desc(), F.col("k").asc())
        .limit(1)
        .select(
            F.col("n").alias("n_months"),
            F.col("k").alias("k_best"),
            F.col("a_k").alias("a_best"),
            F.col("t_micro").alias("t_snht_micro"),
            (F.col("t_micro").cast("double") / F.lit(1000000.0)).alias(
                "t_snht"
            ),
        )
    )


# ---------------------------------------------------------------------------
# orders_kpss_level — level-stationarity statistic (daily, lag-0)
# ---------------------------------------------------------------------------


@register(
    "orders_kpss_level",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM daily
    ),
    pre AS (
      SELECT t.n, t.s, t.sxx,
             t.n * sum(dd.x) OVER (ORDER BY dd.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (row_number() OVER (ORDER BY dd.d)) * t.s AS a_k
      FROM daily dd CROSS JOIN tot t
    ),
    acc AS (
      SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(s) AS BIGINT) AS s,
             CAST(max(sxx) AS HUGEINT) AS sxx,
             CAST(sum(CAST(a_k AS HUGEINT) * a_k) AS HUGEINT) AS sa2
      FROM pre
    )
    SELECT n AS n_days,
           CAST((1000000000 * sa2)
                // (CAST(n AS HUGEINT) * n
                    * greatest(n * sxx - CAST(s AS HUGEINT) * s, 1))
                AS BIGINT) AS eta_ppb,
           CAST(CAST((1000000000 * sa2)
                // (CAST(n AS HUGEINT) * n
                    * greatest(n * sxx - CAST(s AS HUGEINT) * s, 1))
                AS BIGINT) AS DOUBLE) / 1000000000.0 AS kpss_eta
    FROM acc
    """,
    doc="KPSS level-stationarity statistic (lag-0 / iid short-run "
    "variance — the EXACT-arithmetic bandwidth; the HAC long-run "
    "variant trades exactness for autocorrelation robustness, which "
    "agg_ljung_box and orders_durbin_watson already measure "
    "separately) over daily order revenue: eta = n^-2 sum_k S_k^2 / "
    "sigma^2, the mirror-image null of the unit-root tests — HERE the "
    "null is stationarity, so a LARGE eta rejects level-stability. "
    "With A_k = n*P_k - k*S (exact integers from one bounded prefix "
    "window over the ~2.4k-day dollar grid), eta = sum A_k^2 / "
    "(n^2 V): ONE non-negative HUGEINT/DECIMAL floor-division "
    "(1e9 * sumA2) div (n^2 * V) lands ppb identically in both "
    "engines — never a sub-2^63 intermediate quotient. SCALE BOUND: "
    "1e9 * sum A_k^2 ~ 1e9 n^2 V / 6 crosses DECIMAL(38,0) near "
    "sf~10 on this grid; the dollar quantizer (div 100) is the "
    "dial.",
)
def orders_kpss_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div 100 AS BIGINT)"
        ).alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    w_cum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_rn = Window.orderBy("d")
    pre = daily.crossJoin(F.broadcast(tot)).select(
        "n",
        "s",
        "sxx",
        (
            F.col("n") * F.sum("x").over(w_cum)
            - F.row_number().over(w_rn) * F.col("s")
        ).alias("a_k"),
    )
    acc = pre.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("s").cast("bigint").alias("s"),
        F.max("sxx").alias("sxx"),
        _dsum(F.expr("CAST(a_k AS DECIMAL(38,0)) * a_k")).alias("sa2"),
    )
    return acc.select(
        F.col("n").alias("n_days"),
        F.expr(
            "CAST((1000000000 * sa2)"
            " div (CAST(n AS DECIMAL(38,0)) * n"
            " * greatest(n * sxx - CAST(s AS DECIMAL(38,0)) * s, 1))"
            " AS BIGINT)"
        ).alias("eta_ppb"),
        F.expr(
            "CAST(CAST((1000000000 * sa2)"
            " div (CAST(n AS DECIMAL(38,0)) * n"
            " * greatest(n * sxx - CAST(s AS DECIMAL(38,0)) * s, 1))"
            " AS BIGINT) AS DOUBLE) / 1000000000.0"
        ).alias("kpss_eta"),
    )


# ---------------------------------------------------------------------------
# events_gap_memory — Goh-Barabasi memory coefficient of inter-arrivals
# ---------------------------------------------------------------------------


@register(
    "events_gap_memory",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ),
    g AS (
      SELECT event_type, user_id, event_id, tus,
             (tus - lag(tus) OVER (PARTITION BY user_id, event_type
                                   ORDER BY tus, event_id)) // 1000000
               AS gap_s
      FROM e
    ),
    pairs AS (
      SELECT event_type, gap_s AS x,
             lead(gap_s) OVER (PARTITION BY user_id, event_type
                               ORDER BY tus, event_id) AS y
      FROM g WHERE gap_s IS NOT NULL
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM pairs WHERE y IS NOT NULL GROUP BY event_type
    ),
    f AS (
      SELECT event_type, n,
             CAST(CASE WHEN n * sxy - sx * sy >= 0
                  THEN (n * sxy - sx * sy) // 17592186044416
                  ELSE -((-(n * sxy - sx * sy)) // 17592186044416)
                  END AS BIGINT) AS numq,
             CAST((n * sxx - sx * sx) // 17592186044416 AS BIGINT) AS vxq,
             CAST((n * syy - sy * sy) // 17592186044416 AS BIGINT) AS vyq
      FROM s WHERE n >= 2
    )
    SELECT event_type, n AS n_gap_pairs, numq, vxq, vyq,
           CAST(numq AS DOUBLE)
             / sqrt(CAST(greatest(vxq, 1) AS DOUBLE)
                    * CAST(greatest(vyq, 1) AS DOUBLE)) AS memory_coeff
    FROM f ORDER BY event_type
    """,
    doc="Goh-Barabasi memory coefficient M per event type: the Pearson "
    "correlation of CONSECUTIVE inter-arrival gaps within each user's "
    "per-type stream — the second axis of the (B, M) burstiness plane "
    "(events_gap_burstiness measures the gap-size dispersion B; M "
    "measures whether long gaps FOLLOW long gaps, which separates "
    "human cascades from modulated Poisson traffic). Gap pairs come "
    "from one lag + one lead over the same partitioned per-user-type "
    "window order (no extra shuffle); the five HUGEINT/DECIMAL "
    "moments reduce the covariance and both variance terms by the "
    "shared 2^44 literal (the events_gap_burstiness dial — relative "
    "error < 2^44/nV ~ 1e-6 here) so the one signed double division "
    "sees sub-2^53 integers. The covariance numerator is the ONE "
    "signed quantity: BOTH engines quantize it by an explicit "
    "sign-split (abs, divide, re-sign), so neither engine's native "
    "negative-division convention ever touches the hash surface — "
    "the pipeline15 discipline applied to a signed reduction.",
)
def events_gap_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    e = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("tus"),
    )
    w_seq = Window.partitionBy("user_id", "event_type").orderBy(
        "tus", "event_id"
    )
    g = e.select(
        "event_type",
        "user_id",
        "event_id",
        "tus",
        F.expr(
            "(tus - lag(tus) OVER (PARTITION BY user_id, event_type"
            " ORDER BY tus, event_id)) div 1000000"
        ).alias("gap_s"),
    )
    pairs = g.filter(F.col("gap_s").isNotNull()).select(
        "event_type",
        F.col("gap_s").alias("x"),
        F.lead("gap_s").over(w_seq).alias("y"),
    )
    s = pairs.filter(F.col("y").isNotNull()).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    f = s.filter(F.col("n") >= 2).select(
        "event_type",
        "n",
        F.expr(
            "CAST(CASE WHEN n * sxy - sx * sy >= 0"
            " THEN (n * sxy - sx * sy) div 17592186044416"
            " ELSE -((-(n * sxy - sx * sy)) div 17592186044416)"
            " END AS BIGINT)"
        ).alias("numq"),
        F.expr(
            "CAST((n * sxx - sx * sx) div 17592186044416 AS BIGINT)"
        ).alias("vxq"),
        F.expr(
            "CAST((n * syy - sy * sy) div 17592186044416 AS BIGINT)"
        ).alias("vyq"),
    )
    out = f.select(
        "event_type",
        F.col("n").alias("n_gap_pairs"),
        "numq",
        "vxq",
        "vyq",
    )
    return out.select(
        "event_type",
        "n_gap_pairs",
        "numq",
        "vxq",
        "vyq",
        F.expr(
            "CAST(numq AS DOUBLE)"
            " / sqrt(CAST(greatest(vxq, 1) AS DOUBLE)"
            "        * CAST(greatest(vyq, 1) AS DOUBLE))"
        ).alias("memory_coeff"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# events_wallis_moore — phase-frequency randomness test on daily counts
# ---------------------------------------------------------------------------


@register(
    "events_wallis_moore",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    diffs AS (
      SELECT d, c - lag(c) OVER (ORDER BY d) AS df
      FROM daily
    ),
    signs AS (
      SELECT d, CASE WHEN df > 0 THEN 1 ELSE -1 END AS sg
      FROM diffs WHERE df IS NOT NULL AND df <> 0
    ),
    chg AS (
      SELECT sg, lag(sg) OVER (ORDER BY d) AS prev
      FROM signs
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_signs,
             CAST(sum(CASE WHEN prev IS NOT NULL AND sg <> prev
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
      FROM chg
    )
    SELECT n_signs + 1 AS n_series, n_signs, n_changes,
           greatest(n_changes + 1 - 2, 0) AS h_phases,
           CAST(3 * greatest(n_changes + 1 - 2, 0)
                - (2 * (n_signs + 1) - 7) AS DOUBLE)
             / (3.0 * sqrt((16.0 * CAST(n_signs + 1 AS DOUBLE) - 29.0)
                           / 90.0)) AS z_score
    FROM s
    """,
    doc="Wallis-Moore phase-frequency test on the daily event-count "
    "series: count PHASES (maximal runs of like-signed first "
    "differences, first and last phase excluded) and compare to the "
    "exchangeability moments E[h] = (2n-7)/3, Var[h] = (16n-29)/90 — "
    "the classical randomness screen that reads oscillation FREQUENCY "
    "where orders_turning_points reads extrema counts and "
    "orders_bartels_rank reads rank displacement (here on the events "
    "table's traffic series, where weekly cycles show up as too-"
    "regular phases). Zero differences are dropped from the sign "
    "sequence (documented tie rule; n = retained signs + 1 enters "
    "the moments). Signs, changes, and the phase count h = changes "
    "- 1 are exact integers from two bounded windows over the "
    "~100-day grid; z is one fixed IEEE expression whose numerator "
    "3h - (2n-7) is integer (never a float-sum).",
)
def events_wallis_moore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_d = Window.orderBy("d")
    diffs = daily.select(
        "d", (F.col("c") - F.lag("c").over(w_d)).alias("df")
    )
    signs = diffs.filter(
        F.col("df").isNotNull() & (F.col("df") != 0)
    ).select(
        "d", F.when(F.col("df") > 0, 1).otherwise(-1).alias("sg")
    )
    chg = signs.select("sg", F.lag("sg").over(w_d).alias("prev"))
    s = chg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_signs"),
        F.sum(
            F.when(
                F.col("prev").isNotNull()
                & (F.col("sg") != F.col("prev")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_changes"),
    )
    return s.select(
        (F.col("n_signs") + 1).alias("n_series"),
        "n_signs",
        "n_changes",
        F.expr("greatest(n_changes + 1 - 2, 0)").alias("h_phases"),
        F.expr(
            "CAST(3 * greatest(n_changes + 1 - 2, 0)"
            " - (2 * (n_signs + 1) - 7) AS DOUBLE)"
            " / (3.0 * sqrt((16.0 * CAST(n_signs + 1 AS DOUBLE) - 29.0)"
            " / 90.0))"
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# agg_atkinson_index — welfare-based inequality (epsilon = 2) per segment
# ---------------------------------------------------------------------------


@register(
    "agg_atkinson_index",
    oracle="""
    WITH b AS (
      SELECT c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS x
      FROM customer
      WHERE c_acctbal > 0
    ),
    g AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(1000000000000000 // x) AS HUGEINT) AS q
      FROM b GROUP BY seg
    )
    SELECT seg AS segment, n AS n_customers, s AS total_balance_cents,
           CAST(1000000000
                - (CAST(n AS HUGEINT) * n * 1000000000000000 * 1000000000)
                  // (q * s) AS BIGINT) AS atkinson2_ppb,
           CAST(CAST(1000000000
                - (CAST(n AS HUGEINT) * n * 1000000000000000 * 1000000000)
                  // (q * s) AS BIGINT) AS DOUBLE) / 1000000000.0
             AS atkinson2
    FROM g ORDER BY seg
    """,
    doc="Atkinson inequality index at inequality-aversion epsilon = 2 "
    "over positive customer balances, per market segment: A_2 = 1 - "
    "(harmonic mean)/(arithmetic mean) — the WELFARE-grounded "
    "inequality measure (what fraction of total balance could be "
    "destroyed with no welfare loss if balances were equalized) "
    "beside the purely descriptive agg_gini_mean_difference and "
    "agg_hoover_index. epsilon = 2 is the exact-arithmetic member of "
    "the Atkinson family: the harmonic mean needs only reciprocals, "
    "quantized per row to exact femto-units by the non-negative "
    "floor 1e15 div x (identical in both engines; balances are "
    "positive cents so the quantizer error is < 1e-9 relative for "
    "x < 1e6 cents), while epsilon = 1 would need a geometric mean "
    "(logs — banned on the hash surface). A = 1 - n^2*1e15/(q*S) is "
    "then ONE non-negative HUGEINT/DECIMAL floor-division to ppb. "
    "Negative/zero balances are excluded (documented domain rule — "
    "Atkinson is defined on positive incomes). One map-side rollup "
    "over 5 segments; no windows, no joins. SCALE BOUND: the ppb "
    "numerator n^2 * 1e24 crosses DECIMAL(38,0) near n ~ 4e6 "
    "customers per segment (sf~30); the 1e15 quantizer is the dial.",
)
def agg_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    b = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("x"),
    )
    g = b.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        _dsum(F.expr("1000000000000000 div x")).alias("q"),
    )
    return g.select(
        F.col("seg").alias("segment"),
        F.col("n").alias("n_customers"),
        F.col("s").alias("total_balance_cents"),
        F.expr(
            "CAST(1000000000"
            " - (CAST(n AS DECIMAL(38,0)) * n * 1000000000000000"
            "    * 1000000000) div (q * s) AS BIGINT)"
        ).alias("atkinson2_ppb"),
        F.expr(
            "CAST(CAST(1000000000"
            " - (CAST(n AS DECIMAL(38,0)) * n * 1000000000000000"
            "    * 1000000000) div (q * s) AS BIGINT) AS DOUBLE)"
            " / 1000000000.0"
        ).alias("atkinson2"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# agg_palma_quintile — tail-share inequality ratios (exact order stats)
# ---------------------------------------------------------------------------


@register(
    "agg_palma_quintile",
    oracle="""
    WITH b AS (
      SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v
      FROM customer WHERE c_acctbal > 0
    ),
    cells AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY v
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(c AS HUGEINT) * v) AS HUGEINT) AS s
      FROM cells
    ),
    pos AS (
      SELECT v, c, t.n, t.s,
             coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS lo
      FROM cells CROSS JOIN tot t
    ),
    shares AS (
      SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(s) AS HUGEINT) AS s,
             CAST(sum(CAST(greatest(least((2 * n) // 5 - lo, c), 0)
                      AS HUGEINT) * v) AS HUGEINT) AS bot40,
             CAST(sum(CAST(greatest(least(n // 5 - lo, c), 0)
                      AS HUGEINT) * v) AS HUGEINT) AS bot20,
             CAST(sum(CAST(greatest(least((9 * n) // 10 - lo, c), 0)
                      AS HUGEINT) * v) AS HUGEINT) AS bot90,
             CAST(sum(CAST(greatest(least((4 * n) // 5 - lo, c), 0)
                      AS HUGEINT) * v) AS HUGEINT) AS bot80
      FROM pos
    )
    SELECT n AS n_customers,
           CAST(bot40 AS BIGINT) AS bottom40_cents,
           CAST(s - bot90 AS BIGINT) AS top10_cents,
           CAST((1000000000 * (s - bot90)) // greatest(bot40, 1)
                AS BIGINT) AS palma_ppb,
           CAST((1000000000 * (s - bot80)) // greatest(bot20, 1)
                AS BIGINT) AS s80s20_ppb,
           CAST(CAST((1000000000 * (s - bot90)) // greatest(bot40, 1)
                AS BIGINT) AS DOUBLE) / 1000000000.0 AS palma_ratio
    FROM shares
    """,
    doc="Palma ratio (top-10% balance share over bottom-40% share) and "
    "the S80/S20 quintile share ratio over positive customer balances "
    "— the tail-focused inequality pair preferred in development "
    "economics because the middle 50% share is empirically stable "
    "(Palma's observation), complementing the whole-distribution "
    "agg_gini_mean_difference / agg_hoover_index / agg_atkinson_index. "
    "Head counts are the exact integers floor(0.4n), floor(0.2n), "
    "etc. (documented population convention); each bottom-k balance "
    "sum is computed WITHOUT any sort-and-limit: on the balance-cents "
    "domain grid, the k-head mass is sum over cells of "
    "clamp(k - below, 0, c) * v — one cumulative window over the "
    "bounded cents domain serves all four cuts, HUGEINT/DECIMAL "
    "products, non-negative ppb floor-divisions. Tail sums are "
    "total - head so every quantity is exact.",
)
def agg_palma_quintile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    cells = c.select(
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v")
    ).groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * v")).alias("s"),
    )
    w_lo = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pos = cells.crossJoin(F.broadcast(tot)).select(
        "v",
        "c",
        "n",
        "s",
        F.coalesce(F.sum("c").over(w_lo), F.lit(0)).alias("lo"),
    )
    shares = pos.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("s").alias("s"),
        _dsum(
            F.expr(
                "CAST(greatest(least((2 * n) div 5 - lo, c), 0)"
                " AS DECIMAL(38,0)) * v"
            )
        ).alias("bot40"),
        _dsum(
            F.expr(
                "CAST(greatest(least(n div 5 - lo, c), 0)"
                " AS DECIMAL(38,0)) * v"
            )
        ).alias("bot20"),
        _dsum(
            F.expr(
                "CAST(greatest(least((9 * n) div 10 - lo, c), 0)"
                " AS DECIMAL(38,0)) * v"
            )
        ).alias("bot90"),
        _dsum(
            F.expr(
                "CAST(greatest(least((4 * n) div 5 - lo, c), 0)"
                " AS DECIMAL(38,0)) * v"
            )
        ).alias("bot80"),
    )
    return shares.select(
        F.col("n").alias("n_customers"),
        F.col("bot40").cast("bigint").alias("bottom40_cents"),
        F.expr("CAST(s - bot90 AS BIGINT)").alias("top10_cents"),
        F.expr(
            "CAST((1000000000 * (s - bot90)) div greatest(bot40, 1)"
            " AS BIGINT)"
        ).alias("palma_ppb"),
        F.expr(
            "CAST((1000000000 * (s - bot80)) div greatest(bot20, 1)"
            " AS BIGINT)"
        ).alias("s80s20_ppb"),
        F.expr(
            "CAST(CAST((1000000000 * (s - bot90)) div greatest(bot40, 1)"
            " AS BIGINT) AS DOUBLE) / 1000000000.0"
        ).alias("palma_ratio"),
    )


# ---------------------------------------------------------------------------
# agg_lorenz_asymmetry — Damgaard-Weiner Lorenz asymmetry coefficient
# ---------------------------------------------------------------------------


@register(
    "agg_lorenz_asymmetry",
    oracle="""
    WITH b AS (
      SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS x
      FROM customer WHERE c_acctbal > 0
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM b
    ),
    parts AS (
      SELECT t.n, t.s,
             CAST(sum(CASE WHEN t.n * b.x < t.s THEN 1 ELSE 0 END)
                  AS BIGINT) AS m,
             CAST(sum(CASE WHEN t.n * b.x = t.s THEN 1 ELSE 0 END)
                  AS BIGINT) AS eq,
             CAST(sum(CASE WHEN t.n * b.x < t.s THEN x ELSE 0 END)
                  AS BIGINT) AS lm
      FROM b CROSS JOIN tot t
      GROUP BY t.n, t.s
    )
    SELECT n AS n_customers, m AS n_below_mean, eq AS n_at_mean,
           CAST((1000000000 * CAST(2 * m + eq AS HUGEINT)) // (2 * n)
                AS BIGINT) AS f_mu_ppb,
           CAST((1000000000 * (2 * CAST(n AS HUGEINT) * lm
                               + CAST(eq AS HUGEINT) * s))
                // (2 * CAST(n AS HUGEINT) * s) AS BIGINT) AS l_mu_ppb,
           CAST((1000000000 * CAST(2 * m + eq AS HUGEINT)) // (2 * n)
                + (1000000000 * (2 * CAST(n AS HUGEINT) * lm
                                 + CAST(eq AS HUGEINT) * s))
                  // (2 * CAST(n AS HUGEINT) * s) AS BIGINT)
             AS asymmetry_ppb
    FROM parts
    """,
    doc="Damgaard-Weiner Lorenz asymmetry coefficient S = F(mu) + L(mu) "
    "over positive customer balances: WHERE the Lorenz curve is "
    "steepest relative to the diagonal — S > 1 means inequality is "
    "driven by a few very LARGE balances, S < 1 by many very small "
    "ones; two distributions with identical Gini (agg_gini_mean_"
    "difference) routinely differ in S, which is why the pair is "
    "reported together in ecology and economics. F(mu) = share of "
    "units below the mean and L(mu) = share of balance held by them "
    "are exact: x < mu is the integer predicate n*x < S, units AT "
    "the mean contribute half to each side (documented tie rule), "
    "so F = (2m + eq)/(2n) and L = (2n*Lm + eq*S)/(2n*S) are two "
    "non-negative HUGEINT/DECIMAL floor-divisions to ppb. One scalar "
    "broadcast + one map-side rollup; no windows.",
)
def agg_lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    b = c.select(F.round(F.col("c_acctbal") * 100).cast("bigint").alias("x"))
    tot = b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    parts = (
        b.crossJoin(F.broadcast(tot))
        .groupBy("n", "s")
        .agg(
            F.sum(F.when(F.col("n") * F.col("x") < F.col("s"), 1).otherwise(0))
            .cast("bigint")
            .alias("m"),
            F.sum(F.when(F.col("n") * F.col("x") == F.col("s"), 1).otherwise(0))
            .cast("bigint")
            .alias("eq"),
            F.sum(
                F.when(F.col("n") * F.col("x") < F.col("s"), F.col("x")).otherwise(0)
            )
            .cast("bigint")
            .alias("lm"),
        )
    )
    return parts.select(
        F.col("n").alias("n_customers"),
        F.col("m").alias("n_below_mean"),
        F.col("eq").alias("n_at_mean"),
        F.expr(
            "CAST((1000000000 * CAST(2 * m + eq AS DECIMAL(38,0)))"
            " div (2 * n) AS BIGINT)"
        ).alias("f_mu_ppb"),
        F.expr(
            "CAST((1000000000 * (2 * CAST(n AS DECIMAL(38,0)) * lm"
            " + CAST(eq AS DECIMAL(38,0)) * s))"
            " div (2 * CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)"
        ).alias("l_mu_ppb"),
        F.expr(
            "CAST((1000000000 * CAST(2 * m + eq AS DECIMAL(38,0)))"
            " div (2 * n)"
            " + (1000000000 * (2 * CAST(n AS DECIMAL(38,0)) * lm"
            " + CAST(eq AS DECIMAL(38,0)) * s))"
            " div (2 * CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)"
        ).alias("asymmetry_ppb"),
    )


# ---------------------------------------------------------------------------
# graph_moran_geary — spatial autocorrelation on the trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_moran_geary",
    oracle="""
    WITH tr AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    adj AS (
      SELECT src, dst FROM tr
      UNION
      SELECT dst AS src, src AS dst FROM tr
    ),
    val AS (
      SELECT n.n_nationkey AS k,
             CAST(coalesce(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)),
                           0) AS BIGINT) AS x
      FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS sx
      FROM val
    ),
    z AS (
      SELECT v.k, t.nn * v.x - t.sx AS z, t.nn
      FROM val v CROSS JOIN tot t
    ),
    den AS (
      SELECT CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS sz2,
             CAST(max(nn) AS BIGINT) AS nn
      FROM z
    ),
    pairs AS (
      SELECT zi.z AS zi, zj.z AS zj
      FROM adj a JOIN z zi ON zi.k = a.src JOIN z zj ON zj.k = a.dst
    ),
    acc AS (
      SELECT CAST(count(*) AS BIGINT) AS w,
             CAST(sum(CAST(zi AS HUGEINT) * zj) AS HUGEINT) AS cross_sum,
             CAST(sum(CAST(zi - zj AS HUGEINT) * (zi - zj)) AS HUGEINT)
               AS diff2_sum
      FROM pairs
    )
    SELECT d.nn AS n_nations, a.w AS n_directed_pairs,
           CAST(CASE WHEN a.cross_sum >= 0
                THEN (1000000000 * d.nn * a.cross_sum)
                     // (a.w * greatest(d.sz2, 1))
                ELSE -((1000000000 * d.nn * -a.cross_sum)
                       // (a.w * greatest(d.sz2, 1))) END AS BIGINT)
             AS moran_i_ppb,
           CAST((1000000000 * (d.nn - 1) * a.diff2_sum)
                // (2 * a.w * greatest(d.sz2, 1)) AS BIGINT)
             AS geary_c_ppb
    FROM den d, acc a
    """,
    doc="Moran's I and Geary's C autocorrelation of total customer "
    "balance over the symmetrized nation trade graph (adjacency = "
    "any cross-nation lineitem flow, the graph_reciprocity edge "
    "construction): do trading partners hold SIMILAR balance mass "
    "(I > 0, C < 1) or is wealth anti-clustered across the trade "
    "network? The graph analogue of the calendar-lag "
    "agg_autocorrelation — I is the cross-product (global) form, C "
    "the squared-difference (local) form, and they disagree exactly "
    "when outlier nations dominate. n-scaled deviations z_i = N*x_i "
    "- X are exact integers; I = N*sum_ij(z_i z_j)/(W*sum z^2) and "
    "C = (N-1)*sum_ij(z_i - z_j)^2/(2W*sum z^2) are HUGEINT/DECIMAL "
    "ratios (the N^2 scale cancels), sign-split ppb floor-division "
    "for the one signed numerator. Fact work is one keyed edge "
    "rollup; everything after is bounded by the 25-nation domain "
    "(at most 600 directed pairs).",
)
def graph_moran_geary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey")
    tr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct()
    )
    adj = tr.union(
        tr.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    val = (
        F.broadcast(n)
        .join(
            c.select("c_nationkey", "c_acctbal"),
            n.n_nationkey == F.col("c_nationkey"),
            "left",
        )
        .groupBy(F.col("n_nationkey").alias("k"))
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("x")
        )
    )
    tot = val.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    z = val.crossJoin(F.broadcast(tot)).select(
        "k",
        (F.col("nn") * F.col("x") - F.col("sx")).alias("z"),
        "nn",
    )
    den = z.agg(
        _dsum(F.expr("CAST(z AS DECIMAL(38,0)) * z")).alias("sz2"),
        F.max("nn").cast("bigint").alias("nn"),
    )
    zi = z.select(F.col("k").alias("src"), F.col("z").alias("zi"))
    zj = z.select(F.col("k").alias("dst"), F.col("z").alias("zj"))
    pairs = adj.join(F.broadcast(zi), "src").join(F.broadcast(zj), "dst")
    acc = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        _dsum(F.expr("CAST(zi AS DECIMAL(38,0)) * zj")).alias("cross_sum"),
        _dsum(
            F.expr("CAST(zi - zj AS DECIMAL(38,0)) * (zi - zj)")
        ).alias("diff2_sum"),
    )
    return den.crossJoin(F.broadcast(acc)).select(
        F.col("nn").alias("n_nations"),
        F.col("w").alias("n_directed_pairs"),
        F.expr(
            "CAST(CASE WHEN cross_sum >= 0"
            " THEN (1000000000 * nn * cross_sum)"
            " div (w * greatest(sz2, 1))"
            " ELSE -((1000000000 * nn * -cross_sum)"
            " div (w * greatest(sz2, 1))) END AS BIGINT)"
        ).alias("moran_i_ppb"),
        F.expr(
            "CAST((1000000000 * (nn - 1) * diff2_sum)"
            " div (2 * w * greatest(sz2, 1)) AS BIGINT)"
        ).alias("geary_c_ppb"),
    )


# ---------------------------------------------------------------------------
# graph_rich_club — rich-club connectivity profile of the trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_rich_club",
    oracle="""
    WITH f AS MATERIALIZED (
      -- pre-aggregate the fact join to (custkey, suppkey) BEFORE the dim
      -- joins and pin materialization: with 7 downstream CTE references,
      -- an inlined 4-table join re-evaluates per reference and spilled
      -- ~40 GB at sf0.1 (round-12 finding); this form runs in ~1 s
      SELECT o.o_custkey AS ck, l.l_suppkey AS sk,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    tr AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(sum(w) AS BIGINT) AS w
      FROM f
      JOIN customer c ON f.ck = c.c_custkey
      JOIN supplier s ON f.sk = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    uw AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             CAST(sum(w) AS BIGINT) AS w
      FROM tr GROUP BY 1, 2
    ),
    tw AS (
      SELECT CAST(count(*) AS BIGINT) AS cnt, CAST(sum(w) AS BIGINT) AS s
      FROM uw
    ),
    und AS (
      SELECT a, b FROM uw, tw WHERE 20 * w * tw.cnt >= 23 * tw.s
    ),
    deg AS (
      SELECT k, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS k FROM und UNION ALL SELECT b AS k FROM und)
      GROUP BY k
    ),
    ks AS (SELECT DISTINCT d AS k FROM deg WHERE d > 0),
    nk AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS n_k
      FROM ks JOIN deg ON deg.d >= ks.k
      GROUP BY ks.k
    ),
    ek AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS e_k
      FROM ks
      JOIN und ON TRUE
      JOIN deg da ON da.k = und.a
      JOIN deg db ON db.k = und.b
      WHERE da.d >= ks.k AND db.d >= ks.k
      GROUP BY ks.k
    )
    SELECT nk.k AS degree_floor, nk.n_k AS n_club_nodes,
           coalesce(ek.e_k, 0) AS n_club_edges,
           CAST((2000000000 * CAST(coalesce(ek.e_k, 0) AS HUGEINT))
                // greatest(nk.n_k * (nk.n_k - 1), 1) AS BIGINT)
             AS phi_ppb
    FROM nk LEFT JOIN ek ON ek.k = nk.k
    WHERE nk.n_k >= 2
    ORDER BY nk.k
    """,
    doc="Rich-club connectivity profile phi(k) = 2*E_k / (N_k(N_k - 1)) "
    "of the undirected nation trade graph: for each observed degree "
    "floor k, how densely interconnected are the nations of degree "
    ">= k? A rising phi(k) is the 'rich club' signature (hub nations "
    "trade preferentially with each other) that degree statistics "
    "alone (graph_assortativity summarizes mixing in ONE number) "
    "cannot localize — this is its per-level decomposition. The raw "
    "trade graph is complete at every SF (all nations trade), so the "
    "profile runs on the HEAVY-edge backbone: keep an undirected "
    "edge iff its weight is >= 1.15x the mean edge weight, decided "
    "by the EXACT integer cross-multiplication 20*w*E >= 23*S (the "
    "graph_kcore threshold made float-free). The degree-threshold "
    "grid is the set of observed backbone degrees (<= 24 values on "
    "the 25-nation graph) over the <= 300-edge undirected relation, "
    "all nation-domain-bounded, so the rollup is collected once and "
    "the whole sweep runs as exact Python integers on the driver "
    "(pagerank_nations discipline) — integer counts, one "
    "non-negative ppb floor-division per level, bit-identical to the "
    "oracle's threshold joins. Fact work is one keyed edge rollup.",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    tr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    # Everything downstream of the directed edge rollup is
    # nation-dimension-bounded (<= 625 directed / <= 300 undirected
    # rows at any fact size — a driver scalar), so the rollup is
    # collected ONCE and the whole profile — undirected fold, backbone
    # threshold, degrees, the <= 24-level club sweep — runs in exact
    # Python integer arithmetic on the driver (the pagerank_nations
    # discipline: every step is integer compare/sum; `//` on
    # non-negatives == SQL `div`). The result ships back as ONE Arrow
    # batch. Formerly each execution replayed the whole bounded-join
    # chain (tw crossJoin, two threshold joins, a left join) and the
    # un-persisted fact rollup could evaluate once per scalar branch.
    import pandas as pd
    from pyspark.sql import types as T

    agg: dict = {}
    for r in tr.collect():
        a, b = r["src"], r["dst"]
        if a > b:
            a, b = b, a
        agg[(a, b)] = agg.get((a, b), 0) + r["w"]
    cnt, s_tot = len(agg), sum(agg.values())
    und = [e for e, w in agg.items() if 20 * w * cnt >= 23 * s_tot]
    deg: dict = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    rows = []
    for k in sorted({d for d in deg.values() if d > 0}):
        n_k = sum(1 for d in deg.values() if d >= k)
        if n_k < 2:
            continue
        e_k = sum(1 for a, b in und if deg[a] >= k and deg[b] >= k)
        rows.append(
            (k, n_k, e_k, (2000000000 * e_k) // max(n_k * (n_k - 1), 1))
        )
    schema = T.StructType(
        [
            T.StructField("degree_floor", T.LongType(), True),
            T.StructField("n_club_nodes", T.LongType(), True),
            T.StructField("n_club_edges", T.LongType(), True),
            T.StructField("phi_ppb", T.LongType(), True),
        ]
    )
    pdf = pd.DataFrame(
        rows,
        columns=["degree_floor", "n_club_nodes", "n_club_edges", "phi_ppb"],
    )
    return spark.createDataFrame(pdf, schema=schema).orderBy("degree_floor")


# ---------------------------------------------------------------------------
# orders_seasonal_mann_kendall — deseasonalized monotone-trend test
# ---------------------------------------------------------------------------


@register(
    "orders_seasonal_mann_kendall",
    oracle="""
    WITH m AS (
      SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mo,
             CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS v
      FROM orders GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.mo,
             CASE WHEN b.v > a.v THEN 1
                  WHEN b.v < a.v THEN -1 ELSE 0 END AS sg
      FROM m a JOIN m b ON b.mo = a.mo AND b.yr > a.yr
    ),
    s_by_m AS (
      SELECT mo, CAST(sum(sg) AS BIGINT) AS s_m FROM pairs GROUP BY mo
    ),
    nt AS (
      SELECT mo, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY mo
    ),
    ties AS (
      SELECT mo, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tcorr
      FROM (SELECT mo, v, CAST(count(*) AS BIGINT) AS t
            FROM m GROUP BY mo, v)
      GROUP BY mo
    ),
    var_by_m AS (
      SELECT nt.mo,
             nt.n * (nt.n - 1) * (2 * nt.n + 5)
               - coalesce(t.tcorr, 0) AS var18
      FROM nt LEFT JOIN ties t ON t.mo = nt.mo
    ),
    acc AS (
      SELECT (SELECT CAST(sum(s_m) AS BIGINT) FROM s_by_m) AS s,
             (SELECT CAST(sum(var18) AS BIGINT) FROM var_by_m) AS var18,
             (SELECT CAST(count(*) AS BIGINT) FROM s_by_m) AS n_strata
    )
    SELECT n_strata, s AS s_total, var18 AS var18_total,
           CASE WHEN abs(s) <= 1 OR var18 <= 0 THEN 0.0
                ELSE (CASE WHEN s > 0 THEN 1.0 ELSE -1.0 END)
                     * CAST(abs(s) - 1 AS DOUBLE)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0) END AS z_score
    FROM acc
    """,
    doc="Seasonal Mann-Kendall trend test (Hirsch-Slack) on monthly "
    "order revenue: run agg_mann_kendall's sign statistic WITHIN each "
    "month-of-year stratum (January 1992 vs January 1993 vs ...) and "
    "sum S and Var across the 12 strata — the standard way to detect "
    "a monotone trend WITHOUT the annual cycle masquerading as one "
    "(plain MK on seasonal data is biased by the within-year swing "
    "that orders_seasonality_strength quantifies). Each stratum holds "
    "at most ~7 yearly values, so the pair join is 12 x C(7,2) "
    "bounded rows — never data-proportional; S, the tie-corrected "
    "18*Var = n(n-1)(2n+5) - sum t(t-1)(2t+5), and the stratum "
    "rollups are exact integers; z applies the +-1 continuity "
    "correction by explicit sign CASE (no negative division) and one "
    "fixed IEEE expression. One calendar-bounded shuffle.",
)
def orders_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.month(F.col("o_orderdate").cast("date")).cast("bigint").alias("mo"),
        F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias("yr"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    a = m.select("mo", F.col("yr").alias("yr_a"), F.col("v").alias("va"))
    b = m.select("mo", F.col("yr").alias("yr_b"), F.col("v").alias("vb"))
    pairs = a.join(b, "mo").filter(F.col("yr_b") > F.col("yr_a"))
    s_by_m = pairs.groupBy("mo").agg(
        F.sum(
            F.when(F.col("vb") > F.col("va"), 1)
            .when(F.col("vb") < F.col("va"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_m")
    )
    nt = m.groupBy("mo").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        m.groupBy("mo", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("mo")
        .agg(
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
            .cast("bigint")
            .alias("tcorr")
        )
    )
    var_by_m = nt.join(ties, "mo", "left").select(
        "mo",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.coalesce(F.col("tcorr"), F.lit(0))
        ).alias("var18"),
    )
    stot = s_by_m.agg(
        F.sum("s_m").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
    )
    vtot = var_by_m.agg(F.sum("var18").cast("bigint").alias("var18"))
    acc = stot.crossJoin(F.broadcast(vtot))
    return acc.select(
        "n_strata",
        F.col("s").alias("s_total"),
        F.col("var18").alias("var18_total"),
        F.expr(
            "CASE WHEN abs(s) <= 1 OR var18 <= 0 THEN 0.0"
            " ELSE (CASE WHEN s > 0 THEN 1.0 ELSE -1.0 END)"
            " * CAST(abs(s) - 1 AS DOUBLE)"
            " / sqrt(CAST(var18 AS DOUBLE) / 18.0) END"
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# text_burrows_delta — stylometric Delta distance between sources
# ---------------------------------------------------------------------------

BURROWS_TOPK = 20  # marker-word panel size (the classical 'most frequent
# words' set); bounded so the source x word grid stays literal-sized


@register(
    "text_burrows_delta",
    oracle=f"""
    WITH tok AS (
      SELECT source, t.w
      FROM documents,
           unnest(list_filter(string_split(lower(text), ' '),
                              x -> x != '')) AS t(w)
    ),
    stot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY source
    ),
    wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ),
    topw AS (
      SELECT w FROM wc ORDER BY c DESC, w ASC LIMIT {BURROWS_TOPK}
    ),
    sw AS (
      SELECT s.source, t.w,
             CAST(coalesce(x.c, 0) AS BIGINT) AS c, s.n
      FROM stot s CROSS JOIN topw t
      LEFT JOIN (SELECT source, w, CAST(count(*) AS BIGINT) AS c
                 FROM tok GROUP BY source, w) x
        ON x.source = s.source AND x.w = t.w
    ),
    f AS (
      SELECT source, w, (1000000 * c) // n AS fppm FROM sw
    ),
    mom AS (
      SELECT w, CAST(count(*) AS BIGINT) AS ns,
             CAST(sum(fppm) AS BIGINT) AS sf,
             CAST(sum(fppm * fppm) AS BIGINT) AS sff
      FROM f GROUP BY w
    ),
    z AS (
      SELECT f.source, f.w, f.fppm, m.ns,
             m.ns * m.sff - m.sf * m.sf AS vnum
      FROM f JOIN mom m ON m.w = f.w
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(sum(CAST(floor(
               CAST(abs(a.fppm - b.fppm) * a.ns AS DOUBLE) * 1000000.0
               / sqrt(CAST(greatest(a.vnum, 1) AS DOUBLE))
             ) AS BIGINT)) AS BIGINT) AS dsum,
             CAST(count(*) AS BIGINT) AS k
      FROM z a JOIN z b ON b.w = a.w AND b.source > a.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(dsum // k AS BIGINT) AS delta_micro,
           CAST(dsum // k AS DOUBLE) / 1000000.0 AS burrows_delta
    FROM pairs ORDER BY src_a, src_b
    """,
    doc=f"Burrows' Delta stylometric distance between every pair of "
    "document sources: z-score each source's relative frequency of the "
    f"{BURROWS_TOPK} most frequent corpus words (count-desc, word-asc "
    "tie-break — the text_dale_chall panel rule) against the across-"
    "source mean/sd, then average the absolute z differences — THE "
    "standard authorship/registry-drift measure, here flagging crawl "
    "sources whose function-word profile diverges (template farms, "
    "machine translation) before any content-level dedup runs. "
    "Frequencies quantize to exact ppm integers (floor division by "
    "the source token count); per-word variance numerators "
    "S*sum(f^2) - (sum f)^2 are exact integers over the <= 20 "
    "sources; each pair-word term |f_a - f_b|*S*1e6/sqrt(vnum) is "
    "floor-quantized to an exact micro-unit integer — the sqrt and "
    "division see only integers below 2^53, so the two IEEE ops are "
    "bit-identical in both engines and the floor lands the same "
    "integer; the Delta is then an integer mean over the word panel. "
    "Fact work is one tokenize + two keyed rollups; the grid, "
    "moments, and the source-pair join are all bounded by "
    f"(sources x {BURROWS_TOPK}).",
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    tok = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("w"),
    )
    stot = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wc = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    topw = (
        wc.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(BURROWS_TOPK)
        .select("w")
    )
    swc = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = stot.join(F.broadcast(topw.withColumnRenamed("w", "gw")), F.lit(True))
    sw = grid.join(
        swc,
        (grid.source == swc.source) & (grid.gw == swc.w),
        "left",
    ).select(
        grid.source.alias("source"),
        F.col("gw").alias("w"),
        F.coalesce(swc.c, F.lit(0)).cast("bigint").alias("c"),
        "n",
    )
    f = sw.select(
        "source", "w", F.expr("(1000000 * c) div n").alias("fppm")
    )
    mom = f.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("fppm").cast("bigint").alias("sf"),
        F.sum(F.expr("fppm * fppm")).cast("bigint").alias("sff"),
    )
    z = f.join(F.broadcast(mom), "w").select(
        "source",
        "w",
        "fppm",
        "ns",
        F.expr("ns * sff - sf * sf").alias("vnum"),
    )
    za = z.select(
        F.col("w").alias("w"),
        F.col("source").alias("src_a"),
        F.col("fppm").alias("fa"),
        "ns",
        "vnum",
    )
    zb = z.select(
        F.col("w").alias("w"),
        F.col("source").alias("src_b"),
        F.col("fppm").alias("fb"),
    )
    pairs = (
        za.join(zb, "w")
        .filter(F.col("src_b") > F.col("src_a"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor("
                    "CAST(abs(fa - fb) * ns AS DOUBLE) * 1000000.0"
                    " / sqrt(CAST(greatest(vnum, 1) AS DOUBLE))"
                    ") AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("dsum"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )
    return pairs.select(
        "src_a",
        "src_b",
        F.expr("CAST(dsum div k AS BIGINT)").alias("delta_micro"),
        (
            F.expr("CAST(dsum div k AS BIGINT)").cast("double")
            / F.lit(1000000.0)
        ).alias("burrows_delta"),
    ).orderBy("src_a", "src_b")


# ---------------------------------------------------------------------------
# orders_tsb_forecast — Teunter-Syntetos-Babai intermittent demand
# ---------------------------------------------------------------------------

TSB_TOPK = 25  # report the highest-traffic parts (bounded output)


@register(
    "orders_tsb_forecast",
    oracle=f"""
    WITH dem AS (
      SELECT l_partkey AS part,
             date_trunc('month', CAST(l_shipdate AS DATE)) AS mo,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem WHERE l_shipdate IS NOT NULL
      GROUP BY 1, 2
    ),
    months AS (
      SELECT DISTINCT date_trunc('month', CAST(l_shipdate AS DATE)) AS mo
      FROM lineitem WHERE l_shipdate IS NOT NULL
    ),
    cand AS (
      SELECT part, CAST(count(*) AS BIGINT) AS n_demands
      FROM dem GROUP BY part HAVING count(*) >= 2
      ORDER BY n_demands DESC, part ASC LIMIT {TSB_TOPK}
    ),
    grid AS (
      SELECT c.part, c.n_demands, m.mo,
             CAST(CASE WHEN d.q IS NULL THEN 0 ELSE 1 END AS BIGINT)
               AS occ,
             CAST(coalesce(d.q, 0) AS BIGINT) AS q
      FROM cand c CROSS JOIN months m
      LEFT JOIN dem d ON d.part = c.part AND d.mo = m.mo
    ),
    series AS (
      SELECT part, n_demands,
             CAST(count(*) AS BIGINT) AS n_periods,
             list(struct_pack(occ := occ, q := q) ORDER BY mo) AS xs,
             list(q ORDER BY mo) FILTER (WHERE q > 0) AS dq
      FROM grid GROUP BY part, n_demands
    ),
    folded AS (
      SELECT part, n_demands, n_periods,
             list_reduce(
               list_prepend(
                 struct_pack(p := CAST(xs[1].occ * 1000 AS BIGINT),
                             z := CAST(dq[1] * 1000 AS BIGINT)),
                 list_transform(xs[2:],
                                e -> struct_pack(p := CAST(e.occ AS BIGINT),
                                                 z := CAST(e.q AS BIGINT)))),
               (acc, x) -> struct_pack(
                 p := CAST((x.p * 1000 + 7 * acc.p + 4) // 8 AS BIGINT),
                 z := CAST(CASE WHEN x.p = 1
                           THEN (x.z * 1000 + 3 * acc.z + 2) // 4
                           ELSE acc.z END AS BIGINT))
             ) AS st
      FROM series
    )
    SELECT part AS partkey, n_demands, n_periods,
           st.p AS prob_x1000, st.z AS size_x1000,
           CAST(st.p AS DOUBLE) * CAST(st.z AS DOUBLE) / 1000000.0
             AS tsb_rate_per_month
    FROM folded
    ORDER BY n_demands DESC, partkey
    """,
    doc=f"Teunter-Syntetos-Babai (TSB) intermittent-demand forecast per "
    "part: exponentially smooth the demand PROBABILITY (alpha = 1/8) "
    "over EVERY month — including the zero months Croston skips — and "
    "the demand SIZE (alpha = 1/4) over demand months only; forecast "
    "= probability x size. TSB is the production fix for Croston/SBA "
    "obsolescence bias: when an item stops moving, orders_croston's "
    "rate stays frozen at its last value while TSB decays to zero — "
    "the behavior an inventory pipeline needs for end-of-life SKUs. "
    "The fold is FULLY INTEGER in milli-units: probability update "
    "(occ*1000 + 7p + 4) div 8 and size update (q*1000 + 3z + 2) div "
    "4 are round-half-up dyadic recurrences (the orders_croston "
    "discipline), replayed bit-for-bit by the oracle's list_reduce "
    "with a prepended init (probability seeds at occ_1, size at the "
    "first demand month's quantity). The dense part x month grid is "
    f"bounded ({TSB_TOPK} candidate parts x ~84 months, built by a "
    "bounded cross join on two tiny relations); the fold runs inside "
    "one partitioned aggregation; top-parts ship via "
    "TakeOrderedAndProject.",
)
def orders_tsb_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    dem = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("mo"),
    ).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q")
    )
    months = li.select(
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("mo")
    ).distinct()
    cand = (
        dem.groupBy("part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_demands"))
        .filter(F.col("n_demands") >= 2)
        .orderBy(F.col("n_demands").desc(), F.col("part").asc())
        .limit(TSB_TOPK)
    )
    grid = (
        cand.join(F.broadcast(months), F.lit(True))
        .join(dem, ["part", "mo"], "left")
        .select(
            "part",
            "n_demands",
            "mo",
            F.when(F.col("q").isNull(), 0).otherwise(1)
            .cast("bigint")
            .alias("occ"),
            F.coalesce(F.col("q"), F.lit(0)).cast("bigint").alias("q"),
        )
    )
    series = grid.groupBy("part", "n_demands").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_periods"),
        F.expr(
            "array_sort(collect_list(struct(mo, occ, q)),"
            " (l, r) -> CASE WHEN l.mo < r.mo THEN -1"
            " WHEN l.mo > r.mo THEN 1 ELSE 0 END)"
        ).alias("xs"),
    )
    fold = F.expr(
        "aggregate("
        "  slice(xs, 2, size(xs) - 1),"
        "  named_struct("
        "    'p', element_at(xs, 1).occ * 1000,"
        "    'z', element_at(filter(xs, e -> e.q > 0), 1).q * 1000),"
        "  (acc, x) -> named_struct("
        "    'p', CAST((x.occ * 1000 + 7 * acc.p + 4) div 8 AS BIGINT),"
        "    'z', CAST(CASE WHEN x.occ = 1"
        "         THEN (x.q * 1000 + 3 * acc.z + 2) div 4"
        "         ELSE acc.z END AS BIGINT)))"
    )
    folded = series.select(
        F.col("part").alias("partkey"),
        "n_demands",
        "n_periods",
        fold.getField("p").alias("prob_x1000"),
        fold.getField("z").alias("size_x1000"),
    )
    return folded.select(
        "partkey",
        "n_demands",
        "n_periods",
        "prob_x1000",
        "size_x1000",
        (
            F.col("prob_x1000").cast("double")
            * F.col("size_x1000").cast("double")
            / F.lit(1000000.0)
        ).alias("tsb_rate_per_month"),
    ).orderBy(F.col("n_demands").desc(), F.col("partkey").asc())


# ---------------------------------------------------------------------------
# orders_rmst — restricted mean survival time from the KM frame
# ---------------------------------------------------------------------------


@register(
    "orders_rmst",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    firsts AS (SELECT o_custkey, o_orderdate AS t1 FROM o2 WHERE rn = 1),
    seconds AS (SELECT o_custkey, o_orderdate AS t2 FROM o2 WHERE rn = 2),
    mx AS (SELECT max(o_orderdate) AS tmax FROM orders),
    obs AS (
      SELECT CAST(CASE WHEN s.t2 IS NOT NULL
                  THEN date_diff('day', CAST(f.t1 AS DATE), CAST(s.t2 AS DATE))
                  ELSE date_diff('day', CAST(f.t1 AS DATE), CAST(m.tmax AS DATE))
             END AS BIGINT) AS dur,
             CAST(CASE WHEN s.t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS ev
      FROM firsts f LEFT JOIN seconds s ON s.o_custkey = f.o_custkey, mx m
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM obs),
    g AS (
      SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM obs GROUP BY 1
    ),
    risk AS (
      SELECT dur, d,
             CAST(tot.n0 - coalesce(sum(leaving) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM g CROSS JOIN tot
    ),
    seq AS (
      SELECT CAST(count(*) AS BIGINT) AS n_event_times,
             list(struct_pack(dur := dur, d := d, n := n_risk)
                  ORDER BY dur) AS xs
      FROM risk WHERE d > 0
    ),
    folded AS (
      SELECT n_event_times,
             list_reduce(
               list_prepend(
                 -- field order matters: DuckDB's list_reduce + struct_pack
                 -- updates the accumulator FIELD BY FIELD in pack order
                 -- (the orders_holt_winters engine hazard), so the area
                 -- accumulators that read acc.s/acc.pd are packed BEFORE
                 -- pd and s are overwritten
                 struct_pack(r90 := CAST(0 AS BIGINT),
                             r365 := CAST(0 AS BIGINT),
                             r1825 := CAST(0 AS BIGINT),
                             pd := CAST(0 AS BIGINT),
                             s := CAST(1000000000 AS BIGINT)),
                 list_transform(xs, e -> struct_pack(
                   r90 := e.n, r365 := CAST(0 AS BIGINT),
                   r1825 := CAST(0 AS BIGINT), pd := e.dur, s := e.d))),
               (acc, x) -> struct_pack(
                 r90 := CAST(acc.r90 + acc.s
                   * (least(x.pd, 90) - least(acc.pd, 90)) AS BIGINT),
                 r365 := CAST(acc.r365 + acc.s
                   * (least(x.pd, 365) - least(acc.pd, 365)) AS BIGINT),
                 r1825 := CAST(acc.r1825 + acc.s
                   * (least(x.pd, 1825) - least(acc.pd, 1825)) AS BIGINT),
                 pd := x.pd,
                 s := CAST((2 * acc.s * (x.r90 - x.s) + x.r90)
                           // (2 * x.r90) AS BIGINT))
             ) AS st
      FROM seq
    )
    SELECT n_event_times,
           st.s AS survival_final_nano,
           CAST(st.r90 + st.s * greatest(90 - least(st.pd, 90), 0)
                AS BIGINT) AS rmst90_nanodays,
           CAST(st.r365 + st.s * greatest(365 - least(st.pd, 365), 0)
                AS BIGINT) AS rmst365_nanodays,
           CAST(st.r1825 + st.s * greatest(1825 - least(st.pd, 1825), 0)
                AS BIGINT) AS rmst1825_nanodays,
           CAST(CAST(st.r365 + st.s * greatest(365 - least(st.pd, 365), 0)
                AS BIGINT) AS DOUBLE) / 1000000000.0 AS rmst365_days
    FROM folded
    """,
    doc="Restricted mean survival time (RMST) of the repeat-purchase "
    "process at horizons 90/365/1825 days — the area under the "
    "Kaplan-Meier curve up to tau, i.e. the expected number of days a "
    "new customer stays 'single-order' within the horizon: THE "
    "recommended survival summary when hazards are non-proportional "
    "(a single number with a direct business reading, where "
    "orders_survival_km is the whole curve and orders_nelson_aalen "
    "the cumulative hazard). The KM product is replayed as a FULLY "
    "INTEGER fold in nano-units over the event-time sequence (same "
    "risk-set frame as orders_survival_km): s' = (2s(n-d) + n) div "
    "(2n) is the orders_nelson_aalen half-away integer division, and "
    "each step accumulates s * (clamped duration gap) exactly — no "
    "exp-sum-ln, no float product, so the oracle's list_reduce "
    "replays it bit-for-bit (init prepended; the incoming event rows "
    "carry (dur, d, n_risk) in renamed struct fields). The event "
    "sequence is duration-cardinality-bounded (~600 rows) and folds "
    "inside one scalar aggregation; fact work is the one per-customer "
    "window.",
)
def orders_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o2 = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w2).alias("rn")
    )
    firsts = o2.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderdate").alias("t1")
    )
    seconds = o2.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("o_orderdate").alias("t2")
    )
    mx = o.agg(F.max("o_orderdate").alias("tmax"))
    obs = (
        firsts.join(seconds, "o_custkey", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("t2").isNotNull(),
                F.datediff(F.col("t2").cast("date"), F.col("t1").cast("date")),
            )
            .otherwise(
                F.datediff(
                    F.col("tmax").cast("date"), F.col("t1").cast("date")
                )
            )
            .cast("bigint")
            .alias("dur"),
            F.when(F.col("t2").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("ev"),
        )
    )
    tot = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n0"))
    g = obs.groupBy("dur").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    w_lo = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = g.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        (
            F.col("n0")
            - F.coalesce(F.sum("leaving").over(w_lo), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    seq = risk.filter(F.col("d") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
        F.expr(
            "array_sort(collect_list(struct(dur, d, n_risk)),"
            " (l, r) -> CASE WHEN l.dur < r.dur THEN -1"
            " WHEN l.dur > r.dur THEN 1 ELSE 0 END)"
        ).alias("xs"),
    )
    fold = F.expr(
        "aggregate("
        "  xs,"
        "  named_struct("
        "    'pd', CAST(0 AS BIGINT), 's', CAST(1000000000 AS BIGINT),"
        "    'r90', CAST(0 AS BIGINT), 'r365', CAST(0 AS BIGINT),"
        "    'r1825', CAST(0 AS BIGINT)),"
        "  (acc, x) -> named_struct("
        "    'pd', x.dur,"
        "    's', CAST((2 * acc.s * (x.n_risk - x.d) + x.n_risk)"
        "         div (2 * x.n_risk) AS BIGINT),"
        "    'r90', CAST(acc.r90 + acc.s"
        "      * (least(x.dur, 90) - least(acc.pd, 90)) AS BIGINT),"
        "    'r365', CAST(acc.r365 + acc.s"
        "      * (least(x.dur, 365) - least(acc.pd, 365)) AS BIGINT),"
        "    'r1825', CAST(acc.r1825 + acc.s"
        "      * (least(x.dur, 1825) - least(acc.pd, 1825)) AS BIGINT)))"
    )
    folded = seq.select("n_event_times", fold.alias("st"))
    return folded.select(
        "n_event_times",
        F.col("st.s").alias("survival_final_nano"),
        F.expr(
            "CAST(st.r90 + st.s * greatest(90 - least(st.pd, 90), 0)"
            " AS BIGINT)"
        ).alias("rmst90_nanodays"),
        F.expr(
            "CAST(st.r365 + st.s * greatest(365 - least(st.pd, 365), 0)"
            " AS BIGINT)"
        ).alias("rmst365_nanodays"),
        F.expr(
            "CAST(st.r1825 + st.s * greatest(1825 - least(st.pd, 1825), 0)"
            " AS BIGINT)"
        ).alias("rmst1825_nanodays"),
        F.expr(
            "CAST(CAST(st.r365 + st.s * greatest(365 - least(st.pd, 365), 0)"
            " AS BIGINT) AS DOUBLE) / 1000000000.0"
        ).alias("rmst365_days"),
    )


# ---------------------------------------------------------------------------
# agg_stuart_maxwell — marginal homogeneity of priority drift (3x3)
# ---------------------------------------------------------------------------


@register(
    "agg_stuart_maxwell",
    oracle="""
    WITH fl AS (
      SELECT o_custkey,
             min_by(o_orderpriority, o_orderkey) AS p_first,
             max_by(o_orderpriority, o_orderkey) AS p_last
      FROM orders GROUP BY o_custkey
    ),
    c3 AS (
      SELECT CASE WHEN p_first IN ('1-URGENT', '2-HIGH') THEN 1
                  WHEN p_first = '3-MEDIUM' THEN 2 ELSE 3 END AS a,
             CASE WHEN p_last IN ('1-URGENT', '2-HIGH') THEN 1
                  WHEN p_last = '3-MEDIUM' THEN 2 ELSE 3 END AS b
      FROM fl
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM c3 GROUP BY a, b
    ),
    piv AS (
      SELECT
        CAST(coalesce(sum(CASE WHEN a = 1 THEN n END), 0)
             - coalesce(sum(CASE WHEN b = 1 THEN n END), 0) AS BIGINT) AS d1,
        CAST(coalesce(sum(CASE WHEN a = 2 THEN n END), 0)
             - coalesce(sum(CASE WHEN b = 2 THEN n END), 0) AS BIGINT) AS d2,
        CAST(coalesce(sum(CASE WHEN a = 3 THEN n END), 0)
             - coalesce(sum(CASE WHEN b = 3 THEN n END), 0) AS BIGINT) AS d3,
        CAST(coalesce(sum(CASE WHEN (a = 1 AND b = 2) OR (a = 2 AND b = 1)
             THEN n END), 0) AS BIGINT) AS m12,
        CAST(coalesce(sum(CASE WHEN (a = 1 AND b = 3) OR (a = 3 AND b = 1)
             THEN n END), 0) AS BIGINT) AS m13,
        CAST(coalesce(sum(CASE WHEN (a = 2 AND b = 3) OR (a = 3 AND b = 2)
             THEN n END), 0) AS BIGINT) AS m23,
        CAST(sum(n) AS BIGINT) AS n_customers
      FROM cells
    )
    SELECT n_customers, d1, d2, d3, m12, m13, m23,
           CAST((1000000 * (CAST(d1 AS HUGEINT) * d1 * m23
                            + CAST(d2 AS HUGEINT) * d2 * m13
                            + CAST(d3 AS HUGEINT) * d3 * m12))
                // greatest(CAST(m12 AS HUGEINT) * m13
                            + CAST(m12 AS HUGEINT) * m23
                            + CAST(m13 AS HUGEINT) * m23, 1) AS BIGINT)
             AS chi2_micro
    FROM piv
    """,
    doc="Stuart-Maxwell test of MARGINAL homogeneity for first-vs-last "
    "order priority per customer, on the high/medium/low collapse "
    "(1-URGENT+2-HIGH / 3-MEDIUM / 4+5): did the overall priority MIX "
    "shift between a customer's first and last order? The complement "
    "of agg_bowker_symmetry (Bowker asks whether individual i->j "
    "flows balance; Stuart-Maxwell asks whether the margins moved — "
    "a table can fail one and pass the other). For k = 3 the "
    "chi-square has the exact closed form (d1^2 m23 + d2^2 m13 + "
    "d3^2 m12)/(m12 m13 + m12 m23 + m13 m23), df = 2, with d_i = "
    "row - column marginal diffs and m_ij the symmetrized "
    "off-diagonal counts — all exact integers from ONE conditional "
    "pivot of the 9-cell transition table; one non-negative "
    "floor-division lands micro-units. One customer-keyed "
    "aggregation; no windows, no joins.",
)
def agg_stuart_maxwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    fl = o.groupBy("o_custkey").agg(
        F.expr("min_by(o_orderpriority, o_orderkey)").alias("p_first"),
        F.expr("max_by(o_orderpriority, o_orderkey)").alias("p_last"),
    )
    c3 = fl.select(
        F.expr(
            "CASE WHEN p_first IN ('1-URGENT', '2-HIGH') THEN 1"
            " WHEN p_first = '3-MEDIUM' THEN 2 ELSE 3 END"
        ).alias("a"),
        F.expr(
            "CASE WHEN p_last IN ('1-URGENT', '2-HIGH') THEN 1"
            " WHEN p_last = '3-MEDIUM' THEN 2 ELSE 3 END"
        ).alias("b"),
    )
    cells = c3.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    piv = cells.agg(
        F.expr(
            "CAST(coalesce(sum(CASE WHEN a = 1 THEN n END), 0)"
            " - coalesce(sum(CASE WHEN b = 1 THEN n END), 0) AS BIGINT)"
        ).alias("d1"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN a = 2 THEN n END), 0)"
            " - coalesce(sum(CASE WHEN b = 2 THEN n END), 0) AS BIGINT)"
        ).alias("d2"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN a = 3 THEN n END), 0)"
            " - coalesce(sum(CASE WHEN b = 3 THEN n END), 0) AS BIGINT)"
        ).alias("d3"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN (a = 1 AND b = 2)"
            " OR (a = 2 AND b = 1) THEN n END), 0) AS BIGINT)"
        ).alias("m12"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN (a = 1 AND b = 3)"
            " OR (a = 3 AND b = 1) THEN n END), 0) AS BIGINT)"
        ).alias("m13"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN (a = 2 AND b = 3)"
            " OR (a = 3 AND b = 2) THEN n END), 0) AS BIGINT)"
        ).alias("m23"),
        F.sum("n").cast("bigint").alias("n_customers"),
    )
    return piv.select(
        "n_customers",
        "d1",
        "d2",
        "d3",
        "m12",
        "m13",
        "m23",
        F.expr(
            "CAST((1000000 * (CAST(d1 AS DECIMAL(38,0)) * d1 * m23"
            " + CAST(d2 AS DECIMAL(38,0)) * d2 * m13"
            " + CAST(d3 AS DECIMAL(38,0)) * d3 * m12))"
            " div greatest(CAST(m12 AS DECIMAL(38,0)) * m13"
            " + CAST(m12 AS DECIMAL(38,0)) * m23"
            " + CAST(m13 AS DECIMAL(38,0)) * m23, 1) AS BIGINT)"
        ).alias("chi2_micro"),
    )


# ---------------------------------------------------------------------------
# agg_dunn_posthoc — pairwise rank comparison after Kruskal-Wallis
# ---------------------------------------------------------------------------


@register(
    "agg_dunn_posthoc",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS v, l_returnflag AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v, g, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY v, g
    ),
    vc AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cells GROUP BY v
    ),
    pos AS (
      SELECT v, cv,
             2 * coalesce(sum(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) + cv + 1 AS a2
      FROM vc
    ),
    gr AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(c AS HUGEINT) * p.a2) AS HUGEINT) AS s2
      FROM cells JOIN pos p USING (v) GROUP BY g
    ),
    tot AS (
      SELECT CAST(sum(cv) AS BIGINT) AS nn,
             CAST(sum(CAST(cv AS HUGEINT) * cv * cv - cv) AS HUGEINT) AS tie
      FROM vc
    ),
    vv AS (
      SELECT nn,
             (CAST(nn AS HUGEINT) * (nn + 1) * (nn - 1) - tie)
               // (nn - 1) AS vq
      FROM tot
    ),
    pairs AS (
      SELECT a.g AS g_a, bb.g AS g_b, a.n AS n_a, bb.n AS n_b,
             v.vq,
             bb.n * a.s2 - a.n * bb.s2 AS dnum
      FROM gr a JOIN gr bb ON bb.g > a.g CROSS JOIN vv v
    ),
    q AS (
      SELECT g_a, g_b, n_a, n_b,
             CAST(CASE WHEN dnum >= 0 THEN dnum // 1073741824
                  ELSE -((-dnum) // 1073741824) END AS BIGINT) AS dq,
             CAST((CAST(n_a AS HUGEINT) * n_b * (n_a + n_b) * vq)
                  // 1152921504606846976 AS BIGINT) AS bq
      FROM pairs
    )
    SELECT g_a AS group_a, g_b AS group_b, n_a, n_b,
           dq AS rankdiff_q30,
           CAST(dq AS DOUBLE) * sqrt(12.0)
             / (2.0 * sqrt(CAST(greatest(bq, 1) AS DOUBLE))) AS z_score
    FROM q ORDER BY g_a, g_b
    """,
    doc="Dunn's post-hoc pairwise rank test between the three return "
    "flags on line quantity — the follow-up agg_kruskal_wallis needs: "
    "KW says SOME group differs; Dunn says WHICH pairs, using the "
    "pooled-rank variance with tie correction (NOT pairwise "
    "Mann-Whitney, which re-ranks per pair and breaks the family "
    "error control). Doubled pooled midranks a2 = 2*lo + c + 1 live "
    "on the ~50-value quantity domain; per-group doubled rank sums "
    "S2_g, the cross-multiplied mean-rank difference n_b*S2_a - "
    "n_a*S2_b, and the tie-corrected variance core vq = (N(N+1)(N-1) "
    "- sum(t^3 - t)) div (N-1) are exact HUGEINT/DECIMAL integers "
    "(vq's pre-division keeps the pair product n_a n_b (n_a+n_b) vq "
    "inside DECIMAL(38,0) to sf~10 — the sf0.1 probe caught the "
    "un-pre-divided form overflowing int64 after reduction). The "
    "signed difference quantizes by 2^30 via explicit sign-split and "
    "the variance product by 2^60 (the scales cancel: 2^30 = "
    "sqrt(2^60)), so z = dq*sqrt(12)/(2*sqrt(bq)) is one fixed IEEE "
    "expression over sub-2^53 integers. One domain-sized shuffle; "
    "the pair relation is 3 rows.",
)
def agg_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("v"),
        F.col("l_returnflag").alias("g"),
    )
    cells = b.groupBy("v", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    vc = cells.groupBy("v").agg(F.sum("c").cast("bigint").alias("cv"))
    w_lo = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pos = vc.select(
        "v",
        "cv",
        (
            2 * F.coalesce(F.sum("cv").over(w_lo), F.lit(0))
            + F.col("cv")
            + F.lit(1)
        ).alias("a2"),
    )
    gr = (
        cells.join(F.broadcast(pos.select("v", "a2")), "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * a2")).alias("s2"),
        )
    )
    tot = vc.agg(
        F.sum("cv").cast("bigint").alias("nn"),
        _dsum(F.expr("CAST(cv AS DECIMAL(38,0)) * cv * cv - cv")).alias(
            "tie"
        ),
    )
    vv = tot.select(
        "nn",
        F.expr(
            "(CAST(nn AS DECIMAL(38,0)) * (nn + 1) * (nn - 1) - tie)"
            " div (nn - 1)"
        ).alias("vq"),
    )
    ga = gr.select(
        F.col("g").alias("g_a"), F.col("n").alias("n_a"),
        F.col("s2").alias("s2_a"),
    )
    gb = gr.select(
        F.col("g").alias("g_b"), F.col("n").alias("n_b"),
        F.col("s2").alias("s2_b"),
    )
    pairs = (
        ga.join(F.broadcast(gb), F.col("g_b") > F.col("g_a"))
        .crossJoin(F.broadcast(vv))
        .select(
            "g_a",
            "g_b",
            "n_a",
            "n_b",
            F.expr("n_b * s2_a - n_a * s2_b").alias("dnum"),
            "vq",
        )
    )
    q = pairs.select(
        "g_a",
        "g_b",
        "n_a",
        "n_b",
        F.expr(
            "CAST(CASE WHEN dnum >= 0 THEN dnum div 1073741824"
            " ELSE -((-dnum) div 1073741824) END AS BIGINT)"
        ).alias("dq"),
        F.expr(
            "CAST((CAST(n_a AS DECIMAL(38,0)) * n_b * (n_a + n_b) * vq)"
            " div 1152921504606846976 AS BIGINT)"
        ).alias("bq"),
    )
    return q.select(
        F.col("g_a").alias("group_a"),
        F.col("g_b").alias("group_b"),
        "n_a",
        "n_b",
        F.col("dq").alias("rankdiff_q30"),
        F.expr(
            "CAST(dq AS DOUBLE) * sqrt(12.0)"
            " / (2.0 * sqrt(CAST(greatest(bq, 1) AS DOUBLE)))"
        ).alias("z_score"),
    ).orderBy("group_a", "group_b")


# ---------------------------------------------------------------------------
# agg_nemenyi_friedman — critical-difference posthoc on month rankings
# ---------------------------------------------------------------------------

NEMENYI_Q2_MICRO = 10679824  # q_{0.05, k=12, inf}^2 = 3.268^2 in 1e-6 units


@register(
    "agg_nemenyi_friedman",
    oracle=f"""
    WITH m AS (
      SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
             CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS mo,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS v
      FROM lineitem WHERE l_shipdate IS NOT NULL
      GROUP BY 1, 2
    ),
    yrs AS (SELECT yr FROM m GROUP BY yr HAVING count(*) = 12),
    f AS (SELECT m.* FROM m JOIN yrs USING (yr)),
    ranked AS (
      SELECT yr, mo,
             2 * (SELECT count(*) FROM f b
                  WHERE b.yr = f.yr AND b.v < f.v)
               + (SELECT count(*) FROM f b
                  WHERE b.yr = f.yr AND b.v = f.v) + 1 AS r2
      FROM f
    ),
    rsum AS (
      SELECT mo, CAST(sum(r2) AS BIGINT) AS r2sum,
             (SELECT CAST(count(*) AS BIGINT) FROM yrs) AS m_blk
      FROM ranked GROUP BY mo
    ),
    pairs AS (
      SELECT a.mo AS mo_a, b.mo AS mo_b, a.m_blk,
             abs(a.r2sum - b.r2sum) AS dr2
      FROM rsum a JOIN rsum b ON b.mo > a.mo
    )
    SELECT mo_a AS month_a, mo_b AS month_b, dr2 AS rankdiff_x2m,
           CAST(dr2 AS DOUBLE) / (2.0 * CAST(m_blk AS DOUBLE))
             AS mean_rank_diff,
           CAST(CASE WHEN CAST(dr2 AS HUGEINT) * dr2 * 1000000
                     > 4 * CAST(m_blk AS HUGEINT) * 26 * {NEMENYI_Q2_MICRO}
                THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM pairs ORDER BY mo_a, mo_b
    """,
    doc="Nemenyi critical-difference post-hoc on the agg_kendall_w / "
    "agg_friedman_test frame: which MONTH PAIRS differ in their "
    "within-year volume rank once Friedman has rejected "
    "exchangeability? A pair is significant when the mean-rank "
    "difference exceeds CD = q * sqrt(k(k+1)/(6m)) with k = 12 and "
    "q_(0.05,12,inf) = 3.268 (the studentized-range constant, a "
    "fixed literal) — the standard seasonal-pair localization that "
    "turns the omnibus test into a calendar heatmap. The decision is "
    "EXACT: |dR2|^2 * 1e6 > 4m * 26 * q^2_micro cross-multiplies the "
    "doubled integer rank sums against the squared critical "
    "difference, so no float ever decides significance (the display "
    "mean-rank difference is one division). All relations after the "
    "month rollup are <= 66 pair rows; within-year midranks come "
    "from bounded 12-cell windows.",
)
def agg_nemenyi_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    m = li.groupBy(
        F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("yr"),
        F.month(F.col("l_shipdate").cast("date")).cast("bigint").alias("mo"),
    ).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("v")
    )
    yrs = m.groupBy("yr").agg(F.count(F.lit(1)).alias("nmo")).filter(
        F.col("nmo") == 12
    )
    f = m.join(yrs.select("yr"), "yr")
    w_lo = (
        Window.partitionBy("yr")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cells = f.groupBy("yr", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.collect_list("mo").alias("mos"),
    )
    pos = cells.select(
        "yr",
        "c",
        "mos",
        (
            2 * F.coalesce(F.sum("c").over(w_lo), F.lit(0))
            + F.col("c")
            + F.lit(1)
        ).alias("r2"),
    )
    ranked = pos.select("yr", "r2", F.explode("mos").alias("mo"))
    mblk = yrs.agg(F.count(F.lit(1)).cast("bigint").alias("m_blk"))
    rsum = (
        ranked.groupBy("mo")
        .agg(F.sum("r2").cast("bigint").alias("r2sum"))
        .crossJoin(F.broadcast(mblk))
    )
    ra = rsum.select(
        F.col("mo").alias("mo_a"), F.col("r2sum").alias("ra"), "m_blk"
    )
    rb = rsum.select(F.col("mo").alias("mo_b"), F.col("r2sum").alias("rb"))
    pairs = ra.join(F.broadcast(rb), F.col("mo_b") > F.col("mo_a")).select(
        "mo_a",
        "mo_b",
        "m_blk",
        F.expr("abs(ra - rb)").alias("dr2"),
    )
    return pairs.select(
        F.col("mo_a").alias("month_a"),
        F.col("mo_b").alias("month_b"),
        F.col("dr2").alias("rankdiff_x2m"),
        (
            F.col("dr2").cast("double")
            / (F.lit(2.0) * F.col("m_blk").cast("double"))
        ).alias("mean_rank_diff"),
        F.expr(
            "CAST(CASE WHEN CAST(dr2 AS DECIMAL(38,0)) * dr2 * 1000000"
            f" > 4 * CAST(m_blk AS DECIMAL(38,0)) * 26 * {NEMENYI_Q2_MICRO}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("significant"),
    ).orderBy("month_a", "month_b")


# ---------------------------------------------------------------------------
# agg_games_howell — pairwise Welch comparisons across priorities
# ---------------------------------------------------------------------------


@register(
    "agg_games_howell",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders
    ),
    gr AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
      FROM b GROUP BY g
    ),
    v AS (
      SELECT g, n, s,
             CAST(((n * ss - s * s) // (n * (n - 1))) // n AS BIGINT)
               AS vn
      FROM gr WHERE n >= 2
    ),
    pairs AS (
      SELECT a.g AS g_a, bb.g AS g_b, a.n AS n_a, bb.n AS n_b,
             a.vn AS vn_a, bb.vn AS vn_b,
             bb.n * a.s - a.n * bb.s AS dnum
      FROM v a JOIN v bb ON bb.g > a.g
    ),
    q AS (
      SELECT g_a, g_b, n_a, n_b, vn_a, vn_b,
             CAST(CASE WHEN dnum >= 0
                  THEN (100 * dnum) // (CAST(n_a AS HUGEINT) * n_b)
                  ELSE -((100 * -dnum) // (CAST(n_a AS HUGEINT) * n_b))
                  END AS BIGINT) AS mudiff_c100
      FROM pairs
    )
    SELECT g_a AS group_a, g_b AS group_b, n_a, n_b,
           mudiff_c100,
           CAST(mudiff_c100 AS DOUBLE)
             / (100.0 * sqrt(CAST(vn_a + vn_b AS DOUBLE))) AS t_welch,
           (CAST(vn_a + vn_b AS DOUBLE) * CAST(vn_a + vn_b AS DOUBLE))
             / (CAST(vn_a AS DOUBLE) * CAST(vn_a AS DOUBLE)
                  / CAST(n_a - 1 AS DOUBLE)
                + CAST(vn_b AS DOUBLE) * CAST(vn_b AS DOUBLE)
                  / CAST(n_b - 1 AS DOUBLE)) AS df_welch
    FROM q ORDER BY g_a, g_b
    """,
    doc="Games-Howell pairwise comparisons of order value across the 5 "
    "priorities — the post-hoc that belongs to agg_welch_anova the "
    "way agg_dunn_posthoc belongs to agg_kruskal_wallis: every pair "
    "gets its own Welch t and Welch-Satterthwaite df, so unequal "
    "variances (which agg_cochran_hartley screens for) never pool. "
    "Per-group variance-over-n quantizes in two exact non-negative "
    "floor-divisions ((n*SS - S^2) div (n(n-1)) div n, error < 1 "
    "cent^2/n); the mean difference cross-multiplies to the exact "
    "signed integer n_b*S_a - n_a*S_b and sign-splits into "
    "centi-cent units; t and df are fixed IEEE expressions over "
    "those sub-2^53 integers. One 5-group rollup; the pair relation "
    "is 10 rows.",
)
def agg_games_howell(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
    )
    gr = b.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("s"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("ss"),
    )
    v = gr.filter(F.col("n") >= 2).select(
        "g",
        "n",
        "s",
        F.expr(
            "CAST(((n * ss - s * s) div (n * (n - 1))) div n AS BIGINT)"
        ).alias("vn"),
    )
    va = v.select(
        F.col("g").alias("g_a"), F.col("n").alias("n_a"),
        F.col("s").alias("s_a"), F.col("vn").alias("vn_a"),
    )
    vb = v.select(
        F.col("g").alias("g_b"), F.col("n").alias("n_b"),
        F.col("s").alias("s_b"), F.col("vn").alias("vn_b"),
    )
    pairs = va.join(F.broadcast(vb), F.col("g_b") > F.col("g_a")).select(
        "g_a",
        "g_b",
        "n_a",
        "n_b",
        "vn_a",
        "vn_b",
        F.expr("n_b * s_a - n_a * s_b").alias("dnum"),
    )
    q = pairs.select(
        "g_a",
        "g_b",
        "n_a",
        "n_b",
        "vn_a",
        "vn_b",
        F.expr(
            "CAST(CASE WHEN dnum >= 0"
            " THEN (100 * dnum) div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            " ELSE -((100 * -dnum) div (CAST(n_a AS DECIMAL(38,0)) * n_b))"
            " END AS BIGINT)"
        ).alias("mudiff_c100"),
    )
    return q.select(
        F.col("g_a").alias("group_a"),
        F.col("g_b").alias("group_b"),
        "n_a",
        "n_b",
        "mudiff_c100",
        F.expr(
            "CAST(mudiff_c100 AS DOUBLE)"
            " / (100.0 * sqrt(CAST(vn_a + vn_b AS DOUBLE)))"
        ).alias("t_welch"),
        F.expr(
            "(CAST(vn_a + vn_b AS DOUBLE) * CAST(vn_a + vn_b AS DOUBLE))"
            " / (CAST(vn_a AS DOUBLE) * CAST(vn_a AS DOUBLE)"
            "      / CAST(n_a - 1 AS DOUBLE)"
            "    + CAST(vn_b AS DOUBLE) * CAST(vn_b AS DOUBLE)"
            "      / CAST(n_b - 1 AS DOUBLE))"
        ).alias("df_welch"),
    ).orderBy("group_a", "group_b")


# ---------------------------------------------------------------------------
# orders_haar_wavelet — dyadic Haar detail-energy decomposition
# ---------------------------------------------------------------------------


@register(
    "orders_haar_wavelet",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT x, row_number() OVER (ORDER BY d) - 1 AS i,
             count(*) OVER () AS n
      FROM daily
    ),
    pw AS (
      SELECT CAST(max(p) AS BIGINT) AS m FROM (
        SELECT unnest([2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048,
                       4096, 8192]) AS p
      ), idx WHERE p <= idx.n
    ),
    lev AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS j),
    signed AS (
      SELECT lev.j, idx.i // (1 << lev.j) AS blk,
             CASE WHEN (idx.i // (1 << (lev.j - 1))) % 2 = 0
                  THEN idx.x ELSE -idx.x END AS sx
      FROM idx CROSS JOIN pw CROSS JOIN lev
      WHERE idx.i < pw.m
    ),
    det AS (
      SELECT j, blk, CAST(sum(sx) AS BIGINT) AS dd
      FROM signed GROUP BY j, blk
    ),
    en AS (
      SELECT j, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(CAST(dd AS HUGEINT) * dd) AS HUGEINT) AS e_num
      FROM det GROUP BY j
    ),
    tot AS (
      SELECT CAST(sum(e_num * (1 << (6 - j))) AS HUGEINT) AS t64 FROM en
    )
    SELECT j AS level, n_blocks,
           CAST(e_num AS BIGINT) AS detail_energy_num,
           CAST((1000000000 * e_num * (1 << (6 - j)))
                // greatest(t.t64, 1) AS BIGINT) AS energy_share_ppb
    FROM en, tot t ORDER BY j
    """,
    doc="Haar wavelet detail-energy decomposition of daily order revenue "
    "(dollars) at dyadic scales 2..64 days: the energy of the "
    "level-j detail coefficients localizes variance BY TIMESCALE — "
    "day-to-day noise loads level 1, weekly structure levels 2-3, "
    "monthly drift levels 5-6 — the multi-resolution complement of "
    "events_allan_variance (block means) and orders_rescaled_range "
    "(long memory). The series truncates to the largest power of two "
    "<= n days (integer literal-list max, no log2); the level-j "
    "detail is the SIGNED block sum sum(+-x) with the sign read off "
    "bit j-1 of the day index, so D and the energy sum(D^2) are "
    "exact integers, and true energies E_j = sum D^2/2^j compare "
    "across levels via the exact common-denominator weights "
    "2^(6-j); one non-negative floor-division lands each level's "
    "energy share in ppb. One bounded row_number window over the "
    "~2.4k-day grid; the level explode is a 6x literal.",
)
def orders_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div 100 AS BIGINT)"
        ).alias("x")
    )
    w_i = Window.orderBy("d")
    w_all = Window.partitionBy()
    idx = daily.select(
        "x",
        (F.row_number().over(w_i) - 1).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    pw = idx.agg(
        F.expr(
            "CAST(aggregate(filter("
            " array(2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048,"
            " 4096, 8192), p -> p <= max(n)),"
            " 0, (acc, p) -> greatest(acc, p)) AS BIGINT)"
        ).alias("m")
    )
    signed = (
        idx.crossJoin(F.broadcast(pw))
        .filter(F.col("i") < F.col("m"))
        .select(
            "i",
            "x",
            F.explode(F.expr("array(1, 2, 3, 4, 5, 6)")).alias("j"),
        )
        .select(
            "j",
            F.expr("i div shiftleft(1, j)").alias("blk"),
            F.expr(
                "CASE WHEN (i div shiftleft(1, j - 1)) % 2 = 0"
                " THEN x ELSE -x END"
            ).alias("sx"),
        )
    )
    det = signed.groupBy("j", "blk").agg(
        F.sum("sx").cast("bigint").alias("dd")
    )
    en = det.groupBy("j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        _dsum(F.expr("CAST(dd AS DECIMAL(38,0)) * dd")).alias("e_num"),
    )
    tot = en.agg(
        F.sum(
            F.expr("e_num * CAST(shiftleft(1, 6 - j) AS DECIMAL(38,0))")
        ).alias("t64")
    )
    return (
        en.crossJoin(F.broadcast(tot))
        .select(
            F.col("j").alias("level"),
            "n_blocks",
            F.col("e_num").cast("bigint").alias("detail_energy_num"),
            F.expr(
                "CAST((1000000000 * e_num"
                " * CAST(shiftleft(1, 6 - j) AS DECIMAL(38,0)))"
                " div greatest(t64, 1) AS BIGINT)"
            ).alias("energy_share_ppb"),
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# orders_theta_forecast — the M3 Theta method on monthly revenue
# ---------------------------------------------------------------------------


@register(
    "orders_theta_forecast",
    oracle="""
    WITH mon AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT x, row_number() OVER (ORDER BY mo) AS t FROM mon
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sy,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
             CAST(sum(CAST(t AS HUGEINT) * x) AS HUGEINT) AS sty
      FROM idx
    ),
    co AS (
      SELECT n, sy, st,
             CAST(n * stt - CAST(st AS HUGEINT) * st AS HUGEINT) AS dd,
             CAST(n * sty - CAST(st AS HUGEINT) * sy AS HUGEINT) AS bn
      FROM mom
    ),
    th AS (
      SELECT i.t, co.n, co.dd, co.bn,
             2 * CAST(i.x AS HUGEINT) * co.n * co.dd
               - ((CAST(co.sy AS HUGEINT) * co.dd - co.bn * co.st)
                  + co.bn * co.n * i.t) AS x2s
      FROM idx i CROSS JOIN co
    ),
    seq AS (
      SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(dd) AS HUGEINT) AS dd,
             CAST(max(bn) AS HUGEINT) AS bn,
             list(x2s ORDER BY t) AS xs
      FROM th
    ),
    folded AS (
      SELECT n, dd, bn,
             list_reduce(xs, (acc, x) -> (x + acc + 1) // 2) AS ses2
      FROM seq
    )
    SELECT n AS n_months,
           CAST((1000000 * bn) // dd AS BIGINT)
             AS slope_micro_dollars,
           CAST((1000000 * ses2) // (2 * n * dd) AS BIGINT)
             AS theta2_level_micro,
           (CAST(ses2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)
                                    * CAST(dd AS DOUBLE))
            + (CAST(bn AS DOUBLE) * CAST(n + 1 AS DOUBLE)
               + (CAST(sy AS DOUBLE) * CAST(dd AS DOUBLE)
                  - CAST(bn AS DOUBLE) * CAST(st AS DOUBLE)) / n)
              / CAST(dd AS DOUBLE)) / 2.0 AS theta_forecast_next
    FROM folded CROSS JOIN (SELECT sy, st FROM co)
    """,
    doc="Theta-method forecast (Assimakopoulos-Nikolopoulos, the M3 "
    "competition winner) of next month's revenue: decompose into the "
    "theta=0 line (the OLS trend, which carries the long-run slope) "
    "and the theta=2 line (2x - trend, which doubles local "
    "curvature), SES the theta-2 line with alpha = 1/2, and average "
    "the two half-forecasts — the classical 'damped trend that "
    "actually wins benchmarks', beside orders_exp_smoothing / "
    "orders_holt_winters / orders_sba_forecast. Everything up to the "
    "display division is EXACT: the OLS coefficients stay as the "
    "integer pair (bn, dd) = (n*Sty - St*Sy, n*Stt - St^2), the "
    "theta-2 series is pre-scaled by 2*n*dd so 2x_t - a - b*t is the "
    "exact integer x2s, and the alpha = 1/2 SES is the round-half-up "
    "integer fold (x + s + 1) div 2 the oracle's list_reduce replays "
    "bit-for-bit (scalar state — no struct-field hazard). One "
    "~84-row bounded window + one scalar fold; quantized level and "
    "slope scale the NUMERATOR by 1e6 before one integer division "
    "by the exact dd (dd > 0 always; bn MAY be negative — TPC-H's "
    "truncated final month drags the OLS slope down — which is safe "
    "because Spark `div` and DuckDB `//` both truncate toward zero "
    "on integers).",
)
def orders_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mon = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("mo")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div 100 AS BIGINT)"
        ).alias("x")
    )
    w_t = Window.orderBy("mo")
    idx = mon.select("x", F.row_number().over(w_t).alias("t"))
    mom = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sy"),
        F.sum("t").cast("bigint").alias("st"),
        _dsum(F.expr("CAST(t AS DECIMAL(38,0)) * t")).alias("stt"),
        _dsum(F.expr("CAST(t AS DECIMAL(38,0)) * x")).alias("sty"),
    )
    co = mom.select(
        "n",
        "sy",
        "st",
        F.expr("n * stt - CAST(st AS DECIMAL(38,0)) * st").alias("dd"),
        F.expr("n * sty - CAST(st AS DECIMAL(38,0)) * sy").alias("bn"),
    )
    th = idx.crossJoin(F.broadcast(co)).select(
        "t",
        "n",
        "sy",
        "st",
        "dd",
        "bn",
        F.expr(
            "2 * CAST(x AS DECIMAL(38,0)) * n * dd"
            " - ((CAST(sy AS DECIMAL(38,0)) * dd - bn * st)"
            "    + bn * n * t)"
        ).alias("x2s"),
    )
    seq = th.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("sy").cast("bigint").alias("sy"),
        F.max("st").cast("bigint").alias("st"),
        F.max("dd").alias("dd"),
        F.max("bn").alias("bn"),
        F.expr("array_sort(collect_list(struct(t, x2s)))").alias("xs"),
    )
    folded = seq.select(
        "n",
        "sy",
        "st",
        "dd",
        "bn",
        F.expr(
            "aggregate(slice(transform(xs, e -> e.x2s), 2, size(xs) - 1),"
            " element_at(xs, 1).x2s,"
            " (acc, x) -> CAST((x + acc + 1) div 2 AS DECIMAL(38,0)))"
        ).alias("ses2"),
    )
    return folded.select(
        F.col("n").alias("n_months"),
        F.expr(
            "CAST((1000000 * bn) div dd AS BIGINT)"
        ).alias("slope_micro_dollars"),
        F.expr(
            "CAST((1000000 * ses2) div (2 * n * dd) AS BIGINT)"
        ).alias("theta2_level_micro"),
        F.expr(
            "(CAST(ses2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)"
            " * CAST(dd AS DOUBLE))"
            " + (CAST(bn AS DOUBLE) * CAST(n + 1 AS DOUBLE)"
            "    + (CAST(sy AS DOUBLE) * CAST(dd AS DOUBLE)"
            "       - CAST(bn AS DOUBLE) * CAST(st AS DOUBLE)) / n)"
            "   / CAST(dd AS DOUBLE)) / 2.0"
        ).alias("theta_forecast_next"),
    )


# ---------------------------------------------------------------------------
# embedding_truncation_fidelity — Matryoshka-style half-dim ANN agreement
# ---------------------------------------------------------------------------

TRUNC_N_QUERIES = 50  # bounded query panel (the similarity_topk convention)
TRUNC_HALF_DIM = 32  # keep the first half of the 64-dim embedding


@register(
    "embedding_truncation_fidelity",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id AS query_id, q AS qq FROM e
      WHERE vec_id < {TRUNC_N_QUERIES}
    ),
    scored AS (
      SELECT qs.query_id, e.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> qs.qq[i] * e.q[i])) AS BIGINT) AS dot_full,
             CAST(list_sum(list_transform(range(1, {TRUNC_HALF_DIM} + 1),
                  i -> qs.qq[i] * e.q[i])) AS BIGINT) AS dot_half
      FROM qs JOIN e ON e.vec_id <> qs.query_id
    ),
    top_full AS (
      SELECT query_id, neighbor_id AS nb_full FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dot_full DESC, neighbor_id) AS rn
        FROM scored) WHERE rn = 1
    ),
    top_half AS (
      SELECT query_id, neighbor_id AS nb_half FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dot_half DESC, neighbor_id) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN f.nb_full = h.nb_half THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           CAST(1000000000
                * sum(CASE WHEN f.nb_full = h.nb_half THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS agreement_ppb
    FROM top_full f JOIN top_half h USING (query_id)
    """,
    doc=f"Matryoshka-style truncation fidelity of the embedding index: "
    f"for {TRUNC_N_QUERIES} query vectors, does the top-1 neighbor by "
    f"FULL 64-dim dot product survive truncation to the first "
    f"{TRUNC_HALF_DIM} dimensions? This is the capacity-planning "
    "readout for dimension-truncated retrieval (MRL-trained and "
    "PCA-rotated embeddings ship exactly this trade) — it composes "
    "with similarity_recall_at_k (which grades the sign-LSH index "
    "against the same brute-force baseline) to separate 'index "
    "error' from 'representation error'. Components milli-quantize "
    "by floor(x * 1000) — one deterministic IEEE multiply + floor "
    "per component, identical in both engines — so both dot products "
    "are exact integer folds (JVM zip_with/aggregate; DuckDB "
    "list_transform/list_sum in the same index order), winners are "
    "integer argmaxes with neighbor-id tie-break, and agreement is "
    "one ppb floor-division. The query panel is a bounded literal "
    "set, so the scoring join is the similarity_topk bounded NLJ "
    "pattern, never an all-pairs product.",
)
def embedding_truncation_fidelity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            " x -> CAST(floor(x * 1000) AS BIGINT))"
        ).alias("q"),
    )
    qs = e.filter(F.col("vec_id") < TRUNC_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    scored = (
        e.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(qq, q, (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("dot_full"),
            F.expr(
                f"aggregate(zip_with(slice(qq, 1, {TRUNC_HALF_DIM}),"
                f" slice(q, 1, {TRUNC_HALF_DIM}), (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("dot_half"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("dot_full"), F.asc("neighbor_id")
    )
    w_half = Window.partitionBy("query_id").orderBy(
        F.desc("dot_half"), F.asc("neighbor_id")
    )
    top_full = (
        scored.withColumn("rn", F.row_number().over(w_full))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("nb_full"))
    )
    top_half = (
        scored.withColumn("rn", F.row_number().over(w_half))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("nb_half"))
    )
    j = top_full.join(top_half, "query_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(
            F.when(F.col("nb_full") == F.col("nb_half"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_agree"),
        F.expr(
            "CAST(1000000000"
            " * sum(CASE WHEN nb_full = nb_half THEN 1 ELSE 0 END)"
            " div count(*) AS BIGINT)"
        ).alias("agreement_ppb"),
    )


# ---------------------------------------------------------------------------
# multimodal_mp4_box_parse — REAL ISO-BMFF (MP4) metadata extraction
# ---------------------------------------------------------------------------


@register(
    "multimodal_mp4_box_parse",
    # Canonical 132-byte ftyp+moov(mvhd v0) containers constructed
    # column-side (timescale/duration derived from doc_id), parsed back by
    # the REAL box walker (multimodal.sniff_mp4_meta) inside mapInPandas;
    # the oracle states the golden expectation arithmetically — the video
    # sibling of multimodal_image_header_parse / multimodal_wav_header_parse
    # completes the image/audio/VIDEO metadata trio on the hash surface.
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE doc_id % 5 WHEN 0 THEN 600 WHEN 1 THEN 1000
                  WHEN 2 THEN 90000 WHEN 3 THEN 12288 ELSE 48000 END AS ts,
             doc_id % 100000 + 600 AS dur,
             CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
                  ELSE 'M4A ' END AS brand
      FROM documents
    )
    SELECT doc_id,
           CAST(132 AS BIGINT) AS n_bytes,
           CAST(2 AS BIGINT) AS n_top_boxes,
           brand AS major_brand,
           CAST(ts AS BIGINT) AS timescale,
           CAST(dur AS BIGINT) AS duration_ticks,
           CAST((1000 * dur) // ts AS BIGINT) AS duration_ms
    FROM d
    """,
    doc="REAL MP4/ISO-BMFF metadata under the driver's hash check: per "
    "doc, construct a canonical 132-byte ftyp + moov/mvhd(v0) container "
    "(major brand, movie timescale and duration derived from doc_id; "
    "binary built with pure column expressions — unhex of composed "
    "big-endian hex), then recover brand/timescale/duration with the "
    "REAL box walker (multimodal.sniff_mp4_meta: top-level size+fourcc "
    "walk, moov descent, mvhd v0/v1 field extraction) over "
    "Arrow-batched mapInPandas. This is the petabyte-scale VIDEO "
    "metadata path — box peek, never a frame decode — completing the "
    "image (PNG/GIF/JPEG) / audio (RIFF/WAV) / video (BMFF) trio of "
    "hash-verified real parsers; duration_ms = 1000*dur div timescale "
    "is the same non-negative integer division in the parser, the "
    "Spark plan, and the oracle. Zero shuffles; per-partition Arrow "
    "batches.",
)
def multimodal_mp4_box_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.multimodal import (
        MP4_SCHEMA,
        _mp4_meta_batches,
    )

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        F.expr(
            "CASE doc_id % 5 WHEN 0 THEN 600 WHEN 1 THEN 1000"
            " WHEN 2 THEN 90000 WHEN 3 THEN 12288 ELSE 48000 END"
        ).alias("ts"),
        (F.col("doc_id") % 100000 + 600).alias("dur"),
        F.expr(
            "CASE doc_id % 3 WHEN 0 THEN '69736F6D' WHEN 1 THEN '6D703432'"
            " ELSE '4D344120' END"
        ).alias("brand_hex"),
    )
    be32 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731
    ftyp_hex = F.concat(
        F.lit("00000010"), F.lit("66747970"), F.col("brand_hex"),
        F.lit("00000000"),
    )
    mvhd_hex = F.concat(
        F.lit("0000006C"), F.lit("6D766864"),
        F.lit("00000000"),  # version + flags
        F.lit("00000000"), F.lit("00000000"),  # creation, modification
        be32(F.col("ts")), be32(F.col("dur")),
        F.lit("00010000"), F.lit("0100"), F.lit("0000"),  # rate, volume, rsv
        F.lit("0000000000000000"),  # reserved2 (8 bytes)
        F.lit(
            "000100000000000000000000"
            "000000000001000000000000"
            "000000000000000040000000"
        ),  # unity matrix (36 bytes)
        F.lit("00" * 24),  # pre_defined
        F.lit("00000002"),  # next track id
    )
    moov_hex = F.concat(F.lit("00000074"), F.lit("6D6F6F76"), mvhd_hex)
    payload = F.unhex(F.concat(ftyp_hex, moov_hex))
    parsed = d.select("doc_id", payload.alias("payload")).mapInPandas(
        _mp4_meta_batches, MP4_SCHEMA
    )
    return parsed.select(
        "doc_id",
        "n_bytes",
        "n_top_boxes",
        "major_brand",
        "timescale",
        "duration_ticks",
        "duration_ms",
    )
