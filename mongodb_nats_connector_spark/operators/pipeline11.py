"""Round-10 additions: classifier/rank statistics over bounded value
domains (ROC AUC, Kruskal-Wallis, Ansari-Bradley), a 1-D Wasserstein
(earth-mover) distance, sequential change detection (Page-Hinkley), and
paired-categorical tests (McNemar, Cochran Q, Friedman).

Reference provenance: like pipeline7-10, none of these exist in the
reference's Go core (internal/server/connector.go) — they extend the
engine-side analytics surface a consumer of the connector's published change
streams runs downstream (SURVEY.md §2.3/§2.4).

REGISTRATION ORDER: this module must import LAST in ``registry._load_all()``
(after pipeline10) so its brand-new queries rank behind every already-pending
rank-0 query — a full driver verification window spills past them instead of
displacing edited queries awaiting re-proof.

Cross-engine determinism rules (same discipline as pipeline7-10):
- integer counts end-to-end until one final scalar expression written with
  identical association on both engines (IEEE +,-,*,/ and sqrt are
  correctly rounded, so identical operand order => identical bits; exp/ln
  and round()-of-a-libm-result are the operations that diverge and are
  avoided on the hash surface — round() of a pure-IEEE expression over
  exact integers is deterministic because the input bits already match);
- sums whose products can exceed 2^63 accumulate as DECIMAL(38,0) in Spark
  and HUGEINT in DuckDB (both exact);
- rank statistics use DOUBLED midranks (2*cum_below + tie_count + 1, an
  exact integer) over the DISTINCT-VALUE relation — the Mann-Whitney /
  Wilcoxon shape: no per-row rank materialization, every window runs over
  a value-DOMAIN-bounded grid, never the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import double_sum as _dsum
from mongodb_nats_connector_spark.operators.pipeline8 import (
    CUPED_SPLIT_DAYS,
)
from mongodb_nats_connector_spark.plans.caching import (
    persist_until_collected,
)
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# ---------------------------------------------------------------------------
# agg_roc_auc — ROC area-under-curve of price as a returns classifier
# ---------------------------------------------------------------------------


@register(
    "agg_roc_auc",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_extendedprice / 1000) AS BIGINT) AS s,
             CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
               AS pos
      FROM lineitem
    ),
    cells AS (
      SELECT s, CAST(sum(pos) AS BIGINT) AS n1,
             CAST(count(*) - sum(pos) AS BIGINT) AS n0
      FROM b GROUP BY 1
    ),
    pre AS (
      SELECT s, n1, n0,
             CAST(coalesce(sum(n0) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS cum0
      FROM cells
    ),
    tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS p, CAST(sum(n0) AS BIGINT) AS q
      FROM cells
    ),
    u AS (
      SELECT CAST(sum(CAST(n1 AS HUGEINT) * (2 * cum0 + n0)) AS DOUBLE)
               AS u_x2
      FROM pre
    )
    SELECT t.p AS n_pos, t.q AS n_neg, u.u_x2,
           u.u_x2 / (2.0 * t.p * t.q) AS roc_auc,
           2.0 * (u.u_x2 / (2.0 * t.p * t.q)) - 1.0 AS gini_coefficient
    FROM tot t CROSS JOIN u
    WHERE t.p > 0 AND t.q > 0
    """,
    doc="ROC AUC of extended price (1000-unit buckets) as a classifier for "
    "returns — the threshold-free ranking quality metric every model "
    "evaluation pipeline reports, here via its Mann-Whitney identity "
    "AUC = U/(n1*n0): P(random positive outscores random negative), ties "
    "at half credit. The fact table compacts to the ~105-bucket score "
    "DOMAIN histogram in one map-combined shuffle; U comes from the "
    "exclusive prefix count of negatives below each score (doubled to "
    "stay integer: 2U = sum n1*(2*cum0_below + n0) credits ties exactly "
    "once), so every window runs over the bounded grid, never the rows. "
    "Products accumulate in DECIMAL(38,0)/HUGEINT (2U reaches 2*n1*n0 ~ "
    "n^2/2); AUC and the Gini coefficient 2*AUC-1 are fixed-order IEEE "
    "expressions over those exact integers. Empty classes emit zero rows "
    "on both engines.",
)
def agg_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_extendedprice") / 1000).cast("bigint").alias("s"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("pos"),
    )
    cells = b.groupBy("s").agg(
        F.sum("pos").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("bigint").alias("n0"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    pre = cells.select(
        "s",
        "n1",
        "n0",
        F.coalesce(F.sum("n0").over(w), F.lit(0)).cast("bigint").alias("cum0"),
    )
    tot = cells.agg(
        F.sum("n1").cast("bigint").alias("p"),
        F.sum("n0").cast("bigint").alias("q"),
    )
    u = pre.agg(
        _dsum(
            F.col("n1").cast("decimal(38,0)")
            * (2 * F.col("cum0") + F.col("n0"))
        ).alias("u_x2")
    )
    auc = F.col("u_x2") / (2.0 * F.col("p") * F.col("q"))
    out = (
        tot.crossJoin(F.broadcast(u))
        .filter((F.col("p") > 0) & (F.col("q") > 0))
        .select(
            F.col("p").alias("n_pos"),
            F.col("q").alias("n_neg"),
            "u_x2",
            auc.alias("roc_auc"),
            (2.0 * auc - 1.0).alias("gini_coefficient"),
        )
    )
    return persist_until_collected(cells, out)


# ---------------------------------------------------------------------------
# agg_kruskal_wallis — k-sample rank test across return-flag groups
# ---------------------------------------------------------------------------


@register(
    "agg_kruskal_wallis",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS grp,
             CAST(round(l_quantity) AS BIGINT) AS v
      FROM lineitem
    ),
    cells AS (
      SELECT v, grp, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2
    ),
    colv AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS tv FROM cells GROUP BY 1
    ),
    mr AS (
      SELECT v, tv,
             CAST(2 * coalesce(sum(tv) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) + tv + 1 AS BIGINT) AS mr2
      FROM colv
    ),
    grps AS (
      SELECT c.grp, CAST(sum(c.c) AS BIGINT) AS n_g,
             CAST(sum(CAST(c.c AS HUGEINT) * m.mr2) AS BIGINT) AS t2
      FROM cells c JOIN mr m ON m.v = c.v GROUP BY c.grp
    ),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             (SELECT sum(CAST(tv AS HUGEINT) * tv * tv - tv) FROM colv)
               AS ties3
      FROM grps
    ),
    hterm AS (
      SELECT CAST(sum(CAST(round(1000000000.0 * 3.0
               * (CAST(g.t2 AS DOUBLE) * CAST(g.t2 AS DOUBLE))
               / (CAST(t.n AS DOUBLE) * (t.n + 1) * g.n_g)) AS BIGINT))
             AS BIGINT) AS h_nn
      FROM grps g CROSS JOIN tot t
    )
    SELECT g.grp, g.n_g, g.t2 AS rank_sum_x2, t.n AS n_total,
           (CAST(h.h_nn AS DOUBLE) / 1000000000.0 - 3.0 * (t.n + 1))
             AS h_stat,
           (CAST(h.h_nn AS DOUBLE) / 1000000000.0 - 3.0 * (t.n + 1))
             / (1.0 - CAST(CAST((t.ties3 * 1000000000)
                  // (CAST(t.n AS HUGEINT) * t.n * t.n - t.n) AS BIGINT)
                  AS DOUBLE) / 1000000000.0)
             AS h_tie_corrected
    FROM grps g CROSS JOIN tot t CROSS JOIN hterm h
    WHERE t.n > 1
      AND 1.0 - CAST(CAST((t.ties3 * 1000000000)
            // (CAST(t.n AS HUGEINT) * t.n * t.n - t.n) AS BIGINT)
            AS DOUBLE) / 1000000000.0 > 0
    """,
    doc="Kruskal-Wallis H test: do the three return-flag populations share "
    "a quantity distribution? — the k-sample generalization of "
    "agg_mann_whitney (one-way ANOVA on ranks, no normality assumption). "
    "Pooled midranks come from the exclusive prefix count over the "
    "~50-value quantity DOMAIN as exact doubled integers (mr2 = "
    "2*cum_below + ties + 1); per-group rank sums accumulate c*mr2 in "
    "HUGEINT/DECIMAL(38,0). Each group's H contribution 3*T2^2/(N(N+1)n_g) "
    "quantizes to integer nano-units BEFORE the group sum (summation "
    "order cannot move a bit — the agg_cramers_v discipline; the inputs "
    "are exact integers so the double expression is bit-identical "
    "cross-engine), and H plus its tie-corrected form H/(1 - "
    "sum(t^3-t)/(N^3-N)) are fixed-order IEEE expressions. Every window "
    "runs over the bounded domain grid; the fact table contributes one "
    "map-combined shuffle. Degenerate all-tied inputs (correction "
    "factor <= 0) emit zero rows on both engines.",
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round("l_quantity").cast("bigint").alias("v"),
    )
    cells = b.groupBy("v", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    colv = cells.groupBy("v").agg(F.sum("c").cast("bigint").alias("tv"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    mr = colv.select(
        "v",
        "tv",
        (2 * F.coalesce(F.sum("tv").over(w), F.lit(0)) + F.col("tv") + 1)
        .cast("bigint")
        .alias("mr2"),
    )
    grps = (
        cells.join(F.broadcast(mr), "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("mr2"))
            .cast("bigint")
            .alias("t2"),
        )
    )
    ties3 = colv.agg(
        F.sum(
            F.col("tv").cast("decimal(38,0)") * F.col("tv") * F.col("tv")
            - F.col("tv")
        )
        .cast("decimal(38,0)")
        .alias("ties3")
    )
    tot = (
        grps.agg(F.sum("n_g").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(ties3))
    )
    nd = F.col("n").cast("double")
    t2d = F.col("t2").cast("double")
    hterm = (
        grps.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    1000000000.0
                    * 3.0
                    * (t2d * t2d)
                    / (nd * (F.col("n") + 1) * F.col("n_g"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("h_nn")
        )
    )
    h = F.col("h_nn").cast("double") / 1000000000.0 - 3.0 * (F.col("n") + 1)
    # tie-correction ratio as an exact integer nano floor-division: ties3
    # and N^3 - N both cross 2^53 around sf1, where integer->double casts
    # are engine-divergent (DuckDB truncates, Spark rounds)
    corr = 1.0 - F.expr(
        "CAST((ties3 * 1000000000)"
        " div (CAST(n AS DECIMAL(38,0)) * n * n - n) AS BIGINT)"
    ).cast("double") / 1000000000.0
    out = (
        grps.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(hterm))
        .filter((F.col("n") > 1) & (corr > 0))
        .select(
            "grp",
            "n_g",
            F.col("t2").alias("rank_sum_x2"),
            F.col("n").alias("n_total"),
            h.alias("h_stat"),
            (h / corr).alias("h_tie_corrected"),
        )
    )
    # cells feeds colv AND grps; grps feeds tot, hterm AND the output —
    # both group-sized caches live until the caller drops the result
    out = persist_until_collected(cells, out)
    return persist_until_collected(grps, out)


# ---------------------------------------------------------------------------
# agg_ansari_bradley — rank-based two-sample scale (dispersion) test
# ---------------------------------------------------------------------------


@register(
    "agg_ansari_bradley",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_extendedprice / 1000) AS BIGINT) AS v,
             CAST(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS BIGINT)
               AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v, CAST(count(*) AS BIGINT) AS tv,
             CAST(sum(g) AS BIGINT) AS c1
      FROM b GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(tv) AS BIGINT) AS n, CAST(sum(c1) AS BIGINT) AS n1
      FROM cells
    ),
    mr AS (
      SELECT c.v, c.tv, c.c1, t.n, t.n1,
             CAST(2 * coalesce(sum(c.tv) OVER (
               ORDER BY c.v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) + c.tv + 1 AS BIGINT) AS mr2
      FROM cells c CROSS JOIN tot t
    ),
    sc AS (
      SELECT v, tv, c1, n, n1,
             least(mr2, 2 * (n + 1) - mr2) AS s2
      FROM mr
    ),
    s AS (
      SELECT CAST(min(n) AS BIGINT) AS n, CAST(min(n1) AS BIGINT) AS n1,
             CAST(sum(CAST(c1 AS HUGEINT) * s2) AS BIGINT) AS ab_x2,
             CAST(sum(CAST(tv AS HUGEINT) * s2) AS BIGINT) AS a1,
             sum(CAST(tv AS HUGEINT) * s2 * s2) AS a2
      FROM sc
    ),
    sq AS (
      SELECT n, n1, ab_x2, a1,
             CAST((CAST(n AS HUGEINT) * a2 - CAST(a1 AS HUGEINT) * a1)
                  // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS q
      FROM s
      WHERE n > 1
    )
    SELECT n1, n - n1 AS n0, ab_x2,
           CAST(ab_x2 AS DOUBLE) / 2.0 AS ab_stat,
           (CAST(ab_x2 AS DOUBLE) / 2.0
            - CAST(n1 AS DOUBLE) * a1 / (2.0 * n))
           / sqrt(CAST(n1 AS DOUBLE) * (n - n1) * q / (4.0 * n)) AS z_stat
    FROM sq
    WHERE n1 > 0 AND n - n1 > 0 AND q > 0
    """,
    doc="Ansari-Bradley two-sample scale test: do open ('O') and finished "
    "('F'/'R') lineitems have equally DISPERSED prices? — the rank-based "
    "dispersion complement to agg_levene_bf (no variance estimate, no "
    "normality): scores rank from both ends, score = min(rank, N+1-rank), "
    "so tight distributions concentrate high scores. Midranks over the "
    "~105-bucket price DOMAIN are exact doubled integers (the "
    "Mann-Whitney shape), the doubled score is least(mr2, 2(N+1)-mr2), "
    "and the statistic plus its normal z under the "
    "sampling-without-replacement variance of a linear rank statistic "
    "(Var = n1*n0*(N*sum(t*s^2) - (sum(t*s))^2) / (N^2*(N-1))) are "
    "fixed-order IEEE expressions over HUGEINT/DECIMAL(38,0)-exact "
    "sums — the variance numerator N*A2 - A1^2 (which crosses 2^53 "
    "already at sf0.1) stays exact in DECIMAL/HUGEINT and floor-divides "
    "by N(N-1) down to a sub-2^53 integer q before the one double "
    "conversion (integer-to-double casts above 2^53 are "
    "engine-divergent: DuckDB truncates, Spark rounds), so Var = "
    "n1*n0*q/(4N) exactly as both engines see it. Every window runs "
    "over the bounded domain; degenerate inputs (one-sided or "
    "sub-resolution-variance scores, q = 0) emit zero rows on both "
    "engines.",
)
def agg_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_extendedprice") / 1000).cast("bigint").alias("v"),
        (F.col("l_linestatus") == "O").cast("bigint").alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("tv"),
        F.sum("g").cast("bigint").alias("c1"),
    )
    tot = cells.agg(
        F.sum("tv").cast("bigint").alias("n"),
        F.sum("c1").cast("bigint").alias("n1"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    mr = cells.crossJoin(F.broadcast(tot)).select(
        "v",
        "tv",
        "c1",
        "n",
        "n1",
        (2 * F.coalesce(F.sum("tv").over(w), F.lit(0)) + F.col("tv") + 1)
        .cast("bigint")
        .alias("mr2"),
    )
    sc = mr.select(
        "v",
        "tv",
        "c1",
        "n",
        "n1",
        F.least(F.col("mr2"), 2 * (F.col("n") + 1) - F.col("mr2")).alias(
            "s2"
        ),
    )
    s = sc.agg(
        F.min("n").cast("bigint").alias("n"),
        F.min("n1").cast("bigint").alias("n1"),
        F.sum(F.col("c1").cast("decimal(38,0)") * F.col("s2"))
        .cast("bigint")
        .alias("ab_x2"),
        F.sum(F.col("tv").cast("decimal(38,0)") * F.col("s2"))
        .cast("bigint")
        .alias("a1"),
        # a2 ~ N^3/3 crosses 2^53 at sf0.1 — stays DECIMAL, never a double
        F.sum(
            (F.col("tv").cast("decimal(38,0)") * F.col("s2") * F.col("s2"))
        )
        .cast("decimal(38,0)")
        .alias("a2"),
    )
    sq = s.filter(F.col("n") > 1).select(
        "n",
        "n1",
        "ab_x2",
        "a1",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * a2"
            " - CAST(a1 AS DECIMAL(38,0)) * a1)"
            " div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"
        ).alias("q"),
    )
    n1d = F.col("n1").cast("double")
    ab = F.col("ab_x2").cast("double") / 2.0
    z = (ab - n1d * F.col("a1") / (2.0 * F.col("n"))) / F.sqrt(
        n1d * (F.col("n") - F.col("n1")) * F.col("q") / (4.0 * F.col("n"))
    )
    out = sq.filter(
        (F.col("n1") > 0)
        & (F.col("n") - F.col("n1") > 0)
        & (F.col("q") > 0)
    ).select(
        "n1",
        (F.col("n") - F.col("n1")).alias("n0"),
        "ab_x2",
        ab.alias("ab_stat"),
        z.alias("z_stat"),
    )
    return persist_until_collected(cells, out)


# ---------------------------------------------------------------------------
# orders_wasserstein_1d — earth-mover distance between priority classes
# ---------------------------------------------------------------------------


@register(
    "orders_wasserstein_1d",
    oracle="""
    WITH b AS (
      SELECT CAST(round(o_totalprice / 10000) AS BIGINT) AS v,
             CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                  AS BIGINT) AS g
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    cells AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) - sum(g) AS BIGINT) AS c0
      FROM b GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c0) AS BIGINT) AS n0
      FROM cells
    ),
    cum AS (
      SELECT v,
             CAST(sum(c1) OVER w AS BIGINT) AS cum1,
             CAST(sum(c0) OVER w AS BIGINT) AS cum0,
             lead(v) OVER (ORDER BY v) AS v_next
      FROM cells
      WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    terms AS (
      SELECT CAST(sum(abs(CAST(c.cum1 AS HUGEINT) * t.n0
                          - CAST(c.cum0 AS HUGEINT) * t.n1)
                      * (c.v_next - c.v)) AS BIGINT) AS w1_num
      FROM cum c CROSS JOIN tot t
      WHERE c.v_next IS NOT NULL
    )
    SELECT t.n1 AS n_urgent, t.n0 AS n_low, x.w1_num,
           CAST(x.w1_num AS DOUBLE)
             / (CAST(t.n1 AS DOUBLE) * t.n0) AS wasserstein_buckets,
           (CAST(x.w1_num AS DOUBLE)
             / (CAST(t.n1 AS DOUBLE) * t.n0)) * 10000.0
             AS wasserstein_dollars
    FROM tot t CROSS JOIN terms x
    WHERE t.n1 > 0 AND t.n0 > 0
    """,
    doc="1-D Wasserstein (earth-mover) distance between the URGENT and LOW "
    "priority order-value distributions — the distribution-shift metric "
    "data-drift monitors and embedding-distribution comparisons use (it "
    "sees shape AND location, unlike a mean diff; unlike KL it never "
    "divides by zero on disjoint support). Identity used: W1 = integral "
    "of |F1 - F2| — inclusive prefix counts over the bounded ~55-bucket "
    "price DOMAIN, cross-multiplied to the exact integer |cum1*n0 - "
    "cum0*n1| per bucket, weighted by the gap to the next occupied bucket "
    "(lead over the same grid), summed in HUGEINT/DECIMAL(38,0). The "
    "reported distance is ONE IEEE division (num / (n1*n0)), plus a "
    "dollar-unit rescale by the bucket width. The fact table contributes "
    "one filtered map-combined rollup; every window is domain-bounded.",
)
def orders_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    b = o.select(
        F.round(F.col("o_totalprice") / 10000).cast("bigint").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("c0"),
    )
    tot = cells.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c0").cast("bigint").alias("n0"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("v")
    cum = cells.select(
        "v",
        F.sum("c1").over(w).cast("bigint").alias("cum1"),
        F.sum("c0").over(w).cast("bigint").alias("cum0"),
        F.lead("v").over(wl).alias("v_next"),
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("v_next").isNotNull())
        .agg(
            F.sum(
                F.abs(
                    F.col("cum1").cast("decimal(38,0)") * F.col("n0")
                    - F.col("cum0").cast("decimal(38,0)") * F.col("n1")
                )
                * (F.col("v_next") - F.col("v"))
            )
            .cast("bigint")
            .alias("w1_num")
        )
    )
    wass = F.col("w1_num").cast("double") / (
        F.col("n1").cast("double") * F.col("n0")
    )
    out = (
        tot.crossJoin(F.broadcast(terms))
        .filter((F.col("n1") > 0) & (F.col("n0") > 0))
        .select(
            F.col("n1").alias("n_urgent"),
            F.col("n0").alias("n_low"),
            "w1_num",
            wass.alias("wasserstein_buckets"),
            (wass * 10000.0).alias("wasserstein_dollars"),
        )
    )
    return persist_until_collected(cells, out)


# ---------------------------------------------------------------------------
# events_page_hinkley — sequential mean-shift detection over the daily series
# ---------------------------------------------------------------------------


@register(
    "events_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(round(sum(value), 4) * 10000) AS BIGINT) AS x4
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS t, CAST(sum(x4) AS BIGINT) AS s
      FROM daily
    ),
    idx AS (
      SELECT d.day, d.x4, t.t, t.s,
             CAST(row_number() OVER (ORDER BY d.day) AS BIGINT) AS rn,
             CAST(sum(d.x4) OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM daily d CROSS JOIN tot t
    ),
    m AS (
      SELECT day, x4, t * cum - rn * s AS m_scaled FROM idx
    ),
    ph AS (
      SELECT day, x4, m_scaled,
             m_scaled - min(m_scaled) OVER w AS ph_inc,
             max(m_scaled) OVER w - m_scaled AS ph_dec
      FROM m
      WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    mx AS (
      SELECT max(ph_inc) AS max_inc, max(ph_dec) AS max_dec FROM ph
    )
    SELECT p.day, p.x4 AS value_x10k, p.m_scaled, p.ph_inc, p.ph_dec,
           p.ph_inc = x.max_inc AS is_upshift_peak,
           p.ph_dec = x.max_dec AS is_downshift_peak
    FROM ph p CROSS JOIN mx x
    """,
    doc="Page-Hinkley sequential change detection over the daily "
    "event-value series: the running CUSUM of deviations from the global "
    "mean, with the upward alarm statistic PH+ = m_t - running-min(m) and "
    "the downward PH- = running-max(m) - m_t; the day where PH peaks is "
    "the detected mean-shift onset — the streaming-native changepoint "
    "detector next to events_pettitt_changepoint (rank-based, offline) "
    "and events_cusum_changepoint (known-target CUSUM). Exactness: daily "
    "values quantize to 1e-4 units, and the mean subtraction is n-scaled "
    "(m_scaled = T*cumsum - t*Total, an exact BIGINT — no float mean on "
    "the hash surface), so every emitted column is an exact integer, "
    "date, or an equality flag on exact integers: NOTHING float at all. "
    "All windows run over the calendar-bounded daily series; the fact "
    "table contributes one map-combined rollup.",
)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.round(F.round(F.sum("value"), 4) * 10000)
        .cast("bigint")
        .alias("x4")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("x4").cast("bigint").alias("s"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wrow = Window.orderBy("day")
    idx = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "x4",
        "t",
        "s",
        F.row_number().over(wrow).cast("bigint").alias("rn"),
        F.sum("x4").over(wcum).cast("bigint").alias("cum"),
    )
    m = idx.select(
        "day",
        "x4",
        (F.col("t") * F.col("cum") - F.col("rn") * F.col("s")).alias(
            "m_scaled"
        ),
    )
    ph = m.select(
        "day",
        "x4",
        "m_scaled",
        (F.col("m_scaled") - F.min("m_scaled").over(wcum)).alias("ph_inc"),
        (F.max("m_scaled").over(wcum) - F.col("m_scaled")).alias("ph_dec"),
    )
    mx = ph.agg(
        F.max("ph_inc").alias("max_inc"), F.max("ph_dec").alias("max_dec")
    )
    out = ph.crossJoin(F.broadcast(mx)).select(
        "day",
        F.col("x4").alias("value_x10k"),
        "m_scaled",
        "ph_inc",
        "ph_dec",
        (F.col("ph_inc") == F.col("max_inc")).alias("is_upshift_peak"),
        (F.col("ph_dec") == F.col("max_dec")).alias("is_downshift_peak"),
    )
    return persist_until_collected(daily, out)


# ---------------------------------------------------------------------------
# agg_grubbs_test — single-outlier test on the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "agg_grubbs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rev_c) AS BIGINT) AS s,
             sum(CAST(rev_c AS HUGEINT) * rev_c) AS ss
      FROM daily
    ),
    dev AS (
      SELECT d.day, abs(d.rev_c * t.n - t.s) AS dev_n, t.n, t.s, t.ss
      FROM daily d CROSS JOIN tot t
    ),
    mx AS (SELECT max(dev_n) AS max_dev FROM dev)
    SELECT d.n AS n_days,
           min(d.day) AS outlier_day,
           CAST(min(d.dev_n) AS BIGINT) AS max_dev_n,
           CAST(CAST((CAST(min(d.dev_n) AS HUGEINT) * min(d.dev_n)
                      * (min(d.n) - 1) * 1000000)
                // (CAST(min(d.n) AS HUGEINT)
                    * (min(d.n) * min(d.ss)
                       - CAST(min(d.s) AS HUGEINT) * min(d.s)))
                AS BIGINT) AS DOUBLE) / 1000000.0 AS grubbs_g2,
           sqrt(CAST(CAST((CAST(min(d.dev_n) AS HUGEINT) * min(d.dev_n)
                      * (min(d.n) - 1) * 1000000)
                // (CAST(min(d.n) AS HUGEINT)
                    * (min(d.n) * min(d.ss)
                       - CAST(min(d.s) AS HUGEINT) * min(d.s)))
                AS BIGINT) AS DOUBLE) / 1000000.0) AS grubbs_g
    FROM dev d CROSS JOIN mx x
    WHERE d.dev_n = x.max_dev AND d.n > 2
      AND d.n * d.ss - CAST(d.s AS HUGEINT) * d.s > 0
    GROUP BY d.n
    """,
    doc="Grubbs' maximum-normed-residual test on the daily revenue series: "
    "which single day deviates most from the mean, and by how many "
    "(biased) standard deviations — the formal one-outlier complement to "
    "agg_mad_outliers' robust flagging and orders_shewhart_control's "
    "3-sigma band. Exactness: deviations are n-scaled exact integers "
    "(|n*x - S|, no float mean), the moment sums stay EXACT in "
    "DECIMAL(38,0)/HUGEINT end-to-end (squares taken AFTER widening — a "
    "BIGINT rev_c^2 wraps past sf~0.4), and G^2 = dev^2*(n-1) / "
    "(n*(n*SS - S^2)) is ONE integer floor-division at micro "
    "quantization — the exact totals here cross 2^53 already at sf0.01, "
    "where integer-to-double casts are engine-divergent (DuckDB "
    "truncates, Spark rounds), so NOTHING above 2^53 is ever cast. Tie "
    "days (same |deviation|) resolve to the earliest via min(day). One "
    "map-combined daily rollup; every later relation is 1-row.",
)
def agg_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    rc_d = F.col("rev_c").cast("decimal(38,0)")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev_c").cast("bigint").alias("s"),
        F.sum(rc_d * rc_d).cast("decimal(38,0)").alias("ss"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        F.abs(F.col("rev_c") * F.col("n") - F.col("s")).alias("dev_n"),
        "n",
        "s",
        "ss",
    )
    mx = dev.agg(F.max("dev_n").alias("max_dev"))
    # G^2 in exact integer micro-units: every operand stays DECIMAL/HUGEINT
    # until one floor-division lands below 2^53 (engines disagree on the
    # rounding of bigger integer->double casts)
    g2_u = F.expr(
        "CAST((CAST(min(dev_n) AS DECIMAL(38,0)) * min(dev_n)"
        " * (min(n) - 1) * 1000000)"
        " div (CAST(min(n) AS DECIMAL(38,0))"
        "      * (min(n) * min(ss) - CAST(min(s) AS DECIMAL(38,0)) * min(s)))"
        " AS BIGINT)"
    )
    var_pos = (
        F.col("n") * F.col("ss")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
        > 0
    )
    out = (
        dev.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("dev_n") == F.col("max_dev")) & (F.col("n") > 2) & var_pos
        )
        .groupBy("n")
        .agg(
            F.min("day").alias("outlier_day"),
            F.min("dev_n").cast("bigint").alias("max_dev_n"),
            (g2_u.cast("double") / 1000000.0).alias("grubbs_g2"),
            F.sqrt(g2_u.cast("double") / 1000000.0).alias("grubbs_g"),
        )
        .select(
            F.col("n").alias("n_days"),
            "outlier_day",
            "max_dev_n",
            "grubbs_g2",
            "grubbs_g",
        )
    )
    # daily feeds tot AND the dev projection; dev feeds mx AND the filtered
    # output — both calendar-bounded caches live until the result is dropped
    out = persist_until_collected(daily, out)
    return persist_until_collected(dev, out)


# ---------------------------------------------------------------------------
# agg_mcnemar_test — paired pre/post activity flip test
# ---------------------------------------------------------------------------


@register(
    "agg_mcnemar_test",
    oracle=f"""
    WITH b AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
      WHERE value IS NOT NULL
    ),
    cutoff AS (SELECT min(day) + {CUPED_SPLIT_DAYS} AS split FROM b),
    per_user AS (
      SELECT user_id,
             CAST(round(round(coalesce(
               sum(CASE WHEN day < split THEN value END), 0), 4) * 10000)
               AS BIGINT) AS pre4,
             CAST(round(round(coalesce(
               sum(CASE WHEN day >= split THEN value END), 0), 4) * 10000)
               AS BIGINT) AS post4
      FROM b, cutoff GROUP BY user_id
    ),
    med AS (
      SELECT CAST(round(quantile_cont(pre4, 0.5) * 2) AS BIGINT) AS pre_m2,
             CAST(round(quantile_cont(post4, 0.5) * 2) AS BIGINT) AS post_m2
      FROM per_user
    ),
    flags AS (
      SELECT CASE WHEN 2 * p.pre4 > m.pre_m2 THEN 1 ELSE 0 END AS pre_a,
             CASE WHEN 2 * p.post4 > m.post_m2 THEN 1 ELSE 0 END AS post_a
      FROM per_user p CROSS JOIN med m
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(pre_a * post_a) AS BIGINT) AS both_above,
             CAST(sum(pre_a * (1 - post_a)) AS BIGINT) AS pre_only,
             CAST(sum((1 - pre_a) * post_a) AS BIGINT) AS post_only
      FROM flags
    )
    SELECT n_users, both_above, pre_only, post_only,
           CAST((pre_only - post_only) * (pre_only - post_only) AS DOUBLE)
             / (pre_only + post_only) AS mcnemar_chi2,
           CAST((abs(pre_only - post_only) - 1)
                * (abs(pre_only - post_only) - 1) AS DOUBLE)
             / (pre_only + post_only) AS mcnemar_chi2_cc
    FROM s
    WHERE pre_only + post_only > 0
    """,
    doc="McNemar's test on paired pre/post ABOVE-MEDIAN activity flags "
    "(the shared min(day)+15 split of the CUPED/DiD/paired-t/Wilcoxon "
    "family): did significantly more users cross the cohort median "
    "upward than downward between periods? Only the discordant pairs "
    "carry information — chi2 = (b-c)^2/(b+c), plus the Edwards "
    "continuity-corrected (|b-c|-1)^2/(b+c). Per-user period sums "
    "quantize to exact 1e-4 integers, each period's median is carried as "
    "the exact DOUBLED integer (the agg_median_test recipe — "
    "quantile*2 of integers is exact on both engines even at even "
    "counts), and the above-median flag compares exact integers "
    "(2*x > med2), so the 2x2 table is four exact counts and each "
    "statistic is ONE IEEE division. Zero-discordance inputs emit zero "
    "rows on both engines.",
)
def agg_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        _valued_events_prepost,
    )

    def _q4(pred):
        return F.round(
            F.round(
                F.coalesce(F.sum(F.when(pred, F.col("value"))), F.lit(0.0)),
                4,
            )
            * 10000
        ).cast("bigint")

    per_user = (
        _valued_events_prepost(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            _q4(F.col("day") < F.col("split")).alias("pre4"),
            _q4(F.col("day") >= F.col("split")).alias("post4"),
        )
    )
    med = per_user.agg(
        F.round(F.percentile("pre4", F.lit(0.5)) * 2)
        .cast("bigint")
        .alias("pre_m2"),
        F.round(F.percentile("post4", F.lit(0.5)) * 2)
        .cast("bigint")
        .alias("post_m2"),
    )
    flags = per_user.crossJoin(F.broadcast(med)).select(
        (2 * F.col("pre4") > F.col("pre_m2")).cast("int").alias("pre_a"),
        (2 * F.col("post4") > F.col("post_m2")).cast("int").alias("post_a"),
    )
    s = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("pre_a") * F.col("post_a"))
        .cast("bigint")
        .alias("both_above"),
        F.sum(F.col("pre_a") * (1 - F.col("post_a")))
        .cast("bigint")
        .alias("pre_only"),
        F.sum((1 - F.col("pre_a")) * F.col("post_a"))
        .cast("bigint")
        .alias("post_only"),
    )
    d = F.col("pre_only") - F.col("post_only")
    disc = F.col("pre_only") + F.col("post_only")
    out = s.filter(disc > 0).select(
        "n_users",
        "both_above",
        "pre_only",
        "post_only",
        ((d * d).cast("double") / disc).alias("mcnemar_chi2"),
        (
            ((F.abs(d) - 1) * (F.abs(d) - 1)).cast("double") / disc
        ).alias("mcnemar_chi2_cc"),
    )
    return persist_until_collected(per_user, out)


# ---------------------------------------------------------------------------
# agg_cochran_q — k-treatment binary agreement test (user x event type)
# ---------------------------------------------------------------------------


COCHRAN_MIN_DAYS = 12  # ~median distinct active days per (user, type)


@register(
    "agg_cochran_q",
    oracle=f"""
    WITH pres AS (
      SELECT user_id, event_type
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        AND ts IS NOT NULL
      GROUP BY user_id, event_type
      HAVING count(DISTINCT CAST(ts AS DATE)) >= {COCHRAN_MIN_DAYS}
    ),
    k AS (
      SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
      FROM events WHERE event_type IS NOT NULL
    ),
    users AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        AND ts IS NOT NULL
    ),
    rows_ AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS r FROM pres GROUP BY 1
    ),
    cols AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM pres GROUP BY 1
    ),
    s AS (
      SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS n,
             CAST(coalesce(sum(r * r), 0) AS BIGINT) AS r2
      FROM rows_
    ),
    t AS (
      SELECT CAST(coalesce(sum(c * c), 0) AS BIGINT) AS c2 FROM cols
    )
    SELECT k.k, u.n_users, s.n AS n_presences,
           (k.k - 1) * (k.k * t.c2 - s.n * s.n) AS q_num,
           k.k * s.n - s.r2 AS q_den,
           CAST((k.k - 1) * (k.k * t.c2 - s.n * s.n) AS DOUBLE)
             / (k.k * s.n - s.r2) AS cochran_q
    FROM k, users u, s, t
    WHERE k.k * s.n - s.r2 > 0
    """,
    doc=f"Cochran's Q test on the user x event-type ENGAGEMENT matrix "
    f"(engaged = active with that type on >= {COCHRAN_MIN_DAYS} distinct "
    "days, the cohort-median bar): do the k event types reach the same "
    "fraction of users at that bar? — the k-treatment generalization of "
    "McNemar (k=2 reduces to it) on binary outcomes, the "
    "engagement-parity check a feature-adoption dashboard runs before "
    "pairwise drill-downs. Q = (k-1)(k*sum(Cj^2) - N^2) / (k*N - "
    "sum(Ri^2)) over exact integer row (per-user) and column (per-type) "
    "totals of the 0/1 matrix — implicit zeros never materialize (users "
    "below the bar everywhere simply contribute r=0): one distinct-day "
    "rollup with a HAVING bar, two map-combined rollups, no window, and "
    "ONE final IEEE division. Degenerate inputs (every user engaged "
    "with all types or none, q_den = 0) emit zero rows on both engines.",
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    pres = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.count_distinct(F.col("ts").cast("date")).alias("active_days")
        )
        .filter(F.col("active_days") >= COCHRAN_MIN_DAYS)
        .select("user_id", "event_type")
    )
    pres = pres.persist()  # feeds the row- and column-total rollups
    k = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .agg(F.count_distinct("event_type").cast("bigint").alias("k"))
    )
    users = ev.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users")
    )
    rows_ = pres.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    cols = pres.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = rows_.agg(
        F.coalesce(F.sum("r"), F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(F.sum(F.col("r") * F.col("r")), F.lit(0))
        .cast("bigint")
        .alias("r2"),
    )
    t = cols.agg(
        F.coalesce(F.sum(F.col("c") * F.col("c")), F.lit(0))
        .cast("bigint")
        .alias("c2")
    )
    q_num = (F.col("k") - 1) * (
        F.col("k") * F.col("c2") - F.col("n") * F.col("n")
    )
    q_den = F.col("k") * F.col("n") - F.col("r2")
    out = (
        k.crossJoin(F.broadcast(users))
        .crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(t))
        .filter(q_den > 0)
        .select(
            "k",
            "n_users",
            F.col("n").alias("n_presences"),
            q_num.alias("q_num"),
            q_den.alias("q_den"),
            (q_num.cast("double") / q_den).alias("cochran_q"),
        )
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(pres, out)


# ---------------------------------------------------------------------------
# agg_friedman_test — blocked rank test: priority effect on monthly revenue
# ---------------------------------------------------------------------------


@register(
    "agg_friedman_test",
    oracle="""
    WITH cell AS (
      SELECT date_trunc('month', o_orderdate) AS blk, o_orderpriority AS trt,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s,
             CAST(count(*) AS BIGINT) AS c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    k AS (SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM cell),
    full_blk AS (
      SELECT blk FROM cell, k GROUP BY blk, k.k HAVING count(*) = min(k.k)
    ),
    ranked AS (
      SELECT a.blk, a.trt,
             CAST(2 * sum(CASE WHEN b.s * a.c < a.s * b.c THEN 1 ELSE 0 END)
                  + sum(CASE WHEN b.s * a.c = a.s * b.c THEN 1 ELSE 0 END)
                  + 1 AS BIGINT) AS mr2
      FROM cell a
      JOIN cell b ON b.blk = a.blk
      JOIN full_blk f ON f.blk = a.blk
      GROUP BY a.blk, a.trt
    ),
    rsum AS (
      SELECT trt, CAST(sum(mr2) AS BIGINT) AS r_x2,
             CAST(count(*) AS BIGINT) AS n
      FROM ranked GROUP BY trt
    ),
    q AS (
      SELECT CAST(sum(CAST(round(1000000000.0 * 3.0
               * (CAST(r_x2 AS DOUBLE) * r_x2)
               / (CAST(n AS DOUBLE) * k.k * (k.k + 1))) AS BIGINT))
             AS BIGINT) AS q_nn,
             CAST(min(n) AS BIGINT) AS n_blocks
      FROM rsum, k GROUP BY ()
    )
    SELECT r.trt AS priority, r.r_x2 AS rank_sum_x2, q.n_blocks, k.k,
           CAST(q.q_nn AS DOUBLE) / 1000000000.0
             - 3.0 * q.n_blocks * (k.k + 1) AS q_stat
    FROM rsum r CROSS JOIN q CROSS JOIN k
    WHERE q.n_blocks > 0
    """,
    doc="Friedman test on the month x order-priority design: do the five "
    "priority classes earn systematically different AVERAGE order values, "
    "blocking out the month-to-month trend? — the repeated-measures "
    "complement to agg_kruskal_wallis (which pools all observations and "
    "would confound the calendar). Within each complete block the k=5 "
    "treatment means rank by CROSS-MULTIPLIED integer comparison "
    "(s_i*c_j vs s_j*c_i — never a float division before ranking), "
    "midranks doubled to stay integer; the within-block pair join is "
    "k^2-bounded per month, so the whole ranked relation is "
    "calendar x k^2-sized at any fact scale. Per-treatment Q "
    "contributions 3*R^2/(n*k(k+1)) quantize to integer nano-units "
    "before the k-term sum, and Q itself is one fixed-order IEEE "
    "expression. Incomplete months (a missing priority) drop on both "
    "engines — the balanced-design requirement made explicit.",
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    cell = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    cell = cell.persist()  # feeds k, the block filter AND both pair sides
    k = cell.agg(F.count_distinct("trt").cast("bigint").alias("k"))
    full_blk = (
        cell.crossJoin(F.broadcast(k))
        .groupBy("blk")
        .agg(
            F.count(F.lit(1)).alias("n_trt"), F.min("k").alias("k_")
        )
        .filter(F.col("n_trt") == F.col("k_"))
        .select("blk")
    )
    a = cell.select(
        F.col("blk"), F.col("trt"), F.col("s").alias("sa"),
        F.col("c").alias("ca"),
    )
    b = cell.select(
        F.col("blk").alias("blk_b"), F.col("s").alias("sb"),
        F.col("c").alias("cb"),
    )
    ranked = (
        a.join(F.broadcast(full_blk), "blk")
        .join(b, F.col("blk") == F.col("blk_b"))
        .groupBy("blk", "trt")
        .agg(
            (
                2
                * F.sum(
                    (
                        F.col("sb") * F.col("ca") < F.col("sa") * F.col("cb")
                    ).cast("int")
                )
                + F.sum(
                    (
                        F.col("sb") * F.col("ca") == F.col("sa") * F.col("cb")
                    ).cast("int")
                )
                + 1
            )
            .cast("bigint")
            .alias("mr2")
        )
    )
    rsum = ranked.groupBy("trt").agg(
        F.sum("mr2").cast("bigint").alias("r_x2"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    rsum = rsum.persist()  # k-sized; feeds the Q sum AND the output rows
    rd = F.col("r_x2").cast("double")
    q = rsum.crossJoin(F.broadcast(k)).agg(
        F.sum(
            F.round(
                1000000000.0
                * 3.0
                * (rd * F.col("r_x2"))
                / (F.col("n").cast("double") * F.col("k") * (F.col("k") + 1))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("q_nn"),
        F.min("n").cast("bigint").alias("n_blocks"),
    )
    out = (
        rsum.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(k))
        .filter(F.col("n_blocks") > 0)
        .select(
            F.col("trt").alias("priority"),
            F.col("r_x2").alias("rank_sum_x2"),
            "n_blocks",
            "k",
            (
                F.col("q_nn").cast("double") / 1000000000.0
                - 3.0 * F.col("n_blocks") * (F.col("k") + 1)
            ).alias("q_stat"),
        )
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    out = release_on_gc(cell, out)
    return release_on_gc(rsum, out)


# ---------------------------------------------------------------------------
# agg_hodges_lehmann — robust location estimate of daily revenue
# ---------------------------------------------------------------------------


@register(
    "agg_hodges_lehmann",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT rev_c,
             CAST(date_diff('day', DATE '1992-01-01', day) AS BIGINT) AS t
      FROM d
    ),
    pairs AS (
      SELECT a.rev_c + b.rev_c AS w2
      FROM idx a JOIN idx b ON b.t >= a.t
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(round(quantile_cont(w2, 0.5) * 2) AS BIGINT) AS w_x4
      FROM pairs
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
    SELECT nd.n_days, m.n_pairs, m.w_x4 AS walsh_med_x4,
           CAST(m.w_x4 AS DOUBLE) / CAST(400 AS DOUBLE) AS hl_dollars
    FROM nd, m
    WHERE nd.n_days > 0
    """,
    doc="Hodges-Lehmann robust location estimator of daily revenue: the "
    "median of all Walsh averages (x_i + x_j)/2 over day pairs i <= j — "
    "the estimator the Wilcoxon test inverts, ~29% breakdown like "
    "agg_theil_sen's slope (its exact pairwise-median twin for LEVEL "
    "rather than trend; the plain median and mean are both already "
    "registered, HL completes the efficiency/robustness tradeoff "
    "curve). Walsh sums stay exact integer cents (never halved before "
    "the median), and the doubled median comes from exact ORDER-STATISTIC "
    "SELECTION: quantile_cont(0.5)*2 of integers is w2_(k1) + w2_(k2) "
    "for k1=(n+1) div 2, k2=(n+2) div 2. The day series is "
    "CALENDAR-bounded (<= days rows at any fact size), so after the one "
    "map-combined day rollup it is collected and the selection runs on "
    "the driver: a two-pointer pair counter over the sorted revenues "
    "inside a binary search on the value domain (O(n log n + n log V), "
    "exact Python integers) — bit-identical to materializing all days^2 "
    "pair sums, which is what the plan formerly did (NLJ expansion + "
    "value-group shuffle + two-pass prefix count; Spark's exact "
    "percentile() aggregate before that funneled every pair through one "
    "reducer). The reported estimate is ONE IEEE division (/4 "
    "doubling+pair, /100 cents) on engine-side literals.",
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    # The day relation is CALENDAR-bounded (<= days rows at any fact
    # size — a driver scalar; the former pair join was days^2 by the
    # same bound), so it is collected ONCE after the single
    # corpus-proportional rollup and the exact Walsh-median selection
    # runs on the driver in exact Python integer arithmetic: the pair
    # multiset {rev_i + rev_j : i <= j} is selection-searched with a
    # two-pointer <=v pair counter over the sorted day revenues (O(n)
    # per probe) inside a binary search on the integer value domain —
    # the minimal v with count_le(v) >= k is the exact k-th order
    # statistic, so w_x4 = w2_(k1) + w2_(k2) for k1 = (n+1) div 2,
    # k2 = (n+2) div 2 == round(2*quantile_cont), identical bits.
    # Formerly the plan expanded all days^2 pair sums through an NLJ,
    # shuffled the ~all-distinct value groups, and ran the two-pass
    # prefix-count selection over them — days^2-proportional exchanges
    # whose only purpose was two order statistics of a bounded series.
    revs = sorted(r["rev_c"] for r in d.select("rev_c").collect())
    n = len(revs)
    if n == 0:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("n_days", T.LongType(), True),
                    T.StructField("n_pairs", T.LongType(), True),
                    T.StructField("walsh_med_x4", T.LongType(), True),
                    T.StructField("hl_dollars", T.DoubleType(), True),
                ]
            ),
        )
    n_pairs = n * (n + 1) // 2

    def count_le(v: int) -> int:
        c = 0
        j = n - 1
        for i in range(n):
            while j >= i and revs[i] + revs[j] > v:
                j -= 1
            if j < i:
                break
            c += j - i + 1
        return c

    def kth_pair_sum(k: int) -> int:
        lo, hi = 2 * revs[0], 2 * revs[-1]
        while lo < hi:
            mid = (lo + hi) // 2
            if count_le(mid) >= k:
                hi = mid
            else:
                lo = mid + 1
        return lo

    w_x4 = kth_pair_sum((n_pairs + 1) // 2) + kth_pair_sum(
        (n_pairs + 2) // 2
    )
    # the single final display division stays an engine-side IEEE op on
    # the identical integers (literal inputs), exactly as before
    return spark.range(1).select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        F.lit(w_x4).cast("bigint").alias("walsh_med_x4"),
        (F.lit(w_x4).cast("bigint").cast("double") / F.lit(400).cast("double")).alias(
            "hl_dollars"
        ),
    )


# ---------------------------------------------------------------------------
# docs_simpson_diversity — lexical concentration of the documents corpus
# ---------------------------------------------------------------------------


@register(
    "docs_simpson_diversity",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w
    ),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE) AS c2m,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS c2
      FROM cnt
    )
    SELECT n AS n_tokens, vocab,
           c2m / (CAST(n AS DOUBLE) * (n - 1)) AS simpson_d,
           1.0 - c2m / (CAST(n AS DOUBLE) * (n - 1)) AS gini_simpson,
           (CAST(n AS DOUBLE) * n) / c2 AS inv_simpson
    FROM s
    WHERE n > 1
    """,
    doc="Simpson diversity of the documents corpus vocabulary: the "
    "probability two random tokens coincide (unbiased c(c-1)/(N(N-1)) "
    "form), its Gini-Simpson complement, and the inverse-Simpson "
    "effective vocabulary size — the concentration-side companions to "
    "text_word_entropy (entropy weights rare types logarithmically; "
    "Simpson squares relative abundance, so it reads the HEAD of the "
    "Zipf curve — together they bound the corpus's diversity profile). "
    "All three reduce to two exact integer sums over the vocabulary "
    "relation (sum c(c-1), sum c^2 in HUGEINT/DECIMAL(38,0)) from one "
    "map-combined token count — no window, no sort; each index is one "
    "fixed-order IEEE expression over exact integers.",
)
def docs_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    )
    cnt = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    s = cnt.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        _dsum(
            F.col("c").cast("decimal(38,0)") * (F.col("c") - 1)
        ).alias("c2m"),
        _dsum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("c2"),
    )
    nd = F.col("n").cast("double")
    simpson = F.col("c2m") / (nd * (F.col("n") - 1))
    return s.filter(F.col("n") > 1).select(
        F.col("n").alias("n_tokens"),
        "vocab",
        simpson.alias("simpson_d"),
        (1.0 - simpson).alias("gini_simpson"),
        ((nd * F.col("n")) / F.col("c2")).alias("inv_simpson"),
    )


# ---------------------------------------------------------------------------
# graph_harmonic_centrality — disconnection-robust closeness variant
# ---------------------------------------------------------------------------

# lcm(1..32): every min-plus hop distance d <= 32 divides it exactly, so
# sum(LCM / d) is an EXACT integer numerator for the harmonic sum
_HARMONIC_LCM = 144403552893600


def _harmonic_oracle() -> str:
    from mongodb_nats_connector_spark.operators.pipeline10 import (
        CLOSENESS_ROUNDS,
        _minplus_ctes,
    )

    return f"""{_minplus_ctes()},
    nn AS (
      SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_nodes
      FROM d{CLOSENESS_ROUNDS}
    ),
    h AS (
      SELECT src AS node,
             CAST(count(*) AS BIGINT) AS n_reachable,
             CAST(sum({_HARMONIC_LCM} // d) AS BIGINT) AS harmonic_num
      FROM d{CLOSENESS_ROUNDS}
      WHERE src <> dst
      GROUP BY src
    )
    SELECT h.node, h.n_reachable, h.harmonic_num,
           CAST(h.harmonic_num AS DOUBLE) / {_HARMONIC_LCM} AS harmonic,
           CAST(h.harmonic_num AS DOUBLE) / {_HARMONIC_LCM}
             / (nn.n_nodes - 1) AS harmonic_normalized
    FROM h CROSS JOIN nn
    WHERE nn.n_nodes > 1
    """


@register(
    "graph_harmonic_centrality",
    oracle=_harmonic_oracle(),
    doc="Harmonic centrality (sum of 1/distance over reachable peers, "
    "normalized by n-1) for every nation in the trade graph — the "
    "centrality that stays finite and comparable under DISCONNECTION, "
    "where closeness degrades (Boldi-Vigna's axiomatically preferred "
    "variant); shares graph_closeness_centrality's min-plus doubling "
    "distance relation (nation-bounded, fixed rounds, oracle unrolled "
    "identically). Exactness trick: every hop distance d <= 32, and "
    "lcm(1..32) = 144403552893600, so sum(LCM div d) is an EXACT BIGINT "
    "numerator — integer floor-division that never floors anything — "
    "making the harmonic sum itself exact with ONE final IEEE division "
    "(+ the n-1 normalization), no per-term float addition at all.",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.pipeline10 import (
        _minplus_distances,
    )

    d = _minplus_distances(spark, sf_dir)
    d = d.persist()  # nation-bounded; feeds the node count AND the rollup
    nn = d.select("src").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    h = d.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reachable"),
        F.sum(F.expr(f"{_HARMONIC_LCM} div d"))
        .cast("bigint")
        .alias("harmonic_num"),
    )
    harm = F.col("harmonic_num").cast("double") / F.lit(
        _HARMONIC_LCM
    ).cast("double")
    out = (
        h.crossJoin(F.broadcast(nn))
        .filter(F.col("n_nodes") > 1)
        .select(
            "node",
            "n_reachable",
            "harmonic_num",
            harm.alias("harmonic"),
            (harm / (F.col("n_nodes") - 1)).alias("harmonic_normalized"),
        )
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(d, out)


# ---------------------------------------------------------------------------
# embedding_pq_codebook / similarity_ann_pq — product quantization
# ---------------------------------------------------------------------------

PQ_M = 2        # subspaces
PQ_SUBDIM = 32  # dims per subspace (embeddings are 64-dim)
PQ_K = 4        # centroids per subspace codebook
PQ_ITERS = 2    # assignment rounds (centroids recomputed between)
ANN_PQ_QUERY_ID = 1
ANN_PQ_TOPK = 10


def _pq_d2(sv_col, cv):
    """Squared L2 distance between a subvector column and a centroid — a
    literal list (assignment) or a second array Column (the ADC distance
    table) — as the ONE left-fold sum both engines evaluate in order; every
    PQ distance in this module goes through this fold so the fixed
    operation order can never drift between call sites."""
    cv_col = (
        F.array(*[F.lit(float(x)) for x in cv])
        if isinstance(cv, (list, tuple))
        else cv
    )
    return F.aggregate(
        F.zip_with(sv_col, cv_col, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_best(cents: list[tuple[int, list[float]]], sv="sv"):
    """argmin-by-(d2, cid) struct over the literal codebook — assignment is
    a MAP-ONLY projection (the kmeans_embeddings distribution strategy).
    ``sv`` is a column name or a Column expression for the subvector."""
    col = F.col(sv) if isinstance(sv, str) else sv
    structs = [
        F.struct(_pq_d2(col, cv).alias("d2"), F.lit(cid).alias("cid"))
        for cid, cv in cents
    ]
    return F.array_min(F.array(*structs))


def _pq_train_subspace(se) -> list[tuple[int, list[float]]]:
    """k-means codebook for one subspace relation (vec_id, sv):
    deterministic first-K init, PQ_ITERS assignment rounds; centroids live
    on the driver as K x SUBDIM literals (bounded, corpus-independent)."""
    cents = sorted(
        (r["vec_id"], list(r["sv"]))
        for r in se.filter(F.col("vec_id") < PQ_K).collect()
    )
    for _ in range(PQ_ITERS - 1):
        assigned = se.select(
            "vec_id", "sv", _pq_best(cents)["cid"].alias("cid")
        )
        per_dim = (
            assigned.select("cid", F.posexplode("sv").alias("idx", "val"))
            .groupBy("cid", "idx")
            # round(avg, 6) anchors each coordinate cross-engine: an
            # unrounded distributed avg depends on partial-agg order, and
            # a last-ulp drift could flip an argmin assignment downstream
            .agg(F.round(F.avg("val"), 6).alias("a"))
            .collect()  # bounded: K x SUBDIM rows
        )
        by: dict[int, dict[int, float]] = {}
        for r in per_dim:
            by.setdefault(r["cid"], {})[r["idx"]] = r["a"]
        cents = sorted(
            (cid, [dims[i] for i in range(len(dims))])
            for cid, dims in by.items()
        )
    return cents


def _pq_sub_ctes(m: int) -> str:
    """Oracle twin of one subspace's training: slice, first-K init, one
    recompute round, final assignment with squared-L2 argmin (ties to the
    smallest cid). Final relations: s{m} (subvectors), c{m}1 (codebook),
    a{m}2 (vec_id, cid, d2)."""
    lo, hi = 1 + m * PQ_SUBDIM, (m + 1) * PQ_SUBDIM
    d2 = (
        "list_sum(list_transform(list_zip(s.sv, c.cv),"
        " t -> (t[1]-t[2])*(t[1]-t[2])))"
    )
    return f"""
    s{m} AS MATERIALIZED (
      SELECT vec_id, v[{lo}:{hi}] AS sv FROM e
    ),
    c{m}0 AS (SELECT vec_id AS cid, sv AS cv FROM s{m} WHERE vec_id < {PQ_K}),
    a{m}1 AS (
      SELECT vec_id, sv, cid FROM (
        SELECT s.vec_id, s.sv, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {d2}, c.cid) AS rn
        FROM s{m} s CROSS JOIN c{m}0 c) WHERE rn = 1
    ),
    x{m}1 AS (
      SELECT cid, unnest(sv) AS val, unnest(range(len(sv))) AS idx
      FROM a{m}1
    ),
    c{m}1 AS MATERIALIZED (
      SELECT cid, list(avg_val ORDER BY idx) AS cv FROM (
        SELECT cid, idx, round(avg(val), 6) AS avg_val
        FROM x{m}1 GROUP BY cid, idx)
      GROUP BY cid
    ),
    a{m}2 AS MATERIALIZED (
      SELECT vec_id, cid, d2 FROM (
        SELECT s.vec_id, c.cid, {d2} AS d2,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {d2}, c.cid) AS rn
        FROM s{m} s CROSS JOIN c{m}1 c) WHERE rn = 1
    )"""


@register(
    "embedding_pq_codebook",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),{_pq_sub_ctes(0)},{_pq_sub_ctes(1)}
    SELECT subspace, cid, n_assigned, d2_sum_x10k,
           CAST(d2_sum_x10k AS DOUBLE) / 10000.0 / n_assigned AS avg_sq_dist
    FROM (
      SELECT CAST(0 AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS cid,
             CAST(count(*) AS BIGINT) AS n_assigned,
             CAST(sum(CAST(round(d2 * 10000) AS BIGINT)) AS BIGINT)
               AS d2_sum_x10k
      FROM a02 GROUP BY cid
      UNION ALL
      SELECT CAST(1 AS BIGINT), CAST(cid AS BIGINT),
             CAST(count(*) AS BIGINT),
             CAST(sum(CAST(round(d2 * 10000) AS BIGINT)) AS BIGINT)
      FROM a12 GROUP BY cid
    )
    """,
    doc=f"Product-quantization codebook training over the embedding corpus: "
    f"split each 64-dim vector into {PQ_M} x {PQ_SUBDIM}-dim subspaces and "
    f"k-means each independently (k={PQ_K}, {PQ_ITERS} assignment rounds, "
    "deterministic first-K init) — the compression stage of "
    "PQ/IVF-PQ indexes (Jegou et al.), storing each vector as "
    f"{PQ_M} byte-codes instead of 64 floats. Distribution strategy is "
    "kmeans_embeddings': per-round centroids collect to the driver "
    "(K x SUBDIM doubles, corpus-independent) and re-enter as LITERALS, "
    "so every assignment is a map-only projection — no joins or shuffles "
    "of vectors; the recompute is one map-combined (cid, dim) rollup. "
    "Per-cell distortions quantize to integer 1e-4 units per ROW before "
    "the cell sum (exact integer addition; the rounded d2 itself is the "
    "per-row anchor, the kmeans dist-rounding precedent), and the "
    "reported average distortion is one fixed-order IEEE expression.",
)
def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.persist()  # feeds every subspace's training collects + scans
    parts = []
    for m in range(PQ_M):
        se = e.select(
            "vec_id",
            F.slice("v", 1 + m * PQ_SUBDIM, PQ_SUBDIM).alias("sv"),
        )
        cents = _pq_train_subspace(se)
        best = _pq_best(cents)
        a2 = se.select(best["cid"].alias("cid"), best["d2"].alias("d2"))
        parts.append(
            a2.groupBy("cid").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
                F.sum(F.round(F.col("d2") * 10000).cast("bigint"))
                .cast("bigint")
                .alias("d2_sum_x10k"),
            ).select(
                F.lit(m).cast("bigint").alias("subspace"),
                F.col("cid").cast("bigint").alias("cid"),
                "n_assigned",
                "d2_sum_x10k",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    out = u.select(
        "subspace",
        "cid",
        "n_assigned",
        "d2_sum_x10k",
        (
            F.col("d2_sum_x10k").cast("double") / 10000.0 / F.col("n_assigned")
        ).alias("avg_sq_dist"),
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(e, out)


def _ann_pq_oracle() -> str:
    qd2 = (
        "list_sum(list_transform(list_zip(q.sv, c.cv),"
        " t -> (t[1]-t[2])*(t[1]-t[2])))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),{_pq_sub_ctes(0)},{_pq_sub_ctes(1)},
    dt0 AS (
      SELECT c.cid, {qd2} AS qd2
      FROM c01 c, (SELECT sv FROM s0 WHERE vec_id = {ANN_PQ_QUERY_ID}) q
    ),
    dt1 AS (
      SELECT c.cid, {qd2} AS qd2
      FROM c11 c, (SELECT sv FROM s1 WHERE vec_id = {ANN_PQ_QUERY_ID}) q
    )
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
           CAST(a0.cid AS BIGINT) AS code0, CAST(a1.cid AS BIGINT) AS code1,
           round(d0.qd2 + d1.qd2, 6) + 0.0 AS approx_d2
    FROM e
    JOIN a02 a0 ON a0.vec_id = e.vec_id
    JOIN a12 a1 ON a1.vec_id = e.vec_id
    JOIN dt0 d0 ON d0.cid = a0.cid
    JOIN dt1 d1 ON d1.cid = a1.cid
    WHERE e.vec_id <> {ANN_PQ_QUERY_ID}
    ORDER BY round(d0.qd2 + d1.qd2, 6), e.vec_id
    LIMIT {ANN_PQ_TOPK}
    """


@register(
    "similarity_ann_pq",
    oracle=_ann_pq_oracle(),
    doc=f"Approximate nearest-neighbor search by asymmetric distance "
    f"computation (ADC) over the PQ codes: encode every vector as "
    f"{PQ_M} centroid ids (embedding_pq_codebook's codebooks), "
    "precompute the query's squared distance to each centroid (a "
    f"{PQ_M} x {PQ_K} lookup table), and rank candidates by the SUM of "
    f"table lookups — top-{ANN_PQ_TOPK} for query vector "
    f"{ANN_PQ_QUERY_ID}. This is the memory-bandwidth-bound inner loop "
    "of IVF-PQ indexes: per-vector work is two code lookups + one add, "
    "never a 64-dim scan. Encoding is a map-only literal projection (the "
    "kmeans distribution strategy); the lookup tables are "
    "centroid-cardinality relations broadcast to the codes; the approx "
    "distance is ONE fixed-order IEEE add of the two table entries "
    "(never a multi-term float sum), rounded to 6 as the cross-engine "
    "ordering anchor with vec_id tie-breaks; the top-k ships via "
    "TakeOrderedAndProject. The exact-cosine twin is "
    "similarity_topk_bruteforce — comparing the two quantifies PQ "
    "recall, the standard index-quality readout.",
)
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.persist()  # feeds training collects, encoding AND the output
    enc = e
    dts = []
    for m in range(PQ_M):
        sv = F.slice("v", 1 + m * PQ_SUBDIM, PQ_SUBDIM)
        se = e.select("vec_id", sv.alias("sv"))
        cents = _pq_train_subspace(se)
        enc = enc.withColumn(f"code{m}", _pq_best(cents, sv)["cid"])
        # query distance table: centroid-cardinality relation whose qd2 is
        # the SAME literal-fold expression the oracle evaluates
        qsv = se.filter(F.col("vec_id") == ANN_PQ_QUERY_ID).select("sv")
        dt = qsv.crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(cid, cv) for cid, cv in cents],
                    f"cid int, cv array<double>",
                )
            )
        ).select(
            F.col("cid").alias(f"dcid{m}"),
            _pq_d2(F.col("sv"), F.col("cv")).alias(f"qd2_{m}"),
        )
        dts.append(dt)
    approx = F.round(F.col("qd2_0") + F.col("qd2_1"), 6) + F.lit(0.0)
    out = (
        enc.filter(F.col("vec_id") != ANN_PQ_QUERY_ID)
        .join(F.broadcast(dts[0]), F.col("code0") == F.col("dcid0"))
        .join(F.broadcast(dts[1]), F.col("code1") == F.col("dcid1"))
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.col("code0").cast("bigint").alias("code0"),
            F.col("code1").cast("bigint").alias("code1"),
            approx.alias("approx_d2"),
        )
        .orderBy("approx_d2", "vec_id")
        .limit(ANN_PQ_TOPK)
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(e, out)


# ---------------------------------------------------------------------------
# events_burst_detection — two-threshold (hysteresis) burst state machine
# ---------------------------------------------------------------------------

BURST_HI_NUM = 51  # enter burst when rate > 1.02x the global mean (51/50)
BURST_LO_NUM = 49  # leave burst when rate < 0.98x the global mean (49/50)


@register(
    "events_burst_detection",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS t, CAST(sum(c) AS BIGINT) AS n
      FROM daily
    ),
    crossed AS (
      SELECT d.day, d.c,
             CASE WHEN 50 * d.c * t.t > {BURST_HI_NUM} * t.n THEN 1
                  WHEN 50 * d.c * t.t < {BURST_LO_NUM} * t.n THEN 0
             END AS cross_dir
      FROM daily d CROSS JOIN tot t
    ),
    st AS (
      SELECT day, c,
             CAST(coalesce(last_value(cross_dir IGNORE NULLS) OVER w, 0)
                  AS BIGINT) AS state
      FROM crossed
      WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ),
    marked AS (
      SELECT day, c, state,
             CASE WHEN state = 1
                   AND coalesce(lag(state) OVER (ORDER BY day), 0) = 0
                  THEN 1 ELSE 0 END AS is_start
      FROM st
    )
    SELECT day, c AS n_events, state,
           is_start = 1 AS is_burst_start,
           CAST(CASE WHEN state = 1
                THEN sum(is_start) OVER (ORDER BY day
                                         ROWS UNBOUNDED PRECEDING)
                ELSE 0 END AS BIGINT) AS burst_id
    FROM marked
    """,
    doc=f"Burst detection over the daily event series with a two-threshold "
    f"hysteresis state machine: enter the burst state when the day's rate "
    f"exceeds {BURST_HI_NUM / 50}x the global mean rate, leave only when "
    f"it drops below {BURST_LO_NUM / 50}x, hold otherwise — the "
    "Schmitt-trigger simplification of Kleinberg's two-state burst "
    "automaton (same high/low state structure; hysteresis replaces the "
    "Viterbi transition cost, trading optimality for a backtrack-free "
    "single pass that streams). The sequential state dependence is NOT a "
    "loop: it is the last-crossing LOCF identity (state = most recent "
    "threshold crossing's direction), one last_value(IGNORE NULLS) "
    "window; burst ids are a running count of entries. Thresholds "
    "compare as cross-multiplied exact integers (50*c*T vs k*N — no "
    "rate division), so every emitted column is an exact integer, date, "
    "or bool — nothing float on the hash surface. All windows run over "
    "the calendar-bounded daily rollup.",
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("c").cast("bigint").alias("n"),
    )
    rate = 50 * F.col("c") * F.col("t")
    crossed = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "c",
        F.when(rate > BURST_HI_NUM * F.col("n"), F.lit(1))
        .when(rate < BURST_LO_NUM * F.col("n"), F.lit(0))
        .alias("cross_dir"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wlag = Window.orderBy("day")
    st = crossed.select(
        "day",
        "c",
        F.coalesce(
            F.last("cross_dir", ignorenulls=True).over(wcum), F.lit(0)
        )
        .cast("bigint")
        .alias("state"),
    )
    marked = st.select(
        "day",
        "c",
        "state",
        F.when(
            (F.col("state") == 1)
            & (F.coalesce(F.lag("state").over(wlag), F.lit(0)) == 0),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    out = marked.select(
        "day",
        F.col("c").alias("n_events"),
        "state",
        (F.col("is_start") == 1).alias("is_burst_start"),
        F.when(
            F.col("state") == 1, F.sum("is_start").over(wcum)
        )
        .otherwise(0)
        .cast("bigint")
        .alias("burst_id"),
    )
    return persist_until_collected(daily, out)


# ---------------------------------------------------------------------------
# orders_logrank_test — two-group survival comparison (urgent vs other)
# ---------------------------------------------------------------------------


@register(
    "orders_logrank_test",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate, o_orderpriority,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    ft AS (
      SELECT o_custkey,
             max(CASE WHEN rn = 1 THEN o_orderdate END) AS t1,
             max(CASE WHEN rn = 2 THEN o_orderdate END) AS t2,
             max(CASE WHEN rn = 1 THEN o_orderpriority END) AS prio
      FROM o2 WHERE rn <= 2 GROUP BY o_custkey
    ),
    mx AS (SELECT max(o_orderdate) AS tmax FROM orders),
    obs AS (
      SELECT CAST(CASE WHEN f.t2 IS NOT NULL
                  THEN date_diff('day', CAST(f.t1 AS DATE), CAST(f.t2 AS DATE))
                  ELSE date_diff('day', CAST(f.t1 AS DATE),
                                 CAST(m.tmax AS DATE))
             END AS BIGINT) AS dur,
             CAST(CASE WHEN f.t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS ev,
             CAST(CASE WHEN f.prio IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0
                  END AS BIGINT) AS g
      FROM ft f, mx m
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(g) AS BIGINT) AS n1
      FROM obs
    ),
    by_d AS (
      SELECT dur,
             CAST(sum(ev) AS BIGINT) AS d,
             CAST(sum(ev * g) AS BIGINT) AS d1,
             CAST(count(*) AS BIGINT) AS removed,
             CAST(sum(g) AS BIGINT) AS removed1
      FROM obs GROUP BY 1
    ),
    sw AS (
      SELECT dur, d, d1,
             t.n - CAST(coalesce(sum(removed) OVER w, 0) AS BIGINT) AS nr,
             t.n1 - CAST(coalesce(sum(removed1) OVER w, 0) AS BIGINT) AS nr1
      FROM by_d, tot t
      WINDOW w AS (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    terms AS (
      SELECT CAST(sum(d1) AS BIGINT) AS o1,
             CAST(sum(CAST(round(1000000000.0 * (d1 * nr - nr1 * d)
                                 / nr) AS BIGINT)) AS BIGINT) AS diff_nn,
             CAST(sum(CASE WHEN nr > 1 THEN CAST(round(1000000000.0
                   * (CAST(nr1 AS DOUBLE) * (nr - nr1) * d * (nr - d))
                   / ((CAST(nr AS DOUBLE) * nr) * (nr - 1))) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS var_nn,
             CAST(count(*) AS BIGINT) AS n_times
      FROM sw WHERE d > 0 AND nr > 0
    )
    SELECT t.n1, t.n - t.n1 AS n0, x.n_times, x.o1, x.diff_nn, x.var_nn,
           (CAST(x.diff_nn AS DOUBLE) * x.diff_nn)
             / (1000000000.0 * x.var_nn) AS logrank_chi2
    FROM tot t CROSS JOIN terms x
    WHERE x.var_nn > 0
    """,
    doc="Log-rank test comparing repeat-purchase survival between "
    "customers whose FIRST order was urgent/high priority and everyone "
    "else — the hypothesis test that completes the survival family "
    "(orders_survival_km estimates the curve, orders_nelson_aalen its "
    "hazard; log-rank says whether two curves DIFFER), censoring-aware "
    "where a naive conversion-rate comparison is biased. Same duration/"
    "censoring construction as KM (one per-customer windowed pass, "
    "shared first-two pivot). At each event time the observed-minus-"
    "expected increment (d1 - n1*d/n) and the hypergeometric variance "
    "n1*n0*d*(n-d)/(n^2*(n-1)) are single fixed-order IEEE expressions "
    "over EXACT integer risk-set counts, quantized to integer nano-units "
    "BEFORE the time sum (the agg_cramers_v discipline), so the chi2 is "
    "two exact integer sums and ONE final expression. Risk sets come "
    "from one cumulative window over the duration-bounded relation "
    "(the orders_survival_km pin).",
)
def orders_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ft = (
        o.select(
            "o_custkey",
            "o_orderdate",
            "o_orderpriority",
            F.row_number().over(w2).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("t1"),
            F.max(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("t2"),
            F.max(
                F.when(F.col("rn") == 1, F.col("o_orderpriority"))
            ).alias("prio"),
        )
    )
    mx = o.agg(F.max("o_orderdate").alias("tmax"))
    obs = ft.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("t2").isNotNull(),
            F.datediff(F.col("t2").cast("date"), F.col("t1").cast("date")),
        )
        .otherwise(
            F.datediff(F.col("tmax").cast("date"), F.col("t1").cast("date"))
        )
        .cast("bigint")
        .alias("dur"),
        F.col("t2").isNotNull().cast("bigint").alias("ev"),
        F.col("prio")
        .isin("1-URGENT", "2-HIGH")
        .cast("bigint")
        .alias("g"),
    )
    tot = obs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("n1"),
    )
    by_d = obs.groupBy("dur").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(F.col("ev") * F.col("g")).cast("bigint").alias("d1"),
        F.count(F.lit(1)).cast("bigint").alias("removed"),
        F.sum("g").cast("bigint").alias("removed1"),
    )
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    sw = by_d.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        "d1",
        (
            F.col("n")
            - F.coalesce(F.sum("removed").over(wprev), F.lit(0)).cast(
                "bigint"
            )
        ).alias("nr"),
        (
            F.col("n1")
            - F.coalesce(F.sum("removed1").over(wprev), F.lit(0)).cast(
                "bigint"
            )
        ).alias("nr1"),
    )
    nrd = F.col("nr").cast("double")
    diff_nn = F.round(
        1000000000.0
        * (F.col("d1") * F.col("nr") - F.col("nr1") * F.col("d"))
        / F.col("nr")
    ).cast("bigint")
    var_nn = F.when(
        F.col("nr") > 1,
        F.round(
            1000000000.0
            * (
                F.col("nr1").cast("double")
                * (F.col("nr") - F.col("nr1"))
                * F.col("d")
                * (F.col("nr") - F.col("d"))
            )
            / ((nrd * F.col("nr")) * (F.col("nr") - 1))
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    terms = (
        sw.filter((F.col("d") > 0) & (F.col("nr") > 0))
        .agg(
            F.sum("d1").cast("bigint").alias("o1"),
            F.sum(diff_nn).cast("bigint").alias("diff_nn"),
            F.sum(var_nn).cast("bigint").alias("var_nn"),
            F.count(F.lit(1)).cast("bigint").alias("n_times"),
        )
    )
    out = (
        tot.crossJoin(F.broadcast(terms))
        .filter(F.col("var_nn") > 0)
        .select(
            "n1",
            (F.col("n") - F.col("n1")).alias("n0"),
            "n_times",
            "o1",
            "diff_nn",
            "var_nn",
            (
                (F.col("diff_nn").cast("double") * F.col("diff_nn"))
                / (1000000000.0 * F.col("var_nn"))
            ).alias("logrank_chi2"),
        )
    )
    return persist_until_collected(obs, out)


# ---------------------------------------------------------------------------
# agg_cohen_kappa — chance-corrected agreement between two binary raters
# ---------------------------------------------------------------------------


@register(
    "agg_cohen_kappa",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
               AS rb
      FROM lineitem
    ),
    med AS (
      SELECT CAST(round(quantile_cont(price_c, 0.5) * 2) AS BIGINT) AS m2
      FROM b
    ),
    flags AS (
      SELECT CASE WHEN 2 * b.price_c > m.m2 THEN 1 ELSE 0 END AS ra, b.rb
      FROM b CROSS JOIN med m
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ra * rb) AS BIGINT) AS a11,
             CAST(sum(ra * (1 - rb)) AS BIGINT) AS a10,
             CAST(sum((1 - ra) * rb) AS BIGINT) AS a01,
             CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS a00
      FROM flags
    )
    SELECT n, a11, a10, a01, a00,
           CAST(n * (a11 + a00)
                - ((a11 + a10) * (a11 + a01) + (a01 + a00) * (a10 + a00))
                AS BIGINT) AS kappa_num,
           CAST(n * n
                - ((a11 + a10) * (a11 + a01) + (a01 + a00) * (a10 + a00))
                AS BIGINT) AS kappa_den,
           CAST(n * (a11 + a00)
                - ((a11 + a10) * (a11 + a01) + (a01 + a00) * (a10 + a00))
                AS DOUBLE)
             / (n * n
                - ((a11 + a10) * (a11 + a01) + (a01 + a00) * (a10 + a00)))
             AS cohen_kappa
    FROM s
    WHERE n * n
          - ((a11 + a10) * (a11 + a01) + (a01 + a00) * (a10 + a00)) <> 0
    """,
    doc="Cohen's kappa between two binary 'raters' over lineitems: "
    "above-median price vs returned — the chance-corrected agreement "
    "coefficient (raw accuracy rewards majority-class collusion; kappa "
    "subtracts the agreement two independent raters with these marginals "
    "would reach by luck), the standard inter-annotator and "
    "label-quality readout for training-data curation. The price rater "
    "thresholds on the exact DOUBLED median of integer cents (the "
    "agg_median_test recipe), the 2x2 confusion matrix is four exact "
    "integer counts from one map-combined pass, and kappa = "
    "(N*agree - chance)/(N^2 - chance) is carried as exact integer "
    "numerator/denominator with ONE final IEEE division — no float "
    "probabilities anywhere.",
)
def agg_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (VERDICT r14 item 4): the doubled median of integer cents no
    # longer runs as a global F.percentile aggregate (a value->count map
    # of every distinct cent amount through ONE reducer — §2.2) but via
    # the shared two-pass range selection (plans/selection.py):
    # m2 = v_lower + v_higher in exact integer arithmetic — provably
    # identical to round(percentile(x,.5)*2) (see selection.py docstring;
    # pinned by tests/test_r15_selection.py) — embedded as a literal, so
    # the confusion matrix is ONE map-combined pass with no crossJoin.
    from mongodb_nats_connector_spark.plans.selection import (
        _median_ranks,
        doubled_median2,
        selected_order_stats,
    )

    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "price_c"
        ),
        (F.col("l_returnflag") == "R").cast("bigint").alias("rb"),
    )
    n_b, at = selected_order_stats(b, "price_c", _median_ranks)[()]
    m2 = doubled_median2(n_b, at)
    flags = b.select(
        (2 * F.col("price_c") > F.lit(m2).cast("bigint"))
        .cast("bigint")
        .alias("ra"),
        "rb",
    )
    s = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("a11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("bigint").alias("a10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("bigint").alias("a01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb")))
        .cast("bigint")
        .alias("a00"),
    )
    chance = (F.col("a11") + F.col("a10")) * (F.col("a11") + F.col("a01")) + (
        F.col("a01") + F.col("a00")
    ) * (F.col("a10") + F.col("a00"))
    num = F.col("n") * (F.col("a11") + F.col("a00")) - chance
    den = F.col("n") * F.col("n") - chance
    out = (
        s.filter(den != 0)
        .select(
            "n",
            "a11",
            "a10",
            "a01",
            "a00",
            num.cast("bigint").alias("kappa_num"),
            den.cast("bigint").alias("kappa_den"),
            (num.cast("double") / den).alias("cohen_kappa"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# agg_hellinger_distance — Bhattacharyya/Hellinger between priority classes
# ---------------------------------------------------------------------------


@register(
    "agg_hellinger_distance",
    oracle="""
    WITH b AS (
      SELECT CAST(round(o_totalprice / 10000) AS BIGINT) AS v,
             CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                  AS BIGINT) AS g
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    cells AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) - sum(g) AS BIGINT) AS c0
      FROM b GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c0) AS BIGINT) AS n0
      FROM cells
    ),
    terms AS (
      SELECT CAST(sum(CAST(round(1000000000.0
               * sqrt(CAST(c1 AS DOUBLE) * c0)) AS BIGINT)) AS BIGINT)
               AS bc_nn
      FROM cells
    )
    SELECT t.n1 AS n_urgent, t.n0 AS n_low, x.bc_nn,
           CAST(x.bc_nn AS DOUBLE) / 1000000000.0
             / sqrt(CAST(t.n1 AS DOUBLE) * t.n0) AS bhattacharyya_coef,
           sqrt(1.0 - CAST(x.bc_nn AS DOUBLE) / 1000000000.0
                / sqrt(CAST(t.n1 AS DOUBLE) * t.n0)) AS hellinger_dist
    FROM tot t CROSS JOIN terms x
    WHERE t.n1 > 0 AND t.n0 > 0
      AND 1.0 - CAST(x.bc_nn AS DOUBLE) / 1000000000.0
          / sqrt(CAST(t.n1 AS DOUBLE) * t.n0) >= 0
    """,
    doc="Bhattacharyya coefficient and Hellinger distance between the "
    "URGENT and LOW order-value distributions over the same bounded "
    "~55-bucket domain as orders_wasserstein_1d — completing the "
    "distribution-distance family (KL is asymmetric and blows up on "
    "disjoint support, JS fixes symmetry, Wasserstein adds geometry; "
    "Hellinger is the bounded [0,1] metric with sqrt affinity "
    "semantics). Identity: BC = sum sqrt(p*q) = sum sqrt(c1*c0) / "
    "sqrt(n1*n0), so each per-bucket term is ONE correctly-rounded sqrt "
    "of an exact integer product, quantized to integer nano-units "
    "BEFORE the bucket sum (summation order cannot move a bit); BC and "
    "H = sqrt(1-BC) are fixed-order IEEE expressions. One filtered "
    "map-combined rollup; no window at all.",
)
def agg_hellinger_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    b = o.select(
        F.round(F.col("o_totalprice") / 10000).cast("bigint").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("c0"),
    )
    tot = cells.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c0").cast("bigint").alias("n0"),
    )
    terms = cells.agg(
        F.sum(
            F.round(
                1000000000.0
                * F.sqrt(F.col("c1").cast("double") * F.col("c0"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("bc_nn")
    )
    bc = (
        F.col("bc_nn").cast("double")
        / 1000000000.0
        / F.sqrt(F.col("n1").cast("double") * F.col("n0"))
    )
    out = (
        tot.crossJoin(F.broadcast(terms))
        .filter((F.col("n1") > 0) & (F.col("n0") > 0) & (1.0 - bc >= 0))
        .select(
            F.col("n1").alias("n_urgent"),
            F.col("n0").alias("n_low"),
            "bc_nn",
            bc.alias("bhattacharyya_coef"),
            F.sqrt(1.0 - bc).alias("hellinger_dist"),
        )
    )
    return persist_until_collected(cells, out)


# ---------------------------------------------------------------------------
# orders_tukey_pairwise — all pairwise priority mean contrasts (post-hoc)
# ---------------------------------------------------------------------------


@register(
    "orders_tukey_pairwise",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             sum(CAST(cents AS HUGEINT) * cents) AS ss
      FROM b GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum((ss * n - CAST(s AS HUGEINT) * s)
                      // (CAST(n AS HUGEINT) * 1000000)) AS BIGINT)
               AS ssw_m
      FROM g
    ),
    pairs AS (
      SELECT a.grp AS grp_a, b2.grp AS grp_b,
             a.n AS na, b2.n AS nb, a.s AS sa, b2.s AS sb,
             t.nn, t.k, t.ssw_m
      FROM g a JOIN g b2 ON a.grp < b2.grp CROSS JOIN tot t
    )
    SELECT grp_a, grp_b, na, nb,
           (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / 100.0
             AS mean_diff,
           sqrt((CAST(ssw_m AS DOUBLE) * 1000000.0 / (nn - k))
                * (1.0 / na + 1.0 / nb)) / 100.0 AS se_diff,
           abs((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / 100.0)
             / (sqrt((CAST(ssw_m AS DOUBLE) * 1000000.0 / (nn - k))
                     * (1.0 / na + 1.0 / nb)) / 100.0)
             AS t_stat
    FROM pairs
    WHERE nn > k AND ssw_m > 0
    """,
    doc="All pairwise order-priority mean contrasts with the pooled "
    "within-group error (the post-hoc table behind a Tukey HSD: mean "
    "difference, its standard error under the one-way ANOVA pooled MSE, "
    "and |t| — the studentized-range critical value is a lookup the "
    "caller applies): WHICH priorities differ after agg_kruskal_wallis/"
    "agg_friedman_test says SOME do. Exactness: each group's "
    "within-SS numerator n*SS - S^2 stays EXACT in DECIMAL/HUGEINT and "
    "floor-divides by n*1e6 down to an integer BELOW 2^53 before any "
    "double conversion — integer-to-double casts above 2^53 are where "
    "engines disagree (DuckDB truncates, Spark rounds to nearest; found "
    "the hard way at sf0.1), so the hash surface never crosses one. "
    "Mean differences, SE and |t| are fixed-order IEEE expressions over "
    "those exact integers; the pair join is k^2-bounded (k=5). "
    "Degenerate zero-variance inputs emit zero rows on both engines.",
)
def orders_tukey_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = b.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    g = g.persist()  # k-sized; feeds the total AND both pair sides
    # exact integer micro-cents^2 within-SS per group: (n*SS - S^2) div
    # (n*1e6) — never casts a >2^53 integer to double (engine-divergent)
    ssw_m = F.expr(
        "CAST((ss * n - CAST(s AS DECIMAL(38,0)) * s)"
        " div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)"
    )
    tot = g.select(ssw_m.alias("t6"), "n").agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("t6").cast("bigint").alias("ssw_m"),
    )
    a = g.select(
        F.col("grp").alias("grp_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
    )
    b2 = g.select(
        F.col("grp").alias("grp_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    pairs = (
        a.join(F.broadcast(b2), F.col("grp_a") < F.col("grp_b"))
        .crossJoin(F.broadcast(tot))
    )
    mean_diff = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    ) / 100.0
    se = (
        F.sqrt(
            (
                F.col("ssw_m").cast("double")
                * 1000000.0
                / (F.col("nn") - F.col("k"))
            )
            * (1.0 / F.col("na") + 1.0 / F.col("nb"))
        )
        / 100.0
    )
    out = (
        pairs.filter((F.col("nn") > F.col("k")) & (F.col("ssw_m") > 0))
        .select(
            "grp_a",
            "grp_b",
            "na",
            "nb",
            mean_diff.alias("mean_diff"),
            se.alias("se_diff"),
            (F.abs(mean_diff) / se).alias("t_stat"),
        )
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(g, out)


# ---------------------------------------------------------------------------
# graph_clustering_coefficient — per-node triangle density of the trade graph
# ---------------------------------------------------------------------------

_UND_EDGES_SQL = """
    dir_edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2
    ),
    adj AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM (
        SELECT least(src, dst) AS src, greatest(src, dst) AS dst
        FROM dir_edges
        UNION
        SELECT greatest(src, dst), least(src, dst) FROM dir_edges
      )
    )"""


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_UND_EDGES_SQL},
    deg AS (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY 1
    ),
    tri AS (
      SELECT w1.a AS node, CAST(count(*) AS BIGINT) AS triangles
      FROM adj w1
      JOIN adj w2 ON w2.a = w1.a AND w2.b > w1.b
      JOIN adj e ON e.a = w1.b AND e.b = w2.b
      GROUP BY w1.a
    ),
    pn AS (
      SELECT d.node, d.degree, coalesce(t.triangles, 0) AS triangles
      FROM deg d LEFT JOIN tri t ON t.node = d.node
    ),
    g AS (
      SELECT CAST(sum(triangles) AS BIGINT) AS closed_x3,
             CAST(sum(degree * (degree - 1)) AS BIGINT) AS wedges_x2
      FROM pn
    )
    SELECT p.node, p.degree, p.triangles,
           CASE WHEN p.degree > 1
                THEN CAST(2 * p.triangles AS DOUBLE)
                     / (CAST(p.degree AS DOUBLE) * (p.degree - 1))
                ELSE 0.0 END AS clustering,
           CAST(2 * g.closed_x3 AS DOUBLE) / g.wedges_x2 AS transitivity
    FROM pn p CROSS JOIN g
    WHERE g.wedges_x2 > 0
    """,
    doc="Local clustering coefficient per nation (2*triangles-through-node "
    "/ deg*(deg-1)) plus the global transitivity ratio — how clique-like "
    "each node's trade neighborhood is, the per-node refinement of "
    "graph_triangle_count's single global number (and the standard "
    "small-world diagnostic next to closeness/eccentricity). Triangles "
    "count by the ordered wedge join (neighbors b < c of the same node, "
    "closed by an edge lookup — every join a hash equi-join on the "
    "nation-bounded symmetric adjacency; each triangle contributes "
    "exactly once per member node, so sum(per-node triangles) = "
    "3*global-triangles, checked in tests). Degrees, triangle counts "
    "and wedge counts are exact BIGINTs; each coefficient is ONE "
    "fixed-order IEEE division. Zero-wedge graphs emit zero rows; "
    "degree-1 nodes emit an exact 0.0.",
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )

    de = trade_edges(spark, sf_dir)
    fwd = de.select("src", "dst")
    adj = (
        fwd.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .unionAll(
            fwd.select(
                F.greatest("src", "dst").alias("a"),
                F.least("src", "dst").alias("b"),
            )
        )
        .distinct()
    )
    adj = adj.persist()  # nation-bounded; feeds degree, wedge AND closing
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    w1 = adj.select(F.col("a").alias("node"), F.col("b").alias("v"))
    w2 = adj.select(F.col("a").alias("node2"), F.col("b").alias("w"))
    closing = adj.select(F.col("a").alias("ea"), F.col("b").alias("eb"))
    tri = (
        w1.join(
            w2,
            (F.col("node2") == F.col("node")) & (F.col("w") > F.col("v")),
        )
        .join(
            closing,
            (F.col("ea") == F.col("v")) & (F.col("eb") == F.col("w")),
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    pn = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
    )
    pn = pn.persist()  # nation-sized; feeds the global ratio AND the output
    g = pn.agg(
        F.sum("triangles").cast("bigint").alias("closed_x3"),
        F.sum(F.col("degree") * (F.col("degree") - 1))
        .cast("bigint")
        .alias("wedges_x2"),
    )
    out = (
        pn.crossJoin(F.broadcast(g))
        .filter(F.col("wedges_x2") > 0)
        .select(
            "node",
            "degree",
            "triangles",
            F.when(
                F.col("degree") > 1,
                (2 * F.col("triangles")).cast("double")
                / (F.col("degree").cast("double") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
            (
                (2 * F.col("closed_x3")).cast("double") / F.col("wedges_x2")
            ).alias("transitivity"),
        )
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    out = release_on_gc(adj, out)
    return release_on_gc(pn, out)


# ---------------------------------------------------------------------------
# agg_trimmed_mean — robust location: 10% trimmed + winsorized daily revenue
# ---------------------------------------------------------------------------

TRIM_PCT_NUM = 1  # trim fraction = 1/10 per tail
TRIM_PCT_DEN = 10


@register(
    "agg_trimmed_mean",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    rk AS (
      SELECT rev_c,
             CAST(row_number() OVER (ORDER BY rev_c, day) AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    k AS (
      SELECT n, (n * {TRIM_PCT_NUM}) // {TRIM_PCT_DEN} AS k FROM rk LIMIT 1
    ),
    mid AS (
      SELECT CAST(sum(r.rev_c) AS BIGINT) AS mid_sum,
             CAST(count(*) AS BIGINT) AS mid_n
      FROM rk r, k WHERE r.rn > k.k AND r.rn <= k.n - k.k
    ),
    fences AS (
      SELECT CAST(min(CASE WHEN r.rn = k.k + 1 THEN r.rev_c END) AS BIGINT)
               AS low_c,
             CAST(min(CASE WHEN r.rn = k.n - k.k THEN r.rev_c END) AS BIGINT)
               AS high_c
      FROM rk r, k
    )
    SELECT k.n AS n_days, k.k AS n_trimmed_per_tail,
           m.mid_sum, f.low_c AS lower_fence_c, f.high_c AS upper_fence_c,
           CAST(m.mid_sum AS DOUBLE) / m.mid_n / 100.0 AS trimmed_mean,
           CAST(m.mid_sum + k.k * f.low_c + k.k * f.high_c AS DOUBLE)
             / k.n / 100.0 AS winsorized_mean
    FROM k CROSS JOIN mid m CROSS JOIN fences f
    WHERE m.mid_n > 0
    """,
    doc=f"Robust location of daily revenue: the "
    f"{TRIM_PCT_NUM * 100 // TRIM_PCT_DEN}%-per-tail trimmed mean (drop "
    "the k lowest and k highest days) and the winsorized mean (clamp "
    "them to the fence values instead) — the efficiency middle ground "
    "between the mean (0% breakdown) and agg_hodges_lehmann/median "
    "(robust but less efficient at clean data); the pair also exposes "
    "the fences themselves, the same quantities a winsorizing feature "
    "pipeline clips training data with. Ranks come from one window over "
    "the calendar-bounded daily series with the unique (rev_c, day) tie "
    "order; k = n div 10 is exact integer arithmetic; both means are "
    "exact integer-cent sums (winsorized = mid_sum + k*low + k*high) "
    "with ONE final IEEE division each — nothing above 2^53, nothing "
    "float until the reported dollars.",
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    wrk = Window.orderBy("rev_c", "day")
    rk = daily.select(
        "rev_c",
        F.row_number().over(wrk).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias(
            "n"
        ),
    )
    rk = rk.persist()  # calendar-bounded; feeds mid, fences AND k
    kk = F.expr(f"(n * {TRIM_PCT_NUM}) div {TRIM_PCT_DEN}")
    k = rk.select("n", kk.alias("k")).limit(1)
    mid = (
        rk.crossJoin(F.broadcast(k.select(F.col("k").alias("k_"))))
        .filter((F.col("rn") > F.col("k_")) & (F.col("rn") <= F.col("n") - F.col("k_")))
        .agg(
            F.sum("rev_c").cast("bigint").alias("mid_sum"),
            F.count(F.lit(1)).cast("bigint").alias("mid_n"),
        )
    )
    fences = (
        rk.crossJoin(F.broadcast(k.select(F.col("k").alias("kf"))))
        .agg(
            F.min(
                F.when(F.col("rn") == F.col("kf") + 1, F.col("rev_c"))
            )
            .cast("bigint")
            .alias("low_c"),
            F.min(
                F.when(
                    F.col("rn") == F.col("n") - F.col("kf"), F.col("rev_c")
                )
            )
            .cast("bigint")
            .alias("high_c"),
        )
    )
    out = (
        k.crossJoin(F.broadcast(mid))
        .crossJoin(F.broadcast(fences))
        .filter(F.col("mid_n") > 0)
        .select(
            F.col("n").alias("n_days"),
            F.col("k").alias("n_trimmed_per_tail"),
            "mid_sum",
            F.col("low_c").alias("lower_fence_c"),
            F.col("high_c").alias("upper_fence_c"),
            (
                F.col("mid_sum").cast("double") / F.col("mid_n") / 100.0
            ).alias("trimmed_mean"),
            (
                (
                    F.col("mid_sum")
                    + F.col("k") * F.col("low_c")
                    + F.col("k") * F.col("high_c")
                ).cast("double")
                / F.col("n")
                / 100.0
            ).alias("winsorized_mean"),
        )
    )
    return persist_until_collected(rk, out)


# ---------------------------------------------------------------------------
# agg_gini_impurity_split — CART-criterion split scoring (info-gain twin)
# ---------------------------------------------------------------------------


@register(
    "agg_gini_impurity_split",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
               AS pos
      FROM lineitem
    ),
    cells AS (
      SELECT q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS p
      FROM b GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(p) AS BIGINT) AS pp
      FROM cells
    ),
    pre AS (
      SELECT q,
             CAST(sum(n) OVER w AS BIGINT) AS nl,
             CAST(sum(p) OVER w AS BIGINT) AS pl
      FROM cells
      WINDOW w AS (ORDER BY q ROWS UNBOUNDED PRECEDING)
    ),
    ent AS (
      SELECT pre.q, pre.nl, pre.pl, tot.nn, tot.pp,
             tot.nn - pre.nl AS nr, tot.pp - pre.pl AS pr
      FROM pre CROSS JOIN tot WHERE pre.nl < tot.nn
    ),
    scored AS (
      SELECT q, nl, nr,
             CAST(round(1000000000.0 * (
               2.0 * pp * (nn - pp) / (CAST(nn AS DOUBLE) * nn)
               - (2.0 * pl * (nl - pl) / (CAST(nl AS DOUBLE) * nl))
                 * (CAST(nl AS DOUBLE) / nn)
               - (2.0 * pr * (nr - pr) / (CAST(nr AS DOUBLE) * nr))
                 * (CAST(nr AS DOUBLE) / nn))) AS BIGINT) AS gain_nn
      FROM ent
    )
    SELECT q AS split_at, nl AS n_left, nr AS n_right, gain_nn,
           CAST(gain_nn AS DOUBLE) / CAST(1000000000 AS DOUBLE)
             AS gini_gain
    FROM scored
    """,
    doc="CART-criterion split scoring: Gini-impurity decrease of every "
    "'quantity <= q' threshold for predicting returns — the criterion "
    "twin of agg_info_gain_split (ID3/C4.5 uses entropy, CART/sklearn "
    "default to Gini; scoring both over the same histogram is how a "
    "criterion-sensitivity check is actually run). Same histogram-trick "
    "plan: one map-combined domain rollup, prefix sums over the "
    "~50-value bounded grid — but UNLIKE the entropy form this one has "
    "NO logarithm anywhere: binary Gini 2p(1-p) is a pure rational in "
    "the exact integer counts (2*p*(n-p)/n^2), so the whole gain is one "
    "fixed-order IEEE expression with no libm call at all, "
    "nano-quantized per threshold. Empty children contribute zero "
    "impurity through the n>0 guard implicit in nl<nn and pr<=nr.",
)
def agg_gini_impurity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round("l_quantity").cast("bigint").alias("q"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("pos"),
    )
    cells = b.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("p").cast("bigint").alias("pp"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    pre = cells.select(
        "q",
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("p").over(w).cast("bigint").alias("pl"),
    )
    ent = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("nl") < F.col("nn"))
        .select(
            "q",
            "nl",
            "pl",
            "nn",
            "pp",
            (F.col("nn") - F.col("nl")).alias("nr"),
            (F.col("pp") - F.col("pl")).alias("pr"),
        )
    )

    def _gini2(p, n):  # 2 * p/n * (1 - p/n), written as 2p(n-p)/n^2
        return (
            2.0
            * F.col(p)
            * (F.col(n) - F.col(p))
            / (F.col(n).cast("double") * F.col(n))
        )

    gain = (
        _gini2("pp", "nn")
        - _gini2("pl", "nl") * (F.col("nl").cast("double") / F.col("nn"))
        - _gini2("pr", "nr") * (F.col("nr").cast("double") / F.col("nn"))
    )
    gain_nn = F.round(1000000000.0 * gain).cast("bigint")
    out = ent.select(
        F.col("q").alias("split_at"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        gain_nn.alias("gain_nn"),
        (gain_nn.cast("double") / F.lit(1000000000).cast("double")).alias(
            "gini_gain"
        ),
    )
    return persist_until_collected(cells, out)
