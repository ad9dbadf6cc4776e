"""Round-10 window fill: rank statistics, evaluation curves, economic
decision operators, changepoint/series analysis, text-diversity signals.

This module imports LAST in ``registry._load_all()`` (after pipeline12) so
its brand-new queries rank behind every already-pending query and fill the
remaining driver-window slots without displacing the pipeline12 bank.

Reference provenance: like pipeline7-12, none of these operators exist in
the reference's Go core (a MongoDB change-stream -> NATS connector,
/root/reference/internal/server/connector.go) — they extend the engine-side
analytics surface documented in SURVEY.md §2.3/§2.4 downstream of the
connector's change streams.

Cross-engine determinism rules (the pipeline11/12 discipline):
- exact integers end-to-end on the hash surface; doubled midranks over
  value DOMAINS (never row-proportional rank windows);
- any total that can cross 2^53 stays DECIMAL(38,0)/HUGEINT and
  floor-divides (`div` / ``//``) to a sub-2^53 integer before the ONE
  double conversion (integer->double casts above 2^53 are
  engine-divergent: DuckDB truncates, Spark rounds);
- `div` on NEGATIVES differs between engines (Spark truncates, DuckDB
  floors) — every integer division here is applied to a provably
  non-negative numerator (abs + explicit sign column where needed);
- no exp/ln/round-of-float anywhere on the hash surface; +,-,*,/,sqrt
  are IEEE-correctly-rounded and bit-portable in fixed operand order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.plans.caching import release_on_gc
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# ---------------------------------------------------------------------------
# agg_brunner_munzel — generalized two-sample stochastic-dominance test
# ---------------------------------------------------------------------------


@register(
    "agg_brunner_munzel",
    oracle="""
    WITH b AS (
      SELECT (CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)
               // 100000 AS v,
             CAST(CASE WHEN round(l_discount * 100) >= 6 THEN 1
                  ELSE 0 END AS BIGINT) AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v, CAST(count(*) AS BIGINT) AS tv,
             CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) - sum(g) AS BIGINT) AS c0
      FROM b GROUP BY 1
    ),
    pre AS (
      SELECT v, tv, c0, c1,
             CAST(2 * coalesce(sum(tv) OVER w, 0) + tv + 1 AS BIGINT) AS mr2,
             CAST(2 * coalesce(sum(c0) OVER w, 0) + c0 AS BIGINT) AS d2b0,
             CAST(2 * coalesce(sum(c1) OVER w, 0) + c1 AS BIGINT) AS d2b1
      FROM cells
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING)
    ),
    s AS (
      SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(CAST(c0 AS HUGEINT) * mr2) AS BIGINT) AS t20,
             CAST(sum(CAST(c1 AS HUGEINT) * mr2) AS BIGINT) AS t21,
             CAST(sum(CAST(c0 AS HUGEINT) * d2b1) AS HUGEINT) AS sd0,
             CAST(sum(CAST(c1 AS HUGEINT) * d2b0) AS HUGEINT) AS sd1,
             sum(CAST(c0 AS HUGEINT) * d2b1 * d2b1) AS sq0,
             sum(CAST(c1 AS HUGEINT) * d2b0 * d2b0) AS sq1
      FROM pre
    ),
    q AS (
      SELECT n0, n1, t20, t21,
             CAST((CAST(n0 AS HUGEINT) * sq0 - sd0 * sd0)
                  // (CAST(4 AS HUGEINT) * n0 * (n0 - 1)) AS BIGINT) AS s20,
             CAST((CAST(n1 AS HUGEINT) * sq1 - sd1 * sd1)
                  // (CAST(4 AS HUGEINT) * n1 * (n1 - 1)) AS BIGINT) AS s21,
             CAST(n0 AS HUGEINT) * t21 - CAST(n1 AS HUGEINT) * t20 AS num
      FROM s
      WHERE n0 > 1 AND n1 > 1
    )
    SELECT n0, n1, t20 AS rank_sum0_x2, t21 AS rank_sum1_x2,
           s20 AS s2_group0, s21 AS s2_group1,
           (CAST(t21 AS DOUBLE) / n1 - (n1 + 1)) / (2.0 * n0) AS p_hat,
           (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
             * (CAST((abs(num) // (2 * (n0 + n1))) // 67108864 AS DOUBLE)
                  * 67108864.0
                + CAST((abs(num) // (2 * (n0 + n1))) % 67108864 AS DOUBLE))
             / sqrt(CAST(n0 AS DOUBLE) * s20 + CAST(n1 AS DOUBLE) * s21)
             AS w_bm
    FROM q
    WHERE CAST(n0 AS DOUBLE) * s20 + CAST(n1 AS DOUBLE) * s21 > 0
    """,
    doc="Brunner-Munzel generalized Wilcoxon test: do deep-discounted "
    "(>= 6%) lineitems stochastically dominate shallow-discounted ones "
    "in extended price? — "
    "the modern replacement for Mann-Whitney when the two samples may "
    "differ in SHAPE as well as location (BM does not assume equal "
    "variances of the rank distributions; it studentizes the placement "
    "estimate p_hat = P(X<Y) + P(X=Y)/2 by within-sample placement "
    "variances, Brunner & Munzel 2000). Everything runs over the "
    "~105-bucket price DOMAIN (cents + 50000 div 100000 — the all-"
    "integer half-up bucketing, no round()-of-float): combined doubled "
    "midranks mr2 = "
    "2*cum_below + tv + 1, and the placement deviation for a group-0 row "
    "is EXACTLY the other group's mass at-or-below its bucket (rankc - "
    "rankwithin = 2*cum1_below + c1, doubled — provably non-negative, so "
    "every floor-division below sits on a non-negative numerator where "
    "Spark div == DuckDB //). Placement variances S_k^2 = (n_k*sum(c*d2^2)"
    " - (sum(c*d2))^2) div (4*n_k*(n_k-1)) stay exact in DECIMAL/HUGEINT "
    "and floor-divide to sub-2^53 integers before the one double "
    "conversion each; the statistic numerator n0*T2_1 - n1*T2_0 (which "
    "can be negative) enters the float frame as |num| div 2N split into "
    "hi*2^26 + lo doubles (each piece far below 2^53 at any realistic "
    "scale, their IEEE sum exactly reproducing the quotient below 2^53 "
    "and correctly rounding it above — no engine-divergent wide cast, "
    "no precision loss) with an explicit sign factor; the placement "
    "variances share the ansari-family bound note (exact below "
    "~1e8-row groups at the verified scales). "
    "W = num / ((n0+n1)*sqrt(n0*S0^2 + n1*S1^2)) is then a fixed-order "
    "IEEE expression over identical integers on both engines. One "
    "map-combined domain rollup, one bounded prefix window, one scalar "
    "row out.",
)
def agg_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)"
            " div 100000"
        ).alias("v"),
        (F.round(F.col("l_discount") * 100) >= 6).cast("bigint").alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("tv"),
        F.sum("g").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("c0"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pre = cells.select(
        "v",
        "tv",
        "c0",
        "c1",
        (2 * F.coalesce(F.sum("tv").over(w), F.lit(0)) + F.col("tv") + 1)
        .cast("bigint")
        .alias("mr2"),
        (2 * F.coalesce(F.sum("c0").over(w), F.lit(0)) + F.col("c0"))
        .cast("bigint")
        .alias("d2b0"),
        (2 * F.coalesce(F.sum("c1").over(w), F.lit(0)) + F.col("c1"))
        .cast("bigint")
        .alias("d2b1"),
    )
    s = pre.agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
        _dsum(F.col("c0") * F.col("mr2")).cast("bigint").alias("t20"),
        _dsum(F.col("c1") * F.col("mr2")).cast("bigint").alias("t21"),
        _dsum(F.col("c0") * F.col("d2b1")).alias("sd0"),
        _dsum(F.col("c1") * F.col("d2b0")).alias("sd1"),
        F.sum(
            F.col("c0").cast("decimal(38,0)")
            * F.col("d2b1")
            * F.col("d2b1")
        ).alias("sq0"),
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * F.col("d2b0")
            * F.col("d2b0")
        ).alias("sq1"),
    )
    q = s.filter((F.col("n0") > 1) & (F.col("n1") > 1)).select(
        "n0",
        "n1",
        "t20",
        "t21",
        F.expr(
            "CAST((CAST(n0 AS DECIMAL(38,0)) * sq0 - sd0 * sd0)"
            " div (CAST(4 AS DECIMAL(38,0)) * n0 * (n0 - 1)) AS BIGINT)"
        ).alias("s20"),
        F.expr(
            "CAST((CAST(n1 AS DECIMAL(38,0)) * sq1 - sd1 * sd1)"
            " div (CAST(4 AS DECIMAL(38,0)) * n1 * (n1 - 1)) AS BIGINT)"
        ).alias("s21"),
        F.expr(
            "CAST(n0 AS DECIMAL(38,0)) * t21"
            " - CAST(n1 AS DECIMAL(38,0)) * t20"
        ).alias("num"),
    )
    denom = (
        F.col("n0").cast("double") * F.col("s20")
        + F.col("n1").cast("double") * F.col("s21")
    )
    return q.filter(denom > 0).select(
        "n0",
        "n1",
        F.col("t20").alias("rank_sum0_x2"),
        F.col("t21").alias("rank_sum1_x2"),
        F.col("s20").alias("s2_group0"),
        F.col("s21").alias("s2_group1"),
        (
            (F.col("t21").cast("double") / F.col("n1") - (F.col("n1") + 1))
            / (2.0 * F.col("n0"))
        ).alias("p_hat"),
        (
            F.when(F.col("num") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
            * F.expr(
                "CAST((abs(num) div (2 * (n0 + n1))) div 67108864"
                " AS DOUBLE) * 67108864.0"
                " + CAST((abs(num) div (2 * (n0 + n1))) % 67108864"
                " AS DOUBLE)"
            )
            / F.sqrt(denom)
        ).alias("w_bm"),
    )


# ---------------------------------------------------------------------------
# agg_jonckheere_terpstra — ordered-alternative trend test across k groups
# ---------------------------------------------------------------------------


@register(
    "agg_jonckheere_terpstra",
    oracle="""
    WITH b AS (
      SELECT CAST(CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS BIGINT)
               AS g,
             (CAST(round(o_totalprice * 100) AS BIGINT) + 50000) // 100000 AS v
      FROM orders
    ),
    cnt AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2
    ),
    grid AS (
      SELECT gg.g, vv.v, coalesce(c.c, 0) AS c
      FROM (SELECT DISTINCT g FROM cnt) gg
      CROSS JOIN (SELECT DISTINCT v FROM cnt) vv
      LEFT JOIN cnt c ON c.g = gg.g AND c.v = vv.v
    ),
    w1 AS (
      SELECT g, v, c,
             CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_below
      FROM grid
    ),
    w2 AS (
      SELECT g, v, c,
             CAST(coalesce(sum(cum_below) OVER wg, 0) AS BIGINT) AS l_prior,
             CAST(coalesce(sum(c) OVER wg, 0) AS BIGINT) AS e_prior
      FROM w1
      WINDOW wg AS (PARTITION BY v ORDER BY g
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    s AS (
      SELECT CAST(sum(CAST(c AS HUGEINT) * (2 * l_prior + e_prior))
                  AS BIGINT) AS j2
      FROM w2
    ),
    gs AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(CAST(ng AS HUGEINT) * ng) AS BIGINT) AS sn2,
             CAST(sum(CAST(ng AS HUGEINT) * ng * (2 * ng + 3)) AS HUGEINT)
               AS sn23,
             CAST(count(*) AS BIGINT) AS k
      FROM (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM cnt GROUP BY g)
    ),
    fin AS (
      SELECT s.j2, gs.n, gs.k,
             CAST(gs.n AS HUGEINT) * gs.n - gs.sn2 AS e4,
             CAST((CAST(gs.n AS HUGEINT) * gs.n * (2 * gs.n + 3) - gs.sn23)
                  // (CAST(gs.n AS HUGEINT) * gs.n) AS BIGINT) AS vd
      FROM s CROSS JOIN gs
    )
    SELECT k AS n_groups, n AS n_total, j2 AS jt_x2,
           CAST(e4 AS BIGINT) AS null_mean_x4,
           vd AS var_div_n2,
           CAST(2 * j2 - e4 AS DOUBLE)
             / sqrt(CAST(vd AS DOUBLE) * CAST(n AS DOUBLE)
                    * CAST(n AS DOUBLE) * 2.0 / 9.0) AS jt_z
    FROM fin
    WHERE n > 2 AND vd > 0
    """,
    doc="Jonckheere-Terpstra test for an ORDERED alternative: does order "
    "total price trend monotonically across the five priority classes "
    "(1-URGENT .. 5-LOW)? — strictly more powerful than Kruskal-Wallis "
    "when the alternative is a trend, because it sums pairwise "
    "Mann-Whitney counts over ORDERED group pairs instead of testing "
    "any-difference: J = sum_{i<j} U_ij with ties at half credit. The "
    "whole computation runs on the bounded (priority x ~600-bucket price "
    "domain) GRID, densified so prefix counts evaluate at every bucket: "
    "window 1 gives each group's mass strictly below each bucket "
    "(partitioned by group, ordered by bucket), window 2 accumulates "
    "over PRIOR groups at fixed bucket (partitioned by bucket, ordered "
    "by group) — 2J = sum c_jv * (2*L_prior + E_prior) credits "
    "smaller-group-below twice and equal-bucket ties once, all exact "
    "BIGINTs. The null moments use the no-tie-correction textbook form "
    "(documented; price-cent ties across ~600 buckets are real but the "
    "correction term is < 1e-5 of Var here): E[J]*4 = N^2 - sum n_i^2 "
    "exact, and the variance numerator N^2(2N+3) - sum n_i^2(2n_i+3) "
    "(which crosses 2^53 at sf1) stays HUGEINT/DECIMAL-exact and "
    "floor-divides by N^2 to a ~4N integer — sub-2^53 at ANY realistic "
    "scale, not just the verified one — before the one double "
    "conversion; z = (4J - 4E)/sqrt(16*Var) with 16*Var = 2*vd*N^2/9 in "
    "fixed IEEE order. Both windows are partitioned with bounded "
    "per-partition inputs; the fact table compacts in one map-combined "
    "rollup.",
)
def agg_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").cast("bigint")
        .alias("g"),
        F.expr(
            "(CAST(round(o_totalprice * 100) AS BIGINT) + 50000)"
            " div 100000"
        ).alias("v"),
    )
    cnt = b.groupBy("g", "v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cnt = cnt.persist()  # bounded grid feeds grid + group sums
    gg = cnt.select("g").distinct()
    vv = cnt.select("v").distinct()
    grid = (
        gg.crossJoin(vv)
        .join(cnt, ["g", "v"], "left")
        .select("g", "v", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    w_below = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w1 = grid.select(
        "g",
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_below), F.lit(0))
        .cast("bigint")
        .alias("cum_below"),
    )
    w_prior = (
        Window.partitionBy("v")
        .orderBy("g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w2 = w1.select(
        "c",
        F.coalesce(F.sum("cum_below").over(w_prior), F.lit(0))
        .cast("bigint")
        .alias("l_prior"),
        F.coalesce(F.sum("c").over(w_prior), F.lit(0))
        .cast("bigint")
        .alias("e_prior"),
    )
    s = w2.agg(
        _dsum(F.col("c") * (2 * F.col("l_prior") + F.col("e_prior")))
        .cast("bigint")
        .alias("j2")
    )
    gs = (
        cnt.groupBy("g")
        .agg(F.sum("c").cast("bigint").alias("ng"))
        .agg(
            F.sum("ng").cast("bigint").alias("n"),
            _dsum(F.col("ng") * F.col("ng")).cast("bigint").alias("sn2"),
            _dsum(
                F.col("ng").cast("decimal(38,0)")
                * F.col("ng")
                * (2 * F.col("ng") + 3)
            ).alias("sn23"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )
    fin = s.crossJoin(F.broadcast(gs)).select(
        "j2",
        "n",
        "k",
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * n - sn2 AS BIGINT)"
        ).alias("e4"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * n * (2 * n + 3) - sn23)"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("vd"),
    )
    out = fin.filter((F.col("n") > 2) & (F.col("vd") > 0)).select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_total"),
        F.col("j2").alias("jt_x2"),
        F.col("e4").alias("null_mean_x4"),
        F.col("vd").alias("var_div_n2"),
        (
            (2 * F.col("j2") - F.col("e4")).cast("double")
            / F.sqrt(
                F.col("vd").cast("double")
                * F.col("n").cast("double")
                * F.col("n").cast("double")
                * 2.0
                / 9.0
            )
        ).alias("jt_z"),
    )
    return release_on_gc(cnt, out)


# ---------------------------------------------------------------------------
# agg_cvm_two_sample — Cramér-von Mises two-sample CDF-distance test
# ---------------------------------------------------------------------------


def _pyramidal_sql(n: str, div: str) -> str:
    """Exact n(n+1)(2n+1)/6 with NO wide division: the /2 and /3 reduce
    whichever small FACTOR they divide (case analysis over n mod 6 —
    every branch divides exactly), then the three reduced factors
    multiply in DECIMAL/HUGEINT. ``div`` is the dialect's integer
    division token (Spark: div, DuckDB: //)."""
    fa = f"(CASE WHEN ({n}) % 2 = 0 THEN ({n}) {div} 2 ELSE ({n}) END)"
    fb = (
        f"(CASE WHEN ({n}) % 2 = 0 THEN ({n}) + 1"
        f" ELSE (({n}) + 1) {div} 2 END)"
    )
    fa2 = f"(CASE WHEN ({n}) % 3 = 0 THEN {fa} {div} 3 ELSE {fa} END)"
    fb2 = f"(CASE WHEN ({n}) % 3 = 2 THEN {fb} {div} 3 ELSE {fb} END)"
    fc2 = (
        f"(CASE WHEN ({n}) % 3 = 1 THEN (2 * ({n}) + 1) {div} 3"
        f" ELSE 2 * ({n}) + 1 END)"
    )
    return f"(CAST({fa2} AS DECIMAL(38,0)) * {fb2} * {fc2})"


def _pyramidal_duck(n: str) -> str:
    return _pyramidal_sql(n, "//").replace("DECIMAL(38,0)", "HUGEINT")


@register(
    "agg_cvm_two_sample",
    oracle=f"""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS v,
             CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
               AS g
      FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ),
    cells AS (
      SELECT v, CAST(count(*) AS BIGINT) AS tv,
             CAST(sum(g) AS BIGINT) AS cr,
             CAST(count(*) - sum(g) AS BIGINT) AS ca
      FROM b GROUP BY 1
    ),
    pre AS (
      SELECT v, tv, cr, ca,
             CAST(2 * coalesce(sum(tv) OVER w, 0) + tv + 1 AS BIGINT) AS mr2,
             CAST(coalesce(sum(cr) OVER w, 0) AS BIGINT) AS pr,
             CAST(coalesce(sum(ca) OVER w, 0) AS BIGINT) AS pa
      FROM cells
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING)
    ),
    parts AS (
      SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ca) AS BIGINT) AS na,
             sum(CAST(cr AS HUGEINT) * mr2 * mr2
                 - CAST(4 AS HUGEINT) * mr2
                   * (CAST(cr AS HUGEINT) * pr
                      + (CAST(cr AS HUGEINT) * (cr + 1)) // 2)) AS s4r_part,
             sum(CAST(ca AS HUGEINT) * mr2 * mr2
                 - CAST(4 AS HUGEINT) * mr2
                   * (CAST(ca AS HUGEINT) * pa
                      + (CAST(ca AS HUGEINT) * (ca + 1)) // 2)) AS s4a_part
      FROM pre
    ),
    s AS (
      SELECT nr, na,
             s4r_part + 4 * {_pyramidal_duck("nr")} AS s4r,
             s4a_part + 4 * {_pyramidal_duck("na")} AS s4a
      FROM parts
    ),
    u AS (
      SELECT nr, na, nr + na AS n,
             CAST(nr AS HUGEINT) * s4r + CAST(na AS HUGEINT) * s4a AS u4
      FROM s
      WHERE nr > 0 AND na > 0
    )
    SELECT nr AS n_returned, na AS n_accepted,
           CAST(u4 * 1000000000 // (CAST(4 AS HUGEINT) * nr * na * n)
                - (CAST(4 AS HUGEINT) * nr * na - 1) * 1000000000
                  // (CAST(6 AS HUGEINT) * n) AS BIGINT) AS t_nano,
           CAST(CAST(u4 * 1000000000
                     // (CAST(4 AS HUGEINT) * nr * na * n)
                     - (CAST(4 AS HUGEINT) * nr * na - 1) * 1000000000
                       // (CAST(6 AS HUGEINT) * n) AS BIGINT) AS DOUBLE)
             / 1000000000.0 AS cvm_t
    FROM u
    """,
    doc="Cramér-von Mises two-sample test: do returned ('R') and accepted "
    "('A') lineitems draw from the same quantity distribution? — the "
    "integrated-squared-CDF-distance complement to agg_ks_test's "
    "supremum distance (CvM weighs the WHOLE curve, KS only the worst "
    "point, so CvM catches broad mild shifts KS misses). Anderson's "
    "rank form U = n_r*sum_i(r_i - i)^2 + n_a*sum_j(s_j - j)^2 runs "
    "entirely over the ~50-value quantity DOMAIN, factorized so that "
    "NO per-bucket cubic division exists: per bucket only c*mr2^2 and "
    "4*mr2*(c*p + c(c+1) div 2) accumulate (the triangular div 2 is "
    "exact and long-safe to c ~ 4e9), and the single sum-of-squares "
    "term 4*P(n_g) per GROUP uses the division-free pyramidal "
    "construction: /2 and /3 reduce whichever SMALL factor of "
    "n(n+1)(2n+1) they divide exactly (n mod 6 case analysis), so the "
    "cubic never meets an integer division and stays HUGEINT/DECIMAL-"
    "exact at ANY scale. The statistic T = U/(n_r*n_a*N) - "
    "(4*n_r*n_a - 1)/(6N) ships as the difference of two floor-divided "
    "nano-scaled integers (each numerator provably non-negative); "
    "t_nano is the exact BIGINT hash anchor and cvm_t its one-division "
    "display twin. One map-combined domain rollup, one bounded prefix "
    "window, one scalar row.",
)
def agg_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    b = li.select(
        F.round("l_quantity").cast("bigint").alias("v"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("tv"),
        F.sum("g").cast("bigint").alias("cr"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("ca"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pre = cells.select(
        "cr",
        "ca",
        (2 * F.coalesce(F.sum("tv").over(w), F.lit(0)) + F.col("tv") + 1)
        .cast("bigint")
        .alias("mr2"),
        F.coalesce(F.sum("cr").over(w), F.lit(0)).cast("bigint").alias("pr"),
        F.coalesce(F.sum("ca").over(w), F.lit(0)).cast("bigint").alias("pa"),
    )
    parts = pre.agg(
        F.sum("cr").cast("bigint").alias("nr"),
        F.sum("ca").cast("bigint").alias("na"),
        F.sum(
            F.expr(
                "CAST(cr AS DECIMAL(38,0)) * mr2 * mr2"
                " - CAST(4 AS DECIMAL(38,0)) * mr2"
                "   * (CAST(cr AS DECIMAL(38,0)) * pr"
                "      + (CAST(cr AS DECIMAL(38,0)) * (cr + 1)) div 2)"
            )
        ).alias("s4r_part"),
        F.sum(
            F.expr(
                "CAST(ca AS DECIMAL(38,0)) * mr2 * mr2"
                " - CAST(4 AS DECIMAL(38,0)) * mr2"
                "   * (CAST(ca AS DECIMAL(38,0)) * pa"
                "      + (CAST(ca AS DECIMAL(38,0)) * (ca + 1)) div 2)"
            )
        ).alias("s4a_part"),
    )
    pyr_r = _pyramidal_sql("nr", "div")
    pyr_a = _pyramidal_sql("na", "div")
    s = parts.select(
        "nr",
        "na",
        F.expr(f"s4r_part + 4 * {pyr_r}").alias("s4r"),
        F.expr(f"s4a_part + 4 * {pyr_a}").alias("s4a"),
    )
    u = s.filter((F.col("nr") > 0) & (F.col("na") > 0)).select(
        "nr",
        "na",
        (F.col("nr") + F.col("na")).alias("n"),
        F.expr(
            "CAST(nr AS DECIMAL(38,0)) * s4r + CAST(na AS DECIMAL(38,0))"
            " * s4a"
        ).alias("u4"),
    )
    t_nano = F.expr(
        "CAST(u4 * 1000000000 div (CAST(4 AS DECIMAL(38,0)) * nr * na * n)"
        " - (CAST(4 AS DECIMAL(38,0)) * nr * na - 1) * 1000000000"
        "   div (CAST(6 AS DECIMAL(38,0)) * n) AS BIGINT)"
    )
    return u.select(
        F.col("nr").alias("n_returned"),
        F.col("na").alias("n_accepted"),
        t_nano.alias("t_nano"),
        (t_nano.cast("double") / 1000000000.0).alias("cvm_t"),
    )

# ---------------------------------------------------------------------------
# agg_page_trend_test — Page's L test for ordered trend within blocks
# ---------------------------------------------------------------------------


@register(
    "agg_page_trend_test",
    oracle="""
    WITH m AS (
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
             CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    full_years AS (
      SELECT yr FROM m GROUP BY yr HAVING count(*) = 12
    ),
    mm AS (
      SELECT m.yr, m.mo, m.rev_c FROM m JOIN full_years f ON f.yr = m.yr
    ),
    ranked AS (
      SELECT a.yr, a.mo,
             CAST(2 * sum(CASE WHEN b.rev_c < a.rev_c THEN 1 ELSE 0 END)
                  + sum(CASE WHEN b.rev_c = a.rev_c THEN 1 ELSE 0 END)
                  + 1 AS BIGINT) AS mr2
      FROM mm a JOIN mm b ON b.yr = a.yr
      GROUP BY a.yr, a.mo
    ),
    l AS (
      SELECT CAST(count(DISTINCT yr) AS BIGINT) AS b,
             CAST(sum(mo * mr2) AS BIGINT) AS l2
      FROM ranked
    )
    SELECT b AS n_blocks, l2 AS page_l_x2,
           507 * b AS null_mean_l,
           1859 * b AS null_var_l,
           CAST(l2 - 2 * 507 * b AS DOUBLE)
             / (2.0 * sqrt(CAST(1859 * b AS DOUBLE))) AS page_z
    FROM l
    WHERE b > 0
    """,
    doc="Page's L test for a MONOTONIC month-of-year trend in revenue "
    "within complete calendar years — the ordered-alternative "
    "sharpening of agg_friedman_test exactly as agg_jonckheere_terpstra "
    "sharpens Kruskal-Wallis, but for BLOCKED designs (each year is a "
    "block, the 12 months are the ordered treatments): L = sum_j "
    "j * R_j where R_j sums month j's within-year ranks across years. "
    "Within-block midranks come from the bounded 12x12 self-join per "
    "year (mr2 = 2*less + eq_incl_self + 1, doubled to stay integer "
    "under cent-level ties), so L2 = sum mo * mr2 is an exact BIGINT; "
    "partial years are excluded by the HAVING count(*) = 12 gate on "
    "both engines (the TPC-H calendar ends mid-1998). The null moments "
    "for k = 12 are the EXACT integer constants E[L] = b*k(k+1)^2/4 = "
    "507b and Var[L] = b*k^2(k+1)(k^2-1)/144 = 1859b (tie correction "
    "omitted and documented: cent-sum ties across months are "
    "essentially impossible), so z = (L2 - 2E)/(2*sqrt(Var)) is one "
    "fixed-order IEEE expression. Work is one monthly rollup plus a "
    "year-partitioned bounded join — nothing row-proportional.",
)
def agg_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    m = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    m = m.persist()  # bounded monthly grid feeds the gate + both join sides
    full_years = (
        m.groupBy("yr").agg(F.count(F.lit(1)).alias("nm"))
        .filter(F.col("nm") == 12)
        .select("yr")
    )
    mm = m.join(F.broadcast(full_years), "yr")
    a = mm.select(
        F.col("yr"), F.col("mo"), F.col("rev_c").alias("ra")
    )
    bb = mm.select(F.col("yr"), F.col("rev_c").alias("rb"))
    ranked = (
        a.join(F.broadcast(bb), "yr")
        .groupBy("yr", "mo", "ra")
        .agg(
            (
                2 * F.sum((F.col("rb") < F.col("ra")).cast("bigint"))
                + F.sum((F.col("rb") == F.col("ra")).cast("bigint"))
                + 1
            )
            .cast("bigint")
            .alias("mr2")
        )
    )
    lrow = ranked.agg(
        F.countDistinct("yr").cast("bigint").alias("b"),
        F.sum(F.col("mo") * F.col("mr2")).cast("bigint").alias("l2"),
    )
    out = lrow.filter(F.col("b") > 0).select(
        F.col("b").alias("n_blocks"),
        F.col("l2").alias("page_l_x2"),
        (507 * F.col("b")).alias("null_mean_l"),
        (1859 * F.col("b")).alias("null_var_l"),
        (
            (F.col("l2") - 2 * 507 * F.col("b")).cast("double")
            / (2.0 * F.sqrt((1859 * F.col("b")).cast("double")))
        ).alias("page_z"),
    )
    return release_on_gc(m, out)


# ---------------------------------------------------------------------------
# agg_youden_threshold — optimal operating point on the ROC curve
# ---------------------------------------------------------------------------


@register(
    "agg_youden_threshold",
    oracle="""
    WITH b AS (
      SELECT (CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)
               // 100000 AS s,
             CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
               AS pos
      FROM lineitem
    ),
    cells AS (
      SELECT s, CAST(sum(pos) AS BIGINT) AS n1,
             CAST(count(*) - sum(pos) AS BIGINT) AS n0
      FROM b GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS p, CAST(sum(n0) AS BIGINT) AS q
      FROM cells
    ),
    pre AS (
      SELECT c.s,
             t.p - CAST(coalesce(sum(c.n1) OVER w, 0) AS BIGINT) AS tp,
             t.q - CAST(coalesce(sum(c.n0) OVER w, 0) AS BIGINT) AS fp,
             t.p, t.q
      FROM cells c CROSS JOIN tot t
      WINDOW w AS (ORDER BY c.s ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING)
    ),
    scored AS (
      SELECT s, tp, fp, p, q,
             CAST(q AS HUGEINT) * tp - CAST(p AS HUGEINT) * fp AS j_scaled
      FROM pre
    )
    SELECT s AS threshold_bucket, tp AS true_pos, fp AS false_pos,
           p - tp AS false_neg, q - fp AS true_neg,
           CAST(j_scaled AS BIGINT) AS j_scaled,
           CAST(tp AS DOUBLE) / p AS tpr,
           CAST(fp AS DOUBLE) / q AS fpr,
           CAST(tp AS DOUBLE) / p - CAST(fp AS DOUBLE) / q AS youden_j
    FROM scored
    WHERE p > 0 AND q > 0
    ORDER BY j_scaled DESC, s ASC
    LIMIT 1
    """,
    doc="Youden's J optimal operating point on agg_roc_auc's curve: the "
    "price threshold that maximizes TPR - FPR for predicting returns — "
    "AUC says how good the ranking is, Youden says WHERE to cut it "
    "(the standard threshold-choice rule when false positives and false "
    "negatives cost the same). The classifier 'predict positive when "
    "score >= threshold' is evaluated at every bucket of the ~105-value "
    "score DOMAIN: tp/fp come from the exclusive below-prefix subtracted "
    "from broadcast totals, and the argmax runs on the exact integer "
    "J_scaled = Q*tp - P*fp (equal to P*Q*J, so the float division "
    "never decides the winner; ties break to the lowest threshold via "
    "the secondary sort). TPR/FPR/J are one IEEE division each on the "
    "winning row only. One map-combined rollup, one bounded prefix "
    "window, TakeOrdered(1).",
)
def agg_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    pre = cells.crossJoin(F.broadcast(tot)).select(
        "s",
        (F.col("p") - F.coalesce(F.sum("n1").over(w), F.lit(0)))
        .cast("bigint")
        .alias("tp"),
        (F.col("q") - F.coalesce(F.sum("n0").over(w), F.lit(0)))
        .cast("bigint")
        .alias("fp"),
        "p",
        "q",
    )
    scored = pre.select(
        "s",
        "tp",
        "fp",
        "p",
        "q",
        F.expr(
            "CAST(CAST(q AS DECIMAL(38,0)) * tp"
            " - CAST(p AS DECIMAL(38,0)) * fp AS BIGINT)"
        ).alias("j_scaled"),
    )
    return (
        scored.filter((F.col("p") > 0) & (F.col("q") > 0))
        .select(
            F.col("s").alias("threshold_bucket"),
            F.col("tp").alias("true_pos"),
            F.col("fp").alias("false_pos"),
            (F.col("p") - F.col("tp")).alias("false_neg"),
            (F.col("q") - F.col("fp")).alias("true_neg"),
            "j_scaled",
            (F.col("tp").cast("double") / F.col("p")).alias("tpr"),
            (F.col("fp").cast("double") / F.col("q")).alias("fpr"),
            (
                F.col("tp").cast("double") / F.col("p")
                - F.col("fp").cast("double") / F.col("q")
            ).alias("youden_j"),
        )
        .orderBy(F.col("j_scaled").desc(), F.col("threshold_bucket").asc())
        .limit(1)
    )


# ---------------------------------------------------------------------------
# orders_decile_lift — decile lift/gains table for a value-based targeting
# ---------------------------------------------------------------------------


@register(
    "orders_decile_lift",
    oracle="""
    WITH b AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey,
             CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                  AS BIGINT) AS resp
      FROM orders
    ),
    tiled AS (
      SELECT resp,
             ntile(10) OVER (ORDER BY cents DESC, o_orderkey) AS decile
      FROM b
    ),
    d AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_d,
             CAST(sum(resp) AS BIGINT) AS r_d
      FROM tiled GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(n_d) AS BIGINT) AS n, CAST(sum(r_d) AS BIGINT) AS r
      FROM d
    ),
    c AS (
      SELECT d.decile, d.n_d, d.r_d, t.n, t.r,
             CAST(sum(d.r_d) OVER (ORDER BY d.decile) AS BIGINT) AS cum_r,
             CAST(sum(d.n_d) OVER (ORDER BY d.decile) AS BIGINT) AS cum_n
      FROM d CROSS JOIN t
    )
    SELECT decile, n_d, r_d,
           CAST(CAST(r_d AS HUGEINT) * n * 1000000000
                // (CAST(n_d AS HUGEINT) * r) AS BIGINT) AS lift_ppb,
           CAST(CAST(r_d AS HUGEINT) * n * 1000000000
                // (CAST(n_d AS HUGEINT) * r) AS BIGINT) / 1000000000.0
             AS lift,
           CAST(CAST(cum_r AS HUGEINT) * 1000000000 // r AS BIGINT)
             AS cum_gain_ppb,
           CAST(CAST(cum_r AS HUGEINT) * n * 1000000000
                // (CAST(cum_n AS HUGEINT) * r) AS BIGINT) AS cum_lift_ppb
    FROM c
    WHERE r > 0
    ORDER BY decile
    """,
    doc="Decile lift/gains table: rank orders by total price (highest "
    "first), cut into 10 equal tiles, and measure how concentrated "
    "urgent-priority orders are in the top tiles — the model-evaluation "
    "table every targeting/propensity pipeline prints (lift(d) = "
    "response rate in decile d over base rate; cumulative gain(d) = "
    "share of all responders captured by deciles 1..d). Deciles come "
    "from plans/ranking.two_pass_global_rank + ntile_from_rank — the "
    "EXACT global rank over (cents DESC, o_orderkey) built from "
    "range-bucket counts plus per-bucket row_numbers, so no "
    "data-proportional single-partition window exists anywhere in the "
    "plan, and the remainder-first tile allocation reproduces SQL "
    "ntile(10) bit-for-bit (the customer_ltv_deciles contract). Lift "
    "and gain ship as exact ppb integers — (r_d*N*1e9) div (n_d*R) "
    "with every operand provably non-negative — plus one-division "
    "display twins; the 10-row decile relation is the only window "
    "input. Scale path: the rank is two-pass range-partitioned; "
    "everything downstream is decile-cardinality-sized.",
)
def orders_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.plans.ranking import (
        ntile_from_rank,
        two_pass_global_rank,
    )

    o = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("resp"),
    )
    o = o.persist()  # boundary sketch in two_pass runs at construction time
    ranked = two_pass_global_rank(
        o, "cents", "o_orderkey", descending=True
    )
    tiled = ranked.select(
        "resp",
        ntile_from_rank(F.col("_rank"), F.col("_n"), 10)
        .cast("bigint")
        .alias("decile"),
    )
    d = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_d"),
        F.sum("resp").cast("bigint").alias("r_d"),
    )
    t = d.agg(
        F.sum("n_d").cast("bigint").alias("n"),
        F.sum("r_d").cast("bigint").alias("r"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.crossJoin(F.broadcast(t)).select(
        "decile",
        "n_d",
        "r_d",
        "n",
        "r",
        F.sum("r_d").over(wc).cast("bigint").alias("cum_r"),
        F.sum("n_d").over(wc).cast("bigint").alias("cum_n"),
    )
    lift_ppb = F.expr(
        "CAST(CAST(r_d AS DECIMAL(38,0)) * n * 1000000000"
        " div (CAST(n_d AS DECIMAL(38,0)) * r) AS BIGINT)"
    )
    out = (
        c.filter(F.col("r") > 0)
        .select(
            "decile",
            "n_d",
            "r_d",
            lift_ppb.alias("lift_ppb"),
            (lift_ppb / 1000000000.0).alias("lift"),
            F.expr(
                "CAST(CAST(cum_r AS DECIMAL(38,0)) * 1000000000 div r"
                " AS BIGINT)"
            ).alias("cum_gain_ppb"),
            F.expr(
                "CAST(CAST(cum_r AS DECIMAL(38,0)) * n * 1000000000"
                " div (CAST(cum_n AS DECIMAL(38,0)) * r) AS BIGINT)"
            ).alias("cum_lift_ppb"),
        )
        .orderBy("decile")
    )
    return release_on_gc(o, out)


# ---------------------------------------------------------------------------
# orders_survival_cindex — concordance index of price as a churn-risk score
# ---------------------------------------------------------------------------


@register(
    "orders_survival_cindex",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    firsts AS (
      SELECT o_custkey, o_orderdate AS t1,
             (CAST(round(o_totalprice * 100) AS BIGINT) + 250000) // 500000 AS sb
      FROM o2 WHERE rn = 1
    ),
    seconds AS (SELECT o_custkey, o_orderdate AS t2 FROM o2 WHERE rn = 2),
    mx AS (SELECT max(o_orderdate) AS tmax FROM orders),
    obs AS (
      SELECT CAST(CASE WHEN s.t2 IS NOT NULL
                  THEN date_diff('day', CAST(f.t1 AS DATE), CAST(s.t2 AS DATE))
                  ELSE date_diff('day', CAST(f.t1 AS DATE), CAST(m.tmax AS DATE))
             END AS BIGINT) AS dur,
             CAST(CASE WHEN s.t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS ev,
             f.sb
      FROM firsts f LEFT JOIN seconds s ON s.o_custkey = f.o_custkey, mx m
    ),
    cells0 AS (
      SELECT dur, sb, CAST(sum(ev) AS BIGINT) AS n_ev,
             CAST(count(*) AS BIGINT) AS n_all
      FROM obs GROUP BY 1, 2
    ),
    grid AS (
      SELECT dd.dur, ss.sb,
             coalesce(c.n_ev, 0) AS n_ev, coalesce(c.n_all, 0) AS n_all
      FROM (SELECT DISTINCT dur FROM cells0) dd
      CROSS JOIN (SELECT DISTINCT sb FROM cells0) ss
      LEFT JOIN cells0 c ON c.dur = dd.dur AND c.sb = ss.sb
    ),
    h AS (
      SELECT dur, sb, n_ev,
             CAST(sum(n_all) OVER (PARTITION BY sb) -
                  sum(n_all) OVER (PARTITION BY sb ORDER BY dur
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS h_gt
      FROM grid
    ),
    pfx AS (
      SELECT dur, sb, n_ev, h_gt,
             CAST(coalesce(sum(h_gt) OVER (PARTITION BY dur ORDER BY sb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS h_lower,
             CAST(sum(h_gt) OVER (PARTITION BY dur) AS BIGINT) AS h_any
      FROM h
    ),
    s AS (
      SELECT CAST(sum(CAST(n_ev AS HUGEINT) * (2 * h_lower + h_gt))
                  AS HUGEINT) AS conc2,
             CAST(sum(CAST(n_ev AS HUGEINT) * h_any) AS HUGEINT) AS usable
      FROM pfx
    )
    SELECT CAST(conc2 AS BIGINT) AS concordant_x2,
           CAST(usable AS BIGINT) AS usable_pairs,
           CAST(conc2 * 1000000000 // (2 * usable) AS BIGINT) AS cindex_ppb,
           CAST(CAST(conc2 * 1000000000 // (2 * usable) AS BIGINT)
                AS DOUBLE) / 1000000000.0 AS c_index
    FROM s
    WHERE usable > 0
    """,
    doc="Harrell's concordance index for orders_survival_km's "
    "repeat-purchase analysis: does a LOWER first-order total predict a "
    "LONGER wait until the second order? — the standard discrimination "
    "metric for survival models (C = P(risk ranks agree with outcome "
    "order among usable pairs), the censoring-aware cousin of AUC). A "
    "pair is usable when the earlier subject's duration is an observed "
    "EVENT (repeat purchase) strictly before the other's time; it "
    "counts concordant when the event subject carries the HIGHER "
    "first-price bucket, half credit on score ties. The O(n^2) pair "
    "space collapses onto the bounded (distinct-duration x ~120-bucket "
    "price-domain) GRID, densified so the two factorized masses "
    "evaluate everywhere: h_gt = subjects surviving strictly past t in "
    "bucket d (per-bucket suffix via total minus inclusive prefix), "
    "h_lower = the same mass over strictly-lower buckets (per-duration "
    "prefix), h_any = all survivors past t. conc2 = sum n_ev*(2*h_lower "
    "+ h_gt) and usable = sum n_ev*h_any are exact HUGEINT/DECIMAL "
    "integers; cindex_ppb = conc2*1e9 div (2*usable) floor-divides the "
    "provably non-negative numerator below 2^53 before the one double "
    "display division. The first/second-order extraction reuses "
    "orders_survival_km's single-window per-customer pivot; every later "
    "window is partitioned with bounded per-partition input.",
)
def orders_survival_cindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    first_two = (
        o.select(
            "o_custkey",
            "o_orderdate",
            "o_totalprice",
            F.row_number().over(w2).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("t1"),
            F.max(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("t2"),
            F.max(
                F.when(
                    F.col("rn") == 1,
                    F.expr(
                        "(CAST(round(o_totalprice * 100) AS BIGINT)"
                        " + 250000) div 500000"
                    ),
                )
            ).alias("sb"),
        )
    )
    mx = o.agg(F.max("o_orderdate").alias("tmax"))
    obs = first_two.crossJoin(F.broadcast(mx)).select(
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
        "sb",
    )
    cells0 = obs.groupBy("dur", "sb").agg(
        F.sum("ev").cast("bigint").alias("n_ev"),
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
    )
    cells0 = cells0.persist()  # bounded grid feeds both distinct sides
    dd = cells0.select("dur").distinct()
    ss = cells0.select("sb").distinct()
    grid = (
        dd.crossJoin(ss)
        .join(cells0, ["dur", "sb"], "left")
        .select(
            "dur",
            "sb",
            F.coalesce(F.col("n_ev"), F.lit(0)).alias("n_ev"),
            F.coalesce(F.col("n_all"), F.lit(0)).alias("n_all"),
        )
    )
    w_tot = Window.partitionBy("sb")
    w_le = (
        Window.partitionBy("sb")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h = grid.select(
        "dur",
        "sb",
        "n_ev",
        (F.sum("n_all").over(w_tot) - F.sum("n_all").over(w_le))
        .cast("bigint")
        .alias("h_gt"),
    )
    w_lower = (
        Window.partitionBy("dur")
        .orderBy("sb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_any = Window.partitionBy("dur")
    pfx = h.select(
        "n_ev",
        "h_gt",
        F.coalesce(F.sum("h_gt").over(w_lower), F.lit(0))
        .cast("bigint")
        .alias("h_lower"),
        F.sum("h_gt").over(w_any).cast("bigint").alias("h_any"),
    )
    s = pfx.agg(
        _dsum(F.col("n_ev") * (2 * F.col("h_lower") + F.col("h_gt"))).alias(
            "conc2"
        ),
        _dsum(F.col("n_ev") * F.col("h_any")).alias("usable"),
    )
    cppb = F.expr("CAST(conc2 * 1000000000 div (2 * usable) AS BIGINT)")
    out = s.filter(F.col("usable") > 0).select(
        F.col("conc2").cast("bigint").alias("concordant_x2"),
        F.col("usable").cast("bigint").alias("usable_pairs"),
        cppb.alias("cindex_ppb"),
        (cppb.cast("double") / 1000000000.0).alias("c_index"),
    )
    return release_on_gc(cells0, out)


# ---------------------------------------------------------------------------
# agg_partial_corr — partial correlation from exact integer moments
# ---------------------------------------------------------------------------


@register(
    "agg_partial_corr",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
             CAST(round(l_discount * 100) AS BIGINT) AS z
      FROM lineitem
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(z) AS HUGEINT) AS sz,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(z AS HUGEINT) * z) AS szz,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * z) AS sxz,
             sum(CAST(y AS HUGEINT) * z) AS syz
      FROM b
    ),
    q AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST((n * sxx - sx * sx) // (n * n) AS BIGINT) AS vx,
             CAST((n * syy - sy * sy) // (n * n) AS BIGINT) AS vy,
             CAST((n * szz - sz * sz) // (n * n) AS BIGINT) AS vz,
             CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END
                  * (abs(n * sxy - sx * sy) // (n * n)) AS BIGINT) AS cxy,
             CAST(CASE WHEN n * sxz - sx * sz < 0 THEN -1 ELSE 1 END
                  * (abs(n * sxz - sx * sz) // (n * n)) AS BIGINT) AS cxz,
             CAST(CASE WHEN n * syz - sy * sz < 0 THEN -1 ELSE 1 END
                  * (abs(n * syz - sy * sz) // (n * n)) AS BIGINT) AS cyz
      FROM m WHERE n > 1
    ),
    r AS (
      SELECT n, vx, vy, vz, cxy, cxz, cyz,
             CAST(cxy AS DOUBLE)
               / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) AS rxy,
             CAST(cxz AS DOUBLE)
               / sqrt(CAST(vx AS DOUBLE) * CAST(vz AS DOUBLE)) AS rxz,
             CAST(cyz AS DOUBLE)
               / sqrt(CAST(vy AS DOUBLE) * CAST(vz AS DOUBLE)) AS ryz
      FROM q WHERE vx > 0 AND vy > 0 AND vz > 0
    )
    SELECT n, vx, vy, vz, cxy, cxz, cyz, rxy, rxz, ryz,
           (rxy - rxz * ryz)
             / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
             AS partial_rxy_given_z
    FROM r
    WHERE (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
    """,
    doc="Partial Pearson correlation of quantity and extended price "
    "CONTROLLING for discount — the confound-removal primitive "
    "agg_corr_matrix can't express (raw corr conflates the discount "
    "pathway; the partial r_xy.z = (r_xy - r_xz*r_yz)/sqrt((1-r_xz^2)"
    "(1-r_yz^2)) removes the linear z effect from both sides). All "
    "three marginal correlations derive from EXACT integer moment sums "
    "(cents-scaled; HUGEINT/DECIMAL(38,0)) rather than float corr(): "
    "each covariance/variance ships as the centered numerator "
    "n*Sab - Sa*Sb floor-divided by n^2 — value-range-bounded (it IS "
    "the plain covariance, row-count independent), so every "
    "integer-to-double cast sits far below 2^53 at any SF; negative "
    "covariances split into |num| div n^2 with an explicit sign (div "
    "on negatives is engine-divergent). Each r is then one fixed-order "
    "IEEE expression over identical integers, and the partial is a "
    "fixed composition of the three — no distributed float sum "
    "anywhere. One map-combined moment pass, one scalar row.",
)
def agg_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("z"),
    )
    m = b.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.col("z")).alias("sz"),
        _dsum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        _dsum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        _dsum(F.col("z").cast("decimal(38,0)") * F.col("z")).alias("szz"),
        _dsum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        _dsum(F.col("x").cast("decimal(38,0)") * F.col("z")).alias("sxz"),
        _dsum(F.col("y").cast("decimal(38,0)") * F.col("z")).alias("syz"),
    )

    def _signed_cov(sab: str, sa: str, sb_: str) -> F.Column:
        return F.expr(
            f"CAST(CASE WHEN n * {sab} - {sa} * {sb_} < 0 THEN -1 ELSE 1 END"
            f" * (abs(n * {sab} - {sa} * {sb_}) div (n * n)) AS BIGINT)"
        )

    q = m.filter(F.col("n") > 1).select(
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST((n * sxx - sx * sx) div (n * n) AS BIGINT)").alias("vx"),
        F.expr("CAST((n * syy - sy * sy) div (n * n) AS BIGINT)").alias("vy"),
        F.expr("CAST((n * szz - sz * sz) div (n * n) AS BIGINT)").alias("vz"),
        _signed_cov("sxy", "sx", "sy").alias("cxy"),
        _signed_cov("sxz", "sx", "sz").alias("cxz"),
        _signed_cov("syz", "sy", "sz").alias("cyz"),
    )
    rxy = F.col("cxy").cast("double") / F.sqrt(
        F.col("vx").cast("double") * F.col("vy").cast("double")
    )
    rxz = F.col("cxz").cast("double") / F.sqrt(
        F.col("vx").cast("double") * F.col("vz").cast("double")
    )
    ryz = F.col("cyz").cast("double") / F.sqrt(
        F.col("vy").cast("double") * F.col("vz").cast("double")
    )
    r = q.filter(
        (F.col("vx") > 0) & (F.col("vy") > 0) & (F.col("vz") > 0)
    ).select(
        "n",
        "vx",
        "vy",
        "vz",
        "cxy",
        "cxz",
        "cyz",
        rxy.alias("rxy"),
        rxz.alias("rxz"),
        ryz.alias("ryz"),
    )
    denom = (1.0 - F.col("rxz") * F.col("rxz")) * (
        1.0 - F.col("ryz") * F.col("ryz")
    )
    return r.filter(denom > 0).select(
        "n",
        "vx",
        "vy",
        "vz",
        "cxy",
        "cxz",
        "cyz",
        "rxy",
        "rxz",
        "ryz",
        (
            (F.col("rxy") - F.col("rxz") * F.col("ryz")) / F.sqrt(denom)
        ).alias("partial_rxy_given_z"),
    )


# ---------------------------------------------------------------------------
# orders_eoq_policy — economic order quantity + reorder policy per part
# ---------------------------------------------------------------------------

EOQ_TOPK = 25        # highest-demand parts (bounded output)
EOQ_ORDER_COST = 100  # fixed cost per replenishment order (currency units)
EOQ_HOLD_COST = 3     # holding cost per unit per year
EOQ_LEAD_DAYS = 7     # replenishment lead time
EOQ_Z95 = 1.645       # one-sided 95% service-level factor


@register(
    "orders_eoq_policy",
    oracle=f"""
    WITH span AS (
      SELECT CAST(date_diff('day', min(CAST(l_shipdate AS DATE)),
                            max(CAST(l_shipdate AS DATE))) + 1 AS BIGINT)
               AS span_days
      FROM lineitem WHERE l_shipdate IS NOT NULL
    ),
    dem AS (
      SELECT l_partkey AS part,
             CAST(l_shipdate AS DATE) AS day,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem WHERE l_shipdate IS NOT NULL
      GROUP BY 1, 2
    ),
    per_part AS (
      SELECT part, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(q) AS BIGINT) AS q_tot,
             CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS q2
      FROM dem GROUP BY part HAVING count(*) >= 2
    ),
    pol AS (
      SELECT part, n_days, q_tot,
             CAST(CAST(q_tot AS HUGEINT) * 365000 // s.span_days AS BIGINT)
               AS d_milli,
             CAST((CAST(n_days AS HUGEINT) * q2
                   - CAST(q_tot AS HUGEINT) * q_tot)
                  // (CAST(n_days AS HUGEINT) * (n_days - 1)) AS BIGINT)
               AS var_q
      FROM per_part CROSS JOIN span s
    )
    SELECT part AS partkey, n_days, q_tot, d_milli, var_q,
           sqrt(CAST(2 * {EOQ_ORDER_COST} AS DOUBLE) * d_milli
                / ({EOQ_HOLD_COST} * 1000.0)) AS eoq_units,
           CAST(CAST(d_milli AS HUGEINT) * {EOQ_LEAD_DAYS} // 365 AS BIGINT)
             AS rop_milli,
           {EOQ_Z95} * sqrt(CAST(var_q AS DOUBLE) * {EOQ_LEAD_DAYS})
             AS safety_stock_units,
           365000.0 * sqrt(CAST(2 * {EOQ_ORDER_COST} AS DOUBLE) * d_milli
                           / ({EOQ_HOLD_COST} * 1000.0)) / d_milli
             AS cycle_days
    FROM pol
    WHERE d_milli > 0
    ORDER BY q_tot DESC, part
    LIMIT {EOQ_TOPK}
    """,
    doc=f"Economic order quantity policy per part: EOQ = "
    "sqrt(2*K*D/h) with literal ordering cost K = "
    f"{EOQ_ORDER_COST}, holding cost h = {EOQ_HOLD_COST}/unit-year, "
    "annualized demand D from the part's shipped quantity over the "
    "observed calendar span — plus the reorder point D*LT/365 and a "
    f"z = {EOQ_Z95} safety stock from the part's demand-day variance "
    f"(lead time {EOQ_LEAD_DAYS} days) — the classic inventory-control "
    "triple (Harris/Wilson EOQ) that turns the demand history the "
    "engine already aggregates into an operating policy. Hash surface: "
    "demand totals, the milli-scaled annualized rate q_tot*365000 div "
    "span, and the demand-day variance (n*sum(q^2) - S^2) div (n(n-1)) "
    "are EXACT integers (HUGEINT/DECIMAL-kept, floor-divided on "
    "provably non-negative numerators to sub-2^53 values); EOQ, safety "
    "stock and cycle length are fixed-order IEEE expressions over "
    "those integers. Per-part series aggregate map-side; the top-"
    f"{EOQ_TOPK} by demand ship via TakeOrderedAndProject.",
)
def orders_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    span = li.agg(
        (
            F.datediff(
                F.max(F.col("l_shipdate").cast("date")),
                F.min(F.col("l_shipdate").cast("date")),
            )
            + 1
        )
        .cast("bigint")
        .alias("span_days")
    )
    dem = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q")
    )
    per_part = (
        dem.groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("q").cast("bigint").alias("q_tot"),
            _dsum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("q2"),
        )
        .filter(F.col("n_days") >= 2)
    )
    pol = per_part.crossJoin(F.broadcast(span)).select(
        "part",
        "n_days",
        "q_tot",
        F.expr(
            "CAST(CAST(q_tot AS DECIMAL(38,0)) * 365000 div span_days"
            " AS BIGINT)"
        ).alias("d_milli"),
        F.expr(
            "CAST((CAST(n_days AS DECIMAL(38,0)) * q2"
            " - CAST(q_tot AS DECIMAL(38,0)) * q_tot)"
            " div (CAST(n_days AS DECIMAL(38,0)) * (n_days - 1)) AS BIGINT)"
        ).alias("var_q"),
    )
    eoq = F.sqrt(
        F.lit(float(2 * EOQ_ORDER_COST))
        * F.col("d_milli")
        / (EOQ_HOLD_COST * 1000.0)
    )
    return (
        pol.filter(F.col("d_milli") > 0)
        .select(
            F.col("part").alias("partkey"),
            "n_days",
            "q_tot",
            "d_milli",
            "var_q",
            eoq.alias("eoq_units"),
            F.expr(
                f"CAST(CAST(d_milli AS DECIMAL(38,0)) * {EOQ_LEAD_DAYS}"
                " div 365 AS BIGINT)"
            ).alias("rop_milli"),
            (
                F.lit(EOQ_Z95)
                * F.sqrt(F.col("var_q").cast("double") * EOQ_LEAD_DAYS)
            ).alias("safety_stock_units"),
            (365000.0 * eoq / F.col("d_milli")).alias("cycle_days"),
        )
        .orderBy(F.col("q_tot").desc(), "partkey")
        .limit(EOQ_TOPK)
    )


# ---------------------------------------------------------------------------
# orders_arc_elasticity — midpoint price elasticity of demand per brand
# ---------------------------------------------------------------------------


@register(
    "orders_arc_elasticity",
    oracle="""
    WITH b AS (
      SELECT p.p_brand AS brand,
             CAST(CASE WHEN date_part('year', CAST(l.l_shipdate AS DATE))
                            >= 1996 THEN 2 ELSE 1 END AS BIGINT) AS period,
             CAST(round(l.l_quantity) AS BIGINT) AS q,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate IS NOT NULL
    ),
    agg2 AS (
      SELECT brand,
             CAST(sum(CASE WHEN period = 1 THEN q ELSE 0 END) AS BIGINT)
               AS q1,
             CAST(sum(CASE WHEN period = 2 THEN q ELSE 0 END) AS BIGINT)
               AS q2,
             CAST(sum(CASE WHEN period = 1 THEN r ELSE 0 END) AS BIGINT)
               AS r1,
             CAST(sum(CASE WHEN period = 2 THEN r ELSE 0 END) AS BIGINT)
               AS r2
      FROM b GROUP BY brand
    ),
    e AS (
      SELECT brand, q1, q2, r1, r2,
             CAST(q2 - q1 AS HUGEINT)
               * (CAST(r2 AS HUGEINT) * q1 + CAST(r1 AS HUGEINT) * q2)
               AS num,
             CAST(q2 + q1 AS HUGEINT)
               * (CAST(r2 AS HUGEINT) * q1 - CAST(r1 AS HUGEINT) * q2)
               AS den
      FROM agg2
      WHERE q1 > 0 AND q2 > 0
    )
    SELECT brand, q1, q2, r1, r2,
           CAST(CASE WHEN (num < 0) != (den < 0) THEN -1 ELSE 1 END
                AS BIGINT) AS e_sign,
           CAST(abs(num) * 1000000000 // abs(den) AS BIGINT) AS e_abs_ppb,
           CAST(CASE WHEN (num < 0) != (den < 0) THEN -1 ELSE 1 END
                AS DOUBLE)
             * CAST(abs(num) * 1000000000 // abs(den) AS BIGINT)
             / 1000000000.0 AS arc_elasticity
    FROM e
    WHERE den != 0
    ORDER BY brand
    """,
    doc="Arc (midpoint) price elasticity of demand per part brand between "
    "the 1992-1995 and 1996-1998 halves of the calendar: e = "
    "(dQ/Q_mid)/(dP/P_mid), the two-period elasticity estimator that is "
    "symmetric in direction (unlike point elasticity) and needs no log "
    "regression — the pricing-analytics primitive. With period prices "
    "as exact rationals P_i = R_i/Q_i (revenue cents over units), the "
    "midpoint formula cross-multiplies to pure integers: num = "
    "(Q2-Q1)*(R2*Q1 + R1*Q2), den = (Q2+Q1)*(R2*Q1 - R1*Q2) — both "
    "signed, so the statistic ships as |num|*1e9 div |den| (non-negative"
    " floor-division, identical on both engines) with an explicit "
    "sign column; HUGEINT/DECIMAL keeps the ~1e31 products exact and "
    "the ppb quotient sits far below 2^53 before its one display "
    "division. The part join broadcasts the dimension; one "
    "map-combined conditional rollup per brand (~25 rows).",
)
def orders_arc_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = li.join(
        F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")
    ).select(
        F.col("p_brand").alias("brand"),
        F.when(
            F.year(F.col("l_shipdate").cast("date")) >= 1996, F.lit(2)
        )
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("period"),
        F.round("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("r"),
    )
    agg2 = b.groupBy("brand").agg(
        F.sum(F.when(F.col("period") == 1, F.col("q")).otherwise(0))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(F.col("period") == 2, F.col("q")).otherwise(0))
        .cast("bigint")
        .alias("q2"),
        F.sum(F.when(F.col("period") == 1, F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("r1"),
        F.sum(F.when(F.col("period") == 2, F.col("r")).otherwise(0))
        .cast("bigint")
        .alias("r2"),
    )
    e = agg2.filter((F.col("q1") > 0) & (F.col("q2") > 0)).select(
        "brand",
        "q1",
        "q2",
        "r1",
        "r2",
        F.expr(
            "CAST(q2 - q1 AS DECIMAL(38,0))"
            " * (CAST(r2 AS DECIMAL(38,0)) * q1"
            "    + CAST(r1 AS DECIMAL(38,0)) * q2)"
        ).alias("num"),
        F.expr(
            "CAST(q2 + q1 AS DECIMAL(38,0))"
            " * (CAST(r2 AS DECIMAL(38,0)) * q1"
            "    - CAST(r1 AS DECIMAL(38,0)) * q2)"
        ).alias("den"),
    )
    sign = F.when(
        (F.col("num") < 0) != (F.col("den") < 0), F.lit(-1)
    ).otherwise(F.lit(1))
    abs_ppb = F.expr("CAST(abs(num) * 1000000000 div abs(den) AS BIGINT)")
    return (
        e.filter(F.col("den") != 0)
        .select(
            "brand",
            "q1",
            "q2",
            "r1",
            "r2",
            sign.cast("bigint").alias("e_sign"),
            abs_ppb.alias("e_abs_ppb"),
            (sign.cast("double") * abs_ppb / 1000000000.0).alias(
                "arc_elasticity"
            ),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# orders_cpk_capability — process capability indices per part type
# ---------------------------------------------------------------------------

CPK_LSL = 5   # lower spec limit on lineitem quantity
CPK_USL = 45  # upper spec limit


@register(
    "orders_cpk_capability",
    oracle=f"""
    WITH b AS (
      SELECT p.p_type AS ptype,
             CAST(round(l.l_quantity) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    m AS (
      SELECT ptype, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS s2
      FROM b GROUP BY ptype HAVING count(*) > 1
    ),
    q AS (
      SELECT ptype, n,
             CAST(CAST(s AS HUGEINT) * 1000000 // n AS BIGINT) AS mu_u,
             CAST((CAST(n AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s)
                  * 1000000 // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
               AS var_u
      FROM m
    )
    SELECT ptype, n, mu_u, var_u,
           ({CPK_USL} - {CPK_LSL})
             / (6.0 * sqrt(CAST(var_u AS DOUBLE) / 1000000.0)) AS cp,
           ({CPK_USL} - CAST(mu_u AS DOUBLE) / 1000000.0)
             / (3.0 * sqrt(CAST(var_u AS DOUBLE) / 1000000.0)) AS cpu,
           (CAST(mu_u AS DOUBLE) / 1000000.0 - {CPK_LSL})
             / (3.0 * sqrt(CAST(var_u AS DOUBLE) / 1000000.0)) AS cpl,
           least(({CPK_USL} - CAST(mu_u AS DOUBLE) / 1000000.0)
                   / (3.0 * sqrt(CAST(var_u AS DOUBLE) / 1000000.0)),
                 (CAST(mu_u AS DOUBLE) / 1000000.0 - {CPK_LSL})
                   / (3.0 * sqrt(CAST(var_u AS DOUBLE) / 1000000.0)))
             AS cpk
    FROM q
    WHERE var_u > 0
    ORDER BY ptype
    """,
    doc=f"Process capability indices Cp / Cpu / Cpl / Cpk of shipped "
    f"quantity per part type against literal spec limits "
    f"[{CPK_LSL}, {CPK_USL}] — the SPC acceptance summary "
    "(Cp: spread vs tolerance; Cpk: the one-sided worst case that "
    "catches off-center processes Cp ignores; Cpk >= 1.33 is the "
    "conventional capability bar). Mean and variance per part type are "
    "micro-scaled exact integers — mu_u = S*1e6 div n, var_u = "
    "(n*sum(q^2) - S^2)*1e6 div (n(n-1)), both numerators provably "
    "non-negative and HUGEINT/DECIMAL-kept, quotients far below 2^53 "
    "(quantity is value-range-bounded) — so each index is a fixed-order "
    "IEEE expression over identical integers on both engines; least() "
    "of two identically-computed doubles is deterministic. Broadcast "
    "part-dimension join, one map-combined rollup, ~150 rows.",
)
def orders_cpk_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    b = li.join(
        F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")
    ).select(
        F.col("p_type").alias("ptype"),
        F.round("l_quantity").cast("bigint").alias("q"),
    )
    m = (
        b.groupBy("ptype")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").cast("bigint").alias("s"),
            _dsum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("s2"),
        )
        .filter(F.col("n") > 1)
    )
    q = m.select(
        "ptype",
        "n",
        F.expr(
            "CAST(CAST(s AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"
        ).alias("mu_u"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * s2"
            " - CAST(s AS DECIMAL(38,0)) * s) * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"
        ).alias("var_u"),
    )
    sigma = F.sqrt(F.col("var_u").cast("double") / 1000000.0)
    mu = F.col("mu_u").cast("double") / 1000000.0
    cpu = (CPK_USL - mu) / (3.0 * sigma)
    cpl = (mu - CPK_LSL) / (3.0 * sigma)
    return (
        q.filter(F.col("var_u") > 0)
        .select(
            "ptype",
            "n",
            "mu_u",
            "var_u",
            ((CPK_USL - CPK_LSL) / (6.0 * sigma)).alias("cp"),
            cpu.alias("cpu"),
            cpl.alias("cpl"),
            F.least(cpu, cpl).alias("cpk"),
        )
        .orderBy("ptype")
    )


# ---------------------------------------------------------------------------
# orders_ewma_control — EWMA control chart over the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "orders_ewma_control",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    ser AS (
      SELECT list(struct_pack(day := day, x := x) ORDER BY day) AS xs,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
      FROM d
    ),
    folded AS (
      SELECT n,
             CAST(CAST(s1 AS HUGEINT) * 1000000 // n AS BIGINT) AS mu_u,
             CAST((CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
                  // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS var_q,
             list_reduce(
               list_prepend(
                 [struct_pack(day := xs[1].day, x := xs[1].x, s := xs[1].x)],
                 list_transform(xs[2:],
                   e -> [struct_pack(day := e.day, x := e.x,
                                     s := CAST(0 AS BIGINT))])),
               (acc, el) -> list_append(acc,
                 struct_pack(day := el[1].day, x := el[1].x,
                             s := CAST((el[1].x + 3 * acc[-1].s + 2) // 4
                                       AS BIGINT)))
             ) AS path
      FROM ser
      WHERE n > 1
    ),
    rows_out AS (
      SELECT u.day, u.x, u.s, f.mu_u, f.var_q
      FROM folded f, unnest(f.path) AS t(u)
    )
    SELECT day, x AS rev_c, s AS ewma_c,
           CAST(mu_u AS DOUBLE) / 1000000.0
             + 3.0 * sqrt(CAST(var_q AS DOUBLE) / 7.0) AS ucl,
           CAST(mu_u AS DOUBLE) / 1000000.0
             - 3.0 * sqrt(CAST(var_q AS DOUBLE) / 7.0) AS lcl,
           CAST(s AS DOUBLE) > CAST(mu_u AS DOUBLE) / 1000000.0
             + 3.0 * sqrt(CAST(var_q AS DOUBLE) / 7.0)
           OR CAST(s AS DOUBLE) < CAST(mu_u AS DOUBLE) / 1000000.0
             - 3.0 * sqrt(CAST(var_q AS DOUBLE) / 7.0) AS breach
    FROM rows_out
    ORDER BY day
    """,
    doc="EWMA control chart over daily revenue (lambda = 1/4): the "
    "small-shift-sensitive complement to orders_shewhart_control "
    "(Shewhart needs a 3-sigma single-day spike; the EWMA accumulates "
    "persistent small drifts, catching them far sooner — the standard "
    "SPC pairing, Lucas & Saccucci 1990). The recurrence s_t = "
    "(x_t + 3*s_{t-1} + 2) div 4 is FULLY INTEGER round-half-up of a "
    "dyadic product on provably positive cents (the orders_croston "
    "discipline), folded over the calendar-bounded daily series with "
    "the whole PATH accumulated (list-of-state fold: elements lifted "
    "to singleton lists so DuckDB's init-by-prepend list_reduce and "
    "Spark's explicit-init aggregate replay identical bits), then "
    "exploded back to one row per day. Control limits use the "
    "steady-state EWMA variance sigma^2*lambda/(2-lambda) = var/7 with "
    "mean and variance as micro-scaled floor-divided exact integers; "
    "the breach flag compares identically-computed doubles, so it is "
    "deterministic cross-engine. One map-combined day rollup; the fold "
    "input is bounded by the calendar, never the fact rows.",
)
def orders_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    ser = d.agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("xs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        _dsum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
    )
    folded = ser.filter(F.col("n") > 1).select(
        F.expr(
            "CAST(CAST(s1 AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"
        ).alias("mu_u"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * s2"
            " - CAST(s1 AS DECIMAL(38,0)) * s1)"
            " div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"
        ).alias("var_q"),
        F.expr(
            "aggregate("
            "  slice(xs, 2, size(xs) - 1),"
            "  array(named_struct("
            "    'day', element_at(xs, 1).day,"
            "    'x', element_at(xs, 1).x,"
            "    's', element_at(xs, 1).x)),"
            "  (acc, e) -> array_append(acc, named_struct("
            "    'day', e.day,"
            "    'x', e.x,"
            "    's', CAST((e.x + 3 * element_at(acc, -1).s + 2) div 4"
            "         AS BIGINT))))"
        ).alias("path"),
    )
    rows_out = folded.select(
        "mu_u", "var_q", F.explode("path").alias("u")
    ).select(
        F.col("u.day").alias("day"),
        F.col("u.x").alias("rev_c"),
        F.col("u.s").alias("ewma_c"),
        "mu_u",
        "var_q",
    )
    mu = F.col("mu_u").cast("double") / 1000000.0
    band = 3.0 * F.sqrt(F.col("var_q").cast("double") / 7.0)
    return rows_out.select(
        "day",
        "rev_c",
        "ewma_c",
        (mu + band).alias("ucl"),
        (mu - band).alias("lcl"),
        (
            (F.col("ewma_c").cast("double") > mu + band)
            | (F.col("ewma_c").cast("double") < mu - band)
        ).alias("breach"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# orders_holt_winters — additive Holt-Winters with a fully integer fold
# ---------------------------------------------------------------------------


def _hw_lambda_spark() -> str:
    """Spark HOF lambda for one Holt-Winters step, alpha=beta=1/4,
    gamma=1/2, all updates round-half-up dyadic with EXPLICIT floor
    division (pmod-subtract, since `div` truncates and seasonal terms go
    negative)."""
    x = "(12 * e.x)"
    sold = "element_at(acc.s, 1)"
    a_l = f"(({x} - {sold}) + 3 * (acc.l + acc.b) + 2)"
    lt = f"((({a_l}) - pmod(({a_l}), 4)) div 4)"
    a_b = f"(({lt} - acc.l) + 3 * acc.b + 2)"
    bt = f"((({a_b}) - pmod(({a_b}), 4)) div 4)"
    a_s = f"(({x} - {lt}) + {sold} + 1)"
    st = f"((({a_s}) - pmod(({a_s}), 2)) div 2)"
    return (
        "(acc, e) -> named_struct("
        f"'l', {lt}, 'b', {bt},"
        f" 's', concat(slice(acc.s, 2, 11), array({st})))"
    )


def _hw_oracle() -> str:
    """DuckDB twin as a RECURSIVE CTE over the month index — identical
    recurrence, same pmod-subtract floor construction (DuckDB's integer
    `//` TRUNCATES toward zero exactly like Spark's `div`; witness
    -7 // 4 = -1). A list_reduce + struct_pack fold is deliberately NOT
    used: DuckDB evaluates struct_pack fields SEQUENTIALLY with the
    accumulator updated IN PLACE, so a field expression referencing
    acc.l after l := ... silently reads the NEW level (verified
    numerically) — the recursive CTE has plain tuple semantics and no
    such hazard."""
    a_l = "((12 * mi.x - f.s[1]) + 3 * (f.l + f.b) + 2)"
    lt = f"((({a_l}) - ((({a_l}) % 4 + 4) % 4)) // 4)"
    a_b = "((t.lt - t.lp) + 3 * t.bp + 2)"
    bt = f"((({a_b}) - ((({a_b}) % 4 + 4) % 4)) // 4)"
    a_s = "((12 * t.x - t.lt) + t.sp[1] + 1)"
    st = f"((({a_s}) - ((({a_s}) % 2 + 2) % 2)) // 2)"
    return f"""
    WITH RECURSIVE m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    mi AS (
      SELECT CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS i, x
      FROM m
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
    init AS (
      SELECT CAST(sum(x) AS BIGINT) AS l0 FROM mi WHERE i <= 12
    ),
    s0 AS (
      SELECT list(CAST(12 * mi.x - init.l0 AS BIGINT) ORDER BY mi.i) AS s
      FROM mi, init WHERE mi.i <= 12
    ),
    f AS (
      SELECT CAST(12 AS BIGINT) AS i, init.l0 AS l, CAST(0 AS BIGINT) AS b,
             s0.s AS s
      FROM init, s0, nn WHERE nn.n >= 24
      UNION ALL
      SELECT t.i,
             CAST(t.lt AS BIGINT) AS l,
             CAST({bt} AS BIGINT) AS b,
             list_append(t.sp[2:], CAST({st} AS BIGINT)) AS s
      FROM (
        SELECT f.i + 1 AS i, mi.x, f.l AS lp, f.b AS bp, f.s AS sp,
               {lt} AS lt
        FROM f JOIN mi ON mi.i = f.i + 1
      ) t
    ),
    folded AS (
      SELECT f.l, f.b, f.s FROM f, nn WHERE f.i = nn.n
    )
    SELECT CAST(g.h AS BIGINT) AS horizon_months,
           fo.l AS level_s12, fo.b AS trend_s12,
           fo.s[CAST(g.h AS INTEGER)] AS seasonal_s12,
           fo.l + CAST(g.h AS BIGINT) * fo.b
             + fo.s[CAST(g.h AS INTEGER)] AS forecast_s12,
           CAST(fo.l + CAST(g.h AS BIGINT) * fo.b
                + fo.s[CAST(g.h AS INTEGER)] AS DOUBLE) / 1200.0
             AS forecast
    FROM folded fo, generate_series(1, 12) g(h)
    ORDER BY horizon_months
    """


@register(
    "orders_holt_winters",
    oracle=_hw_oracle(),
    doc="Additive Holt-Winters (alpha = beta = 1/4, gamma = 1/2, period "
    "12) over the monthly revenue series, emitting the final level, "
    "trend, all 12 seasonal indices and the next year's 12 forecasts — "
    "the seasonal extension of orders_holt_linear (which is blind to "
    "the strong month-of-year cycle orders_seasonal_decompose "
    "established). The ENTIRE recurrence is integer: the series is "
    "lifted to twelfth-cents (X = 12x) so the seasonal-init deviations "
    "12*x_i - sum(x_1..12) are exact; every smoothing update is "
    "round-half-up of a dyadic product via EXPLICIT floor division — "
    "(a - pmod(a, 4)) div 4, needed because BOTH Spark's div and "
    "DuckDB's integer // truncate toward zero on the NEGATIVE "
    "seasonal/trend terms (witness -7 // 4 = -1); subtracting the "
    "positive modulus makes the numerator an exact multiple, where "
    "truncation IS floor. State is (level, trend, rolling 12-vector) "
    "folded with Spark's aggregate HOF; the DuckDB twin replays it as "
    "a RECURSIVE CTE because DuckDB's list_reduce evaluates "
    "struct_pack fields sequentially with the accumulator mutated in "
    "place (a field reading acc.l after l := ... sees the NEW level — "
    "verified numerically, see _hw_oracle). Forecasts F_h = L + h*T + "
    "S_h are exact BIGINTs with one display division each. The fold "
    "input is the ~84-month calendar series — bounded, one "
    "map-combined rollup upstream.",
)
def orders_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    ser = m.agg(
        F.sort_array(F.collect_list(F.struct("month", "x"))).alias("xs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    fin = (
        ser.filter(F.col("n") >= 24)
        .withColumn(
            "l0",
            F.expr(
                "aggregate(slice(xs, 1, 12), CAST(0 AS BIGINT),"
                " (a, e) -> a + e.x)"
            ),
        )
        .withColumn(
            "s0", F.expr("transform(slice(xs, 1, 12), e -> 12 * e.x - l0)")
        )
        .withColumn(
            "st",
            F.expr(
                "aggregate(slice(xs, 13, size(xs) - 12),"
                " named_struct('l', l0, 'b', CAST(0 AS BIGINT), 's', s0),"
                f" {_hw_lambda_spark()})"
            ),
        )
    )
    out = fin.select(
        F.posexplode(F.col("st.s")).alias("pos", "seasonal_s12"),
        F.col("st.l").alias("level_s12"),
        F.col("st.b").alias("trend_s12"),
    ).select(
        (F.col("pos") + 1).cast("bigint").alias("horizon_months"),
        "level_s12",
        "trend_s12",
        "seasonal_s12",
        (
            F.col("level_s12")
            + (F.col("pos") + 1).cast("bigint") * F.col("trend_s12")
            + F.col("seasonal_s12")
        ).alias("forecast_s12"),
        (
            (
                F.col("level_s12")
                + (F.col("pos") + 1).cast("bigint") * F.col("trend_s12")
                + F.col("seasonal_s12")
            ).cast("double")
            / 1200.0
        ).alias("forecast"),
    )
    return out.orderBy("horizon_months")


# ---------------------------------------------------------------------------
# events_kleinberg_burst — two-state Viterbi burst decoder, integer costs
# ---------------------------------------------------------------------------


def _kleinberg_oracle() -> str:
    """DuckDB twin of the integer two-state Viterbi: a RECURSIVE CTE over
    the day index carrying (cost0, cost1, path0, path1) — recursive-CTE
    tuple semantics, per the list_reduce struct-mutation hazard documented
    on orders_holt_winters."""
    return """
    WITH RECURSIVE d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    di AS (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i, day, c
      FROM d
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    params AS (
      SELECT CAST(sum(c) // count(*) AS BIGINT) AS r0,
             CAST((51 * (sum(c) // count(*))) // 50 AS BIGINT) AS r1,
             CAST((sum(c) // count(*)) // 100 + 1 AS BIGINT) AS gam
      FROM d
    ),
    v AS (
      SELECT CAST(1 AS BIGINT) AS i,
             abs(di.c - p.r0) AS c0,
             p.gam + abs(di.c - p.r1) AS c1,
             [CAST(0 AS BIGINT)] AS p0,
             [CAST(1 AS BIGINT)] AS p1
      FROM di, params p, nn WHERE di.i = 1 AND p.r0 >= 1
      UNION ALL
      SELECT t.i,
             least(t.c0, t.c1) + abs(t.c - t.r0) AS c0,
             least(t.c0 + t.gam, t.c1) + abs(t.c - t.r1) AS c1,
             list_append(CASE WHEN t.c0 <= t.c1 THEN t.p0 ELSE t.p1 END,
                         CAST(0 AS BIGINT)) AS p0,
             list_append(CASE WHEN t.c0 + t.gam <= t.c1 THEN t.p0
                         ELSE t.p1 END, CAST(1 AS BIGINT)) AS p1
      FROM (
        SELECT v.i + 1 AS i, di.c, p.r0, p.r1, p.gam, v.c0, v.c1,
               v.p0, v.p1
        FROM v JOIN di ON di.i = v.i + 1, params p
      ) t
    ),
    fin AS (
      SELECT CASE WHEN v.c0 <= v.c1 THEN v.p0 ELSE v.p1 END AS path
      FROM v, nn WHERE v.i = nn.n
    ),
    lab AS (
      SELECT di.i, di.day, di.c,
             f.path[CAST(di.i AS INTEGER)] AS s
      FROM di, fin f
    ),
    isl AS (
      SELECT i, day, c, s,
             i - row_number() OVER (PARTITION BY s ORDER BY i) AS grp
      FROM lab
    )
    SELECT s AS burst_state, min(day) AS start_day, max(day) AS end_day,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(c) AS BIGINT) AS total_events
    FROM isl
    GROUP BY s, grp
    ORDER BY start_day
    """


@register(
    "events_kleinberg_burst",
    oracle=_kleinberg_oracle(),
    doc="Kleinberg-style two-state burst decoder over the daily event "
    "series, solved EXACTLY by Viterbi dynamic programming with integer "
    "costs: state 0 emits at the base rate r0 = total div n_days, state "
    "1 at the 2%-elevated rate (51*r0) div 50 (the "
    "events_burst_detection threshold scale — the synthetic daily rates "
    "concentrate within a few percent of the mean, so a 2x burst state "
    "would never fire); emission cost is the L1 deviation |c_t - r_s| "
    "(the integer-exact stand-in for Kleinberg's -log Poisson "
    "likelihood, which would put libm transcendentals on the hash "
    "surface), and entering the burst state costs gamma = r0 div 100 + "
    "1 while leaving is free, "
    "matching Kleinberg's asymmetric transition. Unlike "
    "events_burst_detection's greedy hysteresis, the DP optimizes the "
    "WHOLE sequence — brief dips inside a burst do not end it unless "
    "the global tradeoff says so. All costs/comparisons are exact "
    "BIGINTs with <= ties preferring state 0, so the decoded path is "
    "unique and engine-independent; the Spark side collects the "
    "calendar-bounded daily series to the driver (the similarity_mmr_"
    "topk contract: a constant-size loop, never fact rows) and runs "
    "the O(n) DP in Python; the DuckDB twin replays it as a recursive "
    "CTE carrying both candidate paths. Output is EVERY decoded "
    "segment (state-0 and state-1 runs) with its event total, so the "
    "result is non-degenerate even when the optimal path never "
    "bursts.",
)
def events_kleinberg_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DateType,
        LongType,
        StructField,
        StructType,
    )

    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy("day")
    )
    rows = daily.collect()  # calendar-bounded daily series (driver DP)
    schema = StructType(
        [
            StructField("burst_state", LongType()),
            StructField("start_day", DateType()),
            StructField("end_day", DateType()),
            StructField("n_days", LongType()),
            StructField("total_events", LongType()),
        ]
    )
    if not rows:
        return spark.createDataFrame([], schema)
    days = [r["day"] for r in rows]
    cs = [int(r["c"]) for r in rows]
    n = len(cs)
    r0 = sum(cs) // n
    if r0 < 1:
        return spark.createDataFrame([], schema)
    r1 = (51 * r0) // 50
    gam = r0 // 100 + 1
    c0, c1 = abs(cs[0] - r0), gam + abs(cs[0] - r1)
    p0, p1 = [0], [1]
    for t in range(1, n):
        n0 = (c0 if c0 <= c1 else c1) + abs(cs[t] - r0)
        np0 = (p0 if c0 <= c1 else p1) + [0]
        n1 = (c0 + gam if c0 + gam <= c1 else c1) + abs(cs[t] - r1)
        np1 = (p0 if c0 + gam <= c1 else p1) + [1]
        c0, c1, p0, p1 = n0, n1, np0, np1
    path = p0 if c0 <= c1 else p1
    out = []
    start = 0
    for t in range(1, n + 1):
        if t == n or path[t] != path[start]:
            out.append(
                (
                    path[start],
                    days[start],
                    days[t - 1],
                    t - start,
                    sum(cs[start:t]),
                )
            )
            start = t
    return spark.createDataFrame(out, schema).orderBy("start_day")


# ---------------------------------------------------------------------------
# events_mosum_changepoint — moving-sum change detection on daily counts
# ---------------------------------------------------------------------------

MOSUM_H = 7  # window width in days (events span ~30 days)


@register(
    "events_mosum_changepoint",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    di AS (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i, day, c
      FROM d
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s1,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM d
    ),
    ms AS (
      SELECT i, day,
             CAST(sum(c) OVER (ORDER BY i
                    ROWS BETWEEN {MOSUM_H - 1} PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS left_sum,
             CAST(sum(c) OVER (ORDER BY i
                    ROWS BETWEEN 1 FOLLOWING AND {MOSUM_H} FOLLOWING)
                  AS BIGINT) AS right_sum,
             CAST(count(c) OVER (ORDER BY i
                    ROWS BETWEEN {MOSUM_H - 1} PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS nl,
             CAST(count(c) OVER (ORDER BY i
                    ROWS BETWEEN 1 FOLLOWING AND {MOSUM_H} FOLLOWING)
                  AS BIGINT) AS nr
      FROM di
    ),
    full_w AS (
      SELECT i, day, right_sum - left_sum AS g
      FROM ms WHERE nl = {MOSUM_H} AND nr = {MOSUM_H}
    ),
    q AS (
      SELECT f.i, f.day, f.g, t.n,
             CAST((CAST(t.n AS HUGEINT) * t.s2
                   - CAST(t.s1 AS HUGEINT) * t.s1)
                  // (CAST(t.n AS HUGEINT) * (t.n - 1)) AS BIGINT) AS var_q
      FROM full_w f CROSS JOIN tot t
    )
    SELECT day AS center_day, g AS mosum_diff,
           abs(g) AS abs_diff,
           CAST(abs(g) AS DOUBLE)
             / sqrt(2.0 * {MOSUM_H} * CAST(var_q AS DOUBLE)) AS mosum_stat
    FROM q
    WHERE var_q > 0
    ORDER BY abs_diff DESC, day ASC
    LIMIT 5
    """,
    doc=f"MOSUM (moving-sum) changepoint scan over the daily event "
    f"series: G(t) = sum of the {MOSUM_H} days after t minus the sum "
    f"of the {MOSUM_H} days ending at t — the localized alternative "
    "to events_cusum_changepoint/events_pettitt_changepoint (CUSUM "
    "accumulates against the GLOBAL mean and smears gradual drift; "
    "the MOSUM difference of adjacent windows pinpoints level shifts "
    "and is the standard multiple-changepoint scan statistic, "
    "Eichinger & Kirch 2018). Window sums and their difference are "
    "exact BIGINTs over the calendar-bounded day-index series "
    "(edge-incomplete windows are excluded by exact window counts on "
    "both engines); the studentizing variance is the usual "
    "floor-divided integer quantization, and the reported statistic "
    "|G|/sqrt(2h*var) is one fixed-order IEEE expression. The top-5 "
    "|G| days ship via TakeOrderedAndProject; the exact-integer "
    "abs_diff decides the order, never the float.",
)
def events_mosum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wi = Window.orderBy("day")
    di = d.select(
        F.row_number().over(wi).cast("bigint").alias("i"), "day", "c"
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        _dsum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    w_left = Window.orderBy("i").rowsBetween(-(MOSUM_H - 1), 0)
    w_right = Window.orderBy("i").rowsBetween(1, MOSUM_H)
    ms = di.select(
        "i",
        "day",
        F.sum("c").over(w_left).cast("bigint").alias("left_sum"),
        F.sum("c").over(w_right).cast("bigint").alias("right_sum"),
        F.count("c").over(w_left).cast("bigint").alias("nl"),
        F.count("c").over(w_right).cast("bigint").alias("nr"),
    )
    full_w = ms.filter(
        (F.col("nl") == MOSUM_H) & (F.col("nr") == MOSUM_H)
    ).select("i", "day", (F.col("right_sum") - F.col("left_sum")).alias("g"))
    q = full_w.crossJoin(F.broadcast(tot)).select(
        "day",
        "g",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * s2"
            " - CAST(s1 AS DECIMAL(38,0)) * s1)"
            " div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"
        ).alias("var_q"),
    )
    return (
        q.filter(F.col("var_q") > 0)
        .select(
            F.col("day").alias("center_day"),
            F.col("g").alias("mosum_diff"),
            F.abs(F.col("g")).alias("abs_diff"),
            (
                F.abs(F.col("g")).cast("double")
                / F.sqrt(2.0 * MOSUM_H * F.col("var_q").cast("double"))
            ).alias("mosum_stat"),
        )
        .orderBy(F.col("abs_diff").desc(), F.col("center_day").asc())
        .limit(5)
    )


# ---------------------------------------------------------------------------
# orders_rescaled_range — Hurst-style R/S analysis per dyadic block scale
# ---------------------------------------------------------------------------

RS_SCALES = [8, 16, 32, 64]  # block lengths in days (dyadic ladder)


@register(
    "orders_rescaled_range",
    oracle=f"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS HUGEINT) // 100000 AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    di AS (
      SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t, x
      FROM d
    ),
    blocks AS (
      SELECT s.scale, di.t // s.scale AS blk, di.t, di.x
      FROM di CROSS JOIN (SELECT unnest({RS_SCALES}) AS scale) s
    ),
    pre AS (
      SELECT scale, blk, t, x,
             CAST(sum(x) OVER (PARTITION BY scale, blk ORDER BY t)
                  AS BIGINT) AS cum,
             CAST(sum(x) OVER (PARTITION BY scale, blk) AS BIGINT) AS s1,
             CAST(sum(CAST(x AS HUGEINT) * x)
                  OVER (PARTITION BY scale, blk) AS BIGINT) AS s2,
             CAST(count(*) OVER (PARTITION BY scale, blk) AS BIGINT) AS m,
             CAST(row_number() OVER (PARTITION BY scale, blk ORDER BY t)
                  AS BIGINT) AS k
      FROM blocks
    ),
    cd AS (
      SELECT scale, blk, m, s1, s2,
             CAST(scale AS BIGINT) * cum - k * s1 AS cdev
      FROM pre WHERE m = scale
    ),
    agg AS (
      SELECT scale, blk,
             greatest(max(cdev), 0) - least(min(cdev), 0) AS r_scaled,
             CAST(min(scale) AS BIGINT) * min(s2)
               - CAST(min(s1) AS BIGINT) * min(s1) AS s2_scaled
      FROM cd
      GROUP BY scale, blk
    )
    SELECT CAST(scale AS BIGINT) AS scale, CAST(blk AS BIGINT) AS block,
           CAST(r_scaled AS BIGINT) AS r_scaled,
           CAST(s2_scaled AS BIGINT) AS s2_scaled,
           CAST(r_scaled AS DOUBLE) / sqrt(CAST(s2_scaled AS DOUBLE))
             AS rs_ratio
    FROM agg
    WHERE s2_scaled > 0
    ORDER BY scale, block
    """,
    doc="Rescaled-range (R/S) analysis of daily revenue at the dyadic "
    f"block scales {RS_SCALES}: per full block of tau days, R = range "
    "of the mean-adjusted partial sums and S = the block's standard "
    "deviation — the Hurst-exponent diagnostic (long-memory series "
    "show R/S growing like tau^H with H > 1/2; the final log-log "
    "slope fit is left to the reader because a logarithm on the hash "
    "surface is forbidden by the determinism contract, and the "
    "per-block ratios are the actual evidence). Everything stays "
    "integer until one division and one sqrt per row: daily revenue "
    "quantizes to kilodollar units (floor-div 1e5 on non-negative "
    "cents) so tau*sum(x^2) sits far below 2^53 at any SF; the "
    "tau-scaled partial-sum deviations tau*cum_k - k*S are exact "
    "BIGINTs whose range includes the zero baseline "
    "(greatest/least against 0), and S^2's numerator tau*sum(x^2) - "
    "S^2 is the usual exact form. All windows are partitioned by "
    "(scale, block) with at most 64 rows per partition; partial "
    "blocks are excluded by exact counts on both engines.",
)
def orders_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " AS DECIMAL(38,0)) div 100000 AS BIGINT)"
        ).alias("x")
    )
    wi = Window.orderBy("day")
    di = d.select(
        (F.row_number().over(wi) - 1).cast("bigint").alias("t"), "x"
    )
    scales = ",".join(str(s) for s in RS_SCALES)
    blocks = di.crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(F.expr(f"array({scales})")).alias("scale")
            )
        )
    ).select(
        F.col("scale").cast("bigint").alias("scale"),
        F.expr("t div scale").alias("blk"),
        "t",
        "x",
    )
    w_ord = Window.partitionBy("scale", "blk").orderBy("t")
    w_all = Window.partitionBy("scale", "blk")
    pre = blocks.select(
        "scale",
        "blk",
        "x",
        F.sum("x")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.sum("x").over(w_all).cast("bigint").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .over(w_all)
        .cast("bigint")
        .alias("s2"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("m"),
        F.row_number().over(w_ord).cast("bigint").alias("k"),
    )
    cd = pre.filter(F.col("m") == F.col("scale")).select(
        "scale",
        "blk",
        "s1",
        "s2",
        (F.col("scale") * F.col("cum") - F.col("k") * F.col("s1")).alias(
            "cdev"
        ),
    )
    agg = cd.groupBy("scale", "blk").agg(
        (
            F.greatest(F.max("cdev"), F.lit(0))
            - F.least(F.min("cdev"), F.lit(0))
        ).alias("r_scaled"),
        (
            F.min("scale").cast("bigint") * F.min("s2")
            - F.min("s1").cast("bigint") * F.min("s1")
        ).alias("s2_scaled"),
    )
    return (
        agg.filter(F.col("s2_scaled") > 0)
        .select(
            "scale",
            F.col("blk").alias("block"),
            F.col("r_scaled").cast("bigint").alias("r_scaled"),
            F.col("s2_scaled").cast("bigint").alias("s2_scaled"),
            (
                F.col("r_scaled").cast("double")
                / F.sqrt(F.col("s2_scaled").cast("double"))
            ).alias("rs_ratio"),
        )
        .orderBy("scale", "block")
    )


# ---------------------------------------------------------------------------
# agg_permutation_test — hash-randomized relabeling test on daily revenue
# ---------------------------------------------------------------------------

PERM_B = 200  # relabelings
PERM_SALT = "permv1_"


@register(
    "agg_permutation_test",
    oracle=f"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x,
             CAST(CASE WHEN (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                            % 7 IN (2, 3) THEN 1 ELSE 0 END AS BIGINT) AS g
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY 1, 3
    ),
    obs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(g) AS BIGINT) AS n1,
             CAST(count(*) - sum(g) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS s0
      FROM d
    ),
    perms AS (
      SELECT b.b, d.x,
             CAST(CASE WHEN substr(md5('{PERM_SALT}'
                    || CAST(d.day AS VARCHAR) || '_'
                    || CAST(b.b AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS BIGINT) AS pg
      FROM d CROSS JOIN (SELECT unnest(generate_series(0, {PERM_B - 1}))
                         AS b) b
    ),
    per_b AS (
      SELECT b, CAST(sum(pg) AS BIGINT) AS n1b,
             CAST(count(*) - sum(pg) AS BIGINT) AS n0b,
             CAST(sum(CASE WHEN pg = 1 THEN x ELSE 0 END) AS BIGINT) AS s1b,
             CAST(sum(CASE WHEN pg = 0 THEN x ELSE 0 END) AS BIGINT) AS s0b
      FROM perms GROUP BY b
    ),
    judged AS (
      SELECT CAST(count(*) AS BIGINT) AS n_valid,
             CAST(sum(CASE WHEN
               abs(CAST(p.s1b AS HUGEINT) * p.n0b
                   - CAST(p.s0b AS HUGEINT) * p.n1b)
                 * (CAST(o.n1 AS HUGEINT) * o.n0)
               >= abs(CAST(o.s1 AS HUGEINT) * o.n0
                      - CAST(o.s0 AS HUGEINT) * o.n1)
                 * (CAST(p.n1b AS HUGEINT) * p.n0b)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
      FROM per_b p CROSS JOIN obs o
      WHERE p.n1b > 0 AND p.n0b > 0
    )
    SELECT o.n_days, o.n1 AS n_weekend, o.n0 AS n_weekday,
           CAST(abs(CAST(o.s1 AS HUGEINT) * o.n0
                    - CAST(o.s0 AS HUGEINT) * o.n1) AS BIGINT) AS a_obs_h,
           j.n_valid, j.n_extreme,
           CAST(1 + j.n_extreme AS DOUBLE) / (1 + j.n_valid) AS p_value
    FROM obs o CROSS JOIN judged j
    WHERE o.n1 > 0 AND o.n0 > 0
    """,
    doc=f"Randomization test for the weekend-vs-weekday daily revenue "
    f"difference: relabel each day {PERM_B} times by a salted-md5 coin "
    "and ask how often the relabeled |mean difference| meets or beats "
    "the observed one — the assumption-free complement to "
    "agg_welch_ttest (no normality, no variance model; the reference "
    "distribution IS the data under exchangeability). The 'as extreme' "
    "comparison never divides: |S1b*n0b - S0b*n1b| * (n1*n0) >= "
    "|A_obs| * (n1b*n0b) cross-multiplies the two rational mean "
    "differences into exact HUGEINT/DECIMAL integers, so every "
    "per-permutation verdict is exact; the coin is the first md5 hex "
    "nibble of salt||day||perm (< '8'), the sample_hash_split idiom "
    "both engines compute byte-identically. Hash-randomized "
    "relabeling means group sizes vary binomially (a Monte-Carlo "
    "randomization test, documented; degenerate one-sided relabelings "
    "are excluded from the denominator and p = (1+extreme)/(1+valid) "
    "is one IEEE division). Work: the calendar-bounded daily relation "
    f"x {PERM_B} labels — volume-independent of the fact table. Note "
    "the day rollup groups by (day, weekday-flag): the flag is "
    "day-functional so the relation IS the daily series.",
)
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    wk = (
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.to_date(F.lit("1970-01-01")),
        )
        % 7
    ).isin(2, 3)
    d = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        wk.cast("bigint").alias("g"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    d = d.persist()  # daily series feeds obs AND the perm fan-out
    obs = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("g").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("g") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("g") == 0, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
    )
    perms = d.crossJoin(
        F.broadcast(
            spark.range(PERM_B).select(F.col("id").alias("b"))
        )
    ).select(
        "b",
        "x",
        (
            F.substring(
                F.md5(
                    F.encode(
                        F.concat(
                            F.lit(PERM_SALT),
                            F.col("day").cast("string"),
                            F.lit("_"),
                            F.col("b").cast("string"),
                        ),
                        "utf-8",
                    )
                ),
                1,
                1,
            )
            < "8"
        )
        .cast("bigint")
        .alias("pg"),
    )
    per_b = perms.groupBy("b").agg(
        F.sum("pg").cast("bigint").alias("n1b"),
        (F.count(F.lit(1)) - F.sum("pg")).cast("bigint").alias("n0b"),
        F.sum(F.when(F.col("pg") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("s1b"),
        F.sum(F.when(F.col("pg") == 0, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("s0b"),
    )
    judged = (
        per_b.crossJoin(F.broadcast(obs))
        .filter((F.col("n1b") > 0) & (F.col("n0b") > 0))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_valid"),
            F.sum(
                F.when(
                    F.expr(
                        "abs(CAST(s1b AS DECIMAL(38,0)) * n0b"
                        " - CAST(s0b AS DECIMAL(38,0)) * n1b)"
                        " * (CAST(n1 AS DECIMAL(38,0)) * n0)"
                        " >= abs(CAST(s1 AS DECIMAL(38,0)) * n0"
                        " - CAST(s0 AS DECIMAL(38,0)) * n1)"
                        " * (CAST(n1b AS DECIMAL(38,0)) * n0b)"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
        )
    )
    out = (
        obs.crossJoin(F.broadcast(judged))
        .filter((F.col("n1") > 0) & (F.col("n0") > 0))
        .select(
            "n_days",
            F.col("n1").alias("n_weekend"),
            F.col("n0").alias("n_weekday"),
            F.expr(
                "CAST(abs(CAST(s1 AS DECIMAL(38,0)) * n0"
                " - CAST(s0 AS DECIMAL(38,0)) * n1) AS BIGINT)"
            ).alias("a_obs_h"),
            "n_valid",
            "n_extreme",
            (
                (1 + F.col("n_extreme")).cast("double")
                / (1 + F.col("n_valid"))
            ).alias("p_value"),
        )
    )
    return release_on_gc(d, out)


# ---------------------------------------------------------------------------
# text_yule_k — Yule's characteristic K vocabulary-richness per language
# ---------------------------------------------------------------------------


@register(
    "text_yule_k",
    oracle="""
    WITH w AS (
      SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t != '')) AS word
      FROM documents
    ),
    cnt AS (
      SELECT lang, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY 1, 2
    ),
    agg AS (
      SELECT lang,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM cnt GROUP BY lang
    )
    SELECT lang, n_tokens, n_types,
           CAST(s2 AS BIGINT) AS sum_c2,
           CAST((s2 - n_tokens) * 10000000 //
                (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
             AS yule_k_milli,
           CAST(CAST((s2 - n_tokens) * 10000000 //
                     (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
                AS DOUBLE) / 1000.0 AS yule_k
    FROM agg
    WHERE n_tokens > 0
    ORDER BY lang
    """,
    doc="Yule's characteristic K per language — the classic "
    "author/corpus-level vocabulary-richness constant (K = 1e4 * "
    "(sum m^2*V(m) - N)/N^2 over the frequency spectrum; repetitive "
    "vocabularies score high, and unlike raw type-token ratios K is "
    "approximately length-invariant, which is why stylometry uses it). "
    "The spectrum moment sum m^2*V(m) IS simply sum over the "
    "vocabulary of c^2, so one (lang, word) rollup plus one "
    "lang-rollup computes everything; s2 - N >= 0 always (c^2 >= c), "
    "so the milli-scaled statistic (s2 - N)*1e7 div N^2 floor-divides "
    "a non-negative HUGEINT/DECIMAL numerator to a sub-2^53 BIGINT "
    "before its one display division. Shuffle volume is "
    "vocabulary-sized (the text.py contract), never corpus-sized.",
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda t: t != ""
            )
        ).alias("word"),
    )
    cnt = w.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = cnt.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        _dsum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    km = F.expr(
        "CAST((s2 - n_tokens) * 10000000"
        " div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)"
    )
    return (
        agg.filter(F.col("n_tokens") > 0)
        .select(
            "lang",
            "n_tokens",
            "n_types",
            F.col("s2").cast("bigint").alias("sum_c2"),
            km.alias("yule_k_milli"),
            (km.cast("double") / 1000.0).alias("yule_k"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# text_readability_ari — ARI + Coleman-Liau character-based readability
# ---------------------------------------------------------------------------


@register(
    "text_readability_ari",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                  AS BIGINT) AS n_chars_an,
             CAST(len(list_filter(string_split(text, ' '), t -> t != ''))
                  AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences
      FROM documents
    )
    SELECT doc_id, lang, n_chars_an, n_words, n_sentences,
           4.71 * (CAST(n_chars_an AS DOUBLE) / n_words)
             + 0.5 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 21.43 AS ari_score,
           0.0588 * (100.0 * n_chars_an / n_words)
             - 0.296 * (100.0 * n_sentences / n_words)
             - 15.8 AS coleman_liau_index
    FROM f
    WHERE n_words > 0
    """,
    doc="Automated Readability Index and Coleman-Liau index per document "
    "— the CHARACTER-based readability pair next to "
    "text_readability_flesch's syllable heuristic (ARI/CLI were "
    "designed for machine scoring precisely because character counts "
    "are exact while syllable counts are guesses; routing on both "
    "families catches documents the vowel heuristic misjudges). "
    "Alphanumeric characters come from one global character-class "
    "regexp_replace (the dialect-safe pattern family), words from the "
    "empty-filtered whitespace split, sentences from terminal "
    "punctuation with the whole-doc fallback. All three counts are "
    "exact BIGINTs; each score is one fixed-order IEEE expression "
    "whose literal coefficients parse identically on both engines. "
    "Pure map-side projection — zero shuffles.",
)
def text_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    f = docs.select(
        "doc_id",
        "lang",
        F.length(F.regexp_replace("text", "[^A-Za-z0-9]", ""))
        .cast("bigint")
        .alias("n_chars_an"),
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .cast("bigint")
        .alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")),
        )
        .cast("bigint")
        .alias("n_sentences"),
    )
    cpw = F.col("n_chars_an").cast("double") / F.col("n_words")
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    return f.filter(F.col("n_words") > 0).select(
        "doc_id",
        "lang",
        "n_chars_an",
        "n_words",
        "n_sentences",
        (4.71 * cpw + 0.5 * wps - 21.43).alias("ari_score"),
        (
            0.0588 * (100.0 * F.col("n_chars_an") / F.col("n_words"))
            - 0.296 * (100.0 * F.col("n_sentences") / F.col("n_words"))
            - 15.8
        ).alias("coleman_liau_index"),
    )


# ---------------------------------------------------------------------------
# text_mtld_diversity — MTLD lexical diversity via a per-document fold
# ---------------------------------------------------------------------------

MTLD_TTR_NUM = 72  # factor completes when 100*types < 72*tokens
MTLD_TOPK = 50


def _mtld_merge_spark() -> str:
    newty = (
        "(CASE WHEN array_contains(acc.ty, w) THEN acc.ty"
        " ELSE array_append(acc.ty, w) END)"
    )
    newtk = "(acc.tk + CAST(1 AS BIGINT))"
    cond = f"(100 * size({newty}) < {MTLD_TTR_NUM} * {newtk})"
    return (
        f"(acc, w) -> IF({cond},"
        " named_struct('f', acc.f + CAST(1 AS BIGINT),"
        " 'ty', CAST(array() AS ARRAY<STRING>), 'tk', CAST(0 AS BIGINT)),"
        f" named_struct('f', acc.f, 'ty', {newty}, 'tk', {newtk}))"
    )


def _mtld_oracle() -> str:
    """DuckDB twin as a RECURSIVE CTE over (doc, token index) — the fold
    state (factors, types-list, tokens) is fully interdependent, exactly
    the shape DuckDB's list_reduce struct-mutation hazard corrupts (see
    orders_holt_winters), so tuple-semantics recursion is mandatory."""
    newty = (
        "(CASE WHEN list_contains(f.ty, t.w) THEN f.ty"
        " ELSE list_append(f.ty, t.w) END)"
    )
    newtk = "(f.tk + 1)"
    cond = f"(100 * len({newty}) < {MTLD_TTR_NUM} * {newtk})"
    return f"""
    WITH RECURSIVE d AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t != '')
               AS words
      FROM documents
    ),
    wc AS (
      SELECT doc_id, CAST(len(words) AS BIGINT) AS nw FROM d WHERE
      len(words) > 0
    ),
    nums AS (
      SELECT unnest(generate_series(1, (SELECT max(len(words)) FROM d)))
        AS i
    ),
    tok AS (
      SELECT d.doc_id, CAST(n.i AS BIGINT) AS i,
             d.words[CAST(n.i AS INTEGER)] AS w
      FROM d JOIN nums n ON n.i <= len(d.words)
    ),
    f AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS fac,
             CAST([] AS VARCHAR[]) AS ty, CAST(0 AS BIGINT) AS tk
      FROM wc
      UNION ALL
      SELECT t.doc_id, t.i,
             CASE WHEN {cond} THEN f.fac + 1 ELSE f.fac END AS fac,
             CASE WHEN {cond} THEN CAST([] AS VARCHAR[])
                  ELSE {newty} END AS ty,
             CASE WHEN {cond} THEN CAST(0 AS BIGINT)
                  ELSE {newtk} END AS tk
      FROM f JOIN tok t ON t.doc_id = f.doc_id AND t.i = f.i + 1
    ),
    fin AS (
      SELECT f.doc_id, w.nw, f.fac,
             CAST(len(f.ty) AS BIGINT) AS ty_end, f.tk AS tk_end
      FROM f JOIN wc w ON w.doc_id = f.doc_id AND f.i = w.nw
    ),
    scored AS (
      SELECT doc_id, nw, fac,
             fac * 1000000
               + CASE WHEN tk_end > 0
                 THEN CAST((tk_end * 100 - ty_end * 100) * 1000000
                      // ((100 - {MTLD_TTR_NUM}) * tk_end) AS BIGINT)
                 ELSE 0 END AS factors_ppm
      FROM fin
    )
    SELECT doc_id, nw AS n_words, fac AS full_factors, factors_ppm,
           CAST(CAST(nw AS HUGEINT) * 1000000000 // factors_ppm AS BIGINT)
             AS mtld_milli,
           CAST(CAST(CAST(nw AS HUGEINT) * 1000000000 // factors_ppm
                     AS BIGINT) AS DOUBLE) / 1000.0 AS mtld
    FROM scored
    WHERE factors_ppm > 0
    ORDER BY mtld_milli DESC, doc_id
    LIMIT {MTLD_TOPK}
    """


@register(
    "text_mtld_diversity",
    oracle=_mtld_oracle(),
    doc="MTLD (Measure of Textual Lexical Diversity, McCarthy & Jarvis "
    "2010) per document: walk the token stream, and each time the "
    "running type-token ratio of the current segment drops below 0.72, "
    "close a 'factor' and reset; MTLD = tokens / factors (with the "
    "standard partial-factor remainder (1 - TTR_end)/(1 - 0.72) — the "
    "forward pass only, documented). Unlike raw TTR (text_stats) or "
    "Yule's K, MTLD is explicitly designed to be text-LENGTH invariant, "
    "which is what a curation mix needs when documents vary 100x in "
    "size. The threshold check is exact integer cross-multiplication "
    "(100*types < 72*tokens — no float TTR anywhere), the partial "
    "factor is ppm-scaled integer division on non-negative numerators "
    "(TTR_end <= 1 always), and mtld_milli = nw*1e9 div factors_ppm "
    "anchors the hash. Spark folds per document with the aggregate HOF "
    "(simultaneous-field semantics); the DuckDB twin is a RECURSIVE "
    "CTE over (doc, token index) because its fold state is exactly the "
    "interdependent-struct shape list_reduce corrupts (the "
    "orders_holt_winters finding). Per-document state never crosses "
    "documents — embarrassingly parallel at any scale; top-"
    f"{MTLD_TOPK} by diversity ship via TakeOrderedAndProject.",
)
def text_mtld_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    d = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda t: t != ""
        ).alias("words"),
    ).filter(F.size("words") > 0)
    folded = d.select(
        "doc_id",
        F.size("words").cast("bigint").alias("nw"),
        F.expr(
            "aggregate(words,"
            " named_struct('f', CAST(0 AS BIGINT),"
            " 'ty', CAST(array() AS ARRAY<STRING>),"
            " 'tk', CAST(0 AS BIGINT)),"
            f" {_mtld_merge_spark()})"
        ).alias("st"),
    )
    scored = folded.select(
        "doc_id",
        "nw",
        F.col("st.f").alias("fac"),
        (
            F.col("st.f") * 1000000
            + F.when(
                F.col("st.tk") > 0,
                F.expr(
                    "CAST((st.tk * 100 - size(st.ty) * 100) * 1000000"
                    f" div ((100 - {MTLD_TTR_NUM}) * st.tk) AS BIGINT)"
                ),
            ).otherwise(F.lit(0))
        ).alias("factors_ppm"),
    )
    mtld_milli = F.expr(
        "CAST(CAST(nw AS DECIMAL(38,0)) * 1000000000 div factors_ppm"
        " AS BIGINT)"
    )
    return (
        scored.filter(F.col("factors_ppm") > 0)
        .select(
            "doc_id",
            F.col("nw").alias("n_words"),
            F.col("fac").alias("full_factors"),
            "factors_ppm",
            mtld_milli.alias("mtld_milli"),
            (mtld_milli.cast("double") / 1000.0).alias("mtld"),
        )
        .orderBy(F.col("mtld_milli").desc(), "doc_id")
        .limit(MTLD_TOPK)
    )


# ---------------------------------------------------------------------------
# graph_katz_centrality — fixed-iteration Katz index over the trade graph
# ---------------------------------------------------------------------------

KATZ_ITERS = 5
KATZ_ALPHA_DEN = 10  # alpha = 1/10 (below 1/lambda_max for this graph)
KATZ_SCALE = 1_000_000


def _katz_oracle() -> str:
    from mongodb_nats_connector_spark.operators.pipeline11 import (
        _UND_EDGES_SQL,
    )

    base = f"""
    WITH {_UND_EDGES_SQL},
    nodes AS (SELECT DISTINCT a AS node FROM adj),
    k0 AS (SELECT node, CAST({KATZ_SCALE} AS BIGINT) AS x FROM nodes)
    """
    step = """,
    k{nxt} AS (
      SELECT n.node,
             CAST({scale} + coalesce(inf.s, 0) // {aden} AS BIGINT) AS x
      FROM nodes n
      LEFT JOIN (
        SELECT adj.a AS node, CAST(sum(p.x) AS BIGINT) AS s
        FROM k{cur} p JOIN adj ON adj.b = p.node
        GROUP BY adj.a
      ) inf ON inf.node = n.node
    )"""
    for i in range(KATZ_ITERS):
        base += step.format(
            nxt=i + 1, cur=i, scale=KATZ_SCALE, aden=KATZ_ALPHA_DEN
        )
    return (
        base
        + f"""
    SELECT nt.n_name AS nation, k.x AS katz_fixed,
           k.x / {KATZ_SCALE}.0 AS katz
    FROM k{KATZ_ITERS} k JOIN nation nt ON nt.n_nationkey = k.node
    ORDER BY katz_fixed DESC, nation
    """
    )


@register(
    "graph_katz_centrality",
    oracle=_katz_oracle(),
    doc=f"Katz centrality ({KATZ_ITERS} fixed Jacobi iterations, alpha = "
    f"1/{KATZ_ALPHA_DEN}) over the undirected nation trade graph: x = 1 "
    "+ alpha*A*x counts ALL walks into a node with geometric damping — "
    "the global-influence complement to pagerank_nations (no "
    "out-degree normalization: a nation trading with well-connected "
    "partners scores high even if those partners trade widely, where "
    "PageRank would dilute the contribution). Fixed-point integer "
    "micro-units make every iteration exact: x' = SCALE + (sum of "
    f"neighbor x) div {KATZ_ALPHA_DEN} on provably positive values, so "
    "integer partial sums commute and the result is partitioning- and "
    "engine-independent; isolated nodes keep the base score via the "
    "left join. The adjacency aggregates once from the fact tables "
    "(the only wide shuffle — pipeline11's shared symmetric-edge "
    "construction) and is nation-bounded, so it is collected once and "
    "the iterations run as the identical exact-integer recurrence on "
    "the driver; the DuckDB twin unrolls the same "
    f"{KATZ_ITERS} steps as CTEs (the pagerank_nations recipe).",
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    # The symmetric adjacency is nation-dimension-bounded (<= 625 pairs —
    # a driver scalar), so after the single corpus-proportional
    # aggregation it is collected ONCE and the KATZ_ITERS Jacobi rounds
    # run in exact Python integer arithmetic on the driver (the
    # pagerank_nations discipline: x' = SCALE + sum(neighbor x) div
    # ALPHA_DEN on non-negative arbitrary-precision ints — `//` == SQL
    # `div`, partial sums commute, bit-identical to the per-round join
    # formulation the oracle unrolls). Formerly each execution replayed
    # 5 broadcast-build inflow subplans over the persisted adjacency.
    pairs = [(r["a"], r["b"]) for r in adj.collect()]
    node_ids = sorted({a for a, _ in pairs})
    x_map = {node: KATZ_SCALE for node in node_ids}
    for _ in range(KATZ_ITERS):
        inflow: dict = {}
        for a, b in pairs:
            inflow[a] = inflow.get(a, 0) + x_map[b]
        x_map = {
            node: KATZ_SCALE + inflow.get(node, 0) // KATZ_ALPHA_DEN
            for node in node_ids
        }
    x_lit = F.create_map(
        *[F.lit(v) for node, xv in x_map.items() for v in (node, xv)]
    )
    nt = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        nt.filter(F.col("n_nationkey").isin(node_ids))
        .select(
            F.col("n_name").alias("nation"),
            x_lit[F.col("n_nationkey")].cast("bigint").alias("katz_fixed"),
            (x_lit[F.col("n_nationkey")].cast("bigint") / float(KATZ_SCALE))
            .alias("katz"),
        )
        .orderBy(F.col("katz_fixed").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# agg_quade_test — Quade's range-weighted blocked rank test
# ---------------------------------------------------------------------------


@register(
    "agg_quade_test",
    oracle="""
    WITH m AS (
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
             CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    full_years AS (SELECT yr FROM m GROUP BY yr HAVING count(*) = 12),
    mm AS (
      SELECT m.yr, m.mo, m.rev_c FROM m JOIN full_years f ON f.yr = m.yr
    ),
    ranked AS (
      SELECT a.yr, a.mo,
             CAST(2 * sum(CASE WHEN b.rev_c < a.rev_c THEN 1 ELSE 0 END)
                  + sum(CASE WHEN b.rev_c = a.rev_c THEN 1 ELSE 0 END)
                  + 1 AS BIGINT) AS mr2
      FROM mm a JOIN mm b ON b.yr = a.yr
      GROUP BY a.yr, a.mo
    ),
    ranges AS (
      SELECT yr, CAST(max(rev_c) - min(rev_c) AS BIGINT) AS rng
      FROM mm GROUP BY yr
    ),
    qrank AS (
      SELECT a.yr,
             CAST(2 * sum(CASE WHEN b.rng < a.rng THEN 1 ELSE 0 END)
                  + sum(CASE WHEN b.rng = a.rng THEN 1 ELSE 0 END)
                  + 1 AS BIGINT) AS q2
      FROM ranges a CROSS JOIN ranges b
      GROUP BY a.yr, a.rng
    ),
    cells AS (
      SELECT r.yr, r.mo,
             CAST(q.q2 * (r.mr2 - 13) AS BIGINT) AS s4
      FROM ranked r JOIN qrank q ON q.yr = r.yr
    ),
    sums AS (
      SELECT CAST(count(DISTINCT yr) AS BIGINT) AS b,
             CAST(sum(CAST(s4 AS HUGEINT) * s4) AS BIGINT) AS a16
      FROM cells
    ),
    tsum AS (
      SELECT mo, CAST(sum(s4) AS BIGINT) AS sj4 FROM cells GROUP BY mo
    ),
    bsum AS (
      SELECT CAST(sum(CAST(sj4 AS HUGEINT) * sj4) AS BIGINT) AS sb16
      FROM tsum
    )
    SELECT s.b AS n_blocks, s.a16 AS total_ss_x16, bs.sb16 AS treat_ss_x16b,
           CAST((s.b - 1) AS DOUBLE) * bs.sb16
             / (CAST(s.b AS DOUBLE) * s.a16 - bs.sb16) AS quade_f
    FROM sums s CROSS JOIN bsum bs
    WHERE s.b > 1 AND CAST(s.b AS DOUBLE) * s.a16 - bs.sb16 > 0
    """,
    doc="Quade test for month-of-year effects across complete calendar "
    "years — the range-WEIGHTED refinement of agg_friedman_test: years "
    "with a wider revenue spread carry proportionally more rank weight "
    "(Friedman treats a flat block and a volatile block identically; "
    "Quade multiplies each within-year centered rank by the year's "
    "range rank, which is the more powerful test for k <= ~5 effects "
    "and a different sensitivity profile for k = 12). All quantities "
    "are exact integers in doubled-rank units: within-year midranks "
    "mr2 from the bounded 12x12 self-join (the agg_page_trend_test "
    "kernel), year-range ranks q2 from the years^2 self-join, centered "
    "scores S*4 = q2*(mr2 - 13) (13 = k+1 with k = 12), and the "
    "Quade F = (b-1)*B/(A - B) ships as ((b-1)*16B) / (b*16A - 16B) "
    "over exact BIGINTs with ONE float division. Everything after the "
    "monthly rollup is year/month-cardinality-sized.",
)
def agg_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    m = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    m = m.persist()  # bounded monthly grid: gate + rank/range consumers
    full_years = (
        m.groupBy("yr")
        .agg(F.count(F.lit(1)).alias("nm"))
        .filter(F.col("nm") == 12)
        .select("yr")
    )
    mm = m.join(F.broadcast(full_years), "yr")
    mm = mm.persist()  # feeds ranked (both sides) AND ranges
    a = mm.select("yr", "mo", F.col("rev_c").alias("ra"))
    bb = mm.select("yr", F.col("rev_c").alias("rb"))
    ranked = (
        a.join(F.broadcast(bb), "yr")
        .groupBy("yr", "mo", "ra")
        .agg(
            (
                2 * F.sum((F.col("rb") < F.col("ra")).cast("bigint"))
                + F.sum((F.col("rb") == F.col("ra")).cast("bigint"))
                + 1
            )
            .cast("bigint")
            .alias("mr2")
        )
    )
    ranges = mm.groupBy("yr").agg(
        (F.max("rev_c") - F.min("rev_c")).cast("bigint").alias("rng")
    )
    ra_ = ranges.select(F.col("yr"), F.col("rng").alias("rga"))
    rb_ = ranges.select(F.col("rng").alias("rgb"))
    qrank = (
        ra_.crossJoin(F.broadcast(rb_))
        .groupBy("yr", "rga")
        .agg(
            (
                2 * F.sum((F.col("rgb") < F.col("rga")).cast("bigint"))
                + F.sum((F.col("rgb") == F.col("rga")).cast("bigint"))
                + 1
            )
            .cast("bigint")
            .alias("q2")
        )
        .select("yr", "q2")
    )
    cells = ranked.join(F.broadcast(qrank), "yr").select(
        "yr",
        "mo",
        (F.col("q2") * (F.col("mr2") - 13)).cast("bigint").alias("s4"),
    )
    cells = cells.persist()  # bounded year x month grid, two consumers
    sums = cells.agg(
        F.countDistinct("yr").cast("bigint").alias("b"),
        _dsum(F.col("s4").cast("decimal(38,0)") * F.col("s4"))
        .cast("bigint")
        .alias("a16"),
    )
    bsum = (
        cells.groupBy("mo")
        .agg(F.sum("s4").cast("bigint").alias("sj4"))
        .agg(
            _dsum(F.col("sj4").cast("decimal(38,0)") * F.col("sj4"))
            .cast("bigint")
            .alias("sb16")
        )
    )
    denom = (
        F.col("b").cast("double") * F.col("a16") - F.col("sb16")
    )
    out = (
        sums.crossJoin(F.broadcast(bsum))
        .filter((F.col("b") > 1) & (denom > 0))
        .select(
            F.col("b").alias("n_blocks"),
            F.col("a16").alias("total_ss_x16"),
            F.col("sb16").alias("treat_ss_x16b"),
            ((F.col("b") - 1).cast("double") * F.col("sb16") / denom).alias(
                "quade_f"
            ),
        )
    )
    return release_on_gc(
        m, release_on_gc(mm, release_on_gc(cells, out))
    )


# ---------------------------------------------------------------------------
# events_allan_variance — Allan variance of the daily event rate
# ---------------------------------------------------------------------------

ALLAN_TAUS = [1, 2, 4]  # block lengths in days


@register(
    "events_allan_variance",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    di AS (
      SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t, c
      FROM d
    ),
    blocks AS (
      SELECT s.tau, di.t // s.tau AS blk, di.c
      FROM di CROSS JOIN (SELECT unnest({ALLAN_TAUS}) AS tau) s
    ),
    bsum AS (
      SELECT tau, blk, CAST(sum(c) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS m
      FROM blocks GROUP BY 1, 2
    ),
    fullb AS (
      SELECT tau, blk, s,
             lead(s) OVER (PARTITION BY tau ORDER BY blk) AS s_next
      FROM bsum WHERE m = tau
    ),
    diffs AS (
      SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CAST(s_next - s AS HUGEINT) * (s_next - s))
                  AS BIGINT) AS ss
      FROM fullb WHERE s_next IS NOT NULL
      GROUP BY tau
    )
    SELECT CAST(tau AS BIGINT) AS tau_days, n_pairs, ss AS sum_sq_diff,
           CAST(ss AS DOUBLE)
             / (2.0 * tau * tau * n_pairs) AS allan_variance,
           sqrt(CAST(ss AS DOUBLE) / (2.0 * tau * tau * n_pairs))
             AS allan_deviation
    FROM diffs
    WHERE n_pairs > 0
    ORDER BY tau_days
    """,
    doc=f"Allan variance of the daily event rate at averaging times "
    f"{ALLAN_TAUS} days: AVAR(tau) = E[(y_next - y)^2]/2 over adjacent "
    "tau-day block means — the stability ladder that separates white "
    "noise (AVAR ~ 1/tau) from drift (AVAR flat or rising), which a "
    "plain variance cannot do (agg_dispersion_test sees only the "
    "pooled spread; the Allan curve localizes WHICH timescale the "
    "instability lives at — the clock-stability tool applied to event "
    "pipelines). Block sums are exact BIGINTs over the calendar-"
    "bounded day-index series (partial tail blocks excluded by exact "
    "counts), adjacent differences come from one lead() per tau "
    "partition, and the sum of squared integer differences stays "
    "HUGEINT/DECIMAL-exact; AVAR = ss/(2*tau^2*n_pairs) and its sqrt "
    "are one fixed-order IEEE expression each (block means never "
    "materialize as floats — the tau^2 lives in the denominator).",
)
def events_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wi = Window.orderBy("day")
    di = d.select(
        (F.row_number().over(wi) - 1).cast("bigint").alias("t"), "c"
    )
    taus = ",".join(str(t) for t in ALLAN_TAUS)
    blocks = di.crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(F.expr(f"array({taus})")).alias("tau")
            )
        )
    ).select(
        F.col("tau").cast("bigint").alias("tau"),
        F.expr("t div tau").alias("blk"),
        "c",
    )
    bsum = blocks.groupBy("tau", "blk").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    w_lead = Window.partitionBy("tau").orderBy("blk")
    fullb = bsum.filter(F.col("m") == F.col("tau")).select(
        "tau", "s", F.lead("s").over(w_lead).alias("s_next")
    )
    diffs = (
        fullb.filter(F.col("s_next").isNotNull())
        .groupBy("tau")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            _dsum(
                (F.col("s_next") - F.col("s")).cast("decimal(38,0)")
                * (F.col("s_next") - F.col("s"))
            )
            .cast("bigint")
            .alias("ss"),
        )
    )
    av = F.col("ss").cast("double") / (
        2.0 * F.col("tau") * F.col("tau") * F.col("n_pairs")
    )
    return (
        diffs.filter(F.col("n_pairs") > 0)
        .select(
            F.col("tau").alias("tau_days"),
            "n_pairs",
            F.col("ss").alias("sum_sq_diff"),
            av.alias("allan_variance"),
            F.sqrt(av).alias("allan_deviation"),
        )
        .orderBy("tau_days")
    )


# ---------------------------------------------------------------------------
# orders_regression_diagnostics — leverage / studentized residuals / Cook's D
# ---------------------------------------------------------------------------


@register(
    "orders_regression_diagnostics",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS HUGEINT) // 100000 AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    mi AS (
      SELECT month, CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS t,
             x
      FROM m
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(CAST(t AS HUGEINT) * t) AS BIGINT) AS stt,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(CAST(t AS HUGEINT) * x) AS BIGINT) AS stx
      FROM mi
    ),
    co AS (
      SELECT n, st, sx,
             CAST(n AS HUGEINT) * stx - CAST(st AS HUGEINT) * sx AS bn,
             CAST(n AS HUGEINT) * stt - CAST(st AS HUGEINT) * st AS bd
      FROM mo WHERE n > 2
    ),
    res AS (
      SELECT mi.month, mi.t, mi.x, c.n, c.st, c.bn, c.bd,
             CAST(c.n AS HUGEINT) * c.bd * mi.x
               - (c.bd * CAST(c.sx AS HUGEINT) - c.bn * c.st
                  + CAST(c.n AS HUGEINT) * c.bn * mi.t) AS r_s,
             c.bd + CAST(c.n * mi.t - c.st AS HUGEINT)
                    * (c.n * mi.t - c.st) AS h_num
      FROM mi CROSS JOIN co c
      WHERE c.bd > 0
    ),
    sse AS (
      SELECT CAST(min(n) AS BIGINT) AS n,
             CAST(sum(r_s * r_s)
                  // (CAST(min(n) AS HUGEINT) * min(bd)
                      * (CAST(min(n) AS HUGEINT) * min(bd))
                      * (min(n) - 2)) AS BIGINT) AS s2_q
      FROM res
    )
    SELECT r.month, r.t AS t_index, r.x AS rev_kilo,
           CAST(r.r_s AS BIGINT) AS resid_scaled,
           CAST(r.h_num AS BIGINT) AS leverage_num,
           CAST(r.h_num AS DOUBLE) / (CAST(r.n AS DOUBLE) * CAST(r.bd AS
             BIGINT)) AS leverage,
           (CAST(r.r_s AS BIGINT) / (CAST(r.n AS DOUBLE) * CAST(r.bd AS
             BIGINT)))
             / (sqrt(CAST(s.s2_q AS DOUBLE))
                * sqrt(1.0 - CAST(r.h_num AS DOUBLE)
                       / (CAST(r.n AS DOUBLE) * CAST(r.bd AS BIGINT))))
             AS studentized_resid,
           ((CAST(r.r_s AS BIGINT) / (CAST(r.n AS DOUBLE) * CAST(r.bd AS
             BIGINT)))
             / (sqrt(CAST(s.s2_q AS DOUBLE))
                * sqrt(1.0 - CAST(r.h_num AS DOUBLE)
                       / (CAST(r.n AS DOUBLE) * CAST(r.bd AS BIGINT)))))
           * ((CAST(r.r_s AS BIGINT) / (CAST(r.n AS DOUBLE) * CAST(r.bd AS
             BIGINT)))
             / (sqrt(CAST(s.s2_q AS DOUBLE))
                * sqrt(1.0 - CAST(r.h_num AS DOUBLE)
                       / (CAST(r.n AS DOUBLE) * CAST(r.bd AS BIGINT)))))
           * (CAST(r.h_num AS DOUBLE) / (CAST(r.n AS DOUBLE) * CAST(r.bd
             AS BIGINT)))
           / (2.0 * (1.0 - CAST(r.h_num AS DOUBLE)
                     / (CAST(r.n AS DOUBLE) * CAST(r.bd AS BIGINT))))
             AS cooks_d
    FROM res r CROSS JOIN sse s
    WHERE s.s2_q > 0
    ORDER BY r.month
    """,
    doc="Per-month OLS diagnostics for the linear revenue trend: raw and "
    "studentized residuals, leverage, and Cook's distance — the "
    "influence analysis that tells you WHICH months drive "
    "agg_regression's fit (a fit statistic without its diagnostics "
    "hides single-point leverage; Cook's D > 4/n is the standard "
    "triage bar). The slope/intercept never materialize: residuals "
    "stay in the EXACT integer frame r_s = n*Bd*x_i - (Bd*Sx - Bn*St "
    "+ n*Bn*t_i) with Bn/Bd the integer normal-equation terms, and "
    "leverage is the exact rational (Bd + (n*t_i - St)^2)/(n*Bd) — "
    "revenue quantizes to kilodollars (floor-div on non-negative "
    "cents) so every scaled square stays inside DECIMAL(38,0) and the "
    "floor-divided MSE s2_q sits far below 2^53. Studentized "
    "residuals and Cook's D are fixed-order IEEE compositions of "
    "those integers (float division handles the signed residual — no "
    "integer div ever touches a negative). One monthly rollup; "
    "everything downstream is month-cardinality-sized.",
)
def orders_regression_diagnostics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " AS DECIMAL(38,0)) div 100000 AS BIGINT)"
        ).alias("x")
    )
    wi = Window.orderBy("month")
    mi = m.select(
        "month", F.row_number().over(wi).cast("bigint").alias("t"), "x"
    )
    mi = mi.persist()  # month-bounded; feeds moments AND residual rows
    mo = mi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        _dsum(F.col("t").cast("decimal(38,0)") * F.col("t"))
        .cast("bigint")
        .alias("stt"),
        F.sum("x").cast("bigint").alias("sx"),
        _dsum(F.col("t").cast("decimal(38,0)") * F.col("x"))
        .cast("bigint")
        .alias("stx"),
    )
    co = mo.filter(F.col("n") > 2).select(
        "n",
        "st",
        "sx",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * stx - CAST(st AS DECIMAL(38,0))"
            " * sx"
        ).alias("bn"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * stt - CAST(st AS DECIMAL(38,0))"
            " * st"
        ).alias("bd"),
    )
    res = mi.crossJoin(F.broadcast(co)).filter(F.col("bd") > 0).select(
        "month",
        "t",
        "x",
        "n",
        "bd",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * bd * x"
            " - (bd * CAST(sx AS DECIMAL(38,0)) - bn * st"
            "    + CAST(n AS DECIMAL(38,0)) * bn * t)"
        ).alias("r_s"),
        F.expr(
            "bd + CAST(n * t - st AS DECIMAL(38,0)) * (n * t - st)"
        ).alias("h_num"),
    )
    res = res.persist()  # month-bounded; feeds SSE AND the output rows
    sse = res.agg(
        F.expr(
            "CAST(sum(r_s * r_s)"
            " div (CAST(min(n) AS DECIMAL(38,0)) * min(bd)"
            "      * (CAST(min(n) AS DECIMAL(38,0)) * min(bd))"
            "      * (min(n) - 2)) AS BIGINT)"
        ).alias("s2_q")
    )
    nbd = F.col("n").cast("double") * F.col("bd").cast("bigint")
    lev = F.col("h_num").cast("double") / nbd
    rd = F.col("r_s").cast("bigint") / nbd
    stud = rd / (
        F.sqrt(F.col("s2_q").cast("double")) * F.sqrt(1.0 - lev)
    )
    out = (
        res.crossJoin(F.broadcast(sse))
        .filter(F.col("s2_q") > 0)
        .select(
            "month",
            F.col("t").alias("t_index"),
            F.col("x").alias("rev_kilo"),
            F.col("r_s").cast("bigint").alias("resid_scaled"),
            F.col("h_num").cast("bigint").alias("leverage_num"),
            lev.alias("leverage"),
            stud.alias("studentized_resid"),
            (stud * stud * lev / (2.0 * (1.0 - lev))).alias("cooks_d"),
        )
        .orderBy("month")
    )
    return release_on_gc(mi, release_on_gc(res, out))


# ---------------------------------------------------------------------------
# similarity_recall_at_k — ANN quality evaluation against the exact baseline
# ---------------------------------------------------------------------------


def _recall_oracle() -> str:
    from mongodb_nats_connector_spark.operators.similarity import (
        _lsh_oracle,
        similarity_topk_bruteforce,
    )
    from mongodb_nats_connector_spark.registry import _REGISTRY

    truth_sql = _REGISTRY["similarity_topk_bruteforce"].oracle
    assert similarity_topk_bruteforce is not None
    return f"""
    WITH truth AS ({truth_sql}),
    approx AS ({_lsh_oracle()}),
    hits AS (
      SELECT t.query_id,
             CAST(count(a.neighbor_id) AS BIGINT) AS n_matched,
             CAST(count(*) AS BIGINT) AS k
      FROM truth t
      LEFT JOIN approx a ON a.query_id = t.query_id
                        AND a.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    )
    SELECT query_id, n_matched, k,
           CAST(n_matched AS DOUBLE) / k AS recall_at_k
    FROM hits
    ORDER BY query_id
    """


@register(
    "similarity_recall_at_k",
    oracle=_recall_oracle(),
    doc="Recall@k of the sign-LSH ANN index against the exact brute-force "
    "baseline, per query — the evaluation loop every ANN deployment "
    "needs CLOSED (similarity_ann_lsh ships an index; this measures "
    "whether its bucket recall actually holds, per query, as data "
    "drifts — the pytest recall assertion promoted to a first-class, "
    "oracle-checked operator). Both sides are the registry's own "
    "constructions: the exact top-k (broadcast query set, JVM dot "
    "products, per-query window) and the LSH top-k (10x8 sign-bit "
    "tables, bucket-join candidates, exact re-scoring), joined on "
    "(query, neighbor); matches are exact integer counts and recall "
    "is one IEEE division per query row. The DuckDB twin composes the "
    "two ops' own oracle texts as CTEs, so the evaluation is "
    "hash-verified end-to-end. Scale path: inherited from the "
    "composed ops — candidates bucket-join, never all-pairs; the "
    "ground-truth side is query-bounded.",
)
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.similarity import (
        similarity_ann_lsh,
        similarity_topk_bruteforce,
    )

    truth = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = similarity_ann_lsh(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hits = (
        truth.join(
            approx,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("an").cast("bigint").alias("n_matched"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )
    return hits.select(
        "query_id",
        "n_matched",
        "k",
        (F.col("n_matched").cast("double") / F.col("k")).alias(
            "recall_at_k"
        ),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# orders_seasonality_strength — F_S / F_T variance-decomposition strengths
# ---------------------------------------------------------------------------

SEAS_L = 1_000_000  # seasonal-mean quantization (per-month counts vary)


def _sgn_div(num: str, den: str, div: str) -> str:
    """Deterministic signed scaled division: sign(num) * (|num| * L div
    den) — floor on the non-negative magnitude, identical on both engines
    (integer division on negatives is engine-divergent)."""
    return (
        f"(CASE WHEN ({num}) < 0 THEN -(abs({num}) * {SEAS_L} {div} ({den}))"
        f" ELSE (({num}) * {SEAS_L} {div} ({den})) END)"
    )


@register(
    "orders_seasonality_strength",
    oracle=f"""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(date_part('month', o_orderdate) AS BIGINT) AS moy,
             CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS HUGEINT) // 100000 AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    mi AS (
      SELECT month, moy, x,
             CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS i
      FROM m
    ),
    tr AS (
      SELECT month, moy, x,
             lag(x, 6) OVER w + 2 * sum(x) OVER (ORDER BY i
               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
               + lead(x, 6) OVER w AS t24,
             CAST(count(*) OVER (ORDER BY i
               ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT) AS wn
      FROM mi
      WINDOW w AS (ORDER BY i)
    ),
    dt AS (
      SELECT month, moy, x, CAST(24 * x - t24 AS BIGINT) AS detr24
      FROM tr WHERE wn = 13 AND t24 IS NOT NULL
    ),
    sm AS (
      SELECT moy, CAST(sum(detr24) AS BIGINT) AS s_num,
             CAST(count(*) AS BIGINT) AS d
      FROM dt GROUP BY moy
    ),
    su AS (
      SELECT moy, CAST({_sgn_div("s_num", "d", "//")} AS HUGEINT) AS s_u
      FROM sm
    ),
    rows_u AS (
      SELECT CAST(dt.detr24 AS HUGEINT) * {SEAS_L} AS detr_u,
             CAST(dt.x AS HUGEINT) * 24 * {SEAS_L} - su.s_u AS deseas_u,
             CAST(dt.detr24 AS HUGEINT) * {SEAS_L} - su.s_u AS resid_u
      FROM dt JOIN su ON su.moy = dt.moy
    ),
    ss AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(resid_u) AS sr, sum(resid_u * resid_u) AS srr,
             sum(detr_u) AS sd, sum(detr_u * detr_u) AS sdd,
             sum(deseas_u) AS se, sum(deseas_u * deseas_u) AS see
      FROM rows_u
    ),
    f AS (
      SELECT CAST(n AS BIGINT) AS n_months,
             CAST(greatest(CAST(0 AS HUGEINT), 1000000000
               - (n * srr - sr * sr) * 1000000000
                 // (n * sdd - sd * sd)) AS BIGINT) AS fs_ppb,
             CAST(greatest(CAST(0 AS HUGEINT), 1000000000
               - (n * srr - sr * sr) * 1000000000
                 // (n * see - se * se)) AS BIGINT) AS ft_ppb
      FROM ss
      WHERE n > 1 AND n * sdd - sd * sd > 0 AND n * see - se * se > 0
    )
    SELECT n_months, fs_ppb, ft_ppb,
           fs_ppb / 1000000000.0 AS f_seasonal,
           ft_ppb / 1000000000.0 AS f_trend
    FROM f
    """,
    doc="Seasonal and trend STRENGTH of the monthly revenue series via "
    "the STL variance decomposition (Hyndman's FPP measures: F_S = "
    "max(0, 1 - Var(R)/Var(S+R)), F_T = max(0, 1 - Var(R)/Var(T+R))) "
    "— the single-number summary that says HOW seasonal/trending the "
    "series is, turning orders_seasonal_decompose's component table "
    "into routable features (orders_holt_winters assumes strong "
    "seasonality; this measures it). Components stay integer: trend "
    "is the classical 2x12 MA as the exact 24x combination lag6 + "
    "2*sum(+-5) + lead6 over the month index (full 13-windows only), "
    "seasonal means are the signed-magnitude quantized s_num*1e6 div "
    "count per month-of-year (counts vary 5-7, so exact rational rows "
    "would carry mixed denominators; the 1e-6 relative quantization "
    "is deterministic on both engines), and revenue quantizes to "
    "kilodollars so every squared sum fits DECIMAL(38,0). Both "
    "strengths are RATIOS of exact centered sums-of-squares, so no "
    "wide integer ever casts to double: fs/ft ship as 1e9 - SSR*1e9 "
    "div SS (floor on non-negative numerators, greatest(0, .) on "
    "exact integers) with one display division each. One monthly "
    "rollup; everything downstream is month-cardinality-sized.",
)
def orders_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.month("o_orderdate").cast("bigint").alias("moy"),
    ).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " AS DECIMAL(38,0)) div 100000 AS BIGINT)"
        ).alias("x")
    )
    wi = Window.orderBy("month")
    mi = m.select(
        "month",
        "moy",
        "x",
        F.row_number().over(wi).cast("bigint").alias("i"),
    )
    w_ord = Window.orderBy("i")
    w_mid = w_ord.rowsBetween(-5, 5)
    w_full = w_ord.rowsBetween(-6, 6)
    tr = mi.select(
        "month",
        "moy",
        "x",
        (
            F.lag("x", 6).over(w_ord)
            + 2 * F.sum("x").over(w_mid)
            + F.lead("x", 6).over(w_ord)
        ).alias("t24"),
        F.count(F.lit(1)).over(w_full).cast("bigint").alias("wn"),
    )
    dt = tr.filter((F.col("wn") == 13) & F.col("t24").isNotNull()).select(
        "moy", "x", (24 * F.col("x") - F.col("t24")).cast("bigint").alias(
            "detr24"
        )
    )
    dt = dt.persist()  # month-bounded; feeds seasonal means AND rows
    sm = dt.groupBy("moy").agg(
        F.sum("detr24").cast("bigint").alias("s_num"),
        F.count(F.lit(1)).cast("bigint").alias("d"),
    )
    su = sm.select(
        "moy",
        F.expr(
            f"CAST({_sgn_div('s_num', 'd', 'div')} AS DECIMAL(38,0))"
        ).alias("s_u"),
    )
    rows_u = dt.join(F.broadcast(su), "moy").select(
        (F.col("detr24").cast("decimal(38,0)") * SEAS_L).alias("detr_u"),
        (
            F.col("x").cast("decimal(38,0)") * 24 * SEAS_L - F.col("s_u")
        ).alias("deseas_u"),
        (
            F.col("detr24").cast("decimal(38,0)") * SEAS_L - F.col("s_u")
        ).alias("resid_u"),
    )
    ss = rows_u.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("resid_u").alias("sr"),
        F.sum(F.col("resid_u") * F.col("resid_u")).alias("srr"),
        F.sum("detr_u").alias("sd"),
        F.sum(F.col("detr_u") * F.col("detr_u")).alias("sdd"),
        F.sum("deseas_u").alias("se"),
        F.sum(F.col("deseas_u") * F.col("deseas_u")).alias("see"),
    )
    f = ss.filter(
        (F.col("n") > 1)
        & (F.expr("n * sdd - sd * sd") > 0)
        & (F.expr("n * see - se * se") > 0)
    ).select(
        F.col("n").cast("bigint").alias("n_months"),
        F.expr(
            "CAST(greatest(CAST(0 AS DECIMAL(38,0)), 1000000000"
            " - (n * srr - sr * sr) * 1000000000"
            "   div (n * sdd - sd * sd)) AS BIGINT)"
        ).alias("fs_ppb"),
        F.expr(
            "CAST(greatest(CAST(0 AS DECIMAL(38,0)), 1000000000"
            " - (n * srr - sr * sr) * 1000000000"
            "   div (n * see - se * se)) AS BIGINT)"
        ).alias("ft_ppb"),
    )
    out = f.select(
        "n_months",
        "fs_ppb",
        "ft_ppb",
        (F.col("fs_ppb") / 1000000000.0).alias("f_seasonal"),
        (F.col("ft_ppb") / 1000000000.0).alias("f_trend"),
    )
    return release_on_gc(dt, out)


# ---------------------------------------------------------------------------
# text_gunning_fog — complex-word readability per document
# ---------------------------------------------------------------------------


@register(
    "text_gunning_fog",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), t -> t != ''))
                  AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences,
             CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> len(regexp_extract_all(w, '[aeiouy]+')) >= 3))
                  AS BIGINT) AS n_complex
      FROM documents
    )
    SELECT doc_id, lang, n_words, n_sentences, n_complex,
           0.4 * (CAST(n_words AS DOUBLE) / n_sentences
                  + 100.0 * n_complex / n_words) AS fog_index
    FROM f
    WHERE n_words > 0
    """,
    doc="Gunning fog index per document: 0.4*(words/sentence + 100*"
    "complex/words) with 'complex' = three or more vowel groups (the "
    "same dialect-safe [aeiouy]+ heuristic as text_readability_flesch, "
    "applied per word) — the third readability family beside Flesch's "
    "per-syllable rate and ARI/CLI's character counts: fog keys on the "
    "TAIL of the syllable distribution (share of polysyllabic words), "
    "so it separates jargon-dense prose from merely long-winded prose "
    "the averages conflate. Word/sentence/complex counts are exact "
    "integers from one map-side projection (the per-word filter is a "
    "JVM higher-order function over the whitespace split — no UDF); "
    "the index is one fixed-order IEEE expression. Zero shuffles.",
)
def text_gunning_fog(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    f = docs.select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .cast("bigint")
        .alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")),
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.size(
            F.expr(
                "filter(split(lower(text), ' '),"
                " w -> size(regexp_extract_all(w, '[aeiouy]+', 0)) >= 3)"
            )
        )
        .cast("bigint")
        .alias("n_complex"),
    )
    return f.filter(F.col("n_words") > 0).select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_complex",
        (
            0.4
            * (
                F.col("n_words").cast("double") / F.col("n_sentences")
                + 100.0 * F.col("n_complex") / F.col("n_words")
            )
        ).alias("fog_index"),
    )


# ---------------------------------------------------------------------------
# agg_cochran_armitage — trend test for a binary outcome across dose groups
# ---------------------------------------------------------------------------


@register(
    "agg_cochran_armitage",
    oracle="""
    WITH b AS (
      SELECT least(CAST(4 AS BIGINT),
                   (CAST(round(l_quantity) AS BIGINT) - 1) // 10) AS g,
             CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
               AS y
      FROM lineitem
    ),
    cells AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(y) AS BIGINT) AS r_g
      FROM b GROUP BY 1
    ),
    m AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(r_g) AS BIGINT) AS r,
             CAST(sum(CAST(g AS HUGEINT) * n_g) AS BIGINT) AS swn,
             CAST(sum(CAST(g AS HUGEINT) * r_g) AS BIGINT) AS swr,
             CAST(sum(CAST(g AS HUGEINT) * g * n_g) AS BIGINT) AS sw2n
      FROM cells
    ),
    q AS (
      SELECT n, r,
             CAST(n AS HUGEINT) * swr - CAST(r AS HUGEINT) * swn AS t_num,
             CAST(n AS HUGEINT) * sw2n - CAST(swn AS HUGEINT) * swn
               AS var_w
      FROM m WHERE n > 1 AND r > 0 AND r < n
    )
    SELECT n AS n_total, r AS n_pos,
           CAST(t_num AS BIGINT) AS trend_num,
           CAST(var_w AS BIGINT) AS weight_var_num,
           (CASE WHEN t_num < 0 THEN -1.0 ELSE 1.0 END)
             * (CAST((abs(t_num) // 67108864) AS DOUBLE) * 67108864.0
                + CAST(abs(t_num) % 67108864 AS DOUBLE))
             / sqrt(CAST(r AS DOUBLE) * (n - r) / n
                    * (CAST((var_w // 67108864) AS DOUBLE) * 67108864.0
                       + CAST(var_w % 67108864 AS DOUBLE)))
             AS ca_z
    FROM q
    WHERE var_w > 0
    """,
    doc="Cochran-Armitage trend test: does the probability of a RETURN "
    "rise monotonically across the five quantity dose groups (1-10, "
    "11-20, ..., 41+)? — the 2xk companion of agg_jonckheere_terpstra "
    "for a BINARY outcome (chi-square asks 'any difference', CA asks "
    "'a linear-in-dose trend', the standard epidemiology/AB-testing "
    "form). With integer dose scores w = 0..4, the statistic T = "
    "N*sum(w*r_g) - R*sum(w*n_g) and the score variance piece "
    "N*sum(w^2*n_g) - (sum(w*n_g))^2 are exact HUGEINT/DECIMAL "
    "integers (both emitted as BIGINT anchors); z = T / sqrt(R(N-R)/N "
    "* var_w) enters the float frame through the hi*2^26 + lo split "
    "on BOTH wide integers (the agg_brunner_munzel recipe — "
    "bit-identical to a plain cast below 2^53, correctly rounded "
    "above, never engine-divergent), with the signed numerator "
    "handled by an explicit sign factor. One map-combined 5-cell "
    "rollup; nothing row-proportional.",
)
def agg_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.least(
            F.lit(4).cast("bigint"),
            F.expr("(CAST(round(l_quantity) AS BIGINT) - 1) div 10"),
        ).alias("g"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    cells = b.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("y").cast("bigint").alias("r_g"),
    )
    m = cells.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("r_g").cast("bigint").alias("r"),
        _dsum(F.col("g") * F.col("n_g")).cast("bigint").alias("swn"),
        _dsum(F.col("g") * F.col("r_g")).cast("bigint").alias("swr"),
        _dsum(F.col("g").cast("decimal(38,0)") * F.col("g") * F.col("n_g"))
        .cast("bigint")
        .alias("sw2n"),
    )
    q = m.filter(
        (F.col("n") > 1) & (F.col("r") > 0) & (F.col("r") < F.col("n"))
    ).select(
        "n",
        "r",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * swr - CAST(r AS DECIMAL(38,0))"
            " * swn"
        ).alias("t_num"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * sw2n - CAST(swn AS DECIMAL(38,0))"
            " * swn"
        ).alias("var_w"),
    )
    hi_lo_t = F.expr(
        "CAST((abs(t_num) div 67108864) AS DOUBLE) * 67108864.0"
        " + CAST(abs(t_num) % 67108864 AS DOUBLE)"
    )
    hi_lo_v = F.expr(
        "CAST((var_w div 67108864) AS DOUBLE) * 67108864.0"
        " + CAST(var_w % 67108864 AS DOUBLE)"
    )
    return q.filter(F.col("var_w") > 0).select(
        F.col("n").alias("n_total"),
        F.col("r").alias("n_pos"),
        F.col("t_num").cast("bigint").alias("trend_num"),
        F.col("var_w").cast("bigint").alias("weight_var_num"),
        (
            F.when(F.col("t_num") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
            * hi_lo_t
            / F.sqrt(
                F.col("r").cast("double")
                * (F.col("n") - F.col("r"))
                / F.col("n")
                * hi_lo_v
            )
        ).alias("ca_z"),
    )


# ---------------------------------------------------------------------------
# events_hourly_profile — hour-of-day x day-of-week activity heatmap
# ---------------------------------------------------------------------------


@register(
    "events_hourly_profile",
    oracle="""
    WITH e AS (
      SELECT CAST(date_part('hour', ts) AS BIGINT) AS hod,
             CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS BIGINT)
               AS dow
      FROM events WHERE ts IS NOT NULL
    ),
    cells AS (
      SELECT hod, dow, CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells),
    mx AS (SELECT CAST(max(n) AS BIGINT) AS peak FROM cells)
    SELECT c.hod AS hour_of_day, c.dow AS day_of_week_thu0, c.n AS n_events,
           CAST(CAST(c.n AS HUGEINT) * 1000000000 // t.total AS BIGINT)
             AS share_ppb,
           c.n = m.peak AS is_peak_cell,
           CAST(CAST(c.n AS HUGEINT) * 1000000 // m.peak AS BIGINT)
             AS rel_intensity_ppm
    FROM cells c CROSS JOIN tot t CROSS JOIN mx m
    ORDER BY hour_of_day, day_of_week_thu0
    """,
    doc="Hour-of-day x day-of-week activity heatmap over the event "
    "stream: per-cell counts, corpus share, and intensity relative to "
    "the peak cell — the capacity-planning / anomaly-baseline profile "
    "every event pipeline dashboards (events_daily_anomaly needs "
    "exactly this expectation surface to de-seasonalize intra-week "
    "cycles). Weekday uses the epoch-day mod-7 idiom (0 = Thursday) "
    "both engines compute identically on DATEs; counts, ppb shares "
    "and ppm intensities are exact integers (non-negative floor "
    "divisions); the peak flag compares exact counts. One "
    "map-combined rollup onto the bounded 24x7 grid; the scalar "
    "total/peak broadcast. Trivially scale-free.",
)
def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    e = ev.select(
        F.hour("ts").cast("bigint").alias("hod"),
        (
            F.datediff(
                F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01"))
            )
            % 7
        )
        .cast("bigint")
        .alias("dow"),
    )
    cells = e.groupBy("hod", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cells = cells.persist()  # 24x7-bounded grid; feeds total, peak, rows
    tot = cells.agg(F.sum("n").cast("bigint").alias("total"))
    mx = cells.agg(F.max("n").cast("bigint").alias("peak"))
    out = (
        cells.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("hod").alias("hour_of_day"),
            F.col("dow").alias("day_of_week_thu0"),
            F.col("n").alias("n_events"),
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * 1000000000 div total"
                " AS BIGINT)"
            ).alias("share_ppb"),
            (F.col("n") == F.col("peak")).alias("is_peak_cell"),
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div peak"
                " AS BIGINT)"
            ).alias("rel_intensity_ppm"),
        )
        .orderBy("hour_of_day", "day_of_week_thu0")
    )
    return release_on_gc(cells, out)


# ---------------------------------------------------------------------------
# orders_median_polish — Tukey's two-way robust decomposition
# ---------------------------------------------------------------------------


def _med2_duck(col: str) -> str:
    """Median x2-then-halved over a DuckDB list aggregate: sum of the two
    middles of the ordered list, divided by 2 — exact (the sum of two
    same-parity-scaled integers is even by the x16 pre-scaling), so sign
    never meets a flooring division."""
    return (
        f"(list({col} ORDER BY {col})"
        f"   [(count(*) + 1) // 2]"
        f" + list({col} ORDER BY {col})"
        f"   [count(*) // 2 + 1]) // 2"
    )


@register(
    "orders_median_polish",
    oracle=f"""
    WITH m AS (
      SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
             CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
             CAST(16 * sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS v
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    full_years AS (SELECT yr FROM m GROUP BY yr HAVING count(*) = 12),
    g0 AS (SELECT m.yr, m.mo, m.v FROM m JOIN full_years f ON f.yr = m.yr),
    r1 AS (SELECT yr, CAST({_med2_duck("v")} AS BIGINT) AS rm FROM g0
           GROUP BY yr),
    g1 AS (SELECT g.yr, g.mo, g.v - r.rm AS v, r.rm AS re
           FROM g0 g JOIN r1 r ON r.yr = g.yr),
    c1 AS (SELECT mo, CAST({_med2_duck("v")} AS BIGINT) AS cm FROM g1
           GROUP BY mo),
    g2 AS (SELECT g.yr, g.mo, g.v - c.cm AS v, g.re, c.cm AS ce
           FROM g1 g JOIN c1 c ON c.mo = g.mo),
    r2 AS (SELECT yr, CAST({_med2_duck("v")} AS BIGINT) AS rm FROM g2
           GROUP BY yr),
    g3 AS (SELECT g.yr, g.mo, g.v - r.rm AS v, g.re + r.rm AS re, g.ce
           FROM g2 g JOIN r2 r ON r.yr = g.yr),
    c2 AS (SELECT mo, CAST({_med2_duck("v")} AS BIGINT) AS cm FROM g3
           GROUP BY mo),
    g4 AS (SELECT g.yr, g.mo, g.v - c.cm AS v, g.re, g.ce + c.cm AS ce
           FROM g3 g JOIN c2 c ON c.mo = g.mo)
    SELECT yr AS year, mo AS month,
           CAST(v AS BIGINT) AS resid_x16,
           CAST(re AS BIGINT) AS year_effect_x16,
           CAST(ce AS BIGINT) AS month_effect_x16,
           CAST(v AS DOUBLE) / 1600.0 AS residual,
           CAST(re AS DOUBLE) / 1600.0 AS year_effect,
           CAST(ce AS DOUBLE) / 1600.0 AS month_effect
    FROM g4
    ORDER BY year, month
    """,
    doc="Tukey's median polish of the year x month revenue grid (two "
    "full row/column cycles): robust additive decomposition value = "
    "year effect + month effect + residual, where effects are MEDIANS "
    "instead of means — outlier months cannot drag the seasonal "
    "profile the way orders_seasonal_decompose's moving averages can "
    "(this is THE classical robust two-way EDA tool, and its residual "
    "grid is the month-level anomaly surface). Everything is exact "
    "integer: cents pre-scale by 16 so each of the four median "
    "subtractions (median = sum of the two order-statistic middles "
    "div 2) divides an EVEN number exactly — sign never meets a "
    "flooring division, and both engines select identical middles "
    "from identically-sorted integer lists. Partial years are "
    "excluded by the complete-12-months gate; the grid is "
    "calendar-bounded (<= ~84 cells), so it is collected once and the "
    "polish cycles run as the identical exact-integer arithmetic on "
    "the driver. The 2-cycle stopping rule (not "
    "iterate-to-convergence) is part of the operator contract and "
    "replayed identically by the oracle.",
)
def orders_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    m = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        (16 * F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")))
        .cast("bigint")
        .alias("v")
    )
    # The year x month grid is calendar-bounded (<= ~84 cells — a driver
    # scalar), so after the single corpus-proportional aggregation it is
    # collected ONCE and both polish cycles run in exact Python integer
    # arithmetic on the driver (the pagerank_nations discipline). Every
    # median subtraction divides a provably EVEN number (the x16
    # pre-scale halves once per step), so Python's `//` — like SQL's
    # `div` — performs an exact division with zero remainder: no
    # floor-vs-truncate divergence is reachable, and the order-statistic
    # middles come from the same sorted integer lists. Formerly the four
    # polish steps were four serial broadcast-agg subplans over the
    # persisted grid inside every execution.
    import pandas as pd

    cells = {(r["yr"], r["mo"]): r["v"] for r in m.collect()}
    nmonths: dict = {}
    for yr, _mo in cells:
        nmonths[yr] = nmonths.get(yr, 0) + 1
    state = {
        k: [v, 0, 0]  # v, re, ce
        for k, v in cells.items()
        if nmonths[k[0]] == 12
    }

    def _med2(vals: list) -> int:
        s = sorted(vals)
        n = len(s)
        return (s[(n + 1) // 2 - 1] + s[n // 2]) // 2

    for key_idx, eff_idx in ((0, 1), (1, 2), (0, 1), (1, 2)):
        groups: dict = {}
        for k, st in state.items():
            groups.setdefault(k[key_idx], []).append(st[0])
        med = {gk: _med2(vs) for gk, vs in groups.items()}
        for k, st in state.items():
            mv = med[k[key_idx]]
            st[0] -= mv
            st[eff_idx] += mv
    rows = sorted(
        (yr, mo, st[0], st[1], st[2])
        for (yr, mo), st in state.items()
    )
    pdf = pd.DataFrame(
        rows, columns=["year", "month", "resid_x16",
                       "year_effect_x16", "month_effect_x16"],
        dtype="int64",
    )
    sdf = spark.createDataFrame(
        pdf,
        schema="year bigint, month bigint, resid_x16 bigint, "
               "year_effect_x16 bigint, month_effect_x16 bigint",
    )
    return sdf.select(
        "year",
        "month",
        "resid_x16",
        "year_effect_x16",
        "month_effect_x16",
        (F.col("resid_x16").cast("double") / 1600.0).alias("residual"),
        (F.col("year_effect_x16").cast("double") / 1600.0)
        .alias("year_effect"),
        (F.col("month_effect_x16").cast("double") / 1600.0)
        .alias("month_effect"),
    ).orderBy("year", "month")
