"""Round-11 spare-slot fill: combined location-scale rank tests, robust
location/dispersion estimators from exact order statistics, intermittent-
demand forecasting (SBA), forecast-monitoring tracking signals, arrival
burstiness, and segmented lexical diversity.

This module imports LAST in ``registry._load_all()`` (after pipeline14) so
its brand-new queries rank behind every already-pending query and fill the
remaining driver-window slots without displacing earlier edits.

Reference provenance: like pipeline7-14, none of these operators exist in
the reference's Go core (a MongoDB change-stream -> NATS connector,
/root/reference/internal/server/connector.go) — they extend the engine-side
analytics surface documented in SURVEY.md §2.3/§2.4 downstream of the
connector's change streams.

Cross-engine determinism rules (the pipeline11-14 discipline):
- exact integers end-to-end on the hash surface; doubled midranks over
  value DOMAINS (never row-proportional rank windows);
- any total that can cross 2^53 stays DECIMAL(38,0)/HUGEINT and
  floor-divides (`div` / ``//``) to a sub-2^53 integer before the ONE
  double conversion;
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
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# ---------------------------------------------------------------------------
# agg_mood_scale — Mood's squared-rank scale test (domain grid)
# ---------------------------------------------------------------------------


@register(
    "agg_mood_scale",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS n1,
             CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY v
    ),
    pos AS (
      SELECT v, n1, c,
             coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS lo0,
             (SELECT sum(c) FROM cells) AS nn
      FROM cells
    ),
    terms AS (
      SELECT n1, c, nn, (2 * lo0 + c - nn) AS dev2
      FROM pos
    ),
    acc AS (
      SELECT CAST(min(nn) AS BIGINT) AS nn,
             CAST(sum(n1) AS BIGINT) AS n_t,
             CAST(sum(CAST(n1 AS HUGEINT) * dev2 * dev2) AS HUGEINT) AS t4,
             CAST(sum(CAST(c AS HUGEINT) * dev2 * dev2) AS HUGEINT) AS su,
             CAST(sum(CAST(c AS HUGEINT) * dev2 * dev2 * dev2 * dev2)
                  AS HUGEINT) AS su2
      FROM terms
    ),
    d AS (
      SELECT nn, n_t, t4, su,
             n_t * (nn - n_t) AS nm,
             CAST(t4 // 1000000000 AS BIGINT) AS m4_giga,
             CAST(t4 % 1000000000 AS BIGINT) AS m4_gfrac,
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
      SELECT nn, n_t, nm, m4_giga, m4_gfrac, mg, mu2,
             greatest(CAST((nn * CAST(su2q AS HUGEINT)
                            - CAST(suq AS HUGEINT) * suq) // (nn - 1)
                           AS BIGINT), 1) AS a3
      FROM d
    )
    SELECT n_t AS n_treat,
           CAST(nn - n_t AS BIGINT) AS n_control,
           m4_giga, m4_gfrac,
           ((CAST(m4_giga AS DOUBLE) * 1000000000.0
             + CAST(m4_gfrac AS DOUBLE)
             - (CAST(mg AS DOUBLE) * 1000000000.0 + CAST(mu2 AS DOUBLE)))
            * CAST(nn AS DOUBLE))
           / (1073741824.0
              * sqrt(CAST(nm AS DOUBLE) * CAST(a3 AS DOUBLE))) AS z_score
    FROM f
    """,
    doc="Mood's squared-rank scale test between returned (l_returnflag = "
    "'R') and kept line quantities: score each pooled observation "
    "(midrank - (N+1)/2)^2 and compare the treatment group's score sum "
    "to its sampling null — the square-deviation sibling of "
    "agg_siegel_tukey / agg_ansari_bradley (those count in from the "
    "extremes; Mood squares the distance from the rank center, so it "
    "weights tails quadratically). The scores never materialize per "
    "row: over the ~50-value quantity domain, 4x the squared centered "
    "midrank is the INTEGER (2*lo0 + c - N)^2 per tie block (doubled-"
    "midrank identity 2m = 2*lo0 + c + 1), so the statistic, the exact "
    "conditional mean n*S1/N, and the conditional variance "
    "n(N-n)(N*S2 - S1^2)/(N^2(N-1)) (permutation moments of a linear "
    "rank statistic, brute-force-pinned against full enumeration in "
    "tests/test_round15.py) are pure integer aggregates. The >2^53 "
    "pieces floor-divide to sub-2^53 integers (su by 2^30, su2 by 2^60, "
    "units+frac splits for the statistic and its mean) before the one "
    "fixed-shape double expression for z — bit-identical in both "
    "engines. One domain-sized shuffle; the two unpartitioned windows "
    "run over the ~50-row grid. SCALE BOUND (explicit, loud): the "
    "quartic su2 = sum(c*dev2^4) ~ N^5/5 crosses DECIMAL(38,0)/HUGEINT "
    "near N ~ 3e7 rows (sf5) — past that BOTH engines fail loudly "
    "(Spark ANSI raises, DuckDB overflows), never silently; the dial "
    "is the three reduction literals (2^30/2^60/1e9), bumped in "
    "lockstep for a larger target SF, where the induced relative error "
    "2^k/N^2 SHRINKS as N grows — no fixed constant spans sf0.01 to "
    "sf100000 for a quartic, so the literals pin the deployment's SF "
    "band.",
)
def agg_mood_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("n1"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    terms = cells.select(
        "n1",
        "c",
        F.sum("c").over(w_all).alias("nn"),
        (
            2 * F.coalesce(F.sum("c").over(w_cum), F.lit(0))
            + F.col("c")
            - F.sum("c").over(w_all)
        ).alias("dev2"),
    )
    acc = terms.agg(
        F.min("nn").cast("bigint").alias("nn"),
        F.sum("n1").cast("bigint").alias("n_t"),
        _dsum(F.expr("CAST(n1 AS DECIMAL(38,0)) * dev2 * dev2")).alias("t4"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * dev2 * dev2")).alias("su"),
        _dsum(
            F.expr("CAST(c AS DECIMAL(38,0)) * dev2 * dev2 * dev2 * dev2")
        ).alias("su2"),
    )
    d = acc.select(
        "nn",
        "n_t",
        (F.col("n_t") * (F.col("nn") - F.col("n_t"))).alias("nm"),
        F.expr("CAST(t4 div 1000000000 AS BIGINT)").alias("m4_giga"),
        F.expr("CAST(t4 % 1000000000 AS BIGINT)").alias("m4_gfrac"),
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
        "m4_giga",
        "m4_gfrac",
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
        "m4_giga",
        "m4_gfrac",
        F.expr(
            "((CAST(m4_giga AS DOUBLE) * 1000000000.0"
            "  + CAST(m4_gfrac AS DOUBLE)"
            "  - (CAST(mg AS DOUBLE) * 1000000000.0"
            "     + CAST(mu2 AS DOUBLE)))"
            " * CAST(nn AS DOUBLE))"
            " / (1073741824.0"
            "    * sqrt(CAST(nm AS DOUBLE) * CAST(a3 AS DOUBLE)))"
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# agg_lepage — combined location-scale test (Wilcoxon^2 + Ansari^2)
# ---------------------------------------------------------------------------


@register(
    "agg_lepage",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN round(l_tax * 100) >= 4 THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS n1,
             CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY v
    ),
    pos AS (
      SELECT v, n1, c,
             coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS lo0,
             (SELECT sum(c) FROM cells) AS nn
      FROM cells
    ),
    st AS (
      SELECT n1, c, nn,
             (2 * lo0 + c + 1) AS wb,
             ((((least(lo0 + c, (nn + 1) // 2))
                    * (least(lo0 + c, (nn + 1) // 2) + 1)) // 2
                   + CASE WHEN lo0 + c > (nn + 1) // 2 THEN
                       ((nn - (nn + 1) // 2)
                        * (nn - (nn + 1) // 2 + 1)) // 2
                       - ((nn - lo0 - c) * (nn - lo0 - c + 1)) // 2
                     ELSE 0 END)
                  -
                  (((least(lo0, (nn + 1) // 2))
                    * (least(lo0, (nn + 1) // 2) + 1)) // 2
                   + CASE WHEN lo0 > (nn + 1) // 2 THEN
                       ((nn - (nn + 1) // 2)
                        * (nn - (nn + 1) // 2 + 1)) // 2
                       - ((nn - lo0) * (nn - lo0 + 1)) // 2
                     ELSE 0 END)) AS ab1
      FROM pos
    ),
    acc AS (
      SELECT CAST(min(nn) AS BIGINT) AS nn,
             CAST(sum(n1) AS BIGINT) AS n_t,
             CAST(sum(CAST(n1 AS HUGEINT) * wb) AS HUGEINT) AS tw,
             CAST(sum(CAST(c AS HUGEINT) * wb) AS HUGEINT) AS sw,
             CAST(sum(CAST(c AS HUGEINT) * wb * wb) AS HUGEINT) AS sw2,
             CAST(sum((1000000 * CAST(n1 AS HUGEINT) * ab1) // c)
                  AS HUGEINT) AS taq,
             CAST(sum(CAST(ab1 AS HUGEINT)) AS HUGEINT) AS sa,
             CAST(sum((CAST(ab1 AS HUGEINT) * ab1) // c)
                  AS HUGEINT) AS sa2q
      FROM st
    ),
    d AS (
      SELECT nn, n_t, n_t * (nn - n_t) AS nm,
             CAST(abs(nn * tw - n_t * sw) // 1048576 AS BIGINT) AS nqw,
             greatest(CAST((nn * sw2 - sw * sw) // 1099511627776
                           AS BIGINT), 1) AS dqw,
             CAST(abs(nn * taq - 1000000 * CAST(n_t AS HUGEINT) * sa)
                  // 1099511627776 AS BIGINT) AS nqa,
             greatest(CAST((nn * sa2q - sa * sa)
                           // 1099511627776 AS BIGINT), 1) AS dqa
      FROM acc
    ),
    z AS (
      SELECT nn, n_t, nm,
             (CAST(nn - 1 AS DOUBLE) * CAST(nqw AS DOUBLE)
              * CAST(nqw AS DOUBLE))
             / (CAST(nm AS DOUBLE) * CAST(dqw AS DOUBLE)) AS z_w2,
             (CAST(nn - 1 AS DOUBLE) * CAST(nqa AS DOUBLE)
              * CAST(nqa AS DOUBLE) * 1099511627776.0)
             / (1000000000000.0 * CAST(nm AS DOUBLE)
                * CAST(dqa AS DOUBLE)) AS z_a2
      FROM d
    )
    SELECT n_t AS n_treat, CAST(nn - n_t AS BIGINT) AS n_control,
           z_w2, z_a2, z_w2 + z_a2 AS lepage_l
    FROM z
    """,
    doc="Lepage combined location-scale test between high-tax (>=4%) and "
    "low-tax line quantities: L = Z_W^2 + Z_A^2, the squared "
    "standardized Wilcoxon rank-sum (location) plus the squared "
    "standardized Ansari-Bradley (scale), chi-square(2) under the null "
    "— the classical omnibus rank test for 'did the distribution move "
    "OR spread' (agg_mann_whitney and agg_ansari_bradley test each "
    "margin alone; agg_cucconi is the rank-quadrature alternative). "
    "Both components standardize with EXACT conditional (permutation) "
    "moments E[T] = n*S1/N, Var[T] = n(N-n)(N*S2 - S1^2)/(N^2(N-1)) on "
    "the observed midrank scores — correct under ties, pinned against "
    "full subset enumeration in tests/test_round15.py. Nothing "
    "materializes per row: on the ~50-value quantity grid the doubled "
    "Wilcoxon midrank per tie block is 2*lo0 + c + 1 and the Ansari "
    "block score-sum is S(hi) - S(lo) with the exact prefix "
    "S(p) = T(min(p,h)) + [p>h](T(N-h) - T(N-p)), T(x) = x(x+1)/2, "
    "h = ceil(N/2) (brute-force-pinned for N=1..80); midrank averaging "
    "micro-quantizes each block by ONE non-negative floor-division "
    "(the agg_siegel_tukey discipline; the squared-score term drops "
    "the 1e6 micro-scale because its per-block value is huge and "
    "Spark's decimal `div` WRAPS, not errors, past int64 — every div "
    "RESULT here is bounded under 2^62 at sf1). All >2^53 pieces "
    "floor-divide to sub-2^53 integers before the fixed-shape double "
    "expressions. "
    "One domain-sized shuffle; two bounded grid windows.",
)
def agg_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("v"),
        F.when(F.round(F.col("l_tax") * 100) >= 4, 1).otherwise(0).alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("n1"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    pos = cells.select(
        "n1",
        "c",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("lo0"),
        F.sum("c").over(w_all).alias("nn"),
    )

    def _t(x: str) -> str:
        return f"((({x}) * (({x}) + 1)) div 2)"

    def _s(p: str) -> str:
        h = "((nn + 1) div 2)"
        return (
            f"({_t(f'least({p}, {h})')}"
            f" + CASE WHEN ({p}) > {h} THEN"
            f"     {_t(f'(nn - {h})')} - {_t(f'(nn - ({p}))')}"
            f"   ELSE 0 END)"
        )

    st = pos.select(
        "n1",
        "c",
        "nn",
        (2 * F.col("lo0") + F.col("c") + 1).alias("wb"),
        F.expr(f"({_s('lo0 + c')} - {_s('lo0')})").alias("ab1"),
    )
    acc = st.agg(
        F.min("nn").cast("bigint").alias("nn"),
        F.sum("n1").cast("bigint").alias("n_t"),
        _dsum(F.expr("CAST(n1 AS DECIMAL(38,0)) * wb")).alias("tw"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * wb")).alias("sw"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * wb * wb")).alias("sw2"),
        _dsum(
            F.expr("(1000000 * CAST(n1 AS DECIMAL(38,0)) * ab1) div c")
        ).alias("taq"),
        _dsum(F.col("ab1")).alias("sa"),
        _dsum(
            F.expr("(CAST(ab1 AS DECIMAL(38,0)) * ab1) div c")
        ).alias("sa2q"),
    )
    d = acc.select(
        "nn",
        "n_t",
        (F.col("n_t") * (F.col("nn") - F.col("n_t"))).alias("nm"),
        F.expr(
            "CAST(abs(nn * tw - n_t * sw) div 1048576 AS BIGINT)"
        ).alias("nqw"),
        F.expr(
            "greatest(CAST((nn * sw2 - sw * sw) div 1099511627776"
            " AS BIGINT), 1)"
        ).alias("dqw"),
        F.expr(
            "CAST(abs(nn * taq - 1000000 * CAST(n_t AS DECIMAL(38,0)) * sa)"
            " div 1099511627776 AS BIGINT)"
        ).alias("nqa"),
        F.expr(
            "greatest(CAST((nn * sa2q - sa * sa)"
            " div 1099511627776 AS BIGINT), 1)"
        ).alias("dqa"),
    )
    z = d.select(
        "nn",
        "n_t",
        "nm",
        F.expr(
            "(CAST(nn - 1 AS DOUBLE) * CAST(nqw AS DOUBLE)"
            " * CAST(nqw AS DOUBLE))"
            " / (CAST(nm AS DOUBLE) * CAST(dqw AS DOUBLE))"
        ).alias("z_w2"),
        F.expr(
            "(CAST(nn - 1 AS DOUBLE) * CAST(nqa AS DOUBLE)"
            " * CAST(nqa AS DOUBLE) * 1099511627776.0)"
            " / (1000000000000.0 * CAST(nm AS DOUBLE)"
            "    * CAST(dqa AS DOUBLE))"
        ).alias("z_a2"),
    )
    return z.select(
        F.col("n_t").alias("n_treat"),
        (F.col("nn") - F.col("n_t")).cast("bigint").alias("n_control"),
        "z_w2",
        "z_a2",
        (F.col("z_w2") + F.col("z_a2")).alias("lepage_l"),
    )


# ---------------------------------------------------------------------------
# orders_sba_forecast — Syntetos-Boylan approximation per supplier
# ---------------------------------------------------------------------------

SBA_TOPK = 25  # report the highest-traffic suppliers (bounded output)


@register(
    "orders_sba_forecast",
    oracle=f"""
    WITH dem AS (
      SELECT l_suppkey AS supp,
             CAST(date_diff('day', DATE '1992-01-01',
                            CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem WHERE l_shipdate IS NOT NULL
      GROUP BY 1, 2
    ),
    series AS (
      SELECT supp, CAST(count(*) AS BIGINT) AS n_demands,
             list(struct_pack(t := t, q := q) ORDER BY t) AS xs
      FROM dem GROUP BY supp HAVING count(*) >= 2
    ),
    folded AS (
      SELECT supp, n_demands,
             list_reduce(
               list_prepend(
                 struct_pack(t := xs[1].t,
                             q := CAST(xs[1].q * 1000 AS BIGINT),
                             p := CAST((xs[2].t - xs[1].t) * 1000
                                       AS BIGINT)),
                 list_transform(xs[2:],
                                e -> struct_pack(t := e.t, q := e.q,
                                                 p := CAST(0 AS BIGINT)))),
               (acc, x) -> struct_pack(
                 t := x.t,
                 q := CAST((x.q * 1000 + 7 * acc.q + 4) // 8 AS BIGINT),
                 p := CAST(((x.t - acc.t) * 1000 + 7 * acc.p + 4) // 8
                           AS BIGINT))
             ) AS st
      FROM series
    )
    SELECT supp AS suppkey, n_demands,
           st.q AS size_x1000, st.p AS interval_x1000,
           CAST(15 * st.q AS DOUBLE) / (16 * st.p) AS sba_rate_per_day
    FROM folded
    WHERE st.p > 0
    ORDER BY n_demands DESC, supp
    LIMIT {SBA_TOPK}
    """,
    doc="Syntetos-Boylan Approximation (SBA) for intermittent demand, per "
    "supplier: Croston-style exponential smoothing (alpha = 1/8) of the "
    "NONZERO daily demand sizes and of the inter-demand intervals "
    "separately, then the bias-corrected forecast rate "
    "(1 - alpha/2) * size/interval = (15/16) * z/p — Croston's "
    "estimator is biased HIGH because E[z/p] > E[z]/E[p] (Jensen on "
    "the random interval); SBA's deflator is the standard fix and the "
    "production default for spare-parts/long-tail forecasting "
    "(orders_croston is the uncorrected alpha = 1/4 sibling at part "
    "grain; orders_demand_classification decides WHICH series need "
    "these). The fold is FULLY INTEGER: state is (size, interval) in "
    "1e-3 units and each update is (x*1000 + 7*state + 4) div 8 — "
    "round-half-up of a dyadic product with no float in the recurrence, "
    "so the oracle's list_reduce replays it bit-for-bit; the reported "
    "rate is ONE IEEE multiply-divide on integers. Per-supplier demand "
    "series aggregate map-side and fold inside one partitioned "
    f"aggregation (no window, no cross-key state); the top-{SBA_TOPK} "
    "by demand count ship via TakeOrderedAndProject. The DuckDB twin "
    "PREPENDS the init state because list_reduce folds from the first "
    "element (Spark's aggregate takes an explicit init) — same "
    "recurrence, same bits. The pipeline deliberately mirrors "
    "orders_croston's driver-proven idiom (pipeline12.py:358) — same "
    "fold skeleton, different grain/alpha/deflator — so the two "
    "estimators stay comparable line-for-line.",
)
def orders_sba_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    dem = li.groupBy(
        F.col("l_suppkey").alias("supp"),
        F.date_diff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("t"),
    ).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q")
    )
    series = (
        dem.groupBy("supp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_demands"),
            F.sort_array(
                F.collect_list(F.struct(F.col("t"), F.col("q")))
            ).alias("xs"),
        )
        .filter(F.col("n_demands") >= 2)
    )
    fold = F.expr(
        "aggregate("
        "  slice(xs, 2, size(xs) - 1),"
        "  named_struct("
        "    't', element_at(xs, 1).t,"
        "    'q', element_at(xs, 1).q * 1000,"
        "    'p', CAST((element_at(xs, 2).t - element_at(xs, 1).t) * 1000"
        "         AS BIGINT)),"
        "  (acc, x) -> named_struct("
        "    't', x.t,"
        "    'q', CAST((x.q * 1000 + 7 * acc.q + 4) div 8 AS BIGINT),"
        "    'p', CAST(((x.t - acc.t) * 1000 + 7 * acc.p + 4) div 8"
        "         AS BIGINT)))"
    )
    # explode(array(fold)) forces ONE evaluation of the O(n_demands)
    # fold per supplier (two getFields on the raw expression would run
    # it twice: lambda-bearing exprs are excluded from subexpression
    # elimination, and CollapseProject would inline a two-step select)
    folded = series.select(
        F.col("supp").alias("suppkey"),
        "n_demands",
        F.explode(F.array(fold)).alias("st"),
    ).select(
        "suppkey",
        "n_demands",
        F.col("st").getField("q").alias("size_x1000"),
        F.col("st").getField("p").alias("interval_x1000"),
    )
    return (
        folded.filter(F.col("interval_x1000") > 0)
        .select(
            "suppkey",
            "n_demands",
            "size_x1000",
            "interval_x1000",
            (
                (15 * F.col("size_x1000")).cast("double")
                / (16 * F.col("interval_x1000"))
            ).alias("sba_rate_per_day"),
        )
        .orderBy(F.col("n_demands").desc(), "suppkey")
        .limit(SBA_TOPK)
    )


# ---------------------------------------------------------------------------
# agg_quartile_dispersion — QCD from exact type-1 order statistics
# ---------------------------------------------------------------------------


@register(
    "agg_quartile_dispersion",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
             CAST(l_quantity AS BIGINT) AS v
      FROM lineitem
    ),
    cells AS (
      SELECT disc_pct, v, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2
    ),
    pos AS (
      SELECT disc_pct, v, c,
             sum(c) OVER (PARTITION BY disc_pct ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             sum(c) OVER (PARTITION BY disc_pct) AS n
      FROM cells
    ),
    q AS (
      SELECT disc_pct,
             CAST(min(n) AS BIGINT) AS n_rows,
             CAST(min(CASE WHEN cum >= (n + 3) // 4 THEN v END)
                  AS BIGINT) AS q1,
             CAST(min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END)
                  AS BIGINT) AS q3
      FROM pos GROUP BY disc_pct
    )
    SELECT disc_pct, n_rows, q1, q3,
           CAST((1000000000 * (q3 - q1)) // (q3 + q1) AS BIGINT) AS qcd_ppb
    FROM q ORDER BY disc_pct
    """,
    doc="Quartile coefficient of dispersion of line quantity per discount "
    "level: (Q3 - Q1)/(Q3 + Q1) from EXACT type-1 (lower) sample "
    "quartiles Q_k = min{v : F_n(v) >= k/4}, i.e. the ceil(n/4)-th and "
    "ceil(3n/4)-th order statistics — the robust, unit-free dispersion "
    "ratio (agg_mad_outliers is the median-centered sibling; "
    "agg_approx_quantile trades exactness for sketches, this one is "
    "exact BECAUSE the selection runs on the ~50-value quantity domain "
    "histogram, not on rows). Order statistics come from per-level "
    "cumulative cell counts (windows PARTITIONED by the ~11 discount "
    "percents over the tiny grid — never a global row sort); "
    "ceil(k/den) = (k + den - 1) div den on non-negative integers and "
    "the final ratio is one ppb floor-division of non-negative "
    "integers — exact in both engines. One domain-sized shuffle.",
)
def agg_quartile_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
        F.col("l_quantity").cast("bigint").alias("v"),
    )
    cells = b.groupBy("disc_pct", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("disc_pct")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lvl = Window.partitionBy("disc_pct")
    pos = cells.select(
        "disc_pct",
        "v",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_lvl).alias("n"),
    )
    q = pos.groupBy("disc_pct").agg(
        F.min("n").cast("bigint").alias("n_rows"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 3) div 4"), F.col("v"))
        )
        .cast("bigint")
        .alias("q1"),
        F.min(
            F.when(F.col("cum") >= F.expr("(3 * n + 3) div 4"), F.col("v"))
        )
        .cast("bigint")
        .alias("q3"),
    )
    return q.select(
        "disc_pct",
        "n_rows",
        "q1",
        "q3",
        F.expr(
            "CAST((1000000000 * (q3 - q1)) div (q3 + q1) AS BIGINT)"
        ).alias("qcd_ppb"),
    ).orderBy("disc_pct")


# ---------------------------------------------------------------------------
# agg_gastwirth_location — robust location from three order statistics
# ---------------------------------------------------------------------------


@register(
    "agg_gastwirth_location",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem
    ),
    cells AS (
      SELECT flag, v, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2
    ),
    pos AS (
      SELECT flag, v, c,
             sum(c) OVER (PARTITION BY flag ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             sum(c) OVER (PARTITION BY flag) AS n
      FROM cells
    ),
    q AS (
      SELECT flag,
             CAST(min(n) AS BIGINT) AS n_rows,
             CAST(min(CASE WHEN cum >= (n + 2) // 3 THEN v END)
                  AS BIGINT) AS q_lo,
             CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
                  AS BIGINT) AS q_med,
             CAST(min(CASE WHEN cum >= (2 * n + 2) // 3 THEN v END)
                  AS BIGINT) AS q_hi
      FROM pos GROUP BY flag
    )
    SELECT flag AS returnflag, n_rows, q_lo, q_med, q_hi,
           CAST(300 * q_lo + 400 * q_med + 300 * q_hi AS BIGINT)
             AS gastwirth_milli
    FROM q ORDER BY returnflag
    """,
    doc="Gastwirth's robust location estimator per return flag: "
    "0.3*Q(1/3) + 0.4*Q(1/2) + 0.3*Q(2/3) on line quantities, with the "
    "three quantiles as EXACT type-1 (lower) order statistics "
    "(ceil(n/3), ceil(n/2), ceil(2n/3)) — a classical high-breakdown "
    "location estimate with ~80% Gaussian efficiency that needs only "
    "three selections, no trimming pass (agg_trimmed_mean / "
    "agg_winsorized_mean average over a trimmed range; agg_mode_median "
    "reports raw quantiles; Gastwirth is the fixed-weight L-estimator "
    "between them). Selections come from per-flag cumulative counts on "
    "the ~50-value quantity grid (windows PARTITIONED by the 3 flags), "
    "and the estimate is reported in exact milli-units "
    "(300*q_lo + 400*q_med + 300*q_hi) — pure integer arithmetic, no "
    "float anywhere. One domain-sized shuffle.",
)
def agg_gastwirth_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("v"),
    )
    cells = b.groupBy("flag", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_flag = Window.partitionBy("flag")
    pos = cells.select(
        "flag",
        "v",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_flag).alias("n"),
    )
    q = pos.groupBy("flag").agg(
        F.min("n").cast("bigint").alias("n_rows"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) div 3"), F.col("v"))
        )
        .cast("bigint")
        .alias("q_lo"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("v"))
        )
        .cast("bigint")
        .alias("q_med"),
        F.min(
            F.when(F.col("cum") >= F.expr("(2 * n + 2) div 3"), F.col("v"))
        )
        .cast("bigint")
        .alias("q_hi"),
    )
    return q.select(
        F.col("flag").alias("returnflag"),
        "n_rows",
        "q_lo",
        "q_med",
        "q_hi",
        (300 * F.col("q_lo") + 400 * F.col("q_med") + 300 * F.col("q_hi"))
        .cast("bigint")
        .alias("gastwirth_milli"),
    ).orderBy("returnflag")


# ---------------------------------------------------------------------------
# orders_tracking_signal — cumulative-error forecast monitoring
# ---------------------------------------------------------------------------


@register(
    "orders_tracking_signal",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS priority,
             CAST(year(CAST(o_orderdate AS DATE)) * 100
                  + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS ym,
             CAST(count(*) AS BIGINT) AS y
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY 1, 2
    ),
    e AS (
      SELECT priority, ym,
             y - lag(y) OVER (PARTITION BY priority ORDER BY ym) AS err
      FROM m
    ),
    c AS (
      SELECT priority, ym, err,
             CAST(sum(err) OVER (PARTITION BY priority ORDER BY ym
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_err,
             CAST(sum(abs(err)) OVER (PARTITION BY priority ORDER BY ym
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS cum_abs,
             CAST(count(*) OVER (PARTITION BY priority ORDER BY ym
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS t
      FROM e WHERE err IS NOT NULL
    )
    SELECT priority, ym, err, cum_err, t AS n_errs,
           CAST(CASE WHEN cum_err >= 0
                THEN (1000000 * cum_err * t) // greatest(cum_abs, 1)
                ELSE -((1000000 * -cum_err * t) // greatest(cum_abs, 1))
                END AS BIGINT) AS ts_ppm
    FROM c
    """,
    doc="Forecast tracking signal per order priority: monthly order "
    "arrivals forecast naively by the previous observed month, error "
    "e_t = y_t - y_{t-1}, and the Brown/Trigg monitoring ratio "
    "TS_t = sum(e)/MAD_t with MAD_t = sum(|e|)/t — the standard "
    "'is the forecast biased' control chart (|TS| > 4-6 flags "
    "systematic drift; orders_mape_backtest scores accuracy, "
    "orders_cusum_control watches the level itself — the tracking "
    "signal watches the ERRORS). Reported per month in exact ppm: "
    "TS = cum_err * t / cum_abs computed as ONE floor-division of "
    "non-negative integers with an explicit sign split (Spark div "
    "truncates toward zero, DuckDB // floors — they only agree on "
    "non-negatives, the pipeline11-14 rule). Windows run PARTITIONED "
    "by the 5 priorities over the ~84-month calendar series after a "
    "month-grain pre-aggregation — bounded state, integer-exact "
    "windowed sums. One (priority, month)-keyed shuffle.",
)
def orders_tracking_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    d = F.col("o_orderdate").cast("date")
    m = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (F.year(d) * 100 + F.month(d)).cast("bigint").alias("ym"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    w_lag = Window.partitionBy("priority").orderBy("ym")
    e = m.select(
        "priority",
        "ym",
        (F.col("y") - F.lag("y").over(w_lag)).alias("err"),
    ).filter(F.col("err").isNotNull())
    w_cum = Window.partitionBy("priority").orderBy("ym").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = e.select(
        "priority",
        "ym",
        "err",
        F.sum("err").over(w_cum).cast("bigint").alias("cum_err"),
        F.sum(F.abs(F.col("err"))).over(w_cum).cast("bigint").alias(
            "cum_abs"
        ),
        F.count(F.lit(1)).over(w_cum).cast("bigint").alias("t"),
    )
    return c.select(
        "priority",
        "ym",
        "err",
        "cum_err",
        F.col("t").alias("n_errs"),
        F.expr(
            "CAST(CASE WHEN cum_err >= 0"
            " THEN (1000000 * cum_err * t) div greatest(cum_abs, 1)"
            " ELSE -((1000000 * -cum_err * t) div greatest(cum_abs, 1))"
            " END AS BIGINT)"
        ).alias("ts_ppm"),
    )


# ---------------------------------------------------------------------------
# events_gap_burstiness — inter-arrival burstiness per event type
# ---------------------------------------------------------------------------


@register(
    "events_gap_burstiness",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ),
    g AS (
      SELECT event_type, user_id,
             (tus - lag(tus) OVER (PARTITION BY user_id, event_type
                                   ORDER BY tus, event_id)) // 1000000
               AS gap_s
      FROM e
    ),
    s AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(CAST(gap_s AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(gap_s AS HUGEINT) * gap_s) AS HUGEINT) AS sxx
      FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
    ),
    f AS (
      SELECT event_type, n_users, n_gaps,
             CAST(sx // n_gaps AS BIGINT) AS mean_gap_s,
             CAST((n_gaps * (n_gaps * sxx - sx * sx))
                  // 17592186044416 AS BIGINT) AS numq,
             CAST(((n_gaps - 1) * sx * sx) // 17592186044416
                  AS BIGINT) AS denq
      FROM s WHERE n_gaps >= 2 AND sx > 0
    )
    SELECT event_type, n_users, n_gaps, mean_gap_s,
           CAST(CASE WHEN numq >= denq
                THEN (1000000000 * CAST(numq - denq AS HUGEINT))
                     // greatest(numq + denq, 1)
                ELSE -((1000000000 * CAST(denq - numq AS HUGEINT))
                       // greatest(numq + denq, 1))
                END AS BIGINT) AS burstiness_ppb
    FROM f ORDER BY event_type
    """,
    doc="Inter-arrival burstiness per event type: per-(user, type) gap "
    "sequence from consecutive timestamps, then the squared-CV "
    "burstiness B = (CV^2 - 1)/(CV^2 + 1) pooled per type — B < 0 "
    "means more regular than Poisson, B = 0 memoryless, B > 0 bursty "
    "(the spike-train form of the Goh-Barabasi coefficient that avoids "
    "its square root: with num = n(n*Sxx - Sx^2) and "
    "den = (n-1)*Sx^2, B = (num - den)/(num + den) is a pure integer "
    "ratio; events_weibull_gaps fits the full gap law, "
    "text_word_burstiness is the lexical analogue). Gaps floor to "
    "whole seconds (non-negative by the ordering), moments accumulate "
    "HUGEINT/DECIMAL(38,0) exactly, BOTH ratio sides pre-reduce by "
    "2^44 (chosen so sf0.01 still resolves ~1e7 quantized units, ppb "
    "noise < 1e-4; the int64 quantization ceiling lands near sf150 = "
    "1.5e8 events, where the same literal is the dial), and the signed "
    "result uses an explicit sign split over "
    "non-negative floor-divisions (the cross-engine div rule). The "
    "per-key lag shuffles once on (user, type) — state bounded by one "
    "user's history per type; the final rollup is type-sized.",
)
def events_gap_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    w_lag = Window.partitionBy("user_id", "event_type").orderBy(
        "tus", "event_id"
    )
    g = e.select(
        "event_type",
        "user_id",
        (F.col("tus") - F.lag("tus").over(w_lag)).alias("gap_us"),
    ).select(
        "event_type",
        "user_id",
        F.expr("gap_us div 1000000").alias("gap_s"),
    )
    s = g.filter(F.col("gap_s").isNotNull()).groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        _dsum(F.col("gap_s")).alias("sx"),
        _dsum(F.expr("CAST(gap_s AS DECIMAL(38,0)) * gap_s")).alias("sxx"),
    )
    f = s.filter((F.col("n_gaps") >= 2) & (F.col("sx") > 0)).select(
        "event_type",
        "n_users",
        "n_gaps",
        F.expr("CAST(sx div n_gaps AS BIGINT)").alias("mean_gap_s"),
        F.expr(
            "CAST((n_gaps * (n_gaps * sxx - sx * sx))"
            " div 17592186044416 AS BIGINT)"
        ).alias("numq"),
        F.expr(
            "CAST(((n_gaps - 1) * sx * sx) div 17592186044416 AS BIGINT)"
        ).alias("denq"),
    )
    return f.select(
        "event_type",
        "n_users",
        "n_gaps",
        "mean_gap_s",
        F.expr(
            "CAST(CASE WHEN numq >= denq"
            " THEN (1000000000 * CAST(numq - denq AS DECIMAL(38,0)))"
            "      div greatest(numq + denq, 1)"
            " ELSE -((1000000000 * CAST(denq - numq AS DECIMAL(38,0)))"
            "        div greatest(numq + denq, 1))"
            " END AS BIGINT)"
        ).alias("burstiness_ppb"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# text_sttr_segments — standardized type-token ratio over fixed segments
# ---------------------------------------------------------------------------

STTR_SEG = 50  # words per segment (the corpus-linguistics default scale)


@register(
    "text_sttr_segments",
    oracle=f"""
    WITH arr AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(lower(text), ' '), t -> t != '') AS a
      FROM documents
    ),
    seg AS (
      SELECT doc_id, lang, source,
             CAST(len(a) AS BIGINT) AS n_words,
             CAST(len(a) // {STTR_SEG} AS BIGINT) AS fs,
             CAST(list_sum(list_transform(
                    range(0, len(a) // {STTR_SEG}),
                    i -> len(list_distinct(
                           a[{STTR_SEG} * i + 1 : {STTR_SEG} * i
                             + {STTR_SEG}]))))
                  AS BIGINT) AS ttr_sum
      FROM arr
      WHERE len(a) >= {STTR_SEG}
    )
    SELECT doc_id, lang, source, n_words,
           fs AS n_segments,
           CAST((1000000 * ttr_sum) // (fs * {STTR_SEG}) AS BIGINT)
             AS sttr_ppm
    FROM seg
    """,
    doc=f"Standardized type-token ratio (STTR) per document: mean "
    f"distinct-word ratio over consecutive full {STTR_SEG}-word "
    "segments — the corpus-linguistics fix for raw TTR's length "
    "dependence (longer texts repeat more, so raw TTR is "
    "incomparable across lengths; averaging fixed-size windows makes "
    "it comparable — text_mtld_diversity solves the same problem with "
    "an adaptive threshold fold, Yule's K with a frequency-spectrum "
    "moment; STTR is the fixed-window classic). Reported in exact ppm "
    "= (1e6 * sum of per-segment distinct counts) div (segments * "
    f"{STTR_SEG}), one non-negative floor-division. The entire "
    "computation is MAP-SIDE: tokenize, then a higher-order "
    "`aggregate` over the segment indices slices the word array and "
    "counts distincts per slice inside the row — ZERO shuffles, no "
    "explode, no per-word rows (the DuckDB twin is "
    "list_sum/list_transform over the same slices). Scales as a pure "
    "scan: 100 TB of documents stream through with no exchange at "
    "all.",
)
def text_sttr_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    arr = docs.select(
        "doc_id",
        "lang",
        "source",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias(
            "a"
        ),
    )
    seg = arr.filter(F.size("a") >= STTR_SEG).select(
        "doc_id",
        "lang",
        "source",
        F.size("a").cast("bigint").alias("n_words"),
        F.expr(f"CAST(size(a) div {STTR_SEG} AS BIGINT)").alias("fs"),
        F.expr(
            f"CAST(aggregate(sequence(0, size(a) div {STTR_SEG} - 1),"
            f" 0L, (acc, i) -> acc + size(array_distinct("
            f"slice(a, {STTR_SEG} * i + 1, {STTR_SEG})))) AS BIGINT)"
        ).alias("ttr_sum"),
    )
    return seg.select(
        "doc_id",
        "lang",
        "source",
        "n_words",
        F.col("fs").alias("n_segments"),
        F.expr(
            f"CAST((1000000 * ttr_sum) div (fs * {STTR_SEG}) AS BIGINT)"
        ).alias("sttr_ppm"),
    )
