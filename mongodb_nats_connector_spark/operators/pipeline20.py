"""Round-14 tranche, registered through ``registry._load_all`` after
pipeline19, fully linted and identity-pinned like every earlier tranche.

Reference provenance: like pipeline7-19, none of these operators exist in
the reference's Go core (a MongoDB change-stream -> NATS connector,
/root/reference/internal/mongo/client.go) — they extend the engine-side
analytics surface documented in SURVEY.md §2.3/§2.4.

Cross-engine determinism rules: the pipeline11-19 discipline — exact
integers on the hash surface, DECIMAL(38,0)/HUGEINT widening before
multiplication, floor(x+0.5) instead of round() on doubles, every
oracle-side fractional constant CAST(c AS DOUBLE) (bare DuckDB decimal
literals are exact DECIMALs), quantized-per-DOMAIN-cell ln/sqrt only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# ---------------------------------------------------------------------------
# agg_cronbach_alpha — internal consistency of line quantities per order
# ---------------------------------------------------------------------------


@register(
    "agg_cronbach_alpha",
    oracle="""
    WITH o4 AS (
      SELECT l_orderkey,
             CAST(max(CASE WHEN l_linenumber = 1
                  THEN CAST(round(l_quantity) AS BIGINT) END) AS BIGINT)
               AS q1,
             CAST(max(CASE WHEN l_linenumber = 2
                  THEN CAST(round(l_quantity) AS BIGINT) END) AS BIGINT)
               AS q2,
             CAST(max(CASE WHEN l_linenumber = 3
                  THEN CAST(round(l_quantity) AS BIGINT) END) AS BIGINT)
               AS q3,
             CAST(max(CASE WHEN l_linenumber = 4
                  THEN CAST(round(l_quantity) AS BIGINT) END) AS BIGINT)
               AS q4
      FROM lineitem GROUP BY 1
      HAVING count(*) = 4 AND max(l_linenumber) = 4
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q1) AS HUGEINT) AS s1,
             CAST(sum(q2) AS HUGEINT) AS s2,
             CAST(sum(q3) AS HUGEINT) AS s3,
             CAST(sum(q4) AS HUGEINT) AS s4,
             CAST(sum(CAST(q1 AS HUGEINT) * q1) AS HUGEINT) AS s11,
             CAST(sum(CAST(q2 AS HUGEINT) * q2) AS HUGEINT) AS s22,
             CAST(sum(CAST(q3 AS HUGEINT) * q3) AS HUGEINT) AS s33,
             CAST(sum(CAST(q4 AS HUGEINT) * q4) AS HUGEINT) AS s44,
             CAST(sum(CAST(q1 + q2 + q3 + q4 AS HUGEINT)
                      * (q1 + q2 + q3 + q4)) AS HUGEINT) AS stt,
             CAST(sum(q1 + q2 + q3 + q4) AS HUGEINT) AS st
      FROM o4
    ),
    v AS (
      SELECT n,
             (n * s11 - s1 * s1) + (n * s22 - s2 * s2)
               + (n * s33 - s3 * s3) + (n * s44 - s4 * s4) AS sum_vi,
             n * stt - st * st AS vt
      FROM s
    )
    SELECT n AS n_orders,
           CAST(CASE WHEN 3 * (vt - sum_vi) >= 0 THEN 1 ELSE -1 END
                AS BIGINT) AS alpha_sign,
           CAST((1000000000 * abs(4 * (vt - sum_vi)))
                // greatest(3 * vt, 1) AS BIGINT) AS alpha_abs_ppb
    FROM v
    WHERE vt > 0
    """,
    doc="Cronbach's alpha over exactly-4-line orders (line numbers as the "
    "k=4 'items', rounded quantities as scores): alpha = k/(k-1) * "
    "(1 - sum(var_i)/var_total) — the internal-consistency "
    "coefficient, here measuring whether an order's line quantities "
    "co-vary (a basket-coherence signal; the reliability-theory "
    "companion to agg_fleiss_kappa's agreement on the same 4-rater "
    "frame). Cleared denominators make it ONE exact integer ratio "
    "4(V_t - sum V_i)/(3 V_t) over n-scaled variance numerators "
    "(n*Sxx - Sx^2), sign-split ppb. One order-keyed pivot rollup + "
    "one scalar reduce; no windows, no joins.",
)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    qcol = F.round("l_quantity").cast("bigint")
    o4 = (
        li.groupBy("l_orderkey")
        .agg(
            F.max(F.when(F.col("l_linenumber") == 1, qcol)).alias("q1"),
            F.max(F.when(F.col("l_linenumber") == 2, qcol)).alias("q2"),
            F.max(F.when(F.col("l_linenumber") == 3, qcol)).alias("q3"),
            F.max(F.when(F.col("l_linenumber") == 4, qcol)).alias("q4"),
            F.count(F.lit(1)).alias("k"),
            F.max("l_linenumber").alias("mx"),
        )
        .filter((F.col("k") == 4) & (F.col("mx") == 4))
    )
    s = o4.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("q1")).alias("s1"),
        _dsum(F.col("q2")).alias("s2"),
        _dsum(F.col("q3")).alias("s3"),
        _dsum(F.col("q4")).alias("s4"),
        _dsum(F.expr("CAST(q1 AS DECIMAL(38,0)) * q1")).alias("s11"),
        _dsum(F.expr("CAST(q2 AS DECIMAL(38,0)) * q2")).alias("s22"),
        _dsum(F.expr("CAST(q3 AS DECIMAL(38,0)) * q3")).alias("s33"),
        _dsum(F.expr("CAST(q4 AS DECIMAL(38,0)) * q4")).alias("s44"),
        _dsum(
            F.expr(
                "CAST(q1 + q2 + q3 + q4 AS DECIMAL(38,0))"
                " * (q1 + q2 + q3 + q4)"
            )
        ).alias("stt"),
        _dsum(F.expr("q1 + q2 + q3 + q4")).alias("st"),
    )
    v = s.select(
        "n",
        F.expr(
            "(n * s11 - s1 * s1) + (n * s22 - s2 * s2)"
            " + (n * s33 - s3 * s3) + (n * s44 - s4 * s4)"
        ).alias("sum_vi"),
        F.expr("n * stt - st * st").alias("vt"),
    )
    return v.filter(F.col("vt") > 0).select(
        F.col("n").alias("n_orders"),
        F.expr(
            "CAST(CASE WHEN 3 * (vt - sum_vi) >= 0 THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("alpha_sign"),
        F.expr(
            "CAST((1000000000 * abs(4 * (vt - sum_vi)))"
            " div greatest(3 * vt, 1) AS BIGINT)"
        ).alias("alpha_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_icc_oneway — intraclass correlation ICC(1,1) of line prices per order
# ---------------------------------------------------------------------------


@register(
    "agg_icc_oneway",
    oracle="""
    WITH g AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS HUGEINT) AS sg,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_extendedprice * 100) AS HUGEINT))
                  AS HUGEINT) AS sg2
      FROM lineitem GROUP BY 1 HAVING count(*) = 4
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(sg) AS HUGEINT) AS st,
             CAST(sum(sg2) AS HUGEINT) AS st2,
             CAST(sum(sg * sg) AS HUGEINT) AS sgg
      FROM g
    ),
    ms AS (
      -- cleared integer cores: a = 4m*SSB, b = 4*SSW; then
      -- ICC = (3a - (m-1)b) / (3a + 3(m-1)b) exactly
      SELECT m,
             m * sgg - st * st AS a,
             4 * st2 - sgg AS b
      FROM t
    )
    SELECT m AS n_orders,
           CAST(CASE WHEN 3 * a - (m - 1) * b >= 0
                     THEN 1 ELSE -1 END AS BIGINT) AS icc_sign,
           CAST((1000000000 * abs(3 * a - (m - 1) * b))
                // greatest(3 * a + 3 * (m - 1) * b, 1) AS BIGINT)
             AS icc_abs_ppb
    FROM ms
    """,
    doc="One-way intraclass correlation ICC(1,1) of line PRICES within "
    "exactly-4-line orders: how much of price variance is BETWEEN "
    "orders vs within them — the variance-decomposition answer to "
    "'are orders internally homogeneous pricing units?', the "
    "continuous companion to agg_cronbach_alpha on the same frame "
    "(and the design-effect input for cluster sampling: deff = "
    "1 + (k-1)ICC). With k = 4 and m groups, ICC = (MSB - MSW)/"
    "(MSB + 3 MSW); clearing MSB = SSB/(m-1), MSW = SSW/(3m) onto "
    "common integer denominators gives ONE exact ratio over the "
    "n-scaled sums (identity pinned in tests/test_round20.py: with "
    "a = 4m*SSB = m*sum(S_g^2) - T^2 and b = 4*SSW = 4*sum(x^2) - "
    "sum(S_g^2), ICC = (3a - (m-1)b)/(3a + 3(m-1)b) exactly), sign-split ppb. One "
    "order-keyed rollup + scalar reduce; no windows.",
)
def agg_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    g = (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            _dsum(c).alias("sg"),
            _dsum(c.cast("decimal(38,0)") * c).alias("sg2"),
        )
        .filter(F.col("k") == 4)
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        _dsum(F.col("sg")).alias("st"),
        _dsum(F.col("sg2")).alias("st2"),
        _dsum(F.expr("sg * sg")).alias("sgg"),
    )
    ms = t.select(
        "m",
        F.expr("m * sgg - st * st").alias("a"),
        F.expr("4 * st2 - sgg").alias("b"),
    )
    return ms.select(
        F.col("m").alias("n_orders"),
        F.expr(
            "CAST(CASE WHEN 3 * a - (m - 1) * b >= 0"
            " THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("icc_sign"),
        F.expr(
            "CAST((1000000000 * abs(3 * a - (m - 1) * b))"
            " div greatest(3 * a + 3 * (m - 1) * b, 1) AS BIGINT)"
        ).alias("icc_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_ks_uniform_gof — one-sample KS test of discount against uniform
# ---------------------------------------------------------------------------


@register(
    "agg_ks_uniform_gof",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS d
      FROM lineitem
    ),
    cells AS (
      SELECT d, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY d
    ),
    cum AS (
      SELECT d,
             CAST(sum(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS BIGINT) AS cumc,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM cells
    ),
    dev AS (
      SELECT n,
             CAST(max(abs(11 * cumc - (d + 1) * n)) AS BIGINT) AS dnum
      FROM cum GROUP BY n
    )
    SELECT n, dnum AS d_sup_num,
           CAST((1000000000 * dnum) // (11 * n) AS BIGINT) AS ks_d_ppb,
           CAST(CASE WHEN 10000 * CAST(dnum AS HUGEINT) * dnum
                          > 18496 * 121 * CAST(n AS HUGEINT)
                     THEN 1 ELSE 0 END AS BIGINT) AS reject_uniform
    FROM dev
    """,
    doc="One-sample Kolmogorov-Smirnov goodness-of-fit of the discount "
    "distribution against the DISCRETE UNIFORM on its 11-cell tenths "
    "grid: D = sup_k |F_n(k) - (k+1)/11| — the distribution-shape "
    "gate (is the discount mix actually flat?) completing the KS "
    "family beside the two-sample agg_ks_test and the circular "
    "agg_kuiper_test. The scaled deviation 11*cum_k - (k+1)*N is an "
    "exact integer per grid cell, the sup is an order-independent "
    "integer max, and the alpha=0.05 decision D > 1.36/sqrt(N) is "
    "the EXACT integer cross-multiplication 10^4 D_num^2 > "
    "1.36^2*10^4 * 121 * N — no square root evaluated. One 11-cell "
    "rollup + bounded grid window.",
)
def agg_ks_uniform_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(F.round(F.col("l_discount") * 100).cast("bigint").alias("d"))
    cells = b.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "d",
        F.sum("c").over(w).cast("bigint").alias("cumc"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    dev = cum.groupBy("n").agg(
        F.max(F.abs(11 * F.col("cumc") - (F.col("d") + 1) * F.col("n")))
        .cast("bigint")
        .alias("dnum")
    )
    return dev.select(
        "n",
        F.col("dnum").alias("d_sup_num"),
        F.expr("CAST((1000000000 * dnum) div (11 * n) AS BIGINT)").alias(
            "ks_d_ppb"
        ),
        F.expr(
            "CAST(CASE WHEN 10000 * CAST(dnum AS DECIMAL(38,0)) * dnum"
            " > 18496 * 121 * CAST(n AS DECIMAL(38,0))"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_uniform"),
    )


# ---------------------------------------------------------------------------
# agg_overlap_coefficient — Weitzman OVL between discount cohorts
# ---------------------------------------------------------------------------


@register(
    "agg_overlap_coefficient",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS v,
             CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) - sum(g) AS BIGINT) AS c2
      FROM b GROUP BY v
    ),
    t AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM cells
    ),
    ov AS (
      SELECT t.n1, t.n2,
             CAST(sum(least(CAST(c1 AS HUGEINT) * t.n2,
                            CAST(c2 AS HUGEINT) * t.n1)) AS HUGEINT)
               AS mins
      FROM cells, t GROUP BY t.n1, t.n2
    )
    SELECT n1 AS n_discounted, n2 AS n_low_discount,
           CAST((1000000000 * mins)
                // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ovl_ppb
    FROM ov
    """,
    doc="Weitzman overlap coefficient OVL = sum_v min(p1(v), p2(v)) "
    "between the discounted (>= 6%) and low-discount quantity "
    "distributions — the fraction of probability mass the two "
    "cohorts SHARE, the direct 'how exchangeable are they' number "
    "whose complement is total-variation distance (and the "
    "interpretable companion to the significance-oriented "
    "agg_ks_test / agg_cucconi on the same frame: with huge n, tiny "
    "differences are 'significant' while OVL says whether they "
    "matter). Cross-multiplying by n1*n2 makes every per-cell min an "
    "exact integer min(c1 n2, c2 n1) over the ~50-value grid; one "
    "non-negative ppb floor-division. One map-combined grid rollup; "
    "no windows.",
)
def agg_overlap_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round("l_quantity").cast("bigint").alias("v"),
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("c2"),
    )
    t = cells.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    ov = (
        cells.crossJoin(F.broadcast(t))
        .groupBy("n1", "n2")
        .agg(
            _dsum(
                F.least(
                    F.expr("CAST(c1 AS DECIMAL(38,0)) * n2"),
                    F.expr("CAST(c2 AS DECIMAL(38,0)) * n1"),
                )
            ).alias("mins")
        )
    )
    return ov.select(
        F.col("n1").alias("n_discounted"),
        F.col("n2").alias("n_low_discount"),
        F.expr(
            "CAST((1000000000 * mins)"
            " div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
        ).alias("ovl_ppb"),
    )


# ---------------------------------------------------------------------------
# events_gini_time_concentration — temporal concentration of activity
# ---------------------------------------------------------------------------


@register(
    "events_gini_time_concentration",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    r AS (
      SELECT c, CAST(row_number() OVER (ORDER BY c, day) AS BIGINT) AS rk
      FROM d
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS HUGEINT) AS tot,
             CAST(sum(CAST(rk AS HUGEINT) * c) AS HUGEINT) AS rs
      FROM r
    )
    SELECT n AS n_days, CAST(tot AS BIGINT) AS n_events,
           CAST((1000000000 * (2 * rs - (n + 1) * tot)) // (n * tot)
                AS BIGINT) AS gini_ppb,
           CAST(tot // n AS BIGINT) AS mean_daily
    FROM g
    """,
    doc="Gini coefficient of DAILY EVENT VOLUME across the observed "
    "calendar: how concentrated is activity in time? Gini ~ 0 means "
    "steady load, high Gini means a few peak days carry the traffic "
    "— the capacity-planning complement to events_max_concurrency "
    "(instantaneous peak) and events_vmr_windows (dispersion "
    "ratio): this one integrates the whole daily Lorenz curve into "
    "the standard inequality number. Rank formula over the calendar-"
    "bounded day relation with deterministic (count, day) ties; ONE "
    "non-negative ppb floor-division. One day rollup + one bounded "
    "rank window.",
)
def events_gini_time_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    r = d.select(
        "c",
        F.row_number()
        .over(Window.orderBy("c", "day"))
        .cast("bigint")
        .alias("rk"),
    )
    g = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("c")).alias("tot"),
        _dsum(F.expr("CAST(rk AS DECIMAL(38,0)) * c")).alias("rs"),
    )
    return g.select(
        F.col("n").alias("n_days"),
        F.expr("CAST(tot AS BIGINT)").alias("n_events"),
        F.expr(
            "CAST((1000000000 * (2 * rs - (n + 1) * tot)) div (n * tot)"
            " AS BIGINT)"
        ).alias("gini_ppb"),
        F.expr("CAST(tot div n AS BIGINT)").alias("mean_daily"),
    )


# ---------------------------------------------------------------------------
# agg_tukey_fences — boxplot-fence outlier census on the quantity domain
# ---------------------------------------------------------------------------


@register(
    "agg_tukey_fences",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS v FROM lineitem
    ),
    cells AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY v
    ),
    cum AS (
      SELECT v, c,
             CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS BIGINT) AS cumc,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM cells
    ),
    q AS (
      SELECT
        (SELECT min(v) FROM cum WHERE 4 * cumc >= n) AS q1,
        (SELECT min(v) FROM cum WHERE 4 * cumc >= 3 * n) AS q3,
        (SELECT max(n) FROM cum) AS n
    ),
    f AS (
      SELECT n, q1, q3,
             5 * q1 - 3 * q3 AS lo2,
             5 * q3 - 3 * q1 AS hi2
      FROM q
    )
    SELECT f.n, f.q1 AS q1_qty, f.q3 AS q3_qty,
           CAST(f.lo2 AS BIGINT) AS fence_low_x2,
           CAST(f.hi2 AS BIGINT) AS fence_high_x2,
           CAST(coalesce((SELECT sum(c) FROM cum
                          WHERE 2 * cum.v < f.lo2), 0) AS BIGINT)
             AS n_below,
           CAST(coalesce((SELECT sum(c) FROM cum
                          WHERE 2 * cum.v > f.hi2), 0) AS BIGINT)
             AS n_above
    FROM f
    """,
    doc="Tukey boxplot-fence outlier census on the ~50-value quantity "
    "domain: discrete type-1 quartiles from exact cumulative counts "
    "(Q1 = smallest v with 4*cum >= N), fences Q1 - 1.5 IQR and "
    "Q3 + 1.5 IQR kept exact by DOUBLING (2*fence_low = 5Q1 - 3Q3), "
    "and the below/above populations counted by exact integer "
    "comparison 2v < 5Q1 - 3Q3 — the classical boxplot rule beside "
    "the robust-deviation census agg_mad_outliers (median/MAD) and "
    "the parametric agg_grubbs_test: three different outlier "
    "definitions on the same engine surface. One domain rollup + "
    "bounded grid window; no square roots, no doubles anywhere.",
)
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(F.round("l_quantity").cast("bigint").alias("v"))
    cells = b.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "v",
        "c",
        F.sum("c").over(w).cast("bigint").alias("cumc"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    q = cum.agg(
        F.min(F.when(4 * F.col("cumc") >= F.col("n"), F.col("v"))).alias(
            "q1"
        ),
        F.min(
            F.when(4 * F.col("cumc") >= 3 * F.col("n"), F.col("v"))
        ).alias("q3"),
        F.max("n").cast("bigint").alias("n"),
    )
    f = q.select(
        "n",
        "q1",
        "q3",
        (5 * F.col("q1") - 3 * F.col("q3")).alias("lo2"),
        (5 * F.col("q3") - 3 * F.col("q1")).alias("hi2"),
    )
    counts = (
        cum.crossJoin(F.broadcast(f))
        .agg(
            F.coalesce(
                F.sum(F.when(2 * F.col("v") < F.col("lo2"), F.col("c"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_below"),
            F.coalesce(
                F.sum(F.when(2 * F.col("v") > F.col("hi2"), F.col("c"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_above"),
        )
    )
    return F.broadcast(f).crossJoin(counts).select(
        "n",
        F.col("q1").alias("q1_qty"),
        F.col("q3").alias("q3_qty"),
        F.col("lo2").cast("bigint").alias("fence_low_x2"),
        F.col("hi2").cast("bigint").alias("fence_high_x2"),
        "n_below",
        "n_above",
    )


# ---------------------------------------------------------------------------
# orders_duane_growth — reliability-growth slope of the return process
# ---------------------------------------------------------------------------


@register(
    "orders_duane_growth",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT month,
             CAST(sum(n) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS ct,
             CAST(sum(r) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cf
      FROM m
    ),
    pts AS (
      SELECT CAST(floor(1000000.0 * ln(CAST(ct AS DOUBLE))) AS BIGINT)
               AS x,
             CAST(floor(1000000.0 * ln(1000000.0 * cf / ct)) AS BIGINT)
               AS y
      FROM cum WHERE cf > 0 AND ct > 0
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM pts
    )
    SELECT n AS n_checkpoints,
           CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END AS BIGINT)
             AS alpha_sign,
           CAST((1000000 * abs(n * sxy - sx * sy))
                // greatest(n * sxx - sx * sx, 1) AS BIGINT)
             AS alpha_abs_micro
    FROM s
    """,
    doc="Duane reliability-growth analysis of the return process: regress "
    "ln(cumulative return RATE) on ln(cumulative exposure) across "
    "monthly checkpoints — a negative slope alpha is the Duane "
    "learning signature (quality improving with cumulative volume), "
    "the reliability-engineering reading of the same log-log OLS "
    "machinery as orders_wright_learning (which tracks unit COST; "
    "NHPP power-law intensity here). The cumulative rate is "
    "pre-scaled by 1e6 inside the log so the quantized ordinate "
    "stays positive-domain; both coordinates floor-quantize to "
    "micro per CHECKPOINT (calendar-bounded), the moment sums are "
    "exact integers, and the slope is sign-split micro. One month "
    "rollup + one bounded prefix window.",
)
def orders_duane_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    m = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("r"),
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = m.select(
        F.sum("n").over(w).cast("bigint").alias("ct"),
        F.sum("r").over(w).cast("bigint").alias("cf"),
    )
    pts = cum.filter((F.col("cf") > 0) & (F.col("ct") > 0)).select(
        F.floor(F.lit(1000000.0) * F.log(F.col("ct").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.floor(
            F.lit(1000000.0)
            * F.log(F.lit(1000000.0) * F.col("cf") / F.col("ct"))
        )
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_checkpoints"),
        F.expr(
            "CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("alpha_sign"),
        F.expr(
            "CAST((1000000 * abs(n * sxy - sx * sy))"
            " div greatest(n * sxx - sx * sx, 1) AS BIGINT)"
        ).alias("alpha_abs_micro"),
    )


# ---------------------------------------------------------------------------
# multimodal_png_chunk_walk — REAL multi-chunk PNG stream walking
# ---------------------------------------------------------------------------


@register(
    "multimodal_png_chunk_walk",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             doc_id % 1920 + 16 AS w,
             (doc_id * 7) % 1080 + 16 AS h,
             doc_id % 4 AS ntext,
             doc_id % 900 + 100 AS idat_len
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 + ntext AS BIGINT) AS n_chunks,
           CAST(ntext AS BIGINT) AS n_text_chunks,
           CAST(idat_len AS BIGINT) AS idat_bytes,
           CAST(1 AS BIGINT) AS has_iend
    FROM d
    ORDER BY doc_id
    """,
    doc="REAL multi-chunk PNG stream walking under the driver's hash "
    "check: per doc, construct a complete PNG chunk stream (signature, "
    "13-byte IHDR, 0-3 tEXt chunks with deterministic payload sizes, "
    "one IDAT of deterministic length, IEND — length/type/data/CRC "
    "frames composed as hex column expressions; CRCs carried as dummy "
    "bytes and skipped BY LENGTH, the fast-scan convention every "
    "corpus-ingest profiler uses, declared), then recover dimensions, "
    "chunk census, total IDAT payload bytes and IEND presence with "
    "the real stdlib walker (multimodal.walk_png_chunks). Together "
    "with the GIF walker this covers both length-prefixed (PNG) and "
    "sentinel-terminated (GIF sub-block) container grammars. "
    "Map-only; zero shuffles.",
)
def multimodal_png_chunk_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.multimodal import (
        PNG_CHUNK_SCHEMA,
        _png_chunks_batches,
    )

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (F.col("doc_id") % 1920 + 16).alias("w"),
        ((F.col("doc_id") * 7) % 1080 + 16).alias("h"),
        (F.col("doc_id") % 4).alias("ntext"),
        (F.col("doc_id") % 900 + 100).alias("idat_len"),
    )
    be4 = lambda col: F.lpad(F.hex(col), 8, "0")  # noqa: E731
    ihdr = F.concat(
        F.lit("0000000D49484452"),          # len 13 + 'IHDR'
        F.lpad(F.hex("w"), 8, "0"),
        F.lpad(F.hex("h"), 8, "0"),
        F.lit("0806000000"),                # bit depth 8, RGBA, std flags
        F.lit("00000000"),                  # dummy CRC
    )
    texts = F.expr(
        # sequence(1, 0) DESCENDS in Spark — guard the zero-chunk case
        "IF(ntext = 0, '', concat_ws('', transform(sequence(1, ntext), i ->"
        " concat("
        "  lpad(hex(5 + i), 8, '0'),"       # length = 5 + i
        "  '74455874',"                     # 'tEXt'
        "  repeat('4B', CAST(5 + i AS INT)),"
        "  '00000000'))))"                  # dummy CRC
    )
    idat = F.concat(
        be4(F.col("idat_len")),
        F.lit("49444154"),                  # 'IDAT'
        F.expr("repeat('A5', CAST(idat_len AS INT))"),
        F.lit("00000000"),
    )
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),          # signature
        ihdr,
        texts,
        idat,
        F.lit("0000000049454E44"),          # len 0 + 'IEND'
        F.lit("00000000"),
    )
    return (
        d.select("doc_id", F.unhex(png_hex).alias("payload"))
        .mapInPandas(_png_chunks_batches, PNG_CHUNK_SCHEMA)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# agg_bartlett_test — classical variance homogeneity across priorities
# ---------------------------------------------------------------------------


@register(
    "agg_bartlett_test",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS s,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                      * CAST(round(o_totalprice * 100) AS HUGEINT))
                  AS HUGEINT) AS s2
      FROM orders GROUP BY 1
    ),
    v AS (
      SELECT pri, n,
             CAST(floor(1000000.0 * (n - 1)
                  * ln((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)
               AS term_micro,
             CAST((n * s2 - s * s) // n AS HUGEINT) AS ssn
      FROM g WHERE n > 1
    ),
    p AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(n - 1) AS BIGINT) AS dof,
             CAST(sum(term_micro) AS BIGINT) AS sum_terms,
             CAST(floor(1000000.0 * ln(CAST(sum(ssn) AS DOUBLE)
                  / CAST(sum(n - 1) AS DOUBLE))) AS BIGINT)
               AS ln_pooled_micro
      FROM v
    )
    SELECT k AS n_groups, nn AS n_total,
           CAST(dof * ln_pooled_micro - sum_terms AS BIGINT)
             AS bartlett_m_micro
    FROM p
    """,
    doc="Bartlett's M statistic for variance homogeneity across order "
    "priorities: M = (N-k) ln(Sp^2) - sum (n_i - 1) ln(S_i^2) — the "
    "classical (normal-theory) member completing the variance-"
    "homogeneity family beside the robust agg_levene_bf and the "
    "log-free screens agg_cochran_hartley: Bartlett is the most "
    "powerful under normality and the most fragile off it, so "
    "reading all three together localizes WHY they disagree. Each "
    "per-group term (n-1) ln(s_i^2) quantizes to micro from the "
    "exact integer moment ratio (ONE correctly-rounded double ratio "
    "per group, the mutual-information precedent); the pooled term "
    "shares the identical fixed shape. One 5-group rollup; no "
    "windows, no joins.",
)
def agg_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = F.round(F.col("o_totalprice") * 100).cast("bigint")
    g = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(c).alias("s"),
        _dsum(c.cast("decimal(38,0)") * c).alias("s2"),
    ).filter(F.col("n") > 1)
    var_d = (
        "(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
    )
    v = g.select(
        "n",
        F.expr(
            f"CAST(floor(1000000.0 * (n - 1)"
            f" * ln({var_d} / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)"
        ).alias("term_micro"),
        F.expr(
            "CAST((n * s2 - s * s) div n AS DECIMAL(38,0))"
        ).alias("ssn"),
        F.col("n").alias("n2"),
    )
    p = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        (F.sum("n")).cast("bigint").alias("nn"),
        F.sum(F.col("n") - 1).cast("bigint").alias("dof"),
        F.sum("term_micro").cast("bigint").alias("sum_terms"),
        F.expr(
            "CAST(floor(1000000.0 * ln(CAST(sum(ssn) AS DOUBLE)"
            " / CAST(sum(n - 1) AS DOUBLE))) AS BIGINT)"
        ).alias("ln_pooled_micro"),
    )
    return p.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_total"),
        (F.col("dof") * F.col("ln_pooled_micro") - F.col("sum_terms"))
        .cast("bigint")
        .alias("bartlett_m_micro"),
    )


# ---------------------------------------------------------------------------
# orders_gamma_moments_fit — Gamma(k, theta) fit of order values
# ---------------------------------------------------------------------------


@register(
    "orders_gamma_moments_fit",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS s,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                      * CAST(round(o_totalprice * 100) AS HUGEINT))
                  AS HUGEINT) AS s2
      FROM orders GROUP BY 1
    )
    SELECT pri AS priority, n AS n_orders,
           CAST(s // n AS BIGINT) AS mean_cents,
           CAST((1000000 * s * s) // (n * s2 - s * s) AS BIGINT)
             AS shape_micro,
           CAST((n * s2 - s * s) // (CAST(n AS HUGEINT) * s) AS BIGINT)
             AS scale_cents
    FROM g
    WHERE n > 1 AND n * s2 - s * s > 0
    ORDER BY priority
    """,
    doc="Gamma distribution fit of order value per priority by method of "
    "moments: shape k = mean^2/var, scale theta = var/mean — the "
    "two-parameter positive-skew model revenue amounts actually "
    "follow (the parametric summary beside the nonparametric "
    "quantile profiles, and the severity half of a frequency/"
    "severity model with events_negbin_fit). Population-variance "
    "clearing makes both parameters ONE exact non-negative integer "
    "ratio each: k = 1e6*S^2/(n*S2 - S^2), theta = (n*S2 - S^2)/"
    "(n*S) — no doubles anywhere. One 5-group map-combined rollup; "
    "no windows, no joins.",
)
def orders_gamma_moments_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = F.round(F.col("o_totalprice") * 100).cast("bigint")
    g = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(c).alias("s"),
        _dsum(c.cast("decimal(38,0)") * c).alias("s2"),
    )
    return (
        g.filter((F.col("n") > 1) & (F.expr("n * s2 - s * s") > 0))
        .select(
            F.col("pri").alias("priority"),
            F.col("n").alias("n_orders"),
            F.expr("CAST(s div n AS BIGINT)").alias("mean_cents"),
            F.expr(
                "CAST((1000000 * s * s) div (n * s2 - s * s) AS BIGINT)"
            ).alias("shape_micro"),
            F.expr(
                "CAST((n * s2 - s * s) div (CAST(n AS DECIMAL(38,0)) * s)"
                " AS BIGINT)"
            ).alias("scale_cents"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# events_negbin_fit — negative-binomial overdispersion fit of daily counts
# ---------------------------------------------------------------------------


@register(
    "events_negbin_fit",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS HUGEINT) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM d GROUP BY 1
    )
    SELECT event_type, n AS n_days,
           CAST(s // n AS BIGINT) AS mean_daily,
           CAST((1000000 * (n * s2 - s * s))
                // (CAST(n - 1 AS HUGEINT) * n * s) AS BIGINT)
             AS vmr_micro,
           CAST(CASE WHEN (n * s2 - s * s) * 1
                          > CAST(n - 1 AS HUGEINT) * n * s
                THEN (1000000 * CAST(s AS HUGEINT) * s)
                     // greatest(n * ((n * s2 - s * s) // (n - 1))
                                 - CAST(n AS HUGEINT) * s, 1)
                ELSE 0 END AS BIGINT) AS r_micro
    FROM g
    WHERE n > 1
    ORDER BY event_type
    """,
    doc="Negative-binomial fit of DAILY counts per event type by method "
    "of moments: dispersion r = mean^2/(var - mean), defined only in "
    "the overdispersed regime var > mean (r_micro = 0 flags Poisson-"
    "or-under, where NB degenerates) — the frequency half of the "
    "frequency/severity pair with orders_gamma_moments_fit, and the "
    "PARAMETRIC companion to events_vmr_windows' scale-free "
    "dispersion curve (NB's r is what a capacity model actually "
    "plugs in). The overdispersion test and both parameters are "
    "exact integer cross-multiplications on sample-variance-cleared "
    "moments; the inner var floor-division loses < 1 count unit "
    "(declared, identity-pinned). One (day, type) rollup + one "
    "type-group reduce; no windows.",
)
def events_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("c")).alias("s"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("s2"),
    )
    return (
        g.filter(F.col("n") > 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.expr("CAST(s div n AS BIGINT)").alias("mean_daily"),
            F.expr(
                "CAST((1000000 * (n * s2 - s * s))"
                " div (CAST(n - 1 AS DECIMAL(38,0)) * n * s) AS BIGINT)"
            ).alias("vmr_micro"),
            F.expr(
                "CAST(CASE WHEN (n * s2 - s * s) * 1"
                " > CAST(n - 1 AS DECIMAL(38,0)) * n * s"
                " THEN (1000000 * CAST(s AS DECIMAL(38,0)) * s)"
                "      div greatest(n * ((n * s2 - s * s) div (n - 1))"
                "                   - CAST(n AS DECIMAL(38,0)) * s, 1)"
                " ELSE 0 END AS BIGINT)"
            ).alias("r_micro"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# embedding_cosine_concentration — pairwise-angle concentration probe
# ---------------------------------------------------------------------------


@register(
    "embedding_cosine_concentration",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            v -> CAST(floor(v * 1000) AS BIGINT)) AS q
      FROM embeddings WHERE vec_id < 100
    ),
    pr AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             CAST(list_sum(list_transform(range(1, 65),
                  d -> a.q[d] * b.q[d])) AS BIGINT) AS dot,
             CAST(list_sum(list_transform(range(1, 65),
                  d -> a.q[d] * a.q[d])) AS BIGINT) AS a2,
             CAST(list_sum(list_transform(range(1, 65),
                  d -> b.q[d] * b.q[d])) AS BIGINT) AS b2
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ),
    c AS (
      SELECT CAST(floor(1000000.0 * dot
                  / (sqrt(CAST(a2 AS DOUBLE))
                     * sqrt(CAST(b2 AS DOUBLE)))) AS BIGINT) AS cos_ppm
      FROM pr WHERE a2 > 0 AND b2 > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(cos_ppm) // count(*) AS BIGINT) AS mean_cos_ppm,
           CAST(min(cos_ppm) AS BIGINT) AS min_cos_ppm,
           CAST(max(cos_ppm) AS BIGINT) AS max_cos_ppm,
           CAST((count(*) * sum(CAST(cos_ppm AS HUGEINT) * cos_ppm)
                 - CAST(sum(cos_ppm) AS HUGEINT) * sum(cos_ppm))
                // (CAST(count(*) AS HUGEINT) * (count(*) - 1) * 1000000)
                AS BIGINT) AS var_cos_micro
    FROM c
    """,
    doc="Pairwise-cosine concentration over the 100-vector panel: mean, "
    "range and variance of all C(100,2) quantized cosines — the "
    "concentration-of-measure probe (in high ambient dimension with "
    "little structure, cosines concentrate tightly around their "
    "mean, starving ranking signals) that explains WHY "
    "embedding_hubness_skew and embedding_twonn_intrinsic_dim read "
    "what they read; together the three are the pre-flight geometry "
    "audit before committing a corpus to ANN indexing. Each cosine "
    "is one fixed-shape floor-quantized double over exact integer "
    "dot products; the moments over quantized ppm integers are "
    "exact. Bounded 100x100 panel self-join (by design); no "
    "windows.",
)
def embedding_cosine_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    e = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
            " * 1000) AS BIGINT))"
        ).alias("q"),
    )
    a = e.select(F.col("vec_id").alias("i"), F.col("q").alias("qa"))
    b = e.select(F.col("vec_id").alias("j"), F.col("q").alias("qb"))
    pr = a.join(b, F.col("i") < F.col("j")).select(
        F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dot"),
        F.expr(
            "aggregate(transform(qa, x -> x * x),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("a2"),
        F.expr(
            "aggregate(transform(qb, x -> x * x),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("b2"),
    )
    c = pr.filter((F.col("a2") > 0) & (F.col("b2") > 0)).select(
        F.expr(
            "CAST(floor(1000000.0 * dot / (sqrt(CAST(a2 AS DOUBLE))"
            " * sqrt(CAST(b2 AS DOUBLE)))) AS BIGINT)"
        ).alias("cos_ppm")
    )
    return c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("CAST(sum(cos_ppm) div count(*) AS BIGINT)").alias(
            "mean_cos_ppm"
        ),
        F.min("cos_ppm").cast("bigint").alias("min_cos_ppm"),
        F.max("cos_ppm").cast("bigint").alias("max_cos_ppm"),
        F.expr(
            "CAST((count(*) * sum(CAST(cos_ppm AS DECIMAL(38,0))"
            " * cos_ppm) - CAST(sum(cos_ppm) AS DECIMAL(38,0))"
            " * sum(cos_ppm))"
            " div (CAST(count(*) AS DECIMAL(38,0)) * (count(*) - 1)"
            " * 1000000) AS BIGINT)"
        ).alias("var_cos_micro"),
    )


# ---------------------------------------------------------------------------
# orders_variance_ratio_test — Lo-MacKinlay VR(3) on monthly returns
# ---------------------------------------------------------------------------


@register(
    "orders_variance_ratio_test",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT month,
             CAST((1000000 * (x - lag(x) OVER (ORDER BY month)))
                  // lag(x) OVER (ORDER BY month) AS BIGINT) AS ret
      FROM m QUALIFY lag(x) OVER (ORDER BY month) IS NOT NULL
    ),
    r3 AS (
      SELECT ret
               + lead(ret, 1) OVER (ORDER BY month)
               + lead(ret, 2) OVER (ORDER BY month) AS ret3
      FROM r QUALIFY lead(ret, 2) OVER (ORDER BY month) IS NOT NULL
    ),
    sa AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(ret) AS HUGEINT) AS s,
             CAST(sum(CAST(ret AS HUGEINT) * ret) AS HUGEINT) AS s2
      FROM r
    ),
    sb AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(ret3) AS HUGEINT) AS s,
             CAST(sum(CAST(ret3 AS HUGEINT) * ret3) AS HUGEINT) AS s2
      FROM r3
    )
    SELECT sa.n AS n_returns, sb.k AS n_overlapping_3sums,
           CAST((1000000000 * (sb.k * sb.s2 - sb.s * sb.s)
                 * sa.n * (sa.n - 1))
                // greatest(3 * (sa.n * sa.s2 - sa.s * sa.s)
                            * sb.k * (sb.k - 1), 1) AS BIGINT)
             AS vr3_ppb
    FROM sa, sb
    """,
    doc="Lo-MacKinlay variance-ratio test VR(3) on month-over-month "
    "revenue returns: the variance of OVERLAPPING 3-month return sums "
    "against 3x the 1-month variance — VR ~ 1 is a random walk, "
    "VR > 1 momentum (positive autocorrelation), VR < 1 mean "
    "reversion: the horizon-scaling diagnostic that complements "
    "agg_autocorrelation's per-lag view with the aggregate random-"
    "walk verdict. Returns are exact ppm integers (signed division, "
    "both engines truncate identically), 3-sums ride two bounded "
    "lead windows, and VR clears both sample-variance denominators "
    "into ONE exact non-negative integer ratio. One month rollup + "
    "bounded series windows.",
)
def orders_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("month")
    r = (
        m.select("month", "x", F.lag("x").over(w).alias("px"))
        .filter(F.col("px").isNotNull())
        .select(
            "month",
            F.expr("CAST((1000000 * (x - px)) div px AS BIGINT)").alias(
                "ret"
            ),
        )
    )
    r3 = (
        r.select(
            "ret",
            F.lead("ret", 1).over(w).alias("r1"),
            F.lead("ret", 2).over(w).alias("r2"),
        )
        .filter(F.col("r2").isNotNull())
        .select((F.col("ret") + F.col("r1") + F.col("r2")).alias("ret3"))
    )
    sa = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("ret")).alias("s"),
        _dsum(F.expr("CAST(ret AS DECIMAL(38,0)) * ret")).alias("s2"),
    )
    sb = r3.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        _dsum(F.col("ret3")).alias("s3"),
        _dsum(F.expr("CAST(ret3 AS DECIMAL(38,0)) * ret3")).alias("s23"),
    )
    return sa.crossJoin(F.broadcast(sb)).select(
        F.col("n").alias("n_returns"),
        F.col("k").alias("n_overlapping_3sums"),
        F.expr(
            "CAST((1000000000 * (k * s23 - s3 * s3) * n * (n - 1))"
            " div greatest(3 * (n * s2 - s * s) * k * (k - 1), 1)"
            " AS BIGINT)"
        ).alias("vr3_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_two_proportion_test — pooled two-proportion z-test, square-free
# ---------------------------------------------------------------------------


@register(
    "agg_two_proportion_test",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS g,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS r1,
             CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS r2
      FROM b
    )
    SELECT n1 AS n_discounted, r1 AS r_discounted,
           n2 AS n_low, r2 AS r_low,
           CAST((1000000 * r1) // n1 AS BIGINT) AS p1_ppm,
           CAST((1000000 * r2) // n2 AS BIGINT) AS p2_ppm,
           CAST(CASE WHEN CAST(r1 AS HUGEINT) * n2
                          >= CAST(r2 AS HUGEINT) * n1
                     THEN 1 ELSE -1 END AS BIGINT) AS diff_sign,
           CAST(CASE WHEN
                  10000 * (CAST(r1 AS HUGEINT) * n2
                           - CAST(r2 AS HUGEINT) * n1)
                  * (CAST(r1 AS HUGEINT) * n2 - CAST(r2 AS HUGEINT) * n1)
                  * (n1 + n2)
                > CAST(38416 AS HUGEINT) * (r1 + r2)
                  * ((n1 + n2) - (r1 + r2)) * n1 * n2
                THEN 1 ELSE 0 END AS BIGINT) AS reject_05
    FROM s
    WHERE n1 > 0 AND n2 > 0
    """,
    doc="Pooled two-proportion z-test of the return rate between "
    "discounted (>= 6%) and low-discount lines at alpha = 0.05 "
    "(z = 1.96): the decision z^2 > 1.96^2 clears to the EXACT "
    "integer cross-multiplication (r1 n2 - r2 n1)^2 (n1+n2) > "
    "1.96^2 R(N-R) n1 n2 — no square root, no pooled-proportion "
    "double ever materializes (1.96^2 = 38416/10^4 as an integer "
    "pair). The z-test companion to agg_chi_square's omnibus (for "
    "2x2 they coincide) and the decision-form sibling of "
    "agg_wilson_ci's interval; diff_sign carries the direction. One "
    "map-combined scan; no windows, no joins.",
)
def agg_two_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("g"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    s = b.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("g") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("r1"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("g") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("r2"),
    )
    return s.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        F.col("n1").alias("n_discounted"),
        F.col("r1").alias("r_discounted"),
        F.col("n2").alias("n_low"),
        F.col("r2").alias("r_low"),
        F.expr("CAST((1000000 * r1) div n1 AS BIGINT)").alias("p1_ppm"),
        F.expr("CAST((1000000 * r2) div n2 AS BIGINT)").alias("p2_ppm"),
        F.expr(
            "CAST(CASE WHEN CAST(r1 AS DECIMAL(38,0)) * n2"
            " >= CAST(r2 AS DECIMAL(38,0)) * n1 THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("diff_sign"),
        F.expr(
            "CAST(CASE WHEN"
            " 10000 * (CAST(r1 AS DECIMAL(38,0)) * n2"
            "          - CAST(r2 AS DECIMAL(38,0)) * n1)"
            " * (CAST(r1 AS DECIMAL(38,0)) * n2"
            "    - CAST(r2 AS DECIMAL(38,0)) * n1)"
            " * (n1 + n2)"
            " > CAST(38416 AS DECIMAL(38,0)) * (r1 + r2)"
            "   * ((n1 + n2) - (r1 + r2)) * n1 * n2"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# text_zipf_mandelbrot_grid — Zipf-Mandelbrot offset fit by exact grid search
# ---------------------------------------------------------------------------


@register(
    "text_zipf_mandelbrot_grid",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    topw AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY 1 ORDER BY c DESC, word LIMIT 200
    ),
    rk AS (
      SELECT CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT)
               AS r,
             CAST(floor(1000000.0 * ln(CAST(c AS DOUBLE))) AS BIGINT) AS y
      FROM topw
    ),
    grid AS (
      SELECT b, r, y,
             CAST(floor(1000000.0 * ln(CAST(r + b AS DOUBLE))) AS BIGINT)
               AS x
      FROM rk CROSS JOIN (SELECT unnest(range(0, 6)) AS b)
    ),
    s AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM grid GROUP BY 1
    ),
    sc AS (
      SELECT b, n, sx, sy, sxy, sxx, syy,
             CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                        * CAST(n * sxy - sx * sy AS DOUBLE)
                        / (CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0))
                  AS BIGINT) AS score
      FROM s
    ),
    best AS (
      SELECT * FROM sc ORDER BY score DESC, b LIMIT 1
    )
    SELECT CAST(b AS BIGINT) AS best_offset_b, n AS n_ranks,
           CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END AS BIGINT)
             AS slope_sign,
           CAST(floor(1000000.0 * abs(CAST(n * sxy - sx * sy AS DOUBLE))
                / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
             AS slope_abs_micro,
           CAST(floor(1000000000.0
                * CAST(n * sxy - sx * sy AS DOUBLE)
                * CAST(n * sxy - sx * sy AS DOUBLE)
                / (CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
             AS r2_ppb
    FROM best
    """,
    doc="Zipf-Mandelbrot fit ln f = C - s ln(r + b) of the top-200 corpus "
    "word spectrum with the offset b chosen by EXACT grid search over "
    "b in 0..5: because Syy is common to every candidate, the "
    "best-SSE offset is the argmax of Sxy^2/Sxx — compared on "
    "ppb-quantized integer scores with ties to the smaller b "
    "(declared; scores, slope and R^2 evaluate as fixed-shape doubles "
    "over the exact integer moments because the 1e35-scale cleared "
    "numerators overflow Spark's silent-wrapping integral divide — the "
    "pipeline15 lesson), no nonlinear optimizer anywhere. Mandelbrot's "
    "offset captures the flat head that makes plain Zipf regressions "
    "(text_zipf_slope) underfit rank 1-10; the fitted s and R^2 "
    "come from the same exact integer moments over micro-quantized "
    "log-log coordinates. Token work is one word rollup + "
    "TakeOrderedAndProject(200); the 6 x 200 grid is bounded.",
)
def text_zipf_mandelbrot_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(F.explode(F.split("text", " ")).alias("word"))
    topw = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(200)
    )
    rk = topw.select(
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "word"))
        .cast("bigint")
        .alias("r"),
        F.floor(F.lit(1000000.0) * F.log(F.col("c").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    bs = docs.sparkSession.range(6).select(F.col("id").alias("b"))
    grid = rk.crossJoin(F.broadcast(bs)).select(
        "b",
        "y",
        F.floor(
            F.lit(1000000.0)
            * F.log((F.col("r") + F.col("b")).cast("double"))
        )
        .cast("bigint")
        .alias("x"),
    )
    s = grid.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    sc = s.select(
        "*",
        F.expr(
            "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0))"
            " AS BIGINT)"
        ).alias("score"),
    )
    best = sc.orderBy(F.col("score").desc(), "b").limit(1)
    return best.select(
        F.col("b").cast("bigint").alias("best_offset_b"),
        F.col("n").alias("n_ranks"),
        F.expr(
            "CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("slope_sign"),
        F.expr(
            "CAST(floor(1000000.0 * abs(CAST(n * sxy - sx * sy AS DOUBLE))"
            " / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)"
        ).alias("slope_abs_micro"),
        F.expr(
            "CAST(floor(1000000000.0"
            " * CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (CAST(n * sxx - sx * sx AS DOUBLE)"
            "    * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)"
        ).alias("r2_ppb"),
    )


# ---------------------------------------------------------------------------
# events_exponential_gof — KS fit of inter-event gaps to the exponential
# ---------------------------------------------------------------------------


@register(
    "events_exponential_gof",
    oracle="""
    WITH g AS (
      SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events WHERE ts IS NOT NULL
    ),
    gaps AS (
      SELECT CAST((us - lag(us) OVER (PARTITION BY user_id ORDER BY us))
                  // 60000000 AS BIGINT) AS gap_min
      FROM g QUALIFY lag(us) OVER (PARTITION BY user_id ORDER BY us)
        IS NOT NULL
    ),
    cells AS (
      SELECT gap_min, CAST(count(*) AS BIGINT) AS c
      FROM gaps WHERE gap_min >= 0 AND gap_min < 1440
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * gap_min) AS BIGINT) AS s
      FROM cells
    ),
    dev AS (
      SELECT cells.gap_min,
             CAST((1000000000 * sum(c) OVER (ORDER BY gap_min ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW)) // tot.n
                  AS BIGINT) AS ecdf_nano,
             CAST(floor(1000000000.0 * (1.0 - exp(
                  -(CAST(tot.n AS DOUBLE) * (gap_min + 1))
                  / greatest(CAST(tot.s AS DOUBLE), 1.0)))) AS BIGINT)
               AS expcdf_nano
      FROM cells, tot
    )
    SELECT (SELECT n FROM tot) AS n_gaps,
           (SELECT CAST((1000000 * n) // greatest(s, 1) AS BIGINT)
            FROM tot) AS rate_per_min_micro,
           CAST(max(abs(ecdf_nano - expcdf_nano)) AS BIGINT) AS d_nano
    FROM dev
    """,
    doc="Kolmogorov-Smirnov fit of per-user inter-event gaps (whole "
    "minutes, gaps >= 1 day excluded — declared censoring) to the "
    "EXPONENTIAL with the MoM rate lambda = n/sum(gaps): D = sup_m "
    "|ECDF(m) - (1 - e^(-lambda(m+1)))| on the bounded 1440-cell "
    "minute grid — exponential gaps mean memoryless (Poisson) "
    "arrivals, so this is the formal GOF behind the burstiness "
    "descriptors (events_gap_burstiness B, events_gap_memory M, "
    "events_weibull_gaps' shape k: Weibull k=1 IS this null). Both "
    "CDFs quantize to nano PER GRID CELL (the exponential via one "
    "fixed-shape exp over exact integer rate operands — the "
    "quantized-transcendental-per-DOMAIN-cell discipline) and the "
    "sup is an integer max. One user-partitioned lag window + one "
    "bounded grid window.",
)
def events_exponential_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    g = ev.select(
        "user_id", F.expr("unix_micros(ts)").cast("bigint").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    gaps = (
        g.select(
            ((F.col("us") - F.lag("us").over(w)) / 60000000)
            .cast("bigint")
            .alias("gap_min"),
            F.lag("us").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .select("gap_min")
    )
    cells = (
        gaps.filter((F.col("gap_min") >= 0) & (F.col("gap_min") < 1440))
        .groupBy("gap_min")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("gap_min")).cast("bigint").alias("s"),
    )
    wg = Window.orderBy("gap_min").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dev = (
        cells.select(
            "gap_min",
            F.sum("c").over(wg).cast("bigint").alias("cum"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST((1000000000 * cum) div n AS BIGINT)").alias(
                "ecdf_nano"
            ),
            F.expr(
                "CAST(floor(1000000000.0 * (1.0 - exp("
                " -(CAST(n AS DOUBLE) * (gap_min + 1))"
                " / greatest(CAST(s AS DOUBLE), 1.0)))) AS BIGINT)"
            ).alias("expcdf_nano"),
        )
    )
    d = dev.agg(
        F.max(F.abs(F.col("ecdf_nano") - F.col("expcdf_nano")))
        .cast("bigint")
        .alias("d_nano")
    )
    return tot.crossJoin(F.broadcast(d)).select(
        F.col("n").alias("n_gaps"),
        F.expr(
            "CAST((1000000 * n) div greatest(s, 1) AS BIGINT)"
        ).alias("rate_per_min_micro"),
        "d_nano",
    )


# ---------------------------------------------------------------------------
# agg_yule_q — 2x2 association (Yule's Q) of return flag vs line status
# ---------------------------------------------------------------------------


@register(
    "agg_yule_q",
    oracle="""
    WITH c AS (
      SELECT
        CAST(sum(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F'
                 THEN 1 ELSE 0 END) AS HUGEINT) AS a,
        CAST(sum(CASE WHEN l_returnflag = 'R' AND l_linestatus <> 'F'
                 THEN 1 ELSE 0 END) AS HUGEINT) AS b,
        CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_linestatus = 'F'
                 THEN 1 ELSE 0 END) AS HUGEINT) AS cc,
        CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_linestatus <> 'F'
                 THEN 1 ELSE 0 END) AS HUGEINT) AS d
      FROM lineitem
    )
    SELECT CAST(a AS BIGINT) AS n_rf, CAST(b AS BIGINT) AS n_ro,
           CAST(cc AS BIGINT) AS n_of, CAST(d AS BIGINT) AS n_oo,
           CAST(CASE WHEN a * d - b * cc >= 0 THEN 1 ELSE -1 END AS BIGINT)
             AS q_sign,
           CAST((1000000000 * abs(a * d - b * cc))
                // greatest(a * d + b * cc, 1) AS BIGINT) AS q_abs_ppb,
           CAST((1000000 * a * d) // greatest(b * cc, 1) AS BIGINT)
             AS odds_ratio_micro
    FROM c
    """,
    doc="Yule's Q association coefficient on the 2x2 contingency of "
    "(returned lines) x (finalized status): Q = (ad-bc)/(ad+bc), the "
    "odds-ratio mapped onto [-1,1] — the classic 2x2 effect size that, "
    "unlike the phi/Matthews coefficient (agg_matthews_corr), is margin-"
    "free. One map-side conditional count; the cross-products ad/bc are "
    "widened to DECIMAL(38,0) (HUGEINT twin) before multiplication, the "
    "ppb ratio is sign-split around a truncating div (Spark div truncates "
    "toward zero, DuckDB // floors — abs() makes them agree).",
)
def agg_yule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    c = li.agg(
        _dsum(
            F.when(
                (F.col("l_returnflag") == "R")
                & (F.col("l_linestatus") == "F"),
                1,
            ).otherwise(0)
        ).alias("a"),
        _dsum(
            F.when(
                (F.col("l_returnflag") == "R")
                & (F.col("l_linestatus") != "F"),
                1,
            ).otherwise(0)
        ).alias("b"),
        _dsum(
            F.when(
                (F.col("l_returnflag") != "R")
                & (F.col("l_linestatus") == "F"),
                1,
            ).otherwise(0)
        ).alias("cc"),
        _dsum(
            F.when(
                (F.col("l_returnflag") != "R")
                & (F.col("l_linestatus") != "F"),
                1,
            ).otherwise(0)
        ).alias("d"),
    )
    return c.select(
        F.col("a").cast("bigint").alias("n_rf"),
        F.col("b").cast("bigint").alias("n_ro"),
        F.col("cc").cast("bigint").alias("n_of"),
        F.col("d").cast("bigint").alias("n_oo"),
        F.expr(
            "CAST(CASE WHEN a * d - b * cc >= 0 THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("q_sign"),
        F.expr(
            "CAST((1000000000 * abs(a * d - b * cc))"
            " div greatest(a * d + b * cc, 1) AS BIGINT)"
        ).alias("q_abs_ppb"),
        F.expr(
            "CAST((1000000 * a * d) div greatest(b * cc, 1) AS BIGINT)"
        ).alias("odds_ratio_micro"),
    )


# ---------------------------------------------------------------------------
# agg_goodman_kruskal_lambda — proportional-reduction-in-error association
# ---------------------------------------------------------------------------


@register(
    "agg_goodman_kruskal_lambda",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    rowmax AS (
      SELECT CAST(sum(mx) AS BIGINT) AS sum_rowmax
      FROM (SELECT r, max(n) AS mx FROM cells GROUP BY 1)
    ),
    colmax AS (
      SELECT CAST(sum(mx) AS BIGINT) AS sum_colmax
      FROM (SELECT c, max(n) AS mx FROM cells GROUP BY 1)
    ),
    margr AS (
      SELECT CAST(max(s) AS BIGINT) AS max_rowmarg
      FROM (SELECT r, sum(n) AS s FROM cells GROUP BY 1)
    ),
    margc AS (
      SELECT CAST(max(s) AS BIGINT) AS max_colmarg
      FROM (SELECT c, sum(n) AS s FROM cells GROUP BY 1)
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cells)
    SELECT t.n AS n_orders,
           CAST((1000000 * (rm.sum_rowmax - mc.max_colmarg))
                // greatest(t.n - mc.max_colmarg, 1) AS BIGINT)
             AS lambda_c_given_r_ppm,
           CAST((1000000 * (cm.sum_colmax - mr.max_rowmarg))
                // greatest(t.n - mr.max_rowmarg, 1) AS BIGINT)
             AS lambda_r_given_c_ppm
    FROM tot t, rowmax rm, colmax cm, margr mr, margc mc
    """,
    doc="Goodman-Kruskal lambda (proportional reduction in prediction "
    "error) both directions on the bounded 5x3 order-priority x "
    "order-status contingency: lambda_c|r = (sum_r max_c n_rc - max_c "
    "n_.c) / (n - max_c n_.c) — how much knowing the priority improves a "
    "modal guess of the status (and vice versa). A pure integer ratio of "
    "counts, ppm-scaled (numerator is >= 0 by construction, no sign "
    "split needed). One groupBy over 15 bounded cells, then scalar "
    "reductions — the 4 tiny aggregates join by broadcast.",
)
def agg_goodman_kruskal_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("r"),
        F.col("o_orderstatus").alias("c"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rowmax = (
        cells.groupBy("r")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("sum_rowmax"))
    )
    colmax = (
        cells.groupBy("c")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("sum_colmax"))
    )
    margr = (
        cells.groupBy("r")
        .agg(F.sum("n").alias("s"))
        .agg(F.max("s").cast("bigint").alias("max_rowmarg"))
    )
    margc = (
        cells.groupBy("c")
        .agg(F.sum("n").alias("s"))
        .agg(F.max("s").cast("bigint").alias("max_colmarg"))
    )
    tot = cells.agg(F.sum("n").cast("bigint").alias("n"))
    j = (
        tot.crossJoin(F.broadcast(rowmax))
        .crossJoin(F.broadcast(colmax))
        .crossJoin(F.broadcast(margr))
        .crossJoin(F.broadcast(margc))
    )
    return j.select(
        F.col("n").alias("n_orders"),
        F.expr(
            "CAST((1000000 * (sum_rowmax - max_colmarg))"
            " div greatest(n - max_colmarg, 1) AS BIGINT)"
        ).alias("lambda_c_given_r_ppm"),
        F.expr(
            "CAST((1000000 * (sum_colmax - max_rowmarg))"
            " div greatest(n - max_rowmarg, 1) AS BIGINT)"
        ).alias("lambda_r_given_c_ppm"),
    )


# ---------------------------------------------------------------------------
# agg_stuart_tau_c — ordinal association on the bounded priority x status grid
# ---------------------------------------------------------------------------


@register(
    "agg_stuart_tau_c",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c,
             CAST(count(*) AS HUGEINT) AS n
      FROM orders GROUP BY 1, 2
    ),
    pairs AS (
      SELECT
        CAST(sum(CASE WHEN b.r > a.r AND b.c > a.c
                 THEN a.n * b.n ELSE 0 END) AS HUGEINT) AS conc,
        CAST(sum(CASE WHEN b.r > a.r AND b.c < a.c
                 THEN a.n * b.n ELSE 0 END) AS HUGEINT) AS disc
      FROM cells a, cells b
    ),
    tot AS (SELECT CAST(sum(n) AS HUGEINT) AS n FROM cells)
    SELECT CAST(t.n AS BIGINT) AS n_orders,
           CAST(p.conc AS BIGINT) AS concordant,
           CAST(p.disc AS BIGINT) AS discordant,
           CAST(CASE WHEN p.conc >= p.disc THEN 1 ELSE -1 END AS BIGINT)
             AS tau_c_sign,
           CAST((CAST(6000000000 AS HUGEINT) * abs(p.conc - p.disc))
                // greatest(t.n * t.n * (3 - 1), 1) AS BIGINT)
             AS tau_c_abs_ppb
    FROM pairs p, tot t
    """,
    doc="Stuart-Kendall tau-c ordinal association on the bounded 5x3 "
    "order-priority x order-status contingency: tau_c = 2m(C - D) / "
    "(n^2 (m-1)) with m = min(rows, cols) = 3 — the rectangular-table "
    "correction of Kendall's tau-b (agg_kendall_tau covers the paired-"
    "series variant). Concordant/discordant pairs never enumerate rows: "
    "the 15-cell aggregate self-joins (bounded 15x15 broadcast NLJ, "
    "allowlisted), each unordered pair counted exactly once via the "
    "r2 > r1 orientation. All-integer; ppb ratio sign-split around "
    "truncating div.",
)
def agg_stuart_tau_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("r"),
        F.col("o_orderstatus").alias("c"),
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    a = cells.select(
        F.col("r").alias("r1"), F.col("c").alias("c1"),
        F.col("n").alias("n1"),
    )
    b = cells.select(
        F.col("r").alias("r2"), F.col("c").alias("c2"),
        F.col("n").alias("n2"),
    )
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("r2") > F.col("r1")) & (F.col("c2") > F.col("c1")),
                F.col("n1") * F.col("n2"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("conc"),
        F.sum(
            F.when(
                (F.col("r2") > F.col("r1")) & (F.col("c2") < F.col("c1")),
                F.col("n1") * F.col("n2"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("disc"),
    )
    tot = cells.agg(F.sum("n").alias("n"))
    return pairs.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("conc").cast("bigint").alias("concordant"),
        F.col("disc").cast("bigint").alias("discordant"),
        F.expr(
            "CAST(CASE WHEN conc >= disc THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("tau_c_sign"),
        F.expr(
            "CAST((CAST(6000000000 AS DECIMAL(38,0)) * abs(conc - disc))"
            " div greatest(n * n * (3 - 1), 1) AS BIGINT)"
        ).alias("tau_c_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_somers_d — asymmetric ordinal association D(Y|X) on lineitem
# ---------------------------------------------------------------------------


@register(
    "agg_somers_d",
    oracle="""
    WITH cells AS (
      SELECT l_linenumber AS x, CAST(round(l_quantity) AS BIGINT) AS y,
             CAST(count(*) AS HUGEINT) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
      SELECT
        CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                 THEN a.n * b.n ELSE 0 END) AS HUGEINT) AS conc,
        CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                 THEN a.n * b.n ELSE 0 END) AS HUGEINT) AS disc,
        CAST(sum(CASE WHEN b.x > a.x AND b.y = a.y
                 THEN a.n * b.n ELSE 0 END) AS HUGEINT) AS tie_y
      FROM cells a, cells b
    )
    SELECT CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CAST(tie_y AS BIGINT) AS tied_y_only,
           CAST(CASE WHEN conc >= disc THEN 1 ELSE -1 END AS BIGINT)
             AS d_sign,
           CAST((1000000000 * abs(conc - disc))
                // greatest(conc + disc + tie_y, 1) AS BIGINT)
             AS d_abs_ppb
    FROM pairs
    """,
    doc="Somers' D(Y|X) — the asymmetric ordinal association of rounded "
    "quantity (Y) on line number (X): D = (C - D) / (C + D + T_Y), "
    "penalizing only ties on the DEPENDENT variable — the statistic "
    "underneath the Gini/accuracy-ratio family (D(Y|X) of a score vs a "
    "binary outcome IS 2*AUC-1, complementing agg_roc_auc). Pair counts "
    "come from the bounded 7x50 contingency's 350-cell self-join "
    "(broadcast NLJ, allowlisted); each unordered pair is counted once "
    "via the x2 > x1 orientation, T_Y = pairs tied on Y with different "
    "X. All-integer, ppb sign-split.",
)
def agg_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_linenumber").alias("x"),
        F.round("l_quantity").cast("bigint").alias("y"),
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"),
        F.col("n").alias("n1"),
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"),
        F.col("n").alias("n2"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("x2") > F.col("x1")) & (F.col("y2") > F.col("y1")),
                F.col("n1") * F.col("n2"),
            ).otherwise(zero)
        ).alias("conc"),
        F.sum(
            F.when(
                (F.col("x2") > F.col("x1")) & (F.col("y2") < F.col("y1")),
                F.col("n1") * F.col("n2"),
            ).otherwise(zero)
        ).alias("disc"),
        F.sum(
            F.when(
                (F.col("x2") > F.col("x1")) & (F.col("y2") == F.col("y1")),
                F.col("n1") * F.col("n2"),
            ).otherwise(zero)
        ).alias("tie_y"),
    )
    return pairs.select(
        F.col("conc").cast("bigint").alias("concordant"),
        F.col("disc").cast("bigint").alias("discordant"),
        F.col("tie_y").cast("bigint").alias("tied_y_only"),
        F.expr(
            "CAST(CASE WHEN conc >= disc THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("d_sign"),
        F.expr(
            "CAST((1000000000 * abs(conc - disc))"
            " div greatest(conc + disc + tie_y, 1) AS BIGINT)"
        ).alias("d_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_rank_biserial — Mann-Whitney effect size (returned vs non-returned)
# ---------------------------------------------------------------------------


@register(
    "agg_rank_biserial",
    oracle="""
    WITH s AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_a
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    g AS (
      SELECT v, CAST(count(*) AS HUGEINT) AS cnt,
             CAST(sum(is_a) AS HUGEINT) AS cnt_a
      FROM s GROUP BY v
    ),
    r AS (
      SELECT cnt, cnt_a,
             2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS avg_rank2
      FROM g
    ),
    agg AS (
      SELECT CAST(sum(cnt_a) AS HUGEINT) AS n1,
             CAST(sum(cnt - cnt_a) AS HUGEINT) AS n2,
             CAST(sum(cnt_a * avg_rank2) AS HUGEINT) AS r1_twice
      FROM r
    ),
    u AS (
      SELECT n1, n2,
             2 * (2 * r1_twice - 2 * n1 * (n1 + 1)) AS u1_x8
      FROM agg
    )
    SELECT CAST(n1 AS BIGINT) AS n_returned,
           CAST(n2 AS BIGINT) AS n_nonret,
           CAST(u1_x8 // 8 AS BIGINT) AS u1_floor,
           CAST(CASE WHEN 8 * n1 * n2 - u1_x8 >= u1_x8 THEN 1 ELSE -1 END
                AS BIGINT) AS rb_sign,
           CAST((1000000000 * abs(8 * n1 * n2 - 2 * u1_x8))
                // greatest(8 * n1 * n2, 1) AS BIGINT) AS rb_abs_ppb
    FROM u
    """,
    doc="Rank-biserial correlation (Cureton/Wendt): the effect size of the "
    "Mann-Whitney U comparing rounded quantities of returned (R) vs "
    "non-returned (N) lines — rb = 1 - 2U1/(n1 n2), the proportion of "
    "favorable minus unfavorable pairs (agg_cliff_delta's two-sample twin "
    "derived from ranks instead of direct pair counts; agg_mann_whitney "
    "reports the test, this reports the magnitude). Midranks never "
    "materialize per row: the bounded ~50-value quantity grid carries "
    "DOUBLED cumulative midranks (exact integers), U1 is kept as the "
    "8x-scaled integer u1_x8 = 8*(R1 - n1(n1+1)/2), and rb = "
    "(8 n1 n2 - 2 u1_x8)/(8 n1 n2) is emitted sign-split in ppb.",
)
def agg_rank_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    g = li.groupBy(
        F.round("l_quantity").cast("bigint").alias("v")
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).cast("decimal(38,0)").alias("cnt_a"),
    )
    w = Window.orderBy("v")
    r = g.select(
        "cnt",
        "cnt_a",
        (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).alias("avg_rank2"),
    )
    agg = r.agg(
        F.sum("cnt_a").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("n2"),
        F.sum(F.col("cnt_a") * F.col("avg_rank2")).alias("r1_twice"),
    )
    u = agg.select(
        "n1",
        "n2",
        F.expr("2 * (2 * r1_twice - 2 * n1 * (n1 + 1))").alias("u1_x8"),
    )
    return u.select(
        F.col("n1").cast("bigint").alias("n_returned"),
        F.col("n2").cast("bigint").alias("n_nonret"),
        F.expr("CAST(u1_x8 div 8 AS BIGINT)").alias("u1_floor"),
        F.expr(
            "CAST(CASE WHEN 8 * n1 * n2 - u1_x8 >= u1_x8 THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("rb_sign"),
        F.expr(
            "CAST((1000000000 * abs(8 * n1 * n2 - 2 * u1_x8))"
            " div greatest(8 * n1 * n2, 1) AS BIGINT)"
        ).alias("rb_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_weighted_kappa — linear-weighted Cohen's kappa, line-1 vs line-2 class
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_kappa",
    oracle="""
    WITH prs AS (
      SELECT l_orderkey,
             CAST(max(CASE WHEN l_linenumber = 1 THEN
                  (CAST(round(l_quantity) AS BIGINT) - 1) // 13 END)
                  AS BIGINT) AS c1,
             CAST(max(CASE WHEN l_linenumber = 2 THEN
                  (CAST(round(l_quantity) AS BIGINT) - 1) // 13 END)
                  AS BIGINT) AS c2
      FROM lineitem WHERE l_linenumber IN (1, 2)
      GROUP BY 1 HAVING count(*) = 2
    ),
    cells AS (
      SELECT c1, c2, CAST(count(*) AS HUGEINT) AS n
      FROM prs GROUP BY 1, 2
    ),
    obs AS (
      SELECT CAST(sum(abs(c1 - c2) * n) AS HUGEINT) AS w_obs,
             CAST(sum(n) AS HUGEINT) AS n
      FROM cells
    ),
    marg AS (
      SELECT CAST(sum(abs(r.c1 - c.c2) * r.rn * c.cn) AS HUGEINT) AS w_exp
      FROM (SELECT c1, sum(n) AS rn FROM cells GROUP BY 1) r,
           (SELECT c2, sum(n) AS cn FROM cells GROUP BY 1) c
    )
    SELECT CAST(o.n AS BIGINT) AS n_orders,
           CAST(o.w_obs AS BIGINT) AS disagreement_obs,
           CAST(CASE WHEN m.w_exp - o.n * o.w_obs >= 0 THEN 1 ELSE -1 END
                AS BIGINT) AS kappa_sign,
           CAST((1000000000 * abs(m.w_exp - o.n * o.w_obs))
                // greatest(m.w_exp, 1) AS BIGINT) AS kappa_abs_ppb
    FROM obs o, marg m
    """,
    doc="Linear-weighted Cohen's kappa treating each order's line-1 and "
    "line-2 quantity classes (fixed width-13 buckets of the 1..50 "
    "domain, classes 0..3) as two raters: kappa_w = 1 - sum(w_ij O_ij)/n "
    "/ (sum(w_ij R_i C_j)/n^2) with w = |i - j| — partial credit for "
    "near-miss disagreement, which the unweighted agg_cohen_kappa cannot "
    "give. Cleared to the integer identity kappa = (W_exp - n W_obs) / "
    "W_exp over a bounded 4x4 contingency (margins cross-joined at 4x4, "
    "broadcast); ppb sign-split.",
)
def agg_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_linenumber").isin(1, 2)
    )
    prs = (
        li.groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(F.col("l_linenumber") == 1, F.expr(
                    "(CAST(round(l_quantity) AS BIGINT) - 1) div 13"))
            ).alias("c1"),
            F.max(
                F.when(F.col("l_linenumber") == 2, F.expr(
                    "(CAST(round(l_quantity) AS BIGINT) - 1) div 13"))
            ).alias("c2"),
            F.count(F.lit(1)).alias("k"),
        )
        .filter(F.col("k") == 2)
    )
    cells = prs.groupBy("c1", "c2").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    obs = cells.agg(
        F.sum(
            F.abs(F.col("c1") - F.col("c2")).cast("decimal(38,0)")
            * F.col("n")
        ).alias("w_obs"),
        F.sum("n").alias("n"),
    )
    rm = cells.groupBy("c1").agg(F.sum("n").alias("rn"))
    cm = cells.groupBy("c2").agg(F.sum("n").alias("cn"))
    marg = rm.crossJoin(F.broadcast(cm)).agg(
        F.sum(
            F.abs(F.col("c1") - F.col("c2")).cast("decimal(38,0)")
            * F.col("rn")
            * F.col("cn")
        ).alias("w_exp")
    )
    return obs.crossJoin(F.broadcast(marg)).select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("w_obs").cast("bigint").alias("disagreement_obs"),
        F.expr(
            "CAST(CASE WHEN w_exp - n * w_obs >= 0 THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("kappa_sign"),
        F.expr(
            "CAST((1000000000 * abs(w_exp - n * w_obs))"
            " div greatest(w_exp, 1) AS BIGINT)"
        ).alias("kappa_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_geary_ratio — Geary's a (mean-deviation / std-deviation normality ratio)
# ---------------------------------------------------------------------------


@register(
    "agg_geary_ratio",
    oracle="""
    WITH g AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS v,
             CAST(count(*) AS HUGEINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(cnt) AS HUGEINT) AS n,
             CAST(sum(cnt * v) AS HUGEINT) AS s,
             CAST(sum(cnt * v * v) AS HUGEINT) AS s2
      FROM g
    ),
    a AS (
      SELECT t.n, t.s, t.s2,
             CAST(sum(g.cnt * abs(t.n * g.v - t.s)) AS HUGEINT) AS adev
      FROM g, tot t GROUP BY 1, 2, 3
    )
    SELECT CAST(n AS BIGINT) AS n_lines,
           CAST(adev AS BIGINT) AS abs_dev_nscaled,
           CAST((1000000 * adev * adev)
                // greatest(n * n * (n * s2 - s * s), 1) AS BIGINT)
             AS geary_a2_ppm
    FROM a
    """,
    doc="Geary's a ratio (mean absolute deviation / standard deviation) of "
    "rounded quantities — the classical light-tail/heavy-tail normality "
    "diagnostic (a = sqrt(2/pi) ~= 0.7979 under normality, larger for "
    "platykurtic data; the robust companion to agg_jarque_bera's "
    "moment-based test). Squared and cleared to one exact integer "
    "ratio: a^2 = (sum|n v_i - S|)^2 / (n^2 (n sum v^2 - S^2)) — the "
    "n-scaled absolute deviations avoid the rational mean entirely. "
    "Aggregated over the bounded ~50-value grid with the 1-row totals "
    "cross-joined back (broadcast, allowlisted); ppm output.",
)
def agg_geary_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.round("l_quantity").cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"))
    tot = g.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("v")).alias("s"),
        F.sum(F.col("cnt") * F.col("v") * F.col("v")).alias("s2"),
    )
    a = g.crossJoin(F.broadcast(tot)).groupBy("n", "s", "s2").agg(
        F.sum(
            F.col("cnt") * F.abs(F.col("n") * F.col("v") - F.col("s"))
        ).alias("adev")
    )
    return a.select(
        F.col("n").cast("bigint").alias("n_lines"),
        F.col("adev").cast("bigint").alias("abs_dev_nscaled"),
        F.expr(
            "CAST((1000000 * adev * adev)"
            " div greatest(n * n * (n * s2 - s * s), 1) AS BIGINT)"
        ).alias("geary_a2_ppm"),
    )


# ---------------------------------------------------------------------------
# agg_blomqvist_beta — medial (quadrant) correlation of quantity vs discount
# ---------------------------------------------------------------------------


@register(
    "agg_blomqvist_beta",
    oracle="""
    WITH s AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_discount * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    medx AS (
      SELECT min(v) AS mx FROM (
        SELECT x AS v, 2 * sum(count(*)) OVER (ORDER BY x) AS cum2,
               sum(count(*)) OVER () AS n
        FROM s GROUP BY x
      ) WHERE cum2 >= n
    ),
    medy AS (
      SELECT min(v) AS my FROM (
        SELECT y AS v, 2 * sum(count(*)) OVER (ORDER BY y) AS cum2,
               sum(count(*)) OVER () AS n
        FROM s GROUP BY y
      ) WHERE cum2 >= n
    ),
    q AS (
      SELECT
        CAST(sum(CASE WHEN x > mx AND y > my THEN 1 ELSE 0 END) AS HUGEINT)
          AS n_pp,
        CAST(sum(CASE WHEN x < mx AND y < my THEN 1 ELSE 0 END) AS HUGEINT)
          AS n_mm,
        CAST(sum(CASE WHEN x > mx AND y < my THEN 1 ELSE 0 END) AS HUGEINT)
          AS n_pm,
        CAST(sum(CASE WHEN x < mx AND y > my THEN 1 ELSE 0 END) AS HUGEINT)
          AS n_mp
      FROM s, medx, medy
    )
    SELECT CAST(n_pp AS BIGINT) AS n_pp, CAST(n_mm AS BIGINT) AS n_mm,
           CAST(n_pm AS BIGINT) AS n_pm, CAST(n_mp AS BIGINT) AS n_mp,
           CAST(CASE WHEN n_pp + n_mm >= n_pm + n_mp THEN 1 ELSE -1 END
                AS BIGINT) AS beta_sign,
           CAST((1000000000 * abs((n_pp + n_mm) - (n_pm + n_mp)))
                // greatest(n_pp + n_mm + n_pm + n_mp, 1) AS BIGINT)
             AS beta_abs_ppb
    FROM q
    """,
    doc="Blomqvist's beta (medial / quadrant correlation) of rounded "
    "quantity vs discount-percent: split the plane at the two LOWER "
    "MEDIANS (smallest value whose doubled cumulative count reaches n — "
    "exact on the bounded 50-value and 11-value grids), drop points on "
    "either median line, and score concordant minus discordant quadrant "
    "occupancy — the median-resistant cousin of Kendall's tau that "
    "needs only ONE pass of quadrant counts after two tiny grid "
    "cumulations (bounded windows, allowlisted; medians broadcast back). "
    "All-integer, ppb sign-split.",
)
def agg_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = li.select(
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("y"),
    )

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        g = df.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.orderBy("v")
        cum = g.select(
            "v",
            (2 * F.sum("cnt").over(w)).alias("cum2"),
            F.sum("cnt").over(
                Window.partitionBy()
            ).alias("n"),
        )
        return cum.filter(F.col("cum2") >= F.col("n")).agg(
            F.min("v").alias(out)
        )

    medx = lower_median(s, "x", "mx")
    medy = lower_median(s, "y", "my")
    q = (
        s.crossJoin(F.broadcast(medx))
        .crossJoin(F.broadcast(medy))
        .agg(
            _dsum(
                F.when(
                    (F.col("x") > F.col("mx")) & (F.col("y") > F.col("my")),
                    1,
                ).otherwise(0)
            ).alias("n_pp"),
            _dsum(
                F.when(
                    (F.col("x") < F.col("mx")) & (F.col("y") < F.col("my")),
                    1,
                ).otherwise(0)
            ).alias("n_mm"),
            _dsum(
                F.when(
                    (F.col("x") > F.col("mx")) & (F.col("y") < F.col("my")),
                    1,
                ).otherwise(0)
            ).alias("n_pm"),
            _dsum(
                F.when(
                    (F.col("x") < F.col("mx")) & (F.col("y") > F.col("my")),
                    1,
                ).otherwise(0)
            ).alias("n_mp"),
        )
    )
    return q.select(
        F.col("n_pp").cast("bigint").alias("n_pp"),
        F.col("n_mm").cast("bigint").alias("n_mm"),
        F.col("n_pm").cast("bigint").alias("n_pm"),
        F.col("n_mp").cast("bigint").alias("n_mp"),
        F.expr(
            "CAST(CASE WHEN n_pp + n_mm >= n_pm + n_mp THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("beta_sign"),
        F.expr(
            "CAST((1000000000 * abs((n_pp + n_mm) - (n_pm + n_mp)))"
            " div greatest(n_pp + n_mm + n_pm + n_mp, 1) AS BIGINT)"
        ).alias("beta_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# text_good_turing — simple Good-Turing smoothing estimates per language
# ---------------------------------------------------------------------------


@register(
    "text_good_turing",
    oracle="""
    WITH w AS (
      SELECT lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT lang, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY 1, 2
    ),
    fof AS (
      SELECT lang,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             CAST(sum(CASE WHEN c = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n5
      FROM wc GROUP BY 1
    )
    SELECT lang, n AS n_tokens, n1 AS f1, n2 AS f2,
           CAST((1000000000 * n1) // n AS BIGINT) AS unseen_mass_ppb,
           CAST((1000000 * 2 * n2) // greatest(n1, 1) AS BIGINT)
             AS r1_star_micro,
           CAST((1000000 * 3 * n3) // greatest(n2, 1) AS BIGINT)
             AS r2_star_micro,
           CAST((1000000 * 4 * n4) // greatest(n3, 1) AS BIGINT)
             AS r3_star_micro,
           CAST((1000000 * 5 * n5) // greatest(n4, 1) AS BIGINT)
             AS r4_star_micro
    FROM fof ORDER BY lang
    """,
    doc="Simple Good-Turing smoothing panel per language: the adjusted "
    "counts r* = (r+1) N_{r+1} / N_r for r = 1..4 and the Good estimate "
    "of unseen-event probability mass p0 = N_1/N — the count-count "
    "machinery under every classical LM smoother (the discounting "
    "companion to text_kneser_ney_bigram, which fixes the discount "
    "instead of estimating it). Pure integer ratios of the frequency-"
    "of-frequencies spectrum, floor-divided (non-negative, no sign "
    "split); one (lang, word) map-combined rollup then a 5-group "
    "reduce; no windows, no joins.",
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
    wc = w.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    fof = wc.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n"),
        *[
            F.sum(F.when(F.col("c") == r, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n{r}")
            for r in (1, 2, 3, 4, 5)
        ],
    )
    return fof.select(
        "lang",
        F.col("n").alias("n_tokens"),
        F.col("n1").alias("f1"),
        F.col("n2").alias("f2"),
        F.expr("CAST((1000000000 * n1) div n AS BIGINT)").alias(
            "unseen_mass_ppb"
        ),
        F.expr(
            "CAST((1000000 * 2 * n2) div greatest(n1, 1) AS BIGINT)"
        ).alias("r1_star_micro"),
        F.expr(
            "CAST((1000000 * 3 * n3) div greatest(n2, 1) AS BIGINT)"
        ).alias("r2_star_micro"),
        F.expr(
            "CAST((1000000 * 4 * n4) div greatest(n3, 1) AS BIGINT)"
        ).alias("r3_star_micro"),
        F.expr(
            "CAST((1000000 * 5 * n5) div greatest(n4, 1) AS BIGINT)"
        ).alias("r4_star_micro"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# text_chao1_vocab — nonparametric vocabulary-size estimators per source
# ---------------------------------------------------------------------------


@register(
    "text_chao1_vocab",
    oracle="""
    WITH w AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT source, word,
             CAST(count(*) AS BIGINT) AS c,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS dc
      FROM w GROUP BY 1, 2
    ),
    ndoc AS (
      SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS d
      FROM documents GROUP BY 1
    ),
    s AS (
      SELECT w.source,
             CAST(count(*) AS BIGINT) AS v,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
             CAST(sum(CASE WHEN dc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS q1,
             CAST(max(nd.d) AS BIGINT) AS d
      FROM wc w JOIN ndoc nd ON nd.source = w.source
      GROUP BY 1
    )
    SELECT source, v AS n_types, f1, f2, q1 AS n_single_doc_types,
           CAST(1000 * v + CASE WHEN f2 > 0
                THEN (1000 * f1 * f1) // (2 * f2)
                ELSE (1000 * f1 * (f1 - 1)) // 2 END AS BIGINT)
             AS chao1_milli,
           CAST(1000 * v + (1000 * q1 * (d - 1)) // greatest(d, 1)
                AS BIGINT) AS jackknife1_milli
    FROM s ORDER BY source
    """,
    doc="Nonparametric 'how many word types does this source REALLY have' "
    "estimators: abundance-based Chao1 = V + f1^2/(2 f2) (bias-corrected "
    "f1(f1-1)/2 branch when no doubletons) from the token-count "
    "spectrum, and the first-order jackknife V + Q1 (d-1)/d on DOCUMENT "
    "incidence (Q1 = types confined to a single document, d = documents "
    "sampled) — the species-richness view of vocabulary growth that "
    "text_heaps_law_fit approaches by curve-fitting. Both estimators "
    "are exact integer ratios, milli-scaled, over one (source, word) "
    "rollup carrying both a token count and a distinct-doc count; the "
    "tiny per-source document totals join back broadcast.",
)
def text_chao1_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    wc = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.countDistinct("doc_id").cast("bigint").alias("dc"),
    )
    ndoc = docs.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("d")
    )
    s = (
        wc.join(F.broadcast(ndoc), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("v"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("f1"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("f2"),
            F.sum(F.when(F.col("dc") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("q1"),
            F.max("d").cast("bigint").alias("d"),
        )
    )
    return s.select(
        "source",
        F.col("v").alias("n_types"),
        "f1",
        "f2",
        F.col("q1").alias("n_single_doc_types"),
        F.expr(
            "CAST(1000 * v + CASE WHEN f2 > 0"
            " THEN (1000 * f1 * f1) div (2 * f2)"
            " ELSE (1000 * f1 * (f1 - 1)) div 2 END AS BIGINT)"
        ).alias("chao1_milli"),
        F.expr(
            "CAST(1000 * v + (1000 * q1 * (d - 1)) div greatest(d, 1)"
            " AS BIGINT)"
        ).alias("jackknife1_milli"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# events_teager_energy — Teager-Kaiser operator energy of daily volumes
# ---------------------------------------------------------------------------


@register(
    "events_teager_energy",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, x,
             lag(x) OVER (PARTITION BY event_type ORDER BY day) AS xp,
             lead(x) OVER (PARTITION BY event_type ORDER BY day) AS xn
      FROM d
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_interior_days,
           CAST(sum(x * x - xp * xn) AS BIGINT) AS tko_sum,
           CAST(sum(CASE WHEN x * x - xp * xn > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_positive
    FROM l WHERE xp IS NOT NULL AND xn IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
    doc="Teager-Kaiser energy operator summed over each event type's "
    "observed daily-volume series: TKO_t = x_t^2 - x_{t-1} x_{t+1}, the "
    "discrete instantaneous-energy tracker that spikes on abrupt "
    "amplitude or frequency change (an impulse-sensitive complement to "
    "events_burst_detection's rate thresholds — TKO reacts to a single "
    "anomalous day that a mean-window burst score smooths away). Pure "
    "integer lag/lead arithmetic over windows PARTITIONED by type "
    "(never global); interior days only.",
)
def events_teager_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    l = d.select(
        "event_type",
        "x",
        F.lag("x").over(w).alias("xp"),
        F.lead("x").over(w).alias("xn"),
    )
    return (
        l.filter(F.col("xp").isNotNull() & F.col("xn").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_interior_days"),
            F.sum(
                F.col("x") * F.col("x") - F.col("xp") * F.col("xn")
            )
            .cast("bigint")
            .alias("tko_sum"),
            F.sum(
                F.when(
                    F.col("x") * F.col("x") - F.col("xp") * F.col("xn")
                    > 0,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_positive"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# events_mean_crossing_rate — mean-crossing rate of daily volumes
# ---------------------------------------------------------------------------


@register(
    "events_mean_crossing_rate",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s
      FROM d GROUP BY 1
    ),
    l AS (
      SELECT d.event_type, t.n, t.s,
             t.n * d.x - t.s AS dev,
             lag(t.n * d.x - t.s) OVER (PARTITION BY d.event_type
                                        ORDER BY d.day) AS devp
      FROM d JOIN t ON t.event_type = d.event_type
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN dev * devp < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_crossings,
           CAST((1000000 * sum(CASE WHEN dev * devp < 0 THEN 1 ELSE 0 END))
                // greatest(max(n) - 1, 1) AS BIGINT) AS crossing_rate_ppm
    FROM l WHERE devp IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
    doc="Mean-crossing rate of each event type's daily-volume series: the "
    "fraction of consecutive day pairs whose n-scaled deviations "
    "n x_t - S straddle zero (strict sign flip) — the coarse dominant-"
    "frequency / oscillation proxy (white noise crosses ~half the time, "
    "a trending or strongly autocorrelated series far less; the "
    "time-domain sibling of events_vmr_windows). The n-scaled deviation "
    "avoids the rational mean entirely, so the crossing test is an "
    "exact integer product sign check; per-type totals join back "
    "broadcast, lag windows are partitioned by type.",
)
def events_mean_crossing_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    t = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    j = d.join(F.broadcast(t), "event_type")
    w = Window.partitionBy("event_type").orderBy("day")
    dev = (F.col("n") * F.col("x") - F.col("s")).alias("dev")
    l = j.select("event_type", "n", dev, F.lag(dev).over(w).alias("devp"))
    return (
        l.filter(F.col("devp").isNotNull())
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            F.sum(
                F.when(F.col("dev") * F.col("devp") < 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_crossings"),
            F.expr(
                "CAST((1000000 * sum(CASE WHEN dev * devp < 0 THEN 1"
                " ELSE 0 END)) div greatest(max(n) - 1, 1) AS BIGINT)"
            ).alias("crossing_rate_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# events_von_neumann_ratio — successive-difference randomness test
# ---------------------------------------------------------------------------


@register(
    "events_von_neumann_ratio",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    l AS (
      SELECT event_type, x,
             lag(x) OVER (PARTITION BY event_type ORDER BY day) AS xp
      FROM d
    ),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(x * x) AS HUGEINT) AS s2,
             CAST(sum(CASE WHEN xp IS NOT NULL
                      THEN (x - xp) * (x - xp) ELSE 0 END) AS HUGEINT)
               AS sd2
      FROM l GROUP BY 1
    )
    SELECT event_type, n AS n_days,
           CAST(sd2 AS BIGINT) AS sq_diff_sum,
           CAST((1000000 * n * sd2) // greatest(n * s2 - s * s, 1)
                AS BIGINT) AS von_neumann_ppm
    FROM agg ORDER BY event_type
    """,
    doc="Von Neumann ratio (mean-square successive difference over the "
    "variance) of daily volumes per event type: VN = sum (x_t - "
    "x_{t-1})^2 / sum (x_t - xbar)^2 — ~2 for serially independent "
    "series, << 2 under positive autocorrelation (trend/level shifts), "
    ">> 2 for alternation: the raw-series ancestor of orders_durbin_"
    "watson (which tests residuals) and the parametric complement of "
    "agg_runs_test. Cleared to the exact integer ratio n * SD2 / "
    "(n sum x^2 - S^2), ppm floor-div; one partitioned lag window, one "
    "reduce.",
)
def events_von_neumann_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    l = d.select("event_type", "x", F.lag("x").over(w).alias("xp"))
    agg = l.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("s2"),
        F.sum(
            F.when(
                F.col("xp").isNotNull(),
                (F.col("x") - F.col("xp")) * (F.col("x") - F.col("xp")),
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("sd2"),
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("sd2").cast("bigint").alias("sq_diff_sum"),
        F.expr(
            "CAST((1000000 * n * sd2) div greatest(n * s2 - s * s, 1)"
            " AS BIGINT)"
        ).alias("von_neumann_ppm"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# events_permutation_entropy — ordinal-pattern complexity of daily volumes
# ---------------------------------------------------------------------------


@register(
    "events_permutation_entropy",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    tri AS (
      SELECT event_type,
             lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS x1,
             lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x2,
             x AS x3
      FROM d
    ),
    pat AS (
      SELECT event_type,
             9 * (CASE WHEN x1 < x2 THEN 0 WHEN x1 = x2 THEN 1 ELSE 2 END)
             + 3 * (CASE WHEN x2 < x3 THEN 0 WHEN x2 = x3 THEN 1 ELSE 2 END)
             + (CASE WHEN x1 < x3 THEN 0 WHEN x1 = x3 THEN 1 ELSE 2 END)
               AS pattern
      FROM tri WHERE x1 IS NOT NULL AND x2 IS NOT NULL
    ),
    cells AS (
      SELECT event_type, pattern, CAST(count(*) AS BIGINT) AS c
      FROM pat GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n
      FROM cells GROUP BY 1
    )
    SELECT c.event_type,
           CAST(max(t.n) AS BIGINT) AS n_windows,
           CAST(count(*) AS BIGINT) AS n_distinct_patterns,
           CAST(sum(CAST(floor(1000000.0 * c.c *
                ln(CAST(t.n AS DOUBLE) / c.c)) AS BIGINT)) AS BIGINT)
             AS h_nscaled_micro
    FROM cells c JOIN tot t ON t.event_type = c.event_type
    GROUP BY 1 ORDER BY 1
    """,
    doc="Permutation entropy (Bandt-Pompe, order 3, tie-aware) of each "
    "event type's daily-volume series: classify every 3-day window into "
    "one of <= 27 ordinal patterns (the three pairwise comparisons, each "
    "<,=,> — equality gets its own symbol so integer-count ties are "
    "deterministic, not noise-broken), then Shannon entropy of the "
    "pattern distribution — the complexity-vs-regularity axis that "
    "variance-based monitors (events_vmr_windows) cannot see: a strict "
    "up-trend and white noise have similar VMR but opposite pattern "
    "entropy. Per the quantized-ln discipline each of the <= 27 bounded "
    "cells floors 1e6 * c * ln(n/c) to integer micro-nats before the "
    "exact sum (h_nscaled_micro = n*H); lags are partitioned by type.",
)
def events_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    tri = d.select(
        "event_type",
        F.lag("x", 2).over(w).alias("x1"),
        F.lag("x", 1).over(w).alias("x2"),
        F.col("x").alias("x3"),
    )

    def cmp3(a: str, b: str) -> F.Column:
        return (
            F.when(F.col(a) < F.col(b), 0)
            .when(F.col(a) == F.col(b), 1)
            .otherwise(2)
        )

    pat = tri.filter(
        F.col("x1").isNotNull() & F.col("x2").isNotNull()
    ).select(
        "event_type",
        (
            9 * cmp3("x1", "x2") + 3 * cmp3("x2", "x3") + cmp3("x1", "x3")
        ).alias("pattern"),
    )
    cells = pat.groupBy("event_type", "pattern").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    return (
        cells.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_windows"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_patterns"),
            F.sum(
                F.floor(
                    1000000.0
                    * F.col("c")
                    * F.log(F.col("n").cast("double") / F.col("c"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("h_nscaled_micro"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# events_western_electric_rules — SPC zone-rule violations, all-integer
# ---------------------------------------------------------------------------


@register(
    "events_western_electric_rules",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(count(*) AS HUGEINT) * sum(x * x)
               - CAST(sum(x) AS HUGEINT) * sum(x) AS v2
      FROM d GROUP BY 1
    ),
    z AS (
      SELECT d.event_type, d.day,
             t.n * d.x - t.s AS dev,
             CASE WHEN (t.n * d.x - t.s) * (t.n * d.x - t.s) > 9 * t.v2
                  THEN 1 ELSE 0 END AS b3,
             CASE WHEN (t.n * d.x - t.s) * (t.n * d.x - t.s) > 4 * t.v2
                  THEN 1 ELSE 0 END AS b2,
             CASE WHEN (t.n * d.x - t.s) * (t.n * d.x - t.s) > t.v2
                  THEN 1 ELSE 0 END AS b1
      FROM d JOIN t ON t.event_type = d.event_type
    ),
    f AS (
      SELECT event_type,
             b3,
             count(*) OVER w3 AS c3, count(*) OVER w5 AS c5,
             count(*) OVER w8 AS c8,
             sum(CASE WHEN b2 = 1 AND dev > 0 THEN 1 ELSE 0 END) OVER w3
               AS p2,
             sum(CASE WHEN b2 = 1 AND dev < 0 THEN 1 ELSE 0 END) OVER w3
               AS m2,
             sum(CASE WHEN b1 = 1 AND dev > 0 THEN 1 ELSE 0 END) OVER w5
               AS p1,
             sum(CASE WHEN b1 = 1 AND dev < 0 THEN 1 ELSE 0 END) OVER w5
               AS m1,
             sum(CASE WHEN dev > 0 THEN 1 ELSE 0 END) OVER w8 AS p0,
             sum(CASE WHEN dev < 0 THEN 1 ELSE 0 END) OVER w8 AS m0
      FROM z
      WINDOW
        w3 AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        w5 AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        w8 AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(b3) AS BIGINT) AS rule1_beyond_3sigma,
           CAST(sum(CASE WHEN c3 = 3 AND (p2 >= 2 OR m2 >= 2)
                    THEN 1 ELSE 0 END) AS BIGINT) AS rule2_2of3_beyond_2s,
           CAST(sum(CASE WHEN c5 = 5 AND (p1 >= 4 OR m1 >= 4)
                    THEN 1 ELSE 0 END) AS BIGINT) AS rule3_4of5_beyond_1s,
           CAST(sum(CASE WHEN c8 = 8 AND (p0 = 8 OR m0 = 8)
                    THEN 1 ELSE 0 END) AS BIGINT) AS rule4_8_same_side
    FROM f GROUP BY 1 ORDER BY 1
    """,
    doc="Western Electric zone rules over each event type's daily-volume "
    "control chart, with every sigma comparison cleared to exact "
    "integers: (n x - S)^2 vs k^2 (n sum x^2 - S^2) replaces |x - xbar| "
    "vs k sigma, so zone membership never touches a float. Rule 1: "
    "point beyond 3-sigma; rule 2: 2 of 3 consecutive beyond 2-sigma "
    "same side; rule 3: 4 of 5 beyond 1-sigma same side; rule 4: 8 "
    "consecutive on one side — the full classical run-rule battery "
    "that events_shewhart-style 3-sigma-only charts miss (drift shows "
    "in rules 2-4 long before a 3-sigma hit; complements orders_"
    "shewhart_control / orders_ewma_control). Counts flag-days per "
    "rule; bounded ROWS frames partitioned by type, totals broadcast.",
)
def events_western_electric_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    t = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        (
            F.count(F.lit(1)).cast("decimal(38,0)")
            * F.sum(F.col("x") * F.col("x"))
            - F.sum("x").cast("decimal(38,0)") * F.sum("x")
        ).alias("v2"),
    )
    dev = F.col("n") * F.col("x") - F.col("s")
    z = d.join(F.broadcast(t), "event_type").select(
        "event_type",
        "day",
        dev.alias("dev"),
        F.when(dev * dev > 9 * F.col("v2"), 1).otherwise(0).alias("b3"),
        F.when(dev * dev > 4 * F.col("v2"), 1).otherwise(0).alias("b2"),
        F.when(dev * dev > F.col("v2"), 1).otherwise(0).alias("b1"),
    )
    base = Window.partitionBy("event_type").orderBy("day")
    w3 = base.rowsBetween(-2, 0)
    w5 = base.rowsBetween(-4, 0)
    w8 = base.rowsBetween(-7, 0)
    pos = F.when(F.col("dev") > 0, 1).otherwise(0)
    neg = F.when(F.col("dev") < 0, 1).otherwise(0)
    f = z.select(
        "event_type",
        "b3",
        F.count(F.lit(1)).over(w3).alias("c3"),
        F.count(F.lit(1)).over(w5).alias("c5"),
        F.count(F.lit(1)).over(w8).alias("c8"),
        F.sum(F.col("b2") * pos).over(w3).alias("p2"),
        F.sum(F.col("b2") * neg).over(w3).alias("m2"),
        F.sum(F.col("b1") * pos).over(w5).alias("p1"),
        F.sum(F.col("b1") * neg).over(w5).alias("m1"),
        F.sum(pos).over(w8).alias("p0"),
        F.sum(neg).over(w8).alias("m0"),
    )
    return (
        f.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("b3").cast("bigint").alias("rule1_beyond_3sigma"),
            F.sum(
                F.when(
                    (F.col("c3") == 3)
                    & ((F.col("p2") >= 2) | (F.col("m2") >= 2)),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("rule2_2of3_beyond_2s"),
            F.sum(
                F.when(
                    (F.col("c5") == 5)
                    & ((F.col("p1") >= 4) | (F.col("m1") >= 4)),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("rule3_4of5_beyond_1s"),
            F.sum(
                F.when(
                    (F.col("c8") == 8)
                    & ((F.col("p0") == 8) | (F.col("m0") == 8)),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("rule4_8_same_side"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# agg_tukey_quick_test — Tukey's pocket test (exceedance counts) on values
# ---------------------------------------------------------------------------


@register(
    "agg_tukey_quick_test",
    oracle="""
    WITH s AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('purchase', 'click')
        AND value IS NOT NULL
    ),
    ext AS (
      SELECT CAST(max(CASE WHEN is_a = 1 THEN v END) AS BIGINT) AS max_a,
             CAST(min(CASE WHEN is_a = 1 THEN v END) AS BIGINT) AS min_a,
             CAST(max(CASE WHEN is_a = 0 THEN v END) AS BIGINT) AS max_b,
             CAST(min(CASE WHEN is_a = 0 THEN v END) AS BIGINT) AS min_b
      FROM s
    ),
    t AS (
      SELECT
        CAST(sum(CASE WHEN is_a = 1 AND v > e.max_b THEN 1 ELSE 0 END)
             AS BIGINT) AS a_above_b,
        CAST(sum(CASE WHEN is_a = 0 AND v < e.min_a THEN 1 ELSE 0 END)
             AS BIGINT) AS b_below_a,
        CAST(sum(CASE WHEN is_a = 0 AND v > e.max_a THEN 1 ELSE 0 END)
             AS BIGINT) AS b_above_a,
        CAST(sum(CASE WHEN is_a = 1 AND v < e.min_b THEN 1 ELSE 0 END)
             AS BIGINT) AS a_below_b,
        CAST(max(CASE WHEN e.max_a > e.max_b AND e.min_a > e.min_b
                 THEN 1 WHEN e.max_b > e.max_a AND e.min_b > e.min_a
                 THEN -1 ELSE 0 END) AS BIGINT) AS direction
      FROM s, ext e
    )
    SELECT direction,
           CAST(CASE direction WHEN 1 THEN a_above_b + b_below_a
                WHEN -1 THEN b_above_a + a_below_b ELSE 0 END AS BIGINT)
             AS t_statistic,
           CAST(CASE WHEN direction <> 0 AND (CASE direction
                WHEN 1 THEN a_above_b + b_below_a
                ELSE b_above_a + a_below_b END) >= 7
                THEN 1 ELSE 0 END AS BIGINT) AS sig_05,
           CAST(CASE WHEN direction <> 0 AND (CASE direction
                WHEN 1 THEN a_above_b + b_below_a
                ELSE b_above_a + a_below_b END) >= 10
                THEN 1 ELSE 0 END AS BIGINT) AS sig_01,
           CAST(CASE WHEN direction <> 0 AND (CASE direction
                WHEN 1 THEN a_above_b + b_below_a
                ELSE b_above_a + a_below_b END) >= 13
                THEN 1 ELSE 0 END AS BIGINT) AS sig_001
    FROM t
    """,
    doc="Tukey's quick (pocket/Duckworth) test comparing purchase vs "
    "click cent-values: T = (# of the higher-extreme sample strictly "
    "above the other's maximum) + (# of the lower sample strictly below "
    "the other's minimum), valid only when one sample holds the high "
    "extreme and the other the low (direction 0 = one sample spans the "
    "other, T undefined by convention). The folk thresholds 7 / 10 / 13 "
    "(~alpha .05/.01/.001, near-independent of n) are emitted as flags — "
    "the no-tables sanity check beside agg_mann_whitney's full rank "
    "test. Two passes of pure integer count/extremes; the 1-row "
    "extremes cross-join back broadcast (allowlisted).",
)
def agg_tukey_quick_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    )
    s = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_a"
        ),
    )
    ext = s.agg(
        F.max(F.when(F.col("is_a") == 1, F.col("v"))).alias("max_a"),
        F.min(F.when(F.col("is_a") == 1, F.col("v"))).alias("min_a"),
        F.max(F.when(F.col("is_a") == 0, F.col("v"))).alias("max_b"),
        F.min(F.when(F.col("is_a") == 0, F.col("v"))).alias("min_b"),
    )
    t = s.crossJoin(F.broadcast(ext)).agg(
        F.sum(
            F.when((F.col("is_a") == 1) & (F.col("v") > F.col("max_b")), 1)
            .otherwise(0)
        ).cast("bigint").alias("a_above_b"),
        F.sum(
            F.when((F.col("is_a") == 0) & (F.col("v") < F.col("min_a")), 1)
            .otherwise(0)
        ).cast("bigint").alias("b_below_a"),
        F.sum(
            F.when((F.col("is_a") == 0) & (F.col("v") > F.col("max_a")), 1)
            .otherwise(0)
        ).cast("bigint").alias("b_above_a"),
        F.sum(
            F.when((F.col("is_a") == 1) & (F.col("v") < F.col("min_b")), 1)
            .otherwise(0)
        ).cast("bigint").alias("a_below_b"),
        F.max(
            F.when(
                (F.col("max_a") > F.col("max_b"))
                & (F.col("min_a") > F.col("min_b")),
                1,
            )
            .when(
                (F.col("max_b") > F.col("max_a"))
                & (F.col("min_b") > F.col("min_a")),
                -1,
            )
            .otherwise(0)
        ).cast("bigint").alias("direction"),
    )
    tstat = (
        F.when(
            F.col("direction") == 1, F.col("a_above_b") + F.col("b_below_a")
        )
        .when(
            F.col("direction") == -1,
            F.col("b_above_a") + F.col("a_below_b"),
        )
        .otherwise(0)
    )
    return t.select(
        "direction",
        tstat.cast("bigint").alias("t_statistic"),
        F.when((F.col("direction") != 0) & (tstat >= 7), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("sig_05"),
        F.when((F.col("direction") != 0) & (tstat >= 10), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("sig_01"),
        F.when((F.col("direction") != 0) & (tstat >= 13), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("sig_001"),
    )


# ---------------------------------------------------------------------------
# agg_fligner_policello — robust rank-order test via doubled placements
# ---------------------------------------------------------------------------


@register(
    "agg_fligner_policello",
    oracle="""
    WITH s AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('purchase', 'click')
        AND value IS NOT NULL
    ),
    g AS (
      SELECT v, CAST(sum(is_a) AS HUGEINT) AS ca,
             CAST(count(*) - sum(is_a) AS HUGEINT) AS cb
      FROM s GROUP BY v
    ),
    c AS (
      SELECT ca, cb,
             2 * sum(cb) OVER (ORDER BY v) - cb AS pa2,
             2 * sum(ca) OVER (ORDER BY v) - ca AS qb2
      FROM g
    ),
    m AS (
      SELECT CAST(sum(ca) AS HUGEINT) AS m,
             CAST(sum(cb) AS HUGEINT) AS n,
             CAST(sum(ca * pa2) AS HUGEINT) AS sp,
             CAST(sum(cb * qb2) AS HUGEINT) AS sq,
             CAST(sum(ca * pa2 * pa2) AS HUGEINT) AS sp2,
             CAST(sum(cb * qb2 * qb2) AS HUGEINT) AS sq2
      FROM c
    )
    SELECT CAST(m AS BIGINT) AS n_purchase, CAST(n AS BIGINT) AS n_click,
           CAST(sp AS BIGINT) AS placements2_sum,
           CAST(CASE WHEN sp >= sq THEN 1 ELSE -1 END AS BIGINT) AS u_sign,
           CAST((1000000 * m * n * (sp - sq) * (sp - sq))
                // greatest(4 * (n * (m * sp2 - sp * sp)
                                 + m * (n * sq2 - sq * sq)
                                 + sp * sq), 1) AS BIGINT)
             AS u2_micro
    FROM m
    """,
    doc="Fligner-Policello robust rank-order test (purchase vs click "
    "cent-values): unlike Mann-Whitney it does NOT assume equal shapes — "
    "U = (sum P_i - sum Q_j) / (2 sqrt(V_P + V_Q + Pbar Qbar)) built "
    "from placements P_i = #{y < x_i} (+1/2 per tie). DOUBLED placements "
    "over the bounded cent-value grid stay exact integers (pa2 = "
    "2 cum_b - cb at each value), and U^2 clears to ONE integer ratio: "
    "m n (SP - SQ)^2 / (4 [n (m SP2 - SP^2) + m (n SQ2 - SQ^2) + "
    "SP SQ]) — emitted sign-split in micro units. One grid "
    "cumulation (bounded window, allowlisted like agg_mann_whitney's), "
    "one reduce.",
)
def agg_fligner_policello(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    )
    s = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_a"
        ),
    )
    g = s.groupBy("v").agg(
        F.sum("is_a").cast("decimal(38,0)").alias("ca"),
        (F.count(F.lit(1)) - F.sum("is_a"))
        .cast("decimal(38,0)")
        .alias("cb"),
    )
    w = Window.orderBy("v")
    c = g.select(
        "ca",
        "cb",
        (2 * F.sum("cb").over(w) - F.col("cb")).alias("pa2"),
        (2 * F.sum("ca").over(w) - F.col("ca")).alias("qb2"),
    )
    m = c.agg(
        F.sum("ca").alias("m"),
        F.sum("cb").alias("n"),
        F.sum(F.col("ca") * F.col("pa2")).alias("sp"),
        F.sum(F.col("cb") * F.col("qb2")).alias("sq"),
        F.sum(F.col("ca") * F.col("pa2") * F.col("pa2")).alias("sp2"),
        F.sum(F.col("cb") * F.col("qb2") * F.col("qb2")).alias("sq2"),
    )
    return m.select(
        F.col("m").cast("bigint").alias("n_purchase"),
        F.col("n").cast("bigint").alias("n_click"),
        F.col("sp").cast("bigint").alias("placements2_sum"),
        F.expr(
            "CAST(CASE WHEN sp >= sq THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("u_sign"),
        F.expr(
            "CAST((1000000 * m * n * (sp - sq) * (sp - sq))"
            " div greatest(4 * (n * (m * sp2 - sp * sp)"
            " + m * (n * sq2 - sq * sq) + sp * sq), 1) AS BIGINT)"
        ).alias("u2_micro"),
    )


# ---------------------------------------------------------------------------
# agg_pearson_median_skewness — Pearson's second skewness, cleared
# ---------------------------------------------------------------------------


@register(
    "agg_pearson_median_skewness",
    oracle="""
    WITH g AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS v,
             CAST(count(*) AS HUGEINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(cnt) AS HUGEINT) AS n,
             CAST(sum(cnt * v) AS HUGEINT) AS s,
             CAST(sum(cnt * v * v) AS HUGEINT) AS s2
      FROM g
    ),
    med AS (
      SELECT min(v) AS med FROM (
        SELECT v, 2 * sum(cnt) OVER (ORDER BY v) AS cum2, t.n
        FROM g, tot t
      ) WHERE cum2 >= n
    )
    SELECT CAST(t.n AS BIGINT) AS n_lines,
           CAST(m.med AS BIGINT) AS median_qty,
           CAST(CASE WHEN t.s - t.n * m.med >= 0 THEN 1 ELSE -1 END
                AS BIGINT) AS skew_sign,
           CAST((9000000 * (t.s - t.n * m.med) * (t.s - t.n * m.med))
                // greatest(t.n * t.s2 - t.s * t.s, 1) AS BIGINT)
             AS skew2_ppm
    FROM tot t, med m
    """,
    doc="Pearson's second (median) skewness of rounded quantities: "
    "skew = 3 (mean - median) / sigma — the robust-location skewness "
    "that agg_jarque_bera's third moment amplifies and agg_bowley_moors' "
    "quartile form coarsens. Squared and cleared to one exact integer "
    "ratio: skew^2 = 9 (S - n med)^2 / (n sum v^2 - S^2) (population "
    "sigma; the n^2 denominators cancel), sign from S - n med. The "
    "lower median comes off the bounded ~50-value census grid "
    "(2 cum >= n), windows bounded, totals broadcast; ppm sign-split.",
)
def agg_pearson_median_skewness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.round("l_quantity").cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"))
    tot = g.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("v")).alias("s"),
        F.sum(F.col("cnt") * F.col("v") * F.col("v")).alias("s2"),
    )
    w = Window.orderBy("v")
    cum = g.crossJoin(F.broadcast(tot)).select(
        "v", (2 * F.sum("cnt").over(w)).alias("cum2"), "n"
    )
    med = cum.filter(F.col("cum2") >= F.col("n")).agg(
        F.min("v").alias("med")
    )
    return tot.crossJoin(F.broadcast(med)).select(
        F.col("n").cast("bigint").alias("n_lines"),
        F.col("med").cast("bigint").alias("median_qty"),
        F.expr(
            "CAST(CASE WHEN s - n * med >= 0 THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("skew_sign"),
        F.expr(
            "CAST((9000000 * (s - n * med) * (s - n * med))"
            " div greatest(n * s2 - s * s, 1) AS BIGINT)"
        ).alias("skew2_ppm"),
    )


# ---------------------------------------------------------------------------
# agg_watson_u2_uniform — rotation-invariant (centered) uniformity statistic
# ---------------------------------------------------------------------------


@register(
    "agg_watson_u2_uniform",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS d
      FROM lineitem
    ),
    cells AS (
      SELECT d, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY d
    ),
    cum AS (
      SELECT d,
             CAST(sum(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS HUGEINT) AS cumc,
             CAST(sum(c) OVER () AS HUGEINT) AS n
      FROM cells
    ),
    dev AS (
      SELECT n, CAST(count(*) AS HUGEINT) AS k,
             CAST(sum(11 * cumc - (d + 1) * n) AS HUGEINT) AS sd,
             CAST(sum((11 * cumc - (d + 1) * n)
                      * (11 * cumc - (d + 1) * n)) AS HUGEINT) AS sd2
      FROM cum GROUP BY n
    )
    SELECT CAST(n AS BIGINT) AS n_lines, CAST(k AS BIGINT) AS n_cells,
           CAST(sd AS BIGINT) AS dev_sum,
           CAST((1000000 * (k * sd2 - sd * sd))
                // greatest(k * k * 121 * n * n, 1) AS BIGINT)
             AS watson_u2_ppm
    FROM dev
    """,
    doc="Watson-type centered U^2 uniformity statistic of the discount "
    "distribution on its 11-cell tenths lattice: with e_j = F_n(j) - "
    "F_unif(j), U^2 = mean_j (e_j - ebar)^2 — CENTERING the deviations "
    "is Watson's rotation trick, making the statistic invariant to a "
    "common shift of all deviations (an origin/phase change), where the "
    "sup-based agg_ks_uniform_gof (same grid, same scaled integers "
    "d_j = 11 cum_j - (j+1) n) is origin-sensitive. Cleared to one "
    "exact integer ratio (k sum d^2 - (sum d)^2) / (k^2 121 n^2), ppm "
    "floor-div (numerator >= 0 by Cauchy-Schwarz, no sign split); one "
    "11-cell rollup + bounded grid window.",
)
def agg_watson_u2_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = cells.select(
        "d",
        F.sum("c").over(w).cast("decimal(38,0)").alias("cumc"),
        F.sum("c").over(wall).cast("decimal(38,0)").alias("n"),
    )
    dnum = 11 * F.col("cumc") - (F.col("d") + 1) * F.col("n")
    dev = cum.groupBy("n").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum(dnum).alias("sd"),
        F.sum(dnum * dnum).alias("sd2"),
    )
    return dev.select(
        F.col("n").cast("bigint").alias("n_lines"),
        F.col("k").cast("bigint").alias("n_cells"),
        F.col("sd").cast("bigint").alias("dev_sum"),
        F.expr(
            "CAST((1000000 * (k * sd2 - sd * sd))"
            " div greatest(k * k * 121 * n * n, 1) AS BIGINT)"
        ).alias("watson_u2_ppm"),
    )


# ---------------------------------------------------------------------------
# agg_james_stein_shrinkage — positive-part JS estimator of nation means
# ---------------------------------------------------------------------------


@register(
    "agg_james_stein_shrinkage",
    oracle="""
    WITH g AS (
      SELECT c_nationkey,
             CAST(count(*) AS HUGEINT) AS ni,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS HUGEINT)
               AS si,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)
                      * CAST(round(c_acctbal * 100) AS HUGEINT))
                  AS HUGEINT) AS s2i
      FROM customer GROUP BY 1 HAVING count(*) >= 2
    ),
    q AS (
      SELECT c_nationkey, ni,
             CASE WHEN si >= 0 THEN (1000000 * si) // ni
                  ELSE -((1000000 * (-si)) // ni) END AS gm,
             (ni * s2i - si * si) // (ni * ni * (ni - 1)) AS vi
      FROM g
    ),
    tots AS (
      SELECT CAST(count(*) AS HUGEINT) AS k,
             CAST(sum(ni) AS HUGEINT) AS ntot,
             CAST(sum(vi) AS HUGEINT) AS vsum,
             CASE WHEN sum(gm * ni) >= 0
                  THEN sum(gm * ni) // sum(ni)
                  ELSE -((-sum(gm * ni)) // sum(ni)) END AS gg
      FROM q
    ),
    ss AS (
      SELECT t.k, t.gg, (t.vsum // t.k) * CAST(1000000000000 AS HUGEINT)
               AS vbar,
             CAST(sum((q.gm - t.gg) * (q.gm - t.gg)) AS HUGEINT) AS ss
      FROM q, tots t GROUP BY 1, 2, 3
    )
    SELECT q.c_nationkey AS nationkey, CAST(q.ni AS BIGINT) AS n_customers,
           CAST(q.gm AS BIGINT) AS mean_microcents,
           CAST(s.gg + CASE WHEN q.gm >= s.gg
                THEN (greatest(s.ss - (s.k - 3) * s.vbar, 0)
                      * (q.gm - s.gg)) // greatest(s.ss, 1)
                ELSE -((greatest(s.ss - (s.k - 3) * s.vbar, 0)
                        * (s.gg - q.gm)) // greatest(s.ss, 1)) END
                AS BIGINT) AS js_shrunk_microcents
    FROM q, ss s ORDER BY nationkey
    """,
    doc="Positive-part James-Stein shrinkage of per-nation mean account "
    "balances toward the weighted grand mean: shrunk_i = gg + max(1 - "
    "(k-3) vbar / SS, 0) (gm_i - gg) — the empirical-Bayes estimator "
    "that dominates per-group means when k > 3 (the partial-pooling "
    "step a curation pipeline applies before ranking small groups; "
    "complements agg_wilson_ci's per-group uncertainty). Group means, "
    "their sampling variances (s_i^2/n_i) and the grand mean are "
    "FLOOR-QUANTIZED once (means to micro-cents, variances to "
    "cents^2, rescaled exactly; sign-split divs, "
    "documented determinism seam), then the shrinkage factor and the "
    "shrunk means are exact integer arithmetic over those quantized "
    "values on both engines. One customer rollup to 25 nation rows; "
    "scalars broadcast back (allowlisted).",
)
def agg_james_stein_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    g = (
        c.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("ni"),
            F.sum(cents).cast("decimal(38,0)").alias("si"),
            F.sum(cents.cast("decimal(38,0)") * cents).alias("s2i"),
        )
        .filter(F.col("ni") >= 2)
    )
    q = g.select(
        "c_nationkey",
        "ni",
        F.expr(
            "CASE WHEN si >= 0 THEN (1000000 * si) div ni"
            " ELSE -((1000000 * (-si)) div ni) END"
        ).alias("gm"),
        F.expr(
            "(ni * s2i - si * si) div (ni * ni * (ni - 1))"
        ).alias("vi"),
    )
    tots = q.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("ni").alias("ntot"),
        F.sum("vi").alias("vsum"),
        F.expr(
            "CASE WHEN sum(gm * ni) >= 0"
            " THEN sum(gm * ni) div sum(ni)"
            " ELSE -((-sum(gm * ni)) div sum(ni)) END"
        ).alias("gg"),
    )
    ss = q.crossJoin(F.broadcast(tots)).groupBy(
        "k",
        "gg",
        F.expr(
            "(vsum div k) * CAST(1000000000000 AS DECIMAL(38,0))"
        ).alias("vbar"),
    ).agg(
        F.sum(
            (F.col("gm") - F.col("gg")).cast("decimal(38,0)")
            * (F.col("gm") - F.col("gg"))
        ).alias("ss")
    )
    return (
        q.crossJoin(F.broadcast(ss))
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("ni").cast("bigint").alias("n_customers"),
            F.col("gm").cast("bigint").alias("mean_microcents"),
            F.expr(
                "CAST(gg + CASE WHEN gm >= gg"
                " THEN (greatest(ss - (k - 3) * vbar, 0)"
                "       * (gm - gg)) div greatest(ss, 1)"
                " ELSE -((greatest(ss - (k - 3) * vbar, 0)"
                "         * (gg - gm)) div greatest(ss, 1)) END"
                " AS BIGINT)"
            ).alias("js_shrunk_microcents"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# events_hampel_outliers — rolling median/MAD outlier filter, all-integer
# ---------------------------------------------------------------------------


@register(
    "events_hampel_outliers",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    a AS (
      SELECT event_type, x,
             list_sort(array_agg(x) OVER w7) AS arr,
             count(*) OVER w7 AS c7
      FROM d
      WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    m AS (
      SELECT event_type, x, arr[4] AS med,
             list_sort(list_transform(arr, v -> abs(v - arr[4])))[4] AS mad
      FROM a WHERE c7 = 7
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_full_windows,
           CAST(sum(CASE WHEN 10000 * abs(x - med) > 44478 * mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN 10000 * abs(x - med) > 44478 * mad
                    THEN x ELSE 0 END) AS BIGINT) AS flagged_volume
    FROM m GROUP BY 1 ORDER BY 1
    """,
    doc="Hampel filter over each event type's daily volumes: flag day t "
    "when |x_t - med_7(t)| > 3 * 1.4826 * MAD_7(t), with the median and "
    "MAD of the centered 7-day window taken EXACTLY (7 sorted integers, "
    "element 4) and the Gaussian-consistency threshold cleared to the "
    "integer cross-multiplication 10^4 |x - med| > 44478 MAD — the "
    "robust pointwise outlier detector that agg_mad_outliers applies "
    "globally and events_daily_anomaly approximates parametrically; "
    "rolling makes it trend-proof. Bounded 7-row frames partitioned by "
    "type (full windows only); no floats anywhere.",
)
def events_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    a = d.select(
        "event_type",
        "x",
        F.sort_array(F.collect_list("x").over(w7)).alias("arr"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    m = a.filter(F.col("c7") == 7).select(
        "event_type",
        "x",
        F.col("arr").getItem(3).alias("med"),
        F.sort_array(
            F.transform(
                "arr", lambda v: F.abs(v - F.col("arr").getItem(3))
            )
        )
        .getItem(3)
        .alias("mad"),
    )
    flag = 10000 * F.abs(F.col("x") - F.col("med")) > 44478 * F.col("mad")
    return (
        m.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_full_windows"),
            F.sum(F.when(flag, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum(F.when(flag, F.col("x")).otherwise(0))
            .cast("bigint")
            .alias("flagged_volume"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# orders_rosenbluth_index — rank-weighted concentration of nation revenue
# ---------------------------------------------------------------------------


@register(
    "orders_rosenbluth_index",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nation,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    r AS (
      SELECT v, row_number() OVER (ORDER BY v DESC, nation) AS i
      FROM rev
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(v) AS HUGEINT) AS t,
             CAST(sum(i * v) AS HUGEINT) AS iv
      FROM r
    )
    SELECT k AS n_nations,
           CAST(t AS BIGINT) AS total_cents,
           CAST((1000000 * t) // greatest(2 * iv - t, 1) AS BIGINT)
             AS rosenbluth_ppm
    FROM s
    """,
    doc="Rosenbluth (Hall-Tideman) concentration index of order revenue "
    "across customer nations: HTI = 1 / (2 sum_i i s_i - 1) with shares "
    "ranked descending — rank-weighting makes it sensitive to the "
    "TAIL of small players, where the share-squared HHI "
    "(orders_gini_hhi) is dominated by the head. Cleared to the exact "
    "integer ratio T / (2 sum i v_i - T) over revenue cents (the share "
    "denominators cancel), ppm floor-div; rank ties broken by nation "
    "key for determinism. One fact join + 25-row bounded rank window "
    "(allowlisted).",
)
def orders_rosenbluth_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("decimal(38,0)")
            .alias("v")
        )
    )
    w = Window.orderBy(F.col("v").desc(), F.col("nation"))
    r = rev.select("v", F.row_number().over(w).alias("i"))
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("v").alias("t"),
        F.sum(F.col("i") * F.col("v")).alias("iv"),
    )
    return s.select(
        F.col("k").alias("n_nations"),
        F.col("t").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST((1000000 * t) div greatest(2 * iv - t, 1) AS BIGINT)"
        ).alias("rosenbluth_ppm"),
    )


# ---------------------------------------------------------------------------
# orders_pinball_loss — quantile (pinball) loss of the seasonal-naive
# ---------------------------------------------------------------------------


@register(
    "orders_pinball_loss",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS y
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT y, lag(y, 12) OVER (ORDER BY mo) AS f
      FROM m
    ),
    p AS (
      SELECT y, f,
             CASE WHEN y >= f THEN y - f ELSE 0 END AS over_,
             CASE WHEN y < f THEN f - y ELSE 0 END AS under_
      FROM l WHERE f IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(1 * over_ + 9 * under_) AS BIGINT) AS q10_loss_x10,
           CAST(sum(5 * over_ + 5 * under_) AS BIGINT) AS q50_loss_x10,
           CAST(sum(9 * over_ + 1 * under_) AS BIGINT) AS q90_loss_x10,
           CAST(sum(1 * over_ + 9 * under_) // count(*) AS BIGINT)
             AS q10_avg_x10,
           CAST(sum(9 * over_ + 1 * under_) // count(*) AS BIGINT)
             AS q90_avg_x10
    FROM p
    """,
    doc="Pinball (quantile) loss of the seasonal-naive forecast of "
    "monthly revenue at tau = 0.1/0.5/0.9: L_tau = tau (y - f)+ + "
    "(1 - tau) (f - y)+ — the scoring rule that elicits QUANTILE "
    "forecasts, the asymmetric companion to orders_mape_backtest / "
    "orders_mase_seasonal_naive (which score the median only); the "
    "0.1/0.9 pair prices under- vs over-forecasting differently, the "
    "newsvendor connection (orders_newsvendor_fractile) made "
    "operational. With tau in tenths the losses are exact cent "
    "integers scaled x10. One monthly rollup + bounded ~80-month "
    "lag-12 window (allowlisted); tau = 0.5 twice equals the absolute "
    "error, pinned in tests.",
)
def orders_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mo")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("y")
    )
    w = Window.orderBy("mo")
    l = m.select("y", F.lag("y", 12).over(w).alias("f"))
    p = l.filter(F.col("f").isNotNull()).select(
        F.when(F.col("y") >= F.col("f"), F.col("y") - F.col("f"))
        .otherwise(0)
        .alias("over_"),
        F.when(F.col("y") < F.col("f"), F.col("f") - F.col("y"))
        .otherwise(0)
        .alias("under_"),
    )
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum(1 * F.col("over_") + 9 * F.col("under_"))
        .cast("bigint")
        .alias("q10_loss_x10"),
        F.sum(5 * F.col("over_") + 5 * F.col("under_"))
        .cast("bigint")
        .alias("q50_loss_x10"),
        F.sum(9 * F.col("over_") + 1 * F.col("under_"))
        .cast("bigint")
        .alias("q90_loss_x10"),
        F.expr(
            "CAST(sum(1 * over_ + 9 * under_) div count(*) AS BIGINT)"
        ).alias("q10_avg_x10"),
        F.expr(
            "CAST(sum(9 * over_ + 1 * under_) div count(*) AS BIGINT)"
        ).alias("q90_avg_x10"),
    )


# ---------------------------------------------------------------------------
# orders_shift_share — regional growth decomposition 1996 -> 2000
# ---------------------------------------------------------------------------


@register(
    "orders_shift_share",
    oracle="""
    WITH cells AS (
      SELECT c.c_nationkey AS nation, o.o_orderpriority AS pri,
             CAST(sum(CASE WHEN year(o.o_orderdate) = 1996
                  THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS HUGEINT) AS ra,
             CAST(sum(CASE WHEN year(o.o_orderdate) = 2000
                  THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                  ELSE 0 END) AS HUGEINT) AS rb
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE year(o.o_orderdate) IN (1996, 2000)
      GROUP BY 1, 2
    ),
    ptot AS (
      SELECT pri, CAST(sum(ra) AS HUGEINT) AS rpa,
             CAST(sum(rb) AS HUGEINT) AS rpb
      FROM cells GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(ra) AS HUGEINT) AS ta,
             CAST(sum(rb) AS HUGEINT) AS tb
      FROM cells
    ),
    terms AS (
      SELECT c.nation, c.ra, c.rb,
             CASE WHEN t.tb >= t.ta
                  THEN (1000 * c.ra * (t.tb - t.ta)) // greatest(t.ta, 1)
                  ELSE -((1000 * c.ra * (t.ta - t.tb)) // greatest(t.ta, 1))
             END AS ns_milli,
             CASE WHEN p.rpb * t.ta >= t.tb * p.rpa
                  THEN (1000 * c.ra * (p.rpb * t.ta - t.tb * p.rpa))
                       // greatest(p.rpa * t.ta, 1)
                  ELSE -((1000 * c.ra * (t.tb * p.rpa - p.rpb * t.ta))
                         // greatest(p.rpa * t.ta, 1))
             END AS im_milli,
             1000 * c.rb - (1000 * c.ra * p.rpb) // greatest(p.rpa, 1)
               AS ce_milli
      FROM cells c JOIN ptot p ON p.pri = c.pri, tot t
    )
    SELECT nation,
           CAST(sum(rb - ra) AS BIGINT) AS change_cents,
           CAST(sum(ns_milli) AS BIGINT) AS national_share_milli,
           CAST(sum(im_milli) AS BIGINT) AS industry_mix_milli,
           CAST(sum(ce_milli) AS BIGINT) AS competitive_milli
    FROM terms GROUP BY 1 ORDER BY 1
    """,
    doc="Shift-share decomposition of each nation's order-revenue change "
    "1996 -> 2000 with order priority as the 'industry' mix dimension: "
    "change = NS + IM + CE where NS = r_A (G - 1) (national growth "
    "effect), IM = sum_p r_pA (G_p - G) (priority-mix effect) and CE = "
    "sum_p [r_pB - r_pA G_p] (local competitive effect) — the regional-"
    "economics attribution that answers 'did this nation grow because "
    "the market grew, because it held fast-growing priorities, or "
    "because it out-competed?' (the decomposition sibling of orders_"
    "price_volume_mix). Each term is a rational with denominator R_A "
    "or R_pA R_A, floor-quantized to milli-cents per bounded (nation, "
    "priority) cell (sign-split divs) then summed exactly; the exact "
    "unquantized identity NS+IM+CE = change is pinned in tests. One "
    "fact join, 125 bounded cells, scalar totals broadcast "
    "(allowlisted).",
)
def orders_shift_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1996, 2000)
    )
    c = table(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(
            F.sum(
                F.when(F.year("o_orderdate") == 1996, cents).otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("ra"),
            F.sum(
                F.when(F.year("o_orderdate") == 2000, cents).otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("rb"),
        )
    )
    ptot = cells.groupBy("pri").agg(
        F.sum("ra").alias("rpa"), F.sum("rb").alias("rpb")
    )
    tot = cells.agg(F.sum("ra").alias("ta"), F.sum("rb").alias("tb"))
    terms = (
        cells.join(F.broadcast(ptot), "pri")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "ra",
            "rb",
            F.expr(
                "CASE WHEN tb >= ta"
                " THEN (1000 * ra * (tb - ta)) div greatest(ta, 1)"
                " ELSE -((1000 * ra * (ta - tb)) div greatest(ta, 1))"
                " END"
            ).alias("ns_milli"),
            F.expr(
                "CASE WHEN rpb * ta >= tb * rpa"
                " THEN (1000 * ra * (rpb * ta - tb * rpa))"
                "      div greatest(rpa * ta, 1)"
                " ELSE -((1000 * ra * (tb * rpa - rpb * ta))"
                "        div greatest(rpa * ta, 1))"
                " END"
            ).alias("im_milli"),
            F.expr(
                "1000 * rb - (1000 * ra * rpb) div greatest(rpa, 1)"
            ).alias("ce_milli"),
        )
    )
    return (
        terms.groupBy("nation")
        .agg(
            F.sum(F.col("rb") - F.col("ra"))
            .cast("bigint")
            .alias("change_cents"),
            F.sum("ns_milli").cast("bigint").alias("national_share_milli"),
            F.sum("im_milli").cast("bigint").alias("industry_mix_milli"),
            F.sum("ce_milli").cast("bigint").alias("competitive_milli"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# orders_gehan_wilcoxon — generalized Wilcoxon test for censored durations
# ---------------------------------------------------------------------------


@register(
    "orders_gehan_wilcoxon",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    ft AS (
      SELECT o_custkey,
             max(CASE WHEN rn = 1 THEN o_orderdate END) AS t1,
             max(CASE WHEN rn = 2 THEN o_orderdate END) AS t2
      FROM o2 WHERE rn <= 2 GROUP BY 1
    ),
    mx AS (SELECT max(o_orderdate) AS tmax FROM orders),
    obs AS (
      SELECT CAST(CASE WHEN f.t2 IS NOT NULL
                  THEN date_diff('day', CAST(f.t1 AS DATE),
                                 CAST(f.t2 AS DATE))
                  ELSE date_diff('day', CAST(f.t1 AS DATE),
                                 CAST(m.tmax AS DATE)) END AS BIGINT)
               AS dur,
             CAST(CASE WHEN f.t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS ev,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
               AS in_a
      FROM ft f JOIN customer c ON c.c_custkey = f.o_custkey, mx m
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    grid AS (
      SELECT dur,
             CAST(sum(ev) AS HUGEINT) AS e,
             CAST(count(*) - sum(ev) AS HUGEINT) AS cns,
             CAST(sum(CASE WHEN in_a = 1 THEN ev ELSE 0 END) AS HUGEINT)
               AS ea,
             CAST(sum(CASE WHEN in_a = 1 THEN 1 - ev ELSE 0 END)
                  AS HUGEINT) AS ca
      FROM obs GROUP BY 1
    ),
    tots AS (
      SELECT CAST(sum(CASE WHEN in_a = 1 THEN 1 ELSE 0 END) AS HUGEINT)
               AS m,
             CAST(sum(CASE WHEN in_a = 0 THEN 1 ELSE 0 END) AS HUGEINT)
               AS n,
             CAST(count(*) AS HUGEINT) AS ntot
      FROM obs
    ),
    cum AS (
      SELECT dur, e, cns, ea, ca,
             sum(e) OVER (ORDER BY dur) AS cum_e,
             sum(e + cns) OVER (ORDER BY dur) AS cum_all
      FROM grid
    ),
    u AS (
      SELECT ea, ca, e, cns,
             (cum_e - e) - ((t.ntot - cum_all) + cns) AS u_ev,
             cum_e AS u_cens,
             t.m, t.n, t.ntot
      FROM cum, tots t
    ),
    s AS (
      SELECT max(m) AS m, max(n) AS n, max(ntot) AS ntot,
             CAST(sum(ea * u_ev + ca * u_cens) AS HUGEINT) AS w,
             CAST(sum(e * u_ev * u_ev + cns * u_cens * u_cens) AS HUGEINT)
               AS su2
      FROM u
    )
    SELECT CAST(m AS BIGINT) AS n_building, CAST(n AS BIGINT) AS n_machinery,
           CAST(w AS BIGINT) AS gehan_w,
           CAST(CASE WHEN w >= 0 THEN 1 ELSE -1 END AS BIGINT) AS w_sign,
           CAST((1000 * w * w * (m + n) * (m + n - 1))
                // greatest(m * n * su2, 1) AS BIGINT) AS z2_milli
    FROM s
    """,
    doc="Gehan-Breslow generalized Wilcoxon test comparing repeat-purchase "
    "time (first -> second order, censored at the horizon like orders_"
    "survival_km) between BUILDING and MACHINERY customers: W = "
    "sum_{i in A} U_i with U_i = #{clearly shorter} - #{clearly longer} "
    "over the combined sample (within-group terms cancel by "
    "antisymmetry) — the early-difference-weighted alternative to "
    "orders_logrank_test (Gehan weights by n_risk, so it powers on "
    "early separation where logrank weights late). Placement counts "
    "come entirely from cumulative sums over the bounded duration-day "
    "grid: U_event = E_{<t} - (N_{>t} + C_{=t}), U_censored = E_{<=t}, "
    "and the permutation variance Var W = mn/((m+n)(m+n-1)) sum U_k^2 "
    "clears z^2 to one exact integer ratio (milli, sign split). No "
    "per-observation rows ever materialize.",
)
def orders_gehan_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    w2 = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    ft = (
        o.select(
            "o_custkey", "o_orderdate", F.row_number().over(w2).alias("rn")
        )
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias(
                "t1"
            ),
            F.max(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias(
                "t2"
            ),
        )
    )
    mx = o.agg(F.max("o_orderdate").alias("tmax"))
    obs = (
        ft.join(c, ft.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("t2").isNotNull(),
                F.datediff(
                    F.col("t2").cast("date"), F.col("t1").cast("date")
                ),
            )
            .otherwise(
                F.datediff(
                    F.col("tmax").cast("date"), F.col("t1").cast("date")
                )
            )
            .cast("bigint")
            .alias("dur"),
            F.col("t2").isNotNull().cast("bigint").alias("ev"),
            (F.col("c_mktsegment") == "BUILDING")
            .cast("bigint")
            .alias("in_a"),
        )
    )
    grid = obs.groupBy("dur").agg(
        F.sum("ev").cast("decimal(38,0)").alias("e"),
        (F.count(F.lit(1)) - F.sum("ev"))
        .cast("decimal(38,0)")
        .alias("cns"),
        F.sum(F.when(F.col("in_a") == 1, F.col("ev")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ea"),
        F.sum(F.when(F.col("in_a") == 1, 1 - F.col("ev")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ca"),
    )
    tots = obs.agg(
        F.sum(F.when(F.col("in_a") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("m"),
        F.sum(F.when(F.col("in_a") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("ntot"),
    )
    wcum = Window.orderBy("dur")
    cum = grid.select(
        "dur",
        "e",
        "cns",
        "ea",
        "ca",
        F.sum("e").over(wcum).alias("cum_e"),
        F.sum(F.col("e") + F.col("cns")).over(wcum).alias("cum_all"),
    )
    u = cum.crossJoin(F.broadcast(tots)).select(
        "ea",
        "ca",
        "e",
        "cns",
        "m",
        "n",
        (
            (F.col("cum_e") - F.col("e"))
            - ((F.col("ntot") - F.col("cum_all")) + F.col("cns"))
        ).alias("u_ev"),
        F.col("cum_e").alias("u_cens"),
    )
    s = u.agg(
        F.max("m").alias("m"),
        F.max("n").alias("n"),
        F.sum(
            F.col("ea") * F.col("u_ev") + F.col("ca") * F.col("u_cens")
        ).alias("w"),
        F.sum(
            F.col("e") * F.col("u_ev") * F.col("u_ev")
            + F.col("cns") * F.col("u_cens") * F.col("u_cens")
        ).alias("su2"),
    )
    from mongodb_nats_connector_spark.plans.caching import (
        persist_until_collected,
    )

    out = s.select(
        F.col("m").cast("bigint").alias("n_building"),
        F.col("n").cast("bigint").alias("n_machinery"),
        F.col("w").cast("bigint").alias("gehan_w"),
        F.expr(
            "CAST(CASE WHEN w >= 0 THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("w_sign"),
        F.expr(
            "CAST((1000 * w * w * (m + n) * (m + n - 1))"
            " div greatest(m * n * su2, 1) AS BIGINT)"
        ).alias("z2_milli"),
    )
    return persist_until_collected(obs, out)


# ---------------------------------------------------------------------------
# orders_isotonic_monthly — isotonic (PAVA) fit of monthly mean order value
# ---------------------------------------------------------------------------


@register(
    "orders_isotonic_monthly",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS s,
             CAST(count(*) AS HUGEINT) AS cnt
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT mo, s, cnt,
             CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS i,
             CAST(sum(s) OVER (ORDER BY mo) AS HUGEINT) AS pm,
             CAST(sum(cnt) OVER (ORDER BY mo) AS HUGEINT) AS cm
      FROM m
    ),
    pref AS (
      SELECT i, pm, cm FROM idx
      UNION ALL SELECT 0, CAST(0 AS HUGEINT), CAST(0 AS HUGEINT)
    ),
    iv AS (
      SELECT a.i AS j, b.i AS k,
             (1000000 * (b.pm - a.pm)) // (b.cm - a.cm) AS avg_micro
      FROM pref a JOIN pref b ON b.i > a.i
    ),
    tri AS (
      SELECT x.i, v.j, min(v.avg_micro) AS mn
      FROM idx x JOIN iv v ON v.j < x.i AND x.i <= v.k
      GROUP BY 1, 2
    ),
    fit AS (
      SELECT i, max(mn) AS fitted FROM tri GROUP BY 1
    )
    SELECT CAST(x.mo AS DATE) AS month,
           CAST(x.cnt AS BIGINT) AS n_orders,
           CAST((1000000 * x.s) // x.cnt AS BIGINT) AS mean_microcents,
           CAST(f.fitted AS BIGINT) AS isotonic_microcents
    FROM idx x JOIN fit f ON f.i = x.i
    ORDER BY month
    """,
    doc="Isotonic (monotone nondecreasing) regression of monthly mean "
    "order value via the max-min formula: fitted_i = max_{j <= i} "
    "min_{k >= i} avg(y_{j..k}) — the closed form of the pool-adjacent-"
    "violators solution (pinned against a pure-python PAVA in tests), "
    "the shape-constrained trend fit a calibration or monotone-demand "
    "model needs where orders_segmented_regression imposes a "
    "parametric form. Interval means over prefix sums are floor-"
    "quantized to integer micro-cents once (the determinism seam), "
    "then the max-min lattice is exact integer comparisons. All joins "
    "are over the bounded ~80-month grid (range NLJs, allowlisted; "
    "~85k bounded tuples), invisible next to the fact-table rollup.",
)
def orders_isotonic_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mo")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("s"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"),
    )
    w = Window.orderBy("mo")
    idx = m.select(
        "mo",
        "s",
        "cnt",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.sum("s").over(w).alias("pm"),
        F.sum("cnt").over(w).alias("cm"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    pref = idx.select("i", "pm", "cm").unionAll(
        idx.limit(1).select(
            F.lit(0).cast("bigint").alias("i"),
            zero.alias("pm"),
            zero.alias("cm"),
        )
    )
    a = pref.select(
        F.col("i").alias("j"), F.col("pm").alias("pj"),
        F.col("cm").alias("cj"),
    )
    b = pref.select(
        F.col("i").alias("k"), F.col("pm").alias("pk"),
        F.col("cm").alias("ck"),
    )
    iv = a.join(F.broadcast(b), F.col("k") > F.col("j")).select(
        "j",
        "k",
        F.expr("(1000000 * (pk - pj)) div (ck - cj)").alias("avg_micro"),
    )
    tri = (
        idx.select("i")
        .join(
            F.broadcast(iv),
            (F.col("j") < F.col("i")) & (F.col("i") <= F.col("k")),
        )
        .groupBy("i", "j")
        .agg(F.min("avg_micro").alias("mn"))
    )
    fit = tri.groupBy("i").agg(F.max("mn").alias("fitted"))
    return (
        idx.join(fit, "i")
        .select(
            F.col("mo").cast("date").alias("month"),
            F.col("cnt").cast("bigint").alias("n_orders"),
            F.expr("CAST((1000000 * s) div cnt AS BIGINT)").alias(
                "mean_microcents"
            ),
            F.col("fitted").cast("bigint").alias("isotonic_microcents"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# orders_cumulative_incidence — Aalen-Johansen competing-risks curves
# ---------------------------------------------------------------------------


@register(
    "orders_cumulative_incidence",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate, o_orderstatus,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    ft AS (
      SELECT o_custkey,
             max(CASE WHEN rn = 1 THEN o_orderdate END) AS t1,
             max(CASE WHEN rn = 2 THEN o_orderdate END) AS t2,
             max(CASE WHEN rn = 2 THEN o_orderstatus END) AS cause
      FROM o2 WHERE rn <= 2 GROUP BY 1
    ),
    mx AS (SELECT max(o_orderdate) AS tmax FROM orders),
    obs AS (
      SELECT CAST(CASE WHEN f.t2 IS NOT NULL
                  THEN date_diff('day', CAST(f.t1 AS DATE),
                                 CAST(f.t2 AS DATE))
                  ELSE date_diff('day', CAST(f.t1 AS DATE),
                                 CAST(m.tmax AS DATE)) END AS BIGINT)
               AS dur,
             f.cause
      FROM ft f, mx m
    ),
    grid AS (
      SELECT dur,
             CAST(sum(CASE WHEN cause = 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS df,
             CAST(sum(CASE WHEN cause = 'O' THEN 1 ELSE 0 END) AS BIGINT)
               AS do_,
             CAST(sum(CASE WHEN cause = 'P' THEN 1 ELSE 0 END) AS BIGINT)
               AS dp,
             CAST(sum(CASE WHEN cause IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS cns
      FROM obs GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs),
    sw AS (
      SELECT dur, df, do_, dp, cns, df + do_ + dp AS d,
             t.n - coalesce(sum(df + do_ + dp + cns) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n_risk
      FROM grid, tot t
    ),
    lt AS (
      SELECT dur, df, do_, dp, cns, d, n_risk,
             exp(coalesce(sum(CASE WHEN n_risk > d THEN
                   round(ln((n_risk - d) * 1.0 / n_risk), 9) END) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0)) AS s_minus
      FROM sw
    )
    SELECT dur AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
           df AS n_to_f, do_ AS n_to_o, dp AS n_to_p,
           cns AS n_censored,
           round(sum(s_minus * (CAST(df AS DOUBLE) / n_risk))
                 OVER (ORDER BY dur), 6) AS cif_f,
           round(sum(s_minus * (CAST(do_ AS DOUBLE) / n_risk))
                 OVER (ORDER BY dur), 6) AS cif_o,
           round(sum(s_minus * (CAST(dp AS DOUBLE) / n_risk))
                 OVER (ORDER BY dur), 6) AS cif_p
    FROM lt
    """,
    doc="Aalen-Johansen cumulative incidence of repeat purchase split by "
    "COMPETING second-order outcome (status F / O / P as causes, "
    "censored at the horizon): CIF_k(t) = sum_{s <= t} S(s-) d_k(s) / "
    "n(s) with S the ALL-cause Kaplan-Meier — the estimator that fixes "
    "the 1-KM-per-cause overestimate (causes compete for the same "
    "customers; the three CIFs here sum to 1 - S, pinned in tests). "
    "Same machinery and determinism scheme as orders_survival_km: "
    "exact integer risk sets over the bounded duration grid, "
    "exp-sum-ln product limit with per-term 9-digit rounding, "
    "frame-ordered running sums for the CIFs (round 6). The curve "
    "relation is duration-cardinality-sized, never fact-sized.",
)
def orders_cumulative_incidence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w2 = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    ft = (
        o.select(
            "o_custkey",
            "o_orderdate",
            "o_orderstatus",
            F.row_number().over(w2).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias(
                "t1"
            ),
            F.max(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias(
                "t2"
            ),
            F.max(F.when(F.col("rn") == 2, F.col("o_orderstatus"))).alias(
                "cause"
            ),
        )
    )
    mx = o.agg(F.max("o_orderdate").alias("tmax"))
    obs = ft.crossJoin(F.broadcast(mx)).select(
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
        "cause",
    )
    grid = obs.groupBy("dur").agg(
        F.sum(F.when(F.col("cause") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("df"),
        F.sum(F.when(F.col("cause") == "O", 1).otherwise(0))
        .cast("bigint")
        .alias("do_"),
        F.sum(F.when(F.col("cause") == "P", 1).otherwise(0))
        .cast("bigint")
        .alias("dp"),
        F.sum(F.when(F.col("cause").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("cns"),
    )
    tot = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wprev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sw = grid.crossJoin(F.broadcast(tot)).select(
        "dur",
        "df",
        "do_",
        "dp",
        "cns",
        (F.col("df") + F.col("do_") + F.col("dp")).alias("d"),
        (
            F.col("n")
            - F.coalesce(
                F.sum(
                    F.col("df") + F.col("do_") + F.col("dp") + F.col("cns")
                ).over(wprev),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    lnterm = F.when(
        F.col("n_risk") > F.col("d"),
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")) * 1.0 / F.col("n_risk")
            ),
            9,
        ),
    )
    lt = sw.select(
        "dur",
        "df",
        "do_",
        "dp",
        "cns",
        "d",
        "n_risk",
        F.exp(F.coalesce(F.sum(lnterm).over(wprev), F.lit(0.0))).alias(
            "s_minus"
        ),
    )
    wcum = Window.orderBy("dur")
    out = lt.select(
        F.col("dur").alias("duration_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("df").alias("n_to_f"),
        F.col("do_").alias("n_to_o"),
        F.col("dp").alias("n_to_p"),
        F.col("cns").alias("n_censored"),
        F.round(
            F.sum(
                F.col("s_minus")
                * (F.col("df").cast("double") / F.col("n_risk"))
            ).over(wcum),
            6,
        ).alias("cif_f"),
        F.round(
            F.sum(
                F.col("s_minus")
                * (F.col("do_").cast("double") / F.col("n_risk"))
            ).over(wcum),
            6,
        ).alias("cif_o"),
        F.round(
            F.sum(
                F.col("s_minus")
                * (F.col("dp").cast("double") / F.col("n_risk"))
            ).over(wcum),
            6,
        ).alias("cif_p"),
    )
    from mongodb_nats_connector_spark.plans.caching import (
        persist_until_collected,
    )

    return persist_until_collected(obs, out)


# ---------------------------------------------------------------------------
# multimodal_tiff_ifd_parse — dual-endian TIFF IFD directory walk
# ---------------------------------------------------------------------------


def _hex_be16(c: F.Column) -> F.Column:
    return F.lpad(F.hex(c), 4, "0")


def _hex_le16(c: F.Column) -> F.Column:
    b = _hex_be16(c)
    return F.concat(F.substring(b, 3, 2), F.substring(b, 1, 2))


def _hex_be32(c: F.Column) -> F.Column:
    return F.lpad(F.hex(c), 8, "0")


def _hex_le32(c: F.Column) -> F.Column:
    b = _hex_be32(c)
    return F.concat(
        F.substring(b, 7, 2),
        F.substring(b, 5, 2),
        F.substring(b, 3, 2),
        F.substring(b, 1, 2),
    )


@register(
    "multimodal_tiff_ifd_parse",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 2 AS BIGINT) AS is_little_endian,
           CAST(doc_id % 4000 + 1 AS BIGINT) AS width,
           CAST((doc_id * 3) % 3000 + 1 AS BIGINT) AS height,
           CAST(8 * (doc_id % 4 + 1) AS BIGINT) AS bits_per_sample,
           CAST(3 + doc_id % 3 AS BIGINT) AS n_entries
    FROM documents ORDER BY doc_id
    """,
    doc="REAL dual-endian TIFF IFD walking under the driver's hash check: "
    "per doc, construct a complete TIFF container (II/MM byte-order "
    "header chosen by doc parity, magic 42, IFD offset, 3-5 sorted "
    "12-byte LONG entries incl. ImageWidth/ImageLength/BitsPerSample, "
    "terminating next-IFD pointer — all composed as endian-correct hex "
    "column expressions) and recover byte order, dimensions, bit depth "
    "and the entry census with the real stdlib walker "
    "(multimodal.walk_tiff_ifd). TIFF adds the one container grammar "
    "the PNG/GIF/mp4/WAV walkers don't cover: ENDIAN-POLYMORPHIC "
    "offset-directory layout, where every multi-byte field's decode "
    "depends on the 2-byte prologue. Map-only; zero shuffles.",
)
def multimodal_tiff_ifd_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.multimodal import (
        TIFF_IFD_SCHEMA,
        _tiff_ifd_batches,
    )

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (F.col("doc_id") % 2).alias("le"),
        (F.col("doc_id") % 4000 + 1).alias("w"),
        ((F.col("doc_id") * 3) % 3000 + 1).alias("h"),
        (8 * (F.col("doc_id") % 4 + 1)).alias("bits"),
        (F.col("doc_id") % 3).alias("n_extra"),
    )
    is_le = F.col("le") == 1

    def u16(c):
        return F.when(is_le, _hex_le16(c)).otherwise(_hex_be16(c))

    def u32(c):
        return F.when(is_le, _hex_le32(c)).otherwise(_hex_be32(c))

    def entry(tag, val):
        return F.concat(
            u16(F.lit(tag)), u16(F.lit(4)), u32(F.lit(1)), u32(val)
        )

    header = F.when(
        is_le, F.concat(F.lit("49492A00"), _hex_le32(F.lit(8)))
    ).otherwise(F.concat(F.lit("4D4D002A"), _hex_be32(F.lit(8))))
    ifd = F.concat(
        u16(F.col("n_extra") + 3),
        entry(256, F.col("w")),
        entry(257, F.col("h")),
        entry(258, F.col("bits")),
        F.when(F.col("n_extra") >= 1, entry(401, F.lit(11))).otherwise(""),
        F.when(F.col("n_extra") >= 2, entry(402, F.lit(12))).otherwise(""),
        F.lit("00000000"),
    )
    return (
        d.select("doc_id", F.unhex(F.concat(header, ifd)).alias("payload"))
        .mapInPandas(_tiff_ifd_batches, TIFF_IFD_SCHEMA)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# multimodal_ico_dir_parse — ICONDIR directory walk (0-means-256 quirk)
# ---------------------------------------------------------------------------


@register(
    "multimodal_ico_dir_parse",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 4 AS n FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_images,
           CAST(list_max(list_transform(range(n), i ->
                CASE WHEN (doc_id + 17 * i) % 256 = 0 THEN 256
                     ELSE (doc_id + 17 * i) % 256 END)) AS BIGINT)
             AS max_width,
           CAST(list_max(list_transform(range(n), i ->
                CASE WHEN (doc_id * 3 + 11 * i) % 256 = 0 THEN 256
                     ELSE (doc_id * 3 + 11 * i) % 256 END)) AS BIGINT)
             AS max_height,
           CAST(list_sum(list_transform(range(n), i ->
                1000 + (doc_id + i) % 5000)) AS BIGINT)
             AS total_declared_bytes
    FROM d ORDER BY doc_id
    """,
    doc="REAL ICO directory walking under the driver's hash check: per "
    "doc, construct an ICONDIR with 1-4 ICONDIRENTRY records "
    "(deterministic width/height bytes, 32-bpp, declared sizes) as "
    "little-endian hex expressions, then recover the image census, the "
    "maximum decoded dimensions and the total declared payload bytes "
    "with the real stdlib walker (multimodal.walk_ico_dir) — including "
    "the ICO quirk that a 0 width/height byte encodes 256, which the "
    "oracle reproduces in closed form. Exercises the fixed-record-"
    "array container grammar (vs PNG's length-prefixed chunks, GIF's "
    "sentinel sub-blocks, TIFF's offset directory). Map-only; zero "
    "shuffles.",
)
def multimodal_ico_dir_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.multimodal import (
        ICO_DIR_SCHEMA,
        _ico_dir_batches,
    )

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id", (1 + F.col("doc_id") % 4).alias("n")
    )
    header = F.concat(
        F.lit("00000100"), _hex_le16(F.col("n"))
    )
    entries = F.expr(
        "concat_ws('', transform(sequence(0, CAST(n - 1 AS INT)), i ->"
        " concat("
        "  lpad(hex((doc_id + 17 * i) % 256), 2, '0'),"
        "  lpad(hex((doc_id * 3 + 11 * i) % 256), 2, '0'),"
        "  '0000',"                       # colors, reserved
        "  '0100', '2000',"               # planes 1, bitcount 32 (LE)
        "  concat(substring(lpad(hex(1000 + (doc_id + i) % 5000), 8, '0'),"
        "           7, 2),"
        "         substring(lpad(hex(1000 + (doc_id + i) % 5000), 8, '0'),"
        "           5, 2),"
        "         substring(lpad(hex(1000 + (doc_id + i) % 5000), 8, '0'),"
        "           3, 2),"
        "         substring(lpad(hex(1000 + (doc_id + i) % 5000), 8, '0'),"
        "           1, 2)),"
        "  '16000000')))"                 # offset 22 LE (declared only)
    )
    return (
        d.select(
            "doc_id", F.unhex(F.concat(header, entries)).alias("payload")
        )
        .mapInPandas(_ico_dir_batches, ICO_DIR_SCHEMA)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# embedding cluster-validity suite — shared deci-milli quantization
# ---------------------------------------------------------------------------

_QV = (
    "transform(embedding, x ->"
    " CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"
)
_QV_SQL = (
    "list_transform(embedding, x ->"
    " CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"
)


@register(
    "embedding_participation_ratio",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_QV_SQL} AS qv FROM embeddings
    ),
    tr AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(list_sum(list_transform(qv, x -> x * x)))
                  AS HUGEINT) AS tr
      FROM q
    ),
    m AS (
      SELECT i, j,
             CAST(sum(qv[CAST(i AS INT) + 1]
                      * qv[CAST(j AS INT) + 1]) AS HUGEINT) AS mij
      FROM q, range(64) t1(i), range(64) t2(j)
      WHERE j >= i GROUP BY 1, 2
    ),
    fro AS (
      SELECT CAST(sum(CASE WHEN i = j THEN mij * mij
                      ELSE 2 * mij * mij END) AS HUGEINT) AS fro2
      FROM m
    )
    SELECT t.n AS n_vectors,
           CAST(64 AS BIGINT) AS dim,
           CAST(t.tr AS BIGINT) AS trace_m,
           CAST((1000000 * t.tr * t.tr) // greatest(f.fro2, 1) AS BIGINT)
             AS participation_ratio_micro
    FROM tr t, fro f
    """,
    doc="Participation ratio (effective dimensionality) of the embedding "
    "corpus: PR = (tr M)^2 / ||M||_F^2 for the uncentered second-moment "
    "matrix M = sum_x q q^T — equal to (sum lambda)^2 / sum lambda^2 "
    "over M's eigenvalues WITHOUT any eigendecomposition (Frobenius "
    "norm = sum of squared entries), the anisotropy-collapse diagnostic "
    "beside embedding_twonn_intrinsic_dim (geometric) and embedding_"
    "pca_power_iteration (top component only). Embeddings are floor-"
    "quantized once to deci-milli integers, so trace and M are exact; "
    "the d^2-sized upper triangle (symmetry-weighted x2) aggregates "
    "from an n*d^2 flatten here — at 100 TB you'd swap the flatten for "
    "a d^2-state outer-product partial aggregate, same result. PR in "
    "micro units, 1 <= PR <= d.",
)
def embedding_participation_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", F.expr(_QV).alias("qv")
    )
    tr = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "aggregate(transform(qv, x -> x * x),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            )
        )
        .cast("decimal(38,0)")
        .alias("tr"),
    )
    e1 = e.select(
        "qv", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i")
    )
    e2 = e1.select(
        "qv", "i", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("j")
    ).filter(F.col("j") >= F.col("i"))
    m = e2.select(
        "i",
        "j",
        (
            F.element_at("qv", F.col("i").cast("int") + 1)
            * F.element_at("qv", F.col("j").cast("int") + 1)
        ).alias("p"),
    ).groupBy("i", "j").agg(F.sum("p").cast("decimal(38,0)").alias("mij"))
    fro = m.agg(
        F.sum(
            F.when(
                F.col("i") == F.col("j"), F.col("mij") * F.col("mij")
            ).otherwise(2 * F.col("mij") * F.col("mij"))
        ).alias("fro2")
    )
    return tr.crossJoin(F.broadcast(fro)).select(
        F.col("n").alias("n_vectors"),
        F.lit(64).cast("bigint").alias("dim"),
        F.col("tr").cast("bigint").alias("trace_m"),
        F.expr(
            "CAST((1000000 * tr * tr) div greatest(fro2, 1) AS BIGINT)"
        ).alias("participation_ratio_micro"),
    )


@register(
    "embedding_calinski_harabasz",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_QV_SQL} AS qv FROM embeddings
    ),
    cl AS (
      SELECT label, CAST(count(*) AS HUGEINT) AS nc,
             CAST(sum(list_sum(list_transform(qv, x -> x * x)))
                  AS HUGEINT) AS tc
      FROM q GROUP BY 1
    ),
    s AS (
      SELECT label, i,
             CAST(sum(qv[CAST(i AS INT) + 1]) AS HUGEINT) AS scd
      FROM q, range(64) t(i) GROUP BY 1, 2
    ),
    g AS (
      SELECT i, CAST(sum(scd) AS HUGEINT) AS gd FROM s GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(nc) AS HUGEINT) AS n,
             CAST(count(*) AS HUGEINT) AS k
      FROM cl
    ),
    ssw AS (
      SELECT CAST(sum((1000 * (c.nc * c.tc - s2.sumsq)) // c.nc)
                  AS HUGEINT) AS ssw_milli
      FROM cl c JOIN (
        SELECT label, CAST(sum(scd * scd) AS HUGEINT) AS sumsq
        FROM s GROUP BY 1
      ) s2 ON s2.label = c.label
    ),
    ssb AS (
      SELECT CAST(sum(ssb_c) AS HUGEINT) AS ssb_milli FROM (
        SELECT s.label,
               (1000 * sum((t.n * s.scd - c.nc * g.gd)
                           * (t.n * s.scd - c.nc * g.gd)))
                 // (c.nc * t.n * t.n) AS ssb_c
        FROM s JOIN g ON g.i = s.i
               JOIN cl c ON c.label = s.label, tot t
        GROUP BY s.label, c.nc, t.n
      )
    )
    SELECT CAST(t.n AS BIGINT) AS n_vectors,
           CAST(t.k AS BIGINT) AS n_clusters,
           CAST(w.ssw_milli AS BIGINT) AS ssw_milli,
           CAST(b.ssb_milli AS BIGINT) AS ssb_milli,
           CAST((1000000 * (t.n - t.k) * b.ssb_milli)
                // greatest((t.k - 1) * w.ssw_milli, 1) AS BIGINT)
             AS ch_micro
    FROM tot t, ssw w, ssb b
    """,
    doc="Calinski-Harabasz (variance-ratio) cluster validity of the "
    "labeled embedding corpus: CH = (SSB/(k-1)) / (SSW/(N-k)) — the "
    "between/within variance trade-off that scores how separable the "
    "label structure is in embedding space (the global companion to "
    "the per-point embedding_simplified_silhouette). Over deci-milli "
    "quantized integer vectors: SSW_c = T_c - ||S_c||^2/n_c and "
    "SSB_c = sum_d (N S_cd - n_c G_d)^2 / (n_c N^2) are each floor-"
    "quantized to milli units per cluster (cleared integer numerators, "
    "documented seam) then summed exactly; CH emitted in micro units. "
    "One n*d flatten to (label, dim) sums — d^2-free, the same shuffle "
    "shape as embedding_centroids.",
)
def embedding_calinski_harabasz(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "label", F.expr(_QV).alias("qv")
    )
    cl = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nc"),
        F.sum(
            F.expr(
                "aggregate(transform(qv, x -> x * x),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            )
        )
        .cast("decimal(38,0)")
        .alias("tc"),
    )
    s = (
        e.select(
            "label",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
            "qv",
        )
        .select(
            "label",
            "i",
            F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
        )
        .groupBy("label", "i")
        .agg(F.sum("x").cast("decimal(38,0)").alias("scd"))
    )
    g = s.groupBy("i").agg(F.sum("scd").alias("gd"))
    tot = cl.agg(
        F.sum("nc").alias("n"), F.count(F.lit(1)).cast("decimal(38,0)").alias("k")
    )
    s2 = s.groupBy("label").agg(
        F.sum(F.col("scd") * F.col("scd")).alias("sumsq")
    )
    ssw = (
        cl.join(s2, "label")
        .select(
            F.expr("(1000 * (nc * tc - sumsq)) div nc").alias("w_c")
        )
        .agg(F.sum("w_c").cast("decimal(38,0)").alias("ssw_milli"))
    )
    ssb = (
        s.join(F.broadcast(g), "i")
        .join(F.broadcast(cl.select("label", "nc")), "label")
        .crossJoin(F.broadcast(tot))
        .groupBy("label", "nc", "n")
        .agg(
            F.sum(
                (F.col("n") * F.col("scd") - F.col("nc") * F.col("gd"))
                * (F.col("n") * F.col("scd") - F.col("nc") * F.col("gd"))
            ).alias("num")
        )
        .select(
            F.expr("(1000 * num) div (nc * n * n)").alias("b_c")
        )
        .agg(F.sum("b_c").cast("decimal(38,0)").alias("ssb_milli"))
    )
    return (
        tot.crossJoin(F.broadcast(ssw))
        .crossJoin(F.broadcast(ssb))
        .select(
            F.col("n").cast("bigint").alias("n_vectors"),
            F.col("k").cast("bigint").alias("n_clusters"),
            F.col("ssw_milli").cast("bigint").alias("ssw_milli"),
            F.col("ssb_milli").cast("bigint").alias("ssb_milli"),
            F.expr(
                "CAST((1000000 * (n - k) * ssb_milli)"
                " div greatest((k - 1) * ssw_milli, 1) AS BIGINT)"
            ).alias("ch_micro"),
        )
    )


@register(
    "embedding_simplified_silhouette",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_QV_SQL} AS qv FROM embeddings
    ),
    cent AS (
      SELECT label AS c, i,
             CAST(sum(qv[CAST(i AS INT) + 1]) AS HUGEINT) AS scd,
             CAST(max(nc) AS HUGEINT) AS nc
      FROM (SELECT label, qv, count(*) OVER (PARTITION BY label) AS nc
            FROM q), range(64) t(i)
      GROUP BY 1, 2
    ),
    d2 AS (
      SELECT p.vec_id, p.label, c.c,
             (1000000 * sum((c.nc * p.qv[CAST(c.i AS INT) + 1] - c.scd)
                            * (c.nc * p.qv[CAST(c.i AS INT) + 1] - c.scd)))
               // (max(c.nc) * max(c.nc)) AS dmic
      FROM q p JOIN cent c ON true
      GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT vec_id, label,
             max(CASE WHEN c = label THEN dmic END) AS a,
             min(CASE WHEN c <> label THEN dmic END) AS b
      FROM d2 GROUP BY 1, 2
    ),
    s AS (
      SELECT label,
             CASE WHEN b >= a
                  THEN (1000 * (b - a)) // greatest(b, 1)
                  ELSE -((1000 * (a - b)) // greatest(a, 1)) END AS sil
      FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(sil) AS BIGINT) AS silhouette_milli_sum,
           CAST(sum(CASE WHEN sil > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive
    FROM s GROUP BY 1 ORDER BY 1
    """,
    doc="Simplified (centroid-based) silhouette per label over deci-milli "
    "quantized embeddings: a = squared distance to the OWN centroid, "
    "b = min squared distance to any OTHER centroid, s = (b - a)/"
    "max(a, b) — the per-point assignment-quality score whose corpus "
    "mean validates a labeling the global embedding_calinski_harabasz "
    "ratio can average away (the simplified variant replaces all-pairs "
    "a/b with centroid distances: O(n k d), the only form that scales). "
    "Centroid distances clear to ||n_c q - S_c||^2 / n_c^2 and are "
    "floor-quantized to micro units per (point, centroid) cell "
    "(documented seam); s is milli sign-split per point and summed "
    "exactly. The 640-row centroid-dim relation broadcasts; one n*k*d "
    "flatten, no all-pairs anything.",
)
def embedding_simplified_silhouette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", "label", F.expr(_QV).alias("qv")
    )
    nc = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nc")
    )
    cent = (
        e.join(F.broadcast(nc), "label")
        .select(
            F.col("label").alias("c"),
            "nc",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
            "qv",
        )
        .select(
            "c",
            "nc",
            "i",
            F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
        )
        .groupBy("c", "i")
        .agg(
            F.sum("x").cast("decimal(38,0)").alias("scd"),
            F.max("nc").alias("nc"),
        )
    )
    p = e.select(
        "vec_id",
        "label",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
        "qv",
    ).select(
        "vec_id",
        "label",
        "i",
        F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
    )
    d2 = (
        p.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "c")
        .agg(
            F.sum(
                (F.col("nc") * F.col("x") - F.col("scd"))
                * (F.col("nc") * F.col("x") - F.col("scd"))
            ).alias("num"),
            F.max("nc").alias("nc"),
        )
        .select(
            "vec_id",
            "label",
            "c",
            F.expr("(1000000 * num) div (nc * nc)").alias("dmic"),
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c") == F.col("label"), F.col("dmic"))).alias(
            "a"
        ),
        F.min(F.when(F.col("c") != F.col("label"), F.col("dmic"))).alias(
            "b"
        ),
    )
    s = ab.select(
        "label",
        F.expr(
            "CASE WHEN b >= a THEN (1000 * (b - a)) div greatest(b, 1)"
            " ELSE -((1000 * (a - b)) div greatest(a, 1)) END"
        ).alias("sil"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("sil").cast("bigint").alias("silhouette_milli_sum"),
            F.sum(F.when(F.col("sil") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
        )
        .orderBy("label")
    )


@register(
    "embedding_dunn_index",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_QV_SQL} AS qv FROM embeddings
    ),
    cent AS (
      SELECT label AS c, i,
             CAST(sum(qv[CAST(i AS INT) + 1]) AS HUGEINT) AS scd,
             CAST(max(nc) AS HUGEINT) AS nc
      FROM (SELECT label, qv, count(*) OVER (PARTITION BY label) AS nc
            FROM q), range(64) t(i)
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT (1000000 * sum((a.nc * b.scd - b.nc * a.scd)
                            * (a.nc * b.scd - b.nc * a.scd)))
               // (max(a.nc) * max(a.nc) * max(b.nc) * max(b.nc)) AS d2
      FROM cent a JOIN cent b ON b.i = a.i AND b.c > a.c
      GROUP BY a.c, b.c
    ),
    imin AS (SELECT min(d2) AS min_inter FROM pairs),
    ownd AS (
      SELECT (1000000 * sum((c.nc * p.qv[CAST(c.i AS INT) + 1] - c.scd)
                            * (c.nc * p.qv[CAST(c.i AS INT) + 1]
                               - c.scd)))
               // (max(c.nc) * max(c.nc)) AS d2
      FROM q p JOIN cent c ON c.c = p.label
      GROUP BY p.vec_id
    ),
    omax AS (SELECT max(d2) AS max_intra FROM ownd)
    SELECT CAST(i.min_inter AS BIGINT) AS min_intercentroid_micro,
           CAST(o.max_intra AS BIGINT) AS max_intracentroid_micro,
           CAST((1000 * i.min_inter)
                // greatest(o.max_intra, 1) AS BIGINT) AS dunn_milli
    FROM imin i, omax o
    """,
    doc="Dunn-type separation index (centroid linkage) of the labeled "
    "embedding corpus: min inter-centroid squared distance over max "
    "point-to-own-centroid squared distance — small Dunn flags clusters "
    "that overlap or sprawl, the worst-case complement to the averaged "
    "embedding_simplified_silhouette (one bad pair tanks Dunn but "
    "barely moves the mean silhouette). Centroid-pair distances clear "
    "to ||n_c' S_c - n_c S_c'||^2 / (n_c^2 n_c'^2) over the SAME "
    "deci-milli quantized integers as the rest of the validity suite, "
    "floor-quantized to micro per pair (45 bounded pairs); the intra "
    "radius reuses the silhouette's own-centroid distances. Squared-"
    "distance ratio (monotone in the classic sqrt form), milli output.",
)
def embedding_dunn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", "label", F.expr(_QV).alias("qv")
    )
    nc = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nc")
    )
    cent = (
        e.join(F.broadcast(nc), "label")
        .select(
            F.col("label").alias("c"),
            "nc",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
            "qv",
        )
        .select(
            "c",
            "nc",
            "i",
            F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
        )
        .groupBy("c", "i")
        .agg(
            F.sum("x").cast("decimal(38,0)").alias("scd"),
            F.max("nc").alias("nc"),
        )
    )
    a = cent.select(
        F.col("c").alias("ca"), "i", F.col("scd").alias("sa"),
        F.col("nc").alias("na"),
    )
    b = cent.select(
        F.col("c").alias("cb"), F.col("i").alias("ib"),
        F.col("scd").alias("sb"), F.col("nc").alias("nb"),
    )
    inter = (
        a.join(
            F.broadcast(b),
            (F.col("ib") == F.col("i")) & (F.col("cb") > F.col("ca")),
        )
        .groupBy("ca", "cb")
        .agg(
            F.sum(
                (F.col("na") * F.col("sb") - F.col("nb") * F.col("sa"))
                * (F.col("na") * F.col("sb") - F.col("nb") * F.col("sa"))
            ).alias("num"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .select(
            F.expr("(1000000 * num) div (na * na * nb * nb)").alias("d2")
        )
        .agg(F.min("d2").alias("min_inter"))
    )
    p = e.select(
        "vec_id",
        "label",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
        "qv",
    ).select(
        "vec_id",
        "label",
        "i",
        F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
    )
    own = (
        p.join(
            F.broadcast(cent),
            (cent.c == p.label) & (cent.i == p.i),
        )
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("nc") * F.col("x") - F.col("scd"))
                * (F.col("nc") * F.col("x") - F.col("scd"))
            ).alias("num"),
            F.max("nc").alias("nc"),
        )
        .select(F.expr("(1000000 * num) div (nc * nc)").alias("d2"))
        .agg(F.max("d2").alias("max_intra"))
    )
    return inter.crossJoin(F.broadcast(own)).select(
        F.col("min_inter").cast("bigint").alias("min_intercentroid_micro"),
        F.col("max_intra").cast("bigint").alias("max_intracentroid_micro"),
        F.expr(
            "CAST((1000 * min_inter) div greatest(max_intra, 1)"
            " AS BIGINT)"
        ).alias("dunn_milli"),
    )


# ---------------------------------------------------------------------------
# curate_pps_systematic — probability-proportional-to-size systematic draw
# ---------------------------------------------------------------------------


@register(
    "curate_pps_systematic",
    oracle="""
    WITH c AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
               AS cum,
             sum(n_chars) OVER (PARTITION BY source) AS t
      FROM documents
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST((5 * (cum - n_chars)) // t AS BIGINT) AS pick_index
    FROM c
    WHERE (5 * (cum - n_chars)) // t < (5 * cum) // t
    ORDER BY source, doc_id
    """,
    doc="Probability-proportional-to-size SYSTEMATIC sample of documents, "
    "k = 5 per source: lay each source's documents end-to-end on a "
    "character-count line (doc_id order), place k equally spaced "
    "lattice points (origin 0, spacing T/k kept as the exact integer "
    "comparison floor(k*cum_before/T) < floor(k*cum_incl/T) — no "
    "division by T/k ever happens), and take the document covering "
    "each point — the classic Madow design where inclusion probability "
    "is proportional to size, the curation-side counterpart of "
    "sample_weighted (which resamples WITH replacement) and "
    "sample_stratified (equal-probability within strata). A document "
    "longer than the spacing is taken once (documented without-"
    "replacement caveat). All-integer; one partitioned window, no "
    "shuffle beyond the source partitioning.",
)
def curate_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    wc = Window.partitionBy("source").orderBy("doc_id")
    wt = Window.partitionBy("source")
    c = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(wc).alias("cum"),
        F.sum("n_chars").over(wt).alias("t"),
    )
    return (
        c.filter(
            F.expr("(5 * (cum - n_chars)) div t < (5 * cum) div t")
        )
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.expr(
                "CAST((5 * (cum - n_chars)) div t AS BIGINT)"
            ).alias("pick_index"),
        )
        .orderBy("source", "doc_id")
    )
