"""The six queries whose ``_dsum`` is ``double_sum``.

Both helpers in ``functions.exactsum`` sum as DECIMAL(38,0); ``double_sum``
casts the total to DOUBLE, ``decimal_sum`` does not. Every other ``_dsum``
caller uses ``decimal_sum``. ``registry.query_digest`` hashes a query's
text, not what ``_dsum`` is bound to, so moving one of these six under
``decimal_sum`` would change its result while its digest, and with it its
driver-verified status, stayed the same. ``tests/test_registry.py`` checks
each query's binding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import double_sum as _dsum
from mongodb_nats_connector_spark.plans.caching import (
    persist_until_collected,
    release_on_gc,
)
from mongodb_nats_connector_spark.plans.hints import maybe_broadcast
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# ---------------------------------------------------------------------------
# orders_ols_multifactor — closed-form 2-feature OLS via normal equations
# ---------------------------------------------------------------------------


@register(
    "orders_ols_multifactor",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x1 AS HUGEINT)) AS DOUBLE) AS sx1,
             CAST(sum(CAST(x2 AS HUGEINT)) AS DOUBLE) AS sx2,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(x1 * x1 AS HUGEINT)) AS DOUBLE) AS sx11,
             CAST(sum(CAST(x1 * x2 AS HUGEINT)) AS DOUBLE) AS sx12,
             CAST(sum(CAST(x2 * x2 AS HUGEINT)) AS DOUBLE) AS sx22,
             CAST(sum(CAST(x1 * y AS HUGEINT)) AS DOUBLE) AS sx1y,
             CAST(sum(CAST(x2 * y AS HUGEINT)) AS DOUBLE) AS sx2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM b
    ),
    d AS (
      SELECT s.*,
        n * (sx11 * sx22 - sx12 * sx12)
          - sx1 * (sx1 * sx22 - sx12 * sx2)
          + sx2 * (sx1 * sx12 - sx11 * sx2) AS det,
        sy * (sx11 * sx22 - sx12 * sx12)
          - sx1 * (sx1y * sx22 - sx12 * sx2y)
          + sx2 * (sx1y * sx12 - sx11 * sx2y) AS det0,
        n * (sx1y * sx22 - sx12 * sx2y)
          - sy * (sx1 * sx22 - sx12 * sx2)
          + sx2 * (sx1 * sx2y - sx1y * sx2) AS det1,
        n * (sx11 * sx2y - sx1y * sx12)
          - sx1 * (sx1 * sx2y - sx1y * sx2)
          + sy * (sx1 * sx12 - sx11 * sx2) AS det2
      FROM s
    ),
    c AS (
      SELECT n, sy, sx1y, sx2y, syy,
             det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
      FROM d WHERE det <> 0
    )
    SELECT n AS n_rows,
           round(b0, 6) AS intercept_c,
           round(b1, 6) AS coef_qty,
           round(b2, 6) AS coef_disc_pct,
           round(1.0 - (syy - b0 * sy - b1 * sx1y - b2 * sx2y)
                 / (syy - sy * sy / n), 6) AS r2
    FROM c
    """,
    doc="Multi-feature OLS (extendedprice-cents ~ quantity + discount-pct) "
    "solved in CLOSED FORM from one pass of sufficient statistics: 9 sums "
    "of integer products accumulate exactly (DECIMAL(38,0) in Spark, "
    "HUGEINT in DuckDB — immune to both 2^53 double truncation and 2^63 "
    "overflow), then Cramer's rule on the 3x3 normal equations runs on two "
    "1-row projections. This is how distributed linear regression actually "
    "scales: the fact table is touched ONCE by a map-combined aggregation "
    "whose reduce state is 10 numbers — no gradient iterations, no "
    "driver-side data. R^2 comes from the same sums. At 100 TB the whole "
    "query is one shuffle of a single 80-byte row per partition.",
)
def orders_ols_multifactor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )

    s = b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x1")).alias("sx1"),
        _dsum(F.col("x2")).alias("sx2"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.col("x1") * F.col("x1")).alias("sx11"),
        _dsum(F.col("x1") * F.col("x2")).alias("sx12"),
        _dsum(F.col("x2") * F.col("x2")).alias("sx22"),
        _dsum(F.col("x1") * F.col("y")).alias("sx1y"),
        _dsum(F.col("x2") * F.col("y")).alias("sx2y"),
        _dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx1, sx2, sy = F.col("n"), F.col("sx1"), F.col("sx2"), F.col("sy")
    sx11, sx12, sx22 = F.col("sx11"), F.col("sx12"), F.col("sx22")
    sx1y, sx2y, syy = F.col("sx1y"), F.col("sx2y"), F.col("syy")
    d = s.select(
        "*",
        (
            n * (sx11 * sx22 - sx12 * sx12)
            - sx1 * (sx1 * sx22 - sx12 * sx2)
            + sx2 * (sx1 * sx12 - sx11 * sx2)
        ).alias("det"),
        (
            sy * (sx11 * sx22 - sx12 * sx12)
            - sx1 * (sx1y * sx22 - sx12 * sx2y)
            + sx2 * (sx1y * sx12 - sx11 * sx2y)
        ).alias("det0"),
        (
            n * (sx1y * sx22 - sx12 * sx2y)
            - sy * (sx1 * sx22 - sx12 * sx2)
            + sx2 * (sx1 * sx2y - sx1y * sx2)
        ).alias("det1"),
        (
            n * (sx11 * sx2y - sx1y * sx12)
            - sx1 * (sx1 * sx2y - sx1y * sx2)
            + sy * (sx1 * sx12 - sx11 * sx2)
        ).alias("det2"),
    )
    # singular normal equations (e.g. a constant feature) have det
    # EXACTLY 0 — the sums are exact, so both engines agree; emit zero
    # rows instead of engine-specific inf/NaN coefficients
    c = d.filter(F.col("det") != 0).select(
        "n",
        "sy",
        "sx1y",
        "sx2y",
        "syy",
        (F.col("det0") / F.col("det")).alias("b0"),
        (F.col("det1") / F.col("det")).alias("b1"),
        (F.col("det2") / F.col("det")).alias("b2"),
    )
    return c.select(
        F.col("n").alias("n_rows"),
        F.round("b0", 6).alias("intercept_c"),
        F.round("b1", 6).alias("coef_qty"),
        F.round("b2", 6).alias("coef_disc_pct"),
        F.round(
            1.0
            - (
                F.col("syy")
                - F.col("b0") * F.col("sy")
                - F.col("b1") * F.col("sx1y")
                - F.col("b2") * F.col("sx2y")
            )
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# agg_jarque_bera — normality test from exact power sums, per returnflag
# ---------------------------------------------------------------------------


@register(
    "agg_jarque_bera",
    oracle="""
    WITH b AS (
      SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS x
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(sum(CAST(x * x AS HUGEINT)) AS DOUBLE) AS s2,
             CAST(sum(CAST(x * x * x AS HUGEINT)) AS DOUBLE) AS s3,
             CAST(sum(CAST(x * x * x * x AS HUGEINT)) AS DOUBLE) AS s4
      FROM b GROUP BY 1
    ),
    r AS (
      SELECT l_returnflag, n, s1 / n AS m1,
             s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
      FROM s
    ),
    m AS (
      SELECT l_returnflag, n, m1,
             r2 - m1 * m1 AS m2,
             r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
             r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
                - 3.0 * m1 * m1 * m1 * m1 AS m4
      FROM r
    ),
    k AS (
      SELECT l_returnflag, n,
             m3 / (m2 * sqrt(m2)) AS skew,
             m4 / (m2 * m2) AS kurt
      FROM m WHERE m2 > 0
    )
    SELECT l_returnflag, n,
           round(skew, 6) AS skewness,
           round(kurt, 6) AS kurtosis,
           round(n / 6.0 * (skew * skew
                 + (kurt - 3.0) * (kurt - 3.0) / 4.0), 4) AS jb_stat
    FROM k
    """,
    doc="Jarque-Bera normality statistic per returnflag over quantity: "
    "central moments derived from raw power sums S1..S4, which accumulate "
    "as exact integers (DECIMAL/HUGEINT — quantity^4 stays well inside the "
    "exact range, and the decimal sum is order-independent, so both "
    "engines produce the identical doubles before any float division). "
    "skew = m3/m2^1.5 written as m2*sqrt(m2) to avoid pow() ulp "
    "divergence. One map-combined scan, k 1-row groups, O(1) reduce state "
    "— the moment-sketch pattern that survives any scale.",
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        "l_returnflag", F.round("l_quantity").cast("bigint").alias("x")
    )
    x = F.col("x")

    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(x).alias("s1"),
        _dsum(x * x).alias("s2"),
        _dsum(x * x * x).alias("s3"),
        _dsum(x * x * x * x).alias("s4"),
    )
    r = s.select(
        "l_returnflag",
        "n",
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("r2"),
        (F.col("s3") / F.col("n")).alias("r3"),
        (F.col("s4") / F.col("n")).alias("r4"),
    )
    m1 = F.col("m1")
    m = r.select(
        "l_returnflag",
        "n",
        "m1",
        (F.col("r2") - m1 * m1).alias("m2"),
        (F.col("r3") - 3.0 * m1 * F.col("r2") + 2.0 * m1 * m1 * m1).alias("m3"),
        (
            F.col("r4")
            - 4.0 * m1 * F.col("r3")
            + 6.0 * m1 * m1 * F.col("r2")
            - 3.0 * m1 * m1 * m1 * m1
        ).alias("m4"),
    )
    # a constant group has m2 exactly 0 (sums are exact): drop it in both
    # engines rather than emit a 0/0 whose NULL-vs-NaN spelling is a
    # DuckDB-version detail (ieee_floating_point_ops default flipped in 1.1)
    k = m.filter(F.col("m2") > 0).select(
        "l_returnflag",
        "n",
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias("skew"),
        (F.col("m4") / (F.col("m2") * F.col("m2"))).alias("kurt"),
    )
    return k.select(
        "l_returnflag",
        "n",
        F.round("skew", 6).alias("skewness"),
        F.round("kurt", 6).alias("kurtosis"),
        F.round(
            F.col("n")
            / 6.0
            * (
                F.col("skew") * F.col("skew")
                + (F.col("kurt") - 3.0) * (F.col("kurt") - 3.0) / 4.0
            ),
            4,
        ).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# events_weibull_gaps — Weibull fit of inter-event gaps via rank regression
# ---------------------------------------------------------------------------


@register(
    "events_weibull_gaps",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    g AS (
      SELECT user_id, event_id,
             tus - lag(tus) OVER (PARTITION BY user_id
                                  ORDER BY tus, event_id) AS gap_us
      FROM e
    ),
    p AS (SELECT event_id, gap_us FROM g WHERE gap_us > 0),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
    xy AS (
      SELECT
        CAST(round(1000000.0 * ln(CAST(gap_us AS DOUBLE))) AS BIGINT) AS x,
        CAST(round(1000000.0 * ln(0.0 - ln(1.0
             - (row_number() OVER (ORDER BY gap_us, event_id) - 0.3)
               / (nn.n + 0.4)))) AS BIGINT) AS y
      FROM p CROSS JOIN nn
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS HUGEINT)) AS DOUBLE) AS sxx,
             CAST(sum(CAST(x * y AS HUGEINT)) AS DOUBLE) AS sxy
      FROM xy
    ),
    b AS (
      SELECT n, sx, sy,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
      FROM s WHERE n > 1 AND n * sxx - sx * sx > 0
    ),
    f AS (
      SELECT n, slope,
             (sy - slope * sx) / n / 1000000.0 AS icpt
      FROM b
    )
    SELECT n AS n_gaps,
           round(slope, 4) AS weibull_shape,
           round(exp((0.0 - icpt) / slope) / 1000000.0, 3) AS weibull_scale_s
    FROM f
    """,
    doc="Weibull reliability fit of positive inter-event gaps (per-user "
    "consecutive timestamps) via median-rank regression: empirical CDF "
    "F_i = (i-0.3)/(n+0.4) from the global gap order, then OLS of "
    "ln(-ln(1-F)) on ln(gap) — slope = shape k, scale = exp(-icpt/k). "
    "Both regression coordinates quantize to integer micro-units BEFORE "
    "the sums (exact DECIMAL/HUGEINT accumulation), so the fitted "
    "parameters hash-verify. Plan: per-user lag needs one (user_id)-keyed "
    "shuffle; the global empirical CDF ranks come from the two-pass "
    "range-partitioned rank (plans/ranking.py: boundary literals, "
    "per-bucket row_number + bucket-offset prefix sum) — identical to "
    "row_number() by construction (the oracle keeps the window "
    "formulation), with no data-proportional single-partition sort. k<1 "
    "means burstiness (decreasing hazard), k=1 Poisson arrivals.",
)
def events_weibull_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    e = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    wlag = Window.partitionBy("user_id").orderBy("tus", "event_id")
    g = e.select(
        "user_id",
        "event_id",
        (F.col("tus") - F.lag("tus").over(wlag)).alias("gap_us"),
    )
    p = g.filter(F.col("gap_us") > 0).select("event_id", "gap_us")
    # persisted NOW: the two-pass boundary sketch runs at construction and
    # would otherwise recompute the per-user lag window; released when the
    # returned result is GC'd
    p = p.persist()
    nn = p.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_global_rank,
    )

    pr = two_pass_global_rank(
        p, "gap_us", "event_id", descending=False,
        rank_col="_i", total_col="_pn",
    )
    xy = pr.crossJoin(F.broadcast(nn)).select(
        F.round(1000000.0 * F.log(F.col("gap_us").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.round(
            1000000.0
            * F.log(
                0.0
                - F.log(
                    1.0
                    - (F.col("_i") - 0.3) / (F.col("n") + 0.4)
                )
            )
        )
        .cast("bigint")
        .alias("y"),
    )

    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.col("x") * F.col("x")).alias("sxx"),
        _dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # all-equal gaps make the regression denominator exactly 0 (sums are
    # exact integers): emit zero rows instead of engine-specific inf/NaN
    b = s.filter(
        (F.col("n") > 1)
        & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    ).select(
        "n",
        "sx",
        "sy",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("slope"),
    )
    f = b.select(
        "n",
        "slope",
        ((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n") / 1000000.0)
        .alias("icpt"),
    )
    out = f.select(
        F.col("n").alias("n_gaps"),
        F.round("slope", 4).alias("weibull_shape"),
        F.round(
            F.exp((0.0 - F.col("icpt")) / F.col("slope")) / 1000000.0, 3
        ).alias("weibull_scale_s"),
    )
    return release_on_gc(p, out)


# ---------------------------------------------------------------------------
# agg_kendall_tau — Kendall tau-b via dominance counts on the bounded grid
# ---------------------------------------------------------------------------


@register(
    "agg_kendall_tau",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice / 1000) AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY x, y
    ),
    xs AS (SELECT DISTINCT x FROM cells),
    ys AS (SELECT DISTINCT y FROM cells),
    grid AS (
      SELECT xs.x, ys.y, coalesce(c.c, 0) AS c
      FROM xs CROSS JOIN ys LEFT JOIN cells c ON c.x = xs.x AND c.y = ys.y
    ),
    coln AS (SELECT x, CAST(sum(c) AS BIGINT) AS nx FROM grid GROUP BY x),
    g2 AS (
      SELECT g.x, g.y, g.c, n.nx,
             CAST(coalesce(sum(g.c) OVER (
               PARTITION BY g.x ORDER BY g.y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cys,
             CAST(sum(g.c) OVER (
               PARTITION BY g.x ORDER BY g.y
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cyi
      FROM grid g JOIN coln n ON n.x = g.x
    ),
    g3 AS (
      SELECT x, y, c,
             CAST(coalesce(sum(cys) OVER wx, 0) AS BIGINT) AS p,
             CAST(coalesce(sum(nx - cyi) OVER wx, 0) AS BIGINT) AS q
      FROM g2
      WINDOW wx AS (PARTITION BY y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    s AS (
      SELECT CAST(sum(CAST(c AS HUGEINT) * p) AS DOUBLE) AS cc,
             CAST(sum(CAST(c AS HUGEINT) * q) AS DOUBLE) AS dd
      FROM g3
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
    t1 AS (
      SELECT CAST(sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS DOUBLE) / 2.0
               AS tx
      FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY x)
    ),
    t2 AS (
      SELECT CAST(sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS DOUBLE) / 2.0
               AS ty
      FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY y)
    )
    SELECT m.n, s.cc AS concordant, s.dd AS discordant,
           (s.cc - s.dd)
             / (sqrt(CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - t1.tx)
                * sqrt(CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - t2.ty))
             AS kendall_tau_b
    FROM m, s, t1, t2
    WHERE m.n > 1
      AND CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - t1.tx > 0
      AND CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - t2.ty > 0
    """,
    doc="Kendall tau-b rank correlation between quantity and price (in "
    "1000-unit buckets) with full tie correction — the concordance "
    "complement to agg_spearman_corr (tau weights each PAIR equally; rho "
    "weights rank displacement). The naive statistic is an O(n^2) pair "
    "scan; here both marginals are value-DOMAIN-bounded (~50 quantities x "
    "~110 price buckets), so concordant/discordant pairs come from exact "
    "2-D dominance counts on the dense domain grid: per-column strict "
    "y-prefix counts (window PARTITIONED by x), then strict x-prefix sums "
    "of those (window PARTITIONED by y) — every window is partitioned and "
    "every relation after the first map-combined cell count is grid-sized, "
    "independent of row count. Each concordant pair is counted exactly "
    "once at its dominating cell (strictly-both-greater), each discordant "
    "pair once at its (x-greater, y-smaller) cell. Products accumulate in "
    "DECIMAL(38,0)/HUGEINT (c*P reaches n^2); tau-b itself is one final "
    "IEEE expression (sqrt is correctly rounded, so identical operand "
    "order is bit-identical cross-engine — no round() on the hash "
    "surface).",
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") / 1000).cast("bigint").alias("y"),
    )
    # r14: the fact is touched ONCE — by this map-combined cell count —
    # and everything downstream (grid, marginals, n, tie terms) derives
    # from the persisted ~50x110 cell relation. The pre-r14 shape cached
    # the N-row (x, y) projection and re-scanned it four times (cells, n,
    # x-ties, y-ties): four N-proportional cache passes per execution,
    # the sf1 watch item behind the 0.41 single-run exponent. n and the
    # tie counts are integer sums over cells (sum(c), sum over per-x /
    # per-y sums of c) — exact regrouping of the same counts, bit-equal.
    cells = b.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    xs = cells.select("x").distinct()
    ys = cells.select("y").distinct()
    grid = (
        xs.crossJoin(F.broadcast(ys))  # bounded domain grid (~50 x ~110)
        .join(cells, ["x", "y"], "left")
        .select("x", "y", F.coalesce("c", F.lit(0)).alias("c"))
    )
    coln = grid.groupBy("x").agg(F.sum("c").cast("bigint").alias("nx"))
    wy_s = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wy_i = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    g2 = grid.join(maybe_broadcast(coln), "x").select(
        "x",
        "y",
        "c",
        "nx",
        F.coalesce(F.sum("c").over(wy_s), F.lit(0)).cast("bigint").alias("cys"),
        F.sum("c").over(wy_i).cast("bigint").alias("cyi"),
    )
    wx = Window.partitionBy("y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    g3 = g2.select(
        "x",
        "y",
        "c",
        F.coalesce(F.sum("cys").over(wx), F.lit(0)).cast("bigint").alias("p"),
        F.coalesce(F.sum(F.col("nx") - F.col("cyi")).over(wx), F.lit(0))
        .cast("bigint")
        .alias("q"),
    )
    s = g3.agg(
        _dsum(F.col("c") * F.col("p")).alias("cc"),
        _dsum(F.col("c") * F.col("q")).alias("dd"),
    )
    # n + both tie terms from ONE cube over the cached cells (gid 1 =
    # per-x marginal, 2 = per-y, 3 = grand total): the pre-r14 shape ran
    # them as three separate scalar subplans — three serial
    # broadcast-build jobs per execution. Identical integer sums
    # regrouped (sum(c) per x == count per x of the fact), so the
    # scalars feeding the final IEEE expression are bit-equal.
    gs = cells.cube("x", "y").agg(
        F.sum("c").cast("bigint").alias("cnt"),
        F.grouping_id().alias("gid"),
    )
    tie = F.col("cnt") * (F.col("cnt") - 1)
    m = gs.agg(
        F.sum(F.when(F.col("gid") == 3, F.col("cnt")))
        .cast("bigint")
        .alias("n"),
        (_dsum(F.when(F.col("gid") == 1, tie)) / 2.0).alias("tx"),
        (_dsum(F.when(F.col("gid") == 2, tie)) / 2.0).alias("ty"),
    )
    n0 = F.col("n").cast("double") * (F.col("n") - 1) / 2.0
    out = (
        m.crossJoin(F.broadcast(s))
        .filter(
            (F.col("n") > 1)
            & (n0 - F.col("tx") > 0)
            & (n0 - F.col("ty") > 0)
        )
        .select(
            "n",
            F.col("cc").alias("concordant"),
            F.col("dd").alias("discordant"),
            (
                (F.col("cc") - F.col("dd"))
                / (
                    F.sqrt(n0 - F.col("tx"))
                    * F.sqrt(n0 - F.col("ty"))
                )
            ).alias("kendall_tau_b"),
        )
    )
    return persist_until_collected(cells, out)


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
