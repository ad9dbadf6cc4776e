"""Order and supply-chain analytics (``orders_*``): forecasting and
backtests, process control, inventory policies, regression and time-series
diagnostics over ``orders``/``lineitem``.

Oracle rules: see the package docstring (``operators/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.operators.graph import MIN_SUPPORT, _TRADE_EDGES_SQL
from mongodb_nats_connector_spark.plans.caching import (
    persist_until_collected,
    release_on_gc,
)
from mongodb_nats_connector_spark.plans.hints import (
    counted_fits_broadcast,
    maybe_broadcast,
)
from mongodb_nats_connector_spark.plans.ranking import (
    ntile_from_rank,
    two_pass_global_rank,
)
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


@register(
    "orders_monthly_growth",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders
      GROUP BY 1
    )
    SELECT month, round(rev_c / 100.0, 2) AS revenue,
           round((rev_c - lag(rev_c) OVER (ORDER BY month)) / 100.0, 2)
             AS revenue_delta,
           round((rev_c - lag(rev_c) OVER (ORDER BY month))
             * 1.0 / lag(rev_c) OVER (ORDER BY month), 6) AS growth_rate
    FROM monthly
    """,
    doc="Month-over-month revenue growth: monthly rollup in EXACT INTEGER "
    "CENTS (a raw double sum's last ulp depends on partition combine "
    "order, which diverges cross-engine the moment the scan splits), then "
    "lag deltas and growth rate over the ~80-row month series. The global "
    "orderBy window is safe — it sorts months, not orders.",
)
def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_c").over(w)
    return monthly.select(
        "month",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        F.round((F.col("rev_c") - prev) / 100.0, 2).alias("revenue_delta"),
        F.round((F.col("rev_c") - prev) * 1.0 / prev, 6).alias("growth_rate"),
    )


@register(
    "orders_price_records",
    oracle="""
    WITH per_day AS (
      SELECT CAST(o_orderdate AS DATE) AS day, max(o_totalprice) AS best_price
      FROM orders GROUP BY 1
    ),
    runs AS (
      SELECT day, best_price,
             max(best_price) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
      FROM per_day
    )
    SELECT day, best_price
    FROM runs
    WHERE prior_max IS NULL OR best_price > prior_max
    """,
    doc="Running-record skyline: days whose best order price beats every "
    "earlier day. Two-phase so it scales: the fact table pre-aggregates to "
    "one row per day (bounded key domain — a shuffle that partial-aggs "
    "map-side), and only the tiny distinct-day relation flows through the "
    "ordered window. The naive skyline sorts the whole fact table globally; "
    "this never does.",
)
def orders_price_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per_day = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.max("o_totalprice").alias("best_price")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    runs = per_day.withColumn("prior_max", F.max("best_price").over(w))
    return runs.filter(
        F.col("prior_max").isNull() | (F.col("best_price") > F.col("prior_max"))
    ).select("day", "best_price")


LIFT_TOPK = 10


@register(
    "orders_basket_lift",
    oracle=f"""
    WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM pp),
    item AS (SELECT l_partkey, count(*) AS cnt FROM pp GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS pair_n
      FROM pp a JOIN pp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
    )
    SELECT pa, pb, CAST(pair_n AS BIGINT) AS pair_n,
           round(pair_n * 1.0 * n_orders / (ia.cnt * ib.cnt), 4) AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = pair.pa
    JOIN item ib ON ib.l_partkey = pair.pb
    CROSS JOIN n
    ORDER BY lift DESC, pa, pb LIMIT {LIFT_TOPK}
    """,
    doc=f"Association-rule lift over order baskets: top-{LIFT_TOPK} part "
    "pairs by lift = P(a,b)/(P(a)·P(b)) among pairs with support ≥ "
    f"{MIN_SUPPORT}. Pair counts expand map-side from per-order baskets "
    "(same one-shuffle shape as the triangle edges); item supports are a "
    "second aggregate over the already-distinct basket relation and "
    "BROADCAST into the lift join along with the 1-row order total. "
    "TakeOrderedAndProject caps the output. The market-basket recommender "
    "primitive at any scale.",
)
def orders_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    n_orders = arr.select(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    item = arr.select(F.explode("ps").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("cnt"))
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
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= MIN_SUPPORT)
    )
    # Item supports are part-cardinality-sized — data-proportional, so the
    # static estimate (inherited from lineitem) declines the hint; decide
    # from the materialized count instead (item is persisted and released
    # with the result below).
    item = item.persist()
    hint_items = counted_fits_broadcast(item, row_bytes=32)
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("cnt").alias("cnt_b"))
    if hint_items:
        ia, ib = F.broadcast(ia), F.broadcast(ib)
    out = (
        pairs.join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            F.col("pair_n").cast("bigint").alias("pair_n"),
            F.round(
                F.col("pair_n") * F.col("n_orders") / (F.col("cnt_a") * F.col("cnt_b")),
                4,
            ).alias("lift"),
        )
    )
    return persist_until_collected(
        item,
        persist_until_collected(
            arr, out.orderBy(F.desc("lift"), "pa", "pb").limit(LIFT_TOPK)
        ),
    )


PARETO_BUCKETS = 10


@register(
    "orders_pareto_curve",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey, sum(o_totalprice) AS revenue
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT revenue,
             ntile({PARETO_BUCKETS}) OVER (ORDER BY revenue DESC, o_custkey)
               AS bucket
      FROM per_cust
    ),
    tot AS (SELECT sum(revenue) AS total FROM per_cust)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(revenue), 2) AS revenue,
           round(sum(revenue) / total, 4) AS revenue_share
    FROM ranked, tot
    GROUP BY bucket, total
    """,
    doc=f"Pareto concentration curve: customers bucketed into revenue-"
    f"ranked {PARETO_BUCKETS}-tiles with each bucket's revenue share — "
    "the 80/20 diagnostic behind every whale-risk and sampling-strategy "
    "decision. Two-phase so it scales: the fact table pre-aggregates to "
    "one row per customer (map-combined shuffle), and the customer-sized "
    "relation — data-proportional — takes its ntile from the two-pass "
    "range-partitioned rank (plans/ranking.py: boundary literals, "
    "per-bucket row_number + offset prefix sum, exact ntile arithmetic "
    "from (rank, n)); the grand total rides in as a broadcast 1-row "
    "scalar. Identical to ntile() by construction — the oracle keeps the "
    "window formulation.",
)
def orders_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("revenue")
    )
    # persisted NOW: the two-pass boundary sketch runs at construction and
    # would otherwise recompute the fact rollup; released on result GC
    per_cust = per_cust.persist()
    ranked = two_pass_global_rank(
        per_cust, "revenue", "o_custkey", descending=True
    ).withColumn(
        "bucket", ntile_from_rank(F.col("_rank"), F.col("_n"), PARETO_BUCKETS)
    )
    tot = per_cust.agg(F.sum("revenue").alias("total"))
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(per_cust, (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("bucket", "total")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("revenue"), 2).alias("revenue"),
            F.round(F.sum("revenue") / F.first("total"), 4).alias(
                "revenue_share"
            ),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_customers",
            "revenue",
            "revenue_share",
        )
    ))


# ---------------------------------------------------------------------------
# orders_gini_hhi — revenue concentration (Gini + HHI)
# ---------------------------------------------------------------------------


@register(
    "orders_gini_hhi",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY o_custkey
    ),
    rk AS (
      SELECT o_custkey, rev_c,
             CAST(row_number() OVER (ORDER BY rev_c ASC, o_custkey ASC)
                  AS BIGINT) AS i
      FROM per
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(rev_c) / 100.0, 2) AS total_revenue,
           round(sum((rev_c / 100.0) * (rev_c / 100.0))
                 / ((sum(rev_c) / 100.0) * (sum(rev_c) / 100.0)), 6) AS hhi,
           round(2.0 * sum(i * (rev_c / 100.0))
                 / (count(*) * (sum(rev_c) / 100.0))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM rk
    """,
    doc="Revenue-concentration readout per the two standard inequality "
    "metrics: Herfindahl-Hirschman index (sum of squared revenue shares) "
    "and the Gini coefficient via the rank formula G = 2*sum(i*x_(i))/"
    "(n*sum(x)) - (n+1)/n over revenues sorted ascending (ties broken by "
    "customer key). Per-customer totals are EXACT INTEGER CENTS, so the "
    "rank — the one comparison that decides which row gets which i — is "
    "summation-order-independent and engine-exact (a double sum's last "
    "ulp depends on partial-aggregate merge order). One shuffle to "
    "per-customer totals; the per-customer relation is data-proportional, "
    "so the rank i is the two-pass range-partitioned rank "
    "(plans/ranking.py: boundary literals, per-bucket row_number + "
    "bucket-offset prefix sum) — identical to row_number() by "
    "construction (the oracle keeps the window formulation) — and "
    "everything reduces to a single row.",
)
def orders_gini_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_global_rank,
    )

    o = table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    # persisted NOW: the two-pass boundary sketch runs at construction and
    # would otherwise recompute the fact rollup; released on result GC
    per = per.persist()
    rk = two_pass_global_rank(
        per, "rev_c", "o_custkey", descending=False, rank_col="i"
    ).select("rev_c", "i")
    n = F.count(F.lit(1))
    rev = F.col("rev_c") / 100.0
    tot = F.sum("rev_c") / 100.0
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(per, rk.agg(
        n.cast("bigint").alias("n_customers"),
        F.round(tot, 2).alias("total_revenue"),
        F.round(F.sum(rev * rev) / (tot * tot), 6).alias("hhi"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * rev) / (n * tot)
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    ))


# ---------------------------------------------------------------------------
# orders_skyline_pareto — 2-D skyline (Pareto frontier) via running max
# ---------------------------------------------------------------------------


@register(
    "orders_skyline_pareto",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS spend_c,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    grp AS (
      SELECT spend_c, max(n_orders) AS gmax FROM per_cust GROUP BY 1
    ),
    ranked AS (
      SELECT spend_c, gmax,
             max(gmax) OVER (ORDER BY spend_c DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_max
      FROM grp
    )
    SELECT p.o_custkey, round(p.spend_c / 100.0, 2) AS spend, p.n_orders
    FROM per_cust p JOIN ranked r ON r.spend_c = p.spend_c
    WHERE coalesce(r.prev_max, -1) < p.n_orders
      AND r.gmax <= p.n_orders
    """,
    doc="2-D skyline (Pareto frontier) over customers on (total spend, order "
    "count): a customer survives iff no other customer is >= on both axes "
    "and > on one. The naive formulation is an O(n^2) dominance anti-join; "
    "this is the sort-based 2-D skyline instead — group to distinct spend "
    "keys (map-side combine), one ordered window computing the running max "
    "of order counts over STRICTLY higher spend, then a hash join back. "
    "Spend keys are integer cents so group equality is exact. The "
    "distinct-spend relation is data-proportional, so the running max of "
    "order counts over strictly higher spend is the two-pass "
    "range-partitioned prefix max (plans/ranking.py two_pass_prefix_max, "
    "exclusive frame: per-bucket prefix maxima partitioned by "
    "range-bucket + NULL-skipping greatest with the strictly-earlier "
    "bucket maxima) — max is idempotent and associative, so the "
    "decomposition is identical to the oracle's single window by "
    "construction.",
)
def orders_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_prefix_max,
    )

    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("spend_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    # persisted NOW: the two-pass boundary sketch runs at construction and
    # would otherwise recompute the fact rollup; released on result GC
    per_cust = per_cust.persist()
    grp = per_cust.groupBy("spend_c").agg(F.max("n_orders").alias("gmax"))
    ranked = two_pass_prefix_max(
        grp, "spend_c", "spend_c", "gmax",
        descending=True, cum_col="prev_max", exclusive=True,
    )
    out = (
        per_cust.join(ranked, "spend_c")
        .filter(
            (F.coalesce(F.col("prev_max"), F.lit(-1)) < F.col("n_orders"))
            & (F.col("gmax") <= F.col("n_orders"))
        )
        .select(
            "o_custkey",
            F.round(F.col("spend_c") / 100.0, 2).alias("spend"),
            "n_orders",
        )
    )
    return release_on_gc(per_cust, out)


# ---------------------------------------------------------------------------
# orders_abc_xyz — ABC revenue classification x XYZ variability classification
# ---------------------------------------------------------------------------

ABC_A, ABC_B = 0.8, 0.95
XYZ_X, XYZ_Y = 0.5, 1.0


@register(
    "orders_abc_xyz",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_c
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS total_c FROM rev),
    cum AS (
      SELECT l_partkey, rev_c,
             sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey)
               * 1.0 / t.total_c AS cum_share
      FROM rev CROSS JOIN tot t
    ),
    monthly AS (
      SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS mrev_c
      FROM lineitem GROUP BY 1, 2
    ),
    cv AS (
      SELECT l_partkey,
             CASE WHEN count(*) > 1 AND avg(mrev_c) <> 0
                  THEN round(stddev_samp(mrev_c) / avg(mrev_c), 4) END AS cv
      FROM monthly GROUP BY 1
    )
    SELECT c.l_partkey, round(c.rev_c / 100.0, 2) AS revenue,
           round(c.cum_share, 6) AS cum_share,
           CASE WHEN c.cum_share <= {ABC_A} THEN 'A'
                WHEN c.cum_share <= {ABC_B} THEN 'B' ELSE 'C' END AS abc,
           v.cv,
           CASE WHEN v.cv IS NULL THEN 'Z'
                WHEN v.cv < {XYZ_X} THEN 'X'
                WHEN v.cv < {XYZ_Y} THEN 'Y' ELSE 'Z' END AS xyz
    FROM cum c JOIN cv v ON v.l_partkey = c.l_partkey
    """,
    doc="ABC/XYZ inventory classification per part: ABC buckets by "
    f"cumulative revenue share ({ABC_A}/{ABC_B} cuts over the revenue-DESC "
    "running total) and XYZ buckets by demand variability (coefficient of "
    "variation of monthly revenue; single-month or zero-mean parts fall to "
    "Z). Two map-side-combined aggregations of the fact table — in exact "
    "INTEGER CENTS, so the per-part revenue is summation-order-independent "
    "and both engines agree bit-for-bit — then ALL window/ranking work "
    "happens on the compacted per-part relation. That relation is "
    "data-proportional, so the revenue-DESC running total is the two-pass "
    "range-partitioned prefix sum (plans/ranking.py two_pass_prefix_sum: "
    "boundary literals, per-bucket running sums, bucket-total offsets) — "
    "exact-integer addition is associative, so the re-ordered summation "
    "is identical to the oracle's single window by construction.",
)
def orders_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_prefix_sum,
    )

    li = table(spark, sf_dir, "lineitem")
    money_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    rev = li.groupBy("l_partkey").agg(
        F.sum(money_c).cast("bigint").alias("rev_c")
    )
    # persisted NOW: the two-pass boundary sketch runs at construction and
    # would otherwise recompute the fact-table rollup; released when the
    # returned result is GC'd (release_on_gc at return)
    rev = rev.persist()
    tot = rev.agg(F.sum("rev_c").cast("bigint").alias("total_c"))
    cum = (
        two_pass_prefix_sum(
            rev, "rev_c", "l_partkey", "rev_c",
            descending=True, cum_col="_cumrev",
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_share", F.col("_cumrev") * 1.0 / F.col("total_c")
        )
    )
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("m")
    ).agg(F.sum(money_c).cast("bigint").alias("mrev_c"))
    cv = monthly.groupBy("l_partkey").agg(
        F.when(
            (F.count(F.lit(1)) > 1) & (F.avg("mrev_c") != 0),
            F.round(F.stddev_samp("mrev_c") / F.avg("mrev_c"), 4),
        ).alias("cv")
    )
    # rev feeds the boundary sketch, the grand total and the ranked running
    # share; it was persisted above so the lineitem scan+agg runs once
    return release_on_gc(rev, cum.join(cv, "l_partkey").select(
        "l_partkey",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        F.round("cum_share", 6).alias("cum_share"),
        F.when(F.col("cum_share") <= ABC_A, "A")
        .when(F.col("cum_share") <= ABC_B, "B")
        .otherwise("C")
        .alias("abc"),
        "cv",
        F.when(F.col("cv").isNull(), "Z")
        .when(F.col("cv") < XYZ_X, "X")
        .when(F.col("cv") < XYZ_Y, "Y")
        .otherwise("Z")
        .alias("xyz"),
    ))


# ---------------------------------------------------------------------------
# orders_exp_smoothing — exponential smoothing as a deterministic fold
# ---------------------------------------------------------------------------

SMOOTH_ALPHA = 0.3


@register(
    "orders_exp_smoothing",
    oracle=f"""
    WITH monthly AS (
      SELECT o_orderpriority AS priority,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1, 2
    ),
    series AS (
      SELECT priority, month, rev_c,
             list(rev_c) OVER (
               PARTITION BY priority ORDER BY month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
      FROM monthly
    )
    SELECT priority, month, round(rev_c / 100.0, 2) AS revenue,
           round(list_reduce(xs,
                 (acc, x) -> CAST(round(CAST({SMOOTH_ALPHA} AS DOUBLE) * x
                     + CAST({1 - SMOOTH_ALPHA!r} AS DOUBLE) * acc)
                   AS BIGINT)) / 100.0, 2)
             AS smoothed
    FROM series
    """,
    doc=f"Simple exponential smoothing (alpha={SMOOTH_ALPHA}) of monthly "
    "revenue per order priority — the recursive filter S_t = aX_t + "
    "(1-a)S_(t-1), which no plain window sum can express order-safely. The "
    "recursion runs as an explicit sequential FOLD over the series prefix "
    "(Spark `aggregate` HOF / DuckDB list_reduce) whose state is INTEGER "
    "CENTS, re-quantized every step: decimal-place rounding of large "
    "doubles is where the engines' round() conventions diverge (Spark "
    "rounds the shortest decimal repr half-up, DuckDB the FP-scaled "
    "product — a real 1-ulp divergence surfaced at sf0.1), while "
    "round-to-integer only differs on exact .5 doubles, which the dyadic "
    "smoothing products cannot hit. Inputs are exact integer cents. The fact table reduces map-side to (priority, month) rows; "
    "prefix arrays exist only on that tiny relation, partitioned per "
    "series — at 100 TB the per-series state is months-long, never "
    "fact-proportional.",
)
def orders_exp_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    series = monthly.select(
        "priority",
        "month",
        "rev_c",
        F.collect_list("rev_c").over(w).alias("xs"),
    )
    fold = F.expr(
        f"aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1), "
        f"(acc, x) -> CAST(round({SMOOTH_ALPHA}D * x "
        f"+ {1 - SMOOTH_ALPHA}D * acc) AS BIGINT))"
    )
    return series.select(
        "priority",
        "month",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        F.round(fold / 100.0, 2).alias("smoothed"),
    )


# ---------------------------------------------------------------------------
# orders_survival_km — Kaplan-Meier repeat-purchase survival curve
# ---------------------------------------------------------------------------


@register(
    "orders_survival_km",
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
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs),
    by_d AS (
      SELECT dur, CAST(sum(ev) AS BIGINT) AS d_ev,
             CAST(count(*) - sum(ev) AS BIGINT) AS d_cens
      FROM obs GROUP BY 1
    ),
    sw AS (
      SELECT dur, d_ev, d_cens,
             t.n - coalesce(sum(d_ev + d_cens) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n_risk
      FROM by_d, tot t
    )
    SELECT dur AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
           d_ev AS n_events, d_cens AS n_censored,
           CASE WHEN n_risk = d_ev THEN 0.0
                ELSE round(exp(sum(CASE WHEN n_risk > d_ev
                      THEN round(ln((n_risk - d_ev) * 1.0 / n_risk), 9)
                      END) OVER (ORDER BY dur)), 6) END AS survival
    FROM sw
    """,
    doc="Kaplan-Meier survival curve for repeat purchase: time from each "
    "customer's first to second order, right-CENSORED at the observation "
    "horizon for one-order customers — the estimator that makes churn/"
    "retention math honest when most subjects haven't converted yet "
    "(naive conversion rates ignore censoring). Risk sets are exact "
    "integers via one cumulative window over the duration-grouped "
    "relation; the product-limit estimate runs as exp-sum-ln with "
    "per-term rounding (the no-cumprod-in-SQL standard form, "
    "deterministic in frame order), and total-extinction rows guard the "
    "log domain on both engines. Fact work is one per-customer window; "
    "the curve itself is duration-cardinality-sized.",
)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # first + second order in ONE windowed pass (rank filter rewrites to
    # WindowGroupLimit, then a conditional pivot per customer) — no
    # separate firsts/seconds scans, no self-join
    first_two = (
        o.select(
            "o_custkey", "o_orderdate", F.row_number().over(w2).alias("rn")
        )
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("o_orderdate"))).alias("t1"),
            F.max(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("t2"),
        )
    )
    mx = o.agg(F.max("o_orderdate").alias("tmax"))
    obs = (
        first_two.crossJoin(F.broadcast(mx))
        .select(
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
        )
    )
    tot = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    by_d = obs.groupBy("dur").agg(
        F.sum("ev").cast("bigint").alias("d_ev"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("bigint").alias("d_cens"),
    )
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    sw = by_d.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d_ev",
        "d_cens",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("d_ev") + F.col("d_cens")).over(wprev), F.lit(0)
            )
        ).alias("n_risk"),
    )
    term = F.when(
        F.col("n_risk") > F.col("d_ev"),
        F.round(
            F.log((F.col("n_risk") - F.col("d_ev")) * 1.0 / F.col("n_risk")), 9
        ),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = sw.select(
        F.col("dur").alias("duration_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d_ev").alias("n_events"),
        F.col("d_cens").alias("n_censored"),
        F.when(F.col("n_risk") == F.col("d_ev"), F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(term).over(wcum)), 6))
        .alias("survival"),
    )
    return persist_until_collected(obs, out)


# ---------------------------------------------------------------------------
# orders_shewhart_control — 3-sigma control chart over the daily series
# ---------------------------------------------------------------------------

SHEWHART_SIGMA = 3.0


@register(
    "orders_shewhart_control",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    ),
    lim AS (
      SELECT avg(rev_c) AS center, stddev_samp(rev_c) AS sigma FROM daily
    )
    SELECT d.day, round(d.rev_c / 100.0, 2) AS revenue,
           round(l.center / 100.0, 2) AS center,
           round((l.center - {SHEWHART_SIGMA} * l.sigma) / 100.0, 2) AS lcl,
           round((l.center + {SHEWHART_SIGMA} * l.sigma) / 100.0, 2) AS ucl,
           CAST(CASE WHEN d.rev_c < l.center - {SHEWHART_SIGMA} * l.sigma
                       OR d.rev_c > l.center + {SHEWHART_SIGMA} * l.sigma
                THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM daily d CROSS JOIN lim l
    """,
    doc=f"Shewhart individuals control chart ({SHEWHART_SIGMA}-sigma) over "
    "daily revenue: center line, lower/upper control limits, and the "
    "out-of-control flag per day — the SPC primitive behind every "
    "pipeline-health dashboard (its event-series siblings here are "
    "events_daily_anomaly's rolling z-score and the CUSUM changepoint; "
    "Shewhart detects SPIKES, CUSUM detects sustained shifts). The fact "
    "table reduces map-side to exact-integer daily cents; limits are one "
    "1-row moment aggregation broadcast back over the calendar-sized "
    "series. Flags are decided on the same arithmetic in both engines.",
)
def orders_shewhart_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    lim = daily.agg(
        F.avg("rev_c").alias("center"), F.stddev_samp("rev_c").alias("sigma")
    )
    lo = F.col("center") - SHEWHART_SIGMA * F.col("sigma")
    hi = F.col("center") + SHEWHART_SIGMA * F.col("sigma")
    out = daily.crossJoin(F.broadcast(lim)).select(
        "day",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        F.round(F.col("center") / 100.0, 2).alias("center"),
        F.round(lo / 100.0, 2).alias("lcl"),
        F.round(hi / 100.0, 2).alias("ucl"),
        ((F.col("rev_c") < lo) | (F.col("rev_c") > hi))
        .cast("bigint")
        .alias("out_of_control"),
    )
    return persist_until_collected(daily, out)


# ---------------------------------------------------------------------------
# orders_newsvendor_fractile — critical-fractile stocking per market segment
# ---------------------------------------------------------------------------

NV_Q = 0.9  # critical fractile cu/(cu+co) with cu=9, co=1


@register(
    "orders_newsvendor_fractile",
    oracle=f"""
    WITH d AS (
      SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    q AS (
      SELECT segment,
             CAST(round(quantile_cont(cnt, {NV_Q!r}) * 10) AS BIGINT)
               AS stock_d10
      FROM d GROUP BY 1
    ),
    j AS (
      SELECT d.segment, d.cnt, q.stock_d10,
             greatest(0, q.stock_d10 - d.cnt * 10) AS over_d10,
             greatest(0, d.cnt * 10 - q.stock_d10) AS under_d10
      FROM d JOIN q USING (segment)
    )
    SELECT segment, CAST(count(*) AS BIGINT) AS n_days,
           round(max(stock_d10) / 10.0, 1) AS stock_q90,
           round(sum(over_d10) * 1.0 / count(*) / 10.0, 4) AS exp_overage,
           round(sum(under_d10) * 1.0 / count(*) / 10.0, 4) AS exp_underage,
           round(1.0 - sum(under_d10) * 1.0 / (10.0 * sum(cnt)), 6)
             AS fill_rate
    FROM j GROUP BY 1
    """,
    doc=f"Newsvendor stocking per market segment: the {NV_Q} critical "
    "fractile (cu=9, co=1) of daily order demand — the exact interpolated "
    "quantile both engines define identically — plus the expected "
    "overage/underage and fill rate that stock level implies, evaluated "
    "against the same demand history. Quantiles quantize to integer "
    "tenths so the comparison arithmetic is exact integer math. Plan: "
    "facts aggregate once to (segment, day) counts (map-side combine "
    "behind a broadcast customer join); the quantile and the evaluation "
    "re-read only that compacted daily relation, pinned for the result's "
    "lifetime. The decision-science sibling of the plain percentile op.",
)
def orders_newsvendor_fractile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    d = (
        o.join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    q = d.groupBy("segment").agg(
        F.round(F.percentile("cnt", F.lit(NV_Q)) * 10)
        .cast("bigint")
        .alias("stock_d10")
    )
    j = d.join(maybe_broadcast(q), "segment").select(
        "segment",
        "cnt",
        "stock_d10",
        F.greatest(F.lit(0), F.col("stock_d10") - F.col("cnt") * 10).alias(
            "over_d10"
        ),
        F.greatest(F.lit(0), F.col("cnt") * 10 - F.col("stock_d10")).alias(
            "under_d10"
        ),
    )
    out = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max("stock_d10") / 10.0, 1).alias("stock_q90"),
        F.round(
            F.sum("over_d10") * 1.0 / F.count(F.lit(1)) / 10.0, 4
        ).alias("exp_overage"),
        F.round(
            F.sum("under_d10") * 1.0 / F.count(F.lit(1)) / 10.0, 4
        ).alias("exp_underage"),
        F.round(
            1.0 - F.sum("under_d10") * 1.0 / (10.0 * F.sum("cnt")), 6
        ).alias("fill_rate"),
    )
    return persist_until_collected(d, out)


# ---------------------------------------------------------------------------
# orders_mape_backtest — forecast backtest: naive vs 3-month moving average
# ---------------------------------------------------------------------------


@register(
    "orders_mape_backtest",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    ),
    f AS (
      SELECT month, rev_c,
             lag(rev_c, 1) OVER (ORDER BY month) AS l1,
             lag(rev_c, 2) OVER (ORDER BY month) AS l2,
             lag(rev_c, 3) OVER (ORDER BY month) AS l3
      FROM m
    ),
    s AS (
      SELECT rev_c, l1 AS naive_c,
             CAST(round((l1 + l2 + l3) / 3.0) AS BIGINT) AS ma3_c
      FROM f WHERE l3 IS NOT NULL
    ),
    a AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_months,
        CAST(sum(CAST(round(1000000.0 * abs(rev_c - naive_c) / rev_c)
             AS BIGINT)) AS BIGINT) AS ape_naive,
        CAST(sum(CAST(round(1000000.0 * abs(rev_c - ma3_c) / rev_c)
             AS BIGINT)) AS BIGINT) AS ape_ma3
      FROM s
    )
    SELECT n_months,
           round(ape_naive * 1.0 / n_months / 10000.0, 4) AS mape_naive_pct,
           round(ape_ma3 * 1.0 / n_months / 10000.0, 4) AS mape_ma3_pct,
           CASE WHEN ape_ma3 < ape_naive THEN 'ma3'
                WHEN ape_ma3 > ape_naive THEN 'naive'
                ELSE 'tie' END AS winner
    FROM a
    """,
    doc="Rolling-origin forecast backtest on monthly revenue: last-value "
    "(naive) vs trailing 3-month moving average, scored by MAPE over "
    "every month where both forecasts exist. Per-month absolute "
    "percentage errors quantize to integer ppm before averaging, so the "
    "winner verdict and both MAPEs hash-verify. The month series "
    "aggregates from facts with map-side combine (exact integer cents); "
    "the lag windows then run on ~80 rows. This is the evaluation "
    "harness for the registry's forecasters (orders_exp_smoothing, "
    "events_seasonal_baseline): a model that can't beat naive MAPE here "
    "has no business running at 100 TB.",
)
def orders_mape_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    wm = Window.orderBy("month")
    f = m.select(
        "month",
        "rev_c",
        F.lag("rev_c", 1).over(wm).alias("l1"),
        F.lag("rev_c", 2).over(wm).alias("l2"),
        F.lag("rev_c", 3).over(wm).alias("l3"),
    )
    s = f.filter(F.col("l3").isNotNull()).select(
        "rev_c",
        F.col("l1").alias("naive_c"),
        F.round((F.col("l1") + F.col("l2") + F.col("l3")) / 3.0)
        .cast("bigint")
        .alias("ma3_c"),
    )

    def ape(fc: str) -> F.Column:
        return F.sum(
            F.round(
                1000000.0 * F.abs(F.col("rev_c") - F.col(fc)) / F.col("rev_c")
            ).cast("bigint")
        ).cast("bigint")

    a = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        ape("naive_c").alias("ape_naive"),
        ape("ma3_c").alias("ape_ma3"),
    )
    return a.select(
        "n_months",
        F.round(F.col("ape_naive") * 1.0 / F.col("n_months") / 10000.0, 4)
        .alias("mape_naive_pct"),
        F.round(F.col("ape_ma3") * 1.0 / F.col("n_months") / 10000.0, 4)
        .alias("mape_ma3_pct"),
        F.when(F.col("ape_ma3") < F.col("ape_naive"), F.lit("ma3"))
        .when(F.col("ape_ma3") > F.col("ape_naive"), F.lit("naive"))
        .otherwise(F.lit("tie"))
        .alias("winner"),
    )


# ---------------------------------------------------------------------------
# orders_holt_linear — Holt's linear-trend smoothing per priority series
# ---------------------------------------------------------------------------

HOLT_ALPHA = 0.55
HOLT_BETA = 0.3


@register(
    "orders_holt_linear",
    oracle=f"""
    WITH RECURSIVE monthly AS (
      SELECT o_orderpriority AS priority,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1, 2
    ),
    idx AS (
      SELECT priority, month, rev_c,
             CAST(row_number() OVER (PARTITION BY priority ORDER BY month)
                  AS BIGINT) AS i
      FROM monthly
    ),
    rec AS (
      SELECT priority, i, month, rev_c,
             rev_c AS l, CAST(0 AS BIGINT) AS b
      FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.priority, idx.i, idx.month, idx.rev_c,
             CAST(round(CAST({HOLT_ALPHA} AS DOUBLE) * idx.rev_c
                   + CAST({1 - HOLT_ALPHA!r} AS DOUBLE) * (rec.l + rec.b))
                  AS BIGINT),
             CAST(round(CAST({HOLT_BETA} AS DOUBLE)
                   * (CAST(round(CAST({HOLT_ALPHA} AS DOUBLE) * idx.rev_c
                        + CAST({1 - HOLT_ALPHA!r} AS DOUBLE)
                          * (rec.l + rec.b)) AS BIGINT) - rec.l)
                   + CAST({1 - HOLT_BETA!r} AS DOUBLE) * rec.b) AS BIGINT)
      FROM rec JOIN idx
        ON idx.priority = rec.priority AND idx.i = rec.i + 1
    )
    SELECT priority, month, round(rev_c / 100.0, 2) AS revenue,
           round(l / 100.0, 2) AS level, round(b / 100.0, 2) AS trend,
           round((l + b) / 100.0, 2) AS forecast_1
    FROM rec
    """,
    doc=f"Holt's linear-trend double exponential smoothing (alpha="
    f"{HOLT_ALPHA}, beta={HOLT_BETA}) of monthly revenue per order "
    "priority — the (level, trend) recursion simple smoothing "
    "(orders_exp_smoothing) cannot carry, giving a one-step-ahead "
    "forecast with slope. The pair-state fold runs as an explicit "
    "sequential aggregate-HOF over a struct accumulator whose state is "
    "INTEGER CENTS, re-quantized every step — decimal-place rounding of "
    "large doubles is where Spark (BigDecimal shortest-repr half-up) "
    "and DuckDB (FP-scaled half-away) disagree, while round-to-integer "
    "of the identical double only diverges on exact .5 doubles, which "
    "the dyadic smoothing products cannot produce (the DuckDB oracle "
    "expresses the same fold as a recursive CTE: its list_reduce cannot "
    "carry struct state faithfully). Facts reduce map-side to (priority, month); the fold "
    "touches only the months-long series per key — at 100 TB the "
    "recursion state is 2 doubles per series, never fact-proportional.",
)
def orders_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    series = monthly.select(
        "priority",
        "month",
        "rev_c",
        F.collect_list("rev_c").over(w).alias("xs"),
    )
    fold = F.expr(
        f"aggregate("
        f"transform(slice(xs, 2, size(xs) - 1), "
        f"  x -> named_struct('l', x, 'b', CAST(0 AS BIGINT))), "
        f"named_struct('l', element_at(xs, 1), 'b', CAST(0 AS BIGINT)), "
        f"(acc, e) -> named_struct("
        f"'l', CAST(round({HOLT_ALPHA}D * e.l "
        f"     + {1 - HOLT_ALPHA}D * (acc.l + acc.b)) AS BIGINT), "
        f"'b', CAST(round({HOLT_BETA}D * (CAST(round({HOLT_ALPHA}D * e.l "
        f"       + {1 - HOLT_ALPHA}D * (acc.l + acc.b)) AS BIGINT) - acc.l) "
        f"     + {1 - HOLT_BETA}D * acc.b) AS BIGINT)))"
    )
    return series.select(
        "priority",
        "month",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        F.round(fold.getField("l") / 100.0, 2).alias("level"),
        F.round(fold.getField("b") / 100.0, 2).alias("trend"),
        F.round((fold.getField("l") + fold.getField("b")) / 100.0, 2).alias(
            "forecast_1"
        ),
    )


# ---------------------------------------------------------------------------
# orders_price_index — Laspeyres / Paasche / Fisher vs the base year
# ---------------------------------------------------------------------------


@register(
    "orders_price_index",
    oracle="""
    WITH py AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS y, l_partkey,
             CAST(round(10000.0 * sum(CAST(round(l_extendedprice * 100)
                  AS BIGINT)) / sum(CAST(round(l_quantity) AS BIGINT)))
                  AS BIGINT) AS p_u,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    base AS (
      SELECT l_partkey, p_u AS p0, q AS q0 FROM py
      WHERE y = (SELECT min(y) FROM py)
    ),
    j AS (
      SELECT py.y, py.p_u, py.q, base.p0, base.q0
      FROM py JOIN base USING (l_partkey)
      WHERE py.y > (SELECT min(y) FROM py)
    ),
    s AS (
      SELECT y, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(CAST(p_u * q0 AS HUGEINT)) AS DOUBLE) AS l_num,
             CAST(sum(CAST(p0 * q0 AS HUGEINT)) AS DOUBLE) AS l_den,
             CAST(sum(CAST(p_u * q AS HUGEINT)) AS DOUBLE) AS p_num,
             CAST(sum(CAST(p0 * q AS HUGEINT)) AS DOUBLE) AS p_den
      FROM j GROUP BY 1
    )
    SELECT y AS year, n_parts,
           round(l_num / l_den, 6) AS laspeyres,
           round(p_num / p_den, 6) AS paasche,
           round(sqrt((l_num / l_den) * (p_num / p_den)), 6) AS fisher
    FROM s
    """,
    doc="Laspeyres, Paasche, and Fisher price indices per ship year "
    "against the base (first) year, over per-(part, year) unit prices — "
    "the canonical inflation/price-drift readout for a transactional "
    "fact table. Unit prices quantize to integer hundredths-of-a-cent, "
    "so every index numerator/denominator is an exact integer sum "
    "(price x base-quantity products), and the three ratios divide "
    "identically in both engines. Plan: one map-combined (part, year) "
    "aggregation, the base-year slice joins back hash-partitioned on "
    "partkey, then a per-year reduce of 4 exact sums — index state is "
    "O(years), never fact-proportional.",
)
def orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.year("l_shipdate").cast("bigint").alias("y"),
        "l_partkey",
    ).agg(
        F.round(
            10000.0
            * F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            / F.sum(F.round("l_quantity").cast("bigint"))
        )
        .cast("bigint")
        .alias("p_u"),
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q"),
    )
    y0 = py.agg(F.min("y").alias("y0"))
    base = (
        py.crossJoin(F.broadcast(y0))
        .filter(F.col("y") == F.col("y0"))
        .select(
            "l_partkey", F.col("p_u").alias("p0"), F.col("q").alias("q0")
        )
    )
    j = (
        py.crossJoin(F.broadcast(y0))
        .filter(F.col("y") > F.col("y0"))
        .join(maybe_broadcast(base), "l_partkey")
    )
    s = j.groupBy("y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum((F.col("p_u") * F.col("q0")).cast("decimal(38,0)"))
        .cast("double")
        .alias("l_num"),
        F.sum((F.col("p0") * F.col("q0")).cast("decimal(38,0)"))
        .cast("double")
        .alias("l_den"),
        F.sum((F.col("p_u") * F.col("q")).cast("decimal(38,0)"))
        .cast("double")
        .alias("p_num"),
        F.sum((F.col("p0") * F.col("q")).cast("decimal(38,0)"))
        .cast("double")
        .alias("p_den"),
    )
    out = s.select(
        F.col("y").alias("year"),
        "n_parts",
        F.round(F.col("l_num") / F.col("l_den"), 6).alias("laspeyres"),
        F.round(F.col("p_num") / F.col("p_den"), 6).alias("paasche"),
        F.round(
            F.sqrt(
                (F.col("l_num") / F.col("l_den"))
                * (F.col("p_num") / F.col("p_den"))
            ),
            6,
        ).alias("fisher"),
    )
    return persist_until_collected(py, out)


# ---------------------------------------------------------------------------
# orders_nelson_aalen — cumulative hazard of repeat purchase
# ---------------------------------------------------------------------------


@register(
    "orders_nelson_aalen",
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
             tot.n0 - coalesce(sum(leaving) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM g CROSS JOIN tot
    ),
    haz AS (
      SELECT dur, d, n_risk,
             CAST(sum((2000000000 * d + n_risk) // (2 * n_risk))
                  OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS h_nn
      FROM risk WHERE d > 0
    )
    SELECT dur AS duration_days, d AS n_events,
           CAST(n_risk AS BIGINT) AS n_risk,
           h_nn AS cum_hazard_nn,
           CAST(h_nn AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS cum_hazard
    FROM haz
    """,
    doc="Nelson-Aalen cumulative hazard of the second purchase (with "
    "right-censoring at the horizon) — the estimator-of-choice when the "
    "HAZARD, not the survival curve, is the readout (the "
    "low-risk-set-robust sibling of orders_survival_km's product-limit). "
    "Per-duration increments d/n quantize to integer nano-units with "
    "ALL-INTEGER half-away division (2e9*d + n) div (2n) — no float "
    "multiply/divide/round anywhere before the single final h_nn/1e9 "
    "display division, which is one correctly-rounded IEEE op on "
    "identical integers and therefore bit-identical across engines. "
    "(Two prior variants each left one float round() on the hash "
    "surface and diverged on the driver platform while probing "
    "bit-exact locally.) "
    "Same plan shape as KM: one per-customer window for first/second "
    "orders, risk sets as a cumulative window over the duration-grouped "
    "relation — everything after the first shuffle is "
    "duration-cardinality-sized.",
)
def orders_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
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
                F.datediff(F.col("tmax").cast("date"), F.col("t1").cast("date"))
            )
            .cast("bigint")
            .alias("dur"),
            F.when(F.col("t2").isNotNull(), 1).otherwise(0).cast("bigint").alias("ev"),
        )
    )
    tot = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n0"))
    g = obs.groupBy("dur").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = g.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        (
            F.col("n0")
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    haz = risk.filter(F.col("d") > 0).select(
        "dur",
        "d",
        "n_risk",
        F.sum(
            F.expr(
                "(CAST(2000000000 AS BIGINT) * d + n_risk) div (2 * n_risk)"
            )
        )
        .over(wcum)
        .cast("bigint")
        .alias("h_nn"),
    )
    out = haz.select(
        F.col("dur").alias("duration_days"),
        F.col("d").alias("n_events"),
        "n_risk",
        F.col("h_nn").alias("cum_hazard_nn"),
        (F.col("h_nn").cast("double") / F.lit(1000000000).cast("double")).alias(
            "cum_hazard"
        ),
    )
    return persist_until_collected(obs, out)


# ---------------------------------------------------------------------------
# orders_seasonal_decompose — classical additive decomposition of monthly
# revenue (2x12 centered moving-average trend, centered seasonal indices)
# ---------------------------------------------------------------------------


@register(
    "orders_seasonal_decompose",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    tr AS (
      SELECT month, rev_c,
             CASE WHEN count(*) OVER w13 = 13
                  THEN 2 * sum(rev_c) OVER w13
                       - first_value(rev_c) OVER w13
                       - last_value(rev_c) OVER w13
             END AS trend24_c
      FROM monthly
      WINDOW w13 AS (ORDER BY month
                     ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
    ),
    si AS (
      SELECT CAST(month(month) AS BIGINT) AS moy,
             CAST(sum(24 * rev_c - trend24_c) AS BIGINT) AS dsum24,
             CAST(count(*) AS BIGINT) AS cnt
      FROM tr WHERE trend24_c IS NOT NULL GROUP BY 1
    ),
    su AS (
      SELECT moy,
             CAST(round(1000000.0 * dsum24 / (24.0 * cnt)) AS BIGINT) AS s_u
      FROM si
    ),
    ctr AS (
      SELECT CAST(sum(s_u) AS BIGINT) AS su_tot,
             CAST(count(*) AS BIGINT) AS n_moy
      FROM su
    )
    SELECT tr.month, round(tr.rev_c / 100.0, 2) AS revenue,
           CAST(tr.trend24_c AS DOUBLE) / CAST(2400 AS DOUBLE) AS trend,
           (CAST(su.s_u AS DOUBLE)
            - CAST(ctr.su_tot AS DOUBLE) / CAST(ctr.n_moy AS DOUBLE))
             / CAST(100000000 AS DOUBLE) AS seasonal,
           CASE WHEN tr.trend24_c IS NOT NULL THEN
             round(tr.rev_c / 100.0, 2)
             - CAST(tr.trend24_c AS DOUBLE) / CAST(2400 AS DOUBLE)
             - (CAST(su.s_u AS DOUBLE)
                - CAST(ctr.su_tot AS DOUBLE) / CAST(ctr.n_moy AS DOUBLE))
               / CAST(100000000 AS DOUBLE)
           END AS residual
    FROM tr
    JOIN su ON su.moy = CAST(month(tr.month) AS BIGINT)
    CROSS JOIN ctr
    """,
    doc="Classical additive seasonal decomposition of monthly revenue: "
    "trend = centered 2x12 moving average, seasonal = mean detrended "
    "value per calendar month re-centered to sum to zero, residual = the "
    "rest — the decomposition every seasonal-adjustment and "
    "anomaly-on-deseasonalized-data pipeline starts from (STL's simpler, "
    "exactly-reproducible ancestor). Exactness discipline: the 13-month "
    "window computes 24x the trend as a pure INTEGER combination "
    "(2*sum - first - last over exact cents), detrended values stay "
    "integer (24*rev - trend24), per-month indices quantize to integer "
    "micro-units, and every reported double is a fixed-order IEEE "
    "expression over those integers — no engine-divergent rounding "
    "anywhere on the hash surface. All windows run over the "
    "month-count-sized series (bounded by the calendar); the fact table "
    "contributes one map-combined rollup.",
)
def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    w13 = Window.orderBy("month").rowsBetween(-6, 6)
    tr = monthly.select(
        "month",
        "rev_c",
        F.when(
            F.count(F.lit(1)).over(w13) == 13,
            2 * F.sum("rev_c").over(w13)
            - F.first("rev_c").over(w13)
            - F.last("rev_c").over(w13),
        ).alias("trend24_c"),
    )
    tr = tr.persist()  # consumed by the index agg AND the output join
    si = (
        tr.filter(F.col("trend24_c").isNotNull())
        .groupBy(F.month("month").cast("bigint").alias("moy"))
        .agg(
            F.sum(24 * F.col("rev_c") - F.col("trend24_c"))
            .cast("bigint")
            .alias("dsum24"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    su = si.select(
        "moy",
        F.round(1000000.0 * F.col("dsum24") / (24.0 * F.col("cnt")))
        .cast("bigint")
        .alias("s_u"),
    )
    ctr = su.agg(
        F.sum("s_u").cast("bigint").alias("su_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_moy"),
    )
    seasonal = (
        F.col("s_u").cast("double")
        - F.col("su_tot").cast("double") / F.col("n_moy").cast("double")
    ) / F.lit(100000000).cast("double")
    trend = F.col("trend24_c").cast("double") / F.lit(2400).cast("double")
    revenue = F.round(F.col("rev_c") / 100.0, 2)
    out = (
        tr.join(
            F.broadcast(su),
            F.month("month").cast("bigint") == F.col("moy"),
        )
        .crossJoin(F.broadcast(ctr))
        .select(
            "month",
            revenue.alias("revenue"),
            trend.alias("trend"),
            seasonal.alias("seasonal"),
            F.when(
                F.col("trend24_c").isNotNull(),
                revenue - trend - seasonal,
            ).alias("residual"),
        )
    )
    return release_on_gc(tr, out)


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
# orders_theil_u — forecast-skill ratio of the MA3 model vs the naive walk
# ---------------------------------------------------------------------------


@register(
    "orders_theil_u",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    lagged AS (
      SELECT month, rev_c,
             lag(rev_c, 1) OVER w AS a1,
             lag(rev_c, 2) OVER w AS a2,
             lag(rev_c, 3) OVER w AS a3
      FROM monthly
      WINDOW w AS (ORDER BY month)
    ),
    scored AS (
      SELECT CAST(3 * rev_c - (a1 + a2 + a3) AS BIGINT) AS e_model_x3,
             CAST(3 * (rev_c - a1) AS BIGINT) AS e_naive_x3
      FROM lagged WHERE a3 IS NOT NULL
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_scored,
             sum(CAST(e_model_x3 AS HUGEINT) * e_model_x3) AS num,
             sum(CAST(e_naive_x3 AS HUGEINT) * e_naive_x3) AS den
      FROM scored
    )
    SELECT n_scored,
           CAST((num * 1000000000) // den AS BIGINT) AS u2_nano,
           CAST(CAST((num * 1000000000) // den AS BIGINT) AS DOUBLE)
             / 1000000000.0 AS theil_u2,
           sqrt(CAST(CAST((num * 1000000000) // den AS BIGINT) AS DOUBLE)
                / 1000000000.0) AS theil_u,
           CAST((num * 1000000000) // den AS BIGINT) < 1000000000
             AS beats_naive
    FROM s
    WHERE n_scored > 0 AND den > 0
    """,
    doc="Theil's U forecast-skill ratio for the 3-month moving-average "
    "model over monthly revenue: U^2 = sum(model error^2) / sum(naive "
    "random-walk error^2), U < 1 means the model beats 'tomorrow equals "
    "today' — the skill-score complement to orders_mape_backtest (MAPE "
    "reports absolute accuracy, U reports accuracy RELATIVE to the "
    "benchmark every forecast must clear). Errors are tripled to stay "
    "integer (3*a_t - (a_1+a_2+a_3); the 9x cancels in the ratio), both "
    "squared-error sums stay exact in DECIMAL/HUGEINT (they cross 2^53 "
    "around sf1), and U^2 is ONE nano-quantized integer floor-division "
    "— never a >2^53 integer-to-double cast (the engine-divergent "
    "operation). One map-combined month rollup; the lag window rides the "
    "calendar-bounded monthly series.",
)
def orders_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    w = Window.orderBy("month")
    lagged = monthly.select(
        "month",
        "rev_c",
        F.lag("rev_c", 1).over(w).alias("a1"),
        F.lag("rev_c", 2).over(w).alias("a2"),
        F.lag("rev_c", 3).over(w).alias("a3"),
    )
    scored = lagged.filter(F.col("a3").isNotNull()).select(
        (3 * F.col("rev_c") - (F.col("a1") + F.col("a2") + F.col("a3")))
        .cast("bigint")
        .alias("e_model_x3"),
        (3 * (F.col("rev_c") - F.col("a1"))).cast("bigint").alias(
            "e_naive_x3"
        ),
    )
    s = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum(
            (F.col("e_model_x3").cast("decimal(38,0)") * F.col("e_model_x3"))
        )
        .cast("decimal(38,0)")
        .alias("num"),
        F.sum(
            (F.col("e_naive_x3").cast("decimal(38,0)") * F.col("e_naive_x3"))
        )
        .cast("decimal(38,0)")
        .alias("den"),
    )
    u2_nano = F.expr("CAST((num * 1000000000) div den AS BIGINT)")
    out = (
        s.filter((F.col("n_scored") > 0) & (F.col("den") > 0))
        .select(
            "n_scored",
            u2_nano.alias("u2_nano"),
            (u2_nano.cast("double") / 1000000000.0).alias("theil_u2"),
            F.sqrt(u2_nano.cast("double") / 1000000000.0).alias("theil_u"),
            (u2_nano < 1000000000).alias("beats_naive"),
        )
    )
    return persist_until_collected(monthly, out)


# ---------------------------------------------------------------------------
# orders_croston — intermittent-demand smoothing per part
# ---------------------------------------------------------------------------

CROSTON_TOPK = 25  # report the highest-traffic parts (bounded output)


@register(
    "orders_croston",
    oracle=f"""
    WITH dem AS (
      SELECT l_partkey AS part,
             CAST(date_diff('day', DATE '1992-01-01',
                            CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem WHERE l_shipdate IS NOT NULL
      GROUP BY 1, 2
    ),
    series AS (
      SELECT part, CAST(count(*) AS BIGINT) AS n_demands,
             list(struct_pack(t := t, q := q) ORDER BY t) AS xs
      FROM dem GROUP BY part HAVING count(*) >= 2
    ),
    folded AS (
      SELECT part, n_demands,
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
                 q := CAST((x.q * 1000 + 3 * acc.q + 2) // 4 AS BIGINT),
                 p := CAST(((x.t - acc.t) * 1000 + 3 * acc.p + 2) // 4
                           AS BIGINT))
             ) AS st
      FROM series
    )
    SELECT part AS partkey, n_demands,
           st.q AS size_x1000, st.p AS interval_x1000,
           CAST(st.q AS DOUBLE) / st.p AS croston_rate_per_day
    FROM folded
    WHERE st.p > 0
    ORDER BY n_demands DESC, part
    LIMIT {CROSTON_TOPK}
    """,
    doc=f"Croston's method for intermittent demand, per part: exponential "
    "smoothing (alpha = 1/4) of the NONZERO demand sizes and of the "
    "inter-demand intervals separately, forecast rate = size/interval — "
    "the estimator for sparse series where plain smoothing over the "
    "calendar is dragged toward zero by the empty days (spare parts, "
    "long-tail SKUs; orders_exp_smoothing / orders_holt_linear cover the "
    "dense case). The fold is FULLY INTEGER: state is (size, interval) "
    "in 1e-3 units and each update is (x*1000 + 3*state + 2) div 4 — "
    "round-half-up of a dyadic product, the orders_holt_linear "
    "discipline with no float in the recurrence at all, so the oracle's "
    "list_reduce replays it bit-for-bit; the reported rate is ONE IEEE "
    "division. Per-part demand series aggregate map-side and fold inside "
    "one partitioned aggregation (no window, no cross-part state); the "
    f"top-{CROSTON_TOPK} by demand count ship via "
    "TakeOrderedAndProject. The DuckDB twin PREPENDS the init state "
    "because list_reduce folds from the first element (Spark's aggregate "
    "takes an explicit init) — same recurrence, same bits.",
)
def orders_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    dem = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.date_diff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("t"),
    ).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q")
    )
    series = (
        dem.groupBy("part")
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
        "    'q', CAST((x.q * 1000 + 3 * acc.q + 2) div 4 AS BIGINT),"
        "    'p', CAST(((x.t - acc.t) * 1000 + 3 * acc.p + 2) div 4"
        "         AS BIGINT)))"
    )
    folded = series.select(
        F.col("part").alias("partkey"),
        "n_demands",
        fold.getField("q").alias("size_x1000"),
        fold.getField("p").alias("interval_x1000"),
    )
    return (
        folded.filter(F.col("interval_x1000") > 0)
        .select(
            "partkey",
            "n_demands",
            "size_x1000",
            "interval_x1000",
            (
                F.col("size_x1000").cast("double") / F.col("interval_x1000")
            ).alias("croston_rate_per_day"),
        )
        .orderBy(F.col("n_demands").desc(), "partkey")
        .limit(CROSTON_TOPK)
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


# ---------------------------------------------------------------------------
# orders_taguchi_loss — quadratic quality-loss function per priority class
# ---------------------------------------------------------------------------


@register(
    "orders_taguchi_loss",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) - 15000000 AS dev
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(dev AS HUGEINT) * dev) AS HUGEINT)
                // (count(*) * 100000000) AS BIGINT) AS avg_loss_dollars2,
           CAST((CASE WHEN sum(dev) >= 0 THEN 1 ELSE -1 END)
                * (abs(CAST(sum(dev) AS HUGEINT)) // (count(*) * 100))
                AS BIGINT) AS avg_bias_dollars
    FROM b
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Taguchi quadratic quality loss per order-priority class: with a "
    "150k-dollar target order value, the expected loss E[(y-T)^2] and the "
    "signed bias E[y-T] — the loss-function view of process quality that "
    "penalizes ANY deviation from target (unlike orders_cpk_capability's "
    "in/out-of-spec step function). Deviations stay integer cents; the "
    "sum of squares accumulates in DECIMAL(38,0)/HUGEINT (a single cent "
    "deviation squares to ~2.5e15 — thousands of rows cross 2^63) and "
    "floor-divides by n*1e8 to whole dollars-squared, far below 2^53; "
    "the bias divides |sum| (non-negative numerator — engine-portable "
    "div) and restores the sign explicitly. One hash aggregation over "
    "five groups; map-side partials do the heavy lifting.",
)
def orders_taguchi_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderpriority",
        (
            F.round(F.col("o_totalprice") * 100).cast("bigint") - 15000000
        ).alias("dev"),
    )
    g = b.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        _dsum(F.col("dev").cast("decimal(38,0)") * F.col("dev")).alias("ss"),
        F.sum("dev").cast("decimal(38,0)").alias("sdev"),
    )
    return g.select(
        "o_orderpriority",
        "n_orders",
        F.expr("CAST(ss div (n_orders * 100000000) AS BIGINT)").alias(
            "avg_loss_dollars2"
        ),
        F.expr(
            "CAST((CASE WHEN sdev >= 0 THEN 1 ELSE -1 END)"
            " * (abs(sdev) div (n_orders * 100)) AS BIGINT)"
        ).alias("avg_bias_dollars"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# orders_vendor_scorecard — supplier composite score (on-time, defect, mix)
# ---------------------------------------------------------------------------


@register(
    "orders_vendor_scorecard",
    oracle="""
    WITH l AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                          CAST(li.l_shipdate AS DATE)) <= 60
                      THEN 1 ELSE 0 END) AS BIGINT) AS on_time,
             CAST(sum(CASE WHEN l_returnflag = 'R'
                      THEN 1 ELSE 0 END) AS BIGINT) AS returns,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
      GROUP BY l_suppkey
    ),
    s AS (
      SELECT l.l_suppkey AS suppkey, sp.s_name, l.n_lines,
             1000000000 * l.on_time // l.n_lines  AS on_time_ppb,
             1000000000 * l.returns // l.n_lines  AS return_ppb,
             l.rev_cents // 100                   AS revenue_dollars,
             (600000000 * l.on_time
              + 400000000 * (l.n_lines - l.returns)) // l.n_lines
               AS composite_ppb
      FROM l JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
    )
    SELECT suppkey, s_name, n_lines,
           CAST(on_time_ppb AS BIGINT)     AS on_time_ppb,
           CAST(return_ppb AS BIGINT)      AS return_ppb,
           CAST(revenue_dollars AS BIGINT) AS revenue_dollars,
           CAST(composite_ppb AS BIGINT)   AS composite_ppb
    FROM s
    ORDER BY composite_ppb DESC, suppkey
    LIMIT 25
    """,
    doc="Supplier scorecard: per-vendor on-time fulfillment rate (shipped "
    "within 60 days of order placement), return/defect rate, revenue, and "
    "a 60/40-weighted composite — the procurement ranking every "
    "supply-chain team runs weekly. All rates are exact ppb integer "
    "floor-divisions on non-negative counts; the top-25 is a "
    "TakeOrderedAndProject with a deterministic (composite DESC, "
    "suppkey) tie-break, so no global sort materializes. One "
    "lineitem-orders equi-join (co-partitioned on the order key), one "
    "supplier-sized aggregation, and a broadcast join to the small "
    "supplier dim.",
)
def orders_vendor_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    l = j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(
            F.when(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
                <= 60,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("on_time"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("returns"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )
    s = l.join(F.broadcast(sp), l.l_suppkey == sp.s_suppkey).select(
        F.col("l_suppkey").alias("suppkey"),
        "s_name",
        "n_lines",
        F.expr("1000000000 * on_time div n_lines").alias("on_time_ppb"),
        F.expr("1000000000 * returns div n_lines").alias("return_ppb"),
        F.expr("rev_cents div 100").alias("revenue_dollars"),
        F.expr(
            "(600000000 * on_time + 400000000 * (n_lines - returns))"
            " div n_lines"
        ).alias("composite_ppb"),
    )
    return s.orderBy(F.desc("composite_ppb"), "suppkey").limit(25)


# ---------------------------------------------------------------------------
# orders_cusum_control — two-sided CUSUM control chart via the prefix-min
# identity (no recursion: max(0, S+x) == prefix - running-min of prefix)
# ---------------------------------------------------------------------------


@register(
    "orders_cusum_control",
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                  AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
      FROM d
    ),
    s AS (
      SELECT d.day, d.x, t.n,
             t.n * d.x - t.sx - t.n      AS up_inc,
             t.sx - t.n * d.x - t.n      AS dn_inc
      FROM d CROSS JOIN t
    ),
    p AS (
      SELECT day, x, n,
             sum(up_inc) OVER w AS pu,
             sum(dn_inc) OVER w AS pd
      FROM s
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    c AS (
      SELECT day, x, n,
             pu - least(0, min(pu) OVER w) AS cu,
             pd - least(0, min(pd) OVER w) AS cd
      FROM p
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    h AS (
      SELECT CAST(4 * (t.n * sum(abs(s2.up_inc + s2.n))
                       // (t.n * t.n)) AS BIGINT) AS hlim
      FROM s s2 CROSS JOIN t GROUP BY t.n
    )
    SELECT c.day, c.x,
           CAST(c.cu AS BIGINT) AS cusum_up_scaled,
           CAST(c.cd AS BIGINT) AS cusum_dn_scaled,
           CAST(h.hlim AS BIGINT) AS h_scaled,
           CAST(CASE WHEN c.cu > h.hlim OR c.cd > h.hlim
                THEN 1 ELSE 0 END AS BIGINT) AS alarm
    FROM c CROSS JOIN h
    ORDER BY c.day
    """,
    doc="Two-sided CUSUM control chart on daily revenue with a one-unit "
    "allowance and a 4*MAD-style decision limit. The textbook recursion "
    "S_i = max(0, S_(i-1) + inc_i) is NOT window-expressible directly; "
    "this uses the exact prefix-min identity S_i = P_i - min(0, "
    "min_(j<=i) P_j) with P the plain prefix sum — two cumulative "
    "windows over the BOUNDED daily series (a few thousand rows at any "
    "SF; the heavy lifting is the one daily rollup shuffle before it). "
    "Everything is integer: deviations are scaled by n (n*x - Sx avoids "
    "materializing the rational mean), the allowance is n (one "
    "kilodollar in scaled units), and the limit is a floor-divided mean "
    "absolute deviation — no negative ever meets an integer division "
    "(abs first). Complements orders_shewhart_control (point rule) and "
    "events_cusum_changepoint (retrospective argmax locator): CUSUM "
    "accumulates small persistent shifts a Shewhart chart misses.",
)
def orders_cusum_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div 100000 AS BIGINT)"
        ).alias("x")
    )
    d = d.persist()
    t = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    s = d.crossJoin(F.broadcast(t)).select(
        "day",
        "x",
        "n",
        (F.col("n") * F.col("x") - F.col("sx") - F.col("n")).alias("up_inc"),
        (F.col("sx") - F.col("n") * F.col("x") - F.col("n")).alias("dn_inc"),
    )
    s = s.persist()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = s.select(
        "day",
        "x",
        "n",
        F.sum("up_inc").over(w).alias("pu"),
        F.sum("dn_inc").over(w).alias("pd"),
    )
    c = p.select(
        "day",
        "x",
        "n",
        (F.col("pu") - F.least(F.lit(0), F.min("pu").over(w))).alias("cu"),
        (F.col("pd") - F.least(F.lit(0), F.min("pd").over(w))).alias("cd"),
    )
    h = (
        s.groupBy("n")
        .agg(
            F.expr(
                "CAST(4 * (n * sum(abs(up_inc + n)) div (n * n)) AS BIGINT)"
            ).alias("hlim")
        )
        .select("hlim")
    )
    _out = (
        c.crossJoin(F.broadcast(h))
        .select(
            "day",
            "x",
            F.col("cu").cast("bigint").alias("cusum_up_scaled"),
            F.col("cd").cast("bigint").alias("cusum_dn_scaled"),
            F.col("hlim").cast("bigint").alias("h_scaled"),
            F.when(
                (F.col("cu") > F.col("hlim")) | (F.col("cd") > F.col("hlim")),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("alarm"),
        )
        .orderBy("day")
    )
    return release_on_gc(d, release_on_gc(s, _out))


# ---------------------------------------------------------------------------
# orders_turning_points — randomness test on the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "orders_turning_points",
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                  AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    s AS (
      SELECT day, x,
             lag(x)  OVER (ORDER BY day) AS xp,
             lead(x) OVER (ORDER BY day) AS xn
      FROM d
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN (x > xp AND x > xn)
                             OR (x < xp AND x < xn)
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM s WHERE xp IS NOT NULL AND xn IS NOT NULL
    )
    SELECT n + 2 AS n_days, tp AS turning_points,
           2.0 * CAST(n AS DOUBLE) / 3.0 AS expected_tp,
           (CAST(tp AS DOUBLE) - 2.0 * CAST(n AS DOUBLE) / 3.0)
             / sqrt((16.0 * CAST(n + 2 AS DOUBLE) - 29.0) / 90.0)
             AS z_score
    FROM t
    """,
    doc="Turning-points randomness test on the daily revenue series: count "
    "strict local maxima/minima among interior days; under an i.i.d. "
    "series the count is asymptotically normal with mean 2(n-2)/3 and "
    "variance (16n-29)/90, so too FEW turning points exposes trend/"
    "persistence and too MANY exposes negative autocorrelation — the "
    "oldest nonparametric complement to agg_runs_test (which needs a "
    "median cut) and agg_autocorrelation (which needs moments). "
    "Neighbor comparison is one lag/lead pass over the BOUNDED daily "
    "series; the z-score is a fixed-order IEEE expression over exact "
    "integers. Ties (equal neighbors) count as non-turning, "
    "identically in both engines — no float ever enters the count.",
)
def orders_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div 100000 AS BIGINT)"
        ).alias("x")
    )
    w = Window.orderBy("day")
    s = d.select(
        "day",
        "x",
        F.lag("x").over(w).alias("xp"),
        F.lead("x").over(w).alias("xn"),
    )
    t = s.filter(F.col("xp").isNotNull() & F.col("xn").isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                ((F.col("x") > F.col("xp")) & (F.col("x") > F.col("xn")))
                | ((F.col("x") < F.col("xp")) & (F.col("x") < F.col("xn"))),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
    )
    return t.select(
        (F.col("n") + 2).alias("n_days"),
        F.col("tp").alias("turning_points"),
        (F.lit(2.0) * F.col("n").cast("double") / F.lit(3.0)).alias(
            "expected_tp"
        ),
        (
            (
                F.col("tp").cast("double")
                - F.lit(2.0) * F.col("n").cast("double") / F.lit(3.0)
            )
            / F.sqrt(
                (
                    F.lit(16.0) * (F.col("n") + 2).cast("double")
                    - F.lit(29.0)
                )
                / F.lit(90.0)
            )
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# orders_bartels_rank — rank von Neumann ratio (trend/autocorrelation test)
# ---------------------------------------------------------------------------


@register(
    "orders_bartels_rank",
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                  AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    cells AS (
      SELECT x, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY x
    ),
    mr AS (
      SELECT x,
             2 * coalesce(sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
      FROM cells
    ),
    s AS (
      SELECT d.day, mr.r2,
             lead(mr.r2) OVER (ORDER BY d.day) AS r2n
      FROM d JOIN mr ON mr.x = d.x
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN r2n IS NOT NULL
                      THEN CAST((r2 - r2n) AS HUGEINT) * (r2 - r2n)
                      ELSE 0 END) AS HUGEINT) AS num2,
             CAST(sum(CAST((r2 - t0.nn - 1) AS HUGEINT)
                      * (r2 - t0.nn - 1)) AS HUGEINT) AS den2
      FROM s CROSS JOIN (SELECT count(*) AS nn FROM s) t0
      GROUP BY t0.nn
    )
    SELECT n AS n_days,
           CAST(num2 AS BIGINT) AS num_scaled,
           CAST(den2 AS BIGINT) AS den_scaled,
           CAST(num2 AS DOUBLE) / CAST(den2 AS DOUBLE) AS rvn,
           (CAST(num2 AS DOUBLE) / CAST(den2 AS DOUBLE) - 2.0)
             * sqrt(CAST(n AS DOUBLE)) / 2.0 AS z_score
    FROM t
    """,
    doc="Bartels' rank von Neumann ratio on the daily revenue series: the "
    "rank-based randomness test RVN = sum of squared successive rank "
    "differences over the centered rank sum of squares — near 2 for "
    "white noise, below 2 under positive serial dependence — the "
    "nonparametric sibling of agg_autocorrelation (no moments) and a "
    "sharper trend probe than agg_runs_test (which bins to a median "
    "cut). Ranks are DOUBLED midranks from the distinct-daily-value "
    "grid (2*cum_below + c + 1 — exact integers, engine-identical tie "
    "handling); both quadratic forms accumulate in HUGEINT/"
    "DECIMAL(38,0); the x4 rank scaling cancels in the ratio, leaving "
    "one exact-integer IEEE division and a fixed-order z. The windows "
    "run over the bounded daily series / value grid only.",
)
def orders_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div 100000 AS BIGINT)"
        ).alias("x")
    )
    d = d.persist()
    cells = d.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w_cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    mr = cells.select(
        "x",
        (
            2 * F.coalesce(F.sum("c").over(w_cum), F.lit(0))
            + F.col("c")
            + 1
        ).alias("r2"),
    )
    s = d.join(mr, "x").select("day", "r2")
    w_day = Window.orderBy("day")
    w_all = Window.partitionBy()
    s2 = s.select(
        "r2",
        F.lead("r2").over(w_day).alias("r2n"),
        F.count(F.lit(1)).over(w_all).alias("n_all"),
    )
    t = s2.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(
            F.when(
                F.col("r2n").isNotNull(),
                (F.col("r2") - F.col("r2n")).cast("decimal(38,0)")
                * (F.col("r2") - F.col("r2n")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("num2"),
        _dsum(
            (F.col("r2") - F.col("n_all") - 1).cast("decimal(38,0)")
            * (F.col("r2") - F.col("n_all") - 1)
        ).alias("den2"),
    )
    _out = t.select(
        F.col("n").alias("n_days"),
        F.col("num2").cast("bigint").alias("num_scaled"),
        F.col("den2").cast("bigint").alias("den_scaled"),
        (F.col("num2").cast("double") / F.col("den2").cast("double")).alias(
            "rvn"
        ),
        (
            (
                F.col("num2").cast("double") / F.col("den2").cast("double")
                - F.lit(2.0)
            )
            * F.sqrt(F.col("n").cast("double"))
            / F.lit(2.0)
        ).alias("z_score"),
    )
    return release_on_gc(d, _out)



# ---------------------------------------------------------------------------
# orders_durbin_watson — serial correlation of the monthly trend residuals
# ---------------------------------------------------------------------------


@register(
    "orders_durbin_watson",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS HUGEINT) // 100000 AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    mi AS (
      SELECT month, CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS t,
             x FROM m
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
      SELECT mi.month, mi.t,
             CAST(c.n AS HUGEINT) * c.bd * mi.x
               - (c.bd * CAST(c.sx AS HUGEINT) - c.bn * c.st
                  + CAST(c.n AS HUGEINT) * c.bn * mi.t) AS r_s,
             CAST(c.n AS HUGEINT) * c.bd AS scale
      FROM mi CROSS JOIN co c
      WHERE c.bd > 0
    ),
    rq AS (
      SELECT month, t,
             CAST((CASE WHEN r_s >= 0 THEN 1 ELSE -1 END)
                  * (abs(r_s) // scale) AS BIGINT) AS e
      FROM res
    ),
    dw AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ep IS NOT NULL
                      THEN CAST((e - ep) AS HUGEINT) * (e - ep)
                      ELSE 0 END) AS BIGINT) AS num,
             CAST(sum(CAST(e AS HUGEINT) * e) AS BIGINT) AS den
      FROM (SELECT e, lag(e) OVER (ORDER BY t) AS ep FROM rq)
    )
    SELECT n AS n_months, num AS dw_num, den AS dw_den,
           CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS durbin_watson
    FROM dw WHERE den > 0
    """,
    doc="Durbin-Watson statistic on the monthly revenue-trend residuals: "
    "DW = sum of squared successive residual differences over the "
    "residual sum of squares — the canonical 'did OLS leave serial "
    "correlation behind' diagnostic that completes "
    "orders_regression_diagnostics (point influence) and "
    "agg_autocorrelation (raw series): DW near 2 clears the fit, "
    "DW << 2 says the trend line is riding autocorrelated errors and "
    "its t-stats overstate. Residuals reuse the EXACT integer frame "
    "r_s = n*Bd*x - (Bd*Sx - Bn*St + n*Bn*t), floor-quantized to "
    "kilodollars by the positive scale n*Bd with an explicit sign "
    "(|r_s| div scale — no negative integer division, identical in "
    "both engines); DW is then one exact-integer IEEE division. "
    "Month-cardinality work after a single rollup shuffle.",
)
def orders_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    mi = mi.persist()
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
            "CAST(n AS DECIMAL(38,0)) * stx - CAST(st AS DECIMAL(38,0)) * sx"
        ).alias("bn"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * stt - CAST(st AS DECIMAL(38,0)) * st"
        ).alias("bd"),
    )
    res = mi.crossJoin(F.broadcast(co.filter(F.col("bd") > 0))).select(
        "month",
        "t",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * bd * x"
            " - (bd * CAST(sx AS DECIMAL(38,0)) - bn * st"
            "    + CAST(n AS DECIMAL(38,0)) * bn * t)"
        ).alias("r_s"),
        F.expr("CAST(n AS DECIMAL(38,0)) * bd").alias("scale"),
    )
    rq = res.select(
        "month",
        "t",
        F.expr(
            "CAST((CASE WHEN r_s >= 0 THEN 1 ELSE -1 END)"
            " * (abs(r_s) div scale) AS BIGINT)"
        ).alias("e"),
    )
    w_t = Window.orderBy("t")
    dw = rq.select("e", F.lag("e").over(w_t).alias("ep")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(
            F.when(
                F.col("ep").isNotNull(),
                (F.col("e") - F.col("ep")).cast("decimal(38,0)")
                * (F.col("e") - F.col("ep")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("bigint")
        .alias("num"),
        _dsum(F.col("e").cast("decimal(38,0)") * F.col("e"))
        .cast("bigint")
        .alias("den"),
    )
    _out = dw.filter(F.col("den") > 0).select(
        F.col("n").alias("n_months"),
        F.col("num").alias("dw_num"),
        F.col("den").alias("dw_den"),
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "durbin_watson"
        ),
    )
    return release_on_gc(mi, _out)



# ---------------------------------------------------------------------------
# orders_pacf_lag2 — partial autocorrelation at lag 2 (exact rational)
# ---------------------------------------------------------------------------


@register(
    "orders_pacf_lag2",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS HUGEINT) // 100000 AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    mi AS (
      SELECT CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS t, x
      FROM m
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
      FROM mi
    ),
    a AS (
      SELECT mi.t, CAST(mo.n AS HUGEINT) * mi.x - mo.sx AS av, mo.n
      FROM mi CROSS JOIN mo
    ),
    c AS (
      SELECT CAST(min(a1.n) AS BIGINT) AS n,
             CAST(sum(a1.av * a1.av) AS HUGEINT) AS c0,
             CAST(sum(CASE WHEN a2.av IS NOT NULL
                      THEN a1.av * a2.av ELSE 0 END) AS HUGEINT) AS c1,
             CAST(sum(CASE WHEN a3.av IS NOT NULL
                      THEN a1.av * a3.av ELSE 0 END) AS HUGEINT) AS c2
      FROM a a1
      LEFT JOIN a a2 ON a2.t = a1.t + 1
      LEFT JOIN a a3 ON a3.t = a1.t + 2
    ),
    f AS (
      SELECT n, c0, c1, c2,
             c2 * c0 - c1 * c1 AS pnum,
             c0 * c0 - c1 * c1 AS pden
      FROM c
    )
    SELECT n AS n_months,
           CAST((CASE WHEN c1 >= 0 THEN 1 ELSE -1 END)
                * (abs(c1) // greatest(c0 // 1000000000, 1)) AS BIGINT) AS r1_ppb,
           CAST((CASE WHEN c2 >= 0 THEN 1 ELSE -1 END)
                * (abs(c2) // greatest(c0 // 1000000000, 1)) AS BIGINT) AS r2_ppb,
           CAST((CASE WHEN pnum >= 0 THEN 1 ELSE -1 END)
                * ((1000000000 * (abs(pnum) // CAST(18446744073709551616
                                                    AS HUGEINT)))
                   // greatest(pden // CAST(18446744073709551616 AS HUGEINT),
                               1)) AS BIGINT)
             AS pacf2_ppb
    FROM f
    """,
    doc="Partial autocorrelation of monthly revenue at lag 2 via the exact "
    "Durbin-Levinson closed form phi22 = (r2 - r1^2)/(1 - r1^2), kept "
    "rational: with centered values scaled by n (a_i = n*x_i - Sx — no "
    "fractional mean), phi22 = (C2*C0 - C1^2)/(C0^2 - C1^2) where C_k "
    "are integer lag-covariance sums in HUGEINT/DECIMAL(38,0). The "
    "lag-1/lag-2 ppb readouts divide |C_k| by (C0 div 1e9); the pacf "
    "ratio's quadratic terms are too wide for that, so BOTH sides "
    "pre-reduce by 2^64 before the ppb floor-division (quotients stay "
    "below Spark's 2^63 IntegralDivide ceiling through sf1; the "
    "identical integer reduction runs in both engines) with explicit "
    "sign restoration on non-negative operands. Distinguishes a true "
    "AR(2) echo from the AR(1) "
    "carry-over that agg_autocorrelation's raw r2 conflates. "
    "Month-cardinality work; the lag joins are 84-row self-joins.",
)
def orders_pacf_lag2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " AS DECIMAL(38,0)) div 100000 AS BIGINT)"
        ).alias("x")
    )
    wi = Window.orderBy("month")
    mi = m.select(F.row_number().over(wi).cast("bigint").alias("t"), "x")
    mi = mi.persist()
    mo = mi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    a = mi.crossJoin(F.broadcast(mo)).select(
        "t",
        F.expr("CAST(n AS DECIMAL(38,0)) * x - sx").alias("av"),
        "n",
    )
    a = a.persist()
    a1 = a.alias("a1")
    a2 = a.select(F.col("t").alias("t2"), F.col("av").alias("av2"))
    a3 = a.select(F.col("t").alias("t3"), F.col("av").alias("av3"))
    j = (
        a1.join(F.broadcast(a2), F.col("t2") == F.col("t") + 1, "left")
        .join(F.broadcast(a3), F.col("t3") == F.col("t") + 2, "left")
    )
    c = j.agg(
        F.min("n").cast("bigint").alias("n"),
        _dsum(F.col("av") * F.col("av")).alias("c0"),
        _dsum(
            F.when(F.col("av2").isNotNull(), F.col("av") * F.col("av2"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("c1"),
        _dsum(
            F.when(F.col("av3").isNotNull(), F.col("av") * F.col("av3"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("c2"),
    )
    f = c.select(
        "n",
        "c0",
        "c1",
        "c2",
        (F.col("c2") * F.col("c0") - F.col("c1") * F.col("c1")).alias("pnum"),
        (F.col("c0") * F.col("c0") - F.col("c1") * F.col("c1")).alias("pden"),
    )
    _out = f.select(
        F.col("n").alias("n_months"),
        F.expr(
            "CAST((CASE WHEN c1 >= 0 THEN 1 ELSE -1 END)"
            " * (abs(c1) div greatest(c0 div 1000000000, 1)) AS BIGINT)"
        ).alias("r1_ppb"),
        F.expr(
            "CAST((CASE WHEN c2 >= 0 THEN 1 ELSE -1 END)"
            " * (abs(c2) div greatest(c0 div 1000000000, 1)) AS BIGINT)"
        ).alias("r2_ppb"),
        F.expr(
            "CAST((CASE WHEN pnum >= 0 THEN 1 ELSE -1 END)"
            " * ((CAST(1000000000 AS DECIMAL(38,0))"
            "     * (abs(pnum) div 18446744073709551616))"
            "    div greatest(pden div 18446744073709551616, 1))"
            " AS BIGINT)"
        ).alias("pacf2_ppb"),
    )
    return release_on_gc(mi, release_on_gc(a, _out))


# ---------------------------------------------------------------------------
# orders_bullwhip_effect — demand-variance amplification (order vs ship)
# ---------------------------------------------------------------------------


@register(
    "orders_bullwhip_effect",
    oracle="""
    WITH lo AS (
      SELECT date_trunc('month', o.o_orderdate) AS month,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
             'demand' AS side
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate IS NOT NULL GROUP BY 1
    ),
    ls AS (
      SELECT date_trunc('month', l_shipdate) AS month,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
             'ship' AS side
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    u AS (SELECT * FROM lo UNION ALL SELECT * FROM ls),
    m AS (
      SELECT side,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS ss
      FROM u GROUP BY side
    ),
    cv AS (
      SELECT side, n,
             CAST((1000000000 * CAST(n AS HUGEINT) * (n * ss
                    - CAST(s AS HUGEINT) * s))
                  // ((n - 1) * CAST(s AS HUGEINT) * s) AS BIGINT)
               AS cv2_ppb
      FROM m WHERE n > 1 AND s > 0
    )
    SELECT max(CASE WHEN side = 'demand' THEN n END)       AS n_months,
           max(CASE WHEN side = 'demand' THEN cv2_ppb END) AS cv2_demand_ppb,
           max(CASE WHEN side = 'ship' THEN cv2_ppb END)   AS cv2_ship_ppb,
           CAST(1000000000 * max(CASE WHEN side = 'ship' THEN cv2_ppb END)
                // greatest(max(CASE WHEN side = 'demand'
                            THEN cv2_ppb END), 1) AS BIGINT)
             AS bullwhip_ppb
    FROM cv
    """,
    doc="Bullwhip-effect ratio: squared coefficient of variation of the "
    "monthly SHIPPED quantity over that of the monthly ORDERED quantity "
    "— the canonical supply-chain variance-amplification diagnostic "
    "(ship-side scheduling batches and delays demand, so CV2 grows "
    "moving upstream; a ratio well above 1e9 ppb = 1.0 quantifies the "
    "whip). Both monthly series come from keyed rollups (the demand "
    "side rides the co-partitioned lineitem-orders join); CV2 = "
    "n(n*SS - S^2)/((n-1)S^2) is an exact HUGEINT/DECIMAL(38,0) "
    "rational floor-divided to ppb on non-negative operands, and the "
    "final ratio divides two ppb integers — no float anywhere. The "
    "two-sided union pivots to one row with conditional aggregation, "
    "not a join.",
)
def orders_bullwhip_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lo = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum(F.col("l_quantity").cast("bigint"))
             .cast("bigint").alias("q"))
        .select("month", "q", F.lit("demand").alias("side"))
    )
    ls = (
        li.filter(F.col("l_shipdate").isNotNull())
        .groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(F.sum(F.col("l_quantity").cast("bigint"))
             .cast("bigint").alias("q"))
        .select("month", "q", F.lit("ship").alias("side"))
    )
    u = lo.unionAll(ls)
    m = u.groupBy("side").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        _dsum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("ss"),
    )
    cv = m.filter((F.col("n") > 1) & (F.col("s") > 0)).select(
        "side",
        "n",
        F.expr(
            "CAST((1000000000 * CAST(n AS DECIMAL(38,0)) * (n * ss"
            "       - CAST(s AS DECIMAL(38,0)) * s))"
            " div ((n - 1) * CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)"
        ).alias("cv2_ppb"),
    )
    return cv.agg(
        F.max(F.when(F.col("side") == "demand", F.col("n"))).alias(
            "n_months"
        ),
        F.max(F.when(F.col("side") == "demand", F.col("cv2_ppb"))).alias(
            "cv2_demand_ppb"
        ),
        F.max(F.when(F.col("side") == "ship", F.col("cv2_ppb"))).alias(
            "cv2_ship_ppb"
        ),
        F.expr(
            "CAST(1000000000 * max(CASE WHEN side = 'ship' THEN cv2_ppb END)"
            " div greatest(max(CASE WHEN side = 'demand'"
            "              THEN cv2_ppb END), 1) AS BIGINT)"
        ).alias("bullwhip_ppb"),
    )


# ---------------------------------------------------------------------------
# orders_price_volume_mix — exact revenue-bridge decomposition per part type
# ---------------------------------------------------------------------------


@register(
    "orders_price_volume_mix",
    oracle="""
    WITH j AS (
      SELECT p.p_type,
             CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr,
             CAST(l.l_quantity AS BIGINT) AS q,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS s
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p   ON p.p_partkey = l.l_partkey
      WHERE o.o_orderdate IS NOT NULL
    ),
    g AS (
      SELECT p_type,
             CAST(sum(CASE WHEN yr = 1996 THEN q ELSE 0 END) AS BIGINT) AS q0,
             CAST(sum(CASE WHEN yr = 1997 THEN q ELSE 0 END) AS BIGINT) AS q1,
             CAST(sum(CASE WHEN yr = 1996 THEN s ELSE 0 END) AS BIGINT) AS s0,
             CAST(sum(CASE WHEN yr = 1997 THEN s ELSE 0 END) AS BIGINT) AS s1
      FROM j GROUP BY p_type
    )
    SELECT p_type, q0, q1,
           CAST(s0 // 100 AS BIGINT) AS r0_dollars,
           CAST(s1 // 100 AS BIGINT) AS r1_dollars,
           CAST((s1 - s0) // 100 AS BIGINT) AS delta_dollars,
           CAST((CASE WHEN CAST(s1 AS HUGEINT) * q0
                           - CAST(s0 AS HUGEINT) * q1 >= 0
                 THEN 1 ELSE -1 END)
                * (abs(CAST(s1 AS HUGEINT) * q0 - CAST(s0 AS HUGEINT) * q1)
                   // (CAST(q0 AS HUGEINT) * 100)) AS BIGINT)
             AS price_effect_dollars,
           CAST((CASE WHEN (q1 - q0) * CAST(s0 AS HUGEINT) >= 0
                 THEN 1 ELSE -1 END)
                * (abs((q1 - q0) * CAST(s0 AS HUGEINT))
                   // (CAST(q0 AS HUGEINT) * 100)) AS BIGINT)
             AS volume_effect_dollars
    FROM g
    WHERE q0 > 0 AND q1 > 0
    ORDER BY p_type
    """,
    doc="Price-volume revenue bridge per part type, 1996 -> 1997: "
    "decomposes the revenue delta into a PRICE effect (S1*Q0 - S0*Q1, "
    "the unit-price move valued at new volume) and a VOLUME effect "
    "((Q1-Q0)*S0, the quantity move at old prices) — the exact "
    "identity price+volume = (S1-S0)*Q0 holds in the Q0-scaled "
    "integer frame, so the bridge reconciles to the cent BEFORE the "
    "one dollars floor-division (management PVM waterfalls that "
    "compute avg prices as floats never reconcile). Unit prices never "
    "materialize as rationals: everything stays HUGEINT/DECIMAL(38,0) "
    "cross-products with |numerator| floor-divided on non-negative "
    "operands and explicit sign restoration. Two co-partitioned "
    "equi-joins feed one part-type-sized rollup.",
)
def orders_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .filter(F.col("o_orderdate").isNotNull())
        .select(
            "p_type",
            F.year(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("yr"),
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("s"),
        )
    )
    g = j.groupBy("p_type").agg(
        F.sum(F.when(F.col("yr") == 1996, F.col("q")).otherwise(0))
        .cast("bigint")
        .alias("q0"),
        F.sum(F.when(F.col("yr") == 1997, F.col("q")).otherwise(0))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(F.col("yr") == 1996, F.col("s")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
        F.sum(F.when(F.col("yr") == 1997, F.col("s")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
    )
    return (
        g.filter((F.col("q0") > 0) & (F.col("q1") > 0))
        .select(
            "p_type",
            "q0",
            "q1",
            F.expr("s0 div 100").alias("r0_dollars"),
            F.expr("s1 div 100").alias("r1_dollars"),
            F.expr("(s1 - s0) div 100").alias("delta_dollars"),
            F.expr(
                "CAST((CASE WHEN CAST(s1 AS DECIMAL(38,0)) * q0"
                "                - CAST(s0 AS DECIMAL(38,0)) * q1 >= 0"
                "      THEN 1 ELSE -1 END)"
                " * (abs(CAST(s1 AS DECIMAL(38,0)) * q0"
                "        - CAST(s0 AS DECIMAL(38,0)) * q1)"
                "    div (CAST(q0 AS DECIMAL(38,0)) * 100)) AS BIGINT)"
            ).alias("price_effect_dollars"),
            F.expr(
                "CAST((CASE WHEN (q1 - q0) * CAST(s0 AS DECIMAL(38,0)) >= 0"
                "      THEN 1 ELSE -1 END)"
                " * (abs((q1 - q0) * CAST(s0 AS DECIMAL(38,0)))"
                "    div (CAST(q0 AS DECIMAL(38,0)) * 100)) AS BIGINT)"
            ).alias("volume_effect_dollars"),
        )
        .orderBy("p_type")
    )


# ---------------------------------------------------------------------------
# orders_safety_stock — per-brand safety stock and reorder point
# ---------------------------------------------------------------------------


@register(
    "orders_safety_stock",
    oracle="""
    WITH d AS (
      SELECT p.p_brand, l.l_shipdate AS day,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate IS NOT NULL
      GROUP BY p.p_brand, l.l_shipdate
    ),
    m AS (
      SELECT p_brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(CAST(q AS HUGEINT) * q) AS BIGINT) AS ss
      FROM d GROUP BY p_brand
    )
    SELECT p_brand, n AS n_days, s AS total_units,
           CAST(s AS DOUBLE) / n AS mean_daily,
           sqrt(CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
                / (CAST(n AS DOUBLE) * (n - 1))) AS sigma_daily,
           1.645 * sqrt(7.0 * (CAST(n * ss - CAST(s AS HUGEINT) * s
                                    AS DOUBLE)
                               / (CAST(n AS DOUBLE) * (n - 1))))
             AS safety_stock_units,
           7.0 * (CAST(s AS DOUBLE) / n)
             + 1.645 * sqrt(7.0 * (CAST(n * ss - CAST(s AS HUGEINT) * s
                                        AS DOUBLE)
                                   / (CAST(n AS DOUBLE) * (n - 1))))
             AS reorder_point_units
    FROM m WHERE n > 1
    ORDER BY p_brand
    """,
    doc="Safety stock and reorder point per part brand at a 95% service "
    "level (z = 1.645) over a 7-day lead time: SS = z*sigma_d*sqrt(LT) "
    "and ROP = LT*mu_d + SS from the daily-demand mean and standard "
    "deviation — the inventory policy pair that consumes "
    "orders_eoq_policy's lot size (EOQ says how much, ROP says when). "
    "Daily demand variance uses the exact integer frame n*SS - S^2 "
    "(sub-2^53 by the daily-quantity value range through sf1, "
    "documented); mean, sigma, and both policy outputs are fixed-order "
    "IEEE expressions over exactly-converted integers. One keyed "
    "(brand, day) rollup then a brand-sized aggregate.",
)
def orders_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.col("l_shipdate").alias("day"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q")
        )
    )
    m = d.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        _dsum(F.col("q").cast("decimal(38,0)") * F.col("q"))
        .cast("bigint")
        .alias("ss"),
    )
    v = (
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    sigma = F.sqrt(v)
    mean = F.col("s").cast("double") / F.col("n")
    ss_units = F.lit(1.645) * F.sqrt(F.lit(7.0) * v)
    return (
        m.filter(F.col("n") > 1)
        .select(
            "p_brand",
            F.col("n").alias("n_days"),
            F.col("s").alias("total_units"),
            mean.alias("mean_daily"),
            sigma.alias("sigma_daily"),
            ss_units.alias("safety_stock_units"),
            (F.lit(7.0) * mean + ss_units).alias("reorder_point_units"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# orders_xmr_chart — individuals / moving-range control chart
# ---------------------------------------------------------------------------


@register(
    "orders_xmr_chart",
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                  AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    mr AS (
      SELECT day, x,
             abs(x - lag(x) OVER (ORDER BY day)) AS mrange
      FROM d
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(count(mrange) AS BIGINT) AS m,
             CAST(sum(mrange) AS BIGINT) AS smr
      FROM mr
    )
    SELECT mr.day, mr.x, CAST(mr.mrange AS BIGINT) AS mrange,
           CAST(t.sx AS DOUBLE) / t.n AS center,
           CAST(t.sx AS DOUBLE) / t.n
             + 2.66 * CAST(t.smr AS DOUBLE) / t.m AS ucl,
           CAST(t.sx AS DOUBLE) / t.n
             - 2.66 * CAST(t.smr AS DOUBLE) / t.m AS lcl,
           CAST(CASE WHEN 100 * abs(t.m * (t.n * mr.x - t.sx))
                          > 266 * t.n * t.smr
                THEN 1 ELSE 0 END AS BIGINT) AS x_alarm,
           CAST(CASE WHEN mr.mrange IS NOT NULL
                      AND 1000 * mr.mrange * t.m > 3267 * t.smr
                THEN 1 ELSE 0 END AS BIGINT) AS mr_alarm
    FROM mr CROSS JOIN t
    ORDER BY mr.day
    """,
    doc="XmR (individuals / moving-range) control chart on daily revenue: "
    "center = mean, natural process limits = mean +/- 2.66*MRbar, and "
    "a separate range chart alarm at 3.267*MRbar — Wheeler's "
    "individuals chart, which needs NO subgrouping and estimates "
    "sigma from successive differences, so it stays valid when "
    "orders_shewhart_control's within-day subgroup assumption breaks "
    "(slow drifts inflate the global sigma but not MRbar). Both alarm "
    "rules are EXACT integer cross-multiplications (100*|m*(n*x - "
    "Sx)| > 266*n*SMR and 1000*mr*m > 3267*SMR — the rational "
    "constants never become floats on the decision path); the "
    "displayed limits are fixed-order IEEE expressions. One daily "
    "rollup, one bounded lag window, one 1-row scalar broadcast.",
)
def orders_xmr_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " div 100000 AS BIGINT)"
        ).alias("x")
    )
    w = Window.orderBy("day")
    mr = d.select(
        "day",
        "x",
        F.abs(F.col("x") - F.lag("x").over(w)).alias("mrange"),
    )
    mr = mr.persist()
    t = mr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.count("mrange").cast("bigint").alias("m"),
        F.sum("mrange").cast("bigint").alias("smr"),
    )
    center = F.col("sx").cast("double") / F.col("n")
    band = F.lit(2.66) * F.col("smr").cast("double") / F.col("m")
    _out = (
        mr.crossJoin(F.broadcast(t))
        .select(
            "day",
            "x",
            F.col("mrange").cast("bigint").alias("mrange"),
            center.alias("center"),
            (center + band).alias("ucl"),
            (center - band).alias("lcl"),
            F.when(
                100
                * F.abs(
                    F.col("m") * (F.col("n") * F.col("x") - F.col("sx"))
                )
                > 266 * F.col("n") * F.col("smr"),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("x_alarm"),
            F.when(
                F.col("mrange").isNotNull()
                & (1000 * F.col("mrange") * F.col("m")
                   > 3267 * F.col("smr")),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("mr_alarm"),
        )
        .orderBy("day")
    )
    return release_on_gc(mr, _out)


# ---------------------------------------------------------------------------
# orders_mase_seasonal_naive — scale-free forecast accuracy baseline
# ---------------------------------------------------------------------------


@register(
    "orders_mase_seasonal_naive",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS HUGEINT) // 100000 AS BIGINT) AS x
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    s AS (
      SELECT month, x,
             lag(x, 1)  OVER (ORDER BY month) AS x1,
             lag(x, 12) OVER (ORDER BY month) AS x12
      FROM m
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN x1 IS NOT NULL
                      THEN abs(x - x1) ELSE 0 END) AS BIGINT) AS mae1_sum,
             CAST(count(x1) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN x12 IS NOT NULL
                      THEN abs(x - x12) ELSE 0 END) AS BIGINT) AS mae12_sum,
             CAST(count(x12) AS BIGINT) AS n12
      FROM s
    )
    SELECT n AS n_months, n1 AS n_naive_errors, n12 AS n_seasonal_errors,
           CAST(mae1_sum // n1 AS BIGINT) AS naive_mae_kilo,
           CAST(mae12_sum // n12 AS BIGINT) AS seasonal_mae_kilo,
           CAST((1000000000 * CAST(mae12_sum AS HUGEINT) * n1)
                // (CAST(mae1_sum AS HUGEINT) * n12) AS BIGINT)
             AS mase_ppb
    FROM t WHERE n1 > 0 AND n12 > 0 AND mae1_sum > 0
    """,
    doc="MASE of the seasonal-naive forecast on monthly revenue: the mean "
    "absolute error of 'predict month t with month t-12' scaled by "
    "the in-sample naive (t-1) MAE — Hyndman's scale-free accuracy "
    "measure, the denominator every forecasting bake-off "
    "(orders_holt_winters, orders_croston, orders_mape_backtest) "
    "should be reported against: MASE >= 1e9 ppb means the method "
    "loses to 'no model at all', and unlike MAPE it survives "
    "zero-revenue months. Both error sums are exact integer "
    "kilodollar |differences| from two bounded lag windows over the "
    "monthly series; MASE is one exact HUGEINT/DECIMAL(38,0) "
    "cross-ratio floor-divided to ppb on non-negative operands.",
)
def orders_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.expr(
            "CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            " AS DECIMAL(38,0)) div 100000 AS BIGINT)"
        ).alias("x")
    )
    w = Window.orderBy("month")
    s = m.select(
        "month",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 12).over(w).alias("x12"),
    )
    t = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("x1").isNotNull(), F.abs(F.col("x") - F.col("x1"))
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("mae1_sum"),
        F.count("x1").cast("bigint").alias("n1"),
        F.sum(
            F.when(
                F.col("x12").isNotNull(), F.abs(F.col("x") - F.col("x12"))
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("mae12_sum"),
        F.count("x12").cast("bigint").alias("n12"),
    )
    return t.filter(
        (F.col("n1") > 0) & (F.col("n12") > 0) & (F.col("mae1_sum") > 0)
    ).select(
        F.col("n").alias("n_months"),
        F.col("n1").alias("n_naive_errors"),
        F.col("n12").alias("n_seasonal_errors"),
        F.expr("CAST(mae1_sum div n1 AS BIGINT)").alias("naive_mae_kilo"),
        F.expr("CAST(mae12_sum div n12 AS BIGINT)").alias(
            "seasonal_mae_kilo"
        ),
        F.expr(
            "CAST((1000000000 * CAST(mae12_sum AS DECIMAL(38,0)) * n1)"
            " div (CAST(mae1_sum AS DECIMAL(38,0)) * n12) AS BIGINT)"
        ).alias("mase_ppb"),
    )


# ---------------------------------------------------------------------------
# orders_demand_classification — Syntetos-Boylan ADI / CV^2 quadrants
# ---------------------------------------------------------------------------


@register(
    "orders_demand_classification",
    oracle="""
    WITH d AS (
      SELECT p.p_brand, l.l_shipdate AS day,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate IS NOT NULL
      GROUP BY 1, 2
    ),
    t AS (
      SELECT CAST(count(DISTINCT day) AS BIGINT) AS total_days FROM d
    ),
    m AS (
      SELECT p_brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS ss
      FROM d GROUP BY p_brand
    ),
    k AS (
      SELECT m.p_brand, m.n AS demand_days, t.total_days,
             CAST(1000000000 * t.total_days // m.n AS BIGINT) AS adi_ppb,
             CAST((1000000000 * CAST(m.n AS HUGEINT)
                   * (m.n * m.ss - CAST(m.s AS HUGEINT) * m.s))
                  // ((m.n - 1) * CAST(m.s AS HUGEINT) * m.s) AS BIGINT)
               AS cv2_ppb
      FROM m CROSS JOIN t WHERE m.n > 1 AND m.s > 0
    )
    SELECT p_brand, demand_days, total_days, adi_ppb, cv2_ppb,
           CASE WHEN adi_ppb < 1320000000 AND cv2_ppb < 490000000
                THEN 'smooth'
                WHEN adi_ppb >= 1320000000 AND cv2_ppb < 490000000
                THEN 'intermittent'
                WHEN adi_ppb < 1320000000 THEN 'erratic'
                ELSE 'lumpy' END AS demand_class
    FROM k
    ORDER BY p_brand
    """,
    doc="Syntetos-Boylan demand classification per part brand: average "
    "demand interval (ADI = total days / demand days) against the "
    "squared coefficient of variation of demand sizes, cut at the "
    "published 1.32 / 0.49 thresholds into smooth / intermittent / "
    "erratic / lumpy — the decision chart that says WHICH forecaster "
    "applies (smooth -> orders_exp_smoothing or holt_winters; "
    "intermittent/lumpy -> orders_croston; erratic -> "
    "orders_safety_stock on fatter buffers). Both axes are exact "
    "integer ppb floor-divisions (the CV^2 frame is "
    "n(n*SS - S^2)/((n-1)S^2) in HUGEINT/DECIMAL(38,0)); the quadrant "
    "cuts compare INTEGERS against integer ppb constants — no float "
    "ever decides a class. One keyed (brand, day) rollup + a 1-row "
    "day-count broadcast.",
)
def orders_demand_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.col("l_shipdate").alias("day"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("q")
        )
    )
    d = d.persist()
    t = d.select("day").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("total_days")
    )
    m = d.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        _dsum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("ss"),
    )
    k = (
        m.filter((F.col("n") > 1) & (F.col("s") > 0))
        .crossJoin(F.broadcast(t))
        .select(
            "p_brand",
            F.col("n").alias("demand_days"),
            "total_days",
            F.expr(
                "CAST(1000000000 * total_days div n AS BIGINT)"
            ).alias("adi_ppb"),
            F.expr(
                "CAST((1000000000 * CAST(n AS DECIMAL(38,0))"
                "      * (n * ss - CAST(s AS DECIMAL(38,0)) * s))"
                " div ((n - 1) * CAST(s AS DECIMAL(38,0)) * s) AS BIGINT)"
            ).alias("cv2_ppb"),
        )
    )
    _out = k.select(
        "p_brand",
        "demand_days",
        "total_days",
        "adi_ppb",
        "cv2_ppb",
        F.when(
            (F.col("adi_ppb") < 1320000000)
            & (F.col("cv2_ppb") < 490000000),
            "smooth",
        )
        .when(
            (F.col("adi_ppb") >= 1320000000)
            & (F.col("cv2_ppb") < 490000000),
            "intermittent",
        )
        .when(F.col("adi_ppb") < 1320000000, "erratic")
        .otherwise("lumpy")
        .alias("demand_class"),
    ).orderBy("p_brand")
    return release_on_gc(d, _out)


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
# orders_dft_annual_power — spectral power at the 12-month period
# ---------------------------------------------------------------------------

# cos/sin(2*pi*(m-1)/12) as shared nano-unit integer literals (month 1..12):
# NO trig runs at query time — the annual-frequency DFT becomes an exact
# integer dot product on both engines.
_DFT_COS = (
    "[1000000000, 866025404, 500000000, 0, -500000000, -866025404,"
    " -1000000000, -866025404, -500000000, 0, 500000000, 866025404]"
)
_DFT_SIN = (
    "[0, 500000000, 866025404, 1000000000, 866025404, 500000000,"
    " 0, -500000000, -866025404, -1000000000, -866025404, -500000000]"
)


@register(
    "orders_dft_annual_power",
    oracle=f"""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY date_trunc('month', o_orderdate),
                           month(o_orderdate)
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT) * ({_DFT_COS})[mo]) AS HUGEINT)
               AS cn,
             CAST(sum(CAST(x AS HUGEINT) * ({_DFT_SIN})[mo]) AS HUGEINT)
               AS sn,
             CAST(sum(x) AS HUGEINT) AS tot
      FROM m
    ),
    r AS (
      SELECT n, tot, cn // 1000000000 AS cr, sn // 1000000000 AS sr
      FROM s
    )
    SELECT n AS n_months,
           CAST(cr AS BIGINT) AS cos_sum_cents,
           CAST(sr AS BIGINT) AS sin_sum_cents,
           CAST((cr * cr + sr * sr) // (greatest(n, 1) * 1000000)
                AS BIGINT) AS power_mega_cents2,
           CAST(floor(sqrt(CAST(cr * cr + sr * sr AS DOUBLE)) * 2.0
                      / CAST(n AS DOUBLE)) AS BIGINT)
             AS amplitude_cents
    FROM r
    """,
    doc="Discrete-Fourier power of monthly revenue at the ANNUAL "
    "frequency (period 12): C = sum x_t cos(2pi m_t/12), S = sum x_t "
    "sin(...), power = (C^2+S^2)/n and seasonal amplitude 2|F|/n — "
    "the frequency-domain seasonality readout that complements "
    "orders_seasonality_strength (variance-ratio) and "
    "agg_autocorrelation (lag-domain): it measures the SINUSOIDAL "
    "component at exactly one cycle/year. The twelve cos/sin values "
    "are shared nano-unit integer LITERALS (no trig at query time), "
    "so C and S are exact integer dot products over the calendar-"
    "bounded month relation; they reduce by 1e9 before squaring "
    "(keeping n*power under 2^63 through sf1000), and the amplitude "
    "is one fixed-shape sqrt over those exact integers. One month "
    "rollup; no windows, no joins. Spark div and DuckDB // both "
    "truncate toward zero, so the signed reductions match exactly.",
)
def orders_dft_annual_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mon"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    cos_arr = "array" + _DFT_COS.replace("[", "(").replace("]", ")")
    sin_arr = "array" + _DFT_SIN.replace("[", "(").replace("]", ")")
    s = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(
            F.expr(
                f"CAST(x AS DECIMAL(38,0))"
                f" * element_at({cos_arr}, CAST(mo AS INT))"
            )
        ).alias("cn"),
        _dsum(
            F.expr(
                f"CAST(x AS DECIMAL(38,0))"
                f" * element_at({sin_arr}, CAST(mo AS INT))"
            )
        ).alias("sn"),
        _dsum(F.col("x")).alias("tot"),
    )
    r = s.select(
        "n",
        F.expr("CAST(cn div 1000000000 AS DECIMAL(38,0))").alias("cr"),
        F.expr("CAST(sn div 1000000000 AS DECIMAL(38,0))").alias("sr"),
    )
    return r.select(
        F.col("n").alias("n_months"),
        F.expr("CAST(cr AS BIGINT)").alias("cos_sum_cents"),
        F.expr("CAST(sr AS BIGINT)").alias("sin_sum_cents"),
        F.expr(
            "CAST((cr * cr + sr * sr) div (greatest(n, 1) * 1000000)"
            " AS BIGINT)"
        ).alias("power_mega_cents2"),
        F.expr(
            "CAST(floor(sqrt(CAST(cr * cr + sr * sr AS DOUBLE)) * 2.0"
            " / CAST(n AS DOUBLE)) AS BIGINT)"
        ).alias("amplitude_cents"),
    )


# ---------------------------------------------------------------------------
# orders_sprt_sequential — Wald SPRT monitor on the daily return rate
# ---------------------------------------------------------------------------

# floor-quantized micro-nat literals of the hypothesis log-ratios:
# H0 p0 = 24%, H1 p1 = 26%; ln(p1/p0) = ln(13/12), ln((1-p1)/(1-p0)) =
# ln(37/38); alpha = beta = 0.05 -> boundaries +-ln(19).
_SPRT_L1 = 80042
_SPRT_L0 = -26669
_SPRT_A = 2944438


@register(
    "orders_sprt_sequential",
    oracle=f"""
    WITH d AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT day, n, r,
             CAST(sum(r * {_SPRT_L1} + (n - r) * ({_SPRT_L0}))
                  OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS llr
      FROM d
    ),
    hit AS (
      SELECT min(day) AS dday FROM c
      WHERE llr >= {_SPRT_A} OR llr <= -{_SPRT_A}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(coalesce((SELECT count(*) FROM c
                          WHERE c.day <= (SELECT dday FROM hit)), 0)
                AS BIGINT) AS decision_day_index,
           coalesce((SELECT CASE WHEN llr >= {_SPRT_A} THEN 'accept_h1'
                                 ELSE 'accept_h0' END
                     FROM c WHERE c.day = (SELECT dday FROM hit)),
                    'continue') AS decision,
           CAST((SELECT llr FROM c ORDER BY day DESC LIMIT 1) AS BIGINT)
             AS final_llr_micro
    FROM c
    """,
    doc="Wald sequential probability-ratio test (SPRT) monitoring the "
    "daily return rate: H0 p=24% vs H1 p=26%, alpha=beta=5%. Each "
    "ship-day contributes the exact integer log-likelihood increment "
    "r*ln(p1/p0) + (n-r)*ln(q1/q0) in micro-nats — BOTH log-ratios "
    "and the ln(19) boundaries are floor-quantized shared LITERALS, "
    "so no logarithm runs at query time and the cumulative LLR path, "
    "the first boundary crossing, and the decision are exact integer "
    "arithmetic. This is the always-valid sequential monitor a "
    "streaming quality gate runs per epoch, beside the fixed-horizon "
    "tests (agg_welch_ttest) and control charts (orders_shewhart_"
    "control, orders_cusum_control — CUSUM detects shifts, SPRT "
    "DECIDES between hypotheses with error guarantees). One day "
    "rollup; one calendar-bounded prefix window.",
)
def orders_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    d = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("r"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "day",
        "n",
        "r",
        F.sum(
            F.col("r") * F.lit(_SPRT_L1) + (F.col("n") - F.col("r")) * F.lit(_SPRT_L0)
        )
        .over(w)
        .cast("bigint")
        .alias("llr"),
    )
    hit = c.filter(
        (F.col("llr") >= _SPRT_A) | (F.col("llr") <= -_SPRT_A)
    ).agg(F.min("day").alias("dday"))
    last = c.orderBy(F.col("day").desc()).limit(1).select(
        F.col("llr").alias("final_llr_micro")
    )
    agg = c.crossJoin(F.broadcast(hit)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.coalesce(
            F.sum(
                F.when(F.col("day") <= F.col("dday"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("decision_day_index"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("day") == F.col("dday"),
                    F.when(F.col("llr") >= _SPRT_A, "accept_h1").otherwise(
                        "accept_h0"
                    ),
                )
            ),
            F.lit("continue"),
        ).alias("decision"),
    )
    return agg.crossJoin(F.broadcast(last)).select(
        "n_days", "decision_day_index", "decision", "final_llr_micro"
    )


# ---------------------------------------------------------------------------
# orders_damped_trend — damped Holt (phi=0.9) per priority, final state
# ---------------------------------------------------------------------------


@register(
    "orders_damped_trend",
    oracle="""
    WITH RECURSIVE monthly AS (
      SELECT o_orderpriority AS priority,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1, 2
    ),
    idx AS (
      SELECT priority, x,
             CAST(row_number() OVER (PARTITION BY priority ORDER BY month)
                  AS BIGINT) AS i
      FROM monthly
    ),
    nn AS (
      SELECT priority, CAST(count(*) AS BIGINT) AS n FROM idx GROUP BY 1
    ),
    rec AS (
      SELECT priority, i, x AS l, CAST(0 AS BIGINT) AS b
      FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.priority, idx.i,
             CAST(floor(CAST(0.3 AS DOUBLE) * idx.x
                        + CAST(0.7 AS DOUBLE)
                          * (rec.l + CAST(0.9 AS DOUBLE) * rec.b)
                        + 0.5) AS BIGINT),
             CAST(floor(CAST(0.2 AS DOUBLE)
                          * (CAST(floor(CAST(0.3 AS DOUBLE) * idx.x
                               + CAST(0.7 AS DOUBLE)
                                 * (rec.l + CAST(0.9 AS DOUBLE) * rec.b)
                               + 0.5) AS BIGINT)
                             - rec.l)
                        + CAST(0.72 AS DOUBLE) * rec.b + 0.5) AS BIGINT)
      FROM rec JOIN idx
        ON idx.priority = rec.priority AND idx.i = rec.i + 1
    ),
    fin AS (
      SELECT rec.priority, rec.l, rec.b
      FROM rec JOIN nn ON rec.priority = nn.priority AND rec.i = nn.n
    )
    SELECT f.priority AS priority, nn.n AS n_months,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(l + CAST(floor(CAST(0.9 AS DOUBLE) * b + 0.5) AS BIGINT)
                AS BIGINT) AS forecast_1_cents,
           CAST(l + CAST(floor(CAST(1.71 AS DOUBLE) * b + 0.5) AS BIGINT)
                AS BIGINT) AS forecast_2_cents,
           CAST(l + CAST(floor(CAST(2.439 AS DOUBLE) * b + 0.5) AS BIGINT)
                AS BIGINT) AS forecast_3_cents
    FROM fin f JOIN nn ON f.priority = nn.priority
    ORDER BY f.priority
    """,
    doc="Damped-trend exponential smoothing (Gardner-McKenzie; alpha=0.3, "
    "beta=0.2, phi=0.9) of monthly revenue per priority — the variant "
    "that beat plain Holt across the M-competitions by letting the "
    "trend decay geometrically instead of extrapolating linearly "
    "forever: l_t = a*x + (1-a)(l + phi*b), b_t = g(l_t - l) + "
    "(1-g)phi*b, F_h = l + (phi + ... + phi^h) b. State is INTEGER "
    "CENTS re-quantized each step via floor(x + 0.5) — NOT round(): "
    "Spark rounds the double's shortest DECIMAL repr half-up while "
    "DuckDB rounds the binary double, and they diverged on a real "
    "near-.5 product at sf0.001 (the r12 finding); floor acts on the "
    "identical binary double on both engines, so every step is "
    "bit-deterministic — and every oracle-side constant is CAST(c AS "
    "DOUBLE) because bare DuckDB decimal literals are exact DECIMALs, "
    "which diverged from the double path by 1 cent at step 75 of the "
    "3-MEDIUM series. The "
    "damped forecast weights 0.9/1.71/2.439 are shared literals. "
    "Spark folds the calendar-bounded series with the aggregate HOF; "
    "the oracle replays the identical fold as a recursive CTE. Facts "
    "reduce map-side to (priority, month); O(1) state per series.",
)
def orders_damped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    ser = monthly.groupBy("priority").agg(
        F.expr("array_sort(collect_list(struct(month, x)))").alias("ms"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    fold = F.expr(
        "aggregate("
        "transform(slice(ms, 2, size(ms) - 1), e -> e.x), "
        "named_struct('l', element_at(ms, 1).x, 'b', CAST(0 AS BIGINT)), "
        "(acc, x) -> named_struct("
        "'l', CAST(floor(0.3D * x + 0.7D * (acc.l + 0.9D * acc.b) + 0.5D)"
        " AS BIGINT), "
        "'b', CAST(floor(0.2D * (CAST(floor(0.3D * x"
        " + 0.7D * (acc.l + 0.9D * acc.b) + 0.5D) AS BIGINT) - acc.l)"
        " + 0.72D * acc.b + 0.5D) AS BIGINT)))"
    )
    fin = ser.select(
        "priority", F.col("n").alias("n_months"), fold.alias("st")
    )
    return fin.select(
        "priority",
        "n_months",
        F.col("st.l").alias("level_cents"),
        F.col("st.b").alias("trend_cents"),
        F.expr(
            "CAST(st.l + CAST(floor(0.9D * st.b + 0.5D) AS BIGINT)"
            " AS BIGINT)"
        ).alias("forecast_1_cents"),
        F.expr(
            "CAST(st.l + CAST(floor(1.71D * st.b + 0.5D) AS BIGINT)"
            " AS BIGINT)"
        ).alias("forecast_2_cents"),
        F.expr(
            "CAST(st.l + CAST(floor(2.439D * st.b + 0.5D) AS BIGINT)"
            " AS BIGINT)"
        ).alias("forecast_3_cents"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# orders_bass_diffusion — Bass new-adopter model via closed-form quadratic OLS
# ---------------------------------------------------------------------------

_BASS_DETS = """
      CAST(t0 AS DOUBLE) AS d_t0, CAST(s1 AS DOUBLE) AS d_s1,
      CAST(s2 AS DOUBLE) AS d_s2, CAST(s3 AS DOUBLE) AS d_s3,
      CAST(s4 AS DOUBLE) AS d_s4, CAST(sy AS DOUBLE) AS d_sy,
      CAST(sy1 AS DOUBLE) AS d_sy1, CAST(sy2 AS DOUBLE) AS d_sy2
"""


@register(
    "orders_bass_diffusion",
    oracle="""
    WITH fo AS (
      SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS fm
      FROM orders GROUP BY 1
    ),
    ad AS (
      SELECT fm, CAST(count(*) AS BIGINT) AS n_new
      FROM fo GROUP BY 1
    ),
    cum AS (
      SELECT fm, n_new,
             CAST(coalesce(sum(n_new) OVER (ORDER BY fm
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // 10 AS BIGINT) AS y
      FROM ad
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS t0,
             CAST(sum(y) AS HUGEINT) AS s1,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2,
             CAST(sum(CAST(y AS HUGEINT) * y * y) AS HUGEINT) AS s3,
             CAST(sum(CAST(y AS HUGEINT) * y * y * y) AS HUGEINT) AS s4,
             CAST(sum(n_new) AS HUGEINT) AS sy,
             CAST(sum(CAST(n_new AS HUGEINT) * y) AS HUGEINT) AS sy1,
             CAST(sum(CAST(n_new AS HUGEINT) * y * y) AS HUGEINT) AS sy2
      FROM cum
    ),
    d AS (
      SELECT t0, """ + _BASS_DETS + """
      FROM s
    ),
    det AS (
      SELECT t0,
             d_t0 * (d_s2 * d_s4 - d_s3 * d_s3)
               - d_s1 * (d_s1 * d_s4 - d_s3 * d_s2)
               + d_s2 * (d_s1 * d_s3 - d_s2 * d_s2) AS dd,
             d_sy * (d_s2 * d_s4 - d_s3 * d_s3)
               - d_s1 * (d_sy1 * d_s4 - d_s3 * d_sy2)
               + d_s2 * (d_sy1 * d_s3 - d_s2 * d_sy2) AS da,
             d_t0 * (d_sy1 * d_s4 - d_sy2 * d_s3)
               - d_sy * (d_s1 * d_s4 - d_s3 * d_s2)
               + d_s2 * (d_s1 * d_sy2 - d_s2 * d_sy1) AS db,
             d_t0 * (d_s2 * d_sy2 - d_s3 * d_sy1)
               - d_s1 * (d_s1 * d_sy2 - d_sy1 * d_s2)
               + d_sy * (d_s1 * d_s3 - d_s2 * d_s2) AS dc
      FROM d
    )
    SELECT t0 AS n_months,
           CAST(floor(1000000.0 * da / dd) AS BIGINT) AS a_micro,
           CAST(floor(1000000.0 * db / dd) AS BIGINT) AS b_micro,
           CAST(floor(1000000000.0 * dc / dd) AS BIGINT) AS c_nano,
           CAST(CASE WHEN dc / dd < 0
                      AND (db / dd) * (db / dd)
                          - 4.0 * (da / dd) * (dc / dd) >= 0
                THEN floor((-(db / dd)
                     - sqrt((db / dd) * (db / dd)
                            - 4.0 * (da / dd) * (dc / dd)))
                     / (2.0 * (dc / dd)))
                ELSE 0 END AS BIGINT) AS market_size_tens
    FROM det
    """,
    doc="Bass diffusion model of customer adoption (first-order month): "
    "new adopters n_t = a + b*Y_{t-1} + c*Y_{t-1}^2 with Y the "
    "cumulative adopter count (scaled to tens for moment headroom) — "
    "the classic innovation/imitation growth model, fit in CLOSED "
    "FORM by Cramer's rule on the 3x3 normal equations (the "
    "orders_ols_multifactor recipe, one order up). All eight moment "
    "sums are exact HUGEINT/DECIMAL integers from ONE pass over the "
    "calendar-bounded month relation; the four 3x3 determinants and "
    "the implied market size m = (-b - sqrt(b^2-4ac))/(2c) are "
    "fixed-shape double expressions over those exact integers, "
    "floor-quantized (guarded to 0 when the quadratic has no "
    "admissible root, i.e. c >= 0 — no diffusion saturation "
    "detectable). One customer-keyed rollup + one bounded prefix "
    "window; O(1) reduce state.",
)
def orders_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    fo = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("fm")
    )
    ad = fo.groupBy("fm").agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    w = Window.orderBy("fm").rowsBetween(Window.unboundedPreceding, -1)
    cum = ad.select(
        "fm",
        "n_new",
        F.expr(
            "CAST(0 AS BIGINT)"
        ).alias("zero"),
    ).select(
        "fm",
        "n_new",
        (F.coalesce(F.sum("n_new").over(w), F.col("zero")) / 10)
        .cast("bigint")
        .alias("y"),
    )
    s = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("t0"),
        _dsum(F.col("y")).alias("s1"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("s2"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y * y")).alias("s3"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y * y * y")).alias("s4"),
        _dsum(F.col("n_new")).alias("sy"),
        _dsum(F.expr("CAST(n_new AS DECIMAL(38,0)) * y")).alias("sy1"),
        _dsum(F.expr("CAST(n_new AS DECIMAL(38,0)) * y * y")).alias("sy2"),
    )
    d = s.select(
        "t0",
        *[
            F.col(c).cast("double").alias(f"d_{c}")
            for c in ["t0", "s1", "s2", "s3", "s4", "sy", "sy1", "sy2"]
        ],
    )
    det = d.select(
        "t0",
        F.expr(
            "d_t0 * (d_s2 * d_s4 - d_s3 * d_s3)"
            " - d_s1 * (d_s1 * d_s4 - d_s3 * d_s2)"
            " + d_s2 * (d_s1 * d_s3 - d_s2 * d_s2)"
        ).alias("dd"),
        F.expr(
            "d_sy * (d_s2 * d_s4 - d_s3 * d_s3)"
            " - d_s1 * (d_sy1 * d_s4 - d_s3 * d_sy2)"
            " + d_s2 * (d_sy1 * d_s3 - d_s2 * d_sy2)"
        ).alias("da"),
        F.expr(
            "d_t0 * (d_sy1 * d_s4 - d_sy2 * d_s3)"
            " - d_sy * (d_s1 * d_s4 - d_s3 * d_s2)"
            " + d_s2 * (d_s1 * d_sy2 - d_s2 * d_sy1)"
        ).alias("db"),
        F.expr(
            "d_t0 * (d_s2 * d_sy2 - d_s3 * d_sy1)"
            " - d_s1 * (d_s1 * d_sy2 - d_sy1 * d_s2)"
            " + d_sy * (d_s1 * d_s3 - d_s2 * d_s2)"
        ).alias("dc"),
    )
    return det.select(
        F.col("t0").alias("n_months"),
        F.expr("CAST(floor(1000000.0 * da / dd) AS BIGINT)").alias("a_micro"),
        F.expr("CAST(floor(1000000.0 * db / dd) AS BIGINT)").alias("b_micro"),
        F.expr("CAST(floor(1000000000.0 * dc / dd) AS BIGINT)").alias(
            "c_nano"
        ),
        F.expr(
            "CAST(CASE WHEN dc / dd < 0"
            " AND (db / dd) * (db / dd)"
            "     - 4.0 * (da / dd) * (dc / dd) >= 0"
            " THEN floor((-(db / dd)"
            "      - sqrt((db / dd) * (db / dd)"
            "             - 4.0 * (da / dd) * (dc / dd)))"
            "      / (2.0 * (dc / dd)))"
            " ELSE 0 END AS BIGINT)"
        ).alias("market_size_tens"),
    )


# ---------------------------------------------------------------------------
# orders_p_chart — attribute control chart on the monthly return proportion
# ---------------------------------------------------------------------------


@register(
    "orders_p_chart",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(n) AS BIGINT) AS l, CAST(sum(r) AS BIGINT) AS rr
      FROM m
    )
    SELECT m.month, m.n AS n_lines, m.r AS n_returns,
           CAST((1000000 * m.r) // m.n AS BIGINT) AS phat_ppm,
           CAST((1000000 * t.rr) // t.l AS BIGINT) AS pbar_ppm,
           CAST(CASE WHEN CAST(m.r AS HUGEINT) * t.l > CAST(m.n AS HUGEINT)
                          * t.rr THEN 1 ELSE 0 END AS BIGINT) AS is_above,
           CAST(CASE WHEN (CAST(m.r AS HUGEINT) * t.l
                           - CAST(m.n AS HUGEINT) * t.rr)
                          * (CAST(m.r AS HUGEINT) * t.l
                             - CAST(m.n AS HUGEINT) * t.rr)
                          > 9 * CAST(t.rr AS HUGEINT) * (t.l - t.rr) * m.n
                     THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM m, t
    ORDER BY m.month
    """,
    doc="p-chart (attribute control chart) on the monthly return "
    "PROPORTION: center p-bar = R/L pooled over all ship months, "
    "3-sigma binomial limits p-bar +- 3 sqrt(p-bar(1-p-bar)/n_t) — "
    "the fraction-nonconforming companion to the measurement charts "
    "(orders_shewhart_control on revenue, orders_xmr_chart, "
    "orders_ewma_control): variable monthly sample sizes get "
    "per-month limits automatically. The control decision is the "
    "EXACT integer cross-multiplication (r_t L - n_t R)^2 > "
    "9 R (L-R) n_t (both sides under 10^38 through sf100) — no "
    "square root ever evaluated for the flag; phat/pbar land as ppm "
    "floor-divisions. One month rollup + 1-row broadcast; no "
    "windows.",
)
def orders_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    t = m.agg(
        F.sum("n").cast("bigint").alias("l"),
        F.sum("r").cast("bigint").alias("rr"),
    )
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            "month",
            F.col("n").alias("n_lines"),
            F.col("r").alias("n_returns"),
            F.expr("CAST((1000000 * r) div n AS BIGINT)").alias("phat_ppm"),
            F.expr("CAST((1000000 * rr) div l AS BIGINT)").alias("pbar_ppm"),
            F.expr(
                "CAST(CASE WHEN CAST(r AS DECIMAL(38,0)) * l"
                " > CAST(n AS DECIMAL(38,0)) * rr THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("is_above"),
            F.expr(
                "CAST(CASE WHEN (CAST(r AS DECIMAL(38,0)) * l"
                " - CAST(n AS DECIMAL(38,0)) * rr)"
                " * (CAST(r AS DECIMAL(38,0)) * l"
                "    - CAST(n AS DECIMAL(38,0)) * rr)"
                " > 9 * CAST(rr AS DECIMAL(38,0)) * (l - rr) * n"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("out_of_control"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# orders_wright_learning — experience-curve slope (log-log OLS)
# ---------------------------------------------------------------------------


@register(
    "orders_wright_learning",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT month, q, rev,
             CAST(sum(q) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cq,
             CAST((1000 * rev) // (100 * q) AS BIGINT) AS up_milli
      FROM m
    ),
    pts AS (
      SELECT CAST(floor(1000000.0 * ln(CAST(cq AS DOUBLE))) AS BIGINT)
               AS x,
             CAST(floor(1000000.0 * ln(CAST(up_milli AS DOUBLE)))
                  AS BIGINT) AS y
      FROM cum WHERE q > 0 AND up_milli > 0
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM pts
    )
    SELECT n AS n_months,
           CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END AS BIGINT)
             AS slope_sign,
           CAST((1000000 * abs(n * sxy - sx * sy))
                // greatest(n * sxx - sx * sx, 1) AS BIGINT)
             AS slope_abs_micro,
           CAST((1000000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
                // greatest((n * sxx - sx * sx) * (n * syy - sy * sy), 1)
                AS BIGINT) AS r2_ppb
    FROM s
    """,
    doc="Wright's-law experience curve: regress ln(unit price) on "
    "ln(cumulative quantity) across ship months — the learning-curve "
    "slope b in price ~ Q^b, the production-economics pattern behind "
    "cost-decline forecasting (negative slope = costs fall as "
    "experience doubles). Unit price quantizes to integer milli-"
    "dollars via one exact floor-division per month, then BOTH "
    "log-log coordinates floor-quantize to micro-units (the "
    "events_weibull_gaps median-rank-regression recipe) so all five "
    "OLS moment sums are exact HUGEINT integers over the calendar-"
    "bounded relation; slope is sign-split with a non-negative micro "
    "floor-division and R^2 is one exact ppb ratio (squared-"
    "covariance cross-multiplication). One month rollup + one "
    "bounded prefix window.",
)
def orders_wright_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    m = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev"),
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = m.select(
        "q",
        F.sum("q").over(w).cast("bigint").alias("cq"),
        F.expr("CAST((1000 * rev) div (100 * q) AS BIGINT)").alias(
            "up_milli"
        ),
    )
    pts = cum.filter((F.col("q") > 0) & (F.col("up_milli") > 0)).select(
        F.floor(F.lit(1000000.0) * F.log(F.col("cq").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.floor(F.lit(1000000.0) * F.log(F.col("up_milli").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_months"),
        F.expr(
            "CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("slope_sign"),
        F.expr(
            "CAST((1000000 * abs(n * sxy - sx * sy))"
            " div greatest(n * sxx - sx * sx, 1) AS BIGINT)"
        ).alias("slope_abs_micro"),
        F.expr(
            "CAST((1000000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))"
            " div greatest((n * sxx - sx * sx) * (n * syy - sy * sy), 1)"
            " AS BIGINT)"
        ).alias("r2_ppb"),
    )


# ---------------------------------------------------------------------------
# orders_rca_index — Balassa revealed comparative advantage (nation x brand)
# ---------------------------------------------------------------------------


@register(
    "orders_rca_index",
    oracle="""
    WITH x AS (
      SELECT c.c_nationkey AS nk, p.p_brand AS brand,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT nk, brand, rev,
             CAST(sum(rev) OVER (PARTITION BY nk) AS HUGEINT) AS x_n,
             CAST(sum(rev) OVER (PARTITION BY brand) AS HUGEINT) AS x_b,
             CAST(sum(rev) OVER () AS HUGEINT) AS x_t
      FROM x
    )
    SELECT n.n_name AS nation, m.brand AS brand,
           CAST(m.rev AS BIGINT) AS rev_cents,
           CAST((1000000000 * CAST(m.rev AS HUGEINT) * m.x_t)
                // (m.x_n * m.x_b) AS BIGINT) AS rca_ppb
    FROM m JOIN nation n ON n.n_nationkey = m.nk
    ORDER BY nation, brand
    """,
    doc="Balassa revealed-comparative-advantage index over the customer-"
    "nation x part-brand revenue matrix: RCA = (x_nb/x_n)/(X_b/X) — "
    "does nation n buy brand b MORE intensively than the world does? "
    "RCA > 1 (ppb > 1e9) marks specialization; the trade-economics "
    "localization of what agg_chi_square/agg_cramers_v only test "
    "globally, and the per-cell companion to orders_grubel_lloyd's "
    "bilateral symmetry. Cross-multiplied to ONE exact non-negative "
    "ppb floor-division per cell, 1e9*x_nb*X under 10^38 through "
    "sf100 (HUGEINT/DECIMAL widened). One fact rollup to the bounded "
    "nation x brand grid (dims broadcast); margins via grid windows. "
    "The fact rollup is N-linear by construction (one pass); at 100 "
    "TB the named swap is pre-aggregated brand-revenue cube "
    "partitions (the layout_zorder_tiles / sink_parquet_partitioned "
    "path) so the grid rollup reads partial sums, not raw facts.",
)
def orders_rca_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    n = table(spark, sf_dir, "nation")
    x = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.col("p_brand").alias("brand")
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    m = x.select(
        "nk",
        "brand",
        "rev",
        F.sum("rev").over(Window.partitionBy("nk")).cast("decimal(38,0)").alias("x_n"),
        F.sum("rev")
        .over(Window.partitionBy("brand"))
        .cast("decimal(38,0)")
        .alias("x_b"),
        F.sum("rev").over(Window.partitionBy()).cast("decimal(38,0)").alias("x_t"),
    )
    return (
        m.join(F.broadcast(n), F.col("nk") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "brand",
            F.col("rev").cast("bigint").alias("rev_cents"),
            F.expr(
                "CAST((1000000000 * CAST(rev AS DECIMAL(38,0)) * x_t)"
                " div (x_n * x_b) AS BIGINT)"
            ).alias("rca_ppb"),
        )
        .orderBy("nation", "brand")
    )


# ---------------------------------------------------------------------------
# orders_grubel_lloyd — intra-industry (bilateral) trade symmetry index
# ---------------------------------------------------------------------------


@register(
    "orders_grubel_lloyd",
    oracle=f"""
    WITH {_TRADE_EDGES_SQL},
    pairs AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             CAST(sum(CASE WHEN src < dst THEN w ELSE 0 END) AS BIGINT)
               AS x_ab,
             CAST(sum(CASE WHEN src > dst THEN w ELSE 0 END) AS BIGINT)
               AS x_ba
      FROM tr GROUP BY 1, 2
    )
    SELECT na.n_name AS nation_a, nb.n_name AS nation_b,
           x_ab AS flow_ab, x_ba AS flow_ba,
           CAST(1000000000
                - (1000000000 * abs(x_ab - x_ba)) // (x_ab + x_ba)
                AS BIGINT) AS gl_ppb
    FROM pairs
    JOIN nation na ON na.n_nationkey = pairs.a
    JOIN nation nb ON nb.n_nationkey = pairs.b
    WHERE x_ab + x_ba > 0
    ORDER BY nation_a, nation_b
    """,
    doc="Grubel-Lloyd bilateral trade-overlap index per nation pair: "
    "GL = 1 - |X_ab - X_ba|/(X_ab + X_ba) over the DIRECTED customer->"
    "supplier flow counts — GL ~ 1 means two nations trade with each "
    "other symmetrically in both directions (intra-industry trade), "
    "GL ~ 0 a one-way relationship; the edgewise symmetry "
    "decomposition of what graph_reciprocity reports as one number. "
    "Both directional masses are exact integers from the "
    "pre-aggregated trade rollup (the graph_rich_club oracle "
    "discipline); GL is 1e9 minus ONE non-negative ppb floor-"
    "division. Bounded nation-pair output with broadcast name joins.",
)
def orders_grubel_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    tr = (
        f.join(F.broadcast(c), F.col("ck") == c.c_custkey)
        .join(F.broadcast(s), F.col("sk") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    pairs = tr.groupBy(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).agg(
        F.sum(F.when(F.col("src") < F.col("dst"), F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("x_ab"),
        F.sum(F.when(F.col("src") > F.col("dst"), F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("x_ba"),
    )
    na = nat.select(
        F.col("n_nationkey").alias("ka"), F.col("n_name").alias("nation_a")
    )
    nb = nat.select(
        F.col("n_nationkey").alias("kb"), F.col("n_name").alias("nation_b")
    )
    return (
        pairs.filter(F.col("x_ab") + F.col("x_ba") > 0)
        .join(F.broadcast(na), F.col("a") == F.col("ka"))
        .join(F.broadcast(nb), F.col("b") == F.col("kb"))
        .select(
            "nation_a",
            "nation_b",
            F.col("x_ab").alias("flow_ab"),
            F.col("x_ba").alias("flow_ba"),
            F.expr(
                "CAST(1000000000"
                " - (1000000000 * abs(x_ab - x_ba)) div (x_ab + x_ba)"
                " AS BIGINT)"
            ).alias("gl_ppb"),
        )
        .orderBy("nation_a", "nation_b")
    )


# ---------------------------------------------------------------------------
# orders_association_metrics — rule-quality panel for top co-purchase pairs
# ---------------------------------------------------------------------------


@register(
    "orders_association_metrics",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    nn AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM b),
    supp AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1
    ),
    pr AS (
      SELECT b1.pk AS pa, b2.pk AS pb, CAST(count(*) AS BIGINT) AS cab
      FROM b b1 JOIN b b2 ON b1.ok = b2.ok AND b1.pk < b2.pk
      GROUP BY 1, 2
    ),
    top AS (
      SELECT pa, pb, cab FROM pr ORDER BY cab DESC, pa, pb LIMIT 20
    )
    SELECT t.pa AS part_a, t.pb AS part_b, t.cab AS n_together,
           sa.c AS n_a, sb.c AS n_b,
           CAST((1000000 * t.cab) // sa.c AS BIGINT) AS confidence_ppm,
           CAST((1000000 * CAST(t.cab AS HUGEINT) * nn.n)
                // (CAST(sa.c AS HUGEINT) * sb.c) AS BIGINT) AS lift_ppm,
           CAST(CASE WHEN CAST(t.cab AS HUGEINT) * nn.n
                          >= CAST(sa.c AS HUGEINT) * sb.c
                     THEN 1 ELSE -1 END AS BIGINT) AS leverage_sign,
           CAST((1000000000 * abs(CAST(t.cab AS HUGEINT) * nn.n
                                  - CAST(sa.c AS HUGEINT) * sb.c))
                // (CAST(nn.n AS HUGEINT) * nn.n) AS BIGINT)
             AS leverage_abs_ppb,
           CAST(CASE WHEN sa.c > t.cab THEN
                (1000000 * CAST(nn.n - sb.c AS HUGEINT) * sa.c)
                  // (CAST(nn.n AS HUGEINT) * (sa.c - t.cab))
                ELSE 0 END AS BIGINT) AS conviction_ppm,
           CAST((1000000 * t.cab) // (sa.c + sb.c - t.cab) AS BIGINT)
             AS jaccard_ppm
    FROM top t
    JOIN supp sa ON sa.pk = t.pa
    JOIN supp sb ON sb.pk = t.pb
    CROSS JOIN nn
    ORDER BY n_together DESC, part_a, part_b
    """,
    doc="Association-rule quality panel for the 20 most frequent "
    "co-purchase pairs (a -> b with a < b): confidence c_ab/c_a, "
    "lift c_ab*N/(c_a*c_b), leverage c_ab/N - (c_a/N)(c_b/N), "
    "conviction (1 - c_b/N)/(1 - c_ab/c_a) and Jaccard overlap — the "
    "full rule-mining readout beyond orders_basket_lift's lift-only "
    "ranking (conviction catches implication asymmetry lift is blind "
    "to; leverage is the additive effect the ratio forms hide). "
    "Every metric is an exact integer cross-multiplied ratio "
    "(leverage sign-split; conviction guarded to 0 at confidence = "
    "1, declared); one shuffle on l_orderkey builds sorted "
    "distinct-part baskets (collect_set dedups in the aggregate) and "
    "pairs expand MAP-SIDE from the arrays (baskets are order-sized, "
    "<= 21 pairs each — the orders_basket_lift shape), supports "
    "broadcast back. TakeOrderedAndProject keeps the top-20 before "
    "the metric joins.",
)
def orders_association_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    li = table(spark, sf_dir, "lineitem")
    # basket shape (the orders_basket_lift contract): ONE shuffle on
    # l_orderkey builds the per-order distinct-part arrays (collect_set
    # dedups in the aggregate — the former standalone (ok, pk) DISTINCT
    # shuffle disappears), and the pair relation expands MAP-SIDE from
    # the sorted arrays (baskets are order-sized, <= 7 parts -> <= 21
    # pairs) instead of re-shuffling the distinct relation through both
    # sides of a self-join. Supports, the basket total and the pair
    # counts all read the one persisted basket relation.
    bk = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("parts"))
    )
    bk = bk.persist()
    # count("ok") skips NULLs == the former countDistinct over the
    # distinct (ok, pk) relation (ok is unique per basket row)
    nn = bk.agg(F.count("ok").cast("bigint").alias("n"))
    supp = (
        bk.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # NULL-ok baskets keep contributing to supports but never to pairs,
    # mirroring the former self-join's NULL-rejecting equality (free on
    # TPC-H data, exact on anything else)
    parts = F.col("parts")
    pair_arr = F.flatten(
        F.transform(
            parts,
            lambda x, i: F.transform(
                F.slice(parts, i + F.lit(2), F.size(parts)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pr = (
        bk.filter(F.col("ok").isNotNull())
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
    )
    top = pr.orderBy(F.col("cab").desc(), "pa", "pb").limit(20)
    sa = supp.withColumnRenamed("pk", "ka").withColumnRenamed("c", "n_a")
    sb = supp.withColumnRenamed("pk", "kb").withColumnRenamed("c", "n_b")
    out = (
        top.join(F.broadcast(sa), F.col("pa") == F.col("ka"))
        .join(F.broadcast(sb), F.col("pb") == F.col("kb"))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("cab").alias("n_together"),
            "n_a",
            "n_b",
            F.expr("CAST((1000000 * cab) div n_a AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "CAST((1000000 * CAST(cab AS DECIMAL(38,0)) * n)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
            F.expr(
                "CAST(CASE WHEN CAST(cab AS DECIMAL(38,0)) * n"
                " >= CAST(n_a AS DECIMAL(38,0)) * n_b"
                " THEN 1 ELSE -1 END AS BIGINT)"
            ).alias("leverage_sign"),
            F.expr(
                "CAST((1000000000 * abs(CAST(cab AS DECIMAL(38,0)) * n"
                " - CAST(n_a AS DECIMAL(38,0)) * n_b))"
                " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
            ).alias("leverage_abs_ppb"),
            F.expr(
                "CAST(CASE WHEN n_a > cab THEN"
                " (1000000 * CAST(n - n_b AS DECIMAL(38,0)) * n_a)"
                " div (CAST(n AS DECIMAL(38,0)) * (n_a - cab))"
                " ELSE 0 END AS BIGINT)"
            ).alias("conviction_ppm"),
            F.expr(
                "CAST((1000000 * cab) div (n_a + n_b - cab) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.col("n_together").desc(), "part_a", "part_b")
    )
    return release_on_gc(bk, out)


# ---------------------------------------------------------------------------
# orders_sharpe_sortino — risk-adjusted monthly revenue momentum
# ---------------------------------------------------------------------------


@register(
    "orders_sharpe_sortino",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT CAST((1000000 * (x - lag(x) OVER (ORDER BY month)))
                  // lag(x) OVER (ORDER BY month) AS BIGINT) AS ret
      FROM m QUALIFY lag(x) OVER (ORDER BY month) IS NOT NULL
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ret) AS BIGINT) AS s1,
             CAST(sum(CAST(ret AS HUGEINT) * ret) AS HUGEINT) AS s2,
             CAST(sum(CASE WHEN ret < 0
                  THEN CAST(ret AS HUGEINT) * ret ELSE 0 END) AS HUGEINT)
               AS sdown
      FROM r
    )
    SELECT n AS n_returns,
           CAST(s1 // n AS BIGINT) AS mean_ret_ppm,
           CAST(floor(1000.0 * s1 / n
                / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * s1)
                       / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)
             AS sharpe_milli,
           CAST(CASE WHEN sdown > 0 THEN
                floor(1000.0 * s1 / n
                      / sqrt(CAST(sdown AS DOUBLE) / n))
                ELSE 0 END AS BIGINT) AS sortino_milli
    FROM s
    WHERE n > 1
    """,
    doc="Sharpe and Sortino ratios of month-over-month revenue growth: "
    "mean return over total vs DOWNSIDE-only volatility — the risk-"
    "adjusted momentum readout that separates 'volatile because "
    "growing' from 'volatile because erratic' (Sortino ignores upside "
    "variance), complementing the level-based control charts and "
    "orders_monthly_growth's raw MoM series. Returns quantize to "
    "exact integer ppm via one signed floor-division per month (both "
    "engines truncate toward zero identically); the three moment "
    "sums are exact HUGEINT integers over the calendar-bounded "
    "series; each ratio is one fixed-shape floor-quantized double. "
    "One month rollup + one bounded lag window.",
)
def orders_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        m.select("x", F.lag("x").over(w).alias("px"))
        .filter(F.col("px").isNotNull())
        .select(
            F.expr("CAST((1000000 * (x - px)) div px AS BIGINT)").alias(
                "ret"
            )
        )
    )
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ret").cast("bigint").alias("s1"),
        _dsum(F.expr("CAST(ret AS DECIMAL(38,0)) * ret")).alias("s2"),
        _dsum(
            F.expr(
                "CASE WHEN ret < 0 THEN CAST(ret AS DECIMAL(38,0)) * ret"
                " ELSE 0 END"
            )
        ).alias("sdown"),
    )
    return s.filter(F.col("n") > 1).select(
        F.col("n").alias("n_returns"),
        F.expr("CAST(s1 div n AS BIGINT)").alias("mean_ret_ppm"),
        F.expr(
            "CAST(floor(1000.0 * s1 / n"
            " / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
            "         - CAST(s1 AS DOUBLE) * s1)"
            "        / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)"
        ).alias("sharpe_milli"),
        F.expr(
            "CAST(CASE WHEN sdown > 0 THEN"
            " floor(1000.0 * s1 / n / sqrt(CAST(sdown AS DOUBLE) / n))"
            " ELSE 0 END AS BIGINT)"
        ).alias("sortino_milli"),
    )


# ---------------------------------------------------------------------------
# orders_max_drawdown — peak-to-trough decline of the monthly series
# ---------------------------------------------------------------------------


@register(
    "orders_max_drawdown",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT month, x,
             CAST(max(x) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS peak,
             CAST((1000000000 * CAST(max(x) OVER (ORDER BY month ROWS
                   BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - x
                   AS HUGEINT))
                  // max(x) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS dd_ppb
      FROM m
    ),
    best AS (
      SELECT month, x, peak, dd_ppb FROM dd
      ORDER BY dd_ppb DESC, month LIMIT 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_months,
           month AS trough_month, peak AS peak_cents,
           x AS trough_cents, dd_ppb AS max_drawdown_ppb
    FROM best
    """,
    doc="Maximum drawdown of the monthly revenue series: the largest "
    "peak-to-trough decline, found via one running-max window over "
    "the calendar-bounded relation — the path-dependent risk number "
    "beside the distributional ones (orders_sharpe_sortino's "
    "volatility, the control charts' sigma limits): two series with "
    "identical return moments can have very different drawdowns. "
    "Each month's drawdown (peak - x)/peak quantizes to exact "
    "non-negative ppb via one floor-division (peak >= x > 0 by "
    "construction); the argmax ties to the EARLIEST month via "
    "TakeOrderedAndProject. One month rollup + one bounded prefix-"
    "max window.",
)
def orders_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = m.select(
        "month",
        "x",
        F.max("x").over(w).cast("bigint").alias("peak"),
    ).select(
        "month",
        "x",
        "peak",
        F.expr(
            "CAST((1000000000 * CAST(peak - x AS DECIMAL(38,0)))"
            " div peak AS BIGINT)"
        ).alias("dd_ppb"),
    )
    best = dd.orderBy(F.col("dd_ppb").desc(), "month").limit(1)
    cnt = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    return F.broadcast(cnt).crossJoin(best).select(
        "n_months",
        F.col("month").alias("trough_month"),
        F.col("peak").alias("peak_cents"),
        F.col("x").alias("trough_cents"),
        F.col("dd_ppb").alias("max_drawdown_ppb"),
    )


# ---------------------------------------------------------------------------
# orders_segmented_regression — interrupted-time-series slope change
# ---------------------------------------------------------------------------


@register(
    "orders_segmented_regression",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT y, CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS t,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM m
    ),
    seg AS (
      SELECT CASE WHEN t <= (n + 1) // 2 THEN 1 ELSE 2 END AS seg, t, y
      FROM idx
    ),
    s AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS HUGEINT) AS st,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
             CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
      FROM seg GROUP BY 1
    ),
    sl AS (
      SELECT seg, n,
             CAST(CASE WHEN n * sty >= st * sy THEN 1 ELSE -1 END
                  AS BIGINT) AS sign,
             CAST((1000000 * abs(n * sty - st * sy))
                  // greatest(n * stt - st * st, 1) AS BIGINT) AS slope,
             CAST(sy // n AS BIGINT) AS mean_y
      FROM s
    )
    SELECT a.n AS n_pre, b.n AS n_post,
           a.sign AS slope_pre_sign, a.slope AS slope_pre_abs_micro,
           b.sign AS slope_post_sign, b.slope AS slope_post_abs_micro,
           CAST(b.mean_y - a.mean_y AS BIGINT) AS level_shift_cents
    FROM sl a JOIN sl b ON a.seg = 1 AND b.seg = 2
    """,
    doc="Interrupted-time-series (segmented) regression of monthly "
    "revenue with the breakpoint at the series midpoint: per-segment "
    "OLS slopes plus the between-segment level shift — the before/"
    "after trend decomposition behind policy-change readouts, "
    "complementing the single global trend (agg_mann_kendall, "
    "agg_theil_sen) and the changepoint DETECTORS (CUSUM/Pettitt/"
    "SNHT locate the break; this QUANTIFIES the regime change at a "
    "declared break). Each slope is the exact integer ratio "
    "(n Sty - St Sy)/(n Stt - St^2), sign-split to micro; the level "
    "shift is a difference of exact floor-divided segment means. One "
    "month rollup, one bounded row-index window, a 2-row self-join.",
)
def orders_segmented_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    idx = m.select(
        "y",
        F.row_number().over(Window.orderBy("month")).cast("bigint").alias("t"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    seg = idx.select(
        F.expr("CASE WHEN t <= (n + 1) div 2 THEN 1 ELSE 2 END").alias(
            "seg"
        ),
        "t",
        "y",
    )
    s = seg.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("t")).alias("st"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.expr("CAST(t AS DECIMAL(38,0)) * t")).alias("stt"),
        _dsum(F.expr("CAST(t AS DECIMAL(38,0)) * y")).alias("sty"),
    )
    sl = s.select(
        "seg",
        "n",
        F.expr(
            "CAST(CASE WHEN n * sty >= st * sy THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("sign"),
        F.expr(
            "CAST((1000000 * abs(n * sty - st * sy))"
            " div greatest(n * stt - st * st, 1) AS BIGINT)"
        ).alias("slope"),
        F.expr("CAST(sy div n AS BIGINT)").alias("mean_y"),
    )
    a = sl.filter(F.col("seg") == 1).select(
        F.col("n").alias("n_pre"),
        F.col("sign").alias("slope_pre_sign"),
        F.col("slope").alias("slope_pre_abs_micro"),
        F.col("mean_y").alias("mean_pre"),
    )
    b = sl.filter(F.col("seg") == 2).select(
        F.col("n").alias("n_post"),
        F.col("sign").alias("slope_post_sign"),
        F.col("slope").alias("slope_post_abs_micro"),
        F.col("mean_y").alias("mean_post"),
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_pre",
        "n_post",
        "slope_pre_sign",
        "slope_pre_abs_micro",
        "slope_post_sign",
        "slope_post_abs_micro",
        (F.col("mean_post") - F.col("mean_pre"))
        .cast("bigint")
        .alias("level_shift_cents"),
    )


# ---------------------------------------------------------------------------
# orders_siegel_repeated_median — 50%-breakdown robust trend slope
# ---------------------------------------------------------------------------


@register(
    "orders_siegel_repeated_median",
    oracle="""
    WITH m AS (
      SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y,
             CAST(row_number() OVER (ORDER BY date_trunc('month',
                  o_orderdate)) AS BIGINT) AS t
      FROM orders GROUP BY date_trunc('month', o_orderdate)
    ),
    sl AS (
      SELECT a.t AS i,
             CAST((1000000 * (b.y - a.y)) // (b.t - a.t) AS BIGINT) AS s
      FROM m a JOIN m b ON a.t <> b.t
    ),
    permed AS (
      SELECT i,
             CAST((max(CASE WHEN r = (k + 1) // 2 THEN s END)
                   + max(CASE WHEN r = k // 2 + 1 THEN s END)) // 2
                  AS BIGINT) AS med_i
      FROM (
        SELECT i, s,
               CAST(row_number() OVER (PARTITION BY i ORDER BY s)
                    AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY i) AS BIGINT) AS k
        FROM sl
      ) GROUP BY i
    ),
    fin AS (
      SELECT med_i,
             CAST(row_number() OVER (ORDER BY med_i) AS BIGINT) AS r,
             CAST(count(*) OVER () AS BIGINT) AS k
      FROM permed
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_months,
           CAST((max(CASE WHEN r = (k + 1) // 2 THEN med_i END)
                 + max(CASE WHEN r = k // 2 + 1 THEN med_i END)) // 2
                AS BIGINT) AS siegel_slope_micro
    FROM fin
    """,
    doc="Siegel repeated-median slope of the monthly revenue trend: "
    "median_i(median_j((y_j - y_i)/(t_j - t_i))) — the 50%-breakdown "
    "robust regression, strictly tougher than Theil-Sen's single "
    "median over all pairs (29% breakdown, agg_theil_sen): half the "
    "MONTHS can be corrupted before the slope moves. Pairwise slopes "
    "quantize to exact integer micro-cents/month via one signed "
    "floor-division each (both engines truncate toward zero "
    "identically); the inner per-i medians and the outer median are "
    "doubled-median selections over the quantized integers, decided "
    "by bounded rank windows on the <= 84^2 pair relation. One month "
    "rollup; everything downstream calendar-bounded.",
)
def orders_siegel_repeated_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mo")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    ).select(
        "y",
        F.row_number().over(Window.orderBy("mo")).cast("bigint").alias("t"),
    )
    a = m.select(F.col("t").alias("i"), F.col("y").alias("yi"))
    b = m.select(F.col("t").alias("j"), F.col("y").alias("yj"))
    sl = a.join(b, F.col("i") != F.col("j")).select(
        "i",
        F.expr(
            "CAST((1000000 * (yj - yi)) div (j - i) AS BIGINT)"
        ).alias("s"),
    )
    ranked = sl.select(
        "i",
        "s",
        F.row_number()
        .over(Window.partitionBy("i").orderBy("s"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("i"))
        .cast("bigint")
        .alias("k"),
    )
    permed = ranked.groupBy("i").agg(
        F.expr(
            "CAST((max(CASE WHEN r = (k + 1) div 2 THEN s END)"
            " + max(CASE WHEN r = k div 2 + 1 THEN s END)) div 2"
            " AS BIGINT)"
        ).alias("med_i")
    )
    fin = permed.select(
        "med_i",
        F.row_number()
        .over(Window.orderBy("med_i"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("k"),
    )
    cnt = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    out = fin.agg(
        F.expr(
            "CAST((max(CASE WHEN r = (k + 1) div 2 THEN med_i END)"
            " + max(CASE WHEN r = k div 2 + 1 THEN med_i END)) div 2"
            " AS BIGINT)"
        ).alias("siegel_slope_micro")
    )
    return F.broadcast(cnt).crossJoin(out).select(
        "n_months", "siegel_slope_micro"
    )


# ---------------------------------------------------------------------------
# orders_benford_second_digit — second-digit Benford conformity audit
# ---------------------------------------------------------------------------

# P(second digit = d) = sum_k log10(1 + 1/(10k+d)), nano-quantized literals
_BENF2 = (
    "[119679268, 113890103, 108821499, 104329560, 100308202, 96677235,"
    " 93374735, 90351989, 87570053, 84997352]"
)


@register(
    "orders_benford_second_digit",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
      WHERE round(o_totalprice * 100) >= 10
    ),
    dg AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 2, 1) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS o
      FROM v GROUP BY 1
    ),
    t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM dg)
    SELECT dg.d AS second_digit, dg.o AS observed,
           CAST(({_BENF2})[dg.d + 1] AS BIGINT) AS expected_nano,
           CAST((1000000 * dg.o) // t.n AS BIGINT) AS observed_ppm,
           CAST(floor(1000000.0
                * (CAST(dg.o AS DOUBLE) * 1000000000 - CAST(t.n AS DOUBLE)
                   * ({_BENF2})[dg.d + 1])
                * (CAST(dg.o AS DOUBLE) * 1000000000 - CAST(t.n AS DOUBLE)
                   * ({_BENF2})[dg.d + 1])
                / (CAST(t.n AS DOUBLE) * ({_BENF2})[dg.d + 1]
                   * 1000000000.0)) AS BIGINT) AS chi2_term_micro
    FROM dg, t
    ORDER BY second_digit
    """,
    doc="Second-digit Benford conformity of order values in cents: the "
    "standard forensic ESCALATION after the first-digit screen "
    "(agg_benford_test) — second digits flag rounding manipulation "
    "and invented figures the first digit smooths over, with the "
    "flatter expected law P(d) = sum_k log10(1+1/(10k+d)) embedded "
    "as ten shared nano-unit LITERALS (no log at query time). Digits "
    "come from integer string formatting (portable, sign-free on "
    "positive cents); per-digit chi-square contributions are "
    "fixed-shape floor-quantized doubles over exact integers. One "
    "10-cell map-side rollup + 1-row total broadcast; no windows.",
)
def orders_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    ).filter(F.col("c") >= 10)
    dg = v.groupBy(
        F.expr("CAST(substr(CAST(c AS STRING), 2, 1) AS BIGINT)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    t = dg.agg(F.sum("o").cast("bigint").alias("n"))
    arr = "array" + _BENF2.replace("[", "(").replace("]", ")")
    return (
        dg.crossJoin(F.broadcast(t))
        .select(
            F.col("d").alias("second_digit"),
            F.col("o").alias("observed"),
            F.expr(f"CAST(element_at({arr}, CAST(d + 1 AS INT)) AS BIGINT)")
            .alias("expected_nano"),
            F.expr("CAST((1000000 * o) div n AS BIGINT)").alias(
                "observed_ppm"
            ),
            F.expr(
                f"CAST(floor(1000000.0"
                f" * (CAST(o AS DOUBLE) * 1000000000 - CAST(n AS DOUBLE)"
                f"    * element_at({arr}, CAST(d + 1 AS INT)))"
                f" * (CAST(o AS DOUBLE) * 1000000000 - CAST(n AS DOUBLE)"
                f"    * element_at({arr}, CAST(d + 1 AS INT)))"
                f" / (CAST(n AS DOUBLE) * element_at({arr},"
                f"    CAST(d + 1 AS INT)) * 1000000000.0)) AS BIGINT)"
            ).alias("chi2_term_micro"),
        )
        .orderBy("second_digit")
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
