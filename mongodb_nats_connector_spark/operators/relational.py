"""Batch relational operator surface (SURVEY.md §2.3).

Every query here is declared with the DataFrame API and left to Catalyst for
physical planning: filters/projections push into the parquet scan, dimension
joins broadcast (autoBroadcastJoinThreshold covers every dim table at bench
scale), fact-fact joins shuffle on their keys with AQE handling skew, and
aggregations run partial (map-side) before the exchange. Nothing below
collects to the driver; everything scales by adding executors.

Determinism for the oracle comparison: double-valued aggregates are rounded
(2 decimals for money sums, 4 for unit-scale values) on BOTH sides, because
floating-point summation order differs between engines; DuckDB integer SUM
returns HUGEINT so oracles cast to BIGINT to match Spark's long.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongodb_nats_connector_spark.plans.caching import persist_until_collected
from mongodb_nats_connector_spark.plans.hints import maybe_broadcast
from mongodb_nats_connector_spark.plans.ranking import (
    ntile_from_rank,
    two_pass_global_rank,
)
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# ---------------------------------------------------------------------------
# Aggregation: hash agg with group-by, partial aggregation map-side.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-08-06'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: scan+filter -> partial hash agg -> final agg.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-08-06").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_global",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           round(sum(l_extendedprice), 2) AS total_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(avg(l_quantity), 4) AS avg_qty
    FROM lineitem
    """,
    doc="Global (no group-by) aggregate over the fact table.",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


@register(
    "agg_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="DISTINCT projection (shuffle on the distinct key set).",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Grouped exact count-distinct (expand+two-phase agg under the hood).",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # HLL sketch values are engine-specific: rows-only check
    doc="approx_count_distinct (HyperLogLog++): the scale path for distinct "
    "counts — no expand, one pass, mergeable sketches.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"))
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (grouping-set expansion).",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS via the SQL API.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Filter / projection
# ---------------------------------------------------------------------------


@register(
    "filter_predicates",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority, round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_totalprice BETWEEN 1000 AND 50000
      AND o_orderstatus IN ('F', 'O')
      AND o_orderpriority LIKE '%URGENT'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_custkey IS NOT NULL
    """,
    doc="Comparison/BETWEEN/IN/LIKE/null-test predicates; all push into the "
    "parquet scan (PushedFilters).",
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice").between(1000, 50000))
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .filter(F.col("o_orderpriority").like("%URGENT"))
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .filter(F.col("o_custkey").isNotNull())
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("total"),
        )
    )


@register(
    "projection_computed",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue,
           upper(l_returnflag || '-' || l_linestatus)   AS status_code,
           CAST(l_quantity >= 25 AS BOOLEAN)            AS is_bulk
    FROM lineitem WHERE l_linenumber <= 2
    """,
    doc="Computed columns / rename / boolean expressions; column pruning "
    "keeps the scan at 7 of 11 columns.",
)
def projection_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        F.upper(F.concat_ws("-", "l_returnflag", "l_linestatus")).alias("status_code"),
        (F.col("l_quantity") >= 25).alias("is_bulk"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_inner",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Inner equi-join fact->dim; customer broadcasts (checked in tests).",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_left",
    oracle="""
    SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="Left outer join preserving customers with zero orders.",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spend"),
        )
    )


@register(
    "join_right",
    oracle="""
    SELECT n_name, CAST(count(s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="Right outer join: every nation kept even with no suppliers.",
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "join_full_outer",
    oracle="""
    WITH co AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
         su AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(co.nk, su.nk) AS nationkey,
           CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
           CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
    FROM co FULL OUTER JOIN su ON co.nk = su.nk
    """,
    doc="Full outer join of two aggregates on nationkey.",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "nk", "full_outer").select(
        F.coalesce(c.nk, s.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    doc="Left-semi join: customers having >=1 urgent order (no row "
    "multiplication, build side only carries the key).",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left-anti join: customers with no orders at all.",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3: 3-way join (dim broadcast, fact-fact shuffle on orderkey) "
    "-> agg -> global top-10 (partial top-k per partition, then merge).",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="TPC-H Q5: 6-table join; region/nation/supplier/customer broadcast, "
    "orders-lineitem shuffles once on orderkey.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            maybe_broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


@register(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_close_customers
    FROM supplier JOIN customer
      ON c_nationkey = s_nationkey
     AND c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
    GROUP BY s_suppkey
    """,
    doc="Range (theta) join: equi part on nationkey keeps it a hash join "
    "with the band predicate as a post-filter — the scalable plan shape.",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (c.c_nationkey == s.s_nationkey)
            & (c.c_acctbal >= s.s_acctbal - 100)
            & (c.c_acctbal <= s.s_acctbal + 100),
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_close_customers"))
    )


@register(
    "join_asof",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'signup' THEN ts END AS signup_ts,
             event_type
      FROM events WHERE event_type IN ('signup', 'purchase')
        AND ts IS NOT NULL
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             max(signup_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_signup_ts
      FROM tagged
    )
    SELECT event_id, user_id, ts, last_signup_ts
    FROM filled WHERE event_type = 'purchase'
    """,
    doc="As-of join (purchase -> most recent signup per user) via the "
    "union+last_value window trick: one shuffle on user_id, no per-row "
    "backward scan; scales linearly unlike a naive range self-join. "
    "NULL-ts rows are filtered on both engines (Spark NULLS FIRST asc vs "
    "DuckDB LAST would place them at opposite partition ends).",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase") & F.col("ts").isNotNull()
    )
    tagged = ev.withColumn(
        "signup_ts", F.when(F.col("event_type") == "signup", F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("last_signup_ts", F.max("signup_ts").over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_signup_ts")
    )


@register(
    "join_asof_forward",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'signup' THEN ts END AS signup_ts,
             event_type
      FROM events WHERE event_type IN ('signup', 'purchase')
        AND ts IS NOT NULL
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             min(signup_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_signup_ts
      FROM tagged
    )
    SELECT event_id, user_id, ts, next_signup_ts
    FROM filled WHERE event_type = 'purchase'
    """,
    doc="Forward as-of join (purchase -> EARLIEST signup at-or-after it per "
    "user) — completes the asof quartet (backward / +tolerance / nearest / "
    "forward, kdb aj directions). Identical plan shape to join_asof with "
    "the frame mirrored: the running-min rides the SAME user_id shuffle "
    "and sort (Spark reuses the ordering for the mirrored frame), so it "
    "stays one exchange and linear at any scale.",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts guard on both engines (cross-engine NULL ordering differs).
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase") & F.col("ts").isNotNull()
    )
    tagged = ev.withColumn(
        "signup_ts", F.when(F.col("event_type") == "signup", F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        tagged.withColumn("next_signup_ts", F.min("signup_ts").over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "next_signup_ts")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_rank_topk",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             CAST(rank()       OVER w AS BIGINT) AS rnk,
             CAST(dense_rank() OVER w AS BIGINT) AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
    doc="Top-3 orders per customer: row_number/rank/dense_rank over a "
    "partitioned window (single shuffle on o_custkey).",
)
def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_ntile",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(ntile(4) OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS wealth_quartile
    FROM customer
    """,
    doc="ntile quartiles per nation.",
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("bigint").alias("wealth_quartile"),
    )


@register(
    "window_cume_dist",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(row_number() OVER w AS DOUBLE) / CAST(cnt AS DOUBLE)
             AS cume_dist,
           CASE WHEN cnt = 1 THEN 0.0
                ELSE CAST(row_number() OVER w - 1 AS DOUBLE)
                     / CAST(cnt - 1 AS DOUBLE) END AS pct_rank
    FROM (SELECT *, count(*) OVER (PARTITION BY c_nationkey) AS cnt
          FROM customer)
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    doc="cume_dist / percent_rank per nation ordered by account balance — "
    "the distribution-position windows that complete the ranking family "
    "(row_number/rank/dense_rank/ntile are registered separately). One "
    "shuffle on the partition key; both functions ride one sort. The "
    "fractions are computed as exact integer row_number/count with ONE "
    "IEEE division (c_custkey tie-break makes the order unique, so "
    "row_number = rank = peer-inclusive position): correctly-rounded "
    "division of identical integers is bit-identical across engines, "
    "unlike the builtins' internal float paths (1-ulp divergence measured "
    "at sf0.1).",
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    cnt = F.count(F.lit(1)).over(Window.partitionBy("c_nationkey"))
    rn = F.row_number().over(w)
    return c.select(
        "c_custkey",
        "c_nationkey",
        (rn.cast("double") / cnt.cast("double")).alias("cume_dist"),
        F.when(cnt == 1, F.lit(0.0))
        .otherwise((rn - 1).cast("double") / (cnt - 1).cast("double"))
        .alias("pct_rank"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, round(value, 2) AS value,
           round(lag(value)  OVER w, 2) AS prev_value,
           round(lead(value) OVER w, 2) AS next_value,
           round(first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW), 2) AS first_value
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="lag/lead/first_value analytics per user ordered by event time. "
    "NULL-ts rows are filtered on both engines (Spark orders NULLs first, "
    "DuckDB last — lag/lead neighbors would differ).",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
        F.round(F.lead("value").over(w), 2).alias("next_value"),
        F.round(F.first("value").over(wf), 2).alias("first_value"),
    )


@register(
    "window_rows_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW), 2) AS running_spend,
           round(avg(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN 2 PRECEDING
                                         AND CURRENT ROW), 4) AS moving_avg_3
    FROM orders WHERE o_orderdate IS NOT NULL
    """,
    doc="ROWS frames: running sum + 3-row moving average per customer. "
    "NULL order dates are filtered on both engines (Spark orders NULLs "
    "first, DuckDB last — every running value after a NULL row would "
    "differ).",
)
def window_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = base.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_spend"),
        F.round(F.avg("o_totalprice").over(moving), 4).alias("moving_avg_3"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total,
           count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                          RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1000
    FROM orders
    """,
    doc="RANGE frame on a numeric ordering (value-based, deterministic "
    "under ties unlike ROWS).",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice").rangeBetween(-1000, 0)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total"),
        F.count(F.lit(1)).over(w).alias("n_within_1000"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set operations
# ---------------------------------------------------------------------------


@register(
    "sort_multi_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, round(l_extendedprice, 2) AS price
    FROM lineitem
    ORDER BY l_returnflag ASC, price DESC, l_orderkey ASC, l_linenumber ASC
    LIMIT 100
    """,
    doc="Multi-key sort + limit: Spark runs TakeOrderedAndProject (per-"
    "partition top-k then merge — no global sort materialization).",
)
def sort_multi_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round("l_extendedprice", 2).alias("price"),
        )
        .orderBy(
            F.asc("l_returnflag"), F.desc("price"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(100)
    )


@register(
    "set_union_all",
    oracle="""
    SELECT c_custkey AS custkey, 'BUILDING' AS segment FROM customer
     WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey AS custkey, 'MACHINERY' AS segment FROM customer
     WHERE c_mktsegment = 'MACHINERY'
    """,
    doc="UNION ALL (no dedup shuffle).",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey"), F.lit("BUILDING").alias("segment")
    )
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey"), F.lit("MACHINERY").alias("segment")
    )
    return a.unionAll(b)


@register(
    "set_union_distinct",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="UNION DISTINCT (dedup across branches).",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.union(b).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    doc="INTERSECT: customers with both finished and open orders.",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
    doc="EXCEPT (distinct): customer keys never appearing in orders.",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.subtract(o)  # SQL EXCEPT: distinct left rows not present in right


# ---------------------------------------------------------------------------
# Scalar function library
# ---------------------------------------------------------------------------


@register(
    "scalar_string",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                          AS name_upper,
           lower(c_mktsegment)                    AS seg_lower,
           substr(c_name, 1, 8)                   AS name_prefix,
           trim('  ' || c_name || ' ')            AS name_trimmed,
           c_name || '/' || c_mktsegment          AS name_seg,
           regexp_extract(c_name, '([0-9]+)', 1)  AS name_num,
           CAST(length(c_name) AS INT)            AS name_len,
           CAST(len(string_split(c_name, '_')) AS INT) AS n_parts
    FROM customer
    """,
    doc="String functions: upper/lower/substr/trim/concat/regexp_extract/"
    "length/split — all JVM-side, whole-stage codegen.",
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))).alias("name_trimmed"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_num"),
        F.length("c_name").alias("name_len"),
        F.size(F.split("c_name", "_")).alias("n_parts"),
    )


@register(
    "scalar_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)     AS order_year,
           CAST(month(o_orderdate) AS INT)    AS order_month,
           CAST(day(o_orderdate) AS INT)      AS order_day,
           CAST(quarter(o_orderdate) AS INT)  AS order_quarter,
           date_trunc('month', o_orderdate)   AS month_start,
           o_orderdate + INTERVAL 30 DAY      AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_epoch_start
    FROM orders WHERE o_orderkey <= 5000
    """,
    doc="Date/time functions: year/month/day/quarter/date_trunc/date_add/"
    "datediff.",
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("days_since_epoch_start"),
    )


@register(
    "scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1)                         AS price_r1,
           round(abs(l_discount - 0.05), 4)                  AS disc_dev,
           CAST(floor(l_quantity) AS BIGINT)                 AS qty_floor,
           CAST(ceil(l_quantity / 10) AS BIGINT)             AS qty_decile_ceil,
           round(pow(l_quantity, 2), 4)                      AS qty_sq,
           round(ln(l_extendedprice + 1), 6)                 AS log_price,
           round(sqrt(l_quantity), 6)                        AS qty_sqrt,
           CAST(l_orderkey % 7 AS BIGINT)                    AS key_mod7
    FROM lineitem WHERE l_orderkey <= 2000
    """,
    doc="Math functions: round/abs/floor/ceil/pow/ln/sqrt/mod.",
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil(F.col("l_quantity") / 10).alias("qty_decile_ceil"),
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
    )


@register(
    "scalar_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 100000 THEN 'high'
                WHEN o_totalprice >= 10000  THEN 'mid'
                ELSE 'low' END               AS price_band,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
           CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
                THEN 1 ELSE 0 END            AS is_priority
    FROM orders
    """,
    doc="Conditional expressions: CASE WHEN / coalesce / nullif.",
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 100000, "high")
        .when(F.col("o_totalprice") >= 10000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
        F.when(
            F.col("o_orderpriority").like("1%") | F.col("o_orderpriority").like("2%"), 1
        )
        .otherwise(0)
        .alias("is_priority"),
    )


@register(
    "scalar_json",
    oracle="""
    SELECT CAST(props->>'$.k' AS INT) AS prop_k,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY prop_k
    """,
    doc="JSON extraction (get_json_object) on the schemaless props column — "
    "the Spark analogue of the reference's opaque fullDocument payload "
    "(internal/mongo/client.go:222).",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.withColumn("prop_k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("prop_k")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "scalar_array",
    oracle="""
    SELECT w AS word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE w <> ''
    GROUP BY w
    ORDER BY n DESC, word
    LIMIT 50
    """,
    doc="Array functions: split + explode + aggregate (word counts top-50).",
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
    )


@register(
    "scalar_map_struct",
    oracle="""
    SELECT doc_id, lang,
           CAST(length(text) AS BIGINT)  AS text_len,
           CAST(contains(text, 'spark') AS BOOLEAN) AS mentions_spark,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           string_split(text, ' ')[1]    AS first_word
    FROM documents
    """,
    doc="Array element access / contains / size on split text.",
)
def scalar_map_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("text_len"),
        F.col("text").contains("spark").alias("mentions_spark"),
        F.size(words).alias("n_words"),
        F.element_at(words, 1).alias("first_word"),
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot
# ---------------------------------------------------------------------------


@register(
    "agg_pivot",
    oracle="""
    SELECT o_orderstatus,
           count(*) FILTER (o_orderpriority = '1-URGENT')        AS urgent,
           count(*) FILTER (o_orderpriority = '2-HIGH')          AS high,
           count(*) FILTER (o_orderpriority = '3-MEDIUM')        AS medium,
           count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS notspec,
           count(*) FILTER (o_orderpriority = '5-LOW')           AS low
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Pivot with an explicit value list (explicit values keep the plan a "
    "single pass; omitting them costs an extra distinct scan).",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
        .withColumnsRenamed(
            {
                "1-URGENT": "urgent",
                "2-HIGH": "high",
                "3-MEDIUM": "medium",
                "4-NOT SPECIFIED": "notspec",
                "5-LOW": "low",
            }
        )
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT c_custkey, metric, round(val, 2) AS val
    FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val
      FROM customer
    )
    """,
    doc="Unpivot (melt) via the stack/unpivot operator: wide -> long.",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return c.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "v").select(
        "c_custkey", "metric", F.round("v", 2).alias("val")
    )


# ---------------------------------------------------------------------------
# Statistical / ordered-set aggregates
# ---------------------------------------------------------------------------


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact percentiles (interpolated): Spark `percentile` == DuckDB "
    "quantile_cont. All three quantiles come from ONE array-argument "
    "percentile aggregate — a single per-group value-count map instead "
    "of three independent ones (same sorted counts, same interpolation "
    "routine per fraction: identical doubles). percentile_approx is the "
    "at-scale variant (see agg_approx_quantile).",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (VERDICT r14 item 4): the array-argument exact percentile still
    # funneled a value->count map of every distinct price (97% distinct)
    # through one reducer per group — §2.2. The shared two-pass range
    # selection (plans/selection.py) extracts only the six rank-neighbor
    # values per group and replays Percentile's interpolation in
    # bit-identical IEEE doubles (property-pinned); the 3-row result is
    # emitted directly, with the final round(_,4) still evaluated by
    # Spark on the literal values.
    from pyspark.sql import types as T

    from mongodb_nats_connector_spark.plans.selection import (
        percentile_ranks,
        selected_order_stats,
        spark_percentile_replay,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    fr = [0.5, 0.95, 0.99]
    stats = selected_order_stats(
        li, "l_extendedprice", lambda m: percentile_ranks(m, fr),
        ["l_returnflag"],
    )
    rows = [
        (k[0], *[spark_percentile_replay(n, at, p) for p in fr])
        for k, (n, at) in sorted(stats.items())
    ]
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("_p50", T.DoubleType(), True),
            T.StructField("_p95", T.DoubleType(), True),
            T.StructField("_p99", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema).select(
        "l_returnflag",
        F.round("_p50", 4).alias("p50"),
        F.round("_p95", 4).alias("p95"),
        F.round("_p99", 4).alias("p99"),
    )


@register(
    "agg_approx_quantile",
    oracle=None,  # sketch-based; engine-specific values -> rows-only
    doc="approx_percentile (t-digest-style sketch): one pass, mergeable — "
    "the 100 TB path where exact percentile's full sort is unaffordable.",
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("p50_approx")
    )


@register(
    "agg_stats",
    oracle="""
    SELECT o_orderstatus,
           round(stddev_samp(o_totalprice), 4)             AS price_sd,
           round(var_samp(o_totalprice), 2)                AS price_var,
           round(corr(o_totalprice, o_custkey), 6)         AS price_cust_corr,
           round(covar_samp(o_totalprice, o_custkey), 2)   AS price_cust_cov
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Statistical aggregates: stddev/variance/correlation/covariance.",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("price_sd"),
        F.round(F.var_samp("o_totalprice"), 2).alias("price_var"),
        F.round(F.corr("o_totalprice", "o_custkey"), 6).alias("price_cust_corr"),
        F.round(F.covar_samp("o_totalprice", "o_custkey"), 2).alias("price_cust_cov"),
    )


@register(
    "agg_minby_collect",
    oracle="""
    SELECT c_nationkey,
           min_by(c_name, c_acctbal)                AS poorest_customer,
           max_by(c_name, c_acctbal)                AS richest_customer,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
                                                    AS segments
    FROM customer GROUP BY c_nationkey
    """,
    doc="min_by/max_by (argmin/argmax) + deterministic collect_set "
    "(sort_array'd, then joined to a string: the driver's comparator "
    "cannot hash list-typed cells, so oracle queries emit scalars only).",
)
def agg_minby_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.min_by("c_name", "c_acctbal").alias("poorest_customer"),
        F.max_by("c_name", "c_acctbal").alias("richest_customer"),
        F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias(
            "segments"
        ),
    )


# ---------------------------------------------------------------------------
# Extended scalar library
# ---------------------------------------------------------------------------


@register(
    "scalar_string_extra",
    oracle="""
    SELECT n_nationkey,
           lpad(n_name, 12, '*')        AS name_lpad,
           rpad(n_name, 12, '.')        AS name_rpad,
           reverse(n_name)              AS name_rev,
           replace(n_name, '_', '-')    AS name_dash,
           left(n_name, 3)              AS name_left,
           CAST(strpos(n_name, '_') AS INT)  AS underscore_pos,
           repeat('ab', 3)              AS repeated
    FROM nation
    """,
    doc="More string functions: lpad/rpad/reverse/replace/left/instr/repeat.",
)
def scalar_string_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.lpad("n_name", 12, "*").alias("name_lpad"),
        F.rpad("n_name", 12, ".").alias("name_rpad"),
        F.reverse("n_name").alias("name_rev"),
        F.replace(F.col("n_name"), F.lit("_"), F.lit("-")).alias("name_dash"),
        F.substring("n_name", 1, 3).alias("name_left"),
        F.instr("n_name", "_").alias("underscore_pos"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
    )


@register(
    "scalar_date_extra",
    oracle="""
    SELECT o_orderkey,
           last_day(o_orderdate)                                   AS month_end,
           o_orderdate + INTERVAL 3 MONTH                          AS plus_3_months,
           CAST(dayofweek(o_orderdate) + 1 AS INT)                 AS dow,
           CAST(weekofyear(o_orderdate) AS INT)                    AS week,
           CAST(epoch(o_orderdate) AS BIGINT)                      AS epoch_s,
           strftime(o_orderdate, '%Y-%m')                          AS ym
    FROM orders WHERE o_orderkey <= 3000
    """,
    doc="More date functions: last_day/add_months/dayofweek/weekofyear/"
    "unix_timestamp/date_format.",
)
def scalar_date_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    return o.select(
        "o_orderkey",
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.add_months("o_orderdate", 3).cast("timestamp").alias("plus_3_months"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.weekofyear("o_orderdate").alias("week"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


@register(
    "scalar_explode_variants",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE doc_id < 50
    )
    SELECT doc_id, CAST(pos AS INT) AS pos, word
    FROM (
      SELECT doc_id, generate_subscripts(words, 1) - 1 AS pos,
             unnest(words) AS word
      FROM base
    )
    """,
    doc="posexplode: element + ordinal position (ordinal preserved across "
    "the lateral view).",
)
def scalar_explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )


# ---------------------------------------------------------------------------
# Skew-mitigation patterns (the 100 TB moves, demonstrated and oracle-checked)
# ---------------------------------------------------------------------------


@register(
    "join_skew_salted",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Salted shuffle join: the fact side gets salt = hash(key) % S, the "
    "dim side is replicated S ways, and the join key becomes (key, salt) — "
    "a hot key's rows land on S reducers instead of one. Forced to a "
    "shuffle join (broadcast would hide the point); result is provably "
    "identical to the plain join. At 100 TB this is the manual fallback "
    "when AQE skew-join splitting can't help (e.g. skewed build side).",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salt = 8
    o = table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salt)).cast("int")
    )
    salts = spark.range(n_salt).select(F.col("id").cast("int").alias("salt"))
    c = table(spark, sf_dir, "customer").crossJoin(salts)
    joined = o.hint("shuffle_hash").join(
        c,
        (F.col("o_custkey") == F.col("c_custkey")) & (o["salt"] == c["salt"]),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "agg_skew_twophase",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Two-phase (salted) aggregation for skewed group keys: phase 1 "
    "aggregates on (key, salt) spreading each hot key over S reducers, "
    "phase 2 merges the S partials per key. sum/count re-aggregate "
    "losslessly, so the result equals the direct groupBy. The pattern to "
    "reach for when one group holds 30% of a 100 TB table.",
)
def agg_skew_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salt = 8
    o = table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salt))
    )
    partial = o.groupBy("o_orderstatus", "salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("o_totalprice").alias("psum")
    )
    return partial.groupBy("o_orderstatus").agg(
        F.sum("pn").alias("n"), F.round(F.sum("psum"), 2).alias("total")
    )


@register(
    "scalar_array_hof",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id < 100
    )
    SELECT vec_id,
           round(list_aggregate(v, 'sum'), 6)                    AS vsum,
           round(list_aggregate(list_transform(v, x -> x * x), 'sum'), 6)
                                                                 AS vsumsq,
           CAST(len(list_filter(v, x -> x > 0)) AS INT)          AS n_pos,
           round(list_aggregate(list_transform(list_zip(v, list_reverse(v)),
                 p -> p[1] * p[2]), 'sum'), 6)                   AS rev_dot
    FROM e
    """,
    doc="Higher-order array functions (the JVM-side path for array math): "
    "aggregate (fold), transform (map), filter, zip_with — sum, sum of "
    "squares, positive count, and a reversed self-dot-product per vector.",
)
def scalar_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.round(fold(F.col("v")), 6).alias("vsum"),
        F.round(fold(F.transform(F.col("v"), lambda x: x * x)), 6).alias("vsumsq"),
        F.size(F.filter(F.col("v"), lambda x: x > 0)).alias("n_pos"),
        F.round(
            fold(F.zip_with(F.col("v"), F.reverse(F.col("v")), lambda a, b: a * b)), 6
        ).alias("rev_dot"),
    )


@register(
    "window_dist",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6)    AS cume
    FROM orders
    WHERE o_orderkey <= 2000
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Distribution window functions: percent_rank and cume_dist "
    "(deterministic ordering via the orderkey tie-break).",
)
def window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "scalar_bitwise",
    oracle="""
    SELECT l_orderkey,
           l_orderkey & 255                          AS low_byte,
           l_orderkey | 4096                         AS with_flag,
           xor(l_orderkey, l_partkey)                AS key_xor,
           CAST(bit_count(l_orderkey) AS INT)        AS popcount,
           l_orderkey << 2                           AS shl,
           l_orderkey >> 3                           AS shr
    FROM lineitem WHERE l_orderkey <= 500
    """,
    doc="Bitwise scalar functions: and/or/xor/popcount/shifts.",
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    k = F.col("l_orderkey")
    return li.select(
        "l_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.col("l_partkey")).alias("key_xor"),
        F.bit_count(k).alias("popcount"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
    )


@register(
    "join_exists_subquery",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    """,
    doc="Correlated EXISTS / NOT EXISTS subqueries through the SQL entry "
    "point — Catalyst rewrites them to left-semi + left-anti joins (the "
    "same plan as join_semi/join_anti; asserted by the plan lint).",
)
def join_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM v_orders o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        """
    )


@register(
    "agg_mode_median",
    oracle="""
    SELECT l_returnflag,
           round(median(l_quantity), 4) AS med_qty,
           CAST(mode(l_linestatus ORDER BY l_linestatus) AS STRING) AS status_mode
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="median (exact interpolated) and deterministic mode per group.",
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.mode("l_linestatus", True).alias("status_mode"),
    )


@register(
    "agg_string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
    doc="Ordered string aggregation (listagg): sort_array(collect_list) + "
    "concat_ws — deterministic order makes it oracle-comparable.",
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
    )


@register(
    "agg_regression",
    oracle="""
    SELECT o_orderstatus,
           round(regr_slope(o_totalprice, o_custkey), 8)     AS slope,
           round(regr_intercept(o_totalprice, o_custkey), 4) AS intercept,
           round(regr_r2(o_totalprice, o_custkey), 8)        AS r2,
           CAST(regr_count(o_totalprice, o_custkey) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Linear-regression aggregates (regr_slope/intercept/r2/count) — "
    "single-pass, map-side combinable.",
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.regr_slope("o_totalprice", "o_custkey"), 8).alias("slope"),
        F.round(F.regr_intercept("o_totalprice", "o_custkey"), 4).alias("intercept"),
        F.round(F.regr_r2("o_totalprice", "o_custkey"), 8).alias("r2"),
        F.regr_count("o_totalprice", "o_custkey").cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# Additional TPC-H-shaped queries (adapted to the driver's column subset)
# ---------------------------------------------------------------------------


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (order priority checking): date-windowed orders with "
    "a correlated EXISTS on lineitem -> left-semi join, grouped count.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): fact-fact join on the "
    "order key, broadcast dims (customer at this SF, nation always), "
    "top-20 by revenue via TakeOrderedAndProject.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(rev, 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
    doc="TPC-H Q14 shape (promotion effect): month-windowed lineitem joined "
    "to part (broadcast at this SF; co-partitioned on partkey at 100 TB), "
    "conditional-sum ratio.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(F.lit(0.0))
    return (
        li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(F.round(100.0 * F.sum(promo) / F.sum(disc), 4).alias("promo_revenue_pct"))
    )


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 210
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    doc="TPC-H Q18 shape (large-volume customers): HAVING-filtered "
    "aggregation produces the key set, IN-subquery -> left-semi join "
    "prunes the fact table before the final join+agg.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("sq")).filter(
        F.col("sq") > 210
    )
    o = table(spark, sf_dir, "orders").join(
        big.select("l_orderkey"),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left_semi",
    )
    c = table(spark, sf_dir, "customer")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@register(
    "q19_disjunctive_pred",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 21)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 45
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
    doc="TPC-H Q19 shape (discounted revenue): disjunctive multi-attribute "
    "predicate across both join sides — Catalyst extracts the common "
    "equi-key so it stays a hash join with the OR as a post-filter.",
)
def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(maybe_broadcast(p), p["p_partkey"] == li["l_partkey"])
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 30)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 45)
           & F.col("l_quantity").between(20, 50))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@register(
    "q22_no_order_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey, count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 250000)
    GROUP BY c.c_nationkey
    """,
    doc="TPC-H Q22 shape (global sales opportunity): scalar-subquery "
    "threshold (1-row broadcast) + NOT EXISTS -> left-anti join against "
    "the high-value-order key set (every synthetic customer has SOME "
    "order, so the anti-join is on orders > 250k to stay non-trivial).",
)
def q22_no_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            o.filter(F.col("o_totalprice") > 250000),
            c["c_custkey"] == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-fact TPC-H shapes: q7/q8/q9 stress join ordering and exchange reuse
# beyond the single-fact-shuffle queries above — two fact tables (lineitem,
# orders) plus 2-4 broadcast dims each, with the fact-fact shuffle on the
# order key as the only wide exchange.
# ---------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
    JOIN customer c  ON c.c_custkey = o.o_custkey
    JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
           OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape (volume shipping): nation-pair trade volume by year. "
    "lineitem joins orders on the order key (the one shuffle), supplier/"
    "customer/nation x2 all broadcast; the nation-pair disjunction filters "
    "after the dim joins. Reference parity: SURVEY.md §2.4 analytics set.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    supp_n = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_n = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust_n), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q8_market_share",
    oracle="""
    WITH all_sales AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = cn.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM all_sales GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): one nation's share of "
    "ECONOMY-part revenue sold into EUROPE customers, by year. Part filter "
    "prunes lineitem via the broadcast hash join BEFORE the fact-fact "
    "shuffle; customer->nation->region and supplier->nation chains are all "
    "broadcast; share is a conditional-sum ratio (no second pass).",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust_n = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    supp_n = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0.0))
    return (
        li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cust_n), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_rkey") == F.col("r_regionkey"))
        .join(maybe_broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.round(F.sum(nation_vol) / F.sum(volume), 4).alias("mkt_share"))
    )


@register(
    "q9_product_profit",
    oracle="""
    SELECT sn.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * l.l_quantity * 0.1), 2) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    """,
    doc="TPC-H Q9 shape (product-type profit): profit per supplier nation "
    "per year over name-matched parts. No partsupp table in this schema, so "
    "supply cost is modeled as 10% of p_retailprice per unit — the join "
    "topology (part filter broadcast-pruning lineitem before the fact-fact "
    "shuffle, supplier->nation broadcast) is the point of the shape.",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    supp_n = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    )
    return (
        li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("nation", F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (forecasting revenue change): pure scan-filter-agg — "
    "every predicate pushes into the parquet scan, the aggregate is one "
    "partial+final pair with no group keys. The canonical 'is pushdown "
    "working' probe at 100 TB.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    """,
    doc="TPC-H Q15 shape (top supplier): quarterly revenue per supplier, "
    "argmax via an equi-join against the 1-row max (broadcast hash join, "
    "not a nested loop) — the aggregation's exchange is the only wide "
    "shuffle; supplier broadcasts. Rounded before the max comparison so "
    "both engines compare identical values.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_rev"
        )
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    s = table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev["total_rev"] == mx["mx"])
        .join(maybe_broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "graph_ancestor_rollup",
    oracle="""
    WITH RECURSIVE chain(start, node) AS (
      SELECT c_custkey, c_custkey FROM customer
      UNION ALL
      SELECT start, node // 2 FROM chain WHERE node // 2 >= 1
    )
    SELECT chain.start AS c_custkey,
           CAST(count(*) - 1 AS BIGINT) AS depth,
           round(sum(c.c_acctbal), 2) AS path_acctbal
    FROM chain JOIN customer c ON chain.node = c.c_custkey
    GROUP BY chain.start
    """,
    doc="Recursive-CTE workaround (hierarchy rollup): each customer's "
    "ancestor chain in the implicit binary tree custkey -> custkey/2, "
    "rolled up to depth + path-sum of account balances. Spark has no "
    "WITH RECURSIVE; when the recursion depth is boundable (log2(maxkey) "
    "here) the Spark-first form is a bounded explode of ancestor levels "
    "(node = start >> k, pure integer shifts) + ONE equi-join + ONE "
    "aggregation — no driver-side iteration, no 18-join plan, scales as a "
    "single shuffle. The DuckDB oracle runs a true recursive CTE, proving "
    "semantic equivalence.",
)
def graph_ancestor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    # bound the expansion by the actual key range (one tiny scalar action)
    max_key = c.agg(F.max("c_custkey")).first()[0]
    max_depth = max(1, int(max_key).bit_length())
    chain = (
        c.select(F.col("c_custkey").alias("start"))
        .select("start", F.explode(F.sequence(F.lit(0), F.lit(max_depth))).alias("k"))
        .select("start", "k", F.expr("shiftright(start, k)").alias("node"))
        # node >= 1 walks the chain; k == 0 keeps the anchor self-row so a
        # root key of 0 (present in this key space) still emits its row,
        # exactly like the CTE's anchor member
        .filter((F.col("node") >= 1) | (F.col("k") == 0))
    )
    return (
        chain.join(c, chain["node"] == c["c_custkey"])
        .groupBy("start")
        .agg(
            (F.count(F.lit(1)) - 1).alias("depth"),
            F.round(F.sum("c_acctbal"), 2).alias("path_acctbal"),
        )
        .select(F.col("start").alias("c_custkey"), "depth", "path_acctbal")
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (customer order-count distribution), adapted to the "
    "driver's column subset: the reference kit filters o_comment NOT LIKE "
    "'%special%requests%', which this schema lacks, so an o_orderpriority "
    "predicate plays the same non-key join-filter role. The double "
    "aggregation keeps zero-order customers via the LEFT join (count of a "
    "null key is 0). First shuffle on c_custkey, second on the tiny "
    "c_count domain — the classic two-level distribution plan.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    # aggregate orders BEFORE the join: the left join then probes a
    # per-custkey count relation instead of the raw fact table, so the
    # join input shrinks by the orders-per-customer factor and the
    # customer side never carries fact-table row multiplicity
    per_cust_orders = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    per_cust = c.join(per_cust_orders, "c_custkey", "left").select(
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    ) t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_size < 15
      AND l.l_quantity < t.qty_threshold
    """,
    doc="TPC-H Q17 shape (small-quantity-order revenue), adapted: p_container "
    "is absent from this schema, so p_size < 15 joins p_brand as the part "
    "selector. The correlated scalar subquery (per-part average quantity) "
    "becomes a pre-aggregated self-join: partial-agg lineitem by partkey "
    "(map-side combine), broadcast the filtered part dim into both probes. "
    "One shuffle of lineitem on l_partkey shared by the agg and the join.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    )
    thresholds = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(thresholds, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firstday AS (
      SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             CAST(datediff('day', f.cohort_day, date_trunc('day', e.ts))
                  AS BIGINT) AS day_offset
      FROM events e JOIN firstday f ON e.user_id = f.user_id
    )
    SELECT cohort_day, day_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM activity
    GROUP BY cohort_day, day_offset
    """,
    doc="Cohort retention over the events stream: each user's cohort is the "
    "day of first activity; count distinct users active at each day offset "
    "from their cohort. The first-seen aggregate and the activity join "
    "share the user_id shuffle (co-partitioned, no extra exchange); the "
    "final rollup groups a (days x days) key space that stays tiny at any "
    "event volume — the standard product-analytics retention matrix.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    firstday = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        e.join(firstday, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("bigint").alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_users")
    )


@register(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    ), counts AS (
      SELECT 1 AS stage_ord, 'view' AS stage, count(*) AS n_users FROM v
      UNION ALL SELECT 2, 'click', count(*) FROM c
      UNION ALL SELECT 3, 'purchase', count(*) FROM p
    )
    SELECT stage_ord, stage, CAST(n_users AS BIGINT) AS n_users,
           round(n_users * 1.0 /
                 lag(n_users, 1, n_users) OVER (ORDER BY stage_ord), 4)
             AS conv_from_prev
    FROM counts
    """,
    doc="Ordered funnel analysis over the events stream: users reaching "
    "view -> click-after-view -> purchase-after-click, with step conversion "
    "rates. SINGLE-PASS plan: one shuffle on user_id collects each user's "
    "per-stage timestamp lists, then array expressions derive the ordered "
    "milestones (min view, first click after it, first purchase after "
    "that) in the same stage — a chained-aggregate formulation would "
    "re-evaluate every upstream stage per funnel step. The per-user "
    "relation then reduces to 3 counts; the final window is 3-row-sized. "
    "Per-user arrays are bounded by that user's event history, so the "
    "plan holds at any corpus size (heavy users cap out far below task "
    "memory; a per-(user, day) pre-bucket bounds true outliers).",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage_list(t):
        return F.sort_array(
            F.collect_list(F.when(F.col("event_type") == t, F.col("ts")))
        )

    per_user = e.groupBy("user_id").agg(
        stage_list("view").alias("vs"),
        stage_list("click").alias("cs"),
        stage_list("purchase").alias("ps"),
    )
    t_view = F.element_at("vs", 1)
    milestones = per_user.select(
        t_view.alias("t_view"),
        F.array_min(F.filter("cs", lambda x: x > t_view)).alias("t_click"),
        "ps",
    ).select(
        "t_view",
        "t_click",
        F.array_min(F.filter("ps", lambda x: x > F.col("t_click"))).alias(
            "t_purchase"
        ),
    )
    counts = milestones.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
    )
    stages = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage_ord"),
                    F.lit("view").alias("stage"),
                    F.col("n_view").alias("n_users"),
                ),
                F.struct(
                    F.lit(2).alias("stage_ord"),
                    F.lit("click").alias("stage"),
                    F.col("n_click").alias("n_users"),
                ),
                F.struct(
                    F.lit(3).alias("stage_ord"),
                    F.lit("purchase").alias("stage"),
                    F.col("n_purchase").alias("n_users"),
                ),
            )
        ).alias("s")
    ).select("s.stage_ord", "s.stage", "s.n_users")
    w = Window.orderBy("stage_ord")
    return stages.select(
        "stage_ord",
        "stage",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.coalesce(
            F.round(
                F.col("n_users") / F.lag("n_users", 1, None).over(w).cast("double"),
                4,
            ),
            F.lit(1.0),
        ).alias("conv_from_prev"),
    )


@register(
    "agg_conditional_filter",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
             AS n_big,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'),
                 2) AS urgent_revenue,
           bool_and(o_totalprice > 0)  AS all_positive,
           bool_or(o_custkey % 1000 = 0) AS any_round_cust
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Conditional/boolean aggregates: FILTER-clause count and sum "
    "(count_if / when-guarded sum in Spark), bool_and / bool_or. All "
    "map-side combinable — one exchange, same partial-agg shape as q1.",
)
def agg_conditional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.round(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))),
            2,
        ).alias("urgent_revenue"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_custkey") % 1000 == 0).alias("any_round_cust"),
    )


@register(
    "scalar_try_safe",
    oracle="""
    SELECT o_orderkey,
           TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN 'x'
                         ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT)
             AS parsed_key,
           round(o_totalprice / NULLIF(o_custkey % 5, 0), 4) AS risky_ratio,
           CAST(coalesce(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT), -1)
                AS INT) AS priority_num
    FROM orders
    """,
    doc="Error-safe expression surface (the ANSI-mode story): try_cast of a "
    "sometimes-unparseable string, try_divide hitting divide-by-zero, and "
    "a coalesced fallback — NULL instead of a failed job. Spark 4 runs "
    "ANSI-on by default, so these are what production pipelines must use; "
    "the oracle mirrors with TRY_CAST / NULLIF.",
)
def scalar_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    maybe_key = F.when(F.col("o_orderkey") % 3 == 0, F.lit("x")).otherwise(
        F.col("o_orderkey").cast("string")
    )
    return o.select(
        "o_orderkey",
        F.try_to_number(maybe_key, F.lit("999999999999")).cast("bigint").alias(
            "parsed_key"
        ),
        F.round(F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 5), 4).alias(
            "risky_ratio"
        ),
        F.coalesce(
            F.try_to_number(F.substring("o_orderpriority", 1, 1), F.lit("9")).cast(
                "int"
            ),
            F.lit(-1),
        ).alias("priority_num"),
    )


@register(
    "scalar_interval_arith",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 36 HOUR   AS due_ts,
           o_orderdate - INTERVAL 90 DAY    AS quote_ts,
           CAST((year(o_orderdate) - 1995) * 12 + (month(o_orderdate) - 6)
                AS BIGINT)                  AS months_since_jun95,
           date_trunc('quarter', o_orderdate) AS quarter_start,
           make_date(year(o_orderdate), month(o_orderdate), 1) AS month_start
    FROM orders
    """,
    doc="Timestamp interval arithmetic: +/- INTERVAL literals, month-boundary "
    "distance (spelled as explicit year/month arithmetic — identical "
    "boundary-crossing semantics on both engines, unlike fractional "
    "months_between), quarter truncation, and date construction from "
    "parts. All codegen'd datetime expressions.",
)
def scalar_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 36 HOURS")).alias("due_ts"),
        (F.col("o_orderdate") - F.expr("INTERVAL 90 DAYS")).alias("quote_ts"),
        (
            (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 6)
        ).cast("bigint").alias("months_since_jun95"),
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        F.make_date(
            F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1)
        ).alias("month_start"),
    )


# ---------------------------------------------------------------------------
# Round-3 additions: running distinct, tolerance as-of, co-occurrence,
# robust outliers, attribution.
# ---------------------------------------------------------------------------


@register(
    "window_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, event_type,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen,
             ts
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, event_id,
           CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS running_distinct_types
    FROM flagged
    """,
    doc="Running COUNT(DISTINCT) over an ordered stream — not directly "
    "expressible as a window aggregate in Spark, so it is decomposed into "
    "the standard first-occurrence trick: row_number over (key, value) marks "
    "each value's first appearance, then a running sum of the marks over "
    "(key, time) is the cumulative distinct count. Two window passes, both "
    "partitioned by user_id — AQE coalesces to a single exchange; no state "
    "grows beyond the partition.",
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts guard on both engines (cross-engine NULL ordering differs).
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    first_seen = (
        F.row_number()
        .over(Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id"))
        == 1
    ).cast("int")
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.select("user_id", "event_id", "ts", first_seen.alias("first_seen"))
        .select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(running).cast("bigint")
            .alias("running_distinct_types"),
        )
    )


ASOF_TOLERANCE_MIN = 60


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN ts END AS click_ts,
             CASE WHEN event_type = 'click' THEN event_id END AS click_id,
             event_type
      FROM events WHERE event_type IN ('click', 'purchase')
        AND ts IS NOT NULL
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             max(click_ts) OVER w AS last_click_ts,
             last_value(click_id IGNORE NULLS) OVER w AS last_click_id
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN ts - last_click_ts <= INTERVAL '{ASOF_TOLERANCE_MIN} minutes'
                THEN last_click_id END AS matched_click_id,
           CASE WHEN ts - last_click_ts <= INTERVAL '{ASOF_TOLERANCE_MIN} minutes'
                THEN CAST(date_diff('second', last_click_ts, ts) AS BIGINT)
                END AS gap_seconds
    FROM filled WHERE event_type = 'purchase'
    """,
    doc="As-of join with a tolerance bound (purchase -> most recent click "
    "within 60 min, else NULL) — the ASOF JOIN ... TOLERANCE shape from "
    "kdb/QuestDB/pandas merge_asof. Same union+last_value trick as "
    "join_asof (one shuffle on user_id, no range self-join); the tolerance "
    "is a post-window null-out, so the plan is identical to the unbounded "
    "form and scales the same way.",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts guard on both engines (cross-engine NULL ordering differs).
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase") & F.col("ts").isNotNull()
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.max("click_ts").over(w).alias("last_click_ts"),
        F.last("click_id", ignorenulls=True).over(w).alias("last_click_id"),
    )
    within = (
        F.col("ts").cast("long") - F.col("last_click_ts").cast("long")
    ) <= ASOF_TOLERANCE_MIN * 60
    return filled.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.when(within, F.col("last_click_id")).alias("matched_click_id"),
        F.when(
            within,
            F.col("ts").cast("long") - F.col("last_click_ts").cast("long"),
        ).cast("bigint").alias("gap_seconds"),
    )


COPURCHASE_TOP_K = 15


@register(
    "part_copurchase_pairs",
    oracle=f"""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a ASC, part_b ASC
    LIMIT {COPURCHASE_TOP_K}
    """,
    doc="Market-basket co-occurrence: part pairs ordered together, top-15 by "
    "support — the candidate-generation step of association mining. One "
    "shuffle on l_orderkey builds sorted per-order part lists and pairs "
    "expand MAP-SIDE from the arrays (an order has a bounded line count, "
    "so fan-out is <= C(12,2) pairs/order; positional i<j expansion with "
    "a strict pa < pb filter reproduces the self-join's multiplicity "
    "exactly); the global top-k compiles to TakeOrderedAndProject. At "
    "100 TB the same plan holds because the per-order bound, not the "
    "corpus size, controls the pair blow-up.",
)
def part_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket shape (the orders_association_metrics r14 rewrite): ONE
    # shuffle on l_orderkey builds per-order part LISTS (collect_list,
    # not set — a part repeated on two lineitems of one order pairs
    # TWICE under the self-join's count(*), and the positional i<j
    # expansion over the sorted array preserves exactly that
    # cnt_a * cnt_b multiplicity) and pairs expand MAP-SIDE, with the
    # strict pa < pb filter dropping equal-part position pairs just as
    # the join condition did. Fan-out stays order-bounded.
    bk = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("parts")
    )
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
    return (
        bk.select(F.explode(pair_arr).alias("p"))
        .filter(F.col("p.pa") < F.col("p.pb"))
        .groupBy(
            F.col("p.pa").alias("part_a"), F.col("p.pb").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(COPURCHASE_TOP_K)
    )


MAD_K = 3.0


@register(
    "agg_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT l_returnflag, median(l_extendedprice) AS med
      FROM lineitem GROUP BY l_returnflag
    ), mad AS (
      SELECT l.l_returnflag, any_value(m.med) AS med,
             median(abs(l.l_extendedprice - m.med)) AS mad
      FROM lineitem l JOIN med m USING (l_returnflag)
      GROUP BY l.l_returnflag
    )
    SELECT l.l_returnflag,
           round(any_value(d.med), 2) AS med_price,
           round(any_value(d.mad), 2) AS mad_price,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN abs(l.l_extendedprice - d.med) > {MAD_K} * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l JOIN mad d USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
    doc="Robust outlier detection via median absolute deviation (the "
    "data-cleaning filter that survives skewed value distributions where "
    "z-scores break): exact per-group median, MAD, and the |x - med| > "
    "3*MAD count. Group cardinality is tiny, so each pass broadcasts the "
    "per-group statistics back — three scans of the fact (Spark reuses the "
    "cached exchange), no shuffle wider than the group key. Exact median "
    "(not approx_percentile) keeps the oracle deterministic.",
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (VERDICT r14 item 4): the exact per-group medians no longer run
    # as F.median aggregates — whose state is a value->count map of every
    # distinct price (97% distinct here) merged and sorted by ONE reducer
    # per group, §2.2's shape — but via the shared two-pass
    # range-partitioned selection (plans/selection.py): bounded
    # bucket-count collects locate the middle ranks, one filtered window
    # over a ~1/32 bucket slice extracts them, and the interpolation is
    # replayed in bit-identical IEEE doubles (property-pinned). Each pass
    # is a column-pruned scan of the 2-col projection — cheaper than
    # persisting it (measured), and the right 100 TB shape (no
    # fact-projection cache).
    from mongodb_nats_connector_spark.plans.selection import (
        _median_ranks,
        selected_order_stats,
        spark_percentile_replay,
    )

    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med_stats = selected_order_stats(
        li, "l_extendedprice", _median_ranks, ["l_returnflag"]
    )
    med = {
        k[0]: spark_percentile_replay(n, at, 0.5)
        for k, (n, at) in med_stats.items()
    }
    med_expr = F.create_map(
        *[c for k, v in sorted(med.items()) for c in (F.lit(k), F.lit(v))]
    )[F.col("l_returnflag")]
    dev = li.select(
        "l_returnflag",
        F.abs(F.col("l_extendedprice") - med_expr).alias("_dev"),
    )
    mad_stats = selected_order_stats(
        dev, "_dev", _median_ranks, ["l_returnflag"]
    )
    mad = {
        k[0]: spark_percentile_replay(n, at, 0.5)
        for k, (n, at) in mad_stats.items()
    }
    mad_expr = F.create_map(
        *[c for k, v in sorted(mad.items()) for c in (F.lit(k), F.lit(v))]
    )[F.col("l_returnflag")]
    # r15 parity fix: round via scale-by-100 like DuckDB's round(x, 2)
    # (std::round(x*100)/100) instead of F.round's decimal-repr HALF_UP.
    # The two differ on doubles whose *100 product lands exactly on an
    # integer tie: at sf0.001 flag R the median is 52724.244999999995,
    # whose product is exactly 5272424.5 — DuckDB rounds it to 52724.25,
    # F.round(x, 2) to 52724.24. In-domain (|x*100| << 2^52) Spark's
    # integer-scale round is also half-away-from-zero, so the scaled form
    # replays DuckDB bit-for-bit; probed exact at all 3 SFs (pinned in
    # tests/test_r15_selection.py).
    out = li.groupBy("l_returnflag").agg(
        (F.round(F.any_value(med_expr) * 100) / 100).alias("med_price"),
        (F.round(F.any_value(mad_expr) * 100) / 100).alias("mad_price"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            (
                F.abs(F.col("l_extendedprice") - med_expr) > MAD_K * mad_expr
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_outliers"),
    )
    return out


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH filled AS (
      SELECT event_id, event_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events WHERE ts IS NOT NULL
    ), attributed AS (
      SELECT coalesce(channel, 'none') AS channel
      FROM filled WHERE event_type = 'purchase'
    )
    SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
           round(count(*) * 1.0 / (SELECT count(*) FROM attributed), 4) AS share
    FROM attributed GROUP BY channel
    """,
    doc="Last-touch attribution: each purchase is credited to the user's "
    "most recent preceding non-purchase event type, then purchases are "
    "rolled up per channel with share-of-total. One window pass partitioned "
    "by user_id (the ROWS ... 1 PRECEDING frame excludes the purchase "
    "itself), one tiny aggregation, and the total joins back as a broadcast "
    "scalar — the standard marketing/conversion analysis at any scale.",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts guard on both engines (cross-engine NULL ordering differs).
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    attributed = (
        ev.select("event_id", "event_type", channel.alias("channel"))
        .filter(F.col("event_type") == "purchase")
        .select(F.coalesce("channel", F.lit("none")).alias("channel"))
    )
    total = attributed.agg(F.count(F.lit(1)).alias("total"))
    return (
        attributed.groupBy("channel")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
        .crossJoin(F.broadcast(total))
        .select(
            "channel",
            "n_purchases",
            F.round(F.col("n_purchases") / F.col("total"), 4).alias("share"),
        )
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(o_orderdate), DATE '1998-08-02') AS BIGINT)
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT *,
             CAST(ntile(4) OVER (ORDER BY recency_days ASC,  o_custkey) AS BIGINT) AS r_quartile,
             CAST(ntile(4) OVER (ORDER BY frequency    DESC, o_custkey) AS BIGINT) AS f_quartile,
             CAST(ntile(4) OVER (ORDER BY monetary     DESC, o_custkey) AS BIGINT) AS m_quartile
      FROM rfm
    )
    SELECT o_custkey AS custkey, recency_days, frequency, monetary,
           r_quartile, f_quartile, m_quartile,
           CASE WHEN r_quartile = 1 AND f_quartile = 1 THEN 'champion'
                WHEN r_quartile >= 3 AND f_quartile >= 3 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    doc="RFM customer segmentation: per-customer recency/frequency/monetary "
    "aggregates, quartile scores, and a rule-based segment label. One "
    "shuffle on o_custkey for the aggregate; the per-customer relation is "
    "data-proportional, so each quartile score is an exact ntile(4) "
    "reconstructed from the two-pass range-partitioned rank "
    "(plans/ranking.py — quantile-boundary literals, per-bucket "
    "row_number + collected bucket-offset literals off the persisted "
    "rollup, exact ntile arithmetic from (rank, n)) instead of a global "
    "single-partition ntile window. "
    "Identical output to ntile by construction — the oracle keeps the "
    "ntile formulation. Deterministic tie-break on custkey.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.date_diff(F.lit("1998-08-02").cast("date"), F.max("o_orderdate"))
        .cast("bigint")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    ).withColumnRenamed("o_custkey", "custkey")
    # persisted NOW: three two-pass boundary sketches run at construction;
    # without the cache each would recompute the per-customer rollup.
    # Released on result GC (release_on_gc at return).
    rfm = rfm.persist()
    # collected_offsets: rfm is persisted, so the three per-bucket count
    # collections are cheap cache scans at construction, and the executed
    # plan loses all three offset broadcast subplans (each a serial
    # broadcast-build job re-running a counts aggregation per execution).
    # The chained calls' construction jobs column-prune the earlier rank
    # windows away (rank cols unreferenced), so each still reads only the
    # cached rollup.
    ranked = two_pass_global_rank(
        rfm, "recency_days", "custkey", descending=False,
        rank_col="_rr", total_col="_rn", collected_offsets=True,
    )
    ranked = two_pass_global_rank(
        ranked, "frequency", "custkey", descending=True,
        rank_col="_fr", total_col="_fn", collected_offsets=True,
    )
    ranked = two_pass_global_rank(
        ranked, "monetary", "custkey", descending=True,
        rank_col="_mr", total_col="_mn", collected_offsets=True,
    )
    scored = ranked.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        ntile_from_rank(F.col("_rr"), F.col("_rn"), 4)
        .cast("bigint")
        .alias("r_quartile"),
        ntile_from_rank(F.col("_fr"), F.col("_fn"), 4)
        .cast("bigint")
        .alias("f_quartile"),
        ntile_from_rank(F.col("_mr"), F.col("_mn"), 4)
        .cast("bigint")
        .alias("m_quartile"),
    )
    segment = (
        F.when((F.col("r_quartile") == 1) & (F.col("f_quartile") == 1), "champion")
        .when((F.col("r_quartile") >= 3) & (F.col("f_quartile") >= 3), "at_risk")
        .otherwise("regular")
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(rfm, scored.withColumn("segment", segment))


@register(
    "agg_percentile_threshold",
    oracle="""
    WITH thresholds AS (
      SELECT c_nationkey, quantile_cont(c_acctbal, 0.9) AS p90
      FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_nationkey,
           round(any_value(t.p90), 2) AS p90_acctbal,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN c.c_acctbal > t.p90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above_p90,
           round(sum(CASE WHEN c.c_acctbal > t.p90 THEN c.c_acctbal ELSE 0 END), 2)
             AS balance_above_p90
    FROM customer c JOIN thresholds t USING (c_nationkey)
    GROUP BY c.c_nationkey
    """,
    doc="Percentile-threshold segmentation: exact per-nation p90 of account "
    "balance (continuous interpolation — identical in Spark's percentile() "
    "and DuckDB's quantile_cont), broadcast back to tag and aggregate the "
    "above-threshold population. The two-pass broadcast shape is how "
    "top-percentile cohorts are computed at scale without a global sort; "
    "at extreme group counts the exact percentile becomes "
    "approx_percentile with the same plan.",
)
def agg_percentile_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    thresholds = c.groupBy("c_nationkey").agg(
        F.percentile("c_acctbal", F.lit(0.9)).alias("p90")
    )
    joined = c.join(F.broadcast(thresholds), "c_nationkey")
    above = F.col("c_acctbal") > F.col("p90")
    return joined.groupBy("c_nationkey").agg(
        F.round(F.any_value("p90"), 2).alias("p90_acctbal"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(above.cast("int")).cast("bigint").alias("n_above_p90"),
        F.round(F.sum(F.when(above, F.col("c_acctbal")).otherwise(0.0)), 2)
        .alias("balance_above_p90"),
    )


EQUIDEPTH_BUCKETS = 8


@register(
    "agg_equidepth_histogram",
    oracle=f"""
    WITH bounds AS (
      SELECT quantile_cont(l_extendedprice,
               [CAST(i + 1 AS DOUBLE) / {EQUIDEPTH_BUCKETS}
                FOR i IN range({EQUIDEPTH_BUCKETS} - 1)]) AS bs
      FROM lineitem
    ), assigned AS (
      SELECT CAST(len(list_filter(b.bs, x -> l.l_extendedprice > x)) AS BIGINT)
               AS bucket_id,
             l.l_extendedprice AS price
      FROM lineitem l CROSS JOIN bounds b
    )
    SELECT bucket_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(price), 2) AS lo,
           round(max(price), 2) AS hi
    FROM assigned GROUP BY bucket_id
    """,
    doc="Equi-depth histogram (the optimizer/statistics primitive behind "
    "range partitioning and skew detection): 7 exact interior percentile "
    "boundaries in one aggregation, broadcast back, each row's bucket = "
    "count of boundaries below it (a HOF over the 7-element array — no "
    "join explosion), then per-bucket count/min/max. Two passes over the "
    "fact with only the 1-row boundary array crossing executors — the "
    "standard sample-free formulation; at extreme scale the exact "
    "percentile swaps for approx_percentile with an identical plan.",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (VERDICT r14 item 4): the 7 exact interior boundaries no longer
    # come from one GLOBAL F.percentile aggregate (a value->count map of
    # every distinct price through a single reducer — §2.2) but from the
    # shared two-pass range selection (plans/selection.py), replayed in
    # bit-identical IEEE doubles (property-pinned) and embedded as
    # literals; the bucket assignment + per-bucket count/min/max is then
    # ONE map-combined pass over the single-column slice.
    from mongodb_nats_connector_spark.plans.selection import (
        percentile_ranks,
        selected_order_stats,
        spark_percentile_replay,
    )

    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    fracs = [
        (i + 1) / EQUIDEPTH_BUCKETS for i in range(EQUIDEPTH_BUCKETS - 1)
    ]
    stats = selected_order_stats(
        li, "l_extendedprice", lambda m: percentile_ranks(m, fracs)
    )
    n, at = stats[()]
    bounds = F.array(
        *[F.lit(spark_percentile_replay(n, at, p)) for p in fracs]
    )
    assigned = li.select(
        F.size(F.filter(bounds, lambda x: F.col("l_extendedprice") > x))
        .cast("bigint")
        .alias("bucket_id"),
        F.col("l_extendedprice").alias("price"),
    )
    out = assigned.groupBy("bucket_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.min("price"), 2).alias("lo"),
        F.round(F.max("price"), 2).alias("hi"),
    )
    return out


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_pairs() -> list[tuple[str, str]]:
    return [
        (_CORR_COLS[i], _CORR_COLS[j])
        for i in range(len(_CORR_COLS))
        for j in range(i + 1, len(_CORR_COLS))
    ]


@register(
    "agg_corr_matrix",
    oracle="""
    SELECT """
    + ",\n           ".join(
        f"round(corr({a}, {b}), 6) + 0.0 AS corr_{a[2:]}_{b[2:]}"
        for a, b in [
            ("l_quantity", "l_extendedprice"),
            ("l_quantity", "l_discount"),
            ("l_quantity", "l_tax"),
            ("l_extendedprice", "l_discount"),
            ("l_extendedprice", "l_tax"),
            ("l_discount", "l_tax"),
        ]
    )
    + """
    FROM lineitem
    """,
    doc="Pairwise Pearson correlation matrix over the fact table's numeric "
    "measures — the feature-analysis / drift-detection primitive. All six "
    "pairs compute in ONE aggregation pass (each corr is an algebraic "
    "aggregate: sums, sums of squares, cross products — partial-aggregated "
    "map-side), so the full matrix costs a single scan and a 1-row "
    "exchange at any scale; no self-join, no unpivot blow-up. Signed zero "
    "normalized as usual.",
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        *[
            (F.round(F.corr(a, b), 6) + F.lit(0.0)).alias(
                f"corr_{a[2:]}_{b[2:]}"
            )
            for a, b in _corr_pairs()
        ]
    )


@register(
    "customer_ltv_deciles",
    oracle="""
    WITH ltv AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS ltv_c
      FROM orders
      GROUP BY 1
    ),
    ranked AS (
      SELECT o_custkey, ltv_c,
             ntile(10) OVER (ORDER BY ltv_c DESC, o_custkey) AS decile
      FROM ltv
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(ltv_c) / 100.0, 2) AS total_value,
           round(min(ltv_c) / 100.0, 2) AS min_value,
           round(max(ltv_c) / 100.0, 2) AS max_value
    FROM ranked
    GROUP BY decile
    """,
    doc="Customer lifetime-value decile distribution: per-customer revenue "
    "rollup in EXACT INTEGER CENTS (so both the decile RANK and the decile "
    "sums are summation-order-independent — a double sum's last ulp could "
    "flip a tie-broken ntile boundary), then per-decile summary. The "
    "per-customer relation is data-proportional, so ntile's global "
    "single-partition sort is replaced by the two-pass range-partitioned "
    "rank (plans/ranking.py): quantile-boundary broadcast -> per-bucket "
    "row_number + bucket-offset prefix sum -> exact ntile arithmetic from "
    "(rank, n). Identical output to ntile(10) by construction — the "
    "oracle keeps the ntile formulation — with every data-proportional "
    "window partitioned by bucket.",
)
def customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    ltv = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("ltv_c")
    )
    # persisted NOW: the two-pass boundary sketch and the collected bucket
    # offsets both run jobs at construction and would otherwise recompute
    # the fact rollup; released on result GC
    ltv = ltv.persist()
    ranked = two_pass_global_rank(
        ltv, "ltv_c", "o_custkey", descending=True, collected_offsets=True
    )
    decile = ntile_from_rank(F.col("_rank"), F.col("_n"), 10)
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(
        ltv,
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("ltv_c") / 100.0, 2).alias("total_value"),
            F.round(F.min("ltv_c") / 100.0, 2).alias("min_value"),
            F.round(F.max("ltv_c") / 100.0, 2).alias("max_value"),
        ),
    )


@register(
    "customer_order_gaps",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders
    )
    SELECT o_custkey,
           CAST(count(gap_days) AS BIGINT) AS n_gaps,
           avg(gap_days) AS avg_gap_days,
           CAST(max(gap_days) AS BIGINT) AS max_gap_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    HAVING count(gap_days) >= 2
    """,
    doc="Inter-order gap statistics per customer: lag over (orderdate, "
    "orderkey) within customer, day deltas, then avg/max per customer with "
    "at least two gaps. Window and final agg share the o_custkey "
    "partitioning — one shuffle total.",
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.col("o_orderdate").cast("date"),
        F.lag(F.col("o_orderdate")).over(w).cast("date"),
    )
    return (
        orders.withColumn("gap_days", gap)
        .filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count("gap_days").cast("bigint").alias("n_gaps"),
            F.avg("gap_days").alias("avg_gap_days"),
            F.max("gap_days").cast("bigint").alias("max_gap_days"),
        )
        .filter(F.col("n_gaps") >= 2)
    )


@register(
    "revenue_yoy",
    oracle="""
    WITH yearly AS (
      SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS rev_c,
             CAST(count(*) AS BIGINT) AS n_lineitems
      FROM lineitem
      GROUP BY 1
    )
    SELECT ship_year, round(rev_c / 100.0, 2) AS revenue, n_lineitems,
           round(rev_c * 1.0 / lag(rev_c) OVER (ORDER BY ship_year) - 1.0, 6)
             AS yoy_growth
    FROM yearly
    """,
    doc="Year-over-year revenue: yearly rollup of discounted lineitem "
    "revenue in EXACT INTEGER CENTS (map-side partial agg, one shuffle to "
    "~7 rows; order-independent, so the growth ratio is engine-exact at "
    "any partitioning), then lag-based growth over the year series.",
)
def revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    yearly = li.groupBy(
        F.year("l_shipdate").cast("int").alias("ship_year")
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("rev_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
    )
    w = Window.orderBy("ship_year")
    return yearly.select(
        "ship_year",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        "n_lineitems",
        F.round(
            F.col("rev_c") * 1.0 / F.lag("rev_c").over(w) - 1.0, 6
        ).alias("yoy_growth"),
    )


BAND_LO, BAND_WIDTH, N_BANDS = 900.0, 10.0, 10


@register(
    "join_range_bucketed",
    oracle=f"""
    WITH bands AS (
      SELECT CAST(i AS INT) AS band_id,
             {BAND_LO} + i * {BAND_WIDTH} AS lo,
             {BAND_LO} + (i + 1) * {BAND_WIDTH} AS hi
      FROM range({N_BANDS}) t(i)
    )
    SELECT band_id,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(p_retailprice), 4) AS sum_price,
           avg(p_size * 1.0) AS avg_size
    FROM part JOIN bands
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band_id
    """,
    doc="Range join equi-ized by bucketing: band_id = floor((price - lo) / "
    "width) replaces the BETWEEN predicate, turning a nested-loop range "
    "join into a map-only computed key + hash aggregation. The oracle runs "
    "the textbook non-equi join against the generated band table to prove "
    "the bucketing exact (half-open bands, width-aligned).",
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    band = F.floor((F.col("p_retailprice") - BAND_LO) / BAND_WIDTH).cast("int")
    return (
        part.withColumn("band_id", band)
        .filter((F.col("band_id") >= 0) & (F.col("band_id") < N_BANDS))
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(F.sum("p_retailprice"), 4).alias("sum_price"),
            F.avg(F.col("p_size") * 1.0).alias("avg_size"),
        )
    )


N_PROMOS, PROMO_STRIDE_DAYS, PROMO_LEN_DAYS = 6, 5, 3
PROMO_START = "2024-01-01"


@register(
    "join_point_in_interval",
    oracle=f"""
    WITH promos AS (
      SELECT CAST(i AS INT) AS promo_id,
             TIMESTAMP '{PROMO_START}' + INTERVAL (i * {PROMO_STRIDE_DAYS}) DAY
               AS start_ts,
             TIMESTAMP '{PROMO_START}'
               + INTERVAL (i * {PROMO_STRIDE_DAYS} + {PROMO_LEN_DAYS}) DAY AS end_ts
      FROM range({N_PROMOS}) t(i)
    )
    SELECT promo_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 4) AS sum_value
    FROM events JOIN promos
      ON ts >= start_ts AND ts < end_ts
    GROUP BY promo_id
    """,
    doc="Point-in-interval join equi-ized by day bucketing: each promo "
    "window explodes into its covered calendar days (intervals are "
    "dimension-sized, so the explode is tiny and broadcast), and events "
    "join on the exact day key with a residual ts filter. The fact side "
    "never evaluates a range predicate in a nested loop. Oracle is the "
    "plain BETWEEN join.",
)
def join_point_in_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    promos = spark.range(N_PROMOS).select(
        F.col("id").cast("int").alias("promo_id"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(PROMO_START).cast("timestamp"))
            + F.col("id") * (PROMO_STRIDE_DAYS * 86400)
        ).alias("start_ts"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(PROMO_START).cast("timestamp"))
            + (F.col("id") * PROMO_STRIDE_DAYS + PROMO_LEN_DAYS) * 86400
        ).alias("end_ts"),
    )
    promo_days = promos.select(
        "promo_id",
        "start_ts",
        "end_ts",
        F.explode(
            F.sequence(
                F.col("start_ts").cast("date"),
                F.date_sub(F.col("end_ts").cast("date"), 0),
            )
        ).alias("day"),
    )
    return (
        ev.withColumn("day", F.col("ts").cast("date"))
        .join(F.broadcast(promo_days), "day")
        .filter((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
        .groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


BLOOM_M, PROBE_N = 4096, 3000


def _pos_sql(salt: str, key: str) -> str:
    return (
        f"CAST(CAST('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 15)"
        f" AS BIGINT) % {BLOOM_M} AS BIGINT)"
    )


def _pos_col(salt: str, key: Column) -> Column:
    h = F.conv(
        F.substring(F.md5(F.encode(F.concat(F.lit(salt), key.cast("string")), "utf-8")), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (h % BLOOM_M).cast("bigint")


@register(
    "join_bloom_semi",
    oracle=f"""
    WITH bits AS (
      SELECT DISTINCT {_pos_sql('b1:', 'o_custkey')} AS pos FROM orders
      UNION
      SELECT DISTINCT {_pos_sql('b2:', 'o_custkey')} AS pos FROM orders
    ),
    probe AS (
      SELECT CAST(i AS BIGINT) AS probe_key,
             {_pos_sql('b1:', 'i')} AS h1,
             {_pos_sql('b2:', 'i')} AS h2
      FROM range({PROBE_N}) t(i)
    ),
    flagged AS (
      SELECT probe_key,
             (h1 IN (SELECT pos FROM bits)
              AND h2 IN (SELECT pos FROM bits)) AS bloom_member,
             probe_key IN (SELECT DISTINCT o_custkey FROM orders) AS actual_member
      FROM probe
    )
    SELECT bloom_member, actual_member,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM flagged
    GROUP BY 1, 2
    """,
    doc="Bloom-filter semi-join sketch with measured confusion matrix: a "
    f"2-hash, {BLOOM_M}-bit filter is built from the orders build side "
    "(md5-derived positions — portable arithmetic, no engine-specific "
    "hash), broadcast, and probed map-side over a key range twice the true "
    "key domain. Output counts true/false positives/negatives — false "
    "negatives must be zero by construction, and the FP rate is what a "
    "runtime bloom pushdown would save before a shuffle. The filter "
    "(distinct positions) is dimension-sized regardless of fact row count.",
)
def join_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    keys = orders.select("o_custkey").distinct()
    bits = (
        keys.select(_pos_col("b1:", F.col("o_custkey")).alias("pos"))
        .union(keys.select(_pos_col("b2:", F.col("o_custkey")).alias("pos")))
        .distinct()
    )
    probe = spark.range(PROBE_N).select(
        F.col("id").cast("bigint").alias("probe_key"),
        _pos_col("b1:", F.col("id")).alias("h1"),
        _pos_col("b2:", F.col("id")).alias("h2"),
    )
    b1 = bits.select(F.col("pos").alias("p1"))
    b2 = bits.select(F.col("pos").alias("p2"))
    truth = keys.select(F.col("o_custkey").alias("t_key"))
    flagged = (
        probe.join(maybe_broadcast(b1), F.col("h1") == F.col("p1"), "left")
        .join(maybe_broadcast(b2), F.col("h2") == F.col("p2"), "left")
        .join(maybe_broadcast(truth), F.col("probe_key") == F.col("t_key"), "left")
        .select(
            (F.col("p1").isNotNull() & F.col("p2").isNotNull()).alias("bloom_member"),
            F.col("t_key").isNotNull().alias("actual_member"),
        )
    )
    return persist_until_collected(
        keys,
        flagged.groupBy("bloom_member", "actual_member").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys")
        ),
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'signup' THEN ts END AS signup_ts
      FROM events WHERE event_type IN ('signup', 'purchase')
        AND ts IS NOT NULL
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             max(signup_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_signup_ts,
             min(signup_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_signup_ts
      FROM tagged
    )
    SELECT event_id, user_id, ts,
           CASE
             WHEN prev_signup_ts IS NULL THEN next_signup_ts
             WHEN next_signup_ts IS NULL THEN prev_signup_ts
             WHEN epoch_us(ts) - epoch_us(prev_signup_ts)
                  <= epoch_us(next_signup_ts) - epoch_us(ts)
               THEN prev_signup_ts
             ELSE next_signup_ts
           END AS nearest_signup_ts,
           CAST(CASE WHEN prev_signup_ts IS NULL AND next_signup_ts IS NULL
                     THEN NULL
                     ELSE least(coalesce(epoch_us(ts) - epoch_us(prev_signup_ts),
                                         9223372036854775807),
                                coalesce(epoch_us(next_signup_ts) - epoch_us(ts),
                                         9223372036854775807))
                END AS BIGINT) AS gap_micros
    FROM filled WHERE event_type = 'purchase'
    """,
    doc="Nearest-direction as-of join (kdb nearest-aj): each purchase "
    "matches its closest signup in EITHER time direction (tie -> the "
    "earlier one). Same union+window trick as join_asof — both the "
    "backward running-max and the forward running-min ride ONE shuffle "
    "and ONE sort on (user_id, ts): no second window sort (Spark reuses "
    "the ordering for the mirrored frame), no range self-join, linear at "
    "any scale. Purchases whose user never signed up get NULL "
    "nearest_signup_ts AND NULL gap_micros (not a Long.MAX sentinel), so "
    "downstream latency aggregates skip them.",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts guard on both engines: an unordered-able row would land at
    # opposite partition ends (Spark NULLS FIRST asc, DuckDB NULLS LAST).
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
        & F.col("ts").isNotNull()
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "signup", F.col("ts")).alias("signup_ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    filled = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.max("signup_ts")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prev_signup_ts"),
        F.min("signup_ts")
        .over(w.rowsBetween(0, Window.unboundedFollowing))
        .alias("next_signup_ts"),
    )
    prev_gap = F.unix_micros("ts") - F.unix_micros("prev_signup_ts")
    next_gap = F.unix_micros("next_signup_ts") - F.unix_micros("ts")
    big = F.lit(9223372036854775807)
    nearest = (
        F.when(F.col("prev_signup_ts").isNull(), F.col("next_signup_ts"))
        .when(F.col("next_signup_ts").isNull(), F.col("prev_signup_ts"))
        .when(prev_gap <= next_gap, F.col("prev_signup_ts"))
        .otherwise(F.col("next_signup_ts"))
    )
    return filled.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        nearest.alias("nearest_signup_ts"),
        F.when(
            F.col("prev_signup_ts").isNotNull()
            | F.col("next_signup_ts").isNotNull(),
            F.least(F.coalesce(prev_gap, big), F.coalesce(next_gap, big)),
        ).cast("bigint").alias("gap_micros"),
    )


# ---------------------------------------------------------------------------
# join_interval_overlap — interval-overlap join via day tiles
# ---------------------------------------------------------------------------


@register(
    "join_interval_overlap",
    oracle="""
    WITH sess AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             min(ts) AS s_start, max(ts) AS s_end
      FROM events GROUP BY 1, 2
    ), promos AS (
      SELECT day,
             CASE slot WHEN 0 THEN 'am' ELSE 'pm' END AS promo,
             day + CASE slot WHEN 0 THEN INTERVAL 9 HOUR
                             ELSE INTERVAL 14 HOUR END AS p_start,
             day + CASE slot WHEN 0 THEN INTERVAL 12 HOUR
                             ELSE INTERVAL 18 HOUR END AS p_end
      FROM (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
            FROM events),
           unnest([0, 1]) AS t(slot)
    )
    SELECT s.user_id, s.day, p.promo,
           CAST(epoch_us(least(s.s_end, p.p_end))
                - epoch_us(greatest(s.s_start, p.p_start)) AS BIGINT)
             AS overlap_micros
    FROM sess s JOIN promos p ON s.day = p.day
    WHERE s.s_start < p.p_end AND p.p_start < s.s_end
    """,
    doc="Interval-overlap join (the ad-exposure / maintenance-window "
    "attribution shape): per-user daily activity intervals joined to "
    "promo windows on the shared DAY TILE (equi key), with the actual "
    "overlap predicate and exact microsecond overlap length as a "
    "post-filter — so Catalyst plans a hash join on the tile, never a "
    "cartesian range join. Intervals here are day-contained by "
    "construction; multi-day intervals generalize by exploding each into "
    "its covering tiles (the standard tiling decomposition), keeping the "
    "join equi-keyed at any scale.",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    days = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    slots = days.select(
        "day", F.explode(F.array(F.lit(0), F.lit(1))).alias("slot")
    )
    promos = slots.select(
        "day",
        F.when(F.col("slot") == 0, "am").otherwise("pm").alias("promo"),
        F.when(
            F.col("slot") == 0, F.col("day") + F.expr("INTERVAL 9 HOURS")
        ).otherwise(F.col("day") + F.expr("INTERVAL 14 HOURS")).alias("p_start"),
        F.when(
            F.col("slot") == 0, F.col("day") + F.expr("INTERVAL 12 HOURS")
        ).otherwise(F.col("day") + F.expr("INTERVAL 18 HOURS")).alias("p_end"),
    )
    joined = sess.join(maybe_broadcast(promos), "day").filter(
        (F.col("s_start") < F.col("p_end")) & (F.col("p_start") < F.col("s_end"))
    )
    return joined.select(
        "user_id",
        "day",
        "promo",
        (
            F.unix_micros(F.least("s_end", "p_end"))
            - F.unix_micros(F.greatest("s_start", "p_start"))
        ).cast("bigint").alias("overlap_micros"),
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH eu AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    per_supp AS (
      SELECT l_partkey AS p_partkey, s_name, n_name,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      JOIN eu   ON l_suppkey = s_suppkey
      JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'STANDARD' AND p_size <= 15
      GROUP BY 1, 2, 3
    )
    SELECT p_partkey, s_name, n_name, unit_cost AS min_unit_cost
    FROM (SELECT *, min(unit_cost) OVER (PARTITION BY p_partkey) AS best
          FROM per_supp)
    WHERE unit_cost = best
    """,
    doc="TPC-H Q2 adaptation (no partsupp: supply cost stands in as the "
    "observed min unit price l_extendedprice/l_quantity per part+supplier). "
    "Groupwise-min achiever: agg to (part, supplier), window-min per part, "
    "keep the achieving suppliers (ties kept — deterministic).",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    )
    eu = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(table(spark, sf_dir, "region")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "n_name")
    )
    per_supp = (
        li.join(maybe_broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(maybe_broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    best = F.min("unit_cost").over(Window.partitionBy("p_partkey"))
    return (
        per_supp.withColumn("best", best)
        .filter(F.col("unit_cost") == F.col("best"))
        .select("p_partkey", "s_name", "n_name",
                F.col("unit_cost").alias("min_unit_cost"))
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH nat_value AS (
      SELECT l_partkey AS p_partkey,
             sum(l_extendedprice * l_quantity) AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY 1
    )
    SELECT p_partkey, part_value
    FROM nat_value
    WHERE part_value > (SELECT 2.0 * avg(part_value) FROM nat_value)
    """,
    doc="TPC-H Q11 adaptation (no partsupp: per-part 'stock value' is the "
    "shipped value sum(extendedprice*quantity) via NATION_7's suppliers). "
    "Importance threshold is MEAN-RELATIVE (> 2x the average part value) "
    "rather than TPC-H's fixed share-of-total: the spec scales its "
    "fraction by 1/SF precisely because a fixed share degenerates to an "
    "empty answer as the part population grows — the mean-relative form "
    "is the scale-free equivalent (verified non-degenerate at sf0.01 and "
    "sf0.1). Scalar subquery over the same aggregate, broadcast back as "
    "a 1-row literal join.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name") == "NATION_7")
        .select("s_suppkey")
    )
    nat_value = (
        li.join(maybe_broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("part_value"))
    )
    threshold = nat_value.agg(
        (F.lit(2.0) * F.avg("part_value")).alias("threshold")
    )
    # 1-row threshold broadcast: a BroadcastNestedLoopJoin over a scalar,
    # not a cartesian blow-up (same pattern as curate_dataset_mix).
    return (
        nat_value.join(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("p_partkey", "part_value")
    )


@register(
    "q12_priority_shipclass",
    oracle="""
    SELECT l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
    doc="TPC-H Q12 adaptation (no l_shipmode/commitdate: l_returnflag stands "
    "in as the ship class; 'late' = shipped >60 days after order date). "
    "Fact-fact equi-join on orderkey with conditional priority counts; the "
    "shipdate year filter is pushed to the lineitem scan.",
)
def q12_priority_shipclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#2'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q16 adaptation (no partsupp: lineitem is the part-supplier "
    "relation; negative-balance suppliers stand in for the complaints NOT "
    "IN). Broadcast dim filter + broadcast anti-join + count-distinct.",
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad_supp = table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(maybe_broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(maybe_broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "q20_heavy_shippers",
    oracle="""
    WITH pair AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    )
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_13')
      AND s_suppkey IN (
        SELECT l_suppkey FROM pair
        WHERE qty > (SELECT 2.0 * avg(qty) FROM pair)
          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      )
    """,
    doc="TPC-H Q20 adaptation (no partsupp availqty: a supplier is 'heavy' "
    "on a part if its 1996 shipped quantity exceeds 2x the global pair "
    "average). Semi-join chain: part-name filter -> pair agg vs scalar "
    "threshold -> semi join suppliers of two nations.",
)
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    pair = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("qty"))
    threshold = pair.agg((F.lit(2.0) * F.avg("qty")).alias("t"))
    small_parts = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    heavy = (
        pair.join(F.broadcast(threshold))
        .filter(F.col("qty") > F.col("t"))
        .join(maybe_broadcast(small_parts), F.col("l_partkey") == F.col("p_partkey"),
              "left_semi")
        .select("l_suppkey")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(table(spark, sf_dir, "nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_3", "NATION_13"))
    )
    return persist_until_collected(
        pair,
        supp.join(
            maybe_broadcast(heavy),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        ).select("s_name", "n_name"),
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders   ON l1.l_orderkey = o_orderkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 adaptation ('late' = shipped >90 days after order date, "
    "orders with final status). The double EXISTS/NOT-EXISTS self-"
    "correlation is reformulated Spark-first as ONE per-order aggregation "
    "(distinct suppliers + distinct late suppliers), then a filter for "
    "orders with >=2 suppliers where exactly one supplier — this one — was "
    "late. One orderkey shuffle instead of two self-joins; the oracle keeps "
    "the textbook EXISTS form to prove the reformulation equivalent.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_f = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("late", F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 90 DAYS"))
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    # Both sides of this join are already hash-partitioned on l_orderkey by
    # the upstream join/agg — AQE plans it without an extra exchange.
    cand = (
        li.filter(F.col("late"))
        .join(per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)),
              "l_orderkey")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return persist_until_collected(li, (
        cand.join(maybe_broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    ))


# ---------------------------------------------------------------------------
# customer_churn_rates — per-nation churn against a recency horizon
# ---------------------------------------------------------------------------


@register(
    "customer_churn_rates",
    oracle="""
    WITH last AS (
      SELECT o_custkey, max(o_orderdate) AS last_order
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    hz AS (SELECT max(o_orderdate) AS horizon FROM orders),
    j AS (
      SELECT c.c_nationkey,
             CAST(date_diff('day', CAST(l.last_order AS DATE),
                            CAST(h.horizon AS DATE)) AS BIGINT) AS recency
      FROM last l
      JOIN customer c ON c.c_custkey = l.o_custkey
      CROSS JOIN hz h
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_active_customers,
           CAST(sum(CASE WHEN recency > 180 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned,
           CAST(1000000000 * sum(CASE WHEN recency > 180 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS churn_ppb,
           CAST(sum(recency) // count(*) AS BIGINT) AS avg_recency_days
    FROM j
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
    doc="Churn rate per nation: customers whose LAST order predates the "
    "data horizon by more than 180 days, over customers who ever "
    "ordered — the recency cut of customer_rfm_segments promoted to a "
    "cohort health metric, with average recency alongside (a nation "
    "can have low churn but drifting recency — the leading "
    "indicator). The horizon is the data's own max date (1-row "
    "broadcast scalar), so the metric is reproducible on any "
    "snapshot; rates are non-negative ppb floor-divisions. One "
    "per-customer rollup (keyed), one broadcast dim join, one "
    "25-group aggregate.",
)
def customer_churn_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    last = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order")
    )
    hz = o.agg(F.max("o_orderdate").alias("horizon"))
    j = (
        last.join(c, last.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(hz))
        .select(
            "c_nationkey",
            F.datediff(
                F.col("horizon").cast("date"),
                F.col("last_order").cast("date"),
            )
            .cast("bigint")
            .alias("recency"),
        )
    )
    return (
        j.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active_customers"),
            F.sum(F.when(F.col("recency") > 180, 1).otherwise(0))
            .cast("bigint")
            .alias("n_churned"),
            F.expr(
                "CAST(1000000000 * sum(CASE WHEN recency > 180 THEN 1"
                " ELSE 0 END) div count(*) AS BIGINT)"
            ).alias("churn_ppb"),
            F.expr(
                "CAST(sum(recency) div count(*) AS BIGINT)"
            ).alias("avg_recency_days"),
        )
        .orderBy("c_nationkey")
    )
