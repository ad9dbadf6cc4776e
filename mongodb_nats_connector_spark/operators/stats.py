"""Statistical aggregates (``agg_*``): hypothesis tests, rank statistics,
distribution fits, inequality and agreement measures, sketches.

Each query reads the TPC-H and ``events`` tables and returns a small scalar or
per-group result that its DuckDB oracle reproduces bit for bit under the
rules in the package docstring (``operators/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.operators.events import CUPED_SPLIT_DAYS
from mongodb_nats_connector_spark.operators.graph_common import HLL_P, md5_hash60
from mongodb_nats_connector_spark.operators.graph_common import HLL_ALPHA as _HLL_ALPHA
from mongodb_nats_connector_spark.operators.graph_common import HLL_M as _HLL_M
from mongodb_nats_connector_spark.operators.graph_common import HLL_POW as _HLL_POW
from mongodb_nats_connector_spark.operators.graph_common import (
    HLL_REST_BITS as _HLL_REST_BITS,
)
from mongodb_nats_connector_spark.plans.caching import (
    persist_until_collected,
    release_on_gc,
)
from mongodb_nats_connector_spark.plans.hints import maybe_broadcast
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


@register(
    "agg_weighted_median",
    oracle="""
    WITH per_value AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, price, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY price
               ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM per_value
    )
    SELECT l_returnflag,
           min(price) FILTER (WHERE 2 * cw >= tw) AS weighted_median_price,
           CAST(max(tw) AS BIGINT) AS total_weight
    FROM cum
    GROUP BY l_returnflag
    """,
    doc="Exact weighted median (lower weighted median: smallest value whose "
    "cumulative weight reaches half the total) of extended price weighted "
    "by quantity, per return flag. Scale shape: weights pre-aggregate per "
    "(group, value) — bounded by the value domain — BEFORE the ordered "
    "window, so the window sees the reduced relation, not the fact table. "
    "Quantities are integral; casting to BIGINT makes every cumulative sum "
    "exact, so the crossing row is engine-independent.",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    per_value = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("w"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("l_returnflag")
    cum = per_value.select(
        "l_returnflag",
        "price",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("price"))).alias(
            "weighted_median_price"
        ),
        F.max("tw").cast("bigint").alias("total_weight"),
    )


# Count-Min sketch parameters: d=4 universal-hash rows, width 256.
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_PRIME = 2147483647
CMS_A = (999331, 87251, 412021, 65537)
CMS_B = (12345, 54321, 7, 999983)


def _cms_values_sql() -> str:
    rows = ", ".join(
        f"({d}, {CMS_A[d]}, {CMS_B[d]})" for d in range(CMS_DEPTH)
    )
    return f"(VALUES {rows}) par(d, a, b)"


@register(
    "agg_heavy_hitters_cms",
    oracle=f"""
    WITH par AS (SELECT * FROM {_cms_values_sql()}),
    sketch AS (
      SELECT d, ((a * l_suppkey + b) % {CMS_PRIME}) % {CMS_WIDTH} AS slot,
             count(*) AS c
      FROM lineitem CROSS JOIN par
      GROUP BY 1, 2
    ),
    keys AS (
      SELECT l_suppkey, count(*) AS true_count FROM lineitem GROUP BY 1
    ),
    est AS (
      SELECT k.l_suppkey,
             min(s.c) AS est_count,
             min(k.true_count) AS true_count
      FROM keys k
      CROSS JOIN par p
      JOIN sketch s
        ON s.d = p.d
       AND s.slot = ((p.a * k.l_suppkey + p.b) % {CMS_PRIME}) % {CMS_WIDTH}
      GROUP BY 1
    )
    SELECT l_suppkey, CAST(est_count AS BIGINT) AS est_count,
           CAST(true_count AS BIGINT) AS true_count
    FROM est ORDER BY est_count DESC, l_suppkey LIMIT 20
    """,
    doc=f"Top-20 heavy hitters on lineitem.l_suppkey via a Count-Min sketch "
    f"({CMS_DEPTH}×{CMS_WIDTH} counters, universal hashing mod "
    f"{CMS_PRIME}): the sketch builds in one partial-aggregated shuffle, "
    "is small enough to broadcast, and the per-key estimate is the min "
    "across depths (never under the true count). true_count rides along "
    "to exhibit the overestimate bound.",
)
def agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_suppkey")
    a_arr = F.array(*[F.lit(x) for x in CMS_A])
    b_arr = F.array(*[F.lit(x) for x in CMS_B])

    def slot(key_col, d_col):
        a = F.element_at(a_arr, d_col + 1).cast("bigint")
        b = F.element_at(b_arr, d_col + 1).cast("bigint")
        return ((a * key_col + b) % CMS_PRIME) % CMS_WIDTH

    depths = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d")
    sketch = (
        li.select(F.col("l_suppkey"), depths)
        .select("d", slot(F.col("l_suppkey"), F.col("d")).alias("slot"))
        .groupBy("d", "slot")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    keys = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("true_count"))
    key_slots = keys.select(
        "l_suppkey", "true_count", depths
    ).withColumn("slot", slot(F.col("l_suppkey"), F.col("d")))
    est = (
        key_slots.join(F.broadcast(sketch), ["d", "slot"])
        .groupBy("l_suppkey")
        .agg(
            F.min("c").cast("bigint").alias("est_count"),
            F.min("true_count").cast("bigint").alias("true_count"),
        )
    )
    return est.orderBy(F.desc("est_count"), "l_suppkey").limit(20)


# ---------------------------------------------------------------------------
# agg_bitmap_distinct — exact count-distinct via chunked 64-bit bitmaps
# ---------------------------------------------------------------------------

BITMAP_CHUNK_BITS = 63  # bits 0..62 only: identical two's-complement-free
# semantics in Spark and DuckDB (bit 63 would flip the BIGINT sign)


@register(
    "agg_bitmap_distinct",
    oracle=f"""
    WITH chunks AS (
      SELECT event_type, user_id // {BITMAP_CHUNK_BITS} AS bucket,
             bit_or(CAST(1 AS BIGINT)
                    << CAST(user_id % {BITMAP_CHUNK_BITS} AS INT)) AS bm
      FROM events
      WHERE user_id >= 0
      GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(bit_count(bm)) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM chunks GROUP BY event_type
    """,
    doc="EXACT distributed count-distinct via chunked bitmaps — the "
    "warehouse-standard alternative to ``agg_count_distinct``'s "
    "expand-every-value shuffle when the key domain is dense integers: "
    f"each (group, id DIV {BITMAP_CHUNK_BITS}) chunk ORs the id's bit into "
    "a single BIGINT, so map-side partial aggregation collapses every "
    "occurrence of a chunk to 8 bytes before the exchange, and the final "
    "count is sum(bit_count(chunk)). Shuffled bytes are proportional to "
    "the DISTINCT population (one long per 63 ids), not to row count — at "
    "100 TB with billions of duplicate key references this is orders of "
    "magnitude less exchange than exact count-distinct, with none of "
    "HLL's error. Chunks use bits 0..62 so the two's-complement sign bit "
    "never differs between engines; ids must be nonnegative (filtered explicitly, NULLs drop with them).",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # the bitmap contract requires dense NONNEGATIVE ids: a negative id
    # would shift by a negative count (engine-divergent: Spark masks the
    # count, DuckDB errors) and a NULL id would create a phantom NULL
    # bucket inflating n_buckets — filter both out explicitly (NULL fails
    # >= 0 too), mirrored in the oracle
    ev = ev.filter(F.col("user_id") >= 0)
    chunks = ev.select(
        "event_type",
        F.expr(f"user_id DIV {BITMAP_CHUNK_BITS}").alias("bucket"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(user_id % {BITMAP_CHUNK_BITS} AS INT))"
        ).alias("bit"),
    ).groupBy("event_type", "bucket").agg(F.bit_or("bit").alias("bm"))
    return chunks.groupBy("event_type").agg(
        F.sum(F.bit_count("bm")).cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )


@register(
    "agg_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             count(DISTINCT value) AS ndv,
             avg(value) AS mean_v,
             var_samp(value) AS var_v
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY 1
    ),
    p AS (SELECT n, ndv, mean_v, var_v FROM s WHERE event_type = 'purchase'),
    c AS (SELECT n, ndv, mean_v, var_v FROM s WHERE event_type = 'click')
    SELECT CAST(p.n AS BIGINT) AS n_purchase, CAST(c.n AS BIGINT) AS n_click,
           round(p.mean_v, 4) AS mean_purchase,
           round(c.mean_v, 4) AS mean_click,
           CASE WHEN p.ndv > 1 OR c.ndv > 1 THEN
             round((p.mean_v - c.mean_v)
                   / sqrt(p.var_v / p.n + c.var_v / c.n), 4)
           END AS welch_t
    FROM p CROSS JOIN c
    """,
    doc="Welch two-sample t statistic between purchase and click event "
    "values: ONE pushed-filter scan, conditional aggregation per group "
    "(count/mean/var_samp all partial-aggregate map-side), then pure "
    "arithmetic on the two 1-row summaries. The A/B-test primitive — at "
    "100 TB the whole query is a single map-combined shuffle of 2 keys. "
    "Both-groups-constant inputs (pooled variance 0) emit NULL t via an "
    "exact-integer distinct-count guard on both engines — never an x/0 "
    "whose NULL-vs-Inf result is a DuckDB-version coin flip.",
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE conditional-aggregation scan, no join: avg/var_samp over
    # when(cond, value) skip the nulls, so each group's moments compute
    # from the same pass (aggregate-FILTER semantics without a groupBy).
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    cv = F.when(F.col("event_type") == "click", F.col("value"))
    agg = ev.agg(
        # count ROWS per group (the oracle's count(*)), not non-null values:
        # a NULL-valued purchase row must still count toward n
        F.count_if(F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("n_purchase"),
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("n_click"),
        F.avg(pv).alias("mean_p"),
        F.avg(cv).alias("mean_c"),
        F.var_samp(pv).alias("var_p"),
        F.var_samp(cv).alias("var_c"),
        F.count_distinct(pv).alias("ndv_p"),
        F.count_distinct(cv).alias("ndv_c"),
    )
    return agg.select(
        "n_purchase",
        "n_click",
        F.round("mean_p", 4).alias("mean_purchase"),
        F.round("mean_c", 4).alias("mean_click"),
        F.when(
            (F.col("ndv_p") > 1) | (F.col("ndv_c") > 1),
            F.round(
                (F.col("mean_p") - F.col("mean_c"))
                / F.sqrt(
                    F.col("var_p") / F.col("n_purchase")
                    + F.col("var_c") / F.col("n_click")
                ),
                4,
            ),
        ).alias("welch_t"),
    ).filter(
        # empty-group parity: if either cohort is absent the oracle's
        # p CROSS JOIN c is ZERO rows, but Spark's global agg emits one
        # NULL-laden row — drop it so a degenerate fixture can't diverge
        (F.col("n_purchase") > 0) & (F.col("n_click") > 0)
    )


INCR_CUTOFF = "2001-01-01"


@register(
    "agg_incremental_merge",
    oracle=f"""
    WITH base AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             count(*) AS n, sum(o_totalprice) AS rev
      FROM orders
      WHERE o_orderdate < DATE '{INCR_CUTOFF}' OR o_orderdate IS NULL
      GROUP BY 1
    ),
    delta AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             count(*) AS n, sum(o_totalprice) AS rev
      FROM orders WHERE o_orderdate >= DATE '{INCR_CUTOFF}'
      GROUP BY 1
    ),
    merged AS (
      SELECT month, sum(n) AS n, sum(rev) AS rev
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY 1
    )
    SELECT month, CAST(n AS BIGINT) AS n_orders,
           round(rev, 2) AS revenue,
           round(rev / n, 4) AS avg_price
    FROM merged
    """,
    doc="Incremental aggregate maintenance: the historical partition "
    "reduces once to algebraic partials (count, sum) per month and the "
    "fresh delta partition reduces separately; the merged rollup — "
    "including the non-algebraic-looking avg — re-aggregates ONLY the "
    "partials. The nightly-ETL pattern at 100 TB: yesterday's partials "
    "are a stored table, today's delta is the only raw scan, and the "
    "merge shuffles rows proportional to the GROUP-key domain, not the "
    "fact table. Both scans push their date predicate to parquet.",
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cutoff = F.lit(INCR_CUTOFF).cast("date")

    def partials(df):
        return df.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("rev"),
        )

    # NULL dates satisfy neither predicate and would vanish from the merge,
    # breaking merged == full-recompute; route them to the base partition
    base = partials(
        o.filter((F.col("o_orderdate") < cutoff) | F.col("o_orderdate").isNull())
    )
    delta = partials(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("month")
        .agg(F.sum("n").alias("n"), F.sum("rev").alias("rev"))
    )
    return merged.select(
        "month",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.col("n"), 4).alias("avg_price"),
    )


@register(
    "agg_chi_square",
    oracle="""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             count(*) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    margins AS (
      SELECT seg, sum(n) AS seg_n FROM obs GROUP BY 1
    ),
    pmargins AS (
      SELECT pri, sum(n) AS pri_n FROM obs GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(min(total) AS BIGINT) AS n_obs,
           round(sum(pow(n - seg_n * pri_n * 1.0 / total, 2)
                     / (seg_n * pri_n * 1.0 / total)), 4) AS chi_square
    FROM obs
    JOIN margins USING (seg)
    JOIN pmargins USING (pri)
    CROSS JOIN tot
    """,
    doc="Chi-square independence test between customer market segment and "
    "order priority: the contingency table is ONE map-combined shuffle "
    "(orders join broadcast customer, groupBy cell), margins and the "
    "grand total derive from the tiny cell relation and broadcast back "
    "for the expected-count arithmetic. The categorical-association "
    "primitive next to agg_welch_ttest's numeric one; at 100 TB the only "
    "fact-sized work is the first aggregation.",
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    obs = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    margins = obs.groupBy("seg").agg(F.sum("n").alias("seg_n"))
    pmargins = obs.groupBy("pri").agg(F.sum("n").alias("pri_n"))
    tot = obs.agg(F.sum("n").alias("total"))
    # seg_n*pri_n in DOUBLE: the int64 product wraps once margins pass
    # ~3e9 rows (the oracle's *1.0 promotes the same way)
    expected = F.col("seg_n").cast("double") * F.col("pri_n") / F.col("total")
    return persist_until_collected(obs, (
        obs.join(F.broadcast(margins), "seg")
        .join(F.broadcast(pmargins), "pri")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.min("total").cast("bigint").alias("n_obs"),
            F.round(
                F.sum(F.pow(F.col("n") - expected, 2) / expected), 4
            ).alias("chi_square"),
        )
    ))


# ---------------------------------------------------------------------------
# agg_kmv_distinct_setops — K-Minimum-Values sketch union/intersection
# ---------------------------------------------------------------------------

KMV_K = 64
_KMV_M = float(1 << 60)  # hash domain size: 60-bit md5-derived values
_KMV_A, _KMV_B = "click", "purchase"


@register(
    "agg_kmv_distinct_setops",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type AS t,
             CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS BIGINT) AS h
      FROM events WHERE event_type IN ('{_KMV_A}', '{_KMV_B}')
        AND user_id IS NOT NULL
    ),
    sketch AS (
      SELECT t, h, rn FROM (
        SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
        FROM h
      ) WHERE rn <= {KMV_K}
    ),
    ka AS (SELECT max(rn) AS n, max(h) AS hk FROM sketch WHERE t = '{_KMV_A}'),
    kb AS (SELECT max(rn) AS n, max(h) AS hk FROM sketch WHERE t = '{_KMV_B}'),
    usketch AS (
      SELECT h, rn FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM sketch)
      ) WHERE rn <= {KMV_K}
    ),
    ku AS (SELECT max(rn) AS n, max(h) AS hk FROM usketch),
    inter AS (
      SELECT CAST(count(*) AS BIGINT) AS m FROM usketch u
      WHERE EXISTS (SELECT 1 FROM sketch s
                    WHERE s.t = '{_KMV_A}' AND s.h = u.h)
        AND EXISTS (SELECT 1 FROM sketch s
                    WHERE s.t = '{_KMV_B}' AND s.h = u.h)
    ),
    ex AS (
      SELECT
        count(DISTINCT CASE WHEN event_type = '{_KMV_A}' THEN user_id END)
          AS exact_a,
        count(DISTINCT CASE WHEN event_type = '{_KMV_B}' THEN user_id END)
          AS exact_b,
        count(DISTINCT user_id) AS exact_union
      FROM events WHERE event_type IN ('{_KMV_A}', '{_KMV_B}')
    ),
    exi AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
        SELECT user_id FROM events WHERE event_type = '{_KMV_A}'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = '{_KMV_B}'
      )
    )
    SELECT
      CASE WHEN ka.n < {KMV_K} THEN ka.n
           ELSE CAST(round(({KMV_K} - 1) * {_KMV_M!r} / ka.hk) AS BIGINT)
      END AS est_a,
      CASE WHEN kb.n < {KMV_K} THEN kb.n
           ELSE CAST(round(({KMV_K} - 1) * {_KMV_M!r} / kb.hk) AS BIGINT)
      END AS est_b,
      CASE WHEN ku.n < {KMV_K} THEN ku.n
           ELSE CAST(round(({KMV_K} - 1) * {_KMV_M!r} / ku.hk) AS BIGINT)
      END AS est_union,
      CAST(round(inter.m * (
        CASE WHEN ku.n < {KMV_K} THEN ku.n
             ELSE round(({KMV_K} - 1) * {_KMV_M!r} / ku.hk)
        END) * 1.0 / ku.n) AS BIGINT) AS est_inter,
      CAST(ex.exact_a AS BIGINT) AS exact_a,
      CAST(ex.exact_b AS BIGINT) AS exact_b,
      CAST(ex.exact_union AS BIGINT) AS exact_union,
      exi.exact_inter AS exact_inter
    FROM ka, kb, ku, inter, ex, exi
    """,
    doc=f"K-Minimum-Values distinct sketches (k={KMV_K}) for two event "
    "cohorts, with the sketch algebra HyperLogLog lacks: the union sketch "
    "is the k smallest of the merged sketches, and the intersection is "
    "estimated by Jaccard-on-the-union-sketch (fraction of union-sketch "
    "members present in both input sketches, scaled by the union estimate). "
    "The hash is the 60-bit md5 prefix both engines compute identically, so "
    "even the ESTIMATES hash-verify — rare for an approximate operator. "
    "Exact counterparts ride along for calibration. Plan: one distinct over "
    "(cohort, hash) with map-side combine, then every relation is "
    f"sketch-sized (<= {KMV_K} rows) — at 100 TB only (cohort, 8-byte hash) "
    "pairs shuffle, and per-partition pre-aggregation means each partition "
    "contributes at most k survivors; the driver-side state is O(k).",
)
def agg_kmv_distinct_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KMV_A, _KMV_B)
    )
    # NULL user_id would hash to a NULL sketch member that Spark's
    # row_number orders FIRST while DuckDB orders it LAST — drop it before
    # it can evict the k-th real hash (mirrors agg_bitmap_distinct)
    h = ev.filter(F.col("user_id").isNotNull()).select(
        F.col("event_type").alias("t"),
        md5_hash60(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    sk_w = Window.partitionBy("t").orderBy("h")
    sketch = (
        h.withColumn("rn", F.row_number().over(sk_w))
        .filter(F.col("rn") <= KMV_K)
    )

    # r14 optimization: the former 6 crossJoined 1-row subplans (ka, kb,
    # ku, m, ex, exi — six serial broadcast-build jobs per execution, with
    # exi adding an intersect shuffle and two extra event scans) fold into
    # THREE, each producing identical values:
    #  - kab: both cohort tails from ONE pass over the cached sketch
    #    (max of a when() == max over the filtered cohort)
    #  - kum: union-sketch tail + sketch-intersection m from ONE pass
    #    (membership flags per h replace the two semi-joins)
    #  - exall: all four exact counts from ONE per-user membership
    #    aggregation (count of users with a == countDistinct when(a);
    #    the NULL user_id group is kept ONLY for exact_inter, mirroring
    #    intersect's NULL-matching vs countDistinct's NULL-skipping)
    kab = sketch.agg(
        F.max(F.when(F.col("t") == _KMV_A, F.col("rn")))
        .cast("bigint")
        .alias("na"),
        F.max(F.when(F.col("t") == _KMV_A, F.col("h"))).alias("hka"),
        F.max(F.when(F.col("t") == _KMV_B, F.col("rn")))
        .cast("bigint")
        .alias("nb"),
        F.max(F.when(F.col("t") == _KMV_B, F.col("h"))).alias("hkb"),
    )
    usketch = (
        sketch.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= KMV_K)
    )
    mem = sketch.groupBy("h").agg(
        F.max((F.col("t") == _KMV_A).cast("int")).alias("_ina"),
        F.max((F.col("t") == _KMV_B).cast("int")).alias("_inb"),
    )
    kum = usketch.join(maybe_broadcast(mem), "h").agg(
        F.max("rn").cast("bigint").alias("nu"),
        F.max("h").alias("hku"),
        F.count(
            F.when((F.col("_ina") == 1) & (F.col("_inb") == 1), F.lit(1))
        )
        .cast("bigint")
        .alias("m"),
    )
    peru = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == _KMV_A).cast("int")).alias("_a"),
        F.max((F.col("event_type") == _KMV_B).cast("int")).alias("_b"),
    )
    nn = F.col("user_id").isNotNull()
    exall = peru.agg(
        F.count(F.when((F.col("_a") == 1) & nn, F.lit(1)))
        .cast("bigint")
        .alias("exact_a"),
        F.count(F.when((F.col("_b") == 1) & nn, F.lit(1)))
        .cast("bigint")
        .alias("exact_b"),
        F.count(F.when(nn, F.lit(1))).cast("bigint").alias("exact_union"),
        F.count(F.when((F.col("_a") == 1) & (F.col("_b") == 1), F.lit(1)))
        .cast("bigint")
        .alias("exact_inter"),
    )

    def _est(n_col: str, hk_col: str):
        return F.when(F.col(n_col) < KMV_K, F.col(n_col)).otherwise(
            F.round(F.lit(float(KMV_K - 1)) * F.lit(_KMV_M) / F.col(hk_col))
            .cast("bigint")
        )

    est_union_d = F.when(
        F.col("nu") < KMV_K, F.col("nu").cast("double")
    ).otherwise(F.round(F.lit(float(KMV_K - 1)) * F.lit(_KMV_M) / F.col("hku")))
    out = (
        kab.crossJoin(F.broadcast(kum))
        .crossJoin(F.broadcast(exall))
        .select(
            _est("na", "hka").alias("est_a"),
            _est("nb", "hkb").alias("est_b"),
            _est("nu", "hku").alias("est_union"),
            F.round(F.col("m") * est_union_d / F.col("nu"))
            .cast("bigint")
            .alias("est_inter"),
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_inter",
        )
    )
    # the lazy plan references the per-cohort sketch 5x and the union sketch
    # 2x: result-scoped persists keep them single-computed per execution
    # without eagerly running jobs at build time (lineage stays visible to
    # the plan lint; caches release when the caller drops the result)
    return persist_until_collected(
        sketch, persist_until_collected(usketch, out)
    )


# ---------------------------------------------------------------------------
# agg_hll_registers — engine-exact HyperLogLog with group merge
# (register mapping + constants live in graph_common.hll_reg_rows so the
# streaming merge can import them without @register side effects)
# ---------------------------------------------------------------------------


@register(
    "agg_hll_registers",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type AS cohort,
        CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '@' ||
             CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 15) AS BIGINT) AS BIGINT)
          AS h
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    reg AS (
      SELECT cohort, h & {_HLL_M - 1} AS bucket,
             CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_REST_BITS + 1}
                  ELSE {_HLL_REST_BITS + 1} - length(bin(h >> {HLL_P}))
             END AS rho
      FROM h
    ),
    regs AS (
      SELECT cohort, bucket, max(rho) AS r FROM reg GROUP BY cohort, bucket
      UNION ALL
      SELECT 'ALL', bucket, max(rho) FROM reg GROUP BY bucket
    ),
    s AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_registers,
             CAST(({_HLL_M} - count(*)) AS BIGINT) * {_HLL_POW} +
             CAST(sum(CAST(1 AS BIGINT) << ({_HLL_REST_BITS + 1} - r))
                  AS BIGINT) AS z_int
      FROM regs GROUP BY cohort
    ),
    e AS (
      SELECT cohort, n_registers,
             CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}
               * {float(_HLL_POW)!r} / z_int AS raw
      FROM s
    ),
    ex AS (
      SELECT event_type AS cohort,
             CAST(count(DISTINCT (user_id, CAST(ts AS DATE))) AS BIGINT)
               AS exact_userdays
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY event_type
      UNION ALL
      SELECT 'ALL',
             CAST(count(DISTINCT (user_id, CAST(ts AS DATE))) AS BIGINT)
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT e.cohort, e.n_registers,
           CAST(round(CASE WHEN raw <= 2.5 * {_HLL_M}
                            AND n_registers < {_HLL_M}
                      THEN {_HLL_M} * ln({float(_HLL_M)!r} /
                                         ({_HLL_M} - n_registers))
                      ELSE raw END) AS BIGINT) AS est_userdays,
           ex.exact_userdays
    FROM e JOIN ex ON ex.cohort = e.cohort
    """,
    doc=f"HyperLogLog with ENGINE-EXACT registers (p={HLL_P}, m={_HLL_M}): "
    "the 60-bit md5 hash both engines share splits into bucket and rank "
    "(rho via binary length — no float log), the register array is "
    "max-per-bucket, and Z = sum 2^-rho is accumulated as a SCALED BIGINT "
    "(2^53-rho), so the only float ops are one division and the standard "
    "small-range ln correction — the estimate itself hash-verifies against "
    "DuckDB, which a native HLL (Spark's approx_count_distinct) cannot. "
    "Cohorts are per-event-type user-days, and the 'ALL' row demonstrates "
    "the merge property: max of the cohort registers, never a re-scan of "
    "the union. Plan (r14): ONE map-side-deduplicated distinct over "
    "(cohort, user_id, day) feeds the register max AND both exact "
    "countDistinct columns — the fact is scanned once, not three times; "
    "register max absorbs any residual duplicates exactly as before, and "
    "after the distinct everything is register- or cohort-sized. At 100 "
    "TB each partition emits at most m register partials per cohort: the "
    "standard two-level HLL aggregation tree in DataFrame form. The same register mapping "
    "(hll_reg_rows) feeds the streaming merge in streaming/windows.py, "
    "where max-idempotence gives exactly-once estimates under "
    "at-least-once replay.",
)
def agg_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.graph_common import (
        hll_reg_rows_from_userdays,
    )

    ev = table(spark, sf_dir, "events")
    # r14 optimization: ONE distinct pass over the fact feeds registers
    # AND both exact counts (formerly three full scans: register rows +
    # two countDistinct aggregations). md5 is pure in (user_id, day), so
    # registers from the deduplicated relation are identical — register
    # max absorbed the duplicates before; the exact counts needed this
    # distinct shuffle anyway, and now it happens once.
    d = (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.col("event_type").alias("cohort"),
            "user_id",
            F.col("ts").cast("date").alias("day"),
        )
        .distinct()
        .persist()
    )
    reg = hll_reg_rows_from_userdays(d)
    per = reg.groupBy("cohort", "bucket").agg(F.max("rho").alias("r"))
    # the 'ALL' row is the true register MERGE — max of the per-cohort
    # registers, never a second scan of the fact-level reg relation (per
    # is persisted for the result's lifetime at the return below, so the
    # fact table is scanned once)
    merged = per.groupBy("bucket").agg(F.max("r").alias("r")).select(
        F.lit("ALL").alias("cohort"), "bucket", "r"
    )
    regs = per.select("cohort", "bucket", "r").unionAll(merged)
    # shiftleft's bit-count arg must be a literal in the classic column API;
    # the per-row shift comes from SQL expr instead
    z_term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_REST_BITS + 1} - r)")
    s = regs.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_registers"),
        (
            (F.lit(_HLL_M) - F.count(F.lit(1))).cast("bigint") * F.lit(_HLL_POW)
            + F.sum(z_term).cast("bigint")
        ).alias("z_int"),
    )
    raw = (
        F.lit(_HLL_ALPHA)
        * F.lit(_HLL_M * _HLL_M)
        * F.lit(float(_HLL_POW))
        / F.col("z_int")
    )
    est = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("n_registers") < _HLL_M),
        F.round(
            F.lit(_HLL_M)
            * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("n_registers")))
        ),
    ).otherwise(F.round(raw))
    # exact counts straight off the distinct relation: per-cohort count ==
    # countDistinct(user_id, day) per cohort; the ALL row re-distincts the
    # (already deduplicated) user-day projection — a much smaller relation
    # than the fact it used to re-scan
    ex_per = d.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_userdays")
    )
    ex_all = (
        d.select("user_id", "day")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_userdays"))
        .select(F.lit("ALL").alias("cohort"), "exact_userdays")
    )
    ex = ex_per.unionAll(ex_all)
    return persist_until_collected(
        d,
        persist_until_collected(
            per,
            s.join(maybe_broadcast(ex), "cohort").select(
                "cohort",
                "n_registers",
                est.cast("bigint").alias("est_userdays"),
                "exact_userdays",
            ),
        ),
    )


# ---------------------------------------------------------------------------
# agg_log2_histogram_quantiles — HDR-style power-of-2 latency buckets
# ---------------------------------------------------------------------------

_LOG2_SCALE = 100  # centi-unit fixed point: value 6.55 -> tick 655


@register(
    "agg_log2_histogram_quantiles",
    oracle=f"""
    WITH t AS (
      SELECT greatest(CAST(round(value * {_LOG2_SCALE}) AS BIGINT), 1)
               AS tick
      FROM events WHERE value > 0
    ),
    b AS (
      SELECT length(bin(tick)) AS bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM t GROUP BY 1
    ),
    n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM b),
    c AS (
      SELECT bucket, cnt,
             CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum
      FROM b
    )
    SELECT c.bucket,
           round((CAST(1 AS BIGINT) << (c.bucket - 1)) * 1.0
                 / {_LOG2_SCALE}, 2) AS lo,
           round(((CAST(1 AS BIGINT) << c.bucket) - 1) * 1.0
                 / {_LOG2_SCALE}, 2) AS hi,
           c.cnt, c.cum,
           (c.cum - c.cnt) * 2 < n.n AND c.cum * 2 >= n.n AS is_p50_bucket,
           (c.cum - c.cnt) * 10 < n.n * 9 AND c.cum * 10 >= n.n * 9
             AS is_p90_bucket,
           (c.cum - c.cnt) * 100 < n.n * 99 AND c.cum * 100 >= n.n * 99
             AS is_p99_bucket
    FROM c, n
    """,
    doc="HDR-histogram-style latency profile: positive measurements quantize "
    f"to 1/{_LOG2_SCALE} ticks and bucket by power of two (bucket = bit "
    "length of the tick — an integer op, no float log), the mergeable "
    "fixed-width sketch behind every production latency dashboard. "
    "Cumulative counts mark which bucket contains p50/p90/p99 with pure "
    "integer comparisons (cum crossing q*n), so the row set is engine-"
    "exact. Plan: one map-side-combined groupBy over the facts into at "
    "most 64 buckets; the cumulative window and the 1-row total run on the "
    "bucket-sized aggregate. Merging shards or days = summing bucket "
    "counts — the same merge contract as the KMV/HLL sketches.",
)
def agg_log2_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("value") > 0)
    # sub-half-tick positives clamp to tick 1 (bucket 1's true floor),
    # instead of tick 0 silently aliasing into bucket 1 via bin(0)
    t = ev.select(
        F.greatest(
            F.round(F.col("value") * _LOG2_SCALE).cast("bigint"), F.lit(1)
        ).alias("tick")
    )
    b = t.groupBy(F.length(F.bin("tick")).alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    n = b.agg(F.sum("cnt").cast("bigint").alias("n"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    c = b.select("bucket", "cnt", F.sum("cnt").over(w).cast("bigint").alias("cum"))
    prev = F.col("cum") - F.col("cnt")

    def _is_bucket(num: int, den: int):
        return (prev * den < F.col("n") * num) & (
            F.col("cum") * den >= F.col("n") * num
        )

    lo = F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
    hi = F.expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1")
    return c.crossJoin(F.broadcast(n)).select(
        "bucket",
        F.round(lo / _LOG2_SCALE, 2).alias("lo"),
        F.round(hi / _LOG2_SCALE, 2).alias("hi"),
        "cnt",
        "cum",
        _is_bucket(1, 2).alias("is_p50_bucket"),
        _is_bucket(9, 10).alias("is_p90_bucket"),
        _is_bucket(99, 100).alias("is_p99_bucket"),
    )


# ---------------------------------------------------------------------------
# agg_ks_test — two-sample Kolmogorov-Smirnov statistic
# ---------------------------------------------------------------------------

_KS_G1, _KS_G2 = "F", "O"
_KS_COEF_05 = 1.3581015157406195  # sqrt(-ln(0.05/2)/2): alpha = 0.05


@register(
    "agg_ks_test",
    oracle=f"""
    WITH x AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderstatus = '{_KS_G1}' THEN 1 ELSE 0 END AS g1,
             CASE WHEN o_orderstatus = '{_KS_G2}' THEN 1 ELSE 0 END AS g2
      FROM orders WHERE o_orderstatus IN ('{_KS_G1}', '{_KS_G2}')
    ),
    n AS (
      SELECT CAST(sum(g1) AS BIGINT) AS n1, CAST(sum(g2) AS BIGINT) AS n2
      FROM x
    ),
    c AS (
      SELECT CAST(sum(g1) OVER (ORDER BY v) AS BIGINT) AS c1,
             CAST(sum(g2) OVER (ORDER BY v) AS BIGINT) AS c2
      FROM x
    )
    SELECT any_value(n.n1) AS n1, any_value(n.n2) AS n2,
           round(max(abs(c.c1 * 1.0 / n.n1 - c.c2 * 1.0 / n.n2)), 6)
             AS ks_d,
           round(CAST({_KS_COEF_05!r} AS DOUBLE)
                 * sqrt(1.0 / any_value(n.n1) + 1.0 / any_value(n.n2)), 6)
             AS crit_05,
           max(abs(c.c1 * 1.0 / n.n1 - c.c2 * 1.0 / n.n2)) >
             CAST({_KS_COEF_05!r} AS DOUBLE)
             * sqrt(1.0 / any_value(n.n1) + 1.0 / any_value(n.n2))
             AS reject_05
    FROM c, n
    """,
    doc=f"Two-sample Kolmogorov-Smirnov test: D = sup |ECDF_{_KS_G1} - "
    f"ECDF_{_KS_G2}| over order totals, with the alpha=0.05 critical value "
    "and reject decision — completing the statistical-test family next to "
    "Welch-t (means) and chi-square (frequencies) with the distribution-"
    "shape test. The default RANGE window frame makes ties contribute "
    "their full mass at each distinct value in BOTH engines, and each "
    "candidate |c1/n1 - c2/n2| is the same pair of exact-integer divisions "
    "on each engine, so the supremum (an order-independent max of "
    "identical doubles) is engine-exact, and neither D nor the critical "
    "value forms a count product, so nothing overflows at any scale. The global ordered window over fact rows "
    "is the documented single-partition cost — at 100 TB replace with the "
    "range-partitioned two-pass prefix sum (events_max_concurrency "
    "pattern), or bin values first (the log2 histogram) for a sketched D.",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin(_KS_G1, _KS_G2)
    )
    x = o.select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderstatus") == _KS_G1, 1).otherwise(0).alias("g1"),
        F.when(F.col("o_orderstatus") == _KS_G2, 1).otherwise(0).alias("g2"),
    )
    w = Window.orderBy("v")  # default RANGE frame: ties aggregate together
    c = x.select(
        F.sum("g1").over(w).cast("bigint").alias("c1"),
        F.sum("g2").over(w).cast("bigint").alias("c2"),
    )
    # n1/n2 fall out of the cumulative counts themselves (the last value
    # of a non-decreasing running count IS the group total), via a
    # full-frame window over the already-single-partition ordered relation
    # — so the fact table is scanned ONCE: no separate totals aggregate,
    # no crossJoin. The per-row division order matches the oracle exactly.
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ct = c.select(
        "c1",
        "c2",
        F.max("c1").over(w_all).alias("n1"),
        F.max("c2").over(w_all).alias("n2"),
    )
    d = F.abs(F.col("c1") / F.col("n1") - F.col("c2") / F.col("n2"))
    # sqrt(1/n1 + 1/n2): algebraically (n1+n2)/(n1*n2) but with no count
    # product, so it cannot overflow BIGINT at any scale
    crit = F.lit(_KS_COEF_05) * F.sqrt(
        F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2")
    )
    return ct.agg(
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
        F.round(F.max(d), 6).alias("ks_d"),
        F.round(F.first(crit), 6).alias("crit_05"),
        (F.max(d) > F.first(crit)).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# agg_mann_whitney — rank-sum test with tie correction
# ---------------------------------------------------------------------------

_MW_A, _MW_B = "purchase", "click"


@register(
    "agg_mann_whitney",
    oracle=f"""
    WITH s AS (
      SELECT value AS v, event_type AS t FROM events
      WHERE event_type IN ('{_MW_A}', '{_MW_B}') AND value IS NOT NULL
    ),
    g AS (
      SELECT v, count(*) AS cnt,
             sum(CASE WHEN t = '{_MW_A}' THEN 1 ELSE 0 END) AS cnt_a
      FROM s GROUP BY v
    ),
    r AS (
      SELECT cnt, cnt_a,
             2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS avg_rank2
      FROM g
    ),
    agg AS (
      SELECT CAST(sum(cnt_a) AS BIGINT) AS n1,
             CAST(sum(cnt - cnt_a) AS BIGINT) AS n2,
             CAST(count(*) AS BIGINT) AS n_distinct_v,
             CAST(sum(CAST(cnt_a AS HUGEINT) * avg_rank2) AS DOUBLE) / 2
               AS r1,
             CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS DOUBLE)
               AS tie_t
      FROM r
    )
    SELECT n1, n2,
           round(r1 - n1 * (n1 + 1) / 2.0, 2) AS u1,
           round(CAST(n1 AS DOUBLE) * n2 - (r1 - n1 * (n1 + 1) / 2.0), 2)
             AS u2,
           CASE WHEN n1 > 0 AND n2 > 0 AND n_distinct_v > 1 THEN
             round(((r1 - n1 * (n1 + 1) / 2.0) - CAST(n1 AS DOUBLE) * n2 / 2)
                   / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0 *
                          ((n1 + n2 + 1) - tie_t /
                           (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 4)
           END AS z
    FROM agg
    """,
    doc="Mann-Whitney U rank-sum test (purchase vs click values) with "
    "midrank tie handling and the tie-corrected normal approximation — the "
    "nonparametric sibling of agg_welch_ttest for skewed metrics. Ranks "
    "never materialize per row: grouping by distinct value first (map-side "
    "combine) makes the midrank a closed form over the ordered value-group "
    "relation (cumulative count window), so the fact table contributes one "
    "fine-grained shuffle and the ordered window touches only distinct "
    "values. U, and z round identically from identical double arithmetic. "
    "Degenerate inputs (one group empty, or every value identical — "
    "sigma = 0) emit NULL z via an exact-INTEGER guard on both engines: "
    "a float sigma > 0 test would hand DuckDB >= 1.1 a 0/0 NaN that "
    "compares greater-than where Spark yields NULL.",
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MW_A, _MW_B) & F.col("value").isNotNull()
    )
    g = ev.groupBy(F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("event_type") == _MW_A, 1).otherwise(0)
        ).alias("cnt_a"),
    )
    w = Window.orderBy("v")
    # DOUBLED midranks stay exact integers (2*cum - cnt + 1); the r1 and
    # tie_t sums accumulate as DECIMAL(38,0) (the oracle's HUGEINT) and
    # convert to double ONCE — an inexact double sum past 2^53 would be
    # partition-order-dependent and diverge cross-engine
    r = g.select(
        "cnt",
        "cnt_a",
        (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).alias("avg_rank2"),
    )
    agg = r.agg(
        F.sum("cnt_a").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_v"),
        (
            F.sum(
                F.col("cnt_a").cast("decimal(38,0)") * F.col("avg_rank2")
            ).cast("double")
            / 2
        ).alias("r1"),
        # exact integer accumulation (DECIMAL(38,0) = the oracle's HUGEINT):
        # cnt^3 terms pass 2^53 long before 100 TB, and an inexact double
        # sum is partition-order-dependent — cast to double ONCE at the end
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        )
        .cast("double")
        .alias("tie_t"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    n1d = F.col("n1").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    sigma = F.sqrt(
        n1d * F.col("n2") / 12.0
        * (
            (F.col("n1") + F.col("n2") + 1)
            - F.col("tie_t") / (nd * (F.col("n1") + F.col("n2") - 1))
        )
    )
    ok = (
        (F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("n_distinct_v") > 1)
    )
    return agg.select(
        "n1",
        "n2",
        F.round(u1, 2).alias("u1"),
        F.round(n1d * F.col("n2") - u1, 2).alias("u2"),
        F.when(
            ok, F.round((u1 - n1d * F.col("n2") / 2) / sigma, 4)
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# agg_benford_test — first-digit distribution vs Benford's law
# ---------------------------------------------------------------------------


@register(
    "agg_benford_test",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs)
    SELECT o.digit, o.n,
           round(o.n * 1.0 / t.total, 6) AS share,
           round(log10(1 + 1.0 / o.digit), 6) AS benford_share,
           round(pow(o.n - t.total * log10(1 + 1.0 / o.digit), 2)
                 / (t.total * log10(1 + 1.0 / o.digit)), 6) AS chi2_term
    FROM obs o CROSS JOIN tot t
    """,
    doc="Benford first-digit audit over order totals: observed leading-digit "
    "shares vs log10(1+1/d) with per-digit chi-square contributions — the "
    "classic synthetic-data / fraud / ingest-corruption screen. The digit "
    "comes from the INTEGER part formatted as a string (both engines print "
    "integers identically; float formatting would not be portable). One "
    "map-side-combined 9-key aggregation; everything after is 9-row math.",
)
def agg_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = obs.agg(F.sum("n").cast("bigint").alias("total"))
    bshare = F.log10(1 + 1.0 / F.col("digit"))
    # obs feeds both the total and the output join: persist the 9-row
    # relation so the orders scan+agg runs once
    return persist_until_collected(obs, obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n") * 1.0 / F.col("total"), 6).alias("share"),
        F.round(bshare, 6).alias("benford_share"),
        F.round(
            F.pow(F.col("n") - F.col("total") * bshare, 2)
            / (F.col("total") * bshare),
            6,
        ).alias("chi2_term"),
    ))


# ---------------------------------------------------------------------------
# agg_wilson_ci — Wilson score interval for monthly return rates
# ---------------------------------------------------------------------------

WILSON_Z = 1.96


@register(
    "agg_wilson_ci",
    oracle=f"""
    WITH m AS (
      SELECT date_trunc('month', l_shipdate) AS month,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month, n, r,
           round(r * 1.0 / n, 6) AS p_hat,
           round(((r * 1.0 / n) + {WILSON_Z} * {WILSON_Z} / (2.0 * n)
                  - {WILSON_Z} * sqrt((r * 1.0 / n) * (1 - r * 1.0 / n) / n
                    + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
                 / (1 + {WILSON_Z} * {WILSON_Z} / n), 6) AS ci_lo,
           round(((r * 1.0 / n) + {WILSON_Z} * {WILSON_Z} / (2.0 * n)
                  + {WILSON_Z} * sqrt((r * 1.0 / n) * (1 - r * 1.0 / n) / n
                    + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
                 / (1 + {WILSON_Z} * {WILSON_Z} / n), 6) AS ci_hi
    FROM m
    """,
    doc="Wilson score 95% confidence interval for the monthly return rate "
    "(share of l_returnflag='R'): the binomial-proportion interval that "
    "stays inside [0,1] and behaves at small n, i.e. the correct error bar "
    "for every rate metric a dashboard shows. One conditional "
    "map-side-combined aggregation per month; the interval itself is pure "
    "per-row arithmetic on the tiny month relation.",
)
def agg_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("r"),
    )
    z = F.lit(WILSON_Z)
    p = F.col("r") * 1.0 / F.col("n")
    nd = F.col("n")
    half = z * F.sqrt(p * (1 - p) / nd + z * z / (4.0 * nd * nd))
    center = p + z * z / (2.0 * nd)
    denom = 1 + z * z / nd
    return m.select(
        "month",
        "n",
        "r",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# agg_autocorrelation — ACF of the daily revenue series, lags 1..7
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


@register(
    "agg_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT rev_c, row_number() OVER (ORDER BY day) AS rn FROM daily
    ),
    stats AS (
      SELECT avg(rev_c) AS mu,
             sum((rev_c - (SELECT avg(rev_c) FROM daily))
                 * (rev_c - (SELECT avg(rev_c) FROM daily))) AS ss
      FROM daily
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag)
    SELECT l.lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum((i1.rev_c - s.mu) * (i2.rev_c - s.mu)) / s.ss, 4)
             AS acf
    FROM lags l
    JOIN idx i1 ON true
    JOIN idx i2 ON i2.rn = i1.rn + l.lag
    CROSS JOIN stats s
    GROUP BY l.lag, s.ss ORDER BY l.lag
    """,
    doc=f"Autocorrelation function of daily revenue, lags 1..{ACF_MAX_LAG}: "
    "the seasonality detector that tells a forecaster (and "
    "events_seasonal_baseline) which period to model — a weekly cycle "
    "shows as an acf(7) spike. The series first reduces map-side to "
    "exact-integer daily cents (summation-order-proof); lagged pairs come "
    "from ONE row-index self-join on the day-count-sized series, lags "
    "expanded from a 7-row literal; the mean and sum-of-squares compute "
    "once and broadcast. At 100 TB the fact table contributes one "
    "aggregation — everything else is calendar-sized.",
)
def agg_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    idx = daily.select(
        "rev_c", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    # the mean must exist before the deviation sum (no nested aggregates):
    # 1-row mean broadcast back into a second moment pass
    mus = daily.agg(F.avg("rev_c").alias("mu"))
    stats = (
        daily.crossJoin(F.broadcast(mus))
        .agg(
            F.first("mu").alias("mu"),
            F.sum(
                (F.col("rev_c") - F.col("mu"))
                * (F.col("rev_c") - F.col("mu"))
            ).alias("ss"),
        )
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    i1 = idx.select(F.col("rev_c").alias("x1"), F.col("rn").alias("rn1"))
    i2 = idx.select(F.col("rev_c").alias("x2"), F.col("rn").alias("rn2"))
    pairs = (
        i1.crossJoin(F.broadcast(lags))
        .join(i2, F.col("rn2") == F.col("rn1") + F.col("lag"))
        .crossJoin(F.broadcast(stats))
    )
    out = (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum((F.col("x1") - F.col("mu")) * (F.col("x2") - F.col("mu")))
                / F.first("ss"),
                4,
            ).alias("acf"),
        )
        .select("lag", "n_pairs", "acf")
    )
    return persist_until_collected(daily, persist_until_collected(idx, out))


# ---------------------------------------------------------------------------
# agg_levene_bf — Brown-Forsythe variance-homogeneity test across groups
# ---------------------------------------------------------------------------


@register(
    "agg_levene_bf",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x_c
      FROM orders
    ),
    med AS (
      SELECT grp, CAST(round(quantile_cont(x_c, 0.5) * 2) AS BIGINT) AS med2
      FROM b GROUP BY 1
    ),
    z AS (
      SELECT b.grp, abs(2 * b.x_c - med.med2) AS z
      FROM b JOIN med USING (grp)
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(z) AS BIGINT) AS sz,
             CAST(sum(CAST(z * z AS HUGEINT)) AS DOUBLE) AS szz
      FROM z GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(sz) AS DOUBLE) / sum(n_i) AS zbar,
             CAST(sum(n_i) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS k
      FROM g
    ),
    terms AS (
      SELECT
        CAST(round(szz - CAST(sz AS DOUBLE) * sz / n_i) AS HUGEINT) AS ssw_i,
        CAST(round(n_i * ((CAST(sz AS DOUBLE) / n_i - tot.zbar)
             * (CAST(sz AS DOUBLE) / n_i - tot.zbar))) AS HUGEINT) AS ssb_i,
        tot.nn, tot.k
      FROM g CROSS JOIN tot
    ),
    f AS (
      SELECT CAST(sum(ssw_i) AS DOUBLE) AS ssw,
             CAST(sum(ssb_i) AS DOUBLE) AS ssb,
             CAST(min(nn) AS BIGINT) AS nn, CAST(min(k) AS BIGINT) AS k
      FROM terms
    )
    SELECT k AS n_groups, nn AS n_rows,
           round((ssb / (k - 1)) / (ssw / (nn - k)), 6) AS bf_stat
    FROM f WHERE k > 1 AND nn > k AND ssw > 0
    """,
    doc="Brown-Forsythe variance-homogeneity test (Levene with group "
    "MEDIANS — robust to the heavy tails that break the mean-based form) "
    "on order totals across the 5 order priorities. Doubled-median "
    "integers (2*x - 2*median) eliminate the .5-cent half so every "
    "absolute deviation is an exact BIGINT; per-group SSW/SSB terms round "
    "to integers before the k-row sum, so the final F is identical "
    "regardless of which engine (or partition order) adds the groups. "
    "Plan: one grouped exact-median pass (the only full-group state), a "
    "5-row broadcast back onto the facts, then a map-combined moment "
    "aggregation — deviations never leave their partition unaggregated.",
)
def agg_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (VERDICT r14 item 4): the per-priority doubled medians no longer
    # run as grouped F.percentile aggregates (fact-proportional value maps
    # through one reducer per group — §2.2) but via the shared two-pass
    # range selection: med2 = v_lower + v_higher in exact integers per
    # group (selection.py docstring; pinned by tests/test_r15_selection),
    # embedded as a literal map — the deviation pass loses its join.
    from mongodb_nats_connector_spark.plans.selection import (
        _median_ranks,
        doubled_median2,
        selected_order_stats,
    )

    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x_c"),
    )
    med2 = {
        k[0]: doubled_median2(n_g, at)
        for k, (n_g, at) in selected_order_stats(
            b, "x_c", _median_ranks, ["grp"]
        ).items()
    }
    med2_expr = F.create_map(
        *[
            c
            for k, v in sorted(med2.items())
            for c in (F.lit(k), F.lit(v).cast("bigint"))
        ]
    )[F.col("grp")]
    z = b.select(
        "grp", F.abs(2 * F.col("x_c") - med2_expr).alias("z")
    )
    g = z.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(38,0)"))
        .cast("double")
        .alias("szz"),
    )
    tot = g.agg(
        (F.sum("sz").cast("double") / F.sum("n_i")).alias("zbar"),
        F.sum("n_i").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    zbar_i = F.col("sz").cast("double") / F.col("n_i")
    # ssw_i alone reaches ~6e18 at sf0.1 and the k-row sum exceeds
    # INT64: accumulate as DECIMAL(38,0)/HUGEINT (the module's rule for
    # any squared-sum), exact and order-free, cast to DOUBLE only at the
    # final ratio
    terms = g.crossJoin(F.broadcast(tot)).select(
        F.round(
            F.col("szz") - F.col("sz").cast("double") * F.col("sz") / F.col("n_i")
        )
        .cast("decimal(38,0)")
        .alias("ssw_i"),
        F.round(
            F.col("n_i")
            * ((zbar_i - F.col("zbar")) * (zbar_i - F.col("zbar")))
        )
        .cast("decimal(38,0)")
        .alias("ssb_i"),
        "nn",
        "k",
    )
    f = terms.agg(
        F.sum("ssw_i").cast("double").alias("ssw"),
        F.sum("ssb_i").cast("double").alias("ssb"),
        F.min("nn").cast("bigint").alias("nn"),
        F.min("k").cast("bigint").alias("k"),
    )
    out = f.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.col("ssw").alias("ssw_d"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            6,
        ).alias("bf_stat"),
    ).filter(
        (F.col("n_groups") > 1)
        & (F.col("n_rows") > F.col("n_groups"))
        & (F.col("ssw_d") > 0)
    ).drop("ssw_d")
    return persist_until_collected(g, out)


# ---------------------------------------------------------------------------
# agg_bootstrap_poisson — deterministic Poisson-bootstrap CI of the mean
# ---------------------------------------------------------------------------

BOOT_B = 40  # replicates; CI = 2nd / 39th ranked replicate mean (5% / 95%)
# Poisson(1) CDF thresholds (exact double literals, mirrored in SQL): a
# 60-bit-hash uniform below threshold k gets resample weight k.
_POIS_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)
_POIS_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_POIS_CUM)
    )
    + f" ELSE {len(_POIS_CUM)} END"
)
_TWO28 = float(1 << 28)  # one md5 yields four 28-bit uniforms (28 hex chars)


@register(
    "agg_bootstrap_poisson",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y_c
      FROM orders
    ),
    ex AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y_c) AS BIGINT) AS sy
      FROM base
    ),
    r AS (
      SELECT g.g * 4 + s.slot AS b, base.y_c,
             CAST(CAST('0x' || substr(md5(CAST(base.o_orderkey AS VARCHAR)
                  || ':' || CAST(g.g AS VARCHAR)), 1 + s.slot * 7, 7)
                  AS BIGINT) AS BIGINT) / {_TWO28!r} AS u
      FROM base
      CROSS JOIN (SELECT unnest(generate_series(0, {BOOT_B // 4 - 1})) AS g) g
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS slot) s
    ),
    w AS (SELECT b, y_c, {_POIS_CASE} AS w FROM r),
    rep AS (
      SELECT b,
             CAST(round(sum(w * y_c) * 1000.0 / sum(w)) AS BIGINT) AS mean_mc
      FROM w GROUP BY b
      HAVING sum(w) > 0
    ),
    rk AS (
      SELECT mean_mc, row_number() OVER (ORDER BY mean_mc, b) AS rn FROM rep
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_reps,
             CAST(sum(mean_mc) AS BIGINT) AS s
      FROM rep
    )
    SELECT agg.n_reps,
           round(ex.sy * 1.0 / ex.n / 100.0, 6) AS exact_mean,
           round(agg.s * 1.0 / agg.n_reps / 100000.0, 6) AS boot_mean,
           round(lo.mean_mc / 100000.0, 6) AS ci_lo,
           round(hi.mean_mc / 100000.0, 6) AS ci_hi
    FROM agg CROSS JOIN ex
    CROSS JOIN (SELECT mean_mc FROM rk WHERE rn = 2) lo
    CROSS JOIN (SELECT mean_mc FROM rk WHERE rn = {BOOT_B - 1}) hi
    """,
    doc=f"Poisson bootstrap ({BOOT_B} replicates) of the mean order value — "
    "the bootstrap that actually works at 100 TB: instead of materializing "
    "B resamples, every row draws its per-replicate multiplicity from "
    "Poisson(1). One explode per HASH GROUP (4x fewer rows than one per "
    "replicate: each md5 yields FOUR independent 28-bit uniforms, 7 hex "
    "chars per slot), with the four slot weights folded as per-group "
    "aggregate expressions — map-side combine reduces each partition to "
    f"{BOOT_B // 4} rows of 8 exact-integer sums before any shuffle, so "
    "the shuffled volume is replicate-count-sized regardless of input. "
    f"(The fully de-exploded {2 * BOOT_B}-aggregate form was measured "
    "SLOWER: 80 CASE-ladder aggregates exceed Janino's 64KB method limit, "
    "dropping the whole aggregate out of codegen — a 2x steady-state "
    "loss; this shape keeps every operator inside WholeStageCodegen.) "
    "The Poisson draw inverts the exact CDF ladder against md5 uniforms "
    "both engines compute bit-identically, so the 'random' weights, and "
    "therefore the CI, hash-verify cross-engine. Replicate means quantize "
    "to integer milli-cents before ranking; the CI is the 2nd/39th ranked "
    "replicate (5%/95%). The exact mean rides along for calibration.",
)
def agg_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel=True: ~10 md5 evaluations per row serialize on the
    # single-file scan partition otherwise — this is the compute-heavy
    # per-row case the repartition exists for
    o = table(spark, sf_dir, "orders", parallel=True)
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y_c"),
    )
    ex = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y_c").cast("bigint").alias("sy"),
    )

    def _w(u):  # Poisson(1) weight from a uniform via the exact CDF ladder
        w_expr = F.lit(len(_POIS_CUM))
        for k in range(len(_POIS_CUM) - 1, -1, -1):
            w_expr = F.when(u < F.lit(_POIS_CUM[k]), F.lit(k)).otherwise(
                w_expr
            )
        return w_expr

    r = base.withColumn(
        "g", F.explode(F.sequence(F.lit(0), F.lit(BOOT_B // 4 - 1)))
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("g").cast("string"),
            )
        ),
    )
    aggs = []
    for slot in range(4):
        u = (
            F.conv(
                F.substring(F.col("h"), 1 + slot * 7, 7), 16, 10
            ).cast("bigint")
            / F.lit(_TWO28)
        )
        w = _w(u)
        aggs.append(F.sum(w * F.col("y_c")).alias(f"_swy{slot}"))
        aggs.append(F.sum(w).alias(f"_sw{slot}"))
    rep_g = r.groupBy("g").agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                (F.col("g") * 4 + slot).alias("b"),
                F.col(f"_sw{slot}").alias("sw"),
                F.col(f"_swy{slot}").alias("swy"),
            )
            for slot in range(4)
        ]
    )
    # a replicate whose Poisson weights all drew 0 has no mean: drop it
    # BEFORE ranking (NULL means would rank FIRST in Spark but LAST in
    # DuckDB); only reachable on near-empty tables — P(sum w = 0) = e^-n
    rep = (
        rep_g.select(F.explode(pairs).alias("p"))  # B//4 rows -> B, bounded
        .select(
            F.col("p.b").alias("b"),
            F.col("p.sw").alias("sw"),
            F.round(F.col("p.swy") * 1000.0 / F.col("p.sw"))
            .cast("bigint")
            .alias("mean_mc"),
        )
        .filter(F.col("sw") > 0)
        .select("b", "mean_mc")
    )
    # the ranked CI endpoints fold into ONE bounded aggregation (r14
    # optimization): sort_array over the <= 40 collected (mean_mc, b)
    # structs orders exactly like the former row_number window
    # (lexicographic struct comparison == ORDER BY mean_mc, b), so
    # elements 2 and BOOT_B-1 are the same ranked replicates — without
    # the two filter-and-broadcast subplans (each a separate job) or the
    # persist of rep. The n_reps >= BOOT_B-1 guard reproduces the old
    # emptiness contract (an absent rank-39 row emptied the crossJoin);
    # try_element_at keeps the short-array case NULL-safe pre-filter.
    agg = rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        F.sum("mean_mc").cast("bigint").alias("s"),
        F.sort_array(
            F.collect_list(F.struct("mean_mc", "b"))
        ).alias("_ranked"),
    )
    out = (
        agg.filter(F.col("n_reps") >= BOOT_B - 1)
        .crossJoin(F.broadcast(ex))
        .select(
            "n_reps",
            F.round(F.col("sy") * 1.0 / F.col("n") / 100.0, 6).alias(
                "exact_mean"
            ),
            F.round(F.col("s") * 1.0 / F.col("n_reps") / 100000.0, 6).alias(
                "boot_mean"
            ),
            F.round(
                F.try_element_at("_ranked", F.lit(2))["mean_mc"] / 100000.0, 6
            ).alias("ci_lo"),
            F.round(
                F.try_element_at("_ranked", F.lit(BOOT_B - 1))["mean_mc"]
                / 100000.0,
                6,
            ).alias("ci_hi"),
        )
    )
    return persist_until_collected(base, out)


# ---------------------------------------------------------------------------
# agg_mutual_information — MI / entropies between event type and weekday
# ---------------------------------------------------------------------------


@register(
    "agg_mutual_information",
    oracle="""
    WITH e AS (
      SELECT event_type AS x,
             (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS y
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    j AS (SELECT x, y, CAST(count(*) AS BIGINT) AS nxy FROM e GROUP BY 1, 2),
    mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM j GROUP BY 1),
    my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM j GROUP BY 1),
    tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn FROM j),
    t AS (
      SELECT CAST(round(1000000000.0 * (nxy * 1.0 / tot.nn)
             * ln((nxy * 1.0 / mx.nx) * (tot.nn * 1.0 / my.ny)))
             AS BIGINT) AS v
      FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    ),
    ts_ AS (SELECT CAST(sum(v) AS BIGINT) AS s FROM t),
    ex AS (
      SELECT CAST(sum(CAST(round(1000000000.0 * (nx * 1.0 / tot.nn)
             * ln(tot.nn * 1.0 / nx)) AS BIGINT)) AS BIGINT) AS s
      FROM mx CROSS JOIN tot
    ),
    ey AS (
      SELECT CAST(sum(CAST(round(1000000000.0 * (ny * 1.0 / tot.nn)
             * ln(tot.nn * 1.0 / ny)) AS BIGINT)) AS BIGINT) AS s
      FROM my CROSS JOIN tot
    )
    SELECT tot.nn AS n_events,
           round(ts_.s / 1000000000.0, 6) AS mi_nats,
           round(ex.s / 1000000000.0, 6) AS h_event_type,
           round(ey.s / 1000000000.0, 6) AS h_weekday,
           round(CAST(ts_.s AS DOUBLE)
                 / sqrt(CAST(ex.s AS DOUBLE) * CAST(ey.s AS DOUBLE)), 6)
             AS nmi
    FROM tot CROSS JOIN ts_ CROSS JOIN ex CROSS JOIN ey
    WHERE ex.s > 0 AND ey.s > 0
    """,
    doc="Mutual information (and marginal entropies, normalized MI) "
    "between event type and weekday — the dependence screen that catches "
    "what correlation can't (categorical, non-monotonic). Weekday is "
    "epoch-day mod 7, identical in both engines regardless of locale "
    "DOW conventions. Every p*ln(p) term quantizes to integer nano-nats "
    "before its sum, so MI hash-verifies. Plan: ONE map-combined count "
    "over the (x, y) cross-cells (|types| x 7 rows); marginals and total "
    "re-aggregate the tiny joint relation, never the facts. At 100 TB "
    "this is a single shuffle of ~35 keys with partial aggregation — the "
    "joint-histogram sketch pattern.",
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    e = ev.select(
        F.col("event_type").alias("x"),
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            % 7
        ).alias("y"),
    )
    j = e.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("nxy"))
    mx = j.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = j.groupBy("y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = j.agg(F.sum("nxy").cast("bigint").alias("nn"))
    t = (
        j.join(maybe_broadcast(mx), "x")
        .join(maybe_broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1000000000.0
                * (F.col("nxy") * 1.0 / F.col("nn"))
                * F.log(
                    (F.col("nxy") * 1.0 / F.col("nx"))
                    * (F.col("nn") * 1.0 / F.col("ny"))
                )
            )
            .cast("bigint")
            .alias("v")
        )
    )
    ts_ = t.agg(F.sum("v").cast("bigint").alias("s"))
    ex = (
        mx.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1000000000.0
                * (F.col("nx") * 1.0 / F.col("nn"))
                * F.log(F.col("nn") * 1.0 / F.col("nx"))
            )
            .cast("bigint")
            .alias("v")
        )
        .agg(F.sum("v").cast("bigint").alias("s"))
    )
    ey = (
        my.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1000000000.0
                * (F.col("ny") * 1.0 / F.col("nn"))
                * F.log(F.col("nn") * 1.0 / F.col("ny"))
            )
            .cast("bigint")
            .alias("v")
        )
        .agg(F.sum("v").cast("bigint").alias("s"))
    )
    out = (
        tot.crossJoin(F.broadcast(ts_.withColumnRenamed("s", "smi")))
        .crossJoin(F.broadcast(ex.withColumnRenamed("s", "shx")))
        .crossJoin(F.broadcast(ey.withColumnRenamed("s", "shy")))
        # a single-valued marginal has zero entropy and an undefined NMI:
        # both engines emit zero rows rather than a NaN the hash can't match
        .filter((F.col("shx") > 0) & (F.col("shy") > 0))
        .select(
            F.col("nn").alias("n_events"),
            F.round(F.col("smi") / 1000000000.0, 6).alias("mi_nats"),
            F.round(F.col("shx") / 1000000000.0, 6).alias("h_event_type"),
            F.round(F.col("shy") / 1000000000.0, 6).alias("h_weekday"),
            F.round(
                F.col("smi").cast("double")
                / F.sqrt(
                    F.col("shx").cast("double") * F.col("shy").cast("double")
                ),
                6,
            ).alias("nmi"),
        )
    )
    return persist_until_collected(j, out)


# ---------------------------------------------------------------------------
# agg_dispersion_test — Poisson overdispersion of daily counts per type
# ---------------------------------------------------------------------------


@register(
    "agg_dispersion_test",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cnt) AS BIGINT) AS s1,
             CAST(sum(CAST(cnt * cnt AS HUGEINT)) AS DOUBLE) AS s2
      FROM d GROUP BY 1
    ),
    m AS (
      SELECT event_type, n_days,
             s1 * 1.0 / n_days AS mean_cnt,
             (s2 - CAST(s1 AS DOUBLE) * s1 / n_days) / (n_days - 1) AS var_cnt
      FROM s WHERE n_days > 1
    )
    SELECT event_type, n_days,
           round(mean_cnt, 4) AS mean_cnt,
           round(var_cnt, 4) AS var_cnt,
           round(var_cnt / mean_cnt, 6) AS dispersion,
           round((n_days - 1) * (var_cnt / mean_cnt), 4) AS chi2_stat,
           CAST(CASE WHEN var_cnt / mean_cnt > 1.5 THEN 1 ELSE 0 END
                AS BIGINT) AS overdispersed
    FROM m
    """,
    doc="Index-of-dispersion (variance-to-mean) test per event type over "
    "daily counts — the screen that tells a Poisson arrival model from "
    "bursty/clumped traffic before anyone fits one (chi-square form "
    "(n-1)*D, flag at D > 1.5). Exact integer count sums "
    "(DECIMAL/HUGEINT squares) make the moments engine-identical before "
    "the two divisions. The events reduce map-side to (type, day) — at "
    "100 TB the test state is one row per type per day, and the moment "
    "reduce is 3 numbers per type. Pairs with events_weibull_gaps: "
    "dispersion screens the count process, Weibull fits the gap process.",
)
def agg_dispersion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cnt").cast("bigint").alias("s1"),
        F.sum((F.col("cnt") * F.col("cnt")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    m = s.filter(F.col("n_days") > 1).select(
        "event_type",
        "n_days",
        (F.col("s1") * 1.0 / F.col("n_days")).alias("mean_cnt"),
        (
            (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_days"))
            / (F.col("n_days") - 1)
        ).alias("var_cnt"),
    )
    return m.select(
        "event_type",
        "n_days",
        F.round("mean_cnt", 4).alias("mean_cnt"),
        F.round("var_cnt", 4).alias("var_cnt"),
        F.round(F.col("var_cnt") / F.col("mean_cnt"), 6).alias("dispersion"),
        F.round(
            (F.col("n_days") - 1) * (F.col("var_cnt") / F.col("mean_cnt")), 4
        ).alias("chi2_stat"),
        F.when(F.col("var_cnt") / F.col("mean_cnt") > 1.5, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# agg_runs_test — Wald-Wolfowitz runs test on the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "agg_runs_test",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    ),
    med AS (
      SELECT CAST(round(quantile_cont(rev_c, 0.5) * 2) AS BIGINT) AS med2
      FROM d
    ),
    f AS (
      SELECT day, CASE WHEN d.rev_c * 2 > med.med2 THEN 1 ELSE 0 END AS hi
      FROM d CROSS JOIN med
    ),
    r AS (
      SELECT hi,
             CASE WHEN lag(hi) OVER (ORDER BY day) IS NULL
                  OR lag(hi) OVER (ORDER BY day) <> hi
                  THEN 1 ELSE 0 END AS new_run
      FROM f
    ),
    s AS (
      SELECT CAST(sum(new_run) AS BIGINT) AS runs,
             CAST(sum(hi) AS BIGINT) AS n_hi,
             CAST(count(*) - sum(hi) AS BIGINT) AS n_lo
      FROM r
    )
    SELECT runs, n_hi, n_lo,
           round(2.0 * n_hi * n_lo / (n_hi + n_lo) + 1.0, 4) AS expected_runs,
           round((runs - (2.0 * n_hi * n_lo / (n_hi + n_lo) + 1.0))
                 / sqrt(2.0 * n_hi * n_lo * (2.0 * n_hi * n_lo - n_hi - n_lo)
                        / ((n_hi + n_lo) * (n_hi + n_lo) * 1.0
                           * (n_hi + n_lo - 1))), 4) AS z_stat
    FROM s WHERE n_hi > 0 AND n_lo > 0
      AND 2.0 * n_hi * n_lo - n_hi - n_lo > 0
    """,
    doc="Wald-Wolfowitz runs test for randomness of the daily revenue "
    "series around its median (doubled-median integer split, so the "
    "above/below labeling is exact): too few runs means trending/"
    "clustered days, too many means oscillation — the nonparametric "
    "is-this-series-random screen beside the parametric control charts. "
    "Run boundaries come from one lag over the compacted daily series; "
    "counts are exact integers and the z arithmetic is written "
    "identically in both engines. Facts reduce map-side to day grain — "
    "the ordered scan is ~365 rows/year at any corpus size.",
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    med = d.agg(
        F.round(F.percentile("rev_c", F.lit(0.5)) * 2)
        .cast("bigint")
        .alias("med2")
    )
    f = d.crossJoin(F.broadcast(med)).select(
        "day",
        F.when(F.col("rev_c") * 2 > F.col("med2"), 1).otherwise(0).alias("hi"),
    )
    lag_hi = F.lag("hi").over(Window.orderBy("day"))
    r = f.select(
        "hi",
        F.when(lag_hi.isNull() | (lag_hi != F.col("hi")), 1)
        .otherwise(0)
        .alias("new_run"),
    )
    s = r.agg(
        F.sum("new_run").cast("bigint").alias("runs"),
        F.sum("hi").cast("bigint").alias("n_hi"),
        (F.count(F.lit(1)) - F.sum("hi")).cast("bigint").alias("n_lo"),
    )
    n_hi, n_lo = F.col("n_hi"), F.col("n_lo")
    mu = 2.0 * n_hi * n_lo / (n_hi + n_lo) + 1.0
    sigma = F.sqrt(
        2.0
        * n_hi
        * n_lo
        * (2.0 * n_hi * n_lo - n_hi - n_lo)
        / ((n_hi + n_lo) * (n_hi + n_lo) * 1.0 * (n_hi + n_lo - 1))
    )
    # n_hi = n_lo = 1 makes sigma exactly 0: drop the row in both
    # engines rather than divide by zero
    out = s.select(
        "runs",
        "n_hi",
        "n_lo",
        F.round(mu, 4).alias("expected_runs"),
        F.round((F.col("runs") - mu) / sigma, 4).alias("z_stat"),
    ).filter(
        (n_hi > 0)
        & (n_lo > 0)
        & (2.0 * n_hi * n_lo - n_hi - n_lo > 0)
    )
    return persist_until_collected(d, out)


# ---------------------------------------------------------------------------
# agg_median_test — Mood's median test across order priorities
# ---------------------------------------------------------------------------


@register(
    "agg_median_test",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x_c
      FROM orders
    ),
    med AS (
      SELECT CAST(round(quantile_cont(x_c, 0.5) * 2) AS BIGINT) AS med2
      FROM b
    ),
    f AS (
      SELECT grp,
             CASE WHEN b.x_c * 2 > med.med2 THEN 1 ELSE 0 END AS hi
      FROM b CROSS JOIN med
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(hi) AS BIGINT) AS a_i
      FROM f GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_i) AS BIGINT) AS nn, CAST(sum(a_i) AS BIGINT) AS aa,
             CAST(count(*) AS BIGINT) AS k
      FROM g
    ),
    terms AS (
      SELECT
        CAST(round(1000000000.0
          * ((a_i - n_i * (aa * 1.0 / nn)) * (a_i - n_i * (aa * 1.0 / nn)))
          / (n_i * (aa * 1.0 / nn))) AS BIGINT)
        + CAST(round(1000000000.0
          * (((n_i - a_i) - n_i * ((nn - aa) * 1.0 / nn))
             * ((n_i - a_i) - n_i * ((nn - aa) * 1.0 / nn)))
          / (n_i * ((nn - aa) * 1.0 / nn))) AS BIGINT) AS t_nn,
        tot.k, tot.nn
      FROM g CROSS JOIN tot
    )
    SELECT CAST(min(k) AS BIGINT) AS n_groups,
           CAST(min(nn) AS BIGINT) AS n_rows,
           round(CAST(sum(t_nn) AS BIGINT) / 1000000000.0, 4) AS chi2_stat,
           CAST(min(k) - 1 AS BIGINT) AS dof
    FROM terms
    """,
    doc="Mood's median test across the 5 order priorities: classify every "
    "order strictly-above / at-or-below the GRAND doubled-median (exact "
    "integer comparison), then the k x 2 contingency chi-square against "
    "the pooled proportion. The location complement to agg_levene_bf's "
    "spread test — together they say whether priorities differ in center "
    "or in dispersion without any normality assumption. Per-group "
    "chi-square terms quantize to nano-units before the k-row sum, so "
    "the statistic hash-verifies. One 1-row exact-median pass, one "
    "map-combined conditional count per group — two tiny shuffles at "
    "any scale.",
)
def agg_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (VERDICT r14 item 4): the grand doubled-median no longer runs as
    # a global F.percentile aggregate (fact-proportional value map through
    # ONE reducer — §2.2) but via the shared two-pass range selection:
    # med2 = v_lower + v_higher in exact integers (selection.py docstring;
    # pinned by tests/test_r15_selection.py), embedded as a literal — the
    # k x 2 table is then ONE map-combined grouped pass, no crossJoin.
    from mongodb_nats_connector_spark.plans.selection import (
        _median_ranks,
        doubled_median2,
        selected_order_stats,
    )

    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x_c"),
    )
    n_b, at = selected_order_stats(b, "x_c", _median_ranks)[()]
    med2 = doubled_median2(n_b, at)
    f = b.select(
        "grp",
        F.when(F.col("x_c") * 2 > F.lit(med2).cast("bigint"), 1)
        .otherwise(0)
        .alias("hi"),
    )
    g = f.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("hi").cast("bigint").alias("a_i"),
    )
    tot = g.agg(
        F.sum("n_i").cast("bigint").alias("nn"),
        F.sum("a_i").cast("bigint").alias("aa"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    p_hi = F.col("aa") * 1.0 / F.col("nn")
    p_lo = (F.col("nn") - F.col("aa")) * 1.0 / F.col("nn")
    hi_dev = F.col("a_i") - F.col("n_i") * p_hi
    lo_dev = (F.col("n_i") - F.col("a_i")) - F.col("n_i") * p_lo
    terms = g.crossJoin(F.broadcast(tot)).select(
        (
            F.round(1000000000.0 * (hi_dev * hi_dev) / (F.col("n_i") * p_hi))
            .cast("bigint")
            + F.round(
                1000000000.0 * (lo_dev * lo_dev) / (F.col("n_i") * p_lo)
            ).cast("bigint")
        ).alias("t_nn"),
        "k",
        "nn",
    )
    out = terms.agg(
        F.min("k").cast("bigint").alias("n_groups"),
        F.min("nn").cast("bigint").alias("n_rows"),
        F.round(F.sum("t_nn").cast("bigint") / 1000000000.0, 4).alias(
            "chi2_stat"
        ),
        (F.min("k") - 1).cast("bigint").alias("dof"),
    )
    return persist_until_collected(g, out)


# ---------------------------------------------------------------------------
# agg_spearman_corr — Spearman rank correlation with midrank ties
# ---------------------------------------------------------------------------


@register(
    "agg_spearman_corr",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY x, y
    ),
    xm AS (
      SELECT x, CAST(2 * sum(cx) OVER (ORDER BY x) - cx + 1 AS BIGINT) AS rx2
      FROM (SELECT x, CAST(sum(cnt) AS BIGINT) AS cx FROM cells GROUP BY x)
    ),
    ym AS (
      SELECT y, CAST(2 * sum(cy) OVER (ORDER BY y) - cy + 1 AS BIGINT) AS ry2
      FROM (SELECT y, CAST(sum(cnt) AS BIGINT) AS cy FROM cells GROUP BY y)
    ),
    j AS (
      SELECT CAST(c.cnt AS HUGEINT) AS cnt,
             CAST(xm.rx2 AS HUGEINT) AS rx2,
             CAST(ym.ry2 AS HUGEINT) AS ry2
      FROM cells c JOIN xm ON c.x = xm.x JOIN ym ON c.y = ym.y
    ),
    s AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * rx2) AS DOUBLE) AS sx,
             CAST(sum(cnt * ry2) AS DOUBLE) AS sy,
             CAST(sum(cnt * rx2 * rx2) AS DOUBLE) AS sxx,
             CAST(sum(cnt * ry2 * ry2) AS DOUBLE) AS syy,
             CAST(sum(cnt * rx2 * ry2) AS DOUBLE) AS sxy
      FROM j
    )
    SELECT n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS spearman_rho,
           round(((n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                 * sqrt((n - 2)
                   / (1.0 - ((n * sxy - sx * sy)
                      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                     * ((n * sxy - sx * sy)
                        / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))))),
                 4) AS t_stat
    FROM s
    WHERE n > 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    doc="Spearman rank correlation between quantity and extended price "
    "with proper midrank tie handling — the monotonic-association "
    "complement to Pearson (agg_regression). Doubled midranks "
    "(2*cumcount - ties + 1, exact integers): the x marginal (~50 "
    "quantities, bounded domain) becomes a literal rank map computed in "
    "exact Python ints from one collected (bucket, x) aggregation; the y "
    "midrank is computed IN PLACE on the range-bucketed "
    "fact (r14 optimization) — quantile boundaries sketched once and "
    "embedded as literals (the plans/ranking.py contract: any boundary "
    "set yields the same ranks), per-bucket row counts (<= 32 rows, "
    "bounded, from the same collected aggregation) prefixed into a "
    "literal offset map, and "
    "within each bucket two "
    "RANGE-frame counts over one sort (cumulative-through-peers + "
    "tie-group size) give ry2 = 2*(offset+cum) - ties + 1, exactly the "
    "oracle's cumulative-count midrank. The former fact-sized "
    "(x,y)-cell aggregation, the y-marginal groupBy, and the "
    "fact-vs-marginal re-join (three near-fact-sized exchanges — y is "
    "~unique per row, so cell compaction compacted nothing) all "
    "collapse into ONE range shuffle of the (x, y) projection. All six "
    "sufficient sums then fold in a single aggregation whose products "
    "multiply in DECIMAL(38,0)/HUGEINT (ranks grow with row count, so "
    "a BIGINT product would wrap past ~1.5e9 rows; rx2*ry2 <= 4n^2 "
    "per term and n*4n^2 summed stays inside 38 digits up to ~3e12 "
    "rows; summation is exact-integer, so the regrouped order cannot "
    "move a bit). Rho "
    "plus its t statistic are closed-form double arithmetic written "
    "identically in both engines; zero-variance sides emit zero rows.",
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # non-null guard mirrors the oracle's inner joins on x and y (NULL
    # never equal): free on TPC-H data, exact on anything else
    b = (
        li.select(
            F.round("l_quantity").cast("bigint").alias("x"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .persist()
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # build pass, FUSED into ONE job (formerly two: a percentile_approx
    # boundary sketch + a separate (bucket, x) count collect): group the
    # persisted projection by (coarse y-cell, x) — cell = arithmetic
    # shift y >> 18, clamped to a bounded grid, monotone and exact on
    # BIGINTs — and collect the bounded grid (<= ~50 x-values times the
    # occupied cells). The collected counts yield EVERYTHING the former
    # two jobs produced: balanced y-bucket boundaries chosen at CELL
    # EDGES (so per-bucket offsets are exact cumulative cell counts),
    # the bucket offset map, and the doubled x midranks. ANY boundary
    # set yields the same midranks — boundaries only balance the
    # per-bucket sorts — and cell-edge literals obey the same
    # `y > bound` test the executed plan always used.
    n_bkt = 32
    _CELL_SHIFT, _CELL_CLAMP = 18, 4096
    cell = F.least(
        F.greatest(
            F.shiftright(F.col("y"), _CELL_SHIFT), F.lit(-_CELL_CLAMP)
        ),
        F.lit(_CELL_CLAMP - 1),
    )
    g_rows = (
        b.groupBy(cell.alias("_cell"), "x")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()
    )
    ccell: dict[int, int] = {}
    cx: dict[int, int] = {}
    for r in g_rows:
        ccell[r["_cell"]] = ccell.get(r["_cell"], 0) + r["_cnt"]
        cx[r["x"]] = cx.get(r["x"], 0) + r["_cnt"]
    n_total = sum(ccell.values())
    # balanced cell-edge boundaries: walk occupied cells ascending, cut
    # after a cell once the cumulative count passes the next 1/n_bkt
    # target. The LAST occupied cell is never a cut (clamped rows above
    # the grid must stay inside the final bucket), so every boundary
    # literal (c+1)*2^shift - 1 exactly separates cell <= c from > c.
    bvals: list[int] = []
    cnts: dict[int, int] = {}
    sorted_cells = sorted(ccell)
    acc = 0
    bucket_acc = 0
    for c in sorted_cells[:-1] if sorted_cells else []:
        acc += ccell[c]
        bucket_acc += ccell[c]
        if len(bvals) < n_bkt - 1 and acc * n_bkt >= (len(bvals) + 1) * n_total:
            bvals.append((c + 1) * (1 << _CELL_SHIFT) - 1)
            cnts[len(bvals) - 1] = bucket_acc
            bucket_acc = 0
    if sorted_cells:
        cnts[len(bvals)] = bucket_acc + ccell[sorted_cells[-1]]
    bounds_lit = (
        F.array(*[F.lit(v) for v in bvals])
        if bvals
        else F.array().cast("array<bigint>")
    )
    withbkt = b.withColumn(
        "_bkt",
        F.size(F.filter(bounds_lit, lambda e: F.col("y") > e)).cast("int"),
    )
    off_acc = 0
    off_map = {}
    for k in sorted(cnts):
        off_map[k] = off_acc
        off_acc += cnts[k]
    rx_acc = 0
    rx_map = {}
    for xv in sorted(cx):
        rx_map[xv] = 2 * (rx_acc + cx[xv]) - cx[xv] + 1
        rx_acc += cx[xv]
    om = F.create_map(
        *[
            c
            for k, v in sorted(off_map.items())
            for c in (F.lit(k).cast("int"), F.lit(v).cast("bigint"))
        ]
    ) if off_map else F.create_map().cast("map<int,bigint>")
    rxm = F.create_map(
        *[
            c
            for k, v in sorted(rx_map.items())
            for c in (F.lit(k).cast("bigint"), F.lit(v).cast("bigint"))
        ]
    ) if rx_map else F.create_map().cast("map<bigint,bigint>")
    w = Window.partitionBy("_bkt").orderBy("y")
    cum = F.count(F.lit(1)).over(
        w.rangeBetween(Window.unboundedPreceding, 0)
    )
    ties = F.count(F.lit(1)).over(w.rangeBetween(0, 0))
    ranked = withbkt.select(
        "y",
        rxm[F.col("x")].alias("rx2"),
        (2 * (om[F.col("_bkt")] + cum) - ties + 1).cast("bigint").alias("ry2"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(F.col("rx2"))).cast("double").alias("sx"),
        F.sum(dec(F.col("ry2"))).cast("double").alias("sy"),
        F.sum(dec(F.col("rx2")) * dec(F.col("rx2")))
        .cast("double")
        .alias("sxx"),
        F.sum(dec(F.col("ry2")) * dec(F.col("ry2")))
        .cast("double")
        .alias("syy"),
        F.sum(dec(F.col("rx2")) * dec(F.col("ry2")))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(varx * vary)
    out = s.filter((n > 2) & (varx > 0) & (vary > 0)).select(
        "n",
        F.round(rho, 6).alias("spearman_rho"),
        F.round(rho * F.sqrt((n - 2) / (1.0 - rho * rho)), 4).alias("t_stat"),
    )
    return release_on_gc(b, out)


# ---------------------------------------------------------------------------
# agg_theil_sen — robust trend slope via the median of pairwise slopes
# ---------------------------------------------------------------------------


@register(
    "agg_theil_sen",
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
      SELECT CAST(round((b.rev_c - a.rev_c) * 1000.0 / (b.t - a.t))
                  AS BIGINT) AS slope_mc
      FROM idx a JOIN idx b ON b.t > a.t
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(round(quantile_cont(slope_mc, 0.5) * 2) AS BIGINT)
               AS slope_mc_x2
      FROM pairs
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
    SELECT nd.n_days, m.n_pairs, m.slope_mc_x2,
           CAST(m.slope_mc_x2 AS DOUBLE) / CAST(200000 AS DOUBLE)
             AS theil_sen_slope
    FROM nd, m
    WHERE nd.n_days > 1
    """,
    doc="Theil-Sen robust trend estimator over the daily revenue series: "
    "the median of all pairwise slopes — up to ~29% contamination cannot "
    "move it, unlike the OLS trend every dashboard defaults to. Slopes "
    "quantize to integer MILLI-CENTS/DAY before the median, and the "
    "doubled median comes from exact ORDER-STATISTIC SELECTION: "
    "quantile*2 of integers is v_(k1) + v_(k2) for ranks (n+1) div 2 "
    "and (n+2) div 2, exact on both engines even at even counts. The "
    "day series is CALENDAR-bounded (<= days rows at any fact size), "
    "so after the one map-combined day rollup it is collected and the "
    "selection runs on the driver (the agg_hodges_lehmann discipline): "
    "numpy replays Spark's slope expression with the identical IEEE "
    "ops and HALF_UP round semantics, then np.partition picks the two "
    "covering values — bit-identical to materializing all days^2/2 "
    "pair slopes, which is what the plan formerly did (NLJ expansion + "
    "value-group shuffle + two-pass prefix count; Spark's exact "
    "percentile() aggregate before that funneled every slope through "
    "one reducer). n_pairs = C(n_days, 2) by construction. The "
    "reported slope is ONE IEEE division (/2 for the doubling, /1000 "
    "for milli, /100 for cents — fused to /200000, dollars/day) on "
    "engine-side literals.",
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    # The day series is CALENDAR-bounded (<= days rows at any fact size
    # — a driver scalar; the former pair NLJ was days^2 by the same
    # bound), so it is collected ONCE after the single
    # corpus-proportional rollup and the exact median-of-pairwise-slopes
    # selection runs on the driver (the agg_hodges_lehmann discipline):
    # per-day numpy-vectorized slope rows replicate Spark's expression
    # bit-for-bit — (rb - ra) * 1000.0 and the divide are the identical
    # IEEE ops, and round() is reproduced as half-away-from-zero on the
    # binary value, which equals Spark's BigDecimal(HALF_UP on the
    # shortest-repr decimal) for all |x| < 2^51 because a double's
    # shortest repr ends in .5 iff the double IS exactly m + 0.5 (any
    # other double has a different shortest repr, and ordering against
    # the exactly-representable m + 0.5 is preserved by parsing) — then
    # np.partition selects the two covering order statistics:
    # slope_mc_x2 = v_(k1) + v_(k2) for k1 = (n+1) div 2,
    # k2 = (n+2) div 2 == round(2*quantile_cont) on integers. Formerly
    # the plan expanded all days^2/2 pairs through an NLJ, shuffled the
    # nearly-all-distinct value groups, and ran the two-pass
    # range-partitioned prefix-count selection over them (and before
    # that, a single-reducer percentile() value map) — ~3M-row
    # exchanges at TPC-H's 7-year calendar, ~26M at two decades, whose
    # only purpose was two order statistics of a bounded series.
    import numpy as np
    from pyspark.sql import types as T

    rows = d.select(
        F.date_diff(F.col("day"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("t"),
        "rev_c",
    ).collect()
    n = len(rows)
    if n <= 1:
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("n_days", T.LongType(), True),
                    T.StructField("n_pairs", T.LongType(), True),
                    T.StructField("slope_mc_x2", T.LongType(), True),
                    T.StructField("theil_sen_slope", T.DoubleType(), True),
                ]
            ),
        )
    order = sorted(range(n), key=lambda i: rows[i]["t"])
    ts = np.array([rows[i]["t"] for i in order], dtype=np.int64)
    rs = np.array([rows[i]["rev_c"] for i in order], dtype=np.int64)
    n_pairs = n * (n - 1) // 2
    vals = np.empty(n_pairs, dtype=np.int64)
    pos = 0
    for i in range(n - 1):
        q = (rs[i + 1:] - rs[i]) * 1000.0 / (ts[i + 1:] - ts[i])
        a = np.abs(q)
        fl = np.floor(a)
        r_ = fl + (a - fl >= 0.5)
        m = i + 1
        vals[pos : pos + n - m] = (np.sign(q) * r_).astype(np.int64)
        pos += n - m
    k1, k2 = (n_pairs + 1) // 2, (n_pairs + 2) // 2
    part = np.partition(vals, [k1 - 1, k2 - 1])
    slope_mc_x2 = int(part[k1 - 1]) + int(part[k2 - 1])
    # the single final display division stays an engine-side IEEE op on
    # the identical integers (literal inputs), exactly as before
    return spark.range(1).select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        F.lit(slope_mc_x2).cast("bigint").alias("slope_mc_x2"),
        (
            F.lit(slope_mc_x2).cast("bigint").cast("double")
            / F.lit(200000).cast("double")
        ).alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# agg_cramers_v — Cramér's V association between event type and weekday
# ---------------------------------------------------------------------------


@register(
    "agg_cramers_v",
    oracle="""
    WITH e AS (
      SELECT event_type AS x,
             (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS y
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    obs AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2
    ),
    mx AS (SELECT x, CAST(sum(n) AS BIGINT) AS nx FROM obs GROUP BY 1),
    my AS (SELECT y, CAST(sum(n) AS BIGINT) AS ny FROM obs GROUP BY 1),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(count(DISTINCT x) AS BIGINT) AS r,
             CAST(count(DISTINCT y) AS BIGINT) AS c
      FROM obs
    ),
    terms AS (
      SELECT CAST(round(1000000000.0
               * (o.n - mx.nx * (my.ny * 1.0 / tot.nn))
               * (o.n - mx.nx * (my.ny * 1.0 / tot.nn))
               / (mx.nx * (my.ny * 1.0 / tot.nn))) AS BIGINT) AS t_nn,
             tot.nn, tot.r, tot.c
      FROM obs o JOIN mx ON mx.x = o.x JOIN my ON my.y = o.y CROSS JOIN tot
    )
    SELECT CAST(min(nn) AS BIGINT) AS n_obs,
           CAST(min(r) AS BIGINT) AS n_rows,
           CAST(min(c) AS BIGINT) AS n_cols,
           CAST(sum(t_nn) AS BIGINT) AS chi2_nn,
           sqrt(CAST(sum(t_nn) AS DOUBLE) / 1000000000.0
                / (min(nn) * least(min(r) - 1, min(c) - 1)))
             AS cramers_v
    FROM terms
    WHERE nn > 0 AND r > 1 AND c > 1
    GROUP BY ()
    """,
    doc="Cramér's V — the [0,1]-normalized effect size chi-square lacks — "
    "between event type and weekday (epoch-day mod 7, locale-proof; the "
    "same axes as agg_mutual_information, giving the family both an "
    "information-theoretic and a chi-square-based dependence readout). "
    "Per-cell chi-square terms quantize to integer nano-units BEFORE the "
    "cell sum (the proven agg_median_test discipline — summation order "
    "cannot move a bit), and V itself is IEEE division + correctly-"
    "rounded sqrt over exact integers. One fact-sized map-combined "
    "shuffle to the ~35-cell joint histogram; everything after is "
    "cell-relation-sized. Degenerate single-row/column tables emit zero "
    "rows on both engines.",
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    e = ev.select(
        F.col("event_type").alias("x"),
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            % 7
        ).alias("y"),
    )
    obs = e.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    mx = obs.groupBy("x").agg(F.sum("n").cast("bigint").alias("nx"))
    my = obs.groupBy("y").agg(F.sum("n").cast("bigint").alias("ny"))
    tot = obs.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count_distinct("x").cast("bigint").alias("r"),
        F.count_distinct("y").cast("bigint").alias("c"),
    )
    expect = F.col("nx") * (F.col("ny") * 1.0 / F.col("nn"))
    t_nn = F.round(
        1000000000.0
        * (F.col("n") - expect)
        * (F.col("n") - expect)
        / expect
    ).cast("bigint")
    terms = (
        obs.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(t_nn.alias("t_nn"), "nn", "r", "c")
    )
    return persist_until_collected(obs, (
        terms.filter((F.col("nn") > 0) & (F.col("r") > 1) & (F.col("c") > 1))
        .agg(
            F.min("nn").cast("bigint").alias("n_obs"),
            F.min("r").cast("bigint").alias("n_rows"),
            F.min("c").cast("bigint").alias("n_cols"),
            F.sum("t_nn").cast("bigint").alias("chi2_nn"),
            F.sqrt(
                F.sum("t_nn").cast("double")
                / 1000000000.0
                / (
                    F.min("nn")
                    * F.least(F.min("r") - 1, F.min("c") - 1)
                )
            ).alias("cramers_v"),
        )
    ))


# ---------------------------------------------------------------------------
# agg_info_gain_split — decision-tree split scoring over the quantity domain
# ---------------------------------------------------------------------------


@register(
    "agg_info_gain_split",
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
               (CASE WHEN pp IN (0, nn) THEN 0.0
                     ELSE 0.0 - (pp * 1.0 / nn) * ln(pp * 1.0 / nn)
                          - ((nn - pp) * 1.0 / nn) * ln((nn - pp) * 1.0 / nn)
                END)
               - (nl * 1.0 / nn) * (CASE WHEN pl IN (0, nl) THEN 0.0
                     ELSE 0.0 - (pl * 1.0 / nl) * ln(pl * 1.0 / nl)
                          - ((nl - pl) * 1.0 / nl) * ln((nl - pl) * 1.0 / nl)
                END)
               - (nr * 1.0 / nn) * (CASE WHEN pr IN (0, nr) THEN 0.0
                     ELSE 0.0 - (pr * 1.0 / nr) * ln(pr * 1.0 / nr)
                          - ((nr - pr) * 1.0 / nr) * ln((nr - pr) * 1.0 / nr)
                END))) AS BIGINT) AS gain_nn
      FROM ent
    )
    SELECT q AS split_at, nl AS n_left, nr AS n_right, gain_nn,
           CAST(gain_nn AS DOUBLE) / CAST(1000000000 AS DOUBLE)
             AS info_gain_nats
    FROM scored
    """,
    doc="Decision-tree split scoring: information gain of every candidate "
    "threshold 'quantity <= q' for predicting returns — the inner loop of "
    "tree/GBDT training (XGBoost/LightGBM histogram-based split finding "
    "is exactly this shape). The fact table compacts to the ~50-value "
    "quantity DOMAIN histogram in one map-combined shuffle; candidate "
    "thresholds are prefix sums over that bounded relation (the "
    "histogram trick — no per-row sorting, no data-proportional window), "
    "so the plan is identical at any fact size. Entropy terms quantize "
    "to integer nano-nats per threshold (the agg_mutual_information ln "
    "discipline), degenerate pure nodes short-circuit to 0.0 exactly on "
    "both engines, and the reported gain is one IEEE division.",
)
def agg_info_gain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
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

    def _h(p, n):  # binary entropy of p positives among n, exact-0 guarded
        frac = F.col(p) * 1.0 / F.col(n)
        return F.when(
            F.col(p).isin(0) | (F.col(p) == F.col(n)), F.lit(0.0)
        ).otherwise(0.0 - frac * F.log(frac) - (1 - frac) * F.log(1 - frac))

    gain = (
        _h("pp", "nn")
        - (F.col("nl") * 1.0 / F.col("nn")) * _h("pl", "nl")
        - (F.col("nr") * 1.0 / F.col("nn")) * _h("pr", "nr")
    )
    gain_nn = F.round(1000000000.0 * gain).cast("bigint")
    return ent.select(
        F.col("q").alias("split_at"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        gain_nn.alias("gain_nn"),
        (gain_nn.cast("double") / F.lit(1000000000).cast("double")).alias(
            "info_gain_nats"
        ),
    )


# ---------------------------------------------------------------------------
# agg_ljung_box — portmanteau whiteness test over the daily revenue series
# ---------------------------------------------------------------------------

LB_MAX_LAG = 7
_LB_CHI2_CRIT_5PCT = 14.067140449340169  # chi-square 0.95 quantile, df=7


@register(
    "agg_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT rev_c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM daily
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev_c) AS BIGINT) AS s
      FROM idx
    ),
    ss AS (
      SELECT CAST(sum(CAST(i.rev_c * t.n - t.s AS HUGEINT)
                      * CAST(i.rev_c * t.n - t.s AS HUGEINT)) AS DOUBLE)
               AS ss2
      FROM idx i CROSS JOIN tot t
    ),
    lags AS (SELECT unnest(range(1, {LB_MAX_LAG + 1})) AS lag),
    cov AS (
      SELECT l.lag,
             CAST(sum(CAST(i1.rev_c * t.n - t.s AS HUGEINT)
                      * CAST(i2.rev_c * t.n - t.s AS HUGEINT)) AS DOUBLE)
               AS c2
      FROM lags l
      JOIN idx i1 ON true
      JOIN idx i2 ON i2.rn = i1.rn + l.lag
      CROSS JOIN tot t
      GROUP BY l.lag
    ),
    terms AS (
      SELECT CAST(round(1000000000.0 * (cov.c2 / ss.ss2) * (cov.c2 / ss.ss2)
                        / (t.n - cov.lag)) AS BIGINT) AS t_nn
      FROM cov CROSS JOIN ss CROSS JOIN tot t
    ),
    q AS (
      SELECT CAST(sum(t_nn) AS BIGINT) AS q_nn FROM terms
    )
    SELECT t.n AS n_days, CAST({LB_MAX_LAG} AS BIGINT) AS max_lag,
           q.q_nn,
           t.n * (t.n + 2) * (CAST(q.q_nn AS DOUBLE)
                              / CAST(1000000000 AS DOUBLE)) AS q_stat,
           t.n * (t.n + 2) * (CAST(q.q_nn AS DOUBLE)
                              / CAST(1000000000 AS DOUBLE))
             > {_LB_CHI2_CRIT_5PCT!r} AS reject_whiteness_5pct
    FROM q CROSS JOIN tot t
    WHERE t.n > {LB_MAX_LAG + 1}
    """,
    doc=f"Ljung-Box portmanteau test (lags 1..{LB_MAX_LAG}) for whiteness "
    "of the daily revenue series — the one-number autocorrelation "
    "verdict a forecaster checks RESIDUALS with (agg_autocorrelation "
    "shows the per-lag picture; Q aggregates it against a chi-square "
    "bar). Deviations are kept exact by n-scaling (n*x - S is an exact "
    "integer — no float mean subtraction), covariance/variance products "
    "accumulate in HUGEINT/DECIMAL(38,0), each lag's r_k^2/(n-k) term "
    "quantizes to integer nano-units before the lag sum (summation order "
    "cannot move a bit), and the reported Q is one fixed-order IEEE "
    "expression. Lagged pairs ride ONE row-index self-join on the "
    "calendar-sized series; the fact table contributes a single "
    "map-combined rollup.",
)
def agg_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    idx = daily.select(
        "rev_c",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn"),
    )
    idx = idx.persist()  # consumed by tot/ss/cov; released on result GC
    tot = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev_c").cast("bigint").alias("s"),
    )
    dev = (F.col("rev_c") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    ss = (
        idx.crossJoin(F.broadcast(tot))
        .agg(F.sum(dev * dev).cast("double").alias("ss2"))
    )
    lags = spark.range(1, LB_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    i1 = idx.select(F.col("rev_c").alias("x1"), F.col("rn").alias("rn1"))
    i2 = idx.select(F.col("rev_c").alias("x2"), F.col("rn").alias("rn2"))
    d1 = (F.col("x1") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    d2 = (F.col("x2") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    cov = (
        i1.crossJoin(F.broadcast(lags))
        .join(i2, F.col("rn2") == F.col("rn1") + F.col("lag"))
        .crossJoin(F.broadcast(tot))
        .groupBy("lag")
        .agg(F.sum(d1 * d2).cast("double").alias("c2"))
    )
    r = F.col("c2") / F.col("ss2")
    terms = (
        cov.crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(1000000000.0 * r * r / (F.col("n") - F.col("lag")))
            .cast("bigint")
            .alias("t_nn")
        )
    )
    q = terms.agg(F.sum("t_nn").cast("bigint").alias("q_nn"))
    qd = F.col("q_nn").cast("double") / F.lit(1000000000).cast("double")
    out = (
        q.crossJoin(F.broadcast(tot))
        .filter(F.col("n") > LB_MAX_LAG + 1)
        .select(
            F.col("n").alias("n_days"),
            F.lit(LB_MAX_LAG).cast("bigint").alias("max_lag"),
            "q_nn",
            (F.col("n") * (F.col("n") + 2) * qd).alias("q_stat"),
            (
                F.col("n") * (F.col("n") + 2) * qd
                > F.lit(_LB_CHI2_CRIT_5PCT)
            ).alias("reject_whiteness_5pct"),
        )
    )
    return release_on_gc(idx, out)


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


# ---------------------------------------------------------------------------
# agg_mann_kendall — nonparametric monotonic-trend test on daily revenue
# ---------------------------------------------------------------------------


@register(
    "agg_mann_kendall",
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
    s AS (
      SELECT CAST(sum(CASE WHEN b.rev_c > a.rev_c THEN 1
                           WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM idx a JOIN idx b ON b.t > a.t
    ),
    ties AS (
      SELECT CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT)
               AS tie18
      FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM d GROUP BY rev_c)
      WHERE c > 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM d
    )
    SELECT m.n AS n_days, s.s_stat,
           m.n * (m.n - 1) * (2 * m.n + 5) - t.tie18 AS var_x18,
           CASE WHEN s.s_stat > 0 THEN
                  (CAST(s.s_stat AS DOUBLE) - 1)
                  / sqrt((CAST(m.n AS DOUBLE) * (m.n - 1) * (2 * m.n + 5)
                          - t.tie18) / 18.0)
                WHEN s.s_stat < 0 THEN
                  (CAST(s.s_stat AS DOUBLE) + 1)
                  / sqrt((CAST(m.n AS DOUBLE) * (m.n - 1) * (2 * m.n + 5)
                          - t.tie18) / 18.0)
                ELSE 0.0 END AS mk_z,
           CAST(CASE WHEN s.s_stat > 0 THEN 1
                     WHEN s.s_stat < 0 THEN -1 ELSE 0 END AS BIGINT)
             AS trend_direction
    FROM m CROSS JOIN s CROSS JOIN ties t
    WHERE m.n > 2
      AND m.n * (m.n - 1) * (2 * m.n + 5) - t.tie18 > 0
    """,
    doc="Mann-Kendall monotonic-trend test over the daily revenue series — "
    "the published companion of agg_theil_sen (MK decides IF a monotonic "
    "trend exists, Theil-Sen estimates its slope; together they are the "
    "standard robust trend kit): S = sum of pairwise sign(x_j - x_i) over "
    "time-ordered pairs, the tie-corrected variance 18*Var = "
    "n(n-1)(2n+5) - sum t(t-1)(2t+5), and the continuity-corrected "
    "normal z. S, the tie term and 18*Var are EXACT BIGINTs (the "
    "calendar-bounded n keeps n^3 far below 2^53, so the one "
    "integer-to-double conversion is exact); z is one fixed-order IEEE "
    "expression per sign branch. The pair join is CALENDAR-bounded "
    "(days^2, independent of fact rows — the agg_theil_sen NLJ contract, "
    "allowlisted by design); everything upstream is one map-combined day "
    "rollup.",
)
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    idx = d.select(
        "rev_c",
        F.date_diff(F.col("day"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("t"),
    )
    idx = idx.persist()  # calendar-bounded; consumed by both pair sides
    a = idx.select(F.col("rev_c").alias("ra"), F.col("t").alias("ta"))
    b = idx.select(F.col("rev_c").alias("rb"), F.col("t").alias("tb"))
    s = a.join(F.broadcast(b), F.col("tb") > F.col("ta")).agg(
        F.sum(
            F.when(F.col("rb") > F.col("ra"), 1)
            .when(F.col("rb") < F.col("ra"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    ties = (
        d.groupBy("rev_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie18")
        )
    )
    m = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie18")
    )
    var18d = (
        F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie18")
    )
    sd = F.col("s_stat").cast("double")
    z = (
        F.when(F.col("s_stat") > 0, (sd - 1) / F.sqrt(var18d / 18.0))
        .when(F.col("s_stat") < 0, (sd + 1) / F.sqrt(var18d / 18.0))
        .otherwise(F.lit(0.0))
    )
    out = (
        m.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .filter((F.col("n") > 2) & (var18 > 0))
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            var18.alias("var_x18"),
            z.alias("mk_z"),
            F.when(F.col("s_stat") > 0, 1)
            .when(F.col("s_stat") < 0, -1)
            .otherwise(0)
            .cast("bigint")
            .alias("trend_direction"),
        )
    )
    return release_on_gc(idx, out)


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
# agg_matthews_corr — Matthews correlation coefficient per ship-year
# ---------------------------------------------------------------------------


@register(
    "agg_matthews_corr",
    oracle="""
    WITH b AS (
      SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS p
      FROM lineitem WHERE l_shipdate IS NOT NULL
    ),
    c AS (
      SELECT yr,
             CAST(sum(y * p) AS BIGINT)             AS tp,
             CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn,
             CAST(sum((1 - y) * p) AS BIGINT)       AS fp,
             CAST(sum(y * (1 - p)) AS BIGINT)       AS fn
      FROM b GROUP BY yr
    )
    SELECT yr, tp, tn, fp, fn,
           CAST(tp * tn - fp * fn AS DOUBLE)
             / (sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE))
                * sqrt(CAST((tn + fp) * (tn + fn) AS DOUBLE))) AS mcc
    FROM c
    WHERE (tp + fp) * (tp + fn) > 0 AND (tn + fp) * (tn + fn) > 0
    ORDER BY yr
    """,
    doc="Matthews correlation coefficient of a discount-based return "
    "predictor, per ship-year: the single-number binary-classifier "
    "summary that stays honest under class imbalance (unlike accuracy "
    "or F1, MCC uses all four confusion cells symmetrically). The "
    "confusion matrix is one map-side aggregation of 0/1 products; the "
    "marginal products stay below 2^53 through sf10 (documented bound "
    "— each marginal is at most the row count), so the two sqrt's see "
    "exactly-converted integers and the MCC is one fixed-order IEEE "
    "expression. Complements agg_roc_auc (threshold-free rank view) "
    "and agg_cohen_kappa (chance-corrected agreement).",
)
def agg_matthews_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    b = li.select(
        F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("yr"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("p"),
    )
    c = b.groupBy("yr").agg(
        F.sum(F.col("y") * F.col("p")).cast("bigint").alias("tp"),
        F.sum((1 - F.col("y")) * (1 - F.col("p")))
        .cast("bigint")
        .alias("tn"),
        F.sum((1 - F.col("y")) * F.col("p")).cast("bigint").alias("fp"),
        F.sum(F.col("y") * (1 - F.col("p"))).cast("bigint").alias("fn"),
    )
    return (
        c.filter(
            ((F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn")) > 0)
            & ((F.col("tn") + F.col("fp")) * (F.col("tn") + F.col("fn")) > 0)
        )
        .select(
            "yr",
            "tp",
            "tn",
            "fp",
            "fn",
            (
                (
                    F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")
                ).cast("double")
                / (
                    F.sqrt(
                        (
                            (F.col("tp") + F.col("fp"))
                            * (F.col("tp") + F.col("fn"))
                        ).cast("double")
                    )
                    * F.sqrt(
                        (
                            (F.col("tn") + F.col("fp"))
                            * (F.col("tn") + F.col("fn"))
                        ).cast("double")
                    )
                )
            ).alias("mcc"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# agg_brier_score — probabilistic-forecast calibration per ship-year
# ---------------------------------------------------------------------------


@register(
    "agg_brier_score",
    oracle="""
    WITH b AS (
      SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
             CAST(round(l_discount * 100) AS BIGINT) AS p10,
             CASE WHEN l_returnflag = 'R' THEN 10 ELSE 0 END AS y10
      FROM lineitem WHERE l_shipdate IS NOT NULL
    )
    SELECT yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(1000000000 * CAST(sum(CAST((p10 - y10) * (p10 - y10)
                  AS HUGEINT)) AS HUGEINT) // (100 * count(*))
                AS BIGINT) AS brier_ppb,
           CAST(1000000000 * CAST(sum(y10 // 10) AS HUGEINT) // count(*)
                AS BIGINT) AS base_rate_ppb
    FROM b GROUP BY yr ORDER BY yr
    """,
    doc="Brier score of the discount-as-return-probability forecast, per "
    "ship-year, with the base rate alongside — the proper scoring rule "
    "that grades PROBABILITIES where agg_roc_auc grades only ranks and "
    "agg_matthews_corr grades one thresholded cut. The forecast lives "
    "on a tenths grid (discount percents 0..10), so each squared error "
    "(p - y)^2 = ((p10 - 10y)/10)^2 is an exact integer over 100: the "
    "sum accumulates in DECIMAL(38,0)/HUGEINT and one non-negative "
    "floor-division lands the ppb score — no float ever touches the "
    "hash surface. One map-side aggregation over seven year groups.",
)
def agg_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    b = li.select(
        F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("yr"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("p10"),
        F.when(F.col("l_returnflag") == "R", 10).otherwise(0).alias("y10"),
    )
    g = b.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum((F.col("p10") - F.col("y10")) * (F.col("p10") - F.col("y10")))
        .alias("se"),
        F.sum(F.expr("y10 div 10")).cast("decimal(38,0)").alias("pos"),
    )
    return g.select(
        "yr",
        "n",
        F.expr("CAST(1000000000 * se div (100 * n) AS BIGINT)").alias(
            "brier_ppb"
        ),
        F.expr("CAST(1000000000 * pos div n AS BIGINT)").alias(
            "base_rate_ppb"
        ),
    ).orderBy("yr")


# ---------------------------------------------------------------------------
# agg_sign_test — paired-period spend comparison (exact nonparametric)
# ---------------------------------------------------------------------------


@register(
    "agg_sign_test",
    oracle="""
    WITH per AS (
      SELECT o_custkey,
             CAST(sum(CASE WHEN o_orderdate < DATE '1995-01-01'
                      THEN CAST(round(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS early,
             CAST(sum(CASE WHEN o_orderdate >= DATE '1995-01-01'
                      THEN CAST(round(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS late
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY o_custkey
    ),
    c AS (
      SELECT CAST(sum(CASE WHEN late > early THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             CAST(sum(CASE WHEN late < early THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg,
             CAST(sum(CASE WHEN late = early THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tie
      FROM per
    )
    SELECT n_pos, n_neg, n_tie,
           CAST(least(n_pos, n_neg) AS BIGINT) AS s_statistic,
           (abs(CAST(n_pos - n_neg AS DOUBLE)) - 1.0)
             / sqrt(CAST(n_pos + n_neg AS DOUBLE)) AS z_approx
    FROM c
    """,
    doc="Exact sign test on paired per-customer spend (pre-1995 vs from-"
    "1995): the assumption-free sibling of events_wilcoxon_signed_rank "
    "(which adds rank weights) and events_paired_ttest (which assumes "
    "normality) — the sign test needs ONLY the direction of each pair, "
    "so it survives arbitrary spend skew. Counts are one hash "
    "aggregation over the customer rollup; the continuity-corrected "
    "normal z is a fixed-order IEEE expression over exact integers "
    "(|pos-neg| built with abs-of-double to keep every integer "
    "division non-negative-free). Two shuffles total, both keyed.",
)
def agg_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per = o.groupBy("o_custkey").agg(
        F.sum(
            F.when(F.col("o_orderdate") < F.lit("1995-01-01").cast("date"),
                   cents).otherwise(0)
        )
        .cast("bigint")
        .alias("early"),
        F.sum(
            F.when(F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"),
                   cents).otherwise(0)
        )
        .cast("bigint")
        .alias("late"),
    )
    c = per.agg(
        F.sum(F.when(F.col("late") > F.col("early"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("late") < F.col("early"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
        F.sum(F.when(F.col("late") == F.col("early"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_tie"),
    )
    return c.select(
        "n_pos",
        "n_neg",
        "n_tie",
        F.least("n_pos", "n_neg").cast("bigint").alias("s_statistic"),
        (
            (
                F.abs((F.col("n_pos") - F.col("n_neg")).cast("double"))
                - F.lit(1.0)
            )
            / F.sqrt((F.col("n_pos") + F.col("n_neg")).cast("double"))
        ).alias("z_approx"),
    )


# ---------------------------------------------------------------------------
# agg_dixon_q — single-outlier screen per nation (extreme-gap ratio)
# ---------------------------------------------------------------------------


@register(
    "agg_dixon_q",
    oracle="""
    WITH v AS (
      SELECT c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY round(c_acctbal * 100) DESC,
                                         c_custkey) AS rd,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY round(c_acctbal * 100) ASC,
                                         c_custkey) AS ra,
             count(*) OVER (PARTITION BY c_nationkey) AS n
      FROM customer
    ),
    g AS (
      SELECT c_nationkey,
             CAST(min(n) AS BIGINT) AS n,
             CAST(max(CASE WHEN rd = 1 THEN bal END) AS BIGINT) AS x_max,
             CAST(max(CASE WHEN rd = 2 THEN bal END) AS BIGINT) AS x_max2,
             CAST(max(CASE WHEN ra = 1 THEN bal END) AS BIGINT) AS x_min,
             CAST(max(CASE WHEN ra = 2 THEN bal END) AS BIGINT) AS x_min2
      FROM v GROUP BY c_nationkey
    )
    SELECT c_nationkey, n, x_min, x_max,
           CAST(1000000000 * (x_max - x_max2) // (x_max - x_min)
                AS BIGINT) AS q_high_ppb,
           CAST(1000000000 * (x_min2 - x_min) // (x_max - x_min)
                AS BIGINT) AS q_low_ppb
    FROM g
    WHERE n >= 3 AND x_max > x_min
    ORDER BY c_nationkey
    """,
    doc="Dixon's Q outlier screen per nation on customer balances: the "
    "extreme-gap-to-range ratio at BOTH tails — the small-sample "
    "single-outlier test that needs only four order statistics, no "
    "moments (agg_grubbs_test is its variance-based sibling; "
    "agg_mad_outliers the robust bulk screen). The four extremes come "
    "from two per-nation rank windows (partitioned — never global) "
    "with a deterministic custkey tie-break; balances are exact cents "
    "and both Q ratios are non-negative ppb floor-divisions (gap <= "
    "range by construction). Everything after the one keyed shuffle "
    "is nation-cardinality-sized.",
)
def agg_dixon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    bal = F.round(F.col("c_acctbal") * 100).cast("bigint")
    wd = Window.partitionBy("c_nationkey").orderBy(
        F.desc("bal"), F.col("c_custkey")
    )
    wa = Window.partitionBy("c_nationkey").orderBy(
        F.asc("bal"), F.col("c_custkey")
    )
    wn = Window.partitionBy("c_nationkey")
    v = c.select(
        "c_nationkey", bal.alias("bal"), "c_custkey"
    ).select(
        "c_nationkey",
        "bal",
        F.row_number().over(wd).alias("rd"),
        F.row_number().over(wa).alias("ra"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    g = v.groupBy("c_nationkey").agg(
        F.min("n").cast("bigint").alias("n"),
        F.max(F.when(F.col("rd") == 1, F.col("bal")))
        .cast("bigint")
        .alias("x_max"),
        F.max(F.when(F.col("rd") == 2, F.col("bal")))
        .cast("bigint")
        .alias("x_max2"),
        F.max(F.when(F.col("ra") == 1, F.col("bal")))
        .cast("bigint")
        .alias("x_min"),
        F.max(F.when(F.col("ra") == 2, F.col("bal")))
        .cast("bigint")
        .alias("x_min2"),
    )
    return (
        g.filter((F.col("n") >= 3) & (F.col("x_max") > F.col("x_min")))
        .select(
            "c_nationkey",
            "n",
            "x_min",
            "x_max",
            F.expr(
                "1000000000 * (x_max - x_max2) div (x_max - x_min)"
            ).alias("q_high_ppb"),
            F.expr(
                "1000000000 * (x_min2 - x_min) div (x_max - x_min)"
            ).alias("q_low_ppb"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# agg_cliff_delta — ordinal effect size over the quantity domain grid
# ---------------------------------------------------------------------------


@register(
    "agg_cliff_delta",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v,
             CAST(sum(g) AS BIGINT)     AS n1,
             CAST(sum(1 - g) AS BIGINT) AS n2
      FROM b GROUP BY v
    ),
    cum AS (
      SELECT v, n1, n2,
             coalesce(sum(n2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS n2_below,
             coalesce(sum(n2) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS n2_above
      FROM cells
    ),
    t AS (
      SELECT CAST(sum(n1) AS BIGINT) AS t1,
             CAST(sum(n2) AS BIGINT) AS t2,
             CAST(sum(CAST(n1 AS HUGEINT) * n2_below) AS HUGEINT) AS gt,
             CAST(sum(CAST(n1 AS HUGEINT) * n2_above) AS HUGEINT) AS lt
      FROM cum
    )
    SELECT t1 AS n_treat, t2 AS n_control,
           CAST(gt AS BIGINT) AS pairs_gt,
           CAST(lt AS BIGINT) AS pairs_lt,
           CAST((CASE WHEN gt >= lt THEN 1 ELSE -1 END)
                * ((1000000000 * abs(gt - lt))
                   // (CAST(t1 AS HUGEINT) * t2)) AS BIGINT)
             AS cliff_delta_ppb
    FROM t
    """,
    doc="Cliff's delta between discounted (>=6%) and low-discount line "
    "quantities: the ordinal effect size P(X>Y) - P(X<Y) that "
    "agg_mann_whitney's U statistic tests but does not report — delta "
    "is what you quote when 'significant' needs a MAGNITUDE. The "
    "pair counts never materialize pairs: quantities collapse to the "
    "~50-value domain grid, and gt/lt are sums of n1_v times the "
    "cumulative opposite-group mass strictly below/above v (two "
    "bounded cumulative windows over the grid). Counts multiply into "
    "HUGEINT/DECIMAL(38,0); the signed delta divides |gt - lt| (non-"
    "negative) and restores the sign explicitly. One domain-sized "
    "shuffle; the window inputs are ~50 rows at any SF.",
)
def agg_cliff_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("v"),
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("n1"),
        F.sum(1 - F.col("g")).cast("bigint").alias("n2"),
    )
    w_lo = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_hi = Window.orderBy(F.desc("v")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = cells.select(
        "v",
        "n1",
        "n2",
        F.coalesce(F.sum("n2").over(w_lo), F.lit(0)).alias("n2_below"),
        F.coalesce(F.sum("n2").over(w_hi), F.lit(0)).alias("n2_above"),
    )
    t = cum.agg(
        F.sum("n1").cast("bigint").alias("t1"),
        F.sum("n2").cast("bigint").alias("t2"),
        _dsum(F.col("n1").cast("decimal(38,0)") * F.col("n2_below")).alias(
            "gt"
        ),
        _dsum(F.col("n1").cast("decimal(38,0)") * F.col("n2_above")).alias(
            "lt"
        ),
    )
    return t.select(
        F.col("t1").alias("n_treat"),
        F.col("t2").alias("n_control"),
        F.col("gt").cast("bigint").alias("pairs_gt"),
        F.col("lt").cast("bigint").alias("pairs_lt"),
        F.expr(
            "CAST((CASE WHEN gt >= lt THEN 1 ELSE -1 END)"
            " * ((1000000000 * abs(gt - lt))"
            "    div (CAST(t1 AS DECIMAL(38,0)) * t2)) AS BIGINT)"
        ).alias("cliff_delta_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_hosmer_lemeshow — calibration table for the discount-as-probability
# ---------------------------------------------------------------------------


@register(
    "agg_hosmer_lemeshow",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS p10,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    g AS (
      SELECT p10,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS observed
      FROM b WHERE p10 BETWEEN 1 AND 9 GROUP BY p10
    )
    SELECT p10 AS prob_tenths, n, observed,
           CAST(n * p10 AS BIGINT) AS expected_tenths,
           CAST((1000000 * CAST((10 * observed - n * p10) AS HUGEINT)
                 * (10 * observed - n * p10))
                // (CAST(n AS HUGEINT) * p10 * (10 - p10)) AS BIGINT)
             AS hl_contribution_micro
    FROM g
    ORDER BY p10
    """,
    doc="Hosmer-Lemeshow calibration table for the discount-as-return-"
    "probability forecast: per probability cell (tenths grid 0.1..0.9), "
    "observed vs expected positives and the exact chi-square "
    "contribution (O - np)^2/(np(1-p)) — the goodness-of-CALIBRATION "
    "decomposition that tells you WHICH probability band is "
    "mis-calibrated where agg_brier_score gives one blended number "
    "and agg_roc_auc ignores calibration entirely. In the tenths "
    "frame the contribution is the exact integer rational "
    "(10O - n*p10)^2 / (n*p10*(10-p10)), accumulated in HUGEINT/"
    "DECIMAL(38,0) and floor-divided to micro-units on non-negative "
    "operands (the square kills the sign). One map-side aggregation "
    "over nine cells.",
)
def agg_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("p10"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = (
        b.filter((F.col("p10") >= 1) & (F.col("p10") <= 9))
        .groupBy("p10")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("observed"),
        )
    )
    return g.select(
        F.col("p10").alias("prob_tenths"),
        "n",
        "observed",
        (F.col("n") * F.col("p10")).cast("bigint").alias("expected_tenths"),
        F.expr(
            "CAST((1000000 * CAST((10 * observed - n * p10) AS DECIMAL(38,0))"
            "      * (10 * observed - n * p10))"
            " div (CAST(n AS DECIMAL(38,0)) * p10 * (10 - p10)) AS BIGINT)"
        ).alias("hl_contribution_micro"),
    ).orderBy("prob_tenths")


# ---------------------------------------------------------------------------
# agg_siegel_tukey — alternating-extreme-rank scale test (domain grid)
# ---------------------------------------------------------------------------


@register(
    "agg_siegel_tukey",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v,
             CAST(sum(g) AS BIGINT) AS n1,
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
      SELECT v, n1, c, nn,
             -- G(p): prefix sum of Siegel-Tukey ranks over positions 1..p
             -- bottom j ranks 1,4,5,8,9..: SB(j) = j(j+1) - (j+1)//2
             -- top j ranks 2,3,6,7..:     ST(j) = j(j+1) - j//2
             -- B = (nn+1)//2 bottom-assigned positions
             ((least(lo0 + c, (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)) * (least(lo0 + c, (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END))
                + 1)) - (least(lo0 + c, (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)) + 1) // 2
              + CASE WHEN lo0 + c > (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END) THEN
                  ((nn - (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)) * (nn - (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END) + 1)
                     - (nn - (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)) // 2)
                  - ((nn - lo0 - c) * (nn - lo0 - c + 1)
                     - (nn - lo0 - c) // 2)
                ELSE 0 END)
             -
             ((least(lo0, (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)) * (least(lo0, (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)) + 1))
                - (least(lo0, (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)) + 1) // 2
              + CASE WHEN lo0 > (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END) THEN
                  ((nn - (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)) * (nn - (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END) + 1)
                     - (nn - (2 * (nn // 4) + CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END)) // 2)
                  - ((nn - lo0) * (nn - lo0 + 1) - (nn - lo0) // 2)
                ELSE 0 END) AS block_sum
      FROM pos
    ),
    terms AS (
      SELECT v, nn,
             (2000000 * CAST(n1 AS HUGEINT) * block_sum) // c AS term_q
      FROM st
    ),
    acc AS (
      SELECT CAST(min(nn) AS BIGINT) AS nn,
             CAST(sum(term_q) AS HUGEINT) AS tq
      FROM terms
    ),
    tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS t1,
             CAST(sum(c - n1) AS BIGINT) AS t2,
             CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS tie3
      FROM cells
    )
    SELECT tot.t1 AS n_treat, tot.t2 AS n_control,
           CAST(acc.tq // 1000000 AS BIGINT) AS w2_units,
           CAST(acc.tq % 1000000 AS BIGINT) AS w2_micro_frac,
           CAST(tot.t1 * (acc.nn + 1) AS BIGINT) AS w2_null_mean,
           (CAST(acc.tq // 1000000 AS BIGINT)
              + CAST(acc.tq % 1000000 AS BIGINT) / 1000000.0
              - CAST(tot.t1 * (acc.nn + 1) AS DOUBLE))
             / sqrt(CAST(tot.t1 AS DOUBLE) * tot.t2 / 3.0
                    * ((acc.nn + 1)
                       - CAST((1000000000 * tot.tie3)
                              // (CAST(acc.nn AS HUGEINT) * (acc.nn - 1))
                              AS DOUBLE) / 1000000000.0)) AS z_score
    FROM acc CROSS JOIN tot
    """,
    doc="Siegel-Tukey scale test between discounted (>=6%) and low-"
    "discount line quantities: relabel the pooled sample with "
    "ALTERNATING EXTREME ranks (1 to the minimum; 2,3 to the two "
    "maxima; 4,5 to the next two minima; ...) and run the Wilcoxon "
    "rank-sum on the relabeled ranks — a dispersion test with the "
    "exact Wilcoxon null, no moments (agg_ansari_bradley is its "
    "center-out mirror; agg_levene_bf the moment-based sibling). The "
    "alternating ranks never materialize per row: over the ~50-value "
    "quantity domain, each tie block's rank SUM comes from the exact "
    "closed-form prefix G(p) = SB(min(p,B)) + [p>B](ST(N-B) - ST(N-p)) "
    "with SB(j) = j(j+1) - ceil(j/2), ST(j) = j(j+1) - floor(j/2), "
    "B = 2*floor(N/4) + (N mod 4 != 0) bottom-assigned positions (brute-force property-pinned for N=1..299 in tests) — pure integer arithmetic, identical in both "
    "engines. Midrank averaging micro-quantizes each tie block's "
    "doubled rank-sum contribution by ONE non-negative floor-division "
    "((2e6*n1*block_sum) div c), so the cross-block total is an exact "
    "order-free integer sum (a first draft summed per-cell FLOATS "
    "through an ordered window and diverged: DuckDB's windowed sum "
    "associates via segment trees, Spark's sequentially); the hi/lo "
    "units+frac split converts the >2^53 micro total to double "
    "bit-identically. The z uses the tie-corrected Wilcoxon variance "
    "with the tie term ppb-quantized. One domain-sized shuffle.",
)
def agg_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("v"),
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("n1"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    cells = cells.persist()
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    pos = cells.select(
        "v",
        "n1",
        "c",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("lo0"),
        F.sum("c").over(w_all).alias("nn"),
    )

    def _sb(j: str) -> str:
        return f"(({j}) * (({j}) + 1) - (({j}) + 1) div 2)"

    def _st(j: str) -> str:
        return f"(({j}) * (({j}) + 1) - ({j}) div 2)"

    def _g(p: str) -> str:
        bb = "(2 * (nn div 4) + (CASE WHEN nn % 4 = 0 THEN 0 ELSE 1 END))"
        return (
            f"({_sb(f'least({p}, {bb})')}"
            f" + CASE WHEN ({p}) > {bb} THEN"
            f"     {_st(f'(nn - {bb})')} - {_st(f'(nn - ({p}))')}"
            f"   ELSE 0 END)"
        )

    st = pos.select(
        "v",
        "n1",
        "c",
        "nn",
        F.expr(f"{_g('lo0 + c')} - {_g('lo0')}").alias("block_sum"),
    )
    terms = st.select(
        "v",
        "nn",
        F.expr(
            "(2000000 * CAST(n1 AS DECIMAL(38,0)) * block_sum) div c"
        ).alias("term_q"),
    )
    acc = terms.agg(
        F.min("nn").cast("bigint").alias("nn"),
        _dsum(F.col("term_q")).alias("tq"),
    )
    tot = cells.agg(
        F.sum("n1").cast("bigint").alias("t1"),
        F.sum(F.col("c") - F.col("n1")).cast("bigint").alias("t2"),
        _dsum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("tie3"),
    )
    _out = acc.crossJoin(F.broadcast(tot)).select(
        F.col("t1").alias("n_treat"),
        F.col("t2").alias("n_control"),
        F.expr("CAST(tq div 1000000 AS BIGINT)").alias("w2_units"),
        F.expr("CAST(tq % 1000000 AS BIGINT)").alias("w2_micro_frac"),
        (F.col("t1") * (F.col("nn") + 1)).cast("bigint").alias(
            "w2_null_mean"
        ),
        (
            (
                F.expr("CAST(tq div 1000000 AS BIGINT)").cast("double")
                + F.expr("CAST(tq % 1000000 AS BIGINT)").cast("double")
                / F.lit(1000000.0)
                - (F.col("t1") * (F.col("nn") + 1)).cast("double")
            )
            / F.sqrt(
                F.col("t1").cast("double")
                * F.col("t2")
                / F.lit(3.0)
                * (
                    (F.col("nn") + 1)
                    - F.expr(
                        "CAST((1000000000 * tie3)"
                        " div (CAST(nn AS DECIMAL(38,0)) * (nn - 1))"
                        " AS DOUBLE)"
                    )
                    / F.lit(1000000000.0)
                )
            )
        ).alias("z_score"),
    )
    return release_on_gc(cells, _out)



# ---------------------------------------------------------------------------
# agg_mantel_haenszel — stratified common odds ratio (year strata)
# ---------------------------------------------------------------------------


@register(
    "agg_mantel_haenszel",
    oracle="""
    WITH b AS (
      SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
             CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS e,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem WHERE l_shipdate IS NOT NULL
    ),
    s AS (
      SELECT yr,
             CAST(sum(e * y) AS BIGINT)             AS a,
             CAST(sum(e * (1 - y)) AS BIGINT)       AS bb,
             CAST(sum((1 - e) * y) AS BIGINT)       AS c,
             CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT)               AS n
      FROM b GROUP BY yr
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum((1000000 * CAST(a AS HUGEINT) * d) // n) AS HUGEINT)
               AS r_micro,
             CAST(sum((1000000 * CAST(bb AS HUGEINT) * c) // n) AS HUGEINT)
               AS s_micro,
             CAST(sum(a) AS BIGINT) AS ta, CAST(sum(bb) AS BIGINT) AS tb,
             CAST(sum(c) AS BIGINT) AS tc, CAST(sum(d) AS BIGINT) AS td
      FROM s
    )
    SELECT n_strata,
           CAST(r_micro AS BIGINT) AS sum_ad_micro,
           CAST(s_micro AS BIGINT) AS sum_bc_micro,
           CAST((1000000000 * r_micro) // greatest(s_micro, 1) AS BIGINT)
             AS mh_odds_ratio_ppb,
           CAST((1000000000 * CAST(ta AS HUGEINT) * td)
                // greatest(CAST(tb AS HUGEINT) * tc, 1) AS BIGINT)
             AS pooled_odds_ratio_ppb
    FROM t
    """,
    doc="Mantel-Haenszel common odds ratio of discount exposure vs "
    "returns, stratified by ship-year: MH = sum(a_i*d_i/n_i) / "
    "sum(b_i*c_i/n_i) — the stratum-weighted estimator that survives "
    "confounding-by-year where the pooled 2x2 odds ratio (emitted "
    "alongside, for the Simpson's-paradox contrast with "
    "events_odds_ratio's single-table view) does not. Each stratum "
    "term micro-quantizes by one non-negative floor-division "
    "(1e6*a*d div n — exact HUGEINT/DECIMAL(38,0) products), so the "
    "cross-stratum sums are plain integer additions (order-free) and "
    "the final ratio is one more integer division. One map-side "
    "aggregation over seven strata.",
)
def agg_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    b = li.select(
        F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("yr"),
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("e"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    s = b.groupBy("yr").agg(
        F.sum(F.col("e") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("bigint").alias("bb"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y")))
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    t = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(
            F.expr("(1000000 * CAST(a AS DECIMAL(38,0)) * d) div n")
        )
        .cast("decimal(38,0)")
        .alias("r_micro"),
        F.sum(
            F.expr("(1000000 * CAST(bb AS DECIMAL(38,0)) * c) div n")
        )
        .cast("decimal(38,0)")
        .alias("s_micro"),
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("bb").cast("bigint").alias("tb"),
        F.sum("c").cast("bigint").alias("tc"),
        F.sum("d").cast("bigint").alias("td"),
    )
    return t.select(
        "n_strata",
        F.col("r_micro").cast("bigint").alias("sum_ad_micro"),
        F.col("s_micro").cast("bigint").alias("sum_bc_micro"),
        F.expr(
            "CAST((1000000000 * r_micro) div greatest(s_micro, 1)"
            " AS BIGINT)"
        ).alias("mh_odds_ratio_ppb"),
        F.expr(
            "CAST((1000000000 * CAST(ta AS DECIMAL(38,0)) * td)"
            " div greatest(CAST(tb AS DECIMAL(38,0)) * tc, 1) AS BIGINT)"
        ).alias("pooled_odds_ratio_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_breslow_day — homogeneity of odds ratios across strata
# ---------------------------------------------------------------------------


@register(
    "agg_breslow_day",
    oracle="""
    WITH b AS (
      SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
             CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS e,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem WHERE l_shipdate IS NOT NULL
    ),
    s AS (
      SELECT yr,
             CAST(sum(e * y) AS BIGINT)             AS a,
             CAST(sum(e * (1 - y)) AS BIGINT)       AS bb,
             CAST(sum((1 - e) * y) AS BIGINT)       AS c,
             CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT)               AS n
      FROM b GROUP BY yr
    ),
    mh AS (
      SELECT CAST((1000000000 *
                   CAST(sum((1000000 * CAST(a AS HUGEINT) * d) // n)
                        AS HUGEINT))
                  // greatest(CAST(sum((1000000 * CAST(bb AS HUGEINT) * c)
                                       // n) AS HUGEINT), 1) AS BIGINT)
               AS psi_ppb
      FROM s
    ),
    q AS (
      SELECT s.yr, s.a, s.bb, s.c, s.d,
             s.a + s.bb AS r1, s.a + s.c AS c1, s.n,
             CAST(mh.psi_ppb AS DOUBLE) / 1000000000.0 AS psi
      FROM s CROSS JOIN mh
    ),
    r AS (
      SELECT yr, a, bb, c, d, r1, c1, n, psi,
             (1.0 - psi) AS qa,
             (CAST(n - r1 - c1 AS DOUBLE)) + psi * (r1 + c1) AS qb,
             -(psi * CAST(r1 AS DOUBLE) * c1) AS qc
      FROM q
    ),
    ah AS (
      SELECT yr, a, bb, c, d, r1, c1, n, psi,
             CASE WHEN abs(qa) < 1e-12
                  THEN -qc / qb
                  ELSE (-qb + sqrt(qb * qb - 4.0 * qa * qc)) / (2.0 * qa)
             END AS a_hat
      FROM r
    )
    SELECT yr,
           a, bb AS b, c, d,
           CAST((1000000000 * CAST(a AS HUGEINT) * d)
                // greatest(CAST(bb AS HUGEINT) * c, 1) AS BIGINT)
             AS or_ppb,
           a_hat,
           (CAST(a AS DOUBLE) - a_hat) * (CAST(a AS DOUBLE) - a_hat)
             / (1.0 / (1.0 / a_hat + 1.0 / (CAST(r1 AS DOUBLE) - a_hat)
                       + 1.0 / (CAST(c1 AS DOUBLE) - a_hat)
                       + 1.0 / (CAST(n - r1 - c1 AS DOUBLE) + a_hat)))
             AS bd_contribution
    FROM ah
    ORDER BY yr
    """,
    doc="Breslow-Day homogeneity test (per-stratum table): given "
    "agg_mantel_haenszel's common odds ratio psi, solve the per-"
    "stratum quadratic (1-psi)*a^2 + [(n-r1-c1) + psi(r1+c1)]*a - "
    "psi*r1*c1 = 0 for the fitted cell a_hat and report each "
    "stratum's chi-square contribution (a - a_hat)^2 / Var(a_hat) — "
    "the diagnostic that says whether ONE common odds ratio is even "
    "the right summary before quoting MH (effect-modification check). "
    "The 2x2 cells and psi's ppb frame are exact integers; a_hat and "
    "the contribution are fixed-order IEEE compositions (quadratic "
    "formula with the positive root, harmonic variance), identical "
    "in both engines because every input converts exactly. The "
    "psi = 1 degenerate case falls back to the exact linear root. "
    "Seven-stratum output from one map-side aggregation.",
)
def agg_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    b = li.select(
        F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("yr"),
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("e"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    s = b.groupBy("yr").agg(
        F.sum(F.col("e") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("bigint").alias("bb"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y")))
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    s = s.persist()
    mh = s.agg(
        F.expr(
            "CAST((1000000000 *"
            " CAST(sum((1000000 * CAST(a AS DECIMAL(38,0)) * d) div n)"
            "      AS DECIMAL(38,0)))"
            " div greatest(CAST(sum((1000000 * CAST(bb AS DECIMAL(38,0))"
            "                         * c) div n) AS DECIMAL(38,0)), 1)"
            " AS BIGINT)"
        ).alias("psi_ppb")
    )
    q = s.crossJoin(F.broadcast(mh)).select(
        "yr",
        "a",
        "bb",
        "c",
        "d",
        (F.col("a") + F.col("bb")).alias("r1"),
        (F.col("a") + F.col("c")).alias("c1"),
        "n",
        (F.col("psi_ppb").cast("double") / F.lit(1000000000.0)).alias(
            "psi"
        ),
    )
    r = q.select(
        "*",
        (F.lit(1.0) - F.col("psi")).alias("qa"),
        (
            (F.col("n") - F.col("r1") - F.col("c1")).cast("double")
            + F.col("psi") * (F.col("r1") + F.col("c1"))
        ).alias("qb"),
        (-(F.col("psi") * F.col("r1").cast("double") * F.col("c1"))).alias(
            "qc"
        ),
    )
    ah = r.select(
        "*",
        F.when(
            F.abs(F.col("qa")) < 1e-12, -F.col("qc") / F.col("qb")
        )
        .otherwise(
            (
                -F.col("qb")
                + F.sqrt(
                    F.col("qb") * F.col("qb")
                    - F.lit(4.0) * F.col("qa") * F.col("qc")
                )
            )
            / (F.lit(2.0) * F.col("qa"))
        )
        .alias("a_hat"),
    )
    _out = ah.select(
        "yr",
        "a",
        F.col("bb").alias("b"),
        "c",
        "d",
        F.expr(
            "CAST((1000000000 * CAST(a AS DECIMAL(38,0)) * d)"
            " div greatest(CAST(bb AS DECIMAL(38,0)) * c, 1) AS BIGINT)"
        ).alias("or_ppb"),
        "a_hat",
        (
            (F.col("a").cast("double") - F.col("a_hat"))
            * (F.col("a").cast("double") - F.col("a_hat"))
            / (
                F.lit(1.0)
                / (
                    F.lit(1.0) / F.col("a_hat")
                    + F.lit(1.0)
                    / (F.col("r1").cast("double") - F.col("a_hat"))
                    + F.lit(1.0)
                    / (F.col("c1").cast("double") - F.col("a_hat"))
                    + F.lit(1.0)
                    / (
                        (F.col("n") - F.col("r1") - F.col("c1")).cast(
                            "double"
                        )
                        + F.col("a_hat")
                    )
                )
            )
        ).alias("bd_contribution"),
    ).orderBy("yr")
    return release_on_gc(s, _out)


# ---------------------------------------------------------------------------
# agg_cucconi — joint location-scale rank test (squared ranks + antiranks)
# ---------------------------------------------------------------------------


@register(
    "agg_cucconi",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v,
             CAST(sum(g) AS BIGINT) AS n1,
             CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY v
    ),
    mr AS (
      SELECT v, n1, c,
             2 * coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2,
             (SELECT sum(c) FROM cells) AS nn
      FROM cells
    ),
    s AS (
      SELECT CAST(min(nn) AS BIGINT) AS nn,
             CAST(sum(n1) AS BIGINT) AS t1,
             CAST(sum(c - n1) AS BIGINT) AS t2,
             CAST(sum(CAST(n1 AS HUGEINT) * r2 * r2) AS HUGEINT) AS a4,
             CAST(sum(CAST(n1 AS HUGEINT) * (2 * (nn + 1) - r2)
                      * (2 * (nn + 1) - r2)) AS HUGEINT) AS b4
      FROM mr
    ),
    f AS (
      SELECT nn, t1, t2,
             3 * a4 - 2 * CAST(t1 AS HUGEINT) * (nn + 1) * (2 * nn + 1)
               AS un2,
             3 * b4 - 2 * CAST(t1 AS HUGEINT) * (nn + 1) * (2 * nn + 1)
               AS vn2,
             sqrt(CAST(t1 AS DOUBLE) * t2 * (nn + 1) * (2.0 * nn + 1)
                  * (8.0 * nn + 11) / 5.0) AS dd,
             2.0 * (CAST(nn AS DOUBLE) * nn - 4)
               / ((2.0 * nn + 1) * (8.0 * nn + 11)) - 1.0 AS rho
      FROM s
    ),
    uv AS (
      SELECT nn, t1, t2, rho,
             (CASE WHEN un2 >= 0 THEN 1.0 ELSE -1.0 END)
               * (CAST((abs(un2) // 67108864) AS DOUBLE) * 67108864.0
                  + CAST((abs(un2) % 67108864) AS DOUBLE))
               / (2.0 * dd) AS u,
             (CASE WHEN vn2 >= 0 THEN 1.0 ELSE -1.0 END)
               * (CAST((abs(vn2) // 67108864) AS DOUBLE) * 67108864.0
                  + CAST((abs(vn2) % 67108864) AS DOUBLE))
               / (2.0 * dd) AS w
      FROM f
    )
    SELECT t1 AS n_treat, t2 AS n_control, u AS u_stat, w AS v_stat, rho,
           (u * u + w * w - 2.0 * rho * u * w)
             / (2.0 * (1.0 - rho * rho)) AS cucconi_c
    FROM uv
    """,
    doc="Cucconi joint location-scale test between discounted (>=6%) and "
    "low-discount line quantities: U standardizes the group-1 sum of "
    "SQUARED ranks, V the sum of squared ANTIRANKS (N+1-R), and "
    "C = (U^2 + V^2 - 2*rho*U*V) / (2(1-rho^2)) rejects when EITHER "
    "center or spread moved — the single-statistic alternative to "
    "running agg_mann_whitney and agg_siegel_tukey separately (it "
    "predates and typically out-powers the Lepage combination). "
    "Doubled midranks off the ~50-value domain grid keep the squared-"
    "rank sums exact HUGEINT/DECIMAL(38,0) integers; the x2-scaled "
    "numerators 3*Sum(r2^2) - 2*n1(N+1)(2N+1) stay integer to the "
    "end and convert to double through the hi/lo 2^26 split (exact "
    "below 2^53, correctly rounded above — plain casts of int128 "
    "DIVERGE between engines) with explicit sign handling; rho and "
    "the final C are fixed-order IEEE expressions. One domain-sized "
    "shuffle.",
)
def agg_cucconi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("v"),
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("n1"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    mr = cells.select(
        "v",
        "n1",
        "c",
        (
            2 * F.coalesce(F.sum("c").over(w_cum), F.lit(0))
            + F.col("c")
            + 1
        ).alias("r2"),
        F.sum("c").over(w_all).alias("nn"),
    )
    s = mr.agg(
        F.min("nn").cast("bigint").alias("nn"),
        F.sum("n1").cast("bigint").alias("t1"),
        F.sum(F.col("c") - F.col("n1")).cast("bigint").alias("t2"),
        _dsum(
            F.col("n1").cast("decimal(38,0)") * F.col("r2") * F.col("r2")
        ).alias("a4"),
        _dsum(
            F.col("n1").cast("decimal(38,0)")
            * (2 * (F.col("nn") + 1) - F.col("r2"))
            * (2 * (F.col("nn") + 1) - F.col("r2"))
        ).alias("b4"),
    )
    f = s.select(
        "nn",
        "t1",
        "t2",
        F.expr(
            "3 * a4 - 2 * CAST(t1 AS DECIMAL(38,0)) * (nn + 1)"
            " * (2 * nn + 1)"
        ).alias("un2"),
        F.expr(
            "3 * b4 - 2 * CAST(t1 AS DECIMAL(38,0)) * (nn + 1)"
            " * (2 * nn + 1)"
        ).alias("vn2"),
        F.sqrt(
            F.col("t1").cast("double")
            * F.col("t2")
            * (F.col("nn") + 1)
            * (F.lit(2.0) * F.col("nn") + 1)
            * (F.lit(8.0) * F.col("nn") + 11)
            / F.lit(5.0)
        ).alias("dd"),
        (
            F.lit(2.0)
            * (F.col("nn").cast("double") * F.col("nn") - 4)
            / (
                (F.lit(2.0) * F.col("nn") + 1)
                * (F.lit(8.0) * F.col("nn") + 11)
            )
            - F.lit(1.0)
        ).alias("rho"),
    )
    hi_lo = (
        "(CASE WHEN {x} >= 0 THEN 1.0 ELSE -1.0 END)"
        " * (CAST((abs({x}) div 67108864) AS DOUBLE) * 67108864.0"
        "    + CAST((abs({x}) % 67108864) AS DOUBLE))"
    )
    uv = f.select(
        "nn",
        "t1",
        "t2",
        "rho",
        (F.expr(hi_lo.format(x="un2")) / (F.lit(2.0) * F.col("dd"))).alias(
            "u"
        ),
        (F.expr(hi_lo.format(x="vn2")) / (F.lit(2.0) * F.col("dd"))).alias(
            "w"
        ),
    )
    return uv.select(
        F.col("t1").alias("n_treat"),
        F.col("t2").alias("n_control"),
        F.col("u").alias("u_stat"),
        F.col("w").alias("v_stat"),
        "rho",
        (
            (
                F.col("u") * F.col("u")
                + F.col("w") * F.col("w")
                - F.lit(2.0) * F.col("rho") * F.col("u") * F.col("w")
            )
            / (F.lit(2.0) * (F.lit(1.0) - F.col("rho") * F.col("rho")))
        ).alias("cucconi_c"),
    )


# ---------------------------------------------------------------------------
# agg_bowley_moors — robust quantile-based skewness and kurtosis
# ---------------------------------------------------------------------------


@register(
    "agg_bowley_moors",
    oracle="""
    WITH b AS (
      SELECT c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS v
      FROM customer
    ),
    cells AS (
      SELECT c_nationkey, v, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2
    ),
    cum AS (
      SELECT c_nationkey, v,
             sum(c) OVER (PARTITION BY c_nationkey ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cm,
             sum(c) OVER (PARTITION BY c_nationkey) AS n
      FROM cells
    ),
    oct AS (
      SELECT c_nationkey, CAST(min(n) AS BIGINT) AS n,
             CAST(min(CASE WHEN 8 * cm >= 1 * n THEN v END) AS BIGINT) AS e1,
             CAST(min(CASE WHEN 8 * cm >= 2 * n THEN v END) AS BIGINT) AS e2,
             CAST(min(CASE WHEN 8 * cm >= 3 * n THEN v END) AS BIGINT) AS e3,
             CAST(min(CASE WHEN 8 * cm >= 4 * n THEN v END) AS BIGINT) AS e4,
             CAST(min(CASE WHEN 8 * cm >= 5 * n THEN v END) AS BIGINT) AS e5,
             CAST(min(CASE WHEN 8 * cm >= 6 * n THEN v END) AS BIGINT) AS e6,
             CAST(min(CASE WHEN 8 * cm >= 7 * n THEN v END) AS BIGINT) AS e7
      FROM cum GROUP BY c_nationkey
    )
    SELECT c_nationkey, n,
           e2 AS q1_cents, e4 AS median_cents, e6 AS q3_cents,
           CAST((CASE WHEN e2 + e6 - 2 * e4 >= 0 THEN 1 ELSE -1 END)
                * (1000000000 * abs(e2 + e6 - 2 * e4) // (e6 - e2))
                AS BIGINT) AS bowley_skew_ppb,
           CAST(1000000000 * ((e7 - e5) + (e3 - e1)) // (e6 - e2)
                AS BIGINT) AS moors_kurtosis_ppb
    FROM oct
    WHERE e6 > e2
    ORDER BY c_nationkey
    """,
    doc="Bowley quantile skewness and Moors octile kurtosis of customer "
    "balances per nation: shape diagnostics built ENTIRELY from order "
    "statistics — Bowley = (Q1 + Q3 - 2*median)/(Q3 - Q1), Moors = "
    "((E7-E5) + (E3-E1))/(E6-E2) — so they exist and stay stable for "
    "the heavy-tailed balances where agg_jarque_bera's moment-based "
    "skew/kurtosis explode (robust-shape complement to "
    "agg_mad_outliers' robust-scale view). Each octile is the exact "
    "type-1 quantile: the smallest cents value whose per-nation "
    "cumulative count satisfies the INTEGER predicate 8*cum >= k*n — "
    "no interpolation, no float thresholds; both ratios are "
    "floor-divisions of exact integers with explicit sign handling "
    "(Moors' numerator is non-negative by octile monotonicity). All "
    "windows are PARTITIONED per nation; one value-grid shuffle.",
)
def agg_bowley_moors(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    b = c.select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
    )
    cells = b.groupBy("c_nationkey", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("c_nationkey")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = Window.partitionBy("c_nationkey")
    cum = cells.select(
        "c_nationkey",
        "v",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_n).alias("n"),
    )
    octs = [
        F.min(
            F.when(8 * F.col("cm") >= k * F.col("n"), F.col("v"))
        )
        .cast("bigint")
        .alias(f"e{k}")
        for k in range(1, 8)
    ]
    oct_df = cum.groupBy("c_nationkey").agg(
        F.min("n").cast("bigint").alias("n"), *octs
    )
    return (
        oct_df.filter(F.col("e6") > F.col("e2"))
        .select(
            "c_nationkey",
            "n",
            F.col("e2").alias("q1_cents"),
            F.col("e4").alias("median_cents"),
            F.col("e6").alias("q3_cents"),
            F.expr(
                "CAST((CASE WHEN e2 + e6 - 2 * e4 >= 0 THEN 1 ELSE -1 END)"
                " * (1000000000 * abs(e2 + e6 - 2 * e4) div (e6 - e2))"
                " AS BIGINT)"
            ).alias("bowley_skew_ppb"),
            F.expr(
                "CAST(1000000000 * ((e7 - e5) + (e3 - e1)) div (e6 - e2)"
                " AS BIGINT)"
            ).alias("moors_kurtosis_ppb"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# agg_gini_mean_difference — pairwise dispersion without pair materialization
# ---------------------------------------------------------------------------


@register(
    "agg_gini_mean_difference",
    oracle="""
    WITH b AS (
      SELECT c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS v
      FROM customer
    ),
    cells AS (
      SELECT c_nationkey, v, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2
    ),
    cum AS (
      SELECT c_nationkey, v, c,
             coalesce(sum(c) OVER (PARTITION BY c_nationkey ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below,
             sum(c) OVER (PARTITION BY c_nationkey) AS n
      FROM cells
    ),
    s AS (
      SELECT c_nationkey,
             CAST(min(n) AS BIGINT) AS n,
             CAST(sum(CAST(c AS HUGEINT) * v
                      * (below - (n - below - c))) AS HUGEINT) AS sdiff,
             CAST(sum(CAST(c AS HUGEINT) * v) AS BIGINT) AS sx
      FROM cum GROUP BY c_nationkey
    )
    SELECT c_nationkey, n,
           CAST(2000 * sdiff // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
             AS gmd_millicents,
           CAST(CASE WHEN sx > 0
                THEN (1000000000 * sdiff) // (CAST(n - 1 AS HUGEINT) * sx)
                ELSE NULL END AS BIGINT) AS gini_ppb
    FROM s WHERE n > 1
    ORDER BY c_nationkey
    """,
    doc="Gini mean difference of customer balances per nation: the "
    "expected |X - X'| over all pairs, plus the Gini coefficient "
    "GMD/(2*mean) — the L1 dispersion measure that is finite and "
    "stable under the heavy tails that break variance, and the "
    "inequality index at the CUSTOMER grain (orders_gini_hhi measures "
    "revenue concentration across SKUs). The n^2 pair sum never "
    "materializes: over the per-nation sorted value grid, each cell "
    "contributes c*v*(n_below - n_above) exactly (the classic sorted "
    "identity), accumulated in HUGEINT/DECIMAL(38,0) — the "
    "contribution sum is provably non-negative, so the milli-cent and "
    "ppb floor-divisions are engine-portable; Gini is emitted only "
    "where the mean is positive (it is undefined under a negative "
    "total). All windows PARTITIONED per nation; one value-grid "
    "shuffle.",
)
def agg_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    b = c.select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
    )
    cells = b.groupBy("c_nationkey", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("c_nationkey")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_n = Window.partitionBy("c_nationkey")
    cum = cells.select(
        "c_nationkey",
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("below"),
        F.sum("c").over(w_n).alias("n"),
    )
    s = cum.groupBy("c_nationkey").agg(
        F.min("n").cast("bigint").alias("n"),
        _dsum(
            F.col("c").cast("decimal(38,0)")
            * F.col("v")
            * (F.col("below") - (F.col("n") - F.col("below") - F.col("c")))
        ).alias("sdiff"),
        _dsum(F.col("c").cast("decimal(38,0)") * F.col("v"))
        .cast("bigint")
        .alias("sx"),
    )
    return (
        s.filter(F.col("n") > 1)
        .select(
            "c_nationkey",
            "n",
            F.expr(
                "CAST(2000 * sdiff div (CAST(n AS DECIMAL(38,0)) * (n - 1))"
                " AS BIGINT)"
            ).alias("gmd_millicents"),
            F.expr(
                "CAST(CASE WHEN sx > 0"
                " THEN (1000000000 * sdiff)"
                "      div (CAST(n - 1 AS DECIMAL(38,0)) * sx)"
                " ELSE NULL END AS BIGINT)"
            ).alias("gini_ppb"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# agg_winsorized_mean — clamp-at-decile robust location per nation
# ---------------------------------------------------------------------------


@register(
    "agg_winsorized_mean",
    oracle="""
    WITH b AS (
      SELECT c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS v
      FROM customer
    ),
    cells AS (
      SELECT c_nationkey, v, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2
    ),
    cum AS (
      SELECT c_nationkey, v, c,
             sum(c) OVER (PARTITION BY c_nationkey ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
             sum(c) OVER (PARTITION BY c_nationkey) AS n
      FROM cells
    ),
    bounds AS (
      SELECT c_nationkey, CAST(min(n) AS BIGINT) AS n,
             CAST(min(CASE WHEN cm >= n // 10 + 1 THEN v END) AS BIGINT)
               AS lo,
             CAST(min(CASE WHEN cm >= n - n // 10 THEN v END) AS BIGINT)
               AS hi
      FROM cum GROUP BY c_nationkey
    ),
    w AS (
      SELECT cu.c_nationkey, bo.n, bo.lo, bo.hi,
             CAST(sum(cu.c * greatest(bo.lo, least(bo.hi, cu.v)))
                  AS HUGEINT) AS sw
      FROM cum cu JOIN bounds bo ON bo.c_nationkey = cu.c_nationkey
      GROUP BY cu.c_nationkey, bo.n, bo.lo, bo.hi
    )
    SELECT c_nationkey, n, lo AS lower_clamp_cents,
           hi AS upper_clamp_cents,
           CAST((CASE WHEN sw >= 0 THEN 1 ELSE -1 END)
                * ((1000 * abs(sw)) // n) AS BIGINT)
             AS winsorized_mean_millicents
    FROM w
    ORDER BY c_nationkey
    """,
    doc="10% winsorized mean of customer balances per nation: clamp "
    "values below the 10th / above the 90th percentile TO the "
    "percentile and average — the robust location estimator that "
    "keeps sample size (unlike agg_trimmed_mean, which discards the "
    "tails and so under-uses small groups) while capping tail "
    "leverage. The clamp bounds are exact type-1 order statistics "
    "from the per-nation cumulative value grid (integer predicate "
    "cm >= n div 10 + 1 — no interpolation); the clamped sum is one "
    "more pass over the SAME grid (cells, not rows), and the "
    "milli-cent mean floor-divides |sum| with explicit sign (balances "
    "go negative). All windows PARTITIONED; two grid-sized passes.",
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    b = c.select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
    )
    cells = b.groupBy("c_nationkey", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("c_nationkey")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = Window.partitionBy("c_nationkey")
    cum = cells.select(
        "c_nationkey",
        "v",
        "c",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_n).alias("n"),
    )
    cum = cum.persist()
    bounds = cum.groupBy("c_nationkey").agg(
        F.min("n").cast("bigint").alias("n"),
        F.min(
            F.when(F.col("cm") >= F.expr("n div 10") + 1, F.col("v"))
        )
        .cast("bigint")
        .alias("lo"),
        F.min(
            F.when(F.col("cm") >= F.col("n") - F.expr("n div 10"),
                   F.col("v"))
        )
        .cast("bigint")
        .alias("hi"),
    )
    w = (
        cum.select("c_nationkey", "v", "c")
        .join(F.broadcast(bounds), "c_nationkey")
        .groupBy("c_nationkey", "n", "lo", "hi")
        .agg(
            _dsum(
                F.col("c")
                * F.greatest(
                    F.col("lo"), F.least(F.col("hi"), F.col("v"))
                )
            ).alias("sw")
        )
    )
    _out = w.select(
        "c_nationkey",
        "n",
        F.col("lo").alias("lower_clamp_cents"),
        F.col("hi").alias("upper_clamp_cents"),
        F.expr(
            "CAST((CASE WHEN sw >= 0 THEN 1 ELSE -1 END)"
            " * ((1000 * abs(sw)) div n) AS BIGINT)"
        ).alias("winsorized_mean_millicents"),
    ).orderBy("c_nationkey")
    return release_on_gc(cum, _out)



# ---------------------------------------------------------------------------
# agg_ranking_concordance — Kendall distance between two nation rankings
# ---------------------------------------------------------------------------


@register(
    "agg_ranking_concordance",
    oracle="""
    WITH m AS (
      SELECT c.c_nationkey AS nation,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ),
    r AS (
      SELECT nation,
             CAST(row_number() OVER (ORDER BY rev DESC, nation)
                  AS BIGINT) AS r_rev,
             CAST(row_number() OVER (ORDER BY n_orders DESC, nation)
                  AS BIGINT) AS r_cnt
      FROM m
    ),
    p AS (
      SELECT CAST(sum(CASE WHEN (a.r_rev - b.r_rev)
                              * (a.r_cnt - b.r_cnt) > 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
             CAST(sum(CASE WHEN (a.r_rev - b.r_rev)
                              * (a.r_cnt - b.r_cnt) < 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS discordant
      FROM r a JOIN r b ON a.nation < b.nation
    ),
    f AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM r) AS nn,
             CAST(max(concordant) AS BIGINT) AS concordant,
             CAST(max(discordant) AS BIGINT) AS discordant,
             (SELECT CAST(sum(abs(r_rev - r_cnt)) AS BIGINT) FROM r)
               AS footrule
      FROM p
    )
    SELECT nn AS n_nations, concordant, discordant, footrule,
           CAST((CASE WHEN concordant >= discordant THEN 1 ELSE -1 END)
                * (2000000000 * abs(concordant - discordant)
                   // (nn * (nn - 1))) AS BIGINT) AS kendall_tau_ppb
    FROM f
    """,
    doc="Rank concordance between two NATION rankings — by revenue and by "
    "order count: Kendall's tau from concordant/discordant pairs plus "
    "Spearman's footrule distance sum|r1 - r2| — the ranking-STABILITY "
    "diagnostic (agg_kendall_tau correlates raw row values; this "
    "compares two derived leaderboards, the question dashboards "
    "actually ask: 'does ranking by volume tell the same story as "
    "ranking by value?'). Both rankings are deterministic "
    "(metric DESC, nation tie-break) row_numbers over the bounded "
    "25-nation aggregate, the pair join is 25x25 literal-bounded, and "
    "tau floor-divides exact integers with explicit sign. One keyed "
    "rollup shuffle; everything downstream is nation-sized.",
)
def agg_ranking_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    m = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )
    r = m.select(
        "nation",
        F.row_number()
        .over(Window.orderBy(F.desc("rev"), "nation"))
        .cast("bigint")
        .alias("r_rev"),
        F.row_number()
        .over(Window.orderBy(F.desc("n_orders"), "nation"))
        .cast("bigint")
        .alias("r_cnt"),
    )
    r = r.persist()
    a = r.select(
        F.col("nation").alias("na"),
        F.col("r_rev").alias("ra1"),
        F.col("r_cnt").alias("ra2"),
    )
    bb = r.select(
        F.col("nation").alias("nb"),
        F.col("r_rev").alias("rb1"),
        F.col("r_cnt").alias("rb2"),
    )
    p = (
        a.join(F.broadcast(bb), F.col("na") < F.col("nb"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(
                    (F.col("ra1") - F.col("rb1"))
                    * (F.col("ra2") - F.col("rb2"))
                    > 0,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("concordant"),
            F.sum(
                F.when(
                    (F.col("ra1") - F.col("rb1"))
                    * (F.col("ra2") - F.col("rb2"))
                    < 0,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("discordant"),
        )
    )
    foot = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum(F.abs(F.col("r_rev") - F.col("r_cnt")))
        .cast("bigint")
        .alias("footrule"),
    )
    _out = p.crossJoin(F.broadcast(foot)).select(
        F.col("nn").alias("n_nations"),
        "concordant",
        "discordant",
        "footrule",
        F.expr(
            "CAST((CASE WHEN concordant >= discordant THEN 1 ELSE -1 END)"
            " * (2000000000 * abs(concordant - discordant)"
            "    div (nn * (nn - 1))) AS BIGINT)"
        ).alias("kendall_tau_ppb"),
    )
    return release_on_gc(r, _out)


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
# agg_kuiper_test — Kuiper's V (two-sided ECDF band) on the quantity grid
# ---------------------------------------------------------------------------


@register(
    "agg_kuiper_test",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) - sum(g) AS BIGINT) AS c2
      FROM b GROUP BY v
    ),
    cum AS (
      SELECT v,
             sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum1,
             sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum2,
             sum(c1) OVER () AS n1,
             sum(c2) OVER () AS n2
      FROM cells
    ),
    d AS (
      SELECT CAST(min(n1) AS BIGINT) AS n1,
             CAST(min(n2) AS BIGINT) AS n2,
             CAST(greatest(max(n2 * cum1 - n1 * cum2), 0) AS BIGINT)
               AS dplus,
             CAST(greatest(max(n1 * cum2 - n2 * cum1), 0) AS BIGINT)
               AS dminus
      FROM cum
    )
    SELECT n1 AS n_treat, n2 AS n_control,
           CAST(dplus + dminus AS BIGINT) AS v_num,
           CAST(dplus + dminus AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS kuiper_v,
           (CAST(dplus + dminus AS DOUBLE)
              / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
             * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
             AS kuiper_stat
    FROM d
    """,
    doc="Kuiper's two-sample test between discounted (>=6%) and low-"
    "discount line quantities: V = D+ + D-, the SUM of the two "
    "one-sided ECDF deviations — where agg_ks_test takes only the max "
    "|F1-F2|, Kuiper adds both signed excursions, giving equal "
    "sensitivity at the distribution's tails and center (and rotation "
    "invariance on circular data — the reason it is the standard for "
    "periodic/cyclic comparisons). The scaled deviation "
    "d(v) = n2*cum1(v) - n1*cum2(v) is an exact integer on the "
    "~50-value quantity grid (ECDF differences share the n1*n2 "
    "denominator), so D+ = max(d, 0) and D- = max(-d, 0) are exact and "
    "V = (D+ + D-)/(n1*n2) is ONE fixed-shape double expression "
    "(n1*n2 < 2^53 through sf1000 — exact casts). The asymptotic "
    "statistic sqrt(n1*n2/N)*V is emitted alongside. One domain-sized "
    "shuffle; two bounded grid windows.",
)
def agg_kuiper_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("v"),
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("c2"),
    )
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = cells.select(
        "v",
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum("c2").over(w_cum).alias("cum2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    d = cum.agg(
        F.min("n1").cast("bigint").alias("n1"),
        F.min("n2").cast("bigint").alias("n2"),
        F.greatest(
            F.max(F.col("n2") * F.col("cum1") - F.col("n1") * F.col("cum2")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dplus"),
        F.greatest(
            F.max(F.col("n1") * F.col("cum2") - F.col("n2") * F.col("cum1")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dminus"),
    )
    return d.select(
        F.col("n1").alias("n_treat"),
        F.col("n2").alias("n_control"),
        (F.col("dplus") + F.col("dminus")).cast("bigint").alias("v_num"),
        F.expr(
            "CAST(dplus + dminus AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
        ).alias("kuiper_v"),
        F.expr(
            "(CAST(dplus + dminus AS DOUBLE)"
            "   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
            " * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            "        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))"
        ).alias("kuiper_stat"),
    )


# ---------------------------------------------------------------------------
# agg_energy_distance — Székely's E-statistic via sorted-grid identities
# ---------------------------------------------------------------------------


@register(
    "agg_energy_distance",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) - sum(g) AS BIGINT) AS c2
      FROM b GROUP BY v
    ),
    cum AS (
      SELECT v, c1, c2,
             coalesce(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS cb1,
             coalesce(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS cb2,
             coalesce(sum(c2 * v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS sb2,
             sum(c1) OVER () AS n1,
             sum(c2) OVER () AS n2,
             sum(c2 * v) OVER () AS s2
      FROM cells
    ),
    s AS (
      SELECT CAST(min(n1) AS BIGINT) AS n1,
             CAST(min(n2) AS BIGINT) AS n2,
             CAST(sum(CAST(c1 AS HUGEINT)
                      * ((v * cb2 - sb2)
                         + ((s2 - sb2 - c2 * v) - v * (n2 - cb2 - c2))))
                  AS HUGEINT) AS axy,
             CAST(sum(CAST(c1 AS HUGEINT) * v
                      * (cb1 - (n1 - cb1 - c1))) AS HUGEINT) AS sd1,
             CAST(sum(CAST(c2 AS HUGEINT) * v
                      * (cb2 - (n2 - cb2 - c2))) AS HUGEINT) AS sd2
      FROM cum
    ),
    e AS (
      SELECT n1, n2,
             2 * axy * n1 * n2 - 2 * sd1 * CAST(n2 AS HUGEINT) * n2
               - 2 * sd2 * CAST(n1 AS HUGEINT) * n1 AS e_scaled
      FROM s
    )
    SELECT n1 AS n_finished, n2 AS n_open,
           CAST((1000 * e_scaled)
                // (CAST(n1 AS HUGEINT) * n1 * n2 * n2) AS BIGINT)
             AS energy_milli,
           CAST((1000 * e_scaled)
                // (CAST(n1 AS HUGEINT) * n2 * (n1 + n2)) AS BIGINT)
             AS t_stat_milli
    FROM e
    """,
    doc="Székely-Rizzo energy distance between finished (l_linestatus = "
    "'F') and open line quantities: E = 2*E|X-Y| - E|X-X'| - E|Y-Y'|, "
    "zero iff the distributions are equal — the modern omnibus "
    "two-sample test sensitive to ANY distributional difference "
    "(agg_ks_test/agg_cvm_two_sample weight by ECDF position; energy "
    "weights by the metric itself, which is what makes it "
    "rotation/scale-extensible). No pair ever materializes: each "
    "mean-absolute-difference is the sorted-grid prefix identity over "
    "the ~50-value quantity domain — the cross term per cell is "
    "c1*((v*cnt2_below - sum2_below) + (sum2_above - v*cnt2_above)) "
    "and the within terms are agg_gini_mean_difference's "
    "c*v*(below - above) — all exact HUGEINT/DECIMAL(38,0) integers. "
    "E and the test statistic T = (n1*n2/N)*E are emitted in exact "
    "milli-units via ONE non-negative floor-division each (E >= 0 by "
    "the theorem, exactness preserves it). One domain-sized shuffle; "
    "two bounded grid windows.",
)
def agg_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("v"),
        F.when(F.col("l_linestatus") == "F", 1).otherwise(0).alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("c2"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    cum = cells.select(
        "v",
        "c1",
        "c2",
        F.coalesce(F.sum("c1").over(w_cum), F.lit(0)).alias("cb1"),
        F.coalesce(F.sum("c2").over(w_cum), F.lit(0)).alias("cb2"),
        F.coalesce(
            F.sum(F.col("c2") * F.col("v")).over(w_cum), F.lit(0)
        ).alias("sb2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
        F.sum(F.col("c2") * F.col("v")).over(w_all).alias("s2"),
    )
    s = cum.agg(
        F.min("n1").cast("bigint").alias("n1"),
        F.min("n2").cast("bigint").alias("n2"),
        _dsum(
            F.expr(
                "CAST(c1 AS DECIMAL(38,0))"
                " * ((v * cb2 - sb2)"
                "    + ((s2 - sb2 - c2 * v) - v * (n2 - cb2 - c2)))"
            )
        ).alias("axy"),
        _dsum(
            F.expr(
                "CAST(c1 AS DECIMAL(38,0)) * v * (cb1 - (n1 - cb1 - c1))"
            )
        ).alias("sd1"),
        _dsum(
            F.expr(
                "CAST(c2 AS DECIMAL(38,0)) * v * (cb2 - (n2 - cb2 - c2))"
            )
        ).alias("sd2"),
    )
    e = s.select(
        "n1",
        "n2",
        F.expr(
            "2 * axy * n1 * n2 - 2 * sd1 * CAST(n2 AS DECIMAL(38,0)) * n2"
            " - 2 * sd2 * CAST(n1 AS DECIMAL(38,0)) * n1"
        ).alias("e_scaled"),
    )
    return e.select(
        F.col("n1").alias("n_finished"),
        F.col("n2").alias("n_open"),
        F.expr(
            "CAST((1000 * e_scaled)"
            " div (CAST(n1 AS DECIMAL(38,0)) * n1 * n2 * n2) AS BIGINT)"
        ).alias("energy_milli"),
        F.expr(
            "CAST((1000 * e_scaled)"
            " div (CAST(n1 AS DECIMAL(38,0)) * n2 * (n1 + n2)) AS BIGINT)"
        ).alias("t_stat_milli"),
    )


# ---------------------------------------------------------------------------
# agg_anderson_darling — Scholz-Stephens two-sample AD with tie adjustment
# ---------------------------------------------------------------------------


@register(
    "agg_anderson_darling",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_extendedprice / 1000) AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    cells AS (
      SELECT v, CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY v
    ),
    cum AS (
      SELECT v, c1, c,
             coalesce(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS p1,
             coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS p,
             sum(c1) OVER () AS n1,
             sum(c) OVER () AS nn
      FROM cells
    ),
    t AS (
      SELECT v, c, n1, nn, nn - n1 AS n2,
             2 * p + c AS b2,
             nn * (2 * p1 + c1) - n1 * (2 * p + c) AS num
      FROM cum
    ),
    q AS (
      SELECT CAST(min(n1) AS BIGINT) AS n1,
             CAST(min(n2) AS BIGINT) AS n2,
             CAST(min(nn) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(
               (1000000 * CAST(c AS HUGEINT)
                * (abs(num) // 1024) * (abs(num) // 1024))
               // (n1 * greatest(b2 * (2 * nn - b2) - nn * c, 1))
               +
               (1000000 * CAST(c AS HUGEINT)
                * (abs(num) // 1024) * (abs(num) // 1024))
               // ((nn - n1) * greatest(b2 * (2 * nn - b2) - nn * c, 1))
             ) AS HUGEINT) AS sum_q
      FROM t
    )
    SELECT n1 AS n_treat, n2 AS n_control, n_cells,
           CAST(sum_q AS BIGINT) AS ad_sum_q,
           (CAST(nn - 1 AS DOUBLE) * CAST(sum_q AS DOUBLE) * 1048576.0)
             / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * 1000000.0)
             AS ad_a2
    FROM q
    """,
    doc="Anderson-Darling two-sample test (Scholz-Stephens k=2, "
    "tie-adjusted midrank version) between returned and kept line "
    "prices on the ~105-bucket price-kilodollar domain: "
    "A2 = (N-1)/N^2 * sum_j c_j * sum_i (N*M_ij - n_i*B_j)^2 / "
    "(n_i*(B_j(N-B_j) - N*c_j/4)) with midrank masses M, B — the "
    "variance-weighted ECDF test that out-powers KS/CvM in the TAILS "
    "(its 1/(B(N-B)) weight diverges there; agg_cvm_two_sample is the "
    "unweighted sibling on the quantity grid). Doubling clears the "
    "half-masses: with B2 = 2*prefix + c the per-cell numerator "
    "N*M2 - n_i*B2 and denominator B2(2N - B2) - N*c are EXACT "
    "integers (the /4s cancel), and the two-sample numerators are "
    "exact negatives of each other so one |num| serves both. Each "
    "cell micro-quantizes by ONE non-negative floor-division per "
    "sample (numerator pre-reduced by 2^10 to keep the DECIMAL(38,0) "
    "product in range through sf1; every div RESULT < 2^62); the "
    "final A2 is one fixed-shape double expression. One domain-sized "
    "shuffle; two bounded grid windows.",
)
def agg_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_extendedprice") / 1000).cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("g"),
    )
    cells = b.groupBy("v").agg(
        F.sum("g").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    cum = cells.select(
        "v",
        "c1",
        "c",
        F.coalesce(F.sum("c1").over(w_cum), F.lit(0)).alias("p1"),
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("p"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c").over(w_all).alias("nn"),
    )
    t = cum.select(
        "v",
        "c",
        "n1",
        "nn",
        (F.col("nn") - F.col("n1")).alias("n2"),
        (2 * F.col("p") + F.col("c")).alias("b2"),
        (
            F.col("nn") * (2 * F.col("p1") + F.col("c1"))
            - F.col("n1") * (2 * F.col("p") + F.col("c"))
        ).alias("num"),
    )
    q = t.agg(
        F.min("n1").cast("bigint").alias("n1"),
        F.min("n2").cast("bigint").alias("n2"),
        F.min("nn").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        _dsum(
            F.expr(
                "(1000000 * CAST(c AS DECIMAL(38,0))"
                " * (abs(num) div 1024) * (abs(num) div 1024))"
                " div (n1 * greatest(b2 * (2 * nn - b2) - nn * c, 1))"
                " + "
                "(1000000 * CAST(c AS DECIMAL(38,0))"
                " * (abs(num) div 1024) * (abs(num) div 1024))"
                " div ((nn - n1) * greatest(b2 * (2 * nn - b2) - nn * c, 1))"
            )
        ).alias("sum_q"),
    )
    return q.select(
        F.col("n1").alias("n_treat"),
        F.col("n2").alias("n_control"),
        "n_cells",
        F.expr("CAST(sum_q AS BIGINT)").alias("ad_sum_q"),
        F.expr(
            "(CAST(nn - 1 AS DOUBLE) * CAST(sum_q AS DOUBLE) * 1048576.0)"
            " / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * 1000000.0)"
        ).alias("ad_a2"),
    )


# ---------------------------------------------------------------------------
# agg_hoover_index — Robin Hood index of order value per priority
# ---------------------------------------------------------------------------


@register(
    "agg_hoover_index",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice) AS BIGINT) AS x
      FROM orders
    ),
    g AS (
      SELECT priority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s
      FROM b GROUP BY priority
    ),
    dev AS (
      SELECT b.priority, g.n, g.s,
             CAST(sum(abs(CAST(g.n AS HUGEINT) * b.x - g.s)) AS HUGEINT)
               AS sad
      FROM b JOIN g ON g.priority = b.priority
      GROUP BY b.priority, g.n, g.s
    )
    SELECT priority, n AS n_orders, s AS total_dollars,
           CAST((1000000000 * sad)
                // (2 * CAST(n AS HUGEINT) * s) AS BIGINT) AS hoover_ppb
    FROM dev ORDER BY priority
    """,
    doc="Hoover (Robin Hood) index of order value per priority class: "
    "H = sum|x_i - mean| / (2*sum x) — the share of total value that "
    "would have to move to equalize all orders, THE directly "
    "interpretable inequality index (agg_gini_mean_difference gives "
    "the pairwise-L1 Gini; Hoover is the maximum vertical gap between "
    "the Lorenz curve and the diagonal and needs only one pass). "
    "Scaled to integers: |n*x_i - S| summed exactly in "
    "HUGEINT/DECIMAL(38,0) equals n * sum|x_i - mean|, so "
    "H = SAD/(2*n*S) is ONE non-negative ppb floor-division "
    "(totalprice > 0 guarantees S > 0). The per-class (n, S) pair "
    "joins back via a 5-row BROADCAST — never a data-proportional "
    "window — then one map-side pass accumulates the deviations: two "
    "priority-keyed aggregations total. Dollar units come from "
    "round(o_totalprice), the established cents/dollars construct "
    "(both engines see identical doubles, so identical rounding).",
)
def agg_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("x"),
    )
    g = b.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    dev = (
        b.join(F.broadcast(g), "priority")
        .groupBy("priority", "n", "s")
        .agg(
            _dsum(
                F.abs(
                    F.col("n").cast("decimal(38,0)") * F.col("x")
                    - F.col("s")
                )
            ).alias("sad")
        )
    )
    return dev.select(
        "priority",
        F.col("n").alias("n_orders"),
        F.col("s").alias("total_dollars"),
        F.expr(
            "CAST((1000000000 * sad)"
            " div (2 * CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)"
        ).alias("hoover_ppb"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# agg_fleiss_kappa — multi-rater agreement on 4-line orders
# ---------------------------------------------------------------------------


@register(
    "agg_fleiss_kappa",
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
             tr * CAST(tr AS HUGEINT) + ta * CAST(ta AS HUGEINT)
               + tn * CAST(tn AS HUGEINT) AS sb
      FROM s
    ),
    z AS (
      SELECT i, sa, sb,
             4 * CAST(i AS HUGEINT) * (sa - 4 * i) - 3 * sb AS num,
             greatest(3 * (16 * CAST(i AS HUGEINT) * i - sb), 1) AS den
      FROM k
    )
    SELECT i AS n_items, CAST(4 AS BIGINT) AS n_raters,
           CAST((1000000000 * (sa - 4 * i)) // (12 * i) AS BIGINT)
             AS p_bar_ppb,
           CAST((1000000000 * sb)
                // (16 * CAST(i AS HUGEINT) * i) AS BIGINT) AS p_exp_ppb,
           CAST(CASE WHEN num >= 0
                THEN (1000000000 * num) // den
                ELSE -((1000000000 * -num) // den) END AS BIGINT)
             AS kappa_ppb
    FROM z
    """,
    doc="Fleiss' kappa over orders with EXACTLY 4 lineitems, treating "
    "each line's return flag (R/A/N) as one of 4 raters classifying "
    "the order: kappa = (P_bar - P_e)/(1 - P_e) with P_i = "
    "(sum_c n_ic^2 - m)/(m(m-1)) and P_e = sum_c p_c^2 — the "
    "multi-rater generalization of agg_cohen_kappa (which handles "
    "exactly 2 raters), the standard chance-corrected agreement index "
    "for label-quality audits of crowd/ensemble annotations in "
    "training-data pipelines. Everything reduces to three integer "
    "aggregates (I items, SA = sum of squared cell counts, SB = sum "
    "of squared column totals): kappa = (4I(SA-4I) - 3SB) / "
    "(3(16I^2 - SB)) exactly, emitted in ppb via sign-split "
    "non-negative floor-divisions (observed and expected agreement "
    "ppb alongside). One orderkey-keyed aggregation + one scalar "
    "rollup; no windows, no joins.",
)
def agg_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    f = r.filter(F.col("m") == 4)
    s = f.agg(
        F.count(F.lit(1)).cast("bigint").alias("i"),
        F.sum(
            F.col("nr") * F.col("nr")
            + F.col("na") * F.col("na")
            + F.col("nn_") * F.col("nn_")
        )
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
            "tr * CAST(tr AS DECIMAL(38,0)) + ta * CAST(ta AS DECIMAL(38,0))"
            " + tn * CAST(tn AS DECIMAL(38,0))"
        ).alias("sb"),
    )
    z = k.select(
        "i",
        "sa",
        "sb",
        F.expr(
            "4 * CAST(i AS DECIMAL(38,0)) * (sa - 4 * i) - 3 * sb"
        ).alias("num"),
        F.expr(
            "greatest(3 * (16 * CAST(i AS DECIMAL(38,0)) * i - sb), 1)"
        ).alias("den"),
    )
    return z.select(
        F.col("i").alias("n_items"),
        F.lit(4).cast("bigint").alias("n_raters"),
        F.expr(
            "CAST((1000000000 * (sa - 4 * i)) div (12 * i) AS BIGINT)"
        ).alias("p_bar_ppb"),
        F.expr(
            "CAST((1000000000 * sb)"
            " div (16 * CAST(i AS DECIMAL(38,0)) * i) AS BIGINT)"
        ).alias("p_exp_ppb"),
        F.expr(
            "CAST(CASE WHEN num >= 0"
            " THEN (1000000000 * num) div den"
            " ELSE -((1000000000 * -num) div den) END AS BIGINT)"
        ).alias("kappa_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_bowker_symmetry — first-vs-last order-priority transition symmetry
# ---------------------------------------------------------------------------


@register(
    "agg_bowker_symmetry",
    oracle="""
    WITH fl AS (
      SELECT o_custkey,
             min_by(o_orderpriority, o_orderkey) AS p_first,
             max_by(o_orderpriority, o_orderkey) AS p_last
      FROM orders GROUP BY o_custkey
    ),
    moved AS (
      SELECT least(p_first, p_last) AS p_lo,
             greatest(p_first, p_last) AS p_hi,
             CASE WHEN p_first < p_last THEN 1 ELSE -1 END AS sgn
      FROM fl WHERE p_first <> p_last
    ),
    pairs AS (
      SELECT p_lo, p_hi,
             CAST(count(*) AS BIGINT) AS n_moves,
             CAST(sum(sgn) AS BIGINT) AS net_up
      FROM moved GROUP BY p_lo, p_hi
    )
    SELECT p_lo, p_hi, n_moves, net_up,
           CAST((1000000 * net_up * net_up) // n_moves AS BIGINT)
             AS chi2_contrib_micro
    FROM pairs ORDER BY p_lo, p_hi
    """,
    doc="Bowker symmetry test of order-priority drift per customer: pair "
    "each customer's FIRST and LAST order priority (deterministically "
    "by orderkey via min_by/max_by — no timestamp ties) and test "
    "whether upgrades i->j balance downgrades j->i: chi2 = "
    "sum_{i<j} (n_ij - n_ji)^2/(n_ij + n_ji), df = #active pairs — "
    "the k x k generalization of agg_mcnemar_test (2x2), the standard "
    "marginal-homogeneity check for 'did the population drift between "
    "two observations'. No 5x5 matrix materializes: each mover folds "
    "into its UNORDERED pair key with a +/-1 sign, so n_ij - n_ji is "
    "just sum(sgn) and n_ij + n_ji is count(*) — one customer-keyed "
    "aggregation plus a <=10-row pair rollup; the per-pair chi-square "
    "contribution is exact in micro-units via one non-negative "
    "floor-division (net^2 is a square). Rows are the per-pair table; "
    "the statistic is their sum, df the row count.",
)
def agg_bowker_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    fl = o.groupBy("o_custkey").agg(
        F.expr("min_by(o_orderpriority, o_orderkey)").alias("p_first"),
        F.expr("max_by(o_orderpriority, o_orderkey)").alias("p_last"),
    )
    moved = fl.filter(F.col("p_first") != F.col("p_last")).select(
        F.least("p_first", "p_last").alias("p_lo"),
        F.greatest("p_first", "p_last").alias("p_hi"),
        F.when(F.col("p_first") < F.col("p_last"), 1)
        .otherwise(-1)
        .alias("sgn"),
    )
    pairs = moved.groupBy("p_lo", "p_hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_moves"),
        F.sum("sgn").cast("bigint").alias("net_up"),
    )
    return pairs.select(
        "p_lo",
        "p_hi",
        "n_moves",
        "net_up",
        F.expr(
            "CAST((1000000 * net_up * net_up) div n_moves AS BIGINT)"
        ).alias("chi2_contrib_micro"),
    ).orderBy("p_lo", "p_hi")


# ---------------------------------------------------------------------------
# agg_oneway_anova — classical F test across priority classes
# ---------------------------------------------------------------------------


@register(
    "agg_oneway_anova",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice) AS BIGINT) AS x
      FROM orders
    ),
    g AS (
      SELECT priority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
      FROM b GROUP BY priority
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s) AS BIGINT) AS ss,
             CAST(sum(q) AS HUGEINT) AS qq,
             CAST(sum((CAST(s AS HUGEINT) * s) // n) AS HUGEINT) AS sgq
      FROM g
    ),
    d AS (
      SELECT k, nn,
             greatest(sgq - (CAST(ss AS HUGEINT) * ss) // nn, 0) AS ssb,
             greatest(qq - sgq, 1) AS ssw,
             greatest(qq - (CAST(ss AS HUGEINT) * ss) // nn, 1) AS sst
      FROM t
    )
    SELECT k AS n_groups, nn AS n_rows,
           CAST(ssb AS BIGINT) AS ssb_dollars2,
           CAST(ssw AS BIGINT) AS ssw_dollars2,
           CAST((1000 * ssb * (nn - k)) // (ssw * (k - 1)) AS BIGINT)
             AS f_milli,
           CAST((1000000000 * ssb) // sst AS BIGINT) AS eta2_ppb
    FROM d
    """,
    doc="One-way ANOVA F test of order value across the 5 priority "
    "classes: F = (SSB/(k-1))/(SSW/(N-k)) from the classical "
    "decomposition SSB = sum S_i^2/n_i - S^2/N, SSW = sum x^2 - "
    "sum S_i^2/n_i — the equal-variance k-group mean comparison that "
    "agg_welch_ttest (2 groups, unequal variance) and "
    "agg_kruskal_wallis (rank-based) bracket; eta^2 = SSB/SST is the "
    "effect size. All sums of squares come from per-group integer "
    "moments (n, S, Q) in whole dollars — round(o_totalprice), the "
    "established construct — with each S_i^2/n_i quantized by ONE "
    "non-negative floor-division (error < k on quantities of ~1e10, "
    "and SSB >= 0 is restored by greatest(...,0) where group means "
    "tie); F lands in exact milli-units, eta^2 in ppb. Division "
    "RESULTS stay under 2^57 through sf10 (dollars, not cents, chosen "
    "exactly for that headroom). One priority-keyed aggregation + a "
    "5-row rollup; no windows.",
)
def agg_oneway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("x"),
    )
    g = b.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("q"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("ss"),
        _dsum(F.col("q")).alias("qq"),
        _dsum(
            F.expr("(CAST(s AS DECIMAL(38,0)) * s) div n")
        ).alias("sgq"),
    )
    d = t.select(
        "k",
        "nn",
        F.expr(
            "greatest(sgq - (CAST(ss AS DECIMAL(38,0)) * ss) div nn, 0)"
        ).alias("ssb"),
        F.expr("greatest(qq - sgq, 1)").alias("ssw"),
        F.expr(
            "greatest(qq - (CAST(ss AS DECIMAL(38,0)) * ss) div nn, 1)"
        ).alias("sst"),
    )
    return d.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.expr("CAST(ssb AS BIGINT)").alias("ssb_dollars2"),
        F.expr("CAST(ssw AS BIGINT)").alias("ssw_dollars2"),
        F.expr(
            "CAST((1000 * ssb * (nn - k)) div (ssw * (k - 1)) AS BIGINT)"
        ).alias("f_milli"),
        F.expr("CAST((1000000000 * ssb) div sst AS BIGINT)").alias(
            "eta2_ppb"
        ),
    )


# ---------------------------------------------------------------------------
# agg_cohens_d — standardized mean difference with Hedges' correction
# ---------------------------------------------------------------------------


@register(
    "agg_cohens_d",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_extendedprice) AS BIGINT) AS x,
             CASE WHEN round(l_discount * 100) >= 6 THEN 1 ELSE 0 END AS g
      FROM lineitem
    ),
    s AS (
      SELECT CAST(sum(g) AS BIGINT) AS n1,
             CAST(count(*) - sum(g) AS BIGINT) AS n2,
             CAST(sum(g * x) AS BIGINT) AS s1,
             CAST(sum((1 - g) * x) AS BIGINT) AS s2,
             CAST(sum(g * CAST(x AS HUGEINT) * x) AS HUGEINT) AS q1,
             CAST(sum((1 - g) * CAST(x AS HUGEINT) * x) AS HUGEINT) AS q2
      FROM b
    ),
    v AS (
      SELECT n1, n2, s1, s2,
             CAST(((q1 - (CAST(s1 AS HUGEINT) * s1) // n1)
                   + (q2 - (CAST(s2 AS HUGEINT) * s2) // n2))
                  // (n1 + n2 - 2) AS BIGINT) AS var_q
      FROM s
    )
    SELECT n1 AS n_treat, n2 AS n_control,
           (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS mean_diff,
           sqrt(CAST(var_q AS DOUBLE)) AS pooled_sd,
           (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / sqrt(CAST(var_q AS DOUBLE)) AS cohens_d,
           ((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / sqrt(CAST(var_q AS DOUBLE)))
             * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 - 2 AS DOUBLE) - 1.0))
             AS hedges_g
    FROM v
    """,
    doc="Cohen's d effect size of the discount on line price (discounted "
    ">=6% vs low-discount), with Hedges' small-sample correction "
    "g = d*(1 - 3/(4*df - 1)): the standardized mean difference that "
    "turns agg_welch_ttest's 'is it significant' into 'how BIG is it' "
    "— the meta-analysis standard (agg_cliff_delta is its rank-based "
    "robust sibling). The pooled variance comes from exact integer "
    "dollar moments — ((Q1 - S1^2/n1) + (Q2 - S2^2/n2))/(n1+n2-2) with "
    "each S^2/n quantized by ONE non-negative floor-division — and the "
    "group sums stay under 2^53 so the final d/g are fixed-shape "
    "double expressions over exactly-cast integers. One scalar "
    "aggregation; no windows, no joins.",
)
def agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_extendedprice")).cast("bigint").alias("x"),
        F.when(F.round(F.col("l_discount") * 100) >= 6, 1)
        .otherwise(0)
        .alias("g"),
    )
    s = b.agg(
        F.sum("g").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("n2"),
        F.sum(F.col("g") * F.col("x")).cast("bigint").alias("s1"),
        F.sum((1 - F.col("g")) * F.col("x")).cast("bigint").alias("s2"),
        _dsum(F.expr("g * CAST(x AS DECIMAL(38,0)) * x")).alias("q1"),
        _dsum(F.expr("(1 - g) * CAST(x AS DECIMAL(38,0)) * x")).alias("q2"),
    )
    v = s.select(
        "n1",
        "n2",
        "s1",
        "s2",
        F.expr(
            "CAST(((q1 - (CAST(s1 AS DECIMAL(38,0)) * s1) div n1)"
            " + (q2 - (CAST(s2 AS DECIMAL(38,0)) * s2) div n2))"
            " div (n1 + n2 - 2) AS BIGINT)"
        ).alias("var_q"),
    )
    return v.select(
        F.col("n1").alias("n_treat"),
        F.col("n2").alias("n_control"),
        F.expr(
            "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        ).alias("mean_diff"),
        F.expr("sqrt(CAST(var_q AS DOUBLE))").alias("pooled_sd"),
        F.expr(
            "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
            " / sqrt(CAST(var_q AS DOUBLE))"
        ).alias("cohens_d"),
        F.expr(
            "((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
            "  - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
            "  / sqrt(CAST(var_q AS DOUBLE)))"
            " * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 - 2 AS DOUBLE) - 1.0))"
        ).alias("hedges_g"),
    )


# ---------------------------------------------------------------------------
# agg_goodman_kruskal_gamma — ordinal association on the 2D domain grid
# ---------------------------------------------------------------------------


@register(
    "agg_goodman_kruskal_gamma",
    oracle="""
    WITH b AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS dc
      FROM lineitem
    ),
    cells AS (
      SELECT q, dc, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2
    ),
    grid AS (
      SELECT qs.q, ds.dc, coalesce(ce.c, 0) AS c
      FROM (SELECT DISTINCT q FROM cells) qs
      CROSS JOIN (SELECT DISTINCT dc FROM cells) ds
      LEFT JOIN cells ce ON ce.q = qs.q AND ce.dc = ds.dc
    ),
    a AS (
      SELECT q, dc, c,
             coalesce(sum(c) OVER (PARTITION BY q ORDER BY dc
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
               AS up_dc,
             coalesce(sum(c) OVER (PARTITION BY q ORDER BY dc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS dn_dc
      FROM grid
    ),
    gh AS (
      SELECT q, dc, c,
             coalesce(sum(up_dc) OVER (PARTITION BY dc ORDER BY q
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
               AS gmass,
             coalesce(sum(dn_dc) OVER (PARTITION BY dc ORDER BY q
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
               AS hmass
      FROM a
    ),
    cd AS (
      SELECT CAST(sum(CAST(c AS HUGEINT) * gmass) AS HUGEINT) AS cc,
             CAST(sum(CAST(c AS HUGEINT) * hmass) AS HUGEINT) AS dd
      FROM gh
    ),
    ties AS (
      SELECT
        CAST((sum(CAST(m AS HUGEINT) * m) - sum(CAST(cs AS HUGEINT)))
             AS HUGEINT) AS ty2
      FROM (
        SELECT dc, CAST(sum(c) AS BIGINT) AS m,
               CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS cs
        FROM cells GROUP BY dc
      )
    )
    SELECT CAST(cc AS BIGINT) AS n_concordant,
           CAST(dd AS BIGINT) AS n_discordant,
           CAST(ty2 // 2 AS BIGINT) AS n_tied_y,
           CAST(CASE WHEN cc >= dd
                THEN (1000000000 * (cc - dd)) // greatest(cc + dd, 1)
                ELSE -((1000000000 * (dd - cc)) // greatest(cc + dd, 1))
                END AS BIGINT) AS gamma_ppb,
           CAST(CASE WHEN cc >= dd
                THEN (1000000000 * (cc - dd))
                     // greatest(cc + dd + ty2 // 2, 1)
                ELSE -((1000000000 * (dd - cc))
                       // greatest(cc + dd + ty2 // 2, 1))
                END AS BIGINT) AS somers_d_ppb
    FROM cd CROSS JOIN ties
    """,
    doc="Goodman-Kruskal gamma and Somers' D between line quantity and "
    "discount level: gamma = (C - D)/(C + D) over concordant/discordant "
    "pairs (ties excluded), Somers' D_yx = (C - D)/(C + D + T_y) "
    "(Y-ties penalize) — the ordinal-association pair that "
    "agg_kendall_tau (tau-b, both-ties corrected) and "
    "agg_spearman_corr (rank-linear) bracket; Somers' D is also the "
    "Gini coefficient of a binary classifier (2*AUC - 1). The O(n^2) "
    "pair counts factorize onto the DENSIFIED ~50x11 quantity x "
    "discount grid: per cell, the strictly-greater-in-both mass comes "
    "from a within-row suffix (PARTITION BY q over the 11 discounts) "
    "followed by an across-row suffix (PARTITION BY dc over the 50 "
    "quantities) — two bounded partitioned window passes, every pair "
    "counted exactly once, pure integers; Y-ties come from the "
    "discount marginals (sum m^2 - sum c^2)/2. The densifying "
    "50x11 cross join is two tiny DISTINCT relations (the "
    "agg_jonckheere_terpstra precedent). Signed ppb outputs via the "
    "non-negative floor-division sign split.",
)
def agg_goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("dc"),
    )
    cells = b.groupBy("q", "dc").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cells = cells.persist()  # grid-sized; feeds densify + tie marginals
    qs = cells.select("q").distinct()
    ds = cells.select("dc").distinct()
    grid = (
        qs.crossJoin(F.broadcast(ds))
        .join(cells, ["q", "dc"], "left")
        .select("q", "dc", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w_up = (
        Window.partitionBy("q")
        .orderBy("dc")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_dn = (
        Window.partitionBy("q")
        .orderBy("dc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    a = grid.select(
        "q",
        "dc",
        "c",
        F.coalesce(F.sum("c").over(w_up), F.lit(0)).alias("up_dc"),
        F.coalesce(F.sum("c").over(w_dn), F.lit(0)).alias("dn_dc"),
    )
    w_q = (
        Window.partitionBy("dc")
        .orderBy("q")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    gh = a.select(
        "q",
        "dc",
        "c",
        F.coalesce(F.sum("up_dc").over(w_q), F.lit(0)).alias("gmass"),
        F.coalesce(F.sum("dn_dc").over(w_q), F.lit(0)).alias("hmass"),
    )
    cd = gh.agg(
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * gmass")).alias("cc"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * hmass")).alias("dd"),
    )
    ties = (
        cells.groupBy("dc")
        .agg(
            F.sum("c").cast("bigint").alias("m"),
            _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("cs"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(m AS DECIMAL(38,0)) * m) - sum(cs)"
                " AS DECIMAL(38,0))"
            ).alias("ty2")
        )
    )
    out = cd.crossJoin(F.broadcast(ties)).select(
        F.expr("CAST(cc AS BIGINT)").alias("n_concordant"),
        F.expr("CAST(dd AS BIGINT)").alias("n_discordant"),
        F.expr("CAST(ty2 div 2 AS BIGINT)").alias("n_tied_y"),
        F.expr(
            "CAST(CASE WHEN cc >= dd"
            " THEN (1000000000 * (cc - dd)) div greatest(cc + dd, 1)"
            " ELSE -((1000000000 * (dd - cc)) div greatest(cc + dd, 1))"
            " END AS BIGINT)"
        ).alias("gamma_ppb"),
        F.expr(
            "CAST(CASE WHEN cc >= dd"
            " THEN (1000000000 * (cc - dd))"
            "      div greatest(cc + dd + ty2 div 2, 1)"
            " ELSE -((1000000000 * (dd - cc))"
            "        div greatest(cc + dd + ty2 div 2, 1))"
            " END AS BIGINT)"
        ).alias("somers_d_ppb"),
    )
    return release_on_gc(cells, out)


# ---------------------------------------------------------------------------
# agg_welch_anova — unequal-variance k-group mean comparison
# ---------------------------------------------------------------------------


@register(
    "agg_welch_anova",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice) AS BIGINT) AS x
      FROM orders
    ),
    g AS (
      SELECT priority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
      FROM b GROUP BY priority
    ),
    wq AS (
      SELECT priority, n,
             CAST((1000000 * s) // n AS BIGINT) AS meanq,
             CAST((1000000000000 * CAST(n AS HUGEINT) * n * (n - 1))
                  // greatest(n * q - CAST(s AS HUGEINT) * s,
                              CAST(n AS HUGEINT) * n)
                  AS BIGINT) AS w
      FROM g WHERE n >= 2
    ),
    tw AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(w) AS BIGINT) AS ww,
             CAST(sum(CAST(w AS HUGEINT) * meanq) AS HUGEINT) AS wm
      FROM wq
    ),
    ctr AS (
      SELECT k, ww, CAST(wm // ww AS BIGINT) AS mw FROM tw
    ),
    nums AS (
      SELECT c.k, c.ww,
             CAST(sum(CAST(w.w AS HUGEINT) * (w.meanq - c.mw)
                      * (w.meanq - c.mw)) // 1000000000000 AS BIGINT)
               AS numq,
             CAST(sum((1000000000 * CAST(c.ww - w.w AS HUGEINT)
                       * (c.ww - w.w))
                      // (CAST(c.ww AS HUGEINT) * c.ww * (w.n - 1)))
                  AS BIGINT) AS lamq
      FROM wq w CROSS JOIN ctr c
      GROUP BY c.k, c.ww
    )
    SELECT k AS n_groups,
           (CAST(numq AS DOUBLE) / 1000000000000.0
            / CAST(k - 1 AS DOUBLE))
           / (1.0 + (2.0 * CAST(k - 2 AS DOUBLE)
                     / (CAST(k AS DOUBLE) * k - 1.0))
                    * (CAST(lamq AS DOUBLE) / 1000000000.0))
             AS welch_f,
           CAST(lamq AS BIGINT) AS lambda_nano
    FROM nums
    """,
    doc="Welch's heteroscedastic one-way ANOVA across the 5 priority "
    "classes: F* = [sum w_i(mean_i - mean_w)^2/(k-1)] / "
    "[1 + (2(k-2)/(k^2-1)) * sum (1 - w_i/W)^2/(n_i-1)] with precision "
    "weights w_i = n_i/s_i^2 — the k-group mean test that does NOT "
    "assume equal variances (agg_oneway_anova is the classical "
    "equal-variance F; agg_welch_ttest the k=2 case; "
    "agg_kruskal_wallis the rank escape hatch). Every piece quantizes "
    "to integers with documented scales: w_i = 1e12 * n^2(n-1) / "
    "(nQ - S^2) by ONE floor-division per group (variance floored at "
    "n^2 so the degenerate constant-group branch keeps the div RESULT "
    "under 2^62 instead of wrapping), means in micro-units, "
    "the weighted between-group sum reduced to pico-scale (1e12*1e12 -> div 1e12) and "
    "lambda in nano-units — each div RESULT < 2^62 at sf10 — and the "
    "final F is one fixed-shape double expression over sub-2^53 "
    "integers. One priority-keyed aggregation + 5-row rollups; no "
    "windows.",
)
def agg_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("x"),
    )
    g = b.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("q"),
    )
    wq = g.filter(F.col("n") >= 2).select(
        "priority",
        "n",
        F.expr("CAST((1000000 * s) div n AS BIGINT)").alias("meanq"),
        F.expr(
            "CAST((1000000000000 * CAST(n AS DECIMAL(38,0)) * n * (n - 1))"
            " div greatest(n * q - CAST(s AS DECIMAL(38,0)) * s,"
            "              CAST(n AS DECIMAL(38,0)) * n)"
            " AS BIGINT)"
        ).alias("w"),
    )
    wq = wq.persist()  # 5-row relation; feeds the total and the deviations
    tw = wq.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("w").cast("bigint").alias("ww"),
        _dsum(F.expr("CAST(w AS DECIMAL(38,0)) * meanq")).alias("wm"),
    )
    ctr = tw.select(
        "k", "ww", F.expr("CAST(wm div ww AS BIGINT)").alias("mw")
    )
    nums = (
        wq.crossJoin(F.broadcast(ctr))
        .groupBy("k", "ww")
        .agg(
            F.expr(
                "CAST(sum(CAST(w AS DECIMAL(38,0)) * (meanq - mw)"
                " * (meanq - mw)) div 1000000000000 AS BIGINT)"
            ).alias("numq"),
            F.expr(
                "CAST(sum((1000000000 * CAST(ww - w AS DECIMAL(38,0))"
                " * (ww - w))"
                " div (CAST(ww AS DECIMAL(38,0)) * ww * (n - 1)))"
                " AS BIGINT)"
            ).alias("lamq"),
        )
    )
    out = nums.select(
        F.col("k").alias("n_groups"),
        F.expr(
            "(CAST(numq AS DOUBLE) / 1000000000000.0"
            " / CAST(k - 1 AS DOUBLE))"
            " / (1.0 + (2.0 * CAST(k - 2 AS DOUBLE)"
            "           / (CAST(k AS DOUBLE) * k - 1.0))"
            "          * (CAST(lamq AS DOUBLE) / 1000000000.0))"
        ).alias("welch_f"),
        F.expr("CAST(lamq AS BIGINT)").alias("lambda_nano"),
    )
    return release_on_gc(wq, out)


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
# agg_uplift_curve — incremental-response (Qini-style) targeting curve
# ---------------------------------------------------------------------------


@register(
    "agg_uplift_curve",
    oracle="""
    WITH b AS (
      SELECT (CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)
               // 100000 AS s,
             CASE WHEN round(l_discount * 100) >= 5 THEN 1 ELSE 0 END AS t,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    cells AS (
      SELECT s,
             CAST(sum(t) AS BIGINT) AS nt,
             CAST(count(*) - sum(t) AS BIGINT) AS nc,
             CAST(sum(t * y) AS BIGINT) AS yt,
             CAST(sum((1 - t) * y) AS BIGINT) AS yc
      FROM b GROUP BY s
    ),
    cum AS (
      SELECT s,
             sum(nt) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cnt,
             sum(nc) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cnc,
             sum(yt) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cyt,
             sum(yc) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cyc
      FROM cells
    )
    SELECT s AS score_floor,
           CAST(cnt AS BIGINT) AS n_treated,
           CAST(cnc AS BIGINT) AS n_control,
           CAST(cyt AS BIGINT) AS resp_treated,
           CAST(cyc AS BIGINT) AS resp_control,
           CAST(CASE WHEN CAST(cyt AS HUGEINT) * cnc
                          - CAST(cyc AS HUGEINT) * cnt >= 0
                THEN (1000000000 * (CAST(cyt AS HUGEINT) * cnc
                                    - CAST(cyc AS HUGEINT) * cnt))
                     // greatest(CAST(cnt AS HUGEINT) * cnc, 1)
                ELSE -((1000000000 * (CAST(cyc AS HUGEINT) * cnt
                                      - CAST(cyt AS HUGEINT) * cnc))
                       // greatest(CAST(cnt AS HUGEINT) * cnc, 1))
                END AS BIGINT) AS uplift_ppb
    FROM cum WHERE cnt > 0 AND cnc > 0
    ORDER BY s DESC
    """,
    doc="Incremental-response (Qini-style) uplift curve: treating "
    "discounted lineitems (>= 5%) as the TREATED group and returns as "
    "the response, sweep the price-score threshold from the top and "
    "report, at every targeted depth, the response-rate difference "
    "treated-minus-control — the targeting diagnostic that separates "
    "'the model finds responders' (agg_roc_auc) from 'the model finds "
    "people the TREATMENT changes', which is the question campaign "
    "and data-curation interventions actually ask. Every curve point "
    "is exact: four cumulative masses over the ~105-bucket score "
    "domain, uplift = (Yt*Nc - Yc*Nt)/(Nt*Nc) cross-multiplied in "
    "HUGEINT/DECIMAL and sign-split floor-divided to ppb. One "
    "map-combined rollup + one bounded descending prefix window; "
    "output is the threshold-indexed curve (<= 105 rows).",
)
def agg_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)"
            " div 100000"
        ).alias("s"),
        F.expr(
            "CASE WHEN round(l_discount * 100) >= 5 THEN 1 ELSE 0 END"
        ).alias("t"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    cells = b.groupBy("s").agg(
        F.sum("t").cast("bigint").alias("nt"),
        (F.count(F.lit(1)) - F.sum("t")).cast("bigint").alias("nc"),
        F.sum(F.expr("t * y")).cast("bigint").alias("yt"),
        F.sum(F.expr("(1 - t) * y")).cast("bigint").alias("yc"),
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "s",
        F.sum("nt").over(w).alias("cnt"),
        F.sum("nc").over(w).alias("cnc"),
        F.sum("yt").over(w).alias("cyt"),
        F.sum("yc").over(w).alias("cyc"),
    )
    return (
        cum.filter((F.col("cnt") > 0) & (F.col("cnc") > 0))
        .select(
            F.col("s").alias("score_floor"),
            F.col("cnt").cast("bigint").alias("n_treated"),
            F.col("cnc").cast("bigint").alias("n_control"),
            F.col("cyt").cast("bigint").alias("resp_treated"),
            F.col("cyc").cast("bigint").alias("resp_control"),
            F.expr(
                "CAST(CASE WHEN CAST(cyt AS DECIMAL(38,0)) * cnc"
                " - CAST(cyc AS DECIMAL(38,0)) * cnt >= 0"
                " THEN (1000000000 * (CAST(cyt AS DECIMAL(38,0)) * cnc"
                " - CAST(cyc AS DECIMAL(38,0)) * cnt))"
                " div greatest(CAST(cnt AS DECIMAL(38,0)) * cnc, 1)"
                " ELSE -((1000000000 * (CAST(cyc AS DECIMAL(38,0)) * cnt"
                " - CAST(cyt AS DECIMAL(38,0)) * cnc))"
                " div greatest(CAST(cnt AS DECIMAL(38,0)) * cnc, 1))"
                " END AS BIGINT)"
            ).alias("uplift_ppb"),
        )
        .orderBy(F.col("score_floor").desc())
    )


# ---------------------------------------------------------------------------
# agg_lins_ccc — Lin's concordance correlation (price vs list-price)
# ---------------------------------------------------------------------------


@register(
    "agg_lins_ccc",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l.l_extendedprice * 100) AS BIGINT) AS x,
             CAST(round(p.p_retailprice * 100) AS BIGINT)
               * CAST(round(l.l_quantity) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM b
    ),
    f AS (
      SELECT n,
             n * sxy - sx * sy AS c2,
             n * sxx - sx * sx AS vx,
             n * syy - sy * sy AS vy,
             (sx - sy) * (sx - sy) AS md2
      FROM s
    )
    SELECT n AS n_lines,
           CAST(CASE WHEN c2 >= 0
                THEN (1000000000 * (2 * c2)) // greatest(vx + vy + md2, 1)
                ELSE -((1000000000 * (-2 * c2))
                       // greatest(vx + vy + md2, 1)) END AS BIGINT)
             AS ccc_ppb,
           CAST(CAST(CASE WHEN c2 >= 0
                THEN (1000000000 * (2 * c2)) // greatest(vx + vy + md2, 1)
                ELSE -((1000000000 * (-2 * c2))
                       // greatest(vx + vy + md2, 1)) END AS BIGINT)
                AS DOUBLE) / 1000000000.0 AS lins_ccc
    FROM f
    """,
    doc="Lin's concordance correlation coefficient between the actual "
    "line price and its list-price reconstruction (retail price x "
    "quantity): CCC = 2*cov / (var_x + var_y + (mean_x - mean_y)^2) "
    "grades AGREEMENT WITH THE 45-DEGREE LINE, not mere linear "
    "association — two measurements can correlate perfectly "
    "(agg_pearson-style) while one is biased or rescaled, and CCC is "
    "the standard method-comparison statistic that catches exactly "
    "that (here: how faithful is list-price-times-quantity as a "
    "proxy label for realized revenue — the proxy-validation question "
    "every weak-supervision pipeline asks). With n-scaled integer "
    "moments, CCC = 2(n*Sxy - Sx*Sy) / ((n*Sxx - Sx^2) + (n*Syy - "
    "Sy^2) + (Sx - Sy)^2) is ONE exact HUGEINT/DECIMAL ratio (the "
    "n^2 scales cancel), sign-split floor-divided to ppb. One "
    "broadcast dim join + one scalar rollup; no windows. SCALE "
    "BOUND: n*Syy ~ n^2 * (3e9 cents)^2 crosses DECIMAL(38,0) near "
    "sf~100; the cent quantizers are the dial.",
)
def agg_lins_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    b = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x"),
        (
            F.round(F.col("p_retailprice") * 100).cast("bigint")
            * F.round(F.col("l_quantity")).cast("bigint")
        ).alias("y"),
    )
    s = b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    f = s.select(
        "n",
        F.expr("n * sxy - sx * sy").alias("c2"),
        F.expr("n * sxx - sx * sx").alias("vx"),
        F.expr("n * syy - sy * sy").alias("vy"),
        F.expr("(sx - sy) * (sx - sy)").alias("md2"),
    )
    return f.select(
        F.col("n").alias("n_lines"),
        F.expr(
            "CAST(CASE WHEN c2 >= 0"
            " THEN (1000000000 * (2 * c2)) div greatest(vx + vy + md2, 1)"
            " ELSE -((1000000000 * (-2 * c2))"
            " div greatest(vx + vy + md2, 1)) END AS BIGINT)"
        ).alias("ccc_ppb"),
        F.expr(
            "CAST(CAST(CASE WHEN c2 >= 0"
            " THEN (1000000000 * (2 * c2)) div greatest(vx + vy + md2, 1)"
            " ELSE -((1000000000 * (-2 * c2))"
            " div greatest(vx + vy + md2, 1)) END AS BIGINT)"
            " AS DOUBLE) / 1000000000.0"
        ).alias("lins_ccc"),
    )


# ---------------------------------------------------------------------------
# agg_g_test — likelihood-ratio G² independence test (segment × priority)
# ---------------------------------------------------------------------------


@register(
    "agg_g_test",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT seg, pri, CAST(count(*) AS BIGINT) AS n
      FROM j GROUP BY seg, pri
    ),
    m AS (
      SELECT seg, pri, n,
             CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS r,
             CAST(sum(n) OVER (PARTITION BY pri) AS BIGINT) AS c,
             CAST(sum(n) OVER () AS BIGINT) AS nn
      FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(nn) AS BIGINT) AS n_total,
           CAST(2 * sum(CAST(floor(1000000.0 * n *
                ln((CAST(n AS DOUBLE) * nn)
                   / (CAST(r AS DOUBLE) * c))) AS BIGINT)) AS BIGINT)
             AS g2_micro
    FROM m
    """,
    doc="Likelihood-ratio G-test of independence between market segment "
    "and order priority: G^2 = 2 sum O_ij ln(O_ij N / (R_i C_j)) over "
    "the 5x5 contingency table — the statistic Pearson's chi-square "
    "(agg_chi_square, same frame) approximates to second order, "
    "preferred when expected counts are small or the additivity of "
    "G across nested models matters. Each of the 25 cells quantizes "
    "its term O*ln(O*N/(R*C)) to integer micro-nats BEFORE the sum "
    "(the agg_mutual_information precedent: ln runs on one "
    "correctly-rounded double ratio per DOMAIN cell, never per row), "
    "so the 25-term sum is exact integer arithmetic. One fact-sized "
    "hash join + one map-combined aggregation to the 25-cell grid; "
    "margins via bounded grid windows.",
)
def agg_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
    )
    cells = j.groupBy("seg", "pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    m = cells.select(
        "seg",
        "pri",
        "n",
        F.sum("n").over(Window.partitionBy("seg")).cast("bigint").alias("r"),
        F.sum("n").over(Window.partitionBy("pri")).cast("bigint").alias("c"),
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("nn"),
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("nn").cast("bigint").alias("n_total"),
        (
            2
            * F.sum(
                F.floor(
                    1000000.0
                    * F.col("n")
                    * F.log(
                        (F.col("n").cast("double") * F.col("nn"))
                        / (F.col("r").cast("double") * F.col("c"))
                    )
                ).cast("bigint")
            )
        )
        .cast("bigint")
        .alias("g2_micro"),
    )


# ---------------------------------------------------------------------------
# agg_freeman_tukey — Freeman-Tukey T² goodness statistic (same frame)
# ---------------------------------------------------------------------------


@register(
    "agg_freeman_tukey",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT seg, pri, CAST(count(*) AS BIGINT) AS n
      FROM j GROUP BY seg, pri
    ),
    m AS (
      SELECT seg, pri, n,
             CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS r,
             CAST(sum(n) OVER (PARTITION BY pri) AS BIGINT) AS c,
             CAST(sum(n) OVER () AS BIGINT) AS nn
      FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(nn) AS BIGINT) AS n_total,
           CAST(sum(CAST(floor(4000000.0 *
                (sqrt(CAST(n AS DOUBLE))
                 - sqrt((CAST(r AS DOUBLE) * c) / nn))
                * (sqrt(CAST(n AS DOUBLE))
                   - sqrt((CAST(r AS DOUBLE) * c) / nn)))
                AS BIGINT)) AS BIGINT) AS ft_micro
    FROM m
    """,
    doc="Freeman-Tukey T^2 = 4 sum (sqrt(O) - sqrt(E))^2 on the segment x "
    "priority contingency table — the variance-stabilized member of the "
    "power-divergence family, robust to small expected counts where "
    "Pearson's X^2 inflates; completes the trio with agg_chi_square "
    "(lambda=1) and agg_g_test (lambda=0). E_ij = R_i C_j / N as ONE "
    "fixed-shape double ratio per DOMAIN cell; sqrt is IEEE-correctly-"
    "rounded so each cell's 4(sqrt O - sqrt E)^2 quantizes to integer "
    "micro-units before the exact 25-term sum. Same single-join, "
    "grid-window plan as its siblings.",
)
def agg_freeman_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
    )
    cells = j.groupBy("seg", "pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    m = cells.select(
        "n",
        F.sum("n").over(Window.partitionBy("seg")).cast("bigint").alias("r"),
        F.sum("n").over(Window.partitionBy("pri")).cast("bigint").alias("c"),
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("nn"),
    )
    diff = F.sqrt(F.col("n").cast("double")) - F.sqrt(
        (F.col("r").cast("double") * F.col("c")) / F.col("nn")
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("nn").cast("bigint").alias("n_total"),
        F.sum(F.floor(F.lit(4000000.0) * diff * diff).cast("bigint"))
        .cast("bigint")
        .alias("ft_micro"),
    )


# ---------------------------------------------------------------------------
# agg_scott_pi — Scott's pi agreement (first-vs-last priority, 3-cat)
# ---------------------------------------------------------------------------


@register(
    "agg_scott_pi",
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
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(coalesce(sum(CASE WHEN a = b THEN n END), 0) AS BIGINT)
               AS diag,
             CAST(coalesce(sum(CASE WHEN a = 1 THEN n END), 0)
                  + coalesce(sum(CASE WHEN b = 1 THEN n END), 0) AS BIGINT)
               AS s1,
             CAST(coalesce(sum(CASE WHEN a = 2 THEN n END), 0)
                  + coalesce(sum(CASE WHEN b = 2 THEN n END), 0) AS BIGINT)
               AS s2,
             CAST(coalesce(sum(CASE WHEN a = 3 THEN n END), 0)
                  + coalesce(sum(CASE WHEN b = 3 THEN n END), 0) AS BIGINT)
               AS s3
      FROM cells
    )
    SELECT nn AS n_customers, diag AS n_agree,
           CAST(CASE WHEN 4 * CAST(nn AS HUGEINT) * diag
                          >= CAST(s1 AS HUGEINT) * s1
                             + CAST(s2 AS HUGEINT) * s2
                             + CAST(s3 AS HUGEINT) * s3
                     THEN 1 ELSE -1 END AS BIGINT) AS pi_sign,
           CAST((1000000000 * abs(4 * CAST(nn AS HUGEINT) * diag
                 - (CAST(s1 AS HUGEINT) * s1 + CAST(s2 AS HUGEINT) * s2
                    + CAST(s3 AS HUGEINT) * s3)))
                // greatest(4 * CAST(nn AS HUGEINT) * nn
                 - (CAST(s1 AS HUGEINT) * s1 + CAST(s2 AS HUGEINT) * s2
                    + CAST(s3 AS HUGEINT) * s3), 1) AS BIGINT)
             AS pi_abs_ppb
    FROM piv
    """,
    doc="Scott's pi chance-corrected agreement between a customer's FIRST "
    "and LAST order priority (high/medium/low collapse — the "
    "stuart_maxwell frame): unlike Cohen's kappa (per-rater marginals), "
    "Scott's pi draws chance agreement from the POOLED marginal "
    "(r_i + c_i)/2N — the two-rater special case of Fleiss' kappa. "
    "Clearing denominators: pi = (4N*diag - sum s_i^2) / (4N^2 - "
    "sum s_i^2) with s_i = row_i + col_i — ONE exact integer ratio, "
    "sign-split into pi_sign and a non-negative ppb floor-division. "
    "One customer-keyed aggregation + 9-cell pivot; no joins, no "
    "windows.",
)
def agg_scott_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        F.sum("n").cast("bigint").alias("nn"),
        F.coalesce(F.sum(F.when(F.col("a") == F.col("b"), F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("diag"),
        (
            F.coalesce(F.sum(F.when(F.col("a") == 1, F.col("n"))), F.lit(0))
            + F.coalesce(F.sum(F.when(F.col("b") == 1, F.col("n"))), F.lit(0))
        )
        .cast("bigint")
        .alias("s1"),
        (
            F.coalesce(F.sum(F.when(F.col("a") == 2, F.col("n"))), F.lit(0))
            + F.coalesce(F.sum(F.when(F.col("b") == 2, F.col("n"))), F.lit(0))
        )
        .cast("bigint")
        .alias("s2"),
        (
            F.coalesce(F.sum(F.when(F.col("a") == 3, F.col("n"))), F.lit(0))
            + F.coalesce(F.sum(F.when(F.col("b") == 3, F.col("n"))), F.lit(0))
        )
        .cast("bigint")
        .alias("s3"),
    )
    return piv.select(
        F.col("nn").alias("n_customers"),
        F.col("diag").alias("n_agree"),
        F.expr(
            "CAST(CASE WHEN 4 * CAST(nn AS DECIMAL(38,0)) * diag"
            " >= CAST(s1 AS DECIMAL(38,0)) * s1"
            " + CAST(s2 AS DECIMAL(38,0)) * s2"
            " + CAST(s3 AS DECIMAL(38,0)) * s3"
            " THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("pi_sign"),
        F.expr(
            "CAST((1000000000 * abs(4 * CAST(nn AS DECIMAL(38,0)) * diag"
            " - (CAST(s1 AS DECIMAL(38,0)) * s1"
            "    + CAST(s2 AS DECIMAL(38,0)) * s2"
            "    + CAST(s3 AS DECIMAL(38,0)) * s3)))"
            " div greatest(4 * CAST(nn AS DECIMAL(38,0)) * nn"
            " - (CAST(s1 AS DECIMAL(38,0)) * s1"
            "    + CAST(s2 AS DECIMAL(38,0)) * s2"
            "    + CAST(s3 AS DECIMAL(38,0)) * s3), 1) AS BIGINT)"
        ).alias("pi_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_fowlkes_mallows — clustering agreement, segment vs region partition
# ---------------------------------------------------------------------------


@register(
    "agg_fowlkes_mallows",
    oracle="""
    WITH cu AS (
      SELECT c.c_mktsegment AS a, r.r_name AS b
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM cu GROUP BY a, b
    ),
    am AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY a),
    bm AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY b),
    s AS (
      SELECT
        (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS nn,
        (SELECT CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT)
         FROM cells) AS t2,
        (SELECT CAST(sum(CAST(na AS HUGEINT) * (na - 1)) AS HUGEINT)
         FROM am) AS pa2,
        (SELECT CAST(sum(CAST(nb AS HUGEINT) * (nb - 1)) AS HUGEINT)
         FROM bm) AS pb2
    )
    SELECT nn AS n_customers,
           CAST(t2 // 2 AS BIGINT) AS pairs_together,
           CAST(pa2 // 2 AS BIGINT) AS pairs_seg,
           CAST(pb2 // 2 AS BIGINT) AS pairs_region,
           CAST(t2 AS DOUBLE)
             / sqrt(CAST(pa2 AS DOUBLE) * CAST(pb2 AS DOUBLE)) AS fm_index
    FROM s
    """,
    doc="Fowlkes-Mallows index between two partitions of the customer "
    "base — market segment vs geographic region (nation -> region "
    "broadcast chain): FM = TP/sqrt((TP+FP)(TP+FN)) over same-cluster "
    "PAIRS, the geometric mean of pairwise precision and recall (the "
    "external clustering-validation metric beside ARI). Doubled pair "
    "counts n(n-1) stay exact integers (HUGEINT/DECIMAL through "
    "sf1000); FM is ONE fixed-shape double ratio over those exact "
    "integers. Two broadcast dim joins + one 25-cell aggregation; "
    "margins re-aggregate the cell grid.",
)
def agg_fowlkes_mallows(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cu = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(F.col("c_mktsegment").alias("a"), F.col("r_name").alias("b"))
    )
    cells = cu.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    am = cells.groupBy("a").agg(F.sum("n").cast("bigint").alias("na"))
    bm = cells.groupBy("b").agg(F.sum("n").cast("bigint").alias("nb"))
    s = (
        cells.agg(
            F.sum("n").cast("bigint").alias("nn"),
            _dsum(F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).alias("t2"),
        )
        .crossJoin(
            F.broadcast(
                am.agg(
                    _dsum(
                        F.expr("CAST(na AS DECIMAL(38,0)) * (na - 1)")
                    ).alias("pa2")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                bm.agg(
                    _dsum(
                        F.expr("CAST(nb AS DECIMAL(38,0)) * (nb - 1)")
                    ).alias("pb2")
                )
            )
        )
    )
    return s.select(
        F.col("nn").alias("n_customers"),
        F.expr("CAST(t2 div 2 AS BIGINT)").alias("pairs_together"),
        F.expr("CAST(pa2 div 2 AS BIGINT)").alias("pairs_seg"),
        F.expr("CAST(pb2 div 2 AS BIGINT)").alias("pairs_region"),
        F.expr(
            "CAST(t2 AS DOUBLE)"
            " / sqrt(CAST(pa2 AS DOUBLE) * CAST(pb2 AS DOUBLE))"
        ).alias("fm_index"),
    )


# ---------------------------------------------------------------------------
# agg_rand_adjusted — adjusted Rand index (same partition pair)
# ---------------------------------------------------------------------------


@register(
    "agg_rand_adjusted",
    oracle="""
    WITH cu AS (
      SELECT c.c_mktsegment AS a, r.r_name AS b
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM cu GROUP BY a, b
    ),
    am AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY a),
    bm AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY b),
    s AS (
      SELECT
        (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS nn,
        (SELECT CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT)
         FROM cells) AS sij2,
        (SELECT CAST(sum(CAST(na AS HUGEINT) * (na - 1)) AS HUGEINT)
         FROM am) AS sa2,
        (SELECT CAST(sum(CAST(nb AS HUGEINT) * (nb - 1)) AS HUGEINT)
         FROM bm) AS sb2
    ),
    z AS (
      SELECT nn, sij2, sa2, sb2,
             CAST(nn AS HUGEINT) * (nn - 1) AS tot2,
             CAST(nn AS HUGEINT) * (nn - 1) * sij2 - sa2 * sb2 AS num,
             CAST(nn AS HUGEINT) * (nn - 1) * ((sa2 + sb2) // 2)
               - sa2 * sb2 AS den
      FROM s
    )
    SELECT nn AS n_customers,
           CAST(sij2 // 2 AS BIGINT) AS pairs_together,
           CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END AS BIGINT)
             AS ari_sign,
           CAST((1000000000 * abs(num)) // greatest(abs(den), 1) AS BIGINT)
             AS ari_abs_ppb
    FROM z
    """,
    doc="Adjusted Rand index between the market-segment and region "
    "partitions of the customer base — Rand agreement corrected for "
    "chance under the permutation model, the standard external "
    "clustering-comparison statistic next to agg_fowlkes_mallows "
    "(same frame, different normalization: ARI subtracts the expected "
    "pair overlap where FM takes a geometric mean, so they can "
    "disagree on which of two partition pairs is closer). With "
    "doubled combination counts x2 = 2*C(x,2) (each n(n-1) is even, "
    "so (sa2+sb2)/2 is exact): ARI = (tot2*sij2 - sa2*sb2) / "
    "(tot2*(sa2+sb2)/2 - sa2*sb2) — ONE exact integer ratio, "
    "sign-split to ari_sign + non-negative ppb floor-division "
    "(products bounded by n^4 < 10^38 through sf100). Same "
    "broadcast-dim plan as its sibling.",
)
def agg_rand_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cu = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(F.col("c_mktsegment").alias("a"), F.col("r_name").alias("b"))
    )
    cells = cu.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    am = cells.groupBy("a").agg(F.sum("n").cast("bigint").alias("na"))
    bm = cells.groupBy("b").agg(F.sum("n").cast("bigint").alias("nb"))
    s = (
        cells.agg(
            F.sum("n").cast("bigint").alias("nn"),
            _dsum(F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).alias("sij2"),
        )
        .crossJoin(
            F.broadcast(
                am.agg(
                    _dsum(
                        F.expr("CAST(na AS DECIMAL(38,0)) * (na - 1)")
                    ).alias("sa2")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                bm.agg(
                    _dsum(
                        F.expr("CAST(nb AS DECIMAL(38,0)) * (nb - 1)")
                    ).alias("sb2")
                )
            )
        )
    )
    z = s.select(
        "nn",
        "sij2",
        F.expr(
            "CAST(nn AS DECIMAL(38,0)) * (nn - 1) * sij2 - sa2 * sb2"
        ).alias("num"),
        F.expr(
            "CAST(nn AS DECIMAL(38,0)) * (nn - 1) * ((sa2 + sb2) div 2)"
            " - sa2 * sb2"
        ).alias("den"),
    )
    return z.select(
        F.col("nn").alias("n_customers"),
        F.expr("CAST(sij2 div 2 AS BIGINT)").alias("pairs_together"),
        F.expr(
            "CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("ari_sign"),
        F.expr(
            "CAST((1000000000 * abs(num)) div greatest(abs(den), 1)"
            " AS BIGINT)"
        ).alias("ari_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_theil_index — Theil T and L inequality per priority (bucketed domain)
# ---------------------------------------------------------------------------


@register(
    "agg_theil_index",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS pri,
             greatest((CAST(round(o_totalprice * 100) AS BIGINT) + 50000)
                      // 100000, 1) AS v
      FROM orders
    ),
    cells AS (
      SELECT pri, v, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY pri, v
    ),
    g AS (
      SELECT pri, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * v) AS BIGINT) AS s
      FROM cells GROUP BY pri
    ),
    t AS (
      SELECT cells.pri,
             CAST(sum(CAST(floor(1000000.0 * c * v *
                  ln((CAST(n AS DOUBLE) * v) / s)) AS HUGEINT))
               AS HUGEINT) AS tnum,
             CAST(sum(CAST(floor(1000000.0 * c *
                  ln(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * v)))
                  AS HUGEINT)) AS HUGEINT) AS lnum
      FROM cells JOIN g ON cells.pri = g.pri
      GROUP BY cells.pri
    )
    SELECT g.pri AS priority, g.n AS n_orders,
           CAST(CASE WHEN tnum >= 0 THEN 1 ELSE -1 END AS BIGINT)
             AS theil_t_sign,
           CAST(abs(tnum) // g.s AS BIGINT) AS theil_t_abs_micro,
           CAST(CASE WHEN lnum >= 0 THEN 1 ELSE -1 END AS BIGINT)
             AS theil_l_sign,
           CAST(abs(lnum) // g.n AS BIGINT) AS theil_l_abs_micro
    FROM t JOIN g ON t.pri = g.pri
    ORDER BY priority
    """,
    doc="Theil T and Theil L inequality indices of order value per "
    "priority class, computed on the 1000-unit price-bucket DOMAIN "
    "(the roc_auc grid — the statistic is defined on the bucketed "
    "distribution, so both engines evaluate the identical ~105-cell "
    "relation; declared bucketing, not an approximation claim): "
    "T = sum (x/S) ln(n x/S), L = (1/n) sum ln(S/(n x)) — the two "
    "GE-family members that decompose additively by subgroup (the "
    "between/within split agg_atkinson_index and agg_hoover_index "
    "cannot offer). Per-CELL terms c*v*ln(n*v/S) quantize to integer "
    "micro-units before the exact grid-sized sum (the mutual-"
    "information precedent); the two final floor-divisions are "
    "sign-split. One map-combined rollup to (priority, bucket), one "
    "5-row broadcast join back; no windows.",
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.expr(
            "greatest((CAST(round(o_totalprice * 100) AS BIGINT) + 50000)"
            " div 100000, 1)"
        ).alias("v"),
    )
    cells = b.groupBy("pri", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    g = cells.groupBy("pri").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("v")).cast("bigint").alias("s"),
    )
    t = (
        cells.join(F.broadcast(g), "pri")
        .groupBy("pri")
        .agg(
            _dsum(
                F.floor(
                    F.lit(1000000.0)
                    * F.col("c")
                    * F.col("v")
                    * F.log(
                        (F.col("n").cast("double") * F.col("v")) / F.col("s")
                    )
                )
            ).alias("tnum"),
            _dsum(
                F.floor(
                    F.lit(1000000.0)
                    * F.col("c")
                    * F.log(
                        F.col("s").cast("double")
                        / (F.col("n").cast("double") * F.col("v"))
                    )
                )
            ).alias("lnum"),
        )
    )
    return (
        t.join(F.broadcast(g), "pri")
        .select(
            F.col("pri").alias("priority"),
            F.col("n").alias("n_orders"),
            F.expr(
                "CAST(CASE WHEN tnum >= 0 THEN 1 ELSE -1 END AS BIGINT)"
            ).alias("theil_t_sign"),
            F.expr("CAST(abs(tnum) div s AS BIGINT)").alias(
                "theil_t_abs_micro"
            ),
            F.expr(
                "CAST(CASE WHEN lnum >= 0 THEN 1 ELSE -1 END AS BIGINT)"
            ).alias("theil_l_sign"),
            F.expr("CAST(abs(lnum) div n AS BIGINT)").alias(
                "theil_l_abs_micro"
            ),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# agg_ge2_index — generalized entropy GE(2) per priority (log-free)
# ---------------------------------------------------------------------------


@register(
    "agg_ge2_index",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders
    ),
    g AS (
      SELECT pri, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
      FROM b GROUP BY pri
    )
    SELECT pri AS priority, n AS n_orders,
           CAST(s // n AS BIGINT) AS mean_cents,
           CAST((1000000000 * (n * s2 - s * s)) // (2 * s * s) AS BIGINT)
             AS ge2_ppb,
           CAST((1000000000 * (n * s2 - s * s)) // (CAST(n AS HUGEINT) * s)
                AS BIGINT) AS n_scaled_var_ppb
    FROM g
    ORDER BY priority
    """,
    doc="Generalized entropy GE(2) inequality index per priority — "
    "GE(2) = (E[x^2]/mu^2 - 1)/2 = half the squared coefficient of "
    "variation, the log-free member of the GE family (alpha=2 weights "
    "the top tail, complementing Theil T at alpha=1, Theil L at 0 and "
    "Atkinson's welfare form): top-sensitive inequality with NOTHING "
    "but exact integer cent moments. Cleared denominators: GE2 = "
    "(n*S2 - S^2)/(2*S^2), non-negative by Cauchy-Schwarz, so ONE "
    "unsigned ppb floor-division (n*S2 < 10^33 at sf100 — inside "
    "HUGEINT/DECIMAL(38,0)). One map-combined aggregation; no joins, "
    "no windows.",
)
def agg_ge2_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
    )
    g = b.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("s"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("s2"),
    )
    return g.select(
        F.col("pri").alias("priority"),
        F.col("n").alias("n_orders"),
        F.expr("CAST(s div n AS BIGINT)").alias("mean_cents"),
        F.expr(
            "CAST((1000000000 * (n * s2 - s * s)) div (2 * s * s)"
            " AS BIGINT)"
        ).alias("ge2_ppb"),
        F.expr(
            "CAST((1000000000 * (n * s2 - s * s))"
            " div (CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)"
        ).alias("n_scaled_var_ppb"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# agg_gumbel_fit — Gumbel EVD fit on monthly block maxima (method of moments)
# ---------------------------------------------------------------------------


@register(
    "agg_gumbel_fit",
    oracle="""
    WITH mm AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS mx
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(mx) AS HUGEINT) AS sm,
             CAST(sum(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS sm2
      FROM mm
    )
    SELECT k AS n_months,
           CAST(sm // k AS BIGINT) AS mean_max_cents,
           CAST(floor(sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)
                           / (CAST(k AS DOUBLE) * (k - 1)))
                      * 0.779696801233676) AS BIGINT) AS beta_cents,
           CAST(floor(CAST(sm AS DOUBLE) / k
                      - 0.5772156649015329
                        * (sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)
                                / (CAST(k AS DOUBLE) * (k - 1)))
                           * 0.779696801233676)) AS BIGINT) AS mu_cents,
           CAST(floor(CAST(sm AS DOUBLE) / k
                      - 0.5772156649015329
                        * (sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)
                                / (CAST(k AS DOUBLE) * (k - 1)))
                           * 0.779696801233676)
                      + 4.600149226776579
                        * (sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)
                                / (CAST(k AS DOUBLE) * (k - 1)))
                           * 0.779696801233676)) AS BIGINT)
             AS return_level_99_cents
    FROM s
    """,
    doc="Gumbel extreme-value fit to MONTHLY BLOCK MAXIMA of order value "
    "(method of moments): scale beta = s*sqrt(6)/pi and location "
    "mu = mean - gamma*beta (Euler-Mascheroni), plus the 99th-"
    "percentile return level mu + beta*(-ln(-ln 0.99)) — the "
    "capacity-planning number ('the monthly max exceeded once per "
    "100 months') that complements events_peak_over_threshold's POT "
    "approach with the block-maxima approach. Block maxima and both "
    "moment sums are exact integer cents over the calendar-bounded "
    "~84-month relation; beta/mu/return level are fixed-shape double "
    "expressions over those exact integers with the three "
    "mathematical constants as exact shared double literals, floor-"
    "quantized to whole cents. One month rollup; no windows, no "
    "joins.",
)
def agg_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mm = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mo")
    ).agg(
        F.max(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("mx")
    )
    s = mm.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        _dsum(F.col("mx")).alias("sm"),
        _dsum(F.expr("CAST(mx AS DECIMAL(38,0)) * mx")).alias("sm2"),
    )
    beta = (
        "sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)"
        " / (CAST(k AS DOUBLE) * (k - 1))) * 0.779696801233676"
    )
    return s.select(
        F.col("k").alias("n_months"),
        F.expr("CAST(sm div k AS BIGINT)").alias("mean_max_cents"),
        F.expr(f"CAST(floor({beta}) AS BIGINT)").alias("beta_cents"),
        F.expr(
            f"CAST(floor(CAST(sm AS DOUBLE) / k"
            f" - 0.5772156649015329 * ({beta})) AS BIGINT)"
        ).alias("mu_cents"),
        F.expr(
            f"CAST(floor(CAST(sm AS DOUBLE) / k"
            f" - 0.5772156649015329 * ({beta})"
            f" + 4.600149226776579 * ({beta})) AS BIGINT)"
        ).alias("return_level_99_cents"),
    )


# ---------------------------------------------------------------------------
# agg_log_loss — cross-entropy of the discount-as-probability forecast
# ---------------------------------------------------------------------------


@register(
    "agg_log_loss",
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
    t AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(
               CAST(floor(1000000.0 * (
                 - o * ln((10.0 * p10 + 1) / 102.0)
                 - (n - o) * ln(1.0 - (10.0 * p10 + 1) / 102.0)))
                 AS HUGEINT)) AS HUGEINT) AS s_micro
      FROM cells
    )
    SELECT nn AS n, CAST(s_micro // nn AS BIGINT) AS avg_logloss_micro,
           CAST(s_micro // 1000 AS BIGINT) AS total_logloss_milli
    FROM t
    """,
    doc="Binary cross-entropy (log loss) of the discount-as-return-"
    "probability forecast on its native tenths grid — the PROPER "
    "scoring rule beside agg_brier_score (quadratic) and the "
    "calibration-only agg_expected_calibration_error, punishing "
    "confident misses exponentially harder. The grid probability "
    "p = p10/10 is Laplace-clamped to p' = (10*p10+1)/102 (exactly "
    "one pseudo-count per endpoint cell) so ln stays finite; each of "
    "the 11 DOMAIN cells quantizes -[o ln p' + (n-o) ln(1-p')] to "
    "integer micro-nats before the exact sum (the mutual-information "
    "precedent), and the per-row average is one non-negative floor-"
    "division. One 11-cell map-side rollup; no windows, no joins.",
)
def agg_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("p10"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    cells = b.groupBy("p10").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("o"),
    )
    t = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        _dsum(
            F.floor(
                F.lit(1000000.0)
                * (
                    -F.col("o")
                    * F.log((10.0 * F.col("p10") + 1) / 102.0)
                    - (F.col("n") - F.col("o"))
                    * F.log(1.0 - (10.0 * F.col("p10") + 1) / 102.0)
                )
            )
        ).alias("s_micro"),
    )
    return t.select(
        F.col("nn").alias("n"),
        F.expr("CAST(s_micro div nn AS BIGINT)").alias("avg_logloss_micro"),
        F.expr("CAST(s_micro div 1000 AS BIGINT)").alias(
            "total_logloss_milli"
        ),
    )


# ---------------------------------------------------------------------------
# agg_tjur_r2 — Tjur's coefficient of discrimination (same forecast)
# ---------------------------------------------------------------------------


@register(
    "agg_tjur_r2",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS p10,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(sum(y) AS BIGINT) AS n1,
             CAST(count(*) - sum(y) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN y = 1 THEN p10 ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN y = 0 THEN p10 ELSE 0 END) AS BIGINT) AS s0
      FROM b
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           CAST(CASE WHEN CAST(s1 AS HUGEINT) * n0
                          >= CAST(s0 AS HUGEINT) * n1
                     THEN 1 ELSE -1 END AS BIGINT) AS tjur_sign,
           CAST((1000000000 * abs(CAST(s1 AS HUGEINT) * n0
                                  - CAST(s0 AS HUGEINT) * n1))
                // (10 * CAST(n1 AS HUGEINT) * n0) AS BIGINT)
             AS tjur_abs_ppb
    FROM s
    WHERE n1 > 0 AND n0 > 0
    """,
    doc="Tjur's coefficient of discrimination for the discount-as-return-"
    "probability forecast: R2_Tjur = mean(p | y=1) - mean(p | y=0) — "
    "the separation the classifier achieves on average, the intuitive "
    "discrimination companion to agg_roc_auc (rank-based) and "
    "agg_brier_score (calibration-mixed). With p = p10/10, "
    "R2 = (s1*n0 - s0*n1)/(10*n1*n0) — ONE exact integer ratio from "
    "one conditional map-combined pass, sign-split into tjur_sign and "
    "a non-negative ppb floor-division. No windows, no joins, no grid "
    "needed. Empty classes emit zero rows on both engines.",
)
def agg_tjur_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("p10"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    s = b.agg(
        F.sum("y").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("y") == 1, F.col("p10")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("y") == 0, F.col("p10")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
    )
    return s.filter((F.col("n1") > 0) & (F.col("n0") > 0)).select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.expr(
            "CAST(CASE WHEN CAST(s1 AS DECIMAL(38,0)) * n0"
            " >= CAST(s0 AS DECIMAL(38,0)) * n1 THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("tjur_sign"),
        F.expr(
            "CAST((1000000000 * abs(CAST(s1 AS DECIMAL(38,0)) * n0"
            " - CAST(s0 AS DECIMAL(38,0)) * n1))"
            " div (10 * CAST(n1 AS DECIMAL(38,0)) * n0) AS BIGINT)"
        ).alias("tjur_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_f1_sweep — threshold sweep for best F1 on the price-score grid
# ---------------------------------------------------------------------------


@register(
    "agg_f1_sweep",
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
    suf AS (
      SELECT s,
             CAST(sum(n1) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
             CAST(sum(n0) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
             CAST(sum(n1) OVER () AS BIGINT) AS p
      FROM cells
    ),
    f AS (
      SELECT s AS threshold, tp, fp,
             CAST((1000000000 * (2 * CAST(tp AS HUGEINT)))
                  // (CAST(tp AS HUGEINT) + fp + p) AS BIGINT) AS f1_ppb
      FROM suf
    )
    SELECT threshold, tp, fp, f1_ppb,
           CAST(CASE WHEN f1_ppb = (SELECT max(f1_ppb) FROM f)
                      AND threshold = (SELECT min(threshold) FROM f
                                       WHERE f1_ppb =
                                         (SELECT max(f1_ppb) FROM f))
                     THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM f
    ORDER BY threshold
    """,
    doc="Full F1 threshold sweep for the price-as-returns classifier on "
    "the ~105-value score DOMAIN: classify positive when score >= t, "
    "F1(t) = 2TP/(TP+FP+P) (the harmonic mean identity with "
    "FN = P-TP), per-threshold exact integer counts from ONE "
    "descending suffix window over the grid — the threshold-selection "
    "readout that optimizes the precision/recall tradeoff directly "
    "where agg_youden_threshold optimizes sensitivity+specificity and "
    "agg_ks_separation the ECDF gap (all three can pick different "
    "operating points). f1_ppb is one non-negative floor-division per "
    "grid cell; is_best flags the max with ties to the LOWEST "
    "threshold, decided on the quantized ppb exactly as emitted. "
    "Bounded grid windows only; one map-combined rollup.",
)
def agg_f1_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    w_desc = (
        Window.orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suf = cells.select(
        "s",
        F.sum("n1").over(w_desc).cast("bigint").alias("tp"),
        F.sum("n0").over(w_desc).cast("bigint").alias("fp"),
        F.sum("n1").over(Window.partitionBy()).cast("bigint").alias("p"),
    )
    f = suf.select(
        F.col("s").alias("threshold"),
        "tp",
        "fp",
        F.expr(
            "CAST((1000000000 * (2 * CAST(tp AS DECIMAL(38,0))))"
            " div (CAST(tp AS DECIMAL(38,0)) + fp + p) AS BIGINT)"
        ).alias("f1_ppb"),
    )
    wb = Window.partitionBy()
    return (
        f.select(
            "threshold",
            "tp",
            "fp",
            "f1_ppb",
            F.max(F.struct(F.col("f1_ppb"), -F.col("threshold")))
            .over(wb)
            .alias("best"),
        )
        .select(
            "threshold",
            "tp",
            "fp",
            "f1_ppb",
            F.when(
                (F.col("f1_ppb") == F.col("best.f1_ppb"))
                & (-F.col("threshold") == F.col("best.col2")),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("is_best"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# agg_mrr_retrieval — mean reciprocal rank over the 20-doc query panel
# ---------------------------------------------------------------------------


@register(
    "agg_mrr_retrieval",
    oracle="""
    WITH w AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    q AS (
      SELECT doc_id AS qid, source AS qsource FROM documents
      WHERE doc_id < 20
    ),
    qw AS (
      SELECT q.qid, q.qsource, w.word FROM q JOIN w ON w.doc_id = q.qid
    ),
    cand AS (
      SELECT qw.qid, qw.qsource, w.doc_id AS did,
             CAST(count(*) AS BIGINT) AS shared
      FROM qw JOIN w ON w.word = qw.word AND w.doc_id <> qw.qid
      GROUP BY qw.qid, qw.qsource, w.doc_id
    ),
    ranked AS (
      SELECT qid, qsource, did, shared,
             row_number() OVER (PARTITION BY qid
               ORDER BY shared DESC, did) AS rn
      FROM cand
    ),
    rel AS (
      SELECT r.qid,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(coalesce(min(CASE WHEN d.source = r.qsource
                                    THEN r.rn END), 0) AS BIGINT)
               AS first_rel_rank
      FROM ranked r JOIN documents d ON d.doc_id = r.did
      GROUP BY r.qid
    )
    SELECT qid AS query_id, n_candidates, first_rel_rank,
           CAST(CASE WHEN first_rel_rank > 0
                     THEN 1000000 // first_rel_rank ELSE 0 END AS BIGINT)
             AS rr_micro
    FROM rel
    ORDER BY query_id
    """,
    doc="Mean-reciprocal-rank evaluation of bag-of-words retrieval over "
    "the deterministic 20-doc query panel (the similarity_topk "
    "convention): candidates = every doc sharing >= 1 space-token "
    "with the query doc (the text_bm25_topk tokenizer), scored by "
    "shared distinct-token count with (score DESC, doc_id) "
    "determinism; a candidate is RELEVANT when it shares the query's "
    "source — the weak label the corpus carries. Per query the rank "
    "of the first relevant candidate and its floor-quantized "
    "reciprocal 1e6//rank are exact integers (first_rel_rank = 0 "
    "encodes 'no relevant candidate retrieved', scoring 0 — the "
    "standard MRR cutoff convention). Sparse inverted-index join "
    "(only shared-token pairs materialize), one qid-partitioned rank "
    "window over the bounded panel.",
)
def agg_mrr_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).distinct()
    # the query-word relation is the corpus distinct FILTERED to the
    # 20-doc panel, so it is built from the panel docs directly
    # (filter-then-distinct == distinct-then-filter on the doc key) —
    # the former q JOIN w formulation re-ran the corpus-sized explode +
    # distinct a second time just to extract the panel's words
    qw = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            F.col("doc_id").alias("qid"),
            F.col("source").alias("qsource"),
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .distinct()
    )
    cand = (
        qw.join(
            w.withColumnRenamed("doc_id", "did").withColumnRenamed(
                "word", "dword"
            ),
            (F.col("dword") == F.col("word")) & (F.col("did") != F.col("qid")),
        )
        .groupBy("qid", "qsource", "did")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    ranked = cand.select(
        "qid",
        "qsource",
        "did",
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(
                F.col("shared").desc(), F.col("did")
            )
        )
        .alias("rn"),
    )
    rel = (
        ranked.join(
            docs.select(F.col("doc_id").alias("did"), "source"), "did"
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.coalesce(
                F.min(
                    F.when(
                        F.col("source") == F.col("qsource"), F.col("rn")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("first_rel_rank"),
        )
    )
    return rel.select(
        F.col("qid").alias("query_id"),
        "n_candidates",
        "first_rel_rank",
        F.expr(
            "CAST(CASE WHEN first_rel_rank > 0"
            " THEN 1000000 div first_rel_rank ELSE 0 END AS BIGINT)"
        ).alias("rr_micro"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# agg_ndcg_at10 — graded-relevance NDCG@10 over the same panel
# ---------------------------------------------------------------------------

_NDCG_W = (
    "[1000000000, 630929753, 500000000, 430676558, 386852807,"
    " 356207187, 333333333, 315464876, 301029995, 289064826]"
)


@register(
    "agg_ndcg_at10",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    q AS (
      SELECT doc_id AS qid, source AS qsource, lang AS qlang
      FROM documents WHERE doc_id < 20
    ),
    qw AS (
      SELECT q.qid, q.qsource, q.qlang, w.word
      FROM q JOIN w ON w.doc_id = q.qid
    ),
    cand AS (
      SELECT qw.qid, qw.qsource, qw.qlang, w.doc_id AS did,
             CAST(count(*) AS BIGINT) AS shared
      FROM qw JOIN w ON w.word = qw.word AND w.doc_id <> qw.qid
      GROUP BY qw.qid, qw.qsource, qw.qlang, w.doc_id
    ),
    graded AS (
      SELECT c.qid, c.did, c.shared,
             CAST(CASE WHEN d.source = c.qsource AND d.lang = c.qlang
                       THEN 3
                       WHEN d.source = c.qsource THEN 1 ELSE 0 END
                  AS BIGINT) AS gain
      FROM cand c JOIN documents d ON d.doc_id = c.did
    ),
    pos AS (
      SELECT qid, gain,
             row_number() OVER (PARTITION BY qid
               ORDER BY shared DESC, did) AS rn,
             row_number() OVER (PARTITION BY qid
               ORDER BY gain DESC, did) AS irn
      FROM graded
    ),
    agg AS (
      SELECT qid,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN rn <= 10
                  THEN gain * ({_NDCG_W})[rn] ELSE 0 END) AS BIGINT)
               AS dcg_nano,
             CAST(sum(CASE WHEN irn <= 10
                  THEN gain * ({_NDCG_W})[irn] ELSE 0 END) AS BIGINT)
               AS idcg_nano
      FROM pos GROUP BY qid
    )
    SELECT qid AS query_id, n_candidates, dcg_nano, idcg_nano,
           CAST(CASE WHEN idcg_nano > 0
                THEN (1000000000 * CAST(dcg_nano AS HUGEINT)) // idcg_nano
                ELSE 0 END AS BIGINT) AS ndcg_ppb
    FROM agg
    ORDER BY query_id
    """,
    doc="NDCG@10 with GRADED relevance over the 20-doc query panel and "
    "the shared-token retrieval of agg_mrr_retrieval: gain 3 for "
    "same-source-same-language candidates, 1 for same-source, 0 "
    "otherwise (the 2^rel - 1 gains for rel = 0/1/2), discounted by "
    "the exact integer nano-unit table floor(1e9/log2(i+1)) for "
    "positions 1..10 — the discounts are SHARED LITERALS, so no "
    "logarithm runs at query time and DCG/IDCG are exact integer "
    "dot products. IDCG re-ranks the same retrieved candidate set by "
    "gain (retrieved-set normalization, declared); NDCG is one "
    "guarded non-negative ppb floor-division. Two qid-partitioned "
    "rank windows over the bounded panel; sparse inverted-index "
    "join.",
)
def agg_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).distinct()
    # panel words built from the 20 query docs directly (the
    # agg_mrr_retrieval fix): filter-then-distinct == distinct-then-
    # filter on the doc key, and the corpus-sized explode + distinct no
    # longer runs twice per execution
    qw = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            F.col("doc_id").alias("qid"),
            F.col("source").alias("qsource"),
            F.col("lang").alias("qlang"),
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .distinct()
    )
    cand = (
        qw.join(
            w.withColumnRenamed("doc_id", "did").withColumnRenamed(
                "word", "dword"
            ),
            (F.col("dword") == F.col("word")) & (F.col("did") != F.col("qid")),
        )
        .groupBy("qid", "qsource", "qlang", "did")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    graded = cand.join(
        docs.select(F.col("doc_id").alias("did"), "source", "lang"), "did"
    ).select(
        "qid",
        "did",
        "shared",
        F.expr(
            "CAST(CASE WHEN source = qsource AND lang = qlang THEN 3"
            " WHEN source = qsource THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("gain"),
    )
    warr = F.expr(f"array{_NDCG_W}".replace("[", "(").replace("]", ")"))
    pos = graded.select(
        "qid",
        "gain",
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(
                F.col("shared").desc(), F.col("did")
            )
        )
        .alias("rn"),
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(
                F.col("gain").desc(), F.col("did")
            )
        )
        .alias("irn"),
    ).withColumn("warr", warr)
    agg = pos.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(
            F.when(
                F.col("rn") <= 10,
                F.col("gain") * F.element_at(F.col("warr"), F.col("rn").cast("int")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_nano"),
        F.sum(
            F.when(
                F.col("irn") <= 10,
                F.col("gain")
                * F.element_at(F.col("warr"), F.col("irn").cast("int")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("idcg_nano"),
    )
    return agg.select(
        F.col("qid").alias("query_id"),
        "n_candidates",
        "dcg_nano",
        "idcg_nano",
        F.expr(
            "CAST(CASE WHEN idcg_nano > 0 THEN"
            " (1000000000 * CAST(dcg_nano AS DECIMAL(38,0))) div idcg_nano"
            " ELSE 0 END AS BIGINT)"
        ).alias("ndcg_ppb"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# agg_medcouple — robust skewness of the monthly revenue series
# ---------------------------------------------------------------------------


@register(
    "agg_medcouple",
    oracle="""
    WITH m AS (
      SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        AS x
      FROM orders GROUP BY date_trunc('month', o_orderdate)
    ),
    srt AS (
      SELECT x, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM m
    ),
    med AS (
      SELECT CAST(max(CASE WHEN i = (n + 1) // 2 THEN x END)
                  + max(CASE WHEN i = n // 2 + 1 THEN x END) AS BIGINT)
               AS med2
      FROM srt
    ),
    pairs AS (
      SELECT lo.x AS xi, hi.x AS xj, med.med2
      FROM srt lo, srt hi, med
      WHERE 2 * lo.x <= med.med2 AND 2 * hi.x >= med.med2
        AND hi.x > lo.x
    ),
    h AS (
      SELECT CAST(CASE WHEN (2 * xj - med2) + (2 * xi - med2) >= 0
                       THEN 1 ELSE -1 END
                  * ((1000000000 * CAST(abs((2 * xj - med2)
                                            + (2 * xi - med2)) AS HUGEINT))
                     // (2 * (xj - xi))) AS BIGINT) AS h_ppb
      FROM pairs
    ),
    hs AS (
      SELECT h_ppb, CAST(row_number() OVER (ORDER BY h_ppb) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS k
      FROM h
    )
    SELECT (SELECT max(n) FROM srt) AS n_months,
           (SELECT med2 FROM med) AS med2_cents,
           (SELECT max(k) FROM hs) AS n_kernel_pairs,
           CAST((max(CASE WHEN i = (k + 1) // 2 THEN h_ppb END)
                 + max(CASE WHEN i = k // 2 + 1 THEN h_ppb END)) // 2
                AS BIGINT) AS medcouple_ppb
    FROM hs
    """,
    doc="Medcouple robust skewness of monthly revenue: the median over "
    "all (x_i <= med <= x_j, x_i < x_j) pairs of the kernel "
    "h = ((x_j - med) - (med - x_i))/(x_j - x_i) — the bounded-"
    "influence skewness (50% breakdown) that moment skewness "
    "(agg_jarque_bera's g1) and quantile skewness (agg_bowley_moors) "
    "bracket, and the statistic behind the adjusted boxplot fence. "
    "Doubled-median algebra keeps everything integer: 2h's numerator "
    "(2x_j - med2) + (2x_i - med2) and denominator 2(x_j - x_i) are "
    "exact, each kernel value floor-quantizes to SIGN-SPLIT ppb, and "
    "the final medcouple is the doubled-median of the quantized "
    "kernel set halved (ties at the exact median excluded by the "
    "strict x_i < x_j guard — declared simplification of the "
    "sign-matrix tie rule, vacuous on cent-valued revenue sums). The "
    "pair join is calendar-bounded (<= 84^2 rows); windows run over "
    "the same bounded relations.",
)
def agg_medcouple(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mo")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    srt = m.select(
        "x",
        F.row_number().over(Window.orderBy("x")).cast("bigint").alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    med = srt.agg(
        (
            F.max(F.when(F.col("i") == F.expr("(n + 1) div 2"), F.col("x")))
            + F.max(F.when(F.col("i") == F.expr("n div 2 + 1"), F.col("x")))
        )
        .cast("bigint")
        .alias("med2"),
        F.max("n").cast("bigint").alias("n_months"),
    )
    lo = srt.select(F.col("x").alias("xi"))
    hi = srt.select(F.col("x").alias("xj"))
    pairs = (
        lo.crossJoin(F.broadcast(med))
        .filter(2 * F.col("xi") <= F.col("med2"))
        .join(
            hi,
            F.col("xj") > F.col("xi"),
        )
        .filter(2 * F.col("xj") >= F.col("med2"))
    )
    h = pairs.select(
        F.expr(
            "CAST(CASE WHEN (2 * xj - med2) + (2 * xi - med2) >= 0"
            " THEN 1 ELSE -1 END"
            " * ((1000000000 * CAST(abs((2 * xj - med2)"
            "                           + (2 * xi - med2))"
            "                       AS DECIMAL(38,0)))"
            "    div (2 * (xj - xi))) AS BIGINT)"
        ).alias("h_ppb")
    )
    hs = h.select(
        "h_ppb",
        F.row_number()
        .over(Window.orderBy("h_ppb"))
        .cast("bigint")
        .alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("k"),
    )
    agg = hs.agg(
        F.max("k").cast("bigint").alias("n_kernel_pairs"),
        F.expr(
            "CAST((max(CASE WHEN i = (k + 1) div 2 THEN h_ppb END)"
            " + max(CASE WHEN i = k div 2 + 1 THEN h_ppb END)) div 2"
            " AS BIGINT)"
        ).alias("medcouple_ppb"),
    )
    return F.broadcast(med).crossJoin(agg).select(
        "n_months",
        F.col("med2").alias("med2_cents"),
        "n_kernel_pairs",
        "medcouple_ppb",
    )


# ---------------------------------------------------------------------------
# agg_spearman_footrule — rank displacement between consecutive years
# ---------------------------------------------------------------------------


@register(
    "agg_spearman_footrule",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(month(o_orderdate) AS BIGINT) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders GROUP BY 1, 2
    ),
    yrs AS (
      SELECT yr FROM m GROUP BY yr HAVING count(*) = 12
      ORDER BY yr DESC LIMIT 2
    ),
    pick AS (
      SELECT max(yr) AS y2, min(yr) AS y1 FROM yrs
    ),
    r AS (
      SELECT m.yr, m.mo,
             CAST(row_number() OVER (PARTITION BY m.yr
               ORDER BY m.v DESC, m.mo) AS BIGINT) AS rk
      FROM m JOIN yrs ON m.yr = yrs.yr
    ),
    d AS (
      SELECT r1.mo, abs(r1.rk - r2.rk) AS disp
      FROM r r1 JOIN r r2 ON r1.mo = r2.mo AND r1.yr <> r2.yr
      JOIN pick ON r1.yr = pick.y1 AND r2.yr = pick.y2
    )
    SELECT (SELECT y1 FROM pick) AS year_1,
           (SELECT y2 FROM pick) AS year_2,
           CAST(sum(disp) AS BIGINT) AS footrule,
           CAST((1000000000 * sum(disp)) // 72 AS BIGINT)
             AS footrule_norm_ppb
    FROM d
    """,
    doc="Spearman's footrule distance between the month-by-revenue "
    "rankings of the last two COMPLETE order years: F = sum_m "
    "|r1(m) - r2(m)|, normalized by the n=12 maximum n^2/2 = 72 — "
    "the L1 rank-displacement metric (Diaconis-Graham: within a "
    "factor 2 of Kendall distance) answering 'did the seasonal "
    "ordering SHIFT year-over-year?' pointwise, where agg_kendall_w "
    "scores multi-year agreement and orders_seasonality_strength "
    "measures amplitude. Ranks are deterministic integers "
    "(revenue DESC, month tie-break) from 12-row per-year windows; "
    "the distance and its ppb normalization are exact integer "
    "arithmetic. One month rollup; everything downstream is 12-row "
    "bounded.",
)
def agg_spearman_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    yrs = (
        m.groupBy("yr")
        .agg(F.count(F.lit(1)).alias("nmo"))
        .filter(F.col("nmo") == 12)
        .orderBy(F.col("yr").desc())
        .limit(2)
        .select("yr")
    )
    pick = yrs.agg(
        F.max("yr").cast("bigint").alias("y2"),
        F.min("yr").cast("bigint").alias("y1"),
    )
    r = m.join(F.broadcast(yrs), "yr").select(
        "yr",
        "mo",
        F.row_number()
        .over(
            Window.partitionBy("yr").orderBy(F.col("v").desc(), F.col("mo"))
        )
        .cast("bigint")
        .alias("rk"),
    )
    r1 = r.select(
        F.col("yr").alias("yr1"), F.col("mo").alias("mo1"), F.col("rk").alias("rk1")
    )
    r2 = r.select(
        F.col("yr").alias("yr2"), F.col("mo").alias("mo2"), F.col("rk").alias("rk2")
    )
    d = (
        r1.crossJoin(F.broadcast(pick))
        .filter(F.col("yr1") == F.col("y1"))
        .join(
            r2,
            (F.col("mo1") == F.col("mo2")) & (F.col("yr2") != F.col("yr1")),
        )
        .filter(F.col("yr2") == F.col("y2"))
        .select(
            "y1",
            "y2",
            F.abs(F.col("rk1") - F.col("rk2")).alias("disp"),
        )
    )
    return d.groupBy().agg(
        F.max("y1").alias("year_1"),
        F.max("y2").alias("year_2"),
        F.sum("disp").cast("bigint").alias("footrule"),
        F.expr("CAST((1000000000 * sum(disp)) div 72 AS BIGINT)").alias(
            "footrule_norm_ppb"
        ),
    )


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
