"""Event-stream analytics (``events_*``) over the ``events`` table:
sessions and streaks, change-point and burst detection, gap distributions,
experiment (pre/post) statistics.

Oracle rules: see the package docstring (``operators/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.plans.caching import (
    persist_until_collected,
    release_on_gc,
)
from mongodb_nats_connector_spark.plans.hints import maybe_broadcast
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


@register(
    "events_user_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events WHERE ts IS NOT NULL
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n_transitions
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Event-sequence transition mining: per-user lag over (ts, event_id) "
    "order, then corpus-wide (prev, next) pair counts — the Markov-chain "
    "transition matrix of the event stream. One shuffle on user_id for the "
    "window, one on the pair for the count. NULL event times are filtered "
    "on both engines (Spark orders NULLs first, DuckDB last — an unguarded "
    "lag would pair boundary events differently).",
)
def events_user_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


@register(
    "events_dau_rolling",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events
      GROUP BY 1
    )
    SELECT day, dau,
           avg(dau) OVER (ORDER BY epoch(CAST(day AS TIMESTAMP)) / 86400
                          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             AS dau_7d_avg
    FROM daily
    """,
    doc="Rolling 7-day average of daily active users: distinct-user rollup "
    "per day, then a RANGE frame keyed on epoch days (gap-correct even when "
    "days are missing — a ROWS frame would silently span gaps). The global "
    "window runs over the tiny post-agg day series, never the raw events.",
)
def events_dau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    day_num = F.unix_timestamp(F.col("day").cast("timestamp")) / 86400
    w = Window.orderBy(day_num).rangeBetween(-6, 0)
    return daily.select(
        "day", "dau", F.avg("dau").over(w).alias("dau_7d_avg")
    )


@register(
    "events_daily_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, day, n,
             CASE WHEN min(n) OVER (PARTITION BY event_type)
                    <> max(n) OVER (PARTITION BY event_type) THEN
               round((n - avg(n) OVER (PARTITION BY event_type))
                 / stddev_samp(n) OVER (PARTITION BY event_type), 4)
             END AS zscore
      FROM daily
    )
    SELECT event_type, day, n, zscore
    FROM scored
    WHERE abs(zscore) > 2.0
    """,
    doc="Daily-volume anomaly detection: per-type daily counts, population "
    "mean/stddev via an unordered window over the same partition (no second "
    "scan or self-join), flag |z| > 2 days. Window partitions by event_type "
    "over the post-rollup series. The threshold filter runs on the ROUNDED "
    "z-score on both engines: filtering the raw double would let a "
    "stddev-algorithm ulp flip membership of a row that sits exactly on "
    "the 2.0 boundary after rounding. A constant daily series (sd = 0) "
    "emits NULL z via the exact-integer min<>max guard — never a 0/0 "
    "whose NULL-vs-NaN result is a DuckDB-version coin flip.",
)
def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("event_type")
    z = F.when(
        F.min("n").over(w) != F.max("n").over(w),
        F.round(
            (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w), 4
        ),
    )
    return (
        daily.withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 2.0)
        .select("event_type", "day", "n", "zscore")
    )


@register(
    "events_props_stats",
    oracle="""
    WITH extracted AS (
      SELECT event_type,
             CASE WHEN regexp_matches(props->>'$.k', '^-?[0-9]+$')
                  THEN TRY_CAST(props->>'$.k' AS INT) END AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           avg(k) AS avg_k,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
    FROM extracted
    GROUP BY event_type
    """,
    doc="Semi-structured aggregation: extract the JSON payload field once "
    "(get_json_object -> typed int), then count/sum/avg/distinct per event "
    "type. The extraction is a JVM expression inside codegen, not a UDF. "
    "An integer-format regex gates the cast on BOTH engines: a malformed "
    "or fractional value ('1.7', 'abc') becomes NULL identically, instead "
    "of a strict-cast error (DuckDB) or engine-specific rounding.",
)
def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    k = F.when(k_str.rlike("^-?[0-9]+$"), k_str.try_cast("int"))
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.avg("k").alias("avg_k"),
            F.countDistinct("k").cast("bigint").alias("n_distinct_k"),
        )
    )


DECAY_ANCHOR = "2024-02-01"
DECAY_BASE = 0.9


@register(
    "events_decayed_engagement",
    oracle=f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * pow({DECAY_BASE},
               date_diff('day', CAST(ts AS DATE), DATE '{DECAY_ANCHOR}'))), 4)
             AS decayed_value,
           round(sum(value * pow({DECAY_BASE},
               date_diff('day', CAST(ts AS DATE), DATE '{DECAY_ANCHOR}')))
             / sum(pow({DECAY_BASE},
                   date_diff('day', CAST(ts AS DATE), DATE '{DECAY_ANCHOR}'))), 4)
             AS decayed_avg
    FROM events
    GROUP BY user_id
    """,
    doc=f"Recency-weighted engagement: each event weighted by {DECAY_BASE}^"
    "(days before the anchor date), summed per user. The decay is a pure "
    "per-row function of ts — no ordered window, so the whole query is one "
    "partial-aggregated shuffle on user_id and commutes with any "
    "partitioning. pow(0.9, int) is libm-identical on both engines.",
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    days = F.datediff(F.lit(DECAY_ANCHOR).cast("date"), F.col("ts").cast("date"))
    w = F.pow(F.lit(DECAY_BASE), days)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum(F.col("value") * w), 4).alias("decayed_value"),
        F.round(F.sum(F.col("value") * w) / F.sum(w), 4).alias("decayed_avg"),
    )


@register(
    "events_time_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS day_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
      FROM events
    ),
    calendar AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM bounds
    ),
    scaffold AS (
      SELECT t.event_type, c.day
      FROM (SELECT DISTINCT event_type FROM events) t, calendar c
    ),
    joined AS (
      SELECT s.event_type, s.day, d.day_value,
             count(d.day_value) OVER (PARTITION BY s.event_type
               ORDER BY s.day) AS grp
      FROM scaffold s LEFT JOIN daily d
        ON s.event_type = d.event_type AND s.day = d.day
    )
    SELECT event_type, day,
           day_value IS NOT NULL AS observed,
           coalesce(max(day_value) OVER (PARTITION BY event_type, grp), 0.0)
             AS filled_value
    FROM joined
    """,
    doc="Calendar gap-fill with forward fill: build the dense (event_type × "
    "day) scaffold from the global date bounds (dimension-sized, broadcast), "
    "left-join the sparse daily aggregate, then forward-fill via the "
    "count-over-order partition trick — count(day_value) only advances on "
    "observed rows, so max() within each group propagates the last "
    "observation. Portable (no IGNORE NULLS) and the only fact-table "
    "shuffle is the daily pre-aggregation.",
)
def events_time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum("value").alias("day_value"))
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    calendar = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    types = ev.select("event_type").distinct()
    scaffold = types.crossJoin(F.broadcast(calendar))
    w_grp = Window.partitionBy("event_type").orderBy("day")
    joined = scaffold.join(daily, ["event_type", "day"], "left").withColumn(
        "grp", F.count("day_value").over(w_grp)
    )
    w_fill = Window.partitionBy("event_type", "grp")
    return joined.select(
        "event_type",
        "day",
        F.col("day_value").isNotNull().alias("observed"),
        F.coalesce(F.max("day_value").over(w_fill), F.lit(0.0)).alias(
            "filled_value"
        ),
    )


@register(
    "events_time_rollup",
    oracle="""
    SELECT CAST(date_trunc('month', ts) AS DATE) AS bucket_month,
           CAST(date_trunc('day', ts) AS DATE) AS bucket_day,
           CAST(extract(hour FROM ts) AS INT) AS bucket_hour,
           CAST(grouping(date_trunc('month', ts)) AS INT)
             + CAST(grouping(date_trunc('day', ts)) AS INT)
             + CAST(grouping(extract(hour FROM ts)) AS INT) AS grain,
           CAST(count(*) AS BIGINT) AS n_events,
           sum(value) AS sum_value
    FROM events
    GROUP BY ROLLUP (date_trunc('month', ts), date_trunc('day', ts),
                     extract(hour FROM ts))
    """,
    doc="Hypertable-style multi-granularity rollup: hour, day, month, and "
    "grand totals in ONE pass via ROLLUP over derived time buckets (the "
    "continuous-aggregate shape). Catalyst expands the grouping sets and "
    "partial-aggregates each map-side; one shuffle serves all four grains, "
    "where materializing each grain separately would scan the fact table "
    "four times.",
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    month = F.date_trunc("month", "ts").cast("date")
    day = F.date_trunc("day", "ts").cast("date")
    hour = F.hour("ts").cast("int")
    return (
        ev.select(
            month.alias("bucket_month"), day.alias("bucket_day"), hour.alias("bucket_hour"), "value"
        )
        .rollup("bucket_month", "bucket_day", "bucket_hour")
        .agg(
            (
                F.grouping("bucket_month").cast("int")
                + F.grouping("bucket_day").cast("int")
                + F.grouping("bucket_hour").cast("int")
            ).alias("grain"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "bucket_month", "bucket_day", "bucket_hour", "grain", "n_events", "sum_value"
        )
    )


PATHS_TOPK = 10


@register(
    "events_funnel_paths_topk",
    oracle=f"""
    WITH seqs AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM seqs GROUP BY path
    ORDER BY n_users DESC, path LIMIT {PATHS_TOPK}
    """,
    doc=f"Top-{PATHS_TOPK} most common full event paths: per-user ordered "
    "event-type sequences (deterministic (ts, event_id) tie-break) counted "
    "corpus-wide — the path-analysis complement to the funnel regex. One "
    "user_id shuffle builds sequences, one path shuffle counts them "
    "(map-combined — identical paths collapse per task first), "
    "TakeOrderedAndProject caps output.",
)
def events_funnel_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        seqs.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(PATHS_TOPK)
    )


# ---------------------------------------------------------------------------
# events_ab_uplift — deterministic A/B assignment + conversion uplift
# ---------------------------------------------------------------------------

AB_SALT = "exp42"


@register(
    "events_ab_uplift",
    oracle=f"""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN substr(md5('{AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS bucket,
             event_type, value
      FROM events
    )
    SELECT bucket,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END) AS BIGINT) AS converters,
           round(count(DISTINCT CASE WHEN event_type = 'purchase'
                                     THEN user_id END) * 1.0
                 / count(DISTINCT user_id), 6) AS conv_rate,
           round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2)
             AS purchase_value
    FROM assigned GROUP BY bucket
    """,
    doc="A/B experiment readout with deterministic assignment: users hash "
    "into arms by salted-md5 hex prefix (reproducible, engine-identical — "
    "the industry-standard bucketing that needs no assignment table), then "
    "per-arm distinct users, converters, conversion rate and purchase "
    "value in ONE aggregation pass (conditional count-distincts expand to "
    "Spark's standard distinct-aggregate rewrite). Everything reduces "
    "map-side to per-arm partials; output is 2 rows at any scale.",
)
def events_ab_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bucket = F.when(
        F.substring(
            F.md5(F.concat(F.lit(AB_SALT), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "A",
    ).otherwise("B")
    purchase_user = F.when(F.col("event_type") == "purchase", F.col("user_id"))
    return (
        ev.select(
            bucket.alias("bucket"),
            "user_id",
            "event_type",
            "value",
            purchase_user.alias("p_user"),
        )
        .groupBy("bucket")
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.count_distinct("p_user").cast("bigint").alias("converters"),
            F.round(
                F.count_distinct("p_user") / F.count_distinct("user_id"), 6
            ).alias("conv_rate"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), 2
            ).alias("purchase_value"),
        )
    )


# ---------------------------------------------------------------------------
# events_stickiness_dau_wau — rolling distinct actives via tile explode
# ---------------------------------------------------------------------------

WAU_DAYS = 7


@register(
    "events_stickiness_dau_wau",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), days AS (
      SELECT DISTINCT day FROM ud
    ), covered AS (
      SELECT ud.user_id,
             CAST(unnest(generate_series(
               ud.day, ud.day + INTERVAL {WAU_DAYS - 1} DAY,
               INTERVAL 1 DAY)) AS DATE) AS rday
      FROM ud
    ), wau AS (
      SELECT c.rday AS day, count(DISTINCT c.user_id) AS wau
      FROM covered c JOIN days d ON d.day = c.rday
      GROUP BY 1
    ), dau AS (
      SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1
    )
    SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           round(dau.dau * 1.0 / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    """,
    doc=f"DAU/WAU stickiness per day: daily actives over trailing-"
    f"{WAU_DAYS}-day actives. Exact rolling COUNT(DISTINCT) does not "
    "decompose over window frames, so the scale formulation is the TILE "
    "EXPLODE: each (user, active-day) row fans out map-side to the "
    f"{WAU_DAYS} report days it supports, then one distinct-aggregate per "
    "report day — shuffle volume is exactly (user, day) pairs x window/"
    "granularity, never raw events, and the fan-out factor is a constant "
    "chosen by the report (7 here, 30 for MAU). Early days aggregate their "
    "partial window, identically in both engines.",
)
def events_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = ud.select("day").distinct()
    covered = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), WAU_DAYS - 1),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("rday"),
    )
    wau = (
        covered.join(maybe_broadcast(days), covered["rday"] == days["day"])
        .groupBy("rday")
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )
    dau = ud.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("dau")
    )
    return dau.join(wau, dau["day"] == wau["rday"]).select(
        dau["day"],
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# events_max_concurrency — sweep-line concurrent-session counting
# ---------------------------------------------------------------------------


@register(
    "events_max_concurrency",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid,
             ts
      FROM marked
    ), intervals AS (
      SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end
      FROM sess GROUP BY user_id, sid
    ), pts AS (
      SELECT s_start AS t, 1 AS delta, 0 AS tie FROM intervals
      UNION ALL
      SELECT s_end, -1, 1 FROM intervals
    ), swept AS (
      SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
             sum(delta) OVER (ORDER BY t, tie ROWS UNBOUNDED PRECEDING)
               AS live
      FROM pts
    )
    SELECT day, CAST(max(live) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY day
    """,
    doc="Peak concurrency per day by SWEEP LINE: user sessions (30-min "
    "inactivity gap) become +1/-1 endpoint events; one global running sum "
    "ordered by time gives the live-session count at every boundary, and "
    "the daily max is the capacity-planning number (peak concurrent users/"
    "connections/streams). Ends sort after coincident starts (tie column), "
    "so a session ending exactly when another starts counts both as "
    "concurrent — the inclusive convention, identical in both engines. "
    "Session building shuffles once on user_id; the sweep runs over 2 "
    "rows per session (NOT per event), decomposed BY DAY — the output "
    "grain (r14 optimization, replacing the generic two-pass range "
    "bucketizer: the day is a natural range partition, so no quantile "
    "sketch, no bucket-offset branch, no persist): a day-partitioned "
    "running sum gives the within-day prefix, the following per-day "
    "groupBy reuses the same exchange, and the cross-day carry-in is a "
    "cumulative over the per-day delta totals (a bounded daily series). "
    "Integer +1/-1 addition is associative, so the decomposition equals "
    "the oracle's single ordered window; rows "
    "sharing an exact (t, tie) key all carry the same delta, so the "
    "per-day MAX is invariant to their relative order on both engines.",
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts guard on both engines: unordered-able rows would land at
    # opposite partition ends and corrupt the sweep's +1/-1 endpoints.
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(order)
    marked = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    )
    # one ordering spec: the running frame derives from `order` so the gap
    # detection and session-id sum can never use different orderings
    run = order.rowsBetween(Window.unboundedPreceding, 0)
    sess = marked.withColumn("sid", F.sum("is_new").over(run))
    intervals = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    pts = intervals.select(
        F.col("s_start").alias("t"), F.lit(1).alias("delta"), F.lit(0).alias("tie")
    ).unionAll(
        intervals.select(
            F.col("s_end").alias("t"), F.lit(-1).alias("delta"), F.lit(1).alias("tie")
        )
    )
    # the sweep's sort key (t, tie) collapses to one bigint — micros are
    # far below 2^62, so (tus * 2 + tie) is an exact, order-preserving
    # composite; the global prefix sum splits exactly at day boundaries
    # because every endpoint belongs to exactly one day and the day order
    # is consistent with _sk order
    keyed = pts.select(
        F.date_trunc("day", "t").alias("day"),
        (F.unix_micros("t") * 2 + F.col("tie")).alias("_sk"),
        "delta",
    )
    in_day = Window.partitionBy("day").orderBy("_sk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    per_day = (
        keyed.withColumn("_run", F.sum("delta").over(in_day))
        .groupBy("day")
        .agg(
            F.max("_run").alias("_mx"),
            F.sum("delta").alias("_tot"),
        )
    )
    carry = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return per_day.select(
        "day",
        (F.coalesce(F.sum("_tot").over(carry), F.lit(0)) + F.col("_mx"))
        .cast("bigint")
        .alias("max_concurrent"),
    )


@register(
    "events_time_to_convert",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY 1
    )
    SELECT s.user_id, s.signup_ts, p.first_purchase_ts,
           CAST(epoch_us(p.first_purchase_ts) - epoch_us(s.signup_ts)
                AS BIGINT) AS micros_to_convert
    FROM s LEFT JOIN p ON p.user_id = s.user_id
    """,
    doc="Funnel latency: per user, first signup and the first purchase at "
    "or after it (NULL if never converted), gap in epoch micros. The "
    "signup relation reduces to one row per user and BROADCASTS back into "
    "the purchase filter, so the fact table is scanned with a pushed "
    "event_type filter and shuffles only per-user partial minimums — the "
    "time-to-convert shape behind every activation dashboard.",
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(maybe_broadcast(s), "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    # the signup aggregate feeds BOTH the purchase probe and the left-join
    # spine: persist it for the life of the result so the fact-side signup
    # scan+agg runs once, not twice
    return persist_until_collected(
        s,
        s.join(p, "user_id", "left").select(
            "user_id",
            "signup_ts",
            "first_purchase_ts",
            (
                F.unix_micros("first_purchase_ts") - F.unix_micros("signup_ts")
            ).cast("bigint").alias("micros_to_convert"),
        ),
    )


FORECAST_TRAIN_DAYS = 23


@register(
    "events_seasonal_baseline",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(ts AS DATE) AS day, extract(hour FROM ts) AS hour,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    cutoff AS (
      SELECT min(day) + {FORECAST_TRAIN_DAYS} AS train_end FROM hourly
    ),
    baseline AS (
      SELECT hour, avg(n) AS expected
      FROM hourly, cutoff WHERE day < train_end
      GROUP BY 1
    )
    SELECT h.day, CAST(h.hour AS BIGINT) AS hour,
           CAST(h.n AS BIGINT) AS actual,
           round(b.expected, 4) AS expected,
           round(h.n - b.expected, 4) AS residual
    FROM hourly h JOIN baseline b ON b.hour = h.hour, cutoff
    WHERE h.day >= train_end
    """,
    doc=f"Seasonal-naive forecast baseline: hour-of-day traffic averaged "
    f"over the first {FORECAST_TRAIN_DAYS} training days, scored against "
    "the holdout days as actual/expected/residual. The train/holdout split "
    "derives from min(day) in BOTH engines (never a hard-coded date, so a "
    "fixture whose range moves cannot silently empty either side). ONE "
    "shuffle reduces events to (day, hour) counts; the 24-row baseline "
    "and 1-row cutoff broadcast back into the holdout probe. The "
    "capacity-planning/anomaly-detection baseline every event pipeline "
    "carries.",
)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    cutoff = hourly.agg(
        F.date_add(F.min("day"), FORECAST_TRAIN_DAYS).alias("train_end")
    )
    train_end = F.col("train_end")
    baseline = (
        hourly.crossJoin(F.broadcast(cutoff))
        .filter(F.col("day") < train_end)
        .groupBy("hour")
        .agg(F.avg("n").alias("expected"))
    )
    return persist_until_collected(hourly, (
        hourly.crossJoin(F.broadcast(cutoff))
        .filter(F.col("day") >= train_end)
        .join(F.broadcast(baseline), "hour")
        .select(
            "day",
            F.col("hour").cast("bigint").alias("hour"),
            F.col("n").cast("bigint").alias("actual"),
            F.round("expected", 4).alias("expected"),
            F.round(F.col("n") - F.col("expected"), 4).alias("residual"),
        )
    ))


# ---------------------------------------------------------------------------
# events_cusum_changepoint — exact-integer CUSUM mean-shift detection
# ---------------------------------------------------------------------------


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cnt) AS BIGINT) AS total
      FROM d
    ),
    c AS (
      SELECT day, cnt,
             CAST(sum(cnt) OVER (ORDER BY day) AS BIGINT) AS prefix,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
      FROM d
    ),
    sc AS (
      SELECT c.day, c.cnt, (c.prefix * t.n - c.rk * t.total) AS s_scaled,
             t.n AS n
      FROM c, t
    ),
    cp AS (
      SELECT day AS cp_day FROM sc
      ORDER BY abs(s_scaled) DESC, day ASC LIMIT 1
    )
    SELECT sc.day, sc.cnt,
           round(s_scaled * 1.0 / sc.n, 4) AS cusum,
           (sc.day = cp.cp_day) AS is_changepoint
    FROM sc, cp
    """,
    doc="CUSUM mean-shift detection over the daily event-count series: "
    "S_i = sum_{j<=i}(cnt_j - mean), and the changepoint is the day with "
    "the largest |S_i| (ties -> earliest day). Computed via the exact "
    "integer identity n*S_i = n*prefix_i - i*total, so the argmax is "
    "decided on BIGINTs — engine-bit-exact — and the reported double is a "
    "single correctly-rounded division. The series reduces from the facts "
    "with map-side combine (one shuffle proportional to DAYS, not events); "
    "the running sum and the limit-1 argmax operate on the day-sized "
    "aggregate, and the 1-row changepoint broadcasts back. The BIGINT "
    "products stay under 2^63 while n_days^2 * daily_rate < 9.2e18 — e.g. "
    "~1.7e11 events/day over two decades; past that, cast the identity to "
    "DECIMAL(38) (same algebra).",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL ts guard: a NULL day group would sort FIRST in Spark's ordered
    # windows but LAST in DuckDB's, corrupting every prefix
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    t = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("total"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        "cnt",
        F.sum("cnt").over(w).cast("bigint").alias("prefix"),
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rk"),
    )
    sc = c.crossJoin(F.broadcast(t)).select(
        "day",
        "cnt",
        (F.col("prefix") * F.col("n") - F.col("rk") * F.col("total")).alias(
            "s_scaled"
        ),
        "n",
    )
    cp = (
        sc.orderBy(F.abs(F.col("s_scaled")).desc(), F.asc("day"))
        .limit(1)
        .select(F.col("day").alias("cp_day"))
    )
    return sc.crossJoin(F.broadcast(cp)).select(
        "day",
        "cnt",
        F.round(F.col("s_scaled") / F.col("n"), 4).alias("cusum"),
        (F.col("day") == F.col("cp_day")).alias("is_changepoint"),
    )


# ---------------------------------------------------------------------------
# events_activity_streaks — gaps-and-islands longest consecutive-day run
# ---------------------------------------------------------------------------


@register(
    "events_activity_streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      WHERE ts IS NOT NULL
    ),
    grp AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS anchor
      FROM d
    ),
    streaks AS (
      SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS streak_days,
             min(day) AS streak_start
      FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id, streak_days, streak_start FROM (
      SELECT user_id, streak_days, streak_start,
             row_number() OVER (PARTITION BY user_id
               ORDER BY streak_days DESC, streak_start ASC) AS rn
      FROM streaks
    ) WHERE rn = 1
    """,
    doc="Gaps-and-islands: longest run of consecutive active days per user "
    "(ties -> earliest streak), via the classic day-minus-row_number anchor "
    "— consecutive days share an anchor date, so runs become groups without "
    "any self-join. All decisions are on dates and counts: engine-exact. "
    "Plan: exactly two exchanges (plan-asserted) — the (user, day) distinct, "
    "then one hash-partition on user_id whose clustering satisfies the "
    "anchor window, the (user, anchor) streak aggregation, AND the per-user "
    "argmax, so nothing downstream re-shuffles. Per-user state is bounded "
    "by the calendar, not event volume, which is what makes the shape safe "
    "at 100 TB.",
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL ts guard: a NULL day would make a streak row with NULL
    # streak_start whose argmax tiebreak sorts FIRST in Spark, LAST in
    # DuckDB — different winners per engine
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    anchor = F.date_sub(
        F.col("day"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("day"))
        .cast("int"),
    )
    grp = d.select("user_id", "day", anchor.alias("anchor"))
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        F.min("day").alias("streak_start"),
    )
    best = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start")
    )


# ---------------------------------------------------------------------------
# events_locf_fill — last-observation-carried-forward (IGNORE NULLS)
# ---------------------------------------------------------------------------


@register(
    "events_locf_fill",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN event_type <> 'error' THEN value END AS v,
           last_value(CASE WHEN event_type <> 'error' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS v_filled
    FROM events WHERE ts IS NOT NULL
    """,
    doc="Last-observation-carried-forward (LOCF) gap fill: per user, carry "
    "the most recent valid reading over gaps (error events contribute "
    "NULL) via last_value IGNORE NULLS over an unbounded-preceding ROWS "
    "frame — the sensor/price-series forward-fill every time-series store "
    "exposes, as a standalone query (the same IGNORE NULLS primitive also "
    "powers join_asof_tolerance and last-touch attribution internally). "
    "Ordering ties break on event_id, so the filled "
    "series is engine-exact. One hash partition on user_id; the running "
    "frame is O(1) state per row — at 100 TB this is a single exchange of "
    "the fact table and a linear scan within each user partition, the "
    "same cost profile as any per-key cumulative window.",
)
def events_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL ts guard: Spark orders NULL ts FIRST in the fill window, DuckDB
    # LAST — a NULL-ts reading would seed or trail the carried series
    # differently per engine, so it never enters the fill
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    v = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        v.alias("v"),
        F.last(v, ignorenulls=True).over(w).alias("v_filled"),
    )


# ---------------------------------------------------------------------------
# events_cuped_adjust — CUPED variance reduction for A/B metrics
# ---------------------------------------------------------------------------

CUPED_SPLIT_DAYS = 15


def _valued_events_prepost(spark: SparkSession, sf_dir: str):
    """(b, split-crossed b) shared by the experiment-analysis pair
    (events_cuped_adjust, events_did_uplift): valued events projected to
    (user_id, day, value) with the min(day)+CUPED_SPLIT_DAYS cutoff
    broadcast in as a `split` column — one definition so a split-handling
    fix can never skew only one estimator. (Defined OUTSIDE any
    @register/def gap; see _thresholded_und_edges.)"""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = ev.select(
        "user_id", F.col("ts").cast("date").alias("day"), "value"
    )
    cutoff = b.agg(
        F.date_add(F.min("day"), CUPED_SPLIT_DAYS).alias("split")
    )
    return b.crossJoin(F.broadcast(cutoff))


@register(
    "events_cuped_adjust",
    oracle=f"""
    WITH b AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
      WHERE value IS NOT NULL
    ),
    cutoff AS (SELECT min(day) + {CUPED_SPLIT_DAYS} AS split FROM b),
    per_user AS (
      SELECT user_id,
             round(coalesce(sum(CASE WHEN day < split THEN value END), 0), 4)
               AS pre,
             round(coalesce(sum(CASE WHEN day >= split THEN value END), 0), 4)
               AS post
      FROM b, cutoff GROUP BY user_id
    ),
    theta AS (
      SELECT CASE WHEN count(DISTINCT pre) > 1
                  THEN covar_samp(pre, post) / var_samp(pre) END AS th,
             avg(pre) AS pre_mean
      FROM per_user
    )
    SELECT u.user_id, u.pre, u.post,
           round(t.th, 4) AS theta,
           round(u.post - t.th * (u.pre - t.pre_mean), 4) AS post_adj
    FROM per_user u CROSS JOIN theta t
    """,
    doc="CUPED (Controlled-experiment Using Pre-Experiment Data) variance "
    "reduction: per-user pre-period and post-period metric sums around a "
    "split derived from min(day), theta = cov(pre,post)/var(pre) fit on "
    "the per-user relation, and the adjusted post metric that removes the "
    "pre-period component — the industry-standard trick that shrinks A/B "
    "confidence intervals 30-50% at zero bias. Pre/post sums round before "
    "the covariance so both engines feed identical doubles into the fit; "
    "one fact shuffle to per-user rows, a 1-row theta broadcast back. "
    "A constant pre column (var = 0) yields NULL theta/post_adj via an "
    "exact-integer distinct-count guard on both engines, never a 0/0 "
    "whose NULL-vs-NaN result is a DuckDB-version coin flip.",
)
def events_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        _valued_events_prepost(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("day") < F.col("split"), F.col("value"))),
                    F.lit(0.0),
                ),
                4,
            ).alias("pre"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("day") >= F.col("split"), F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("post"),
        )
    )
    theta = per_user.agg(
        F.when(
            F.count_distinct(F.col("pre")) > 1,
            F.covar_samp("pre", "post") / F.var_samp("pre"),
        ).alias("th"),
        F.avg("pre").alias("pre_mean"),
    )
    out = per_user.crossJoin(F.broadcast(theta)).select(
        "user_id",
        "pre",
        "post",
        F.round("th", 4).alias("theta"),
        F.round(
            F.col("post") - F.col("th") * (F.col("pre") - F.col("pre_mean")), 4
        ).alias("post_adj"),
    )
    return persist_until_collected(per_user, out)


# ---------------------------------------------------------------------------
# events_intervals_union — interval merge / coverage via prefix-max sweep
# ---------------------------------------------------------------------------

INTERVAL_US = 600 * 1_000_000  # each event opens a 10-minute activity window


@register(
    "events_intervals_union",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + {INTERVAL_US} AS e_us, event_id
      FROM events WHERE ts IS NOT NULL
    ),
    sweep AS (
      SELECT user_id, s_us, e_us,
             max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_end
      FROM iv
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(greatest(0, e_us - greatest(s_us,
                coalesce(prev_end, s_us)))) AS BIGINT) AS covered_us,
           CAST(sum(CASE WHEN prev_end IS NULL OR s_us >= prev_end
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks
    FROM sweep GROUP BY user_id
    """,
    doc="Interval union per user (each event opens a 10-minute activity "
    "interval): total covered time and the number of merged activity "
    "blocks — the classic overlapping-interval coalescing every "
    "sessionization, SLA, and utilization query needs. The textbook "
    "algorithm is a sequential sweep; here it is ONE ordered window "
    "computing the running max of interval ends over preceding rows, so "
    "each row knows how much genuinely new time it contributes — no "
    "self-join, no explode to minutes. Pure integer micros end-to-end "
    "(exact cross-engine). Partitioned per user: the sort is within-key, "
    "so the operator scales as far as the per-user event count does.",
)
def events_intervals_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + INTERVAL_US).alias("e_us"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sweep = iv.withColumn("prev_end", F.max("e_us").over(w))
    contrib = F.greatest(
        F.lit(0),
        F.col("e_us")
        - F.greatest(F.col("s_us"), F.coalesce("prev_end", "s_us")),
    )
    new_block = F.when(
        F.col("prev_end").isNull() | (F.col("s_us") >= F.col("prev_end")), 1
    ).otherwise(0)
    return sweep.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(contrib).cast("bigint").alias("covered_us"),
        F.sum(new_block).cast("bigint").alias("n_blocks"),
    )


# ---------------------------------------------------------------------------
# events_funnel_windowed — conversion funnel with a max-window constraint
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_DAYS = 3


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts >= s1.t1
        AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_DAYS} DAY
      GROUP BY 1
    )
    SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
           CAST(1 + CAST(s2.t2 IS NOT NULL AS INT)
                  + CAST(s3.t3 IS NOT NULL AS INT) AS BIGINT) AS level
    FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
    doc="Windowed funnel (the windowFunnel shape): view -> click -> "
    f"purchase must ALL land within {FUNNEL_WINDOW_DAYS} days of the "
    "user's first view — the constraint that separates a real conversion "
    "journey from coincidental events months apart, which the plain "
    "`events_funnel` cannot express. Each step is one pushed-filter scan "
    "aggregated per user, with the previous step's per-user anchor joined "
    "back (size-gated broadcast): step ordering and the anchored deadline "
    "ride in the join predicate, never in per-row state. Timestamps stay "
    "integer micros end-to-end.",
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_DAYS} DAYS")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(maybe_broadcast(s1), "user_id")
        .filter(
            (F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(maybe_broadcast(s2), "user_id")
        .join(maybe_broadcast(s1), "user_id")
        .filter(
            (F.col("ts") >= F.col("t2")) & (F.col("ts") <= F.col("t1") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    out = (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t1",
            "t2",
            "t3",
            (
                1
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).cast("bigint").alias("level"),
        )
    )
    return persist_until_collected(s1, persist_until_collected(s2, out))


# ---------------------------------------------------------------------------
# events_did_uplift — difference-in-differences estimator
# ---------------------------------------------------------------------------

# DiD shares the CUPED pre/post split (one definition, one constant)
DID_SPLIT_DAYS = CUPED_SPLIT_DAYS


@register(
    "events_did_uplift",
    oracle=f"""
    WITH b AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
      WHERE value IS NOT NULL
    ),
    cutoff AS (SELECT min(day) + {DID_SPLIT_DAYS} AS split FROM b),
    cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treat,
             CAST(CASE WHEN day >= split THEN 1 ELSE 0 END AS BIGINT)
               AS post,
             CAST(count(*) AS BIGINT) AS n,
             round(avg(value), 6) AS mean_v
      FROM b, cutoff GROUP BY 1, 2
    ),
    w AS (
      SELECT
        max(CASE WHEN treat = 1 AND post = 1 THEN mean_v END) AS t_post,
        max(CASE WHEN treat = 1 AND post = 0 THEN mean_v END) AS t_pre,
        max(CASE WHEN treat = 0 AND post = 1 THEN mean_v END) AS c_post,
        max(CASE WHEN treat = 0 AND post = 0 THEN mean_v END) AS c_pre
      FROM cells
    )
    SELECT c.treat, c.post, c.n, c.mean_v,
           round((w.t_post - w.t_pre) - (w.c_post - w.c_pre), 6) AS did
    FROM cells c CROSS JOIN w
    """,
    doc="Difference-in-differences uplift estimator over the classic 2x2 "
    "(treatment x pre/post around a min(day)-derived split; the synthetic "
    "assignment is the deterministic user_id parity — in production the "
    "treat column is the experiment flag): DiD = (T_post - T_pre) - "
    "(C_post - C_pre), the estimator that nets out secular trends a naive "
    "post-only comparison absorbs. ONE conditional aggregation collapses "
    "the fact table to 4 cells; cell means round before the 4-cell pivot "
    "so the estimate is engine-exact. Companion to events_cuped_adjust "
    "(variance reduction) and events_ab_uplift (post-only readout).",
)
def events_did_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        _valued_events_prepost(spark, sf_dir)
        .groupBy(
            (F.col("user_id") % 2).cast("bigint").alias("treat"),
            (F.col("day") >= F.col("split")).cast("bigint").alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("value"), 6).alias("mean_v"),
        )
    )
    cell = lambda t, p: F.max(  # noqa: E731 - 4-cell pivot extractor
        F.when((F.col("treat") == t) & (F.col("post") == p), F.col("mean_v"))
    )
    w = cells.agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
    )
    out = cells.crossJoin(F.broadcast(w)).select(
        "treat",
        "post",
        "n",
        "mean_v",
        F.round(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did"),
    )
    return persist_until_collected(cells, out)


# ---------------------------------------------------------------------------
# events_paired_ttest — paired pre/post t statistic per user
# ---------------------------------------------------------------------------


@register(
    "events_paired_ttest",
    oracle=f"""
    WITH b AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
      WHERE value IS NOT NULL
    ),
    cutoff AS (SELECT min(day) + {CUPED_SPLIT_DAYS} AS split FROM b),
    per_user AS (
      SELECT user_id,
             round(coalesce(sum(CASE WHEN day < split THEN value END), 0), 4)
               AS pre,
             round(coalesce(sum(CASE WHEN day >= split THEN value END), 0), 4)
               AS post
      FROM b, cutoff GROUP BY user_id
    ),
    d AS (SELECT round(post - pre, 4) AS diff FROM per_user)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(diff), 4) AS mean_diff,
           round(stddev_samp(diff), 4) AS sd_diff,
           CASE WHEN count(*) > 1 AND count(DISTINCT diff) > 1 THEN
             round(avg(diff) / (stddev_samp(diff) / sqrt(count(*))), 4)
           END AS t_stat
    FROM d
    """,
    doc="Paired t statistic on per-user pre/post metric sums (the same "
    "min(day)-derived split as CUPED/DiD — one shared definition): each "
    "user is their own control, so the pairing removes between-user "
    "variance that the unpaired agg_welch_ttest must carry. Differences "
    "round to 4 decimals before the moments so both engines feed the "
    "identical doubles into the t. One fact shuffle to per-user rows, "
    "then a single 1-row moment aggregation — the before/after readout "
    "every feature launch asks for.",
)
def events_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        _valued_events_prepost(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("day") < F.col("split"), F.col("value"))),
                    F.lit(0.0),
                ),
                4,
            ).alias("pre"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("day") >= F.col("split"), F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("post"),
        )
    )
    d = per_user.select(
        F.round(F.col("post") - F.col("pre"), 4).alias("diff")
    )
    # NULL t on degenerate inputs (n < 2 or all diffs equal -> sd = 0) via
    # exact-integer guards both engines: 0/0's NULL-vs-NaN depends on the
    # DuckDB version, so the division must never run.
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.avg("diff"), 4).alias("mean_diff"),
        F.round(F.stddev_samp("diff"), 4).alias("sd_diff"),
        F.when(
            (F.count(F.lit(1)) > 1) & (F.count_distinct(F.col("diff")) > 1),
            F.round(
                F.avg("diff")
                / (F.stddev_samp("diff") / F.sqrt(F.count(F.lit(1)))),
                4,
            ),
        ).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# events_pettitt_changepoint — nonparametric changepoint on the daily series
# ---------------------------------------------------------------------------


@register(
    "events_pettitt_changepoint",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    r AS (
      SELECT day,
             rank() OVER (ORDER BY cnt)
               + (count(*) OVER (PARTITION BY cnt) - 1) / 2.0 AS r
      FROM d
    ),
    u AS (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(2.0 * sum(r) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS s2
      FROM r
    ),
    v AS (
      SELECT day, t, s2 - t * (nn.n + 1) AS ut
      FROM u CROSS JOIN nn
    ),
    k AS (
      SELECT CAST(max(abs(ut)) AS BIGINT) AS k_stat
      FROM v, nn WHERE t < nn.n
    ),
    cp AS (
      SELECT min(day) AS cp_day
      FROM v, nn, k WHERE t < nn.n AND abs(ut) = k.k_stat
    )
    SELECT nn.n AS n_days, k.k_stat, cp.cp_day,
           round(least(1.0, 2.0 * exp((-6.0 * k.k_stat * k.k_stat)
                 / (nn.n * nn.n * nn.n + nn.n * nn.n))), 6) AS p_approx
    FROM nn CROSS JOIN k CROSS JOIN cp
    """,
    doc="Pettitt changepoint test on the daily event-count series: the "
    "rank-based statistic U_t = 2*S_t - t(n+1) (tie-adjusted via average "
    "ranks, computed as min-rank + (ties-1)/2 — exact halves), maximized "
    "over split points; ties on the argmax break to the earliest day. "
    "2*S_t is an exact integer so K hash-verifies; the approximate "
    "significance 2*exp(-6K^2/(n^3+n^2)) is capped at 1. The windows run "
    "on the day-grain series, which is already aggregated from the facts "
    "by a map-combined count — at 100 TB the ordered scan touches ~365 "
    "rows/year, not the events. The streaming counterpart is a tumbling "
    "daily count feeding the same batch tail.",
)
def events_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    r = d.select(
        "day",
        (
            F.rank().over(Window.orderBy("cnt"))
            + (F.count(F.lit(1)).over(Window.partitionBy("cnt")) - 1) / 2.0
        ).alias("r"),
    )
    wday = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    u = r.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        (2.0 * F.sum("r").over(wday)).cast("bigint").alias("s2"),
    )
    v = u.crossJoin(F.broadcast(nn)).select(
        "day", "t", (F.col("s2") - F.col("t") * (F.col("n") + 1)).alias("ut"), "n"
    )
    k = v.filter(F.col("t") < F.col("n")).agg(
        F.max(F.abs(F.col("ut"))).cast("bigint").alias("k_stat")
    )
    cp = (
        v.filter(F.col("t") < F.col("n"))
        .join(F.broadcast(k), F.abs(F.col("ut")) == F.col("k_stat"))
        .agg(F.min("day").alias("cp_day"))
    )
    out = (
        nn.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(cp))
        .select(
            F.col("n").alias("n_days"),
            "k_stat",
            "cp_day",
            F.round(
                F.least(
                    F.lit(1.0),
                    2.0
                    * F.exp(
                        (-6.0 * F.col("k_stat") * F.col("k_stat"))
                        / (
                            F.col("n") * F.col("n") * F.col("n")
                            + F.col("n") * F.col("n")
                        )
                    ),
                ),
                6,
            ).alias("p_approx"),
        )
    )
    return persist_until_collected(d, persist_until_collected(v, out))


# ---------------------------------------------------------------------------
# events_odds_ratio — user-level 2x2 conversion odds with Woolf CI
# ---------------------------------------------------------------------------


@register(
    "events_odds_ratio",
    oracle="""
    WITH p AS (
      SELECT user_id, user_id % 2 AS cohort,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS np
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    med AS (
      SELECT CAST(round(quantile_cont(np, 0.5) * 2) AS BIGINT) AS med2 FROM p
    ),
    u AS (
      SELECT cohort,
             CASE WHEN p.np * 2 > med.med2 THEN 1 ELSE 0 END AS conv
      FROM p CROSS JOIN med
    ),
    c AS (
      SELECT
        CAST(sum(CASE WHEN cohort = 1 AND conv = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n11,
        CAST(sum(CASE WHEN cohort = 1 AND conv = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n10,
        CAST(sum(CASE WHEN cohort = 0 AND conv = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n01,
        CAST(sum(CASE WHEN cohort = 0 AND conv = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n00
      FROM u
    )
    SELECT n11, n10, n01, n00,
           round(n11 * n00 * 1.0 / (n10 * n01), 4) AS odds_ratio,
           round(exp(ln(n11 * n00 * 1.0 / (n10 * n01))
                 - 1.96 * sqrt(1.0 / n11 + 1.0 / n10
                               + 1.0 / n01 + 1.0 / n00)), 4) AS ci_lo,
           round(exp(ln(n11 * n00 * 1.0 / (n10 * n01))
                 + 1.96 * sqrt(1.0 / n11 + 1.0 / n10
                               + 1.0 / n01 + 1.0 / n00)), 4) AS ci_hi
    FROM c WHERE n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0
    """,
    doc="User-level 2x2 odds ratio of heavy purchasing (strictly above the "
    "median per-user purchase count — a scale-free outcome that cannot "
    "degenerate unless every user is identical) between hash cohorts, "
    "with the Woolf log-normal 95% CI — the epidemiology-grade readout "
    "for binary outcomes (events_ab_uplift reports the risk difference; "
    "the odds ratio transfers across baseline rates). The doubled-median "
    "integer comparison keeps the split exact in both engines. Plan: one "
    "(user_id)-keyed map-combined collapse to per-user counts, a 1-row "
    "median broadcast back over that compacted relation, then a single "
    "conditional aggregation to the 4 cells — at 100 TB one fact shuffle "
    "plus user-table-sized follow-ups. Degenerate tables (any empty cell) "
    "emit zero rows on both engines rather than NULL-laden arithmetic.",
)
def events_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    p = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("np")
    ).select((F.col("user_id") % 2).alias("cohort"), "np")
    med = p.agg(
        F.round(F.percentile("np", F.lit(0.5)) * 2).cast("bigint").alias("med2")
    )
    u = p.crossJoin(F.broadcast(med)).select(
        "cohort",
        F.when(F.col("np") * 2 > F.col("med2"), 1).otherwise(0).alias("conv"),
    )

    def cell(coh: int, cv: int, name: str) -> F.Column:
        return (
            F.sum(
                F.when(
                    (F.col("cohort") == coh) & (F.col("conv") == cv), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(name)
        )

    c = u.agg(
        cell(1, 1, "n11"), cell(1, 0, "n10"), cell(0, 1, "n01"), cell(0, 0, "n00")
    )
    or_ = F.col("n11") * F.col("n00") * 1.0 / (F.col("n10") * F.col("n01"))
    se = F.sqrt(
        1.0 / F.col("n11")
        + 1.0 / F.col("n10")
        + 1.0 / F.col("n01")
        + 1.0 / F.col("n00")
    )
    out = c.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(or_, 4).alias("odds_ratio"),
        F.round(F.exp(F.log(or_) - 1.96 * se), 4).alias("ci_lo"),
        F.round(F.exp(F.log(or_) + 1.96 * se), 4).alias("ci_hi"),
    ).filter(
        (F.col("n11") > 0)
        & (F.col("n10") > 0)
        & (F.col("n01") > 0)
        & (F.col("n00") > 0)
    )
    return persist_until_collected(p, out)


# ---------------------------------------------------------------------------
# events_effect_size — Cohen's d / Hedges' g between hash cohorts
# ---------------------------------------------------------------------------


@register(
    "events_effect_size",
    oracle="""
    WITH e AS (
      SELECT user_id % 2 AS cohort,
             CAST(round(value * 10000) AS BIGINT) AS v4
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    s AS (
      SELECT
        CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        CAST(sum(CASE WHEN cohort = 1 THEN v4 ELSE 0 END) AS BIGINT) AS s1,
        CAST(sum(CASE WHEN cohort = 0 THEN v4 ELSE 0 END) AS BIGINT) AS s0,
        CAST(sum(CAST(CASE WHEN cohort = 1 THEN v4 * v4 ELSE 0 END
             AS HUGEINT)) AS DOUBLE) AS q1,
        CAST(sum(CAST(CASE WHEN cohort = 0 THEN v4 * v4 ELSE 0 END
             AS HUGEINT)) AS DOUBLE) AS q0
      FROM e
    ),
    v AS (
      SELECT n1, n0,
             s1 * 1.0 / n1 AS m1, s0 * 1.0 / n0 AS m0,
             (q1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
             (q0 - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1) AS v0
      FROM s
    ),
    d AS (
      SELECT n1, n0, m1, m0,
             (m1 - m0) / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
                              / (n1 + n0 - 2)) AS cohens_d
      FROM v WHERE (n1 - 1) * v1 + (n0 - 1) * v0 > 0
    )
    SELECT n1, n0,
           round((m1 - m0) / 10000.0, 4) AS mean_diff,
           round(cohens_d, 4) AS cohens_d,
           round(cohens_d * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)), 4)
             AS hedges_g
    FROM d WHERE n1 > 1 AND n0 > 1
    """,
    doc="Standardized effect size between the two hash cohorts on event "
    "value: Cohen's d on the pooled standard deviation, plus the small-"
    "sample Hedges' g correction — the magnitude readout that p-values "
    "(agg_welch_ttest) don't give. Values quantize to 1e-4 units; counts, "
    "sums and exact DECIMAL/HUGEINT squared sums make every moment "
    "deterministic before the one float division chain, which is written "
    "identically on both engines. ONE conditional-aggregation scan, 6 "
    "numbers of reduce state — the same shape as Welch, and the same "
    "empty-cohort guard (zero rows, not NULLs).",
)
def events_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    e = ev.select(
        (F.col("user_id") % 2).alias("cohort"),
        F.round(F.col("value") * 10000).cast("bigint").alias("v4"),
    )
    s = e.agg(
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("cohort") == 1, F.col("v4")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("cohort") == 0, F.col("v4")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
        F.sum(
            F.when(F.col("cohort") == 1, F.col("v4") * F.col("v4"))
            .otherwise(0)
            .cast("decimal(38,0)")
        )
        .cast("double")
        .alias("q1"),
        F.sum(
            F.when(F.col("cohort") == 0, F.col("v4") * F.col("v4"))
            .otherwise(0)
            .cast("decimal(38,0)")
        )
        .cast("double")
        .alias("q0"),
    )
    v = s.select(
        "n1",
        "n0",
        (F.col("s1") * 1.0 / F.col("n1")).alias("m1"),
        (F.col("s0") * 1.0 / F.col("n0")).alias("m0"),
        (
            (F.col("q1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
            / (F.col("n1") - 1)
        ).alias("v1"),
        (
            (F.col("q0") - F.col("s0").cast("double") * F.col("s0") / F.col("n0"))
            / (F.col("n0") - 1)
        ).alias("v0"),
    )
    # identical constant values in both cohorts make the pooled variance
    # exactly 0: drop the row in both engines (0/0 spelling is a DuckDB
    # version detail)
    d = v.filter(
        (F.col("n1") - 1) * F.col("v1") + (F.col("n0") - 1) * F.col("v0") > 0
    ).select(
        "n1",
        "n0",
        "m1",
        "m0",
        (
            (F.col("m1") - F.col("m0"))
            / F.sqrt(
                ((F.col("n1") - 1) * F.col("v1") + (F.col("n0") - 1) * F.col("v0"))
                / (F.col("n1") + F.col("n0") - 2)
            )
        ).alias("cohens_d"),
    )
    return d.select(
        "n1",
        "n0",
        F.round((F.col("m1") - F.col("m0")) / 10000.0, 4).alias("mean_diff"),
        F.round("cohens_d", 4).alias("cohens_d"),
        F.round(
            F.col("cohens_d")
            * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n0")) - 9.0)),
            4,
        ).alias("hedges_g"),
    ).filter((F.col("n1") > 1) & (F.col("n0") > 1))


# ---------------------------------------------------------------------------
# events_power_analysis — two-proportion A/B sample-size / MDE planner
# ---------------------------------------------------------------------------

POWER_Z_ALPHA = 1.959964  # two-sided alpha = 0.05
POWER_Z_BETA = 0.841621  # power = 0.80
POWER_MDE_PP = (1.0, 2.0, 5.0)  # candidate detectable lifts, percent points
_POWER_VALUES = ", ".join(f"({m!r})" for m in POWER_MDE_PP)


@register(
    "events_power_analysis",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS np
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    med AS (
      SELECT CAST(round(quantile_cont(np, 0.5) * 2) AS BIGINT) AS med2 FROM p
    ),
    u AS (
      SELECT CASE WHEN p.np * 2 > med.med2 THEN 1 ELSE 0 END AS conv
      FROM p CROSS JOIN med
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(conv) AS BIGINT) AS conv_users
      FROM u
    ),
    mde(lift_pp) AS (VALUES {_POWER_VALUES}),
    calc AS (
      SELECT base.n_users, base.conv_users, mde.lift_pp,
             conv_users * 1.0 / n_users AS p1,
             conv_users * 1.0 / n_users + lift_pp / 100.0 AS p2
      FROM base CROSS JOIN mde
    )
    SELECT n_users, conv_users, lift_pp,
           round(p1, 6) AS baseline_rate,
           CAST(ceil(
             ({POWER_Z_ALPHA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                * (1.0 - (p1 + p2) / 2.0))
              + {POWER_Z_BETA!r} * sqrt(p1 * (1.0 - p1)
                + p2 * (1.0 - p2)))
             * ({POWER_Z_ALPHA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                * (1.0 - (p1 + p2) / 2.0))
              + {POWER_Z_BETA!r} * sqrt(p1 * (1.0 - p1)
                + p2 * (1.0 - p2)))
             / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm,
           CAST(CASE WHEN n_users / 2 >= CAST(ceil(
             ({POWER_Z_ALPHA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                * (1.0 - (p1 + p2) / 2.0))
              + {POWER_Z_BETA!r} * sqrt(p1 * (1.0 - p1)
                + p2 * (1.0 - p2)))
             * ({POWER_Z_ALPHA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                * (1.0 - (p1 + p2) / 2.0))
              + {POWER_Z_BETA!r} * sqrt(p1 * (1.0 - p1)
                + p2 * (1.0 - p2)))
             / ((p2 - p1) * (p2 - p1))) AS BIGINT)
             THEN 1 ELSE 0 END AS BIGINT) AS currently_powered
    FROM calc WHERE p2 < 1.0
    """,
    doc="Two-proportion A/B sample-size planner: for candidate lifts of "
    f"{POWER_MDE_PP} percent points over the observed heavy-purchaser rate "
    "(strictly above the median per-user purchase count — the same "
    "scale-free outcome events_odds_ratio tests, never saturated at "
    "1.0), the required users per arm at alpha=0.05 "
    "(two-sided) and 80% power — the pooled-variance normal "
    "approximation every experimentation platform quotes — plus whether "
    "the CURRENT population already powers that lift. Closes the "
    "experiment-design loop around the readout family (welch / CUPED / "
    "DiD / odds-ratio / effect-size): those analyze a finished test, "
    "this says whether a planned one can work. z constants are fixed "
    "literals, so the only data dependency is one (user_id)-keyed "
    "collapse to a 2-number summary — a single map-combined shuffle at "
    "any scale, then per-candidate scalar arithmetic written identically "
    "in both engines.",
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    p = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("np")
    )
    med = p.agg(
        F.round(F.percentile("np", F.lit(0.5)) * 2).cast("bigint").alias("med2")
    )
    u = p.crossJoin(F.broadcast(med)).select(
        F.when(F.col("np") * 2 > F.col("med2"), 1).otherwise(0).alias("conv")
    )
    base = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("conv_users"),
    )
    mde = F.explode(
        F.array(*[F.lit(m) for m in POWER_MDE_PP])
    ).alias("lift_pp")
    calc = base.select("*", mde).select(
        "n_users",
        "conv_users",
        "lift_pp",
        (F.col("conv_users") * 1.0 / F.col("n_users")).alias("p1"),
        (
            F.col("conv_users") * 1.0 / F.col("n_users")
            + F.col("lift_pp") / 100.0
        ).alias("p2"),
    )
    p1, p2 = F.col("p1"), F.col("p2")
    pbar = (p1 + p2) / 2.0
    num = F.lit(POWER_Z_ALPHA) * F.sqrt(2.0 * pbar * (1.0 - pbar)) + F.lit(
        POWER_Z_BETA
    ) * F.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
    n_req = F.ceil(num * num / ((p2 - p1) * (p2 - p1))).cast("bigint")
    out = calc.filter(p2 < 1.0).select(
        "n_users",
        "conv_users",
        "lift_pp",
        F.round(p1, 6).alias("baseline_rate"),
        n_req.alias("n_per_arm"),
        F.when(F.col("n_users") / 2 >= n_req, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("currently_powered"),
    )
    return persist_until_collected(p, out)


# ---------------------------------------------------------------------------
# events_entropy_rate — entropy rate of the empirical event-type chain
# ---------------------------------------------------------------------------


@register(
    "events_entropy_rate",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, ts FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ),
    tr AS (
      SELECT prev, event_type AS nxt FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM e
      ) WHERE prev IS NOT NULL
    ),
    j AS (
      SELECT prev, nxt, CAST(count(*) AS BIGINT) AS nij FROM tr GROUP BY 1, 2
    ),
    mi AS (SELECT prev, CAST(sum(nij) AS BIGINT) AS ni FROM j GROUP BY 1),
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS nn FROM j),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n_states FROM mi),
    t AS (
      SELECT CAST(round(1000000000.0 * (nij * 1.0 / tot.nn)
               * ln(mi.ni * 1.0 / nij)) AS BIGINT) AS v
      FROM j JOIN mi USING (prev) CROSS JOIN tot
    ),
    s AS (SELECT CAST(sum(v) AS BIGINT) AS s FROM t)
    SELECT tot.nn AS n_transitions, st.n_states,
           round(s.s / 1000000000.0, 6) AS entropy_rate_nats,
           round(ln(CAST(st.n_states AS DOUBLE)), 6) AS max_entropy_nats,
           round((s.s / 1000000000.0) / ln(CAST(st.n_states AS DOUBLE)), 6)
             AS efficiency
    FROM tot CROSS JOIN st CROSS JOIN s
    WHERE st.n_states > 1
    """,
    doc="Entropy rate of the empirical per-user event-type Markov chain: "
    "H = -sum pi_i p_ij ln p_ij with the empirical visit distribution as "
    "pi — how PREDICTABLE the next action is given the current one "
    "(efficiency = rate / ln(states): 1.0 means memoryless uniform, near "
    "0 means deterministic journeys; the sequence-information complement "
    "to events_user_transitions' raw matrix). Per-cell terms quantize to "
    "integer nano-nats before the cell-count-sized sum. Plan: one "
    "(user_id)-keyed lag window over pushed-filter events, one "
    "map-combined count to the |types|^2 joint relation — everything "
    "after is constant-size. Single-state chains emit zero rows.",
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            "event_type", F.lag("event_type").over(wlag).alias("prev")
        )
        .filter(F.col("prev").isNotNull())
        .select("prev", F.col("event_type").alias("nxt"))
    )
    j = tr.groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    mi = j.groupBy("prev").agg(F.sum("nij").cast("bigint").alias("ni"))
    tot = j.agg(F.sum("nij").cast("bigint").alias("nn"))
    st = mi.agg(F.count(F.lit(1)).cast("bigint").alias("n_states"))
    t = (
        j.join(maybe_broadcast(mi), "prev")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1000000000.0
                * (F.col("nij") * 1.0 / F.col("nn"))
                * F.log(F.col("ni") * 1.0 / F.col("nij"))
            )
            .cast("bigint")
            .alias("v")
        )
    )
    s = t.agg(F.sum("v").cast("bigint").alias("s"))
    out = (
        tot.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(s))
        .filter(F.col("n_states") > 1)
        .select(
            F.col("nn").alias("n_transitions"),
            "n_states",
            F.round(F.col("s") / 1000000000.0, 6).alias("entropy_rate_nats"),
            F.round(F.log(F.col("n_states").cast("double")), 6).alias(
                "max_entropy_nats"
            ),
            F.round(
                (F.col("s") / 1000000000.0)
                / F.log(F.col("n_states").cast("double")),
                6,
            ).alias("efficiency"),
        )
    )
    return persist_until_collected(j, out)


# ---------------------------------------------------------------------------
# events_markov_stationary — stationary distribution via fixed-point power
# iteration over the event-type transition matrix
# ---------------------------------------------------------------------------

MARKOV_ITERS = 3
_PPB = 1_000_000_000


def _markov_oracle() -> str:
    steps = []
    for i in range(1, MARKOV_ITERS + 1):
        prev = f"pi{i - 1}"
        steps.append(f"""
    pi{i} AS MATERIALIZED (
      SELECT t.dst AS state,
             CAST(sum((p.w * t.p_ppb) // {_PPB}) AS BIGINT) AS w
      FROM {prev} p JOIN tmat t ON t.src = p.state
      GROUP BY t.dst
    )""")
    return f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ),
    seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM e
    ),
    cnt AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    rowt AS (SELECT src, CAST(sum(c) AS BIGINT) AS rt FROM cnt GROUP BY 1),
    tmat AS MATERIALIZED (
      SELECT c.src, c.dst, (c.c * {_PPB}) // r.rt AS p_ppb
      FROM cnt c JOIN rowt r ON r.src = c.src
    ),
    states AS MATERIALIZED (SELECT DISTINCT src AS state FROM tmat),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
    pi0 AS MATERIALIZED (
      SELECT state, CAST({_PPB} // ns.k AS BIGINT) AS w FROM states, ns
    ),{",".join(steps)}
    SELECT s.state,
           coalesce(p.w, 0) AS stationary_ppb,
           CAST(coalesce(p.w, 0) AS DOUBLE) / CAST({_PPB} AS DOUBLE)
             AS stationary_prob
    FROM states s LEFT JOIN pi{MARKOV_ITERS} p ON p.state = s.state
    """


@register(
    "events_markov_stationary",
    oracle=_markov_oracle(),
    doc=f"Stationary distribution of the per-user event-type Markov chain "
    f"via {MARKOV_ITERS} synchronous power-iteration rounds — where the "
    "user journey settles in the long run, completing the Markov family "
    "(events_user_transitions builds the matrix, events_entropy_rate "
    "scores its information): the long-run occupancy is what staffing / "
    "capacity / exposure models consume. All iteration arithmetic is "
    "BIGINT fixed-point parts-per-billion with integer floor-division "
    "(the pagerank_nations discipline: partial sums commute exactly, so "
    "any engine/partitioning produces identical bits; the oracle unrolls "
    "the same integer recurrence as chained CTEs). Transition counts are "
    "one per-user lead window + one map-combined shuffle; the matrix is "
    "bounded by the event-type domain squared (~25 rows at any corpus "
    "size), so it is collected once and the iteration rounds run as the "
    "identical exact-integer recurrence on the driver.",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(wseq).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = seq.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rowt = cnt.groupBy("src").agg(F.sum("c").cast("bigint").alias("rt"))
    tmat = cnt.join(maybe_broadcast(rowt), "src").select(
        "src",
        "dst",
        # `div` (exact BIGINT division, the pagerank_nations discipline) —
        # float division + cast would lose bits past 2^53
        F.expr(f"(c * {_PPB}) div rt").cast("bigint").alias("p_ppb"),
    )
    # The transition matrix is bounded by the event-type domain squared
    # (~25 rows at any corpus size), so after the one corpus-proportional
    # aggregation above it is collected ONCE and all power-iteration
    # rounds run in exact Python integer arithmetic on the driver (the
    # pagerank_nations discipline: arbitrary-precision ints, `//` on
    # non-negatives == SQL `div`, integer partial sums commute — every
    # weight is bit-identical to the per-round join formulation the
    # oracle unrolls). Formerly each execution replayed MARKOV_ITERS
    # state-sized joins inside the plan plus the matrix persist.
    tmat_rows = [
        (r["src"], r["dst"], r["p_ppb"]) for r in tmat.collect()
    ]
    states = sorted({s for s, _, _ in tmat_rows})
    k = len(states)
    if not states:
        return spark.range(0).select(
            F.lit(None).cast("string").alias("state"),
            F.lit(None).cast("bigint").alias("stationary_ppb"),
            F.lit(None).cast("double").alias("stationary_prob"),
        )
    pi = {s: _PPB // k for s in states}
    for _ in range(MARKOV_ITERS):
        nxt: dict = {}
        for src, dst, p_ppb in tmat_rows:
            w = pi.get(src)
            if w is not None:
                nxt[dst] = nxt.get(dst, 0) + (w * p_ppb) // _PPB
        pi = nxt
    structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("state"),
                F.lit(int(pi.get(s, 0))).cast("bigint").alias(
                    "stationary_ppb"
                ),
            )
            for s in states
        ]
    )
    return (
        spark.range(1)
        .select(F.explode(structs).alias("r"))
        .select(
            "r.state",
            F.col("r.stationary_ppb").alias("stationary_ppb"),
            (
                F.col("r.stationary_ppb").cast("double")
                / F.lit(_PPB).cast("double")
            ).alias("stationary_prob"),
        )
    )


# ---------------------------------------------------------------------------
# events_wilcoxon_signed_rank — nonparametric paired pre/post test
# ---------------------------------------------------------------------------


@register(
    "events_wilcoxon_signed_rank",
    oracle="""
    WITH b AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
      WHERE value IS NOT NULL
    ),
    cutoff AS (SELECT min(day) + 15 AS split FROM b),
    per_user AS (
      SELECT user_id,
             round(coalesce(sum(CASE WHEN day < split THEN value END), 0), 4)
               AS pre,
             round(coalesce(sum(CASE WHEN day >= split THEN value END), 0), 4)
               AS post
      FROM b, cutoff GROUP BY user_id
    ),
    d AS (
      SELECT CAST(round((post - pre) * 10000) AS BIGINT) AS d4
      FROM per_user
      WHERE CAST(round((post - pre) * 10000) AS BIGINT) <> 0
    ),
    g AS (
      SELECT abs(d4) AS ad,
             CAST(count(*) AS BIGINT) AS t,
             CAST(sum(CASE WHEN d4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT ad, t, tp,
             CAST(2 * sum(t) OVER (ORDER BY ad) - t + 1 AS BIGINT) AS mr2
      FROM g
    ),
    s AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(CAST(tp AS HUGEINT) * mr2) AS BIGINT) AS w2,
             CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS BIGINT) AS ties3
      FROM r
    )
    SELECT n AS n_nonzero, w2 AS w_plus_x2,
           CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE) AS w_plus,
           (CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE)
            - CAST(n AS DOUBLE) * (n + 1) / 4.0)
           / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                  - CAST(ties3 AS DOUBLE) / 48.0) AS z_stat
    FROM s
    WHERE n > 0
      AND CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
          - CAST(ties3 AS DOUBLE) / 48.0 > 0
    """,
    doc="Wilcoxon signed-rank test on the per-user pre/post metric (the "
    "same min(day)+15 split shared by CUPED/DiD/paired-t): the "
    "nonparametric complement to events_paired_ttest — rank-based, so a "
    "few whale users cannot dominate the verdict the way they dominate a "
    "mean-based t. Differences quantize to exact integer 1e-4 units, "
    "zero differences drop (standard practice), midranks of |d| come "
    "from cumulative counts over the DISTINCT-|difference| relation as "
    "exact doubled integers (the Mann-Whitney shape — no per-row rank "
    "materialization), the tie-corrected variance term sums t^3 - t in "
    "HUGEINT, and W+ plus its z statistic are fixed-order IEEE "
    "expressions over those integers (sqrt is correctly rounded). "
    "Degenerate inputs (no non-zero diffs, or all |d| equal making the "
    "variance 0) emit zero rows via exact-integer guards on both "
    "engines.",
)
def events_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        _valued_events_prepost,
    )

    per_user = (
        _valued_events_prepost(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("day") < F.col("split"), F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("pre"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("day") >= F.col("split"), F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("post"),
        )
    )
    d4 = F.round((F.col("post") - F.col("pre")) * 10000).cast("bigint")
    d = per_user.select(d4.alias("d4")).filter(F.col("d4") != 0)
    g = d.groupBy(F.abs(F.col("d4")).alias("ad")).agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum((F.col("d4") > 0).cast("int")).cast("bigint").alias("tp"),
    )
    wmr = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    r = g.select(
        "ad",
        "t",
        "tp",
        (2 * F.sum("t").over(wmr) - F.col("t") + 1)
        .cast("bigint")
        .alias("mr2"),
    )
    s = r.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("tp").cast("decimal(38,0)") * F.col("mr2"))
        .cast("bigint")
        .alias("w2"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("bigint")
        .alias("ties3"),
    )
    nd = F.col("n").cast("double")
    w_plus = F.col("w2").cast("double") / F.lit(2).cast("double")
    var = (
        nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24.0
        - F.col("ties3").cast("double") / 48.0
    )
    return s.filter((F.col("n") > 0) & (var > 0)).select(
        F.col("n").alias("n_nonzero"),
        F.col("w2").alias("w_plus_x2"),
        w_plus.alias("w_plus"),
        ((w_plus - nd * (F.col("n") + 1) / 4.0) / F.sqrt(var)).alias(
            "z_stat"
        ),
    )


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
# events_peak_over_threshold — extreme-value exceedance profile
# ---------------------------------------------------------------------------


@register(
    "events_peak_over_threshold",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(round(value * 1000000) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    mu AS (
      SELECT event_type,
             CAST(sum(v) // count(*) AS BIGINT) AS u,
             CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY event_type
    ),
    x AS (
      SELECT e.event_type, e.v, mu.u, mu.n, g.m
      FROM e JOIN mu ON mu.event_type = e.event_type
      CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS m) g
      WHERE e.v > g.m * mu.u
    )
    SELECT event_type, CAST(m AS BIGINT) AS mult,
           CAST(min(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_exceed,
           CAST(sum(v - m * u) // count(*) AS BIGINT) AS mean_excess_micro,
           CAST(max(v) AS BIGINT) AS max_micro
    FROM x
    GROUP BY event_type, m
    ORDER BY event_type, mult
    """,
    doc="Peak-over-threshold exceedance profile per event type: at "
    "thresholds of 1x/2x/4x/8x the type mean, the exceedance count and "
    "the MEAN EXCESS E[X - u | X > u] — the empirical mean-residual-"
    "life curve that extreme-value theory reads for tail heaviness "
    "(linear growth in u implies a Pareto-type tail; flat implies "
    "exponential) — the EVT complement to events_weibull_gaps' "
    "body-distribution fit. Values quantize to exact micro-units; the "
    "threshold is an integer floor-mean, the 4-point grid is a literal "
    "explode (no pair blowup), and every division is a non-negative "
    "integer floor-div. Two keyed shuffles (type mean, type-mult "
    "rollup); the broadcast mean join keeps the scan single-pass.",
)
def events_peak_over_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    e = ev.select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("bigint").alias("v"),
    )
    mu = e.groupBy("event_type").agg(
        F.expr("CAST(sum(v) div count(*) AS BIGINT)").alias("u"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    x = (
        e.join(F.broadcast(mu), "event_type")
        .select(
            "event_type",
            "v",
            "u",
            "n",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8))).alias(
                "m"
            ),
        )
        .filter(F.col("v") > F.col("m") * F.col("u"))
    )
    return (
        x.groupBy("event_type", "m")
        .agg(
            F.min("n").cast("bigint").alias("n_total"),
            F.count(F.lit(1)).cast("bigint").alias("n_exceed"),
            F.expr(
                "CAST(sum(v - m * u) div count(*) AS BIGINT)"
            ).alias("mean_excess_micro"),
            F.max("v").cast("bigint").alias("max_micro"),
        )
        .select(
            "event_type",
            F.col("m").cast("bigint").alias("mult"),
            "n_total",
            "n_exceed",
            "mean_excess_micro",
            "max_micro",
        )
        .orderBy("event_type", "mult")
    )


# ---------------------------------------------------------------------------
# events_type_cooccurrence — behavioral lift between event types
# ---------------------------------------------------------------------------


@register(
    "events_type_cooccurrence",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events WHERE ts IS NOT NULL
    ),
    t AS (
      SELECT CAST(count(DISTINCT (user_id, day)) AS BIGINT) AS total
      FROM ud
    ),
    m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ud GROUP BY 1
    ),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.day = b.day
                         AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, ma.n AS n_a, mb.n AS n_b, p.n_both,
           CAST((1000000000 * CAST(p.n_both AS HUGEINT) * t.total)
                // (CAST(ma.n AS HUGEINT) * mb.n) AS BIGINT) AS lift_ppb
    FROM p
    JOIN m ma ON ma.event_type = p.type_a
    JOIN m mb ON mb.event_type = p.type_b
    CROSS JOIN t
    ORDER BY p.type_a, p.type_b
    """,
    doc="Event-type co-occurrence lift at the user-day grain: for every "
    "type pair, P(A and B together) / (P(A)*P(B)) — the behavioral "
    "association matrix (docs_pmi_collocations' idea applied to event "
    "streams; orders_basket_lift's idea applied to sessions): lift "
    "far above 1e9 ppb marks types that travel together (view -> "
    "purchase funnels), far below marks substitutes or segmentation. "
    "The pair join runs on the DEDUPLICATED (user, day, type) grain "
    "keyed by (user, day), so per-key fan-out is bounded by the "
    "constant type-domain size squared — never a data-proportional "
    "pair set. Lift is an exact HUGEINT/DECIMAL(38,0) rational "
    "floor-divided to ppb on non-negative operands; one 1-row total "
    "broadcast.",
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ud = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "event_type",
    ).distinct()
    ud = ud.persist()
    t = ud.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("total")
    )
    m = ud.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = ud.select(
        "user_id", "day", F.col("event_type").alias("type_a")
    )
    bb = ud.select(
        "user_id", "day", F.col("event_type").alias("type_b")
    )
    p = (
        a.join(bb, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ma = m.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    mb = m.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    _out = (
        p.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(t))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(
                "CAST((1000000000 * CAST(n_both AS DECIMAL(38,0)) * total)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppb"),
        )
        .orderBy("type_a", "type_b")
    )
    return release_on_gc(ud, _out)


# ---------------------------------------------------------------------------
# events_reliability_mtbf — inter-failure gap distribution (exact quantiles)
# ---------------------------------------------------------------------------


@register(
    "events_reliability_mtbf",
    oracle="""
    WITH e AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE ts IS NOT NULL AND event_type = 'error'
    ),
    g AS (
      SELECT a.user_id,
             CAST(date_diff('second', CAST(a.ts AS TIMESTAMP),
                            CAST(b.ts AS TIMESTAMP)) AS BIGINT) AS gap_s
      FROM e a JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn + 1
    ),
    cells AS (
      SELECT gap_s, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1
    ),
    cum AS (
      SELECT gap_s, c,
             sum(c) OVER (ORDER BY gap_s ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cm,
             (SELECT sum(c) FROM cells) AS n
      FROM cells
    )
    SELECT CAST(min(n) AS BIGINT) AS n_gaps,
           CAST(sum(CAST(gap_s AS HUGEINT) * c) // min(n) AS BIGINT)
             AS mtbf_mean_s,
           CAST(min(CASE WHEN 2 * cm >= n THEN gap_s END) AS BIGINT)
             AS median_gap_s,
           CAST(min(CASE WHEN 10 * cm >= 9 * n THEN gap_s END) AS BIGINT)
             AS p90_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
    FROM cum
    """,
    doc="Mean time between failures from per-user 'error' event gaps: "
    "exact mean, median, p90, and max inter-failure interval — the "
    "reliability readout (MTBF plus the gap DISTRIBUTION, since a "
    "healthy mean with a collapsing median means failures are "
    "clustering — the same burstiness events_kleinberg_burst models "
    "generatively). Gap construction is per-user sequenced "
    "(PARTITIONED rank windows with an event_id tie-break, never a "
    "global sort of the event stream); quantiles are exact type-1 "
    "order statistics over the distinct-gap-seconds grid via integer "
    "predicates (2*cum >= n), and the mean is one non-negative "
    "floor-division of a HUGEINT/DECIMAL(38,0) sum. Two keyed "
    "shuffles + one bounded grid window.",
)
def events_reliability_mtbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & (F.col("event_type") == "error")
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id", "ts", F.row_number().over(w_seq).alias("rn")
    )
    a = e.select("user_id", F.col("ts").alias("ts_a"), "rn")
    bnext = e.select(
        "user_id",
        F.col("ts").alias("ts_b"),
        (F.col("rn") - 1).alias("rn"),
    )
    g = a.join(bnext, ["user_id", "rn"]).select(
        (
            F.col("ts_b").cast("timestamp").cast("long")
            - F.col("ts_a").cast("timestamp").cast("long")
        ).alias("gap_s")
    )
    cells = g.groupBy("gap_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = Window.orderBy("gap_s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = cells.select(
        "gap_s",
        "c",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_all).alias("n"),
    )
    return cum.agg(
        F.min("n").cast("bigint").alias("n_gaps"),
        F.expr(
            "CAST(sum(CAST(gap_s AS DECIMAL(38,0)) * c) div min(n)"
            " AS BIGINT)"
        ).alias("mtbf_mean_s"),
        F.min(F.when(2 * F.col("cm") >= F.col("n"), F.col("gap_s")))
        .cast("bigint")
        .alias("median_gap_s"),
        F.min(
            F.when(10 * F.col("cm") >= 9 * F.col("n"), F.col("gap_s"))
        )
        .cast("bigint")
        .alias("p90_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
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
# events_dfa_alpha — detrended fluctuation analysis of the daily event series
# ---------------------------------------------------------------------------


def _dfa_boxes_sql(s: int) -> str:
    """Per-box detrended residual sum at box size s, micro-quantized:
    RSS = Syy - Sy^2/s - (Sjy - (s+1)Sy/2)^2 / (s(s^2-1)/12), computed as
    one fixed-shape double expression over exact integer box sums."""
    return f"""
      SELECT {s} AS scale, CAST(count(*) AS BIGINT) AS n_boxes,
             CAST(sum(rss_micro) AS HUGEINT) AS total_micro
      FROM (
        SELECT CAST(floor(
            1000000.0 * (
              CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / {s}
              - (CAST(sjy AS DOUBLE) - {(s + 1)} * CAST(sy AS DOUBLE) / 2.0)
                * (CAST(sjy AS DOUBLE) - {(s + 1)} * CAST(sy AS DOUBLE) / 2.0)
                / {s * (s * s - 1) / 12.0}
            )) AS HUGEINT) AS rss_micro
        FROM (
          SELECT (k - 1) // {s} AS box,
                 CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(p) AS HUGEINT) AS sy,
                 CAST(sum((k - ((k - 1) // {s}) * {s}) * CAST(p AS HUGEINT))
                      AS HUGEINT) AS sjy,
                 CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS syy
          FROM prof GROUP BY 1
        ) WHERE cnt = {s}
      )
    """


@register(
    "events_dfa_alpha",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k, y
      FROM d
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS t
      FROM idx
    ),
    prof AS (
      SELECT k,
             CAST(tot.n * sum(y) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) - k * tot.t AS BIGINT) AS p
      FROM idx, tot
    ),
    f8 AS ({_dfa_boxes_sql(8)}),
    f16 AS ({_dfa_boxes_sql(16)}),
    f32 AS ({_dfa_boxes_sql(32)}),
    fs AS (
      SELECT f8.n_boxes AS b8,
             CAST(f8.total_micro // (f8.n_boxes * 8) AS BIGINT) AS f2_8,
             CAST(f16.total_micro // (f16.n_boxes * 16) AS BIGINT) AS f2_16,
             CAST(f32.total_micro // (f32.n_boxes * 32) AS BIGINT) AS f2_32
      FROM f8, f16, f32
    )
    SELECT (SELECT n FROM tot) AS n_days, b8 AS n_boxes_8,
           f2_8 AS f2_8_micro, f2_16 AS f2_16_micro, f2_32 AS f2_32_micro,
           CAST(floor(1000000.0
                * ln(CAST(f2_32 AS DOUBLE) / CAST(f2_8 AS DOUBLE))
                / (2.0 * 1.3862943611198906)) AS BIGINT) AS alpha_micro
    FROM fs
    """,
    doc="Detrended fluctuation analysis (DFA) of the daily event-count "
    "series at box scales 8/16/32 days: integrate the mean-centered "
    "series into the n-scaled EXACT integer profile P_k = n*prefix_k "
    "- k*total (the events_cusum_changepoint identity), split into "
    "complete boxes, least-squares-detrend each box via the CLOSED "
    "FORM RSS = Syy - Sy^2/s - (Sjy - (s+1)Sy/2)^2/(s(s^2-1)/12) "
    "over exact per-box integer sums, and read the scaling exponent "
    "alpha = ln(F2(32)/F2(8)) / (2 ln 4) — alpha ~ 0.5 is white "
    "noise, > 0.5 long-range-correlated activity: the long-memory "
    "readout beside events_gap_burstiness (B) and events_gap_memory "
    "(M), on COUNTS rather than gaps (and the fluctuation-function "
    "sibling of orders_rescaled_range's Hurst R/S). Per-box RSS "
    "floor-quantizes to micro before the exact box sum; the common "
    "n^2 profile scale cancels inside the log ratio (the integer F2 "
    "columns carry that n^2 scale, bounded under 2^62 through the "
    "probed SFs — at much larger event volumes reduce the profile by "
    "a constant before squaring, Spark div wraps silently past "
    "int64). One day rollup, "
    "one calendar-bounded prefix window, box sums via grid "
    "aggregation.",
)
def events_dfa_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    idx = d.select(
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("k"),
        "y",
    )
    tot = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("t"),
    )
    wp = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prof = idx.crossJoin(F.broadcast(tot)).select(
        "k",
        "n",
        (
            F.col("n") * F.sum("y").over(wp) - F.col("k") * F.col("t")
        )
        .cast("bigint")
        .alias("p"),
    )

    def boxes(s: int):
        g = (
            prof.groupBy(((F.col("k") - 1) / s).cast("bigint").alias("box"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                _dsum(F.col("p")).alias("sy"),
                _dsum(
                    (
                        F.col("k")
                        - ((F.col("k") - 1) / s).cast("bigint") * s
                    ).cast("decimal(38,0)")
                    * F.col("p")
                ).alias("sjy"),
                _dsum(F.expr("CAST(p AS DECIMAL(38,0)) * p")).alias("syy"),
            )
            .filter(F.col("cnt") == s)
        )
        rss = g.select(
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy").cast("double") / s
                    - (
                        F.col("sjy").cast("double")
                        - (s + 1) * F.col("sy").cast("double") / 2.0
                    )
                    * (
                        F.col("sjy").cast("double")
                        - (s + 1) * F.col("sy").cast("double") / 2.0
                    )
                    / (s * (s * s - 1) / 12.0)
                )
            )
            .cast("decimal(38,0)")
            .alias("rss_micro")
        )
        return rss.agg(
            F.count(F.lit(1)).cast("bigint").alias(f"b{s}"),
            F.sum("rss_micro").alias(f"tm{s}"),
        )

    fs = (
        boxes(8)
        .crossJoin(F.broadcast(boxes(16)))
        .crossJoin(F.broadcast(boxes(32)))
        .select(
            F.col("b8").alias("n_boxes_8"),
            F.expr("CAST(tm8 div (b8 * 8) AS BIGINT)").alias("f2_8_micro"),
            F.expr("CAST(tm16 div (b16 * 16) AS BIGINT)").alias(
                "f2_16_micro"
            ),
            F.expr("CAST(tm32 div (b32 * 32) AS BIGINT)").alias(
                "f2_32_micro"
            ),
        )
    )
    return fs.crossJoin(F.broadcast(tot.select(F.col("n").alias("n_days")))).select(
        "n_days",
        F.col("n_boxes_8"),
        "f2_8_micro",
        "f2_16_micro",
        "f2_32_micro",
        F.expr(
            "CAST(floor(1000000.0"
            " * ln(CAST(f2_32_micro AS DOUBLE) / CAST(f2_8_micro AS DOUBLE))"
            " / (2.0 * 1.3862943611198906)) AS BIGINT)"
        ).alias("alpha_micro"),
    )


# ---------------------------------------------------------------------------
# events_circular_stats — circular concentration of event hour-of-day
# ---------------------------------------------------------------------------

# cos/sin(2*pi*h/24) for h = 0..23 as shared nano-unit integer literals
_CIRC_COS = (
    "[1000000000, 965925826, 866025404, 707106781, 500000000, 258819045,"
    " 0, -258819045, -500000000, -707106781, -866025404, -965925826,"
    " -1000000000, -965925826, -866025404, -707106781, -500000000,"
    " -258819045, 0, 258819045, 500000000, 707106781, 866025404,"
    " 965925826]"
)
_CIRC_SIN = (
    "[0, 258819045, 500000000, 707106781, 866025404, 965925826,"
    " 1000000000, 965925826, 866025404, 707106781, 500000000, 258819045,"
    " 0, -258819045, -500000000, -707106781, -866025404, -965925826,"
    " -1000000000, -965925826, -866025404, -707106781, -500000000,"
    " -258819045]"
)


@register(
    "events_circular_stats",
    oracle=f"""
    WITH h AS (
      SELECT CAST(hour(ts) AS BIGINT) AS hh, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(c AS HUGEINT) * ({_CIRC_COS})[hh + 1])
                  AS HUGEINT) AS cc,
             CAST(sum(CAST(c AS HUGEINT) * ({_CIRC_SIN})[hh + 1])
                  AS HUGEINT) AS ss
      FROM h
    )
    SELECT n AS n_events,
           CAST(cc // 1000000 AS BIGINT) AS cos_sum_milli,
           CAST(ss // 1000000 AS BIGINT) AS sin_sum_milli,
           CAST(floor(1000000.0
                * sqrt(CAST(cc // 1000 AS DOUBLE)
                       * CAST(cc // 1000 AS DOUBLE)
                       + CAST(ss // 1000 AS DOUBLE)
                       * CAST(ss // 1000 AS DOUBLE))
                / (1000000.0 * n)) AS BIGINT) AS rbar_ppm,
           CAST(floor((CAST(cc // 1000 AS DOUBLE)
                       * CAST(cc // 1000 AS DOUBLE)
                       + CAST(ss // 1000 AS DOUBLE)
                       * CAST(ss // 1000 AS DOUBLE))
                / (1000000000000.0 * n)) AS BIGINT) AS rayleigh_z_micro
    FROM s
    """,
    doc="Circular statistics of event HOUR-OF-DAY: mean resultant length "
    "R-bar = |sum_h n_h e^(i 2pi h/24)| / n and the Rayleigh test "
    "statistic z = n R-bar^2 for non-uniformity on the 24-hour circle "
    "— the directional-statistics treatment of daily rhythm that "
    "events_hourly_profile (raw profile) and linear variance cannot "
    "give (hour 23 and hour 0 are NEIGHBORS on the circle). The 24 "
    "cos/sin values are shared nano-unit integer LITERALS (no trig at "
    "query time), so the resultant components are exact integer dot "
    "products over the 24-cell hour domain; they reduce by 1e3 "
    "before squaring (under 2^53 as doubles through sf1000) and "
    "R-bar/z are fixed-shape floor-quantized doubles. One 24-cell "
    "rollup; no windows, no joins; signed // and div truncate "
    "identically.",
)
def events_circular_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    h = ev.groupBy(F.hour("ts").cast("bigint").alias("hh")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cos_arr = "array" + _CIRC_COS.replace("[", "(").replace("]", ")")
    sin_arr = "array" + _CIRC_SIN.replace("[", "(").replace("]", ")")
    s = h.agg(
        F.sum("c").cast("bigint").alias("n"),
        _dsum(
            F.expr(
                f"CAST(c AS DECIMAL(38,0))"
                f" * element_at({cos_arr}, CAST(hh + 1 AS INT))"
            )
        ).alias("cc"),
        _dsum(
            F.expr(
                f"CAST(c AS DECIMAL(38,0))"
                f" * element_at({sin_arr}, CAST(hh + 1 AS INT))"
            )
        ).alias("ss"),
    )
    return s.select(
        F.col("n").alias("n_events"),
        F.expr("CAST(cc div 1000000 AS BIGINT)").alias("cos_sum_milli"),
        F.expr("CAST(ss div 1000000 AS BIGINT)").alias("sin_sum_milli"),
        F.expr(
            "CAST(floor(1000000.0"
            " * sqrt(CAST(cc div 1000 AS DOUBLE)"
            "        * CAST(cc div 1000 AS DOUBLE)"
            "        + CAST(ss div 1000 AS DOUBLE)"
            "        * CAST(ss div 1000 AS DOUBLE))"
            " / (1000000.0 * n)) AS BIGINT)"
        ).alias("rbar_ppm"),
        F.expr(
            "CAST(floor((CAST(cc div 1000 AS DOUBLE)"
            "            * CAST(cc div 1000 AS DOUBLE)"
            "            + CAST(ss div 1000 AS DOUBLE)"
            "            * CAST(ss div 1000 AS DOUBLE))"
            " / (1000000000000.0 * n)) AS BIGINT)"
        ).alias("rayleigh_z_micro"),
    )


# ---------------------------------------------------------------------------
# events_user_type_entropy — per-user behavioral entropy, corpus summary
# ---------------------------------------------------------------------------


@register(
    "events_user_type_entropy",
    oracle="""
    WITH ut AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(floor(1000000.0 * c * ln(CAST(c AS DOUBLE)))
                  AS BIGINT)) AS BIGINT) AS s_clnc
      FROM ut GROUP BY 1
    ),
    he AS (
      SELECT user_id, n, k,
             CAST(floor(1000000.0 * ln(CAST(n AS DOUBLE))) AS BIGINT)
               - s_clnc // n AS h_micro
      FROM u
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_single_type,
           CAST(sum(h_micro) // count(*) AS BIGINT) AS mean_h_micro,
           CAST(max(h_micro) AS BIGINT) AS max_h_micro,
           CAST(min(h_micro) AS BIGINT) AS min_h_micro
    FROM he
    """,
    doc="Per-user behavioral entropy over event types, summarized "
    "corpus-wide: H_u = ln n_u - (1/n_u) sum c ln c via the exact "
    "c*ln(c) identity, with each user's sum(floor(1e6 * c ln c)) an "
    "exact integer over the <= |type|-cell per-user distribution and "
    "ONE non-negative floor-division per user — the user-level "
    "diversity readout (how specialized is each account's behavior?) "
    "complementing the corpus-level events_entropy_rate (Markov, "
    "sequence-aware) and events_type_cooccurrence. Emits the user "
    "count, single-type (zero-entropy) user count, and mean/max/min "
    "entropy in micro-nats — all integer. Two keyed aggregations, "
    "shuffle keyed by user then a scalar reduce; no windows.",
)
def events_user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    u = ut.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.floor(
                F.lit(1000000.0)
                * F.col("c")
                * F.log(F.col("c").cast("double"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("s_clnc"),
    )
    he = u.select(
        "k",
        (
            F.floor(F.lit(1000000.0) * F.log(F.col("n").cast("double"))).cast(
                "bigint"
            )
            - F.expr("s_clnc div n")
        ).alias("h_micro"),
    )
    return he.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_single_type"),
        F.expr("CAST(sum(h_micro) div count(*) AS BIGINT)").alias(
            "mean_h_micro"
        ),
        F.max("h_micro").cast("bigint").alias("max_h_micro"),
        F.min("h_micro").cast("bigint").alias("min_h_micro"),
    )


# ---------------------------------------------------------------------------
# events_vmr_windows — index-of-dispersion curve across window sizes
# ---------------------------------------------------------------------------


@register(
    "events_vmr_windows",
    oracle="""
    WITH e AS (
      SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec FROM events
      WHERE ts IS NOT NULL
    ),
    sizes AS (
      SELECT unnest([3600, 21600, 86400]) AS w
    ),
    b AS (
      SELECT sizes.w, e.sec // sizes.w AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM e, sizes GROUP BY 1, 2
    ),
    s AS (
      SELECT w, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2
      FROM b GROUP BY 1
    )
    SELECT CAST(w AS BIGINT) AS window_seconds, k AS n_buckets,
           CAST(sc // k AS BIGINT) AS mean_count,
           CAST((1000000000 * (k * sc2 - CAST(sc AS HUGEINT) * sc))
                // (CAST(k - 1 AS HUGEINT) * k * sc) AS BIGINT)
             AS vmr_ppb
    FROM s
    WHERE k > 1
    ORDER BY window_seconds
    """,
    doc="Index-of-dispersion (variance-to-mean ratio, Fano factor) of "
    "event counts at THREE window scales — 1 hour, 6 hours, 1 day — "
    "over occupied buckets: a Poisson process holds VMR = 1 at every "
    "scale, so the VMR-vs-scale CURVE separates burst clustering "
    "(rising) from regular spacing (falling) in a way the single-"
    "scale agg_dispersion_test cannot; the count-domain companion to "
    "events_dfa_alpha's fluctuation exponent. With sample variance "
    "(k*S2 - S^2)/(k(k-1)) and mean S/k, VMR = (k*S2 - S^2)/"
    "((k-1)*S) — ONE exact non-negative integer ratio per scale, ppb "
    "floor-division. The 3-way size expansion happens on the bucket "
    "GRID (3 rollups' worth of cells, never 3x the raw rows "
    "shuffled... the per-(size,bucket) rollup is map-combined). No "
    "windows, no joins beyond the 3-row size scaffold.",
)
def events_vmr_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    e = ev.select(
        F.expr("unix_micros(ts) div 1000000").cast("bigint").alias("sec")
    )
    sizes = (
        table(spark, sf_dir, "events")
        .sparkSession.range(1)
        .select(
            F.explode(
                F.array(F.lit(3600), F.lit(21600), F.lit(86400))
            ).alias("w")
        )
    )
    b = (
        e.crossJoin(F.broadcast(sizes))
        .groupBy("w", F.expr("sec div w").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    s = b.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("c").cast("bigint").alias("sc"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("sc2"),
    )
    return (
        s.filter(F.col("k") > 1)
        .select(
            F.col("w").cast("bigint").alias("window_seconds"),
            F.col("k").alias("n_buckets"),
            F.expr("CAST(sc div k AS BIGINT)").alias("mean_count"),
            F.expr(
                "CAST((1000000000 * (k * sc2 - CAST(sc AS DECIMAL(38,0))"
                " * sc)) div (CAST(k - 1 AS DECIMAL(38,0)) * k * sc)"
                " AS BIGINT)"
            ).alias("vmr_ppb"),
        )
        .orderBy("window_seconds")
    )


# ---------------------------------------------------------------------------
# events_renyi_entropy — entropy spectrum of the event-type distribution
# ---------------------------------------------------------------------------


@register(
    "events_renyi_entropy",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2,
             CAST(max(c) AS BIGINT) AS cmax,
             CAST(sum(CAST(floor(1000000.0 * c * ln(CAST(c AS DOUBLE)))
                  AS BIGINT)) AS BIGINT) AS s_clnc
      FROM c
    )
    SELECT t AS n_events, k AS n_types,
           CAST(floor(1000000.0 * ln(CAST(t AS DOUBLE))) AS BIGINT)
             - s_clnc // t AS shannon_micro,
           CAST(floor(2000000.0 * ln(CAST(t AS DOUBLE))
                      - 1000000.0 * ln(CAST(s2 AS DOUBLE))) AS BIGINT)
             AS renyi2_micro,
           CAST(floor(1000000.0 * ln(CAST(t AS DOUBLE))
                      - 1000000.0 * ln(CAST(cmax AS DOUBLE))) AS BIGINT)
             AS min_entropy_micro
    FROM s
    """,
    doc="Renyi entropy spectrum of the event-type distribution: Shannon "
    "H1 (via the exact c ln c identity), collision entropy H2 = "
    "2 ln T - ln sum(c^2) (the log of the inverse Simpson index — "
    "what a random pair collision measures), and min-entropy "
    "Hinf = ln T - ln max(c) (the worst-case predictability bound "
    "that rate-limits and caching actually experience). H1 >= H2 >= "
    "Hinf always — the spectrum's spread diagnoses how head-heavy "
    "the type mix is in a way one entropy number cannot "
    "(docs_simpson_diversity reports the document-source analogue of "
    "1/exp(H2)). All inputs are exact integers from the bounded type "
    "domain; each entropy is fixed-shape floor-quantized micro-nats. "
    "One type rollup; no windows, no joins.",
)
def events_renyi_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = c.agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("s2"),
        F.max("c").cast("bigint").alias("cmax"),
        F.sum(
            F.floor(
                F.lit(1000000.0)
                * F.col("c")
                * F.log(F.col("c").cast("double"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("s_clnc"),
    )
    return s.select(
        F.col("t").alias("n_events"),
        F.col("k").alias("n_types"),
        (
            F.floor(F.lit(1000000.0) * F.log(F.col("t").cast("double"))).cast(
                "bigint"
            )
            - F.expr("s_clnc div t")
        )
        .cast("bigint")
        .alias("shannon_micro"),
        F.expr(
            "CAST(floor(2000000.0 * ln(CAST(t AS DOUBLE))"
            " - 1000000.0 * ln(CAST(s2 AS DOUBLE))) AS BIGINT)"
        ).alias("renyi2_micro"),
        F.expr(
            "CAST(floor(1000000.0 * ln(CAST(t AS DOUBLE))"
            " - 1000000.0 * ln(CAST(cmax AS DOUBLE))) AS BIGINT)"
        ).alias("min_entropy_micro"),
    )


# ---------------------------------------------------------------------------
# events_distribution_drift — first-half vs second-half type-mix shift
# ---------------------------------------------------------------------------


@register(
    "events_distribution_drift",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events WHERE ts IS NOT NULL
    ),
    span AS (
      SELECT CAST(min(day) + (max(day) - min(day)) // 2 AS BIGINT)
        AS split_day
      FROM e
    ),
    c AS (
      SELECT event_type,
             CAST(sum(CASE WHEN day <= split_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(sum(CASE WHEN day > split_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM e, span GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c2) AS BIGINT) AS t2
      FROM c
    )
    SELECT c.event_type AS event_type, c.c1 AS n_first, c.c2 AS n_second,
           CAST((1000000 * c.c1) // t.t1 AS BIGINT) AS share1_ppm,
           CAST((1000000 * c.c2) // t.t2 AS BIGINT) AS share2_ppm,
           CAST(CASE WHEN CAST(c.c2 AS HUGEINT) * t.t1
                          >= CAST(c.c1 AS HUGEINT) * t.t2
                     THEN 1 ELSE -1 END AS BIGINT) AS drift_sign,
           CAST((1000000000 * abs(CAST(c.c2 AS HUGEINT) * t.t1
                                  - CAST(c.c1 AS HUGEINT) * t.t2))
                // (CAST(t.t1 AS HUGEINT) * t.t2) AS BIGINT)
             AS drift_abs_ppb
    FROM c, t
    ORDER BY event_type
    """,
    doc="Distribution drift of the event-type mix between the first and "
    "second halves of the observed time span (split at the midpoint "
    "of the day domain — exact integer arithmetic on epoch days): "
    "per-type share change, sign-split to exact cross-multiplied ppb "
    "|c2 t1 - c1 t2|/(t1 t2) — summing these halves gives total-"
    "variation distance. This is the SCHEMA-LEVEL drift monitor a "
    "training-data pipeline runs between snapshots (the corpus "
    "analogue of agg_hellinger_distance on fixed cohorts; "
    "events_mosum_changepoint watches volume, this watches "
    "composition). One map-combined type x half rollup after a 1-row "
    "span broadcast; no windows.",
)
def events_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    e = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("day"),
    )
    span = e.agg(
        F.expr(
            "CAST(min(day) + (max(day) - min(day)) div 2 AS BIGINT)"
        ).alias("split_day")
    )
    c = (
        e.crossJoin(F.broadcast(span))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("split_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("day") > F.col("split_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    t = c.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c2").cast("bigint").alias("t2"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "event_type",
            F.col("c1").alias("n_first"),
            F.col("c2").alias("n_second"),
            F.expr("CAST((1000000 * c1) div t1 AS BIGINT)").alias(
                "share1_ppm"
            ),
            F.expr("CAST((1000000 * c2) div t2 AS BIGINT)").alias(
                "share2_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN CAST(c2 AS DECIMAL(38,0)) * t1"
                " >= CAST(c1 AS DECIMAL(38,0)) * t2 THEN 1 ELSE -1 END"
                " AS BIGINT)"
            ).alias("drift_sign"),
            F.expr(
                "CAST((1000000000 * abs(CAST(c2 AS DECIMAL(38,0)) * t1"
                " - CAST(c1 AS DECIMAL(38,0)) * t2))"
                " div (CAST(t1 AS DECIMAL(38,0)) * t2) AS BIGINT)"
            ).alias("drift_abs_ppb"),
        )
        .orderBy("event_type")
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
