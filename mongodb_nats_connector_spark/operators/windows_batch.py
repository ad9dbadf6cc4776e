"""Event-time window aggregations, batch-checkable form.

The same window specs run as Structured Streaming queries in
streaming/windows.py (with watermarks); here they run in batch mode over the
`events` table so the DuckDB oracle can verify the window assignment and
aggregation semantics exactly. Spark's `window`/`session_window` functions
behave identically in batch and streaming — only triggers/watermarks differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.plans.hints import maybe_broadcast
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY window_start, event_type
    """,
    doc="Tumbling 1-hour event-time window aggregation "
    "(groupBy(window(ts, '1 hour'))). NULL event times carry no window "
    "assignment: Spark's window() drops them silently, so both engines "
    "filter them explicitly — the guard keeps the semantics "
    "engine-independent instead of leaning on that implicit drop.",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@register(
    "stream_sliding_window",
    oracle="""
    WITH timed AS (
      SELECT ts, value FROM events WHERE ts IS NOT NULL
    ), assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM timed
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
               AS window_start, value
      FROM timed
    )
    SELECT window_start, count(*) AS n, round(sum(value), 2) AS total_value
    FROM assigned GROUP BY window_start
    """,
    doc="Sliding window (1 h length, 30 min slide): each event lands in "
    "exactly two windows; the oracle materializes the same assignment with a "
    "dual-bucket union. NULL event times are filtered on both engines "
    "(Spark's window() would drop them implicitly).",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@register(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events WHERE ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Session windows (10-minute gap) per user via session_window(); the "
    "oracle reproduces gap-merge semantics with lag + cumulative-sum "
    "sessionization. Streaming variant (with watermark + state store) in "
    "streaming/windows.py. NULL event times are filtered on both engines "
    "(session_window() would drop them implicitly; the oracle's lag-order "
    "would otherwise place them engine-dependently).",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


@register(
    "window_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new,
             event_id, value
      FROM events WHERE ts IS NOT NULL
    ), sessions AS (
      SELECT user_id, ts, event_id, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           round(sum(value), 2) AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Batch sessionization (gaps-and-islands): lag to mark session "
    "boundaries at >30 min inactivity, running sum to number sessions, "
    "then per-session stats. Two window passes over ONE partitioning "
    "(user_id) — a single shuffle; the batch analogue of "
    "session_window(ts, '30 minutes') and the standard formulation when "
    "session ids must be stable/joinable downstream. NULL event times are "
    "filtered on both engines: Spark orders NULLs first, DuckDB last, so "
    "an unguarded ordered window would sessionize them differently.",
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros keeps exact sub-second precision as int64: the boundary
    # comparison must match the oracle's microsecond-exact interval
    # arithmetic (whole-second or double truncation misclassifies gaps
    # within ~1s of the 30-minute boundary)
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(order)
    marked = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = marked.withColumn("session_id", F.sum("is_new").over(run).cast("bigint"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 13
                     ELSE 1 + floor(o_totalprice / 50000) END AS INT) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY bucket
    """,
    doc="Fixed-width histogram via width_bucket: single map-side-combinable "
    "aggregation — the at-scale way to get a distribution sketch without "
    "sorting.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket", F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12))
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "window_time_range_rolling",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           round(avg(value) OVER w, 4) AS avg_last_hour
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="Time-interval RANGE frame: per user, rolling one-hour count and "
    "average ordered by event time — the sliding-aggregate shape tumbling "
    "windows can't express (every row gets ITS OWN trailing hour). Ordering "
    "key is epoch MICROSECONDS on both engines so frame boundaries match "
    "exactly; NULL-ts rows are filtered on both engines (a NULL ordering "
    "key sorts first in Spark, last in DuckDB, and its RANGE frame is "
    "engine-defined). One shuffle on user_id; frames evaluate in a single "
    "sorted pass per partition, so the plan is the same at any event "
    "volume.",
)
def window_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_last_hour"),
        F.round(F.avg("value").over(w), 4).alias("avg_last_hour"),
    )


@register(
    "events_scd2_intervals",
    oracle="""
    SELECT user_id, event_id,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           round(value, 4) AS value,
           CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM events WHERE ts IS NOT NULL
    """,
    doc="SCD-type-2 interval construction: each user's event history becomes "
    "versioned rows with [valid_from, valid_to) ranges and an is_current "
    "flag — the lakehouse dimension-building step downstream of CDC apply. "
    "NULL-ts rows are filtered on both engines (Spark orders NULLs first, "
    "DuckDB last — lead() neighbors and the is_current flag would "
    "differ). One lead() window per user_id partition (ties broken by "
    "event_id), single shuffle, sorted pass; identical plan at any "
    "history length.",
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.round("value", 4).alias("value"),
        valid_to.isNull().cast("bigint").alias("is_current"),
    )


@register(
    "orders_running_share",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT month, revenue,
           round(sum(revenue) OVER (ORDER BY month), 2) AS running_total,
           round(revenue / sum(revenue) OVER (), 6) AS share_of_total
    FROM daily
    """,
    doc="Running totals + share-of-total: monthly revenue with a cumulative "
    "window and each month's fraction of the grand total. The base "
    "aggregate shrinks the data to one row per month BEFORE the windows, "
    "so the unpartitioned frames run over a month-count-sized relation — "
    "the right order of operations at any fact-table size (windowing the "
    "raw facts first would serialize the corpus through one task). "
    "NULL order dates are filtered on both engines: a NULL month would "
    "sort first in Spark's running frame but last in DuckDB's.",
)
def orders_running_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    running = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.partitionBy()
    return daily.select(
        "month",
        "revenue",
        F.round(F.sum("revenue").over(running), 2).alias("running_total"),
        F.round(F.col("revenue") / F.sum("revenue").over(total), 6).alias(
            "share_of_total"
        ),
    )


@register(
    "stream_interval_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           -- integer micros division, NOT date_diff('second', ...): that
           -- counts second-boundary crossings, while this is the floored
           -- elapsed time (matches Spark's arithmetic exactly)
           CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT)
             AS secs_before
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    """,
    doc="Batch-checkable form of the stream-stream interval join "
    "(streaming form + exact stream-vs-batch equivalence in "
    "tests/test_streaming.py::test_stream_stream_interval_join): each "
    "purchase joins the same user's clicks from the preceding hour. The "
    "equi key (user_id) carries the hash join; the interval rides as a "
    "post-filter — never a nested loop. In the streaming form the interval "
    "bound is what lets the watermark GC both sides' state, solving the "
    "unbounded stream-stream join problem.",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
    )
    return p.join(c, cond).select(
        "user_id",
        "purchase_id",
        "click_id",
        F.floor(
            (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("secs_before"),
    )


@register(
    "stream_interval_join_outer",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           CASE WHEN c.event_id IS NULL THEN NULL
                ELSE CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT)
                END AS secs_before
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    """,
    doc="Batch-checkable form of the LEFT OUTER stream-stream interval join "
    "(streaming form + equivalence in tests/test_streaming.py::"
    "test_stream_stream_interval_join_left_outer): purchases with no click "
    "in the preceding hour survive with a NULL click. In the streaming form "
    "this is the semantics only a watermark can deliver — the null row may "
    "only be emitted once the watermark proves no matching click can still "
    "arrive, so state stays bounded AND the anti-join half is correct. Plan "
    "shape is identical to the inner form: user_id hash join, interval as "
    "post-filter.",
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
    )
    return p.join(c, cond, "left").select(
        "user_id",
        "purchase_id",
        "click_id",
        F.when(
            F.col("click_id").isNotNull(),
            F.floor(
                (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
                / F.lit(1_000_000)
            ).cast("bigint"),
        ).alias("secs_before"),
    )


FUNNEL_RE = "signup.*purchase"


@register(
    "window_pattern_match",
    oracle=f"""
    WITH seqs AS (
      SELECT user_id,
             count(*) AS n_events,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(CASE WHEN regexp_matches(seq, '{FUNNEL_RE}')
                THEN 1 ELSE 0 END AS BIGINT) AS converted,
           CAST(length(seq) - length(replace(seq, 'purchase', ''))
                AS BIGINT) / 8 AS n_purchases
    FROM seqs
    """,
    doc="MATCH_RECOGNIZE-lite sequence pattern match: per-user event-type "
    f"sequences (ordered by ts within the key — no global sort) tested "
    f"against the funnel regex '{FUNNEL_RE}'. One shuffle on user_id; "
    "collect_list+sort_array keeps ordering deterministic under ties via "
    "the (ts, event_id) sort key. The streaming analogue is "
    "streaming/windows.py:funnel_conversions — O(1) automaton state per "
    "key instead of a sequence buffer, equivalence-tested against this "
    "query.",
)
def window_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x.event_type,
            ),
            ">",
        ).alias("seq"),
    )
    n_purch = (
        F.length("seq") - F.length(F.regexp_replace("seq", "purchase", ""))
    ).cast("bigint") / F.lit(8)
    return seqs.select(
        "user_id",
        "n_events",
        F.when(F.col("seq").rlike(FUNNEL_RE), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("converted"),
        n_purch.alias("n_purchases"),
    )


@register(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment,
           e.event_type, round(e.value, 4) AS value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
    doc="Stream-static dimension enrich, batch-checkable form: events join "
    "the customer dimension on user_id with a size-gated broadcast hint — "
    "the shape Structured Streaming executes per micro-batch with zero stream "
    "shuffle (stream-static joins never repartition the stream side when "
    "the static side broadcasts). The streaming mirror is covered by the "
    "streaming suite's stream-vs-batch equivalence test.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    return ev.join(maybe_broadcast(c), ev.user_id == c.c_custkey).select(
        "event_id",
        "user_id",
        "c_name",
        "c_mktsegment",
        "event_type",
        F.round("value", 4).alias("value"),
    )


TOPK_PER_WINDOW = 3


@register(
    "stream_window_topk",
    oracle=f"""
    WITH w AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, CAST(n AS BIGINT) AS n,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY window_start ORDER BY n DESC, event_type) AS rn
      FROM w
    ) WHERE rn <= {TOPK_PER_WINDOW}
    """,
    doc=f"Windowed top-{TOPK_PER_WINDOW}: tumbling 1-hour windows, event "
    "types ranked by count within each window, rank filter rewritten to "
    "WindowGroupLimit (per-task pre-pruning). In streaming this runs as a "
    "foreachBatch top-k over the watermarked windowed aggregate — the "
    "aggregation state is the same tumbling-window state the streaming "
    "suite already exercises.",
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    rank_w = Window.partitionBy("w").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rn") <= TOPK_PER_WINDOW)
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# window_rolling_median — exact trailing-frame median per key
# ---------------------------------------------------------------------------

ROLL_FRAME = 6  # trailing 7-row frame (6 preceding + current)


@register(
    "window_rolling_median",
    oracle=f"""
    SELECT user_id, event_id,
           round(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {ROLL_FRAME} PRECEDING AND CURRENT ROW), 6)
             AS rolling_median
    FROM events
    WHERE user_id < 25 AND ts IS NOT NULL
    """,
    doc="Exact rolling median (robust smoother for metric streams): per "
    "user, the interpolated median of the trailing 7-row frame. Spark's "
    "percentile(value, 0.5) as a frame-bounded window aggregate matches "
    "DuckDB's median() (both interpolate the even-count midpoint). One "
    "window shuffle on the partition key; the frame is O(1) rows so state "
    "per row is constant — the shape survives any fact-table scale, and "
    "the user_id pushdown predicate reaches the parquet scan.",
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts guard on both engines (Spark NULLS FIRST asc vs DuckDB LAST
    # would put such rows in different frames).
    ev = table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 25) & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ROLL_FRAME, 0)
    )
    med = F.expr("percentile(value, 0.5)").over(w)
    return ev.select(
        "user_id", "event_id", F.round(med, 6).alias("rolling_median")
    )
