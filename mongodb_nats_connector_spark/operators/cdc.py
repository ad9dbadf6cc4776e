"""CDC operator surface — the reference connector's semantics, batch-checkable.

The reference pipeline (internal/mongo/client.go:177-266) is: change-event
scan -> op-type filter (client.go:33-38,231-237) -> subject derivation
`<STREAM>.<operationType>` (client.go:239) -> serialize (client.go:222) ->
publish keyed by resume token (internal/nats/client.go:124) -> offset commit
(client.go:248-254).

These queries express each step over the driver's `events` table, treating
`event_id` as the resume token and `event_type` as the operation type, so the
DuckDB oracle can check them. The true streaming pipeline (same operators on
an unbounded stream + checkpointing) lives in streaming/pipeline.py and is
exercised by tests/test_cdc_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# events stand-in for publishable op types: 4 of the 5 event_types are
# "publishable", `error` plays the role of drop/rename/invalidate (filtered
# out, never published — drop_test.go:32-42).
PUBLISHABLE_EVENT_TYPES = ("click", "purchase", "signup", "view")
STREAM_NAME = "EVENTS"  # default stream naming: UPPER(coll) (connector.go:337)


@register(
    "cdc_filter_publishable",
    oracle="""
    SELECT event_id, event_type, ts, user_id
    FROM events
    WHERE event_type IN ('click', 'purchase', 'signup', 'view')
    """,
    doc="O5 op-type filter: set-membership predicate, pushed to the scan "
    "(internal/mongo/client.go:33-38,231-237).",
)
def cdc_filter_publishable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*PUBLISHABLE_EVENT_TYPES))
        .select("event_id", "event_type", "ts", "user_id")
    )


@register(
    "cdc_subject_route",
    oracle="""
    SELECT 'EVENTS' || '.' || event_type AS subject, count(*) AS n_messages
    FROM events
    WHERE event_type IN ('click', 'purchase', 'signup', 'view')
    GROUP BY subject
    """,
    doc="O8 computed routing column: subject = stream || '.' || opType "
    "(internal/mongo/client.go:239), aggregated per subject.",
)
def cdc_subject_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*PUBLISHABLE_EVENT_TYPES))
        .withColumn("subject", F.concat(F.lit(STREAM_NAME), F.lit("."), F.col("event_type")))
        .groupBy("subject")
        .agg(F.count(F.lit(1)).alias("n_messages"))
    )


@register(
    "cdc_dedup_by_key",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE ts IS NOT NULL
    ) WHERE rn = 1
    """,
    doc="O9/Nats-Msg-Id dedup generalized: keep the first event per key — "
    "deterministic dropDuplicates via row_number (the consumer-side dedup "
    "the reference delegates to NATS, internal/nats/client.go:124). NULL "
    "event times are filtered on both engines: Spark orders NULLs first, "
    "DuckDB last, which would flip which event counts as 'first'.",
)
def cdc_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


@register(
    "cdc_latest_offset",
    oracle="""
    SELECT event_id AS resume_token, ts AS token_ts
    FROM events ORDER BY event_id DESC LIMIT 1
    """,
    doc="O2 offset recovery: newest stored token via sort-desc + limit 1 "
    "(internal/mongo/client.go:186-199). Spark plans TakeOrderedAndProject — "
    "no global sort.",
)
def cdc_latest_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .orderBy(F.desc("event_id"))
        .limit(1)
        .select(F.col("event_id").alias("resume_token"), F.col("ts").alias("token_ts"))
    )


@register(
    "cdc_serialize_envelope",
    oracle="""
    SELECT event_id AS msg_id,
           'EVENTS' || '.' || event_type AS subject,
           '{"event_id":' || CAST(event_id AS VARCHAR)
             || ',"event_type":"' || event_type
             || '","user_id":' || CAST(user_id AS VARCHAR) || '}' AS data
    FROM events
    WHERE event_type IN ('click', 'purchase', 'signup', 'view')
    """,
    doc="O7 serialization transform: envelope -> JSON message body with "
    "subject + idempotency key (internal/mongo/client.go:222-239). Built by "
    "deterministic concat so the oracle is byte-identical; to_json round-trip "
    "fidelity is covered in tests/test_cdc_pipeline.py.",
)
def cdc_serialize_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(*PUBLISHABLE_EVENT_TYPES)
    )
    data = F.concat(
        F.lit('{"event_id":'),
        F.col("event_id").cast("string"),
        F.lit(',"event_type":"'),
        F.col("event_type"),
        F.lit('","user_id":'),
        F.col("user_id").cast("string"),
        F.lit("}"),
    )
    return ev.select(
        F.col("event_id").alias("msg_id"),
        F.concat(F.lit(STREAM_NAME), F.lit("."), F.col("event_type")).alias("subject"),
        data.alias("data"),
    )


@register(
    "cdc_apply_latest",
    oracle="""
    SELECT user_id, event_type AS last_event_type, value AS last_value, ts AS last_ts
    FROM (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="CDC state materialization (MERGE INTO emulation): replay the ordered "
    "event log and keep the newest row per key — the batch form of applying "
    "a change stream to a table. One shuffle on the key; at scale this is "
    "the standard upsert-compaction pattern (no Delta required).",
)
def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return latest_state_per_key(ev)


def latest_state_per_key(ev: DataFrame) -> DataFrame:
    """Newest row per user_id (ts DESC, event_id DESC tiebreak) projected to
    the materialized-state schema. The upsert-compaction core shared by
    ``cdc_apply_latest`` (full log) and ``cdc_apply_asof`` (log pre-filtered
    to a snapshot ts): one shuffle on the key; Catalyst rewrites the
    rank-1 filter to WindowGroupLimit so each map task keeps one candidate
    row per key before shuffling."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.col("ts").alias("last_ts"),
        )
    )


@register(
    "cdc_payload_variant",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'$.k' AS INT)) AS INT)    AS max_k
    FROM events GROUP BY event_type
    """,
    doc="Schemaless payload via Spark 4 VariantType: parse_json the opaque "
    "props blob once into a variant column, then typed variant_get "
    "extraction — the engine-native way to carry the reference's "
    "schemaless fullDocument (internal/mongo/client.go:222, SURVEY.md "
    "§1.2) without committing to a schema at ingest. Unlike per-query "
    "get_json_object, the variant encodes once and every later extraction "
    "is a binary field read — the 100 TB answer to JSON-heavy scans.",
)
def cdc_payload_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = ev.withColumn("pv", F.parse_json("props"))
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.variant_get("pv", "$.k", "int")).cast("bigint").alias("sum_k"),
        F.max(F.variant_get("pv", "$.k", "int")).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# merge_upsert_snapshot — MERGE (upsert + delete + insert) semantics
# ---------------------------------------------------------------------------

# insert keys shift past the snapshot's max key (computed from the data,
# never a constant: a fixed shift collides with real o_orderkey values at
# large scale factors and would silently overwrite unrelated orders)


@register(
    "merge_upsert_snapshot",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
      FROM orders
    ), changes AS (
      SELECT o_orderkey AS key,
             CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
             'UPDATED' AS status, round(o_totalprice + 100.0, 2) AS total
      FROM orders WHERE o_orderkey % 10 < 3
      UNION ALL
      SELECT o_orderkey + mx.shift, 'I', 'NEW',
             round(o_totalprice, 2)
      FROM orders, (SELECT max(o_orderkey) + 1 AS shift FROM orders) mx
      WHERE o_orderkey % 10 = 7
    )
    SELECT coalesce(b.o_orderkey, c.key) AS o_orderkey,
           CASE WHEN c.op IN ('U', 'I') THEN c.status
                ELSE b.o_orderstatus END AS o_orderstatus,
           CASE WHEN c.op IN ('U', 'I') THEN c.total
                ELSE b.o_totalprice END AS o_totalprice
    FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.key
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
    doc="MERGE INTO semantics (the Delta/Iceberg upsert shape) expressed "
    "as one full-outer join: a change batch of updates (keys %10 in 1..2), "
    "deletes (%10 = 0) and inserts (%10 = 7 keys shifted past the snapshot max — disjoint at every scale factor by construction) applies "
    "onto the orders snapshot — matched+U rewrites, matched+D drops, "
    "unmatched+I appends, untouched rows pass through. The join is "
    "co-partitioned on the natural key (both sides shuffle once; AQE "
    "handles skew), which is exactly how table-format MERGE executes at "
    "100 TB — no broadcast, no driver-side diffing. Change-capture "
    "semantics mirror the reference's insert/update/delete event model "
    "(reference: internal/mongo/watcher.go operationType handling).",
)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    src = o.filter(F.col("o_orderkey") % 10 < 3).select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("op"),
        F.lit("UPDATED").alias("status"),
        F.round(F.col("o_totalprice") + 100.0, 2).alias("total"),
    )
    mx = o.agg((F.max("o_orderkey") + 1).alias("shift"))
    ins = (
        o.filter(F.col("o_orderkey") % 10 == 7)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_orderkey") + F.col("shift")).alias("key"),
            F.lit("I").alias("op"),
            F.lit("NEW").alias("status"),
            F.round("o_totalprice", 2).alias("total"),
        )
    )
    changes = src.unionAll(ins)
    merged = base.join(changes, base["o_orderkey"] == changes["key"], "full_outer")
    upserted = F.col("op").isin("U", "I")
    return merged.filter(F.col("op").isNull() | (F.col("op") != "D")).select(
        F.coalesce(base["o_orderkey"], F.col("key")).alias("o_orderkey"),
        F.when(upserted, F.col("status"))
        .otherwise(base["o_orderstatus"])
        .alias("o_orderstatus"),
        F.when(upserted, F.col("total"))
        .otherwise(base["o_totalprice"])
        .alias("o_totalprice"),
    )


# ---------------------------------------------------------------------------
# cdc_apply_asof — point-in-time snapshot reconstruction (time travel)
# ---------------------------------------------------------------------------

ASOF_SNAPSHOT_TS = "2024-01-16 00:00:00"


@register(
    "cdc_apply_asof",
    oracle=f"""
    SELECT user_id, event_type AS last_event_type, value AS last_value,
           ts AS last_ts
    FROM (
      SELECT user_id, event_type, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts <= TIMESTAMP '{ASOF_SNAPSHOT_TS}'
    ) WHERE rn = 1
    """,
    doc="Point-in-time state reconstruction (time travel): replay the change "
    "log only up to a snapshot timestamp and keep the newest row per key — "
    "the as-of-T companion to ``cdc_apply_latest``, answering 'what did the "
    "collection look like at T?' from the same event log the connector "
    "publishes (reference semantics: the NATS stream IS the replayable "
    "log; internal/mongo/client.go:211). The ts predicate reaches the "
    "parquet scan (time-partitioned logs prune whole files), then one "
    "shuffle on the key — identical cost shape to latest-state compaction "
    "at any scale.",
)
def cdc_apply_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.cdc import latest_state_per_key

    ev = table(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit(ASOF_SNAPSHOT_TS).cast("timestamp")
    )
    return latest_state_per_key(ev)


# ---------------------------------------------------------------------------
# cdc_offset_gap_detect — per-subject offset-sequence continuity audit
# ---------------------------------------------------------------------------


@register(
    "cdc_offset_gap_detect",
    oracle="""
    WITH seq AS (
      SELECT event_type, event_id,
             lag(event_id) OVER (PARTITION BY event_type
                                 ORDER BY event_id) AS prev_id
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(CASE WHEN event_id - prev_id > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gaps,
           CAST(max(event_id - prev_id - 1) AS BIGINT) AS max_gap,
           CAST(sum(CASE WHEN prev_id IS NOT NULL
                         THEN event_id - prev_id - 1 ELSE 0 END)
                AS BIGINT) AS missing_between,
           CAST(max(event_id) AS BIGINT) AS last_offset
    FROM seq GROUP BY event_type
    """,
    doc="Offset-sequence continuity audit, per subject: the check a "
    "change-stream consumer runs to prove it missed nothing. Events carry a "
    "globally monotone id (the resume-token analogue); within each "
    "subject's stream (subject = event_type, mirroring the connector's "
    "per-collection subject routing, internal/server/connector.go "
    "DefaultSubjectFn) the audit reports gap count, widest gap, total ids "
    "skipped between consecutive deliveries, and the last committed "
    "offset. Gaps between subjects are EXPECTED (other subjects' ids); a "
    "consumer compares missing_between across its own subscription set to "
    "detect real loss. The window partitions by subject — exactly the "
    "parallelism the connector's per-collection ordering guarantee "
    "provides, so no global sort exists at any scale.",
)
def cdc_offset_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    seq = ev.select(
        "event_type",
        "event_id",
        F.lag("event_id").over(w).alias("prev_id"),
    )
    delta = F.col("event_id") - F.col("prev_id")
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        F.sum(F.when(delta > 1, 1).otherwise(0)).cast("bigint").alias("n_gaps"),
        F.max(delta - 1).cast("bigint").alias("max_gap"),
        F.sum(
            F.when(F.col("prev_id").isNotNull(), delta - 1).otherwise(0)
        )
        .cast("bigint")
        .alias("missing_between"),
        F.max("event_id").cast("bigint").alias("last_offset"),
    )


# ---------------------------------------------------------------------------
# cdc_out_of_order_audit — delivery-order lateness profile per subject
# ---------------------------------------------------------------------------


@register(
    "cdc_out_of_order_audit",
    oracle="""
    WITH seq AS (
      SELECT event_type, event_id, epoch_us(ts) AS ts_us,
             max(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_us
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_msgs,
           CAST(sum(CASE WHEN ts_us < prev_max_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
           round(sum(CASE WHEN ts_us < prev_max_us THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS late_share,
           CAST(max(CASE WHEN ts_us < prev_max_us
                         THEN prev_max_us - ts_us END) AS BIGINT)
             AS max_lateness_us,
           CAST(sum(CASE WHEN ts_us < prev_max_us
                         THEN prev_max_us - ts_us ELSE 0 END) AS BIGINT)
             AS total_lateness_us
    FROM seq GROUP BY event_type
    """,
    doc="Out-of-order delivery audit per subject: within each event_type's "
    "stream (delivery order = the monotone event_id, mirroring the "
    "connector's per-collection publish order), count events whose "
    "event TIME regressed below the running max — i.e. late data — and "
    "report the worst and total lateness. This is the measurement that "
    "CALIBRATES a streaming watermark: max_lateness_us is exactly the "
    "delay bound withWatermark needs to avoid dropping rows "
    "(streaming/windows.py). Window partitions per subject, so no global "
    "sort exists; integer micros end-to-end.",
)
def cdc_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    ).withColumn("prev_max_us", F.max("ts_us").over(w))
    late = F.col("ts_us") < F.col("prev_max_us")
    lateness = F.col("prev_max_us") - F.col("ts_us")
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_msgs"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_late"),
        F.round(
            F.sum(F.when(late, 1).otherwise(0)) * 1.0 / F.count(F.lit(1)), 6
        ).alias("late_share"),
        F.max(F.when(late, lateness)).cast("bigint").alias("max_lateness_us"),
        F.sum(F.when(late, lateness).otherwise(0))
        .cast("bigint")
        .alias("total_lateness_us"),
    )
