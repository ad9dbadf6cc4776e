"""Streaming window/stateful operators over an events-shaped stream.

These are the true Structured Streaming forms of the batch-checkable queries
in operators/windows_batch.py: same window semantics, plus watermarks for
late-data handling and state cleanup. The reference connector itself never
needed event-time windows (change streams are totally ordered by resume
token, SURVEY.md §2.2) — these generalize its offset/dedup machinery to
event-time processing, per the engine's declared streaming surface
(SURVEY.md §2.3).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState

EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def tumbling_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 1-hour windows; watermark bounds state + drops late data."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


def session_counts(
    stream: DataFrame, gap: str = "10 minutes", watermark: str | None = None
) -> DataFrame:
    """Session windows per user (gap-merged); state store holds open sessions
    until the watermark closes them. The watermark defaults to the gap so a
    caller-supplied non-default gap keeps late-data semantics consistent
    (pass ``watermark`` explicitly to allow more lateness than the gap)."""
    return (
        stream.withWatermark("ts", watermark or gap)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events", "session_value"
        )
    )


def dedup_within_watermark(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup by event id — the generalized Nats-Msg-Id consumer
    dedup window (internal/nats/client.go:124): duplicates arriving within
    the watermark horizon are dropped, state is GC'd past it."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


# --- stateful per-key processing: the reference's offset-commit logic (O10)
#     generalized to arbitrary keys via applyInPandasWithState ---

OFFSET_STATE_SCHEMA = "max_event_id BIGINT, n_events BIGINT"
OFFSET_OUTPUT_SCHEMA = "user_id BIGINT, max_event_id BIGINT, n_events BIGINT"


def _track_offsets(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user resume-token tracking: keep the max event id seen + a count,
    exactly the connector's 'newest stored token' semantics
    (internal/mongo/client.go:186-199) but per key and fault-tolerant via the
    state store instead of a Mongo collection."""
    (user_id,) = key
    if state.exists:
        max_id, n = state.get
    else:
        max_id, n = -1, 0
    for pdf in pdfs:
        if len(pdf):
            max_id = max(max_id, int(pdf["event_id"].max()))
            n += len(pdf)
    state.update((max_id, n))
    yield pd.DataFrame(
        {"user_id": [user_id], "max_event_id": [max_id], "n_events": [n]}
    )


def per_key_offsets(stream: DataFrame) -> DataFrame:
    """groupBy(user).applyInPandasWithState — emits the current offset row
    for each key touched in the micro-batch."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _track_offsets,
            outputStructType=OFFSET_OUTPUT_SCHEMA,
            stateStructType=OFFSET_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


# --- stateful funnel pattern matching: the streaming analogue of the batch
#     window_pattern_match query (operators/mining5.py) ---

FUNNEL_STATE_SCHEMA = (
    "signup_us BIGINT, signup_id BIGINT, "
    "purchase_us BIGINT, purchase_id BIGINT, n_events BIGINT"
)
FUNNEL_OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, converted BIGINT"


def _funnel_state(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Order-insensitive 'signup then purchase' detection with O(1) state:
    instead of buffering the per-user event sequence (unbounded at 100 TB)
    the state holds only the EARLIEST signup and LATEST purchase as
    (epoch_us, event_id) tuples — the pattern matched iff the latest
    purchase sorts after the earliest signup under the same (ts, event_id)
    order the batch regex uses. Late/out-of-order events fold in correctly
    because min/max commute with arrival order."""
    (user_id,) = key
    if state.exists:
        s_us, s_id, p_us, p_id, n = state.get
    else:
        s_us, s_id, p_us, p_id, n = None, None, None, None, 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        us = (pdf["ts"].astype("datetime64[us]").astype("int64")).to_numpy()
        ids = pdf["event_id"].to_numpy()
        types = pdf["event_type"].to_numpy()
        for t, i, ty in zip(us, ids, types):
            t, i = int(t), int(i)
            if ty == "signup" and (s_us is None or (t, i) < (s_us, s_id)):
                s_us, s_id = t, i
            elif ty == "purchase" and (p_us is None or (t, i) > (p_us, p_id)):
                p_us, p_id = t, i
    state.update((s_us, s_id, p_us, p_id, n))
    converted = int(
        s_us is not None and p_us is not None and (p_us, p_id) > (s_us, s_id)
    )
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "converted": [converted]}
    )


def funnel_conversions(stream: DataFrame) -> DataFrame:
    """groupBy(user).applyInPandasWithState funnel detector — emits the
    current (n_events, converted) row for each key touched in the batch."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _funnel_state,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def hll_register_stream(stream: DataFrame) -> DataFrame:
    """Streaming HyperLogLog register merge over an events-shaped stream.

    Register update is max-per-(cohort, bucket) — idempotent and
    commutative — so micro-batch order, retries, and at-least-once replay
    all converge to the identical register table (and therefore the
    identical estimate) as the batch ``agg_hll_registers`` computed over
    the same rows: the sketch IS the streaming state, m registers per
    cohort, O(m) forever. Run in complete output mode; the downstream
    estimate math is batch code applied to the memorized register table.
    """
    from mongodb_nats_connector_spark.operators.graph_common import (
        hll_reg_rows,
    )

    return (
        hll_reg_rows(stream)
        .groupBy("cohort", "bucket")
        .agg(F.max("rho").alias("r"))
    )


def latest_state_stream(stream: DataFrame) -> DataFrame:
    """Streaming materialized latest-state view over an events-shaped
    change stream — the continuously-maintained form of the batch
    ``cdc_apply_latest`` compaction (operators/cdc.py:latest_state_per_key,
    reference semantics: applying the connector's published change log
    back into a table; internal/mongo/client.go:211).

    State update is max_by keyed on (ts, event_id) — idempotent and
    commutative, so micro-batch order, retries, and at-least-once replay
    all converge to the identical per-key newest row the batch window
    computes over the same rows. State is one row per live key, O(keys)
    forever; run in update mode for a changelog sink or complete mode for
    a table sink. The ts DESC, event_id DESC tiebreak matches the batch
    operator exactly (stream-vs-batch equality pinned in tests).
    """
    newest = F.max_by(
        F.struct("event_type", "value", "ts"),
        F.struct("ts", "event_id"),
    )
    return (
        stream.groupBy("user_id")
        .agg(newest.alias("s"))  # ONE aggregate: per-key state is 1 struct
        .select(
            "user_id",
            F.col("s.event_type").alias("last_event_type"),
            F.col("s.value").alias("last_value"),
            F.col("s.ts").alias("last_ts"),
        )
    )


def moment_state_stream(
    stream: DataFrame, *, dedup_watermark: str
) -> DataFrame:
    """Streaming sufficient-statistics state per event type — the
    continuously-maintained (n, sum, sum-of-squares) every control-chart /
    z-score / effect-size readout derives from (the batch siblings:
    orders_shewhart_control, events_effect_size, agg_dispersion_test).

    Counting aggregations are NOT replay-idempotent on their own (an
    at-least-once duplicate double-counts where a max-merge would absorb
    it), so the state sits behind an event_id
    dropDuplicatesWithinWatermark bounded by ``dedup_watermark`` — the
    same watermarked form as dedup_within_watermark, applied INSIDE the
    helper so production callers cannot silently get unbounded dedup
    state. ``dedup_watermark`` is a REQUIRED keyword (no default): the
    horizon trades replay-idempotency for state size, so each caller must
    consciously size it to its replay window — duplicates arriving beyond
    the horizon double-count into the moments. Duplicates replayed within the horizon are absorbed: with
    that dedup, micro-batch order, retries, and overlapping replays all
    converge to the identical moments a batch distinct-aggregation
    computes over the same rows (stream-vs-batch equality pinned in
    tests, which pass a horizon spanning their whole replay window).
    Values quantize to exact integer 1e-4 units and the squared sum
    accumulates as DECIMAL(38,0), so the state — not just the derived
    limits — is engine- and replay-deterministic. State is one row per
    event type plus the watermark-bounded dedup set. Run in complete or
    update mode; control limits (mean ± 3σ) are one stateless
    projection over the state table.
    """
    v4 = F.round(F.col("value") * 10000).cast("bigint")
    return (
        stream.filter(
            F.col("value").isNotNull() & F.col("event_id").isNotNull()
        )
        .withWatermark("ts", dedup_watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_type", v4.alias("v4"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v4").cast("bigint").alias("s1"),
            F.sum((F.col("v4") * F.col("v4")).cast("decimal(38,0)")).alias(
                "s2"
            ),
        )
    )


def daily_moment_state_stream(
    stream: DataFrame, *, dedup_watermark: str
) -> DataFrame:
    """Streaming per-(event_type, day) sufficient statistics (n, s1 in
    exact 1e-4 integer units) — the day-granular refinement of
    moment_state_stream that feeds the CUSUM changepoint projection
    below. Same replay-idempotency contract: a watermarked event_id dedup
    in front (``dedup_watermark`` REQUIRED — size it to the replay
    window), values quantized to integers BEFORE any cross-row sum, so
    micro-batch order, retries, and overlapping replays converge to the
    identical state a batch distinct-aggregation computes. NULL-ts rows
    are dropped (no day to attribute them to — mirroring the batch
    changepoint family's NULL-ts guard). State is one row per
    (event_type, day) plus the watermark-bounded dedup set."""
    v4 = F.round(F.col("value") * 10000).cast("bigint")
    return (
        stream.filter(
            F.col("value").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .withWatermark("ts", dedup_watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_type", F.col("ts").cast("date").alias("day"), v4.alias("v4"))
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v4").cast("bigint").alias("s1"),
        )
    )


def cusum_from_daily_state(state: DataFrame) -> DataFrame:
    """STATELESS CUSUM mean-shift projection over a (event_type, day, n,
    s1) state table — the streaming closure of the batch
    events_cusum_changepoint: S_i = sum_{j<=i}(s1_j - n_j * mu) per event
    type, computed via the exact integer identity total_n * S_i =
    prefix_s1 * total_n - prefix_n * total_s1 so the argmax-|S| day is
    decided on BIGINTs; the reported double is one correctly-rounded
    division. Runs identically on the streamed state (complete-mode
    sink) and on a batch daily aggregate — the stream-vs-batch test pins
    that the two inputs are equal, and this shared projection makes the
    derived changepoint equal by construction. All windows partition by
    event_type; the relation is day-count-sized, never event-sized."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    c = state.select(
        "event_type",
        "day",
        "n",
        "s1",
        F.sum("n").over(w).cast("bigint").alias("pn"),
        F.sum("s1").over(w).cast("bigint").alias("ps1"),
        F.sum("n").over(wt).cast("bigint").alias("tn"),
        F.sum("s1").over(wt).cast("bigint").alias("ts1"),
    )
    sc = c.select(
        "event_type",
        "day",
        "n",
        "s1",
        (
            F.col("ps1").cast("decimal(38,0)") * F.col("tn")
            - F.col("pn").cast("decimal(38,0)") * F.col("ts1")
        ).alias("s_scaled"),
        "tn",
    )
    wcp = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_scaled")).desc(), F.asc("day")
    )
    return (
        sc.withColumn("rk", F.row_number().over(wcp))
        .select(
            "event_type",
            "day",
            "n",
            "s1",
            (F.col("s_scaled").cast("double") / F.col("tn") / 10000.0).alias(
                "cusum"
            ),
            (F.col("rk") == 1).alias("is_changepoint"),
        )
    )


def page_hinkley_from_daily_state(state: DataFrame) -> DataFrame:
    """STATELESS Page-Hinkley projection over a (event_type, day, n, s1)
    state table — the streaming closure of the batch events_page_hinkley
    (which runs the same recurrence over the type-pooled daily series):
    per event type, m_t = T*cumsum(s1) - t*total(s1) is the n-scaled
    exact-integer CUSUM of deviations from the type's mean, PH+ =
    m - running-min(m) flags upward mean shifts, PH- = running-max(m) - m
    downward ones, and the peak rows are the detected shift onsets.
    Shares daily_moment_state_stream's state contract with
    cusum_from_daily_state, so one streamed state table feeds both
    detectors; every window PARTITIONS by event_type and the relation is
    day-count-sized, never event-sized. Every emitted column is an exact
    integer, date, string, or an equality flag on exact integers —
    nothing float, so stream and batch agree bit-for-bit whenever their
    state tables agree (which the replay-idempotent dedup guarantees)."""
    from pyspark.sql.window import Window

    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wrow = Window.partitionBy("event_type").orderBy("day")
    wt = Window.partitionBy("event_type")
    c = state.select(
        "event_type",
        "day",
        "s1",
        F.count(F.lit(1)).over(wt).cast("bigint").alias("tt"),
        F.sum("s1").over(wt).cast("bigint").alias("ts"),
        F.row_number().over(wrow).cast("bigint").alias("rn"),
        F.sum("s1").over(wcum).cast("bigint").alias("cum"),
    )
    m = c.select(
        "event_type",
        "day",
        F.col("s1").alias("value_x10k"),
        (F.col("tt") * F.col("cum") - F.col("rn") * F.col("ts")).alias(
            "m_scaled"
        ),
    )
    ph = m.select(
        "event_type",
        "day",
        "value_x10k",
        "m_scaled",
        (F.col("m_scaled") - F.min("m_scaled").over(wcum)).alias("ph_inc"),
        (F.max("m_scaled").over(wcum) - F.col("m_scaled")).alias("ph_dec"),
    )
    return ph.select(
        "event_type",
        "day",
        "value_x10k",
        "m_scaled",
        "ph_inc",
        "ph_dec",
        (F.col("ph_inc") == F.max("ph_inc").over(wt)).alias(
            "is_upshift_peak"
        ),
        (F.col("ph_dec") == F.max("ph_dec").over(wt)).alias(
            "is_downshift_peak"
        ),
    )


def pettitt_from_daily_state(state: DataFrame) -> DataFrame:
    """STATELESS Pettitt changepoint projection over a (event_type, day,
    n, s1) state table — the streaming closure of the batch
    events_pettitt_changepoint, and the last member of the daily-moment
    detector family (CUSUM, Page-Hinkley, burst) to gain a streaming
    twin; one streamed state table now feeds all four. Per event type the
    Pettitt statistic U_t = sum_{i<=t} sum_{j>t} sgn(x_i - x_j) is
    computed WITHOUT materializing pairs via the midrank identity
    U_t = (sum_{i<=t} mr2_i) - t*(n+1), where mr2 = 2*midrank =
    2*cnt_less + cnt_equal + 1 (sum over all j of sgn(x_i - x_j) equals
    mr2_i - (n+1) exactly, ties contributing zero; within-prefix pairs
    cancel by antisymmetry). Doubled midranks keep every quantity an
    exact integer: mr2 from one rank() plus one per-value count window,
    U from one cumulative sum — all PARTITIONED by event_type over the
    day-count-sized relation, never event-sized. The changepoint is the
    argmax-|U| day (earliest wins ties); U_n == 0 by construction is the
    built-in self-check. Every emitted column is an exact integer, date,
    string or bool, so stream and batch agree bit-for-bit whenever their
    state tables agree (which the replay-idempotent dedup guarantees)."""
    from pyspark.sql.window import Window

    wt = Window.partitionBy("event_type")
    wval = Window.partitionBy("event_type").orderBy("s1")
    weq = Window.partitionBy("event_type", "s1")
    wday = Window.partitionBy("event_type").orderBy("day")
    wcum = wday.rowsBetween(Window.unboundedPreceding, 0)
    ranked = state.select(
        "event_type",
        "day",
        F.col("s1").alias("value_x10k"),
        (
            2 * F.rank().over(wval)
            + F.count(F.lit(1)).over(weq)
            - 1
        )
        .cast("bigint")
        .alias("mr2"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n_days"),
    )
    u = ranked.select(
        "event_type",
        "day",
        "value_x10k",
        "mr2",
        "n_days",
        (
            F.sum("mr2").over(wcum)
            - F.row_number().over(wday).cast("bigint")
            * (F.col("n_days") + 1)
        )
        .cast("bigint")
        .alias("u_stat"),
    )
    wcp = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("u_stat")).desc(), F.asc("day")
    )
    return u.withColumn(
        "is_changepoint", F.row_number().over(wcp) == 1
    ).select(
        "event_type",
        "day",
        "value_x10k",
        "mr2",
        "u_stat",
        "is_changepoint",
    )


def burst_from_daily_state(state: DataFrame) -> DataFrame:
    """STATELESS two-threshold burst projection over a (event_type, day, n,
    s1) state table — the streaming closure of events_burst_detection's
    hysteresis machine, per event type: enter the burst state when the
    day's event count exceeds 51/50 of the type's mean daily rate, leave
    below 49/50, hold otherwise; burst ids count entries. The sequential
    state is the last-crossing LOCF identity (one last_value IGNORE NULLS
    window), thresholds compare as cross-multiplied exact integers
    (50*n*T vs k*Total — no rate division), and every emitted column is
    an exact integer, date, string or bool, so stream and batch agree
    bit-for-bit whenever their state tables agree. Shares
    daily_moment_state_stream's replay-idempotent state with the CUSUM
    and Page-Hinkley projections — one streamed table, three detectors;
    every window PARTITIONS by event_type over the day-count-sized
    relation."""
    from pyspark.sql.window import Window

    wt = Window.partitionBy("event_type")
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wlag = Window.partitionBy("event_type").orderBy("day")
    rate = 50 * F.col("n") * F.count(F.lit(1)).over(wt).cast("bigint")
    total = F.sum("n").over(wt).cast("bigint")
    crossed = state.select(
        "event_type",
        "day",
        "n",
        F.when(rate > 51 * total, F.lit(1))
        .when(rate < 49 * total, F.lit(0))
        .alias("cross_dir"),
    )
    st = crossed.select(
        "event_type",
        "day",
        "n",
        F.coalesce(
            F.last("cross_dir", ignorenulls=True).over(wcum), F.lit(0)
        )
        .cast("bigint")
        .alias("state"),
    )
    marked = st.select(
        "event_type",
        "day",
        "n",
        "state",
        F.when(
            (F.col("state") == 1)
            & (F.coalesce(F.lag("state").over(wlag), F.lit(0)) == 0),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    return marked.select(
        "event_type",
        "day",
        F.col("n").alias("n_events"),
        "state",
        (F.col("is_start") == 1).alias("is_burst_start"),
        F.when(F.col("state") == 1, F.sum("is_start").over(wcum))
        .otherwise(0)
        .cast("bigint")
        .alias("burst_id"),
    )
