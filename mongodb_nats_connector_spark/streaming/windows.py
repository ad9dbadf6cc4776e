"""Streaming window/stateful operators over an events-shaped stream.

The engine's declared streaming surface (SURVEY.md §2.3): tumbling,
sliding and session windows (the streaming forms of the batch-checkable
``stream_*_window`` queries in operators/windows_batch.py), watermarked
dedup and per-key offset state, with watermarks for late data and state
cleanup. Two more are the streaming forms that registered queries name:
the funnel detector (``window_pattern_match``) and the HyperLogLog
register merge (``agg_hll_registers``). The reference connector itself
never needed event-time windows (change streams are totally ordered by
resume token, SURVEY.md §2.2); these generalize its offset/dedup
machinery to event-time processing.
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

