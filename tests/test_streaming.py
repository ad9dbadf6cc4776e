"""Structured Streaming operators: windows with watermarks, streaming dedup,
stateful per-key processing, and observability endpoints."""

from __future__ import annotations

import json
import time
import urllib.request
import uuid

import pytest
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.sources.tables import table
from mongodb_nats_connector_spark.streaming.observability import (
    ConnectorMetricsListener,
    MetricsRegistry,
    ObservabilityServer,
)
from mongodb_nats_connector_spark.streaming.windows import (
    EVENTS_DDL,
    dedup_within_watermark,
    per_key_offsets,
    session_counts,
    sliding_counts,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_feed(spark, tmp_path):
    """events table written as 3 ordered files -> 3 micro-batches."""
    path = str(tmp_path / "events_feed")
    ev = table(spark, SF, "events")
    ev.filter(F.col("event_id") % 3 == 0).write.parquet(path, mode="append")
    ev.filter(F.col("event_id") % 3 == 1).write.parquet(path, mode="append")
    ev.filter(F.col("event_id") % 3 == 2).write.parquet(path, mode="append")
    return path


def _stream(spark, path):
    return spark.readStream.schema(EVENTS_DDL).parquet(path)


def _run_to_memory(spark, df, mode: str):
    name = "m" + uuid.uuid4().hex[:10]
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    q.stop()
    return out


def test_streaming_tumbling_matches_batch(spark, events_feed):
    """Streaming tumbling-window agg == the batch window() result (complete
    mode so open windows are visible)."""
    streamed = _run_to_memory(
        spark, tumbling_counts(_stream(spark, events_feed)), "complete"
    )
    batch = (
        table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .toPandas()
    )
    key = ["window_start", "event_type"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b)
    assert (s["n"].values == b["n"].values).all()


def test_streaming_sliding_matches_batch(spark, events_feed):
    """Streaming sliding-window agg (1 h length, 30 min slide) == the
    registered batch query ``stream_sliding_window`` at the same scale
    factor (complete mode so open windows are visible)."""
    from mongodb_nats_connector_spark.operators.windows_batch import stream_sliding_window

    streamed = _run_to_memory(
        spark, sliding_counts(_stream(spark, events_feed)), "complete"
    )
    batch = stream_sliding_window(spark, SF).toPandas()
    s = streamed.sort_values("window_start").reset_index(drop=True)
    b = batch.sort_values("window_start").reset_index(drop=True)
    assert list(s.columns) == list(b.columns)
    assert len(s) == len(b)
    assert (s["window_start"].values == b["window_start"].values).all()
    assert (s["n"].values == b["n"].values).all()
    assert (s["total_value"].values == b["total_value"].values).all()


def test_streaming_session_matches_batch(spark, events_feed):
    streamed = _run_to_memory(
        spark, session_counts(_stream(spark, events_feed)), "complete"
    )
    batch = (
        table(spark, SF, "events")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events", "session_value")
        .toPandas()
    )
    assert len(streamed) == len(batch)
    assert streamed["n_events"].sum() == batch["n_events"].sum() == 1000


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate event ids inside the watermark horizon are dropped — the
    generalized Nats-Msg-Id dedup."""
    path = str(tmp_path / "dup_feed")
    ev = table(spark, SF, "events").filter(F.col("event_id") < 50)
    ev.write.parquet(path, mode="append")
    ev.write.parquet(path, mode="append")  # exact duplicates, same event ids
    out = _run_to_memory(
        spark, dedup_within_watermark(_stream(spark, path)), "append"
    )
    assert len(out) == 50
    assert out["event_id"].is_unique


def test_stateful_per_key_offsets(spark, events_feed):
    """applyInPandasWithState: per-user max-event-id/count state survives
    across micro-batches; the final emission equals the batch aggregate."""
    out = _run_to_memory(spark, per_key_offsets(_stream(spark, events_feed)), "update")
    # last emission per user wins (state evolves across 3 batches)
    final = out.groupby("user_id").last()
    batch = (
        table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.max("event_id").alias("max_event_id"), F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .set_index("user_id")
    )
    assert len(final) == len(batch)
    for uid in batch.index:
        assert final.loc[uid, "max_event_id"] == batch.loc[uid, "max_event_id"]
        assert final.loc[uid, "n_events"] == batch.loc[uid, "n_events"]


def test_observability_endpoints(spark, events_feed):
    """O15/O16: /healthz JSON shape and /metrics exposition with the
    reference's metric names (observability_test.go:35-63)."""
    registry = MetricsRegistry()
    listener = ConnectorMetricsListener(registry)
    spark.streams.addListener(listener)
    server = ObservabilityServer(
        health_fn=lambda: {"status": "UP", "components": [{"name": "pipeline-X", "status": "UP"}]},
        registry=registry,
    )
    server.start()
    try:
        q = (
            tumbling_counts(_stream(spark, events_feed))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("obs_q")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # listener callbacks are async; give them a beat
        deadline = time.time() + 10
        while time.time() < deadline:
            if registry.counters:
                break
            time.sleep(0.2)
        health = json.loads(
            urllib.request.urlopen(f"http://127.0.0.1:{server.port}/healthz").read()
        )
        assert health["status"] == "UP"
        assert health["components"][0]["name"] == "pipeline-X"
        metrics = (
            urllib.request.urlopen(f"http://127.0.0.1:{server.port}/metrics")
            .read()
            .decode()
        )
        assert "connector_events_total" in metrics
        assert "connector_change_event_processing_duration_seconds_sum" in metrics
        # histogram buckets with the client_golang default le bounds
        # (prometheus.go:18-26): every bound present, cumulative, +Inf == count
        for le in ("0.005", "0.05", "1", "10", "+Inf"):
            assert (
                f'connector_change_event_processing_duration_seconds_bucket{{'
                f'collection="obs_q",le="{le}"}}' in metrics
            ), f"missing le={le} bucket:\n{metrics}"
        bucket_lines = [
            ln for ln in metrics.splitlines()
            if ln.startswith("connector_change_event_processing_duration_seconds_bucket")
            and 'collection="obs_q"' in ln
        ]
        cum = [int(ln.rsplit(" ", 1)[1]) for ln in bucket_lines]
        assert cum == sorted(cum), f"bucket counts not cumulative: {cum}"
        count_line = next(
            ln for ln in metrics.splitlines()
            if ln.startswith("connector_change_event_processing_duration_seconds_count")
            and 'collection="obs_q"' in ln
        )
        assert cum[-1] == int(count_line.rsplit(" ", 1)[1])
        # one observation per event, like the reference's per-event Observe
        events_line = next(
            ln for ln in metrics.splitlines()
            if ln.startswith('connector_events_total{collection="obs_q"}')
        )
        assert int(count_line.rsplit(" ", 1)[1]) == int(events_line.rsplit(" ", 1)[1]) > 0
        # 404 handling
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{server.port}/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.stop()
        spark.streams.removeListener(listener)


def test_stream_static_enrichment_join(spark, events_feed):
    """Stream-static join: enrich the unbounded event stream with a static
    (broadcastable) dimension — no state store needed, the static side is
    re-planned per micro-batch. The standard CDC enrichment shape: at scale
    the dim broadcasts and the stream never shuffles."""
    stream = _stream(spark, events_feed)
    dim = spark.createDataFrame(
        [("click", "ui"), ("view", "ui"), ("purchase", "commerce"), ("error", "ops")],
        "event_type STRING, category STRING",
    )
    enriched = stream.join(F.broadcast(dim), "event_type", "left").select(
        "event_id", "event_type", F.coalesce("category", F.lit("other")).alias("category")
    )
    out = _run_to_memory(spark, enriched, "append")

    batch = (
        table(spark, SF, "events")
        .join(F.broadcast(dim), "event_type", "left")
        .select(
            "event_id",
            "event_type",
            F.coalesce("category", F.lit("other")).alias("category"),
        )
        .toPandas()
    )
    assert len(out) == len(batch)
    s = out.sort_values("event_id").reset_index(drop=True)
    b = batch.sort_values("event_id").reset_index(drop=True)
    assert (s["category"] == b["category"]).all()


def test_stream_stream_interval_join(spark, events_feed):
    """Stream-stream inner join with watermarks + an event-time interval
    condition: each purchase joins the same user's clicks from the preceding
    hour. Both sides buffer state bounded by the watermark — the unbounded-
    join problem the interval condition exists to solve. Verified exactly
    against the identical batch join."""
    clicks = (
        _stream(spark, events_feed)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _stream(spark, events_feed)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
    )
    out = _run_to_memory(
        spark,
        clicks.join(purchases, cond).select("p_user", "purchase_id", "click_id"),
        "append",
    )

    ev = table(spark, SF, "events")
    bc = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = bc.join(bp, cond).select("p_user", "purchase_id", "click_id").toPandas()

    assert len(out) == len(batch), f"stream {len(out)} vs batch {len(batch)}"
    key = lambda df: sorted(map(tuple, df.values.tolist()))
    assert key(out) == key(batch)


def test_stream_stream_interval_join_left_outer(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: unmatched purchases must come
    out with NULL clicks — but only after the watermark proves no matching
    click can still arrive. A sentinel event far past the data's end pushes
    the watermark so every pending null-match is flushed, then the result is
    compared exactly to the batch left join. This is semantics the batch
    engine gets for free and the streaming engine can only deliver with
    bounded state via the watermark + interval bound."""
    path = str(tmp_path / "events_feed_outer")
    ev = table(spark, SF, "events")
    ev.filter(F.col("event_id") % 3 == 0).write.parquet(path, mode="append")
    ev.filter(F.col("event_id") % 3 == 1).write.parquet(path, mode="append")
    ev.filter(F.col("event_id") % 3 == 2).write.parquet(path, mode="append")
    # watermark pushers: one far-future click AND one far-future purchase for
    # users that never match. The global watermark is the MIN across both
    # sides' watermark operators, and each side's operator only sees events
    # surviving its event_type filter — a click-only sentinel leaves the
    # purchase watermark at (max purchase_ts - delay) and the last 2 hours
    # of null matches pending forever. The sentinel purchase's own null row
    # stays pending (nothing later ever closes its interval) — itself the
    # correct watermark behavior — and both sentinels are filtered from the
    # comparison.
    for uid, etype in ((-1, "click"), (-2, "purchase")):
        sentinel = ev.agg(
            F.lit(uid).cast("long").alias("event_id"),
            (F.max("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"),
            F.lit(uid).cast("long").alias("user_id"),
            F.lit(etype).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        ).select(*[f.name for f in ev.schema.fields])
        sentinel.write.parquet(path, mode="append")

    def sides(df):
        c = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return c, p

    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
    )

    sc, sp = sides(_stream(spark, path))
    out = _run_to_memory(
        spark,
        sp.withWatermark("purchase_ts", "2 hours")
        .join(sc.withWatermark("click_ts", "2 hours"), cond, "leftOuter")
        .select("p_user", "purchase_id", "click_id"),
        "append",
    )
    out = out[out["p_user"] >= 0]

    bc, bp = sides(spark.read.schema(EVENTS_DDL).parquet(path))
    batch = (
        bp.join(bc, cond, "left")
        .filter(F.col("p_user") >= 0)
        .select("p_user", "purchase_id", "click_id")
        .toPandas()
    )

    assert len(out) == len(batch), f"stream {len(out)} vs batch {len(batch)}"
    null_stream = int(out["click_id"].isna().sum())
    null_batch = int(batch["click_id"].isna().sum())
    assert null_stream == null_batch and null_batch > 0, (null_stream, null_batch)
    key = lambda df: sorted(
        (int(u), int(p), -1 if c != c else int(c))  # NaN-safe click key
        for u, p, c in df.values.tolist()
    )
    assert key(out) == key(batch)


def test_stream_static_enrich_matches_batch_query(spark, events_feed):
    """The registered stream_static_enrich spec (events ⋈ broadcast customer
    on user_id) run as a real stream equals its batch-checkable form."""
    from mongodb_nats_connector_spark.operators.windows_batch import (
        stream_static_enrich,
    )

    c = table(spark, SF, "customer")
    stream = _stream(spark, events_feed)
    enriched = stream.join(
        F.broadcast(c), stream.user_id == c.c_custkey
    ).select(
        "event_id",
        "user_id",
        "c_name",
        "c_mktsegment",
        "event_type",
        F.round("value", 4).alias("value"),
    )
    out = _run_to_memory(spark, enriched, "append")
    batch = stream_static_enrich(spark, SF).toPandas()
    assert len(out) == len(batch)
    s = out.sort_values("event_id").reset_index(drop=True)
    b = batch.sort_values("event_id").reset_index(drop=True)
    assert (s["c_mktsegment"].values == b["c_mktsegment"].values).all()
    assert (s["c_name"].values == b["c_name"].values).all()


def test_stream_window_topk_matches_batch_query(spark, events_feed):
    """Windowed top-k as a stream: the watermarked tumbling aggregate runs
    in the engine; the per-window rank filter runs in foreachBatch over the
    (tiny) aggregate — the standard streaming top-k split. Final result ==
    the registered batch form."""
    from pyspark.sql import Window as W

    from mongodb_nats_connector_spark.operators.windows_batch import (
        TOPK_PER_WINDOW,
        stream_window_topk,
    )

    stream = _stream(spark, events_feed)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "topk" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    # foreachBatch side: rank within window over the aggregate snapshot
    rank_w = W.partitionBy("w").orderBy(F.desc("n"), "event_type")
    topk = (
        spark.sql(f"SELECT * FROM {name}")
        .withColumn("rn", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rn") <= TOPK_PER_WINDOW)
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "rn"
        )
        .toPandas()
    )
    q.stop()
    batch = stream_window_topk(spark, SF).toPandas()
    key = ["window_start", "rn"]
    s = topk.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b)
    assert (s["event_type"].values == b["event_type"].values).all()
    assert (s["n"].values == b["n"].values).all()


def test_stateful_funnel_matches_batch_pattern_match(spark, events_feed):
    """The O(1)-state streaming funnel (earliest-signup / latest-purchase
    tuples) agrees with the batch regex over the full closed event set —
    including across micro-batch boundaries, where events arrive out of
    event-time order (the feed splits by event_id % 3, not by time)."""
    from mongodb_nats_connector_spark.operators.windows_batch import (
        window_pattern_match,
    )
    from mongodb_nats_connector_spark.streaming.windows import funnel_conversions

    out = _run_to_memory(
        spark, funnel_conversions(_stream(spark, events_feed)), "update"
    )
    # update mode re-emits a row per touched key per batch: the final row
    # per user is the closed-set answer
    final = out.groupby("user_id").last()
    batch = window_pattern_match(spark, SF).toPandas().set_index("user_id")
    assert len(final) == len(batch)
    joined = final.join(batch, lsuffix="_s")
    assert (joined["n_events_s"] == joined["n_events"]).all()
    assert (joined["converted_s"] == joined["converted"]).all()
