"""The CDC streaming pipeline — the reference connector, Spark-first.

Reference dataflow (SURVEY.md §2.1, internal/mongo/client.go:177-266):

  change-stream scan (O1) -> offset recovery/resume (O2/O3, cursor token)
  -> extract token + op type (O4) -> filter publishable ops (O5)
  -> invalidate handling (O6) -> ExtJSON serialize (O7)
  -> subject = <STREAM>.<opType> (O8)
  -> publish with Nats-Msg-Id = token (O9) -> commit token (O10)

Spark mapping: Structured Streaming owns O1/O2/O3/O10 via the checkpoint
(offset + commit logs — the whole resume-token subsystem disappears), O4-O8
are column expressions, and O9 is a `foreachBatch` idempotent sink
(streaming/sink.py). Delivery semantics match the reference's crash matrix
(README.md:118-127): at-least-once publish + msg-id dedup = effectively once.

Ordering: the reference is strictly ordered per collection because its loop
is single-threaded (client.go:217-257). Here each micro-batch is sorted by
resume token and written atomically per epoch; batch N+1 only commits after
N (epoch serialization) — the same per-collection total order with batch
granularity.

Invalidate (O6): ``PipelineHandle.publish`` only flags the pipeline; the
``Connector`` stops a flagged query itself, on the caller's thread, from the
calls every driver of it already makes (``process_all_available`` and the
serve loop's ``await_any_termination``) — the reference's watch loop likewise
returns on an invalidate (client.go:232-235).

Cost per epoch: the transform (O4, O7, O8) is part of the streaming query
itself — ``Connector.start`` applies the sink's projection to the stream once,
so Spark analyses the ExtJSON ``concat`` tree once at query start and hands
each epoch a planned RDD. ``PipelineHandle.publish`` is the whole
``foreachBatch`` body: the sink owns the epoch's plan, counting every
operation type in one ``Observation`` that rides its write, then filtering to
the publishable events (O5) and ordering them. In total-order mode the sink
sorts within its ``coalesce(1)``, so no Exchange is planned and the epoch is
ONE Spark job; per-key mode adds the map stage of its shuffle on the document
key. No per-epoch value is a literal in any plan, so the generated code of one
epoch is reused by the next instead of recompiled.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mongodb_nats_connector_spark.config import (
    INVALIDATE_OPERATION_TYPE,
    PUBLISHABLE_OPERATION_TYPES,
    CollectionConfig,
    ConnectorConfig,
)
from mongodb_nats_connector_spark.sources.change_events import read_change_event_stream
from mongodb_nats_connector_spark.streaming.observability import MetricsRegistry
from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink, message_columns


def transform_change_events(
    events: DataFrame, stream_name: str, keep_document_key: bool = False
) -> DataFrame:
    """O4-O8: the whole per-event transform as one narrow projection.

    Filter to publishable op types (O5; drop/rename/invalidate silently
    dropped like client.go:231-237), derive the routing subject (O8), and
    serialize the envelope to relaxed ExtJSON (O7). No shuffle — this is a
    map-only stage at any scale. ``keep_document_key`` carries the document
    key through for the sink's per-key-ordered mode.
    """
    return events.filter(F.col("operation_type").isin(*PUBLISHABLE_OPERATION_TYPES)).select(
        *message_columns(stream_name, keep_document_key)
    )


@dataclass
class PipelineHandle:
    config: CollectionConfig
    sink: JetStreamLikeSink
    query: StreamingQuery | None = None  # set by Connector.start
    # True once an epoch carried an invalidate marker; the Connector's next
    # control call then stops the query gracefully (reference
    # client.go:232-235 returns from the watch loop without error — the
    # connector stays alive)
    invalidated: bool = False

    def publish(self, batch: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: publish the batch's publishable events, then —
        O6 — if the batch carries an invalidate marker, flag the pipeline
        (client.go:232-235: the reference stops resuming the dropped
        collection; siblings keep running). The query is not stopped here:
        that would interrupt this very epoch before its commit. The
        Connector's next control call stops it (``_stop_invalidated``)."""
        if self.sink.publish_batch(batch, epoch_id)[INVALIDATE_OPERATION_TYPE]:
            self.invalidated = True


class Connector:
    """Pipeline fan-out + lifecycle (O14): one StreamingQuery per watched
    collection, mirroring pkg/connector/connector.go:125-186 (goroutine per
    collection under errgroup -> concurrent StreamingQueries under one
    SparkSession; awaitAnyTermination ≡ errgroup semantics)."""

    def __init__(
        self,
        spark: SparkSession,
        config: ConnectorConfig,
        source_paths: dict[str, str],
        sink_root: str,
        order_within_key: bool = False,
        metrics=None,
    ) -> None:
        """``source_paths`` maps '<db>.<coll>' -> change-event feed dir (the
        file-backed stand-in for a Mongo change stream; a real Mongo source
        would plug in via the Python Data Source API with the same schema).
        ``order_within_key`` selects the sink's parallel per-document-order
        mode over the reference-faithful total order (see JetStreamLikeSink).
        """
        self.spark = spark
        self.config = config
        self.source_paths = source_paths
        self.sink_root = sink_root
        self.order_within_key = order_within_key
        # the NATS counters of every pipeline's sink; None: a fresh registry
        self.metrics = MetricsRegistry() if metrics is None else metrics
        self.handles: list[PipelineHandle] = []

    def start(self) -> list[PipelineHandle]:
        # every feed is checked before any query starts, so a missing one
        # leaves no sibling query running
        keys = [f"{c.db_name}.{c.coll_name}" for c in self.config.collections]
        missing = [k for k in keys if k not in self.source_paths]
        if missing:
            raise KeyError(f"no source feed for {', '.join(missing)}")
        for coll, key in zip(self.config.collections, keys):
            sink = JetStreamLikeSink(
                self.spark,
                stream_dir=f"{self.sink_root}/streams/{coll.stream_name}",
                stream_name=coll.stream_name,
                order_within_key=self.order_within_key,
                metrics=self.metrics,
            )
            sink.add_stream()  # DDL bootstrap, idempotent (O13)
            events = sink.messages(read_change_event_stream(self.spark, self.source_paths[key]))
            checkpoint = f"{self.sink_root}/checkpoints/{coll.checkpoint_name}"
            handle = PipelineHandle(coll, sink)
            handle.query = (
                events.writeStream.outputMode("append")
                .option("checkpointLocation", checkpoint)
                .foreachBatch(handle.publish)
                .queryName(f"cdc-{coll.stream_name}")
                .start()
            )
            self.handles.append(handle)
        return self.handles

    def _stop_invalidated(self) -> None:
        """Stop each flagged, still-active query unless it is running a
        micro-batch with data. The flag is set inside such a batch, before
        its commit; once the query's status shows no trigger with data in
        flight, that batch has committed and ``stop()`` ends the query
        gracefully (``exception()`` stays None). A trigger that only polls
        the source for new files is safe to interrupt, so the test is not
        ``isTriggerActive`` alone: a file source polls every few ms, and
        ``processAllAvailable()`` returns from inside such a poll."""
        for h in self.handles:
            if h.invalidated and h.query.isActive:
                status = h.query.status
                if not (status["isTriggerActive"] and status["isDataAvailable"]):
                    h.query.stop()

    def process_all_available(self) -> None:
        for h in self.handles:
            h.query.processAllAvailable()
        self._stop_invalidated()

    def await_any_termination(self, timeout: float | None = None):
        self._stop_invalidated()
        terminated = self.spark.streams.awaitAnyTermination(timeout)
        if terminated and any(h.query.isActive for h in self.handles):
            # One terminated handle (e.g. an invalidated collection) would
            # otherwise make every later call return immediately and the
            # serve loop busy-spin at full CPU while siblings keep running:
            # clear the manager's terminated set so the next wait blocks.
            # A query that failed with an exception has already raised out
            # of awaitAnyTermination above, before the reset.
            self.spark.streams.resetTerminated()
        return terminated

    def stop(self) -> None:
        for h in self.handles:
            if h.query.isActive:
                h.query.stop()

    # -- observability (O15): /healthz response shape,
    #    internal/server/health.go:31-45 --
    def health(self) -> dict:
        components = []
        for h in self.handles:
            if h.invalidated and not h.query.isActive:
                # graceful completion after a collection drop/rename: the
                # reference's watch loop returns nil on invalidate and the
                # connector keeps serving (client.go:232-235, drop_test.go)
                status = "COMPLETED"
            elif h.query.isActive and h.query.exception() is None:
                status = "UP"
            else:
                status = "DOWN"
            components.append(
                {"name": f"pipeline-{h.config.stream_name}", "status": status}
            )
        status = (
            "UP"
            if components and all(c["status"] in ("UP", "COMPLETED") for c in components)
            else "DOWN"
        )
        return {"status": status, "components": components}
