"""Idempotent, subject-routed streaming sink — the NATS JetStream analogue.

The reference publishes each event with header ``Nats-Msg-Id`` = resume token
so the broker/consumer can drop replays (internal/nats/client.go:120-140);
combined with publish-then-commit ordering this yields effectively-once
delivery (README.md:118-127).

Here the sink is a parquet "stream": one directory per JetStream stream
(AddStream O13 = idempotent mkdir, internal/nats/client.go:105-118), epoch-
partitioned writes inside ``foreachBatch``. Idempotency is the epoch trick:
a replayed epoch overwrites its own partition (`epoch=<id>` subdir,
dynamic partition overwrite), so a crash between publish and checkpoint
commit re-publishes the same batch into the same location — at-least-once
publish, msg-id-keyed storage, exactly-once observable state. Consumers read
through ``read_messages`` which additionally dedups by msg_id, mirroring the
NATS consumer-side dedup window.

In total-order mode an epoch's publish is ONE Spark job: the ``coalesce(1)``
comes before the ordering window, so no Exchange is planned and a single task
reads, serializes, sorts and writes. The NATS counts (and the pipeline's
invalidate check) are ``Observation`` aggregates riding the write, in either
mode.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongodb_nats_connector_spark.config import PUBLISHABLE_OPERATION_TYPES
from mongodb_nats_connector_spark.streaming.observability import MetricsRegistry


class JetStreamLikeSink:
    def __init__(
        self,
        spark: SparkSession,
        stream_dir: str,
        stream_name: str,
        order_within_key: bool = False,
        metrics=None,
    ) -> None:
        """``order_within_key=False`` (default) reproduces the reference's
        strict per-collection TOTAL order (its publish loop is single-
        threaded, client.go:217-257) — faithful, but one task per epoch.
        ``order_within_key=True`` is the scale mode: order is guaranteed per
        ``document_key`` only (the guarantee consumers actually rely on —
        NATS subjects partition by document anyway), the epoch writes with
        full partition parallelism, and ``seq_in_epoch`` numbers within the
        key. Requires the batch to carry a ``document_key`` column.

        ``metrics`` (a ``streaming.observability.MetricsRegistry``; None: a
        fresh one) receives the reference's NATS exposition
        (internal/prometheus/prometheus.go) on every publish:
        ``nats_messages_published_total{subject}`` /
        ``nats_messages_failed_total{subject}`` counters and
        ``nats_message_duration_seconds{subject}`` — observed once per epoch
        here (the reference observes per message; counter VALUES match).

        The sequence column and the metric aggregates are built here, once:
        every epoch applies the same column expressions to a new batch, and
        each ``functions`` call costs round trips to the JVM."""
        self.spark = spark
        self.stream_dir = stream_dir
        self.stream_name = stream_name
        self.order_within_key = order_within_key
        self.metrics = MetricsRegistry() if metrics is None else metrics
        self.messages_dir = os.path.join(stream_dir, "messages")
        order = (
            Window.partitionBy("document_key") if order_within_key else Window
        ).orderBy("msg_id")
        self._seq_in_epoch = F.row_number().over(order)
        # Subjects are enumerable — `<STREAM>.<operationType>` over the four
        # publishable op types — so the NATS counts are a row of conditional
        # counts riding the write job (no extra Spark job per epoch).
        self._subjects = [f"{stream_name}.{op}" for op in PUBLISHABLE_OPERATION_TYPES]
        self._subject_counts = [
            F.count_if(F.col("subject") == s).alias(f"n_{i}")
            for i, s in enumerate(self._subjects)
        ] + [F.count(F.lit(1)).alias("n_total")]

    # O13 — idempotent DDL bootstrap (AddStream)
    def add_stream(self) -> None:
        os.makedirs(self.messages_dir, exist_ok=True)

    def epoch_messages(self, batch: DataFrame, epoch_id: int) -> DataFrame:
        """The epoch's messages as written: ``batch`` plus ``seq_in_epoch``
        (its position in token order) and ``epoch``.

        Total order (the reference's order is token order, client.go:217-257)
        coalesces to one partition BEFORE the unpartitioned window: a single
        partition already satisfies the window's all-rows distribution, so no
        Exchange is planned and one task reads, serializes, sorts and writes
        the epoch — the price of a total order, exactly like the reference's
        single-threaded loop. Per-key order numbers rows within each
        ``document_key``; different documents write concurrently behind the
        window's one shuffle on the key."""
        if self.order_within_key:
            if "document_key" not in batch.columns:
                raise ValueError(
                    "order_within_key sink requires a document_key column "
                    "(transform_change_events(..., keep_document_key=True))"
                )
        else:
            batch = batch.coalesce(1)
        return batch.withColumns(
            {"seq_in_epoch": self._seq_in_epoch, "epoch": F.lit(int(epoch_id))}
        )

    # O9 — publish with idempotency key; called per epoch by foreachBatch.
    # An epoch without publishable rows writes an empty partition: the
    # consumer view is unchanged, and no job is spent checking first.
    def publish_batch(self, batch: DataFrame, epoch_id: int) -> None:
        observation = Observation()
        writer = self.epoch_messages(batch, epoch_id).observe(
            observation, *self._subject_counts
        )
        t0 = time.perf_counter()
        try:
            # Epoch-keyed overwrite = replay-safe (idempotent) publish.
            (
                writer.write.mode("overwrite")
                .format("parquet")
                .save(os.path.join(self.messages_dir, f"epoch={int(epoch_id)}"))
            )
        except Exception:
            # the observation never materialized — fall back to counting
            # the failed batch directly so failure counters stay labeled
            # (rare path; one extra job only on publish failure)
            for r in batch.groupBy("subject").agg(F.count(F.lit(1)).alias("n")).collect():
                self.metrics.inc(
                    "nats_messages_failed_total", {"subject": r["subject"]}, r["n"]
                )
            raise
        elapsed = time.perf_counter() - t0
        got = observation.get  # blocks until the write's listener fires
        counted = 0
        for i, subject in enumerate(self._subjects):
            n = int(got[f"n_{i}"])
            counted += n
            if n:
                self.metrics.inc("nats_messages_published_total", {"subject": subject}, n)
                self.metrics.observe(
                    "nats_message_duration_seconds", {"subject": subject}, elapsed
                )
        other = int(got["n_total"]) - counted
        if other:
            self.metrics.inc("nats_messages_published_total", {"subject": "other"}, other)
            self.metrics.observe(
                "nats_message_duration_seconds", {"subject": "other"}, elapsed
            )

    # Consumer view — dedup by msg id. The window is UNBOUNDED, mirroring
    # durable storage: strictly stronger than JetStream, which remembers a
    # Nats-Msg-Id only for Duplicates (default 2 min) after it was STORED
    # (internal/nats/client.go:122-125 semantics).
    def read_messages(self, deduped: bool = True) -> DataFrame:
        df = (
            self.spark.read.option("basePath", self.messages_dir)
            .parquet(os.path.join(self.messages_dir, "epoch=*"))
        )
        if not deduped:
            return df
        w = Window.partitionBy("msg_id").orderBy("epoch", "seq_in_epoch")
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def message_count(self, deduped: bool = True) -> int:
        """Messages in the stream; 0 before the first epoch is written. Any
        other read failure (a corrupt part file, a schema clash) raises."""
        if not glob.glob(os.path.join(glob.escape(self.messages_dir), "epoch=*")):
            return 0
        return self.read_messages(deduped).count()
