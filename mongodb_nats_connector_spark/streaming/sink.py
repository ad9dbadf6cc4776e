"""Idempotent, subject-routed streaming sink — the NATS JetStream analogue.

The reference publishes each event with header ``Nats-Msg-Id`` = resume token
so the broker/consumer can drop replays (internal/nats/client.go:120-140);
combined with publish-then-commit ordering this yields effectively-once
delivery (README.md:118-127).

Here the sink is a parquet "stream": one directory per JetStream stream
(AddStream O13 = idempotent mkdir, internal/nats/client.go:105-118), one
subdirectory per epoch written inside ``foreachBatch``. Idempotency is the
epoch trick: a replayed epoch overwrites its own directory, so a crash between
publish and checkpoint commit re-publishes the same batch into the same
location — at-least-once publish, msg-id-keyed storage, exactly-once
observable state. Consumers read through ``read_messages`` which additionally
dedups by msg_id, mirroring the NATS consumer-side dedup window.

On-disk layout::

    <stream_dir>/messages/epoch=<id>/part-*.parquet
        msg_id, subject, data, cluster_time, [document_key,] seq_in_epoch

The epoch number lives only in the directory name; ``read_messages`` turns it
back into an int ``epoch`` column (epochs written before that, with ``epoch``
inside the file too, read the same). No ``_SUCCESS`` marker is written: the
directory is the commit. ``msg_id`` and ``data`` differ from row to row
within an epoch (but for a replayed token), and so does ``seq_in_epoch`` in
total order, so they are written without a dictionary, which parquet would
build and then drop; ``subject`` keeps one.

The sink owns the message from projection to read: ``messages`` projects the
change-event stream (O4, O7, O8) once per query. In each epoch ONE
``Observation`` riding the write counts every operation type of the batch (the
four publishable counts feed the NATS counters, the ``invalidate`` count goes
back to the pipeline), then the publishable events are kept and ordered. In
total-order mode ``seq_in_epoch`` is the row's position in token order,
1-based: an epoch's publish is ONE Spark job, in which a ``coalesce(1)`` and a
sort within that one partition come before a row counter, so no Exchange is
planned and a single task reads, serializes, sorts and writes.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongodb_nats_connector_spark.config import (
    INVALIDATE_OPERATION_TYPE,
    PUBLISHABLE_OPERATION_TYPES,
)
from mongodb_nats_connector_spark.functions.extjson import envelope_to_extjson
from mongodb_nats_connector_spark.streaming.observability import MetricsRegistry


def message_columns(stream_name: str, keep_document_key: bool = False) -> list[Column]:
    """O4, O7, O8 as column expressions: the message projection — msg id,
    routing subject (O8), relaxed-ExtJSON body (O7), cluster time and, for the
    per-key-ordered mode, the document key."""
    cols = [
        F.col("_id_data").alias("msg_id"),  # Nats-Msg-Id (nats/client.go:124)
        F.concat(F.lit(stream_name), F.lit("."), F.col("operation_type")).alias("subject"),
        envelope_to_extjson().alias("data"),
        F.col("cluster_time"),
    ]
    if keep_document_key:
        cols.append(F.col("document_key_id").alias("document_key"))
    return cols


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
        key, which the sink's projection carries through.

        ``metrics`` (a ``streaming.observability.MetricsRegistry``; None: a
        fresh one) receives the reference's NATS exposition
        (internal/prometheus/prometheus.go) on every publish:
        ``nats_messages_published_total{subject}`` /
        ``nats_messages_failed_total{subject}`` counters and
        ``nats_message_duration_seconds{subject}`` — observed once per epoch
        here (the reference observes per message; counter VALUES match).

        The projection, sequence column, filter and counts are built here,
        once: every epoch applies the same column expressions to a new batch,
        and each ``functions`` call costs round trips to the JVM."""
        self.spark = spark
        self.stream_dir = stream_dir
        self.stream_name = stream_name
        self.order_within_key = order_within_key
        self.metrics = MetricsRegistry() if metrics is None else metrics
        self.messages_dir = os.path.join(stream_dir, "messages")
        # the message columns plus the type each epoch counts and filters on
        self._columns = [*message_columns(stream_name, order_within_key), "operation_type"]
        # Total order numbers the rows of the single sorted partition; per-key
        # order numbers them within each document key.
        self._seq_in_epoch = (
            F.row_number().over(Window.partitionBy("document_key").orderBy("msg_id"))
            if order_within_key
            else (F.monotonically_increasing_id() + 1).cast("int")
        )
        # Operation types are enumerable, so the epoch's counts are one row
        # of conditional counts riding the write (no extra Spark job).
        self._publishable = F.col("operation_type").isin(*PUBLISHABLE_OPERATION_TYPES)
        self._op_counts = [
            F.count_if(F.col("operation_type") == op).alias(op)
            for op in (*PUBLISHABLE_OPERATION_TYPES, INVALIDATE_OPERATION_TYPE)
        ]
        # a distinct value per row within an epoch: a dictionary of them
        # would never be kept
        unique = ("msg_id", "data") if order_within_key else ("msg_id", "data", "seq_in_epoch")
        self._write_options = {
            **{f"parquet.enable.dictionary#{c}": "false" for c in unique},
            # a session conf would also drop the marker that
            # operators/formats.py checks for
            "mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
        }

    # O13 — idempotent DDL bootstrap (AddStream)
    def add_stream(self) -> None:
        os.makedirs(self.messages_dir, exist_ok=True)

    def messages(self, events: DataFrame) -> DataFrame:
        """Change events (a stream or a batch) as this sink's messages plus
        ``operation_type``: the batches ``publish_batch`` takes."""
        return events.select(*self._columns)

    def epoch_messages(self, batch: DataFrame, observation: Observation) -> DataFrame:
        """The epoch's messages as written: the publishable events of
        ``batch`` (projected by ``messages``) without ``operation_type``, plus
        ``seq_in_epoch`` (their position in token order). ``observation``
        counts every operation type of the batch, the unpublished ones too.

        Total order (the reference's order is token order, client.go:217-257)
        coalesces to one partition and sorts it: one task reads, serializes,
        sorts and writes the epoch, with no Exchange and no window buffering
        the epoch's rows — the price of a total order, exactly like the
        reference's single-threaded loop. Per-key order numbers rows within
        each ``document_key``; different documents write concurrently behind
        the window's one shuffle on the key."""
        if self.order_within_key:
            # The window reuses this shuffle. Placing it under the
            # observation keeps the counts when no row is publishable: AQE
            # replaces a shuffle stage without output by an empty relation,
            # observations inside it too.
            batch = batch.repartition("document_key")
        batch = (
            batch.observe(observation, *self._op_counts)
            .filter(self._publishable)
            .drop("operation_type")
        )
        if not self.order_within_key:
            batch = batch.coalesce(1).sortWithinPartitions("msg_id")
        return batch.withColumn("seq_in_epoch", self._seq_in_epoch)

    # O9 — publish with idempotency key; called per epoch by foreachBatch.
    # An epoch without publishable rows writes an empty epoch directory: the
    # consumer view is unchanged, and no job is spent checking first.
    def publish_batch(self, batch: DataFrame, epoch_id: int) -> dict[str, int]:
        """Write the epoch and meter it; returns the batch's count of each
        operation type (``invalidate`` included)."""
        observation = Observation()
        writer = self.epoch_messages(batch, observation)
        t0 = time.perf_counter()
        try:
            # Epoch-keyed overwrite = replay-safe (idempotent) publish.
            (
                writer.write.mode("overwrite")
                .format("parquet")
                .options(**self._write_options)
                .save(os.path.join(self.messages_dir, f"epoch={int(epoch_id)}"))
            )
        except Exception:
            # the observation never materialized — fall back to counting
            # the failed batch directly so failure counters stay labeled
            # (rare path; one extra job only on publish failure)
            failed = batch.filter(self._publishable).groupBy("subject").count()
            for r in failed.collect():
                self.metrics.inc(
                    "nats_messages_failed_total", {"subject": r["subject"]}, r["count"]
                )
            raise
        elapsed = time.perf_counter() - t0
        counts = observation.get  # blocks until the write's listener fires
        for op in PUBLISHABLE_OPERATION_TYPES:
            if counts[op]:
                subject = {"subject": f"{self.stream_name}.{op}"}
                self.metrics.inc("nats_messages_published_total", subject, counts[op])
                self.metrics.observe("nats_message_duration_seconds", subject, elapsed)
        return counts

    # Consumer view — dedup by msg id. The window is UNBOUNDED, mirroring
    # durable storage: strictly stronger than JetStream, which remembers a
    # Nats-Msg-Id only for Duplicates (default 2 min) after it was STORED
    # (internal/nats/client.go:122-125 semantics).
    def read_messages(self, deduped: bool = True) -> DataFrame:
        df = (
            self.spark.read.option("basePath", self.messages_dir)
            .parquet(os.path.join(self.messages_dir, "epoch=*"))
            .withColumn("epoch", F.col("epoch").cast("int"))
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
