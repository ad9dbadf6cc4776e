"""Port of the reference's acceptance + fault-injection suites (SURVEY.md §5).

Scenario sources (reference files under /root/reference/):
  insert/update/replace/delete golden specs: test/acceptance/*_test.go
  drop/rename/invalidate negatives:          drop_test.go / rename_test.go
  exactly-once + order under restart:        test/faultinjection/*_test.go,
                                             harness MustVerifyMessageCorrectness
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongodb_nats_connector_spark.config import (
    PUBLISHABLE_OPERATION_TYPES,
    CollectionConfig,
    ConnectorConfig,
)
from mongodb_nats_connector_spark.functions.extjson import (
    CHANGE_EVENT_SCHEMA,
    envelope_to_extjson,
)
from mongodb_nats_connector_spark.sources.change_events import (
    generate_change_event_rows,
    generate_change_events,
    write_change_event_feed,
)
from mongodb_nats_connector_spark.streaming.observability import MetricsRegistry
from mongodb_nats_connector_spark.streaming.pipeline import Connector, PipelineHandle
from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink

COLL1 = ConnectorConfig(
    collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
)


def _land(spark, feed, rows):
    """Append one feed file holding ``rows`` (a later arrival)."""
    spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(feed)


def _jobs_since(spark, group, before):
    """Spark jobs of job group ``group`` not in ``before``, with their stages,
    through SparkStatusTracker (a query tags its jobs with its runId)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads listener events
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in set(tracker.getJobIdsForGroup(group)) - before]
    stages = [tracker.getStageInfo(s) for j in jobs for s in j.stageIds]
    return jobs, stages


def _connector(spark, tmp_path, n_docs=10, **feed_kw):
    feed = str(tmp_path / "feed")
    write_change_event_feed(spark, feed, n_docs=n_docs, **feed_kw)
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark,
        cfg,
        source_paths={"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"),
    )
    return conn


def test_insert_event_published_once(spark, tmp_path):
    """insert_test.go:36-53: one insert -> one message on COLL1.insert with
    msg id == resume token and an ExtJSON body that round-trips."""
    conn = _connector(spark, tmp_path, n_docs=1, with_noise_tail=False, with_duplicates=False)
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    msgs = sink.read_messages().filter(F.col("subject") == "COLL1.insert").collect()
    assert len(msgs) == 1
    m = msgs[0]
    body = json.loads(m.data)
    assert m.msg_id == body["_id"]["_data"]
    assert body["operationType"] == "insert"
    assert body["ns"] == {"db": "test-connector-db", "coll": "coll1"}
    assert body["fullDocument"]["message"] == "test 0"
    assert body["fullDocumentBeforeChange"] is None
    assert set(body["documentKey"]["_id"].keys()) == {"$oid"}


def test_update_delete_images(spark, tmp_path):
    """update_test.go:51-56 / delete_test.go:50-55: update carries both
    images; delete has no post-image but a pre-image."""
    conn = _connector(spark, tmp_path, n_docs=1, with_noise_tail=False, with_duplicates=False)
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    upd = json.loads(
        sink.read_messages().filter(F.col("subject") == "COLL1.update").first().data
    )
    assert upd["fullDocument"]["message"] == "bye 0"
    assert upd["fullDocumentBeforeChange"]["message"] == "test 0"
    dele = json.loads(
        sink.read_messages().filter(F.col("subject") == "COLL1.delete").first().data
    )
    assert dele["fullDocument"] is None
    assert dele["fullDocumentBeforeChange"]["message"] == "replaced 0"


def test_noise_ops_not_published(spark, tmp_path):
    """drop_test.go:32-42 / rename_test.go: drop/rename/invalidate produce NO
    messages and do not crash the pipeline."""
    conn = _connector(spark, tmp_path, n_docs=5, with_noise_tail=True, with_duplicates=False)
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    subjects = {r.subject for r in sink.read_messages().select("subject").distinct().collect()}
    assert subjects == {"COLL1.insert", "COLL1.update", "COLL1.replace", "COLL1.delete"}
    assert conn.health()["components"][0]["name"] == "pipeline-COLL1"


def test_duplicate_tokens_deduped(spark, tmp_path):
    """README.md:121-127 crash matrix: replayed events with the same resume
    token are dropped by msg-id dedup (consumer side), like Nats-Msg-Id."""
    conn = _connector(spark, tmp_path, n_docs=5, with_noise_tail=False, with_duplicates=True)
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    total = sink.message_count(deduped=True)
    raw = sink.message_count(deduped=False)
    assert total == 5 * 4  # 4 ops per doc, duplicates dropped
    assert raw >= total  # at-least-once underneath


def test_order_preserved_and_exactly_once_across_restart(spark, tmp_path):
    """faultinjection/restart_connector_test.go:30-38 +
    MustVerifyMessageCorrectness (harness.go:274-294): kill the query
    mid-stream, restart from the checkpoint, then verify every event arrived
    exactly once and in token order."""
    feed = str(tmp_path / "feed")
    n1 = write_change_event_feed(
        spark, feed, n_docs=25, with_noise_tail=False, with_duplicates=False
    )
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed}, sink_root=str(tmp_path / "sink")
    )
    conn.start()
    conn.process_all_available()
    conn.stop()  # "restart the connector"

    # more events arrive while the connector is down
    extra = generate_change_events(
        spark, n_docs=50, with_noise_tail=False, with_duplicates=False
    ).filter(F.col("document_key_id") >= F.lpad(F.lit("19"), 24, "0"))  # docs 25..49
    extra.orderBy("_id_data").coalesce(1).write.mode("append").parquet(feed)

    conn2 = Connector(
        spark, cfg, {"test-connector-db.coll1": feed}, sink_root=str(tmp_path / "sink")
    )
    conn2.start()
    conn2.process_all_available()
    conn2.stop()

    sink = conn2.handles[0].sink
    msgs = sink.read_messages().orderBy("epoch", "seq_in_epoch").collect()
    # exactly once: no duplicate msg ids
    ids = [m.msg_id for m in msgs]
    assert len(ids) == len(set(ids)), "duplicate messages after restart"
    assert len(ids) == n1 + extra.count()
    # in-order per collection: token order == arrival order
    assert ids == sorted(ids), "messages out of order"


def test_invalidate_stops_pipeline_siblings_keep_running(spark, tmp_path):
    """O6 end-to-end (client.go:232-235 + drop_test.go:32-42): an invalidate
    marker stops THAT pipeline's StreamingQuery gracefully after its epoch —
    no invalidate message is published, the sibling pipeline keeps running,
    and the connector itself stays healthy."""
    import time

    feeds = {}
    for coll, noise in (("coll1", True), ("coll2", False)):
        path = str(tmp_path / f"feed_{coll}")
        write_change_event_feed(
            spark, path, n_docs=3, ns_coll=coll,
            with_noise_tail=noise, with_duplicates=False,
        )
        feeds[f"db1.{coll}"] = path
    cfg = ConnectorConfig(
        collections=[
            CollectionConfig(db_name="db1", coll_name="coll1"),
            CollectionConfig(db_name="db1", coll_name="coll2"),
        ]
    )
    conn = Connector(spark, cfg, feeds, sink_root=str(tmp_path / "sink"))
    h1, h2 = conn.start()
    conn.process_all_available()

    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and h1.query.isActive:
        time.sleep(0.2)
    assert h1.invalidated, "invalidate marker not detected"
    assert not h1.query.isActive, "invalidated pipeline should stop"
    assert h1.query.exception() is None, "stop must be graceful, not a failure"
    assert h2.query.isActive, "sibling pipeline must keep running"
    assert not h2.invalidated

    # the dropped collection's events before the invalidate were published;
    # drop/rename/invalidate themselves were not
    subjects = {r.subject for r in h1.sink.read_messages().select("subject").distinct().collect()}
    assert subjects == {"COLL1.insert", "COLL1.update", "COLL1.replace", "COLL1.delete"}
    assert h1.sink.message_count() == 12

    health = conn.health()
    assert health["status"] == "UP", "connector stays alive after a drop"
    by_name = {c["name"]: c["status"] for c in health["components"]}
    assert by_name["pipeline-COLL1"] == "COMPLETED"
    assert by_name["pipeline-COLL2"] == "UP"

    # the serve loop must not busy-spin on the terminated handle: the first
    # wait observes the termination and resets, so the next wait BLOCKS for
    # its full timeout instead of returning immediately forever
    assert conn.await_any_termination(timeout=1.0) is True
    t0 = time.monotonic()
    assert conn.await_any_termination(timeout=0.5) is False
    assert time.monotonic() - t0 >= 0.4, "second wait returned immediately"
    conn.stop()


def test_invalidate_stops_pipeline_from_the_serve_loop(spark, tmp_path):
    """O6 driven the way ``python -m`` serves (no ``--once``): only
    ``await_any_termination`` is called, never ``process_all_available``.
    The invalidated pipeline stops on that thread after its epoch commits,
    gracefully; the sibling keeps running."""
    import time

    rows = generate_change_event_rows(n_docs=3, with_duplicates=False)
    feeds = {"db1.coll1": str(tmp_path / "feed_coll1"), "db1.coll2": str(tmp_path / "feed_coll2")}
    _land(spark, feeds["db1.coll1"], rows[:8])  # epoch 0: docs 0-1
    _land(spark, feeds["db1.coll1"], rows[8:])  # epoch 1: doc 2, drop, rename, invalidate
    write_change_event_feed(
        spark, feeds["db1.coll2"], n_docs=3, ns_coll="coll2",
        with_noise_tail=False, with_duplicates=False,
    )
    cfg = ConnectorConfig(
        collections=[
            CollectionConfig(db_name="db1", coll_name="coll1"),
            CollectionConfig(db_name="db1", coll_name="coll2"),
        ]
    )
    conn = Connector(spark, cfg, feeds, sink_root=str(tmp_path / "sink"))
    h1, h2 = conn.start()
    try:
        deadline = time.monotonic() + 60
        while h1.query.isActive and time.monotonic() < deadline:
            conn.await_any_termination(timeout=1.0)
        assert h1.invalidated, "invalidate marker not detected"
        assert not h1.query.isActive, "invalidated pipeline should stop"
        assert h1.query.exception() is None, "stop must be graceful, not a failure"
        checkpoint = tmp_path / "sink" / "checkpoints" / cfg.collections[0].checkpoint_name
        assert (checkpoint / "commits" / "1").exists(), "the invalidate epoch was not committed"
        assert h2.query.isActive, "sibling pipeline must keep running"
        assert not h2.invalidated
        assert h1.sink.message_count() == 12
    finally:
        conn.stop()


def test_order_within_key_mode_exactly_once_per_key_order(spark, tmp_path):
    """Per-key-ordered sink mode: the epoch write parallelizes (no global
    coalesce) while each document's events stay in token order — the
    guarantee consumers key on (NATS subjects partition per document)."""
    feed = str(tmp_path / "feed")
    n = write_change_event_feed(
        spark, feed, n_docs=20, with_noise_tail=False, with_duplicates=False
    )
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), order_within_key=True,
    )
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    msgs = sink.read_messages().orderBy("document_key", "epoch", "seq_in_epoch").collect()
    ids = [m.msg_id for m in msgs]
    assert len(ids) == n and len(set(ids)) == n, "not exactly-once"
    per_key: dict = {}
    for m in msgs:
        per_key.setdefault(m.document_key, []).append(m.msg_id)
    for key, toks in per_key.items():
        assert toks == sorted(toks), f"per-key order violated for {key}"
    assert len(per_key) == 20


def test_nats_publish_metrics_exposed(spark, tmp_path):
    """The reference's NATS exposition (prometheus.go NatsRegisterer):
    per-subject published counters + duration histogram come from the sink."""
    from mongodb_nats_connector_spark.streaming.observability import MetricsRegistry

    registry = MetricsRegistry()
    feed = str(tmp_path / "feed")
    write_change_event_feed(
        spark, feed, n_docs=3, with_noise_tail=False, with_duplicates=False
    )
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), metrics=registry,
    )
    conn.start()
    conn.process_all_available()
    conn.stop()

    text = registry.render_prometheus()
    for op in ("insert", "update", "replace", "delete"):
        assert f'nats_messages_published_total{{subject="COLL1.{op}"}} 3' in text, text
    assert 'nats_message_duration_seconds_bucket{subject="COLL1.insert",le="+Inf"}' in text
    assert "nats_messages_failed_total" not in text  # nothing failed


def test_publish_failure_counted_per_subject(spark, tmp_path):
    """A publish whose parquet write fails counts every message of the batch
    in ``nats_messages_failed_total{subject}``, publishes nothing, and
    re-raises the write's own error. The write fails because a regular file
    sits where the sink's ``messages`` directory must go."""
    rows = generate_change_event_rows(n_docs=4)
    op = CHANGE_EVENT_SCHEMA.fieldNames().index("operation_type")
    expected = Counter(
        f"COLL1.{r[op]}" for r in rows if r[op] in PUBLISHABLE_OPERATION_TYPES
    )
    assert len(set(expected.values())) > 1  # per-subject counts differ

    sink = JetStreamLikeSink(spark, str(tmp_path / "COLL1"), "COLL1")
    os.makedirs(sink.stream_dir)
    open(sink.messages_dir, "w").close()
    batch = sink.messages(spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA))
    with pytest.raises(Exception, match="ParentNotDirectoryException"):
        sink.publish_batch(batch, 0)

    counted: dict[str, dict[str, int]] = {}
    for (name, labels), n in sink.metrics.counters.items():
        counted.setdefault(name, {})[dict(labels)["subject"]] = n
    assert counted == {"nats_messages_failed_total": expected}


def test_invalidate_detected(spark, tmp_path):
    """O6: invalidate markers are detectable for stream termination
    (client.go:232-235): ``PipelineHandle.publish`` flags a batch that
    carries one, and only such a batch."""
    sink = JetStreamLikeSink(spark, str(tmp_path / "stream"), "COLL1")
    sink.add_stream()
    for epoch, noise in enumerate((False, True)):
        handle = PipelineHandle(COLL1.collections[0], sink)
        ev = generate_change_events(spark, n_docs=2, with_noise_tail=noise)
        assert ev.filter(F.col("operation_type") == "invalidate").count() == int(noise)
        handle.publish(sink.messages(ev), epoch)
        assert handle.invalidated is noise, f"epoch {epoch}"


@pytest.mark.parametrize("order_within_key, n_jobs", [(False, 1), (True, 2)])
def test_invalidate_flagged_by_the_publish_job(spark, tmp_path, order_within_key, n_jobs):
    """O6 (client.go:232-235): ``publish`` flags a batch carrying an
    invalidate marker — and not one without — also when no event of the
    batch is publishable (a dropped collection's drop + invalidate). The
    check rides the publish job: one Spark job per epoch in total-order
    mode, the shuffle's map stage and the write in per-key mode."""
    sink = JetStreamLikeSink(
        spark, str(tmp_path / "stream"), "COLL1", order_within_key=order_within_key
    )
    sink.add_stream()
    sc = spark.sparkContext
    cases = [(2, False, False), (2, True, True), (0, True, True)]  # docs, noise tail, flagged
    for epoch, (n_docs, noise, flagged) in enumerate(cases):
        handle = PipelineHandle(COLL1.collections[0], sink)
        group = f"invalidate-check-{order_within_key}-{epoch}"
        sc.setJobGroup(group, "one epoch of the batch handler")
        try:
            batch = generate_change_events(
                spark, n_docs=n_docs, with_noise_tail=noise, with_duplicates=False
            )
            handle.publish(sink.messages(batch), epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert handle.invalidated is flagged, f"epoch {epoch}"
        jobs, _ = _jobs_since(spark, group, set())
        assert len(jobs) == n_jobs, f"epoch {epoch} ran {len(jobs)} jobs"
    assert sink.message_count(deduped=False) == 2 * 8  # noise never published


@pytest.mark.parametrize("order_within_key, n_jobs", [(False, 1), (True, 2)])
def test_epoch_job_shape(spark, tmp_path, monkeypatch, order_within_key, n_jobs):
    """One epoch is one Spark job in total-order mode: the sort follows the
    ``coalesce(1)``, so the executed plan has no Exchange and one task reads,
    serializes, sorts and writes, with one ``Observation`` counting every
    operation type riding it. Per-key mode runs two: its document_key
    shuffle's map stage and the write."""
    plans: list[str] = []
    epoch_messages = JetStreamLikeSink.epoch_messages

    def record(sink, batch, observation):
        out = epoch_messages(sink, batch, observation)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(JetStreamLikeSink, "epoch_messages", record)
    rows = generate_change_event_rows(n_docs=20, with_noise_tail=False, with_duplicates=False)
    feed = str(tmp_path / "feed")
    _land(spark, feed, rows[:40])
    conn = Connector(
        spark, COLL1, {"test-connector-db.coll1": feed}, sink_root=str(tmp_path / "sink"),
        order_within_key=order_within_key, metrics=MetricsRegistry(),
    )
    # small scan splits, so the epoch's input spans several partitions
    split = {"spark.sql.files.maxPartitionBytes": "2k", "spark.sql.files.openCostInBytes": "0"}
    saved = {k: spark.conf.get(k) for k in split}
    for k, v in split.items():
        spark.conf.set(k, v)
    try:
        (h,) = conn.start()
        conn.process_all_available()
        group = str(h.query.runId)
        before, _ = _jobs_since(spark, group, set())
        _land(spark, feed, rows[40:])
        conn.process_all_available()
        assert h.query.lastProgress["batchId"] == 1
        jobs, stages = _jobs_since(spark, group, {j.jobId for j in before})
    finally:
        conn.stop()
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(jobs) == n_jobs, f"batch 1 ran {len(jobs)} jobs"
    assert plans[-1].count("CollectMetrics") == 1, plans[-1]
    (observed,) = [line for line in plans[-1].splitlines() if "CollectMetrics" in line]
    for op in (*PUBLISHABLE_OPERATION_TYPES, "invalidate"):
        assert f" AS {op}#" in observed, observed
    if order_within_key:
        assert plans[-1].count("Exchange") == 1, plans[-1]
        assert "Exchange hashpartitioning(document_key#" in plans[-1], plans[-1]
        assert max(st.numTasks for st in stages) > 1  # the map stage: one task per split
    else:
        assert "Exchange" not in plans[-1], plans[-1]
        assert [st.numTasks for st in stages] == [1]
    assert h.sink.message_count() == 80


@pytest.mark.parametrize("order_within_key", [False, True])
def test_epochs_reuse_generated_code(spark, tmp_path, order_within_key):
    """Whole-stage codegen compiles an epoch's plans once: no per-epoch
    value is a literal in the generated code, so the second and third epochs
    hit the compiled-class cache and compile nothing."""
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    rows = generate_change_event_rows(n_docs=15, with_noise_tail=False, with_duplicates=False)
    feed = str(tmp_path / "feed")
    _land(spark, feed, rows[:20])
    conn = Connector(
        spark, COLL1, {"test-connector-db.coll1": feed}, sink_root=str(tmp_path / "sink"),
        order_within_key=order_within_key, metrics=MetricsRegistry(),
    )
    counts = []
    try:
        (h,) = conn.start()
        conn.process_all_available()
        counts.append(compilations.getCount())
        for epoch, lo in ((1, 20), (2, 40)):
            _land(spark, feed, rows[lo : lo + 20])
            conn.process_all_available()
            assert h.query.lastProgress["batchId"] == epoch
            counts.append(compilations.getCount())
    finally:
        conn.stop()
    assert counts == [counts[0]] * 3, counts
    assert h.sink.message_count() == 60


def _parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


@pytest.mark.parametrize("order_within_key", [False, True])
def test_epoch_directory_layout(spark, tmp_path, order_within_key):
    """An epoch directory holds only its part files: no ``_SUCCESS`` marker
    and no ``epoch`` column (the directory name carries it). The columns
    unique within an epoch — msg_id, data and, in total order, seq_in_epoch —
    are written without a dictionary; subject, four values per stream, keeps
    one, and so does the per-key seq_in_epoch. The consumer view still reads
    ``epoch`` back as an int."""
    sink = JetStreamLikeSink(
        spark, str(tmp_path / "stream"), "COLL1", order_within_key=order_within_key
    )
    sink.add_stream()
    events = generate_change_events(spark, n_docs=50, with_noise_tail=False)
    sink.publish_batch(sink.messages(events), 3)
    epoch_dir = os.path.join(sink.messages_dir, "epoch=3")
    assert not os.path.exists(os.path.join(epoch_dir, "_SUCCESS"))
    files = _parquet_files(epoch_dir)
    assert files
    dictionary: dict[str, set[bool]] = {}
    for f in files:
        meta = pq.ParquetFile(f).metadata
        assert "epoch" not in meta.schema.names
        for g in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                col = meta.row_group(g).column(c)
                dictionary.setdefault(col.path_in_schema, set()).add(col.has_dictionary_page)
    assert dictionary["msg_id"] == dictionary["data"] == {False}
    assert dictionary["seq_in_epoch"] == {order_within_key}
    assert dictionary["subject"] == {True}
    view = sink.read_messages(deduped=False)
    assert dict(view.dtypes)["epoch"] == "int"
    assert {r.epoch for r in view.select("epoch").distinct().collect()} == {3}


@pytest.mark.parametrize("old_epoch", [0, 2])
def test_read_messages_over_old_and_new_epoch_layouts(spark, tmp_path, old_epoch):
    """A stream whose earlier epochs were written with ``epoch`` inside the
    file as well as in the directory name reads like one written entirely in
    the current layout: the same rows, the same types and the same dedup
    (replayed tokens keep their earliest copy). The old-layout epoch is the
    first or the last of three, so either layout can be the one whose footer
    the reader infers the schema from."""
    rows = generate_change_event_rows(n_docs=6, with_noise_tail=False, with_duplicates=False)
    # epoch 1 replays two tokens of epoch 0, epoch 2 one of epoch 1
    batches = [rows[:8], rows[6:16], rows[15:]]
    mixed = JetStreamLikeSink(spark, str(tmp_path / "mixed"), "COLL1")
    current = JetStreamLikeSink(spark, str(tmp_path / "current"), "COLL1")
    for epoch, part in enumerate(batches):
        batch = current.messages(spark.createDataFrame(part, CHANGE_EVENT_SCHEMA))
        current.publish_batch(batch, epoch)
        if epoch != old_epoch:
            mixed.publish_batch(batch, epoch)
            continue
        # the layout epochs had before: the window's 1-based token position
        # and the epoch number inside the file
        seq = F.row_number().over(Window.orderBy("msg_id"))
        batch.drop("operation_type").coalesce(1).withColumns(
            {"seq_in_epoch": seq, "epoch": F.lit(epoch)}
        ).write.parquet(os.path.join(mixed.messages_dir, f"epoch={epoch}"))

    def has_epoch_column(sink, epoch):
        (f,) = _parquet_files(os.path.join(sink.messages_dir, f"epoch={epoch}"))
        return "epoch" in pq.ParquetFile(f).schema_arrow.names

    assert [has_epoch_column(mixed, e) for e in range(3)] == [e == old_epoch for e in range(3)]

    for deduped in (False, True):
        want = current.read_messages(deduped)
        got = mixed.read_messages(deduped)
        assert got.dtypes == want.dtypes
        key = ["epoch", "seq_in_epoch"]
        assert got.orderBy(key).collect() == want.orderBy(key).collect(), deduped
    assert mixed.message_count(deduped=False) == len(rows) + 3
    assert mixed.message_count() == len(rows)


@pytest.mark.parametrize("order_within_key", [False, True])
def test_epoch_of_only_drop_rename_publishes_nothing(spark, tmp_path, order_within_key):
    """An epoch whose file holds only drop/rename events commits and writes
    an empty partition: the deduped view and the NATS counters do not move,
    and a later file still publishes in token order (per key, in per-key
    mode)."""
    rows = generate_change_event_rows(n_docs=3, with_duplicates=False)
    first, noise = rows[:12], rows[12:14]  # docs 0-2; drop, rename
    assert {r[1] for r in noise} == {"drop", "rename"}
    later = generate_change_event_rows(n_docs=10, with_noise_tail=False, with_duplicates=False)[16:]
    feed = str(tmp_path / "feed")
    _land(spark, feed, first)
    registry = MetricsRegistry()
    conn = Connector(
        spark, COLL1, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), order_within_key=order_within_key, metrics=registry,
    )
    (h,) = conn.start()

    def view():
        order = ("document_key",) if order_within_key else ()
        return [
            (r.msg_id, r.epoch, r.seq_in_epoch, r.data)
            for r in h.sink.read_messages().orderBy(*order, "epoch", "seq_in_epoch").collect()
        ]

    def nats():
        return {k: v for k, v in registry.counters.items() if k[0].startswith("nats_")}, dict(
            registry.dur_count
        )

    try:
        conn.process_all_available()
        before, counters = view(), nats()
        _land(spark, feed, noise)
        conn.process_all_available()
        assert h.query.lastProgress["batchId"] == 1
        checkpoint = str(tmp_path / "sink" / "checkpoints" / COLL1.collections[0].checkpoint_name)
        assert os.path.exists(os.path.join(checkpoint, "commits", "1")), "epoch 1 not committed"
        assert view() == before
        assert nats() == counters
        _land(spark, feed, later)
        conn.process_all_available()
    finally:
        conn.stop()
    assert not h.invalidated
    msgs = h.sink.read_messages().collect()
    assert sorted(m.msg_id for m in msgs) == sorted(r[0] for r in first + later)
    streams: dict = {}  # the whole stream, or one per document key
    for m in sorted(msgs, key=lambda m: (m.epoch, m.seq_in_epoch)):
        streams.setdefault(m.document_key if order_within_key else None, []).append(m.msg_id)
    for ids in streams.values():
        assert ids == sorted(ids), "token order violated"
    published = sum(
        v for (name, _), v in registry.counters.items() if name == "nats_messages_published_total"
    )
    assert published == len(first) + len(later)


@pytest.mark.parametrize("order_within_key", [False, True])
def test_pause_resume_zero_loss(spark, tmp_path, order_within_key):
    """restart_mongo_test.go:30-38 analogue: the source goes quiet (no new
    feed file) while the query keeps running, then resumes. The idle trigger
    publishes nothing, and every event arrives exactly once, in token order
    (per key, in per-key mode), with no restart."""
    rows = generate_change_event_rows(n_docs=25, with_noise_tail=False, with_duplicates=False)
    first, later = rows[:40], rows[40:]  # docs 0-9, docs 10-24
    feed = str(tmp_path / "feed")
    _land(spark, feed, first)
    conn = Connector(
        spark, COLL1, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), order_within_key=order_within_key,
    )
    (h,) = conn.start()
    epochs = os.path.join(h.sink.messages_dir, "epoch=*")
    try:
        conn.process_all_available()
        assert h.sink.message_count(deduped=False) == len(first)
        written = sorted(glob.glob(epochs))
        conn.process_all_available()  # outage: no new file
        assert h.query.isActive
        assert sorted(glob.glob(epochs)) == written
        assert h.sink.message_count(deduped=False) == len(first)
        _land(spark, feed, later)  # recovery
        conn.process_all_available()
    finally:
        conn.stop()
    msgs = h.sink.read_messages(deduped=False).collect()
    assert sorted(m.msg_id for m in msgs) == [r[0] for r in rows]
    streams: dict = {}  # the whole stream, or one per document key
    for m in sorted(msgs, key=lambda m: (m.epoch, m.seq_in_epoch)):
        streams.setdefault(m.document_key if order_within_key else None, []).append(m.msg_id)
    for ids in streams.values():
        assert ids == sorted(ids), "token order broken across the outage"


def test_message_count_zero_only_before_first_epoch(spark, tmp_path):
    """An unwritten stream counts 0; an unreadable part file is an error,
    not an empty stream."""
    sink = JetStreamLikeSink(spark, str(tmp_path / "stream"), "COLL1")
    sink.add_stream()
    assert sink.message_count() == 0
    part = os.path.join(sink.messages_dir, "epoch=0", "part-00000.parquet")
    os.makedirs(os.path.dirname(part))
    with open(part, "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        sink.message_count()


def test_extjson_envelope_roundtrip(spark):
    """O7 fidelity: serialize the envelope to relaxed ExtJSON and parse the
    typed fields back out ($oid / $date / $timestamp), insert_test.go:45-52.
    A collection name holding a quote and a backslash (MongoDB allows both)
    is escaped, so the body still parses and names the collection."""
    ev = generate_change_events(spark, n_docs=3, with_noise_tail=False, with_duplicates=False)
    ev = ev.unionByName(ev.limit(1).withColumn("ns_coll", F.lit('we"ird\\coll')))
    doc = ev.select(
        "_id_data",
        "document_key_id",
        "wall_time",
        "ns_coll",
        envelope_to_extjson().alias("j"),
    )
    parsed = doc.select(
        "_id_data",
        "document_key_id",
        "wall_time",
        "ns_coll",
        "j",
        F.get_json_object("j", "$._id._data").alias("token"),
        F.get_json_object("j", "$.documentKey._id.$oid").alias("oid"),
        F.to_timestamp(F.get_json_object("j", "$.wallTime.$date")).alias("wall"),
    )
    for r in parsed.collect():
        assert r.token == r._id_data
        assert r.oid == r.document_key_id
        assert r.wall == r.wall_time
        assert json.loads(r.j)["ns"]["coll"] == r.ns_coll


def test_multi_pipeline_fanout(spark, tmp_path):
    """O14: two watched collections -> two concurrent StreamingQueries, one
    stream each (connector.go:155-174; config fixture FIXTURES.md §5)."""
    feeds = {}
    for coll in ("coll1", "coll2"):
        path = str(tmp_path / f"feed_{coll}")
        write_change_event_feed(
            spark, path, n_docs=3, ns_coll=coll,
            with_noise_tail=False, with_duplicates=False,
        )
        feeds[f"db1.{coll}"] = path
    cfg = ConnectorConfig(
        collections=[
            CollectionConfig(db_name="db1", coll_name="coll1",
                             tokens_coll_capped=True, tokens_coll_size_in_bytes=4096),
            CollectionConfig(db_name="db1", coll_name="coll2"),
        ]
    )
    conn = Connector(spark, cfg, feeds, sink_root=str(tmp_path / "sink"))
    handles = conn.start()
    assert len(handles) == 2
    conn.process_all_available()
    health = conn.health()
    assert health["status"] == "UP"
    conn.stop()
    for h in handles:
        assert h.sink.message_count() == 12
        subs = {r.subject for r in h.sink.read_messages().select("subject").distinct().collect()}
        assert all(s.startswith(h.config.stream_name + ".") for s in subs)


def test_start_with_a_missing_feed_starts_no_query(spark, tmp_path):
    """A collection without a feed fails ``start()`` before any query runs:
    the collection listed first, whose feed exists, must not be left
    running with no handle to stop it."""
    feed = str(tmp_path / "feed_coll1")
    write_change_event_feed(spark, feed, n_docs=3, ns_coll="coll1")
    cfg = ConnectorConfig(
        collections=[
            CollectionConfig(db_name="db1", coll_name="coll1"),
            CollectionConfig(db_name="db1", coll_name="coll2"),
        ]
    )
    conn = Connector(spark, cfg, {"db1.coll1": feed}, sink_root=str(tmp_path / "sink"))
    before = {q.id for q in spark.streams.active}
    with pytest.raises(KeyError, match="db1.coll2"):
        conn.start()
    assert {q.id for q in spark.streams.active} == before
    assert conn.handles == []


@pytest.mark.parametrize("order_within_key", [False, True])
def test_publish_failure_then_replay_no_duplicates(spark, tmp_path, order_within_key):
    """README.md:118-127 crash matrix row 2: publish fails mid-epoch -> the
    query fails, a restart replays the SAME epoch, and the sink stays
    effectively-once (epoch-keyed idempotent write + msg-id dedup). Runs in
    both ordering modes: reference-faithful total order and the parallel
    per-key-ordered mode."""
    from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink

    feed = str(tmp_path / "feed")
    n = write_change_event_feed(
        spark, feed, n_docs=10, with_noise_tail=False, with_duplicates=False
    )

    class FlakySink(JetStreamLikeSink):
        def __init__(self, *a, fail_marker: str, **kw):
            super().__init__(*a, **kw)
            self.fail_marker = fail_marker

        def publish_batch(self, batch, epoch_id):
            super().publish_batch(batch, epoch_id)  # publish happened ...
            import os
            if not os.path.exists(self.fail_marker):
                open(self.fail_marker, "w").close()
                raise RuntimeError("injected NATS publish failure")  # ... then die

    marker = str(tmp_path / "failed_once")
    sink = FlakySink(
        spark,
        stream_dir=str(tmp_path / "sink/streams/COLL1"),
        stream_name="COLL1",
        fail_marker=marker,
        order_within_key=order_within_key,
    )
    sink.add_stream()
    checkpoint = str(tmp_path / "sink/checkpoints/c1")

    from mongodb_nats_connector_spark.sources.change_events import (
        read_change_event_stream,
    )

    def start():
        return (
            sink.messages(read_change_event_stream(spark, feed))
            .writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(sink.publish_batch)
            .start()
        )

    q = start()
    with pytest.raises(Exception):
        q.processAllAvailable()  # injected failure surfaces here
    q.stop()

    q2 = start()  # restart: checkpoint replays the uncommitted epoch
    q2.processAllAvailable()
    q2.stop()

    assert sink.message_count(deduped=True) == n
    if order_within_key:
        msgs = sink.read_messages().orderBy("document_key", "epoch", "seq_in_epoch").collect()
        assert len({m.msg_id for m in msgs}) == n
        per_key: dict = {}
        for m in msgs:
            per_key.setdefault(m.document_key, []).append(m.msg_id)
        for toks in per_key.values():
            assert toks == sorted(toks)
    else:
        ids = [r.msg_id for r in sink.read_messages().orderBy("epoch", "seq_in_epoch").collect()]
        assert ids == sorted(ids) and len(set(ids)) == n


@pytest.mark.parametrize("order_within_key", [False, True])
def test_throughput_floor_100_events(spark, tmp_path, order_within_key):
    """BASELINE.md row 1 (harness.go:284 + base_test.go:30): 100 events must
    flow source->transform->publish end-to-end within the reference's 10 s
    subscribe window (>= 10 events/s sustained), exactly once — in BOTH
    ordering modes: the reference-faithful total order and the parallel
    per-key write path."""
    import time

    feed = str(tmp_path / "feed")
    n = write_change_event_feed(
        spark, feed, n_docs=100, with_noise_tail=False, with_duplicates=False
    )
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), order_within_key=order_within_key,
    )
    conn.start()  # startup is covered by the cold-start bound, not this one
    t0 = time.perf_counter()
    conn.process_all_available()
    elapsed = time.perf_counter() - t0
    conn.stop()

    sink = conn.handles[0].sink
    if order_within_key:
        msgs = sink.read_messages().orderBy("document_key", "epoch", "seq_in_epoch").collect()
        ids = [m.msg_id for m in msgs]
        assert len(ids) == n and len(set(ids)) == n
        per_key: dict = {}
        for m in msgs:
            per_key.setdefault(m.document_key, []).append(m.msg_id)
        for toks in per_key.values():
            assert toks == sorted(toks)
    else:
        ids = [r.msg_id for r in sink.read_messages().orderBy("epoch", "seq_in_epoch").collect()]
        assert len(ids) == n and ids == sorted(ids)
    assert elapsed < 10.0, f"100 events took {elapsed:.1f}s (floor is 10s)"


def test_sink_dedup_unbounded_across_epochs(spark, tmp_path):
    """A msg_id re-published in later epochs is delivered once, however many
    epochs later: the consumer view's dedup window is unbounded. The raw
    view keeps every stored copy."""
    from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink

    sink = JetStreamLikeSink(spark, str(tmp_path / "stream"), "COLL")
    sink.add_stream()
    batch = spark.createDataFrame(
        [("tok-1", "COLL.insert", "{}", "insert")],
        "msg_id string, subject string, payload string, operation_type string",
    )
    for epoch in (0, 2, 5):
        sink.publish_batch(batch, epoch)

    deduped = sink.read_messages().collect()
    assert len(deduped) == 1 and deduped[0]["epoch"] == 0
    assert sink.read_messages(deduped=False).count() == 3
