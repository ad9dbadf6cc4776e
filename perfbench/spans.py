"""Traced runs: spans around the calls into each layer, Spark job counts per
epoch, and the per-layer numbers derived from them.

Spans come from three places, all outside the program:
  * the epoch and its ``durationMs`` phases, from the query's progress
    reports (phase durations are exact; their starts are laid end to end in
    execution order from the epoch start, so they are approximate);
  * wrappers around ``JetStreamLikeSink.publish_batch`` and ``read_messages``
    installed on the class for the length of the run;
  * Spark's job and stage records, read from the driver's REST API and keyed
    by the query's run id and the ``batch = N`` job description.

Only even epochs are traced; odd epochs pass straight through the wrapper and
are the untraced side of the tracing-overhead figure.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import statistics
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass

PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
SOURCE_PHASES = ("latestOffset", "getBatch", "setOffsetRange")
CHECKPOINT_PHASES = ("walCommit", "commitOffsets")


@dataclass
class Span:
    name: str
    start: float  # wall clock, s
    end: float
    parent: str | None
    epoch: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._saved: dict = {}

    def _add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def install(self) -> None:
        from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink as S

        publish, read = S.publish_batch, S.read_messages
        self._saved = {"publish_batch": publish, "read_messages": read}
        tracer = self

        def publish_batch(sink, batch, epoch_id):
            if epoch_id % 2:
                return publish(sink, batch, epoch_id)
            t0 = time.time()
            try:
                return publish(sink, batch, epoch_id)
            finally:
                tracer._add(
                    Span("sink.publish_batch", t0, time.time(), f"epoch{epoch_id}.addBatch", epoch_id)
                )

        def read_messages(sink, *args, **kwargs):
            t0 = time.time()
            try:
                return read(sink, *args, **kwargs)
            finally:
                tracer._add(
                    Span("sink.read_messages", t0, time.time(), threading.current_thread().name, None)
                )

        S.publish_batch = publish_batch
        S.read_messages = read_messages

    def uninstall(self) -> None:
        from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink as S

        for name, fn in self._saved.items():
            setattr(S, name, fn)
        self._saved = {}

    def add_progress(self, progress: dict[int, object]) -> None:
        for batch, p in sorted(progress.items()):
            start = (
                dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                .replace(tzinfo=dt.timezone.utc)
                .timestamp()
            )
            d = p.durationMs
            self._add(Span("epoch", start, start + d["triggerExecution"] / 1000, None, batch))
            t = start
            for phase in PHASE_ORDER + tuple(k for k in d if k not in PHASE_ORDER):
                if phase == "triggerExecution" or phase not in d:
                    continue
                self._add(Span(phase, t, t + d[phase] / 1000, f"epoch{batch}", batch))
                t += d[phase] / 1000

    def publish_ms(self) -> dict[int, float]:
        return {
            s.epoch: (s.end - s.start) * 1000
            for s in self.spans if s.name == "sink.publish_batch"
        }

    def read_ms(self) -> list[float]:
        return [(s.end - s.start) * 1000 for s in self.spans if s.name == "sink.read_messages"]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


def layer_self_times(progress: dict[int, object], publish: dict[int, float]) -> dict:
    """Per-epoch self time of each layer over the traced epochs (means, ms)
    and the share of ``triggerExecution`` they account for."""
    rows = []
    for batch, p in progress.items():
        if batch not in publish:
            continue
        d = p.durationMs
        source = sum(d.get(k, 0) for k in SOURCE_PHASES)
        checkpoint = sum(d.get(k, 0) for k in CHECKPOINT_PHASES)
        sink = publish[batch]
        pipeline = d.get("queryPlanning", 0) + d["addBatch"] - sink
        trigger = d["triggerExecution"]
        rows.append((source, pipeline, sink, checkpoint, trigger, d["addBatch"] - sink))
    if not rows:
        raise ValueError("no traced epochs")
    cols = [statistics.fmean(c) for c in zip(*rows)]
    source, pipeline, sink, checkpoint, trigger, handler = cols
    return {
        "self.source_ms": source,
        "self.pipeline_ms": pipeline,
        "self.sink_ms": sink,
        "self.checkpoint_ms": checkpoint,
        "self.unaccounted_ms": trigger - source - pipeline - sink - checkpoint,
        "trace.accounted_share": (source + pipeline + sink + checkpoint) / trigger,
        "pipeline.handler_self_ms": handler,
    }


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_jobs(spark, run_id: str, batches: set[int]) -> dict[int, dict]:
    """Jobs, tasks and write-job tasks of each batch of one query run."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    writes = {s["stageId"] for s in _get(f"{base}/stages") if s.get("outputRecords", 0) > 0}
    out = {b: {"jobs": 0, "tasks": 0, "write_tasks": 0} for b in batches}
    for j in jobs:
        if j.get("jobGroup") != run_id:
            continue
        m = re.search(r"batch = (\d+)", j.get("description", ""))
        if not m or int(m.group(1)) not in out:
            continue
        rec = out[int(m.group(1))]
        rec["jobs"] += 1
        rec["tasks"] += j["numTasks"]
        if writes & set(j["stageIds"]):
            rec["write_tasks"] += j["numTasks"]
    return out
