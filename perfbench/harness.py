"""Drive the shipped connector the way ``python -m mongodb_nats_connector_spark``
wires it, and read back what it did.

Everything here calls the program's public surface only: ``get_spark``,
``Connector`` with a ``MetricsRegistry`` and an attached
``ConnectorMetricsListener``, and ``JetStreamLikeSink.read_messages``. The
epoch timeline comes from the query's own progress reports and from its
checkpoint (the source log maps feed files to batches, the commit log's file
times say when each batch committed).
"""

from __future__ import annotations

import json
import os
import resource
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from feed import COLL, DB, STREAM


# -- host context -----------------------------------------------------------

def _steal_jiffies() -> int:
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


class HostContext:
    """nproc, the CPU budget, load average and the steal accrued over a run."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.steal0 = _steal_jiffies()

    def snapshot(self) -> dict:
        wall = time.monotonic() - self.t0
        steal_s = (_steal_jiffies() - self.steal0) / os.sysconf("SC_CLK_TCK")
        cpus = os.cpu_count() or 1
        return {
            "nproc": cpus,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg": list(os.getloadavg()),
            "wall_s": round(wall, 3),
            "steal_s": round(steal_s, 3),
            # share of all CPU time in the run the hypervisor took away
            "heavy_steal": steal_s > 0.1 * wall * cpus,
        }


# -- Spark process lifecycle -----------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str) -> int:
    """utime + stime of a process or thread, in clock ticks."""
    with open(stat_path, encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class SparkProcess:
    """The session plus the JVM it runs in; ``close`` stops both and waits."""

    def __init__(self, master: str | None = None) -> None:
        from mongodb_nats_connector_spark.session import get_spark
        from pyspark import SparkContext

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="mnc-perfbench", master=master)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.proc = SparkContext._gateway.proc
        self._jit_threads: list[str] | None = None

    def peak_rss_mb(self) -> float:
        jvm_kb = 0
        with open(f"/proc/{self.proc.pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds (user + system) used so far by the JVM and this process.
        Time the hypervisor steals from the guest is not charged to either."""
        t = os.times()
        return _cpu_ticks(f"/proc/{self.proc.pid}/stat") / _HZ + t.user + t.system

    def jit_cpu_s(self) -> float:
        """CPU seconds used so far by the JVM's JIT compiler threads. Their
        set is fixed for the JVM's life: the benchmark turns off their
        dynamic count."""
        task = f"/proc/{self.proc.pid}/task"
        if self._jit_threads is None:
            self._jit_threads = []
            for tid in os.listdir(task):
                try:
                    with open(os.path.join(task, tid, "comm"), encoding="utf-8") as f:
                        name = f.read()
                except OSError:  # the thread ended
                    continue
                if "CompilerThre" in name:
                    self._jit_threads.append(os.path.join(task, tid, "stat"))
        return sum(_cpu_ticks(p) for p in self._jit_threads) / _HZ

    def work_cpu_s(self) -> float:
        """``cpu_s`` less the JIT compiler's share: the CPU that ran the
        program's code (interpreted or compiled) and the JVM's GC."""
        return self.cpu_s() - self.jit_cpu_s()

    def stop_session(self) -> None:
        self.spark.stop()

    def close(self) -> None:
        try:
            self.spark.stop()
        finally:
            shutdown_jvm(self.proc)


def shutdown_jvm(proc) -> None:
    """The gateway JVM exits when its stdin closes; wait for it, kill if not."""
    if proc is None or proc.poll() is not None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


# -- checkpoint reading -----------------------------------------------------

def source_log(checkpoint: str) -> dict[str, int]:
    """Feed file basename -> batch id, from ``sources/0`` incl. ``.compact``."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> wall time (s) its commit-log entry was written."""
    d = os.path.join(checkpoint, "commits")
    out: dict[int, float] = {}
    for name in os.listdir(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


# -- the connector under test ----------------------------------------------

@dataclass
class Landing:
    """A feed file landed (or due to land) in the connector's feed dir."""

    name: str
    publishable: int
    due: float  # scheduled landing time (wall clock, s)
    landed: float = 0.0


@dataclass
class ConnectorRun:
    """One started ``Connector`` over one feed dir, as the entrypoint wires it."""

    spark: object
    root: str
    order_within_key: bool
    connector: object = None
    registry: object = None
    listener: object = None
    landings: list[Landing] = field(default_factory=list)

    @property
    def feed_dir(self) -> str:
        return os.path.join(self.root, "feed")

    @property
    def checkpoint(self) -> str:
        return os.path.join(self.root, "sink", "checkpoints", f"resume-tokens__{COLL}")

    @property
    def messages_dir(self) -> str:
        return os.path.join(self.root, "sink", "streams", STREAM, "messages")

    @property
    def sink(self):
        return self.connector.handles[0].sink

    @property
    def query(self):
        return self.connector.handles[0].query

    def start(self) -> None:
        from mongodb_nats_connector_spark.config import CollectionConfig, ConnectorConfig
        from mongodb_nats_connector_spark.streaming.observability import (
            ConnectorMetricsListener,
            MetricsRegistry,
        )
        from mongodb_nats_connector_spark.streaming.pipeline import Connector

        os.makedirs(self.feed_dir, exist_ok=True)
        cfg = ConnectorConfig(collections=[CollectionConfig(db_name=DB, coll_name=COLL)])
        self.registry = MetricsRegistry()
        self.listener = ConnectorMetricsListener(self.registry)
        self.spark.streams.addListener(self.listener)
        self.connector = Connector(
            self.spark, cfg, {f"{DB}.{COLL}": self.feed_dir},
            os.path.join(self.root, "sink"),
            order_within_key=self.order_within_key, metrics=self.registry,
        )
        self.connector.start()

    def land(self, staged: str, landing: Landing, mtime: float) -> None:
        """Atomic landing: stamp a distinct mtime, then rename into the feed."""
        os.utime(staged, (mtime, mtime))
        os.rename(staged, os.path.join(self.feed_dir, landing.name))
        landing.landed = time.time()
        self.landings.append(landing)

    def drain(self) -> None:
        self.connector.process_all_available()

    def stop(self) -> None:
        if self.connector is not None:
            self.connector.stop()
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None

    def published_total(self) -> float:
        return sum(
            v for (name, _), v in self.registry.counters.items()
            if name == "nats_messages_published_total"
        )

    def progress(self, batches: set[int], timeout: float = 10.0) -> dict[int, object]:
        """Progress reports of ``batches``; the last one lands just after its
        commit, so wait briefly for it."""
        deadline = time.monotonic() + timeout
        while True:
            got = {
                p.batchId: p for p in self.query.recentProgress
                if p.batchId in batches and "addBatch" in (p.durationMs or {})
            }
            if len(got) == len(batches) or time.monotonic() > deadline:
                return got
            time.sleep(0.05)

    def timeline(self) -> tuple[dict[str, int], dict[int, float]]:
        return source_log(self.checkpoint), commit_times(self.checkpoint)


class CpuMeter(StreamingQueryListener):
    """Records ``cpu_s()`` when each epoch that read data reports its
    progress: batch id -> CPU seconds. Consecutive samples bracket one epoch
    (on a live feed: one landing cycle)."""

    def __init__(self, cpu_s) -> None:
        self.cpu_s = cpu_s
        self.samples: dict[int, float] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        if event.progress.numInputRows:
            self.samples[event.progress.batchId] = self.cpu_s()

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def full_read(sink) -> float:
    """One full read of the deduped consumer view, every column, noop write.
    Returns milliseconds."""
    t0 = time.perf_counter()
    sink.read_messages().write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1000.0
