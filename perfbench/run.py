"""Connector benchmark: one workload per run, outputs checked, metrics printed.

    python3 perfbench/run.py --workload backlog_small --seed 1 --seconds 10 --trace 0

Run from the repository root. It drives the shipped ``Connector`` over a
change-event feed generated from ``--seed`` (feed generation is excluded from
every timing), checks what the connector published, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, from a separate traced run. The
line before it records the host: nproc, ``SPARK_GRAFT_CPUS``, load average
and the CPU steal accrued during the run.

Workloads (``WORKLOADS`` below; BENCHMARK.json runs the first two):
  backlog_small  a backlog of ~2k-event files of ~200 B documents, total
                 order. Per-epoch fixed cost (planning, jobs, commits)
                 dominates.
  backlog_bulk   a few large files with multi-KB before/after images, total
                 order. Serialization and the single-task ordered write
                 dominate; per-epoch overhead is a small share. Traced runs
                 of every workload drain a few of its files on ``local[1]``
                 as the single-core baseline.
  live_reader    open loop: a generator thread lands a 1k-event file every
                 1.5 s (below capacity) while a consumer thread reads the
                 deduped view once per landing, starting just before it;
                 per-key order mode. Its own figures, freshness and read
                 latency beside the epochs, are wall-clock ones (traced run),
                 so it is run by hand rather than from BENCHMARK.json.

End-to-end metrics. The host is a few vCPUs of a shared machine whose
hypervisor steals 10-40% of their time, in amounts that differ from run to
run, so wall-clock figures there measure the neighbours. The connector's costs
are therefore measured as CPU time of the JVM plus the Python driver (stolen
time is not charged to a process), less the JVM's JIT compiler threads: they
still compile the hot code well into a short run, at a pace that varies with
the host, and they take 40-50% of the CPU. The JIT share, and the wall-clock
figures (throughput, epoch time, freshness, read latency), are reported by the
traced run.
  setup_s              median of SETUP_REPEATS connector start-ups, each
                       ``Connector.start()`` on a fresh checkpoint through its
                       first committed epoch (session start is per-layer).
  cpu_us_per_event     CPU used from one timed epoch's progress report to the
                       next, per publishable event of the later epoch; median
                       over the epochs. On live_reader an interval is one
                       landing cycle: the epoch plus the consumer read beside
                       it.
After the drain every run makes REPLAY_READS full reads of the deduped view
(every column, noop write) over the whole history, what a consumer replaying
from the start pays; their CPU is the traced run's
``sink.replay_read_cpu_ms``. On the small backlog, where a read is mostly
per-job overhead, it spread 0.18 of its median across ten seeds on a 4-vCPU
host, too close to the 0.25 bound for an end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from dataclasses import dataclass
from statistics import median

from checks import check_outputs
from feed import STREAM, Feed
from harness import ConnectorRun, CpuMeter, HostContext, Landing, SparkProcess, full_read
from spans import Tracer, layer_self_times, spark_jobs

ROOT = os.getcwd()
PACKAGE = os.path.join(ROOT, "mongodb_nats_connector_spark", "streaming", "pipeline.py")

# The first start-up pays the JVM's warm-up; the median of four is that of
# the warm ones.
SETUP_REPEATS = 4
REPLAY_READS = 4
READ_LEAD_S = 0.2  # live_reader: a read starts this long before each landing
EXTJSON_REPEATS = 3
BULK_LOCAL1_FILES = 3
WATCHDOG_S = 170.0


@dataclass(frozen=True)
class Workload:
    events_per_file: int
    doc_bytes: int
    live: bool  # open-loop landings beside a reader, per-key order mode
    files_per_s: float  # backlog: files per run-second; live: landing rate
    warm_files: int  # untimed, drained after set-up so the JIT settles first

    def files(self, seconds: int) -> int:
        return max(4, math.ceil(seconds * self.files_per_s))


WORKLOADS = {
    "backlog_small": Workload(2000, 200, False, 1.75, 3),
    "backlog_bulk": Workload(8000, 3000, False, 0.6, 1),
    "live_reader": Workload(1000, 200, True, 0.67, 3),
}


def _prepare_env(work: str) -> None:
    """Keep Spark's scratch space, temp files and the JVM's inside ``work``.
    The JVM keeps a fixed set of JIT compiler threads, so that their CPU time
    can be read per thread."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    opts = os.environ.get("JDK_JAVA_OPTIONS", "")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    ).strip()


def _stage_feed(spec: Workload, seed: int, stage: str, n: int):
    """Generate file 0 (the set-up epoch) and ``n`` more files."""
    os.makedirs(stage, exist_ok=True)
    feed = Feed(seed, spec.events_per_file, spec.doc_bytes)
    infos = [feed.write_file(os.path.join(stage, f"part-{i:06d}.parquet")) for i in range(n + 1)]
    return feed, infos


def _start(spark, spec: Workload, root: str, warm_file: str, copy: bool):
    """One set-up: land the warm-up file, start the connector, wait for its
    first epoch to commit. Returns the run and its set-up seconds."""
    run = ConnectorRun(spark, root, order_within_key=spec.live)
    os.makedirs(run.feed_dir, exist_ok=True)
    src = warm_file
    if copy:
        src = os.path.join(root, "warm.parquet")
        shutil.copyfile(warm_file, src)
    now = time.time()
    run.land(src, Landing(os.path.basename(warm_file), 0, now), now)
    run.landings.clear()  # the warm-up file is not timed
    t0 = time.perf_counter()
    run.start()
    run.drain()
    return run, time.perf_counter() - t0


def _land_backlog(run, infos) -> None:
    t = time.time()
    for i, info in enumerate(infos):
        name = os.path.basename(info.path)
        run.land(info.path, Landing(name, info.publishable, t), t + i / 1000)


def _p90(values) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _grid(t0: float, t1: float, step: float = 0.05):
    n = max(1, int((t1 - t0) / step))
    return [t0 + i * step for i in range(n + 1)]


def _lag(landings, log, commits, t: float) -> int:
    """Files landed by ``t`` whose epoch had not committed by ``t``."""
    return sum(
        1 for l in landings
        if l.landed <= t and commits.get(log.get(l.name, -1), math.inf) > t
    )


class Bench:
    def __init__(self, name: str, seed: int, seconds: int, trace: bool, work: str) -> None:
        self.name = name
        self.spec = WORKLOADS[name]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.host = HostContext()
        self.sp = None
        self.tracer = None
        self.reads: list[float] = []  # live_reader: reads beside the epochs (ms)
        self.replays: list[tuple[float, float]] = []  # (wall ms, CPU ms) per replay read
        self.read_failures: list[str] = []
        self.checks: list[tuple[str, bool, str]] = []

    # -- measurement ----------------------------------------------------
    def run(self) -> dict:
        spec = self.spec
        self.feed, infos = _stage_feed(
            spec, self.seed, os.path.join(self.work, "stage"),
            spec.warm_files + spec.files(self.seconds),
        )
        warm, self.timed = infos[1 : spec.warm_files + 1], infos[spec.warm_files + 1 :]
        if self.trace:
            self.tracer = Tracer()
            self.tracer.install()
        try:
            self.sp = SparkProcess()
            self._setup(infos[0].path)
            self.meter = CpuMeter(self.sp.work_cpu_s)
            self.sp.spark.streams.addListener(self.meter)
            _land_backlog(self.run_, warm)
            self.run_.drain()
            full_read(self.run_.sink)
            self.run_.landings.clear()
            cpu0, jit0 = self.sp.cpu_s(), self.sp.jit_cpu_s()
            if spec.live:
                self.window_end = self._live()
                self.run_.drain()
            else:
                _land_backlog(self.run_, self.timed)
                self.run_.drain()
                self.window_end = time.time()
            self._timeline()
            self.window_cpu_s = self.sp.cpu_s() - cpu0
            self.window_jit_s = self.sp.jit_cpu_s() - jit0
            for _ in range(REPLAY_READS):
                c0 = self.sp.work_cpu_s()
                wall = full_read(self.run_.sink)
                self.replays.append((wall, (self.sp.work_cpu_s() - c0) * 1000))
            self.run_.stop()
            self.sp.spark.streams.removeListener(self.meter)
            self.n_read_spans = len(self.tracer.read_ms()) if self.tracer else 0
            self.checks = check_outputs(self.run_, self.feed.expected)
            metrics = self._per_layer() if self.trace else self._end_to_end()
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
            if self.sp is not None:
                self.sp.close()
        return metrics

    def _setup(self, warm: str) -> None:
        self.setups = []
        run = None
        for k in range(SETUP_REPEATS):
            last = k == SETUP_REPEATS - 1
            if run is not None:
                run.stop()
            run, s = _start(
                self.sp.spark, self.spec, os.path.join(self.work, f"c{k}"), warm, copy=not last
            )
            self.setups.append(s)
        self.run_ = run

    def _live(self) -> float:
        """Open-loop landings every period beside a consumer that reads the
        whole view once per landing, starting READ_LEAD_S before it. A read
        already running when the epoch's jobs arrive makes their overlap the
        same on every landing; reads started at random points (back to
        back, or at the landing itself) spread the figures from run to run.
        Returns the wall time the landing window ended."""
        run, period = self.run_, 1.0 / self.spec.files_per_s
        t0 = time.time() + 0.5

        def generate() -> None:
            for i, info in enumerate(self.timed):
                due = t0 + i * period
                time.sleep(max(0.0, due - time.time()))
                name = os.path.basename(info.path)
                run.land(info.path, Landing(name, info.publishable, due), time.time())

        def consume() -> None:
            sink = run.sink
            for i in range(len(self.timed)):
                time.sleep(max(0.0, t0 + i * period - READ_LEAD_S - time.time()))
                try:
                    self.reads.append(full_read(sink))
                except Exception as e:  # a failed read is a failed operation
                    self.read_failures.append(repr(e))

        gen = threading.Thread(target=generate, name="generator")
        con = threading.Thread(target=consume, name="consumer")
        gen.start()
        con.start()
        gen.join()
        end = time.time()
        con.join()
        return end

    def _timeline(self, timeout: float = 10.0) -> None:
        """Epochs of the timed files, their commit times and, once the CPU
        meter has seen every one of them, the CPU per event of each."""
        run = self.run_
        self.log, self.commits = run.timeline()
        landed = [l for l in run.landings if l.name in self.log]
        self.batches = {self.log[l.name] for l in landed}
        self.progress = run.progress(self.batches)
        commit_of = {l.name: self.commits.get(self.log[l.name], math.nan) for l in landed}
        self.freshness = [(commit_of[l.name] - l.due) * 1000 for l in landed]
        span = max(commit_of.values()) - min(l.due for l in landed)
        self.throughput = sum(l.publishable for l in landed) / span
        self.epochs = [p.durationMs["triggerExecution"] for p in self.progress.values()]
        deadline = time.monotonic() + timeout
        cpu = self.meter.samples
        while not self.batches <= cpu.keys() and time.monotonic() < deadline:
            time.sleep(0.05)
        events = {self.log[l.name]: l.publishable for l in landed}
        # the first timed epoch's interval starts before the timed window
        self.cpu_per_event = [
            (cpu[b] - cpu[b - 1]) / events[b] * 1e6
            for b in sorted(self.batches) if b - 1 in self.batches
        ]

    def _end_to_end(self) -> dict:
        return {
            "setup_s": (median(self.setups), "s"),
            "cpu_us_per_event": (median(self.cpu_per_event), "us/event"),
        }

    # -- traced run -----------------------------------------------------
    def _per_layer(self) -> dict:
        run, progress, tracer = self.run_, self.progress, self.tracer

        def phase_ms(key):
            # a mean: phase durations are whole milliseconds, so a median of
            # a short phase repeats exactly from run to run
            return statistics.fmean(p.durationMs.get(key, 0) for p in progress.values())

        jobs = list(spark_jobs(self.sp.spark, str(run.query.runId), self.batches).values())
        publish = tracer.publish_ms()
        traced = [p.durationMs["triggerExecution"] for b, p in progress.items() if b in publish]
        untraced = [p.durationMs["triggerExecution"] for b, p in progress.items() if b not in publish]
        lags = [
            _lag(run.landings, self.log, self.commits, t)
            for t in _grid(min(l.landed for l in run.landings), self.window_end)
        ]
        late = [(l.landed - l.due) * 1000 for l in run.landings]
        files, sizes = self._sink_layout()
        replay_wall = median(w for w, _ in self.replays)
        m = {
            "setup.session_s": (self.sp.session_s, "s"),
            "setup.first_start_s": (self.setups[0], "s"),
            "wall.throughput_ev_per_s": (self.throughput, "ev/s"),
            "wall.epoch_ms_p50": (median(self.epochs), "ms"),
            "wall.freshness_ms_p50": (median(self.freshness), "ms"),
            "wall.consumer_read_ms_p50": (median(self.reads) if self.reads else replay_wall, "ms"),
            "wall.replay_read_ms": (replay_wall, "ms"),
            "sink.replay_read_cpu_ms": (median(c for _, c in self.replays), "ms"),
            "cpu.jit_share": (self.window_jit_s / self.window_cpu_s, "share"),
            "source.latest_offset_ms": (phase_ms("latestOffset"), "ms"),
            "source.get_batch_ms": (phase_ms("getBatch"), "ms"),
            "source.files_per_epoch": (len(run.landings) / len(self.batches), "files"),
            "source.lag_files": (statistics.fmean(lags), "files"),
            "source.backlog_files_end": (
                float(_lag(run.landings, self.log, self.commits, self.window_end)), "files"
            ),
            "generator.late_ms_p50": (median(late), "ms"),
            "generator.late_ms_max": (max(late), "ms"),
            "pipeline.add_batch_ms": (phase_ms("addBatch"), "ms"),
            "pipeline.query_planning_ms": (phase_ms("queryPlanning"), "ms"),
            "pipeline.jobs_per_epoch": (median([j["jobs"] for j in jobs]), "count"),
            "pipeline.tasks_per_epoch": (median([j["tasks"] for j in jobs]), "count"),
            "sink.publish_ms": (median(publish[b] for b in self.batches if b in publish), "ms"),
            "sink.tasks_per_write": (median([j["write_tasks"] for j in jobs]), "count"),
            "sink.files_per_epoch": (median(files), "files"),
            "sink.bytes_per_epoch": (median(sizes), "B"),
            "sink.read_ms": (median(tracer.read_ms()[: self.n_read_spans]), "ms"),
            "sink.read_files": (float(self._read_files()), "files"),
            "checkpoint.wal_commit_ms": (phase_ms("walCommit"), "ms"),
            "checkpoint.commit_offsets_ms": (phase_ms("commitOffsets"), "ms"),
            "tail.epoch_ms_p90": (_p90(self.epochs), "ms"),
            "tail.freshness_ms_p90": (_p90(self.freshness), "ms"),
            "trace.overhead_pct": ((median(traced) / median(untraced) - 1) * 100, "%"),
        }
        for k, v in layer_self_times(progress, publish).items():
            m[k] = (v, "share" if k == "trace.accounted_share" else "ms")
        m.update(self._extjson())
        tracer.add_progress(progress)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{self.name}-{self.seed}.json")
        tracer.dump(path)
        print(f"spans: {path}", file=sys.stderr)
        tracer.uninstall()
        m["mem.peak_rss_mb"] = (self.sp.peak_rss_mb(), "MB")
        m["baseline.bulk_local1_ev_per_s"] = (self._bulk_local1(), "ev/s")
        ctx = self.host.snapshot()
        m["host.cpus"] = (float(ctx["nproc"]), "count")
        m["host.steal_s"] = (ctx["steal_s"], "s")
        return m

    def _sink_layout(self):
        files, sizes = [], []
        for b in sorted(self.batches):
            d = os.path.join(self.run_.messages_dir, f"epoch={b}")
            parts = [f for f in os.listdir(d) if f.startswith("part-")]
            files.append(len(parts))
            sizes.append(sum(os.path.getsize(os.path.join(d, f)) for f in parts))
        return files, sizes

    def _read_files(self) -> int:
        return sum(
            1 for _, _, fs in os.walk(self.run_.messages_dir)
            for f in fs if f.startswith("part-")
        )

    def _extjson(self) -> dict:
        """``transform_change_events`` on one epoch's input, noop write."""
        from pyspark.sql import functions as F

        from mongodb_nats_connector_spark.functions.extjson import CHANGE_EVENT_SCHEMA
        from mongodb_nats_connector_spark.streaming.pipeline import transform_change_events

        spark = self.sp.spark
        path = os.path.join(self.run_.feed_dir, os.path.basename(self.timed[-1].path))
        events = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(path)
        out = transform_change_events(events, STREAM, keep_document_key=self.spec.live)
        times = []
        for _ in range(EXTJSON_REPEATS):
            t0 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            times.append((time.perf_counter() - t0) * 1000)
        nbytes = out.agg(F.sum(F.octet_length("data"))).first()[0]
        return {"extjson.serialize_ms": (median(times), "ms"), "extjson.bytes_out": (float(nbytes), "B")}

    def _bulk_local1(self) -> float:
        """Single-core baseline: a backlog_bulk drain of BULK_LOCAL1_FILES
        files on ``local[1]`` (a fresh session in the same JVM, a fresh
        checkpoint; its first epoch is untimed), for parallelism claims."""
        self.sp.stop_session()
        self.sp = SparkProcess(master="local[1]")
        spec = WORKLOADS["backlog_bulk"]
        feed, infos = _stage_feed(spec, self.seed, os.path.join(self.work, "stage1"), BULK_LOCAL1_FILES)
        run, _ = _start(self.sp.spark, spec, os.path.join(self.work, "local1"), infos[0].path, copy=False)
        _land_backlog(run, infos[1:])
        run.drain()
        run.stop()
        log, commits = run.timeline()
        end = max(commits[log[l.name]] for l in run.landings)
        self.checks += [
            (f"local1.{name}", ok, d) for name, ok, d in check_outputs(run, feed.expected)
        ]
        return sum(l.publishable for l in run.landings) / (end - run.landings[0].due)

    # -- result -----------------------------------------------------------
    def result(self, metrics: dict) -> dict:
        failed = sum(1 for _, ok, _ in self.checks if not ok) + len(self.read_failures)
        attempted = (
            len(self.checks) + len(self.reads) + len(self.replays) + len(self.read_failures)
        )
        for cname, ok, detail in self.checks:
            if not ok:
                print(f"check failed: {cname}: {detail}", file=sys.stderr)
        for e in self.read_failures:
            print(f"read failed: {e}", file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _watchdog(work: str) -> None:
    """Past the time limit: stop the JVM and exit without a result."""
    print(f"perfbench: no result after {WATCHDOG_S:.0f} s, aborting", file=sys.stderr)
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None and gw.proc is not None:
            gw.proc.kill()
            gw.proc.wait(timeout=10)
        shutil.rmtree(work, ignore_errors=True)
    finally:
        os._exit(3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(PACKAGE):
        print(f"perfbench: run from the repository root ({PACKAGE} not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    # SIGTERM unwinds through the finally blocks below: JVM stopped, work removed
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    timer = threading.Timer(WATCHDOG_S, _watchdog, args=(work,))
    timer.daemon = True
    timer.start()
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
        result = bench.result(bench.run())
    finally:
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)
    ctx = bench.host.snapshot()
    if ctx["heavy_steal"]:
        print(f"perfbench: heavy steal during the run ({ctx['steal_s']} s)", file=sys.stderr)
    print("host: " + json.dumps(ctx))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
