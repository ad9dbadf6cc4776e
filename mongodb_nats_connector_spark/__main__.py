"""Runnable connector entrypoint — the reference's ``cmd/connector/main.go``.

    python -m mongodb_nats_connector_spark \
        --config connector.json --source-root /feeds --sink-root /streams

Composes the same pieces main.go wires: config load with env-override
precedence (CONFIG_FILE/LOG_LEVEL/MONGO_URI/NATS_URL/SERVER_ADDR), one
streaming pipeline per watched collection, and the HTTP observability server
(/healthz + /metrics) on ``server_addr``. SIGINT/SIGTERM stop every pipeline
then exit, like the reference's signal-context shutdown (main.go:57-75).

``--source-root`` maps each watched ``<db>.<coll>`` to the change-event feed
directory ``<source-root>/<db>.<coll>``, the file-backed stand-in for a Mongo
change stream.
``--once`` drains everything currently available and exits 0 — the batch/CI
mode; without it the process serves until terminated.
"""

from __future__ import annotations

import argparse
import signal
import sys

from mongodb_nats_connector_spark.config import ConnectorConfig
from mongodb_nats_connector_spark.session import get_spark
from mongodb_nats_connector_spark.streaming.observability import (
    ConnectorMetricsListener,
    MetricsRegistry,
    ObservabilityServer,
)
from mongodb_nats_connector_spark.streaming.pipeline import Connector


def _query_main(argv: list[str]) -> int:
    """``python -m mongodb_nats_connector_spark query <name>`` — run any
    registry query from the shell (the ad-hoc analytics entry point; the
    same callable the driver and tests use, so output is identical)."""
    ap = argparse.ArgumentParser(prog="mongodb_nats_connector_spark query")
    ap.add_argument("name", nargs="?", help="registry query name (omit with --list)")
    ap.add_argument("--list", action="store_true", help="list registered query names")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="table directory")
    ap.add_argument("--limit", type=int, default=20, help="max rows to print")
    ap.add_argument("--json", action="store_true", help="JSON lines instead of a table")
    args = ap.parse_args(argv)

    from mongodb_nats_connector_spark import registry as reg

    qs = reg.queries()
    if args.list or not args.name:
        for name in sorted(qs):
            print(name)
        return 0
    if args.name not in qs:
        print(f"unknown query {args.name!r}; run --list for names", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"mnc-query-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[args.name](spark, args.sf_dir)
    if args.json:
        for row in df.limit(args.limit).toJSON().collect():
            print(row)
    else:
        df.show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "query":
        return _query_main(argv[1:])
    ap = argparse.ArgumentParser(prog="mongodb_nats_connector_spark")
    ap.add_argument("--config", default=None, help="config file (JSON/YAML); default $CONFIG_FILE")
    ap.add_argument("--source-root", required=True, help="dir containing <db>.<coll> feed dirs")
    ap.add_argument("--sink-root", required=True, help="dir for streams/ + checkpoints/")
    ap.add_argument("--once", action="store_true", help="drain available input, then exit")
    ap.add_argument(
        "--order-within-key", action="store_true",
        help="parallel per-document ordering instead of total order (see sink docs)",
    )
    args = ap.parse_args(argv)

    cfg = ConnectorConfig.load(args.config)
    spark = get_spark(app_name="mongodb-nats-connector")
    spark.sparkContext.setLogLevel("ERROR" if cfg.log_level != "debug" else "INFO")

    source_paths = {
        f"{c.db_name}.{c.coll_name}": f"{args.source_root}/{c.db_name}.{c.coll_name}"
        for c in cfg.collections
    }
    registry = MetricsRegistry()
    connector = Connector(
        spark, cfg, source_paths, args.sink_root,
        order_within_key=args.order_within_key, metrics=registry,
    )

    listener = ConnectorMetricsListener(registry)
    spark.streams.addListener(listener)
    host, _, port = cfg.server_addr.rpartition(":")
    server = ObservabilityServer(
        health_fn=connector.health, registry=registry,
        addr=host or "127.0.0.1", port=int(port or 0),
    )
    server.start()
    print(f"connector up: {len(cfg.collections)} pipeline(s), "
          f"observability on :{server.port}", file=sys.stderr)

    stopping = False

    def _shutdown(signum, frame):  # noqa: ARG001 (signal API)
        nonlocal stopping
        stopping = True
        connector.stop()

    for sig in (signal.SIGINT, signal.SIGTERM):
        try:
            signal.signal(sig, _shutdown)
        except ValueError:
            pass  # not the main thread (in-process test invocation)

    connector.start()
    try:
        if args.once:
            connector.process_all_available()
        else:
            while not stopping and any(h.query.isActive for h in connector.handles):
                connector.await_any_termination(timeout=1.0)
    finally:
        connector.stop()
        server.stop()
        spark.streams.removeListener(listener)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
