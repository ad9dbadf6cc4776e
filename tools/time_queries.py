#!/usr/bin/env python
"""Isolated per-query timing (dev loop for optimization rounds): for each
named query, run build + noop-write N times in one fresh session and report
build/exec min & runs. Usage:
    python tools/time_queries.py [-n 5] name1 name2 ...
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm_up  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n_runs = 5
    if args and args[0] == "-n":
        n_runs = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mongodb_nats_connector_spark import registry
    from mongodb_nats_connector_spark.session import get_spark

    registry._load_all()
    spark = get_spark(app_name="mnc-time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {n: q.fn for n, q in registry._REGISTRY.items()}

    warm_up(spark, sf_dir)

    for name in args:
        builds, execs = [], []
        for _ in range(n_runs):
            build_s, exec_s = time_query(spark, qs[name], sf_dir)
            builds.append(round(build_s, 3))
            execs.append(round(exec_s, 3))
        tot = [round(b + e, 3) for b, e in zip(builds, execs)]
        print(
            f"{name}: total_min={min(tot):.3f} build_min={min(builds):.3f} "
            f"exec_min={min(execs):.3f}\n  builds={builds}\n  execs={execs}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
