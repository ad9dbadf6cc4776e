#!/usr/bin/env python
"""Full-registry one-run sweep (optimization-round triage): build + noop-write
every registered query once at $SPARK_GRAFT_SF_DIR and emit a JSON map
{name: {"build": s, "exec": s, "total": s}} sorted by total DESC, plus the
top-N table on stderr. One run per query is noisy on a shared box — use
tools/time_queries.py (min-of-N, isolated) to confirm any ranking before
acting on it. Usage:
    python tools/sweep_all.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm_up  # noqa: E402


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sweep_all.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mongodb_nats_connector_spark import registry
    from mongodb_nats_connector_spark.session import get_spark

    registry._load_all()
    spark = get_spark(app_name="mnc-sweep-all")
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark, sf_dir)

    results: dict[str, dict[str, float]] = {}
    names = sorted(registry._REGISTRY)
    for i, name in enumerate(names):
        fn = registry._REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        try:
            build_s, exec_s = time_query(spark, fn, sf_dir)
        except Exception as e:  # record, keep sweeping
            results[name] = {"error": repr(e)[:200]}
            print(f"[{i + 1}/{len(names)}] {name}: ERROR {e!r}", file=sys.stderr)
            continue
        results[name] = {
            "build": round(build_s, 3),
            "exec": round(exec_s, 3),
            "total": round(build_s + exec_s, 3),
        }
        print(
            f"[{i + 1}/{len(names)}] {name}: {results[name]['total']:.2f}s",
            file=sys.stderr,
        )
    ranked = dict(
        sorted(
            results.items(),
            key=lambda kv: -kv[1].get("total", 0.0),
        )
    )
    with open(out_path, "w") as f:
        json.dump(ranked, f, indent=1)
    print("== top 30 by total ==", file=sys.stderr)
    for name, r in list(ranked.items())[:30]:
        if "total" in r:
            print(
                f"{r['total']:7.2f}s  (build {r['build']:.2f} exec {r['exec']:.2f})  {name}",
                file=sys.stderr,
            )
    spark.stop()


if __name__ == "__main__":
    main()
