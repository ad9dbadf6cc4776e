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
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sweep_all.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mongodb_nats_connector_spark import registry
    from mongodb_nats_connector_spark.session import get_spark

    registry._load_all()
    spark = get_spark(app_name="mnc-sweep-all")
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py: parquet footers + Python worker pool
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(x):
        return x

    spark.range(1000).select(_warm(F.col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()

    results: dict[str, dict[str, float]] = {}
    names = sorted(registry._REGISTRY)
    for i, name in enumerate(names):
        fn = registry._REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # record, keep sweeping
            results[name] = {"error": repr(e)[:200]}
            print(f"[{i + 1}/{len(names)}] {name}: ERROR {e!r}", file=sys.stderr)
            continue
        results[name] = {
            "build": round(t1 - t0, 3),
            "exec": round(t2 - t1, 3),
            "total": round(t2 - t0, 3),
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
