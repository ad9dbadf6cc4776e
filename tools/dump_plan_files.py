#!/usr/bin/env python
"""Write plans/<tag>/<query>_<suffix>.txt with the formatted physical plan of
each named query (judge-checkable evidence for optimization rounds). Usage:
    python tools/dump_plan_files.py <tag> <suffix> name1 name2 ...
e.g. python tools/dump_plan_files.py r14 before agg_spearman_corr
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join("plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from mongodb_nats_connector_spark import registry
    from mongodb_nats_connector_spark.plans.explain import plan_string
    from mongodb_nats_connector_spark.session import get_spark

    registry._load_all()
    spark = get_spark(app_name="mnc-dump-plan-files")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = registry._REGISTRY[name].fn(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan_string(df))
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
