#!/usr/bin/env python
"""Targeted bit-exact probe for a named subset of queries (dev loop for new
operator modules; same comparison as bitexact_probe.py). Usage:
    python tools/probe_new.py name1 name2 ...
    python tools/probe_new.py --module pipeline9
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("PROBE_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    import duckdb
    import numpy as np
    import pandas as pd

    from mongodb_nats_connector_spark import registry
    from mongodb_nats_connector_spark.session import get_spark
    from mongodb_nats_connector_spark.sources.tables import TABLES

    registry._load_all()
    if len(sys.argv) > 2 and sys.argv[1] == "--module":
        mod = sys.argv[2]
        names = [
            n
            for n, q in registry._REGISTRY.items()
            if q.fn.__module__.endswith(mod)
        ]
    else:
        names = sys.argv[1:]
    spark = get_spark(app_name="mnc-spark-probe-new")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "oracle_parity_mod",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tests",
            "test_oracle_parity.py",
        ),
    )
    parity_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity_mod)
    norm = parity_mod._normalize

    bad = []
    for n in names:
        q = registry._REGISTRY[n]
        try:
            mine = norm(q.fn(spark, SF).toPandas())
            if q.oracle is None:
                print(f"{n}: rows-only, {len(mine)} rows")
                continue
            orc = norm(con.sql(q.oracle).df())
            if len(mine) != len(orc) or list(mine.columns) != list(orc.columns):
                bad.append(
                    (n, f"shape {mine.shape}/{list(mine.columns)} vs "
                        f"{orc.shape}/{list(orc.columns)}")
                )
                continue
            msgs = []
            for c in mine.columns:
                a, b = mine[c], orc[c]
                if pd.api.types.is_float_dtype(a):
                    af, bf = a.to_numpy(), b.to_numpy()
                    nan = np.isnan(af) & np.isnan(bf)
                    exact = (af.view("int64") == bf.view("int64")) | nan
                    if not exact.all():
                        i = int(np.argmin(exact))
                        msgs.append(
                            f"{c}: {int((~exact).sum())} bit-diffs, "
                            f"e.g. {af[i]!r} vs {bf[i]!r}"
                        )
                else:
                    mism = ~(a.eq(b).fillna(False) | (a.isna() & b.isna()))
                    if mism.any():
                        msgs.append(f"{c}: {int(mism.sum())} value diffs")
            if msgs:
                bad.append((n, "; ".join(msgs)))
            else:
                print(f"{n}: EXACT ({len(mine)} rows)")
        except Exception as e:  # noqa: BLE001
            bad.append((n, f"ERR {type(e).__name__}: {str(e)[:300]}"))
    for n, msg in bad:
        print(f"BITDIFF {n}: {msg}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
