#!/usr/bin/env python
"""Exact-BIT parity probe: runs each selected Spark query and its DuckDB
oracle at sf0.01 and compares float columns by raw int64 bit pattern — the
comparison the driver's value-hash actually performs. The pytest parity
suite allows atol=1e-9 on floats, which can hide a 1-ulp divergence the
driver would flag red; run THIS before round end to preempt that.

(It also catches structural registration accidents: in round 7 it flagged
graph_kcore returning the edge relation because a helper def had slipped
between @register and its target function.)

Run from the repo root:
    python tools/bitexact_probe.py                    # every driver-PENDING query
    python tools/bitexact_probe.py --all              # every oracle-bearing query
    python tools/bitexact_probe.py --module pipeline9 # one operator module
    python tools/bitexact_probe.py name1 name2 ...    # named queries

A driver-PENDING query is unproven or edited since its last green round
(``registry.needs_driver_proof()``). A selected query without an oracle is
run and reported as rows-only.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# override with PROBE_SF_DIR=/root/testdata/sf0.1 for the bench-scale sweep
# (with --all: the full-registry raw-bit parity check that round 7's manual
# sweep ran by hand — it caught dedup_simhash's uncapped oracle there)
SF = os.environ.get("PROBE_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    import duckdb
    import numpy as np
    import pandas as pd

    from mongodb_nats_connector_spark import registry
    from mongodb_nats_connector_spark.session import get_spark
    from mongodb_nats_connector_spark.sources.tables import TABLES

    spark = get_spark(app_name="mnc-spark-bitexact")
    spark.sparkContext.setLogLevel("ERROR")
    registry._load_all()
    args = sys.argv[1:]
    if args == ["--all"]:  # every oracle-bearing query, proven or not
        names = [
            n for n, q in registry._REGISTRY.items() if q.oracle is not None
        ]
    elif len(args) == 2 and args[0] == "--module":
        names = [
            n
            for n, q in registry._REGISTRY.items()
            if q.fn.__module__.endswith(args[1])
        ]
    elif args:
        names = args
    else:
        names = registry.needs_driver_proof()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    # reuse the parity suite's normalization so this probe and the pytest
    # gate can never disagree about row/column alignment (tests/ is not a
    # package, so load the module by path)
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
    for n in sorted(names):
        try:
            q = registry._REGISTRY[n]
            mine = norm(q.fn(spark, SF).toPandas())
            if q.oracle is None:
                print(f"{n}: rows-only, {len(mine)} rows")
                continue
            orc = norm(con.sql(q.oracle).df())
            if len(mine) != len(orc) or list(mine.columns) != list(orc.columns):
                bad.append((n, f"shape {mine.shape}/{list(mine.columns)} vs "
                               f"{orc.shape}/{list(orc.columns)}"))
                continue
            for c in mine.columns:
                a, b = mine[c], orc[c]
                if pd.api.types.is_float_dtype(a):
                    af, bf = a.to_numpy(), b.to_numpy()
                    nan = np.isnan(af) & np.isnan(bf)
                    exact = (af.view("int64") == bf.view("int64")) | nan
                    if not exact.all():
                        i = int(np.argmin(exact))
                        bad.append(
                            (n, f"{c}: {int((~exact).sum())} bit-diffs, "
                                f"e.g. {af[i]!r} vs {bf[i]!r}")
                        )
                else:
                    # fillna(False): nullable dtypes propagate NA through
                    # eq(), and BooleanArray.any() SKIPS NA — an unguarded
                    # NULL-vs-value diff would read as ALL EXACT
                    mism = ~(a.eq(b).fillna(False) | (a.isna() & b.isna()))
                    if mism.any():
                        bad.append((n, f"{c}: {int(mism.sum())} value diffs"))
        except Exception as e:  # noqa: BLE001 - report and keep probing
            bad.append((n, f"ERR {type(e).__name__}: {str(e)[:100]}"))
    print(f"queries probed: {len(names)}")
    for n, msg in bad:
        print(f"BITDIFF {n}: {msg}")
    if not bad:
        print("ALL EXACT — selected set is bit-identical to the oracle")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
