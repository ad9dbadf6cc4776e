"""Mirror of the driver's correctness gate: run every registered query on
Spark AND its DuckDB oracle at sf0.01, then compare row count, column names
and values (columns sorted by name, rows sorted by all columns — the same
order-insensitive comparison the driver performs)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from mongodb_nats_connector_spark.registry import all_queries
from mongodb_nats_connector_spark.sources.tables import TABLES

SF_DIR = "/root/testdata/sf0.01"

_QUERIES = all_queries()
_WITH_ORACLE = sorted(n for n, q in _QUERIES.items() if q.oracle is not None)
_ROWS_ONLY = sorted(n for n, q in _QUERIES.items() if q.oracle is None)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def _assert_frames_match(mine: pd.DataFrame, oracle: pd.DataFrame, name: str) -> None:
    assert len(mine) == len(oracle), (
        f"{name}: row count {len(mine)} != oracle {len(oracle)}"
    )
    assert list(mine.columns) == list(oracle.columns), (
        f"{name}: columns {list(mine.columns)} != oracle {list(oracle.columns)}"
    )
    for c in mine.columns:
        a, b = mine[c], oracle[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            af = a.astype("float64").to_numpy()
            bf = b.astype("float64").to_numpy()
            both_nan = np.isnan(af) & np.isnan(bf)
            # the driver hashes raw values, where -0.0 != 0.0 — catch
            # signed-zero drift the tolerance comparison would forgive
            sign_drift = (af == 0) & (bf == 0) & (np.signbit(af) != np.signbit(bf))
            assert not sign_drift.any(), (
                f"{name}.{c}: signed-zero mismatch (-0.0 vs 0.0) at row "
                f"{int(np.argmax(sign_drift))} — normalize with `x + 0.0` on "
                "both sides"
            )
            close = np.isclose(af, bf, rtol=0, atol=1e-9) | both_nan
            assert close.all(), (
                f"{name}.{c}: max |diff| = "
                f"{np.nanmax(np.abs(af - bf))} (first mismatch at row "
                f"{int(np.argmin(close))}: {af[np.argmin(close)]} vs {bf[np.argmin(close)]})"
            )
        else:
            mism = ~(a.eq(b) | (a.isna() & b.isna()))
            assert not mism.any(), (
                f"{name}.{c}: {int(mism.sum())} mismatched values, first at row "
                f"{mism.idxmax()}: {a[mism.idxmax()]!r} vs {b[mism.idxmax()]!r}"
            )


# Shared one-build-per-query cache (r15): test_oracle_output_is_scalar and
# test_oracle_parity each used to construct the query independently — two
# full builds (driver-fixpoint queries run real jobs at construction) plus
# one collect per query, serially, ~15 of the suite's ~40 minutes (VERIFY
# r14 blew the driver's 30-minute cap). Now every oracle-bearing query is
# built ONCE and its schema + collected pandas frame cached; the builds
# overlap on a small driver thread pool (optimization guide §2.6). Each
# test still asserts per query, and a build failure is re-raised inside
# every test that depends on that query — same failure semantics.
_BUILT: dict[str, tuple[Exception | None, object, pd.DataFrame | None]] = {}


def _built(spark, name):
    if not _BUILT:
        from concurrent.futures import ThreadPoolExecutor

        def one(nm):
            try:
                df = _QUERIES[nm].fn(spark, SF_DIR)
                return nm, (None, df.schema, df.toPandas())
            except Exception as exc:  # re-raised per dependent test
                return nm, (exc, None, None)

        with ThreadPoolExecutor(max_workers=8) as pool:
            for nm, data in pool.map(one, _WITH_ORACLE):
                _BUILT[nm] = data
    exc, schema, pdf = _BUILT[name]
    if exc is not None:
        raise exc
    return schema, pdf


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_output_is_scalar(spark, name):
    """The driver's comparator sorts rows by every column with pandas, which
    raises ``TypeError: unhashable type`` on list/dict cells — so every
    oracle-bearing query must emit scalar columns only (serialize arrays
    with concat_ws / array_to_string, or explode them)."""
    from pyspark.sql import types as T

    schema, _pdf = _built(spark, name)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, f"{name}: non-scalar output columns break the driver: {bad}"


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(spark, duck, name):
    q = _QUERIES[name]
    _schema, pdf = _built(spark, name)
    mine = _normalize(pdf)
    oracle = _normalize(duck.sql(q.oracle).df())
    _assert_frames_match(mine, oracle, name)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    """Queries without an oracle must still run and return a stable schema."""
    q = _QUERIES[name]
    df = q.fn(spark, SF_DIR)
    assert df.columns, f"{name}: no columns"
    assert df.count() >= 0
