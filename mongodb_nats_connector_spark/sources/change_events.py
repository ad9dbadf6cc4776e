"""Synthetic change-event fixtures (FIXTURES.md §1) and stream sources.

Generates the deterministic change-event table every acceptance test uses —
the same scenarios the reference's integration suite covers: insert with
post-image only (insert_test.go:46-48), update/replace with both images
(update_test.go:51-56), delete with pre-image only (delete_test.go:50-55), a
tail of drop/rename/invalidate that must produce no output
(drop_test.go:32-38), and duplicated resume tokens exercising
replay-after-crash dedup (README.md:121-127).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from mongodb_nats_connector_spark.functions.extjson import CHANGE_EVENT_SCHEMA

_EPOCH = dt.datetime(2024, 3, 1, 0, 0, 0)


def _token(i: int) -> str:
    """Monotonically increasing hex resume token (harness.go:311-313)."""
    return f"82{i:022x}"


def _oid(i: int) -> str:
    return f"{i:024x}"


def generate_change_event_rows(
    n_docs: int = 100,
    ns_db: str = "test-connector-db",
    ns_coll: str = "coll1",
    with_noise_tail: bool = True,
    with_duplicates: bool = True,
) -> list[tuple]:
    """Pure-Python deterministic envelope rows (the DataFrame fixture below
    wraps them): per doc an insert, update, replace, delete cycle;
    optionally drop/rename/invalidate noise and duplicated tokens
    (at-least-once replay)."""
    rows: list[tuple] = []
    seq = 0

    def emit(op: str, doc_i: int, full_doc: str | None, before: str | None):
        nonlocal seq
        ts = _EPOCH + dt.timedelta(seconds=seq)
        rows.append(
            (_token(seq), op, ts, ts, full_doc, before, ns_db, ns_coll, _oid(doc_i))
        )
        seq += 1

    for i in range(n_docs):
        oid = _oid(i)
        base = f'{{"_id":{{"$oid":"{oid}"}},"message":"test {i}"}}'
        updated = f'{{"_id":{{"$oid":"{oid}"}},"message":"bye {i}"}}'
        replaced = f'{{"_id":{{"$oid":"{oid}"}},"message":"replaced {i}"}}'
        emit("insert", i, base, None)
        emit("update", i, updated, base)
        emit("replace", i, replaced, updated)
        emit("delete", i, None, replaced)

    if with_duplicates:
        # replay-after-crash: re-emit the first 3 events with their ORIGINAL
        # tokens (consumer-side dedup must drop them, nats/client.go:124)
        rows.extend(rows[:3])

    if with_noise_tail:
        for op in ("drop", "rename", "invalidate"):
            ts = _EPOCH + dt.timedelta(seconds=seq)
            rows.append((_token(seq), op, ts, ts, None, None, ns_db, ns_coll, _oid(0)))
            seq += 1

    return rows


def generate_change_events(spark: SparkSession, **kw) -> DataFrame:
    """The fixture as a DataFrame (see generate_change_event_rows)."""
    return spark.createDataFrame(generate_change_event_rows(**kw), CHANGE_EVENT_SCHEMA)


def write_change_event_feed(
    spark: SparkSession, path: str, n_docs: int = 100, **kw
) -> int:
    """Materialize the fixture as a parquet directory usable as a streaming
    file source. Returns the number of events written. Written as ONE file
    deliberately: the token-order guarantee across micro-batches relies on
    the file source's listing order, which is only defined for files added
    at distinct times — appends (see the restart tests) model later arrivals.
    """
    df = generate_change_events(spark, n_docs=n_docs, **kw)
    n = df.count()
    df.orderBy("_id_data").coalesce(1).write.mode("overwrite").parquet(path)
    return n


def read_change_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """Unbounded change-event source over a file directory — the Spark
    analogue of WatchCollection's cursor (O1). New files appearing under
    ``path`` flow into subsequent micro-batches; offsets/resume come from the
    query checkpoint (replacing the reference's resume-token subsystem,
    SURVEY.md §1.4)."""
    return (
        spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
