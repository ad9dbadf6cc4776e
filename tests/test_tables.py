"""Table loader behavior (``sources/tables.py``): the events nanos read
must not leak session conf, and the NTZ guard accepts exactly the
zero-offset session zones."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from mongodb_nats_connector_spark.sources.tables import table

SF = "/root/testdata/sf0.001"


def test_events_nanos_conf_scoped_to_read(spark):
    """table() scopes spark.sql.legacy.parquet.nanosAsLong to the events
    read: the session value is restored immediately, so a concurrent reader
    of a DIFFERENT nanos table keeps its own semantics — and the events
    DataFrame still executes correctly afterwards."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    ev = table(spark, SF, "events")
    assert spark.conf.get(key) == before, "conf leaked past the events read"
    # the captured schema (not the live conf) drives execution
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    rows = ev.select("event_id", "ts").orderBy("event_id").limit(3).collect()
    assert len(rows) == 3 and rows[0].ts is not None

    # interleaved reads of other tables in the same session are unaffected
    li = table(spark, SF, "lineitem")
    assert li.filter(F.col("l_quantity") > 0).count() > 0
    assert spark.conf.get(key) == before


def test_events_ntz_fixture_epoch_preserved(spark, tmp_path):
    """Newer fixtures write events.ts as TIMESTAMP(MICROS, NTZ). table() must
    return ts as plain TIMESTAMP with the epoch micros unchanged (the cast is
    epoch-preserving because the session tz is pinned to UTC)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789, 1_700_009_999_000_001]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(micros, pa.timestamp("us")),  # no tz => NTZ
        }
    )
    sf_dir = tmp_path / "sf_ntz"
    sf_dir.mkdir()
    pq.write_table(tbl, sf_dir / "events.parquet")

    ev = table(spark, str(sf_dir), "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    got = [
        r.us
        for r in ev.select(F.unix_micros("ts").alias("us"))
        .orderBy("event_id")
        .collect()
    ]
    assert got == micros


def test_events_ntz_requires_utc_session(spark, tmp_path):
    """A non-UTC session must fail loudly on the NTZ branch instead of
    silently shifting epochs."""
    import pytest
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000], pa.timestamp("us")),
        }
    )
    sf_dir = tmp_path / "sf_ntz_tz"
    sf_dir.mkdir()
    pq.write_table(tbl, sf_dir / "events.parquet")

    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")
    try:
        with pytest.raises(RuntimeError, match="UTC session timezone"):
            table(spark, str(sf_dir), "events")
    finally:
        spark.conf.set(tz_key, prev)


def test_concurrent_queries_shared_session(spark):
    """Multi-tenant smoke: 8 queries across threads on one session — several
    reading events (whose loader scopes the nanos conf around the read) and
    several not — must all succeed with correct row counts. Guards the
    read-time conf scoping against cross-thread interference."""
    from concurrent.futures import ThreadPoolExecutor

    from mongodb_nats_connector_spark.registry import queries

    qs = queries()
    sf = "/root/testdata/sf0.001"
    names = [
        "join_asof",            # events
        "window_sessionize",    # events
        "stream_interval_join", # events
        "events_funnel",        # events
        "q1_pricing_summary",
        "agg_global",
        "text_stats",
        "agg_corr_matrix",
    ]

    def run(name):
        return name, qs[name](spark, sf).count()

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = dict(ex.map(run, names))
    assert all(n > 0 for n in results.values()), results
    # serial re-run agrees (no cross-thread conf bleed changed semantics)
    for name in ("join_asof", "q1_pricing_summary"):
        assert qs[name](spark, sf).count() == results[name]


def test_events_reads_on_untuned_foreign_session(spark):
    """The driver brings its own session and may call queries() without
    entry()/tune_existing: a fresh session (no UTC pin, no legacy confs)
    must still read events with identical epochs. Regression for the NTZ
    guard crashing on conf.get(key, '') default-validation."""
    fresh = spark.newSession()
    tz_key = "spark.sql.session.timeZone"
    # newSession state: session confs cleared -> resolved JVM default zone
    assert fresh.conf.get(tz_key) is not None
    def digest(sess, sf):
        return (
            table(sess, sf, "events")
            .select(F.unix_micros("ts").alias("us"))
            .agg(
                F.min("us").alias("lo"),
                F.max("us").alias("hi"),
                F.avg("us").alias("mean"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        a, b = digest(spark, sf), digest(fresh, sf)
        assert a == b, f"epoch drift between tuned and foreign session at {sf}"


# ---------------------------------------------------------------------------
# NTZ guard zone resolution (_is_utc_zone)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "tz,ok",
    [
        ("UTC", True),
        ("Etc/UTC", True),
        ("+00:00", True),
        ("GMT0", True),
        ("UTC0", True),
        ("Greenwich", True),
        ("America/New_York", False),
        ("+02:00", False),
        ("Etc/GMT-2", False),
        (None, False),
    ],
)
def test_ntz_guard_resolves_utc_equivalents(spark, tz, ok):
    """The NTZ fail-loud guard accepts every zero-offset zone spelling
    (resolved via ZoneId, not a string allowlist) and still rejects
    genuinely shifted zones."""
    from mongodb_nats_connector_spark.sources.tables import _is_utc_zone

    assert _is_utc_zone(spark, tz) is ok
