"""The runnable connector (python -m mongodb_nats_connector_spark): config ->
pipelines -> observability, end to end in --once mode."""

from __future__ import annotations

import json

from mongodb_nats_connector_spark.__main__ import main
from mongodb_nats_connector_spark.sources.change_events import write_change_event_feed
from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink


def test_main_once_runs_config_to_sink(spark, tmp_path, monkeypatch):
    src = tmp_path / "feeds"
    for coll in ("coll1", "coll2"):
        write_change_event_feed(
            spark, str(src / f"db1.{coll}"), n_docs=4, ns_coll=coll,
            with_noise_tail=False, with_duplicates=False,
        )
    cfg_path = tmp_path / "connector.json"
    cfg_path.write_text(json.dumps({
        "connector": {
            "collections": [
                {"dbName": "db1", "collName": "coll1"},
                {"dbName": "db1", "collName": "coll2",
                 "tokensCollCapped": True, "tokensCollSizeInBytes": 4096},
            ]
        }
    }))
    # ephemeral observability port; env-override precedence is main.go's
    monkeypatch.setenv("SERVER_ADDR", "127.0.0.1:0")

    rc = main([
        "--config", str(cfg_path),
        "--source-root", str(src),
        "--sink-root", str(tmp_path / "out"),
        "--once",
    ])
    assert rc == 0

    for coll in ("COLL1", "COLL2"):
        sink = JetStreamLikeSink(
            spark, stream_dir=str(tmp_path / "out" / "streams" / coll), stream_name=coll
        )
        msgs = sink.read_messages()
        assert msgs.count() == 16  # 4 docs x 4 ops
        subs = {r.subject for r in msgs.select("subject").distinct().collect()}
        assert subs == {f"{coll}.{op}" for op in ("insert", "update", "replace", "delete")}


def test_main_query_subcommand_lists_and_runs(spark, capsys):
    """`python -m … query` is the ad-hoc analytics entry: --list enumerates
    the registry, and running a name prints its result (same callable the
    driver verifies, so no second code path to drift)."""
    from mongodb_nats_connector_spark.__main__ import main

    assert main(["query", "--list"]) == 0
    listed = capsys.readouterr().out.split()
    assert "q1_pricing_summary" in listed and len(listed) >= 150

    rc = main(
        ["query", "agg_global", "--sf-dir", "/root/testdata/sf0.001", "--json"]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out and out[0].startswith("{")

    assert main(["query", "not_a_query"]) == 2
