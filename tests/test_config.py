"""Config defaults + validation, port of pkg/connector/connector_test.go:20-208
and internal/config/config_test.go."""

from __future__ import annotations

import json
import re

import pytest

from mongodb_nats_connector_spark.config import (
    CollectionConfig,
    ConfigError,
    ConnectorConfig,
)


def test_defaults_mirror_reference():
    # connector.go:329-338: tokens db 'resume-tokens', tokens coll = watched
    # coll name, stream = UPPER(coll)
    c = CollectionConfig(db_name="db1", coll_name="coll1")
    assert c.tokens_db_name == "resume-tokens"
    assert c.tokens_coll_name == "coll1"
    assert c.stream_name == "COLL1"


def test_empty_names_rejected():
    with pytest.raises(ConfigError):
        CollectionConfig(db_name="", coll_name="c")
    with pytest.raises(ConfigError):
        CollectionConfig(db_name="d", coll_name="")


def test_capped_needs_positive_size():
    with pytest.raises(ConfigError):
        CollectionConfig(db_name="d", coll_name="c", tokens_coll_capped=True)
    ok = CollectionConfig(
        db_name="d", coll_name="c", tokens_coll_capped=True, tokens_coll_size_in_bytes=4096
    )
    assert ok.tokens_coll_size_in_bytes == 4096


def test_tokens_coll_must_differ_from_watched():
    # connector.go:344-347
    with pytest.raises(ConfigError):
        CollectionConfig(
            db_name="d", coll_name="c", tokens_db_name="d", tokens_coll_name="c"
        )


def test_duplicate_watched_collections_rejected():
    with pytest.raises(ConfigError):
        ConnectorConfig(
            collections=[
                CollectionConfig(db_name="d", coll_name="c"),
                CollectionConfig(db_name="d", coll_name="c"),
            ]
        )


def test_from_dict_and_env_override(tmp_path, monkeypatch):
    # YAML-shaped dict (example/connector.yaml:1-19) + env precedence
    # (cmd/connector/main.go:20-55)
    cfg_file = tmp_path / "connector.json"
    cfg_file.write_text(
        json.dumps(
            {
                "connector": {
                    "collections": [
                        {
                            "dbName": "db1",
                            "collName": "coll1",
                            "tokensCollCapped": True,
                            "tokensCollSizeInBytes": 4096,
                        },
                        {"dbName": "db1", "collName": "coll2", "streamName": "CUSTOM"},
                    ]
                }
            }
        )
    )
    monkeypatch.setenv("MONGO_URI", "mongodb://other:27017")
    cfg = ConnectorConfig.load(str(cfg_file))
    assert len(cfg.collections) == 2
    assert cfg.collections[0].stream_name == "COLL1"
    assert cfg.collections[1].stream_name == "CUSTOM"
    assert cfg.mongo_uri == "mongodb://other:27017"


def _one_collection(**fields):
    return json.dumps({"collections": [{"dbName": "db1", "collName": "coll1", **fields}]})


@pytest.mark.parametrize(
    "text, field",
    [
        ("", "config"),  # an empty YAML file
        ("- dbName: db1\n  collName: coll1\n", "config"),
        ("connector: db1.coll1\n", "connector"),
        ("connector:\n  collections:\n", "collections"),
        ("connector:\n  collections:\n    - db1.coll1\n", "collections[0]"),
        (_one_collection(tokensCollSizeInBytes="lots"), "collections[0].tokensCollSizeInBytes"),
        (
            _one_collection(tokensCollCapped=True, tokensCollSizeInBytes=True),
            "collections[0].tokensCollSizeInBytes",
        ),
        (
            _one_collection(tokensCollCapped="false", tokensCollSizeInBytes=4096),
            "collections[0].tokensCollCapped",
        ),
        (_one_collection(collName=123), "collections[0].collName"),
        (_one_collection(streamName=7), "collections[0].streamName"),
        (_one_collection(dbName=["x"]), "collections[0].dbName"),
    ],
    ids=[
        "empty-file",
        "top-level-list",
        "connector-string",
        "collections-empty",
        "collection-string",
        "size-string",
        "size-bool",
        "capped-string",
        "coll-int",
        "stream-int",
        "db-list",
    ],
)
def test_malformed_config_raises_config_error(tmp_path, text, field):
    """A config whose shape or field types are wrong fails to load with a
    ``ConfigError`` naming the field, not a bare Python error or a silent
    misreading (a quoted ``"false"`` is not a capped collection)."""
    path = tmp_path / "connector.yaml"
    path.write_text(text)
    with pytest.raises(ConfigError, match=re.escape(field) + " must be"):
        ConnectorConfig.load(str(path))
