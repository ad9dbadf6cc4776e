"""Pipeline configuration + validation.

Port of the reference's option/validation layer:
  - defaults: reference ``pkg/connector/connector.go:329-338`` — resume-token
    db defaults to ``resume-tokens``, token collection defaults to the watched
    collection's name, stream name defaults to ``UPPER(collection)``.
  - validation: ``pkg/connector/connector.go:29-34,344-347`` and
    ``internal/config/config.go`` — non-empty db/collection/stream names,
    capped token collections need a positive size, and the token collection
    must not be the watched collection itself.
  - env overrides beat file config: ``cmd/connector/main.go:20-55``
    (CONFIG_FILE, LOG_LEVEL, MONGO_URI, NATS_URL, SERVER_ADDR).

In the Spark build the resume-token subsystem is replaced by Structured
Streaming checkpoints, so ``tokens_*`` fields map to a checkpoint location;
they are kept (and validated identically) so a reference user's config file
ports 1:1.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


class ConfigError(ValueError):
    """Invalid connector configuration (mirrors the reference's option errors)."""


@dataclass
class CollectionConfig:
    """One watched collection -> one streaming pipeline.

    Mirrors the YAML shape of the reference's ``connector.yaml``
    (``internal/config/config.go:25-63``).
    """

    db_name: str
    coll_name: str
    # offset log — maps onto the streaming checkpoint dir in this engine
    tokens_db_name: str = "resume-tokens"
    tokens_coll_name: str = ""
    tokens_coll_capped: bool = False
    tokens_coll_size_in_bytes: int = 0
    stream_name: str = ""

    def __post_init__(self) -> None:
        if not self.db_name:
            raise ConfigError("watched collection: dbName must not be empty")
        if not self.coll_name:
            raise ConfigError("watched collection: collName must not be empty")
        # defaults per connector.go:329-338
        if not self.tokens_db_name:
            raise ConfigError("tokens dbName must not be empty")
        if not self.tokens_coll_name:
            self.tokens_coll_name = self.coll_name
        if not self.stream_name:
            self.stream_name = self.coll_name.upper()
        if self.tokens_coll_capped and self.tokens_coll_size_in_bytes <= 0:
            raise ConfigError(
                "capped tokens collection needs a positive sizeInBytes "
                f"(got {self.tokens_coll_size_in_bytes})"
            )
        # connector.go:344-347 — the offset log cannot live in the watched
        # collection (the connector would consume its own writes).
        if self.db_name == self.tokens_db_name and self.coll_name == self.tokens_coll_name:
            raise ConfigError(
                "tokens collection must differ from the watched collection "
                f"({self.db_name}.{self.coll_name})"
            )

    @property
    def checkpoint_name(self) -> str:
        """Stable per-pipeline checkpoint subdir (replaces the token coll)."""
        return f"{self.tokens_db_name}__{self.tokens_coll_name}"


@dataclass
class ConnectorConfig:
    """Whole-connector config: a list of pipelines + endpoints + server."""

    collections: list[CollectionConfig] = field(default_factory=list)
    mongo_uri: str = "mongodb://localhost:27017"
    nats_url: str = "nats://localhost:4222"
    server_addr: str = "127.0.0.1:8080"
    log_level: str = "info"

    def __post_init__(self) -> None:
        if not self.mongo_uri:
            raise ConfigError("mongo uri must not be empty")
        if not self.nats_url:
            raise ConfigError("nats url must not be empty")
        seen: set[tuple[str, str]] = set()
        for c in self.collections:
            key = (c.db_name, c.coll_name)
            if key in seen:
                raise ConfigError(f"duplicate watched collection {c.db_name}.{c.coll_name}")
            seen.add(key)

    @staticmethod
    def from_dict(d: dict) -> "ConnectorConfig":
        """Build from a dict mirroring the reference YAML layout:

        {"connector": {"collections": [{"dbName": ..., "collName": ...,
         "tokensDbName": ..., "tokensCollName": ..., "tokensCollCapped": ...,
         "tokensCollSizeInBytes": ..., "streamName": ...}]}}

        A value of the wrong type raises ``ConfigError`` naming its field.
        """
        _checked(d, dict, "config")
        conn = _checked(d.get("connector", d), dict, "connector")
        colls = []
        for i, c in enumerate(_checked(conn.get("collections", []), list, "collections")):
            where = f"collections[{i}]"
            _checked(c, dict, where)

            def text(key, default=""):
                return _checked(c.get(key, default), str, f"{where}.{key}")

            colls.append(
                CollectionConfig(
                    db_name=text("dbName"),
                    coll_name=text("collName"),
                    tokens_db_name=text("tokensDbName", "resume-tokens"),
                    tokens_coll_name=text("tokensCollName"),
                    tokens_coll_capped=_checked(
                        c.get("tokensCollCapped", False), bool, f"{where}.tokensCollCapped"
                    ),
                    tokens_coll_size_in_bytes=_checked(
                        c.get("tokensCollSizeInBytes", 0), int, f"{where}.tokensCollSizeInBytes"
                    ),
                    stream_name=text("streamName"),
                )
            )
        cfg = ConnectorConfig(collections=colls)
        return apply_env_overrides(cfg)

    @staticmethod
    def load(path: str | None = None) -> "ConnectorConfig":
        """Load JSON (or YAML when pyyaml is present) config; env overrides win
        (cmd/connector/main.go:20-55)."""
        path = path or os.environ.get("CONFIG_FILE", "connector.json")
        with open(path, encoding="utf-8") as f:
            raw = f.read()
        try:
            d = json.loads(raw)
        except json.JSONDecodeError:
            try:
                import yaml  # type: ignore
            except ImportError as e:  # pragma: no cover - env without pyyaml
                raise ConfigError(f"{path} is not JSON and pyyaml is unavailable") from e
            d = yaml.safe_load(raw)
        return ConnectorConfig.from_dict(d)


_KIND_NAMES = {
    dict: "a mapping", list: "a list", bool: "true or false", int: "an integer", str: "a string"
}


def _checked(value, kind: type, field: str):
    """``value`` if it is a ``kind`` (a bool is not an integer here), else a
    ``ConfigError`` naming ``field``: a YAML ``"false"`` must not read as true."""
    if not isinstance(value, kind) or (kind is int and isinstance(value, bool)):
        raise ConfigError(f"{field} must be {_KIND_NAMES[kind]}, got {value!r}")
    return value


def apply_env_overrides(cfg: ConnectorConfig) -> ConnectorConfig:
    """Env beats file, exactly the reference's precedence."""
    cfg.mongo_uri = os.environ.get("MONGO_URI", cfg.mongo_uri)
    cfg.nats_url = os.environ.get("NATS_URL", cfg.nats_url)
    cfg.server_addr = os.environ.get("SERVER_ADDR", cfg.server_addr)
    cfg.log_level = os.environ.get("LOG_LEVEL", cfg.log_level)
    return cfg


# The four publishable operation types (internal/mongo/client.go:25-38); every
# other op type is filtered out, and `invalidate` additionally terminates the
# stream (client.go:232-235).
PUBLISHABLE_OPERATION_TYPES = ("insert", "update", "replace", "delete")
INVALIDATE_OPERATION_TYPE = "invalidate"
