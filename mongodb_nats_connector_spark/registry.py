"""Central query registry.

Every implemented operator registers a named query here; ``__spark_entry__``
exposes the registry to the driver. A query is a callable
``(SparkSession, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string over the same parquet tables. Column names are aliased
identically on both sides — the driver's comparator sorts columns by name
before hashing values.
"""

from __future__ import annotations

import hashlib
import inspect
import json
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => rows-only check (non-SQL op)
    doc: str = ""


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query (and optionally its DuckDB oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module for its registration side effects."""
    from mongodb_nats_connector_spark.operators import (  # noqa: F401
        cdc,
        curation,
        dedup,
        double_sums,
        events,
        formats,
        graph,
        multimodal,
        orders,
        relational,
        similarity,
        stats,
        text,
        udfs,
        windows_batch,
    )


_DIGESTS_FILE = Path(__file__).resolve().parent / "verified_digests.json"


def query_digest(q: RegisteredQuery) -> str:
    """Fingerprint of what the driver actually verified: the oracle SQL plus
    the query function's own source. If either changes, any past green row no
    longer proves the current implementation and the query must re-rank into
    the driver's verification window. (Transitive helpers are deliberately
    not hashed — folding whole modules in would churn the 50-query window on
    every unrelated edit.)"""
    try:
        src = inspect.getsource(q.fn)
    except (OSError, TypeError):
        src = q.fn.__name__
    body = (q.oracle or "") + "\n" + src
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def _verified_digests() -> dict[str, str]:
    """name -> digest recorded when the driver last verified it."""
    try:
        data = json.loads(_DIGESTS_FILE.read_text())
    except (OSError, ValueError):
        return {}
    return {k: v for k, v in data.items() if isinstance(v, str)}


def refresh_verified_digests(artifact: Path) -> dict[str, str]:
    """Record current digests for every name the given (newest) CORRECTNESS
    artifact marked green or rows-only-executed.

    Run this at ROUND START, before editing any operator: the artifact was
    produced against the round-end commit, so the current digest equals the
    digest of what the driver verified. Names verified in older rounds keep
    their previously recorded digests. ``python tools/round_start.py`` is
    the one entry point that runs it on the newest artifact.
    """
    _load_all()
    rows = json.loads(Path(artifact).read_text())
    digests = _verified_digests()
    for name, row in rows.items():
        if not isinstance(row, dict) or name not in _REGISTRY:
            continue
        if row.get("hash_match") is True or row.get("err") == "no_oracle":
            digests[name] = query_digest(_REGISTRY[name])
    _DIGESTS_FILE.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    return digests


def _driver_verified(root: Path | None = None) -> tuple[set[str], set[str]]:
    """Names already proven by past driver rounds.

    The driver's per-round correctness run covers the first 50 queries in
    ``queries()`` order. To converge on full coverage across rounds, we read
    past ``CORRECTNESS_r*.json`` artifacts and return:

    - ``hash_verified``: names with a green rows+schema+hash row, and
    - ``rows_only_seen``: names the driver executed with ``err: no_oracle``
      (the weaker rows-only record for non-SQL-expressible ops).
    """
    root = root or Path(__file__).resolve().parent.parent
    hash_verified: set[str] = set()
    rows_only_seen: set[str] = set()
    for artifact in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            rows = json.loads(artifact.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True:
                hash_verified.add(name)
            elif row.get("err") == "no_oracle":
                rows_only_seen.add(name)
    return hash_verified, rows_only_seen


def needs_driver_proof(
    hash_verified: set[str] | None = None, digests: dict[str, str] | None = None
) -> list[str]:
    """Oracle-bearing queries the driver has not proven in their current
    form, sorted by name: no green hash row in any
    ``CORRECTNESS_r*.json`` artifact, or one recorded for another digest
    (the query or its oracle was edited since). ``hash_verified`` and
    ``digests`` default to the repo's artifacts and ``verified_digests.json``.
    """
    _load_all()
    if hash_verified is None:
        hash_verified, _ = _driver_verified()
    if digests is None:
        digests = _verified_digests()
    return sorted(
        n
        for n, q in _REGISTRY.items()
        if q.oracle is not None
        and not (n in hash_verified and digests.get(n) == query_digest(q))
    )


def all_queries() -> dict[str, RegisteredQuery]:
    """All registered queries, ordered so unverified ones come first.

    Rank 0: has an oracle but no green driver hash row yet
    (``needs_driver_proof``; the driver's next 50-query window should spend
    its budget here). Rank 1: no oracle and never executed by the driver
    (gets a rows-only record). Rank 2: already driver-verified
    (hash-matched, or rows-only and still oracle-less). Names sort
    alphabetically within each rank, so the order does not depend on which
    module happens to be imported first.

    A past green row only counts while the implementation it proved is the
    current one: verification is keyed by ``query_digest`` (oracle SQL +
    function source) recorded in ``verified_digests.json`` at the round the
    driver checked it. Editing a verified query's code or oracle changes its
    digest, demoting it back to rank 0/1 so the next driver window re-proves
    it instead of silently trusting a stale artifact.
    """
    hash_verified, rows_only_seen = _driver_verified()
    digests = _verified_digests()
    pending = set(needs_driver_proof(hash_verified, digests))
    proven = hash_verified | rows_only_seen

    def rank(q: RegisteredQuery) -> int:
        if q.oracle is not None:
            return 0 if q.name in pending else 2
        return 2 if q.name in proven and digests.get(q.name) == query_digest(q) else 1

    ordered = sorted(_REGISTRY.values(), key=lambda q: (rank(q), q.name))
    return {q.name: q for q in ordered}


def queries() -> dict[str, QueryFn]:
    return {n: q.fn for n, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items() if q.oracle is not None}
