"""Deterministic change-event feed for the connector benchmark.

A ``Feed`` turns a seed into a sequence of parquet files in the connector's
change-event schema, one file per call to ``write_file``, and records for
every publishable event the message the connector must produce: its subject,
the SHA-256 of its relaxed-ExtJSON body (built here independently of the
program's column expressions) and its document key.

The mix per file: document lifecycles (insert, then updates and replaces,
then delete) interleaved across documents, a little drop/rename noise that
must not be published, and a replay of a few of the previous file's events
with their original resume tokens, which the consumer view must drop.
Resume tokens grow with the event sequence, so token order is event order.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

DB = "bench-db"
COLL = "orders"
STREAM = COLL.upper()

_BASE = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
_BASE_S = int(_BASE.timestamp())

SCHEMA = pa.schema(
    [
        pa.field("_id_data", pa.string(), False),
        pa.field("operation_type", pa.string(), False),
        pa.field("cluster_time", pa.timestamp("us", tz="UTC"), False),
        pa.field("wall_time", pa.timestamp("us", tz="UTC"), False),
        pa.field("full_document", pa.string()),
        pa.field("full_document_before_change", pa.string()),
        pa.field("ns_db", pa.string(), False),
        pa.field("ns_coll", pa.string(), False),
        pa.field("document_key_id", pa.string(), False),
    ]
)

NOISE_SHARE = 0.005  # drop/rename events, never published
REPLAY_SHARE = 0.005  # previous file's tail re-delivered with original tokens


@dataclass
class FileInfo:
    path: str
    publishable: int  # distinct new publishable events in this file


def _extjson(tok, op, seq, full, before, oid) -> str:
    wall = _BASE + dt.timedelta(seconds=seq, milliseconds=seq % 1000)
    return (
        '{"_id":{"_data":"%s"},"operationType":"%s",'
        '"clusterTime":{"$timestamp":{"t":%d,"i":1}},'
        '"wallTime":{"$date":"%s.%03dZ"},'
        '"fullDocument":%s,"fullDocumentBeforeChange":%s,'
        '"ns":{"db":"%s","coll":"%s"},"documentKey":{"_id":{"$oid":"%s"}}}'
        % (
            tok, op, _BASE_S + seq, wall.strftime("%Y-%m-%dT%H:%M:%S"),
            wall.microsecond // 1000, full or "null", before or "null",
            DB, COLL, oid,
        )
    )


class Feed:
    """One collection's change stream, cut into files of ``events_per_file``
    events whose documents carry a payload of about ``doc_bytes`` bytes."""

    def __init__(self, seed: int, events_per_file: int, doc_bytes: int) -> None:
        self.rng = random.Random(seed)
        self.events_per_file = events_per_file
        self.payload_bytes = max(1, (doc_bytes - 60) // 2)  # hex doubles size
        self.seq = 0
        self.next_doc = 0
        self.live: dict[int, str] = {}  # doc index -> current document JSON
        self.live_ids: list[int] = []
        self.prev_tail: list[tuple] = []
        # what the consumer view must hold for the files written so far:
        # msg_id -> (subject, sha256 of the ExtJSON body, document key)
        self.expected: dict[str, tuple[str, str, str]] = {}

    def _doc(self, i: int, version: int) -> str:
        return '{"_id":{"$oid":"%024x"},"v":%d,"payload":"%s"}' % (
            i, version, self.rng.randbytes(self.payload_bytes).hex()
        )

    def _next_event(self) -> tuple:
        rng = self.rng
        seq = self.seq
        self.seq += 1
        tok = f"82{seq:022x}"
        if rng.random() < NOISE_SHARE:
            op = rng.choice(("drop", "rename"))
            return (tok, op, seq, None, None, f"{0:024x}")
        if len(self.live_ids) < 64 or rng.random() < 0.3:
            i = self.next_doc
            self.next_doc += 1
            doc = self._doc(i, 0)
            self.live[i] = doc
            self.live_ids.append(i)
            return (tok, "insert", seq, doc, None, f"{i:024x}")
        k = rng.randrange(len(self.live_ids))
        i = self.live_ids[k]
        before = self.live[i]
        r = rng.random()
        if r < 0.25:
            self.live_ids[k] = self.live_ids[-1]
            self.live_ids.pop()
            del self.live[i]
            return (tok, "delete", seq, None, before, f"{i:024x}")
        op = "update" if r < 0.75 else "replace"
        doc = self._doc(i, seq)
        self.live[i] = doc
        return (tok, op, seq, doc, before, f"{i:024x}")

    def write_file(self, path: str) -> FileInfo:
        """Write the next file of the stream to ``path`` (parquet)."""
        replay = self.prev_tail
        n_new = self.events_per_file - len(replay)
        fresh = [self._next_event() for _ in range(n_new)]
        n_replay = int(self.events_per_file * REPLAY_SHARE)
        self.prev_tail = fresh[-n_replay:] if n_replay else []
        rows = replay + fresh
        exp = self.expected
        publishable = 0
        for tok, op, seq, full, before, oid in rows:
            if op in ("drop", "rename"):
                continue
            if tok not in exp:
                body = _extjson(tok, op, seq, full, before, oid)
                digest = hashlib.sha256(body.encode()).hexdigest()
                exp[tok] = (f"{STREAM}.{op}", digest, oid)
                if publishable < 3:
                    # a digest match then also proves the program's body parses
                    json.loads(body)
                publishable += 1
        cols = list(zip(*rows))
        seqs = cols[2]
        cluster = [_BASE + dt.timedelta(seconds=s) for s in seqs]
        wall = [
            _BASE + dt.timedelta(seconds=s, milliseconds=s % 1000) for s in seqs
        ]
        table = pa.table(
            [
                pa.array(cols[0], pa.string()),
                pa.array(cols[1], pa.string()),
                pa.array(cluster, SCHEMA.field("cluster_time").type),
                pa.array(wall, SCHEMA.field("wall_time").type),
                pa.array(cols[3], pa.string()),
                pa.array(cols[4], pa.string()),
                pa.array([DB] * len(rows), pa.string()),
                pa.array([COLL] * len(rows), pa.string()),
                pa.array(cols[5], pa.string()),
            ],
            schema=SCHEMA,
        )
        pq.write_table(table, path)
        return FileInfo(path=path, publishable=publishable)

