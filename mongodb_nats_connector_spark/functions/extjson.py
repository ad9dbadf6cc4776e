"""MongoDB Extended JSON (relaxed) helpers for the change-event envelope.

The reference serializes whole change events with
``bson.MarshalExtJSON(cs.Current, false, false)`` (relaxed ExtJSON,
internal/mongo/client.go:222). Here the envelope -> JSON transform is pure
column expressions (concat/date_format — JVM-side, codegen'd); the
schemaless ``fullDocument`` payload is already a JSON string and is spliced
in verbatim, exactly like the reference treats it as an opaque blob after
envelope extraction (SURVEY.md §1.2).

Type mappings (SURVEY.md §1.3-1.4):
  ObjectId      -> {"$oid": "<24-hex>"}
  BSON DateTime -> {"$date": "<ISO-8601 ms>"}   (relaxed form)
  BSON Timestamp-> {"$timestamp": {"t": <epoch-s>, "i": <counter>}}
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The change-event envelope (FIXTURES.md §1; reference
# test/harness/harness.go:304-318, README.md:70-78).
CHANGE_EVENT_SCHEMA = StructType(
    [
        StructField("_id_data", StringType(), False),
        StructField("operation_type", StringType(), False),
        StructField("cluster_time", TimestampType(), False),
        StructField("wall_time", TimestampType(), False),
        StructField("full_document", StringType(), True),
        StructField("full_document_before_change", StringType(), True),
        StructField("ns_db", StringType(), False),
        StructField("ns_coll", StringType(), False),
        StructField("document_key_id", StringType(), False),
    ]
)

_ISO_MS = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"


def ext_oid(hex_col: Column) -> Column:
    """24-hex ObjectId -> ExtJSON fragment {"$oid": "..."}."""
    return F.concat(F.lit('{"$oid":"'), hex_col, F.lit('"}'))


def ext_date(ts_col: Column) -> Column:
    """Timestamp -> relaxed ExtJSON {"$date": "ISO-8601 ms"}."""
    return F.concat(F.lit('{"$date":"'), F.date_format(ts_col, _ISO_MS), F.lit('"}'))


def ext_timestamp(ts_col: Column) -> Column:
    """Timestamp -> BSON-Timestamp ExtJSON {"$timestamp":{"t":secs,"i":1}}."""
    return F.concat(
        F.lit('{"$timestamp":{"t":'),
        F.unix_timestamp(ts_col).cast("string"),
        F.lit(',"i":1}}'),
    )


def envelope_to_extjson() -> Column:
    """Whole-envelope relaxed-ExtJSON document, O7 of the reference pipeline.

    JSON payloads (``full_document``/``full_document_before_change``) splice
    in verbatim (NULL -> JSON null); everything is one concat expression, so
    serialization never leaves the JVM.
    """
    parts = [
        F.lit('{"_id":{"_data":"'),
        F.col("_id_data"),
        F.lit('"},"operationType":"'),
        F.col("operation_type"),
        F.lit('","clusterTime":'),
        ext_timestamp(F.col("cluster_time")),
        F.lit(',"wallTime":'),
        ext_date(F.col("wall_time")),
        F.lit(',"fullDocument":'),
        F.coalesce(F.col("full_document"), F.lit("null")),
        F.lit(',"fullDocumentBeforeChange":'),
        F.coalesce(F.col("full_document_before_change"), F.lit("null")),
        F.lit(',"ns":{"db":"'),
        F.col("ns_db"),
        F.lit('","coll":'),
        # a collection name may hold " and \: emit it as a JSON string
        # literal, to_json of a one-element array without its brackets
        F.btrim(F.to_json(F.array(F.col("ns_coll"))), F.lit("[]")),
        F.lit('},"documentKey":{"_id":'),
        ext_oid(F.col("document_key_id")),
        F.lit("}}"),
    ]
    return F.concat(*parts)
