"""Re-export: digested query bodies import ``_le_hex`` from here."""

from mongodb_nats_connector_spark.operators.multimodal import (  # noqa: F401
    _le_hex,
)
