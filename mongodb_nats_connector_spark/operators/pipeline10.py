"""Re-export: digested query bodies import ``_minplus_distances`` from here."""

from mongodb_nats_connector_spark.operators.graph import (  # noqa: F401
    _minplus_distances,
)
