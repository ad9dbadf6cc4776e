"""Re-export: digested query bodies import ``_valued_events_prepost`` from here."""

from mongodb_nats_connector_spark.operators.events import (  # noqa: F401
    _valued_events_prepost,
)
