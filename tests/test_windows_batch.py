"""Batch window operators (``operators/windows_batch.py``): pattern
matching against a pandas replay, and per-window top-k bounds.
"""

from __future__ import annotations

import numpy as np

from mongodb_nats_connector_spark.operators.windows_batch import (
    TOPK_PER_WINDOW,
    stream_window_topk,
    window_pattern_match,
)
from mongodb_nats_connector_spark.sources.tables import table

SF = "/root/testdata/sf0.001"


def test_pattern_match_agrees_with_pandas_replay(spark):
    out = window_pattern_match(spark, SF).toPandas().set_index("user_id")
    ev = (
        table(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    import re

    for uid, g in ev.groupby("user_id"):
        seq = ">".join(g["event_type"])
        row = out.loc[uid]
        assert row["n_events"] == len(g)
        assert row["converted"] == (1 if re.search("signup.*purchase", seq) else 0)
        assert row["n_purchases"] == (g["event_type"] == "purchase").sum()


def test_window_topk_bounded_and_descending(spark):
    out = stream_window_topk(spark, SF).toPandas()
    for _, g in out.groupby("window_start"):
        g = g.sort_values("rn")
        assert len(g) <= TOPK_PER_WINDOW
        assert (g["rn"].values == np.arange(1, len(g) + 1)).all()
        assert (np.diff(g["n"].values) <= 0).all(), "counts must be non-increasing"
