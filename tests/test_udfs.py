"""UDF operators (``operators/udfs.py``): the inference stub against a
numpy replay of its code-point fold.
"""

from __future__ import annotations

import numpy as np

from mongodb_nats_connector_spark.operators.udfs import (
    EMB_STUB_DIM,
    inference_embed_stub,
)
from mongodb_nats_connector_spark.sources.tables import table

SF = "/root/testdata/sf0.001"


def test_inference_stub_matches_numpy_replay(spark):
    out = inference_embed_stub(spark, SF).toPandas()
    docs = table(spark, SF, "documents").select("doc_id", "text").toPandas()
    got = {(r.doc_id, r.j): r.v for r in out.itertuples()}
    for r in docs.head(50).itertuples():
        codes = np.frombuffer(r.text.encode("utf-32-le"), dtype=np.uint32)
        for j in range(min(EMB_STUB_DIM, len(codes))):
            assert got[(r.doc_id, j)] == int(codes[j::EMB_STUB_DIM].sum())
