"""The UDF surface (SURVEY.md §2.3): scalar Python UDF, vectorized pandas
UDF, grouped-map applyInPandas, and mapInPandas — each as a checkable query.

Every UDF here computes something also expressible in SQL so the DuckDB
oracle can verify the full path (serialization, Arrow batching, grouping)
— the point is exercising the machinery, not the arithmetic. Production
guidance is encoded in the choices: pandas UDFs (Arrow, vectorized) for
row-wise math, applyInPandas only when per-group pandas semantics are
genuinely needed, row-at-a-time udf() demonstrated once and documented as
the slow path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructType

from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged
    FROM lineitem WHERE l_orderkey <= 1000
    """,
    doc="Vectorized pandas UDF (Arrow batches, numpy arithmetic) — the "
    "sanctioned UDF path; ~10-100x over row-at-a-time.",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf(DoubleType())
    def charged(price, disc, tax):
        return (price * (1 - disc) * (1 + tax)).round(6)

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charged("l_extendedprice", "l_discount", "l_tax").alias("charged"),
    )


@register(
    "udf_python_scalar",
    oracle="""
    SELECT o_orderkey,
           CAST(CASE substr(o_orderpriority, 1, 1)
                WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3
                WHEN '4' THEN 4 ELSE 5 END AS INT) AS priority_code
    FROM orders WHERE o_orderkey <= 2000
    """,
    doc="Row-at-a-time Python UDF — demonstrated once for surface parity; "
    "deliberately on a pre-filtered slice because this is the slow path "
    "(per-row serde, no vectorization). Everything else in the engine avoids "
    "it.",
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.udf(IntegerType())
    def priority_code(p: str) -> int:
        head = p[0] if p else "5"
        return int(head) if head in "1234" else 5

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.select("o_orderkey", priority_code("o_orderpriority").alias("priority_code"))


@register(
    "udf_grouped_zscore",
    oracle="""
    SELECT c_custkey, c_nationkey,
           round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_nationkey))
                 / stddev_samp(c_acctbal) OVER (PARTITION BY c_nationkey), 4)
             AS acctbal_z
    FROM customer
    """,
    doc="Grouped-map applyInPandas (UDTF-style): z-score account balances "
    "within each nation; one shuffle on the grouping key, per-group pandas "
    "frame in/out. Oracle reproduces it with window functions.",
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["c_acctbal"].mean()
        sd = pdf["c_acctbal"].std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_nationkey": pdf["c_nationkey"],
                "acctbal_z": ((pdf["c_acctbal"] - mu) / sd).round(4),
            }
        )

    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").applyInPandas(
        zscore, "c_custkey BIGINT, c_nationkey INT, acctbal_z DOUBLE"
    )


@register(
    "udf_map_in_pandas",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="mapInPandas: per-partition Arrow batch iterator (the custom-scan/"
    "operator escape hatch); vectorized pandas body, typed output schema.",
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": pdf["text"].str.split(" ").map(len).astype("int64"),
                    "n_chars": pdf["text"].str.len().astype("int64"),
                }
            )

    docs = table(spark, sf_dir, "documents", parallel=True)
    return docs.mapInPandas(stats, "doc_id BIGINT, n_words BIGINT, n_chars BIGINT")


@register(
    "udtf_expand_props",
    oracle="""
    SELECT event_id,
           'k' AS prop_key,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_value,
           CAST(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 2 = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS is_even
    FROM events WHERE event_id % 50 = 0
    """,
    doc="Python user-defined TABLE function (Spark 4 `@udtf`): expand each "
    "event's JSON props into (key, value, derived) rows — the one UDF shape "
    "the scalar/pandas/grouped/map quartet doesn't cover (one input row -> "
    "N output rows with Python logic). Filtered to 1/50th of events: UDTFs "
    "evaluate row-at-a-time in Python, so the hot-path guidance stands "
    "(prefer JVM explode/variant; this exists to prove the surface). The "
    "lateral join it compiles to keeps the source scan's pushdown intact.",
)
def udtf_expand_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    from pyspark.sql.functions import udtf

    @udtf(returnType="prop_key string, prop_value bigint, is_even bigint")
    class ExpandProps:
        def eval(self, props: str):
            for k, v in sorted(json.loads(props).items()):
                yield k, int(v), int(int(v) % 2 == 0)

    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 50 == 0)
        .select("event_id", "props")
    )
    e.createOrReplaceTempView("_udtf_props_in")
    spark.udtf.register("expand_props", ExpandProps)
    out = spark.sql(
        "SELECT event_id, p.prop_key, p.prop_value, p.is_even "
        "FROM _udtf_props_in, LATERAL expand_props(props) AS p"
    )
    return out


EMB_STUB_DIM = 8


@register(
    "inference_embed_stub",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS p
      FROM documents
    )
    SELECT doc_id, CAST((p - 1) % {EMB_STUB_DIM} AS BIGINT) AS j,
           CAST(sum(unicode(substr(text, p, 1))) AS BIGINT) AS v
    FROM pos GROUP BY 1, 2
    """,
    doc=f"Batched pseudo-inference plumbing: an Arrow-batched mapInPandas "
    "'model' embeds each document as strided code-point sums "
    f"(dim j = sum of every {EMB_STUB_DIM}th code point) — a deterministic "
    "stand-in with the exact shape of a quality-classifier / embedding "
    "forward pass (batch in via Arrow, vectorized numpy per doc, long-form "
    "(doc_id, dim, value) out). Swap the stride sums for model.forward and "
    "the Spark-side plumbing — batching, schema, partition parallelism — "
    "is unchanged. Map-only: zero shuffles before the caller's sink.",
)
def inference_embed_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    docs = table(spark, sf_dir, "documents", parallel=True).select("doc_id", "text")

    def embed(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_doc, out_j, out_v = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
                n = min(EMB_STUB_DIM, len(codes))
                for j in range(n):
                    out_doc.append(doc_id)
                    out_j.append(j)
                    out_v.append(int(codes[j::EMB_STUB_DIM].sum()))
            yield pd.DataFrame({"doc_id": out_doc, "j": out_j, "v": out_v})

    schema = StructType.fromDDL("doc_id bigint, j bigint, v bigint")
    return docs.mapInPandas(embed, schema)


# ---------------------------------------------------------------------------
# udf_map_in_arrow — the Arrow-RecordBatch UDF API (zero-pandas path)
# ---------------------------------------------------------------------------


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
             AS n_words
    FROM documents
    """,
    doc="``DataFrame.mapInArrow`` — the remaining entry of the Python UDF "
    "surface (scalar / pandas / grouped / mapInPandas / UDTF are covered "
    "by the udf_* family): batches arrive as ``pyarrow.RecordBatch`` and "
    "the transform runs entirely in Arrow compute kernels, skipping the "
    "Arrow->pandas conversion mapInPandas pays (no index materialization, "
    "no object boxing for strings — the fastest Python boundary Spark "
    "offers). Same map-only plan shape as mapInPandas: scan -> Arrow eval, "
    "no shuffle, pushdown intact; batch size is governed by "
    "spark.sql.execution.arrow.maxRecordsPerBatch exactly as the other "
    "Arrow UDFs.",
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            text = batch.column("text")
            n_chars = pc.utf8_length(text)
            # words = chars - spaces + 1, all in Arrow kernels
            spaces = pc.subtract(
                n_chars,
                pc.utf8_length(pc.replace_substring(text, " ", "")),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(n_chars, pa.int64()),
                    pc.cast(pc.add(spaces, 1), pa.int64()),
                ],
                ["doc_id", "n_chars", "n_words"],
            )

    docs = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id", "text"
    )
    return docs.mapInArrow(stats, "doc_id BIGINT, n_chars BIGINT, n_words BIGINT")
