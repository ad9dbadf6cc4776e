"""Similarity search over the `embeddings` table (`array<float>` column).

Brute-force cosine top-k is the correctness baseline: a broadcast cross join
of the (small) query set against all vectors, dot products computed with
JVM-side higher-order functions (functions/vectors.py) — no Python per row.
The scale path is random-hyperplane LSH (`similarity_ann_lsh`): L hash
tables of B sign bits each; only (vec_id, table, bucket) shuffles and
candidates are scored, not the full cross product.

DuckDB oracle note: cosine values are rounded to 6 decimals on both sides and
ranking ties are broken by vec_id, so float summation-order noise (~1e-15)
cannot flip the comparison.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.functions.vectors import cosine_fast
from mongodb_nats_connector_spark.plans.caching import (
    persist_until_collected,
    release_on_gc,
)
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


N_QUERIES = 5  # query set: vec_id < 5
TOP_K = 5
NEARDUP_COS = 0.45  # chosen so the synthetic data yields a non-empty pair set

# deterministic random hyperplanes for sign-LSH (seeded, dim=64)
_DIM = 64
_L_TABLES = 10
_N_BITS = 8
_rng = random.Random(7)
HYPERPLANES = [
    [[_rng.gauss(0.0, 1.0) for _ in range(_DIM)] for _ in range(_N_BITS)]
    for _ in range(_L_TABLES)
]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, e.v), 6) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {TOP_K}
    """,
    doc="Brute-force cosine top-k: broadcast the query set, score all "
    "vectors with a JVM-side dot product, per-query top-k via window. The "
    "exact baseline every ANN variant is measured against.",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_fast(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= TOP_K)
    )


@register(
    "similarity_neardup_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {NEARDUP_COS}
    """,
    doc="Embedding-cosine near-duplicate pairs (threshold), brute force: "
    "Arrow-vectorized cosine per candidate pair. Quadratic by construction "
    "— the correctness baseline for the LSH-bucketed variant. The pair "
    "stream crosses the Python boundary through mapInArrow, reshaping the "
    "flat Arrow list buffers straight into (n, dim) float64 matrices — "
    "the same numpy row-wise kernel as cosine_fast (identical bits: same "
    "C-contiguous float64 input, same pairwise-summation reduce) without "
    "materializing two million per-row ndarray objects.",
)
def similarity_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))

    def _cos_batches(batches):
        import numpy as np
        import pyarrow as pa

        def _mat(col, n):
            # uniform-dim, null-free fast path: reshape the flat value
            # buffer — bitwise the same float64 rows np.stack would build
            if col.null_count == 0:
                offs = col.offsets.to_numpy()
                if n and (offs[1:] - offs[:-1] == _DIM).all():
                    vals = col.values.to_numpy(zero_copy_only=False)
                    return np.ascontiguousarray(
                        vals[offs[0]:offs[-1]]
                    ).reshape(n, _DIM)
            return None

        out_schema = pa.schema(
            [
                ("vec_a", pa.int64()),
                ("vec_b", pa.int64()),
                ("cos_raw", pa.float64()),
            ]
        )
        for batch in batches:
            n = batch.num_rows
            ca, cb = batch.column(2), batch.column(3)
            A, B = _mat(ca, n), _mat(cb, n)
            if A is not None and B is not None:
                num = (A * B).sum(axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    den = np.sqrt((A * A).sum(axis=1)) * np.sqrt(
                        (B * B).sum(axis=1)
                    )
                    cos = num / den
            else:
                # ragged/null fallback: the original per-row semantics
                xa, xb = ca.to_pandas(), cb.to_pandas()
                la = xa.map(lambda v: -1 if v is None else len(v))
                lb = xb.map(lambda v: -1 if v is None else len(v))
                ok = (la.values == lb.values) & (la.values > 0)
                cos = np.full(n, np.nan)
                for dim in np.unique(la.values[ok]):
                    m = ok & (la.values == dim)
                    Am = np.stack(xa.values[m])
                    Bm = np.stack(xb.values[m])
                    num = (Am * Bm).sum(axis=1)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        den = np.sqrt((Am * Am).sum(axis=1)) * np.sqrt(
                            (Bm * Bm).sum(axis=1)
                        )
                        cos[m] = num / den
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), pa.array(cos, pa.float64())],
                schema=out_schema,
            )

    scored = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "va", "vb")
        .mapInArrow(_cos_batches, "vec_a bigint, vec_b bigint, cos_raw double")
    )
    return scored.select(
        "vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim")
    ).filter(F.col("cos_sim") >= NEARDUP_COS)


def _bucket_udf(v: F.Column) -> F.Column:
    """All L bucket ids per vector in one Arrow batch op: dots against the
    stacked (L*B, dim) hyperplane matrix, sign bits packed per table."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.asarray(HYPERPLANES, dtype=np.float64).reshape(
        _L_TABLES * _N_BITS, _DIM
    )
    weights = (1 << np.arange(_N_BITS, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def _buckets(xs):
        V = np.stack(xs.values)                      # (rows, dim)
        bits = (V @ planes.T) > 0                    # (rows, L*B)
        bits = bits.reshape(len(V), _L_TABLES, _N_BITS)
        ids = (bits * weights).sum(axis=2)           # (rows, L)
        return pd.Series(list(ids))

    return _buckets(v)


def _lsh_oracle() -> str:
    """Exact SQL mirror of the sign-LSH pipeline: the seeded hyperplanes are
    embedded as literal DOUBLE[] rows (Python repr floats round-trip exactly
    through DuckDB's parser), bucket bits are the same dot-sign tests, and
    candidates/scoring/ranking mirror the DataFrame plan. The only
    cross-engine float hazard is a dot product EXACTLY at 0 flipping a sign
    bit between numpy's blocked summation and DuckDB's list_sum — dots here
    have magnitude >> 1e-10, so both engines agree bit-for-bit (pinned by
    the parity suite at two SFs)."""
    plane_rows = ",\n      ".join(
        f"({t}, {b}, [{', '.join(repr(x) for x in HYPERPLANES[t][b])}]::DOUBLE[])"
        for t in range(_L_TABLES)
        for b in range(_N_BITS)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    planes(tbl, bit, h) AS (VALUES
      {plane_rows}
    ),
    buckets AS (
      SELECT e.vec_id, p.tbl,
             CAST(sum(CASE WHEN list_sum(list_transform(list_zip(e.v, p.h),
                                 x -> x[1] * x[2])) > 0
                           THEN (1 << p.bit) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p
      GROUP BY e.vec_id, p.tbl
    ),
    qb AS (
      SELECT vec_id AS query_id, tbl, bucket FROM buckets
      WHERE vec_id < {{nq}}
    ),
    cand AS (
      SELECT DISTINCT qb.query_id, b.vec_id AS neighbor_id
      FROM buckets b JOIN qb ON b.tbl = qb.tbl AND b.bucket = qb.bucket
      WHERE b.vec_id <> qb.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(eq.v, en.v), 6) AS cos_sim
      FROM cand c
      JOIN e eq ON eq.vec_id = c.query_id
      JOIN e en ON en.vec_id = c.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {{k}}
    """.format(nq=N_QUERIES, k=TOP_K)


@register(
    "similarity_ann_lsh",
    oracle=_lsh_oracle(),
    doc="ANN top-k via random-hyperplane LSH: 10 tables x 8 sign bits; "
    "candidates = vectors sharing a (table, bucket) with the query, scored "
    "exactly, per-query top-k. At 100 TB only (vec_id, table, bucket) "
    "pairs shuffle; recall vs. brute force is asserted in tests. The DuckDB "
    "oracle replays the full pipeline with the hyperplanes as SQL literals, "
    "so the approximate index itself is hash-verified, not just executed.",
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    buckets = e.select(
        "vec_id", "v", F.posexplode(_bucket_udf(F.col("v"))).alias("tbl", "bucket")
    )
    q = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        "tbl",
        "bucket",
    )
    cand = (
        buckets.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"), "v")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_fast(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= TOP_K)
    )


# IVF parameters: K coarse centroids, N_PROBE probed lists per query.
# Centroids are a deterministic sample of the corpus itself (every 37th
# vector, first K by vec_id) — a stand-in for a k-means codebook that keeps
# the oracle exactly mirrorable in SQL.
K_CENTROIDS = 16
N_PROBE = 4
_CENTROID_STRIDE = 37


def _ivf_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (
      SELECT vec_id AS cid, v AS cv FROM e
      WHERE vec_id % {_CENTROID_STRIDE} = 1 ORDER BY vec_id LIMIT {K_CENTROIDS}
    ),
    assign AS (
      SELECT vec_id, v, cid,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_cosine_similarity(v, cv), 6) DESC, cid
             ) AS arn
      FROM e CROSS JOIN c
    ),
    lists AS (SELECT vec_id, v, cid FROM assign WHERE arn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probe AS (
      SELECT query_id, qv, cid,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC, cid
             ) AS prn
      FROM q CROSS JOIN c
    ),
    cand AS (
      SELECT p.query_id, p.qv, l.vec_id AS neighbor_id, l.v
      FROM probe p JOIN lists l ON l.cid = p.cid
      WHERE p.prn <= {N_PROBE} AND l.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, v), 6) AS cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(list_cosine_similarity(qv, v), 6) DESC,
                                         neighbor_id) AS rn
      FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {TOP_K}
    """


@register(
    "similarity_ann_ivf",
    oracle=_ivf_oracle(),
    doc="ANN top-k via IVF-flat: assign every vector to its nearest of "
    f"{K_CENTROIDS} coarse centroids (build step), probe the {N_PROBE} "
    "centroid lists nearest each query, exact-score only those lists. At "
    "100 TB the inverted lists are partition keys — a probe reads "
    "N_PROBE/K of the corpus instead of all of it, and the centroid table "
    "is broadcast (it is tiny by construction). Deterministic sampled "
    "centroids keep the DuckDB oracle exact; swap in k-means offline for "
    "production recall.",
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    cent = (
        e.filter(F.col("vec_id") % _CENTROID_STRIDE == 1)
        .orderBy("vec_id")
        .limit(K_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    # build: nearest centroid per vector (cosine rounded to 6 so the
    # argmax tie-break matches the oracle bit-for-bit)
    sim = F.round(cosine_fast(F.col("v"), F.col("cv")), 6)
    aw = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cid"))
    lists = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("csim", sim)
        .withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") == 1)
        .select("vec_id", "v", "cid")
    )
    # probe: N_PROBE nearest centroids per query
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("psim"), F.asc("cid"))
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("psim", F.round(cosine_fast(F.col("qv"), F.col("cv")), 6))
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= N_PROBE)
        .select("query_id", "qv", "cid")
    )
    cand = (
        lists.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"), "v")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fast(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= TOP_K)
    )


@register(
    "embedding_centroids",
    oracle="""
    WITH ex AS (
      -- parallel unnests zip: (value, 0-based dim index)
      SELECT label,
             CAST(unnest(embedding) AS DOUBLE) AS v,
             unnest(range(len(embedding))) AS idx
      FROM embeddings
    ), cent AS (
      -- + 0.0 folds IEEE -0.0 (a tiny negative mean rounded to zero)
      -- into +0.0 so both engines hash identically
      SELECT label, idx AS dim, round(avg(v), 4) + 0.0 AS c
      FROM ex GROUP BY label, idx
    ), stats AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             round(avg(sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) + 0.0
               AS avg_norm
      FROM embeddings GROUP BY label
    )
    SELECT s.label, s.n_vecs, s.avg_norm, c.dim, c.c
    FROM stats s JOIN cent c USING (label)
    """,
    doc="Per-label embedding centroids + vector-norm statistics: the "
    "codebook-training / dataset-statistics primitive behind IVF. Explode "
    "to (label, dim, value), aggregate per dimension. Output stays in the "
    "exploded (label, dim, c) form — one scalar row per centroid dimension "
    "— because the driver's comparator cannot hash array cells; callers "
    "that want the vector re-assemble with collect_list. Shuffle key is "
    "(label, dim) — 16 bytes — never whole vectors; at 100 TB this is the "
    "standard map-reduce centroid step (k-means iteration = this query + "
    "a broadcast re-assign). Signed zero is normalized (x + 0.0) on both "
    "sides: round(avg) of a tiny negative yields -0.0 in DuckDB, 0.0 in "
    "Spark.",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True)
    ex = e.select("label", F.posexplode("embedding").alias("idx", "v_raw")).select(
        "label", F.col("idx").alias("dim"), F.col("v_raw").cast("double").alias("v")
    )
    cent = ex.groupBy("label", "dim").agg(
        (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("c")
    )
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    stats = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.round(F.avg(norm), 4) + F.lit(0.0)).alias("avg_norm"),
    )
    return cent.join(F.broadcast(stats), "label").select(
        "label", "n_vecs", "avg_norm", "dim", "c"
    )


KMEANS_K = 8
KMEANS_ITERS = 2  # assignments computed ITERS times; centroids updated between


def _kmeans_assign_cte(cent: str, label: str) -> str:
    """One assignment step vs centroid CTE ``cent`` (argmin L2, ties to the
    smallest cid)."""
    return f"""
    {label} AS (
      SELECT vec_id, cid, dist FROM (
        SELECT e.vec_id, c.cid, list_distance(e.v, c.cv) AS dist,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        FROM e CROSS JOIN {cent} c) WHERE rn = 1
    )"""


@register(
    "kmeans_embeddings",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {KMEANS_K}),
    {_kmeans_assign_cte('c0', 'a1')},
    x1 AS (
      SELECT a.cid, unnest(e.v) AS val, unnest(range(len(e.v))) AS idx
      FROM a1 a JOIN e ON a.vec_id = e.vec_id
    ),
    c1 AS (
      SELECT cid, list(avg_val ORDER BY idx) AS cv FROM (
        SELECT cid, idx, avg(val) AS avg_val FROM x1 GROUP BY cid, idx)
      GROUP BY cid
    ),
    {_kmeans_assign_cte('c1', 'a2')}
    SELECT vec_id, cid AS cluster_id, round(dist, 4) + 0.0 AS dist
    FROM a2
    """,
    doc=f"Iterative k-means over the embedding corpus ({KMEANS_K} clusters, "
    f"{KMEANS_ITERS} assignment rounds, deterministic first-K init): the "
    "full loop whose single step embedding_centroids isolates, and the "
    "IVF codebook trainer. Spark-side each round collects the (tiny) "
    "K x dim centroid matrix to the driver and embeds it as literal "
    "expressions, so ASSIGNMENT IS A MAP-ONLY PROJECTION — no join, no "
    "shuffle of vectors; the recompute aggregates (cid, dim, value) with "
    "map-side combine. That is exactly MLlib KMeans' distribution "
    "strategy, and the one Spark pattern where a driver collect is the "
    "scalable answer (K*dim doubles, independent of corpus size). Ties "
    "break to the smallest cid on both engines; distances rounded with "
    "signed-zero normalization.",
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cents: list[tuple[int, list[float]]] = sorted(
        (r["vec_id"], list(r["v"]))
        for r in e.filter(F.col("vec_id") < KMEANS_K).collect()
    )

    def assignment(cents_lit):
        structs = []
        for cid, cv in cents_lit:
            lit_cv = F.array(*[F.lit(float(x)) for x in cv])
            sq = F.aggregate(
                F.zip_with("v", lit_cv, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            structs.append(
                F.struct(F.sqrt(sq).alias("dist"), F.lit(cid).alias("cid"))
            )
        best = F.array_min(F.array(*structs))
        return e.select(
            "vec_id", "v", best["cid"].alias("cid"), best["dist"].alias("dist")
        )

    assigned = assignment(cents)
    for _ in range(KMEANS_ITERS - 1):
        per_dim = (
            assigned.select("cid", F.posexplode("v").alias("idx", "val"))
            .groupBy("cid", "idx")
            .agg(F.avg("val").alias("avg_val"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in per_dim:
            by_cid.setdefault(r["cid"], {})[r["idx"]] = r["avg_val"]
        cents = sorted(
            (cid, [dims[i] for i in range(len(dims))])
            for cid, dims in by_cid.items()
        )
        assigned = assignment(cents)
    return assigned.select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        (F.round("dist", 4) + F.lit(0.0)).alias("dist"),
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH scaled AS (
      SELECT vec_id, label,
             greatest(list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS m,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), quant AS (
      SELECT vec_id, label, m,
             list_transform(v, x -> floor((x * 127.0) / m + 0.5)) AS q
      FROM scaled
    )
    SELECT vec_id, label,
           round(m / 127.0, 6) + 0.0 AS scale,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_abs_sum,
           CAST(list_sum(list_transform(list_zip(q, range(len(q))),
                t -> t[1] * t[2])) AS BIGINT) AS q_dot_idx,
           CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_saturated
    FROM quant
    """,
    doc="Per-vector symmetric int8 quantization (the storage/ANN compression "
    "step for embedding corpora): scale = max|v|/127, q_i = "
    "round-half-up(v_i/scale). Outputs integer checksums of the quantized "
    "vector (sum, |sum|, index-weighted dot) rather than the array itself — "
    "integers are exact across engines and the driver's comparator cannot "
    "hash array cells. floor(x+0.5) is used on both sides because round() "
    "is banker's in DuckDB. Pure map-side higher-order functions over the "
    "vector column — zero shuffles, trivially scales; the int8 payload "
    "would be written back as binary at 1/4 the float32 bytes.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True)
    v = F.transform("embedding", lambda x: x.cast("double"))
    m = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
    )
    df = e.select("vec_id", "label", m.alias("m"), v.alias("v"))
    q = F.transform("v", lambda x: F.floor(x * 127.0 / F.col("m") + 0.5))
    df = df.select("vec_id", "label", "m", q.alias("q"))
    lsum = lambda col: F.aggregate(col, F.lit(0).cast("bigint"), lambda a, x: a + x)
    return df.select(
        "vec_id",
        "label",
        (F.round(F.col("m") / 127.0, 6) + F.lit(0.0)).alias("scale"),
        lsum(F.col("q")).alias("q_sum"),
        lsum(F.transform("q", lambda x: F.abs(x))).alias("q_abs_sum"),
        F.aggregate(
            F.zip_with("q", F.sequence(F.lit(0), F.size("q") - 1), lambda q_, i: q_ * i),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("q_dot_idx"),
        F.size(F.filter("q", lambda x: F.abs(x) == 127)).cast("bigint").alias("n_saturated"),
    )


@register(
    "similarity_topk_quantized",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             greatest(list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS m,
             list_transform(embedding,
                x -> floor((CAST(x AS DOUBLE) * 127.0) /
                     greatest(list_max(list_transform(embedding,
                              y -> abs(CAST(y AS DOUBLE)))), 1e-30) + 0.5)) AS q
      FROM embeddings
    ),
    qs AS (SELECT vec_id AS query_id, m AS qm, q AS qq FROM e
           WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT qs.query_id, e.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(list_zip(qs.qq, e.q),
                  t -> t[1] * t[2])) AS BIGINT) AS int_dot,
             ((qs.qm / 127.0) * (e.m / 127.0)) *
               list_sum(list_transform(list_zip(qs.qq, e.q), t -> t[1] * t[2]))
               AS score
      FROM qs JOIN e ON e.vec_id <> qs.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, int_dot, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, int_dot,
           round(score, 6) + 0.0 AS approx_dot, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {TOP_K}
    """,
    doc="Asymmetric-distance top-k over int8-quantized vectors (the "
    "PQ/SQ-style compressed-search path: codes live at 1/4 the float32 "
    "bytes, so 4x more index fits per executor): both sides quantize with "
    "the embedding_quantize_int8 scheme, the dot product runs in EXACT "
    "int64 arithmetic (zero cross-engine float-summation-order risk — the "
    "only doubles are two per-vector scales applied in one fixed-order "
    "multiply), and per-query top-k ranks on the rescaled score. Broadcast "
    "query set, JVM-side HOFs, one window shuffle — same plan as the "
    "brute-force baseline but on 8-bit codes.",
)
def similarity_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True)
    v = F.transform("embedding", lambda x: x.cast("double"))
    m = F.greatest(F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30))
    quant = e.select(
        "vec_id",
        m.alias("m"),
        F.transform(v, lambda x: F.floor(x * 127.0 / m + 0.5)).alias("q"),
    )
    qs = quant.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("m").alias("qm"),
        F.col("q").alias("qq"),
    )
    int_dot = F.aggregate(
        F.zip_with("qq", "q", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = quant.join(
        F.broadcast(qs), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        int_dot.alias("int_dot"),
        (
            ((F.col("qm") / 127.0) * (F.col("m") / 127.0)) * int_dot
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "int_dot",
            (F.round("score", 6) + F.lit(0.0)).alias("approx_dot"),
            "rn",
        )
    )


@register(
    "embedding_dim_stats",
    oracle="""
    WITH flat AS (
      SELECT CAST(unnest(range(len(embedding))) AS INT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           avg(v) AS mean_v,
           round(stddev_samp(v), 4) AS std_v,
           min(v) AS min_v,
           max(v) AS max_v
    FROM flat
    GROUP BY dim
    """,
    doc="Per-dimension embedding statistics (the fit step for feature "
    "scaling / PCA preconditioning): posexplode to (dim, value), aggregate "
    "count/mean/std/min/max per dimension. Shuffle key domain = vector "
    "width; partial aggregation reduces each partition to width rows before "
    "the exchange.",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True)
    flat = e.select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
        .alias("dim", "v")
    )
    return flat.groupBy(F.col("dim").cast("int").alias("dim")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("v").alias("mean_v"),
        F.round(F.stddev_samp("v"), 4).alias("std_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@register(
    "embedding_minmax_normalize",
    oracle="""
    WITH flat AS (
      SELECT vec_id,
             CAST(unnest(range(len(embedding))) AS INT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    stats AS (
      SELECT dim, min(v) AS lo, max(v) AS hi FROM flat GROUP BY dim
    ),
    quant AS (
      SELECT vec_id, dim,
             CAST(floor((v - lo) / (hi - lo) * 1000.0 + 0.5) AS BIGINT) AS q
      FROM flat JOIN stats USING (dim)
    )
    SELECT vec_id,
           CAST(sum(q) AS BIGINT) AS q_sum,
           CAST(sum(q * (dim + 1)) AS BIGINT) AS q_dot_idx,
           CAST(min(q) AS BIGINT) AS q_min,
           CAST(max(q) AS BIGINT) AS q_max
    FROM quant
    GROUP BY vec_id
    """,
    doc="Min-max feature normalization to [0, 1] per dimension, verified "
    "via integer checksums: per-dim min/max are exact doubles (unlike "
    "mean/std, which carry summation-order noise), so the scaled value and "
    "its floor(x*1000+0.5) quantization are bit-identical across engines. "
    "Spark plan: per-dim extrema (width-sized shuffle) broadcast back as a "
    "64-row map join, then map-only scaling — at 100 TB the fit pass is "
    "the only shuffle and the transform streams.",
)
def embedding_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True)
    flat = e.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
        .alias("dim", "v"),
    ).withColumn("dim", F.col("dim").cast("int"))
    stats = flat.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    quant = (
        flat.join(F.broadcast(stats), "dim")
        .withColumn(
            "q",
            F.floor(
                (F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 1000.0 + 0.5
            ).cast("bigint"),
        )
    )
    return quant.groupBy("vec_id").agg(
        F.sum("q").cast("bigint").alias("q_sum"),
        F.sum(F.col("q") * (F.col("dim") + 1)).cast("bigint").alias("q_dot_idx"),
        F.min("q").cast("bigint").alias("q_min"),
        F.max("q").cast("bigint").alias("q_max"),
    )


EMB_DIM = 64


@register(
    "embedding_gram_matrix",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, range(1, {EMB_DIM + 1}) t(i)
    )
    SELECT a.i AS i, b.i AS j, round(sum(a.v * b.v), 4) AS g
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
    doc=f"Distributed Gram matrix X^T X over the {EMB_DIM}-d embedding "
    "table (upper triangle, 1-based indices): each Arrow batch computes a "
    "dense d×d partial with one BLAS matmul and emits only d(d+1)/2 cells, "
    "so shuffle volume is O(partitions · d²) — independent of row count. "
    "The prelude to covariance/PCA at 100 TB. Oracle expands the same sum "
    "via unnest+self-join.",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings", parallel=True).select("embedding")
    iu = np.triu_indices(EMB_DIM)

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = m.T @ m
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype(np.int64),
                    "j": (iu[1] + 1).astype(np.int64),
                    "partial": g[iu],
                }
            )

    schema = StructType.fromDDL("i bigint, j bigint, partial double")
    partials = emb.mapInPandas(gram_partials, schema)
    return partials.groupBy("i", "j").agg(F.round(F.sum("partial"), 4).alias("g"))


PCA_ITERS = 3


def _pca_oracle() -> str:
    """Unrolled 3-iteration power method over the (round-4) Gram matrix —
    the same chained-CTE trick the kmeans oracle uses."""
    d = EMB_DIM
    cte = f"""
    WITH ex AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, range(1, {d + 1}) t(i)
    ),
    g_up AS (
      SELECT a.i AS i, b.i AS j, round(sum(a.v * b.v), 4) AS g
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    g AS (
      SELECT i, j, g FROM g_up
      UNION ALL
      SELECT j AS i, i AS j, g FROM g_up WHERE i < j
    ),
    v0 AS (SELECT i, 0.125 AS val FROM range(1, {d + 1}) t(i))"""
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        cte += f""",
    m{k} AS (
      SELECT g.i AS i, sum(g.g * {prev}.val) AS val
      FROM g JOIN {prev} ON g.j = {prev}.i GROUP BY 1
    ),
    n{k} AS (SELECT sqrt(sum(val * val)) AS nrm FROM m{k}),
    v{k} AS (SELECT i, round(val / nrm, 8) AS val FROM m{k}, n{k})"""
        prev = f"v{k}"
    cte += f"""
    SELECT v{PCA_ITERS}.i AS dim,
           round(v{PCA_ITERS}.val, 4) AS component,
           round(n{PCA_ITERS}.nrm, 4) AS eigenvalue
    FROM v{PCA_ITERS}, n{PCA_ITERS}"""
    return cte


@register(
    "embedding_pca_power_iteration",
    oracle=_pca_oracle(),
    doc=f"Top principal component of the embedding corpus by {PCA_ITERS} "
    "power-method iterations over the Gram matrix: the ONE corpus-scale "
    "pass is the BLAS-batched Gram reduction (shuffle volume O(partitions "
    "· d²), row-count-independent); every iteration after that is a "
    "matvec on the d×d relation — sketch-sized work, exactly how "
    "distributed PCA runs at 100 TB (compute X^T X once, iterate on the "
    "summary). Iterates on the 4-decimal Gram and renormalizes to 8 "
    "decimals per step so both engines walk identical fixed points; the "
    "oracle unrolls the same iterations as chained CTEs (the kmeans "
    "trick). Eigenvalue = ||G v|| of the final pre-normalized iterate. "
    "The d×d summary (2080 cells) collects to the driver and the power "
    "method runs there in numpy — the kmeans/PageRank driver-loop "
    "precedent, and how production PCA actually works (collect the "
    "covariance, eig locally); expressing the 64-row matvecs as Spark "
    "jobs measured 12 scheduler round-trips for zero distributed work.",
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings", parallel=True).select("embedding")
    iu = np.triu_indices(EMB_DIM)

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = m.T @ m
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype(np.int64),
                    "j": (iu[1] + 1).astype(np.int64),
                    "partial": g[iu],
                }
            )

    schema = StructType.fromDDL("i bigint, j bigint, partial double")
    g_up = (
        emb.mapInPandas(gram_partials, schema)
        .groupBy("i", "j")
        .agg(F.round(F.sum("partial"), 4).alias("g"))
        .toPandas()
    )
    g = np.zeros((EMB_DIM, EMB_DIM))
    g[g_up["i"] - 1, g_up["j"] - 1] = g_up["g"]
    g[g_up["j"] - 1, g_up["i"] - 1] = g_up["g"]
    v = np.full(EMB_DIM, 0.125)
    nrm = 0.0
    for _ in range(PCA_ITERS):
        mv = g @ v
        nrm = float(np.sqrt((mv * mv).sum()))
        v = np.round(mv / nrm, 8)
    # NB (r14): a literal-struct formulation (the bpe_learn_merges trick)
    # was measured ~5x SLOWER here — 64 rows x 3 fields is ~200 py4j lit
    # calls, while Arrow-enabled createDataFrame ships one batch
    out = pd.DataFrame(
        {
            "dim": np.arange(1, EMB_DIM + 1, dtype=np.int64),
            "component": np.round(v, 4),
            "eigenvalue": round(nrm, 4),
        }
    )
    return spark.createDataFrame(out)


# ---------------------------------------------------------------------------
# similarity_contamination_check — eval-vs-train embedding contamination
# ---------------------------------------------------------------------------

CONTAM_EVAL_N = 25  # held-out eval set: vec_id < 25
CONTAM_COS = 0.5


@register(
    "similarity_contamination_check",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ev AS (SELECT vec_id AS eval_id, v AS evv FROM e
           WHERE vec_id < {CONTAM_EVAL_N}),
    tr AS (SELECT vec_id AS train_id, v AS trv FROM e
           WHERE vec_id >= {CONTAM_EVAL_N}),
    hits AS (
      SELECT ev.eval_id, tr.train_id,
             round(list_cosine_similarity(ev.evv, tr.trv), 6) AS cos_sim
      FROM ev JOIN tr ON true
      WHERE NOT isnan(round(list_cosine_similarity(ev.evv, tr.trv), 6))
        AND round(list_cosine_similarity(ev.evv, tr.trv), 6) >= {CONTAM_COS}
    ),
    ranked AS (
      SELECT eval_id, train_id, cos_sim,
             row_number() OVER (PARTITION BY eval_id
                                ORDER BY cos_sim DESC, train_id) AS rn
      FROM hits
    ),
    agg AS (
      SELECT eval_id, CAST(count(*) AS BIGINT) AS n_contaminated,
             max(cos_sim) AS worst_cos
      FROM hits GROUP BY eval_id
    )
    SELECT e2.eval_id,
           coalesce(a.n_contaminated, 0) AS n_contaminated,
           a.worst_cos,
           r.train_id AS worst_train_id
    FROM ev e2
    LEFT JOIN agg a ON a.eval_id = e2.eval_id
    LEFT JOIN ranked r ON r.eval_id = e2.eval_id AND r.rn = 1
    """,
    doc="Embedding-space contamination audit: for each held-out eval "
    f"vector, every training vector with cosine >= {CONTAM_COS} is a "
    "potential leak — the semantic companion to the n-gram "
    "`contamination_ngram_overlap` audit (paraphrased or reformatted "
    "leaks that exact n-grams miss). Per eval row: hit count, the worst "
    "similarity, and the offending train id (ties to the smaller id). "
    "This is the exact small-eval-set scorer (the eval side broadcasts, "
    "the same contract as every eval-vs-corpus audit here); at corpus "
    "scale the train side streams through the scorer map-only, or the "
    "sign-LSH bucketer (similarity_ann_lsh) pre-filters candidates and "
    "this verify stage keeps its shape.",
)
def similarity_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.functions.vectors import cosine_fast
    from mongodb_nats_connector_spark.operators.similarity import _emb

    e = _emb(spark, sf_dir)
    ev = e.filter(F.col("vec_id") < CONTAM_EVAL_N).select(
        F.col("vec_id").alias("eval_id"), F.col("v").alias("evv")
    )
    tr = e.filter(F.col("vec_id") >= CONTAM_EVAL_N).select(
        F.col("vec_id").alias("train_id"), F.col("v").alias("trv")
    )
    cos = F.round(cosine_fast(F.col("evv"), F.col("trv")), 6)
    hits = (
        tr.crossJoin(F.broadcast(ev))
        .select("eval_id", "train_id", cos.alias("cos_sim"))
        # NaN guard (zero-norm / degenerate vectors): Spark sorts NaN
        # ABOVE every real similarity, so an unguarded NaN would pass the
        # >= filter and win worst_cos — same fix as dedup_embedding_cosine
        .filter(~F.isnan(F.col("cos_sim")) & (F.col("cos_sim") >= CONTAM_COS))
    )
    # hits feeds both the worst-hit rank and the count/max agg; the persist
    # is tied to the RESULT at the return below (never to hits itself —
    # that releases the cache the moment this function returns)
    wr = Window.partitionBy("eval_id").orderBy(
        F.desc("cos_sim"), F.asc("train_id")
    )
    worst = (
        hits.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("eval_id", F.col("train_id").alias("worst_train_id"))
    )
    agg = hits.groupBy("eval_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contaminated"),
        F.max("cos_sim").alias("worst_cos"),
    )
    out = (
        ev.select("eval_id")
        .join(agg, "eval_id", "left")
        .join(worst, "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce("n_contaminated", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            "worst_cos",
            "worst_train_id",
        )
    )
    return persist_until_collected(hits, out)


# ---------------------------------------------------------------------------
# embedding_triplet_mining — hardest positive/negative per anchor
# ---------------------------------------------------------------------------

TRIPLET_ANCHORS = 12  # bounded anchor set, same contract as docs_knn_classify
TRIPLET_MARGIN = 0.2


@register(
    "embedding_triplet_mining",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, v AS av
      FROM e WHERE vec_id < {TRIPLET_ANCHORS}
    ),
    scored AS (
      SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
             round(list_cosine_similarity(a.av, e.v), 6) AS cos_sim
      FROM a JOIN e ON e.vec_id <> a.anchor_id
      WHERE NOT isnan(round(list_cosine_similarity(a.av, e.v), 6))
    ),
    hard_pos AS (
      SELECT anchor_id, anchor_label, vec_id AS pos_id,
             cos_sim AS pos_sim
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY anchor_id ORDER BY cos_sim ASC, vec_id) AS rn
        FROM scored WHERE label = anchor_label
      ) WHERE rn = 1
    ),
    hard_neg AS (
      SELECT anchor_id, vec_id AS neg_id, cos_sim AS neg_sim
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY anchor_id ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored WHERE label <> anchor_label
      ) WHERE rn = 1
    )
    SELECT p.anchor_id, CAST(p.anchor_label AS BIGINT) AS anchor_label,
           p.pos_id, p.pos_sim, n.neg_id, n.neg_sim,
           round(n.neg_sim - p.pos_sim + {TRIPLET_MARGIN!r}, 6)
             AS triplet_loss_term,
           CAST(CASE WHEN n.neg_sim - p.pos_sim + {TRIPLET_MARGIN!r} > 0
                THEN 1 ELSE 0 END AS BIGINT) AS is_active
    FROM hard_pos p JOIN hard_neg n USING (anchor_id)
    """,
    doc=f"Hard-triplet mining for contrastive training over the labeled "
    f"embedding table: for each of {TRIPLET_ANCHORS} anchors, the hardest "
    "positive (same label, LOWEST cosine) and hardest negative "
    "(different label, HIGHEST cosine), plus the hinge term "
    f"neg - pos + {TRIPLET_MARGIN} and its active flag — the batch-hard "
    "sampling strategy (FaceNet-style) a representation-learning "
    "pipeline runs between training epochs. Cosines round to 1e-6 with "
    "vec_id tiebreaks and a NaN guard (same contract as "
    "docs_knn_classify); exact broadcast scoring over the bounded anchor "
    "set, with the IVF/LSH candidate generators as the corpus-scale "
    "swap-in. At 100 TB anchors batch through the same bucketed index "
    "the ANN queries use — the scorer, not the mining logic, changes.",
)
def embedding_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.functions.vectors import cosine_fast

    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.filter(F.col("vec_id") < TRIPLET_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("av"),
    )
    scored = (
        e.join(F.broadcast(a), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            F.round(cosine_fast(F.col("av"), F.col("v")), 6).alias("cos_sim"),
        )
        .filter(~F.isnan(F.col("cos_sim")))
    )
    wp = Window.partitionBy("anchor_id").orderBy(
        F.asc("cos_sim"), F.asc("vec_id")
    )
    hard_pos = (
        scored.filter(F.col("label") == F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("pos_id"),
            F.col("cos_sim").alias("pos_sim"),
        )
    )
    wn = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    hard_neg = (
        scored.filter(F.col("label") != F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("vec_id").alias("neg_id"),
            F.col("cos_sim").alias("neg_sim"),
        )
    )
    hinge = F.col("neg_sim") - F.col("pos_sim") + F.lit(TRIPLET_MARGIN)
    out = hard_pos.join(hard_neg, "anchor_id").select(
        "anchor_id",
        F.col("anchor_label").cast("bigint").alias("anchor_label"),
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        F.round(hinge, 6).alias("triplet_loss_term"),
        F.when(hinge > 0, 1).otherwise(0).cast("bigint").alias("is_active"),
    )
    return persist_until_collected(scored, out)


# ---------------------------------------------------------------------------
# similarity_mmr_topk — maximal-marginal-relevance diverse top-k re-ranking
# ---------------------------------------------------------------------------

MMR_QUERY_ID = 0
MMR_POOL = 50
MMR_K = 8
MMR_LAMBDA = 0.7  # relevance weight; (1 - lambda) = 0.3 diversity weight


def _mmr_oracle() -> str:
    steps = []
    for i in range(2, MMR_K + 1):
        prev = f"p{i - 1}"
        steps.append(f"""
    s{i} AS MATERIALIZED (
      SELECT c.vec_id, c.label, c.v, c.rel,
             {MMR_LAMBDA!r} * c.rel - {1 - MMR_LAMBDA!r}
               * (SELECT max(round(list_cosine_similarity(c.v, s.v), 6))
                  FROM {prev} s) AS score
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
      ORDER BY score DESC, c.vec_id LIMIT 1
    ),
    p{i} AS (
      SELECT vec_id, label, v, rel, step FROM {prev}
      UNION ALL
      SELECT vec_id, label, v, rel, {i} AS step FROM s{i}
    )""")
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = {MMR_QUERY_ID}),
    cand AS MATERIALIZED (
      SELECT e.vec_id, e.label, e.v,
             round(list_cosine_similarity(q.qv, e.v), 6) AS rel
      FROM e, q
      WHERE e.vec_id <> {MMR_QUERY_ID}
        AND NOT isnan(round(list_cosine_similarity(q.qv, e.v), 6))
      ORDER BY rel DESC, e.vec_id LIMIT {MMR_POOL}
    ),
    p1 AS (
      SELECT vec_id, label, v, rel, 1 AS step FROM cand
      ORDER BY rel DESC, vec_id LIMIT 1
    ),{",".join(steps)}
    SELECT CAST(step AS BIGINT) AS step, vec_id,
           CAST(label AS BIGINT) AS label, rel AS relevance
    FROM p{MMR_K}
    """


@register(
    "similarity_mmr_topk",
    oracle=_mmr_oracle(),
    doc=f"Maximal-marginal-relevance diverse top-{MMR_K} retrieval: greedy "
    f"re-ranking of the top-{MMR_POOL} cosine candidates for query vector "
    f"{MMR_QUERY_ID}, each step picking argmax of lambda*rel - "
    f"(1-lambda)*max-sim-to-selected (lambda={MMR_LAMBDA}) — the "
    "standard redundancy-suppressing re-ranker between ANN candidate "
    "generation and a RAG context window (pure cosine top-k returns "
    "near-duplicates; MMR forces coverage). Architecture mirrors "
    "production retrieval: candidate generation + the pool's pairwise "
    "similarity matrix are DISTRIBUTED (broadcast-NLJ over the bounded "
    "pool, the docs_knn_classify contract; the corpus-scale path swaps in "
    "the IVF/LSH generators), while the greedy selection runs driver-side "
    f"over the collected {MMR_POOL}x{MMR_POOL} rounded-similarity matrix "
    "— a bounded constant-size collect (the k-means-centroid precedent), "
    "NOT a data-proportional loop. Determinism: cosines round to 6 as the "
    "cross-engine anchor; MMR scores are derived by IEEE *,- on those "
    "anchors and NEVER re-rounded (Python round is half-to-even, SQL "
    "half-away), so Python and DuckDB order pairs identically; ties break "
    "on vec_id.",
)
def similarity_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.functions.vectors import cosine_fast

    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("v").alias("qv")
    )
    cand = (
        e.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "v",
            F.round(cosine_fast(F.col("qv"), F.col("v")), 6).alias("rel"),
        )
        .filter(~F.isnan(F.col("rel")))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
    )
    # persisted NOW (not via persist_until_collected) because the bounded
    # collects below need the cache during construction; released when the
    # returned result is GC'd (release_on_gc at the bottom)
    cand = cand.persist()
    # pairwise similarity matrix of the bounded pool, computed distributed
    c1 = cand.select(
        F.col("vec_id").alias("id1"), F.col("v").alias("v1")
    )
    c2 = cand.select(
        F.col("vec_id").alias("id2"), F.col("v").alias("v2")
    )
    pair_rows = (
        c1.join(F.broadcast(c2), F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.round(cosine_fast(F.col("v1"), F.col("v2")), 6).alias("sim"),
        )
        .collect()  # bounded: POOL*(POOL-1)/2 rows, data-independent
    )
    rel_rows = cand.select("vec_id", "rel").collect()  # bounded: POOL rows
    rel = {r["vec_id"]: r["rel"] for r in rel_rows}
    sim = {}
    for r in pair_rows:
        sim[(r["id1"], r["id2"])] = r["sim"]
        sim[(r["id2"], r["id1"])] = r["sim"]
    # greedy MMR on the anchored (rounded) values — IEEE arithmetic only,
    # no Python-side rounding (see doc)
    selected: list[int] = []
    order: dict[int, int] = {}
    remaining = sorted(rel)
    for step in range(1, MMR_K + 1):
        if not remaining:
            break
        if not selected:
            best = max(remaining, key=lambda c: (rel[c], -c))
        else:
            best = max(
                remaining,
                key=lambda c: (
                    MMR_LAMBDA * rel[c]
                    - (1 - MMR_LAMBDA)
                    * max(sim[(c, s)] for s in selected),
                    -c,
                ),
            )
        selected.append(best)
        order[best] = step
        remaining.remove(best)
    steps_df = spark.createDataFrame(
        [(int(v), int(s)) for v, s in order.items()], "vec_id long, step long"
    )
    out = cand.join(F.broadcast(steps_df), "vec_id").select(
        "step",
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        F.col("rel").alias("relevance"),
    )
    return release_on_gc(cand, out)


# ---------------------------------------------------------------------------
# embedding_pq_codebook / similarity_ann_pq — product quantization
# ---------------------------------------------------------------------------

PQ_M = 2        # subspaces
PQ_SUBDIM = 32  # dims per subspace (embeddings are 64-dim)
PQ_K = 4        # centroids per subspace codebook
PQ_ITERS = 2    # assignment rounds (centroids recomputed between)
ANN_PQ_QUERY_ID = 1
ANN_PQ_TOPK = 10


def _pq_d2(sv_col, cv):
    """Squared L2 distance between a subvector column and a centroid — a
    literal list (assignment) or a second array Column (the ADC distance
    table) — as the ONE left-fold sum both engines evaluate in order; every
    PQ distance in this module goes through this fold so the fixed
    operation order can never drift between call sites."""
    cv_col = (
        F.array(*[F.lit(float(x)) for x in cv])
        if isinstance(cv, (list, tuple))
        else cv
    )
    return F.aggregate(
        F.zip_with(sv_col, cv_col, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_best(cents: list[tuple[int, list[float]]], sv="sv"):
    """argmin-by-(d2, cid) struct over the literal codebook — assignment is
    a MAP-ONLY projection (the kmeans_embeddings distribution strategy).
    ``sv`` is a column name or a Column expression for the subvector."""
    col = F.col(sv) if isinstance(sv, str) else sv
    structs = [
        F.struct(_pq_d2(col, cv).alias("d2"), F.lit(cid).alias("cid"))
        for cid, cv in cents
    ]
    return F.array_min(F.array(*structs))


def _pq_train_subspace(se) -> list[tuple[int, list[float]]]:
    """k-means codebook for one subspace relation (vec_id, sv):
    deterministic first-K init, PQ_ITERS assignment rounds; centroids live
    on the driver as K x SUBDIM literals (bounded, corpus-independent)."""
    cents = sorted(
        (r["vec_id"], list(r["sv"]))
        for r in se.filter(F.col("vec_id") < PQ_K).collect()
    )
    for _ in range(PQ_ITERS - 1):
        assigned = se.select(
            "vec_id", "sv", _pq_best(cents)["cid"].alias("cid")
        )
        per_dim = (
            assigned.select("cid", F.posexplode("sv").alias("idx", "val"))
            .groupBy("cid", "idx")
            # round(avg, 6) anchors each coordinate cross-engine: an
            # unrounded distributed avg depends on partial-agg order, and
            # a last-ulp drift could flip an argmin assignment downstream
            .agg(F.round(F.avg("val"), 6).alias("a"))
            .collect()  # bounded: K x SUBDIM rows
        )
        by: dict[int, dict[int, float]] = {}
        for r in per_dim:
            by.setdefault(r["cid"], {})[r["idx"]] = r["a"]
        cents = sorted(
            (cid, [dims[i] for i in range(len(dims))])
            for cid, dims in by.items()
        )
    return cents


def _pq_sub_ctes(m: int) -> str:
    """Oracle twin of one subspace's training: slice, first-K init, one
    recompute round, final assignment with squared-L2 argmin (ties to the
    smallest cid). Final relations: s{m} (subvectors), c{m}1 (codebook),
    a{m}2 (vec_id, cid, d2)."""
    lo, hi = 1 + m * PQ_SUBDIM, (m + 1) * PQ_SUBDIM
    d2 = (
        "list_sum(list_transform(list_zip(s.sv, c.cv),"
        " t -> (t[1]-t[2])*(t[1]-t[2])))"
    )
    return f"""
    s{m} AS MATERIALIZED (
      SELECT vec_id, v[{lo}:{hi}] AS sv FROM e
    ),
    c{m}0 AS (SELECT vec_id AS cid, sv AS cv FROM s{m} WHERE vec_id < {PQ_K}),
    a{m}1 AS (
      SELECT vec_id, sv, cid FROM (
        SELECT s.vec_id, s.sv, c.cid,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {d2}, c.cid) AS rn
        FROM s{m} s CROSS JOIN c{m}0 c) WHERE rn = 1
    ),
    x{m}1 AS (
      SELECT cid, unnest(sv) AS val, unnest(range(len(sv))) AS idx
      FROM a{m}1
    ),
    c{m}1 AS MATERIALIZED (
      SELECT cid, list(avg_val ORDER BY idx) AS cv FROM (
        SELECT cid, idx, round(avg(val), 6) AS avg_val
        FROM x{m}1 GROUP BY cid, idx)
      GROUP BY cid
    ),
    a{m}2 AS MATERIALIZED (
      SELECT vec_id, cid, d2 FROM (
        SELECT s.vec_id, c.cid, {d2} AS d2,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {d2}, c.cid) AS rn
        FROM s{m} s CROSS JOIN c{m}1 c) WHERE rn = 1
    )"""


@register(
    "embedding_pq_codebook",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),{_pq_sub_ctes(0)},{_pq_sub_ctes(1)}
    SELECT subspace, cid, n_assigned, d2_sum_x10k,
           CAST(d2_sum_x10k AS DOUBLE) / 10000.0 / n_assigned AS avg_sq_dist
    FROM (
      SELECT CAST(0 AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS cid,
             CAST(count(*) AS BIGINT) AS n_assigned,
             CAST(sum(CAST(round(d2 * 10000) AS BIGINT)) AS BIGINT)
               AS d2_sum_x10k
      FROM a02 GROUP BY cid
      UNION ALL
      SELECT CAST(1 AS BIGINT), CAST(cid AS BIGINT),
             CAST(count(*) AS BIGINT),
             CAST(sum(CAST(round(d2 * 10000) AS BIGINT)) AS BIGINT)
      FROM a12 GROUP BY cid
    )
    """,
    doc=f"Product-quantization codebook training over the embedding corpus: "
    f"split each 64-dim vector into {PQ_M} x {PQ_SUBDIM}-dim subspaces and "
    f"k-means each independently (k={PQ_K}, {PQ_ITERS} assignment rounds, "
    "deterministic first-K init) — the compression stage of "
    "PQ/IVF-PQ indexes (Jegou et al.), storing each vector as "
    f"{PQ_M} byte-codes instead of 64 floats. Distribution strategy is "
    "kmeans_embeddings': per-round centroids collect to the driver "
    "(K x SUBDIM doubles, corpus-independent) and re-enter as LITERALS, "
    "so every assignment is a map-only projection — no joins or shuffles "
    "of vectors; the recompute is one map-combined (cid, dim) rollup. "
    "Per-cell distortions quantize to integer 1e-4 units per ROW before "
    "the cell sum (exact integer addition; the rounded d2 itself is the "
    "per-row anchor, the kmeans dist-rounding precedent), and the "
    "reported average distortion is one fixed-order IEEE expression.",
)
def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.persist()  # feeds every subspace's training collects + scans
    parts = []
    for m in range(PQ_M):
        se = e.select(
            "vec_id",
            F.slice("v", 1 + m * PQ_SUBDIM, PQ_SUBDIM).alias("sv"),
        )
        cents = _pq_train_subspace(se)
        best = _pq_best(cents)
        a2 = se.select(best["cid"].alias("cid"), best["d2"].alias("d2"))
        parts.append(
            a2.groupBy("cid").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
                F.sum(F.round(F.col("d2") * 10000).cast("bigint"))
                .cast("bigint")
                .alias("d2_sum_x10k"),
            ).select(
                F.lit(m).cast("bigint").alias("subspace"),
                F.col("cid").cast("bigint").alias("cid"),
                "n_assigned",
                "d2_sum_x10k",
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    out = u.select(
        "subspace",
        "cid",
        "n_assigned",
        "d2_sum_x10k",
        (
            F.col("d2_sum_x10k").cast("double") / 10000.0 / F.col("n_assigned")
        ).alias("avg_sq_dist"),
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(e, out)


def _ann_pq_oracle() -> str:
    qd2 = (
        "list_sum(list_transform(list_zip(q.sv, c.cv),"
        " t -> (t[1]-t[2])*(t[1]-t[2])))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),{_pq_sub_ctes(0)},{_pq_sub_ctes(1)},
    dt0 AS (
      SELECT c.cid, {qd2} AS qd2
      FROM c01 c, (SELECT sv FROM s0 WHERE vec_id = {ANN_PQ_QUERY_ID}) q
    ),
    dt1 AS (
      SELECT c.cid, {qd2} AS qd2
      FROM c11 c, (SELECT sv FROM s1 WHERE vec_id = {ANN_PQ_QUERY_ID}) q
    )
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
           CAST(a0.cid AS BIGINT) AS code0, CAST(a1.cid AS BIGINT) AS code1,
           round(d0.qd2 + d1.qd2, 6) + 0.0 AS approx_d2
    FROM e
    JOIN a02 a0 ON a0.vec_id = e.vec_id
    JOIN a12 a1 ON a1.vec_id = e.vec_id
    JOIN dt0 d0 ON d0.cid = a0.cid
    JOIN dt1 d1 ON d1.cid = a1.cid
    WHERE e.vec_id <> {ANN_PQ_QUERY_ID}
    ORDER BY round(d0.qd2 + d1.qd2, 6), e.vec_id
    LIMIT {ANN_PQ_TOPK}
    """


@register(
    "similarity_ann_pq",
    oracle=_ann_pq_oracle(),
    doc=f"Approximate nearest-neighbor search by asymmetric distance "
    f"computation (ADC) over the PQ codes: encode every vector as "
    f"{PQ_M} centroid ids (embedding_pq_codebook's codebooks), "
    "precompute the query's squared distance to each centroid (a "
    f"{PQ_M} x {PQ_K} lookup table), and rank candidates by the SUM of "
    f"table lookups — top-{ANN_PQ_TOPK} for query vector "
    f"{ANN_PQ_QUERY_ID}. This is the memory-bandwidth-bound inner loop "
    "of IVF-PQ indexes: per-vector work is two code lookups + one add, "
    "never a 64-dim scan. Encoding is a map-only literal projection (the "
    "kmeans distribution strategy); the lookup tables are "
    "centroid-cardinality relations broadcast to the codes; the approx "
    "distance is ONE fixed-order IEEE add of the two table entries "
    "(never a multi-term float sum), rounded to 6 as the cross-engine "
    "ordering anchor with vec_id tie-breaks; the top-k ships via "
    "TakeOrderedAndProject. The exact-cosine twin is "
    "similarity_topk_bruteforce — comparing the two quantifies PQ "
    "recall, the standard index-quality readout.",
)
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.persist()  # feeds training collects, encoding AND the output
    enc = e
    dts = []
    for m in range(PQ_M):
        sv = F.slice("v", 1 + m * PQ_SUBDIM, PQ_SUBDIM)
        se = e.select("vec_id", sv.alias("sv"))
        cents = _pq_train_subspace(se)
        enc = enc.withColumn(f"code{m}", _pq_best(cents, sv)["cid"])
        # query distance table: centroid-cardinality relation whose qd2 is
        # the SAME literal-fold expression the oracle evaluates
        qsv = se.filter(F.col("vec_id") == ANN_PQ_QUERY_ID).select("sv")
        dt = qsv.crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(cid, cv) for cid, cv in cents],
                    f"cid int, cv array<double>",
                )
            )
        ).select(
            F.col("cid").alias(f"dcid{m}"),
            _pq_d2(F.col("sv"), F.col("cv")).alias(f"qd2_{m}"),
        )
        dts.append(dt)
    approx = F.round(F.col("qd2_0") + F.col("qd2_1"), 6) + F.lit(0.0)
    out = (
        enc.filter(F.col("vec_id") != ANN_PQ_QUERY_ID)
        .join(F.broadcast(dts[0]), F.col("code0") == F.col("dcid0"))
        .join(F.broadcast(dts[1]), F.col("code1") == F.col("dcid1"))
        .select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.col("code0").cast("bigint").alias("code0"),
            F.col("code1").cast("bigint").alias("code1"),
            approx.alias("approx_d2"),
        )
        .orderBy("approx_d2", "vec_id")
        .limit(ANN_PQ_TOPK)
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(e, out)


# ---------------------------------------------------------------------------
# similarity_recall_at_k — ANN quality evaluation against the exact baseline
# ---------------------------------------------------------------------------


def _recall_oracle() -> str:
    from mongodb_nats_connector_spark.operators.similarity import (
        _lsh_oracle,
        similarity_topk_bruteforce,
    )
    from mongodb_nats_connector_spark.registry import _REGISTRY

    truth_sql = _REGISTRY["similarity_topk_bruteforce"].oracle
    assert similarity_topk_bruteforce is not None
    return f"""
    WITH truth AS ({truth_sql}),
    approx AS ({_lsh_oracle()}),
    hits AS (
      SELECT t.query_id,
             CAST(count(a.neighbor_id) AS BIGINT) AS n_matched,
             CAST(count(*) AS BIGINT) AS k
      FROM truth t
      LEFT JOIN approx a ON a.query_id = t.query_id
                        AND a.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    )
    SELECT query_id, n_matched, k,
           CAST(n_matched AS DOUBLE) / k AS recall_at_k
    FROM hits
    ORDER BY query_id
    """


@register(
    "similarity_recall_at_k",
    oracle=_recall_oracle(),
    doc="Recall@k of the sign-LSH ANN index against the exact brute-force "
    "baseline, per query — the evaluation loop every ANN deployment "
    "needs CLOSED (similarity_ann_lsh ships an index; this measures "
    "whether its bucket recall actually holds, per query, as data "
    "drifts — the pytest recall assertion promoted to a first-class, "
    "oracle-checked operator). Both sides are the registry's own "
    "constructions: the exact top-k (broadcast query set, JVM dot "
    "products, per-query window) and the LSH top-k (10x8 sign-bit "
    "tables, bucket-join candidates, exact re-scoring), joined on "
    "(query, neighbor); matches are exact integer counts and recall "
    "is one IEEE division per query row. The DuckDB twin composes the "
    "two ops' own oracle texts as CTEs, so the evaluation is "
    "hash-verified end-to-end. Scale path: inherited from the "
    "composed ops — candidates bucket-join, never all-pairs; the "
    "ground-truth side is query-bounded.",
)
def similarity_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.similarity import (
        similarity_ann_lsh,
        similarity_topk_bruteforce,
    )

    truth = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = similarity_ann_lsh(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hits = (
        truth.join(
            approx,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("an").cast("bigint").alias("n_matched"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )
    return hits.select(
        "query_id",
        "n_matched",
        "k",
        (F.col("n_matched").cast("double") / F.col("k")).alias(
            "recall_at_k"
        ),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# embedding_truncation_fidelity — Matryoshka-style half-dim ANN agreement
# ---------------------------------------------------------------------------

TRUNC_N_QUERIES = 50  # bounded query panel (the similarity_topk convention)
TRUNC_HALF_DIM = 32  # keep the first half of the 64-dim embedding


@register(
    "embedding_truncation_fidelity",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id AS query_id, q AS qq FROM e
      WHERE vec_id < {TRUNC_N_QUERIES}
    ),
    scored AS (
      SELECT qs.query_id, e.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> qs.qq[i] * e.q[i])) AS BIGINT) AS dot_full,
             CAST(list_sum(list_transform(range(1, {TRUNC_HALF_DIM} + 1),
                  i -> qs.qq[i] * e.q[i])) AS BIGINT) AS dot_half
      FROM qs JOIN e ON e.vec_id <> qs.query_id
    ),
    top_full AS (
      SELECT query_id, neighbor_id AS nb_full FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dot_full DESC, neighbor_id) AS rn
        FROM scored) WHERE rn = 1
    ),
    top_half AS (
      SELECT query_id, neighbor_id AS nb_half FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dot_half DESC, neighbor_id) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN f.nb_full = h.nb_half THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           CAST(1000000000
                * sum(CASE WHEN f.nb_full = h.nb_half THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS agreement_ppb
    FROM top_full f JOIN top_half h USING (query_id)
    """,
    doc=f"Matryoshka-style truncation fidelity of the embedding index: "
    f"for {TRUNC_N_QUERIES} query vectors, does the top-1 neighbor by "
    f"FULL 64-dim dot product survive truncation to the first "
    f"{TRUNC_HALF_DIM} dimensions? This is the capacity-planning "
    "readout for dimension-truncated retrieval (MRL-trained and "
    "PCA-rotated embeddings ship exactly this trade) — it composes "
    "with similarity_recall_at_k (which grades the sign-LSH index "
    "against the same brute-force baseline) to separate 'index "
    "error' from 'representation error'. Components milli-quantize "
    "by floor(x * 1000) — one deterministic IEEE multiply + floor "
    "per component, identical in both engines — so both dot products "
    "are exact integer folds (JVM zip_with/aggregate; DuckDB "
    "list_transform/list_sum in the same index order), winners are "
    "integer argmaxes with neighbor-id tie-break, and agreement is "
    "one ppb floor-division. The query panel is a bounded literal "
    "set, so the scoring join is the similarity_topk bounded NLJ "
    "pattern, never an all-pairs product.",
)
def embedding_truncation_fidelity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>),"
            " x -> CAST(floor(x * 1000) AS BIGINT))"
        ).alias("q"),
    )
    qs = e.filter(F.col("vec_id") < TRUNC_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    scored = (
        e.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(qq, q, (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("dot_full"),
            F.expr(
                f"aggregate(zip_with(slice(qq, 1, {TRUNC_HALF_DIM}),"
                f" slice(q, 1, {TRUNC_HALF_DIM}), (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("dot_half"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("dot_full"), F.asc("neighbor_id")
    )
    w_half = Window.partitionBy("query_id").orderBy(
        F.desc("dot_half"), F.asc("neighbor_id")
    )
    top_full = (
        scored.withColumn("rn", F.row_number().over(w_full))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("nb_full"))
    )
    top_half = (
        scored.withColumn("rn", F.row_number().over(w_half))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("nb_half"))
    )
    j = top_full.join(top_half, "query_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(
            F.when(F.col("nb_full") == F.col("nb_half"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_agree"),
        F.expr(
            "CAST(1000000000"
            " * sum(CASE WHEN nb_full = nb_half THEN 1 ELSE 0 END)"
            " div count(*) AS BIGINT)"
        ).alias("agreement_ppb"),
    )


# ---------------------------------------------------------------------------
# embedding_rademacher_projection — JL sketch with literal sign matrix
# ---------------------------------------------------------------------------


def _rademacher_signs(n_proj: int = 16, dim: int = 64) -> list[list[int]]:
    """Deterministic +-1 sign matrix from md5 — computed ONCE at import and
    embedded as literals in BOTH the Spark plan and the oracle (the
    sign-LSH literal-hyperplane precedent), so no hashing runs at query
    time."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp_{j}_{d}".encode()).hexdigest()[0], 16) < 8
            else -1
            for d in range(dim)
        ]
        for j in range(n_proj)
    ]


_RP_SIGNS = _rademacher_signs()
_RP_SQL_ROWS = ", ".join(
    "[" + ", ".join(str(v) for v in row) + "]" for row in _RP_SIGNS
)
_RP_SPARK_ROWS = ", ".join(
    "array(" + ", ".join(str(v) for v in row) + ")" for row in _RP_SIGNS
)


@register(
    "embedding_rademacher_projection",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            v -> CAST(floor(v * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(1, 65),
                  d -> q[d] * q[d])) AS BIGINT) AS x2,
             list_transform([{_RP_SQL_ROWS}],
                  s -> CAST(list_sum(list_transform(range(1, 65),
                       d -> s[d] * q[d])) AS BIGINT)) AS ys
      FROM e
    ),
    r AS (
      SELECT vec_id, x2,
             CAST(list_sum(list_transform(ys, y -> y * y)) AS HUGEINT)
               AS y2
      FROM proj
    ),
    ratio AS (
      SELECT vec_id,
             CAST((1000000 * y2) // greatest(16 * CAST(x2 AS HUGEINT), 1)
                  AS BIGINT) AS ratio_ppm
      FROM r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS mean_ratio_ppm,
           CAST(min(ratio_ppm) AS BIGINT) AS min_ratio_ppm,
           CAST(max(ratio_ppm) AS BIGINT) AS max_ratio_ppm
    FROM ratio
    """,
    doc="Johnson-Lindenstrauss norm preservation under a 16-dimension "
    "Rademacher (+-1) random projection: per vector the ratio "
    "||Sx||^2 / (16 ||x||^2), whose mean is 1 by the JL lemma — the "
    "measured DISTORTION profile that justifies projection-based "
    "candidate generation (sign-LSH buckets, similarity_ann_lsh) "
    "before committing a corpus to it. The 16x64 sign matrix is an "
    "md5-derived LITERAL shared by both engines (the literal-"
    "hyperplane precedent — no hashing at query time); embeddings "
    "quantize to exact integer milli-units, so every projection, "
    "square and the per-vector ppm ratio are exact integer "
    "arithmetic, map-only until the final 4-number reduce. Zero "
    "shuffles before the scalar aggregate.",
)
def embedding_rademacher_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
            " * 1000) AS BIGINT))"
        ).alias("q"),
    )
    proj = e.select(
        "vec_id",
        F.expr(
            "aggregate(transform(sequence(1, 64), d ->"
            " element_at(q, d) * element_at(q, d)),"
            " CAST(0 AS BIGINT), (a, v) -> a + v)"
        ).alias("x2"),
        F.expr(
            f"transform(array({_RP_SPARK_ROWS}),"
            f" s -> aggregate(transform(sequence(1, 64),"
            f" d -> element_at(s, d) * element_at(q, d)),"
            f" CAST(0 AS BIGINT), (a, v) -> a + v))"
        ).alias("ys"),
    )
    r = proj.select(
        "vec_id",
        "x2",
        F.expr(
            "aggregate(transform(ys, y -> CAST(y AS DECIMAL(38,0)) * y),"
            " CAST(0 AS DECIMAL(38,0)), (a, v) -> a + v)"
        ).alias("y2"),
    )
    ratio = r.select(
        F.expr(
            "CAST((1000000 * y2)"
            " div greatest(16 * CAST(x2 AS DECIMAL(38,0)), 1) AS BIGINT)"
        ).alias("ratio_ppm")
    )
    return ratio.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.expr("CAST(sum(ratio_ppm) div count(*) AS BIGINT)").alias(
            "mean_ratio_ppm"
        ),
        F.min("ratio_ppm").cast("bigint").alias("min_ratio_ppm"),
        F.max("ratio_ppm").cast("bigint").alias("max_ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# embedding_hubness_skew — k-occurrence skewness over the query panel
# ---------------------------------------------------------------------------


@register(
    "embedding_hubness_skew",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            v -> CAST(floor(v * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    qs AS (SELECT vec_id AS qid, q AS qq FROM e WHERE vec_id < 100),
    scored AS (
      SELECT qs.qid, e.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, 65),
                  d -> qs.qq[d] * e.q[d])) AS BIGINT) AS dot
      FROM qs JOIN e ON e.vec_id <> qs.qid
    ),
    top5 AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                 ORDER BY dot DESC, nid) AS rn
        FROM scored) WHERE rn <= 5
    ),
    occ AS (
      SELECT e.vec_id,
             CAST(coalesce((SELECT count(*) FROM top5
                            WHERE top5.nid = e.vec_id), 0) AS BIGINT)
               AS n5
      FROM e
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n5) AS BIGINT) AS s1,
             CAST(sum(CAST(n5 AS HUGEINT) * n5) AS HUGEINT) AS s2,
             CAST(sum(CAST(n5 AS HUGEINT) * n5 * n5) AS HUGEINT) AS s3,
             CAST(max(n5) AS BIGINT) AS mx
      FROM occ
    )
    SELECT n AS n_vectors, mx AS max_occurrences,
           CAST(s1 AS BIGINT) AS total_occurrences,
           CAST(floor(1000.0
                * (CAST(n AS DOUBLE) * n * s3
                   - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1)
                / (CAST(n AS DOUBLE)
                   * ((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                      / n)
                   * sqrt((CAST(n AS DOUBLE) * s2
                           - CAST(s1 AS DOUBLE) * s1) / n))
                ) AS BIGINT) AS skew_milli
    FROM mom
    """,
    doc="Hubness of the embedding space: the k-occurrence distribution "
    "N_5(x) (how many of the 100 panel queries rank x in their exact "
    "top-5) and its population SKEWNESS — high positive skew is the "
    "high-dimensional hubness pathology (a few points become "
    "everyone's neighbor) that silently degrades kNN label "
    "propagation (docs_knn_classify) and ANN recall, measured here "
    "before trusting them. Top-5 sets use exact integer milli-dot "
    "products with (dot DESC, vec_id) determinism over the bounded "
    "panel (the similarity_topk convention); occurrence counts are "
    "exact integers including the zeros (left-join back to ALL "
    "vectors), and skewness m3/m2^1.5 evaluates as ONE fixed-shape "
    "double over exact power sums with m2^1.5 = m2*sqrt(m2) (the "
    "jarque_bera ulp rule), floor-quantized to milli. One panel-"
    "bounded scoring join + one qid-partitioned rank window.",
)
def embedding_hubness_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
            " * 1000) AS BIGINT))"
        ).alias("q"),
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    e = e.persist()
    qs = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq")
    )
    scored = qs.join(e, F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.expr(
            "aggregate(zip_with(qq, q, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (a, v) -> a + v)"
        ).alias("dot"),
    )
    top5 = (
        scored.select(
            "qid",
            "nid",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(
                    F.col("dot").desc(), F.col("nid")
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= 5)
        .groupBy("nid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    occ = e.select("vec_id").join(
        top5, e.vec_id == top5.nid, "left"
    ).select(
        F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("n5")
    )
    mom = occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n5").cast("bigint").alias("s1"),
        _dsum(F.expr("CAST(n5 AS DECIMAL(38,0)) * n5")).alias("s2"),
        _dsum(F.expr("CAST(n5 AS DECIMAL(38,0)) * n5 * n5")).alias("s3"),
        F.max("n5").cast("bigint").alias("mx"),
    )
    out = mom.select(
        F.col("n").alias("n_vectors"),
        F.col("mx").alias("max_occurrences"),
        F.expr("CAST(s1 AS BIGINT)").alias("total_occurrences"),
        F.expr(
            "CAST(floor(1000.0"
            " * (CAST(n AS DOUBLE) * n * s3"
            "    - 3.0 * n * s1 * s2 + 2.0 * s1 * s1 * s1)"
            " / (CAST(n AS DOUBLE)"
            "    * ((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
            "       / n)"
            "    * sqrt((CAST(n AS DOUBLE) * s2"
            "            - CAST(s1 AS DOUBLE) * s1) / n))"
            " ) AS BIGINT)"
        ).alias("skew_milli"),
    )
    return release_on_gc(e, out)


# ---------------------------------------------------------------------------
# embedding_twonn_intrinsic_dim — TwoNN intrinsic dimension estimate
# ---------------------------------------------------------------------------


@register(
    "embedding_twonn_intrinsic_dim",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            v -> CAST(floor(v * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    qs AS (SELECT vec_id AS qid, q AS qq FROM e WHERE vec_id < 100),
    d2 AS (
      SELECT qs.qid, e.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> (qs.qq[i] - e.q[i]) * (qs.qq[i] - e.q[i])))
                  AS BIGINT) AS dd
      FROM qs JOIN e ON e.vec_id <> qs.qid
    ),
    nn AS (
      SELECT qid, dd,
             row_number() OVER (PARTITION BY qid ORDER BY dd, nid) AS rn
      FROM d2
    ),
    pairs AS (
      SELECT a.qid, a.dd AS d1, b.dd AS d2
      FROM nn a JOIN nn b ON a.qid = b.qid AND a.rn = 1 AND b.rn = 2
      WHERE a.dd > 0
    ),
    mu AS (
      SELECT qid,
             CAST(floor(500000.0 * ln(CAST(d2 AS DOUBLE) / d1)) AS BIGINT)
               AS mu_micro
      FROM pairs
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(mu_micro) AS BIGINT) AS sum_mu_micro,
           CAST((1000000000 * count(*)) // greatest(sum(mu_micro), 1)
                AS BIGINT) AS intrinsic_dim_milli
    FROM mu
    """,
    doc="TwoNN intrinsic-dimension estimate (Facco et al.) of the "
    "embedding manifold over the 100-query panel: mu_i = ln(r2/r1) "
    "per point (half the log ratio of SQUARED distances, computed "
    "from exact integer milli-quantized L2 with deterministic "
    "(distance, id) neighbor ties), and the MLE d = n / sum(mu) — "
    "the number that says whether 64 ambient dimensions hide a "
    "~10-dimensional manifold, which decides how aggressively "
    "Matryoshka truncation (embedding_truncation_fidelity) and "
    "PQ/IVF compression can cut dimensions before recall collapses; "
    "the geometric companion to embedding_hubness_skew (hubness "
    "RISES with intrinsic dimension). Zero-distance duplicates are "
    "excluded (mu undefined); per-point mu floor-quantizes to micro "
    "and the final estimate is one integer division. Bounded-panel "
    "scoring join + one qid-partitioned rank window. The panel scan "
    "is N-linear by construction; at corpus scale the named swap is "
    "the sign-LSH / IVF candidate generator already used by "
    "similarity_ann_lsh / similarity_ann_ivf (r1/r2 need only each "
    "query's two nearest, which bucketed candidates preserve).",
)
def embedding_twonn_intrinsic_dim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
            " * 1000) AS BIGINT))"
        ).alias("q"),
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    e = e.persist()
    qs = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq")
    )
    d2 = qs.join(e, F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.expr(
            "aggregate(zip_with(qq, q, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (a, v) -> a + v)"
        ).alias("dd"),
    )
    nn = d2.select(
        "qid",
        "dd",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy("dd", "nid"))
        .alias("rn"),
    )
    a = nn.filter((F.col("rn") == 1) & (F.col("dd") > 0)).select(
        "qid", F.col("dd").alias("d1")
    )
    b = nn.filter(F.col("rn") == 2).select(
        F.col("qid").alias("qid2"), F.col("dd").alias("d2")
    )
    mu = a.join(b, F.col("qid") == F.col("qid2")).select(
        F.floor(
            F.lit(500000.0)
            * F.log(F.col("d2").cast("double") / F.col("d1"))
        )
        .cast("bigint")
        .alias("mu_micro")
    )
    out = mu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("mu_micro").cast("bigint").alias("sum_mu_micro"),
        F.expr(
            "CAST((1000000000 * count(*))"
            " div greatest(sum(mu_micro), 1) AS BIGINT)"
        ).alias("intrinsic_dim_milli"),
    )
    return release_on_gc(e, out)


# ---------------------------------------------------------------------------
# embedding_cosine_concentration — pairwise-angle concentration probe
# ---------------------------------------------------------------------------


@register(
    "embedding_cosine_concentration",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            v -> CAST(floor(v * 1000) AS BIGINT)) AS q
      FROM embeddings WHERE vec_id < 100
    ),
    pr AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             CAST(list_sum(list_transform(range(1, 65),
                  d -> a.q[d] * b.q[d])) AS BIGINT) AS dot,
             CAST(list_sum(list_transform(range(1, 65),
                  d -> a.q[d] * a.q[d])) AS BIGINT) AS a2,
             CAST(list_sum(list_transform(range(1, 65),
                  d -> b.q[d] * b.q[d])) AS BIGINT) AS b2
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ),
    c AS (
      SELECT CAST(floor(1000000.0 * dot
                  / (sqrt(CAST(a2 AS DOUBLE))
                     * sqrt(CAST(b2 AS DOUBLE)))) AS BIGINT) AS cos_ppm
      FROM pr WHERE a2 > 0 AND b2 > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(cos_ppm) // count(*) AS BIGINT) AS mean_cos_ppm,
           CAST(min(cos_ppm) AS BIGINT) AS min_cos_ppm,
           CAST(max(cos_ppm) AS BIGINT) AS max_cos_ppm,
           CAST((count(*) * sum(CAST(cos_ppm AS HUGEINT) * cos_ppm)
                 - CAST(sum(cos_ppm) AS HUGEINT) * sum(cos_ppm))
                // (CAST(count(*) AS HUGEINT) * (count(*) - 1) * 1000000)
                AS BIGINT) AS var_cos_micro
    FROM c
    """,
    doc="Pairwise-cosine concentration over the 100-vector panel: mean, "
    "range and variance of all C(100,2) quantized cosines — the "
    "concentration-of-measure probe (in high ambient dimension with "
    "little structure, cosines concentrate tightly around their "
    "mean, starving ranking signals) that explains WHY "
    "embedding_hubness_skew and embedding_twonn_intrinsic_dim read "
    "what they read; together the three are the pre-flight geometry "
    "audit before committing a corpus to ANN indexing. Each cosine "
    "is one fixed-shape floor-quantized double over exact integer "
    "dot products; the moments over quantized ppm integers are "
    "exact. Bounded 100x100 panel self-join (by design); no "
    "windows.",
)
def embedding_cosine_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    e = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
            " * 1000) AS BIGINT))"
        ).alias("q"),
    )
    a = e.select(F.col("vec_id").alias("i"), F.col("q").alias("qa"))
    b = e.select(F.col("vec_id").alias("j"), F.col("q").alias("qb"))
    pr = a.join(b, F.col("i") < F.col("j")).select(
        F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dot"),
        F.expr(
            "aggregate(transform(qa, x -> x * x),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("a2"),
        F.expr(
            "aggregate(transform(qb, x -> x * x),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("b2"),
    )
    c = pr.filter((F.col("a2") > 0) & (F.col("b2") > 0)).select(
        F.expr(
            "CAST(floor(1000000.0 * dot / (sqrt(CAST(a2 AS DOUBLE))"
            " * sqrt(CAST(b2 AS DOUBLE)))) AS BIGINT)"
        ).alias("cos_ppm")
    )
    return c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("CAST(sum(cos_ppm) div count(*) AS BIGINT)").alias(
            "mean_cos_ppm"
        ),
        F.min("cos_ppm").cast("bigint").alias("min_cos_ppm"),
        F.max("cos_ppm").cast("bigint").alias("max_cos_ppm"),
        F.expr(
            "CAST((count(*) * sum(CAST(cos_ppm AS DECIMAL(38,0))"
            " * cos_ppm) - CAST(sum(cos_ppm) AS DECIMAL(38,0))"
            " * sum(cos_ppm))"
            " div (CAST(count(*) AS DECIMAL(38,0)) * (count(*) - 1)"
            " * 1000000) AS BIGINT)"
        ).alias("var_cos_micro"),
    )


# ---------------------------------------------------------------------------
# embedding cluster-validity suite — shared deci-milli quantization
# ---------------------------------------------------------------------------

_QV = (
    "transform(embedding, x ->"
    " CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"
)
_QV_SQL = (
    "list_transform(embedding, x ->"
    " CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"
)


@register(
    "embedding_participation_ratio",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_QV_SQL} AS qv FROM embeddings
    ),
    tr AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(list_sum(list_transform(qv, x -> x * x)))
                  AS HUGEINT) AS tr
      FROM q
    ),
    m AS (
      SELECT i, j,
             CAST(sum(qv[CAST(i AS INT) + 1]
                      * qv[CAST(j AS INT) + 1]) AS HUGEINT) AS mij
      FROM q, range(64) t1(i), range(64) t2(j)
      WHERE j >= i GROUP BY 1, 2
    ),
    fro AS (
      SELECT CAST(sum(CASE WHEN i = j THEN mij * mij
                      ELSE 2 * mij * mij END) AS HUGEINT) AS fro2
      FROM m
    )
    SELECT t.n AS n_vectors,
           CAST(64 AS BIGINT) AS dim,
           CAST(t.tr AS BIGINT) AS trace_m,
           CAST((1000000 * t.tr * t.tr) // greatest(f.fro2, 1) AS BIGINT)
             AS participation_ratio_micro
    FROM tr t, fro f
    """,
    doc="Participation ratio (effective dimensionality) of the embedding "
    "corpus: PR = (tr M)^2 / ||M||_F^2 for the uncentered second-moment "
    "matrix M = sum_x q q^T — equal to (sum lambda)^2 / sum lambda^2 "
    "over M's eigenvalues WITHOUT any eigendecomposition (Frobenius "
    "norm = sum of squared entries), the anisotropy-collapse diagnostic "
    "beside embedding_twonn_intrinsic_dim (geometric) and embedding_"
    "pca_power_iteration (top component only). Embeddings are floor-"
    "quantized once to deci-milli integers, so trace and M are exact; "
    "the d^2-sized upper triangle (symmetry-weighted x2) aggregates "
    "from an n*d^2 flatten here — at 100 TB you'd swap the flatten for "
    "a d^2-state outer-product partial aggregate, same result. PR in "
    "micro units, 1 <= PR <= d.",
)
def embedding_participation_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", F.expr(_QV).alias("qv")
    )
    tr = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "aggregate(transform(qv, x -> x * x),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            )
        )
        .cast("decimal(38,0)")
        .alias("tr"),
    )
    e1 = e.select(
        "qv", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i")
    )
    e2 = e1.select(
        "qv", "i", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("j")
    ).filter(F.col("j") >= F.col("i"))
    m = e2.select(
        "i",
        "j",
        (
            F.element_at("qv", F.col("i").cast("int") + 1)
            * F.element_at("qv", F.col("j").cast("int") + 1)
        ).alias("p"),
    ).groupBy("i", "j").agg(F.sum("p").cast("decimal(38,0)").alias("mij"))
    fro = m.agg(
        F.sum(
            F.when(
                F.col("i") == F.col("j"), F.col("mij") * F.col("mij")
            ).otherwise(2 * F.col("mij") * F.col("mij"))
        ).alias("fro2")
    )
    return tr.crossJoin(F.broadcast(fro)).select(
        F.col("n").alias("n_vectors"),
        F.lit(64).cast("bigint").alias("dim"),
        F.col("tr").cast("bigint").alias("trace_m"),
        F.expr(
            "CAST((1000000 * tr * tr) div greatest(fro2, 1) AS BIGINT)"
        ).alias("participation_ratio_micro"),
    )


@register(
    "embedding_calinski_harabasz",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_QV_SQL} AS qv FROM embeddings
    ),
    cl AS (
      SELECT label, CAST(count(*) AS HUGEINT) AS nc,
             CAST(sum(list_sum(list_transform(qv, x -> x * x)))
                  AS HUGEINT) AS tc
      FROM q GROUP BY 1
    ),
    s AS (
      SELECT label, i,
             CAST(sum(qv[CAST(i AS INT) + 1]) AS HUGEINT) AS scd
      FROM q, range(64) t(i) GROUP BY 1, 2
    ),
    g AS (
      SELECT i, CAST(sum(scd) AS HUGEINT) AS gd FROM s GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(nc) AS HUGEINT) AS n,
             CAST(count(*) AS HUGEINT) AS k
      FROM cl
    ),
    ssw AS (
      SELECT CAST(sum((1000 * (c.nc * c.tc - s2.sumsq)) // c.nc)
                  AS HUGEINT) AS ssw_milli
      FROM cl c JOIN (
        SELECT label, CAST(sum(scd * scd) AS HUGEINT) AS sumsq
        FROM s GROUP BY 1
      ) s2 ON s2.label = c.label
    ),
    ssb AS (
      SELECT CAST(sum(ssb_c) AS HUGEINT) AS ssb_milli FROM (
        SELECT s.label,
               (1000 * sum((t.n * s.scd - c.nc * g.gd)
                           * (t.n * s.scd - c.nc * g.gd)))
                 // (c.nc * t.n * t.n) AS ssb_c
        FROM s JOIN g ON g.i = s.i
               JOIN cl c ON c.label = s.label, tot t
        GROUP BY s.label, c.nc, t.n
      )
    )
    SELECT CAST(t.n AS BIGINT) AS n_vectors,
           CAST(t.k AS BIGINT) AS n_clusters,
           CAST(w.ssw_milli AS BIGINT) AS ssw_milli,
           CAST(b.ssb_milli AS BIGINT) AS ssb_milli,
           CAST((1000000 * (t.n - t.k) * b.ssb_milli)
                // greatest((t.k - 1) * w.ssw_milli, 1) AS BIGINT)
             AS ch_micro
    FROM tot t, ssw w, ssb b
    """,
    doc="Calinski-Harabasz (variance-ratio) cluster validity of the "
    "labeled embedding corpus: CH = (SSB/(k-1)) / (SSW/(N-k)) — the "
    "between/within variance trade-off that scores how separable the "
    "label structure is in embedding space (the global companion to "
    "the per-point embedding_simplified_silhouette). Over deci-milli "
    "quantized integer vectors: SSW_c = T_c - ||S_c||^2/n_c and "
    "SSB_c = sum_d (N S_cd - n_c G_d)^2 / (n_c N^2) are each floor-"
    "quantized to milli units per cluster (cleared integer numerators, "
    "documented seam) then summed exactly; CH emitted in micro units. "
    "One n*d flatten to (label, dim) sums — d^2-free, the same shuffle "
    "shape as embedding_centroids.",
)
def embedding_calinski_harabasz(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "label", F.expr(_QV).alias("qv")
    )
    cl = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nc"),
        F.sum(
            F.expr(
                "aggregate(transform(qv, x -> x * x),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            )
        )
        .cast("decimal(38,0)")
        .alias("tc"),
    )
    s = (
        e.select(
            "label",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
            "qv",
        )
        .select(
            "label",
            "i",
            F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
        )
        .groupBy("label", "i")
        .agg(F.sum("x").cast("decimal(38,0)").alias("scd"))
    )
    g = s.groupBy("i").agg(F.sum("scd").alias("gd"))
    tot = cl.agg(
        F.sum("nc").alias("n"), F.count(F.lit(1)).cast("decimal(38,0)").alias("k")
    )
    s2 = s.groupBy("label").agg(
        F.sum(F.col("scd") * F.col("scd")).alias("sumsq")
    )
    ssw = (
        cl.join(s2, "label")
        .select(
            F.expr("(1000 * (nc * tc - sumsq)) div nc").alias("w_c")
        )
        .agg(F.sum("w_c").cast("decimal(38,0)").alias("ssw_milli"))
    )
    ssb = (
        s.join(F.broadcast(g), "i")
        .join(F.broadcast(cl.select("label", "nc")), "label")
        .crossJoin(F.broadcast(tot))
        .groupBy("label", "nc", "n")
        .agg(
            F.sum(
                (F.col("n") * F.col("scd") - F.col("nc") * F.col("gd"))
                * (F.col("n") * F.col("scd") - F.col("nc") * F.col("gd"))
            ).alias("num")
        )
        .select(
            F.expr("(1000 * num) div (nc * n * n)").alias("b_c")
        )
        .agg(F.sum("b_c").cast("decimal(38,0)").alias("ssb_milli"))
    )
    return (
        tot.crossJoin(F.broadcast(ssw))
        .crossJoin(F.broadcast(ssb))
        .select(
            F.col("n").cast("bigint").alias("n_vectors"),
            F.col("k").cast("bigint").alias("n_clusters"),
            F.col("ssw_milli").cast("bigint").alias("ssw_milli"),
            F.col("ssb_milli").cast("bigint").alias("ssb_milli"),
            F.expr(
                "CAST((1000000 * (n - k) * ssb_milli)"
                " div greatest((k - 1) * ssw_milli, 1) AS BIGINT)"
            ).alias("ch_micro"),
        )
    )


@register(
    "embedding_simplified_silhouette",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_QV_SQL} AS qv FROM embeddings
    ),
    cent AS (
      SELECT label AS c, i,
             CAST(sum(qv[CAST(i AS INT) + 1]) AS HUGEINT) AS scd,
             CAST(max(nc) AS HUGEINT) AS nc
      FROM (SELECT label, qv, count(*) OVER (PARTITION BY label) AS nc
            FROM q), range(64) t(i)
      GROUP BY 1, 2
    ),
    d2 AS (
      SELECT p.vec_id, p.label, c.c,
             (1000000 * sum((c.nc * p.qv[CAST(c.i AS INT) + 1] - c.scd)
                            * (c.nc * p.qv[CAST(c.i AS INT) + 1] - c.scd)))
               // (max(c.nc) * max(c.nc)) AS dmic
      FROM q p JOIN cent c ON true
      GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT vec_id, label,
             max(CASE WHEN c = label THEN dmic END) AS a,
             min(CASE WHEN c <> label THEN dmic END) AS b
      FROM d2 GROUP BY 1, 2
    ),
    s AS (
      SELECT label,
             CASE WHEN b >= a
                  THEN (1000 * (b - a)) // greatest(b, 1)
                  ELSE -((1000 * (a - b)) // greatest(a, 1)) END AS sil
      FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(sil) AS BIGINT) AS silhouette_milli_sum,
           CAST(sum(CASE WHEN sil > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive
    FROM s GROUP BY 1 ORDER BY 1
    """,
    doc="Simplified (centroid-based) silhouette per label over deci-milli "
    "quantized embeddings: a = squared distance to the OWN centroid, "
    "b = min squared distance to any OTHER centroid, s = (b - a)/"
    "max(a, b) — the per-point assignment-quality score whose corpus "
    "mean validates a labeling the global embedding_calinski_harabasz "
    "ratio can average away (the simplified variant replaces all-pairs "
    "a/b with centroid distances: O(n k d), the only form that scales). "
    "Centroid distances clear to ||n_c q - S_c||^2 / n_c^2 and are "
    "floor-quantized to micro units per (point, centroid) cell "
    "(documented seam); s is milli sign-split per point and summed "
    "exactly. The 640-row centroid-dim relation broadcasts; one n*k*d "
    "flatten, no all-pairs anything.",
)
def embedding_simplified_silhouette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", "label", F.expr(_QV).alias("qv")
    )
    nc = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nc")
    )
    cent = (
        e.join(F.broadcast(nc), "label")
        .select(
            F.col("label").alias("c"),
            "nc",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
            "qv",
        )
        .select(
            "c",
            "nc",
            "i",
            F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
        )
        .groupBy("c", "i")
        .agg(
            F.sum("x").cast("decimal(38,0)").alias("scd"),
            F.max("nc").alias("nc"),
        )
    )
    p = e.select(
        "vec_id",
        "label",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
        "qv",
    ).select(
        "vec_id",
        "label",
        "i",
        F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
    )
    d2 = (
        p.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "c")
        .agg(
            F.sum(
                (F.col("nc") * F.col("x") - F.col("scd"))
                * (F.col("nc") * F.col("x") - F.col("scd"))
            ).alias("num"),
            F.max("nc").alias("nc"),
        )
        .select(
            "vec_id",
            "label",
            "c",
            F.expr("(1000000 * num) div (nc * nc)").alias("dmic"),
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c") == F.col("label"), F.col("dmic"))).alias(
            "a"
        ),
        F.min(F.when(F.col("c") != F.col("label"), F.col("dmic"))).alias(
            "b"
        ),
    )
    s = ab.select(
        "label",
        F.expr(
            "CASE WHEN b >= a THEN (1000 * (b - a)) div greatest(b, 1)"
            " ELSE -((1000 * (a - b)) div greatest(a, 1)) END"
        ).alias("sil"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("sil").cast("bigint").alias("silhouette_milli_sum"),
            F.sum(F.when(F.col("sil") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
        )
        .orderBy("label")
    )


@register(
    "embedding_dunn_index",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_QV_SQL} AS qv FROM embeddings
    ),
    cent AS (
      SELECT label AS c, i,
             CAST(sum(qv[CAST(i AS INT) + 1]) AS HUGEINT) AS scd,
             CAST(max(nc) AS HUGEINT) AS nc
      FROM (SELECT label, qv, count(*) OVER (PARTITION BY label) AS nc
            FROM q), range(64) t(i)
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT (1000000 * sum((a.nc * b.scd - b.nc * a.scd)
                            * (a.nc * b.scd - b.nc * a.scd)))
               // (max(a.nc) * max(a.nc) * max(b.nc) * max(b.nc)) AS d2
      FROM cent a JOIN cent b ON b.i = a.i AND b.c > a.c
      GROUP BY a.c, b.c
    ),
    imin AS (SELECT min(d2) AS min_inter FROM pairs),
    ownd AS (
      SELECT (1000000 * sum((c.nc * p.qv[CAST(c.i AS INT) + 1] - c.scd)
                            * (c.nc * p.qv[CAST(c.i AS INT) + 1]
                               - c.scd)))
               // (max(c.nc) * max(c.nc)) AS d2
      FROM q p JOIN cent c ON c.c = p.label
      GROUP BY p.vec_id
    ),
    omax AS (SELECT max(d2) AS max_intra FROM ownd)
    SELECT CAST(i.min_inter AS BIGINT) AS min_intercentroid_micro,
           CAST(o.max_intra AS BIGINT) AS max_intracentroid_micro,
           CAST((1000 * i.min_inter)
                // greatest(o.max_intra, 1) AS BIGINT) AS dunn_milli
    FROM imin i, omax o
    """,
    doc="Dunn-type separation index (centroid linkage) of the labeled "
    "embedding corpus: min inter-centroid squared distance over max "
    "point-to-own-centroid squared distance — small Dunn flags clusters "
    "that overlap or sprawl, the worst-case complement to the averaged "
    "embedding_simplified_silhouette (one bad pair tanks Dunn but "
    "barely moves the mean silhouette). Centroid-pair distances clear "
    "to ||n_c' S_c - n_c S_c'||^2 / (n_c^2 n_c'^2) over the SAME "
    "deci-milli quantized integers as the rest of the validity suite, "
    "floor-quantized to micro per pair (45 bounded pairs); the intra "
    "radius reuses the silhouette's own-centroid distances. Squared-"
    "distance ratio (monotone in the classic sqrt form), milli output.",
)
def embedding_dunn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", "label", F.expr(_QV).alias("qv")
    )
    nc = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nc")
    )
    cent = (
        e.join(F.broadcast(nc), "label")
        .select(
            F.col("label").alias("c"),
            "nc",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
            "qv",
        )
        .select(
            "c",
            "nc",
            "i",
            F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
        )
        .groupBy("c", "i")
        .agg(
            F.sum("x").cast("decimal(38,0)").alias("scd"),
            F.max("nc").alias("nc"),
        )
    )
    a = cent.select(
        F.col("c").alias("ca"), "i", F.col("scd").alias("sa"),
        F.col("nc").alias("na"),
    )
    b = cent.select(
        F.col("c").alias("cb"), F.col("i").alias("ib"),
        F.col("scd").alias("sb"), F.col("nc").alias("nb"),
    )
    inter = (
        a.join(
            F.broadcast(b),
            (F.col("ib") == F.col("i")) & (F.col("cb") > F.col("ca")),
        )
        .groupBy("ca", "cb")
        .agg(
            F.sum(
                (F.col("na") * F.col("sb") - F.col("nb") * F.col("sa"))
                * (F.col("na") * F.col("sb") - F.col("nb") * F.col("sa"))
            ).alias("num"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .select(
            F.expr("(1000000 * num) div (na * na * nb * nb)").alias("d2")
        )
        .agg(F.min("d2").alias("min_inter"))
    )
    p = e.select(
        "vec_id",
        "label",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
        "qv",
    ).select(
        "vec_id",
        "label",
        "i",
        F.element_at("qv", F.col("i").cast("int") + 1).alias("x"),
    )
    own = (
        p.join(
            F.broadcast(cent),
            (cent.c == p.label) & (cent.i == p.i),
        )
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("nc") * F.col("x") - F.col("scd"))
                * (F.col("nc") * F.col("x") - F.col("scd"))
            ).alias("num"),
            F.max("nc").alias("nc"),
        )
        .select(F.expr("(1000000 * num) div (nc * nc)").alias("d2"))
        .agg(F.max("d2").alias("max_intra"))
    )
    return inter.crossJoin(F.broadcast(own)).select(
        F.col("min_inter").cast("bigint").alias("min_intercentroid_micro"),
        F.col("max_intra").cast("bigint").alias("max_intracentroid_micro"),
        F.expr(
            "CAST((1000 * min_inter) div greatest(max_intra, 1)"
            " AS BIGINT)"
        ).alias("dunn_milli"),
    )
