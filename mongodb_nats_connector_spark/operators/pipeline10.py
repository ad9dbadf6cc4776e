"""Round-9 additions: rank-correlation via bounded-grid dominance counting
(Kendall tau-b), Kneser-Ney-smoothed bigram language modeling, MMR diverse
top-k retrieval re-ranking, and a Boruvka minimum spanning tree.

Reference provenance: like pipeline7-9, none of these exist in the
reference's Go core (internal/server/connector.go) — they extend the
engine-side analytics surface a consumer of the connector's published change
streams runs downstream (SURVEY.md §2.3/§2.4).

REGISTRATION ORDER: this module must import LAST in ``registry._load_all()``
(after pipeline9) so its brand-new queries rank behind every already-pending
rank-0 query — a full driver verification window spills past them instead of
displacing edited queries awaiting re-proof.

Cross-engine determinism rules (same discipline as pipeline7-9):
- integer counts end-to-end until one final scalar expression written with
  identical association on both engines (IEEE +,-,*,/ and sqrt are
  correctly rounded, so identical operand order => identical bits; exp/ln
  and round()-of-float are the operations that diverge and are avoided on
  the hash surface);
- sums whose products can exceed 2^63 accumulate as DECIMAL(38,0) in Spark
  and HUGEINT in DuckDB (both exact);
- cosine similarities round to 6 digits at the comparison anchor (the
  proven docs_knn_classify recipe); everything derived from those anchors
  is plain IEEE arithmetic, never re-rounded in Python (Python's round is
  half-to-even, SQL's is half-away — re-rounding driver-side would
  diverge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import double_sum as _dsum
from mongodb_nats_connector_spark.plans.caching import (
    persist_until_collected,
    release_on_gc,
)
from mongodb_nats_connector_spark.plans.hints import maybe_broadcast
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# ---------------------------------------------------------------------------
# agg_kendall_tau — Kendall tau-b via dominance counts on the bounded grid
# ---------------------------------------------------------------------------


@register(
    "agg_kendall_tau",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice / 1000) AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY x, y
    ),
    xs AS (SELECT DISTINCT x FROM cells),
    ys AS (SELECT DISTINCT y FROM cells),
    grid AS (
      SELECT xs.x, ys.y, coalesce(c.c, 0) AS c
      FROM xs CROSS JOIN ys LEFT JOIN cells c ON c.x = xs.x AND c.y = ys.y
    ),
    coln AS (SELECT x, CAST(sum(c) AS BIGINT) AS nx FROM grid GROUP BY x),
    g2 AS (
      SELECT g.x, g.y, g.c, n.nx,
             CAST(coalesce(sum(g.c) OVER (
               PARTITION BY g.x ORDER BY g.y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cys,
             CAST(sum(g.c) OVER (
               PARTITION BY g.x ORDER BY g.y
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cyi
      FROM grid g JOIN coln n ON n.x = g.x
    ),
    g3 AS (
      SELECT x, y, c,
             CAST(coalesce(sum(cys) OVER wx, 0) AS BIGINT) AS p,
             CAST(coalesce(sum(nx - cyi) OVER wx, 0) AS BIGINT) AS q
      FROM g2
      WINDOW wx AS (PARTITION BY y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    s AS (
      SELECT CAST(sum(CAST(c AS HUGEINT) * p) AS DOUBLE) AS cc,
             CAST(sum(CAST(c AS HUGEINT) * q) AS DOUBLE) AS dd
      FROM g3
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
    t1 AS (
      SELECT CAST(sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS DOUBLE) / 2.0
               AS tx
      FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY x)
    ),
    t2 AS (
      SELECT CAST(sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS DOUBLE) / 2.0
               AS ty
      FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY y)
    )
    SELECT m.n, s.cc AS concordant, s.dd AS discordant,
           (s.cc - s.dd)
             / (sqrt(CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - t1.tx)
                * sqrt(CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - t2.ty))
             AS kendall_tau_b
    FROM m, s, t1, t2
    WHERE m.n > 1
      AND CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - t1.tx > 0
      AND CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - t2.ty > 0
    """,
    doc="Kendall tau-b rank correlation between quantity and price (in "
    "1000-unit buckets) with full tie correction — the concordance "
    "complement to agg_spearman_corr (tau weights each PAIR equally; rho "
    "weights rank displacement). The naive statistic is an O(n^2) pair "
    "scan; here both marginals are value-DOMAIN-bounded (~50 quantities x "
    "~110 price buckets), so concordant/discordant pairs come from exact "
    "2-D dominance counts on the dense domain grid: per-column strict "
    "y-prefix counts (window PARTITIONED by x), then strict x-prefix sums "
    "of those (window PARTITIONED by y) — every window is partitioned and "
    "every relation after the first map-combined cell count is grid-sized, "
    "independent of row count. Each concordant pair is counted exactly "
    "once at its dominating cell (strictly-both-greater), each discordant "
    "pair once at its (x-greater, y-smaller) cell. Products accumulate in "
    "DECIMAL(38,0)/HUGEINT (c*P reaches n^2); tau-b itself is one final "
    "IEEE expression (sqrt is correctly rounded, so identical operand "
    "order is bit-identical cross-engine — no round() on the hash "
    "surface).",
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") / 1000).cast("bigint").alias("y"),
    )
    # r14: the fact is touched ONCE — by this map-combined cell count —
    # and everything downstream (grid, marginals, n, tie terms) derives
    # from the persisted ~50x110 cell relation. The pre-r14 shape cached
    # the N-row (x, y) projection and re-scanned it four times (cells, n,
    # x-ties, y-ties): four N-proportional cache passes per execution,
    # the sf1 watch item behind the 0.41 single-run exponent. n and the
    # tie counts are integer sums over cells (sum(c), sum over per-x /
    # per-y sums of c) — exact regrouping of the same counts, bit-equal.
    cells = b.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    xs = cells.select("x").distinct()
    ys = cells.select("y").distinct()
    grid = (
        xs.crossJoin(F.broadcast(ys))  # bounded domain grid (~50 x ~110)
        .join(cells, ["x", "y"], "left")
        .select("x", "y", F.coalesce("c", F.lit(0)).alias("c"))
    )
    coln = grid.groupBy("x").agg(F.sum("c").cast("bigint").alias("nx"))
    wy_s = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wy_i = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    g2 = grid.join(maybe_broadcast(coln), "x").select(
        "x",
        "y",
        "c",
        "nx",
        F.coalesce(F.sum("c").over(wy_s), F.lit(0)).cast("bigint").alias("cys"),
        F.sum("c").over(wy_i).cast("bigint").alias("cyi"),
    )
    wx = Window.partitionBy("y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    g3 = g2.select(
        "x",
        "y",
        "c",
        F.coalesce(F.sum("cys").over(wx), F.lit(0)).cast("bigint").alias("p"),
        F.coalesce(F.sum(F.col("nx") - F.col("cyi")).over(wx), F.lit(0))
        .cast("bigint")
        .alias("q"),
    )
    s = g3.agg(
        _dsum(F.col("c") * F.col("p")).alias("cc"),
        _dsum(F.col("c") * F.col("q")).alias("dd"),
    )
    # n + both tie terms from ONE cube over the cached cells (gid 1 =
    # per-x marginal, 2 = per-y, 3 = grand total): the pre-r14 shape ran
    # them as three separate scalar subplans — three serial
    # broadcast-build jobs per execution. Identical integer sums
    # regrouped (sum(c) per x == count per x of the fact), so the
    # scalars feeding the final IEEE expression are bit-equal.
    gs = cells.cube("x", "y").agg(
        F.sum("c").cast("bigint").alias("cnt"),
        F.grouping_id().alias("gid"),
    )
    tie = F.col("cnt") * (F.col("cnt") - 1)
    m = gs.agg(
        F.sum(F.when(F.col("gid") == 3, F.col("cnt")))
        .cast("bigint")
        .alias("n"),
        (_dsum(F.when(F.col("gid") == 1, tie)) / 2.0).alias("tx"),
        (_dsum(F.when(F.col("gid") == 2, tie)) / 2.0).alias("ty"),
    )
    n0 = F.col("n").cast("double") * (F.col("n") - 1) / 2.0
    out = (
        m.crossJoin(F.broadcast(s))
        .filter(
            (F.col("n") > 1)
            & (n0 - F.col("tx") > 0)
            & (n0 - F.col("ty") > 0)
        )
        .select(
            "n",
            F.col("cc").alias("concordant"),
            F.col("dd").alias("discordant"),
            (
                (F.col("cc") - F.col("dd"))
                / (
                    F.sqrt(n0 - F.col("tx"))
                    * F.sqrt(n0 - F.col("ty"))
                )
            ).alias("kendall_tau_b"),
        )
    )
    return persist_until_collected(cells, out)


# ---------------------------------------------------------------------------
# text_kneser_ney_bigram — interpolated Kneser-Ney smoothed bigram LM
# ---------------------------------------------------------------------------

KN_D = 0.75  # absolute discount (exact in binary: 3/4)
KN_TOPK = 30


@register(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    inst AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(range(1, len(t))) u(i)
      WHERE len(t) >= 2
    ),
    bg AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
      FROM inst GROUP BY w1, w2
    ),
    lft AS (
      SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS nl
      FROM bg GROUP BY w1
    ),
    rgt AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS nr FROM bg GROUP BY w2
    ),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM bg)
    SELECT b.w1, b.w2, b.c2,
           (b.c2 * 1.0) / l.c1 AS mle_prob,
           (b.c2 - {KN_D!r}) / l.c1
             + (({KN_D!r} * l.nl) / l.c1) * ((r.nr * 1.0) / tt.tot)
             AS kn_prob
    FROM bg b JOIN lft l ON l.w1 = b.w1 JOIN rgt r ON r.w2 = b.w2
    CROSS JOIN tt
    ORDER BY b.c2 DESC, b.w1, b.w2
    LIMIT {KN_TOPK}
    """,
    doc=f"Interpolated Kneser-Ney bigram language model (absolute discount "
    f"D={KN_D}) over the documents corpus — the smoothing that upgrades "
    "bigram_lm_surprisal's MLE: P(w2|w1) = (c(w1,w2)-D)/c(w1.) + "
    "(D*N1+(w1,.)/c(w1.)) * N1+(.,w2)/|bigram types| — the continuation "
    "probability ranks words by how many CONTEXTS they follow, not raw "
    "frequency (the classic 'San Francisco' correction). All model "
    "statistics are exact integer counts reduced map-side at vocabulary "
    "size; the probability is one final IEEE expression written with "
    "identical association on both engines (D=0.75 is exact in binary; "
    "+,*,/ are correctly rounded, so no round() is needed on the hash "
    f"surface). Top-{KN_TOPK} bigrams ship via TakeOrderedAndProject "
    "(per-partition heads merged on the driver, never a global sort). At "
    "trillion-token scale every relation here is model-sized, not "
    "corpus-sized, and the scoring join against instance streams is the "
    "same broadcast-or-copartitioned choice as bigram_lm_surprisal.",
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    docs = table(spark, sf_dir, "documents", parallel=True)
    toks = F.split("text", " ")
    inst = (
        docs.select(
            F.explode(
                # adjacent pairs via zip_with over two shifted slices —
                # same pairs, same order, ~8x cheaper than the former
                # sequence+element_at transform
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                )
            ).alias("p")
        )
        .filter(F.size(toks) >= 2)
        .select("p.w1", "p.w2")
    )
    bg = inst.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    # r15 (VERDICT r14 item 3): the KN statistics the TOP-K rows need are
    # BOUNDED once the top-k set is known — c1/nl for <= KN_TOPK contexts,
    # nr for <= KN_TOPK continuations, one type total — so the former
    # lft/rgt/tt groupBy+broadcast-join chain (two vocabulary-sized
    # shuffles plus three serial broadcast-build jobs per execution)
    # collapses to two bounded collects over the ONE persisted
    # corpus-proportional rollup: the top-k rows themselves (via
    # TakeOrderedAndProject — per-partition heads, never a global sort)
    # and a single 1-row map-combined conditional aggregation. The
    # probability expressions are replayed on the driver in exact IEEE
    # doubles, operation for operation (ints < 2^53 convert exactly;
    # D=0.75 is exact in binary; +,-,*,/ are correctly rounded — same
    # bits as the former Spark column expressions).
    bg.persist()
    top = (
        bg.orderBy(F.col("c2").desc(), "w1", "w2").limit(KN_TOPK).collect()
    )
    schema = T.StructType(
        [
            T.StructField("w1", T.StringType(), True),
            T.StructField("w2", T.StringType(), True),
            T.StructField("c2", T.LongType(), True),
            T.StructField("mle_prob", T.DoubleType(), True),
            T.StructField("kn_prob", T.DoubleType(), True),
        ]
    )
    if not top:
        bg.unpersist()
        return spark.createDataFrame([], schema)
    w1s = sorted({r["w1"] for r in top})
    w2s = sorted({r["w2"] for r in top})
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_tot")]
    for i, k in enumerate(w1s):
        m = F.col("w1") == F.lit(k)
        aggs.append(
            F.sum(F.when(m, F.col("c2")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"_c1_{i}")
        )
        aggs.append(
            F.sum(F.when(m, F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"_nl_{i}")
        )
    for i, k in enumerate(w2s):
        aggs.append(
            F.sum(F.when(F.col("w2") == F.lit(k), F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"_nr_{i}")
        )
    srow = bg.agg(*aggs).collect()[0]
    bg.unpersist()
    tot = float(srow["_tot"])
    c1 = {k: float(srow[f"_c1_{i}"]) for i, k in enumerate(w1s)}
    nl = {k: float(srow[f"_nl_{i}"]) for i, k in enumerate(w1s)}
    nr = {k: float(srow[f"_nr_{i}"]) for i, k in enumerate(w2s)}
    out_rows = []
    for r in top:  # already in (c2 DESC, w1, w2) order from Spark's sort
        c2f = float(r["c2"])
        mle = (c2f * 1.0) / c1[r["w1"]]
        kn = (c2f - KN_D) / c1[r["w1"]] + ((KN_D * nl[r["w1"]]) / c1[r["w1"]]) * (
            (nr[r["w2"]] * 1.0) / tot
        )
        out_rows.append((r["w1"], r["w2"], r["c2"], mle, kn))
    return spark.createDataFrame(out_rows, schema)


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
# graph_mst_boruvka — minimum spanning tree of the nation trade graph
# ---------------------------------------------------------------------------

MST_MAX_NODES = 25  # nation dimension: fixed 25 at every TPC-H scale
_MST_PRIM_STEPS = "".join(
    f""",
    e{i} AS MATERIALIZED (
      SELECT u.a, u.b, u.w FROM uw u
      WHERE (u.a IN (SELECT node FROM v{i - 1}))
            <> (u.b IN (SELECT node FROM v{i - 1}))
      ORDER BY u.w, u.a, u.b LIMIT 1
    ),
    v{i} AS MATERIALIZED (
      SELECT node FROM v{i - 1}
      UNION
      SELECT CASE WHEN e{i}.a IN (SELECT node FROM v{i - 1})
                  THEN e{i}.b ELSE e{i}.a END AS node
      FROM e{i}
    )"""
    for i in range(1, MST_MAX_NODES)
)
_MST_UNION = "\n      UNION ALL ".join(
    f"SELECT a, b, w FROM e{i}" for i in range(1, MST_MAX_NODES)
)


@register(
    "graph_mst_boruvka",
    oracle=f"""
    WITH dir_edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2
    ),
    uw AS MATERIALIZED (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             CAST(sum(cnt) AS BIGINT) AS w
      FROM dir_edges GROUP BY 1, 2
    ),
    v0 AS MATERIALIZED (SELECT min(a) AS node FROM uw){_MST_PRIM_STEPS}
    SELECT a, b, w FROM ({_MST_UNION})
    """,
    doc="Minimum spanning tree of the undirected nation trade graph "
    "(weight = lineitem volume; the MST is the cheapest backbone / "
    "single-linkage dendrogram of the trade network). Spark side runs "
    "BORUVKA — each round every component selects its minimum outgoing "
    "edge under the TOTAL order (w, a, b) and components merge, so the "
    "number of rounds is log2(V). The undirected edge relation is "
    "nation-bounded (<= 300 rows at any fact size), so it is collected "
    "once after the single corpus-proportional aggregation and all "
    "rounds run as exact Python integers on the driver (the "
    "pagerank_nations discipline; at web-graph scale the per-component "
    "argmin returns as a min(struct) aggregation and the merge as the "
    "shuffle-only large-star/small-star relabeling already proven in "
    "graph_cc_bigstar). The oracle runs PRIM unrolled over the fixed "
    "25-nation dimension instead: under a total tie-breaking edge order "
    "the MST is UNIQUE (the infinitesimal-perturbation argument), so "
    "Boruvka and Prim provably return the identical edge set — the "
    "cross-algorithm agreement IS the correctness check. Requires a "
    "connected graph (holds at every test SF; 25 nodes, 195+ edges).",
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )

    de = trade_edges(spark, sf_dir)
    uw = (
        de.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    # The undirected edge relation is nation-dimension-bounded (<= 300
    # rows at any fact size — a driver scalar), so after the single
    # corpus-proportional aggregation it is collected ONCE and every
    # Boruvka round runs in exact Python integer arithmetic on the
    # driver (the pagerank_nations discipline): per live component the
    # minimum cross edge under the identical lexicographic (w, a, b)
    # struct order, then the same union-find merge. The chosen-edge SET
    # per round is merge-order-independent (the only possible cycle
    # among per-component minima under a total order is two components
    # picking the SAME edge, which the find() guard deduplicates), so
    # the result is bit-identical to the former per-round Spark argmin
    # jobs (up to 8 rounds x groupBy-collect over the persisted edges).
    import pandas as pd
    from pyspark.sql import types as T

    uw_rows = [(r["a"], r["b"], r["w"]) for r in uw.collect()]
    nodes = sorted({n for a, b, _ in uw_rows for n in (a, b)})
    comp = {n: n for n in nodes}

    def find(x: int) -> int:
        while comp[x] != x:
            comp[x] = comp[comp[x]]
            x = comp[x]
        return x

    mst_keys: set[int] = set()
    for _ in range(8):  # Boruvka terminates in ceil(log2(V)) rounds
        best: dict = {}
        for a, b, w in uw_rows:
            ca, cb = find(a), find(b)
            if ca == cb:
                continue
            e = (w, a, b)
            for c in (ca, cb):
                if c not in best or e < best[c]:
                    best[c] = e
        if not best:
            break
        for w, a, b in best.values():
            ra, rb = find(a), find(b)
            if ra != rb:
                comp[ra] = rb
                mst_keys.add(a * 100 + b)
    out_rows = sorted(
        (a, b, w) for a, b, w in uw_rows if a * 100 + b in mst_keys
    )
    key_t = uw.schema["a"].dataType
    schema = T.StructType(
        [
            T.StructField("a", key_t, True),
            T.StructField("b", key_t, True),
            T.StructField("w", T.LongType(), True),
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame(out_rows, columns=["a", "b", "w"]), schema=schema
    )


# ---------------------------------------------------------------------------
# agg_theil_sen — robust trend slope via the median of pairwise slopes
# ---------------------------------------------------------------------------


@register(
    "agg_theil_sen",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT rev_c,
             CAST(date_diff('day', DATE '1992-01-01', day) AS BIGINT) AS t
      FROM d
    ),
    pairs AS (
      SELECT CAST(round((b.rev_c - a.rev_c) * 1000.0 / (b.t - a.t))
                  AS BIGINT) AS slope_mc
      FROM idx a JOIN idx b ON b.t > a.t
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(round(quantile_cont(slope_mc, 0.5) * 2) AS BIGINT)
               AS slope_mc_x2
      FROM pairs
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
    SELECT nd.n_days, m.n_pairs, m.slope_mc_x2,
           CAST(m.slope_mc_x2 AS DOUBLE) / CAST(200000 AS DOUBLE)
             AS theil_sen_slope
    FROM nd, m
    WHERE nd.n_days > 1
    """,
    doc="Theil-Sen robust trend estimator over the daily revenue series: "
    "the median of all pairwise slopes — up to ~29% contamination cannot "
    "move it, unlike the OLS trend every dashboard defaults to. Slopes "
    "quantize to integer MILLI-CENTS/DAY before the median, and the "
    "doubled median comes from exact ORDER-STATISTIC SELECTION: "
    "quantile*2 of integers is v_(k1) + v_(k2) for ranks (n+1) div 2 "
    "and (n+2) div 2, exact on both engines even at even counts. The "
    "day series is CALENDAR-bounded (<= days rows at any fact size), "
    "so after the one map-combined day rollup it is collected and the "
    "selection runs on the driver (the agg_hodges_lehmann discipline): "
    "numpy replays Spark's slope expression with the identical IEEE "
    "ops and HALF_UP round semantics, then np.partition picks the two "
    "covering values — bit-identical to materializing all days^2/2 "
    "pair slopes, which is what the plan formerly did (NLJ expansion + "
    "value-group shuffle + two-pass prefix count; Spark's exact "
    "percentile() aggregate before that funneled every slope through "
    "one reducer). n_pairs = C(n_days, 2) by construction. The "
    "reported slope is ONE IEEE division (/2 for the doubling, /1000 "
    "for milli, /100 for cents — fused to /200000, dollars/day) on "
    "engine-side literals.",
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    # The day series is CALENDAR-bounded (<= days rows at any fact size
    # — a driver scalar; the former pair NLJ was days^2 by the same
    # bound), so it is collected ONCE after the single
    # corpus-proportional rollup and the exact median-of-pairwise-slopes
    # selection runs on the driver (the agg_hodges_lehmann discipline):
    # per-day numpy-vectorized slope rows replicate Spark's expression
    # bit-for-bit — (rb - ra) * 1000.0 and the divide are the identical
    # IEEE ops, and round() is reproduced as half-away-from-zero on the
    # binary value, which equals Spark's BigDecimal(HALF_UP on the
    # shortest-repr decimal) for all |x| < 2^51 because a double's
    # shortest repr ends in .5 iff the double IS exactly m + 0.5 (any
    # other double has a different shortest repr, and ordering against
    # the exactly-representable m + 0.5 is preserved by parsing) — then
    # np.partition selects the two covering order statistics:
    # slope_mc_x2 = v_(k1) + v_(k2) for k1 = (n+1) div 2,
    # k2 = (n+2) div 2 == round(2*quantile_cont) on integers. Formerly
    # the plan expanded all days^2/2 pairs through an NLJ, shuffled the
    # nearly-all-distinct value groups, and ran the two-pass
    # range-partitioned prefix-count selection over them (and before
    # that, a single-reducer percentile() value map) — ~3M-row
    # exchanges at TPC-H's 7-year calendar, ~26M at two decades, whose
    # only purpose was two order statistics of a bounded series.
    import numpy as np
    from pyspark.sql import types as T

    rows = d.select(
        F.date_diff(F.col("day"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("t"),
        "rev_c",
    ).collect()
    n = len(rows)
    if n <= 1:
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("n_days", T.LongType(), True),
                    T.StructField("n_pairs", T.LongType(), True),
                    T.StructField("slope_mc_x2", T.LongType(), True),
                    T.StructField("theil_sen_slope", T.DoubleType(), True),
                ]
            ),
        )
    order = sorted(range(n), key=lambda i: rows[i]["t"])
    ts = np.array([rows[i]["t"] for i in order], dtype=np.int64)
    rs = np.array([rows[i]["rev_c"] for i in order], dtype=np.int64)
    n_pairs = n * (n - 1) // 2
    vals = np.empty(n_pairs, dtype=np.int64)
    pos = 0
    for i in range(n - 1):
        q = (rs[i + 1:] - rs[i]) * 1000.0 / (ts[i + 1:] - ts[i])
        a = np.abs(q)
        fl = np.floor(a)
        r_ = fl + (a - fl >= 0.5)
        m = i + 1
        vals[pos : pos + n - m] = (np.sign(q) * r_).astype(np.int64)
        pos += n - m
    k1, k2 = (n_pairs + 1) // 2, (n_pairs + 2) // 2
    part = np.partition(vals, [k1 - 1, k2 - 1])
    slope_mc_x2 = int(part[k1 - 1]) + int(part[k2 - 1])
    # the single final display division stays an engine-side IEEE op on
    # the identical integers (literal inputs), exactly as before
    return spark.range(1).select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.lit(n_pairs).cast("bigint").alias("n_pairs"),
        F.lit(slope_mc_x2).cast("bigint").alias("slope_mc_x2"),
        (
            F.lit(slope_mc_x2).cast("bigint").cast("double")
            / F.lit(200000).cast("double")
        ).alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# agg_cramers_v — Cramér's V association between event type and weekday
# ---------------------------------------------------------------------------


@register(
    "agg_cramers_v",
    oracle="""
    WITH e AS (
      SELECT event_type AS x,
             (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS y
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    obs AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2
    ),
    mx AS (SELECT x, CAST(sum(n) AS BIGINT) AS nx FROM obs GROUP BY 1),
    my AS (SELECT y, CAST(sum(n) AS BIGINT) AS ny FROM obs GROUP BY 1),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(count(DISTINCT x) AS BIGINT) AS r,
             CAST(count(DISTINCT y) AS BIGINT) AS c
      FROM obs
    ),
    terms AS (
      SELECT CAST(round(1000000000.0
               * (o.n - mx.nx * (my.ny * 1.0 / tot.nn))
               * (o.n - mx.nx * (my.ny * 1.0 / tot.nn))
               / (mx.nx * (my.ny * 1.0 / tot.nn))) AS BIGINT) AS t_nn,
             tot.nn, tot.r, tot.c
      FROM obs o JOIN mx ON mx.x = o.x JOIN my ON my.y = o.y CROSS JOIN tot
    )
    SELECT CAST(min(nn) AS BIGINT) AS n_obs,
           CAST(min(r) AS BIGINT) AS n_rows,
           CAST(min(c) AS BIGINT) AS n_cols,
           CAST(sum(t_nn) AS BIGINT) AS chi2_nn,
           sqrt(CAST(sum(t_nn) AS DOUBLE) / 1000000000.0
                / (min(nn) * least(min(r) - 1, min(c) - 1)))
             AS cramers_v
    FROM terms
    WHERE nn > 0 AND r > 1 AND c > 1
    GROUP BY ()
    """,
    doc="Cramér's V — the [0,1]-normalized effect size chi-square lacks — "
    "between event type and weekday (epoch-day mod 7, locale-proof; the "
    "same axes as agg_mutual_information, giving the family both an "
    "information-theoretic and a chi-square-based dependence readout). "
    "Per-cell chi-square terms quantize to integer nano-units BEFORE the "
    "cell sum (the proven agg_median_test discipline — summation order "
    "cannot move a bit), and V itself is IEEE division + correctly-"
    "rounded sqrt over exact integers. One fact-sized map-combined "
    "shuffle to the ~35-cell joint histogram; everything after is "
    "cell-relation-sized. Degenerate single-row/column tables emit zero "
    "rows on both engines.",
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    e = ev.select(
        F.col("event_type").alias("x"),
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            % 7
        ).alias("y"),
    )
    obs = e.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    mx = obs.groupBy("x").agg(F.sum("n").cast("bigint").alias("nx"))
    my = obs.groupBy("y").agg(F.sum("n").cast("bigint").alias("ny"))
    tot = obs.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count_distinct("x").cast("bigint").alias("r"),
        F.count_distinct("y").cast("bigint").alias("c"),
    )
    expect = F.col("nx") * (F.col("ny") * 1.0 / F.col("nn"))
    t_nn = F.round(
        1000000000.0
        * (F.col("n") - expect)
        * (F.col("n") - expect)
        / expect
    ).cast("bigint")
    terms = (
        obs.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(t_nn.alias("t_nn"), "nn", "r", "c")
    )
    return persist_until_collected(obs, (
        terms.filter((F.col("nn") > 0) & (F.col("r") > 1) & (F.col("c") > 1))
        .agg(
            F.min("nn").cast("bigint").alias("n_obs"),
            F.min("r").cast("bigint").alias("n_rows"),
            F.min("c").cast("bigint").alias("n_cols"),
            F.sum("t_nn").cast("bigint").alias("chi2_nn"),
            F.sqrt(
                F.sum("t_nn").cast("double")
                / 1000000000.0
                / (
                    F.min("nn")
                    * F.least(F.min("r") - 1, F.min("c") - 1)
                )
            ).alias("cramers_v"),
        )
    ))


# ---------------------------------------------------------------------------
# agg_info_gain_split — decision-tree split scoring over the quantity domain
# ---------------------------------------------------------------------------


@register(
    "agg_info_gain_split",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
               AS pos
      FROM lineitem
    ),
    cells AS (
      SELECT q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS p
      FROM b GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(p) AS BIGINT) AS pp
      FROM cells
    ),
    pre AS (
      SELECT q,
             CAST(sum(n) OVER w AS BIGINT) AS nl,
             CAST(sum(p) OVER w AS BIGINT) AS pl
      FROM cells
      WINDOW w AS (ORDER BY q ROWS UNBOUNDED PRECEDING)
    ),
    ent AS (
      SELECT pre.q, pre.nl, pre.pl, tot.nn, tot.pp,
             tot.nn - pre.nl AS nr, tot.pp - pre.pl AS pr
      FROM pre CROSS JOIN tot WHERE pre.nl < tot.nn
    ),
    scored AS (
      SELECT q, nl, nr,
             CAST(round(1000000000.0 * (
               (CASE WHEN pp IN (0, nn) THEN 0.0
                     ELSE 0.0 - (pp * 1.0 / nn) * ln(pp * 1.0 / nn)
                          - ((nn - pp) * 1.0 / nn) * ln((nn - pp) * 1.0 / nn)
                END)
               - (nl * 1.0 / nn) * (CASE WHEN pl IN (0, nl) THEN 0.0
                     ELSE 0.0 - (pl * 1.0 / nl) * ln(pl * 1.0 / nl)
                          - ((nl - pl) * 1.0 / nl) * ln((nl - pl) * 1.0 / nl)
                END)
               - (nr * 1.0 / nn) * (CASE WHEN pr IN (0, nr) THEN 0.0
                     ELSE 0.0 - (pr * 1.0 / nr) * ln(pr * 1.0 / nr)
                          - ((nr - pr) * 1.0 / nr) * ln((nr - pr) * 1.0 / nr)
                END))) AS BIGINT) AS gain_nn
      FROM ent
    )
    SELECT q AS split_at, nl AS n_left, nr AS n_right, gain_nn,
           CAST(gain_nn AS DOUBLE) / CAST(1000000000 AS DOUBLE)
             AS info_gain_nats
    FROM scored
    """,
    doc="Decision-tree split scoring: information gain of every candidate "
    "threshold 'quantity <= q' for predicting returns — the inner loop of "
    "tree/GBDT training (XGBoost/LightGBM histogram-based split finding "
    "is exactly this shape). The fact table compacts to the ~50-value "
    "quantity DOMAIN histogram in one map-combined shuffle; candidate "
    "thresholds are prefix sums over that bounded relation (the "
    "histogram trick — no per-row sorting, no data-proportional window), "
    "so the plan is identical at any fact size. Entropy terms quantize "
    "to integer nano-nats per threshold (the agg_mutual_information ln "
    "discipline), degenerate pure nodes short-circuit to 0.0 exactly on "
    "both engines, and the reported gain is one IEEE division.",
)
def agg_info_gain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round("l_quantity").cast("bigint").alias("q"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("pos"),
    )
    cells = b.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("p").cast("bigint").alias("pp"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    pre = cells.select(
        "q",
        F.sum("n").over(w).cast("bigint").alias("nl"),
        F.sum("p").over(w).cast("bigint").alias("pl"),
    )
    ent = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("nl") < F.col("nn"))
        .select(
            "q",
            "nl",
            "pl",
            "nn",
            "pp",
            (F.col("nn") - F.col("nl")).alias("nr"),
            (F.col("pp") - F.col("pl")).alias("pr"),
        )
    )

    def _h(p, n):  # binary entropy of p positives among n, exact-0 guarded
        frac = F.col(p) * 1.0 / F.col(n)
        return F.when(
            F.col(p).isin(0) | (F.col(p) == F.col(n)), F.lit(0.0)
        ).otherwise(0.0 - frac * F.log(frac) - (1 - frac) * F.log(1 - frac))

    gain = (
        _h("pp", "nn")
        - (F.col("nl") * 1.0 / F.col("nn")) * _h("pl", "nl")
        - (F.col("nr") * 1.0 / F.col("nn")) * _h("pr", "nr")
    )
    gain_nn = F.round(1000000000.0 * gain).cast("bigint")
    return ent.select(
        F.col("q").alias("split_at"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        gain_nn.alias("gain_nn"),
        (gain_nn.cast("double") / F.lit(1000000000).cast("double")).alias(
            "info_gain_nats"
        ),
    )


# ---------------------------------------------------------------------------
# events_markov_stationary — stationary distribution via fixed-point power
# iteration over the event-type transition matrix
# ---------------------------------------------------------------------------

MARKOV_ITERS = 3
_PPB = 1_000_000_000


def _markov_oracle() -> str:
    steps = []
    for i in range(1, MARKOV_ITERS + 1):
        prev = f"pi{i - 1}"
        steps.append(f"""
    pi{i} AS MATERIALIZED (
      SELECT t.dst AS state,
             CAST(sum((p.w * t.p_ppb) // {_PPB}) AS BIGINT) AS w
      FROM {prev} p JOIN tmat t ON t.src = p.state
      GROUP BY t.dst
    )""")
    return f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ),
    seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM e
    ),
    cnt AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    rowt AS (SELECT src, CAST(sum(c) AS BIGINT) AS rt FROM cnt GROUP BY 1),
    tmat AS MATERIALIZED (
      SELECT c.src, c.dst, (c.c * {_PPB}) // r.rt AS p_ppb
      FROM cnt c JOIN rowt r ON r.src = c.src
    ),
    states AS MATERIALIZED (SELECT DISTINCT src AS state FROM tmat),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
    pi0 AS MATERIALIZED (
      SELECT state, CAST({_PPB} // ns.k AS BIGINT) AS w FROM states, ns
    ),{",".join(steps)}
    SELECT s.state,
           coalesce(p.w, 0) AS stationary_ppb,
           CAST(coalesce(p.w, 0) AS DOUBLE) / CAST({_PPB} AS DOUBLE)
             AS stationary_prob
    FROM states s LEFT JOIN pi{MARKOV_ITERS} p ON p.state = s.state
    """


@register(
    "events_markov_stationary",
    oracle=_markov_oracle(),
    doc=f"Stationary distribution of the per-user event-type Markov chain "
    f"via {MARKOV_ITERS} synchronous power-iteration rounds — where the "
    "user journey settles in the long run, completing the Markov family "
    "(events_user_transitions builds the matrix, events_entropy_rate "
    "scores its information): the long-run occupancy is what staffing / "
    "capacity / exposure models consume. All iteration arithmetic is "
    "BIGINT fixed-point parts-per-billion with integer floor-division "
    "(the pagerank_nations discipline: partial sums commute exactly, so "
    "any engine/partitioning produces identical bits; the oracle unrolls "
    "the same integer recurrence as chained CTEs). Transition counts are "
    "one per-user lead window + one map-combined shuffle; the matrix is "
    "bounded by the event-type domain squared (~25 rows at any corpus "
    "size), so it is collected once and the iteration rounds run as the "
    "identical exact-integer recurrence on the driver.",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(wseq).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = seq.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rowt = cnt.groupBy("src").agg(F.sum("c").cast("bigint").alias("rt"))
    tmat = cnt.join(maybe_broadcast(rowt), "src").select(
        "src",
        "dst",
        # `div` (exact BIGINT division, the pagerank_nations discipline) —
        # float division + cast would lose bits past 2^53
        F.expr(f"(c * {_PPB}) div rt").cast("bigint").alias("p_ppb"),
    )
    # The transition matrix is bounded by the event-type domain squared
    # (~25 rows at any corpus size), so after the one corpus-proportional
    # aggregation above it is collected ONCE and all power-iteration
    # rounds run in exact Python integer arithmetic on the driver (the
    # pagerank_nations discipline: arbitrary-precision ints, `//` on
    # non-negatives == SQL `div`, integer partial sums commute — every
    # weight is bit-identical to the per-round join formulation the
    # oracle unrolls). Formerly each execution replayed MARKOV_ITERS
    # state-sized joins inside the plan plus the matrix persist.
    tmat_rows = [
        (r["src"], r["dst"], r["p_ppb"]) for r in tmat.collect()
    ]
    states = sorted({s for s, _, _ in tmat_rows})
    k = len(states)
    if not states:
        return spark.range(0).select(
            F.lit(None).cast("string").alias("state"),
            F.lit(None).cast("bigint").alias("stationary_ppb"),
            F.lit(None).cast("double").alias("stationary_prob"),
        )
    pi = {s: _PPB // k for s in states}
    for _ in range(MARKOV_ITERS):
        nxt: dict = {}
        for src, dst, p_ppb in tmat_rows:
            w = pi.get(src)
            if w is not None:
                nxt[dst] = nxt.get(dst, 0) + (w * p_ppb) // _PPB
        pi = nxt
    structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("state"),
                F.lit(int(pi.get(s, 0))).cast("bigint").alias(
                    "stationary_ppb"
                ),
            )
            for s in states
        ]
    )
    return (
        spark.range(1)
        .select(F.explode(structs).alias("r"))
        .select(
            "r.state",
            F.col("r.stationary_ppb").alias("stationary_ppb"),
            (
                F.col("r.stationary_ppb").cast("double")
                / F.lit(_PPB).cast("double")
            ).alias("stationary_prob"),
        )
    )


# ---------------------------------------------------------------------------
# agg_ljung_box — portmanteau whiteness test over the daily revenue series
# ---------------------------------------------------------------------------

LB_MAX_LAG = 7
_LB_CHI2_CRIT_5PCT = 14.067140449340169  # chi-square 0.95 quantile, df=7


@register(
    "agg_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT rev_c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM daily
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev_c) AS BIGINT) AS s
      FROM idx
    ),
    ss AS (
      SELECT CAST(sum(CAST(i.rev_c * t.n - t.s AS HUGEINT)
                      * CAST(i.rev_c * t.n - t.s AS HUGEINT)) AS DOUBLE)
               AS ss2
      FROM idx i CROSS JOIN tot t
    ),
    lags AS (SELECT unnest(range(1, {LB_MAX_LAG + 1})) AS lag),
    cov AS (
      SELECT l.lag,
             CAST(sum(CAST(i1.rev_c * t.n - t.s AS HUGEINT)
                      * CAST(i2.rev_c * t.n - t.s AS HUGEINT)) AS DOUBLE)
               AS c2
      FROM lags l
      JOIN idx i1 ON true
      JOIN idx i2 ON i2.rn = i1.rn + l.lag
      CROSS JOIN tot t
      GROUP BY l.lag
    ),
    terms AS (
      SELECT CAST(round(1000000000.0 * (cov.c2 / ss.ss2) * (cov.c2 / ss.ss2)
                        / (t.n - cov.lag)) AS BIGINT) AS t_nn
      FROM cov CROSS JOIN ss CROSS JOIN tot t
    ),
    q AS (
      SELECT CAST(sum(t_nn) AS BIGINT) AS q_nn FROM terms
    )
    SELECT t.n AS n_days, CAST({LB_MAX_LAG} AS BIGINT) AS max_lag,
           q.q_nn,
           t.n * (t.n + 2) * (CAST(q.q_nn AS DOUBLE)
                              / CAST(1000000000 AS DOUBLE)) AS q_stat,
           t.n * (t.n + 2) * (CAST(q.q_nn AS DOUBLE)
                              / CAST(1000000000 AS DOUBLE))
             > {_LB_CHI2_CRIT_5PCT!r} AS reject_whiteness_5pct
    FROM q CROSS JOIN tot t
    WHERE t.n > {LB_MAX_LAG + 1}
    """,
    doc=f"Ljung-Box portmanteau test (lags 1..{LB_MAX_LAG}) for whiteness "
    "of the daily revenue series — the one-number autocorrelation "
    "verdict a forecaster checks RESIDUALS with (agg_autocorrelation "
    "shows the per-lag picture; Q aggregates it against a chi-square "
    "bar). Deviations are kept exact by n-scaling (n*x - S is an exact "
    "integer — no float mean subtraction), covariance/variance products "
    "accumulate in HUGEINT/DECIMAL(38,0), each lag's r_k^2/(n-k) term "
    "quantizes to integer nano-units before the lag sum (summation order "
    "cannot move a bit), and the reported Q is one fixed-order IEEE "
    "expression. Lagged pairs ride ONE row-index self-join on the "
    "calendar-sized series; the fact table contributes a single "
    "map-combined rollup.",
)
def agg_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    idx = daily.select(
        "rev_c",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("rn"),
    )
    idx = idx.persist()  # consumed by tot/ss/cov; released on result GC
    tot = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev_c").cast("bigint").alias("s"),
    )
    dev = (F.col("rev_c") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    ss = (
        idx.crossJoin(F.broadcast(tot))
        .agg(F.sum(dev * dev).cast("double").alias("ss2"))
    )
    lags = spark.range(1, LB_MAX_LAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    i1 = idx.select(F.col("rev_c").alias("x1"), F.col("rn").alias("rn1"))
    i2 = idx.select(F.col("rev_c").alias("x2"), F.col("rn").alias("rn2"))
    d1 = (F.col("x1") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    d2 = (F.col("x2") * F.col("n") - F.col("s")).cast("decimal(38,0)")
    cov = (
        i1.crossJoin(F.broadcast(lags))
        .join(i2, F.col("rn2") == F.col("rn1") + F.col("lag"))
        .crossJoin(F.broadcast(tot))
        .groupBy("lag")
        .agg(F.sum(d1 * d2).cast("double").alias("c2"))
    )
    r = F.col("c2") / F.col("ss2")
    terms = (
        cov.crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(1000000000.0 * r * r / (F.col("n") - F.col("lag")))
            .cast("bigint")
            .alias("t_nn")
        )
    )
    q = terms.agg(F.sum("t_nn").cast("bigint").alias("q_nn"))
    qd = F.col("q_nn").cast("double") / F.lit(1000000000).cast("double")
    out = (
        q.crossJoin(F.broadcast(tot))
        .filter(F.col("n") > LB_MAX_LAG + 1)
        .select(
            F.col("n").alias("n_days"),
            F.lit(LB_MAX_LAG).cast("bigint").alias("max_lag"),
            "q_nn",
            (F.col("n") * (F.col("n") + 2) * qd).alias("q_stat"),
            (
                F.col("n") * (F.col("n") + 2) * qd
                > F.lit(_LB_CHI2_CRIT_5PCT)
            ).alias("reject_whiteness_5pct"),
        )
    )
    return release_on_gc(idx, out)


# ---------------------------------------------------------------------------
# orders_seasonal_decompose — classical additive decomposition of monthly
# revenue (2x12 centered moving-average trend, centered seasonal indices)
# ---------------------------------------------------------------------------


@register(
    "orders_seasonal_decompose",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    tr AS (
      SELECT month, rev_c,
             CASE WHEN count(*) OVER w13 = 13
                  THEN 2 * sum(rev_c) OVER w13
                       - first_value(rev_c) OVER w13
                       - last_value(rev_c) OVER w13
             END AS trend24_c
      FROM monthly
      WINDOW w13 AS (ORDER BY month
                     ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
    ),
    si AS (
      SELECT CAST(month(month) AS BIGINT) AS moy,
             CAST(sum(24 * rev_c - trend24_c) AS BIGINT) AS dsum24,
             CAST(count(*) AS BIGINT) AS cnt
      FROM tr WHERE trend24_c IS NOT NULL GROUP BY 1
    ),
    su AS (
      SELECT moy,
             CAST(round(1000000.0 * dsum24 / (24.0 * cnt)) AS BIGINT) AS s_u
      FROM si
    ),
    ctr AS (
      SELECT CAST(sum(s_u) AS BIGINT) AS su_tot,
             CAST(count(*) AS BIGINT) AS n_moy
      FROM su
    )
    SELECT tr.month, round(tr.rev_c / 100.0, 2) AS revenue,
           CAST(tr.trend24_c AS DOUBLE) / CAST(2400 AS DOUBLE) AS trend,
           (CAST(su.s_u AS DOUBLE)
            - CAST(ctr.su_tot AS DOUBLE) / CAST(ctr.n_moy AS DOUBLE))
             / CAST(100000000 AS DOUBLE) AS seasonal,
           CASE WHEN tr.trend24_c IS NOT NULL THEN
             round(tr.rev_c / 100.0, 2)
             - CAST(tr.trend24_c AS DOUBLE) / CAST(2400 AS DOUBLE)
             - (CAST(su.s_u AS DOUBLE)
                - CAST(ctr.su_tot AS DOUBLE) / CAST(ctr.n_moy AS DOUBLE))
               / CAST(100000000 AS DOUBLE)
           END AS residual
    FROM tr
    JOIN su ON su.moy = CAST(month(tr.month) AS BIGINT)
    CROSS JOIN ctr
    """,
    doc="Classical additive seasonal decomposition of monthly revenue: "
    "trend = centered 2x12 moving average, seasonal = mean detrended "
    "value per calendar month re-centered to sum to zero, residual = the "
    "rest — the decomposition every seasonal-adjustment and "
    "anomaly-on-deseasonalized-data pipeline starts from (STL's simpler, "
    "exactly-reproducible ancestor). Exactness discipline: the 13-month "
    "window computes 24x the trend as a pure INTEGER combination "
    "(2*sum - first - last over exact cents), detrended values stay "
    "integer (24*rev - trend24), per-month indices quantize to integer "
    "micro-units, and every reported double is a fixed-order IEEE "
    "expression over those integers — no engine-divergent rounding "
    "anywhere on the hash surface. All windows run over the "
    "month-count-sized series (bounded by the calendar); the fact table "
    "contributes one map-combined rollup.",
)
def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    w13 = Window.orderBy("month").rowsBetween(-6, 6)
    tr = monthly.select(
        "month",
        "rev_c",
        F.when(
            F.count(F.lit(1)).over(w13) == 13,
            2 * F.sum("rev_c").over(w13)
            - F.first("rev_c").over(w13)
            - F.last("rev_c").over(w13),
        ).alias("trend24_c"),
    )
    tr = tr.persist()  # consumed by the index agg AND the output join
    si = (
        tr.filter(F.col("trend24_c").isNotNull())
        .groupBy(F.month("month").cast("bigint").alias("moy"))
        .agg(
            F.sum(24 * F.col("rev_c") - F.col("trend24_c"))
            .cast("bigint")
            .alias("dsum24"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    su = si.select(
        "moy",
        F.round(1000000.0 * F.col("dsum24") / (24.0 * F.col("cnt")))
        .cast("bigint")
        .alias("s_u"),
    )
    ctr = su.agg(
        F.sum("s_u").cast("bigint").alias("su_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_moy"),
    )
    seasonal = (
        F.col("s_u").cast("double")
        - F.col("su_tot").cast("double") / F.col("n_moy").cast("double")
    ) / F.lit(100000000).cast("double")
    trend = F.col("trend24_c").cast("double") / F.lit(2400).cast("double")
    revenue = F.round(F.col("rev_c") / 100.0, 2)
    out = (
        tr.join(
            F.broadcast(su),
            F.month("month").cast("bigint") == F.col("moy"),
        )
        .crossJoin(F.broadcast(ctr))
        .select(
            "month",
            revenue.alias("revenue"),
            trend.alias("trend"),
            seasonal.alias("seasonal"),
            F.when(
                F.col("trend24_c").isNotNull(),
                revenue - trend - seasonal,
            ).alias("residual"),
        )
    )
    return release_on_gc(tr, out)


# ---------------------------------------------------------------------------
# graph_closeness_centrality — all-pairs shortest paths via min-plus rounds
# ---------------------------------------------------------------------------

CLOSENESS_ROUNDS = 5  # hop diameter <= 2^5 = 32 >= any 25-node graph


def _minplus_ctes() -> str:
    """Shared WITH-body: all-pairs hop distances of the undirected nation
    graph via unrolled min-plus doubling (the oracle twin of
    ``_minplus_distances``). Final relation: ``d{CLOSENESS_ROUNDS}``."""
    steps = []
    for i in range(1, CLOSENESS_ROUNDS + 1):
        prev = f"d{i - 1}"
        steps.append(f"""
    d{i} AS MATERIALIZED (
      SELECT src, dst, CAST(min(d) AS BIGINT) AS d FROM (
        SELECT src, dst, d FROM {prev}
        UNION ALL
        SELECT a.src, b.dst, a.d + b.d AS d
        FROM {prev} a JOIN {prev} b ON b.src = a.dst
      ) GROUP BY src, dst
    )""")
    return f"""
    WITH dir_edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2
    ),
    uw AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT least(src, dst) AS src, greatest(src, dst) AS dst
        FROM dir_edges
        UNION
        SELECT greatest(src, dst), least(src, dst) FROM dir_edges
      )
    ),
    d0 AS MATERIALIZED (
      SELECT src, dst, CAST(1 AS BIGINT) AS d FROM uw
    ),{",".join(steps)}"""


def _closeness_oracle() -> str:
    return f"""{_minplus_ctes()}
    SELECT src AS node,
           CAST(count(*) AS BIGINT) AS n_reachable,
           CAST(sum(d) AS BIGINT) AS total_dist,
           CAST(count(*) AS DOUBLE) / CAST(sum(d) AS DOUBLE) AS closeness
    FROM d{CLOSENESS_ROUNDS}
    WHERE src <> dst
    GROUP BY src
    """


def _minplus_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs hop distances (src, dst, d) over the undirected nation
    trade graph by min-plus doubling — CLOSENESS_ROUNDS fixed rounds of
    the exact integer recurrence d' = min(d, min_m d(s,m)+d(m,t)).
    Self-pairs are EXCLUDED from the result (the doubling manufactures
    src->src round trips).

    The distance relation is nation-dimension-squared-bounded (<= 625
    rows at TPC-H's 25 nations — a driver scalar), so after the single
    corpus-proportional aggregation (trade_edges) the edge pairs are
    collected ONCE and all doubling rounds run in exact Python integer
    arithmetic on the driver (the pagerank_nations discipline; formerly
    each round was a Spark self-join + min-groupBy + eager
    localCheckpoint job over the same <= 625 rows — 5 serial jobs whose
    only purpose was nation-bounded aggregates). Identical bits: the
    recurrence is min/+ over exact BIGINTs, replicated literally
    (including the intermediate src->src entries), and the result ships
    back as ONE Arrow batch."""
    import pandas as pd
    from pyspark.sql import types as T

    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )

    fwd = trade_edges(spark, sf_dir).select("src", "dst")
    d: dict = {}
    for r in fwd.collect():
        a, b = r["src"], r["dst"]
        if a != b:
            d[(a, b)] = 1
            d[(b, a)] = 1
    for _ in range(CLOSENESS_ROUNDS):
        by_src: dict = {}
        for (s2, t2), dd in d.items():
            by_src.setdefault(s2, []).append((t2, dd))
        new = dict(d)
        for (s, m), d1 in d.items():
            for t, d2 in by_src.get(m, ()):
                c = d1 + d2
                if c < new.get((s, t), c + 1):
                    new[(s, t)] = c
        d = new
    rows = sorted(
        (s, t, dd) for (s, t), dd in d.items() if s != t
    )
    key_t = fwd.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("src", key_t, True),
            T.StructField("dst", key_t, True),
            T.StructField("d", T.LongType(), True),
        ]
    )
    pdf = pd.DataFrame(rows, columns=["src", "dst", "d"])
    return spark.createDataFrame(pdf, schema=schema)


@register(
    "graph_closeness_centrality",
    oracle=_closeness_oracle(),
    doc="Closeness centrality (reachable-count / total-hop-distance, the "
    "harmonic-family variant that handles disconnection gracefully) for "
    "every nation in the trade graph, via repeated min-plus squaring of "
    f"the hop-distance relation — {CLOSENESS_ROUNDS} doubling rounds "
    "cover any diameter <= 32, so the iteration count is FIXED, not "
    "data-dependent (the oracle unrolls the identical rounds). Each "
    "round is one self-join + min-groupBy on the distance relation, "
    "which is bounded by the NATION-dimension squared (<= 625 rows) at "
    "any fact-table size; distances are exact BIGINTs and closeness is "
    "one IEEE division. Completes the graph family's centrality axis "
    "next to pagerank (flow), betweenness-adjacent widest-path "
    "(capacity), and degree assortativity (structure). At web scale the "
    "min-plus doubling swaps for the delta-stepping/BFS-frontier forms "
    "already registered (graph_bfs_levels).",
)
def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _minplus_distances(spark, sf_dir)
    return d.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reachable"),
        F.sum("d").cast("bigint").alias("total_dist"),
        (
            F.count(F.lit(1)).cast("double")
            / F.sum("d").cast("double")
        ).alias("closeness"),
    )


# ---------------------------------------------------------------------------
# graph_eccentricity_diameter — eccentricity per node, graph diameter/radius
# ---------------------------------------------------------------------------


def _eccentricity_oracle() -> str:
    return f"""{_minplus_ctes()},
    ecc AS MATERIALIZED (
      SELECT src AS node,
             CAST(count(*) AS BIGINT) AS n_reachable,
             CAST(max(d) AS BIGINT) AS eccentricity
      FROM d{CLOSENESS_ROUNDS} WHERE src <> dst GROUP BY src
    ),
    g AS (
      SELECT CAST(max(eccentricity) AS BIGINT) AS diameter,
             CAST(min(eccentricity) AS BIGINT) AS radius
      FROM ecc
    )
    SELECT e.node, e.n_reachable, e.eccentricity, g.diameter, g.radius,
           e.eccentricity = g.diameter AS is_peripheral,
           e.eccentricity = g.radius AS is_central
    FROM ecc e CROSS JOIN g
    """


@register(
    "graph_eccentricity_diameter",
    oracle=_eccentricity_oracle(),
    doc="Per-node eccentricity (worst-case hop distance) plus the graph "
    "diameter, radius, and peripheral/central flags — the worst-case "
    "companion to graph_closeness_centrality's average-case readout "
    "(capacity planning asks 'how far is the farthest', not 'how far on "
    "average'). Shares the exact min-plus doubling distance relation "
    "(one ~625-row nation-bounded fixpoint, fixed round count, oracle "
    "unrolled identically); eccentricity/diameter/radius are exact "
    "BIGINT max/min aggregates with a 1-row broadcast back — nothing "
    "float on the hash surface at all.",
)
def graph_eccentricity_diameter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _minplus_distances(spark, sf_dir)
    ecc = d.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reachable"),
        F.max("d").cast("bigint").alias("eccentricity"),
    )
    ecc = ecc.persist()  # nation-sized; feeds the 1-row extremes + output
    g = ecc.agg(
        F.max("eccentricity").cast("bigint").alias("diameter"),
        F.min("eccentricity").cast("bigint").alias("radius"),
    )
    out = ecc.crossJoin(F.broadcast(g)).select(
        "node",
        "n_reachable",
        "eccentricity",
        "diameter",
        "radius",
        (F.col("eccentricity") == F.col("diameter")).alias("is_peripheral"),
        (F.col("eccentricity") == F.col("radius")).alias("is_central"),
    )
    return release_on_gc(ecc, out)


# ---------------------------------------------------------------------------
# events_wilcoxon_signed_rank — nonparametric paired pre/post test
# ---------------------------------------------------------------------------


@register(
    "events_wilcoxon_signed_rank",
    oracle="""
    WITH b AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
      WHERE value IS NOT NULL
    ),
    cutoff AS (SELECT min(day) + 15 AS split FROM b),
    per_user AS (
      SELECT user_id,
             round(coalesce(sum(CASE WHEN day < split THEN value END), 0), 4)
               AS pre,
             round(coalesce(sum(CASE WHEN day >= split THEN value END), 0), 4)
               AS post
      FROM b, cutoff GROUP BY user_id
    ),
    d AS (
      SELECT CAST(round((post - pre) * 10000) AS BIGINT) AS d4
      FROM per_user
      WHERE CAST(round((post - pre) * 10000) AS BIGINT) <> 0
    ),
    g AS (
      SELECT abs(d4) AS ad,
             CAST(count(*) AS BIGINT) AS t,
             CAST(sum(CASE WHEN d4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT ad, t, tp,
             CAST(2 * sum(t) OVER (ORDER BY ad) - t + 1 AS BIGINT) AS mr2
      FROM g
    ),
    s AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(CAST(tp AS HUGEINT) * mr2) AS BIGINT) AS w2,
             CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS BIGINT) AS ties3
      FROM r
    )
    SELECT n AS n_nonzero, w2 AS w_plus_x2,
           CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE) AS w_plus,
           (CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE)
            - CAST(n AS DOUBLE) * (n + 1) / 4.0)
           / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                  - CAST(ties3 AS DOUBLE) / 48.0) AS z_stat
    FROM s
    WHERE n > 0
      AND CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
          - CAST(ties3 AS DOUBLE) / 48.0 > 0
    """,
    doc="Wilcoxon signed-rank test on the per-user pre/post metric (the "
    "same min(day)+15 split shared by CUPED/DiD/paired-t): the "
    "nonparametric complement to events_paired_ttest — rank-based, so a "
    "few whale users cannot dominate the verdict the way they dominate a "
    "mean-based t. Differences quantize to exact integer 1e-4 units, "
    "zero differences drop (standard practice), midranks of |d| come "
    "from cumulative counts over the DISTINCT-|difference| relation as "
    "exact doubled integers (the Mann-Whitney shape — no per-row rank "
    "materialization), the tie-corrected variance term sums t^3 - t in "
    "HUGEINT, and W+ plus its z statistic are fixed-order IEEE "
    "expressions over those integers (sqrt is correctly rounded). "
    "Degenerate inputs (no non-zero diffs, or all |d| equal making the "
    "variance 0) emit zero rows via exact-integer guards on both "
    "engines.",
)
def events_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mongodb_nats_connector_spark.operators.pipeline8 import (
        _valued_events_prepost,
    )

    per_user = (
        _valued_events_prepost(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("day") < F.col("split"), F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("pre"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("day") >= F.col("split"), F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("post"),
        )
    )
    d4 = F.round((F.col("post") - F.col("pre")) * 10000).cast("bigint")
    d = per_user.select(d4.alias("d4")).filter(F.col("d4") != 0)
    g = d.groupBy(F.abs(F.col("d4")).alias("ad")).agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum((F.col("d4") > 0).cast("int")).cast("bigint").alias("tp"),
    )
    wmr = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    r = g.select(
        "ad",
        "t",
        "tp",
        (2 * F.sum("t").over(wmr) - F.col("t") + 1)
        .cast("bigint")
        .alias("mr2"),
    )
    s = r.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("tp").cast("decimal(38,0)") * F.col("mr2"))
        .cast("bigint")
        .alias("w2"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("bigint")
        .alias("ties3"),
    )
    nd = F.col("n").cast("double")
    w_plus = F.col("w2").cast("double") / F.lit(2).cast("double")
    var = (
        nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24.0
        - F.col("ties3").cast("double") / 48.0
    )
    return s.filter((F.col("n") > 0) & (var > 0)).select(
        F.col("n").alias("n_nonzero"),
        F.col("w2").alias("w_plus_x2"),
        w_plus.alias("w_plus"),
        ((w_plus - nd * (F.col("n") + 1) / 4.0) / F.sqrt(var)).alias(
            "z_stat"
        ),
    )
