"""Round-9 operator family: retrieval ranking (BM25), closed-form
multi-feature OLS, distributional tests (Jarque-Bera, Brown-Forsythe),
Poisson-bootstrap confidence intervals, nonparametric changepoint (Pettitt),
Weibull reliability fits, information-theoretic dependence (mutual
information), newsvendor stocking fractiles, corpus dataset cards, 2x2 odds
ratios, forecast backtesting (MAPE), and standardized effect sizes.

Reference provenance: like pipeline7/pipeline8, none of these exist in the
reference's Go core (internal/server/connector.go) — they extend the
engine-side analytics surface a consumer of the connector's published change
streams runs downstream (SURVEY.md §2.3/§2.4).

REGISTRATION ORDER: this module must import LAST in ``registry._load_all()``
(after pipeline8) so its brand-new queries rank behind every already-pending
rank-0 query — a full driver verification window spills past them instead of
displacing edited queries awaiting re-proof.

Cross-engine determinism rules (same discipline as pipeline7/8):
- integer outputs wherever possible (cents, micros, counts, ranks, ppm);
- per-row float terms are scaled to integers (micro/nano units) BEFORE any
  cross-row sum, so aggregation order can never move a bit — the only
  doubles that flow between rows are exact integers;
- squared/power sums that could exceed 2^63 accumulate as DECIMAL(38,0) in
  Spark and HUGEINT in DuckDB (both exact), cast to DOUBLE only at the
  final scalar arithmetic, which is written with identical association on
  both engines;
- md5-prefix hashing (the graph_common.md5_hash60 construction) is the
  one hash both engines compute identically — it powers the
  deterministic Poisson bootstrap weights (four 28-bit uniforms per
  digest).
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
# text_bm25_topk — BM25 retrieval ranking over the documents corpus
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "join", "fast")
BM25_TOPK = 20
_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY 1
    ),
    corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_w
      FROM dl
    ),
    tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w
      WHERE word IN ({_BM25_IN}) GROUP BY 1, 2
    ),
    df AS (
      SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM w
      WHERE word IN ({_BM25_IN}) GROUP BY 1
    ),
    term AS (
      SELECT tf.doc_id,
             CAST(round(1000000.0
               * ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * {BM25_K1 + 1.0!r})
               / (tf.tf + {BM25_K1!r} * ({1.0 - BM25_B!r} + {BM25_B!r}
                  * dl.dl / (CAST(c.total_w AS DOUBLE) / c.n_docs))))
             AS BIGINT) AS score_u
      FROM tf JOIN df USING (word) JOIN dl USING (doc_id)
      CROSS JOIN corpus c
    ),
    scored AS (
      SELECT doc_id, CAST(sum(score_u) AS BIGINT) AS score_u
      FROM term GROUP BY 1
    ),
    ranked AS (
      SELECT doc_id, score_u,
             row_number() OVER (ORDER BY score_u DESC, doc_id) AS rn
      FROM scored
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           round(score_u / 1000000.0, 6) AS bm25,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {BM25_TOPK}
    """,
    doc=f"BM25 (k1={BM25_K1}, b={BM25_B}) document ranking for the fixed "
    f"query {BM25_TERMS}: the standard retrieval scorer TF-IDF lacks — "
    "term-frequency saturation and document-length normalization. Per-term "
    "scores scale to integer micro-units BEFORE the per-doc sum, so "
    "summation order can never move a bit and even the float scores "
    "hash-verify. Plan (r14 optimization — zero corpus-proportional "
    "shuffles, down from two): doc length is size(split(text)) and each "
    "query term's tf is size(filter(words)) — both MAP-SIDE array "
    "expressions, so the former explode passes, the (doc_id) length "
    "shuffle, the (doc_id, word) posting shuffle, and both persists all "
    "disappear. One global aggregation folds n_docs, total length, and "
    "the 3 per-term document frequencies (sum of tf>0 indicators == "
    "count distinct docs containing the term) into a 1-row broadcast; "
    "scoring is then a second map-only pass over docs filtered to those "
    "containing any query term. Top-k is a TakeOrderedAndProject-class "
    "rank filter, not a full sort. At 100 TB this is the classic "
    "sparse-retrieval shape: score only docs containing query terms, never "
    "the corpus — and the corpus itself is never materialized as postings.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    # NULL text contributed zero exploded rows in the posting formulation
    # (absent from doc lengths and n_docs); the explicit filter keeps that
    # contract — size(split(NULL)) would otherwise yield -1, not absence
    words = F.split("text", " ")

    def _tf(i: int, t: str):
        # closure (not a default arg): a 2-parameter lambda would make
        # F.filter pass (element, index) and silently compare the index
        return (
            F.size(F.filter(words, lambda x: x == F.lit(t)))
            .cast("bigint")
            .alias(f"tf{i}")
        )

    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(words).cast("bigint").alias("dl"),
        *[_tf(i, t) for i, t in enumerate(BM25_TERMS)],
    )
    corpus = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_w"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("bigint").alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    avgdl = F.col("total_w").cast("double") / F.col("n_docs")

    def term_score(i: int):
        tf = F.col(f"tf{i}")
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
        )
        s = (
            idf
            * (tf * F.lit(BM25_K1 + 1.0))
            / (
                tf
                + F.lit(BM25_K1)
                * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
            )
        )
        # per-(doc, term) rounding BEFORE the per-doc sum, exactly as the
        # posting formulation (a missing posting row == a zero term)
        return F.when(
            tf > 0, F.round(F.lit(1000000.0) * s).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))

    scored = (
        base.filter(
            sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS))) > 0
        )
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            sum(term_score(i) for i in range(len(BM25_TERMS))).alias(
                "score_u"
            ),
        )
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.desc("score_u"), F.asc("doc_id"))),
    )
    return ranked.filter(F.col("rn") <= BM25_TOPK).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.round(F.col("score_u") / 1000000.0, 6).alias("bm25"),
        F.col("rn").cast("bigint").alias("rn"),
    )


# ---------------------------------------------------------------------------
# orders_ols_multifactor — closed-form 2-feature OLS via normal equations
# ---------------------------------------------------------------------------


@register(
    "orders_ols_multifactor",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x1 AS HUGEINT)) AS DOUBLE) AS sx1,
             CAST(sum(CAST(x2 AS HUGEINT)) AS DOUBLE) AS sx2,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(x1 * x1 AS HUGEINT)) AS DOUBLE) AS sx11,
             CAST(sum(CAST(x1 * x2 AS HUGEINT)) AS DOUBLE) AS sx12,
             CAST(sum(CAST(x2 * x2 AS HUGEINT)) AS DOUBLE) AS sx22,
             CAST(sum(CAST(x1 * y AS HUGEINT)) AS DOUBLE) AS sx1y,
             CAST(sum(CAST(x2 * y AS HUGEINT)) AS DOUBLE) AS sx2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM b
    ),
    d AS (
      SELECT s.*,
        n * (sx11 * sx22 - sx12 * sx12)
          - sx1 * (sx1 * sx22 - sx12 * sx2)
          + sx2 * (sx1 * sx12 - sx11 * sx2) AS det,
        sy * (sx11 * sx22 - sx12 * sx12)
          - sx1 * (sx1y * sx22 - sx12 * sx2y)
          + sx2 * (sx1y * sx12 - sx11 * sx2y) AS det0,
        n * (sx1y * sx22 - sx12 * sx2y)
          - sy * (sx1 * sx22 - sx12 * sx2)
          + sx2 * (sx1 * sx2y - sx1y * sx2) AS det1,
        n * (sx11 * sx2y - sx1y * sx12)
          - sx1 * (sx1 * sx2y - sx1y * sx2)
          + sy * (sx1 * sx12 - sx11 * sx2) AS det2
      FROM s
    ),
    c AS (
      SELECT n, sy, sx1y, sx2y, syy,
             det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
      FROM d WHERE det <> 0
    )
    SELECT n AS n_rows,
           round(b0, 6) AS intercept_c,
           round(b1, 6) AS coef_qty,
           round(b2, 6) AS coef_disc_pct,
           round(1.0 - (syy - b0 * sy - b1 * sx1y - b2 * sx2y)
                 / (syy - sy * sy / n), 6) AS r2
    FROM c
    """,
    doc="Multi-feature OLS (extendedprice-cents ~ quantity + discount-pct) "
    "solved in CLOSED FORM from one pass of sufficient statistics: 9 sums "
    "of integer products accumulate exactly (DECIMAL(38,0) in Spark, "
    "HUGEINT in DuckDB — immune to both 2^53 double truncation and 2^63 "
    "overflow), then Cramer's rule on the 3x3 normal equations runs on two "
    "1-row projections. This is how distributed linear regression actually "
    "scales: the fact table is touched ONCE by a map-combined aggregation "
    "whose reduce state is 10 numbers — no gradient iterations, no "
    "driver-side data. R^2 comes from the same sums. At 100 TB the whole "
    "query is one shuffle of a single 80-byte row per partition.",
)
def orders_ols_multifactor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )

    s = b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x1")).alias("sx1"),
        _dsum(F.col("x2")).alias("sx2"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.col("x1") * F.col("x1")).alias("sx11"),
        _dsum(F.col("x1") * F.col("x2")).alias("sx12"),
        _dsum(F.col("x2") * F.col("x2")).alias("sx22"),
        _dsum(F.col("x1") * F.col("y")).alias("sx1y"),
        _dsum(F.col("x2") * F.col("y")).alias("sx2y"),
        _dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx1, sx2, sy = F.col("n"), F.col("sx1"), F.col("sx2"), F.col("sy")
    sx11, sx12, sx22 = F.col("sx11"), F.col("sx12"), F.col("sx22")
    sx1y, sx2y, syy = F.col("sx1y"), F.col("sx2y"), F.col("syy")
    d = s.select(
        "*",
        (
            n * (sx11 * sx22 - sx12 * sx12)
            - sx1 * (sx1 * sx22 - sx12 * sx2)
            + sx2 * (sx1 * sx12 - sx11 * sx2)
        ).alias("det"),
        (
            sy * (sx11 * sx22 - sx12 * sx12)
            - sx1 * (sx1y * sx22 - sx12 * sx2y)
            + sx2 * (sx1y * sx12 - sx11 * sx2y)
        ).alias("det0"),
        (
            n * (sx1y * sx22 - sx12 * sx2y)
            - sy * (sx1 * sx22 - sx12 * sx2)
            + sx2 * (sx1 * sx2y - sx1y * sx2)
        ).alias("det1"),
        (
            n * (sx11 * sx2y - sx1y * sx12)
            - sx1 * (sx1 * sx2y - sx1y * sx2)
            + sy * (sx1 * sx12 - sx11 * sx2)
        ).alias("det2"),
    )
    # singular normal equations (e.g. a constant feature) have det
    # EXACTLY 0 — the sums are exact, so both engines agree; emit zero
    # rows instead of engine-specific inf/NaN coefficients
    c = d.filter(F.col("det") != 0).select(
        "n",
        "sy",
        "sx1y",
        "sx2y",
        "syy",
        (F.col("det0") / F.col("det")).alias("b0"),
        (F.col("det1") / F.col("det")).alias("b1"),
        (F.col("det2") / F.col("det")).alias("b2"),
    )
    return c.select(
        F.col("n").alias("n_rows"),
        F.round("b0", 6).alias("intercept_c"),
        F.round("b1", 6).alias("coef_qty"),
        F.round("b2", 6).alias("coef_disc_pct"),
        F.round(
            1.0
            - (
                F.col("syy")
                - F.col("b0") * F.col("sy")
                - F.col("b1") * F.col("sx1y")
                - F.col("b2") * F.col("sx2y")
            )
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# agg_jarque_bera — normality test from exact power sums, per returnflag
# ---------------------------------------------------------------------------


@register(
    "agg_jarque_bera",
    oracle="""
    WITH b AS (
      SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS x
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(sum(CAST(x * x AS HUGEINT)) AS DOUBLE) AS s2,
             CAST(sum(CAST(x * x * x AS HUGEINT)) AS DOUBLE) AS s3,
             CAST(sum(CAST(x * x * x * x AS HUGEINT)) AS DOUBLE) AS s4
      FROM b GROUP BY 1
    ),
    r AS (
      SELECT l_returnflag, n, s1 / n AS m1,
             s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
      FROM s
    ),
    m AS (
      SELECT l_returnflag, n, m1,
             r2 - m1 * m1 AS m2,
             r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
             r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
                - 3.0 * m1 * m1 * m1 * m1 AS m4
      FROM r
    ),
    k AS (
      SELECT l_returnflag, n,
             m3 / (m2 * sqrt(m2)) AS skew,
             m4 / (m2 * m2) AS kurt
      FROM m WHERE m2 > 0
    )
    SELECT l_returnflag, n,
           round(skew, 6) AS skewness,
           round(kurt, 6) AS kurtosis,
           round(n / 6.0 * (skew * skew
                 + (kurt - 3.0) * (kurt - 3.0) / 4.0), 4) AS jb_stat
    FROM k
    """,
    doc="Jarque-Bera normality statistic per returnflag over quantity: "
    "central moments derived from raw power sums S1..S4, which accumulate "
    "as exact integers (DECIMAL/HUGEINT — quantity^4 stays well inside the "
    "exact range, and the decimal sum is order-independent, so both "
    "engines produce the identical doubles before any float division). "
    "skew = m3/m2^1.5 written as m2*sqrt(m2) to avoid pow() ulp "
    "divergence. One map-combined scan, k 1-row groups, O(1) reduce state "
    "— the moment-sketch pattern that survives any scale.",
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        "l_returnflag", F.round("l_quantity").cast("bigint").alias("x")
    )
    x = F.col("x")

    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(x).alias("s1"),
        _dsum(x * x).alias("s2"),
        _dsum(x * x * x).alias("s3"),
        _dsum(x * x * x * x).alias("s4"),
    )
    r = s.select(
        "l_returnflag",
        "n",
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("r2"),
        (F.col("s3") / F.col("n")).alias("r3"),
        (F.col("s4") / F.col("n")).alias("r4"),
    )
    m1 = F.col("m1")
    m = r.select(
        "l_returnflag",
        "n",
        "m1",
        (F.col("r2") - m1 * m1).alias("m2"),
        (F.col("r3") - 3.0 * m1 * F.col("r2") + 2.0 * m1 * m1 * m1).alias("m3"),
        (
            F.col("r4")
            - 4.0 * m1 * F.col("r3")
            + 6.0 * m1 * m1 * F.col("r2")
            - 3.0 * m1 * m1 * m1 * m1
        ).alias("m4"),
    )
    # a constant group has m2 exactly 0 (sums are exact): drop it in both
    # engines rather than emit a 0/0 whose NULL-vs-NaN spelling is a
    # DuckDB-version detail (ieee_floating_point_ops default flipped in 1.1)
    k = m.filter(F.col("m2") > 0).select(
        "l_returnflag",
        "n",
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias("skew"),
        (F.col("m4") / (F.col("m2") * F.col("m2"))).alias("kurt"),
    )
    return k.select(
        "l_returnflag",
        "n",
        F.round("skew", 6).alias("skewness"),
        F.round("kurt", 6).alias("kurtosis"),
        F.round(
            F.col("n")
            / 6.0
            * (
                F.col("skew") * F.col("skew")
                + (F.col("kurt") - 3.0) * (F.col("kurt") - 3.0) / 4.0
            ),
            4,
        ).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# agg_levene_bf — Brown-Forsythe variance-homogeneity test across groups
# ---------------------------------------------------------------------------


@register(
    "agg_levene_bf",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x_c
      FROM orders
    ),
    med AS (
      SELECT grp, CAST(round(quantile_cont(x_c, 0.5) * 2) AS BIGINT) AS med2
      FROM b GROUP BY 1
    ),
    z AS (
      SELECT b.grp, abs(2 * b.x_c - med.med2) AS z
      FROM b JOIN med USING (grp)
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(z) AS BIGINT) AS sz,
             CAST(sum(CAST(z * z AS HUGEINT)) AS DOUBLE) AS szz
      FROM z GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(sz) AS DOUBLE) / sum(n_i) AS zbar,
             CAST(sum(n_i) AS BIGINT) AS nn,
             CAST(count(*) AS BIGINT) AS k
      FROM g
    ),
    terms AS (
      SELECT
        CAST(round(szz - CAST(sz AS DOUBLE) * sz / n_i) AS HUGEINT) AS ssw_i,
        CAST(round(n_i * ((CAST(sz AS DOUBLE) / n_i - tot.zbar)
             * (CAST(sz AS DOUBLE) / n_i - tot.zbar))) AS HUGEINT) AS ssb_i,
        tot.nn, tot.k
      FROM g CROSS JOIN tot
    ),
    f AS (
      SELECT CAST(sum(ssw_i) AS DOUBLE) AS ssw,
             CAST(sum(ssb_i) AS DOUBLE) AS ssb,
             CAST(min(nn) AS BIGINT) AS nn, CAST(min(k) AS BIGINT) AS k
      FROM terms
    )
    SELECT k AS n_groups, nn AS n_rows,
           round((ssb / (k - 1)) / (ssw / (nn - k)), 6) AS bf_stat
    FROM f WHERE k > 1 AND nn > k AND ssw > 0
    """,
    doc="Brown-Forsythe variance-homogeneity test (Levene with group "
    "MEDIANS — robust to the heavy tails that break the mean-based form) "
    "on order totals across the 5 order priorities. Doubled-median "
    "integers (2*x - 2*median) eliminate the .5-cent half so every "
    "absolute deviation is an exact BIGINT; per-group SSW/SSB terms round "
    "to integers before the k-row sum, so the final F is identical "
    "regardless of which engine (or partition order) adds the groups. "
    "Plan: one grouped exact-median pass (the only full-group state), a "
    "5-row broadcast back onto the facts, then a map-combined moment "
    "aggregation — deviations never leave their partition unaggregated.",
)
def agg_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (VERDICT r14 item 4): the per-priority doubled medians no longer
    # run as grouped F.percentile aggregates (fact-proportional value maps
    # through one reducer per group — §2.2) but via the shared two-pass
    # range selection: med2 = v_lower + v_higher in exact integers per
    # group (selection.py docstring; pinned by tests/test_r15_selection),
    # embedded as a literal map — the deviation pass loses its join.
    from mongodb_nats_connector_spark.plans.selection import (
        _median_ranks,
        doubled_median2,
        selected_order_stats,
    )

    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x_c"),
    )
    med2 = {
        k[0]: doubled_median2(n_g, at)
        for k, (n_g, at) in selected_order_stats(
            b, "x_c", _median_ranks, ["grp"]
        ).items()
    }
    med2_expr = F.create_map(
        *[
            c
            for k, v in sorted(med2.items())
            for c in (F.lit(k), F.lit(v).cast("bigint"))
        ]
    )[F.col("grp")]
    z = b.select(
        "grp", F.abs(2 * F.col("x_c") - med2_expr).alias("z")
    )
    g = z.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(38,0)"))
        .cast("double")
        .alias("szz"),
    )
    tot = g.agg(
        (F.sum("sz").cast("double") / F.sum("n_i")).alias("zbar"),
        F.sum("n_i").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    zbar_i = F.col("sz").cast("double") / F.col("n_i")
    # ssw_i alone reaches ~6e18 at sf0.1 and the k-row sum exceeds
    # INT64: accumulate as DECIMAL(38,0)/HUGEINT (the module's rule for
    # any squared-sum), exact and order-free, cast to DOUBLE only at the
    # final ratio
    terms = g.crossJoin(F.broadcast(tot)).select(
        F.round(
            F.col("szz") - F.col("sz").cast("double") * F.col("sz") / F.col("n_i")
        )
        .cast("decimal(38,0)")
        .alias("ssw_i"),
        F.round(
            F.col("n_i")
            * ((zbar_i - F.col("zbar")) * (zbar_i - F.col("zbar")))
        )
        .cast("decimal(38,0)")
        .alias("ssb_i"),
        "nn",
        "k",
    )
    f = terms.agg(
        F.sum("ssw_i").cast("double").alias("ssw"),
        F.sum("ssb_i").cast("double").alias("ssb"),
        F.min("nn").cast("bigint").alias("nn"),
        F.min("k").cast("bigint").alias("k"),
    )
    out = f.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.col("ssw").alias("ssw_d"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            6,
        ).alias("bf_stat"),
    ).filter(
        (F.col("n_groups") > 1)
        & (F.col("n_rows") > F.col("n_groups"))
        & (F.col("ssw_d") > 0)
    ).drop("ssw_d")
    return persist_until_collected(g, out)


# ---------------------------------------------------------------------------
# agg_bootstrap_poisson — deterministic Poisson-bootstrap CI of the mean
# ---------------------------------------------------------------------------

BOOT_B = 40  # replicates; CI = 2nd / 39th ranked replicate mean (5% / 95%)
# Poisson(1) CDF thresholds (exact double literals, mirrored in SQL): a
# 60-bit-hash uniform below threshold k gets resample weight k.
_POIS_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)
_POIS_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_POIS_CUM)
    )
    + f" ELSE {len(_POIS_CUM)} END"
)
_TWO28 = float(1 << 28)  # one md5 yields four 28-bit uniforms (28 hex chars)


@register(
    "agg_bootstrap_poisson",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y_c
      FROM orders
    ),
    ex AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y_c) AS BIGINT) AS sy
      FROM base
    ),
    r AS (
      SELECT g.g * 4 + s.slot AS b, base.y_c,
             CAST(CAST('0x' || substr(md5(CAST(base.o_orderkey AS VARCHAR)
                  || ':' || CAST(g.g AS VARCHAR)), 1 + s.slot * 7, 7)
                  AS BIGINT) AS BIGINT) / {_TWO28!r} AS u
      FROM base
      CROSS JOIN (SELECT unnest(generate_series(0, {BOOT_B // 4 - 1})) AS g) g
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS slot) s
    ),
    w AS (SELECT b, y_c, {_POIS_CASE} AS w FROM r),
    rep AS (
      SELECT b,
             CAST(round(sum(w * y_c) * 1000.0 / sum(w)) AS BIGINT) AS mean_mc
      FROM w GROUP BY b
      HAVING sum(w) > 0
    ),
    rk AS (
      SELECT mean_mc, row_number() OVER (ORDER BY mean_mc, b) AS rn FROM rep
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_reps,
             CAST(sum(mean_mc) AS BIGINT) AS s
      FROM rep
    )
    SELECT agg.n_reps,
           round(ex.sy * 1.0 / ex.n / 100.0, 6) AS exact_mean,
           round(agg.s * 1.0 / agg.n_reps / 100000.0, 6) AS boot_mean,
           round(lo.mean_mc / 100000.0, 6) AS ci_lo,
           round(hi.mean_mc / 100000.0, 6) AS ci_hi
    FROM agg CROSS JOIN ex
    CROSS JOIN (SELECT mean_mc FROM rk WHERE rn = 2) lo
    CROSS JOIN (SELECT mean_mc FROM rk WHERE rn = {BOOT_B - 1}) hi
    """,
    doc=f"Poisson bootstrap ({BOOT_B} replicates) of the mean order value — "
    "the bootstrap that actually works at 100 TB: instead of materializing "
    "B resamples, every row draws its per-replicate multiplicity from "
    "Poisson(1). One explode per HASH GROUP (4x fewer rows than one per "
    "replicate: each md5 yields FOUR independent 28-bit uniforms, 7 hex "
    "chars per slot), with the four slot weights folded as per-group "
    "aggregate expressions — map-side combine reduces each partition to "
    f"{BOOT_B // 4} rows of 8 exact-integer sums before any shuffle, so "
    "the shuffled volume is replicate-count-sized regardless of input. "
    f"(The fully de-exploded {2 * BOOT_B}-aggregate form was measured "
    "SLOWER: 80 CASE-ladder aggregates exceed Janino's 64KB method limit, "
    "dropping the whole aggregate out of codegen — a 2x steady-state "
    "loss; this shape keeps every operator inside WholeStageCodegen.) "
    "The Poisson draw inverts the exact CDF ladder against md5 uniforms "
    "both engines compute bit-identically, so the 'random' weights, and "
    "therefore the CI, hash-verify cross-engine. Replicate means quantize "
    "to integer milli-cents before ranking; the CI is the 2nd/39th ranked "
    "replicate (5%/95%). The exact mean rides along for calibration.",
)
def agg_bootstrap_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel=True: ~10 md5 evaluations per row serialize on the
    # single-file scan partition otherwise — this is the compute-heavy
    # per-row case the repartition exists for
    o = table(spark, sf_dir, "orders", parallel=True)
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y_c"),
    )
    ex = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y_c").cast("bigint").alias("sy"),
    )

    def _w(u):  # Poisson(1) weight from a uniform via the exact CDF ladder
        w_expr = F.lit(len(_POIS_CUM))
        for k in range(len(_POIS_CUM) - 1, -1, -1):
            w_expr = F.when(u < F.lit(_POIS_CUM[k]), F.lit(k)).otherwise(
                w_expr
            )
        return w_expr

    r = base.withColumn(
        "g", F.explode(F.sequence(F.lit(0), F.lit(BOOT_B // 4 - 1)))
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("g").cast("string"),
            )
        ),
    )
    aggs = []
    for slot in range(4):
        u = (
            F.conv(
                F.substring(F.col("h"), 1 + slot * 7, 7), 16, 10
            ).cast("bigint")
            / F.lit(_TWO28)
        )
        w = _w(u)
        aggs.append(F.sum(w * F.col("y_c")).alias(f"_swy{slot}"))
        aggs.append(F.sum(w).alias(f"_sw{slot}"))
    rep_g = r.groupBy("g").agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                (F.col("g") * 4 + slot).alias("b"),
                F.col(f"_sw{slot}").alias("sw"),
                F.col(f"_swy{slot}").alias("swy"),
            )
            for slot in range(4)
        ]
    )
    # a replicate whose Poisson weights all drew 0 has no mean: drop it
    # BEFORE ranking (NULL means would rank FIRST in Spark but LAST in
    # DuckDB); only reachable on near-empty tables — P(sum w = 0) = e^-n
    rep = (
        rep_g.select(F.explode(pairs).alias("p"))  # B//4 rows -> B, bounded
        .select(
            F.col("p.b").alias("b"),
            F.col("p.sw").alias("sw"),
            F.round(F.col("p.swy") * 1000.0 / F.col("p.sw"))
            .cast("bigint")
            .alias("mean_mc"),
        )
        .filter(F.col("sw") > 0)
        .select("b", "mean_mc")
    )
    # the ranked CI endpoints fold into ONE bounded aggregation (r14
    # optimization): sort_array over the <= 40 collected (mean_mc, b)
    # structs orders exactly like the former row_number window
    # (lexicographic struct comparison == ORDER BY mean_mc, b), so
    # elements 2 and BOOT_B-1 are the same ranked replicates — without
    # the two filter-and-broadcast subplans (each a separate job) or the
    # persist of rep. The n_reps >= BOOT_B-1 guard reproduces the old
    # emptiness contract (an absent rank-39 row emptied the crossJoin);
    # try_element_at keeps the short-array case NULL-safe pre-filter.
    agg = rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        F.sum("mean_mc").cast("bigint").alias("s"),
        F.sort_array(
            F.collect_list(F.struct("mean_mc", "b"))
        ).alias("_ranked"),
    )
    out = (
        agg.filter(F.col("n_reps") >= BOOT_B - 1)
        .crossJoin(F.broadcast(ex))
        .select(
            "n_reps",
            F.round(F.col("sy") * 1.0 / F.col("n") / 100.0, 6).alias(
                "exact_mean"
            ),
            F.round(F.col("s") * 1.0 / F.col("n_reps") / 100000.0, 6).alias(
                "boot_mean"
            ),
            F.round(
                F.try_element_at("_ranked", F.lit(2))["mean_mc"] / 100000.0, 6
            ).alias("ci_lo"),
            F.round(
                F.try_element_at("_ranked", F.lit(BOOT_B - 1))["mean_mc"]
                / 100000.0,
                6,
            ).alias("ci_hi"),
        )
    )
    return persist_until_collected(base, out)


# ---------------------------------------------------------------------------
# events_pettitt_changepoint — nonparametric changepoint on the daily series
# ---------------------------------------------------------------------------


@register(
    "events_pettitt_changepoint",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    r AS (
      SELECT day,
             rank() OVER (ORDER BY cnt)
               + (count(*) OVER (PARTITION BY cnt) - 1) / 2.0 AS r
      FROM d
    ),
    u AS (
      SELECT day,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(2.0 * sum(r) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS s2
      FROM r
    ),
    v AS (
      SELECT day, t, s2 - t * (nn.n + 1) AS ut
      FROM u CROSS JOIN nn
    ),
    k AS (
      SELECT CAST(max(abs(ut)) AS BIGINT) AS k_stat
      FROM v, nn WHERE t < nn.n
    ),
    cp AS (
      SELECT min(day) AS cp_day
      FROM v, nn, k WHERE t < nn.n AND abs(ut) = k.k_stat
    )
    SELECT nn.n AS n_days, k.k_stat, cp.cp_day,
           round(least(1.0, 2.0 * exp((-6.0 * k.k_stat * k.k_stat)
                 / (nn.n * nn.n * nn.n + nn.n * nn.n))), 6) AS p_approx
    FROM nn CROSS JOIN k CROSS JOIN cp
    """,
    doc="Pettitt changepoint test on the daily event-count series: the "
    "rank-based statistic U_t = 2*S_t - t(n+1) (tie-adjusted via average "
    "ranks, computed as min-rank + (ties-1)/2 — exact halves), maximized "
    "over split points; ties on the argmax break to the earliest day. "
    "2*S_t is an exact integer so K hash-verifies; the approximate "
    "significance 2*exp(-6K^2/(n^3+n^2)) is capped at 1. The windows run "
    "on the day-grain series, which is already aggregated from the facts "
    "by a map-combined count — at 100 TB the ordered scan touches ~365 "
    "rows/year, not the events. The streaming counterpart is a tumbling "
    "daily count feeding the same batch tail.",
)
def events_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    r = d.select(
        "day",
        (
            F.rank().over(Window.orderBy("cnt"))
            + (F.count(F.lit(1)).over(Window.partitionBy("cnt")) - 1) / 2.0
        ).alias("r"),
    )
    wday = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    u = r.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        (2.0 * F.sum("r").over(wday)).cast("bigint").alias("s2"),
    )
    v = u.crossJoin(F.broadcast(nn)).select(
        "day", "t", (F.col("s2") - F.col("t") * (F.col("n") + 1)).alias("ut"), "n"
    )
    k = v.filter(F.col("t") < F.col("n")).agg(
        F.max(F.abs(F.col("ut"))).cast("bigint").alias("k_stat")
    )
    cp = (
        v.filter(F.col("t") < F.col("n"))
        .join(F.broadcast(k), F.abs(F.col("ut")) == F.col("k_stat"))
        .agg(F.min("day").alias("cp_day"))
    )
    out = (
        nn.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(cp))
        .select(
            F.col("n").alias("n_days"),
            "k_stat",
            "cp_day",
            F.round(
                F.least(
                    F.lit(1.0),
                    2.0
                    * F.exp(
                        (-6.0 * F.col("k_stat") * F.col("k_stat"))
                        / (
                            F.col("n") * F.col("n") * F.col("n")
                            + F.col("n") * F.col("n")
                        )
                    ),
                ),
                6,
            ).alias("p_approx"),
        )
    )
    return persist_until_collected(d, persist_until_collected(v, out))


# ---------------------------------------------------------------------------
# events_weibull_gaps — Weibull fit of inter-event gaps via rank regression
# ---------------------------------------------------------------------------


@register(
    "events_weibull_gaps",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    g AS (
      SELECT user_id, event_id,
             tus - lag(tus) OVER (PARTITION BY user_id
                                  ORDER BY tus, event_id) AS gap_us
      FROM e
    ),
    p AS (SELECT event_id, gap_us FROM g WHERE gap_us > 0),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
    xy AS (
      SELECT
        CAST(round(1000000.0 * ln(CAST(gap_us AS DOUBLE))) AS BIGINT) AS x,
        CAST(round(1000000.0 * ln(0.0 - ln(1.0
             - (row_number() OVER (ORDER BY gap_us, event_id) - 0.3)
               / (nn.n + 0.4)))) AS BIGINT) AS y
      FROM p CROSS JOIN nn
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS HUGEINT)) AS DOUBLE) AS sxx,
             CAST(sum(CAST(x * y AS HUGEINT)) AS DOUBLE) AS sxy
      FROM xy
    ),
    b AS (
      SELECT n, sx, sy,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
      FROM s WHERE n > 1 AND n * sxx - sx * sx > 0
    ),
    f AS (
      SELECT n, slope,
             (sy - slope * sx) / n / 1000000.0 AS icpt
      FROM b
    )
    SELECT n AS n_gaps,
           round(slope, 4) AS weibull_shape,
           round(exp((0.0 - icpt) / slope) / 1000000.0, 3) AS weibull_scale_s
    FROM f
    """,
    doc="Weibull reliability fit of positive inter-event gaps (per-user "
    "consecutive timestamps) via median-rank regression: empirical CDF "
    "F_i = (i-0.3)/(n+0.4) from the global gap order, then OLS of "
    "ln(-ln(1-F)) on ln(gap) — slope = shape k, scale = exp(-icpt/k). "
    "Both regression coordinates quantize to integer micro-units BEFORE "
    "the sums (exact DECIMAL/HUGEINT accumulation), so the fitted "
    "parameters hash-verify. Plan: per-user lag needs one (user_id)-keyed "
    "shuffle; the global empirical CDF ranks come from the two-pass "
    "range-partitioned rank (plans/ranking.py: boundary literals, "
    "per-bucket row_number + bucket-offset prefix sum) — identical to "
    "row_number() by construction (the oracle keeps the window "
    "formulation), with no data-proportional single-partition sort. k<1 "
    "means burstiness (decreasing hazard), k=1 Poisson arrivals.",
)
def events_weibull_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    e = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    wlag = Window.partitionBy("user_id").orderBy("tus", "event_id")
    g = e.select(
        "user_id",
        "event_id",
        (F.col("tus") - F.lag("tus").over(wlag)).alias("gap_us"),
    )
    p = g.filter(F.col("gap_us") > 0).select("event_id", "gap_us")
    # persisted NOW: the two-pass boundary sketch runs at construction and
    # would otherwise recompute the per-user lag window; released when the
    # returned result is GC'd
    p = p.persist()
    nn = p.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    from mongodb_nats_connector_spark.plans.ranking import (
        two_pass_global_rank,
    )

    pr = two_pass_global_rank(
        p, "gap_us", "event_id", descending=False,
        rank_col="_i", total_col="_pn",
    )
    xy = pr.crossJoin(F.broadcast(nn)).select(
        F.round(1000000.0 * F.log(F.col("gap_us").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.round(
            1000000.0
            * F.log(
                0.0
                - F.log(
                    1.0
                    - (F.col("_i") - 0.3) / (F.col("n") + 0.4)
                )
            )
        )
        .cast("bigint")
        .alias("y"),
    )

    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.col("x") * F.col("x")).alias("sxx"),
        _dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # all-equal gaps make the regression denominator exactly 0 (sums are
    # exact integers): emit zero rows instead of engine-specific inf/NaN
    b = s.filter(
        (F.col("n") > 1)
        & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    ).select(
        "n",
        "sx",
        "sy",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("slope"),
    )
    f = b.select(
        "n",
        "slope",
        ((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n") / 1000000.0)
        .alias("icpt"),
    )
    out = f.select(
        F.col("n").alias("n_gaps"),
        F.round("slope", 4).alias("weibull_shape"),
        F.round(
            F.exp((0.0 - F.col("icpt")) / F.col("slope")) / 1000000.0, 3
        ).alias("weibull_scale_s"),
    )
    return release_on_gc(p, out)


# ---------------------------------------------------------------------------
# agg_mutual_information — MI / entropies between event type and weekday
# ---------------------------------------------------------------------------


@register(
    "agg_mutual_information",
    oracle="""
    WITH e AS (
      SELECT event_type AS x,
             (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS y
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    j AS (SELECT x, y, CAST(count(*) AS BIGINT) AS nxy FROM e GROUP BY 1, 2),
    mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM j GROUP BY 1),
    my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM j GROUP BY 1),
    tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn FROM j),
    t AS (
      SELECT CAST(round(1000000000.0 * (nxy * 1.0 / tot.nn)
             * ln((nxy * 1.0 / mx.nx) * (tot.nn * 1.0 / my.ny)))
             AS BIGINT) AS v
      FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    ),
    ts_ AS (SELECT CAST(sum(v) AS BIGINT) AS s FROM t),
    ex AS (
      SELECT CAST(sum(CAST(round(1000000000.0 * (nx * 1.0 / tot.nn)
             * ln(tot.nn * 1.0 / nx)) AS BIGINT)) AS BIGINT) AS s
      FROM mx CROSS JOIN tot
    ),
    ey AS (
      SELECT CAST(sum(CAST(round(1000000000.0 * (ny * 1.0 / tot.nn)
             * ln(tot.nn * 1.0 / ny)) AS BIGINT)) AS BIGINT) AS s
      FROM my CROSS JOIN tot
    )
    SELECT tot.nn AS n_events,
           round(ts_.s / 1000000000.0, 6) AS mi_nats,
           round(ex.s / 1000000000.0, 6) AS h_event_type,
           round(ey.s / 1000000000.0, 6) AS h_weekday,
           round(CAST(ts_.s AS DOUBLE)
                 / sqrt(CAST(ex.s AS DOUBLE) * CAST(ey.s AS DOUBLE)), 6)
             AS nmi
    FROM tot CROSS JOIN ts_ CROSS JOIN ex CROSS JOIN ey
    WHERE ex.s > 0 AND ey.s > 0
    """,
    doc="Mutual information (and marginal entropies, normalized MI) "
    "between event type and weekday — the dependence screen that catches "
    "what correlation can't (categorical, non-monotonic). Weekday is "
    "epoch-day mod 7, identical in both engines regardless of locale "
    "DOW conventions. Every p*ln(p) term quantizes to integer nano-nats "
    "before its sum, so MI hash-verifies. Plan: ONE map-combined count "
    "over the (x, y) cross-cells (|types| x 7 rows); marginals and total "
    "re-aggregate the tiny joint relation, never the facts. At 100 TB "
    "this is a single shuffle of ~35 keys with partial aggregation — the "
    "joint-histogram sketch pattern.",
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    e = ev.select(
        F.col("event_type").alias("x"),
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            % 7
        ).alias("y"),
    )
    j = e.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("nxy"))
    mx = j.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = j.groupBy("y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = j.agg(F.sum("nxy").cast("bigint").alias("nn"))
    t = (
        j.join(maybe_broadcast(mx), "x")
        .join(maybe_broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1000000000.0
                * (F.col("nxy") * 1.0 / F.col("nn"))
                * F.log(
                    (F.col("nxy") * 1.0 / F.col("nx"))
                    * (F.col("nn") * 1.0 / F.col("ny"))
                )
            )
            .cast("bigint")
            .alias("v")
        )
    )
    ts_ = t.agg(F.sum("v").cast("bigint").alias("s"))
    ex = (
        mx.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1000000000.0
                * (F.col("nx") * 1.0 / F.col("nn"))
                * F.log(F.col("nn") * 1.0 / F.col("nx"))
            )
            .cast("bigint")
            .alias("v")
        )
        .agg(F.sum("v").cast("bigint").alias("s"))
    )
    ey = (
        my.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1000000000.0
                * (F.col("ny") * 1.0 / F.col("nn"))
                * F.log(F.col("nn") * 1.0 / F.col("ny"))
            )
            .cast("bigint")
            .alias("v")
        )
        .agg(F.sum("v").cast("bigint").alias("s"))
    )
    out = (
        tot.crossJoin(F.broadcast(ts_.withColumnRenamed("s", "smi")))
        .crossJoin(F.broadcast(ex.withColumnRenamed("s", "shx")))
        .crossJoin(F.broadcast(ey.withColumnRenamed("s", "shy")))
        # a single-valued marginal has zero entropy and an undefined NMI:
        # both engines emit zero rows rather than a NaN the hash can't match
        .filter((F.col("shx") > 0) & (F.col("shy") > 0))
        .select(
            F.col("nn").alias("n_events"),
            F.round(F.col("smi") / 1000000000.0, 6).alias("mi_nats"),
            F.round(F.col("shx") / 1000000000.0, 6).alias("h_event_type"),
            F.round(F.col("shy") / 1000000000.0, 6).alias("h_weekday"),
            F.round(
                F.col("smi").cast("double")
                / F.sqrt(
                    F.col("shx").cast("double") * F.col("shy").cast("double")
                ),
                6,
            ).alias("nmi"),
        )
    )
    return persist_until_collected(j, out)


# ---------------------------------------------------------------------------
# orders_newsvendor_fractile — critical-fractile stocking per market segment
# ---------------------------------------------------------------------------

NV_Q = 0.9  # critical fractile cu/(cu+co) with cu=9, co=1


@register(
    "orders_newsvendor_fractile",
    oracle=f"""
    WITH d AS (
      SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    q AS (
      SELECT segment,
             CAST(round(quantile_cont(cnt, {NV_Q!r}) * 10) AS BIGINT)
               AS stock_d10
      FROM d GROUP BY 1
    ),
    j AS (
      SELECT d.segment, d.cnt, q.stock_d10,
             greatest(0, q.stock_d10 - d.cnt * 10) AS over_d10,
             greatest(0, d.cnt * 10 - q.stock_d10) AS under_d10
      FROM d JOIN q USING (segment)
    )
    SELECT segment, CAST(count(*) AS BIGINT) AS n_days,
           round(max(stock_d10) / 10.0, 1) AS stock_q90,
           round(sum(over_d10) * 1.0 / count(*) / 10.0, 4) AS exp_overage,
           round(sum(under_d10) * 1.0 / count(*) / 10.0, 4) AS exp_underage,
           round(1.0 - sum(under_d10) * 1.0 / (10.0 * sum(cnt)), 6)
             AS fill_rate
    FROM j GROUP BY 1
    """,
    doc=f"Newsvendor stocking per market segment: the {NV_Q} critical "
    "fractile (cu=9, co=1) of daily order demand — the exact interpolated "
    "quantile both engines define identically — plus the expected "
    "overage/underage and fill rate that stock level implies, evaluated "
    "against the same demand history. Quantiles quantize to integer "
    "tenths so the comparison arithmetic is exact integer math. Plan: "
    "facts aggregate once to (segment, day) counts (map-side combine "
    "behind a broadcast customer join); the quantile and the evaluation "
    "re-read only that compacted daily relation, pinned for the result's "
    "lifetime. The decision-science sibling of the plain percentile op.",
)
def orders_newsvendor_fractile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    d = (
        o.join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    q = d.groupBy("segment").agg(
        F.round(F.percentile("cnt", F.lit(NV_Q)) * 10)
        .cast("bigint")
        .alias("stock_d10")
    )
    j = d.join(maybe_broadcast(q), "segment").select(
        "segment",
        "cnt",
        "stock_d10",
        F.greatest(F.lit(0), F.col("stock_d10") - F.col("cnt") * 10).alias(
            "over_d10"
        ),
        F.greatest(F.lit(0), F.col("cnt") * 10 - F.col("stock_d10")).alias(
            "under_d10"
        ),
    )
    out = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max("stock_d10") / 10.0, 1).alias("stock_q90"),
        F.round(
            F.sum("over_d10") * 1.0 / F.count(F.lit(1)) / 10.0, 4
        ).alias("exp_overage"),
        F.round(
            F.sum("under_d10") * 1.0 / F.count(F.lit(1)) / 10.0, 4
        ).alias("exp_underage"),
        F.round(
            1.0 - F.sum("under_d10") * 1.0 / (10.0 * F.sum("cnt")), 6
        ).alias("fill_rate"),
    )
    return persist_until_collected(d, out)


# ---------------------------------------------------------------------------
# curate_dataset_card — per-source corpus report card
# ---------------------------------------------------------------------------


@register(
    "curate_dataset_card",
    oracle="""
    WITH d AS (
      SELECT source, lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5(text) AS h
      FROM documents
    ),
    g AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(*) - count(DISTINCT h) AS BIGINT) AS dup_docs,
             CAST(round(quantile_cont(n_chars, 0.5) * 10) AS BIGINT) AS p50c10
      FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS tt FROM g)
    SELECT source, n_docs, total_chars, total_tokens, n_langs, dup_docs,
           round(p50c10 / 10.0, 1) AS p50_chars,
           CAST(round(10000.0 * total_tokens / tot.tt) AS BIGINT)
             AS token_share_bp
    FROM g CROSS JOIN tot
    """,
    doc="Per-source dataset card — the one-page report a training-data "
    "curator reads before mixing sources: document and token volumes, "
    "language spread, exact-duplicate count (md5 text identity), median "
    "document length, and each source's token share of the corpus in "
    "basis points. ONE scan computes everything (tokenize + hash are "
    "map-side; count/sum/distinct/median all partial-aggregate into the "
    "10 source groups); the corpus total re-aggregates the 10-row card, "
    "not the documents. The registry's curation gates (curate_gate_report, "
    "curate_dataset_mix) decide; this op is the evidence they decide on.",
)
def curate_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    d = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("h")).cast("bigint").alias(
            "dup_docs"
        ),
        F.round(F.percentile("n_chars", F.lit(0.5)) * 10)
        .cast("bigint")
        .alias("p50c10"),
    )
    tot = g.agg(F.sum("total_tokens").cast("bigint").alias("tt"))
    out = g.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_chars",
        "total_tokens",
        "n_langs",
        "dup_docs",
        F.round(F.col("p50c10") / 10.0, 1).alias("p50_chars"),
        F.round(10000.0 * F.col("total_tokens") / F.col("tt"))
        .cast("bigint")
        .alias("token_share_bp"),
    )
    return persist_until_collected(g, out)


# ---------------------------------------------------------------------------
# events_odds_ratio — user-level 2x2 conversion odds with Woolf CI
# ---------------------------------------------------------------------------


@register(
    "events_odds_ratio",
    oracle="""
    WITH p AS (
      SELECT user_id, user_id % 2 AS cohort,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS np
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    med AS (
      SELECT CAST(round(quantile_cont(np, 0.5) * 2) AS BIGINT) AS med2 FROM p
    ),
    u AS (
      SELECT cohort,
             CASE WHEN p.np * 2 > med.med2 THEN 1 ELSE 0 END AS conv
      FROM p CROSS JOIN med
    ),
    c AS (
      SELECT
        CAST(sum(CASE WHEN cohort = 1 AND conv = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n11,
        CAST(sum(CASE WHEN cohort = 1 AND conv = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n10,
        CAST(sum(CASE WHEN cohort = 0 AND conv = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n01,
        CAST(sum(CASE WHEN cohort = 0 AND conv = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n00
      FROM u
    )
    SELECT n11, n10, n01, n00,
           round(n11 * n00 * 1.0 / (n10 * n01), 4) AS odds_ratio,
           round(exp(ln(n11 * n00 * 1.0 / (n10 * n01))
                 - 1.96 * sqrt(1.0 / n11 + 1.0 / n10
                               + 1.0 / n01 + 1.0 / n00)), 4) AS ci_lo,
           round(exp(ln(n11 * n00 * 1.0 / (n10 * n01))
                 + 1.96 * sqrt(1.0 / n11 + 1.0 / n10
                               + 1.0 / n01 + 1.0 / n00)), 4) AS ci_hi
    FROM c WHERE n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0
    """,
    doc="User-level 2x2 odds ratio of heavy purchasing (strictly above the "
    "median per-user purchase count — a scale-free outcome that cannot "
    "degenerate unless every user is identical) between hash cohorts, "
    "with the Woolf log-normal 95% CI — the epidemiology-grade readout "
    "for binary outcomes (events_ab_uplift reports the risk difference; "
    "the odds ratio transfers across baseline rates). The doubled-median "
    "integer comparison keeps the split exact in both engines. Plan: one "
    "(user_id)-keyed map-combined collapse to per-user counts, a 1-row "
    "median broadcast back over that compacted relation, then a single "
    "conditional aggregation to the 4 cells — at 100 TB one fact shuffle "
    "plus user-table-sized follow-ups. Degenerate tables (any empty cell) "
    "emit zero rows on both engines rather than NULL-laden arithmetic.",
)
def events_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    p = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("np")
    ).select((F.col("user_id") % 2).alias("cohort"), "np")
    med = p.agg(
        F.round(F.percentile("np", F.lit(0.5)) * 2).cast("bigint").alias("med2")
    )
    u = p.crossJoin(F.broadcast(med)).select(
        "cohort",
        F.when(F.col("np") * 2 > F.col("med2"), 1).otherwise(0).alias("conv"),
    )

    def cell(coh: int, cv: int, name: str) -> F.Column:
        return (
            F.sum(
                F.when(
                    (F.col("cohort") == coh) & (F.col("conv") == cv), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(name)
        )

    c = u.agg(
        cell(1, 1, "n11"), cell(1, 0, "n10"), cell(0, 1, "n01"), cell(0, 0, "n00")
    )
    or_ = F.col("n11") * F.col("n00") * 1.0 / (F.col("n10") * F.col("n01"))
    se = F.sqrt(
        1.0 / F.col("n11")
        + 1.0 / F.col("n10")
        + 1.0 / F.col("n01")
        + 1.0 / F.col("n00")
    )
    out = c.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(or_, 4).alias("odds_ratio"),
        F.round(F.exp(F.log(or_) - 1.96 * se), 4).alias("ci_lo"),
        F.round(F.exp(F.log(or_) + 1.96 * se), 4).alias("ci_hi"),
    ).filter(
        (F.col("n11") > 0)
        & (F.col("n10") > 0)
        & (F.col("n01") > 0)
        & (F.col("n00") > 0)
    )
    return persist_until_collected(p, out)


# ---------------------------------------------------------------------------
# orders_mape_backtest — forecast backtest: naive vs 3-month moving average
# ---------------------------------------------------------------------------


@register(
    "orders_mape_backtest",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    ),
    f AS (
      SELECT month, rev_c,
             lag(rev_c, 1) OVER (ORDER BY month) AS l1,
             lag(rev_c, 2) OVER (ORDER BY month) AS l2,
             lag(rev_c, 3) OVER (ORDER BY month) AS l3
      FROM m
    ),
    s AS (
      SELECT rev_c, l1 AS naive_c,
             CAST(round((l1 + l2 + l3) / 3.0) AS BIGINT) AS ma3_c
      FROM f WHERE l3 IS NOT NULL
    ),
    a AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_months,
        CAST(sum(CAST(round(1000000.0 * abs(rev_c - naive_c) / rev_c)
             AS BIGINT)) AS BIGINT) AS ape_naive,
        CAST(sum(CAST(round(1000000.0 * abs(rev_c - ma3_c) / rev_c)
             AS BIGINT)) AS BIGINT) AS ape_ma3
      FROM s
    )
    SELECT n_months,
           round(ape_naive * 1.0 / n_months / 10000.0, 4) AS mape_naive_pct,
           round(ape_ma3 * 1.0 / n_months / 10000.0, 4) AS mape_ma3_pct,
           CASE WHEN ape_ma3 < ape_naive THEN 'ma3'
                WHEN ape_ma3 > ape_naive THEN 'naive'
                ELSE 'tie' END AS winner
    FROM a
    """,
    doc="Rolling-origin forecast backtest on monthly revenue: last-value "
    "(naive) vs trailing 3-month moving average, scored by MAPE over "
    "every month where both forecasts exist. Per-month absolute "
    "percentage errors quantize to integer ppm before averaging, so the "
    "winner verdict and both MAPEs hash-verify. The month series "
    "aggregates from facts with map-side combine (exact integer cents); "
    "the lag windows then run on ~80 rows. This is the evaluation "
    "harness for the registry's forecasters (orders_exp_smoothing, "
    "events_seasonal_baseline): a model that can't beat naive MAPE here "
    "has no business running at 100 TB.",
)
def orders_mape_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    wm = Window.orderBy("month")
    f = m.select(
        "month",
        "rev_c",
        F.lag("rev_c", 1).over(wm).alias("l1"),
        F.lag("rev_c", 2).over(wm).alias("l2"),
        F.lag("rev_c", 3).over(wm).alias("l3"),
    )
    s = f.filter(F.col("l3").isNotNull()).select(
        "rev_c",
        F.col("l1").alias("naive_c"),
        F.round((F.col("l1") + F.col("l2") + F.col("l3")) / 3.0)
        .cast("bigint")
        .alias("ma3_c"),
    )

    def ape(fc: str) -> F.Column:
        return F.sum(
            F.round(
                1000000.0 * F.abs(F.col("rev_c") - F.col(fc)) / F.col("rev_c")
            ).cast("bigint")
        ).cast("bigint")

    a = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        ape("naive_c").alias("ape_naive"),
        ape("ma3_c").alias("ape_ma3"),
    )
    return a.select(
        "n_months",
        F.round(F.col("ape_naive") * 1.0 / F.col("n_months") / 10000.0, 4)
        .alias("mape_naive_pct"),
        F.round(F.col("ape_ma3") * 1.0 / F.col("n_months") / 10000.0, 4)
        .alias("mape_ma3_pct"),
        F.when(F.col("ape_ma3") < F.col("ape_naive"), F.lit("ma3"))
        .when(F.col("ape_ma3") > F.col("ape_naive"), F.lit("naive"))
        .otherwise(F.lit("tie"))
        .alias("winner"),
    )


# ---------------------------------------------------------------------------
# events_effect_size — Cohen's d / Hedges' g between hash cohorts
# ---------------------------------------------------------------------------


@register(
    "events_effect_size",
    oracle="""
    WITH e AS (
      SELECT user_id % 2 AS cohort,
             CAST(round(value * 10000) AS BIGINT) AS v4
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    s AS (
      SELECT
        CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        CAST(sum(CASE WHEN cohort = 1 THEN v4 ELSE 0 END) AS BIGINT) AS s1,
        CAST(sum(CASE WHEN cohort = 0 THEN v4 ELSE 0 END) AS BIGINT) AS s0,
        CAST(sum(CAST(CASE WHEN cohort = 1 THEN v4 * v4 ELSE 0 END
             AS HUGEINT)) AS DOUBLE) AS q1,
        CAST(sum(CAST(CASE WHEN cohort = 0 THEN v4 * v4 ELSE 0 END
             AS HUGEINT)) AS DOUBLE) AS q0
      FROM e
    ),
    v AS (
      SELECT n1, n0,
             s1 * 1.0 / n1 AS m1, s0 * 1.0 / n0 AS m0,
             (q1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS v1,
             (q0 - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1) AS v0
      FROM s
    ),
    d AS (
      SELECT n1, n0, m1, m0,
             (m1 - m0) / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
                              / (n1 + n0 - 2)) AS cohens_d
      FROM v WHERE (n1 - 1) * v1 + (n0 - 1) * v0 > 0
    )
    SELECT n1, n0,
           round((m1 - m0) / 10000.0, 4) AS mean_diff,
           round(cohens_d, 4) AS cohens_d,
           round(cohens_d * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)), 4)
             AS hedges_g
    FROM d WHERE n1 > 1 AND n0 > 1
    """,
    doc="Standardized effect size between the two hash cohorts on event "
    "value: Cohen's d on the pooled standard deviation, plus the small-"
    "sample Hedges' g correction — the magnitude readout that p-values "
    "(agg_welch_ttest) don't give. Values quantize to 1e-4 units; counts, "
    "sums and exact DECIMAL/HUGEINT squared sums make every moment "
    "deterministic before the one float division chain, which is written "
    "identically on both engines. ONE conditional-aggregation scan, 6 "
    "numbers of reduce state — the same shape as Welch, and the same "
    "empty-cohort guard (zero rows, not NULLs).",
)
def events_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    e = ev.select(
        (F.col("user_id") % 2).alias("cohort"),
        F.round(F.col("value") * 10000).cast("bigint").alias("v4"),
    )
    s = e.agg(
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("cohort") == 1, F.col("v4")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("cohort") == 0, F.col("v4")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
        F.sum(
            F.when(F.col("cohort") == 1, F.col("v4") * F.col("v4"))
            .otherwise(0)
            .cast("decimal(38,0)")
        )
        .cast("double")
        .alias("q1"),
        F.sum(
            F.when(F.col("cohort") == 0, F.col("v4") * F.col("v4"))
            .otherwise(0)
            .cast("decimal(38,0)")
        )
        .cast("double")
        .alias("q0"),
    )
    v = s.select(
        "n1",
        "n0",
        (F.col("s1") * 1.0 / F.col("n1")).alias("m1"),
        (F.col("s0") * 1.0 / F.col("n0")).alias("m0"),
        (
            (F.col("q1") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
            / (F.col("n1") - 1)
        ).alias("v1"),
        (
            (F.col("q0") - F.col("s0").cast("double") * F.col("s0") / F.col("n0"))
            / (F.col("n0") - 1)
        ).alias("v0"),
    )
    # identical constant values in both cohorts make the pooled variance
    # exactly 0: drop the row in both engines (0/0 spelling is a DuckDB
    # version detail)
    d = v.filter(
        (F.col("n1") - 1) * F.col("v1") + (F.col("n0") - 1) * F.col("v0") > 0
    ).select(
        "n1",
        "n0",
        "m1",
        "m0",
        (
            (F.col("m1") - F.col("m0"))
            / F.sqrt(
                ((F.col("n1") - 1) * F.col("v1") + (F.col("n0") - 1) * F.col("v0"))
                / (F.col("n1") + F.col("n0") - 2)
            )
        ).alias("cohens_d"),
    )
    return d.select(
        "n1",
        "n0",
        F.round((F.col("m1") - F.col("m0")) / 10000.0, 4).alias("mean_diff"),
        F.round("cohens_d", 4).alias("cohens_d"),
        F.round(
            F.col("cohens_d")
            * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n0")) - 9.0)),
            4,
        ).alias("hedges_g"),
    ).filter((F.col("n1") > 1) & (F.col("n0") > 1))


# ---------------------------------------------------------------------------
# orders_holt_linear — Holt's linear-trend smoothing per priority series
# ---------------------------------------------------------------------------

HOLT_ALPHA = 0.55
HOLT_BETA = 0.3


@register(
    "orders_holt_linear",
    oracle=f"""
    WITH RECURSIVE monthly AS (
      SELECT o_orderpriority AS priority,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1, 2
    ),
    idx AS (
      SELECT priority, month, rev_c,
             CAST(row_number() OVER (PARTITION BY priority ORDER BY month)
                  AS BIGINT) AS i
      FROM monthly
    ),
    rec AS (
      SELECT priority, i, month, rev_c,
             rev_c AS l, CAST(0 AS BIGINT) AS b
      FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.priority, idx.i, idx.month, idx.rev_c,
             CAST(round(CAST({HOLT_ALPHA} AS DOUBLE) * idx.rev_c
                   + CAST({1 - HOLT_ALPHA!r} AS DOUBLE) * (rec.l + rec.b))
                  AS BIGINT),
             CAST(round(CAST({HOLT_BETA} AS DOUBLE)
                   * (CAST(round(CAST({HOLT_ALPHA} AS DOUBLE) * idx.rev_c
                        + CAST({1 - HOLT_ALPHA!r} AS DOUBLE)
                          * (rec.l + rec.b)) AS BIGINT) - rec.l)
                   + CAST({1 - HOLT_BETA!r} AS DOUBLE) * rec.b) AS BIGINT)
      FROM rec JOIN idx
        ON idx.priority = rec.priority AND idx.i = rec.i + 1
    )
    SELECT priority, month, round(rev_c / 100.0, 2) AS revenue,
           round(l / 100.0, 2) AS level, round(b / 100.0, 2) AS trend,
           round((l + b) / 100.0, 2) AS forecast_1
    FROM rec
    """,
    doc=f"Holt's linear-trend double exponential smoothing (alpha="
    f"{HOLT_ALPHA}, beta={HOLT_BETA}) of monthly revenue per order "
    "priority — the (level, trend) recursion simple smoothing "
    "(orders_exp_smoothing) cannot carry, giving a one-step-ahead "
    "forecast with slope. The pair-state fold runs as an explicit "
    "sequential aggregate-HOF over a struct accumulator whose state is "
    "INTEGER CENTS, re-quantized every step — decimal-place rounding of "
    "large doubles is where Spark (BigDecimal shortest-repr half-up) "
    "and DuckDB (FP-scaled half-away) disagree, while round-to-integer "
    "of the identical double only diverges on exact .5 doubles, which "
    "the dyadic smoothing products cannot produce (the DuckDB oracle "
    "expresses the same fold as a recursive CTE: its list_reduce cannot "
    "carry struct state faithfully). Facts reduce map-side to (priority, month); the fold "
    "touches only the months-long series per key — at 100 TB the "
    "recursion state is 2 doubles per series, never fact-proportional.",
)
def orders_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    series = monthly.select(
        "priority",
        "month",
        "rev_c",
        F.collect_list("rev_c").over(w).alias("xs"),
    )
    fold = F.expr(
        f"aggregate("
        f"transform(slice(xs, 2, size(xs) - 1), "
        f"  x -> named_struct('l', x, 'b', CAST(0 AS BIGINT))), "
        f"named_struct('l', element_at(xs, 1), 'b', CAST(0 AS BIGINT)), "
        f"(acc, e) -> named_struct("
        f"'l', CAST(round({HOLT_ALPHA}D * e.l "
        f"     + {1 - HOLT_ALPHA}D * (acc.l + acc.b)) AS BIGINT), "
        f"'b', CAST(round({HOLT_BETA}D * (CAST(round({HOLT_ALPHA}D * e.l "
        f"       + {1 - HOLT_ALPHA}D * (acc.l + acc.b)) AS BIGINT) - acc.l) "
        f"     + {1 - HOLT_BETA}D * acc.b) AS BIGINT)))"
    )
    return series.select(
        "priority",
        "month",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        F.round(fold.getField("l") / 100.0, 2).alias("level"),
        F.round(fold.getField("b") / 100.0, 2).alias("trend"),
        F.round((fold.getField("l") + fold.getField("b")) / 100.0, 2).alias(
            "forecast_1"
        ),
    )


# ---------------------------------------------------------------------------
# text_rake_keyphrases — RAKE keyphrase extraction over the corpus
# ---------------------------------------------------------------------------

RAKE_TOPK = 15
_RAKE_STOPS: tuple[str, ...] = (
    "the", "of", "and", "to", "in", "a", "is", "it", "for", "on",
)
_RAKE_IN = ", ".join(f"'{w}'" for w in _RAKE_STOPS)


@register(
    "text_rake_keyphrases",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(t) AS word,
             generate_subscripts(t, 1) AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    nw AS (
      SELECT doc_id, word, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM w WHERE lower(word) NOT IN ({_RAKE_IN})
    ),
    pw AS (
      SELECT doc_id, island, word, pos,
             CAST(count(*) OVER (PARTITION BY doc_id, island) AS BIGINT)
               AS plen
      FROM nw
    ),
    ws AS (
      SELECT word,
             CAST(round(1000000.0 * sum(plen) / count(*)) AS BIGINT) AS s_u
      FROM pw GROUP BY 1
    ),
    scored AS (
      SELECT string_agg(pw.word, ' ' ORDER BY pw.pos) AS phrase,
             CAST(sum(ws.s_u) AS BIGINT) AS score_u
      FROM pw JOIN ws USING (word)
      GROUP BY pw.doc_id, pw.island
    ),
    agg AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
             CAST(min(score_u) AS BIGINT) AS score_u
      FROM scored GROUP BY 1
    ),
    ranked AS (
      SELECT phrase, n_occ, score_u,
             row_number() OVER (ORDER BY score_u DESC, phrase) AS rn
      FROM agg
    )
    SELECT phrase, n_occ, round(score_u / 1000000.0, 6) AS rake_score,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {RAKE_TOPK}
    """,
    doc=f"RAKE keyphrase extraction (Rose et al.): candidate phrases are "
    "maximal stopword-delimited word runs (gaps-and-islands on word "
    "positions — pos minus non-stop row_number), each word scores "
    "degree/frequency where degree sums the lengths of every phrase "
    "containing it, and a phrase scores the sum of its word scores. "
    "Word scores quantize to integer micro-units before the phrase sum, "
    f"so the top-{RAKE_TOPK} ranking hash-verifies. Identical phrase "
    "texts share one score by construction (min(score_u) is a no-op "
    "collapse both engines apply). Plan: one posexplode pass; phrase "
    "lengths come from a window on the SAME (doc, island) keys the "
    "phrase aggregation groups by (exchange reused, no exploded "
    "self-join); word scores are a vocab-sized broadcast back — the "
    "multi-word phrase mining shape tokenizer prep runs beside "
    "docs_pmi_collocations.",
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    nw = w.filter(~F.lower(F.col("word")).isin(*_RAKE_STOPS)).withColumn(
        "island",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    # phrase length via a window on the SAME (doc_id, island) keys the
    # phrase groupBy uses — no exploded-relation self-join, and the
    # island exchange is reused across both
    pw = nw.select(
        "doc_id",
        "island",
        "word",
        "pos",
        F.count(F.lit(1))
        .over(Window.partitionBy("doc_id", "island"))
        .cast("bigint")
        .alias("plen"),
    )
    ws = pw.groupBy("word").agg(
        F.round(1000000.0 * F.sum("plen") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("s_u")
    )
    scored = (
        pw.join(maybe_broadcast(ws), "word")
        .groupBy("doc_id", "island")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s.getField("word"),
                ),
            ).alias("phrase"),
            F.sum("s_u").cast("bigint").alias("score_u"),
        )
    )
    agg = scored.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        F.min("score_u").cast("bigint").alias("score_u"),
    )
    ranked = agg.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.desc("score_u"), F.asc("phrase"))),
    )
    out = ranked.filter(F.col("rn") <= RAKE_TOPK).select(
        "phrase",
        "n_occ",
        F.round(F.col("score_u") / 1000000.0, 6).alias("rake_score"),
        F.col("rn").cast("bigint").alias("rn"),
    )
    return persist_until_collected(pw, out)


# ---------------------------------------------------------------------------
# orders_price_index — Laspeyres / Paasche / Fisher vs the base year
# ---------------------------------------------------------------------------


@register(
    "orders_price_index",
    oracle="""
    WITH py AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS y, l_partkey,
             CAST(round(10000.0 * sum(CAST(round(l_extendedprice * 100)
                  AS BIGINT)) / sum(CAST(round(l_quantity) AS BIGINT)))
                  AS BIGINT) AS p_u,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    base AS (
      SELECT l_partkey, p_u AS p0, q AS q0 FROM py
      WHERE y = (SELECT min(y) FROM py)
    ),
    j AS (
      SELECT py.y, py.p_u, py.q, base.p0, base.q0
      FROM py JOIN base USING (l_partkey)
      WHERE py.y > (SELECT min(y) FROM py)
    ),
    s AS (
      SELECT y, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(CAST(p_u * q0 AS HUGEINT)) AS DOUBLE) AS l_num,
             CAST(sum(CAST(p0 * q0 AS HUGEINT)) AS DOUBLE) AS l_den,
             CAST(sum(CAST(p_u * q AS HUGEINT)) AS DOUBLE) AS p_num,
             CAST(sum(CAST(p0 * q AS HUGEINT)) AS DOUBLE) AS p_den
      FROM j GROUP BY 1
    )
    SELECT y AS year, n_parts,
           round(l_num / l_den, 6) AS laspeyres,
           round(p_num / p_den, 6) AS paasche,
           round(sqrt((l_num / l_den) * (p_num / p_den)), 6) AS fisher
    FROM s
    """,
    doc="Laspeyres, Paasche, and Fisher price indices per ship year "
    "against the base (first) year, over per-(part, year) unit prices — "
    "the canonical inflation/price-drift readout for a transactional "
    "fact table. Unit prices quantize to integer hundredths-of-a-cent, "
    "so every index numerator/denominator is an exact integer sum "
    "(price x base-quantity products), and the three ratios divide "
    "identically in both engines. Plan: one map-combined (part, year) "
    "aggregation, the base-year slice joins back hash-partitioned on "
    "partkey, then a per-year reduce of 4 exact sums — index state is "
    "O(years), never fact-proportional.",
)
def orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.year("l_shipdate").cast("bigint").alias("y"),
        "l_partkey",
    ).agg(
        F.round(
            10000.0
            * F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            / F.sum(F.round("l_quantity").cast("bigint"))
        )
        .cast("bigint")
        .alias("p_u"),
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q"),
    )
    y0 = py.agg(F.min("y").alias("y0"))
    base = (
        py.crossJoin(F.broadcast(y0))
        .filter(F.col("y") == F.col("y0"))
        .select(
            "l_partkey", F.col("p_u").alias("p0"), F.col("q").alias("q0")
        )
    )
    j = (
        py.crossJoin(F.broadcast(y0))
        .filter(F.col("y") > F.col("y0"))
        .join(maybe_broadcast(base), "l_partkey")
    )
    s = j.groupBy("y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum((F.col("p_u") * F.col("q0")).cast("decimal(38,0)"))
        .cast("double")
        .alias("l_num"),
        F.sum((F.col("p0") * F.col("q0")).cast("decimal(38,0)"))
        .cast("double")
        .alias("l_den"),
        F.sum((F.col("p_u") * F.col("q")).cast("decimal(38,0)"))
        .cast("double")
        .alias("p_num"),
        F.sum((F.col("p0") * F.col("q")).cast("decimal(38,0)"))
        .cast("double")
        .alias("p_den"),
    )
    out = s.select(
        F.col("y").alias("year"),
        "n_parts",
        F.round(F.col("l_num") / F.col("l_den"), 6).alias("laspeyres"),
        F.round(F.col("p_num") / F.col("p_den"), 6).alias("paasche"),
        F.round(
            F.sqrt(
                (F.col("l_num") / F.col("l_den"))
                * (F.col("p_num") / F.col("p_den"))
            ),
            6,
        ).alias("fisher"),
    )
    return persist_until_collected(py, out)


# ---------------------------------------------------------------------------
# agg_dispersion_test — Poisson overdispersion of daily counts per type
# ---------------------------------------------------------------------------


@register(
    "agg_dispersion_test",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cnt) AS BIGINT) AS s1,
             CAST(sum(CAST(cnt * cnt AS HUGEINT)) AS DOUBLE) AS s2
      FROM d GROUP BY 1
    ),
    m AS (
      SELECT event_type, n_days,
             s1 * 1.0 / n_days AS mean_cnt,
             (s2 - CAST(s1 AS DOUBLE) * s1 / n_days) / (n_days - 1) AS var_cnt
      FROM s WHERE n_days > 1
    )
    SELECT event_type, n_days,
           round(mean_cnt, 4) AS mean_cnt,
           round(var_cnt, 4) AS var_cnt,
           round(var_cnt / mean_cnt, 6) AS dispersion,
           round((n_days - 1) * (var_cnt / mean_cnt), 4) AS chi2_stat,
           CAST(CASE WHEN var_cnt / mean_cnt > 1.5 THEN 1 ELSE 0 END
                AS BIGINT) AS overdispersed
    FROM m
    """,
    doc="Index-of-dispersion (variance-to-mean) test per event type over "
    "daily counts — the screen that tells a Poisson arrival model from "
    "bursty/clumped traffic before anyone fits one (chi-square form "
    "(n-1)*D, flag at D > 1.5). Exact integer count sums "
    "(DECIMAL/HUGEINT squares) make the moments engine-identical before "
    "the two divisions. The events reduce map-side to (type, day) — at "
    "100 TB the test state is one row per type per day, and the moment "
    "reduce is 3 numbers per type. Pairs with events_weibull_gaps: "
    "dispersion screens the count process, Weibull fits the gap process.",
)
def agg_dispersion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cnt").cast("bigint").alias("s1"),
        F.sum((F.col("cnt") * F.col("cnt")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    m = s.filter(F.col("n_days") > 1).select(
        "event_type",
        "n_days",
        (F.col("s1") * 1.0 / F.col("n_days")).alias("mean_cnt"),
        (
            (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_days"))
            / (F.col("n_days") - 1)
        ).alias("var_cnt"),
    )
    return m.select(
        "event_type",
        "n_days",
        F.round("mean_cnt", 4).alias("mean_cnt"),
        F.round("var_cnt", 4).alias("var_cnt"),
        F.round(F.col("var_cnt") / F.col("mean_cnt"), 6).alias("dispersion"),
        F.round(
            (F.col("n_days") - 1) * (F.col("var_cnt") / F.col("mean_cnt")), 4
        ).alias("chi2_stat"),
        F.when(F.col("var_cnt") / F.col("mean_cnt") > 1.5, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# agg_runs_test — Wald-Wolfowitz runs test on the daily revenue series
# ---------------------------------------------------------------------------


@register(
    "agg_runs_test",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    ),
    med AS (
      SELECT CAST(round(quantile_cont(rev_c, 0.5) * 2) AS BIGINT) AS med2
      FROM d
    ),
    f AS (
      SELECT day, CASE WHEN d.rev_c * 2 > med.med2 THEN 1 ELSE 0 END AS hi
      FROM d CROSS JOIN med
    ),
    r AS (
      SELECT hi,
             CASE WHEN lag(hi) OVER (ORDER BY day) IS NULL
                  OR lag(hi) OVER (ORDER BY day) <> hi
                  THEN 1 ELSE 0 END AS new_run
      FROM f
    ),
    s AS (
      SELECT CAST(sum(new_run) AS BIGINT) AS runs,
             CAST(sum(hi) AS BIGINT) AS n_hi,
             CAST(count(*) - sum(hi) AS BIGINT) AS n_lo
      FROM r
    )
    SELECT runs, n_hi, n_lo,
           round(2.0 * n_hi * n_lo / (n_hi + n_lo) + 1.0, 4) AS expected_runs,
           round((runs - (2.0 * n_hi * n_lo / (n_hi + n_lo) + 1.0))
                 / sqrt(2.0 * n_hi * n_lo * (2.0 * n_hi * n_lo - n_hi - n_lo)
                        / ((n_hi + n_lo) * (n_hi + n_lo) * 1.0
                           * (n_hi + n_lo - 1))), 4) AS z_stat
    FROM s WHERE n_hi > 0 AND n_lo > 0
      AND 2.0 * n_hi * n_lo - n_hi - n_lo > 0
    """,
    doc="Wald-Wolfowitz runs test for randomness of the daily revenue "
    "series around its median (doubled-median integer split, so the "
    "above/below labeling is exact): too few runs means trending/"
    "clustered days, too many means oscillation — the nonparametric "
    "is-this-series-random screen beside the parametric control charts. "
    "Run boundaries come from one lag over the compacted daily series; "
    "counts are exact integers and the z arithmetic is written "
    "identically in both engines. Facts reduce map-side to day grain — "
    "the ordered scan is ~365 rows/year at any corpus size.",
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    med = d.agg(
        F.round(F.percentile("rev_c", F.lit(0.5)) * 2)
        .cast("bigint")
        .alias("med2")
    )
    f = d.crossJoin(F.broadcast(med)).select(
        "day",
        F.when(F.col("rev_c") * 2 > F.col("med2"), 1).otherwise(0).alias("hi"),
    )
    lag_hi = F.lag("hi").over(Window.orderBy("day"))
    r = f.select(
        "hi",
        F.when(lag_hi.isNull() | (lag_hi != F.col("hi")), 1)
        .otherwise(0)
        .alias("new_run"),
    )
    s = r.agg(
        F.sum("new_run").cast("bigint").alias("runs"),
        F.sum("hi").cast("bigint").alias("n_hi"),
        (F.count(F.lit(1)) - F.sum("hi")).cast("bigint").alias("n_lo"),
    )
    n_hi, n_lo = F.col("n_hi"), F.col("n_lo")
    mu = 2.0 * n_hi * n_lo / (n_hi + n_lo) + 1.0
    sigma = F.sqrt(
        2.0
        * n_hi
        * n_lo
        * (2.0 * n_hi * n_lo - n_hi - n_lo)
        / ((n_hi + n_lo) * (n_hi + n_lo) * 1.0 * (n_hi + n_lo - 1))
    )
    # n_hi = n_lo = 1 makes sigma exactly 0: drop the row in both
    # engines rather than divide by zero
    out = s.select(
        "runs",
        "n_hi",
        "n_lo",
        F.round(mu, 4).alias("expected_runs"),
        F.round((F.col("runs") - mu) / sigma, 4).alias("z_stat"),
    ).filter(
        (n_hi > 0)
        & (n_lo > 0)
        & (2.0 * n_hi * n_lo - n_hi - n_lo > 0)
    )
    return persist_until_collected(d, out)


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
# agg_median_test — Mood's median test across order priorities
# ---------------------------------------------------------------------------


@register(
    "agg_median_test",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x_c
      FROM orders
    ),
    med AS (
      SELECT CAST(round(quantile_cont(x_c, 0.5) * 2) AS BIGINT) AS med2
      FROM b
    ),
    f AS (
      SELECT grp,
             CASE WHEN b.x_c * 2 > med.med2 THEN 1 ELSE 0 END AS hi
      FROM b CROSS JOIN med
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(hi) AS BIGINT) AS a_i
      FROM f GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_i) AS BIGINT) AS nn, CAST(sum(a_i) AS BIGINT) AS aa,
             CAST(count(*) AS BIGINT) AS k
      FROM g
    ),
    terms AS (
      SELECT
        CAST(round(1000000000.0
          * ((a_i - n_i * (aa * 1.0 / nn)) * (a_i - n_i * (aa * 1.0 / nn)))
          / (n_i * (aa * 1.0 / nn))) AS BIGINT)
        + CAST(round(1000000000.0
          * (((n_i - a_i) - n_i * ((nn - aa) * 1.0 / nn))
             * ((n_i - a_i) - n_i * ((nn - aa) * 1.0 / nn)))
          / (n_i * ((nn - aa) * 1.0 / nn))) AS BIGINT) AS t_nn,
        tot.k, tot.nn
      FROM g CROSS JOIN tot
    )
    SELECT CAST(min(k) AS BIGINT) AS n_groups,
           CAST(min(nn) AS BIGINT) AS n_rows,
           round(CAST(sum(t_nn) AS BIGINT) / 1000000000.0, 4) AS chi2_stat,
           CAST(min(k) - 1 AS BIGINT) AS dof
    FROM terms
    """,
    doc="Mood's median test across the 5 order priorities: classify every "
    "order strictly-above / at-or-below the GRAND doubled-median (exact "
    "integer comparison), then the k x 2 contingency chi-square against "
    "the pooled proportion. The location complement to agg_levene_bf's "
    "spread test — together they say whether priorities differ in center "
    "or in dispersion without any normality assumption. Per-group "
    "chi-square terms quantize to nano-units before the k-row sum, so "
    "the statistic hash-verifies. One 1-row exact-median pass, one "
    "map-combined conditional count per group — two tiny shuffles at "
    "any scale.",
)
def agg_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (VERDICT r14 item 4): the grand doubled-median no longer runs as
    # a global F.percentile aggregate (fact-proportional value map through
    # ONE reducer — §2.2) but via the shared two-pass range selection:
    # med2 = v_lower + v_higher in exact integers (selection.py docstring;
    # pinned by tests/test_r15_selection.py), embedded as a literal — the
    # k x 2 table is then ONE map-combined grouped pass, no crossJoin.
    from mongodb_nats_connector_spark.plans.selection import (
        _median_ranks,
        doubled_median2,
        selected_order_stats,
    )

    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x_c"),
    )
    n_b, at = selected_order_stats(b, "x_c", _median_ranks)[()]
    med2 = doubled_median2(n_b, at)
    f = b.select(
        "grp",
        F.when(F.col("x_c") * 2 > F.lit(med2).cast("bigint"), 1)
        .otherwise(0)
        .alias("hi"),
    )
    g = f.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("hi").cast("bigint").alias("a_i"),
    )
    tot = g.agg(
        F.sum("n_i").cast("bigint").alias("nn"),
        F.sum("a_i").cast("bigint").alias("aa"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    p_hi = F.col("aa") * 1.0 / F.col("nn")
    p_lo = (F.col("nn") - F.col("aa")) * 1.0 / F.col("nn")
    hi_dev = F.col("a_i") - F.col("n_i") * p_hi
    lo_dev = (F.col("n_i") - F.col("a_i")) - F.col("n_i") * p_lo
    terms = g.crossJoin(F.broadcast(tot)).select(
        (
            F.round(1000000000.0 * (hi_dev * hi_dev) / (F.col("n_i") * p_hi))
            .cast("bigint")
            + F.round(
                1000000000.0 * (lo_dev * lo_dev) / (F.col("n_i") * p_lo)
            ).cast("bigint")
        ).alias("t_nn"),
        "k",
        "nn",
    )
    out = terms.agg(
        F.min("k").cast("bigint").alias("n_groups"),
        F.min("nn").cast("bigint").alias("n_rows"),
        F.round(F.sum("t_nn").cast("bigint") / 1000000000.0, 4).alias(
            "chi2_stat"
        ),
        (F.min("k") - 1).cast("bigint").alias("dof"),
    )
    return persist_until_collected(g, out)


# ---------------------------------------------------------------------------
# events_power_analysis — two-proportion A/B sample-size / MDE planner
# ---------------------------------------------------------------------------

POWER_Z_ALPHA = 1.959964  # two-sided alpha = 0.05
POWER_Z_BETA = 0.841621  # power = 0.80
POWER_MDE_PP = (1.0, 2.0, 5.0)  # candidate detectable lifts, percent points
_POWER_VALUES = ", ".join(f"({m!r})" for m in POWER_MDE_PP)


@register(
    "events_power_analysis",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS np
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    med AS (
      SELECT CAST(round(quantile_cont(np, 0.5) * 2) AS BIGINT) AS med2 FROM p
    ),
    u AS (
      SELECT CASE WHEN p.np * 2 > med.med2 THEN 1 ELSE 0 END AS conv
      FROM p CROSS JOIN med
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(conv) AS BIGINT) AS conv_users
      FROM u
    ),
    mde(lift_pp) AS (VALUES {_POWER_VALUES}),
    calc AS (
      SELECT base.n_users, base.conv_users, mde.lift_pp,
             conv_users * 1.0 / n_users AS p1,
             conv_users * 1.0 / n_users + lift_pp / 100.0 AS p2
      FROM base CROSS JOIN mde
    )
    SELECT n_users, conv_users, lift_pp,
           round(p1, 6) AS baseline_rate,
           CAST(ceil(
             ({POWER_Z_ALPHA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                * (1.0 - (p1 + p2) / 2.0))
              + {POWER_Z_BETA!r} * sqrt(p1 * (1.0 - p1)
                + p2 * (1.0 - p2)))
             * ({POWER_Z_ALPHA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                * (1.0 - (p1 + p2) / 2.0))
              + {POWER_Z_BETA!r} * sqrt(p1 * (1.0 - p1)
                + p2 * (1.0 - p2)))
             / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm,
           CAST(CASE WHEN n_users / 2 >= CAST(ceil(
             ({POWER_Z_ALPHA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                * (1.0 - (p1 + p2) / 2.0))
              + {POWER_Z_BETA!r} * sqrt(p1 * (1.0 - p1)
                + p2 * (1.0 - p2)))
             * ({POWER_Z_ALPHA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                * (1.0 - (p1 + p2) / 2.0))
              + {POWER_Z_BETA!r} * sqrt(p1 * (1.0 - p1)
                + p2 * (1.0 - p2)))
             / ((p2 - p1) * (p2 - p1))) AS BIGINT)
             THEN 1 ELSE 0 END AS BIGINT) AS currently_powered
    FROM calc WHERE p2 < 1.0
    """,
    doc="Two-proportion A/B sample-size planner: for candidate lifts of "
    f"{POWER_MDE_PP} percent points over the observed heavy-purchaser rate "
    "(strictly above the median per-user purchase count — the same "
    "scale-free outcome events_odds_ratio tests, never saturated at "
    "1.0), the required users per arm at alpha=0.05 "
    "(two-sided) and 80% power — the pooled-variance normal "
    "approximation every experimentation platform quotes — plus whether "
    "the CURRENT population already powers that lift. Closes the "
    "experiment-design loop around the readout family (welch / CUPED / "
    "DiD / odds-ratio / effect-size): those analyze a finished test, "
    "this says whether a planned one can work. z constants are fixed "
    "literals, so the only data dependency is one (user_id)-keyed "
    "collapse to a 2-number summary — a single map-combined shuffle at "
    "any scale, then per-candidate scalar arithmetic written identically "
    "in both engines.",
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    p = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("np")
    )
    med = p.agg(
        F.round(F.percentile("np", F.lit(0.5)) * 2).cast("bigint").alias("med2")
    )
    u = p.crossJoin(F.broadcast(med)).select(
        F.when(F.col("np") * 2 > F.col("med2"), 1).otherwise(0).alias("conv")
    )
    base = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("conv_users"),
    )
    mde = F.explode(
        F.array(*[F.lit(m) for m in POWER_MDE_PP])
    ).alias("lift_pp")
    calc = base.select("*", mde).select(
        "n_users",
        "conv_users",
        "lift_pp",
        (F.col("conv_users") * 1.0 / F.col("n_users")).alias("p1"),
        (
            F.col("conv_users") * 1.0 / F.col("n_users")
            + F.col("lift_pp") / 100.0
        ).alias("p2"),
    )
    p1, p2 = F.col("p1"), F.col("p2")
    pbar = (p1 + p2) / 2.0
    num = F.lit(POWER_Z_ALPHA) * F.sqrt(2.0 * pbar * (1.0 - pbar)) + F.lit(
        POWER_Z_BETA
    ) * F.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
    n_req = F.ceil(num * num / ((p2 - p1) * (p2 - p1))).cast("bigint")
    out = calc.filter(p2 < 1.0).select(
        "n_users",
        "conv_users",
        "lift_pp",
        F.round(p1, 6).alias("baseline_rate"),
        n_req.alias("n_per_arm"),
        F.when(F.col("n_users") / 2 >= n_req, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("currently_powered"),
    )
    return persist_until_collected(p, out)


# ---------------------------------------------------------------------------
# agg_spearman_corr — Spearman rank correlation with midrank ties
# ---------------------------------------------------------------------------


@register(
    "agg_spearman_corr",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    cells AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY x, y
    ),
    xm AS (
      SELECT x, CAST(2 * sum(cx) OVER (ORDER BY x) - cx + 1 AS BIGINT) AS rx2
      FROM (SELECT x, CAST(sum(cnt) AS BIGINT) AS cx FROM cells GROUP BY x)
    ),
    ym AS (
      SELECT y, CAST(2 * sum(cy) OVER (ORDER BY y) - cy + 1 AS BIGINT) AS ry2
      FROM (SELECT y, CAST(sum(cnt) AS BIGINT) AS cy FROM cells GROUP BY y)
    ),
    j AS (
      SELECT CAST(c.cnt AS HUGEINT) AS cnt,
             CAST(xm.rx2 AS HUGEINT) AS rx2,
             CAST(ym.ry2 AS HUGEINT) AS ry2
      FROM cells c JOIN xm ON c.x = xm.x JOIN ym ON c.y = ym.y
    ),
    s AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * rx2) AS DOUBLE) AS sx,
             CAST(sum(cnt * ry2) AS DOUBLE) AS sy,
             CAST(sum(cnt * rx2 * rx2) AS DOUBLE) AS sxx,
             CAST(sum(cnt * ry2 * ry2) AS DOUBLE) AS syy,
             CAST(sum(cnt * rx2 * ry2) AS DOUBLE) AS sxy
      FROM j
    )
    SELECT n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS spearman_rho,
           round(((n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                 * sqrt((n - 2)
                   / (1.0 - ((n * sxy - sx * sy)
                      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                     * ((n * sxy - sx * sy)
                        / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))))),
                 4) AS t_stat
    FROM s
    WHERE n > 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    doc="Spearman rank correlation between quantity and extended price "
    "with proper midrank tie handling — the monotonic-association "
    "complement to Pearson (agg_regression). Doubled midranks "
    "(2*cumcount - ties + 1, exact integers): the x marginal (~50 "
    "quantities, bounded domain) becomes a literal rank map computed in "
    "exact Python ints from one collected (bucket, x) aggregation; the y "
    "midrank is computed IN PLACE on the range-bucketed "
    "fact (r14 optimization) — quantile boundaries sketched once and "
    "embedded as literals (the plans/ranking.py contract: any boundary "
    "set yields the same ranks), per-bucket row counts (<= 32 rows, "
    "bounded, from the same collected aggregation) prefixed into a "
    "literal offset map, and "
    "within each bucket two "
    "RANGE-frame counts over one sort (cumulative-through-peers + "
    "tie-group size) give ry2 = 2*(offset+cum) - ties + 1, exactly the "
    "oracle's cumulative-count midrank. The former fact-sized "
    "(x,y)-cell aggregation, the y-marginal groupBy, and the "
    "fact-vs-marginal re-join (three near-fact-sized exchanges — y is "
    "~unique per row, so cell compaction compacted nothing) all "
    "collapse into ONE range shuffle of the (x, y) projection. All six "
    "sufficient sums then fold in a single aggregation whose products "
    "multiply in DECIMAL(38,0)/HUGEINT (ranks grow with row count, so "
    "a BIGINT product would wrap past ~1.5e9 rows; rx2*ry2 <= 4n^2 "
    "per term and n*4n^2 summed stays inside 38 digits up to ~3e12 "
    "rows; summation is exact-integer, so the regrouped order cannot "
    "move a bit). Rho "
    "plus its t statistic are closed-form double arithmetic written "
    "identically in both engines; zero-variance sides emit zero rows.",
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # non-null guard mirrors the oracle's inner joins on x and y (NULL
    # never equal): free on TPC-H data, exact on anything else
    b = (
        li.select(
            F.round("l_quantity").cast("bigint").alias("x"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .persist()
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # build pass, FUSED into ONE job (formerly two: a percentile_approx
    # boundary sketch + a separate (bucket, x) count collect): group the
    # persisted projection by (coarse y-cell, x) — cell = arithmetic
    # shift y >> 18, clamped to a bounded grid, monotone and exact on
    # BIGINTs — and collect the bounded grid (<= ~50 x-values times the
    # occupied cells). The collected counts yield EVERYTHING the former
    # two jobs produced: balanced y-bucket boundaries chosen at CELL
    # EDGES (so per-bucket offsets are exact cumulative cell counts),
    # the bucket offset map, and the doubled x midranks. ANY boundary
    # set yields the same midranks — boundaries only balance the
    # per-bucket sorts — and cell-edge literals obey the same
    # `y > bound` test the executed plan always used.
    n_bkt = 32
    _CELL_SHIFT, _CELL_CLAMP = 18, 4096
    cell = F.least(
        F.greatest(
            F.shiftright(F.col("y"), _CELL_SHIFT), F.lit(-_CELL_CLAMP)
        ),
        F.lit(_CELL_CLAMP - 1),
    )
    g_rows = (
        b.groupBy(cell.alias("_cell"), "x")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()
    )
    ccell: dict[int, int] = {}
    cx: dict[int, int] = {}
    for r in g_rows:
        ccell[r["_cell"]] = ccell.get(r["_cell"], 0) + r["_cnt"]
        cx[r["x"]] = cx.get(r["x"], 0) + r["_cnt"]
    n_total = sum(ccell.values())
    # balanced cell-edge boundaries: walk occupied cells ascending, cut
    # after a cell once the cumulative count passes the next 1/n_bkt
    # target. The LAST occupied cell is never a cut (clamped rows above
    # the grid must stay inside the final bucket), so every boundary
    # literal (c+1)*2^shift - 1 exactly separates cell <= c from > c.
    bvals: list[int] = []
    cnts: dict[int, int] = {}
    sorted_cells = sorted(ccell)
    acc = 0
    bucket_acc = 0
    for c in sorted_cells[:-1] if sorted_cells else []:
        acc += ccell[c]
        bucket_acc += ccell[c]
        if len(bvals) < n_bkt - 1 and acc * n_bkt >= (len(bvals) + 1) * n_total:
            bvals.append((c + 1) * (1 << _CELL_SHIFT) - 1)
            cnts[len(bvals) - 1] = bucket_acc
            bucket_acc = 0
    if sorted_cells:
        cnts[len(bvals)] = bucket_acc + ccell[sorted_cells[-1]]
    bounds_lit = (
        F.array(*[F.lit(v) for v in bvals])
        if bvals
        else F.array().cast("array<bigint>")
    )
    withbkt = b.withColumn(
        "_bkt",
        F.size(F.filter(bounds_lit, lambda e: F.col("y") > e)).cast("int"),
    )
    off_acc = 0
    off_map = {}
    for k in sorted(cnts):
        off_map[k] = off_acc
        off_acc += cnts[k]
    rx_acc = 0
    rx_map = {}
    for xv in sorted(cx):
        rx_map[xv] = 2 * (rx_acc + cx[xv]) - cx[xv] + 1
        rx_acc += cx[xv]
    om = F.create_map(
        *[
            c
            for k, v in sorted(off_map.items())
            for c in (F.lit(k).cast("int"), F.lit(v).cast("bigint"))
        ]
    ) if off_map else F.create_map().cast("map<int,bigint>")
    rxm = F.create_map(
        *[
            c
            for k, v in sorted(rx_map.items())
            for c in (F.lit(k).cast("bigint"), F.lit(v).cast("bigint"))
        ]
    ) if rx_map else F.create_map().cast("map<bigint,bigint>")
    w = Window.partitionBy("_bkt").orderBy("y")
    cum = F.count(F.lit(1)).over(
        w.rangeBetween(Window.unboundedPreceding, 0)
    )
    ties = F.count(F.lit(1)).over(w.rangeBetween(0, 0))
    ranked = withbkt.select(
        "y",
        rxm[F.col("x")].alias("rx2"),
        (2 * (om[F.col("_bkt")] + cum) - ties + 1).cast("bigint").alias("ry2"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(F.col("rx2"))).cast("double").alias("sx"),
        F.sum(dec(F.col("ry2"))).cast("double").alias("sy"),
        F.sum(dec(F.col("rx2")) * dec(F.col("rx2")))
        .cast("double")
        .alias("sxx"),
        F.sum(dec(F.col("ry2")) * dec(F.col("ry2")))
        .cast("double")
        .alias("syy"),
        F.sum(dec(F.col("rx2")) * dec(F.col("ry2")))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(varx * vary)
    out = s.filter((n > 2) & (varx > 0) & (vary > 0)).select(
        "n",
        F.round(rho, 6).alias("spearman_rho"),
        F.round(rho * F.sqrt((n - 2) / (1.0 - rho * rho)), 4).alias("t_stat"),
    )
    return release_on_gc(b, out)


# ---------------------------------------------------------------------------
# orders_nelson_aalen — cumulative hazard of repeat purchase
# ---------------------------------------------------------------------------


@register(
    "orders_nelson_aalen",
    oracle="""
    WITH o2 AS (
      SELECT o_custkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    firsts AS (SELECT o_custkey, o_orderdate AS t1 FROM o2 WHERE rn = 1),
    seconds AS (SELECT o_custkey, o_orderdate AS t2 FROM o2 WHERE rn = 2),
    mx AS (SELECT max(o_orderdate) AS tmax FROM orders),
    obs AS (
      SELECT CAST(CASE WHEN s.t2 IS NOT NULL
                  THEN date_diff('day', CAST(f.t1 AS DATE), CAST(s.t2 AS DATE))
                  ELSE date_diff('day', CAST(f.t1 AS DATE), CAST(m.tmax AS DATE))
             END AS BIGINT) AS dur,
             CAST(CASE WHEN s.t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS ev
      FROM firsts f LEFT JOIN seconds s ON s.o_custkey = f.o_custkey, mx m
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM obs),
    g AS (
      SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS leaving
      FROM obs GROUP BY 1
    ),
    risk AS (
      SELECT dur, d,
             tot.n0 - coalesce(sum(leaving) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM g CROSS JOIN tot
    ),
    haz AS (
      SELECT dur, d, n_risk,
             CAST(sum((2000000000 * d + n_risk) // (2 * n_risk))
                  OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS h_nn
      FROM risk WHERE d > 0
    )
    SELECT dur AS duration_days, d AS n_events,
           CAST(n_risk AS BIGINT) AS n_risk,
           h_nn AS cum_hazard_nn,
           CAST(h_nn AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS cum_hazard
    FROM haz
    """,
    doc="Nelson-Aalen cumulative hazard of the second purchase (with "
    "right-censoring at the horizon) — the estimator-of-choice when the "
    "HAZARD, not the survival curve, is the readout (the "
    "low-risk-set-robust sibling of orders_survival_km's product-limit). "
    "Per-duration increments d/n quantize to integer nano-units with "
    "ALL-INTEGER half-away division (2e9*d + n) div (2n) — no float "
    "multiply/divide/round anywhere before the single final h_nn/1e9 "
    "display division, which is one correctly-rounded IEEE op on "
    "identical integers and therefore bit-identical across engines. "
    "(Two prior variants each left one float round() on the hash "
    "surface and diverged on the driver platform while probing "
    "bit-exact locally.) "
    "Same plan shape as KM: one per-customer window for first/second "
    "orders, risk sets as a cumulative window over the duration-grouped "
    "relation — everything after the first shuffle is "
    "duration-cardinality-sized.",
)
def orders_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o2 = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w2).alias("rn")
    )
    firsts = o2.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderdate").alias("t1")
    )
    seconds = o2.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("o_orderdate").alias("t2")
    )
    mx = o.agg(F.max("o_orderdate").alias("tmax"))
    obs = (
        firsts.join(seconds, "o_custkey", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("t2").isNotNull(),
                F.datediff(F.col("t2").cast("date"), F.col("t1").cast("date")),
            )
            .otherwise(
                F.datediff(F.col("tmax").cast("date"), F.col("t1").cast("date"))
            )
            .cast("bigint")
            .alias("dur"),
            F.when(F.col("t2").isNotNull(), 1).otherwise(0).cast("bigint").alias("ev"),
        )
    )
    tot = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n0"))
    g = obs.groupBy("dur").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = g.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        (
            F.col("n0")
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    haz = risk.filter(F.col("d") > 0).select(
        "dur",
        "d",
        "n_risk",
        F.sum(
            F.expr(
                "(CAST(2000000000 AS BIGINT) * d + n_risk) div (2 * n_risk)"
            )
        )
        .over(wcum)
        .cast("bigint")
        .alias("h_nn"),
    )
    out = haz.select(
        F.col("dur").alias("duration_days"),
        F.col("d").alias("n_events"),
        "n_risk",
        F.col("h_nn").alias("cum_hazard_nn"),
        (F.col("h_nn").cast("double") / F.lit(1000000000).cast("double")).alias(
            "cum_hazard"
        ),
    )
    return persist_until_collected(obs, out)


# ---------------------------------------------------------------------------
# docs_js_divergence — Jensen-Shannon divergence between two sources
# ---------------------------------------------------------------------------

JS_SOURCE_A = "src0"
JS_SOURCE_B = "src1"


@register(
    "docs_js_divergence",
    oracle=f"""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents WHERE source IN ('{JS_SOURCE_A}', '{JS_SOURCE_B}')
    ),
    c AS (
      SELECT word,
             CAST(sum(CASE WHEN source = '{JS_SOURCE_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN source = '{JS_SOURCE_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM w GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM c
    ),
    terms AS (
      SELECT
        CASE WHEN ca > 0 THEN
          CAST(round(1000000000.0 * (ca * 1.0 / tot.na)
            * ln((ca * 1.0 / tot.na)
                 / ((ca * 1.0 / tot.na + cb * 1.0 / tot.nb) / 2.0)))
          AS BIGINT) ELSE 0 END AS ta,
        CASE WHEN cb > 0 THEN
          CAST(round(1000000000.0 * (cb * 1.0 / tot.nb)
            * ln((cb * 1.0 / tot.nb)
                 / ((ca * 1.0 / tot.na + cb * 1.0 / tot.nb) / 2.0)))
          AS BIGINT) ELSE 0 END AS tb
      FROM c CROSS JOIN tot
    )
    SELECT tot.na AS n_tokens_a, tot.nb AS n_tokens_b,
           CAST(count(*) AS BIGINT) AS vocab_union,
           round((CAST(sum(ta) AS BIGINT) + CAST(sum(tb) AS BIGINT))
                 / 2.0 / 1000000000.0, 6) AS js_nats
    FROM terms CROSS JOIN tot
    GROUP BY tot.na, tot.nb
    HAVING tot.na > 0 AND tot.nb > 0
    """,
    doc=f"Jensen-Shannon divergence between the '{JS_SOURCE_A}' and "
    f"'{JS_SOURCE_B}' word distributions — the SYMMETRIC, bounded "
    "(<= ln 2) distribution distance for comparing corpus slices "
    "(text_kl_divergence compares each doc to the corpus; JS compares "
    "source to source, the drift metric dataset mixers watch). Each "
    "word's two KL(P||M)/KL(Q||M) contributions quantize to integer "
    "nano-nats BEFORE the vocab-wide sums, so the divergence "
    "hash-verifies. One pushed-filter scan, one (word)-keyed "
    "map-combined count, then vocab-sized arithmetic — at 100 TB the "
    "only corpus-proportional work is the token count shuffle.",
)
def docs_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True).filter(
        F.col("source").isin(JS_SOURCE_A, JS_SOURCE_B)
    )
    w = docs.select("source", F.explode(F.split("text", " ")).alias("word"))
    c = w.groupBy("word").agg(
        F.sum(F.when(F.col("source") == JS_SOURCE_A, 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("source") == JS_SOURCE_B, 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    tot = c.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    pa = F.col("ca") * 1.0 / F.col("na")
    pb = F.col("cb") * 1.0 / F.col("nb")
    m = (F.col("ca") * 1.0 / F.col("na") + F.col("cb") * 1.0 / F.col("nb")) / 2.0
    terms = c.crossJoin(F.broadcast(tot)).select(
        "na",
        "nb",
        F.when(
            F.col("ca") > 0,
            F.round(1000000000.0 * pa * F.log(pa / m)).cast("bigint"),
        )
        .otherwise(0)
        .alias("ta"),
        F.when(
            F.col("cb") > 0,
            F.round(1000000000.0 * pb * F.log(pb / m)).cast("bigint"),
        )
        .otherwise(0)
        .alias("tb"),
    )
    out = (
        terms.groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("vocab_union"),
            F.round(
                (F.sum("ta").cast("bigint") + F.sum("tb").cast("bigint"))
                / 2.0
                / 1000000000.0,
                6,
            ).alias("js_nats"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            F.col("na").alias("n_tokens_a"),
            F.col("nb").alias("n_tokens_b"),
            "vocab_union",
            "js_nats",
        )
    )
    return persist_until_collected(c, out)


# ---------------------------------------------------------------------------
# events_entropy_rate — entropy rate of the empirical event-type chain
# ---------------------------------------------------------------------------


@register(
    "events_entropy_rate",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, ts FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ),
    tr AS (
      SELECT prev, event_type AS nxt FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM e
      ) WHERE prev IS NOT NULL
    ),
    j AS (
      SELECT prev, nxt, CAST(count(*) AS BIGINT) AS nij FROM tr GROUP BY 1, 2
    ),
    mi AS (SELECT prev, CAST(sum(nij) AS BIGINT) AS ni FROM j GROUP BY 1),
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS nn FROM j),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n_states FROM mi),
    t AS (
      SELECT CAST(round(1000000000.0 * (nij * 1.0 / tot.nn)
               * ln(mi.ni * 1.0 / nij)) AS BIGINT) AS v
      FROM j JOIN mi USING (prev) CROSS JOIN tot
    ),
    s AS (SELECT CAST(sum(v) AS BIGINT) AS s FROM t)
    SELECT tot.nn AS n_transitions, st.n_states,
           round(s.s / 1000000000.0, 6) AS entropy_rate_nats,
           round(ln(CAST(st.n_states AS DOUBLE)), 6) AS max_entropy_nats,
           round((s.s / 1000000000.0) / ln(CAST(st.n_states AS DOUBLE)), 6)
             AS efficiency
    FROM tot CROSS JOIN st CROSS JOIN s
    WHERE st.n_states > 1
    """,
    doc="Entropy rate of the empirical per-user event-type Markov chain: "
    "H = -sum pi_i p_ij ln p_ij with the empirical visit distribution as "
    "pi — how PREDICTABLE the next action is given the current one "
    "(efficiency = rate / ln(states): 1.0 means memoryless uniform, near "
    "0 means deterministic journeys; the sequence-information complement "
    "to events_user_transitions' raw matrix). Per-cell terms quantize to "
    "integer nano-nats before the cell-count-sized sum. Plan: one "
    "(user_id)-keyed lag window over pushed-filter events, one "
    "map-combined count to the |types|^2 joint relation — everything "
    "after is constant-size. Single-state chains emit zero rows.",
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            "event_type", F.lag("event_type").over(wlag).alias("prev")
        )
        .filter(F.col("prev").isNotNull())
        .select("prev", F.col("event_type").alias("nxt"))
    )
    j = tr.groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    mi = j.groupBy("prev").agg(F.sum("nij").cast("bigint").alias("ni"))
    tot = j.agg(F.sum("nij").cast("bigint").alias("nn"))
    st = mi.agg(F.count(F.lit(1)).cast("bigint").alias("n_states"))
    t = (
        j.join(maybe_broadcast(mi), "prev")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                1000000000.0
                * (F.col("nij") * 1.0 / F.col("nn"))
                * F.log(F.col("ni") * 1.0 / F.col("nij"))
            )
            .cast("bigint")
            .alias("v")
        )
    )
    s = t.agg(F.sum("v").cast("bigint").alias("s"))
    out = (
        tot.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(s))
        .filter(F.col("n_states") > 1)
        .select(
            F.col("nn").alias("n_transitions"),
            "n_states",
            F.round(F.col("s") / 1000000000.0, 6).alias("entropy_rate_nats"),
            F.round(F.log(F.col("n_states").cast("double")), 6).alias(
                "max_entropy_nats"
            ),
            F.round(
                (F.col("s") / 1000000000.0)
                / F.log(F.col("n_states").cast("double")),
                6,
            ).alias("efficiency"),
        )
    )
    return persist_until_collected(j, out)
