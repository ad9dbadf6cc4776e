"""Round-13 tranche, registered through ``registry._load_all``: 50
queries, three-SF bit-exact and identity-pinned (tests/test_round19.py).

Reference provenance: like pipeline7-18, none of these operators exist in
the reference's Go core (a MongoDB change-stream -> NATS connector,
/root/reference/internal/mongo/client.go) — they extend the engine-side
analytics surface documented in SURVEY.md §2.3/§2.4 downstream of the
connector's change streams.

Cross-engine determinism rules (the pipeline11-18 discipline):
- exact integers end-to-end on the hash surface; cumulative masses over
  value DOMAINS (never row-proportional rank windows);
- any total that can cross 2^53 stays DECIMAL(38,0)/HUGEINT and
  floor-divides (`div` / ``//``) to a sub-2^53 integer before the ONE
  double conversion;
- integer `div` (Spark) and `//` (DuckDB) BOTH truncate toward zero on
  negatives (only Python's // floors), so signed divisions match across
  engines;
- no exp/ln/pow/round-of-float on the hash surface, with ONE declared
  exception (the ``agg_mutual_information`` precedent): operators that
  need a logarithm (``agg_g_test``, ``agg_theil_index``, ``agg_log_loss``,
  ``events_dfa_alpha``, ...) put FLOOR-QUANTIZED ln() micro-nat INTEGERS
  per distinct DOMAIN cell on the hash surface. ln is libm-dependent (not
  IEEE-correctly-rounded), so a 1-ulp cross-engine difference exactly at
  a floor boundary could flip a digest; the risk is bounded because the
  quantized argument set is the small distinct-cell domain (not raw
  rows), and the parity suite + three-SF bit-exact probes check every
  such cell. +,-,*,/ and sqrt remain IEEE-correctly-rounded and
  bit-portable in fixed operand order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table

__all__: list[str] = []


# ---------------------------------------------------------------------------
# agg_g_test — likelihood-ratio G² independence test (segment × priority)
# ---------------------------------------------------------------------------


@register(
    "agg_g_test",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT seg, pri, CAST(count(*) AS BIGINT) AS n
      FROM j GROUP BY seg, pri
    ),
    m AS (
      SELECT seg, pri, n,
             CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS r,
             CAST(sum(n) OVER (PARTITION BY pri) AS BIGINT) AS c,
             CAST(sum(n) OVER () AS BIGINT) AS nn
      FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(nn) AS BIGINT) AS n_total,
           CAST(2 * sum(CAST(floor(1000000.0 * n *
                ln((CAST(n AS DOUBLE) * nn)
                   / (CAST(r AS DOUBLE) * c))) AS BIGINT)) AS BIGINT)
             AS g2_micro
    FROM m
    """,
    doc="Likelihood-ratio G-test of independence between market segment "
    "and order priority: G^2 = 2 sum O_ij ln(O_ij N / (R_i C_j)) over "
    "the 5x5 contingency table — the statistic Pearson's chi-square "
    "(agg_chi_square, same frame) approximates to second order, "
    "preferred when expected counts are small or the additivity of "
    "G across nested models matters. Each of the 25 cells quantizes "
    "its term O*ln(O*N/(R*C)) to integer micro-nats BEFORE the sum "
    "(the agg_mutual_information precedent: ln runs on one "
    "correctly-rounded double ratio per DOMAIN cell, never per row), "
    "so the 25-term sum is exact integer arithmetic. One fact-sized "
    "hash join + one map-combined aggregation to the 25-cell grid; "
    "margins via bounded grid windows.",
)
def agg_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
    )
    cells = j.groupBy("seg", "pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    m = cells.select(
        "seg",
        "pri",
        "n",
        F.sum("n").over(Window.partitionBy("seg")).cast("bigint").alias("r"),
        F.sum("n").over(Window.partitionBy("pri")).cast("bigint").alias("c"),
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("nn"),
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("nn").cast("bigint").alias("n_total"),
        (
            2
            * F.sum(
                F.floor(
                    1000000.0
                    * F.col("n")
                    * F.log(
                        (F.col("n").cast("double") * F.col("nn"))
                        / (F.col("r").cast("double") * F.col("c"))
                    )
                ).cast("bigint")
            )
        )
        .cast("bigint")
        .alias("g2_micro"),
    )


# ---------------------------------------------------------------------------
# agg_freeman_tukey — Freeman-Tukey T² goodness statistic (same frame)
# ---------------------------------------------------------------------------


@register(
    "agg_freeman_tukey",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT seg, pri, CAST(count(*) AS BIGINT) AS n
      FROM j GROUP BY seg, pri
    ),
    m AS (
      SELECT seg, pri, n,
             CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS r,
             CAST(sum(n) OVER (PARTITION BY pri) AS BIGINT) AS c,
             CAST(sum(n) OVER () AS BIGINT) AS nn
      FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(nn) AS BIGINT) AS n_total,
           CAST(sum(CAST(floor(4000000.0 *
                (sqrt(CAST(n AS DOUBLE))
                 - sqrt((CAST(r AS DOUBLE) * c) / nn))
                * (sqrt(CAST(n AS DOUBLE))
                   - sqrt((CAST(r AS DOUBLE) * c) / nn)))
                AS BIGINT)) AS BIGINT) AS ft_micro
    FROM m
    """,
    doc="Freeman-Tukey T^2 = 4 sum (sqrt(O) - sqrt(E))^2 on the segment x "
    "priority contingency table — the variance-stabilized member of the "
    "power-divergence family, robust to small expected counts where "
    "Pearson's X^2 inflates; completes the trio with agg_chi_square "
    "(lambda=1) and agg_g_test (lambda=0). E_ij = R_i C_j / N as ONE "
    "fixed-shape double ratio per DOMAIN cell; sqrt is IEEE-correctly-"
    "rounded so each cell's 4(sqrt O - sqrt E)^2 quantizes to integer "
    "micro-units before the exact 25-term sum. Same single-join, "
    "grid-window plan as its siblings.",
)
def agg_freeman_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
    )
    cells = j.groupBy("seg", "pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    m = cells.select(
        "n",
        F.sum("n").over(Window.partitionBy("seg")).cast("bigint").alias("r"),
        F.sum("n").over(Window.partitionBy("pri")).cast("bigint").alias("c"),
        F.sum("n").over(Window.partitionBy()).cast("bigint").alias("nn"),
    )
    diff = F.sqrt(F.col("n").cast("double")) - F.sqrt(
        (F.col("r").cast("double") * F.col("c")) / F.col("nn")
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("nn").cast("bigint").alias("n_total"),
        F.sum(F.floor(F.lit(4000000.0) * diff * diff).cast("bigint"))
        .cast("bigint")
        .alias("ft_micro"),
    )


# ---------------------------------------------------------------------------
# agg_scott_pi — Scott's pi agreement (first-vs-last priority, 3-cat)
# ---------------------------------------------------------------------------


@register(
    "agg_scott_pi",
    oracle="""
    WITH fl AS (
      SELECT o_custkey,
             min_by(o_orderpriority, o_orderkey) AS p_first,
             max_by(o_orderpriority, o_orderkey) AS p_last
      FROM orders GROUP BY o_custkey
    ),
    c3 AS (
      SELECT CASE WHEN p_first IN ('1-URGENT', '2-HIGH') THEN 1
                  WHEN p_first = '3-MEDIUM' THEN 2 ELSE 3 END AS a,
             CASE WHEN p_last IN ('1-URGENT', '2-HIGH') THEN 1
                  WHEN p_last = '3-MEDIUM' THEN 2 ELSE 3 END AS b
      FROM fl
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM c3 GROUP BY a, b
    ),
    piv AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(coalesce(sum(CASE WHEN a = b THEN n END), 0) AS BIGINT)
               AS diag,
             CAST(coalesce(sum(CASE WHEN a = 1 THEN n END), 0)
                  + coalesce(sum(CASE WHEN b = 1 THEN n END), 0) AS BIGINT)
               AS s1,
             CAST(coalesce(sum(CASE WHEN a = 2 THEN n END), 0)
                  + coalesce(sum(CASE WHEN b = 2 THEN n END), 0) AS BIGINT)
               AS s2,
             CAST(coalesce(sum(CASE WHEN a = 3 THEN n END), 0)
                  + coalesce(sum(CASE WHEN b = 3 THEN n END), 0) AS BIGINT)
               AS s3
      FROM cells
    )
    SELECT nn AS n_customers, diag AS n_agree,
           CAST(CASE WHEN 4 * CAST(nn AS HUGEINT) * diag
                          >= CAST(s1 AS HUGEINT) * s1
                             + CAST(s2 AS HUGEINT) * s2
                             + CAST(s3 AS HUGEINT) * s3
                     THEN 1 ELSE -1 END AS BIGINT) AS pi_sign,
           CAST((1000000000 * abs(4 * CAST(nn AS HUGEINT) * diag
                 - (CAST(s1 AS HUGEINT) * s1 + CAST(s2 AS HUGEINT) * s2
                    + CAST(s3 AS HUGEINT) * s3)))
                // greatest(4 * CAST(nn AS HUGEINT) * nn
                 - (CAST(s1 AS HUGEINT) * s1 + CAST(s2 AS HUGEINT) * s2
                    + CAST(s3 AS HUGEINT) * s3), 1) AS BIGINT)
             AS pi_abs_ppb
    FROM piv
    """,
    doc="Scott's pi chance-corrected agreement between a customer's FIRST "
    "and LAST order priority (high/medium/low collapse — the "
    "stuart_maxwell frame): unlike Cohen's kappa (per-rater marginals), "
    "Scott's pi draws chance agreement from the POOLED marginal "
    "(r_i + c_i)/2N — the two-rater special case of Fleiss' kappa. "
    "Clearing denominators: pi = (4N*diag - sum s_i^2) / (4N^2 - "
    "sum s_i^2) with s_i = row_i + col_i — ONE exact integer ratio, "
    "sign-split into pi_sign and a non-negative ppb floor-division. "
    "One customer-keyed aggregation + 9-cell pivot; no joins, no "
    "windows.",
)
def agg_scott_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    fl = o.groupBy("o_custkey").agg(
        F.expr("min_by(o_orderpriority, o_orderkey)").alias("p_first"),
        F.expr("max_by(o_orderpriority, o_orderkey)").alias("p_last"),
    )
    c3 = fl.select(
        F.expr(
            "CASE WHEN p_first IN ('1-URGENT', '2-HIGH') THEN 1"
            " WHEN p_first = '3-MEDIUM' THEN 2 ELSE 3 END"
        ).alias("a"),
        F.expr(
            "CASE WHEN p_last IN ('1-URGENT', '2-HIGH') THEN 1"
            " WHEN p_last = '3-MEDIUM' THEN 2 ELSE 3 END"
        ).alias("b"),
    )
    cells = c3.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    piv = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.coalesce(F.sum(F.when(F.col("a") == F.col("b"), F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("diag"),
        (
            F.coalesce(F.sum(F.when(F.col("a") == 1, F.col("n"))), F.lit(0))
            + F.coalesce(F.sum(F.when(F.col("b") == 1, F.col("n"))), F.lit(0))
        )
        .cast("bigint")
        .alias("s1"),
        (
            F.coalesce(F.sum(F.when(F.col("a") == 2, F.col("n"))), F.lit(0))
            + F.coalesce(F.sum(F.when(F.col("b") == 2, F.col("n"))), F.lit(0))
        )
        .cast("bigint")
        .alias("s2"),
        (
            F.coalesce(F.sum(F.when(F.col("a") == 3, F.col("n"))), F.lit(0))
            + F.coalesce(F.sum(F.when(F.col("b") == 3, F.col("n"))), F.lit(0))
        )
        .cast("bigint")
        .alias("s3"),
    )
    return piv.select(
        F.col("nn").alias("n_customers"),
        F.col("diag").alias("n_agree"),
        F.expr(
            "CAST(CASE WHEN 4 * CAST(nn AS DECIMAL(38,0)) * diag"
            " >= CAST(s1 AS DECIMAL(38,0)) * s1"
            " + CAST(s2 AS DECIMAL(38,0)) * s2"
            " + CAST(s3 AS DECIMAL(38,0)) * s3"
            " THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("pi_sign"),
        F.expr(
            "CAST((1000000000 * abs(4 * CAST(nn AS DECIMAL(38,0)) * diag"
            " - (CAST(s1 AS DECIMAL(38,0)) * s1"
            "    + CAST(s2 AS DECIMAL(38,0)) * s2"
            "    + CAST(s3 AS DECIMAL(38,0)) * s3)))"
            " div greatest(4 * CAST(nn AS DECIMAL(38,0)) * nn"
            " - (CAST(s1 AS DECIMAL(38,0)) * s1"
            "    + CAST(s2 AS DECIMAL(38,0)) * s2"
            "    + CAST(s3 AS DECIMAL(38,0)) * s3), 1) AS BIGINT)"
        ).alias("pi_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_fowlkes_mallows — clustering agreement, segment vs region partition
# ---------------------------------------------------------------------------


@register(
    "agg_fowlkes_mallows",
    oracle="""
    WITH cu AS (
      SELECT c.c_mktsegment AS a, r.r_name AS b
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM cu GROUP BY a, b
    ),
    am AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY a),
    bm AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY b),
    s AS (
      SELECT
        (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS nn,
        (SELECT CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT)
         FROM cells) AS t2,
        (SELECT CAST(sum(CAST(na AS HUGEINT) * (na - 1)) AS HUGEINT)
         FROM am) AS pa2,
        (SELECT CAST(sum(CAST(nb AS HUGEINT) * (nb - 1)) AS HUGEINT)
         FROM bm) AS pb2
    )
    SELECT nn AS n_customers,
           CAST(t2 // 2 AS BIGINT) AS pairs_together,
           CAST(pa2 // 2 AS BIGINT) AS pairs_seg,
           CAST(pb2 // 2 AS BIGINT) AS pairs_region,
           CAST(t2 AS DOUBLE)
             / sqrt(CAST(pa2 AS DOUBLE) * CAST(pb2 AS DOUBLE)) AS fm_index
    FROM s
    """,
    doc="Fowlkes-Mallows index between two partitions of the customer "
    "base — market segment vs geographic region (nation -> region "
    "broadcast chain): FM = TP/sqrt((TP+FP)(TP+FN)) over same-cluster "
    "PAIRS, the geometric mean of pairwise precision and recall (the "
    "external clustering-validation metric beside ARI). Doubled pair "
    "counts n(n-1) stay exact integers (HUGEINT/DECIMAL through "
    "sf1000); FM is ONE fixed-shape double ratio over those exact "
    "integers. Two broadcast dim joins + one 25-cell aggregation; "
    "margins re-aggregate the cell grid.",
)
def agg_fowlkes_mallows(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cu = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(F.col("c_mktsegment").alias("a"), F.col("r_name").alias("b"))
    )
    cells = cu.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    am = cells.groupBy("a").agg(F.sum("n").cast("bigint").alias("na"))
    bm = cells.groupBy("b").agg(F.sum("n").cast("bigint").alias("nb"))
    s = (
        cells.agg(
            F.sum("n").cast("bigint").alias("nn"),
            _dsum(F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).alias("t2"),
        )
        .crossJoin(
            F.broadcast(
                am.agg(
                    _dsum(
                        F.expr("CAST(na AS DECIMAL(38,0)) * (na - 1)")
                    ).alias("pa2")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                bm.agg(
                    _dsum(
                        F.expr("CAST(nb AS DECIMAL(38,0)) * (nb - 1)")
                    ).alias("pb2")
                )
            )
        )
    )
    return s.select(
        F.col("nn").alias("n_customers"),
        F.expr("CAST(t2 div 2 AS BIGINT)").alias("pairs_together"),
        F.expr("CAST(pa2 div 2 AS BIGINT)").alias("pairs_seg"),
        F.expr("CAST(pb2 div 2 AS BIGINT)").alias("pairs_region"),
        F.expr(
            "CAST(t2 AS DOUBLE)"
            " / sqrt(CAST(pa2 AS DOUBLE) * CAST(pb2 AS DOUBLE))"
        ).alias("fm_index"),
    )


# ---------------------------------------------------------------------------
# agg_rand_adjusted — adjusted Rand index (same partition pair)
# ---------------------------------------------------------------------------


@register(
    "agg_rand_adjusted",
    oracle="""
    WITH cu AS (
      SELECT c.c_mktsegment AS a, r.r_name AS b
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    cells AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM cu GROUP BY a, b
    ),
    am AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY a),
    bm AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY b),
    s AS (
      SELECT
        (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS nn,
        (SELECT CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT)
         FROM cells) AS sij2,
        (SELECT CAST(sum(CAST(na AS HUGEINT) * (na - 1)) AS HUGEINT)
         FROM am) AS sa2,
        (SELECT CAST(sum(CAST(nb AS HUGEINT) * (nb - 1)) AS HUGEINT)
         FROM bm) AS sb2
    ),
    z AS (
      SELECT nn, sij2, sa2, sb2,
             CAST(nn AS HUGEINT) * (nn - 1) AS tot2,
             CAST(nn AS HUGEINT) * (nn - 1) * sij2 - sa2 * sb2 AS num,
             CAST(nn AS HUGEINT) * (nn - 1) * ((sa2 + sb2) // 2)
               - sa2 * sb2 AS den
      FROM s
    )
    SELECT nn AS n_customers,
           CAST(sij2 // 2 AS BIGINT) AS pairs_together,
           CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END AS BIGINT)
             AS ari_sign,
           CAST((1000000000 * abs(num)) // greatest(abs(den), 1) AS BIGINT)
             AS ari_abs_ppb
    FROM z
    """,
    doc="Adjusted Rand index between the market-segment and region "
    "partitions of the customer base — Rand agreement corrected for "
    "chance under the permutation model, the standard external "
    "clustering-comparison statistic next to agg_fowlkes_mallows "
    "(same frame, different normalization: ARI subtracts the expected "
    "pair overlap where FM takes a geometric mean, so they can "
    "disagree on which of two partition pairs is closer). With "
    "doubled combination counts x2 = 2*C(x,2) (each n(n-1) is even, "
    "so (sa2+sb2)/2 is exact): ARI = (tot2*sij2 - sa2*sb2) / "
    "(tot2*(sa2+sb2)/2 - sa2*sb2) — ONE exact integer ratio, "
    "sign-split to ari_sign + non-negative ppb floor-division "
    "(products bounded by n^4 < 10^38 through sf100). Same "
    "broadcast-dim plan as its sibling.",
)
def agg_rand_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cu = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(F.col("c_mktsegment").alias("a"), F.col("r_name").alias("b"))
    )
    cells = cu.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    am = cells.groupBy("a").agg(F.sum("n").cast("bigint").alias("na"))
    bm = cells.groupBy("b").agg(F.sum("n").cast("bigint").alias("nb"))
    s = (
        cells.agg(
            F.sum("n").cast("bigint").alias("nn"),
            _dsum(F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).alias("sij2"),
        )
        .crossJoin(
            F.broadcast(
                am.agg(
                    _dsum(
                        F.expr("CAST(na AS DECIMAL(38,0)) * (na - 1)")
                    ).alias("sa2")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                bm.agg(
                    _dsum(
                        F.expr("CAST(nb AS DECIMAL(38,0)) * (nb - 1)")
                    ).alias("sb2")
                )
            )
        )
    )
    z = s.select(
        "nn",
        "sij2",
        F.expr(
            "CAST(nn AS DECIMAL(38,0)) * (nn - 1) * sij2 - sa2 * sb2"
        ).alias("num"),
        F.expr(
            "CAST(nn AS DECIMAL(38,0)) * (nn - 1) * ((sa2 + sb2) div 2)"
            " - sa2 * sb2"
        ).alias("den"),
    )
    return z.select(
        F.col("nn").alias("n_customers"),
        F.expr("CAST(sij2 div 2 AS BIGINT)").alias("pairs_together"),
        F.expr(
            "CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("ari_sign"),
        F.expr(
            "CAST((1000000000 * abs(num)) div greatest(abs(den), 1)"
            " AS BIGINT)"
        ).alias("ari_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_theil_index — Theil T and L inequality per priority (bucketed domain)
# ---------------------------------------------------------------------------


@register(
    "agg_theil_index",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS pri,
             greatest((CAST(round(o_totalprice * 100) AS BIGINT) + 50000)
                      // 100000, 1) AS v
      FROM orders
    ),
    cells AS (
      SELECT pri, v, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY pri, v
    ),
    g AS (
      SELECT pri, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * v) AS BIGINT) AS s
      FROM cells GROUP BY pri
    ),
    t AS (
      SELECT cells.pri,
             CAST(sum(CAST(floor(1000000.0 * c * v *
                  ln((CAST(n AS DOUBLE) * v) / s)) AS HUGEINT))
               AS HUGEINT) AS tnum,
             CAST(sum(CAST(floor(1000000.0 * c *
                  ln(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * v)))
                  AS HUGEINT)) AS HUGEINT) AS lnum
      FROM cells JOIN g ON cells.pri = g.pri
      GROUP BY cells.pri
    )
    SELECT g.pri AS priority, g.n AS n_orders,
           CAST(CASE WHEN tnum >= 0 THEN 1 ELSE -1 END AS BIGINT)
             AS theil_t_sign,
           CAST(abs(tnum) // g.s AS BIGINT) AS theil_t_abs_micro,
           CAST(CASE WHEN lnum >= 0 THEN 1 ELSE -1 END AS BIGINT)
             AS theil_l_sign,
           CAST(abs(lnum) // g.n AS BIGINT) AS theil_l_abs_micro
    FROM t JOIN g ON t.pri = g.pri
    ORDER BY priority
    """,
    doc="Theil T and Theil L inequality indices of order value per "
    "priority class, computed on the 1000-unit price-bucket DOMAIN "
    "(the roc_auc grid — the statistic is defined on the bucketed "
    "distribution, so both engines evaluate the identical ~105-cell "
    "relation; declared bucketing, not an approximation claim): "
    "T = sum (x/S) ln(n x/S), L = (1/n) sum ln(S/(n x)) — the two "
    "GE-family members that decompose additively by subgroup (the "
    "between/within split agg_atkinson_index and agg_hoover_index "
    "cannot offer). Per-CELL terms c*v*ln(n*v/S) quantize to integer "
    "micro-units before the exact grid-sized sum (the mutual-"
    "information precedent); the two final floor-divisions are "
    "sign-split. One map-combined rollup to (priority, bucket), one "
    "5-row broadcast join back; no windows.",
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.expr(
            "greatest((CAST(round(o_totalprice * 100) AS BIGINT) + 50000)"
            " div 100000, 1)"
        ).alias("v"),
    )
    cells = b.groupBy("pri", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    g = cells.groupBy("pri").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("v")).cast("bigint").alias("s"),
    )
    t = (
        cells.join(F.broadcast(g), "pri")
        .groupBy("pri")
        .agg(
            _dsum(
                F.floor(
                    F.lit(1000000.0)
                    * F.col("c")
                    * F.col("v")
                    * F.log(
                        (F.col("n").cast("double") * F.col("v")) / F.col("s")
                    )
                )
            ).alias("tnum"),
            _dsum(
                F.floor(
                    F.lit(1000000.0)
                    * F.col("c")
                    * F.log(
                        F.col("s").cast("double")
                        / (F.col("n").cast("double") * F.col("v"))
                    )
                )
            ).alias("lnum"),
        )
    )
    return (
        t.join(F.broadcast(g), "pri")
        .select(
            F.col("pri").alias("priority"),
            F.col("n").alias("n_orders"),
            F.expr(
                "CAST(CASE WHEN tnum >= 0 THEN 1 ELSE -1 END AS BIGINT)"
            ).alias("theil_t_sign"),
            F.expr("CAST(abs(tnum) div s AS BIGINT)").alias(
                "theil_t_abs_micro"
            ),
            F.expr(
                "CAST(CASE WHEN lnum >= 0 THEN 1 ELSE -1 END AS BIGINT)"
            ).alias("theil_l_sign"),
            F.expr("CAST(abs(lnum) div n AS BIGINT)").alias(
                "theil_l_abs_micro"
            ),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# agg_ge2_index — generalized entropy GE(2) per priority (log-free)
# ---------------------------------------------------------------------------


@register(
    "agg_ge2_index",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders
    ),
    g AS (
      SELECT pri, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
      FROM b GROUP BY pri
    )
    SELECT pri AS priority, n AS n_orders,
           CAST(s // n AS BIGINT) AS mean_cents,
           CAST((1000000000 * (n * s2 - s * s)) // (2 * s * s) AS BIGINT)
             AS ge2_ppb,
           CAST((1000000000 * (n * s2 - s * s)) // (CAST(n AS HUGEINT) * s)
                AS BIGINT) AS n_scaled_var_ppb
    FROM g
    ORDER BY priority
    """,
    doc="Generalized entropy GE(2) inequality index per priority — "
    "GE(2) = (E[x^2]/mu^2 - 1)/2 = half the squared coefficient of "
    "variation, the log-free member of the GE family (alpha=2 weights "
    "the top tail, complementing Theil T at alpha=1, Theil L at 0 and "
    "Atkinson's welfare form): top-sensitive inequality with NOTHING "
    "but exact integer cent moments. Cleared denominators: GE2 = "
    "(n*S2 - S^2)/(2*S^2), non-negative by Cauchy-Schwarz, so ONE "
    "unsigned ppb floor-division (n*S2 < 10^33 at sf100 — inside "
    "HUGEINT/DECIMAL(38,0)). One map-combined aggregation; no joins, "
    "no windows.",
)
def agg_ge2_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
    )
    g = b.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("s"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("s2"),
    )
    return g.select(
        F.col("pri").alias("priority"),
        F.col("n").alias("n_orders"),
        F.expr("CAST(s div n AS BIGINT)").alias("mean_cents"),
        F.expr(
            "CAST((1000000000 * (n * s2 - s * s)) div (2 * s * s)"
            " AS BIGINT)"
        ).alias("ge2_ppb"),
        F.expr(
            "CAST((1000000000 * (n * s2 - s * s))"
            " div (CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)"
        ).alias("n_scaled_var_ppb"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# agg_gumbel_fit — Gumbel EVD fit on monthly block maxima (method of moments)
# ---------------------------------------------------------------------------


@register(
    "agg_gumbel_fit",
    oracle="""
    WITH mm AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS mx
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(mx) AS HUGEINT) AS sm,
             CAST(sum(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS sm2
      FROM mm
    )
    SELECT k AS n_months,
           CAST(sm // k AS BIGINT) AS mean_max_cents,
           CAST(floor(sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)
                           / (CAST(k AS DOUBLE) * (k - 1)))
                      * 0.779696801233676) AS BIGINT) AS beta_cents,
           CAST(floor(CAST(sm AS DOUBLE) / k
                      - 0.5772156649015329
                        * (sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)
                                / (CAST(k AS DOUBLE) * (k - 1)))
                           * 0.779696801233676)) AS BIGINT) AS mu_cents,
           CAST(floor(CAST(sm AS DOUBLE) / k
                      - 0.5772156649015329
                        * (sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)
                                / (CAST(k AS DOUBLE) * (k - 1)))
                           * 0.779696801233676)
                      + 4.600149226776579
                        * (sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)
                                / (CAST(k AS DOUBLE) * (k - 1)))
                           * 0.779696801233676)) AS BIGINT)
             AS return_level_99_cents
    FROM s
    """,
    doc="Gumbel extreme-value fit to MONTHLY BLOCK MAXIMA of order value "
    "(method of moments): scale beta = s*sqrt(6)/pi and location "
    "mu = mean - gamma*beta (Euler-Mascheroni), plus the 99th-"
    "percentile return level mu + beta*(-ln(-ln 0.99)) — the "
    "capacity-planning number ('the monthly max exceeded once per "
    "100 months') that complements events_peak_over_threshold's POT "
    "approach with the block-maxima approach. Block maxima and both "
    "moment sums are exact integer cents over the calendar-bounded "
    "~84-month relation; beta/mu/return level are fixed-shape double "
    "expressions over those exact integers with the three "
    "mathematical constants as exact shared double literals, floor-"
    "quantized to whole cents. One month rollup; no windows, no "
    "joins.",
)
def agg_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mm = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mo")
    ).agg(
        F.max(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("mx")
    )
    s = mm.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        _dsum(F.col("mx")).alias("sm"),
        _dsum(F.expr("CAST(mx AS DECIMAL(38,0)) * mx")).alias("sm2"),
    )
    beta = (
        "sqrt(CAST(k * sm2 - sm * sm AS DOUBLE)"
        " / (CAST(k AS DOUBLE) * (k - 1))) * 0.779696801233676"
    )
    return s.select(
        F.col("k").alias("n_months"),
        F.expr("CAST(sm div k AS BIGINT)").alias("mean_max_cents"),
        F.expr(f"CAST(floor({beta}) AS BIGINT)").alias("beta_cents"),
        F.expr(
            f"CAST(floor(CAST(sm AS DOUBLE) / k"
            f" - 0.5772156649015329 * ({beta})) AS BIGINT)"
        ).alias("mu_cents"),
        F.expr(
            f"CAST(floor(CAST(sm AS DOUBLE) / k"
            f" - 0.5772156649015329 * ({beta})"
            f" + 4.600149226776579 * ({beta})) AS BIGINT)"
        ).alias("return_level_99_cents"),
    )


# ---------------------------------------------------------------------------
# agg_log_loss — cross-entropy of the discount-as-probability forecast
# ---------------------------------------------------------------------------


@register(
    "agg_log_loss",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS p10,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    cells AS (
      SELECT p10, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS o
      FROM b GROUP BY p10
    ),
    t AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(
               CAST(floor(1000000.0 * (
                 - o * ln((10.0 * p10 + 1) / 102.0)
                 - (n - o) * ln(1.0 - (10.0 * p10 + 1) / 102.0)))
                 AS HUGEINT)) AS HUGEINT) AS s_micro
      FROM cells
    )
    SELECT nn AS n, CAST(s_micro // nn AS BIGINT) AS avg_logloss_micro,
           CAST(s_micro // 1000 AS BIGINT) AS total_logloss_milli
    FROM t
    """,
    doc="Binary cross-entropy (log loss) of the discount-as-return-"
    "probability forecast on its native tenths grid — the PROPER "
    "scoring rule beside agg_brier_score (quadratic) and the "
    "calibration-only agg_expected_calibration_error, punishing "
    "confident misses exponentially harder. The grid probability "
    "p = p10/10 is Laplace-clamped to p' = (10*p10+1)/102 (exactly "
    "one pseudo-count per endpoint cell) so ln stays finite; each of "
    "the 11 DOMAIN cells quantizes -[o ln p' + (n-o) ln(1-p')] to "
    "integer micro-nats before the exact sum (the mutual-information "
    "precedent), and the per-row average is one non-negative floor-"
    "division. One 11-cell map-side rollup; no windows, no joins.",
)
def agg_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("p10"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    cells = b.groupBy("p10").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("o"),
    )
    t = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        _dsum(
            F.floor(
                F.lit(1000000.0)
                * (
                    -F.col("o")
                    * F.log((10.0 * F.col("p10") + 1) / 102.0)
                    - (F.col("n") - F.col("o"))
                    * F.log(1.0 - (10.0 * F.col("p10") + 1) / 102.0)
                )
            )
        ).alias("s_micro"),
    )
    return t.select(
        F.col("nn").alias("n"),
        F.expr("CAST(s_micro div nn AS BIGINT)").alias("avg_logloss_micro"),
        F.expr("CAST(s_micro div 1000 AS BIGINT)").alias(
            "total_logloss_milli"
        ),
    )


# ---------------------------------------------------------------------------
# agg_tjur_r2 — Tjur's coefficient of discrimination (same forecast)
# ---------------------------------------------------------------------------


@register(
    "agg_tjur_r2",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS p10,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(sum(y) AS BIGINT) AS n1,
             CAST(count(*) - sum(y) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN y = 1 THEN p10 ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN y = 0 THEN p10 ELSE 0 END) AS BIGINT) AS s0
      FROM b
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           CAST(CASE WHEN CAST(s1 AS HUGEINT) * n0
                          >= CAST(s0 AS HUGEINT) * n1
                     THEN 1 ELSE -1 END AS BIGINT) AS tjur_sign,
           CAST((1000000000 * abs(CAST(s1 AS HUGEINT) * n0
                                  - CAST(s0 AS HUGEINT) * n1))
                // (10 * CAST(n1 AS HUGEINT) * n0) AS BIGINT)
             AS tjur_abs_ppb
    FROM s
    WHERE n1 > 0 AND n0 > 0
    """,
    doc="Tjur's coefficient of discrimination for the discount-as-return-"
    "probability forecast: R2_Tjur = mean(p | y=1) - mean(p | y=0) — "
    "the separation the classifier achieves on average, the intuitive "
    "discrimination companion to agg_roc_auc (rank-based) and "
    "agg_brier_score (calibration-mixed). With p = p10/10, "
    "R2 = (s1*n0 - s0*n1)/(10*n1*n0) — ONE exact integer ratio from "
    "one conditional map-combined pass, sign-split into tjur_sign and "
    "a non-negative ppb floor-division. No windows, no joins, no grid "
    "needed. Empty classes emit zero rows on both engines.",
)
def agg_tjur_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("p10"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    s = b.agg(
        F.sum("y").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("y") == 1, F.col("p10")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("y") == 0, F.col("p10")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
    )
    return s.filter((F.col("n1") > 0) & (F.col("n0") > 0)).select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.expr(
            "CAST(CASE WHEN CAST(s1 AS DECIMAL(38,0)) * n0"
            " >= CAST(s0 AS DECIMAL(38,0)) * n1 THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("tjur_sign"),
        F.expr(
            "CAST((1000000000 * abs(CAST(s1 AS DECIMAL(38,0)) * n0"
            " - CAST(s0 AS DECIMAL(38,0)) * n1))"
            " div (10 * CAST(n1 AS DECIMAL(38,0)) * n0) AS BIGINT)"
        ).alias("tjur_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# agg_f1_sweep — threshold sweep for best F1 on the price-score grid
# ---------------------------------------------------------------------------


@register(
    "agg_f1_sweep",
    oracle="""
    WITH b AS (
      SELECT (CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)
               // 100000 AS s,
             CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
               AS pos
      FROM lineitem
    ),
    cells AS (
      SELECT s, CAST(sum(pos) AS BIGINT) AS n1,
             CAST(count(*) - sum(pos) AS BIGINT) AS n0
      FROM b GROUP BY 1
    ),
    suf AS (
      SELECT s,
             CAST(sum(n1) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
             CAST(sum(n0) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
             CAST(sum(n1) OVER () AS BIGINT) AS p
      FROM cells
    ),
    f AS (
      SELECT s AS threshold, tp, fp,
             CAST((1000000000 * (2 * CAST(tp AS HUGEINT)))
                  // (CAST(tp AS HUGEINT) + fp + p) AS BIGINT) AS f1_ppb
      FROM suf
    )
    SELECT threshold, tp, fp, f1_ppb,
           CAST(CASE WHEN f1_ppb = (SELECT max(f1_ppb) FROM f)
                      AND threshold = (SELECT min(threshold) FROM f
                                       WHERE f1_ppb =
                                         (SELECT max(f1_ppb) FROM f))
                     THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM f
    ORDER BY threshold
    """,
    doc="Full F1 threshold sweep for the price-as-returns classifier on "
    "the ~105-value score DOMAIN: classify positive when score >= t, "
    "F1(t) = 2TP/(TP+FP+P) (the harmonic mean identity with "
    "FN = P-TP), per-threshold exact integer counts from ONE "
    "descending suffix window over the grid — the threshold-selection "
    "readout that optimizes the precision/recall tradeoff directly "
    "where agg_youden_threshold optimizes sensitivity+specificity and "
    "agg_ks_separation the ECDF gap (all three can pick different "
    "operating points). f1_ppb is one non-negative floor-division per "
    "grid cell; is_best flags the max with ties to the LOWEST "
    "threshold, decided on the quantized ppb exactly as emitted. "
    "Bounded grid windows only; one map-combined rollup.",
)
def agg_f1_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr(
            "(CAST(round(l_extendedprice * 100) AS BIGINT) + 50000)"
            " div 100000"
        ).alias("s"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("pos"),
    )
    cells = b.groupBy("s").agg(
        F.sum("pos").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("bigint").alias("n0"),
    )
    w_desc = (
        Window.orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suf = cells.select(
        "s",
        F.sum("n1").over(w_desc).cast("bigint").alias("tp"),
        F.sum("n0").over(w_desc).cast("bigint").alias("fp"),
        F.sum("n1").over(Window.partitionBy()).cast("bigint").alias("p"),
    )
    f = suf.select(
        F.col("s").alias("threshold"),
        "tp",
        "fp",
        F.expr(
            "CAST((1000000000 * (2 * CAST(tp AS DECIMAL(38,0))))"
            " div (CAST(tp AS DECIMAL(38,0)) + fp + p) AS BIGINT)"
        ).alias("f1_ppb"),
    )
    wb = Window.partitionBy()
    return (
        f.select(
            "threshold",
            "tp",
            "fp",
            "f1_ppb",
            F.max(F.struct(F.col("f1_ppb"), -F.col("threshold")))
            .over(wb)
            .alias("best"),
        )
        .select(
            "threshold",
            "tp",
            "fp",
            "f1_ppb",
            F.when(
                (F.col("f1_ppb") == F.col("best.f1_ppb"))
                & (-F.col("threshold") == F.col("best.col2")),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("is_best"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# agg_mrr_retrieval — mean reciprocal rank over the 20-doc query panel
# ---------------------------------------------------------------------------


@register(
    "agg_mrr_retrieval",
    oracle="""
    WITH w AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    q AS (
      SELECT doc_id AS qid, source AS qsource FROM documents
      WHERE doc_id < 20
    ),
    qw AS (
      SELECT q.qid, q.qsource, w.word FROM q JOIN w ON w.doc_id = q.qid
    ),
    cand AS (
      SELECT qw.qid, qw.qsource, w.doc_id AS did,
             CAST(count(*) AS BIGINT) AS shared
      FROM qw JOIN w ON w.word = qw.word AND w.doc_id <> qw.qid
      GROUP BY qw.qid, qw.qsource, w.doc_id
    ),
    ranked AS (
      SELECT qid, qsource, did, shared,
             row_number() OVER (PARTITION BY qid
               ORDER BY shared DESC, did) AS rn
      FROM cand
    ),
    rel AS (
      SELECT r.qid,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(coalesce(min(CASE WHEN d.source = r.qsource
                                    THEN r.rn END), 0) AS BIGINT)
               AS first_rel_rank
      FROM ranked r JOIN documents d ON d.doc_id = r.did
      GROUP BY r.qid
    )
    SELECT qid AS query_id, n_candidates, first_rel_rank,
           CAST(CASE WHEN first_rel_rank > 0
                     THEN 1000000 // first_rel_rank ELSE 0 END AS BIGINT)
             AS rr_micro
    FROM rel
    ORDER BY query_id
    """,
    doc="Mean-reciprocal-rank evaluation of bag-of-words retrieval over "
    "the deterministic 20-doc query panel (the similarity_topk "
    "convention): candidates = every doc sharing >= 1 space-token "
    "with the query doc (the text_bm25_topk tokenizer), scored by "
    "shared distinct-token count with (score DESC, doc_id) "
    "determinism; a candidate is RELEVANT when it shares the query's "
    "source — the weak label the corpus carries. Per query the rank "
    "of the first relevant candidate and its floor-quantized "
    "reciprocal 1e6//rank are exact integers (first_rel_rank = 0 "
    "encodes 'no relevant candidate retrieved', scoring 0 — the "
    "standard MRR cutoff convention). Sparse inverted-index join "
    "(only shared-token pairs materialize), one qid-partitioned rank "
    "window over the bounded panel.",
)
def agg_mrr_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).distinct()
    # the query-word relation is the corpus distinct FILTERED to the
    # 20-doc panel, so it is built from the panel docs directly
    # (filter-then-distinct == distinct-then-filter on the doc key) —
    # the former q JOIN w formulation re-ran the corpus-sized explode +
    # distinct a second time just to extract the panel's words
    qw = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            F.col("doc_id").alias("qid"),
            F.col("source").alias("qsource"),
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .distinct()
    )
    cand = (
        qw.join(
            w.withColumnRenamed("doc_id", "did").withColumnRenamed(
                "word", "dword"
            ),
            (F.col("dword") == F.col("word")) & (F.col("did") != F.col("qid")),
        )
        .groupBy("qid", "qsource", "did")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    ranked = cand.select(
        "qid",
        "qsource",
        "did",
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(
                F.col("shared").desc(), F.col("did")
            )
        )
        .alias("rn"),
    )
    rel = (
        ranked.join(
            docs.select(F.col("doc_id").alias("did"), "source"), "did"
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.coalesce(
                F.min(
                    F.when(
                        F.col("source") == F.col("qsource"), F.col("rn")
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("first_rel_rank"),
        )
    )
    return rel.select(
        F.col("qid").alias("query_id"),
        "n_candidates",
        "first_rel_rank",
        F.expr(
            "CAST(CASE WHEN first_rel_rank > 0"
            " THEN 1000000 div first_rel_rank ELSE 0 END AS BIGINT)"
        ).alias("rr_micro"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# agg_ndcg_at10 — graded-relevance NDCG@10 over the same panel
# ---------------------------------------------------------------------------

_NDCG_W = (
    "[1000000000, 630929753, 500000000, 430676558, 386852807,"
    " 356207187, 333333333, 315464876, 301029995, 289064826]"
)


@register(
    "agg_ndcg_at10",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    q AS (
      SELECT doc_id AS qid, source AS qsource, lang AS qlang
      FROM documents WHERE doc_id < 20
    ),
    qw AS (
      SELECT q.qid, q.qsource, q.qlang, w.word
      FROM q JOIN w ON w.doc_id = q.qid
    ),
    cand AS (
      SELECT qw.qid, qw.qsource, qw.qlang, w.doc_id AS did,
             CAST(count(*) AS BIGINT) AS shared
      FROM qw JOIN w ON w.word = qw.word AND w.doc_id <> qw.qid
      GROUP BY qw.qid, qw.qsource, qw.qlang, w.doc_id
    ),
    graded AS (
      SELECT c.qid, c.did, c.shared,
             CAST(CASE WHEN d.source = c.qsource AND d.lang = c.qlang
                       THEN 3
                       WHEN d.source = c.qsource THEN 1 ELSE 0 END
                  AS BIGINT) AS gain
      FROM cand c JOIN documents d ON d.doc_id = c.did
    ),
    pos AS (
      SELECT qid, gain,
             row_number() OVER (PARTITION BY qid
               ORDER BY shared DESC, did) AS rn,
             row_number() OVER (PARTITION BY qid
               ORDER BY gain DESC, did) AS irn
      FROM graded
    ),
    agg AS (
      SELECT qid,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN rn <= 10
                  THEN gain * ({_NDCG_W})[rn] ELSE 0 END) AS BIGINT)
               AS dcg_nano,
             CAST(sum(CASE WHEN irn <= 10
                  THEN gain * ({_NDCG_W})[irn] ELSE 0 END) AS BIGINT)
               AS idcg_nano
      FROM pos GROUP BY qid
    )
    SELECT qid AS query_id, n_candidates, dcg_nano, idcg_nano,
           CAST(CASE WHEN idcg_nano > 0
                THEN (1000000000 * CAST(dcg_nano AS HUGEINT)) // idcg_nano
                ELSE 0 END AS BIGINT) AS ndcg_ppb
    FROM agg
    ORDER BY query_id
    """,
    doc="NDCG@10 with GRADED relevance over the 20-doc query panel and "
    "the shared-token retrieval of agg_mrr_retrieval: gain 3 for "
    "same-source-same-language candidates, 1 for same-source, 0 "
    "otherwise (the 2^rel - 1 gains for rel = 0/1/2), discounted by "
    "the exact integer nano-unit table floor(1e9/log2(i+1)) for "
    "positions 1..10 — the discounts are SHARED LITERALS, so no "
    "logarithm runs at query time and DCG/IDCG are exact integer "
    "dot products. IDCG re-ranks the same retrieved candidate set by "
    "gain (retrieved-set normalization, declared); NDCG is one "
    "guarded non-negative ppb floor-division. Two qid-partitioned "
    "rank windows over the bounded panel; sparse inverted-index "
    "join.",
)
def agg_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).distinct()
    # panel words built from the 20 query docs directly (the
    # agg_mrr_retrieval fix): filter-then-distinct == distinct-then-
    # filter on the doc key, and the corpus-sized explode + distinct no
    # longer runs twice per execution
    qw = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            F.col("doc_id").alias("qid"),
            F.col("source").alias("qsource"),
            F.col("lang").alias("qlang"),
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .distinct()
    )
    cand = (
        qw.join(
            w.withColumnRenamed("doc_id", "did").withColumnRenamed(
                "word", "dword"
            ),
            (F.col("dword") == F.col("word")) & (F.col("did") != F.col("qid")),
        )
        .groupBy("qid", "qsource", "qlang", "did")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    graded = cand.join(
        docs.select(F.col("doc_id").alias("did"), "source", "lang"), "did"
    ).select(
        "qid",
        "did",
        "shared",
        F.expr(
            "CAST(CASE WHEN source = qsource AND lang = qlang THEN 3"
            " WHEN source = qsource THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("gain"),
    )
    warr = F.expr(f"array{_NDCG_W}".replace("[", "(").replace("]", ")"))
    pos = graded.select(
        "qid",
        "gain",
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(
                F.col("shared").desc(), F.col("did")
            )
        )
        .alias("rn"),
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(
                F.col("gain").desc(), F.col("did")
            )
        )
        .alias("irn"),
    ).withColumn("warr", warr)
    agg = pos.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(
            F.when(
                F.col("rn") <= 10,
                F.col("gain") * F.element_at(F.col("warr"), F.col("rn").cast("int")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_nano"),
        F.sum(
            F.when(
                F.col("irn") <= 10,
                F.col("gain")
                * F.element_at(F.col("warr"), F.col("irn").cast("int")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("idcg_nano"),
    )
    return agg.select(
        F.col("qid").alias("query_id"),
        "n_candidates",
        "dcg_nano",
        "idcg_nano",
        F.expr(
            "CAST(CASE WHEN idcg_nano > 0 THEN"
            " (1000000000 * CAST(dcg_nano AS DECIMAL(38,0))) div idcg_nano"
            " ELSE 0 END AS BIGINT)"
        ).alias("ndcg_ppb"),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# orders_dft_annual_power — spectral power at the 12-month period
# ---------------------------------------------------------------------------

# cos/sin(2*pi*(m-1)/12) as shared nano-unit integer literals (month 1..12):
# NO trig runs at query time — the annual-frequency DFT becomes an exact
# integer dot product on both engines.
_DFT_COS = (
    "[1000000000, 866025404, 500000000, 0, -500000000, -866025404,"
    " -1000000000, -866025404, -500000000, 0, 500000000, 866025404]"
)
_DFT_SIN = (
    "[0, 500000000, 866025404, 1000000000, 866025404, 500000000,"
    " 0, -500000000, -866025404, -1000000000, -866025404, -500000000]"
)


@register(
    "orders_dft_annual_power",
    oracle=f"""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY date_trunc('month', o_orderdate),
                           month(o_orderdate)
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT) * ({_DFT_COS})[mo]) AS HUGEINT)
               AS cn,
             CAST(sum(CAST(x AS HUGEINT) * ({_DFT_SIN})[mo]) AS HUGEINT)
               AS sn,
             CAST(sum(x) AS HUGEINT) AS tot
      FROM m
    ),
    r AS (
      SELECT n, tot, cn // 1000000000 AS cr, sn // 1000000000 AS sr
      FROM s
    )
    SELECT n AS n_months,
           CAST(cr AS BIGINT) AS cos_sum_cents,
           CAST(sr AS BIGINT) AS sin_sum_cents,
           CAST((cr * cr + sr * sr) // (greatest(n, 1) * 1000000)
                AS BIGINT) AS power_mega_cents2,
           CAST(floor(sqrt(CAST(cr * cr + sr * sr AS DOUBLE)) * 2.0
                      / CAST(n AS DOUBLE)) AS BIGINT)
             AS amplitude_cents
    FROM r
    """,
    doc="Discrete-Fourier power of monthly revenue at the ANNUAL "
    "frequency (period 12): C = sum x_t cos(2pi m_t/12), S = sum x_t "
    "sin(...), power = (C^2+S^2)/n and seasonal amplitude 2|F|/n — "
    "the frequency-domain seasonality readout that complements "
    "orders_seasonality_strength (variance-ratio) and "
    "agg_autocorrelation (lag-domain): it measures the SINUSOIDAL "
    "component at exactly one cycle/year. The twelve cos/sin values "
    "are shared nano-unit integer LITERALS (no trig at query time), "
    "so C and S are exact integer dot products over the calendar-"
    "bounded month relation; they reduce by 1e9 before squaring "
    "(keeping n*power under 2^63 through sf1000), and the amplitude "
    "is one fixed-shape sqrt over those exact integers. One month "
    "rollup; no windows, no joins. Spark div and DuckDB // both "
    "truncate toward zero, so the signed reductions match exactly.",
)
def orders_dft_annual_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mon"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    cos_arr = "array" + _DFT_COS.replace("[", "(").replace("]", ")")
    sin_arr = "array" + _DFT_SIN.replace("[", "(").replace("]", ")")
    s = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(
            F.expr(
                f"CAST(x AS DECIMAL(38,0))"
                f" * element_at({cos_arr}, CAST(mo AS INT))"
            )
        ).alias("cn"),
        _dsum(
            F.expr(
                f"CAST(x AS DECIMAL(38,0))"
                f" * element_at({sin_arr}, CAST(mo AS INT))"
            )
        ).alias("sn"),
        _dsum(F.col("x")).alias("tot"),
    )
    r = s.select(
        "n",
        F.expr("CAST(cn div 1000000000 AS DECIMAL(38,0))").alias("cr"),
        F.expr("CAST(sn div 1000000000 AS DECIMAL(38,0))").alias("sr"),
    )
    return r.select(
        F.col("n").alias("n_months"),
        F.expr("CAST(cr AS BIGINT)").alias("cos_sum_cents"),
        F.expr("CAST(sr AS BIGINT)").alias("sin_sum_cents"),
        F.expr(
            "CAST((cr * cr + sr * sr) div (greatest(n, 1) * 1000000)"
            " AS BIGINT)"
        ).alias("power_mega_cents2"),
        F.expr(
            "CAST(floor(sqrt(CAST(cr * cr + sr * sr AS DOUBLE)) * 2.0"
            " / CAST(n AS DOUBLE)) AS BIGINT)"
        ).alias("amplitude_cents"),
    )


# ---------------------------------------------------------------------------
# orders_sprt_sequential — Wald SPRT monitor on the daily return rate
# ---------------------------------------------------------------------------

# floor-quantized micro-nat literals of the hypothesis log-ratios:
# H0 p0 = 24%, H1 p1 = 26%; ln(p1/p0) = ln(13/12), ln((1-p1)/(1-p0)) =
# ln(37/38); alpha = beta = 0.05 -> boundaries +-ln(19).
_SPRT_L1 = 80042
_SPRT_L0 = -26669
_SPRT_A = 2944438


@register(
    "orders_sprt_sequential",
    oracle=f"""
    WITH d AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT day, n, r,
             CAST(sum(r * {_SPRT_L1} + (n - r) * ({_SPRT_L0}))
                  OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS llr
      FROM d
    ),
    hit AS (
      SELECT min(day) AS dday FROM c
      WHERE llr >= {_SPRT_A} OR llr <= -{_SPRT_A}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(coalesce((SELECT count(*) FROM c
                          WHERE c.day <= (SELECT dday FROM hit)), 0)
                AS BIGINT) AS decision_day_index,
           coalesce((SELECT CASE WHEN llr >= {_SPRT_A} THEN 'accept_h1'
                                 ELSE 'accept_h0' END
                     FROM c WHERE c.day = (SELECT dday FROM hit)),
                    'continue') AS decision,
           CAST((SELECT llr FROM c ORDER BY day DESC LIMIT 1) AS BIGINT)
             AS final_llr_micro
    FROM c
    """,
    doc="Wald sequential probability-ratio test (SPRT) monitoring the "
    "daily return rate: H0 p=24% vs H1 p=26%, alpha=beta=5%. Each "
    "ship-day contributes the exact integer log-likelihood increment "
    "r*ln(p1/p0) + (n-r)*ln(q1/q0) in micro-nats — BOTH log-ratios "
    "and the ln(19) boundaries are floor-quantized shared LITERALS, "
    "so no logarithm runs at query time and the cumulative LLR path, "
    "the first boundary crossing, and the decision are exact integer "
    "arithmetic. This is the always-valid sequential monitor a "
    "streaming quality gate runs per epoch, beside the fixed-horizon "
    "tests (agg_welch_ttest) and control charts (orders_shewhart_"
    "control, orders_cusum_control — CUSUM detects shifts, SPRT "
    "DECIDES between hypotheses with error guarantees). One day "
    "rollup; one calendar-bounded prefix window.",
)
def orders_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    d = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("r"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = d.select(
        "day",
        "n",
        "r",
        F.sum(
            F.col("r") * F.lit(_SPRT_L1) + (F.col("n") - F.col("r")) * F.lit(_SPRT_L0)
        )
        .over(w)
        .cast("bigint")
        .alias("llr"),
    )
    hit = c.filter(
        (F.col("llr") >= _SPRT_A) | (F.col("llr") <= -_SPRT_A)
    ).agg(F.min("day").alias("dday"))
    last = c.orderBy(F.col("day").desc()).limit(1).select(
        F.col("llr").alias("final_llr_micro")
    )
    agg = c.crossJoin(F.broadcast(hit)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.coalesce(
            F.sum(
                F.when(F.col("day") <= F.col("dday"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("decision_day_index"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("day") == F.col("dday"),
                    F.when(F.col("llr") >= _SPRT_A, "accept_h1").otherwise(
                        "accept_h0"
                    ),
                )
            ),
            F.lit("continue"),
        ).alias("decision"),
    )
    return agg.crossJoin(F.broadcast(last)).select(
        "n_days", "decision_day_index", "decision", "final_llr_micro"
    )


# ---------------------------------------------------------------------------
# orders_damped_trend — damped Holt (phi=0.9) per priority, final state
# ---------------------------------------------------------------------------


@register(
    "orders_damped_trend",
    oracle="""
    WITH RECURSIVE monthly AS (
      SELECT o_orderpriority AS priority,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1, 2
    ),
    idx AS (
      SELECT priority, x,
             CAST(row_number() OVER (PARTITION BY priority ORDER BY month)
                  AS BIGINT) AS i
      FROM monthly
    ),
    nn AS (
      SELECT priority, CAST(count(*) AS BIGINT) AS n FROM idx GROUP BY 1
    ),
    rec AS (
      SELECT priority, i, x AS l, CAST(0 AS BIGINT) AS b
      FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.priority, idx.i,
             CAST(floor(CAST(0.3 AS DOUBLE) * idx.x
                        + CAST(0.7 AS DOUBLE)
                          * (rec.l + CAST(0.9 AS DOUBLE) * rec.b)
                        + 0.5) AS BIGINT),
             CAST(floor(CAST(0.2 AS DOUBLE)
                          * (CAST(floor(CAST(0.3 AS DOUBLE) * idx.x
                               + CAST(0.7 AS DOUBLE)
                                 * (rec.l + CAST(0.9 AS DOUBLE) * rec.b)
                               + 0.5) AS BIGINT)
                             - rec.l)
                        + CAST(0.72 AS DOUBLE) * rec.b + 0.5) AS BIGINT)
      FROM rec JOIN idx
        ON idx.priority = rec.priority AND idx.i = rec.i + 1
    ),
    fin AS (
      SELECT rec.priority, rec.l, rec.b
      FROM rec JOIN nn ON rec.priority = nn.priority AND rec.i = nn.n
    )
    SELECT f.priority AS priority, nn.n AS n_months,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(l + CAST(floor(CAST(0.9 AS DOUBLE) * b + 0.5) AS BIGINT)
                AS BIGINT) AS forecast_1_cents,
           CAST(l + CAST(floor(CAST(1.71 AS DOUBLE) * b + 0.5) AS BIGINT)
                AS BIGINT) AS forecast_2_cents,
           CAST(l + CAST(floor(CAST(2.439 AS DOUBLE) * b + 0.5) AS BIGINT)
                AS BIGINT) AS forecast_3_cents
    FROM fin f JOIN nn ON f.priority = nn.priority
    ORDER BY f.priority
    """,
    doc="Damped-trend exponential smoothing (Gardner-McKenzie; alpha=0.3, "
    "beta=0.2, phi=0.9) of monthly revenue per priority — the variant "
    "that beat plain Holt across the M-competitions by letting the "
    "trend decay geometrically instead of extrapolating linearly "
    "forever: l_t = a*x + (1-a)(l + phi*b), b_t = g(l_t - l) + "
    "(1-g)phi*b, F_h = l + (phi + ... + phi^h) b. State is INTEGER "
    "CENTS re-quantized each step via floor(x + 0.5) — NOT round(): "
    "Spark rounds the double's shortest DECIMAL repr half-up while "
    "DuckDB rounds the binary double, and they diverged on a real "
    "near-.5 product at sf0.001 (the r12 finding); floor acts on the "
    "identical binary double on both engines, so every step is "
    "bit-deterministic — and every oracle-side constant is CAST(c AS "
    "DOUBLE) because bare DuckDB decimal literals are exact DECIMALs, "
    "which diverged from the double path by 1 cent at step 75 of the "
    "3-MEDIUM series. The "
    "damped forecast weights 0.9/1.71/2.439 are shared literals. "
    "Spark folds the calendar-bounded series with the aggregate HOF; "
    "the oracle replays the identical fold as a recursive CTE. Facts "
    "reduce map-side to (priority, month); O(1) state per series.",
)
def orders_damped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    ser = monthly.groupBy("priority").agg(
        F.expr("array_sort(collect_list(struct(month, x)))").alias("ms"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    fold = F.expr(
        "aggregate("
        "transform(slice(ms, 2, size(ms) - 1), e -> e.x), "
        "named_struct('l', element_at(ms, 1).x, 'b', CAST(0 AS BIGINT)), "
        "(acc, x) -> named_struct("
        "'l', CAST(floor(0.3D * x + 0.7D * (acc.l + 0.9D * acc.b) + 0.5D)"
        " AS BIGINT), "
        "'b', CAST(floor(0.2D * (CAST(floor(0.3D * x"
        " + 0.7D * (acc.l + 0.9D * acc.b) + 0.5D) AS BIGINT) - acc.l)"
        " + 0.72D * acc.b + 0.5D) AS BIGINT)))"
    )
    fin = ser.select(
        "priority", F.col("n").alias("n_months"), fold.alias("st")
    )
    return fin.select(
        "priority",
        "n_months",
        F.col("st.l").alias("level_cents"),
        F.col("st.b").alias("trend_cents"),
        F.expr(
            "CAST(st.l + CAST(floor(0.9D * st.b + 0.5D) AS BIGINT)"
            " AS BIGINT)"
        ).alias("forecast_1_cents"),
        F.expr(
            "CAST(st.l + CAST(floor(1.71D * st.b + 0.5D) AS BIGINT)"
            " AS BIGINT)"
        ).alias("forecast_2_cents"),
        F.expr(
            "CAST(st.l + CAST(floor(2.439D * st.b + 0.5D) AS BIGINT)"
            " AS BIGINT)"
        ).alias("forecast_3_cents"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# orders_bass_diffusion — Bass new-adopter model via closed-form quadratic OLS
# ---------------------------------------------------------------------------

_BASS_DETS = """
      CAST(t0 AS DOUBLE) AS d_t0, CAST(s1 AS DOUBLE) AS d_s1,
      CAST(s2 AS DOUBLE) AS d_s2, CAST(s3 AS DOUBLE) AS d_s3,
      CAST(s4 AS DOUBLE) AS d_s4, CAST(sy AS DOUBLE) AS d_sy,
      CAST(sy1 AS DOUBLE) AS d_sy1, CAST(sy2 AS DOUBLE) AS d_sy2
"""


@register(
    "orders_bass_diffusion",
    oracle="""
    WITH fo AS (
      SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS fm
      FROM orders GROUP BY 1
    ),
    ad AS (
      SELECT fm, CAST(count(*) AS BIGINT) AS n_new
      FROM fo GROUP BY 1
    ),
    cum AS (
      SELECT fm, n_new,
             CAST(coalesce(sum(n_new) OVER (ORDER BY fm
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // 10 AS BIGINT) AS y
      FROM ad
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS t0,
             CAST(sum(y) AS HUGEINT) AS s1,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2,
             CAST(sum(CAST(y AS HUGEINT) * y * y) AS HUGEINT) AS s3,
             CAST(sum(CAST(y AS HUGEINT) * y * y * y) AS HUGEINT) AS s4,
             CAST(sum(n_new) AS HUGEINT) AS sy,
             CAST(sum(CAST(n_new AS HUGEINT) * y) AS HUGEINT) AS sy1,
             CAST(sum(CAST(n_new AS HUGEINT) * y * y) AS HUGEINT) AS sy2
      FROM cum
    ),
    d AS (
      SELECT t0, """ + _BASS_DETS + """
      FROM s
    ),
    det AS (
      SELECT t0,
             d_t0 * (d_s2 * d_s4 - d_s3 * d_s3)
               - d_s1 * (d_s1 * d_s4 - d_s3 * d_s2)
               + d_s2 * (d_s1 * d_s3 - d_s2 * d_s2) AS dd,
             d_sy * (d_s2 * d_s4 - d_s3 * d_s3)
               - d_s1 * (d_sy1 * d_s4 - d_s3 * d_sy2)
               + d_s2 * (d_sy1 * d_s3 - d_s2 * d_sy2) AS da,
             d_t0 * (d_sy1 * d_s4 - d_sy2 * d_s3)
               - d_sy * (d_s1 * d_s4 - d_s3 * d_s2)
               + d_s2 * (d_s1 * d_sy2 - d_s2 * d_sy1) AS db,
             d_t0 * (d_s2 * d_sy2 - d_s3 * d_sy1)
               - d_s1 * (d_s1 * d_sy2 - d_sy1 * d_s2)
               + d_sy * (d_s1 * d_s3 - d_s2 * d_s2) AS dc
      FROM d
    )
    SELECT t0 AS n_months,
           CAST(floor(1000000.0 * da / dd) AS BIGINT) AS a_micro,
           CAST(floor(1000000.0 * db / dd) AS BIGINT) AS b_micro,
           CAST(floor(1000000000.0 * dc / dd) AS BIGINT) AS c_nano,
           CAST(CASE WHEN dc / dd < 0
                      AND (db / dd) * (db / dd)
                          - 4.0 * (da / dd) * (dc / dd) >= 0
                THEN floor((-(db / dd)
                     - sqrt((db / dd) * (db / dd)
                            - 4.0 * (da / dd) * (dc / dd)))
                     / (2.0 * (dc / dd)))
                ELSE 0 END AS BIGINT) AS market_size_tens
    FROM det
    """,
    doc="Bass diffusion model of customer adoption (first-order month): "
    "new adopters n_t = a + b*Y_{t-1} + c*Y_{t-1}^2 with Y the "
    "cumulative adopter count (scaled to tens for moment headroom) — "
    "the classic innovation/imitation growth model, fit in CLOSED "
    "FORM by Cramer's rule on the 3x3 normal equations (the "
    "orders_ols_multifactor recipe, one order up). All eight moment "
    "sums are exact HUGEINT/DECIMAL integers from ONE pass over the "
    "calendar-bounded month relation; the four 3x3 determinants and "
    "the implied market size m = (-b - sqrt(b^2-4ac))/(2c) are "
    "fixed-shape double expressions over those exact integers, "
    "floor-quantized (guarded to 0 when the quadratic has no "
    "admissible root, i.e. c >= 0 — no diffusion saturation "
    "detectable). One customer-keyed rollup + one bounded prefix "
    "window; O(1) reduce state.",
)
def orders_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    fo = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("fm")
    )
    ad = fo.groupBy("fm").agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    w = Window.orderBy("fm").rowsBetween(Window.unboundedPreceding, -1)
    cum = ad.select(
        "fm",
        "n_new",
        F.expr(
            "CAST(0 AS BIGINT)"
        ).alias("zero"),
    ).select(
        "fm",
        "n_new",
        (F.coalesce(F.sum("n_new").over(w), F.col("zero")) / 10)
        .cast("bigint")
        .alias("y"),
    )
    s = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("t0"),
        _dsum(F.col("y")).alias("s1"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("s2"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y * y")).alias("s3"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y * y * y")).alias("s4"),
        _dsum(F.col("n_new")).alias("sy"),
        _dsum(F.expr("CAST(n_new AS DECIMAL(38,0)) * y")).alias("sy1"),
        _dsum(F.expr("CAST(n_new AS DECIMAL(38,0)) * y * y")).alias("sy2"),
    )
    d = s.select(
        "t0",
        *[
            F.col(c).cast("double").alias(f"d_{c}")
            for c in ["t0", "s1", "s2", "s3", "s4", "sy", "sy1", "sy2"]
        ],
    )
    det = d.select(
        "t0",
        F.expr(
            "d_t0 * (d_s2 * d_s4 - d_s3 * d_s3)"
            " - d_s1 * (d_s1 * d_s4 - d_s3 * d_s2)"
            " + d_s2 * (d_s1 * d_s3 - d_s2 * d_s2)"
        ).alias("dd"),
        F.expr(
            "d_sy * (d_s2 * d_s4 - d_s3 * d_s3)"
            " - d_s1 * (d_sy1 * d_s4 - d_s3 * d_sy2)"
            " + d_s2 * (d_sy1 * d_s3 - d_s2 * d_sy2)"
        ).alias("da"),
        F.expr(
            "d_t0 * (d_sy1 * d_s4 - d_sy2 * d_s3)"
            " - d_sy * (d_s1 * d_s4 - d_s3 * d_s2)"
            " + d_s2 * (d_s1 * d_sy2 - d_s2 * d_sy1)"
        ).alias("db"),
        F.expr(
            "d_t0 * (d_s2 * d_sy2 - d_s3 * d_sy1)"
            " - d_s1 * (d_s1 * d_sy2 - d_sy1 * d_s2)"
            " + d_sy * (d_s1 * d_s3 - d_s2 * d_s2)"
        ).alias("dc"),
    )
    return det.select(
        F.col("t0").alias("n_months"),
        F.expr("CAST(floor(1000000.0 * da / dd) AS BIGINT)").alias("a_micro"),
        F.expr("CAST(floor(1000000.0 * db / dd) AS BIGINT)").alias("b_micro"),
        F.expr("CAST(floor(1000000000.0 * dc / dd) AS BIGINT)").alias(
            "c_nano"
        ),
        F.expr(
            "CAST(CASE WHEN dc / dd < 0"
            " AND (db / dd) * (db / dd)"
            "     - 4.0 * (da / dd) * (dc / dd) >= 0"
            " THEN floor((-(db / dd)"
            "      - sqrt((db / dd) * (db / dd)"
            "             - 4.0 * (da / dd) * (dc / dd)))"
            "      / (2.0 * (dc / dd)))"
            " ELSE 0 END AS BIGINT)"
        ).alias("market_size_tens"),
    )


# ---------------------------------------------------------------------------
# events_dfa_alpha — detrended fluctuation analysis of the daily event series
# ---------------------------------------------------------------------------


def _dfa_boxes_sql(s: int) -> str:
    """Per-box detrended residual sum at box size s, micro-quantized:
    RSS = Syy - Sy^2/s - (Sjy - (s+1)Sy/2)^2 / (s(s^2-1)/12), computed as
    one fixed-shape double expression over exact integer box sums."""
    return f"""
      SELECT {s} AS scale, CAST(count(*) AS BIGINT) AS n_boxes,
             CAST(sum(rss_micro) AS HUGEINT) AS total_micro
      FROM (
        SELECT CAST(floor(
            1000000.0 * (
              CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / {s}
              - (CAST(sjy AS DOUBLE) - {(s + 1)} * CAST(sy AS DOUBLE) / 2.0)
                * (CAST(sjy AS DOUBLE) - {(s + 1)} * CAST(sy AS DOUBLE) / 2.0)
                / {s * (s * s - 1) / 12.0}
            )) AS HUGEINT) AS rss_micro
        FROM (
          SELECT (k - 1) // {s} AS box,
                 CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(p) AS HUGEINT) AS sy,
                 CAST(sum((k - ((k - 1) // {s}) * {s}) * CAST(p AS HUGEINT))
                      AS HUGEINT) AS sjy,
                 CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS syy
          FROM prof GROUP BY 1
        ) WHERE cnt = {s}
      )
    """


@register(
    "events_dfa_alpha",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k, y
      FROM d
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS t
      FROM idx
    ),
    prof AS (
      SELECT k,
             CAST(tot.n * sum(y) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) - k * tot.t AS BIGINT) AS p
      FROM idx, tot
    ),
    f8 AS ({_dfa_boxes_sql(8)}),
    f16 AS ({_dfa_boxes_sql(16)}),
    f32 AS ({_dfa_boxes_sql(32)}),
    fs AS (
      SELECT f8.n_boxes AS b8,
             CAST(f8.total_micro // (f8.n_boxes * 8) AS BIGINT) AS f2_8,
             CAST(f16.total_micro // (f16.n_boxes * 16) AS BIGINT) AS f2_16,
             CAST(f32.total_micro // (f32.n_boxes * 32) AS BIGINT) AS f2_32
      FROM f8, f16, f32
    )
    SELECT (SELECT n FROM tot) AS n_days, b8 AS n_boxes_8,
           f2_8 AS f2_8_micro, f2_16 AS f2_16_micro, f2_32 AS f2_32_micro,
           CAST(floor(1000000.0
                * ln(CAST(f2_32 AS DOUBLE) / CAST(f2_8 AS DOUBLE))
                / (2.0 * 1.3862943611198906)) AS BIGINT) AS alpha_micro
    FROM fs
    """,
    doc="Detrended fluctuation analysis (DFA) of the daily event-count "
    "series at box scales 8/16/32 days: integrate the mean-centered "
    "series into the n-scaled EXACT integer profile P_k = n*prefix_k "
    "- k*total (the events_cusum_changepoint identity), split into "
    "complete boxes, least-squares-detrend each box via the CLOSED "
    "FORM RSS = Syy - Sy^2/s - (Sjy - (s+1)Sy/2)^2/(s(s^2-1)/12) "
    "over exact per-box integer sums, and read the scaling exponent "
    "alpha = ln(F2(32)/F2(8)) / (2 ln 4) — alpha ~ 0.5 is white "
    "noise, > 0.5 long-range-correlated activity: the long-memory "
    "readout beside events_gap_burstiness (B) and events_gap_memory "
    "(M), on COUNTS rather than gaps (and the fluctuation-function "
    "sibling of orders_rescaled_range's Hurst R/S). Per-box RSS "
    "floor-quantizes to micro before the exact box sum; the common "
    "n^2 profile scale cancels inside the log ratio (the integer F2 "
    "columns carry that n^2 scale, bounded under 2^62 through the "
    "probed SFs — at much larger event volumes reduce the profile by "
    "a constant before squaring, Spark div wraps silently past "
    "int64). One day rollup, "
    "one calendar-bounded prefix window, box sums via grid "
    "aggregation.",
)
def events_dfa_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    idx = d.select(
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("k"),
        "y",
    )
    tot = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("t"),
    )
    wp = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prof = idx.crossJoin(F.broadcast(tot)).select(
        "k",
        "n",
        (
            F.col("n") * F.sum("y").over(wp) - F.col("k") * F.col("t")
        )
        .cast("bigint")
        .alias("p"),
    )

    def boxes(s: int):
        g = (
            prof.groupBy(((F.col("k") - 1) / s).cast("bigint").alias("box"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                _dsum(F.col("p")).alias("sy"),
                _dsum(
                    (
                        F.col("k")
                        - ((F.col("k") - 1) / s).cast("bigint") * s
                    ).cast("decimal(38,0)")
                    * F.col("p")
                ).alias("sjy"),
                _dsum(F.expr("CAST(p AS DECIMAL(38,0)) * p")).alias("syy"),
            )
            .filter(F.col("cnt") == s)
        )
        rss = g.select(
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy").cast("double") / s
                    - (
                        F.col("sjy").cast("double")
                        - (s + 1) * F.col("sy").cast("double") / 2.0
                    )
                    * (
                        F.col("sjy").cast("double")
                        - (s + 1) * F.col("sy").cast("double") / 2.0
                    )
                    / (s * (s * s - 1) / 12.0)
                )
            )
            .cast("decimal(38,0)")
            .alias("rss_micro")
        )
        return rss.agg(
            F.count(F.lit(1)).cast("bigint").alias(f"b{s}"),
            F.sum("rss_micro").alias(f"tm{s}"),
        )

    fs = (
        boxes(8)
        .crossJoin(F.broadcast(boxes(16)))
        .crossJoin(F.broadcast(boxes(32)))
        .select(
            F.col("b8").alias("n_boxes_8"),
            F.expr("CAST(tm8 div (b8 * 8) AS BIGINT)").alias("f2_8_micro"),
            F.expr("CAST(tm16 div (b16 * 16) AS BIGINT)").alias(
                "f2_16_micro"
            ),
            F.expr("CAST(tm32 div (b32 * 32) AS BIGINT)").alias(
                "f2_32_micro"
            ),
        )
    )
    return fs.crossJoin(F.broadcast(tot.select(F.col("n").alias("n_days")))).select(
        "n_days",
        F.col("n_boxes_8"),
        "f2_8_micro",
        "f2_16_micro",
        "f2_32_micro",
        F.expr(
            "CAST(floor(1000000.0"
            " * ln(CAST(f2_32_micro AS DOUBLE) / CAST(f2_8_micro AS DOUBLE))"
            " / (2.0 * 1.3862943611198906)) AS BIGINT)"
        ).alias("alpha_micro"),
    )


# ---------------------------------------------------------------------------
# events_circular_stats — circular concentration of event hour-of-day
# ---------------------------------------------------------------------------

# cos/sin(2*pi*h/24) for h = 0..23 as shared nano-unit integer literals
_CIRC_COS = (
    "[1000000000, 965925826, 866025404, 707106781, 500000000, 258819045,"
    " 0, -258819045, -500000000, -707106781, -866025404, -965925826,"
    " -1000000000, -965925826, -866025404, -707106781, -500000000,"
    " -258819045, 0, 258819045, 500000000, 707106781, 866025404,"
    " 965925826]"
)
_CIRC_SIN = (
    "[0, 258819045, 500000000, 707106781, 866025404, 965925826,"
    " 1000000000, 965925826, 866025404, 707106781, 500000000, 258819045,"
    " 0, -258819045, -500000000, -707106781, -866025404, -965925826,"
    " -1000000000, -965925826, -866025404, -707106781, -500000000,"
    " -258819045]"
)


@register(
    "events_circular_stats",
    oracle=f"""
    WITH h AS (
      SELECT CAST(hour(ts) AS BIGINT) AS hh, CAST(count(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(c AS HUGEINT) * ({_CIRC_COS})[hh + 1])
                  AS HUGEINT) AS cc,
             CAST(sum(CAST(c AS HUGEINT) * ({_CIRC_SIN})[hh + 1])
                  AS HUGEINT) AS ss
      FROM h
    )
    SELECT n AS n_events,
           CAST(cc // 1000000 AS BIGINT) AS cos_sum_milli,
           CAST(ss // 1000000 AS BIGINT) AS sin_sum_milli,
           CAST(floor(1000000.0
                * sqrt(CAST(cc // 1000 AS DOUBLE)
                       * CAST(cc // 1000 AS DOUBLE)
                       + CAST(ss // 1000 AS DOUBLE)
                       * CAST(ss // 1000 AS DOUBLE))
                / (1000000.0 * n)) AS BIGINT) AS rbar_ppm,
           CAST(floor((CAST(cc // 1000 AS DOUBLE)
                       * CAST(cc // 1000 AS DOUBLE)
                       + CAST(ss // 1000 AS DOUBLE)
                       * CAST(ss // 1000 AS DOUBLE))
                / (1000000000000.0 * n)) AS BIGINT) AS rayleigh_z_micro
    FROM s
    """,
    doc="Circular statistics of event HOUR-OF-DAY: mean resultant length "
    "R-bar = |sum_h n_h e^(i 2pi h/24)| / n and the Rayleigh test "
    "statistic z = n R-bar^2 for non-uniformity on the 24-hour circle "
    "— the directional-statistics treatment of daily rhythm that "
    "events_hourly_profile (raw profile) and linear variance cannot "
    "give (hour 23 and hour 0 are NEIGHBORS on the circle). The 24 "
    "cos/sin values are shared nano-unit integer LITERALS (no trig at "
    "query time), so the resultant components are exact integer dot "
    "products over the 24-cell hour domain; they reduce by 1e3 "
    "before squaring (under 2^53 as doubles through sf1000) and "
    "R-bar/z are fixed-shape floor-quantized doubles. One 24-cell "
    "rollup; no windows, no joins; signed // and div truncate "
    "identically.",
)
def events_circular_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    h = ev.groupBy(F.hour("ts").cast("bigint").alias("hh")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cos_arr = "array" + _CIRC_COS.replace("[", "(").replace("]", ")")
    sin_arr = "array" + _CIRC_SIN.replace("[", "(").replace("]", ")")
    s = h.agg(
        F.sum("c").cast("bigint").alias("n"),
        _dsum(
            F.expr(
                f"CAST(c AS DECIMAL(38,0))"
                f" * element_at({cos_arr}, CAST(hh + 1 AS INT))"
            )
        ).alias("cc"),
        _dsum(
            F.expr(
                f"CAST(c AS DECIMAL(38,0))"
                f" * element_at({sin_arr}, CAST(hh + 1 AS INT))"
            )
        ).alias("ss"),
    )
    return s.select(
        F.col("n").alias("n_events"),
        F.expr("CAST(cc div 1000000 AS BIGINT)").alias("cos_sum_milli"),
        F.expr("CAST(ss div 1000000 AS BIGINT)").alias("sin_sum_milli"),
        F.expr(
            "CAST(floor(1000000.0"
            " * sqrt(CAST(cc div 1000 AS DOUBLE)"
            "        * CAST(cc div 1000 AS DOUBLE)"
            "        + CAST(ss div 1000 AS DOUBLE)"
            "        * CAST(ss div 1000 AS DOUBLE))"
            " / (1000000.0 * n)) AS BIGINT)"
        ).alias("rbar_ppm"),
        F.expr(
            "CAST(floor((CAST(cc div 1000 AS DOUBLE)"
            "            * CAST(cc div 1000 AS DOUBLE)"
            "            + CAST(ss div 1000 AS DOUBLE)"
            "            * CAST(ss div 1000 AS DOUBLE))"
            " / (1000000000000.0 * n)) AS BIGINT)"
        ).alias("rayleigh_z_micro"),
    )


# ---------------------------------------------------------------------------
# events_user_type_entropy — per-user behavioral entropy, corpus summary
# ---------------------------------------------------------------------------


@register(
    "events_user_type_entropy",
    oracle="""
    WITH ut AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(floor(1000000.0 * c * ln(CAST(c AS DOUBLE)))
                  AS BIGINT)) AS BIGINT) AS s_clnc
      FROM ut GROUP BY 1
    ),
    he AS (
      SELECT user_id, n, k,
             CAST(floor(1000000.0 * ln(CAST(n AS DOUBLE))) AS BIGINT)
               - s_clnc // n AS h_micro
      FROM u
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_single_type,
           CAST(sum(h_micro) // count(*) AS BIGINT) AS mean_h_micro,
           CAST(max(h_micro) AS BIGINT) AS max_h_micro,
           CAST(min(h_micro) AS BIGINT) AS min_h_micro
    FROM he
    """,
    doc="Per-user behavioral entropy over event types, summarized "
    "corpus-wide: H_u = ln n_u - (1/n_u) sum c ln c via the exact "
    "c*ln(c) identity, with each user's sum(floor(1e6 * c ln c)) an "
    "exact integer over the <= |type|-cell per-user distribution and "
    "ONE non-negative floor-division per user — the user-level "
    "diversity readout (how specialized is each account's behavior?) "
    "complementing the corpus-level events_entropy_rate (Markov, "
    "sequence-aware) and events_type_cooccurrence. Emits the user "
    "count, single-type (zero-entropy) user count, and mean/max/min "
    "entropy in micro-nats — all integer. Two keyed aggregations, "
    "shuffle keyed by user then a scalar reduce; no windows.",
)
def events_user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    u = ut.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.floor(
                F.lit(1000000.0)
                * F.col("c")
                * F.log(F.col("c").cast("double"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("s_clnc"),
    )
    he = u.select(
        "k",
        (
            F.floor(F.lit(1000000.0) * F.log(F.col("n").cast("double"))).cast(
                "bigint"
            )
            - F.expr("s_clnc div n")
        ).alias("h_micro"),
    )
    return he.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_single_type"),
        F.expr("CAST(sum(h_micro) div count(*) AS BIGINT)").alias(
            "mean_h_micro"
        ),
        F.max("h_micro").cast("bigint").alias("max_h_micro"),
        F.min("h_micro").cast("bigint").alias("min_h_micro"),
    )


# ---------------------------------------------------------------------------
# orders_p_chart — attribute control chart on the monthly return proportion
# ---------------------------------------------------------------------------


@register(
    "orders_p_chart",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(n) AS BIGINT) AS l, CAST(sum(r) AS BIGINT) AS rr
      FROM m
    )
    SELECT m.month, m.n AS n_lines, m.r AS n_returns,
           CAST((1000000 * m.r) // m.n AS BIGINT) AS phat_ppm,
           CAST((1000000 * t.rr) // t.l AS BIGINT) AS pbar_ppm,
           CAST(CASE WHEN CAST(m.r AS HUGEINT) * t.l > CAST(m.n AS HUGEINT)
                          * t.rr THEN 1 ELSE 0 END AS BIGINT) AS is_above,
           CAST(CASE WHEN (CAST(m.r AS HUGEINT) * t.l
                           - CAST(m.n AS HUGEINT) * t.rr)
                          * (CAST(m.r AS HUGEINT) * t.l
                             - CAST(m.n AS HUGEINT) * t.rr)
                          > 9 * CAST(t.rr AS HUGEINT) * (t.l - t.rr) * m.n
                     THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM m, t
    ORDER BY m.month
    """,
    doc="p-chart (attribute control chart) on the monthly return "
    "PROPORTION: center p-bar = R/L pooled over all ship months, "
    "3-sigma binomial limits p-bar +- 3 sqrt(p-bar(1-p-bar)/n_t) — "
    "the fraction-nonconforming companion to the measurement charts "
    "(orders_shewhart_control on revenue, orders_xmr_chart, "
    "orders_ewma_control): variable monthly sample sizes get "
    "per-month limits automatically. The control decision is the "
    "EXACT integer cross-multiplication (r_t L - n_t R)^2 > "
    "9 R (L-R) n_t (both sides under 10^38 through sf100) — no "
    "square root ever evaluated for the flag; phat/pbar land as ppm "
    "floor-divisions. One month rollup + 1-row broadcast; no "
    "windows.",
)
def orders_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    m = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("r"),
    )
    t = m.agg(
        F.sum("n").cast("bigint").alias("l"),
        F.sum("r").cast("bigint").alias("rr"),
    )
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            "month",
            F.col("n").alias("n_lines"),
            F.col("r").alias("n_returns"),
            F.expr("CAST((1000000 * r) div n AS BIGINT)").alias("phat_ppm"),
            F.expr("CAST((1000000 * rr) div l AS BIGINT)").alias("pbar_ppm"),
            F.expr(
                "CAST(CASE WHEN CAST(r AS DECIMAL(38,0)) * l"
                " > CAST(n AS DECIMAL(38,0)) * rr THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("is_above"),
            F.expr(
                "CAST(CASE WHEN (CAST(r AS DECIMAL(38,0)) * l"
                " - CAST(n AS DECIMAL(38,0)) * rr)"
                " * (CAST(r AS DECIMAL(38,0)) * l"
                "    - CAST(n AS DECIMAL(38,0)) * rr)"
                " > 9 * CAST(rr AS DECIMAL(38,0)) * (l - rr) * n"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("out_of_control"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# events_vmr_windows — index-of-dispersion curve across window sizes
# ---------------------------------------------------------------------------


@register(
    "events_vmr_windows",
    oracle="""
    WITH e AS (
      SELECT CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec FROM events
      WHERE ts IS NOT NULL
    ),
    sizes AS (
      SELECT unnest([3600, 21600, 86400]) AS w
    ),
    b AS (
      SELECT sizes.w, e.sec // sizes.w AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM e, sizes GROUP BY 1, 2
    ),
    s AS (
      SELECT w, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2
      FROM b GROUP BY 1
    )
    SELECT CAST(w AS BIGINT) AS window_seconds, k AS n_buckets,
           CAST(sc // k AS BIGINT) AS mean_count,
           CAST((1000000000 * (k * sc2 - CAST(sc AS HUGEINT) * sc))
                // (CAST(k - 1 AS HUGEINT) * k * sc) AS BIGINT)
             AS vmr_ppb
    FROM s
    WHERE k > 1
    ORDER BY window_seconds
    """,
    doc="Index-of-dispersion (variance-to-mean ratio, Fano factor) of "
    "event counts at THREE window scales — 1 hour, 6 hours, 1 day — "
    "over occupied buckets: a Poisson process holds VMR = 1 at every "
    "scale, so the VMR-vs-scale CURVE separates burst clustering "
    "(rising) from regular spacing (falling) in a way the single-"
    "scale agg_dispersion_test cannot; the count-domain companion to "
    "events_dfa_alpha's fluctuation exponent. With sample variance "
    "(k*S2 - S^2)/(k(k-1)) and mean S/k, VMR = (k*S2 - S^2)/"
    "((k-1)*S) — ONE exact non-negative integer ratio per scale, ppb "
    "floor-division. The 3-way size expansion happens on the bucket "
    "GRID (3 rollups' worth of cells, never 3x the raw rows "
    "shuffled... the per-(size,bucket) rollup is map-combined). No "
    "windows, no joins beyond the 3-row size scaffold.",
)
def events_vmr_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    e = ev.select(
        F.expr("unix_micros(ts) div 1000000").cast("bigint").alias("sec")
    )
    sizes = (
        table(spark, sf_dir, "events")
        .sparkSession.range(1)
        .select(
            F.explode(
                F.array(F.lit(3600), F.lit(21600), F.lit(86400))
            ).alias("w")
        )
    )
    b = (
        e.crossJoin(F.broadcast(sizes))
        .groupBy("w", F.expr("sec div w").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    s = b.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("c").cast("bigint").alias("sc"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("sc2"),
    )
    return (
        s.filter(F.col("k") > 1)
        .select(
            F.col("w").cast("bigint").alias("window_seconds"),
            F.col("k").alias("n_buckets"),
            F.expr("CAST(sc div k AS BIGINT)").alias("mean_count"),
            F.expr(
                "CAST((1000000000 * (k * sc2 - CAST(sc AS DECIMAL(38,0))"
                " * sc)) div (CAST(k - 1 AS DECIMAL(38,0)) * k * sc)"
                " AS BIGINT)"
            ).alias("vmr_ppb"),
        )
        .orderBy("window_seconds")
    )


# ---------------------------------------------------------------------------
# orders_wright_learning — experience-curve slope (log-log OLS)
# ---------------------------------------------------------------------------


@register(
    "orders_wright_learning",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT month, q, rev,
             CAST(sum(q) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cq,
             CAST((1000 * rev) // (100 * q) AS BIGINT) AS up_milli
      FROM m
    ),
    pts AS (
      SELECT CAST(floor(1000000.0 * ln(CAST(cq AS DOUBLE))) AS BIGINT)
               AS x,
             CAST(floor(1000000.0 * ln(CAST(up_milli AS DOUBLE)))
                  AS BIGINT) AS y
      FROM cum WHERE q > 0 AND up_milli > 0
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM pts
    )
    SELECT n AS n_months,
           CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END AS BIGINT)
             AS slope_sign,
           CAST((1000000 * abs(n * sxy - sx * sy))
                // greatest(n * sxx - sx * sx, 1) AS BIGINT)
             AS slope_abs_micro,
           CAST((1000000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
                // greatest((n * sxx - sx * sx) * (n * syy - sy * sy), 1)
                AS BIGINT) AS r2_ppb
    FROM s
    """,
    doc="Wright's-law experience curve: regress ln(unit price) on "
    "ln(cumulative quantity) across ship months — the learning-curve "
    "slope b in price ~ Q^b, the production-economics pattern behind "
    "cost-decline forecasting (negative slope = costs fall as "
    "experience doubles). Unit price quantizes to integer milli-"
    "dollars via one exact floor-division per month, then BOTH "
    "log-log coordinates floor-quantize to micro-units (the "
    "events_weibull_gaps median-rank-regression recipe) so all five "
    "OLS moment sums are exact HUGEINT integers over the calendar-"
    "bounded relation; slope is sign-split with a non-negative micro "
    "floor-division and R^2 is one exact ppb ratio (squared-"
    "covariance cross-multiplication). One month rollup + one "
    "bounded prefix window.",
)
def orders_wright_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    m = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round("l_quantity").cast("bigint")).cast("bigint").alias("q"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev"),
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = m.select(
        "q",
        F.sum("q").over(w).cast("bigint").alias("cq"),
        F.expr("CAST((1000 * rev) div (100 * q) AS BIGINT)").alias(
            "up_milli"
        ),
    )
    pts = cum.filter((F.col("q") > 0) & (F.col("up_milli") > 0)).select(
        F.floor(F.lit(1000000.0) * F.log(F.col("cq").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.floor(F.lit(1000000.0) * F.log(F.col("up_milli").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_months"),
        F.expr(
            "CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("slope_sign"),
        F.expr(
            "CAST((1000000 * abs(n * sxy - sx * sy))"
            " div greatest(n * sxx - sx * sx, 1) AS BIGINT)"
        ).alias("slope_abs_micro"),
        F.expr(
            "CAST((1000000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))"
            " div greatest((n * sxx - sx * sx) * (n * syy - sy * sy), 1)"
            " AS BIGINT)"
        ).alias("r2_ppb"),
    )


# ---------------------------------------------------------------------------
# graph_degree_gini — strength-distribution inequality of the trade graph
# ---------------------------------------------------------------------------

_TRADE_EDGES_SQL = """
    f AS MATERIALIZED (
      SELECT o.o_custkey AS ck, l.l_suppkey AS sk,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    tr AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(sum(w) AS BIGINT) AS w
      FROM f
      JOIN customer c ON f.ck = c.c_custkey
      JOIN supplier s ON f.sk = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    )
"""


@register(
    "graph_degree_gini",
    oracle=f"""
    WITH {_TRADE_EDGES_SQL},
    st AS (
      SELECT k, CAST(sum(w) AS BIGINT) AS s
      FROM (SELECT src AS k, w FROM tr
            UNION ALL SELECT dst AS k, w FROM tr)
      GROUP BY k
    ),
    r AS (
      SELECT k, s,
             CAST(row_number() OVER (ORDER BY s, k) AS BIGINT) AS rk
      FROM st
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS HUGEINT) AS tot,
             CAST(sum(CAST(rk AS HUGEINT) * s) AS HUGEINT) AS rs,
             CAST(sum(CASE WHEN rk > (SELECT count(*) - 5 FROM r)
                  THEN s ELSE 0 END) AS HUGEINT) AS top5
      FROM r
    )
    SELECT n AS n_nodes, CAST(tot AS BIGINT) AS total_strength,
           CAST((1000000000 * (2 * rs - (n + 1) * tot)) // (n * tot)
                AS BIGINT) AS gini_ppb,
           CAST((1000000000 * top5) // tot AS BIGINT) AS top5_share_ppb
    FROM g
    """,
    doc="Gini coefficient of the node STRENGTH distribution (weighted "
    "degree) of the undirected nation trade graph, plus the top-5 "
    "strength share: the hub-concentration readout that tells a graph "
    "workload whether its adjacency is skew-partitioned before a "
    "shuffle (the graph-shaped sibling of profile_key_skew; "
    "graph_assortativity measures WHO links to whom, this measures "
    "how unequal the linkage mass itself is). Rank formula "
    "G = (2 sum r_i s_i - (n+1) sum s)/(n sum s) over the 25-node "
    "relation with deterministic (strength, key) rank ties — exact "
    "integers, ONE non-negative ppb floor-division each. The fact "
    "join pre-aggregates to (custkey, suppkey) before the dim joins "
    "(the graph_rich_club r12 lesson, 12x cheaper in the oracle); "
    "windows run over the 25-node relation only.",
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    tr = (
        f.join(F.broadcast(c), F.col("ck") == c.c_custkey)
        .join(F.broadcast(s), F.col("sk") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    st = (
        tr.select(F.col("src").alias("k"), "w")
        .unionAll(tr.select(F.col("dst").alias("k"), "w"))
        .groupBy("k")
        .agg(F.sum("w").cast("bigint").alias("s"))
    )
    r = st.select(
        "k",
        "s",
        F.row_number()
        .over(Window.orderBy("s", "k"))
        .cast("bigint")
        .alias("rk"),
    )
    cnt = r.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    g = r.crossJoin(F.broadcast(cnt)).agg(
        F.max("nn").cast("bigint").alias("n"),
        _dsum(F.col("s")).alias("tot"),
        _dsum(F.expr("CAST(rk AS DECIMAL(38,0)) * s")).alias("rs"),
        _dsum(
            F.expr("CASE WHEN rk > nn - 5 THEN s ELSE 0 END")
        ).alias("top5"),
    )
    return g.select(
        F.col("n").alias("n_nodes"),
        F.expr("CAST(tot AS BIGINT)").alias("total_strength"),
        F.expr(
            "CAST((1000000000 * (2 * rs - (n + 1) * tot)) div (n * tot)"
            " AS BIGINT)"
        ).alias("gini_ppb"),
        F.expr("CAST((1000000000 * top5) div tot AS BIGINT)").alias(
            "top5_share_ppb"
        ),
    )


# ---------------------------------------------------------------------------
# graph_modularity_split — Newman modularity of the region partition
# ---------------------------------------------------------------------------


@register(
    "graph_modularity_split",
    oracle=f"""
    WITH {_TRADE_EDGES_SQL},
    uw AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             CAST(sum(w) AS BIGINT) AS w
      FROM tr GROUP BY 1, 2
    ),
    com AS (SELECT n_nationkey AS k, n_regionkey AS c FROM nation),
    lab AS (
      SELECT uw.w, ca.c AS ca, cb.c AS cb
      FROM uw JOIN com ca ON uw.a = ca.k JOIN com cb ON uw.b = cb.k
    ),
    tot AS (SELECT CAST(sum(w) AS HUGEINT) AS bigw FROM lab),
    intra AS (
      SELECT CAST(coalesce(sum(CASE WHEN ca = cb THEN w END), 0)
                  AS HUGEINT) AS e_in
      FROM lab
    ),
    a AS (
      SELECT c, CAST(sum(w) AS HUGEINT) AS deg
      FROM (SELECT ca AS c, w FROM lab UNION ALL SELECT cb AS c, w FROM lab)
      GROUP BY c
    ),
    q AS (
      SELECT tot.bigw, intra.e_in,
             (SELECT CAST(sum(deg * deg) AS HUGEINT) FROM a) AS sum_a2
      FROM tot, intra
    )
    SELECT CAST(bigw AS BIGINT) AS total_weight,
           CAST(e_in AS BIGINT) AS intra_weight,
           CAST(CASE WHEN 4 * bigw * e_in >= sum_a2 THEN 1 ELSE -1 END
                AS BIGINT) AS q_sign,
           CAST((1000000000 * abs(4 * bigw * e_in - sum_a2))
                // (4 * bigw * bigw) AS BIGINT) AS q_abs_ppb
    FROM q
    """,
    doc="Newman modularity Q of the REGION partition over the undirected "
    "weighted trade graph: Q = sum_c [e_c/W - (a_c/2W)^2] — does "
    "geography explain trade clustering better than chance? The "
    "fixed-partition evaluation companion to graph_label_propagation "
    "(which SEARCHES for communities; this SCORES a given partition, "
    "the quantity label propagation implicitly climbs). Clearing the "
    "4W^2 denominator: Q = (4W*e_in - sum_c a_c^2)/(4W^2) — exact "
    "HUGEINT integers from the <= 300-edge labeled relation (region "
    "labels via the 25-row nation dim), sign-split ppb. Fact work is "
    "the pre-aggregated trade rollup; everything downstream is "
    "region-domain-bounded (5 communities).",
)
def graph_modularity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_regionkey").alias("c")
    )
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    tr = (
        f.join(F.broadcast(c), F.col("ck") == c.c_custkey)
        .join(F.broadcast(s), F.col("sk") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    uw = tr.groupBy(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).agg(F.sum("w").cast("bigint").alias("w"))
    lab = (
        uw.join(
            F.broadcast(n.withColumnRenamed("k", "ka").withColumnRenamed("c", "ca")),
            F.col("a") == F.col("ka"),
        )
        .join(
            F.broadcast(
                n.withColumnRenamed("k", "kb").withColumnRenamed("c", "cb")
            ),
            F.col("b") == F.col("kb"),
        )
        .select("w", "ca", "cb")
    )
    a = (
        lab.select(F.col("ca").alias("c"), "w")
        .unionAll(lab.select(F.col("cb").alias("c"), "w"))
        .groupBy("c")
        .agg(_dsum(F.col("w")).alias("deg"))
        .agg(_dsum(F.expr("deg * deg")).alias("sum_a2"))
    )
    tot = lab.agg(
        _dsum(F.col("w")).alias("bigw"),
        _dsum(
            F.expr("CASE WHEN ca = cb THEN w ELSE 0 END")
        ).alias("e_in"),
    )
    q = tot.crossJoin(F.broadcast(a))
    return q.select(
        F.expr("CAST(bigw AS BIGINT)").alias("total_weight"),
        F.expr("CAST(e_in AS BIGINT)").alias("intra_weight"),
        F.expr(
            "CAST(CASE WHEN 4 * bigw * e_in >= sum_a2 THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("q_sign"),
        F.expr(
            "CAST((1000000000 * abs(4 * bigw * e_in - sum_a2))"
            " div (4 * bigw * bigw) AS BIGINT)"
        ).alias("q_abs_ppb"),
    )


# ---------------------------------------------------------------------------
# graph_rw_visit_probs — 4-step random-walk distribution from the top hub
# ---------------------------------------------------------------------------

_RW_STEP_SQL = """
      SELECT tr.dst AS k,
             CAST(sum((p.p * tr.w) // st.s) AS BIGINT) AS p
      FROM {prev} p
      JOIN tr ON tr.src = p.k
      JOIN st ON st.k = p.k
      GROUP BY tr.dst
"""


@register(
    "graph_rw_visit_probs",
    oracle=f"""
    WITH {_TRADE_EDGES_SQL},
    st AS (
      SELECT src AS k, CAST(sum(w) AS BIGINT) AS s FROM tr GROUP BY 1
    ),
    start AS (
      SELECT k FROM st ORDER BY s DESC, k LIMIT 1
    ),
    p0 AS (
      SELECT k, CAST(1000000000000 AS BIGINT) AS p FROM start
    ),
    p1 AS ({_RW_STEP_SQL.format(prev="p0")}),
    p2 AS ({_RW_STEP_SQL.format(prev="p1")}),
    p3 AS ({_RW_STEP_SQL.format(prev="p2")}),
    p4 AS ({_RW_STEP_SQL.format(prev="p3")})
    SELECT CAST(p4.k AS BIGINT) AS nationkey, n.n_name AS nation,
           CAST(p4.p AS BIGINT) AS p4_pico
    FROM p4 JOIN nation n ON n.n_nationkey = p4.k
    WHERE p4.p > 0
    ORDER BY nationkey
    """,
    doc="4-step random-walk visit distribution on the DIRECTED customer->"
    "supplier trade graph, started at the highest-out-strength nation "
    "(deterministic key tie-break): where does trade influence "
    "diffuse? — the finite-horizon transition view that complements "
    "the stationary readouts (pagerank_nations, "
    "events_markov_stationary) with an explicit source. Probabilities "
    "are pico-scaled integers; each step distributes p(u)*w(u,v) div "
    "s(u) per edge with the floor INSIDE the per-edge term, so every "
    "step is an exact integer hash aggregation over the <= 600-row "
    "nation-bounded adjacency (mass lost to flooring is < 600 pico "
    "per step, declared). The adjacency is nation^2-bounded, so it is "
    "collected once and the four steps run as exact Python integers "
    "on the driver (the pagerank_nations discipline) — bit-identical "
    "to the four chained CTEs the oracle unrolls; fact work is the "
    "one pre-aggregated trade rollup.",
)
def graph_rw_visit_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    tr = (
        f.join(F.broadcast(c), F.col("ck") == c.c_custkey)
        .join(F.broadcast(s), F.col("sk") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    # The directed adjacency is nation-dimension-squared-bounded (<= 600
    # rows at TPC-H's 25 nations — a driver scalar), so after the single
    # corpus-proportional aggregation it is collected ONCE and the four
    # walk steps run in exact Python integer arithmetic on the driver
    # (the pagerank_nations discipline: (p*w) // s on non-negative
    # arbitrary-precision ints == SQL `div`, integer partial sums
    # commute — bit-identical to the per-step join formulation the
    # oracle unrolls). Formerly each execution replayed four chained
    # bounded joins + the argmax subplan over a persisted adjacency.
    edges = [(r["src"], r["dst"], r["w"]) for r in tr.collect()]
    st: dict = {}
    for s_, _, w_ in edges:
        st[s_] = st.get(s_, 0) + w_
    p: dict = {}
    if st:
        # ORDER BY s DESC, k ASC LIMIT 1 — max strength, min-key tie-break
        start = min(st, key=lambda k: (-st[k], k))
        p = {start: 10**12}
        for _ in range(4):
            nxt: dict = {}
            for s_, d_, w_ in edges:
                if s_ in p:
                    nxt[d_] = nxt.get(d_, 0) + (p[s_] * w_) // st[s_]
            p = nxt
    pos = {k: v for k, v in sorted(p.items()) if v > 0}
    p_lit = (
        F.create_map(*[F.lit(x) for k, v in pos.items() for x in (k, v)])
        if pos
        else F.create_map().cast("map<int,bigint>")
    )
    return (
        nat.filter(F.col("n_nationkey").isin(list(pos)))
        .select(
            F.col("n_nationkey").cast("bigint").alias("nationkey"),
            F.col("n_name").alias("nation"),
            p_lit[F.col("n_nationkey")].cast("bigint").alias("p4_pico"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# text_coleman_liau — Coleman-Liau readability index (letters, not syllables)
# ---------------------------------------------------------------------------


@register(
    "text_coleman_liau",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS BIGINT)
               AS n_letters
      FROM documents
    )
    SELECT doc_id, lang, source, n_words, n_sentences, n_letters,
           0.0588 * (100.0 * n_letters / n_words)
             - 0.296 * (100.0 * n_sentences / n_words)
             - 15.8 AS cli_grade
    FROM f
    WHERE n_words > 0
    """,
    doc="Coleman-Liau readability index per document: CLI = 0.0588*L - "
    "0.296*S - 15.8 with L = letters and S = sentences per 100 words "
    "— the readability family member designed around CHARACTER "
    "counts instead of the syllable heuristic (text_readability_"
    "flesch, text_smog_index), making it the robust choice for OCR/"
    "web text where vowel-group syllabification misleads; completes "
    "the readability panel beside ARI (also character-based but "
    "different weights), LIX/RIX (long-word-based) and Dale-Chall "
    "(wordlist-based). All three counts are exact integers from "
    "character-class-only regexes both dialects share; the grade is "
    "one fixed-order IEEE expression. Pure map-side projection, zero "
    "shuffles.",
)
def text_coleman_liau(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    f = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        F.greatest(
            F.lit(1), F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)"))
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.size(F.expr("regexp_extract_all(text, '[a-zA-Z]', 0)"))
        .cast("bigint")
        .alias("n_letters"),
    )
    return f.filter(F.col("n_words") > 0).select(
        "doc_id",
        "lang",
        "source",
        "n_words",
        "n_sentences",
        "n_letters",
        (
            0.0588 * (100.0 * F.col("n_letters") / F.col("n_words"))
            - 0.296 * (100.0 * F.col("n_sentences") / F.col("n_words"))
            - 15.8
        ).alias("cli_grade"),
    )


# ---------------------------------------------------------------------------
# text_hapax_richness — Honoré / Sichel / Guiraud / Uber vocabulary panel
# ---------------------------------------------------------------------------


@register(
    "text_hapax_richness",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY 1, 2
    ),
    s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS v,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
      FROM wc GROUP BY 1
    )
    SELECT source, n AS n_tokens, v AS n_types, v1 AS n_hapax,
           CAST((1000000000 * v1) // v AS BIGINT) AS hapax_ppb,
           CAST((1000000000 * v2) // v AS BIGINT) AS sichel_ppb,
           CAST(CASE WHEN v1 < v THEN
                floor(100000.0 * ln(CAST(n AS DOUBLE)) * v / (v - v1))
                ELSE 0 END AS BIGINT) AS honore_r_milli,
           CAST(floor(1000.0 * v / sqrt(CAST(n AS DOUBLE))) AS BIGINT)
             AS guiraud_r_milli,
           CAST(CASE WHEN v < n THEN
                floor(1000.0 * ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))
                      / (ln(CAST(n AS DOUBLE)) - ln(CAST(v AS DOUBLE))))
                ELSE 0 END AS BIGINT) AS uber_u_milli
    FROM s
    ORDER BY source
    """,
    doc="Per-source vocabulary-richness panel from the token frequency "
    "spectrum: hapax ratio V1/V, Sichel's S = V2/V (dis legomena), "
    "Honore's R = 100 ln N / (1 - V1/V), Guiraud's R = V/sqrt(N) and "
    "the Uber index U = (ln N)^2/(ln N - ln V) — five classical "
    "length-robust diversity statistics over the SAME (source, word, "
    "count) relation, the spectrum-shape companions to text_yule_k "
    "(second moment), text_heaps_law_fit (growth curve) and the "
    "windowed MTLD/MATTR family. V/N/V1/V2 are exact integers; the "
    "two ratio statistics are non-negative ppb floor-divisions and "
    "the three ln/sqrt forms are fixed-shape floor-quantized doubles "
    "over those exact integers (division-by-zero guarded to 0 when "
    "V1 = V or V = N). One map-combined (source, word) rollup, one "
    "10-group reduce; no windows.",
)
def text_hapax_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    wc = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = wc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("v1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("v2"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.col("v1").alias("n_hapax"),
        F.expr("CAST((1000000000 * v1) div v AS BIGINT)").alias("hapax_ppb"),
        F.expr("CAST((1000000000 * v2) div v AS BIGINT)").alias(
            "sichel_ppb"
        ),
        F.expr(
            "CAST(CASE WHEN v1 < v THEN"
            " floor(100000.0 * ln(CAST(n AS DOUBLE)) * v / (v - v1))"
            " ELSE 0 END AS BIGINT)"
        ).alias("honore_r_milli"),
        F.expr(
            "CAST(floor(1000.0 * v / sqrt(CAST(n AS DOUBLE))) AS BIGINT)"
        ).alias("guiraud_r_milli"),
        F.expr(
            "CAST(CASE WHEN v < n THEN"
            " floor(1000.0 * ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))"
            "       / (ln(CAST(n AS DOUBLE)) - ln(CAST(v AS DOUBLE))))"
            " ELSE 0 END AS BIGINT)"
        ).alias("uber_u_milli"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# text_char_bigram_entropy — conditional character-bigram entropy per source
# ---------------------------------------------------------------------------


@register(
    "text_char_bigram_entropy",
    oracle="""
    WITH bg AS (
      SELECT source, unnest(list_transform(range(1, length(text)),
             i -> substr(text, CAST(i AS INT), 2))) AS pair
      FROM documents WHERE length(text) >= 2
    ),
    pc AS (
      SELECT source, pair, CAST(count(*) AS BIGINT) AS c
      FROM bg GROUP BY 1, 2
    ),
    fc AS (
      SELECT source, substr(pair, 1, 1) AS ch, CAST(sum(c) AS BIGINT) AS c
      FROM pc GROUP BY 1, 2
    ),
    sp AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS t,
             CAST(sum(CAST(floor(1000000.0 * c * ln(CAST(c AS DOUBLE)))
                  AS HUGEINT)) AS HUGEINT) AS s_pair,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pc GROUP BY 1
    ),
    sf AS (
      SELECT source,
             CAST(sum(CAST(floor(1000000.0 * c * ln(CAST(c AS DOUBLE)))
                  AS HUGEINT)) AS HUGEINT) AS s_first,
             CAST(count(*) AS BIGINT) AS n_chars
      FROM fc GROUP BY 1
    )
    SELECT sp.source AS source, sp.t AS n_bigrams,
           sp.n_pairs AS n_distinct_pairs, sf.n_chars AS n_distinct_chars,
           CAST((sf.s_first - sp.s_pair) // sp.t AS BIGINT)
             AS h_cond_micro
    FROM sp JOIN sf ON sp.source = sf.source
    ORDER BY source
    """,
    doc="Conditional character-bigram entropy H(c2|c1) per source via the "
    "chain rule H(pair) - H(first) and the exact c*ln(c) identity: "
    "H(c2|c1) = (sum_first floor(1e6 c ln c) - sum_pair floor(1e6 c "
    "ln c)) / T — the ln T terms cancel, the numerator is a "
    "difference of exact integers (non-negative: the coarser "
    "partition always has the larger sum), and ONE floor-division "
    "lands micro-nats. This is the character-level predictability "
    "signal language-ID and gibberish filters key on (text_word_"
    "entropy is unigram-word-level; events_entropy_rate is the same "
    "chain rule on event sequences) — low H(c2|c1) = repetitive or "
    "templated text. Bigrams explode map-side and immediately reduce "
    "to the bounded (source, char-pair) DOMAIN; two grid rollups, "
    "one 10-row join.",
)
def text_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(
        F.length("text") >= 2
    )
    # adjacent char pairs via zip_with over two shifted slices of the
    # char array — same pairs, same order as the former
    # sequence+substring transform, measured ~2x cheaper (the
    # text_ngram_topk zip_with precedent at character level; verified
    # row-identical on the sf0.1 corpus before landing)
    chars = F.split("text", "")
    nch = F.size(chars)
    bg = docs.select(
        "source",
        F.explode(
            F.zip_with(
                F.slice(chars, 1, nch - 1),
                F.slice(chars, 2, nch - 1),
                lambda a, b: F.concat(a, b),
            )
        ).alias("pair"),
    )
    pc = bg.groupBy("source", "pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    fc = pc.groupBy(
        "source", F.substring("pair", 1, 1).alias("ch")
    ).agg(F.sum("c").cast("bigint").alias("c"))
    clnc = F.floor(
        F.lit(1000000.0) * F.col("c") * F.log(F.col("c").cast("double"))
    )
    sp = pc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("t"),
        _dsum(clnc).alias("s_pair"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    sf_ = fc.groupBy("source").agg(
        _dsum(clnc).alias("s_first"),
        F.count(F.lit(1)).cast("bigint").alias("n_chars"),
    )
    return (
        sp.join(sf_, "source")
        .select(
            "source",
            F.col("t").alias("n_bigrams"),
            F.col("n_pairs").alias("n_distinct_pairs"),
            F.col("n_chars").alias("n_distinct_chars"),
            F.expr("CAST((s_first - s_pair) div t AS BIGINT)").alias(
                "h_cond_micro"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# text_juilland_d — Juilland dispersion of top corpus words across sources
# ---------------------------------------------------------------------------


@register(
    "text_juilland_d",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    cw AS (
      SELECT word, CAST(count(*) AS BIGINT) AS tot
      FROM w GROUP BY 1 ORDER BY tot DESC, word LIMIT 20
    ),
    srcs AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_src
      FROM w GROUP BY 1
    ),
    k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM srcs),
    cell AS (
      SELECT cw.word, cw.tot, s.source, s.n_src,
             CAST(coalesce((SELECT count(*) FROM w
                    WHERE w.word = cw.word AND w.source = s.source), 0)
                  AS BIGINT) AS c
      FROM cw CROSS JOIN srcs s
    ),
    q AS (
      SELECT word, tot, source,
             CAST((1000000 * c) // n_src AS BIGINT) AS f_ppm
      FROM cell
    ),
    d AS (
      SELECT word, tot,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(f_ppm) AS BIGINT) AS s,
             CAST(sum(CAST(f_ppm AS HUGEINT) * f_ppm) AS HUGEINT) AS s2
      FROM q GROUP BY 1, 2
    )
    SELECT word, tot AS n_occurrences,
           CAST(s // k AS BIGINT) AS mean_f_ppm,
           CAST(CASE WHEN s > 0 THEN
                1000000000 - CAST(floor(1000000000.0
                  * sqrt((CAST(k AS DOUBLE) * CAST(s2 AS DOUBLE)
                          - CAST(s AS DOUBLE) * s)
                         / (CAST(k AS DOUBLE) * (k - 1)))
                  * k / (sqrt(CAST(k - 1 AS DOUBLE)) * s)) AS BIGINT)
                ELSE 0 END AS BIGINT) AS juilland_d_ppb
    FROM d
    ORDER BY n_occurrences DESC, word
    """,
    doc="Juilland's D dispersion for the 20 most frequent corpus words "
    "across the source partition: D = 1 - CV/sqrt(k-1) over the "
    "per-source RELATIVE frequencies (each source's count normalized "
    "by its own token mass) — D ~ 1 means the word is spread evenly "
    "(a true function word), low D flags source-specific jargon or "
    "boilerplate; the parametric classic beside text_gries_dp "
    "(deviation-of-proportions) and text_word_burstiness (doc-level "
    "clumping). Per-cell frequencies quantize to exact integer ppm "
    "via one floor-division against the source token mass (absent "
    "cells = 0 via the bounded 20 x k scaffold); mean/variance "
    "moments are exact integers and D is one fixed-shape floor-"
    "quantized double. Token work is one (source, word) rollup; "
    "everything downstream is 20 x k bounded.",
)
def text_juilland_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    sw = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cw = (
        sw.groupBy("word")
        .agg(F.sum("c").cast("bigint").alias("tot"))
        .orderBy(F.col("tot").desc(), "word")
        .limit(20)
    )
    srcs = sw.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_src")
    )
    cell = (
        F.broadcast(cw)
        .crossJoin(F.broadcast(srcs))
        .join(sw, ["word", "source"], "left")
        .select(
            "word",
            "tot",
            "source",
            "n_src",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    q = cell.select(
        "word",
        "tot",
        F.expr("CAST((1000000 * c) div n_src AS BIGINT)").alias("f_ppm"),
    )
    d = q.groupBy("word", "tot").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("f_ppm").cast("bigint").alias("s"),
        _dsum(F.expr("CAST(f_ppm AS DECIMAL(38,0)) * f_ppm")).alias("s2"),
    )
    return d.select(
        "word",
        F.col("tot").alias("n_occurrences"),
        F.expr("CAST(s div k AS BIGINT)").alias("mean_f_ppm"),
        F.expr(
            "CAST(CASE WHEN s > 0 THEN"
            " 1000000000 - CAST(floor(1000000000.0"
            "   * sqrt((CAST(k AS DOUBLE) * CAST(s2 AS DOUBLE)"
            "           - CAST(s AS DOUBLE) * s)"
            "          / (CAST(k AS DOUBLE) * (k - 1)))"
            "   * k / (sqrt(CAST(k - 1 AS DOUBLE)) * s)) AS BIGINT)"
            " ELSE 0 END AS BIGINT)"
        ).alias("juilland_d_ppb"),
    ).orderBy(F.col("n_occurrences").desc(), "word")


# ---------------------------------------------------------------------------
# docs_length_lognormal_fit — lognormal fit of document lengths per source
# ---------------------------------------------------------------------------


@register(
    "docs_length_lognormal_fit",
    oracle="""
    WITH lv AS (
      SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
      FROM documents WHERE n_chars > 0 GROUP BY 1, 2
    ),
    q AS (
      SELECT source, c,
             CAST(floor(1000000.0 * ln(CAST(n_chars AS DOUBLE)))
                  AS BIGINT) AS x
      FROM lv
    ),
    s AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * x) AS HUGEINT) AS sx,
             CAST(sum(CAST(c AS HUGEINT) * x * x) AS HUGEINT) AS sx2
      FROM q GROUP BY 1
    )
    SELECT source, n AS n_docs,
           CAST(sx // n AS BIGINT) AS mu_micro,
           CAST(CASE WHEN n > 1 THEN
                (n * sx2 - sx * sx) // (CAST(n AS HUGEINT) * (n - 1)
                                        * 1000000)
                ELSE 0 END AS BIGINT) AS sigma2_micro
    FROM s
    ORDER BY source
    """,
    doc="Lognormal fit of document LENGTH per source by method of "
    "moments in log space: mu = mean(ln n_chars), sigma^2 = "
    "var(ln n_chars) — the two-parameter summary every corpus "
    "datasheet reports (web-document lengths are canonically "
    "lognormal) and the sanity gate for chunking/packing budgets "
    "(pack_sequences) and length-based quality filters. ln runs once "
    "per DISTINCT (source, n_chars) length value (the value-domain "
    "discipline), floor-quantized to micro; weighted moment sums are "
    "exact HUGEINT integers and both parameters land via non-"
    "negative floor-divisions (sigma^2 scaled back to micro-nats^2). "
    "One domain rollup + one 10-group reduce; no windows, no joins.",
)
def docs_length_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    lv = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    q = lv.select(
        "source",
        "c",
        F.floor(
            F.lit(1000000.0) * F.log(F.col("n_chars").cast("double"))
        )
        .cast("bigint")
        .alias("x"),
    )
    s = q.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        _dsum(F.col("c") * F.col("x")).alias("sx"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * x * x")).alias("sx2"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr("CAST(sx div n AS BIGINT)").alias("mu_micro"),
        F.expr(
            "CAST(CASE WHEN n > 1 THEN"
            " (n * sx2 - sx * sx) div (CAST(n AS DECIMAL(38,0)) * (n - 1)"
            "                          * 1000000)"
            " ELSE 0 END AS BIGINT)"
        ).alias("sigma2_micro"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# orders_rca_index — Balassa revealed comparative advantage (nation x brand)
# ---------------------------------------------------------------------------


@register(
    "orders_rca_index",
    oracle="""
    WITH x AS (
      SELECT c.c_nationkey AS nk, p.p_brand AS brand,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT nk, brand, rev,
             CAST(sum(rev) OVER (PARTITION BY nk) AS HUGEINT) AS x_n,
             CAST(sum(rev) OVER (PARTITION BY brand) AS HUGEINT) AS x_b,
             CAST(sum(rev) OVER () AS HUGEINT) AS x_t
      FROM x
    )
    SELECT n.n_name AS nation, m.brand AS brand,
           CAST(m.rev AS BIGINT) AS rev_cents,
           CAST((1000000000 * CAST(m.rev AS HUGEINT) * m.x_t)
                // (m.x_n * m.x_b) AS BIGINT) AS rca_ppb
    FROM m JOIN nation n ON n.n_nationkey = m.nk
    ORDER BY nation, brand
    """,
    doc="Balassa revealed-comparative-advantage index over the customer-"
    "nation x part-brand revenue matrix: RCA = (x_nb/x_n)/(X_b/X) — "
    "does nation n buy brand b MORE intensively than the world does? "
    "RCA > 1 (ppb > 1e9) marks specialization; the trade-economics "
    "localization of what agg_chi_square/agg_cramers_v only test "
    "globally, and the per-cell companion to orders_grubel_lloyd's "
    "bilateral symmetry. Cross-multiplied to ONE exact non-negative "
    "ppb floor-division per cell, 1e9*x_nb*X under 10^38 through "
    "sf100 (HUGEINT/DECIMAL widened). One fact rollup to the bounded "
    "nation x brand grid (dims broadcast); margins via grid windows. "
    "The fact rollup is N-linear by construction (one pass); at 100 "
    "TB the named swap is pre-aggregated brand-revenue cube "
    "partitions (the layout_zorder_tiles / sink_parquet_partitioned "
    "path) so the grid rollup reads partial sums, not raw facts.",
)
def orders_rca_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    n = table(spark, sf_dir, "nation")
    x = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.col("p_brand").alias("brand")
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    m = x.select(
        "nk",
        "brand",
        "rev",
        F.sum("rev").over(Window.partitionBy("nk")).cast("decimal(38,0)").alias("x_n"),
        F.sum("rev")
        .over(Window.partitionBy("brand"))
        .cast("decimal(38,0)")
        .alias("x_b"),
        F.sum("rev").over(Window.partitionBy()).cast("decimal(38,0)").alias("x_t"),
    )
    return (
        m.join(F.broadcast(n), F.col("nk") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "brand",
            F.col("rev").cast("bigint").alias("rev_cents"),
            F.expr(
                "CAST((1000000000 * CAST(rev AS DECIMAL(38,0)) * x_t)"
                " div (x_n * x_b) AS BIGINT)"
            ).alias("rca_ppb"),
        )
        .orderBy("nation", "brand")
    )


# ---------------------------------------------------------------------------
# orders_grubel_lloyd — intra-industry (bilateral) trade symmetry index
# ---------------------------------------------------------------------------


@register(
    "orders_grubel_lloyd",
    oracle=f"""
    WITH {_TRADE_EDGES_SQL},
    pairs AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             CAST(sum(CASE WHEN src < dst THEN w ELSE 0 END) AS BIGINT)
               AS x_ab,
             CAST(sum(CASE WHEN src > dst THEN w ELSE 0 END) AS BIGINT)
               AS x_ba
      FROM tr GROUP BY 1, 2
    )
    SELECT na.n_name AS nation_a, nb.n_name AS nation_b,
           x_ab AS flow_ab, x_ba AS flow_ba,
           CAST(1000000000
                - (1000000000 * abs(x_ab - x_ba)) // (x_ab + x_ba)
                AS BIGINT) AS gl_ppb
    FROM pairs
    JOIN nation na ON na.n_nationkey = pairs.a
    JOIN nation nb ON nb.n_nationkey = pairs.b
    WHERE x_ab + x_ba > 0
    ORDER BY nation_a, nation_b
    """,
    doc="Grubel-Lloyd bilateral trade-overlap index per nation pair: "
    "GL = 1 - |X_ab - X_ba|/(X_ab + X_ba) over the DIRECTED customer->"
    "supplier flow counts — GL ~ 1 means two nations trade with each "
    "other symmetrically in both directions (intra-industry trade), "
    "GL ~ 0 a one-way relationship; the edgewise symmetry "
    "decomposition of what graph_reciprocity reports as one number. "
    "Both directional masses are exact integers from the "
    "pre-aggregated trade rollup (the graph_rich_club oracle "
    "discipline); GL is 1e9 minus ONE non-negative ppb floor-"
    "division. Bounded nation-pair output with broadcast name joins.",
)
def orders_grubel_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    f = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    tr = (
        f.join(F.broadcast(c), F.col("ck") == c.c_custkey)
        .join(F.broadcast(s), F.col("sk") == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    pairs = tr.groupBy(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).agg(
        F.sum(F.when(F.col("src") < F.col("dst"), F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("x_ab"),
        F.sum(F.when(F.col("src") > F.col("dst"), F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("x_ba"),
    )
    na = nat.select(
        F.col("n_nationkey").alias("ka"), F.col("n_name").alias("nation_a")
    )
    nb = nat.select(
        F.col("n_nationkey").alias("kb"), F.col("n_name").alias("nation_b")
    )
    return (
        pairs.filter(F.col("x_ab") + F.col("x_ba") > 0)
        .join(F.broadcast(na), F.col("a") == F.col("ka"))
        .join(F.broadcast(nb), F.col("b") == F.col("kb"))
        .select(
            "nation_a",
            "nation_b",
            F.col("x_ab").alias("flow_ab"),
            F.col("x_ba").alias("flow_ba"),
            F.expr(
                "CAST(1000000000"
                " - (1000000000 * abs(x_ab - x_ba)) div (x_ab + x_ba)"
                " AS BIGINT)"
            ).alias("gl_ppb"),
        )
        .orderBy("nation_a", "nation_b")
    )


# ---------------------------------------------------------------------------
# orders_association_metrics — rule-quality panel for top co-purchase pairs
# ---------------------------------------------------------------------------


@register(
    "orders_association_metrics",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    nn AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM b),
    supp AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1
    ),
    pr AS (
      SELECT b1.pk AS pa, b2.pk AS pb, CAST(count(*) AS BIGINT) AS cab
      FROM b b1 JOIN b b2 ON b1.ok = b2.ok AND b1.pk < b2.pk
      GROUP BY 1, 2
    ),
    top AS (
      SELECT pa, pb, cab FROM pr ORDER BY cab DESC, pa, pb LIMIT 20
    )
    SELECT t.pa AS part_a, t.pb AS part_b, t.cab AS n_together,
           sa.c AS n_a, sb.c AS n_b,
           CAST((1000000 * t.cab) // sa.c AS BIGINT) AS confidence_ppm,
           CAST((1000000 * CAST(t.cab AS HUGEINT) * nn.n)
                // (CAST(sa.c AS HUGEINT) * sb.c) AS BIGINT) AS lift_ppm,
           CAST(CASE WHEN CAST(t.cab AS HUGEINT) * nn.n
                          >= CAST(sa.c AS HUGEINT) * sb.c
                     THEN 1 ELSE -1 END AS BIGINT) AS leverage_sign,
           CAST((1000000000 * abs(CAST(t.cab AS HUGEINT) * nn.n
                                  - CAST(sa.c AS HUGEINT) * sb.c))
                // (CAST(nn.n AS HUGEINT) * nn.n) AS BIGINT)
             AS leverage_abs_ppb,
           CAST(CASE WHEN sa.c > t.cab THEN
                (1000000 * CAST(nn.n - sb.c AS HUGEINT) * sa.c)
                  // (CAST(nn.n AS HUGEINT) * (sa.c - t.cab))
                ELSE 0 END AS BIGINT) AS conviction_ppm,
           CAST((1000000 * t.cab) // (sa.c + sb.c - t.cab) AS BIGINT)
             AS jaccard_ppm
    FROM top t
    JOIN supp sa ON sa.pk = t.pa
    JOIN supp sb ON sb.pk = t.pb
    CROSS JOIN nn
    ORDER BY n_together DESC, part_a, part_b
    """,
    doc="Association-rule quality panel for the 20 most frequent "
    "co-purchase pairs (a -> b with a < b): confidence c_ab/c_a, "
    "lift c_ab*N/(c_a*c_b), leverage c_ab/N - (c_a/N)(c_b/N), "
    "conviction (1 - c_b/N)/(1 - c_ab/c_a) and Jaccard overlap — the "
    "full rule-mining readout beyond orders_basket_lift's lift-only "
    "ranking (conviction catches implication asymmetry lift is blind "
    "to; leverage is the additive effect the ratio forms hide). "
    "Every metric is an exact integer cross-multiplied ratio "
    "(leverage sign-split; conviction guarded to 0 at confidence = "
    "1, declared); one shuffle on l_orderkey builds sorted "
    "distinct-part baskets (collect_set dedups in the aggregate) and "
    "pairs expand MAP-SIDE from the arrays (baskets are order-sized, "
    "<= 21 pairs each — the orders_basket_lift shape), supports "
    "broadcast back. TakeOrderedAndProject keeps the top-20 before "
    "the metric joins.",
)
def orders_association_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    li = table(spark, sf_dir, "lineitem")
    # basket shape (the orders_basket_lift contract): ONE shuffle on
    # l_orderkey builds the per-order distinct-part arrays (collect_set
    # dedups in the aggregate — the former standalone (ok, pk) DISTINCT
    # shuffle disappears), and the pair relation expands MAP-SIDE from
    # the sorted arrays (baskets are order-sized, <= 7 parts -> <= 21
    # pairs) instead of re-shuffling the distinct relation through both
    # sides of a self-join. Supports, the basket total and the pair
    # counts all read the one persisted basket relation.
    bk = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("parts"))
    )
    bk = bk.persist()
    # count("ok") skips NULLs == the former countDistinct over the
    # distinct (ok, pk) relation (ok is unique per basket row)
    nn = bk.agg(F.count("ok").cast("bigint").alias("n"))
    supp = (
        bk.select(F.explode("parts").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # NULL-ok baskets keep contributing to supports but never to pairs,
    # mirroring the former self-join's NULL-rejecting equality (free on
    # TPC-H data, exact on anything else)
    parts = F.col("parts")
    pair_arr = F.flatten(
        F.transform(
            parts,
            lambda x, i: F.transform(
                F.slice(parts, i + F.lit(2), F.size(parts)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pr = (
        bk.filter(F.col("ok").isNotNull())
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
    )
    top = pr.orderBy(F.col("cab").desc(), "pa", "pb").limit(20)
    sa = supp.withColumnRenamed("pk", "ka").withColumnRenamed("c", "n_a")
    sb = supp.withColumnRenamed("pk", "kb").withColumnRenamed("c", "n_b")
    out = (
        top.join(F.broadcast(sa), F.col("pa") == F.col("ka"))
        .join(F.broadcast(sb), F.col("pb") == F.col("kb"))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("cab").alias("n_together"),
            "n_a",
            "n_b",
            F.expr("CAST((1000000 * cab) div n_a AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "CAST((1000000 * CAST(cab AS DECIMAL(38,0)) * n)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
            F.expr(
                "CAST(CASE WHEN CAST(cab AS DECIMAL(38,0)) * n"
                " >= CAST(n_a AS DECIMAL(38,0)) * n_b"
                " THEN 1 ELSE -1 END AS BIGINT)"
            ).alias("leverage_sign"),
            F.expr(
                "CAST((1000000000 * abs(CAST(cab AS DECIMAL(38,0)) * n"
                " - CAST(n_a AS DECIMAL(38,0)) * n_b))"
                " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
            ).alias("leverage_abs_ppb"),
            F.expr(
                "CAST(CASE WHEN n_a > cab THEN"
                " (1000000 * CAST(n - n_b AS DECIMAL(38,0)) * n_a)"
                " div (CAST(n AS DECIMAL(38,0)) * (n_a - cab))"
                " ELSE 0 END AS BIGINT)"
            ).alias("conviction_ppm"),
            F.expr(
                "CAST((1000000 * cab) div (n_a + n_b - cab) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.col("n_together").desc(), "part_a", "part_b")
    )
    return release_on_gc(bk, out)


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
# agg_medcouple — robust skewness of the monthly revenue series
# ---------------------------------------------------------------------------


@register(
    "agg_medcouple",
    oracle="""
    WITH m AS (
      SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        AS x
      FROM orders GROUP BY date_trunc('month', o_orderdate)
    ),
    srt AS (
      SELECT x, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM m
    ),
    med AS (
      SELECT CAST(max(CASE WHEN i = (n + 1) // 2 THEN x END)
                  + max(CASE WHEN i = n // 2 + 1 THEN x END) AS BIGINT)
               AS med2
      FROM srt
    ),
    pairs AS (
      SELECT lo.x AS xi, hi.x AS xj, med.med2
      FROM srt lo, srt hi, med
      WHERE 2 * lo.x <= med.med2 AND 2 * hi.x >= med.med2
        AND hi.x > lo.x
    ),
    h AS (
      SELECT CAST(CASE WHEN (2 * xj - med2) + (2 * xi - med2) >= 0
                       THEN 1 ELSE -1 END
                  * ((1000000000 * CAST(abs((2 * xj - med2)
                                            + (2 * xi - med2)) AS HUGEINT))
                     // (2 * (xj - xi))) AS BIGINT) AS h_ppb
      FROM pairs
    ),
    hs AS (
      SELECT h_ppb, CAST(row_number() OVER (ORDER BY h_ppb) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS k
      FROM h
    )
    SELECT (SELECT max(n) FROM srt) AS n_months,
           (SELECT med2 FROM med) AS med2_cents,
           (SELECT max(k) FROM hs) AS n_kernel_pairs,
           CAST((max(CASE WHEN i = (k + 1) // 2 THEN h_ppb END)
                 + max(CASE WHEN i = k // 2 + 1 THEN h_ppb END)) // 2
                AS BIGINT) AS medcouple_ppb
    FROM hs
    """,
    doc="Medcouple robust skewness of monthly revenue: the median over "
    "all (x_i <= med <= x_j, x_i < x_j) pairs of the kernel "
    "h = ((x_j - med) - (med - x_i))/(x_j - x_i) — the bounded-"
    "influence skewness (50% breakdown) that moment skewness "
    "(agg_jarque_bera's g1) and quantile skewness (agg_bowley_moors) "
    "bracket, and the statistic behind the adjusted boxplot fence. "
    "Doubled-median algebra keeps everything integer: 2h's numerator "
    "(2x_j - med2) + (2x_i - med2) and denominator 2(x_j - x_i) are "
    "exact, each kernel value floor-quantizes to SIGN-SPLIT ppb, and "
    "the final medcouple is the doubled-median of the quantized "
    "kernel set halved (ties at the exact median excluded by the "
    "strict x_i < x_j guard — declared simplification of the "
    "sign-matrix tie rule, vacuous on cent-valued revenue sums). The "
    "pair join is calendar-bounded (<= 84^2 rows); windows run over "
    "the same bounded relations.",
)
def agg_medcouple(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mo")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    srt = m.select(
        "x",
        F.row_number().over(Window.orderBy("x")).cast("bigint").alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    med = srt.agg(
        (
            F.max(F.when(F.col("i") == F.expr("(n + 1) div 2"), F.col("x")))
            + F.max(F.when(F.col("i") == F.expr("n div 2 + 1"), F.col("x")))
        )
        .cast("bigint")
        .alias("med2"),
        F.max("n").cast("bigint").alias("n_months"),
    )
    lo = srt.select(F.col("x").alias("xi"))
    hi = srt.select(F.col("x").alias("xj"))
    pairs = (
        lo.crossJoin(F.broadcast(med))
        .filter(2 * F.col("xi") <= F.col("med2"))
        .join(
            hi,
            F.col("xj") > F.col("xi"),
        )
        .filter(2 * F.col("xj") >= F.col("med2"))
    )
    h = pairs.select(
        F.expr(
            "CAST(CASE WHEN (2 * xj - med2) + (2 * xi - med2) >= 0"
            " THEN 1 ELSE -1 END"
            " * ((1000000000 * CAST(abs((2 * xj - med2)"
            "                           + (2 * xi - med2))"
            "                       AS DECIMAL(38,0)))"
            "    div (2 * (xj - xi))) AS BIGINT)"
        ).alias("h_ppb")
    )
    hs = h.select(
        "h_ppb",
        F.row_number()
        .over(Window.orderBy("h_ppb"))
        .cast("bigint")
        .alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("k"),
    )
    agg = hs.agg(
        F.max("k").cast("bigint").alias("n_kernel_pairs"),
        F.expr(
            "CAST((max(CASE WHEN i = (k + 1) div 2 THEN h_ppb END)"
            " + max(CASE WHEN i = k div 2 + 1 THEN h_ppb END)) div 2"
            " AS BIGINT)"
        ).alias("medcouple_ppb"),
    )
    return F.broadcast(med).crossJoin(agg).select(
        "n_months",
        F.col("med2").alias("med2_cents"),
        "n_kernel_pairs",
        "medcouple_ppb",
    )


# ---------------------------------------------------------------------------
# agg_spearman_footrule — rank displacement between consecutive years
# ---------------------------------------------------------------------------


@register(
    "agg_spearman_footrule",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(month(o_orderdate) AS BIGINT) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders GROUP BY 1, 2
    ),
    yrs AS (
      SELECT yr FROM m GROUP BY yr HAVING count(*) = 12
      ORDER BY yr DESC LIMIT 2
    ),
    pick AS (
      SELECT max(yr) AS y2, min(yr) AS y1 FROM yrs
    ),
    r AS (
      SELECT m.yr, m.mo,
             CAST(row_number() OVER (PARTITION BY m.yr
               ORDER BY m.v DESC, m.mo) AS BIGINT) AS rk
      FROM m JOIN yrs ON m.yr = yrs.yr
    ),
    d AS (
      SELECT r1.mo, abs(r1.rk - r2.rk) AS disp
      FROM r r1 JOIN r r2 ON r1.mo = r2.mo AND r1.yr <> r2.yr
      JOIN pick ON r1.yr = pick.y1 AND r2.yr = pick.y2
    )
    SELECT (SELECT y1 FROM pick) AS year_1,
           (SELECT y2 FROM pick) AS year_2,
           CAST(sum(disp) AS BIGINT) AS footrule,
           CAST((1000000000 * sum(disp)) // 72 AS BIGINT)
             AS footrule_norm_ppb
    FROM d
    """,
    doc="Spearman's footrule distance between the month-by-revenue "
    "rankings of the last two COMPLETE order years: F = sum_m "
    "|r1(m) - r2(m)|, normalized by the n=12 maximum n^2/2 = 72 — "
    "the L1 rank-displacement metric (Diaconis-Graham: within a "
    "factor 2 of Kendall distance) answering 'did the seasonal "
    "ordering SHIFT year-over-year?' pointwise, where agg_kendall_w "
    "scores multi-year agreement and orders_seasonality_strength "
    "measures amplitude. Ranks are deterministic integers "
    "(revenue DESC, month tie-break) from 12-row per-year windows; "
    "the distance and its ppb normalization are exact integer "
    "arithmetic. One month rollup; everything downstream is 12-row "
    "bounded.",
)
def agg_spearman_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    yrs = (
        m.groupBy("yr")
        .agg(F.count(F.lit(1)).alias("nmo"))
        .filter(F.col("nmo") == 12)
        .orderBy(F.col("yr").desc())
        .limit(2)
        .select("yr")
    )
    pick = yrs.agg(
        F.max("yr").cast("bigint").alias("y2"),
        F.min("yr").cast("bigint").alias("y1"),
    )
    r = m.join(F.broadcast(yrs), "yr").select(
        "yr",
        "mo",
        F.row_number()
        .over(
            Window.partitionBy("yr").orderBy(F.col("v").desc(), F.col("mo"))
        )
        .cast("bigint")
        .alias("rk"),
    )
    r1 = r.select(
        F.col("yr").alias("yr1"), F.col("mo").alias("mo1"), F.col("rk").alias("rk1")
    )
    r2 = r.select(
        F.col("yr").alias("yr2"), F.col("mo").alias("mo2"), F.col("rk").alias("rk2")
    )
    d = (
        r1.crossJoin(F.broadcast(pick))
        .filter(F.col("yr1") == F.col("y1"))
        .join(
            r2,
            (F.col("mo1") == F.col("mo2")) & (F.col("yr2") != F.col("yr1")),
        )
        .filter(F.col("yr2") == F.col("y2"))
        .select(
            "y1",
            "y2",
            F.abs(F.col("rk1") - F.col("rk2")).alias("disp"),
        )
    )
    return d.groupBy().agg(
        F.max("y1").alias("year_1"),
        F.max("y2").alias("year_2"),
        F.sum("disp").cast("bigint").alias("footrule"),
        F.expr("CAST((1000000000 * sum(disp)) div 72 AS BIGINT)").alias(
            "footrule_norm_ppb"
        ),
    )


# ---------------------------------------------------------------------------
# multimodal_bmp_pixel_decode — REAL 24-bit BMP pixel decode, hash-verified
# ---------------------------------------------------------------------------


@register(
    "multimodal_bmp_pixel_decode",
    # Payloads are COMPLETE uncompressed 24bpp BMP files built column-side
    # (file+DIB headers, 4-byte row stride padding, bottom-up row order);
    # multimodal.decode_bmp24 re-parses them with the real stdlib struct
    # walk and the oracle recomputes every channel sum and the raster-order
    # checksum arithmetically — pixel VALUES on the hash surface, the
    # image twin of multimodal_pcm_sample_stats.
    oracle="""
    WITH d AS (
      SELECT doc_id,
             doc_id % 4 + 2 AS w,
             doc_id % 3 + 1 AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h,
             list_transform(range(0, w * h), i ->
               (doc_id * 5 + 3 * (i % w) + 17 * (i // w)) % 256) AS rs,
             list_transform(range(0, w * h), i ->
               (doc_id * 3 + 5 * (i % w) + 11 * (i // w)) % 256) AS gs,
             list_transform(range(0, w * h), i ->
               (doc_id + 7 * (i % w) + 13 * (i // w)) % 256) AS bs
      FROM d
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(list_sum(rs) AS BIGINT) AS sum_r,
           CAST(list_sum(gs) AS BIGINT) AS sum_g,
           CAST(list_sum(bs) AS BIGINT) AS sum_b,
           CAST(list_sum(list_transform(range(0, w * h), i ->
                (i + 1) * (rs[i + 1] + 2 * gs[i + 1] + 3 * bs[i + 1])))
                AS BIGINT) AS raster_checksum
    FROM px
    ORDER BY doc_id
    """,
    doc="REAL BMP pixel decode under the driver's hash check: per doc, "
    "construct a complete uncompressed 24-bit BMP (BITMAPFILEHEADER + "
    "40-byte DIB header, 2x1 .. 5x3 deterministic pixels, 4-byte row "
    "STRIDE padding, BOTTOM-UP stored row order — all composed as hex "
    "column expressions), then decode the ACTUAL PIXELS back with the "
    "real stdlib parser (multimodal.decode_bmp24) over Arrow-batched "
    "mapInPandas and emit channel sums plus the raster-order weighted "
    "checksum sum((i+1)(r+2g+3b)) — which only matches the arithmetic "
    "oracle if the decoder honored both the stride padding AND the "
    "bottom-up flip (an unflipped or stride-confused read scrambles "
    "the weights). Completes the decode trio: WAV samples "
    "(multimodal_pcm_sample_stats), mp4/image/WAV headers, now image "
    "pixels. Map-only; zero shuffles at any scale.",
)
def multimodal_bmp_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.multimodal import (
        BMP_STATS_SCHEMA,
        _bmp_stats_batches,
    )
    from mongodb_nats_connector_spark.operators.pipeline14 import _le_hex

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (F.col("doc_id") % 4 + 2).alias("w"),
        (F.col("doc_id") % 3 + 1).alias("h"),
    )
    stride = F.expr("CAST((3 * w + 3) div 4 AS BIGINT) * 4")
    data_size = F.col("h") * stride
    # stored rows: logical y = h-1 downto 0; each row w BGR triples + pad
    pixel_hex = F.expr(
        "concat_ws('', transform(sequence(h - 1, 0, -1), y ->"
        " concat("
        "  concat_ws('', transform(sequence(0, w - 1), x ->"
        "   concat("
        "    lpad(hex((doc_id + 7 * x + 13 * y) % 256), 2, '0'),"
        "    lpad(hex((doc_id * 3 + 5 * x + 11 * y) % 256), 2, '0'),"
        "    lpad(hex((doc_id * 5 + 3 * x + 17 * y) % 256), 2, '0')))),"
        "  repeat('00', CAST((3 * w + 3) div 4 AS INT) * 4 - 3 * w))))"
    )
    bmp_hex = F.concat(
        F.lit("424D"),                      # 'BM'
        _le_hex(data_size + 54, 4),         # file size
        F.lit("00000000"),                  # reserved
        F.lit("36000000"),                  # pixel offset = 54
        F.lit("28000000"),                  # DIB header size = 40
        _le_hex(F.col("w"), 4),
        _le_hex(F.col("h"), 4),
        F.lit("0100"),                      # planes
        F.lit("1800"),                      # bpp = 24
        F.lit("00000000"),                  # BI_RGB
        _le_hex(data_size, 4),              # image size
        F.lit("00000000" * 4),              # ppm + palette fields
        pixel_hex,
    )
    return (
        d.select("doc_id", F.unhex(bmp_hex).alias("payload"))
        .mapInPandas(_bmp_stats_batches, BMP_STATS_SCHEMA)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# sample_neyman_allocation — optimal stratified sampling design
# ---------------------------------------------------------------------------


@register(
    "sample_neyman_allocation",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS HUGEINT) AS sx,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                      * CAST(round(o_totalprice * 100) AS HUGEINT))
                  AS HUGEINT) AS sx2
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT pri, n,
             CAST(floor(sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             / (CAST(n AS DOUBLE) * (n - 1))))
                  AS BIGINT) AS s_cents,
             CAST(n * CAST(floor(sqrt((CAST(n AS DOUBLE)
                     * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)
                  AS HUGEINT) AS wgt
      FROM s
    ),
    t AS (
      SELECT CAST(sum(wgt) AS HUGEINT) AS wtot,
             CAST(sum(n) AS BIGINT) AS ntot
      FROM w
    )
    SELECT w.pri AS priority, w.n AS n_population,
           w.s_cents AS std_cents,
           CAST((10000 * w.wgt) // t.wtot AS BIGINT) AS neyman_n,
           CAST((1000000 * w.wgt) // t.wtot AS BIGINT) AS neyman_ppm,
           CAST((1000000 * CAST(w.n AS HUGEINT)) // t.ntot AS BIGINT)
             AS proportional_ppm
    FROM w, t
    ORDER BY priority
    """,
    doc="Neyman-optimal stratified sampling allocation across order "
    "priorities for a 10,000-row budget: n_h proportional to "
    "N_h * S_h (stratum size times stratum standard deviation) — the "
    "design that minimizes estimator variance for a fixed budget, "
    "emitted NEXT TO the proportional allocation so the gain from "
    "weighting by within-stratum spread is visible; the design-stage "
    "companion to the executing samplers (sample_stratified, "
    "sample_balanced_class, curate_temperature_resample). Stratum "
    "stddevs come from exact integer cent moments, floor-quantized "
    "to whole cents per stratum BEFORE the cross-stratum weight sum "
    "(so the allocation denominator is an exact integer and no "
    "cross-group double addition order exists); every share is one "
    "non-negative floor-division. One map-combined rollup; no "
    "windows, no joins beyond the 1-row total broadcast.",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    s = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "sx"
        ),
        _dsum(
            F.expr(
                "CAST(round(o_totalprice * 100) AS DECIMAL(38,0))"
                " * CAST(round(o_totalprice * 100) AS DECIMAL(38,0))"
            )
        ).alias("sx2"),
    )
    sd = (
        "CAST(floor(sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)"
    )
    w = s.select(
        "pri",
        "n",
        F.expr(sd).alias("s_cents"),
        F.expr(f"CAST(n * {sd} AS DECIMAL(38,0))").alias("wgt"),
    )
    t = w.agg(
        _dsum(F.col("wgt")).alias("wtot"),
        F.sum("n").cast("bigint").alias("ntot"),
    )
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            F.col("pri").alias("priority"),
            F.col("n").alias("n_population"),
            F.col("s_cents").alias("std_cents"),
            F.expr("CAST((10000 * wgt) div wtot AS BIGINT)").alias(
                "neyman_n"
            ),
            F.expr("CAST((1000000 * wgt) div wtot AS BIGINT)").alias(
                "neyman_ppm"
            ),
            F.expr(
                "CAST((1000000 * CAST(n AS DECIMAL(38,0))) div ntot"
                " AS BIGINT)"
            ).alias("proportional_ppm"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# orders_sharpe_sortino — risk-adjusted monthly revenue momentum
# ---------------------------------------------------------------------------


@register(
    "orders_sharpe_sortino",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT CAST((1000000 * (x - lag(x) OVER (ORDER BY month)))
                  // lag(x) OVER (ORDER BY month) AS BIGINT) AS ret
      FROM m QUALIFY lag(x) OVER (ORDER BY month) IS NOT NULL
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ret) AS BIGINT) AS s1,
             CAST(sum(CAST(ret AS HUGEINT) * ret) AS HUGEINT) AS s2,
             CAST(sum(CASE WHEN ret < 0
                  THEN CAST(ret AS HUGEINT) * ret ELSE 0 END) AS HUGEINT)
               AS sdown
      FROM r
    )
    SELECT n AS n_returns,
           CAST(s1 // n AS BIGINT) AS mean_ret_ppm,
           CAST(floor(1000.0 * s1 / n
                / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * s1)
                       / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)
             AS sharpe_milli,
           CAST(CASE WHEN sdown > 0 THEN
                floor(1000.0 * s1 / n
                      / sqrt(CAST(sdown AS DOUBLE) / n))
                ELSE 0 END AS BIGINT) AS sortino_milli
    FROM s
    WHERE n > 1
    """,
    doc="Sharpe and Sortino ratios of month-over-month revenue growth: "
    "mean return over total vs DOWNSIDE-only volatility — the risk-"
    "adjusted momentum readout that separates 'volatile because "
    "growing' from 'volatile because erratic' (Sortino ignores upside "
    "variance), complementing the level-based control charts and "
    "orders_monthly_growth's raw MoM series. Returns quantize to "
    "exact integer ppm via one signed floor-division per month (both "
    "engines truncate toward zero identically); the three moment "
    "sums are exact HUGEINT integers over the calendar-bounded "
    "series; each ratio is one fixed-shape floor-quantized double. "
    "One month rollup + one bounded lag window.",
)
def orders_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("month")
    r = (
        m.select("x", F.lag("x").over(w).alias("px"))
        .filter(F.col("px").isNotNull())
        .select(
            F.expr("CAST((1000000 * (x - px)) div px AS BIGINT)").alias(
                "ret"
            )
        )
    )
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ret").cast("bigint").alias("s1"),
        _dsum(F.expr("CAST(ret AS DECIMAL(38,0)) * ret")).alias("s2"),
        _dsum(
            F.expr(
                "CASE WHEN ret < 0 THEN CAST(ret AS DECIMAL(38,0)) * ret"
                " ELSE 0 END"
            )
        ).alias("sdown"),
    )
    return s.filter(F.col("n") > 1).select(
        F.col("n").alias("n_returns"),
        F.expr("CAST(s1 div n AS BIGINT)").alias("mean_ret_ppm"),
        F.expr(
            "CAST(floor(1000.0 * s1 / n"
            " / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
            "         - CAST(s1 AS DOUBLE) * s1)"
            "        / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)"
        ).alias("sharpe_milli"),
        F.expr(
            "CAST(CASE WHEN sdown > 0 THEN"
            " floor(1000.0 * s1 / n / sqrt(CAST(sdown AS DOUBLE) / n))"
            " ELSE 0 END AS BIGINT)"
        ).alias("sortino_milli"),
    )


# ---------------------------------------------------------------------------
# orders_max_drawdown — peak-to-trough decline of the monthly series
# ---------------------------------------------------------------------------


@register(
    "orders_max_drawdown",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT month, x,
             CAST(max(x) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS peak,
             CAST((1000000000 * CAST(max(x) OVER (ORDER BY month ROWS
                   BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - x
                   AS HUGEINT))
                  // max(x) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS dd_ppb
      FROM m
    ),
    best AS (
      SELECT month, x, peak, dd_ppb FROM dd
      ORDER BY dd_ppb DESC, month LIMIT 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_months,
           month AS trough_month, peak AS peak_cents,
           x AS trough_cents, dd_ppb AS max_drawdown_ppb
    FROM best
    """,
    doc="Maximum drawdown of the monthly revenue series: the largest "
    "peak-to-trough decline, found via one running-max window over "
    "the calendar-bounded relation — the path-dependent risk number "
    "beside the distributional ones (orders_sharpe_sortino's "
    "volatility, the control charts' sigma limits): two series with "
    "identical return moments can have very different drawdowns. "
    "Each month's drawdown (peak - x)/peak quantizes to exact "
    "non-negative ppb via one floor-division (peak >= x > 0 by "
    "construction); the argmax ties to the EARLIEST month via "
    "TakeOrderedAndProject. One month rollup + one bounded prefix-"
    "max window.",
)
def orders_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = m.select(
        "month",
        "x",
        F.max("x").over(w).cast("bigint").alias("peak"),
    ).select(
        "month",
        "x",
        "peak",
        F.expr(
            "CAST((1000000000 * CAST(peak - x AS DECIMAL(38,0)))"
            " div peak AS BIGINT)"
        ).alias("dd_ppb"),
    )
    best = dd.orderBy(F.col("dd_ppb").desc(), "month").limit(1)
    cnt = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    return F.broadcast(cnt).crossJoin(best).select(
        "n_months",
        F.col("month").alias("trough_month"),
        F.col("peak").alias("peak_cents"),
        F.col("x").alias("trough_cents"),
        F.col("dd_ppb").alias("max_drawdown_ppb"),
    )


# ---------------------------------------------------------------------------
# events_renyi_entropy — entropy spectrum of the event-type distribution
# ---------------------------------------------------------------------------


@register(
    "events_renyi_entropy",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2,
             CAST(max(c) AS BIGINT) AS cmax,
             CAST(sum(CAST(floor(1000000.0 * c * ln(CAST(c AS DOUBLE)))
                  AS BIGINT)) AS BIGINT) AS s_clnc
      FROM c
    )
    SELECT t AS n_events, k AS n_types,
           CAST(floor(1000000.0 * ln(CAST(t AS DOUBLE))) AS BIGINT)
             - s_clnc // t AS shannon_micro,
           CAST(floor(2000000.0 * ln(CAST(t AS DOUBLE))
                      - 1000000.0 * ln(CAST(s2 AS DOUBLE))) AS BIGINT)
             AS renyi2_micro,
           CAST(floor(1000000.0 * ln(CAST(t AS DOUBLE))
                      - 1000000.0 * ln(CAST(cmax AS DOUBLE))) AS BIGINT)
             AS min_entropy_micro
    FROM s
    """,
    doc="Renyi entropy spectrum of the event-type distribution: Shannon "
    "H1 (via the exact c ln c identity), collision entropy H2 = "
    "2 ln T - ln sum(c^2) (the log of the inverse Simpson index — "
    "what a random pair collision measures), and min-entropy "
    "Hinf = ln T - ln max(c) (the worst-case predictability bound "
    "that rate-limits and caching actually experience). H1 >= H2 >= "
    "Hinf always — the spectrum's spread diagnoses how head-heavy "
    "the type mix is in a way one entropy number cannot "
    "(docs_simpson_diversity reports the document-source analogue of "
    "1/exp(H2)). All inputs are exact integers from the bounded type "
    "domain; each entropy is fixed-shape floor-quantized micro-nats. "
    "One type rollup; no windows, no joins.",
)
def events_renyi_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = c.agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        _dsum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("s2"),
        F.max("c").cast("bigint").alias("cmax"),
        F.sum(
            F.floor(
                F.lit(1000000.0)
                * F.col("c")
                * F.log(F.col("c").cast("double"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("s_clnc"),
    )
    return s.select(
        F.col("t").alias("n_events"),
        F.col("k").alias("n_types"),
        (
            F.floor(F.lit(1000000.0) * F.log(F.col("t").cast("double"))).cast(
                "bigint"
            )
            - F.expr("s_clnc div t")
        )
        .cast("bigint")
        .alias("shannon_micro"),
        F.expr(
            "CAST(floor(2000000.0 * ln(CAST(t AS DOUBLE))"
            " - 1000000.0 * ln(CAST(s2 AS DOUBLE))) AS BIGINT)"
        ).alias("renyi2_micro"),
        F.expr(
            "CAST(floor(1000000.0 * ln(CAST(t AS DOUBLE))"
            " - 1000000.0 * ln(CAST(cmax AS DOUBLE))) AS BIGINT)"
        ).alias("min_entropy_micro"),
    )


# ---------------------------------------------------------------------------
# orders_segmented_regression — interrupted-time-series slope change
# ---------------------------------------------------------------------------


@register(
    "orders_segmented_regression",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT y, CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS t,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM m
    ),
    seg AS (
      SELECT CASE WHEN t <= (n + 1) // 2 THEN 1 ELSE 2 END AS seg, t, y
      FROM idx
    ),
    s AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS HUGEINT) AS st,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
             CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
      FROM seg GROUP BY 1
    ),
    sl AS (
      SELECT seg, n,
             CAST(CASE WHEN n * sty >= st * sy THEN 1 ELSE -1 END
                  AS BIGINT) AS sign,
             CAST((1000000 * abs(n * sty - st * sy))
                  // greatest(n * stt - st * st, 1) AS BIGINT) AS slope,
             CAST(sy // n AS BIGINT) AS mean_y
      FROM s
    )
    SELECT a.n AS n_pre, b.n AS n_post,
           a.sign AS slope_pre_sign, a.slope AS slope_pre_abs_micro,
           b.sign AS slope_post_sign, b.slope AS slope_post_abs_micro,
           CAST(b.mean_y - a.mean_y AS BIGINT) AS level_shift_cents
    FROM sl a JOIN sl b ON a.seg = 1 AND b.seg = 2
    """,
    doc="Interrupted-time-series (segmented) regression of monthly "
    "revenue with the breakpoint at the series midpoint: per-segment "
    "OLS slopes plus the between-segment level shift — the before/"
    "after trend decomposition behind policy-change readouts, "
    "complementing the single global trend (agg_mann_kendall, "
    "agg_theil_sen) and the changepoint DETECTORS (CUSUM/Pettitt/"
    "SNHT locate the break; this QUANTIFIES the regime change at a "
    "declared break). Each slope is the exact integer ratio "
    "(n Sty - St Sy)/(n Stt - St^2), sign-split to micro; the level "
    "shift is a difference of exact floor-divided segment means. One "
    "month rollup, one bounded row-index window, a 2-row self-join.",
)
def orders_segmented_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    idx = m.select(
        "y",
        F.row_number().over(Window.orderBy("month")).cast("bigint").alias("t"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("n"),
    )
    seg = idx.select(
        F.expr("CASE WHEN t <= (n + 1) div 2 THEN 1 ELSE 2 END").alias(
            "seg"
        ),
        "t",
        "y",
    )
    s = seg.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("t")).alias("st"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.expr("CAST(t AS DECIMAL(38,0)) * t")).alias("stt"),
        _dsum(F.expr("CAST(t AS DECIMAL(38,0)) * y")).alias("sty"),
    )
    sl = s.select(
        "seg",
        "n",
        F.expr(
            "CAST(CASE WHEN n * sty >= st * sy THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("sign"),
        F.expr(
            "CAST((1000000 * abs(n * sty - st * sy))"
            " div greatest(n * stt - st * st, 1) AS BIGINT)"
        ).alias("slope"),
        F.expr("CAST(sy div n AS BIGINT)").alias("mean_y"),
    )
    a = sl.filter(F.col("seg") == 1).select(
        F.col("n").alias("n_pre"),
        F.col("sign").alias("slope_pre_sign"),
        F.col("slope").alias("slope_pre_abs_micro"),
        F.col("mean_y").alias("mean_pre"),
    )
    b = sl.filter(F.col("seg") == 2).select(
        F.col("n").alias("n_post"),
        F.col("sign").alias("slope_post_sign"),
        F.col("slope").alias("slope_post_abs_micro"),
        F.col("mean_y").alias("mean_post"),
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_pre",
        "n_post",
        "slope_pre_sign",
        "slope_pre_abs_micro",
        "slope_post_sign",
        "slope_post_abs_micro",
        (F.col("mean_post") - F.col("mean_pre"))
        .cast("bigint")
        .alias("level_shift_cents"),
    )


# ---------------------------------------------------------------------------
# orders_siegel_repeated_median — 50%-breakdown robust trend slope
# ---------------------------------------------------------------------------


@register(
    "orders_siegel_repeated_median",
    oracle="""
    WITH m AS (
      SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y,
             CAST(row_number() OVER (ORDER BY date_trunc('month',
                  o_orderdate)) AS BIGINT) AS t
      FROM orders GROUP BY date_trunc('month', o_orderdate)
    ),
    sl AS (
      SELECT a.t AS i,
             CAST((1000000 * (b.y - a.y)) // (b.t - a.t) AS BIGINT) AS s
      FROM m a JOIN m b ON a.t <> b.t
    ),
    permed AS (
      SELECT i,
             CAST((max(CASE WHEN r = (k + 1) // 2 THEN s END)
                   + max(CASE WHEN r = k // 2 + 1 THEN s END)) // 2
                  AS BIGINT) AS med_i
      FROM (
        SELECT i, s,
               CAST(row_number() OVER (PARTITION BY i ORDER BY s)
                    AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY i) AS BIGINT) AS k
        FROM sl
      ) GROUP BY i
    ),
    fin AS (
      SELECT med_i,
             CAST(row_number() OVER (ORDER BY med_i) AS BIGINT) AS r,
             CAST(count(*) OVER () AS BIGINT) AS k
      FROM permed
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_months,
           CAST((max(CASE WHEN r = (k + 1) // 2 THEN med_i END)
                 + max(CASE WHEN r = k // 2 + 1 THEN med_i END)) // 2
                AS BIGINT) AS siegel_slope_micro
    FROM fin
    """,
    doc="Siegel repeated-median slope of the monthly revenue trend: "
    "median_i(median_j((y_j - y_i)/(t_j - t_i))) — the 50%-breakdown "
    "robust regression, strictly tougher than Theil-Sen's single "
    "median over all pairs (29% breakdown, agg_theil_sen): half the "
    "MONTHS can be corrupted before the slope moves. Pairwise slopes "
    "quantize to exact integer micro-cents/month via one signed "
    "floor-division each (both engines truncate toward zero "
    "identically); the inner per-i medians and the outer median are "
    "doubled-median selections over the quantized integers, decided "
    "by bounded rank windows on the <= 84^2 pair relation. One month "
    "rollup; everything downstream calendar-bounded.",
)
def orders_siegel_repeated_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mo")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    ).select(
        "y",
        F.row_number().over(Window.orderBy("mo")).cast("bigint").alias("t"),
    )
    a = m.select(F.col("t").alias("i"), F.col("y").alias("yi"))
    b = m.select(F.col("t").alias("j"), F.col("y").alias("yj"))
    sl = a.join(b, F.col("i") != F.col("j")).select(
        "i",
        F.expr(
            "CAST((1000000 * (yj - yi)) div (j - i) AS BIGINT)"
        ).alias("s"),
    )
    ranked = sl.select(
        "i",
        "s",
        F.row_number()
        .over(Window.partitionBy("i").orderBy("s"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("i"))
        .cast("bigint")
        .alias("k"),
    )
    permed = ranked.groupBy("i").agg(
        F.expr(
            "CAST((max(CASE WHEN r = (k + 1) div 2 THEN s END)"
            " + max(CASE WHEN r = k div 2 + 1 THEN s END)) div 2"
            " AS BIGINT)"
        ).alias("med_i")
    )
    fin = permed.select(
        "med_i",
        F.row_number()
        .over(Window.orderBy("med_i"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("k"),
    )
    cnt = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    out = fin.agg(
        F.expr(
            "CAST((max(CASE WHEN r = (k + 1) div 2 THEN med_i END)"
            " + max(CASE WHEN r = k div 2 + 1 THEN med_i END)) div 2"
            " AS BIGINT)"
        ).alias("siegel_slope_micro")
    )
    return F.broadcast(cnt).crossJoin(out).select(
        "n_months", "siegel_slope_micro"
    )


# ---------------------------------------------------------------------------
# events_distribution_drift — first-half vs second-half type-mix shift
# ---------------------------------------------------------------------------


@register(
    "events_distribution_drift",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events WHERE ts IS NOT NULL
    ),
    span AS (
      SELECT CAST(min(day) + (max(day) - min(day)) // 2 AS BIGINT)
        AS split_day
      FROM e
    ),
    c AS (
      SELECT event_type,
             CAST(sum(CASE WHEN day <= split_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(sum(CASE WHEN day > split_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM e, span GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(c1) AS BIGINT) AS t1, CAST(sum(c2) AS BIGINT) AS t2
      FROM c
    )
    SELECT c.event_type AS event_type, c.c1 AS n_first, c.c2 AS n_second,
           CAST((1000000 * c.c1) // t.t1 AS BIGINT) AS share1_ppm,
           CAST((1000000 * c.c2) // t.t2 AS BIGINT) AS share2_ppm,
           CAST(CASE WHEN CAST(c.c2 AS HUGEINT) * t.t1
                          >= CAST(c.c1 AS HUGEINT) * t.t2
                     THEN 1 ELSE -1 END AS BIGINT) AS drift_sign,
           CAST((1000000000 * abs(CAST(c.c2 AS HUGEINT) * t.t1
                                  - CAST(c.c1 AS HUGEINT) * t.t2))
                // (CAST(t.t1 AS HUGEINT) * t.t2) AS BIGINT)
             AS drift_abs_ppb
    FROM c, t
    ORDER BY event_type
    """,
    doc="Distribution drift of the event-type mix between the first and "
    "second halves of the observed time span (split at the midpoint "
    "of the day domain — exact integer arithmetic on epoch days): "
    "per-type share change, sign-split to exact cross-multiplied ppb "
    "|c2 t1 - c1 t2|/(t1 t2) — summing these halves gives total-"
    "variation distance. This is the SCHEMA-LEVEL drift monitor a "
    "training-data pipeline runs between snapshots (the corpus "
    "analogue of agg_hellinger_distance on fixed cohorts; "
    "events_mosum_changepoint watches volume, this watches "
    "composition). One map-combined type x half rollup after a 1-row "
    "span broadcast; no windows.",
)
def events_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    e = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").cast("bigint").alias("day"),
    )
    span = e.agg(
        F.expr(
            "CAST(min(day) + (max(day) - min(day)) div 2 AS BIGINT)"
        ).alias("split_day")
    )
    c = (
        e.crossJoin(F.broadcast(span))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("split_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("day") > F.col("split_day"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    t = c.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c2").cast("bigint").alias("t2"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "event_type",
            F.col("c1").alias("n_first"),
            F.col("c2").alias("n_second"),
            F.expr("CAST((1000000 * c1) div t1 AS BIGINT)").alias(
                "share1_ppm"
            ),
            F.expr("CAST((1000000 * c2) div t2 AS BIGINT)").alias(
                "share2_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN CAST(c2 AS DECIMAL(38,0)) * t1"
                " >= CAST(c1 AS DECIMAL(38,0)) * t2 THEN 1 ELSE -1 END"
                " AS BIGINT)"
            ).alias("drift_sign"),
            F.expr(
                "CAST((1000000000 * abs(CAST(c2 AS DECIMAL(38,0)) * t1"
                " - CAST(c1 AS DECIMAL(38,0)) * t2))"
                " div (CAST(t1 AS DECIMAL(38,0)) * t2) AS BIGINT)"
            ).alias("drift_abs_ppb"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# multimodal_gif_frame_count — REAL animated-GIF structure walking
# ---------------------------------------------------------------------------


@register(
    "multimodal_gif_frame_count",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             doc_id % 640 + 16 AS w,
             (doc_id * 3) % 480 + 16 AS h,
             doc_id % 5 + 1 AS nf
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(list_sum(list_transform(range(0, nf),
                i -> (doc_id + i) % 100 + 1)) AS BIGINT) AS total_delay_cs
    FROM d
    ORDER BY doc_id
    """,
    doc="REAL animated-GIF structure walking under the driver's hash "
    "check: per doc, construct a complete multi-frame GIF89a (logical "
    "screen descriptor, per-frame graphic-control extension carrying "
    "a deterministic delay, image descriptor, minimal LZW sub-block "
    "stream, trailer — all composed as hex column expressions), then "
    "recover width/height/FRAME COUNT/total animation duration with "
    "the real stdlib block walker (multimodal.walk_gif_frames: "
    "extension sub-blocks and image data skipped BY LENGTH, exactly "
    "how production pipelines count frames without an LZW decode). "
    "Extends the container line past single-image headers "
    "(multimodal_image_header_parse) to MULTI-BLOCK streams where "
    "block-length arithmetic must be exact to terminate on the "
    "trailer. Map-only; zero shuffles.",
)
def multimodal_gif_frame_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.multimodal import (
        GIF_ANIM_SCHEMA,
        _gif_frames_batches,
    )
    from mongodb_nats_connector_spark.operators.pipeline14 import _le_hex

    d = table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        (F.col("doc_id") % 640 + 16).alias("w"),
        ((F.col("doc_id") * 3) % 480 + 16).alias("h"),
        (F.col("doc_id") % 5 + 1).alias("nf"),
    )
    frame_hex = F.expr(
        "concat_ws('', transform(sequence(0, nf - 1), i ->"
        " concat("
        "  '21F90400',"                           # GCE intro, size 4, flags
        "  lpad(hex(pmod((doc_id + i) % 100 + 1, 256)), 2, '0'),"
        "  lpad(hex((((doc_id + i) % 100 + 1)) div 256), 2, '0'),"
        "  '0000',"                               # transparent idx + term
        "  '2C0000000000',"                       # descriptor, x=0, y=0
        "  lpad(hex(w % 256), 2, '0'), lpad(hex(w div 256), 2, '0'),"
        "  lpad(hex(h % 256), 2, '0'), lpad(hex(h div 256), 2, '0'),"
        "  '00',"                                 # no local color table
        "  '02014C00'"                            # lzw size + sub-block
        ")))"
    )
    gif_hex = F.concat(
        F.lit("474946383961"),                    # 'GIF89a'
        _le_hex(F.col("w"), 2),
        _le_hex(F.col("h"), 2),
        F.lit("000000"),                          # no GCT, bg, aspect
        frame_hex,
        F.lit("3B"),                              # trailer
    )
    return (
        d.select("doc_id", F.unhex(gif_hex).alias("payload"))
        .mapInPandas(_gif_frames_batches, GIF_ANIM_SCHEMA)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# orders_benford_second_digit — second-digit Benford conformity audit
# ---------------------------------------------------------------------------

# P(second digit = d) = sum_k log10(1 + 1/(10k+d)), nano-quantized literals
_BENF2 = (
    "[119679268, 113890103, 108821499, 104329560, 100308202, 96677235,"
    " 93374735, 90351989, 87570053, 84997352]"
)


@register(
    "orders_benford_second_digit",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
      WHERE round(o_totalprice * 100) >= 10
    ),
    dg AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 2, 1) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS o
      FROM v GROUP BY 1
    ),
    t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM dg)
    SELECT dg.d AS second_digit, dg.o AS observed,
           CAST(({_BENF2})[dg.d + 1] AS BIGINT) AS expected_nano,
           CAST((1000000 * dg.o) // t.n AS BIGINT) AS observed_ppm,
           CAST(floor(1000000.0
                * (CAST(dg.o AS DOUBLE) * 1000000000 - CAST(t.n AS DOUBLE)
                   * ({_BENF2})[dg.d + 1])
                * (CAST(dg.o AS DOUBLE) * 1000000000 - CAST(t.n AS DOUBLE)
                   * ({_BENF2})[dg.d + 1])
                / (CAST(t.n AS DOUBLE) * ({_BENF2})[dg.d + 1]
                   * 1000000000.0)) AS BIGINT) AS chi2_term_micro
    FROM dg, t
    ORDER BY second_digit
    """,
    doc="Second-digit Benford conformity of order values in cents: the "
    "standard forensic ESCALATION after the first-digit screen "
    "(agg_benford_test) — second digits flag rounding manipulation "
    "and invented figures the first digit smooths over, with the "
    "flatter expected law P(d) = sum_k log10(1+1/(10k+d)) embedded "
    "as ten shared nano-unit LITERALS (no log at query time). Digits "
    "come from integer string formatting (portable, sign-free on "
    "positive cents); per-digit chi-square contributions are "
    "fixed-shape floor-quantized doubles over exact integers. One "
    "10-cell map-side rollup + 1-row total broadcast; no windows.",
)
def orders_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    ).filter(F.col("c") >= 10)
    dg = v.groupBy(
        F.expr("CAST(substr(CAST(c AS STRING), 2, 1) AS BIGINT)").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    t = dg.agg(F.sum("o").cast("bigint").alias("n"))
    arr = "array" + _BENF2.replace("[", "(").replace("]", ")")
    return (
        dg.crossJoin(F.broadcast(t))
        .select(
            F.col("d").alias("second_digit"),
            F.col("o").alias("observed"),
            F.expr(f"CAST(element_at({arr}, CAST(d + 1 AS INT)) AS BIGINT)")
            .alias("expected_nano"),
            F.expr("CAST((1000000 * o) div n AS BIGINT)").alias(
                "observed_ppm"
            ),
            F.expr(
                f"CAST(floor(1000000.0"
                f" * (CAST(o AS DOUBLE) * 1000000000 - CAST(n AS DOUBLE)"
                f"    * element_at({arr}, CAST(d + 1 AS INT)))"
                f" * (CAST(o AS DOUBLE) * 1000000000 - CAST(n AS DOUBLE)"
                f"    * element_at({arr}, CAST(d + 1 AS INT)))"
                f" / (CAST(n AS DOUBLE) * element_at({arr},"
                f"    CAST(d + 1 AS INT)) * 1000000000.0)) AS BIGINT)"
            ).alias("chi2_term_micro"),
        )
        .orderBy("second_digit")
    )


# ---------------------------------------------------------------------------
# text_sentence_length_stats — sentence-length profile per source
# ---------------------------------------------------------------------------


@register(
    "text_sentence_length_stats",
    oracle="""
    WITH sen AS (
      SELECT source, trim(s) AS s
      FROM (SELECT source, unnest(string_split_regex(text, '[.!?]+')) AS s
            FROM documents)
      WHERE length(trim(s)) > 0
    ),
    wl AS (
      SELECT source,
             CAST(len(string_split(s, ' ')) AS BIGINT) AS w
      FROM sen
    ),
    g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(w) AS BIGINT) AS sw,
             CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sww,
             CAST(max(w) AS BIGINT) AS mx
      FROM wl GROUP BY 1
    )
    SELECT source, n AS n_sentences, mx AS max_words,
           CAST((1000 * sw) // n AS BIGINT) AS mean_words_milli,
           CAST(CASE WHEN n > 1 AND sw > 0 THEN
                floor(1000.0 * sqrt((CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)
                       - CAST(sw AS DOUBLE) * sw)
                      / (CAST(n AS DOUBLE) * (n - 1)))
                      * n / CAST(sw AS DOUBLE))
                ELSE 0 END AS BIGINT) AS cv_milli
    FROM g
    ORDER BY source
    """,
    doc="Sentence-length profile per source: sentence count, max and "
    "mean length in words, and the coefficient of variation — the "
    "rhythm signal stylometry and quality gates read (machine-"
    "generated and boilerplate text shows abnormally LOW sentence-"
    "length variance; readability scores use only the mean). "
    "Sentences split on terminal-punctuation runs with a character-"
    "class-only regex both dialects share (the text_pii_scrub "
    "contract), empty segments dropped after trim; word counts from "
    "the whitespace split are exact integers, the mean is one "
    "floor-division, and CV is a fixed-shape floor-quantized double "
    "over exact moments. Map-side explode straight into a "
    "per-source rollup; no windows.",
)
def text_sentence_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sen = (
        docs.select(
            "source",
            F.explode(F.split("text", "[.!?]+")).alias("s0"),
        )
        .select("source", F.trim("s0").alias("s"))
        .filter(F.length("s") > 0)
    )
    wl = sen.select(
        "source", F.size(F.split("s", " ")).cast("bigint").alias("w")
    )
    g = wl.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("w").cast("bigint").alias("sw"),
        _dsum(F.expr("CAST(w AS DECIMAL(38,0)) * w")).alias("sww"),
        F.max("w").cast("bigint").alias("mx"),
    )
    return g.select(
        "source",
        F.col("n").alias("n_sentences"),
        F.col("mx").alias("max_words"),
        F.expr("CAST((1000 * sw) div n AS BIGINT)").alias(
            "mean_words_milli"
        ),
        F.expr(
            "CAST(CASE WHEN n > 1 AND sw > 0 THEN"
            " floor(1000.0 * sqrt((CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)"
            "        - CAST(sw AS DOUBLE) * sw)"
            "       / (CAST(n AS DOUBLE) * (n - 1)))"
            "       * n / CAST(sw AS DOUBLE))"
            " ELSE 0 END AS BIGINT)"
        ).alias("cv_milli"),
    ).orderBy("source")


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
