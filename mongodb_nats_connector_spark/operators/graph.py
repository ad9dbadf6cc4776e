"""Graph operators (``graph_*``, ``pagerank_*``) over the supplier/customer
trade graph and its nation projection: traversal, centrality, community and
dense-subgraph mining, link prediction.

Shared relational building blocks (edge lists, md5 hashing) live in
``graph_common``. Oracle rules: see the package docstring
(``operators/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.operators.dedup import _PAIRS_CTE, dedup_minhash_lsh
from mongodb_nats_connector_spark.operators.graph_common import trade_edges
from mongodb_nats_connector_spark.plans.caching import (
    persist_until_collected,
    release_on_gc,
)
from mongodb_nats_connector_spark.plans.hints import (
    counted_fits_broadcast,
    maybe_broadcast,
)
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


PR_SCALE = 10**12
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact rational
PR_ITERS = 3


def _pagerank_oracle() -> str:
    base = f"""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    outw AS (
      SELECT src, CAST(sum(w) AS BIGINT) AS total_w FROM edges GROUP BY src
    ),
    nodes AS (SELECT n_nationkey AS node, n_name FROM nation),
    ncount AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    pr0 AS (
      SELECT node, CAST({PR_SCALE} // n AS BIGINT) AS pr
      FROM nodes, ncount
    )"""
    step = """,
    pr{next} AS (
      SELECT nodes.node,
             CAST(({base_num} // n)
                  + ({damp_num} * coalesce(inflow.s, 0)) // {damp_den}
                  AS BIGINT) AS pr
      FROM nodes
      CROSS JOIN ncount
      LEFT JOIN (
        SELECT e.dst AS node,
               CAST(sum((p.pr * e.w) // o.total_w) AS BIGINT) AS s
        FROM pr{cur} p
        JOIN edges e ON e.src = p.node
        JOIN outw o ON o.src = p.node
        GROUP BY e.dst
      ) inflow ON inflow.node = nodes.node
    )"""
    for i in range(PR_ITERS):
        base += step.format(
            next=i + 1,
            cur=i,
            base_num=PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN,
            damp_num=PR_DAMP_NUM,
            damp_den=PR_DAMP_DEN,
        )
    return (
        base
        + f"""
    SELECT n.n_name AS nation, p.pr AS pr_fixed,
           p.pr / {PR_SCALE}.0 AS pagerank
    FROM pr{PR_ITERS} p JOIN nation n ON n.n_nationkey = p.node
    """
    )


@register(
    "pagerank_nations",
    oracle=_pagerank_oracle(),
    doc=f"Weighted PageRank ({PR_ITERS} iterations, damping "
    f"{PR_DAMP_NUM}/{PR_DAMP_DEN}) over the customer-nation → supplier-"
    "nation trade graph. The edge weights aggregate once from the fact "
    "tables (the only wide shuffle) and cache; the rank vector is "
    "node-sized, so every iteration embeds it as a literal map and runs a "
    "map-only lookup + aggregation over the cached edge relation — the "
    "collect-and-rebroadcast Pregel shape. Fixed-point BIGINT "
    "micro-units make every contribution exact: integer partial sums "
    "commute, so the result is independent of partitioning and engine.",
)
def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")

    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(maybe_broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(maybe_broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    # no persist needed (r14): edges feeds outw and the join inside ONE
    # collected plan — the groupBy exchange is reused — and nothing
    # re-scans it afterwards
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("total_w"))
    edges_n = edges.join(outw, "src")

    nodes = nation.select(F.col("n_nationkey").alias("node"), "n_name")
    node_ids = [r["node"] for r in nodes.collect()]
    n = len(node_ids)
    base_num = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN

    # The nation-level edge relation is node^2-bounded (<= |nation|^2 rows
    # — 625 at TPC-H's 25 nations, a driver scalar like the rank vector
    # itself), so ONE collect fetches it and the whole fixed-point runs in
    # exact Python integer arithmetic on the driver (r14 optimization: the
    # former shape re-scanned the cached edges with a literal rank map and
    # collected the inflow once PER ITERATION — PR_ITERS full jobs whose
    # only purpose was 25-row aggregates). The distributed part remains
    # exactly the data-proportional piece: aggregating the fact tables
    # down to the edge weights. Python ints are arbitrary-precision and
    # `//` on positives matches SQL `div`, and integer partial sums
    # commute, so every pr value is bit-identical to the per-iteration
    # job formulation (pr * w reaches ~2.4e17, past double's 2^53 — which
    # is why no float ever touches the ranks on either engine).
    edge_rows = [
        (r["src"], r["dst"], r["w"], r["total_w"]) for r in edges_n.collect()
    ]
    pr_map = {node: PR_SCALE // n for node in node_ids}
    for _ in range(PR_ITERS):
        inflow: dict[int, int] = {}
        for src, dst, w, total_w in edge_rows:
            contrib = pr_map[src] * w // total_w
            inflow[dst] = inflow.get(dst, 0) + contrib
        pr_map = {
            node: base_num // n
            + PR_DAMP_NUM * inflow.get(node, 0) // PR_DAMP_DEN
            for node in node_ids
        }
    pr_final = F.create_map(
        *[F.lit(x) for node, pr_v in pr_map.items() for x in (node, pr_v)]
    )
    return nation.select(
        F.col("n_name").alias("nation"),
        pr_final[F.col("n_nationkey")].cast("bigint").alias("pr_fixed"),
        (pr_final[F.col("n_nationkey")] / PR_SCALE).alias("pagerank"),
    )


MIN_SUPPORT = 2


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM pp a JOIN pp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
    )
    SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
    FROM edges e1
    JOIN edges e2 ON e1.pb = e2.pa
    JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
    doc=f"Triangle enumeration over the part co-purchase graph (edges = "
    f"part pairs sharing ≥{MIN_SUPPORT} orders, oriented a<b so each "
    "triangle appears once). Wedge join + closing join are plain hash "
    "equi-joins on part keys; the support threshold prunes edge density "
    "before the quadratic wedge step — the standard scale guard for "
    "triangle counting on web-scale graphs.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair generation: ONE shuffle (collect_set per order — dedups in the
    # same pass the self-join form would need a distinct for), then the
    # a<b pairs expand map-side from each order's sorted basket. Expansion
    # is quadratic in basket size — inherent to pair generation and bounded
    # by the largest basket, not the table; measured ~25% faster than the
    # distinct + self-join form at sf0.1 (no second wide shuffle).
    li = table(spark, sf_dir, "lineitem")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = arr.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ps"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ps"), i + 2, F.size("ps")),
                        lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                    ),
                )
            )
        ).alias("p")
    )
    edges = (
        pairs.select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= MIN_SUPPORT)
        .select("pa", "pb")
    )
    # The support-pruned edge relation is sketch-sized relative to the fact
    # table (measured 3.6k edges from 600k lineitems at sf0.1), so it
    # broadcasts into the wedge and closing joins — zero shuffles after the
    # edge build. Catalyst's static estimate for this aggregate inherits
    # lineitem's scale (so maybe_broadcast would decline and the probe side
    # would shuffle), but the relation is persisted anyway: one count() on
    # the cache gives the TRUE size, and the hint is granted only when the
    # materialized edges fit — runtime statistics, not a forced broadcast,
    # so an edge set that outgrows the threshold at 100x degrades to hash
    # equi-joins instead of an executor OOM.
    edges = edges.persist()
    hint_edges = counted_fits_broadcast(edges, row_bytes=48)
    e1 = edges.alias("e1")
    e2 = F.broadcast(edges.alias("e2")) if hint_edges else edges.alias("e2")
    e3 = F.broadcast(edges.alias("e3")) if hint_edges else edges.alias("e3")
    wedges = e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
    tri = wedges.join(
        e3,
        (F.col("e3.pa") == F.col("e1.pa")) & (F.col("e3.pb") == F.col("e2.pb")),
    )
    out = tri.select(
        F.col("e1.pa").alias("a"),
        F.col("e1.pb").alias("b"),
        F.col("e2.pb").alias("c"),
    )
    return persist_until_collected(edges, out)


JACCARD_NEIGHBOR_TOPK = 15


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (SELECT l_partkey, count(*) AS deg FROM pp GROUP BY 1),
    common AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS both_n
      FROM pp a JOIN pp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
    )
    SELECT pa, pb, CAST(both_n AS BIGINT) AS both_n,
           round(both_n * 1.0 / (da.deg + db.deg - both_n), 4) AS jaccard
    FROM common
    JOIN deg da ON da.l_partkey = common.pa
    JOIN deg db ON db.l_partkey = common.pb
    ORDER BY jaccard DESC, pa, pb LIMIT {JACCARD_NEIGHBOR_TOPK}
    """,
    doc=f"Neighbor-set Jaccard similarity between parts in the order-"
    "basket bipartite graph — |orders(a)∩orders(b)| / |orders(a)∪orders(b)| "
    f"for pairs co-occurring ≥{MIN_SUPPORT} times — the item-item "
    "collaborative-filtering / link-prediction primitive. Co-occurrence "
    "counts expand map-side from per-order baskets (one shuffle); degrees "
    "are a second aggregate over the distinct basket relation, BROADCAST "
    "into the similarity join; TakeOrderedAndProject caps output. The "
    "union size folds from degrees (inclusion-exclusion) — no second "
    "pass over the graph.",
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    deg = arr.select(F.explode("ps").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("deg"))
    common = (
        arr.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ps"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ps"), i + 2, F.size("ps")),
                            lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("both_n"))
        .filter(F.col("both_n") >= MIN_SUPPORT)
    )
    # Same runtime-count gate as orders_basket_lift: degrees are
    # part-cardinality-sized, so the static estimate declines; the
    # materialized count decides (deg persisted, released with the result).
    deg = deg.persist()
    hint_deg = counted_fits_broadcast(deg, row_bytes=32)
    da = deg.select(F.col("l_partkey").alias("pa"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("l_partkey").alias("pb"), F.col("deg").alias("deg_b"))
    if hint_deg:
        da, db = F.broadcast(da), F.broadcast(db)
    out = (
        common.join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            F.col("both_n").cast("bigint").alias("both_n"),
            F.round(
                F.col("both_n")
                / (F.col("deg_a") + F.col("deg_b") - F.col("both_n")),
                4,
            ).alias("jaccard"),
        )
    )
    return persist_until_collected(
        deg,
        persist_until_collected(
            arr,
            out.orderBy(F.desc("jaccard"), "pa", "pb").limit(
                JACCARD_NEIGHBOR_TOPK
            ),
        ),
    )


# ---------------------------------------------------------------------------
# graph_label_propagation — weighted-majority community detection
# ---------------------------------------------------------------------------

LP_ROUNDS = 2


def _lp_oracle() -> str:
    base = """
    WITH dir_edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst, sum(w) AS w FROM (
        SELECT src, dst, w FROM dir_edges
        UNION ALL SELECT dst, src, w FROM dir_edges
      ) GROUP BY src, dst
    ),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    lab0 AS (SELECT node, node AS label FROM nodes)"""
    step = """,
    vote{next} AS (
      SELECT e.dst AS node, p.label, sum(e.w) AS mass
      FROM lab{cur} p JOIN edges e ON e.src = p.node
      GROUP BY e.dst, p.label
    ),
    lab{next} AS (
      SELECT n.node,
             coalesce(
               (SELECT v.label FROM vote{next} v WHERE v.node = n.node
                ORDER BY v.mass DESC, v.label LIMIT 1),
               n.node) AS label
      FROM nodes n
    )"""
    for i in range(LP_ROUNDS):
        base += step.format(next=i + 1, cur=i)
    return (
        base
        + f"""
    SELECT n.n_name AS nation, CAST(l.label AS BIGINT) AS community
    FROM lab{LP_ROUNDS} l JOIN nation n ON n.n_nationkey = l.node
    """
    )


@register(
    "graph_label_propagation",
    oracle=_lp_oracle(),
    doc=f"Community detection by synchronous weighted label propagation "
    f"({LP_ROUNDS} rounds) over the undirected customer-supplier trade "
    "graph: each round every node adopts the label with the largest "
    "incident edge-weight mass (ties break to the smaller label — fully "
    "deterministic, so the fixed-round result is engine-exact). The edge "
    "list aggregates once from the facts (the only wide shuffle) and is "
    "nation-bounded, so it is collected once and the rounds run as the "
    "identical exact-integer vote/argmax recurrence on the driver. At "
    "billions of edges the same rounds run distributed — the node-sized "
    "label relation joins the hash-partitioned edges and reduces by "
    "(node, label), the Pregel message pattern; rounds are fixed, not "
    "data-dependent.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    dir_edges = trade_edges(spark, sf_dir)
    edges = (
        dir_edges.unionAll(
            dir_edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    # The weighted symmetric edge list is nation-dimension-bounded
    # (<= 625 rows — a driver scalar, like the node/label/vote relations
    # already were), so after the single corpus-proportional aggregation
    # it is collected ONCE and the LP_ROUNDS synchronous rounds run in
    # exact Python integer arithmetic on the driver (the pagerank_nations
    # discipline: masses are BIGINT edge-weight sums — partial sums
    # commute — and the (mass DESC, label ASC) argmax is replicated
    # literally, so every label is bit-identical to the per-round
    # broadcast-join formulation the oracle unrolls). Formerly each
    # build replayed LP_ROUNDS broadcast joins + rank windows over the
    # persisted edges into an eager localCheckpoint.
    edge_rows = [(r["src"], r["dst"], r["w"]) for r in edges.collect()]
    node_ids = [r["node"] for r in
                nation.select(F.col("n_nationkey").alias("node")).collect()]
    labels = {node: node for node in node_ids}
    for _ in range(LP_ROUNDS):
        votes: dict = {}
        for src, dst, w in edge_rows:
            lab = labels.get(src)
            if lab is None:
                continue
            key = (dst, lab)
            votes[key] = votes.get(key, 0) + w
        by_node: dict = {}
        for (nd, lab), mass in votes.items():
            by_node.setdefault(nd, []).append((mass, lab))
        labels = {
            node: (
                min(by_node[node], key=lambda ml: (-ml[0], ml[1]))[1]
                if node in by_node
                else node
            )
            for node in node_ids
        }
    lab_lit = F.create_map(
        *[F.lit(v) for node, lab in labels.items() for v in (node, lab)]
    )
    return nation.select(
        F.col("n_name").alias("nation"),
        lab_lit[F.col("n_nationkey")].cast("bigint").alias("community"),
    )


# ---------------------------------------------------------------------------
# graph_cc_bigstar — large-star/small-star connected components
# ---------------------------------------------------------------------------

CC_BIGSTAR_MAX_ROUNDS = 15


def _canon_pairs(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (lo, hi) form, no self-loops."""
    return (
        e.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
    )


def _large_star(canon: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to m = min(N(u) ∪ {u})."""
    sym = canon.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
        canon.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    mn = sym.groupBy("u").agg(F.min("v").alias("mnv"))
    out = (
        sym.join(mn, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("a"), F.least("mnv", F.col("u")).alias("b")
        )
    )
    return _canon_pairs(out)


def _small_star(canon: DataFrame) -> DataFrame:
    """Orient edges (hi -> lo); connect hi and all its smaller neighbors to
    the minimum neighbor m = min(N(hi))."""
    mn = canon.groupBy("hi").agg(F.min("lo").alias("mnv"))
    out = canon.join(mn, "hi").select(
        F.col("lo").alias("a"), F.col("mnv").alias("b")
    ).union(mn.select(F.col("hi").alias("a"), F.col("mnv").alias("b")))
    return _canon_pairs(out)


def bigstar_labels(pairs: DataFrame) -> DataFrame:
    """(a, b) edge pairs -> (doc_id, label) for every node IN the edge set,
    label = component-minimum node id, via alternating large/small-star."""
    # localCheckpoint (not persist): each round references the previous edge
    # set several times, so without truncating the LOGICAL plan the analyzed
    # lineage grows ~8x per round and analysis itself OOMs by round 3 — the
    # checkpoint both materializes the round and resets the plan to a leaf.
    prev = _canon_pairs(pairs).localCheckpoint(eager=True)
    for _ in range(CC_BIGSTAR_MAX_ROUNDS):
        stepped = _small_star(_large_star(prev)).localCheckpoint(eager=True)
        # edge-set fixpoint in ONE job (r14: the two exceptAll/isEmpty
        # probes were two full-shuffle jobs per round): both sides are
        # DISTINCT canonical pair sets, so a +1/-1 tagged union groups to
        # sum 0 on every (lo, hi) exactly when the sets are equal — the
        # same exact set-equality test, half the convergence-check jobs
        same = (
            stepped.withColumn("_t", F.lit(1))
            .unionAll(prev.withColumn("_t", F.lit(-1)))
            .groupBy("lo", "hi")
            .agg(F.sum("_t").alias("_d"))
            .filter(F.col("_d") != 0)
            .isEmpty()
        )
        prev = stepped
        if same:
            break
    else:
        raise RuntimeError(
            f"large-star/small-star did not converge in "
            f"{CC_BIGSTAR_MAX_ROUNDS} rounds"
        )
    # fixpoint => every component is a star (root = component-min node):
    # members appear as hi with lo = root; roots label themselves
    return (
        prev.select(F.col("hi").alias("doc_id"), F.col("lo").alias("label"))
        .union(prev.select(F.col("lo").alias("doc_id"), F.col("lo").alias("label")))
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=True)
    )


@register(
    "graph_cc_bigstar",
    # same fixpoint as dedup_clusters: the recursive-CTE closure over the
    # verified >=0.7-Jaccard near-dup pair graph
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM simpairs
      UNION ALL
      SELECT doc_b, doc_a FROM simpairs
    ),
    reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.dst FROM reach r JOIN edges e ON r.v = e.src
    )
    SELECT u AS doc_id, min(v) AS cluster_id,
           CAST(CASE WHEN u = min(v) THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
    FROM reach GROUP BY u
    """,
    doc="Connected components via alternating large-star/small-star (Kiveris "
    "et al., 'Connected Components in MapReduce and Beyond') over the "
    "verified near-duplicate pair graph — the SAME fixpoint as "
    "``dedup_clusters`` computed by the plan that survives 100 TB: no "
    "broadcast anywhere, every round is two hash-partitioned groupBy/join "
    "shuffles keyed on node id, and the round count is logarithmic in the "
    "largest component diameter. ``dedup_clusters`` broadcasts the edge "
    "list into a label-propagation loop (right when near-dup edges are a "
    "vanishing fraction of the corpus); THIS operator is the documented "
    "fallback regime for when the edge list itself is data-proportional "
    "(web-graph CC, giant dedup clusters) — the pair proves both plans "
    "reach the identical labeling. Convergence is detected by edge-set "
    "fixpoint (exceptAll both ways) and asserted within "
    f"{CC_BIGSTAR_MAX_ROUNDS} rounds.",
)
def graph_cc_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels = bigstar_labels(pairs)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("label", "doc_id").alias("cluster_id"),
        (F.col("doc_id") == F.coalesce("label", "doc_id"))
        .cast("bigint")
        .alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# graph_bfs_levels — BFS hop levels over the top-k trade graph
# ---------------------------------------------------------------------------

BFS_SOURCE_NODE = 0
BFS_TOP_OUT = 3  # keep each nation's 3 heaviest outgoing trade edges
BFS_MAX_HOPS = 8

_TRADE_EDGES_CTE = """
    dir_edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    )"""


@register(
    "graph_bfs_levels",
    oracle=f"""
    WITH RECURSIVE {_TRADE_EDGES_CTE},
    g AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC)
                 AS rn
        FROM dir_edges
      ) WHERE rn <= {BFS_TOP_OUT}
    ),
    bfs AS (
      SELECT CAST({BFS_SOURCE_NODE} AS BIGINT) AS node, 0 AS hop
      UNION
      SELECT g.dst, bfs.hop + 1
      FROM bfs JOIN g ON g.src = bfs.node
      WHERE bfs.hop < {BFS_MAX_HOPS}
    ),
    lv AS (SELECT node, min(hop) AS hop FROM bfs GROUP BY node)
    SELECT n.n_name AS nation, CAST(lv.hop AS INT) AS hop
    FROM nation n LEFT JOIN lv ON lv.node = n.n_nationkey
    """,
    doc=f"Breadth-first hop levels from nation {BFS_SOURCE_NODE} over the "
    f"top-{BFS_TOP_OUT}-out-degree trade graph (each nation keeps its "
    f"{BFS_TOP_OUT} heaviest outgoing customer->supplier edges; ties break "
    "to the smaller destination, so the graph is engine-exact). Unreachable "
    "nations report NULL. The edge list aggregates once from the facts (the "
    "only corpus-proportional shuffle); it is nation^2-bounded, so it is "
    "collected once and the top-k filter + BFS rounds run as exact Python "
    "integers on the driver (the pagerank_nations discipline), levels "
    "emitted as a literal map over the nation dimension. On a "
    "billion-node graph the frontier loop returns as hash-partitioned "
    "frontier/visited joins (the Pregel message pattern; graph_cc_bigstar "
    "keeps that distributed shape in-registry).",
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    dir_edges = trade_edges(spark, sf_dir)
    # The trade adjacency is nation-dimension-squared-bounded (<= 625
    # rows at any fact size — a driver scalar), so after the single
    # corpus-proportional aggregation it is collected ONCE and both the
    # top-k out-edge filter and the BFS rounds run in exact Python
    # integer arithmetic on the driver (the pagerank_nations
    # discipline): sort per source by (w DESC, dst ASC) and keep
    # BFS_TOP_OUT — the row_number() tie-break replicated literally —
    # then expand hop frontiers with min-hop set semantics. Formerly
    # each round ran 2 eager localCheckpoint jobs + an isEmpty probe
    # over node-bounded frontier/visited relations (~24 serial jobs).
    # On a billion-node graph the loop form returns with
    # hash-partitioned frontier/visited relations (graph_cc_bigstar
    # keeps that distributed shape).
    by_src: dict = {}
    for r in dir_edges.collect():
        by_src.setdefault(r["src"], []).append((r["dst"], r["w"]))
    adj = {
        s: [
            d
            for d, _ in sorted(es, key=lambda dw: (-dw[1], dw[0]))[
                :BFS_TOP_OUT
            ]
        ]
        for s, es in by_src.items()
    }
    levels = {BFS_SOURCE_NODE: 0}
    frontier = [BFS_SOURCE_NODE]
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = sorted(
            {
                d
                for u in frontier
                for d in adj.get(u, ())
                if d not in levels
            }
        )
        if not nxt:
            break
        for d in nxt:
            levels[d] = hop
        frontier = nxt
    lv_lit = F.create_map(
        *[F.lit(x) for k, v in sorted(levels.items()) for x in (k, v)]
    )
    return nation.select(
        F.col("n_name").alias("nation"),
        lv_lit[F.col("n_nationkey")].cast("int").alias("hop"),
    )


# ---------------------------------------------------------------------------
# graph_widest_path — max-min bottleneck capacity (Bellman rounds)
# ---------------------------------------------------------------------------

WIDEST_SOURCE = 0
WIDEST_ROUNDS = 3
_CAP_INF = (1 << 62)


def _widest_oracle() -> str:
    base = f"""
    WITH {_TRADE_EDGES_CTE},
    nodes AS (SELECT n_nationkey AS node FROM nation),
    cap0 AS (
      SELECT node,
             CASE WHEN node = {WIDEST_SOURCE}
                  THEN CAST({_CAP_INF} AS BIGINT) END AS cap
      FROM nodes)"""
    step = """,
    relax{next} AS (
      SELECT e.dst AS node, max(least(p.cap, e.w)) AS best
      FROM cap{cur} p JOIN dir_edges e ON e.src = p.node
      WHERE p.cap IS NOT NULL
      GROUP BY e.dst
    ),
    cap{next} AS (
      SELECT n.node,
             CASE WHEN greatest(coalesce(c.cap, -1), coalesce(r.best, -1)) < 0
                  THEN NULL
                  ELSE greatest(coalesce(c.cap, -1), coalesce(r.best, -1))
             END AS cap
      FROM nodes n
      LEFT JOIN cap{cur} c ON c.node = n.node
      LEFT JOIN relax{next} r ON r.node = n.node
    )"""
    for i in range(WIDEST_ROUNDS):
        base += step.format(next=i + 1, cur=i)
    return (
        base
        + f"""
    SELECT n.n_name AS nation,
           CASE WHEN c.node = {WIDEST_SOURCE} THEN NULL
                ELSE CAST(c.cap AS BIGINT) END AS capacity
    FROM cap{WIDEST_ROUNDS} c JOIN nation n ON n.n_nationkey = c.node
    """
    )


@register(
    "graph_widest_path",
    oracle=_widest_oracle(),
    doc=f"Widest-path (maximum bottleneck capacity) from nation "
    f"{WIDEST_SOURCE} over the weighted trade graph: cap(v) maximizes, "
    "over all paths, the MINIMUM edge weight along the path — the "
    "throughput question ('how much can route from A to v') that neither "
    f"BFS (hops) nor PageRank (mass) answers. {WIDEST_ROUNDS} synchronous "
    "Bellman rounds of cap(v) <- max(cap(v), max over in-edges of "
    "least(cap(u), w)) — a fixed round count mirrored in the oracle's "
    "chained CTEs, and every comparison is on BIGINTs, so the result is "
    "engine-exact whether or not the fixpoint is reached. The edge list "
    "aggregates once from the facts (the only corpus-proportional "
    "shuffle); it is nation^2-bounded, so it is collected once and the "
    "rounds run as exact Python integers on the driver (the "
    "pagerank_nations discipline), capacities emitted as a literal map "
    "over the nation dimension. At general graph scale each round "
    "returns as one co-partitioned hash join + groupBy (the Pregel "
    "message pattern). The source reports NULL capacity (its sentinel "
    "is not a real bottleneck).",
)
def graph_widest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The edge relation is nation-dimension-squared-bounded (<= 625 rows
    # at any fact size — a driver scalar), so after the single
    # corpus-proportional aggregation it is collected ONCE and the fixed
    # Bellman rounds run in exact Python integer arithmetic on the
    # driver (the pagerank_nations discipline: max/least on BIGINTs
    # replicated literally, including the NULL-as-unreached semantics —
    # a node absent from the cap dict is the former NULL cap).
    # Formerly the executed plan unrolled all three rounds as chained
    # broadcast joins + groupBys over the persisted edges per run.
    nation = table(spark, sf_dir, "nation")
    edges = [
        (r["src"], r["dst"], r["w"])
        for r in trade_edges(spark, sf_dir).collect()
    ]
    cap: dict = {WIDEST_SOURCE: _CAP_INF}
    for _ in range(WIDEST_ROUNDS):
        relax: dict = {}
        for s_, d_, w_ in edges:
            if s_ in cap:
                c = min(cap[s_], w_)
                if relax.get(d_, -1) < c:
                    relax[d_] = c
        for d_, best in relax.items():
            if cap.get(d_, -1) < best:
                cap[d_] = best
    pos = {k: v for k, v in sorted(cap.items()) if k != WIDEST_SOURCE}
    cap_lit = (
        F.create_map(*[F.lit(x) for k, v in pos.items() for x in (k, v)])
        if pos
        else F.create_map().cast("map<int,bigint>")
    )
    return nation.select(
        F.col("n_name").alias("nation"),
        F.when(
            F.col("n_nationkey") != WIDEST_SOURCE,
            cap_lit[F.col("n_nationkey")],
        )
        .cast("bigint")
        .alias("capacity"),
    )


# ---------------------------------------------------------------------------
# graph_kcore — iterative k-core peeling over the thresholded trade graph
# ---------------------------------------------------------------------------

KCORE_K = 3  # non-empty core at every test SF (k=4 peels sf0.1 to empty)
KCORE_MAX_ROUNDS = 8
KCORE_W_FACTOR = 1.15  # edge kept iff weight >= factor * mean weight

_KCORE_EDGE_CTES = f"""
    dir_edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2
    ),
    uw AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b, sum(w) AS w
      FROM dir_edges GROUP BY 1, 2
    ),
    avgw AS (SELECT avg(w) AS aw FROM uw),
    e0 AS MATERIALIZED (
      SELECT a, b FROM uw, avgw WHERE w >= {KCORE_W_FACTOR} * aw
    )
"""


def _kcore_peel_ctes(rounds: int) -> tuple[str, str]:
    """Unrolled peel rounds: nodes_i = nodes with degree >= K among edges
    induced by nodes_{i-1}. A fixed unroll keeps the oracle plain chained
    SQL (no recursive-CTE-with-aggregation, which SQL disallows); the Spark
    side asserts convergence within the same bound."""
    parts = []
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(f"""
    n{i} AS MATERIALIZED (
      SELECT u FROM (
        SELECT a AS u FROM {prev} UNION ALL SELECT b FROM {prev}
      ) GROUP BY u HAVING count(*) >= {KCORE_K}
    ),
    e{i} AS MATERIALIZED (
      SELECT a, b FROM {prev}
      WHERE a IN (SELECT u FROM n{i}) AND b IN (SELECT u FROM n{i})
    )""")
        prev = f"e{i}"
    return ",".join(parts), prev


_PEEL_SQL, _FINAL_E = _kcore_peel_ctes(KCORE_MAX_ROUNDS)


def _thresholded_und_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected trade edges kept iff summed weight >= KCORE_W_FACTOR x the
    mean weight (scale-relative, so the graph stays sparse at any SF) —
    shared by graph_kcore, graph_adamic_adar, and graph_assortativity; its
    SQL twin is the e0 CTE in _KCORE_EDGE_CTES. (Defined ABOVE the
    @register block: a def between a decorator call and its target would
    capture the registration.)"""
    de = trade_edges(spark, sf_dir)
    uw = (
        de.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    avgw = uw.agg(F.avg("w").alias("aw"))
    return (
        uw.crossJoin(F.broadcast(avgw))
        .filter(F.col("w") >= KCORE_W_FACTOR * F.col("aw"))
        .select("a", "b")
    )


@register(
    "graph_kcore",
    oracle=f"""
    WITH {_KCORE_EDGE_CTES},{_PEEL_SQL}
    SELECT nn.n_name AS nation, d.deg AS core_degree
    FROM (
      SELECT u, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT a AS u FROM {_FINAL_E} UNION ALL SELECT b FROM {_FINAL_E}
      ) GROUP BY u
    ) d JOIN nation nn ON nn.n_nationkey = d.u
    """,
    doc=f"k-core decomposition (k={KCORE_K}) of the nation trade graph, "
    f"edges thresholded at {KCORE_W_FACTOR}x the mean weight so the graph "
    "stays sparse at every scale factor (an absolute weight cutoff would "
    "degenerate as volume grows): iteratively peel nodes with degree < k "
    "until fixpoint — the standard dense-subgraph/community-seed mining "
    "primitive. Each round is ONE map-side-combined degree count plus two "
    "hash semi-joins keyed on node id — no broadcast of anything "
    "data-proportional, so the loop is the same shuffle-only shape as "
    "graph_cc_bigstar and survives a web-scale edge list; rounds are "
    "bounded by the peeling depth (logarithmic in practice), asserted "
    f"<= {KCORE_MAX_ROUNDS} here with lineage truncated per round. The "
    "oracle unrolls the identical peel as chained CTEs.",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _thresholded_und_edges(spark, sf_dir).localCheckpoint(eager=True)
    # KCORE_MAX_ROUNDS PEEL rounds need MAX_ROUNDS+1 loop iterations: a
    # depth-d peel changes the count for d rounds and needs one further
    # confirming round to certify the fixpoint (count equality certifies
    # set equality — peeling only ever removes edges). Seeding prev_n with
    # the starting count makes an already-k-core graph confirm in one.
    prev_n = edges.count()
    for _ in range(KCORE_MAX_ROUNDS + 1):
        deg = (
            edges.select(F.col("a").alias("u"))
            .unionAll(edges.select(F.col("b").alias("u")))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= KCORE_K).select("u")
        nxt = (
            edges.join(keep.withColumnRenamed("u", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("u", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)  # truncate lineage each round
        )
        n = nxt.count()
        if n == prev_n:
            edges = nxt
            break
        prev_n = n
        edges = nxt
    else:
        raise AssertionError(
            f"k-core did not converge in {KCORE_MAX_ROUNDS} rounds"
        )
    nation = table(spark, sf_dir, "nation")
    core_deg = (
        edges.select(F.col("a").alias("u"))
        .unionAll(edges.select(F.col("b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )
    return core_deg.join(
        maybe_broadcast(nation), core_deg["u"] == nation["n_nationkey"]
    ).select(F.col("n_name").alias("nation"), "core_degree")


# ---------------------------------------------------------------------------
# graph_adamic_adar — common-neighbor link prediction scores
# ---------------------------------------------------------------------------


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH {_KCORE_EDGE_CTES},
    sym AS (
      SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
    ),
    deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
    wedges AS (
      SELECT s1.u AS na, s2.u AS nb, s1.v AS z
      FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.u < s2.u
    ),
    scored AS (
      SELECT w.na, w.nb,
             CAST(count(*) AS BIGINT) AS n_common,
             round(sum(round(1.0 / ln(d.d), 9)), 6) AS aa_score
      FROM wedges w JOIN deg d ON d.u = w.z
      WHERE d.d > 1
      GROUP BY w.na, w.nb
    )
    SELECT x.n_name AS nation_a, y.n_name AS nation_b, s.n_common,
           s.aa_score,
           CAST(CASE WHEN EXISTS (SELECT 1 FROM e0
                                  WHERE a = s.na AND b = s.nb)
                THEN 1 ELSE 0 END AS BIGINT) AS is_edge
    FROM scored s
    JOIN nation x ON x.n_nationkey = s.na
    JOIN nation y ON y.n_nationkey = s.nb
    """,
    doc="Adamic-Adar link prediction over the thresholded trade graph: for "
    "each node pair, sum 1/ln(degree) across common neighbors — the "
    "standard 'who should be connected next' score, down-weighting hub "
    "neighbors. Wedges enumerate through ONE equi-self-join on the shared "
    "neighbor (hash-partitioned on z, the same wedge shape as "
    "graph_triangle_count, so the skew gate there applies here); each "
    "term rounds to 9 decimals before the sum rounds to 6, keeping the "
    "double path identical cross-engine. The existing-edge flag makes the "
    "output directly usable as a ranked candidate list.",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = _thresholded_und_edges(spark, sf_dir)
    sym = e0.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e0.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    s1 = sym.select(F.col("u").alias("na"), F.col("v").alias("z"))
    s2 = sym.select(F.col("u").alias("nb"), F.col("v").alias("z2"))
    wedges = s1.join(
        s2, (F.col("z") == F.col("z2")) & (F.col("na") < F.col("nb"))
    ).select("na", "nb", "z")
    scored = (
        wedges.join(
            maybe_broadcast(deg.filter(F.col("d") > 1)),
            wedges["z"] == F.col("u"),
        )
        .groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.round(F.sum(F.round(1.0 / F.log(F.col("d")), 9)), 6).alias(
                "aa_score"
            ),
        )
    )
    flagged = scored.join(
        maybe_broadcast(e0.withColumn("is_e", F.lit(1))),
        (scored["na"] == e0["a"]) & (scored["nb"] == e0["b"]),
        "left",
    ).select(
        "na",
        "nb",
        "n_common",
        "aa_score",
        F.coalesce("is_e", F.lit(0)).cast("bigint").alias("is_edge"),
    )
    nation = table(spark, sf_dir, "nation")
    nx = nation.select(
        F.col("n_nationkey").alias("ka"), F.col("n_name").alias("nation_a")
    )
    ny = nation.select(
        F.col("n_nationkey").alias("kb"), F.col("n_name").alias("nation_b")
    )
    out = (
        flagged.join(maybe_broadcast(nx), F.col("na") == F.col("ka"))
        .join(maybe_broadcast(ny), F.col("nb") == F.col("kb"))
        .select("nation_a", "nation_b", "n_common", "aa_score", "is_edge")
    )
    # e0 (the 4-table trade-edge join + threshold) feeds sym twice, deg,
    # and the is_edge probe — persist it for the LIFE OF THE RESULT (tying
    # the release to e0 itself would unpersist the moment this function
    # returns, before the caller ever executes the plan)
    return persist_until_collected(e0, out)


# ---------------------------------------------------------------------------
# graph_assortativity — degree assortativity of the trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_assortativity",
    oracle=f"""
    WITH {_KCORE_EDGE_CTES},
    sym AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u)
    SELECT CAST(count(*) AS BIGINT) AS n_dir_edges,
           round(corr(du.d, dv.d), 4) AS assortativity,
           round(avg(du.d), 4) AS mean_deg
    FROM sym JOIN deg du ON du.u = sym.u JOIN deg dv ON dv.u = sym.v
    """,
    doc="Degree assortativity (Newman): the Pearson correlation of endpoint "
    "degrees over the directed edge list of the thresholded trade graph — "
    "negative means hubs connect to leaves (dissortative, typical of "
    "trade/technology networks), positive means hubs cluster. One degree "
    "count plus two joins of the edge list against the node-sized degree "
    "relation (size-gated broadcast); the correlation is a single "
    "map-side-combined moment aggregation. The number every skew "
    "mitigation decision about a graph workload starts from.",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = _thresholded_und_edges(spark, sf_dir)
    sym = e0.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e0.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    du = deg.select(F.col("u").alias("ku"), F.col("d").alias("d_u"))
    dv = deg.select(F.col("u").alias("kv"), F.col("d").alias("d_v"))
    out = (
        sym.join(maybe_broadcast(du), F.col("u") == F.col("ku"))
        .join(maybe_broadcast(dv), F.col("v") == F.col("kv"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dir_edges"),
            F.round(F.corr("d_u", "d_v"), 4).alias("assortativity"),
            F.round(F.avg("d_u"), 4).alias("mean_deg"),
        )
    )
    return persist_until_collected(e0, out)


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
# graph_harmonic_centrality — disconnection-robust closeness variant
# ---------------------------------------------------------------------------

# lcm(1..32): every min-plus hop distance d <= 32 divides it exactly, so
# sum(LCM / d) is an EXACT integer numerator for the harmonic sum
_HARMONIC_LCM = 144403552893600


def _harmonic_oracle() -> str:
    return f"""{_minplus_ctes()},
    nn AS (
      SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_nodes
      FROM d{CLOSENESS_ROUNDS}
    ),
    h AS (
      SELECT src AS node,
             CAST(count(*) AS BIGINT) AS n_reachable,
             CAST(sum({_HARMONIC_LCM} // d) AS BIGINT) AS harmonic_num
      FROM d{CLOSENESS_ROUNDS}
      WHERE src <> dst
      GROUP BY src
    )
    SELECT h.node, h.n_reachable, h.harmonic_num,
           CAST(h.harmonic_num AS DOUBLE) / {_HARMONIC_LCM} AS harmonic,
           CAST(h.harmonic_num AS DOUBLE) / {_HARMONIC_LCM}
             / (nn.n_nodes - 1) AS harmonic_normalized
    FROM h CROSS JOIN nn
    WHERE nn.n_nodes > 1
    """


@register(
    "graph_harmonic_centrality",
    oracle=_harmonic_oracle(),
    doc="Harmonic centrality (sum of 1/distance over reachable peers, "
    "normalized by n-1) for every nation in the trade graph — the "
    "centrality that stays finite and comparable under DISCONNECTION, "
    "where closeness degrades (Boldi-Vigna's axiomatically preferred "
    "variant); shares graph_closeness_centrality's min-plus doubling "
    "distance relation (nation-bounded, fixed rounds, oracle unrolled "
    "identically). Exactness trick: every hop distance d <= 32, and "
    "lcm(1..32) = 144403552893600, so sum(LCM div d) is an EXACT BIGINT "
    "numerator — integer floor-division that never floors anything — "
    "making the harmonic sum itself exact with ONE final IEEE division "
    "(+ the n-1 normalization), no per-term float addition at all.",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.pipeline10 import (
        _minplus_distances,
    )

    d = _minplus_distances(spark, sf_dir)
    d = d.persist()  # nation-bounded; feeds the node count AND the rollup
    nn = d.select("src").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    h = d.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reachable"),
        F.sum(F.expr(f"{_HARMONIC_LCM} div d"))
        .cast("bigint")
        .alias("harmonic_num"),
    )
    harm = F.col("harmonic_num").cast("double") / F.lit(
        _HARMONIC_LCM
    ).cast("double")
    out = (
        h.crossJoin(F.broadcast(nn))
        .filter(F.col("n_nodes") > 1)
        .select(
            "node",
            "n_reachable",
            "harmonic_num",
            harm.alias("harmonic"),
            (harm / (F.col("n_nodes") - 1)).alias("harmonic_normalized"),
        )
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    return release_on_gc(d, out)


# ---------------------------------------------------------------------------
# graph_clustering_coefficient — per-node triangle density of the trade graph
# ---------------------------------------------------------------------------

_UND_EDGES_SQL = """
    dir_edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS cnt
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2
    ),
    adj AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM (
        SELECT least(src, dst) AS src, greatest(src, dst) AS dst
        FROM dir_edges
        UNION
        SELECT greatest(src, dst), least(src, dst) FROM dir_edges
      )
    )"""


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_UND_EDGES_SQL},
    deg AS (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY 1
    ),
    tri AS (
      SELECT w1.a AS node, CAST(count(*) AS BIGINT) AS triangles
      FROM adj w1
      JOIN adj w2 ON w2.a = w1.a AND w2.b > w1.b
      JOIN adj e ON e.a = w1.b AND e.b = w2.b
      GROUP BY w1.a
    ),
    pn AS (
      SELECT d.node, d.degree, coalesce(t.triangles, 0) AS triangles
      FROM deg d LEFT JOIN tri t ON t.node = d.node
    ),
    g AS (
      SELECT CAST(sum(triangles) AS BIGINT) AS closed_x3,
             CAST(sum(degree * (degree - 1)) AS BIGINT) AS wedges_x2
      FROM pn
    )
    SELECT p.node, p.degree, p.triangles,
           CASE WHEN p.degree > 1
                THEN CAST(2 * p.triangles AS DOUBLE)
                     / (CAST(p.degree AS DOUBLE) * (p.degree - 1))
                ELSE 0.0 END AS clustering,
           CAST(2 * g.closed_x3 AS DOUBLE) / g.wedges_x2 AS transitivity
    FROM pn p CROSS JOIN g
    WHERE g.wedges_x2 > 0
    """,
    doc="Local clustering coefficient per nation (2*triangles-through-node "
    "/ deg*(deg-1)) plus the global transitivity ratio — how clique-like "
    "each node's trade neighborhood is, the per-node refinement of "
    "graph_triangle_count's single global number (and the standard "
    "small-world diagnostic next to closeness/eccentricity). Triangles "
    "count by the ordered wedge join (neighbors b < c of the same node, "
    "closed by an edge lookup — every join a hash equi-join on the "
    "nation-bounded symmetric adjacency; each triangle contributes "
    "exactly once per member node, so sum(per-node triangles) = "
    "3*global-triangles, checked in tests). Degrees, triangle counts "
    "and wedge counts are exact BIGINTs; each coefficient is ONE "
    "fixed-order IEEE division. Zero-wedge graphs emit zero rows; "
    "degree-1 nodes emit an exact 0.0.",
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )

    de = trade_edges(spark, sf_dir)
    fwd = de.select("src", "dst")
    adj = (
        fwd.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .unionAll(
            fwd.select(
                F.greatest("src", "dst").alias("a"),
                F.least("src", "dst").alias("b"),
            )
        )
        .distinct()
    )
    adj = adj.persist()  # nation-bounded; feeds degree, wedge AND closing
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    w1 = adj.select(F.col("a").alias("node"), F.col("b").alias("v"))
    w2 = adj.select(F.col("a").alias("node2"), F.col("b").alias("w"))
    closing = adj.select(F.col("a").alias("ea"), F.col("b").alias("eb"))
    tri = (
        w1.join(
            w2,
            (F.col("node2") == F.col("node")) & (F.col("w") > F.col("v")),
        )
        .join(
            closing,
            (F.col("ea") == F.col("v")) & (F.col("eb") == F.col("w")),
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    pn = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
    )
    pn = pn.persist()  # nation-sized; feeds the global ratio AND the output
    g = pn.agg(
        F.sum("triangles").cast("bigint").alias("closed_x3"),
        F.sum(F.col("degree") * (F.col("degree") - 1))
        .cast("bigint")
        .alias("wedges_x2"),
    )
    out = (
        pn.crossJoin(F.broadcast(g))
        .filter(F.col("wedges_x2") > 0)
        .select(
            "node",
            "degree",
            "triangles",
            F.when(
                F.col("degree") > 1,
                (2 * F.col("triangles")).cast("double")
                / (F.col("degree").cast("double") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
            (
                (2 * F.col("closed_x3")).cast("double") / F.col("wedges_x2")
            ).alias("transitivity"),
        )
    )
    from mongodb_nats_connector_spark.plans.caching import release_on_gc

    out = release_on_gc(adj, out)
    return release_on_gc(pn, out)


# ---------------------------------------------------------------------------
# graph_katz_centrality — fixed-iteration Katz index over the trade graph
# ---------------------------------------------------------------------------

KATZ_ITERS = 5
KATZ_ALPHA_DEN = 10  # alpha = 1/10 (below 1/lambda_max for this graph)
KATZ_SCALE = 1_000_000


def _katz_oracle() -> str:
    base = f"""
    WITH {_UND_EDGES_SQL},
    nodes AS (SELECT DISTINCT a AS node FROM adj),
    k0 AS (SELECT node, CAST({KATZ_SCALE} AS BIGINT) AS x FROM nodes)
    """
    step = """,
    k{nxt} AS (
      SELECT n.node,
             CAST({scale} + coalesce(inf.s, 0) // {aden} AS BIGINT) AS x
      FROM nodes n
      LEFT JOIN (
        SELECT adj.a AS node, CAST(sum(p.x) AS BIGINT) AS s
        FROM k{cur} p JOIN adj ON adj.b = p.node
        GROUP BY adj.a
      ) inf ON inf.node = n.node
    )"""
    for i in range(KATZ_ITERS):
        base += step.format(
            nxt=i + 1, cur=i, scale=KATZ_SCALE, aden=KATZ_ALPHA_DEN
        )
    return (
        base
        + f"""
    SELECT nt.n_name AS nation, k.x AS katz_fixed,
           k.x / {KATZ_SCALE}.0 AS katz
    FROM k{KATZ_ITERS} k JOIN nation nt ON nt.n_nationkey = k.node
    ORDER BY katz_fixed DESC, nation
    """
    )


@register(
    "graph_katz_centrality",
    oracle=_katz_oracle(),
    doc=f"Katz centrality ({KATZ_ITERS} fixed Jacobi iterations, alpha = "
    f"1/{KATZ_ALPHA_DEN}) over the undirected nation trade graph: x = 1 "
    "+ alpha*A*x counts ALL walks into a node with geometric damping — "
    "the global-influence complement to pagerank_nations (no "
    "out-degree normalization: a nation trading with well-connected "
    "partners scores high even if those partners trade widely, where "
    "PageRank would dilute the contribution). Fixed-point integer "
    "micro-units make every iteration exact: x' = SCALE + (sum of "
    f"neighbor x) div {KATZ_ALPHA_DEN} on provably positive values, so "
    "integer partial sums commute and the result is partitioning- and "
    "engine-independent; isolated nodes keep the base score via the "
    "left join. The adjacency aggregates once from the fact tables "
    "(the only wide shuffle — pipeline11's shared symmetric-edge "
    "construction) and is nation-bounded, so it is collected once and "
    "the iterations run as the identical exact-integer recurrence on "
    "the driver; the DuckDB twin unrolls the same "
    f"{KATZ_ITERS} steps as CTEs (the pagerank_nations recipe).",
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )

    de = trade_edges(spark, sf_dir)
    fwd = de.select("src", "dst")
    adj = (
        fwd.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .unionAll(
            fwd.select(
                F.greatest("src", "dst").alias("a"),
                F.least("src", "dst").alias("b"),
            )
        )
        .distinct()
    )
    # The symmetric adjacency is nation-dimension-bounded (<= 625 pairs —
    # a driver scalar), so after the single corpus-proportional
    # aggregation it is collected ONCE and the KATZ_ITERS Jacobi rounds
    # run in exact Python integer arithmetic on the driver (the
    # pagerank_nations discipline: x' = SCALE + sum(neighbor x) div
    # ALPHA_DEN on non-negative arbitrary-precision ints — `//` == SQL
    # `div`, partial sums commute, bit-identical to the per-round join
    # formulation the oracle unrolls). Formerly each execution replayed
    # 5 broadcast-build inflow subplans over the persisted adjacency.
    pairs = [(r["a"], r["b"]) for r in adj.collect()]
    node_ids = sorted({a for a, _ in pairs})
    x_map = {node: KATZ_SCALE for node in node_ids}
    for _ in range(KATZ_ITERS):
        inflow: dict = {}
        for a, b in pairs:
            inflow[a] = inflow.get(a, 0) + x_map[b]
        x_map = {
            node: KATZ_SCALE + inflow.get(node, 0) // KATZ_ALPHA_DEN
            for node in node_ids
        }
    x_lit = F.create_map(
        *[F.lit(v) for node, xv in x_map.items() for v in (node, xv)]
    )
    nt = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        nt.filter(F.col("n_nationkey").isin(node_ids))
        .select(
            F.col("n_name").alias("nation"),
            x_lit[F.col("n_nationkey")].cast("bigint").alias("katz_fixed"),
            (x_lit[F.col("n_nationkey")].cast("bigint") / float(KATZ_SCALE))
            .alias("katz"),
        )
        .orderBy(F.col("katz_fixed").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# graph_reciprocity — weighted reciprocity of the nation trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_reciprocity",
    oracle="""
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT e.src, e.dst, e.w,
             coalesce(b.w, 0) AS w_back,
             least(e.w, coalesce(b.w, 0)) AS w_recip
      FROM edges e
      LEFT JOIN edges b ON b.src = e.dst AND b.dst = e.src
    )
    SELECT CAST(count(*) AS BIGINT) AS n_edges,
           CAST(sum(CASE WHEN w_back > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reciprocated,
           CAST(sum(w) AS BIGINT) AS total_weight,
           CAST(sum(w_recip) AS BIGINT) AS reciprocated_weight,
           CAST(1000000000 * sum(CASE WHEN w_back > 0 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS edge_reciprocity_ppb,
           CAST(1000000000 * sum(w_recip) // sum(w) AS BIGINT)
             AS weight_reciprocity_ppb
    FROM r
    """,
    doc="Weighted reciprocity of the directed nation trade graph (customer "
    "nation -> supplier nation): the share of edges with a reverse "
    "edge, and Squartini's weighted form sum(min(w_ij, w_ji))/sum(w) "
    "— the graph-level symmetry diagnostic that "
    "complements graph_assortativity (degree mixing) and "
    "graph_clustering_coefficient (local closure): high reciprocity "
    "means bilateral trade, low means hub-and-spoke supply flow. "
    "Edge weights aggregate once from the fact table (same keyed "
    "plan as graph_katz_centrality); the reverse lookup is a "
    "nation-cardinality self-join; ratios are non-negative integer "
    "floor-divisions. Self-loops excluded so reciprocity is not "
    "inflated by domestic trade.",
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(maybe_broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    edges = edges.persist()
    back = edges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.col("w").alias("w_back"),
    )
    r = edges.join(back, ["src", "dst"], "left").select(
        "w",
        F.coalesce(F.col("w_back"), F.lit(0)).alias("w_back"),
        F.least(
            F.col("w"), F.coalesce(F.col("w_back"), F.lit(0))
        ).alias("w_recip"),
    )
    _out = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.when(F.col("w_back") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_reciprocated"),
        F.sum("w").cast("bigint").alias("total_weight"),
        F.sum("w_recip").cast("bigint").alias("reciprocated_weight"),
        F.expr(
            "CAST(1000000000 * sum(CASE WHEN w_back > 0 THEN 1 ELSE 0 END)"
            " div count(*) AS BIGINT)"
        ).alias("edge_reciprocity_ppb"),
        F.expr(
            "CAST(1000000000 * sum(w_recip) div sum(w) AS BIGINT)"
        ).alias("weight_reciprocity_ppb"),
    )
    return release_on_gc(edges, _out)


# ---------------------------------------------------------------------------
# graph_hits_scores — weighted HITS hubs/authorities on the trade graph
# ---------------------------------------------------------------------------

HITS_ITERS = 4
HITS_SCALE = 1_000_000


def _hits_oracle() -> str:
    base = f"""
    WITH dir_edges AS MATERIALIZED (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2
    ),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM dir_edges
      UNION SELECT dst FROM dir_edges
    ),
    a0 AS (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS x FROM nodes)
    """
    for i in range(HITS_ITERS):
        base += f""",
    hr{i + 1} AS (
      SELECT n.node, CAST(coalesce(inf.s, 0) AS BIGINT) AS s
      FROM nodes n
      LEFT JOIN (
        SELECT e.src AS node, CAST(sum(e.w * a.x) AS BIGINT) AS s
        FROM dir_edges e JOIN a{i} a ON a.node = e.dst
        GROUP BY e.src
      ) inf ON inf.node = n.node
    ),
    h{i + 1} AS (
      SELECT node,
             CAST(({HITS_SCALE} * CAST(s AS HUGEINT))
                  // greatest(max(s) OVER (), 1) AS BIGINT) AS x
      FROM hr{i + 1}
    ),
    ar{i + 1} AS (
      SELECT n.node, CAST(coalesce(inf.s, 0) AS BIGINT) AS s
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(e.w * h.x) AS BIGINT) AS s
        FROM dir_edges e JOIN h{i + 1} h ON h.node = e.src
        GROUP BY e.dst
      ) inf ON inf.node = n.node
    ),
    a{i + 1} AS (
      SELECT node,
             CAST(({HITS_SCALE} * CAST(s AS HUGEINT))
                  // greatest(max(s) OVER (), 1) AS BIGINT) AS x
      FROM ar{i + 1}
    )"""
    return (
        base
        + f"""
    SELECT nt.n_name AS nation,
           h.x AS hub_fixed, a.x AS auth_fixed,
           h.x / {HITS_SCALE}.0 AS hub_score,
           a.x / {HITS_SCALE}.0 AS auth_score
    FROM h{HITS_ITERS} h
    JOIN a{HITS_ITERS} a ON a.node = h.node
    JOIN nation nt ON nt.n_nationkey = h.node
    ORDER BY hub_fixed DESC, nation
    """
    )


@register(
    "graph_hits_scores",
    oracle=_hits_oracle(),
    doc=f"Weighted HITS (Kleinberg hubs & authorities, {HITS_ITERS} fixed "
    "iterations) over the directed nation trade graph (customer nation "
    "-> supplier nation, edge weight = lineitem count): hubs are "
    "nations whose DEMAND flows to authoritative suppliers, "
    "authorities are nations whose SUPPLY serves strong demanders — "
    "the directed dual that pagerank_nations (single random-walk "
    "score) and graph_katz_centrality (undirected walk counts) cannot "
    "separate. Each half-step is the exact integer power iteration "
    "h = W*a / a = W^T*h followed by L-infinity normalization in "
    f"fixed-point micro-units: x' = ({HITS_SCALE}*s) div max(s) — "
    "normalized values stay in [0, 1e6] FOREVER, so no growth bound "
    "depends on the iteration count or graph scale, and every "
    "division is non-negative (weights are counts). The adjacency "
    "aggregates once from the fact tables (the only wide shuffle, "
    "nation-bounded output) and is collected ONCE to the driver — "
    "~600 rows, nation-domain-bounded at any data size — where the "
    f"{2 * HITS_ITERS} half-steps run as exact python-int arithmetic "
    "(the bpe_learn_merges / pagerank driver-loop recipe): an 8-half-"
    "step lazy plan costs ~8.5s of pure planning/codegen per run — a "
    "volume-independent constant the driver loop deletes — and "
    "python ints ARE the same integers both engines would produce, "
    "so bit-exactness is unchanged. The DuckDB twin unrolls the same "
    "steps as CTEs (the katz/pagerank recipe).",
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.operators.graph_common import (
        trade_edges,
    )

    # ONE wide shuffle builds the nation-bounded adjacency; ~600 rows at
    # ANY data size, so the fixed-iteration power loop runs on the driver
    # as exact python-int arithmetic (identical integers to the oracle's
    # unrolled CTEs; same recipe as bpe_learn_merges / pagerank driver
    # rounds), deleting the ~8.5s volume-independent planning cost of an
    # 8-half-step lazy plan.
    edges = [
        (r["src"], r["dst"], int(r["w"]))
        for r in trade_edges(spark, sf_dir).select("src", "dst", "w").collect()
    ]
    node_set = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})

    def _norm(raw: dict) -> dict:
        mx = max(list(raw.values()) or [0])
        return {
            n: (HITS_SCALE * raw.get(n, 0)) // max(mx, 1) for n in node_set
        }

    a = {n: HITS_SCALE for n in node_set}
    h = dict(a)
    for _ in range(HITS_ITERS):
        # hub step: h(i) = sum over out-edges i->j of w * a(j)
        raw_h: dict = {}
        for s, d, w in edges:
            raw_h[s] = raw_h.get(s, 0) + w * a.get(d, 0)
        h = _norm(raw_h)
        # authority step: a(j) = sum over in-edges i->j of w * h(i)
        raw_a: dict = {}
        for s, d, w in edges:
            raw_a[d] = raw_a.get(d, 0) + w * h.get(s, 0)
        a = _norm(raw_a)

    scores = spark.createDataFrame(
        [(int(n), int(h[n]), int(a[n])) for n in node_set],
        "node bigint, hub_fixed bigint, auth_fixed bigint",
    )
    nt = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        scores.join(F.broadcast(nt), F.col("node") == nt["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            "hub_fixed",
            "auth_fixed",
            (F.col("hub_fixed") / float(HITS_SCALE)).alias("hub_score"),
            (F.col("auth_fixed") / float(HITS_SCALE)).alias("auth_score"),
        )
        .orderBy(F.col("hub_fixed").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# graph_moran_geary — spatial autocorrelation on the trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_moran_geary",
    oracle="""
    WITH tr AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    adj AS (
      SELECT src, dst FROM tr
      UNION
      SELECT dst AS src, src AS dst FROM tr
    ),
    val AS (
      SELECT n.n_nationkey AS k,
             CAST(coalesce(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)),
                           0) AS BIGINT) AS x
      FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS sx
      FROM val
    ),
    z AS (
      SELECT v.k, t.nn * v.x - t.sx AS z, t.nn
      FROM val v CROSS JOIN tot t
    ),
    den AS (
      SELECT CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS sz2,
             CAST(max(nn) AS BIGINT) AS nn
      FROM z
    ),
    pairs AS (
      SELECT zi.z AS zi, zj.z AS zj
      FROM adj a JOIN z zi ON zi.k = a.src JOIN z zj ON zj.k = a.dst
    ),
    acc AS (
      SELECT CAST(count(*) AS BIGINT) AS w,
             CAST(sum(CAST(zi AS HUGEINT) * zj) AS HUGEINT) AS cross_sum,
             CAST(sum(CAST(zi - zj AS HUGEINT) * (zi - zj)) AS HUGEINT)
               AS diff2_sum
      FROM pairs
    )
    SELECT d.nn AS n_nations, a.w AS n_directed_pairs,
           CAST(CASE WHEN a.cross_sum >= 0
                THEN (1000000000 * d.nn * a.cross_sum)
                     // (a.w * greatest(d.sz2, 1))
                ELSE -((1000000000 * d.nn * -a.cross_sum)
                       // (a.w * greatest(d.sz2, 1))) END AS BIGINT)
             AS moran_i_ppb,
           CAST((1000000000 * (d.nn - 1) * a.diff2_sum)
                // (2 * a.w * greatest(d.sz2, 1)) AS BIGINT)
             AS geary_c_ppb
    FROM den d, acc a
    """,
    doc="Moran's I and Geary's C autocorrelation of total customer "
    "balance over the symmetrized nation trade graph (adjacency = "
    "any cross-nation lineitem flow, the graph_reciprocity edge "
    "construction): do trading partners hold SIMILAR balance mass "
    "(I > 0, C < 1) or is wealth anti-clustered across the trade "
    "network? The graph analogue of the calendar-lag "
    "agg_autocorrelation — I is the cross-product (global) form, C "
    "the squared-difference (local) form, and they disagree exactly "
    "when outlier nations dominate. n-scaled deviations z_i = N*x_i "
    "- X are exact integers; I = N*sum_ij(z_i z_j)/(W*sum z^2) and "
    "C = (N-1)*sum_ij(z_i - z_j)^2/(2W*sum z^2) are HUGEINT/DECIMAL "
    "ratios (the N^2 scale cancels), sign-split ppb floor-division "
    "for the one signed numerator. Fact work is one keyed edge "
    "rollup; everything after is bounded by the 25-nation domain "
    "(at most 600 directed pairs).",
)
def graph_moran_geary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey")
    tr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct()
    )
    adj = tr.union(
        tr.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    val = (
        F.broadcast(n)
        .join(
            c.select("c_nationkey", "c_acctbal"),
            n.n_nationkey == F.col("c_nationkey"),
            "left",
        )
        .groupBy(F.col("n_nationkey").alias("k"))
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("x")
        )
    )
    tot = val.agg(
        F.count(F.lit(1)).cast("bigint").alias("nn"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    z = val.crossJoin(F.broadcast(tot)).select(
        "k",
        (F.col("nn") * F.col("x") - F.col("sx")).alias("z"),
        "nn",
    )
    den = z.agg(
        _dsum(F.expr("CAST(z AS DECIMAL(38,0)) * z")).alias("sz2"),
        F.max("nn").cast("bigint").alias("nn"),
    )
    zi = z.select(F.col("k").alias("src"), F.col("z").alias("zi"))
    zj = z.select(F.col("k").alias("dst"), F.col("z").alias("zj"))
    pairs = adj.join(F.broadcast(zi), "src").join(F.broadcast(zj), "dst")
    acc = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        _dsum(F.expr("CAST(zi AS DECIMAL(38,0)) * zj")).alias("cross_sum"),
        _dsum(
            F.expr("CAST(zi - zj AS DECIMAL(38,0)) * (zi - zj)")
        ).alias("diff2_sum"),
    )
    return den.crossJoin(F.broadcast(acc)).select(
        F.col("nn").alias("n_nations"),
        F.col("w").alias("n_directed_pairs"),
        F.expr(
            "CAST(CASE WHEN cross_sum >= 0"
            " THEN (1000000000 * nn * cross_sum)"
            " div (w * greatest(sz2, 1))"
            " ELSE -((1000000000 * nn * -cross_sum)"
            " div (w * greatest(sz2, 1))) END AS BIGINT)"
        ).alias("moran_i_ppb"),
        F.expr(
            "CAST((1000000000 * (nn - 1) * diff2_sum)"
            " div (2 * w * greatest(sz2, 1)) AS BIGINT)"
        ).alias("geary_c_ppb"),
    )


# ---------------------------------------------------------------------------
# graph_rich_club — rich-club connectivity profile of the trade graph
# ---------------------------------------------------------------------------


@register(
    "graph_rich_club",
    oracle="""
    WITH f AS MATERIALIZED (
      -- pre-aggregate the fact join to (custkey, suppkey) BEFORE the dim
      -- joins and pin materialization: with 7 downstream CTE references,
      -- an inlined 4-table join re-evaluates per reference and spilled
      -- ~40 GB at sf0.1 (round-12 finding); this form runs in ~1 s
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
    ),
    uw AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             CAST(sum(w) AS BIGINT) AS w
      FROM tr GROUP BY 1, 2
    ),
    tw AS (
      SELECT CAST(count(*) AS BIGINT) AS cnt, CAST(sum(w) AS BIGINT) AS s
      FROM uw
    ),
    und AS (
      SELECT a, b FROM uw, tw WHERE 20 * w * tw.cnt >= 23 * tw.s
    ),
    deg AS (
      SELECT k, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS k FROM und UNION ALL SELECT b AS k FROM und)
      GROUP BY k
    ),
    ks AS (SELECT DISTINCT d AS k FROM deg WHERE d > 0),
    nk AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS n_k
      FROM ks JOIN deg ON deg.d >= ks.k
      GROUP BY ks.k
    ),
    ek AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS e_k
      FROM ks
      JOIN und ON TRUE
      JOIN deg da ON da.k = und.a
      JOIN deg db ON db.k = und.b
      WHERE da.d >= ks.k AND db.d >= ks.k
      GROUP BY ks.k
    )
    SELECT nk.k AS degree_floor, nk.n_k AS n_club_nodes,
           coalesce(ek.e_k, 0) AS n_club_edges,
           CAST((2000000000 * CAST(coalesce(ek.e_k, 0) AS HUGEINT))
                // greatest(nk.n_k * (nk.n_k - 1), 1) AS BIGINT)
             AS phi_ppb
    FROM nk LEFT JOIN ek ON ek.k = nk.k
    WHERE nk.n_k >= 2
    ORDER BY nk.k
    """,
    doc="Rich-club connectivity profile phi(k) = 2*E_k / (N_k(N_k - 1)) "
    "of the undirected nation trade graph: for each observed degree "
    "floor k, how densely interconnected are the nations of degree "
    ">= k? A rising phi(k) is the 'rich club' signature (hub nations "
    "trade preferentially with each other) that degree statistics "
    "alone (graph_assortativity summarizes mixing in ONE number) "
    "cannot localize — this is its per-level decomposition. The raw "
    "trade graph is complete at every SF (all nations trade), so the "
    "profile runs on the HEAVY-edge backbone: keep an undirected "
    "edge iff its weight is >= 1.15x the mean edge weight, decided "
    "by the EXACT integer cross-multiplication 20*w*E >= 23*S (the "
    "graph_kcore threshold made float-free). The degree-threshold "
    "grid is the set of observed backbone degrees (<= 24 values on "
    "the 25-nation graph) over the <= 300-edge undirected relation, "
    "all nation-domain-bounded, so the rollup is collected once and "
    "the whole sweep runs as exact Python integers on the driver "
    "(pagerank_nations discipline) — integer counts, one "
    "non-negative ppb floor-division per level, bit-identical to the "
    "oracle's threshold joins. Fact work is one keyed edge rollup.",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    tr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    # Everything downstream of the directed edge rollup is
    # nation-dimension-bounded (<= 625 directed / <= 300 undirected
    # rows at any fact size — a driver scalar), so the rollup is
    # collected ONCE and the whole profile — undirected fold, backbone
    # threshold, degrees, the <= 24-level club sweep — runs in exact
    # Python integer arithmetic on the driver (the pagerank_nations
    # discipline: every step is integer compare/sum; `//` on
    # non-negatives == SQL `div`). The result ships back as ONE Arrow
    # batch. Formerly each execution replayed the whole bounded-join
    # chain (tw crossJoin, two threshold joins, a left join) and the
    # un-persisted fact rollup could evaluate once per scalar branch.
    import pandas as pd
    from pyspark.sql import types as T

    agg: dict = {}
    for r in tr.collect():
        a, b = r["src"], r["dst"]
        if a > b:
            a, b = b, a
        agg[(a, b)] = agg.get((a, b), 0) + r["w"]
    cnt, s_tot = len(agg), sum(agg.values())
    und = [e for e, w in agg.items() if 20 * w * cnt >= 23 * s_tot]
    deg: dict = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    rows = []
    for k in sorted({d for d in deg.values() if d > 0}):
        n_k = sum(1 for d in deg.values() if d >= k)
        if n_k < 2:
            continue
        e_k = sum(1 for a, b in und if deg[a] >= k and deg[b] >= k)
        rows.append(
            (k, n_k, e_k, (2000000000 * e_k) // max(n_k * (n_k - 1), 1))
        )
    schema = T.StructType(
        [
            T.StructField("degree_floor", T.LongType(), True),
            T.StructField("n_club_nodes", T.LongType(), True),
            T.StructField("n_club_edges", T.LongType(), True),
            T.StructField("phi_ppb", T.LongType(), True),
        ]
    )
    pdf = pd.DataFrame(
        rows,
        columns=["degree_floor", "n_club_nodes", "n_club_edges", "phi_ppb"],
    )
    return spark.createDataFrame(pdf, schema=schema).orderBy("degree_floor")


# ---------------------------------------------------------------------------
# graph_ktruss — k-truss peeling on the heavy-edge trade backbone
# ---------------------------------------------------------------------------

TRUSS_K = 4  # every surviving edge sits in >= k-2 = 2 triangles
TRUSS_MAX_ROUNDS = 6  # peel depth bound, fixpoint-asserted on the Spark side

_TRUSS_EDGE_CTES = """
    dir_edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2
    ),
    uw AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             CAST(sum(w) AS BIGINT) AS w
      FROM dir_edges GROUP BY 1, 2
    ),
    tw AS (
      SELECT CAST(count(*) AS BIGINT) AS cnt, CAST(sum(w) AS BIGINT) AS s
      FROM uw
    ),
    e0 AS MATERIALIZED (
      SELECT a, b FROM uw, tw WHERE 20 * w * tw.cnt >= 23 * tw.s
    )
"""


def _truss_peel_ctes(rounds: int) -> tuple[str, str]:
    """Unrolled truss-peel rounds: e_i keeps the edges of e_{i-1} whose
    triangle support within e_{i-1} is >= K-2. Plain chained CTEs (the
    graph_kcore recipe — SQL disallows recursive CTEs with aggregation);
    the Spark side asserts fixpoint within the same bound."""
    parts = []
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(f"""
    adj{i} AS MATERIALIZED (
      SELECT a AS u, b AS v FROM {prev}
      UNION ALL SELECT b AS u, a AS v FROM {prev}
    ),
    sup{i} AS MATERIALIZED (
      SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS sup
      FROM {prev} e
      JOIN adj{i} x ON x.u = e.a
      JOIN adj{i} y ON y.u = e.b AND y.v = x.v
      GROUP BY e.a, e.b
    ),
    e{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM {prev} e
      JOIN sup{i} s ON s.a = e.a AND s.b = e.b
      WHERE s.sup >= {TRUSS_K - 2}
    )""")
        prev = f"e{i}"
    return ",".join(parts), prev


_TRUSS_SQL, _TRUSS_FINAL = _truss_peel_ctes(TRUSS_MAX_ROUNDS)


@register(
    "graph_ktruss",
    oracle=f"""
    WITH {_TRUSS_EDGE_CTES},{_TRUSS_SQL},
    final_sup AS (
      SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
      FROM {_TRUSS_FINAL} e
      JOIN (SELECT a AS u, b AS v FROM {_TRUSS_FINAL}
            UNION ALL SELECT b AS u, a AS v FROM {_TRUSS_FINAL}) x
        ON x.u = e.a
      JOIN (SELECT a AS u, b AS v FROM {_TRUSS_FINAL}
            UNION ALL SELECT b AS u, a AS v FROM {_TRUSS_FINAL}) y
        ON y.u = e.b AND y.v = x.v
      GROUP BY e.a, e.b
    )
    SELECT na.n_name AS nation_a, nb.n_name AS nation_b,
           f.support AS n_triangles
    FROM final_sup f
    JOIN nation na ON na.n_nationkey = f.a
    JOIN nation nb ON nb.n_nationkey = f.b
    ORDER BY nation_a, nation_b
    """,
    doc=f"k-truss (k = {TRUSS_K}) of the heavy-edge trade backbone (the "
    "graph_rich_club integer threshold, 20*w*E >= 23*S): iteratively "
    f"drop edges supported by fewer than {TRUSS_K - 2} triangles until "
    "fixpoint — the TRIANGLE-grounded dense-subgraph mining primitive "
    "that is strictly stronger than graph_kcore (every k-truss edge "
    "sits in a (k-1)-core, not vice versa) and the standard community "
    "nucleus extractor. Each round is one wedge join over the current "
    "edge relation (edge x adjacency x adjacency, all keyed hash "
    "joins — the graph_triangle_count shape, never an all-pairs "
    "product) followed by a support filter; rounds are bounded by the "
    f"peel depth, asserted <= {TRUSS_MAX_ROUNDS}. The edge set is "
    "nation-bounded, so the peel runs as exact integer set arithmetic "
    "on the driver over the once-collected backbone (support = common-"
    "neighbor count — the same wedge count). The oracle "
    "unrolls the identical peel as chained CTEs. Output: surviving "
    "truss edges as nation pairs with their final triangle support.",
)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    tr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    uw = tr.groupBy(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).agg(F.sum("w").cast("bigint").alias("w"))
    tw = uw.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("w").cast("bigint").alias("s"),
    )
    edge_df = (
        uw.crossJoin(F.broadcast(tw))
        .filter(F.expr("20 * w * cnt >= 23 * s"))
        .select("a", "b")
    )
    # The backbone edge set is nation-dimension-bounded (<= 625/2 pairs —
    # a driver scalar), so after the single corpus-proportional
    # aggregation it is collected ONCE and the whole peel runs as exact
    # integer set arithmetic on the driver (the pagerank_nations
    # discipline): support(a,b) = |nbr(a) INTERSECT nbr(b)| is the same
    # wedge count the per-round Spark joins produced, and the filter /
    # fixpoint / round-bound logic is replicated literally. Formerly
    # each round was a wedge join + eager localCheckpoint + count job.
    import pandas as pd
    from pyspark.sql import types as T

    key_t = edge_df.schema["a"].dataType
    cur = {(r["a"], r["b"]) for r in edge_df.collect()}

    def _support_py(es: set) -> dict:
        nbr: dict = {}
        for a, b in es:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        return {(a, b): len(nbr[a] & nbr[b]) for a, b in es}

    prev_n = len(cur)
    for _ in range(TRUSS_MAX_ROUNDS + 1):
        sup = _support_py(cur)
        cur = {e for e in cur if sup[e] >= TRUSS_K - 2}
        n = len(cur)
        if n == prev_n:
            break
        prev_n = n
    else:  # pragma: no cover - peel must converge within the bound
        raise AssertionError("k-truss peel exceeded TRUSS_MAX_ROUNDS")

    fsup = sorted(
        (a, b, c) for (a, b), c in _support_py(cur).items()
    )
    schema = T.StructType(
        [
            T.StructField("a", key_t, True),
            T.StructField("b", key_t, True),
            T.StructField("sup", T.LongType(), True),
        ]
    )
    final_sup = spark.createDataFrame(
        pd.DataFrame(fsup, columns=["a", "b", "sup"]), schema=schema
    )
    na = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("a"), F.col("n_name").alias("nation_a")
    )
    nb = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("b"), F.col("n_name").alias("nation_b")
    )
    return (
        final_sup.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .select("nation_a", "nation_b", F.col("sup").alias("n_triangles"))
        .orderBy("nation_a", "nation_b")
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
