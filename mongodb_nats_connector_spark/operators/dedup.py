"""Deduplication operators for large-scale training-data pipelines.

Exact dedup is a hash group-by (one shuffle on the content hash). Near-dup
detection is MinHash+LSH: shingle -> K-permutation minhash signature -> band
keys -> candidate pairs from the band-key buckets -> exact Jaccard
verification of the (small) candidate set. At 100 TB the band aggregation is
the only shuffle that touches all documents, and it shuffles just
(doc_id, band_key bigint) — 16 bytes per band, not text. SimHash follows the same
candidate-join shape with bit-chunk pigeonholing.

Base hashing is JVM-side (xxhash64 as a SQL expression); the dense per-doc
signature math (minhash permutation-min, simhash bit votes) runs as
Arrow-batched numpy — one matrix op per batch, never Python per row.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions import texthash
from mongodb_nats_connector_spark.functions.texthash import (
    band_keys,
    capped_members,
    expand_bucket_pairs,
    hashed_word_shingles,
    minhash_signature,
    simhash_signature,
)
from mongodb_nats_connector_spark.plans.caching import persist_until_collected
from mongodb_nats_connector_spark.plans.hints import (
    counted_fits_broadcast,
    maybe_broadcast,
)
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


JACCARD_THRESHOLD = 0.7

# Exact word-3-gram Jaccard >= 0.7 over documents: the DuckDB formulation used
# as the oracle both for the exact operator and for MinHash-LSH (whose
# candidates are exactly verified; miss probability <= 2e-5 at the threshold,
# ~1e-11 at the j>=0.9 pairs present in the data).
_JACCARD_ORACLE = """
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2] || ' ' ||
                    string_split(text, ' ')[i+3])) AS sh
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), u AS (
      SELECT doc_id, unnest(sh) AS s FROM d
    ), n AS (
      SELECT doc_id, count(*) AS ns FROM u GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (x.ns + y.ns - inter), 4) AS jaccard
    FROM pairs JOIN n x ON doc_a = x.doc_id JOIN n y ON doc_b = y.doc_id
    WHERE inter * 1.0 / (x.ns + y.ns - inter) >= 0.7
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_copies,
           CAST(length(text) AS BIGINT) AS text_len
    FROM documents GROUP BY text
    """,
    doc="Exact dedup: group by full content, keep the smallest doc_id as "
    "canonical. One shuffle on the text (at scale: on its hash).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.length("text").cast("bigint").alias("text_len"),
    ).drop("text")


@register(
    "dedup_exact_hash",
    oracle="""
    SELECT sha256(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY content_hash
    """,
    doc="Exact dedup on a SHA-256 content hash — the 100 TB formulation: the "
    "shuffle key is 32 bytes regardless of document size.",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn("content_hash", F.sha2("text", 256))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# one persisted copy per (session, sf_dir): repeated dedup_minhash_lsh calls
# (oracle suite, bench) reuse the same cache entry instead of stacking leaks.
# Keyed weakly on the session OBJECT (not id(): a stopped session's id can be
# reused by a new one, which would hand out a DataFrame bound to a dead JVM).
_HASHED_SETS_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _hashed_shingle_sets_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_session = _HASHED_SETS_CACHE.setdefault(spark, {})
    df = per_session.get(sf_dir)
    if df is None:
        df = per_session[sf_dir] = _hashed_shingle_sets(spark, sf_dir).persist()
    return df


def _hashed_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h64: array<bigint>) — distinct shingles as raw xxhash64.

    The 8-byte hash replaces the shingle string everywhere downstream
    (signatures, candidate verification), so no string ever shuffles and the
    per-doc set relation is ~25x smaller than the text. Collisions only
    matter within one candidate pair's union (~100 shingles): p ~ 1e-16 at
    64 bits. Reference parity: this is the connector's 'hash once, route by
    key' discipline (internal/nats/client.go:124) applied to shingles.

    Hashes come straight off the word tuple (``hashed_word_shingles``) —
    the n-gram string is never materialized, which halves this stage's cost
    (it dominates the whole LSH pipeline's runtime).
    """
    docs = table(spark, sf_dir, "documents", parallel=True)
    words = F.split("text", " ")
    return (
        docs.withColumn("words", words)
        .filter(F.size("words") >= 3)
        .select("doc_id", hashed_word_shingles(F.col("words")).alias("h64"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    doc="Exact n-gram Jaccard near-dup pairs (threshold 0.7): explode "
    "shingles, equi-join on shingle, count intersections, Jaccard = "
    "|A∩B| / (|A|+|B|-|A∩B|). The all-pairs-sharing-a-shingle join is "
    "quadratic in the worst case — dedup_minhash_lsh is the scale path; "
    "this is the correctness baseline.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Join on the 8-byte shingle hash, not the string: same pairs w.h.p.
    # (64-bit collisions), ~4x less shuffle volume, and the shingle relation
    # comes from the same persisted cache MinHash uses.
    sets = _hashed_shingle_sets_cached(spark, sf_dir)
    sh = sets.select("doc_id", F.explode("h64").alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(maybe_broadcast(na), "doc_a")
        .join(maybe_broadcast(nb), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_minhash_lsh",
    oracle=_JACCARD_ORACLE,
    doc="MinHash + LSH near-dup detection: 32 affine-permutation minhashes "
    "over xxhash64 shingle hashes -> 16 bands x 2 rows -> candidate pairs "
    "from the band-key equi-join -> exact Jaccard verification. Only "
    "signatures shuffle; candidates (not all pairs) are verified. Oracle is "
    "the exact >=0.7 pair set, which LSH+verify reproduces w.h.p.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signatures are per-document: shingle + hash row-wise (zero shuffle),
    # numpy-vectorized minhash (functions/texthash.py), band keys row-wise.
    # The hashed set relation is used THREE times (signature input + both
    # sides of candidate verification): persist it (memoized per session +
    # sf_dir) so the text scan + shingling runs once. It is tiny relative to
    # the corpus (~16 B/shingle); at 100 TB the same role is played by
    # materializing it as a bucketed table once per corpus snapshot.
    sets = _hashed_shingle_sets_cached(spark, sf_dir)
    sigs = sets.select("doc_id", minhash_signature(F.col("h64")).alias("mh"))
    bands = band_keys(sigs)
    # ONE aggregation per band bucket (instead of a self-join that would
    # recompute the signature subtree twice): collect bucket members (capped
    # at MAX_BUCKET_MEMBERS against degenerate mega-buckets), then stream
    # the in-bucket pairs through chained generators — bounded per-task
    # memory even when every doc shares a band key.
    buckets = (
        bands.groupBy("band_key")
        .agg(capped_members(F.col("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    candidates = (
        expand_bucket_pairs(
            buckets, "ids", lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
        )
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    # Exact verification of the (small) candidate set via hashed-set overlap.
    # Both joins keep the candidate-sized relation on the broadcast side:
    # first the bare pair list, then the pairs-with-h_a result — so the
    # corpus-sized set relation is never shuffled OR broadcast, at any scale.
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("h64").alias("h_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("h64").alias("h_b"))
    inter = F.size(F.array_intersect("h_a", "h_b"))
    union = F.size(F.array_union("h_a", "h_b"))
    jac = inter / union
    cand_with_a = sa.join(maybe_broadcast(candidates), "doc_a")
    return (
        sb.join(maybe_broadcast(cand_with_a), "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_SIMHASH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(list_distinct(string_split(text, ' ')), t -> t <> '') AS ts
      FROM documents
    ), th AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS BIGINT) AS h
      FROM toks, LATERAL (SELECT unnest(ts) AS t)
      WHERE len(ts) > 0
    ), votes AS (
      SELECT doc_id, bit,
             sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, LATERAL (SELECT unnest(range({{bits}})) AS bit)
      GROUP BY doc_id, bit
    ), sigs AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ), chunks AS (
      SELECT doc_id, simhash, c AS chunk_id,
             (simhash >> ({{cb}} * c)) & {{mask}} AS chunk_val
      FROM sigs, LATERAL (SELECT unnest(range({{chunks}})) AS c)
    ), capped AS (
      -- mirror the Spark side's MAX_BUCKET_MEMBERS mega-bucket guard
      -- (functions/texthash.py): sort_array(collect_set(struct(doc_id,
      -- simhash))) sliced to the cap keeps the lexicographically-lowest
      -- members per (chunk_id, chunk_val); row_number over the same order
      -- is the SQL equivalent, applied to BOTH join sides.
      SELECT doc_id, simhash, chunk_id, chunk_val,
             row_number() OVER (PARTITION BY chunk_id, chunk_val
                                ORDER BY doc_id, simhash) AS rn
      FROM chunks
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM capped a
    JOIN capped b ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
                 AND a.doc_id < b.doc_id
    WHERE a.rn <= {{cap}} AND b.rn <= {{cap}}
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """.format(
    bits=texthash.SIMHASH_BITS,
    chunks=texthash.SIMHASH_CHUNKS,
    cb=texthash.SIMHASH_CHUNK_BITS,
    mask=(1 << texthash.SIMHASH_CHUNK_BITS) - 1,
    cap=texthash.MAX_BUCKET_MEMBERS,
)


@register(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    doc="SimHash near-dup: 60-bit signature from per-token hash-bit votes; "
    "candidate pairs via 4x15-bit chunk pigeonholing (hamming<=3 implies an "
    "equal chunk), verified with bit_count(xor). Same scalable "
    "candidate-join shape as MinHash-LSH. The base token hash is the first "
    "15 md5 hex chars as int64 — identical in Spark and DuckDB, so the "
    "whole approximate pipeline (votes, signature, pigeonhole, Hamming "
    "verify) is hash-verified end-to-end, not just executed. The oracle "
    "mirrors MAX_BUCKET_MEMBERS (row_number <= cap per chunk bucket on both "
    "join sides), so parity holds even at SFs where buckets hit the cap.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    # distinct token hashes per row (JVM-side), signature per row in one
    # Arrow batch — signatures cost ZERO shuffle (the exploded-vote
    # formulation shuffled every token through a per-bit aggregate)
    toks = docs.select(
        "doc_id",
        F.transform(
            F.filter(F.array_distinct(F.split("text", " ")), lambda t: t != ""),
            lambda t: F.conv(F.substring(F.md5(F.encode(t, "utf-8")), 1, 15), 16, 10)
            .cast("bigint"),
        ).alias("th"),
    ).filter(F.size("th") > 0)
    sigs = toks.select("doc_id", simhash_signature(F.col("th")).alias("simhash"))
    chunk_mask = (1 << texthash.SIMHASH_CHUNK_BITS) - 1
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(
                        F.col("simhash"), texthash.SIMHASH_CHUNK_BITS * c
                    ).bitwiseAND(F.lit(chunk_mask))
                    for c in range(texthash.SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    # ONE aggregation per (chunk, value) bucket instead of a self-join that
    # would recompute the signature subtree twice — the same capped,
    # streamed bucket-pair shape as dedup_minhash_lsh. Members carry
    # (doc_id, simhash); struct sort orders by doc_id, so sliced pairs are
    # already doc_a < doc_b.
    buckets = (
        chunks.groupBy("chunk_id", "chunk_val")
        .agg(capped_members(F.struct("doc_id", "simhash")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = expand_bucket_pairs(
        buckets,
        "ms",
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
        ),
    )
    return (
        pairs.select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# shared CTE text, layered so dependent oracles reuse exactly one
# definition: _SHINGLE_CTE = per-doc distinct word-3-gram sets (d), the
# exploded gram relation (u), and per-doc set sizes (n); _PAIRS_CTE adds
# the exact >=0.7-Jaccard pair set on top (same arithmetic as
# _JACCARD_ORACLE, stripped to the pair projection).
_SHINGLE_CTE = """
    d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2] || ' ' ||
                    string_split(text, ' ')[i+3])) AS sh
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), u AS (
      SELECT doc_id, unnest(sh) AS s FROM d
    ), n AS (
      SELECT doc_id, count(*) AS ns FROM u GROUP BY doc_id
    )
"""

_PAIRS_CTE = _SHINGLE_CTE + """
    , rawpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), simpairs AS (
      SELECT doc_a, doc_b
      FROM rawpairs JOIN n x ON doc_a = x.doc_id JOIN n y ON doc_b = y.doc_id
      WHERE inter * 1.0 / (x.ns + y.ns - inter) >= 0.7
    )
"""

CC_MAX_ITERS = 15


@register(
    "dedup_clusters",
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
    doc="Near-duplicate CLUSTERING: connected components over the verified "
    ">=0.7-Jaccard pair graph, labeling every document with its cluster's "
    "minimum doc_id and flagging the canonical keeper — the step that turns "
    "pairwise dedup into an actual drop list. When the materialized edge "
    "count proves the edge list broadcast-sized, the components fixpoint "
    "runs ONCE on the driver as exact integer union-find (min doc_id per "
    "component — identical to what min-label propagation converges to) "
    "and the corpus is labeled by a single broadcast map join. Above the "
    "threshold, iterative min-label propagation executes instead: per "
    "round the edge list joins the labels (corpus-sized relation never "
    "collected), convergence asserted within a bounded round count — "
    "which at 100 TB with a huge edge list becomes the alternating "
    "large-star/small-star CC (Kiveris et al.) on hash-partitioned joins, "
    "same fixpoint, logarithmic rounds. Oracle is a true recursive-CTE "
    "reachability closure over the same pair set.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # near-dup edge lists are a vanishing fraction of the corpus: persist the
    # verified pairs once, broadcast them every round. The hint is decided
    # ONCE from the materialized count (the static estimate inherits the
    # corpus scale through the LSH lineage and would wrongly decline);
    # above-threshold edge sets fall back to hash joins — the
    # large-star/small-star regime documented below.
    edges = edges.persist()
    fits = counted_fits_broadcast(edges, row_bytes=32)
    if fits:
        # The count just proved the edge list is broadcast-sized, i.e.
        # small enough to ship to every executor — so it is small enough
        # to ship to the driver ONCE and run the connected-components
        # fixpoint as exact integer union-find there (min doc_id per
        # component == what min-label propagation converges to), instead
        # of paying N Spark rounds of broadcast join + convergence count.
        # The distributed piece stays exactly the data-proportional part:
        # one broadcast map join labeling the corpus. Above the threshold
        # the iterative min-label loop below remains the executed path
        # (at 100 TB with a huge edge list: large-star/small-star).
        parent: dict = {}

        def _find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            a, b = row["src"], row["dst"]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = _find(a), _find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for node in parent:
            r = _find(node)
            if r not in comp_min or node < comp_min[r]:
                comp_min[r] = node
        edges.unpersist()
        label_rows = [
            (int(node), int(comp_min[_find(node)])) for node in parent
        ]
        lmap = spark.createDataFrame(
            label_rows, "doc_id bigint, _cc_label bigint"
        )
        labeled = (
            table(spark, sf_dir, "documents")
            .select("doc_id")
            .join(F.broadcast(lmap), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("_cc_label"), F.col("doc_id")).alias(
                    "label"
                ),
            )
        )
        return labeled.select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            (F.col("doc_id") == F.col("label"))
            .cast("bigint")
            .alias("is_canonical"),
        )
    edges_hinted = edges

    labels = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("doc_id").alias("label")
    )
    prev = None
    for _ in range(CC_MAX_ITERS):
        nbr = (
            edges_hinted
            .join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(maybe_broadcast(nbr), labels["doc_id"] == nbr["src"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("chg"),
            )
            .persist()
        )
        changed = stepped.filter(F.col("chg")).count()
        if prev is not None:
            prev.unpersist()
        prev = stepped
        labels = stepped.select("doc_id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ITERS} rounds"
        )
    edges.unpersist()
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).cast("bigint").alias("is_canonical"),
    )


@register(
    "dedup_url_canonical",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.Example.com/Page/'
               || CAST(doc_id % 50 AS VARCHAR)
               || '?utm_source=feed&id=' || CAST(doc_id % 3 AS VARCHAR) AS url
      FROM documents
    ), canon AS (
      SELECT doc_id, url,
             lower(regexp_replace(url, '\\?.*$', '')) AS canonical_url
      FROM urls
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_dupes,
           min(doc_id) AS keeper_doc_id
    FROM canon GROUP BY canonical_url
    """,
    doc="URL-canonicalization dedup — the crawl-pipeline pass that collapses "
    "tracking-parameter and case variants of one page: strip the query "
    "string, lowercase, group by canonical form keeping the lowest doc_id. "
    "(URLs are synthesized deterministically from doc_id/source since the "
    "corpus has no URL column; the canonicalization and grouping are the "
    "real operator.) One group-by on the canonical string — at 100 TB the "
    "key becomes xxhash64(canonical) exactly like dedup_exact_hash.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".Example.com/Page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 3).cast("string"),
    )
    canonical = F.lower(F.regexp_replace(url, r"\?.*$", ""))
    return (
        docs.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dupes"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


@register(
    "contamination_ngram_overlap",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2] || ' ' ||
                    string_split(text, ' ')[i+3])) AS sh
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), u AS (
      SELECT doc_id, unnest(sh) AS s FROM d
    ), test_grams AS (
      SELECT doc_id, s FROM u WHERE doc_id % 50 = 0
    ), train_grams AS (
      SELECT DISTINCT s FROM u WHERE doc_id % 50 <> 0
    ), hits AS (
      SELECT t.doc_id, count(*) AS n_hit
      FROM test_grams t JOIN train_grams tr ON t.s = tr.s
      GROUP BY t.doc_id
    ), totals AS (
      SELECT doc_id, count(*) AS n_grams FROM test_grams GROUP BY doc_id
    )
    SELECT totals.doc_id,
           CAST(totals.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_in_train,
           round(coalesce(hits.n_hit, 0) * 1.0 / totals.n_grams, 4)
             AS contamination,
           CAST(CASE WHEN coalesce(hits.n_hit, 0) * 1.0 / totals.n_grams
                          >= 0.8 THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM totals LEFT JOIN hits ON totals.doc_id = hits.doc_id
    """,
    doc="Train/test contamination check: for each held-out document "
    "(doc_id %% 50 == 0 plays the eval set), the fraction of its distinct "
    "word-3-grams that appear anywhere in the training split — the overlap "
    "audit run before reporting eval numbers. Gram sets come from the same "
    "persisted hashed-shingle relation MinHash uses (8-byte keys, not "
    "strings); the eval side is tiny by construction so its gram list "
    "broadcasts, and the train side only ever shuffles (gram_hash) for "
    "the distinct — the 100 TB shape.",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = _hashed_shingle_sets_cached(spark, sf_dir)
    grams = sets.select("doc_id", F.explode("h64").alias("s"))
    test_g = grams.filter(F.col("doc_id") % 50 == 0)
    train_g = grams.filter(F.col("doc_id") % 50 != 0).select("s").distinct()
    hits = (
        train_g.join(maybe_broadcast(test_g), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    totals = test_g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    contamination = F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_grams")
    return totals.join(maybe_broadcast(hits), "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_in_train"),
        F.round(contamination, 4).alias("contamination"),
        (contamination >= 0.8).cast("bigint").alias("flagged"),
    )


CONTAINMENT_THRESHOLD = 0.9


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SHINGLE_CTE}, rawpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM u a JOIN u b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(inter * 1.0 / x.ns, 4) AS containment
    FROM rawpairs JOIN n x ON doc_a = x.doc_id
    WHERE inter * 1.0 / x.ns >= {CONTAINMENT_THRESHOLD}
    """,
    doc="Asymmetric CONTAINMENT pairs: |A n B| / |A| >= 0.9 — catches a "
    "short document quoted inside a longer one, which symmetric Jaccard "
    "misses (the union washes it out). Ordered pairs (doc_a contained in "
    "doc_b). Same hashed-shingle join as the Jaccard baseline: documented "
    "quadratic-candidate correctness oracle; the scale path reuses the LSH "
    "bucketing with per-side set sizes.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = _hashed_shingle_sets_cached(spark, sf_dir)
    sh = sets.select("doc_id", F.explode("h64").alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("ns"))
    containment = F.col("inter") / F.col("ns")
    return (
        inter.join(maybe_broadcast(na), "doc_a")
        .filter(containment >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", F.round(containment, 4).alias("containment"))
    )


@register(
    "dedup_survivorship_report",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTE},
    cedges AS (
      SELECT doc_a AS src, doc_b AS dst FROM simpairs
      UNION ALL
      SELECT doc_b, doc_a FROM simpairs
    ),
    reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.dst FROM reach r JOIN cedges e ON r.v = e.src
    ),
    clusters AS (
      SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS docs_total,
           CAST(sum(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_kept,
           CAST(sum(CASE WHEN c.doc_id <> c.cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_dropped,
           CAST(sum(CASE WHEN c.doc_id <> c.cluster_id THEN d.n_chars
                         ELSE 0 END) AS BIGINT) AS chars_saved
    FROM clusters c JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
    doc="Dedup SURVIVORSHIP report: joins the connected-component cluster "
    "labels (dedup_clusters' canonical-keeper rule — min doc_id survives) "
    "back to the corpus and accounts per source: documents kept vs dropped "
    "and the bytes the drop list saves. This is the deliverable a curation "
    "run actually ships — the drop list's impact statement — and it "
    "composes the whole dedup chain (MinHash-LSH candidates -> exact "
    "verify -> clustering -> survivorship) into one verified query. Costs "
    "one extra source-keyed aggregation over the node-sized label "
    "relation; everything upstream is the already-cached cluster "
    "computation.",
)
def dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    dropped = F.col("doc_id") != F.col("cluster_id")
    return (
        labels.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_total"),
            F.sum((~dropped).cast("int")).cast("bigint").alias("docs_kept"),
            F.sum(dropped.cast("int")).cast("bigint").alias("docs_dropped"),
            F.sum(F.when(dropped, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("chars_saved"),
        )
    )


PREFIX_K = 8


@register(
    "dedup_prefix_boilerplate",
    oracle=f"""
    WITH pre AS (
      SELECT doc_id,
             md5(array_to_string(string_split(text, ' ')[1:{PREFIX_K}], ' '))
               AS prefix_hash
      FROM documents
    ),
    clusters AS (
      SELECT prefix_hash, CAST(count(*) AS BIGINT) AS cluster_size,
             CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
      FROM pre GROUP BY prefix_hash
      HAVING count(*) > 1
    )
    SELECT p.doc_id, p.prefix_hash, c.cluster_size, c.canonical_doc_id,
           p.doc_id = c.canonical_doc_id AS is_canonical
    FROM pre p JOIN clusters c USING (prefix_hash)
    """,
    doc=f"Boilerplate-prefix duplicate detection: documents sharing their "
    f"first {PREFIX_K} tokens (template headers, wire-copy lead paragraphs) "
    "cluster on an md5 of the prefix — catches near-dups whose tails "
    "diverge, which whole-document exact dedup misses and MinHash may "
    "under-score. One shuffle on the 16-byte hash; the >1-member filter "
    "happens in the same aggregation. Keep-rule: smallest doc_id is "
    "canonical.",
)
def dedup_prefix_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    pre = docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(F.split("text", " "), 1, PREFIX_K), " ")
        ).alias("prefix_hash"),
    )
    clusters = (
        pre.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
        )
        .filter(F.col("cluster_size") > 1)
    )
    return persist_until_collected(
        pre,
        pre.join(clusters, "prefix_hash").select(
            "doc_id",
            "prefix_hash",
            "cluster_size",
            "canonical_doc_id",
            (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"),
        ),
    )


# ---------------------------------------------------------------------------
# dedup_embedding_cosine — LSH-bucketed semantic near-duplicate pairs
# ---------------------------------------------------------------------------


# deterministic per-(table, bucket) membership cap — same defense as the
# text-LSH MAX_BUCKET_MEMBERS: a degenerate cell (e.g. near-zero vectors all
# hashing to one signature) otherwise expands quadratically. Truncation is
# by vec_id, so both engines drop the identical members.
EMB_BUCKET_CAP = 1024


def _emb_dedup_oracle() -> str:
    from mongodb_nats_connector_spark.operators.similarity import (
        HYPERPLANES,
        NEARDUP_COS,
        _L_TABLES,
        _N_BITS,
    )

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
    buckets0 AS (
      SELECT e.vec_id, p.tbl,
             CAST(sum(CASE WHEN list_sum(list_transform(list_zip(e.v, p.h),
                                 x -> x[1] * x[2])) > 0
                           THEN (1 << p.bit) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes p
      GROUP BY e.vec_id, p.tbl
    ),
    buckets AS (
      SELECT vec_id, tbl, bucket FROM (
        SELECT vec_id, tbl, bucket,
               row_number() OVER (PARTITION BY tbl, bucket
                                  ORDER BY vec_id) AS rn
        FROM buckets0
      ) WHERE rn <= {EMB_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
    WHERE NOT isnan(list_cosine_similarity(ea.v, eb.v))
      AND round(list_cosine_similarity(ea.v, eb.v), 6) >= {NEARDUP_COS}
    """


@register(
    "dedup_embedding_cosine",
    oracle=_emb_dedup_oracle(),
    doc="Embedding-cosine near-duplicate pairs, LSH-bucketed (the SCALE "
    "path for similarity_neardup_pairs' quadratic baseline): vectors are "
    "sign-hashed into 10x8-bit buckets by the same seeded hyperplanes as "
    "similarity_ann_lsh, candidate pairs are generated only WITHIN a "
    "(table, bucket) cell, then verified with an exact cosine at the "
    "threshold. Only (vec_id, tbl, bucket) triples shuffle — never the "
    "vectors, which re-join by id for the verify step; the candidate "
    "volume tracks true duplicate density, not n², and a deterministic "
    f"per-cell membership cap ({EMB_BUCKET_CAP}, truncated by vec_id — the "
    "same defense as the text-LSH bucket cap) bounds the worst degenerate "
    "cell. The oracle replays the hyperplanes AND the cap as SQL literals, "
    "so the approximate index is itself hash-verified. Every emitted pair is exact-verified (precision 1.0, "
    "asserted as a subset of the quadratic baseline); recall is the "
    "standard sign-LSH amplification curve — >=0.95 for true near-dups "
    "(cos >= 0.95, asserted on planted duplicates in tests/test_round6.py) "
    "while the synthetic corpus's max pair similarity of ~0.5 sits in the "
    "regime the bucketing intentionally prunes.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.functions.vectors import cosine_fast
    from mongodb_nats_connector_spark.operators.similarity import (
        NEARDUP_COS,
        _bucket_udf,
        _emb,
    )

    e = _emb(spark, sf_dir)
    buckets = e.select(
        "vec_id", F.posexplode(_bucket_udf(F.col("v"))).alias("tbl", "bucket")
    )
    cap_w = Window.partitionBy("tbl", "bucket").orderBy("vec_id")
    buckets = (
        buckets.withColumn("rn", F.row_number().over(cap_w))
        .filter(F.col("rn") <= EMB_BUCKET_CAP)
        .drop("rn")
    )
    a = buckets.select(
        F.col("vec_id").alias("vec_a"), F.col("tbl"), F.col("bucket")
    )
    b = buckets.select(
        F.col("vec_id").alias("vec_b"), F.col("tbl"), F.col("bucket")
    )
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine_fast(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        # NaN (zero-norm/degenerate vectors) compares greater-than in both
        # engines' float ordering — guard explicitly or garbage pairs leak
        .filter(~F.isnan(F.col("cos_sim")) & (F.col("cos_sim") >= NEARDUP_COS))
    )
