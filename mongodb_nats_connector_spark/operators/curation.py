"""Training-corpus curation operators: reproducible sampling/splits and the
composed filter→dedup pipeline a pre-training data flow runs end-to-end.

Sampling and split assignment are DETERMINISTIC (hash of a salted doc_id, no
RNG): re-running on any cluster size, partition layout, or engine yields the
same assignment — the property training pipelines actually need from a
sampler, and the reason this is not `df.sample()` (whose output depends on
partitioning). Comparison across engines uses the md5 hex prefix ordered
lexicographically, which is identical in Spark and DuckDB without any
hex->int conversion.

The curation pipeline composes the text-quality heuristics (operators/text.py)
with exact dedup (operators/dedup.py semantics): language/length/punctuation/
quality filters, then one group-by on the full text keeping the smallest
doc_id. At 100 TB the group-by key becomes the sha256 of the text (see
dedup_exact_hash) — the filters are map-only and cost no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.operators.text import QUALITY_STOPWORDS
from mongodb_nats_connector_spark.plans.caching import persist_until_collected
from mongodb_nats_connector_spark.plans.hints import maybe_broadcast
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


SALT = "split-v1:"
# md5-hex 4-char prefixes, compared lexicographically: 'cccc' =~ 80%,
# 'e666' =~ 90%, '1999' =~ 10% of the uniform hash space
TRAIN_UB, VAL_UB, SAMPLE_UB = "cccc", "e666", "1999"


@register(
    "sample_hash_split",
    oracle=f"""
    SELECT doc_id,
           substr(md5('{SALT}' || CAST(doc_id AS VARCHAR)), 1, 4) AS hash_prefix,
           CASE WHEN substr(md5('{SALT}' || CAST(doc_id AS VARCHAR)), 1, 4) < '{TRAIN_UB}'
                  THEN 'train'
                WHEN substr(md5('{SALT}' || CAST(doc_id AS VARCHAR)), 1, 4) < '{VAL_UB}'
                  THEN 'val'
                ELSE 'test' END AS split,
           CAST(CASE WHEN substr(md5('{SALT}' || CAST(doc_id AS VARCHAR)), 1, 4)
                          < '{SAMPLE_UB}' THEN 1 ELSE 0 END AS BIGINT) AS in_10pct_sample
    FROM documents
    """,
    doc="Deterministic train/val/test split (80/10/10) + reproducible 10% "
    "subsample, assigned by salted md5 of the doc id. Pure projection — "
    "map-only at any scale; stable under repartitioning (unlike "
    "df.sample()).",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h4 = F.substring(
        F.md5(F.encode(F.concat(F.lit(SALT), F.col("doc_id").cast("string")), "utf-8")),
        1,
        4,
    )
    split = (
        F.when(h4 < TRAIN_UB, "train").when(h4 < VAL_UB, "val").otherwise("test")
    )
    return docs.select(
        "doc_id",
        h4.alias("hash_prefix"),
        split.alias("split"),
        (h4 < SAMPLE_UB).cast("bigint").alias("in_10pct_sample"),
    )


@register(
    "curate_training_set",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
               / length(text) AS punct_ratio,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({QUALITY_STOPWORDS!r}, lower(w)))) * 1.0
               / len(string_split(text, ' ')) AS stopword_ratio
      FROM documents
    ), filtered AS (
      SELECT * FROM scored
      WHERE n_words >= 10 AND punct_ratio <= 0.2 AND stopword_ratio >= 0.05
    )
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
           CAST(min(n_words) AS BIGINT) AS n_words,
           round(min(stopword_ratio), 4) AS stopword_ratio,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM filtered GROUP BY text
    """,
    doc="End-to-end corpus curation: C4/Gopher-style filters (min length, "
    "max punctuation ratio, min stopword ratio — all map-only column "
    "expressions) then exact dedup keeping the smallest doc_id. The only "
    "shuffle is the final dedup group-by (on sha256 of the text at 100 TB, "
    "see dedup_exact_hash).",
)
def curate_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in QUALITY_STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
    scored = docs.select(
        "doc_id",
        "text",
        F.size(words).cast("bigint").alias("n_words"),
        (
            F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")) / F.length("text")
        ).alias("punct_ratio"),
        (n_stop / F.size(words)).alias("stopword_ratio"),
    )
    filtered = scored.filter(
        (F.col("n_words") >= 10)
        & (F.col("punct_ratio") <= 0.2)
        & (F.col("stopword_ratio") >= 0.05)
    )
    return filtered.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("n_words").alias("n_words"),
        F.round(F.min("stopword_ratio"), 4).alias("stopword_ratio"),
        F.count(F.lit(1)).alias("n_copies"),
    ).drop("text")


# ---------------------------------------------------------------------------
# Round 3: stratified sampling, dataset mixing, sequence packing
# ---------------------------------------------------------------------------

STRAT_SALT = "strat-v1:"
STRAT_QUOTA = 20  # docs kept per language stratum

MIX_SALT = "mix-v1:"
# relative mixing weights by source (training-mixture recipe): src0 is
# upsampled 3x, src1/src2 2x, everything else 1x
MIX_WEIGHT_SQL = (
    "CASE WHEN source = 'src0' THEN 3 "
    "WHEN source IN ('src1', 'src2') THEN 2 ELSE 1 END"
)

PACK_BUDGET = 256  # tokens per packed training sequence


def _hash8(col):
    """Salted md5 hex prefix — the deterministic, engine-portable rank key."""
    return F.substring(
        F.md5(F.encode(F.concat(F.lit(MIX_SALT), col.cast("string")), "utf-8")), 1, 8
    )


@register(
    "sample_stratified",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substr(md5('{STRAT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8),
                        doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS sel_rank
    FROM r WHERE rn <= {STRAT_QUOTA}
    """,
    doc=f"Stratified sampling: exactly {STRAT_QUOTA} documents per language, "
    "chosen by salted-hash rank — deterministic across engines, cluster "
    "sizes and partition layouts (df.sample() is none of those). One "
    "window shuffle keyed by the stratum; with millions of strata this is "
    "a plain hash shuffle, and for few-strata/huge-corpus cases the scale "
    "path is hash-threshold selection (accept h < quantile estimate) "
    "which needs no per-stratum total order.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(
            F.encode(
                F.concat(F.lit(STRAT_SALT), F.col("doc_id").cast("string")), "utf-8"
            )
        ),
        1,
        8,
    )
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= STRAT_QUOTA)
        .select("doc_id", "lang", F.col("rn").cast("bigint").alias("sel_rank"))
    )


@register(
    "curate_dataset_mix",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             substr(md5('{MIX_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8) AS h,
             {MIX_WEIGHT_SQL} AS wt
      FROM documents
    ), q AS (
      SELECT source, max(wt) AS wt, count(*) AS n FROM d GROUP BY source
    ), u AS (
      SELECT min(CAST(floor(n * 1.0 / wt) AS BIGINT)) AS units FROM q
    ), r AS (
      SELECT doc_id, source, wt,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
      FROM d
    )
    SELECT r.doc_id, r.source,
           CAST(r.rn AS BIGINT) AS sel_rank,
           CAST(r.wt * u.units AS BIGINT) AS quota
    FROM r, u WHERE r.rn <= r.wt * u.units
    """,
    doc="Dataset mixing: select a maximal corpus with sources in exact "
    "3:2:2:1... ratio (the domain-reweighting step of pre-training data "
    "prep). Per-source doc counts set the achievable units "
    "(min over floor(n_s/w_s)); each source contributes w_s*units docs "
    "chosen by salted-hash rank. The counts aggregate is tiny and "
    "broadcast; the only data-sized shuffle is the per-source ranking "
    "window, whose scale path is the same hash-threshold trick as "
    "stratified sampling.",
)
def curate_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    wt = (
        F.when(F.col("source") == "src0", 3)
        .when(F.col("source").isin("src1", "src2"), 2)
        .otherwise(1)
    )
    d = docs.select("doc_id", "source", _hash8(F.col("doc_id")).alias("h"), wt.alias("wt"))
    units = (
        d.groupBy("source")
        .agg(F.max("wt").alias("wt"), F.count(F.lit(1)).alias("n"))
        .select(
            F.min(F.floor(F.col("n") / F.col("wt")).cast("bigint")).alias("units")
        )
    )
    w = Window.partitionBy("source").orderBy(F.asc("h"), F.asc("doc_id"))
    r = d.select("doc_id", "source", "wt", F.row_number().over(w).alias("rn"))
    return (
        r.crossJoin(F.broadcast(units))
        .filter(F.col("rn") <= F.col("wt") * F.col("units"))
        .select(
            "doc_id",
            "source",
            F.col("rn").cast("bigint").alias("sel_rank"),
            (F.col("wt") * F.col("units")).cast("bigint").alias("quota"),
        )
    )


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor((cum - n_tokens) * 1.0 / {PACK_BUDGET}) AS BIGINT) AS bin_id,
           CAST(cum - n_tokens
                - floor((cum - n_tokens) * 1.0 / {PACK_BUDGET}) * {PACK_BUDGET}
                AS BIGINT) AS bin_offset
    FROM c
    """,
    doc=f"Sequence packing: assign documents to fixed {PACK_BUDGET}-token "
    "training bins by cumulative token count in stable doc order — the "
    "contiguous-packing step that turns a corpus into equal-budget "
    "context windows. One window shuffle partitioned by source; at 100 TB "
    "the partition key becomes (source, shard) so no single ordering "
    "task sees more than a shard, which only moves bin boundaries at "
    "shard edges.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # parallel=True: tokenization happens BEFORE the window shuffle, so a
    # single-file scan would otherwise split every document on one core.
    docs = table(spark, sf_dir, "documents", parallel=True)
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    bin_id = F.floor(start / PACK_BUDGET)
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        bin_id.cast("bigint").alias("bin_id"),
        (start - bin_id * PACK_BUDGET).cast("bigint").alias("bin_offset"),
    )


N_SHARDS = 32


@register(
    "corpus_shard_plan",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
             CAST(CAST('0x' || substr(md5('{SALT}' || CAST(doc_id AS VARCHAR)), 1, 6)
                       AS BIGINT) % {N_SHARDS} AS BIGINT) AS shard
      FROM documents
    ), tot AS (
      SELECT count(*) AS n FROM assigned
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           round(count(*) * {N_SHARDS} * 1.0 / tot.n, 4) AS skew_vs_ideal
    FROM assigned CROSS JOIN tot
    GROUP BY shard, tot.n
    """,
    doc="Deterministic output-shard planner: every document is assigned to "
    "one of 32 shards by salted md5 (stable across engines, cluster sizes "
    "and re-runs — unlike hash-partitioning, which is engine-private), and "
    "the plan reports per-shard row/byte totals plus the skew ratio vs the "
    "ideal uniform share. This is the write planner for a 100 TB export: "
    "`repartition(N_SHARDS, shard)` then partitioned write produces "
    "bounded, evenly sized output files, and the skew column is the "
    "pre-flight check that no shard will straggle.",
)
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h6 = F.substring(
        F.md5(F.encode(F.concat(F.lit(SALT), F.col("doc_id").cast("string")), "utf-8")),
        1,
        6,
    )
    shard = (F.conv(h6, 16, 10).cast("bigint") % N_SHARDS).cast("bigint")
    assigned = docs.select(
        shard.alias("shard"), "doc_id", "n_chars"
    )
    total = assigned.agg(F.count(F.lit(1)).alias("n"))
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "shard",
            "n_docs",
            "total_chars",
            "min_doc_id",
            "max_doc_id",
            F.round(F.col("n_docs") * N_SHARDS / F.col("n"), 4).alias("skew_vs_ideal"),
        )
    )


@register(
    "sample_weighted",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(CAST('0x' || substr(md5('ws:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
                AS BIGINT) AS DOUBLE) / o_totalprice AS priority
    FROM orders
    ORDER BY priority, o_orderkey
    LIMIT 100
    """,
    doc="Deterministic weighted sampling (hash-priority family): priority = "
    "hash(key)/weight, keep the 100 smallest — high-value orders are "
    "proportionally more likely to be kept, and the sample is reproducible "
    "on any partitioning/engine (unlike rand()-based weighted sampling). "
    "The md5-derived 60-bit hash and the division are IEEE-deterministic on "
    "both engines. Spark plans this as TakeOrderedAndProject — per-"
    "partition top-100 then a 100-row merge, never a global sort of the "
    "fact table.",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(
            F.md5(F.encode(F.concat(F.lit("ws:"), F.col("o_orderkey").cast("string")), "utf-8")),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        orders.select(
            "o_orderkey",
            "o_totalprice",
            (h.cast("double") / F.col("o_totalprice")).alias("priority"),
        )
        .orderBy("priority", "o_orderkey")
        .limit(100)
    )


@register(
    "curate_gate_report",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
               / length(text) AS punct_ratio,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains({QUALITY_STOPWORDS!r}, lower(w)))) * 1.0
               / len(string_split(text, ' ')) AS stopword_ratio
      FROM documents
    ),
    flags AS (
      SELECT *,
             CASE WHEN n_words >= 10 THEN 1 ELSE 0 END AS p1,
             CASE WHEN n_words >= 10 AND punct_ratio <= 0.2
                  THEN 1 ELSE 0 END AS p2,
             CASE WHEN n_words >= 10 AND punct_ratio <= 0.2
                       AND stopword_ratio >= 0.05 THEN 1 ELSE 0 END AS p3
      FROM scored
    ),
    agg AS (
      SELECT count(*) AS total, sum(p1) AS s1, sum(p2) AS s2, sum(p3) AS s3,
             count(DISTINCT CASE WHEN p3 = 1 THEN text END) AS s4
      FROM flags
    )
    SELECT gate, CAST(survivors AS BIGINT) AS survivors,
           CAST(rejected AS BIGINT) AS rejected,
           round(survivors * 1.0 / total, 4) AS survival_rate
    FROM (
      SELECT 1 AS ord, 'input' AS gate, total AS survivors, 0 AS rejected, total FROM agg
      UNION ALL SELECT 2, 'min_length', s1, total - s1, total FROM agg
      UNION ALL SELECT 3, 'max_punct', s2, s1 - s2, total FROM agg
      UNION ALL SELECT 4, 'min_stopwords', s3, s2 - s3, total FROM agg
      UNION ALL SELECT 5, 'exact_dedup', s4, s3 - s4, total FROM agg
    )
    """,
    doc="Curation-funnel observability: per-gate survivor/rejected counts "
    "and survival rate for the same gate sequence curate_training_set "
    "applies (length -> punctuation -> stopwords -> exact dedup). All "
    "row-local gates fold into ONE conditional-aggregation scan (the "
    "cumulative flags are nested CASEs, so each doc is scanned once); the "
    "dedup stage is the one count-distinct. The report every production "
    "corpus pipeline emits per snapshot — at 100 TB it costs one read.",
)
def curate_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in QUALITY_STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
    scored = docs.select(
        "text",
        F.size(words).cast("bigint").alias("n_words"),
        (
            F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")) / F.length("text")
        ).alias("punct_ratio"),
        (n_stop / F.size(words)).alias("stopword_ratio"),
    )
    p1 = F.col("n_words") >= 10
    p2 = p1 & (F.col("punct_ratio") <= 0.2)
    p3 = p2 & (F.col("stopword_ratio") >= 0.05)
    agg = scored.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(p1.cast("int")).alias("s1"),
        F.sum(p2.cast("int")).alias("s2"),
        F.sum(p3.cast("int")).alias("s3"),
        F.count_distinct(F.when(p3, F.col("text"))).alias("s4"),
    )

    def row(gate, survivors, rejected):
        return F.struct(
            F.lit(gate).alias("gate"),
            survivors.cast("bigint").alias("survivors"),
            rejected.cast("bigint").alias("rejected"),
            F.round(survivors / F.col("total"), 4).alias("survival_rate"),
        )

    return agg.select(
        F.explode(
            F.array(
                row("input", F.col("total"), F.lit(0)),
                row("min_length", F.col("s1"), F.col("total") - F.col("s1")),
                row("max_punct", F.col("s2"), F.col("s1") - F.col("s2")),
                row("min_stopwords", F.col("s3"), F.col("s2") - F.col("s3")),
                row("exact_dedup", F.col("s4"), F.col("s3") - F.col("s4")),
            )
        ).alias("r")
    ).select("r.*")


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_sql_str(c: str) -> str:
    # Uniform stringification that both engines render identically: doubles
    # via printf %.2f (Java's Double.toString flips to scientific notation
    # where DuckDB's cast does not), timestamps via second-precision ISO.
    if c == "o_totalprice":
        return f"printf('%.2f', {c})"
    if c == "o_orderdate":
        return f"strftime({c}, '%Y-%m-%d %H:%M:%S')"
    return f"CAST({c} AS VARCHAR)"


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {_profile_sql_str(c)}) AS BIGINT)
                 AS n_distinct,
               min({_profile_sql_str(c)}) AS min_value,
               max({_profile_sql_str(c)}) AS max_value
        FROM orders
        """
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@register(
    "profile_orders_columns",
    oracle=_profile_oracle(),
    doc="Column profiling sweep (the data-quality step before any pipeline "
    "run): per column — row count, null count, exact distinct count, lexical "
    "min/max. Implemented by unpivoting to (column_name, value) rows so ONE "
    "aggregation keyed by column name profiles every column in a single "
    "scan; values are stringified uniformly (timestamps to ISO 'yyyy-MM-dd "
    "HH:mm:ss' form on both engines) so one schema carries all types. At "
    "100 TB this is a scan + a shuffle whose key domain equals the column "
    "count.",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # Stringification must be identical on both engines: %.2f for doubles
    # (Java's Double.toString flips to scientific notation, DuckDB's cast
    # doesn't), second-precision ISO for timestamps.
    def as_str(c: str):
        dt = dict(o.dtypes)[c]
        if dt == "timestamp":
            return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
        if dt == "double":
            return F.format_string("%.2f", F.col(c))
        return F.col(c).cast("string")

    stacked = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"), as_str(c).alias("value")
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("kv")
    ).select("kv.column_name", "kv.value")
    return stacked.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).cast("bigint").alias("n_nulls"),
        F.count_distinct(F.col("value")).cast("bigint").alias("n_distinct"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


Z_BITS = 8  # per-dimension bits: 16-bit Morton key over a 256x256 key grid
Z_TILE_SHIFT = 8  # aggregate stats per z >> 8 tile (256 tiles)


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "layout_zorder_tiles",
    oracle=f"""
    WITH keyed AS (
      SELECT (l_partkey % 256) AS px, (l_suppkey % 256) AS sx,
             {_morton_sql("(l_partkey % 256)", "(l_suppkey % 256)")} AS z
      FROM lineitem
    )
    SELECT CAST(z >> {Z_TILE_SHIFT} AS BIGINT) AS z_tile,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT px) AS BIGINT) AS n_part_buckets,
           CAST(count(DISTINCT sx) AS BIGINT) AS n_supp_buckets,
           CAST(min(z) AS BIGINT) AS z_min,
           CAST(max(z) AS BIGINT) AS z_max
    FROM keyed
    GROUP BY z_tile
    """,
    doc="Z-order (Morton) clustering key over the (partkey, suppkey) bucket "
    "grid — the data-layout primitive behind multi-dimensional file "
    "clustering (Delta/Iceberg OPTIMIZE ZORDER): interleaving the bucket "
    "bits makes each contiguous z-range cover a small 2-D tile of the key "
    "grid, so a scan filtered on EITHER dimension prunes most files. The "
    "interleave is 32 shift-mask-or terms — pure JVM expressions, map-only; "
    "per-tile stats (distinct buckets touched per 256-key z-tile) quantify "
    "the locality a writer would get sorting files by z.",
)
def layout_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    keyed = li.select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("sx"),
    ).withColumn("z", F.expr(_morton_sql("px", "sx")))
    return keyed.groupBy(
        F.shiftright("z", Z_TILE_SHIFT).cast("bigint").alias("z_tile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("px").cast("bigint").alias("n_part_buckets"),
        F.count_distinct("sx").cast("bigint").alias("n_supp_buckets"),
        F.min("z").cast("bigint").alias("z_min"),
        F.max("z").cast("bigint").alias("z_max"),
    )


# ---------------------------------------------------------------------------
# sample_epoch_upsample — deterministic hash-tiered repetition
# ---------------------------------------------------------------------------

UPSAMPLE_SALT = "epoch6"


@register(
    "sample_epoch_upsample",
    oracle=f"""
    WITH tiered AS (
      SELECT doc_id, source,
             CASE WHEN substr(md5('{UPSAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1)
                       < '4' THEN 3
                  WHEN substr(md5('{UPSAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1)
                       < '8' THEN 2
                  ELSE 1 END AS n_copies
      FROM documents
    )
    SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(copy_idx AS BIGINT) AS copy_idx,
           CAST(doc_id * 4 + copy_idx AS BIGINT) AS sample_id
    FROM tiered, unnest(generate_series(1, n_copies)) AS t(copy_idx)
    """,
    doc="Deterministic epoch upsampling: each document draws a repetition "
    "tier (1-3 copies) from a salted md5 of its id — the hex-prefix "
    "bucketing used by the split/sample family, reproducible and identical "
    "in both engines — then explodes into per-epoch copies with a stable "
    "sample_id. This is how high-quality domains get oversampled into a "
    "training mix without materializing a shuffled copy: the explode is "
    "map-side (no shuffle at all), so output cost is proportional to the "
    "emitted copies and the operator composes with downstream packing.",
)
def sample_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    prefix = F.substring(
        F.md5(F.concat(F.lit(UPSAMPLE_SALT), F.col("doc_id").cast("string"))), 1, 1
    )
    tiered = docs.select(
        "doc_id",
        "source",
        F.when(prefix < "4", 3).when(prefix < "8", 2).otherwise(1)
        .cast("bigint")
        .alias("n_copies"),
    )
    return tiered.select(
        "doc_id",
        "source",
        "n_copies",
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("n_copies"))).alias(
            "copy_idx"
        ),
    ).withColumn("sample_id", (F.col("doc_id") * 4 + F.col("copy_idx")).cast("bigint"))


SAMPLE_K = 7


@register(
    "dq_rule_violations",
    oracle="""
    WITH li AS (
      SELECT count(*) AS checked,
             sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
               AS v_discount,
             sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS v_qty,
             sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS v_price
      FROM lineitem
    ),
    ord AS (
      SELECT count(*) AS checked,
             sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS v_total,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_null_cust
      FROM orders
    ),
    orphan_li AS (
      SELECT count(*) AS v FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    ),
    orphan_ord AS (
      SELECT count(*) AS v FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    ),
    shiporder AS (
      SELECT count(*) AS checked,
             sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS v
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT rule, CAST(violations AS BIGINT) AS violations,
           CAST(checked AS BIGINT) AS checked
    FROM (
      SELECT 'li_discount_range' AS rule, v_discount AS violations, checked FROM li
      UNION ALL SELECT 'li_nonpositive_qty', v_qty, checked FROM li
      UNION ALL SELECT 'li_nonpositive_price', v_price, checked FROM li
      UNION ALL SELECT 'li_orphan_order', v, (SELECT checked FROM li) FROM orphan_li
      UNION ALL SELECT 'li_ship_before_order', v, checked FROM shiporder
      UNION ALL SELECT 'ord_negative_total', v_total, checked FROM ord
      UNION ALL SELECT 'ord_null_custkey', v_null_cust, checked FROM ord
      UNION ALL SELECT 'ord_orphan_customer', v, (SELECT checked FROM ord) FROM orphan_ord
    )
    """,
    doc="Declarative data-quality rule engine: 8 rules over lineitem/orders "
    "— range, non-positivity, null, referential-integrity (anti-join) and "
    "cross-table date-order checks — emitted as (rule, violations, checked) "
    "rows. Row-local rules per table share ONE scan via conditional "
    "aggregation; only the referential/date rules join.",
)
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Five scans total, one job: the three row-local lineitem rules share
    # one scan; the orphan-lineitem AND ship-before-order rules share one
    # lineitem⟕orders pass (the anti-join is the null side of the left
    # join); orders contributes its row-local scan, the join probe, and
    # the orphan-customer anti-join. The four 1-row summaries broadcast-
    # crossJoin into a single row and explode into the 8 rule rows.
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def _cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    li_agg = li.agg(
        F.count(F.lit(1)).alias("li_checked"),
        _cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("v_discount"),
        _cnt(F.col("l_quantity") <= 0).alias("v_qty"),
        _cnt(F.col("l_extendedprice") <= 0).alias("v_price"),
    )
    ord_agg = o.agg(
        F.count(F.lit(1)).alias("ord_checked"),
        _cnt(F.col("o_totalprice") < 0).alias("v_total"),
        _cnt(F.col("o_custkey").isNull()).alias("v_null_cust"),
    )
    joined = li.select("l_orderkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left",
    )
    jagg = joined.agg(
        _cnt(F.col("o_orderkey").isNull()).alias("v_orphan_li"),
        _cnt(F.col("o_orderkey").isNotNull()).alias("ship_checked"),
        _cnt(F.col("l_shipdate") < F.col("o_orderdate")).alias("v_ship"),
    )
    orphan_ord = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v_orphan_ord"))
    )

    def row(name, violations, checked):
        return F.struct(
            F.lit(name).alias("rule"),
            violations.cast("bigint").alias("violations"),
            checked.cast("bigint").alias("checked"),
        )

    one = (
        li_agg.crossJoin(F.broadcast(jagg))
        .crossJoin(F.broadcast(ord_agg))
        .crossJoin(F.broadcast(orphan_ord))
    )
    return one.select(
        F.explode(
            F.array(
                row("li_discount_range", F.col("v_discount"), F.col("li_checked")),
                row("li_nonpositive_qty", F.col("v_qty"), F.col("li_checked")),
                row("li_nonpositive_price", F.col("v_price"), F.col("li_checked")),
                row("li_orphan_order", F.col("v_orphan_li"), F.col("li_checked")),
                row("li_ship_before_order", F.col("v_ship"), F.col("ship_checked")),
                row("ord_negative_total", F.col("v_total"), F.col("ord_checked")),
                row("ord_null_custkey", F.col("v_null_cust"), F.col("ord_checked")),
                row("ord_orphan_customer", F.col("v_orphan_ord"), F.col("ord_checked")),
            )
        ).alias("r")
    ).select("r.*")


@register(
    "profile_key_skew",
    oracle="""
    WITH per_key AS (
      SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(max(c) AS BIGINT) AS max_key_rows,
             round(max(c) * 1.0 / sum(c), 6) AS max_share,
             round(sum(c * c) * 1.0 / (sum(c) * sum(c)), 6) AS herfindahl,
             round(avg(c), 4) AS avg_key_rows
      FROM per_key
    ),
    top AS (SELECT k AS top_key FROM per_key ORDER BY c DESC, k LIMIT 1)
    SELECT n_keys, n_rows, top_key, max_key_rows, max_share, herfindahl,
           avg_key_rows
    FROM stats CROSS JOIN top
    """,
    doc="Shuffle-key skew profile for lineitem.l_suppkey: key count, total "
    "rows, heaviest key and its share, and the Herfindahl concentration "
    "index (sum of squared key shares — 1/n_keys when uniform, 1.0 when one "
    "key owns everything). Per-key counts partial-aggregate map-side; the "
    "stats pass runs over the tiny per-key relation. This is the pre-flight "
    "that decides whether a join key needs salting before a 100 TB shuffle.",
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # ONE pass over the per-key relation: the top key folds into the same
    # aggregation via max_by on (count, -key) — max count, ties to the
    # smallest key — instead of a second sort+limit job.
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max_by("k", F.struct(F.col("c"), -F.col("k"))).alias("top_key"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        F.round(F.max("c") / F.sum("c"), 6).alias("max_share"),
        # squares in DOUBLE: int64 c*c (and sum*sum) wraps past ~3e9 rows —
        # exactly the 100 TB regime this profiler exists for
        F.round(
            F.sum(F.col("c").cast("double") * F.col("c"))
            / (F.sum("c").cast("double") * F.sum("c")),
            6,
        ).alias("herfindahl"),
        F.round(F.avg("c"), 4).alias("avg_key_rows"),
    ).select(
        "n_keys",
        "n_rows",
        "top_key",
        "max_key_rows",
        "max_share",
        "herfindahl",
        "avg_key_rows",
    ).filter(
        # empty-input parity: the oracle's CROSS JOIN with its empty LIMIT-1
        # `top` CTE yields ZERO rows, where Spark's global agg yields one
        # all-NULL row — drop it so both engines agree on degenerate input
        F.col("n_keys") > 0
    )


@register(
    "sample_reservoir_perkey",
    oracle=f"""
    SELECT event_type, event_id, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events
    )
    WHERE rn <= {SAMPLE_K}
    """,
    doc=f"Deterministic per-key {SAMPLE_K}-sample: within each event_type, "
    "rows order by md5(event_id) — a reproducible stand-in for a uniform "
    "random draw — and the first k survive. Catalyst rewrites the "
    "rank-filter to WindowGroupLimit, so every map task keeps only k rows "
    "per key BEFORE the shuffle; the sort never touches the full table. "
    "The hash-ordered form is the scalable, restart-stable alternative to "
    "stateful reservoir sampling.",
)
def sample_reservoir_perkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.md5(F.col("event_id").cast("string")), "event_id")
    )
    return (
        ev.select("event_type", "event_id")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= SAMPLE_K)
    )


# ---------------------------------------------------------------------------
# curate_temperature_resample — count^alpha sampling weights (alpha = 0.5)
# ---------------------------------------------------------------------------

RESAMPLE_BUDGET = 10_000


@register(
    "curate_temperature_resample",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS w
      FROM documents GROUP BY lang, source
    ),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM g)
    SELECT g.lang, g.source, g.n_docs,
           round(g.w / t.tw, 4) AS share,
           CAST(round(g.w / t.tw * {RESAMPLE_BUDGET}) AS BIGINT)
             AS alloc_docs,
           round(g.w / t.tw * {RESAMPLE_BUDGET} / g.n_docs, 4)
             AS sample_rate
    FROM g, t
    """,
    doc="Temperature-based corpus resampling (the multilingual-LLM recipe: "
    "group weight proportional to count^alpha, alpha = 0.5 i.e. sqrt — "
    "IEEE-correctly-rounded, so both engines compute the identical weight): "
    "rare (lang, source) slices are up-weighted relative to their raw "
    "share, head slices down-weighted, and each group's document allocation "
    "and per-doc sampling rate against a fixed budget of "
    f"{RESAMPLE_BUDGET} fall out. One map-side-combined aggregation over "
    "the corpus (the only data-proportional shuffle); everything after is "
    "group-cardinality-sized with the 1-row total broadcast back. The "
    "sample_rate column is what a downstream Bernoulli/hash sampler "
    "consumes, making this the planning half of sample_hash_split.",
)
def curate_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # weights quantize to integers (floor(sqrt * 1e6)) so the total is an
    # order-independent BIGINT sum: shares/allocations are bit-identical
    # across engines AND across Spark's own shuffle orders — a float sum of
    # sqrt weights could flip a .5 rounding boundary between runs
    g = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).withColumn(
        "w", F.floor(F.sqrt(F.col("n_docs")) * 1000000).cast("bigint")
    )
    t = g.agg(F.sum("w").cast("bigint").alias("tw"))
    share = F.col("w") / F.col("tw")
    return g.crossJoin(F.broadcast(t)).select(
        "lang",
        "source",
        "n_docs",
        F.round(share, 4).alias("share"),
        F.round(share * RESAMPLE_BUDGET).cast("bigint").alias("alloc_docs"),
        F.round(share * RESAMPLE_BUDGET / F.col("n_docs"), 4).alias(
            "sample_rate"
        ),
    )


# ---------------------------------------------------------------------------
# sample_balanced_class — downsample every class to the minority count
# ---------------------------------------------------------------------------


@register(
    "sample_balanced_class",
    oracle="""
    WITH m AS (
      SELECT min(cnt) AS m FROM (
        SELECT count(*) AS cnt FROM events GROUP BY event_type
      )
    ),
    ranked AS (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events
    )
    SELECT event_type, event_id, CAST(rn AS BIGINT) AS rn
    FROM ranked, m WHERE rn <= m.m
    """,
    doc="Class-balanced downsampling: every event_type keeps exactly "
    "min-class-count rows, chosen by deterministic hash order (md5 of the "
    "id — a reproducible, restart-stable stand-in for a uniform draw). "
    "The training-data primitive behind balanced classifier corpora and "
    "per-domain LLM mixes. One 5-row count aggregate broadcasts the "
    "minority size; the rank filter shuffles each class once. At 100 TB "
    "the two passes stay map-side-combined + windowed per key; with a "
    "LITERAL k the rank filter becomes WindowGroupLimit (see "
    "sample_reservoir_perkey) — the data-dependent threshold trades that "
    "pushdown for exact balance.",
)
def sample_balanced_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    m = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("m"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    ranked = ev.select(
        "event_type",
        "event_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .filter(F.col("rn") <= F.col("m"))
        .select("event_type", "event_id", "rn")
    )


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
# curate_pps_systematic — probability-proportional-to-size systematic draw
# ---------------------------------------------------------------------------


@register(
    "curate_pps_systematic",
    oracle="""
    WITH c AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
               AS cum,
             sum(n_chars) OVER (PARTITION BY source) AS t
      FROM documents
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST((5 * (cum - n_chars)) // t AS BIGINT) AS pick_index
    FROM c
    WHERE (5 * (cum - n_chars)) // t < (5 * cum) // t
    ORDER BY source, doc_id
    """,
    doc="Probability-proportional-to-size SYSTEMATIC sample of documents, "
    "k = 5 per source: lay each source's documents end-to-end on a "
    "character-count line (doc_id order), place k equally spaced "
    "lattice points (origin 0, spacing T/k kept as the exact integer "
    "comparison floor(k*cum_before/T) < floor(k*cum_incl/T) — no "
    "division by T/k ever happens), and take the document covering "
    "each point — the classic Madow design where inclusion probability "
    "is proportional to size, the curation-side counterpart of "
    "sample_weighted (which resamples WITH replacement) and "
    "sample_stratified (equal-probability within strata). A document "
    "longer than the spacing is taken once (documented without-"
    "replacement caveat). All-integer; one partitioned window, no "
    "shuffle beyond the source partitioning.",
)
def curate_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    wc = Window.partitionBy("source").orderBy("doc_id")
    wt = Window.partitionBy("source")
    c = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(wc).alias("cum"),
        F.sum("n_chars").over(wt).alias("t"),
    )
    return (
        c.filter(
            F.expr("(5 * (cum - n_chars)) div t < (5 * cum) div t")
        )
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.expr(
                "CAST((5 * (cum - n_chars)) div t AS BIGINT)"
            ).alias("pick_index"),
        )
        .orderBy("source", "doc_id")
    )
