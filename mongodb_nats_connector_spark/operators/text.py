"""Text analysis operators over the `documents` table.

Language-ID, quality scoring, token counting and fingerprinting are all pure
SQL expressions (regexp / string / higher-order functions) — JVM-side, fully
pushdown-friendly, no Python per row. Each has an exact DuckDB oracle built
from the same arithmetic so the comparison is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.functions.exactsum import decimal_sum as _dsum
from mongodb_nats_connector_spark.functions.texthash import hashed_ngram_tuples
from mongodb_nats_connector_spark.plans.caching import (
    persist_until_collected,
    release_on_gc,
)
from mongodb_nats_connector_spark.plans.hints import (
    counted_fits_broadcast,
    maybe_broadcast,
)
from mongodb_nats_connector_spark.plans.ranking import two_pass_global_rank
from mongodb_nats_connector_spark.registry import register
from mongodb_nats_connector_spark.sources.tables import table


# marker word per language for the n-gram/occurrence language-ID heuristic;
# ties resolve in this priority order (deterministic argmax).
LANG_MARKERS = [
    ("en", "the"),
    ("de", "scan"),
    ("es", "data"),
    ("fr", "join"),
    ("zh", "stream"),
]


def _occurrences(text: Column, needle: str) -> Column:
    """Occurrence count via the length-difference trick (portable to SQL)."""
    return (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / len(
        needle
    )


def _occ_sql(needle: str) -> str:
    return f"(length(text) - length(replace(text, '{needle}', ''))) / {len(needle)}"


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           round(length(replace(text, ' ', '')) * 1.0
                 / len(string_split(text, ' ')), 4) AS avg_word_len,
           CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS n_vowels
    FROM documents
    """,
    doc="Quality-scoring statistics: char/word counts, average word length, "
    "vowel count (all codegen'd string expressions).",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        F.size(words).alias("n_words"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.size(words), 4
        ).alias("avg_word_len"),
        F.length(F.regexp_replace("text", "[^aeiou]", "")).cast("bigint").alias("n_vowels"),
    )


def _langid_oracle() -> str:
    scores = ", ".join(
        f"CAST({_occ_sql(m)} AS BIGINT) AS s_{code}" for code, m in LANG_MARKERS
    )
    all_scores = ", ".join(f"s_{code}" for code, _ in LANG_MARKERS)
    case = " ".join(
        f"WHEN s_{code} >= greatest({all_scores}) THEN '{code}'"
        for code, _ in LANG_MARKERS
    )
    return f"""
    WITH scored AS (SELECT doc_id, lang AS labeled_lang, {scores} FROM documents)
    SELECT doc_id, labeled_lang, CASE {case} END AS predicted_lang, {all_scores}
    FROM scored
    """


@register(
    "text_langid",
    oracle=_langid_oracle(),
    doc="Language-ID n-gram heuristic: per-language marker occurrence scores "
    "with a deterministic priority-ordered argmax.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            _occurrences(F.col("text"), m).cast("bigint").alias(f"s_{code}")
            for code, m in LANG_MARKERS
        ],
    )
    best = F.greatest(*[F.col(f"s_{code}") for code, _ in LANG_MARKERS])
    # CASE in priority order — first language reaching the max wins
    pred = F.when(F.col(f"s_{LANG_MARKERS[0][0]}") >= best, LANG_MARKERS[0][0])
    for code, _ in LANG_MARKERS[1:]:
        pred = pred.when(F.col(f"s_{code}") >= best, code)
    return scored.select(
        "doc_id",
        "labeled_lang",
        pred.alias("predicted_lang"),
        *[f"s_{code}" for code, _ in LANG_MARKERS],
    )


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
             AS n_bpe_ish_tokens
    FROM documents
    """,
    doc="Token counting: whitespace tokens + a BPE-ish regex tokenizer "
    "(letter runs / digit runs / single punctuation).",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).alias(
            "n_bpe_ish_tokens"
        ),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_transform(range(length(text)), i -> CAST(unicode(text[i+1]) AS BIGINT)),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
    FROM documents
    """,
    doc="Document fingerprinting: polynomial rolling hash over character "
    "codes, acc = (acc*31 + code) mod 1e9+7 — identical sequential fold on "
    "both engines.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    # One split('') pass instead of transform(sequence) + substr(i, 1) per
    # position: substr on UTF8String seeks from byte 0 counting chars, so
    # the indexed form is O(len^2) per document; split is one linear scan.
    # ascii(char) == ascii(substr(text, i, 1)) at every position (same
    # codepoint), split('') yields [] for '' (the old sequence(1,0) fold
    # also lands on 0), and both forms are null-propagating — bit-compared
    # on the full sf0.1 corpus: 0 differing rows.
    codes = F.transform(F.split("text", ""), F.ascii)
    fp = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x.cast("bigint")) % 1000000007,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


STOPWORDS = ["the", "a", "and", "of", "to", "in"]


@register(
    "text_stopword_filter",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '),
                    w -> NOT list_contains({STOPWORDS!r}, w))) AS INT)
             AS n_content_words,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words
    FROM documents
    """,
    doc="Stopword removal: higher-order filter against a broadcast-literal "
    "stoplist; counts content words per document.",
)
def text_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    words = F.split("text", " ")
    content = F.filter(words, lambda w: ~F.array_contains(stop, w))
    return docs.select(
        "doc_id",
        F.size(content).alias("n_content_words"),
        F.size(words).alias("n_words"),
    )


@register(
    "text_tfidf",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word
    ), df AS (
      SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM w GROUP BY word
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.word, CAST(tf.tf AS BIGINT) AS tf, df.df,
           round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
    FROM tf JOIN df USING (word) CROSS JOIN n
    """,
    doc="TF-IDF from first principles as pure DataFrame ops (explode -> two "
    "aggregations -> broadcast joins): term frequency per doc, smoothed "
    "inverse document frequency, product. Unlike HashingTF this is exactly "
    "checkable; the shuffle keys are (doc,word) and (word).",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = w.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = F.col("tf") * (
        F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    )
    return (
        tf.join(maybe_broadcast(df), "word")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "word", "tf", "df", F.round(tfidf, 6).alias("tfidf"))
    )


# fixed stopword list for the quality heuristic (mirrored verbatim in SQL)
QUALITY_STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "it", "for", "on"]


@register(
    "text_quality",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             string_split(text, ' ') AS words,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct,
             length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(len(words) AS INT) AS n_words,
           round(n_punct * 1.0 / n_chars, 4) AS punct_ratio,
           round(len(list_filter(words,
                 w -> list_contains({QUALITY_STOPWORDS!r}, lower(w)))) * 1.0
                 / len(words), 4) AS stopword_ratio,
           round(0.01 * len(words)
                 + len(list_filter(words,
                       w -> list_contains({QUALITY_STOPWORDS!r}, lower(w)))) * 1.0
                   / len(words)
                 - n_punct * 1.0 / n_chars, 4) AS quality_score
    FROM s
    """,
    doc="Document quality scoring: word count, punctuation ratio, stopword "
    "ratio, and a linear composite score — the usual pre-training corpus "
    "filters (C4/Gopher-style heuristics), all codegen'd expressions with "
    "an exact SQL mirror.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in QUALITY_STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
    punct_ratio = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")) / F.length("text")
    stop_ratio = n_stop / F.size(words)
    return docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(0.01 * F.size(words) + stop_ratio - punct_ratio, 4).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Round 3: chunking, PII scrubbing, repetition-based quality
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32  # tokens per training chunk
CHUNK_STRIDE = 24  # stride between chunk starts (overlap = 8)


@register(
    "text_chunk_tokens",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(range(0,
               CAST(floor((len(toks) - 1) / {CHUNK_STRIDE}) AS BIGINT) + 1))
               AS chunk_id
      FROM t
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(toks[chunk_id*{CHUNK_STRIDE}+1 :
                        chunk_id*{CHUNK_STRIDE}+{CHUNK_TOKENS}]) AS INT)
             AS n_chunk_tokens,
           array_to_string(toks[chunk_id*{CHUNK_STRIDE}+1 :
                                chunk_id*{CHUNK_STRIDE}+{CHUNK_TOKENS}], ' ')
             AS chunk_text
    FROM c
    """,
    doc="Sliding-window document chunking for training-sequence prep: "
    f"{CHUNK_TOKENS}-token windows every {CHUNK_STRIDE} tokens (8-token "
    "overlap), one output row per chunk. Tokenize + explode + slice are all "
    "JVM expressions — map-side only, no shuffle: each input split chunks "
    "independently, so the plan is embarrassingly parallel at any scale.",
)
def text_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    toks = F.split("text", " ")
    n_chunks = F.floor((F.size(toks) - 1) / CHUNK_STRIDE) + 1
    with_ids = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_id"),
    )
    sliced = F.slice(
        F.col("toks"), F.col("chunk_id") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return with_ids.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(sliced).alias("n_chunk_tokens"),
        F.array_join(sliced, " ").alias("chunk_text"),
    )


# RE2- and Java-regex-compatible patterns (no backrefs / lookaround)
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE = r"[0-9][0-9() -]{6,}[0-9]"


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH withpii AS (
      -- the corpus itself is synthetic prose; append deterministic PII so
      -- the scrubber has real work on every row
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-01' || CAST(doc_id % 100 AS VARCHAR)
                  || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(
                 regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                 '{PII_PHONE}')) AS INT) AS n_phones,
           regexp_replace(
             regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g') AS scrubbed
    FROM withpii
    """,
    doc="PII scrubbing: email + phone regex redaction with per-doc match "
    "counts (emails first so phone-like digit runs inside addresses don't "
    "double-count). Pure regexp expressions — map-only, pattern dialect "
    "restricted to the RE2/Java common subset so Spark and the oracle "
    "agree. At 100 TB this is the standard streaming-safe scrub pass.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    withpii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-01"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    no_email = F.regexp_replace("text", PII_EMAIL, "<EMAIL>")
    return withpii.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(PII_PHONE), 0)).alias("n_phones"),
        F.regexp_replace(no_email, PII_PHONE, "<PHONE>").alias("scrubbed"),
    )


@register(
    "text_repetition_quality",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), counts AS (
      SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY doc_id, word
    ), ranked AS (
      SELECT doc_id, word, cnt,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, word ASC) AS rn,
             sum(cnt) OVER (PARTITION BY doc_id) AS n_words,
             count(*) OVER (PARTITION BY doc_id) AS n_distinct
      FROM counts
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_distinct AS BIGINT) AS n_distinct_words,
           word AS top_word,
           round(cnt * 1.0 / n_words, 4) AS top_word_ratio,
           round(n_distinct * 1.0 / n_words, 4) AS distinct_ratio,
           CAST(CASE WHEN cnt * 1.0 / n_words <= 0.2
                      AND n_distinct * 1.0 / n_words >= 0.3
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM ranked WHERE rn = 1
    """,
    doc="Repetition-based quality filter (Gopher-style): most-frequent-word "
    "ratio and distinct-word ratio per document, with the keep/drop "
    "decision. Explode -> count -> per-doc window; the shuffle key is "
    "(doc_id, word) then doc_id — both fine-grained, so the plan holds at "
    "100 TB (no giant groups: a document's vocabulary bounds its rows).",
)
def text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    counts = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    byid = Window.partitionBy("doc_id")
    ranked = counts.select(
        "doc_id",
        "word",
        "cnt",
        F.row_number()
        .over(byid.orderBy(F.desc("cnt"), F.asc("word")))
        .alias("rn"),
        F.sum("cnt").over(byid).alias("n_words"),
        F.count(F.lit(1)).over(byid).alias("n_distinct"),
    ).filter(F.col("rn") == 1)
    top_ratio = F.col("cnt") / F.col("n_words")
    distinct_ratio = F.col("n_distinct") / F.col("n_words")
    return ranked.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_distinct").cast("bigint").alias("n_distinct_words"),
        F.col("word").alias("top_word"),
        F.round(top_ratio, 4).alias("top_word_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        ((top_ratio <= 0.2) & (distinct_ratio >= 0.3))
        .cast("bigint")
        .alias("keep"),
    )


NGRAM_TOP_K = 20


@register(
    "text_ngram_topk",
    oracle=f"""
    WITH w AS (
      SELECT string_split(text, ' ') AS toks FROM documents
    ), grams AS (
      SELECT toks[i+1] || ' ' || toks[i+2] AS bigram
      FROM w, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i)
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
    FROM grams GROUP BY bigram
    ORDER BY cnt DESC, bigram ASC LIMIT {NGRAM_TOP_K}
    """,
    doc="Corpus-level bigram frequency, top-20 — the n-gram statistics pass "
    "behind contamination checks and LM smoothing tables. Bigrams are built "
    "map-side (transform over the token array, no self-join), counted with "
    "one partial-agg shuffle on the gram, and the global top-k compiles to "
    "TakeOrderedAndProject (per-partition heaps, never a full sort). "
    "Deterministic tie-break on the gram string.",
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # adjacent pairs via zip_with over two shifted slices — same bigrams
    # in the same order as the former sequence+element_at transform, ~8x
    # cheaper per row (no index-array materialization, no per-element
    # positional lookups in the interpreted HOF path)
    grams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(NGRAM_TOP_K)
    )


PASSAGE_WORDS = 8
PASSAGE_MAX_DUP_RATIO = 0.5


@register(
    "text_passage_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), passages AS (
      SELECT doc_id,
             array_to_string(t[{PASSAGE_WORDS} * i + 1 : {PASSAGE_WORDS} * (i + 1)], ' ')
               AS passage
      FROM toks, LATERAL (SELECT unnest(range(len(t) // {PASSAGE_WORDS})) AS i)
    ), freq AS (
      SELECT passage, count(DISTINCT doc_id) AS n_docs
      FROM passages GROUP BY passage
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_passages,
           round(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS dup_ratio,
           CAST(CASE WHEN sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) * 1.0
                          / count(*) <= {PASSAGE_MAX_DUP_RATIO}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM passages p JOIN freq f USING (passage)
    GROUP BY p.doc_id
    """,
    doc="Passage-level dedup (RefinedWeb-style repeated-span removal): each "
    "document is cut into consecutive 8-word passages map-side, passage "
    "frequency is counted corpus-wide, and documents whose duplicated-passage "
    "ratio exceeds the threshold are dropped. The instance stream shuffles "
    "ONCE, by passage: the (passage, doc) reduction, the frequency count "
    "above it, and the flag join back all reuse that partitioning (all "
    "their keys contain the partition key), so the only other exchange is "
    "the final fine-grained doc_id aggregation. A viral boilerplate "
    "passage skews its partition; AQE's skew handling splits the join "
    "side, and the reduction bounds each group at one row per distinct "
    "doc.",
)
def text_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    toks = F.split("text", " ")
    # the passage string never materializes: each 8-word span hashes
    # directly off the token tuple (same trick as hashed_word_shingles), so
    # the shuffles move 8-byte keys instead of ~50-byte strings. The
    # oracle groups by the passage STRING — per-doc outputs agree because
    # they only depend on span equality, which the 64-bit hash preserves
    # w.h.p. (a collision would merely merge two frequency groups).
    # Non-overlapping spans = the stride-8 subset of the overlapping n-gram
    # hash array (same xxhash64 tuple per position), so the zip_with
    # expansion replaces the interpreted transform(sequence) +
    # 8 element_at lookups per position; floor(size/8) spans either way.
    passages = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(toks) >= PASSAGE_WORDS,
                F.filter(
                    hashed_ngram_tuples(toks, PASSAGE_WORDS),
                    lambda _, i: i % PASSAGE_WORDS == 0,
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("passage"),
    )
    # partition by passage once; (passage, doc) reduction, passage-level
    # frequency, and the join back are all exchange-free on top of it.
    doc_pass = (
        passages.repartition("passage")
        .groupBy("passage", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    freq = doc_pass.groupBy("passage").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.sum(F.col("k") * (F.col("n_docs") > 1).cast("bigint"))
    n = F.sum("k")
    ratio = dup / n
    return (
        doc_pass.join(freq, "passage")
        .groupBy("doc_id")
        .agg(
            n.cast("bigint").alias("n_passages"),
            dup.cast("bigint").alias("n_dup_passages"),
            F.round(ratio, 4).alias("dup_ratio"),
            (ratio <= PASSAGE_MAX_DUP_RATIO).cast("bigint").alias("keep"),
        )
    )


# surprisal band (natural-log units) for the unigram-LM keep decision:
# too low = degenerate/repetitive text, too high = noise/garbage.
SURPRISAL_KEEP_LO = 2.0
SURPRISAL_KEEP_HI = 9.0


@register(
    "text_unigram_surprisal",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), vocab AS (
      SELECT word, count(*) AS cnt FROM w GROUP BY word
    ), total AS (
      SELECT sum(cnt) AS n FROM vocab
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(vocab.cnt * 1.0 / total.n)), 4) AS avg_surprisal,
           CAST(CASE WHEN avg(-ln(vocab.cnt * 1.0 / total.n))
                          BETWEEN {SURPRISAL_KEEP_LO} AND {SURPRISAL_KEEP_HI}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM w JOIN vocab USING (word) CROSS JOIN total
    GROUP BY w.doc_id
    """,
    doc="Unigram-LM surprisal scoring (perplexity-proxy quality filter, as in "
    "CCNet/Gopher pipelines): corpus unigram probabilities, then the mean "
    "negative log-probability per document, with a keep band. The vocab "
    "grows Heaps-law slow but UNBOUNDED, so its broadcast is size-GATED "
    "(maybe_broadcast: hash join past the threshold instead of OOMing the "
    "driver at 100 TB); only the 1-row total is force-broadcast. The token "
    "stream joins map-side while the vocab fits and aggregates per doc_id "
    "with partial aggregation.",
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    surprisal = -F.log(F.col("cnt") / F.col("n"))
    avg_s = F.avg(surprisal)
    # the vocab grows with the corpus (Heaps-law slow but unbounded), so
    # the broadcast is size-GATED: past the session threshold AQE picks the
    # hash join instead of OOMing the driver at 100 TB. The 1-row total
    # stays force-broadcast.
    return (
        w.join(maybe_broadcast(vocab), "word")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(avg_s, 4).alias("avg_surprisal"),
            avg_s.between(SURPRISAL_KEEP_LO, SURPRISAL_KEEP_HI)
            .cast("bigint")
            .alias("keep"),
        )
    )


KEYWORD_TOPK = 3


@register(
    "text_keywords_topk",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
      FROM scored
    ) WHERE rn <= {KEYWORD_TOPK}
    """,
    doc=f"Per-document top-{KEYWORD_TOPK} TF-IDF keywords: the tf-idf "
    "relation (same two-aggregation, broadcast-idf shape as text_tfidf) "
    "capped per doc by a rank filter that Catalyst rewrites to "
    "WindowGroupLimit — map tasks pre-prune to k terms per doc before the "
    "shuffle. The keyword-extraction / doc-tagging primitive over any "
    "corpus size.",
)
def text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = w.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(maybe_broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    rank_w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rn") <= KEYWORD_TOPK)
    )


def _doc_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )


@register(
    "text_word_entropy",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    counts AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
      FROM tf GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy_nats
    FROM counts
    GROUP BY doc_id
    """,
    doc="Per-document Shannon entropy of the word distribution via the "
    "H = ln(n) - sum(c ln c)/n identity — one (doc,word) shuffle, one "
    "(doc) shuffle, both partial-aggregated. Low entropy flags templated/"
    "repetitive documents.",
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _doc_words(spark, sf_dir)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n = F.sum("c")
    return counts.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.round(F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 4).alias(
            "entropy_nats"
        ),
    )


@register(
    "text_zipf_slope",
    oracle="""
    WITH freq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      GROUP BY word
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rank
      FROM freq
    )
    SELECT round(regr_slope(ln(c), ln(rank)), 4) AS zipf_slope,
           round(regr_intercept(ln(c), ln(rank)), 4) AS zipf_intercept,
           CAST(count(*) AS BIGINT) AS vocab_size
    FROM ranked
    """,
    doc="Corpus Zipf slope: log-log regression of word frequency on rank "
    "(row_number with a deterministic tie-break). The regression runs over "
    "the vocabulary relation — tiny at any corpus scale; the only wide "
    "shuffle is the word count.",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    freq = (
        _doc_words(spark, sf_dir)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ranked = freq.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("c").desc(), "word"))
    )
    return ranked.agg(
        F.expr("round(regr_slope(ln(c), ln(rank)), 4)").alias("zipf_slope"),
        F.expr("round(regr_intercept(ln(c), ln(rank)), 4)").alias("zipf_intercept"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
    )


VOCAB_K = 20


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    vocab AS (
      SELECT word
      FROM (SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS r
            FROM tf GROUP BY word)
      WHERE r <= {VOCAB_K}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           sum(CASE WHEN vocab.word IS NULL THEN 1.0 ELSE 0.0 END) / count(*)
             AS oov_rate
    FROM tf LEFT JOIN vocab ON tf.word = vocab.word
    GROUP BY doc_id
    """,
    doc=f"Vocabulary coverage: build a top-{VOCAB_K} corpus vocab "
    "(deterministic tie-break), broadcast it, and score each document's "
    "out-of-vocabulary token rate — the pre-tokenizer coverage check. The "
    "vocab is a broadcast hash join probe; tokens never shuffle for the "
    "membership test.",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = _doc_words(spark, sf_dir)
    vocab = (
        tf.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("r", F.row_number().over(Window.orderBy(F.col("c").desc(), "word")))
        .filter(F.col("r") <= VOCAB_K)
        .select(F.col("word").alias("v_word"))
    )
    joined = tf.join(
        F.broadcast(vocab), tf["word"] == vocab["v_word"], "left"
    )
    oov = F.when(F.col("v_word").isNull(), 1).otherwise(0)
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        (F.sum(oov.cast("double")) / F.count(F.lit(1))).alias("oov_rate"),
    )


@register(
    "text_kl_divergence",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    doc_counts AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
      FROM tf GROUP BY 1, 2
    ),
    corpus AS (
      SELECT word, CAST(sum(c) AS BIGINT) AS cc
      FROM doc_counts GROUP BY word
    ),
    totals AS (SELECT sum(cc) AS total FROM corpus),
    with_n AS (
      SELECT doc_id, word, c,
             sum(c) OVER (PARTITION BY doc_id) AS n_doc
      FROM doc_counts
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(sum((c * 1.0 / n_doc)
               * ln((c * 1.0 / n_doc) / (cc * 1.0 / total))), 4) AS kl_nats
    FROM with_n JOIN corpus USING (word), totals
    GROUP BY doc_id
    """,
    doc="Per-document KL divergence from the corpus unigram distribution "
    "(DSIR/CCNet-style domain-shift signal). Spark plan: per-doc counts "
    "(one shuffle), corpus distribution derived from them (word shuffle on "
    "the already-reduced relation), broadcast corpus probabilities back, "
    "window-sum for per-doc totals on the same doc partitioning.",
)
def text_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc_counts = (
        _doc_words(spark, sf_dir)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    corpus = doc_counts.groupBy("word").agg(F.sum("c").alias("cc"))
    total = corpus.agg(F.sum("cc").alias("total"))
    corpus_p = corpus.join(F.broadcast(total)).select(
        F.col("word").alias("c_word"), (F.col("cc") / F.col("total")).alias("p_corpus")
    )
    n_doc = F.sum("c").over(Window.partitionBy("doc_id"))
    scored = (
        doc_counts.withColumn("n_doc", n_doc)
        .join(maybe_broadcast(corpus_p), F.col("word") == F.col("c_word"))
        .withColumn("p_doc", F.col("c") / F.col("n_doc"))
    )
    return persist_until_collected(
        doc_counts,
        scored.groupBy("doc_id").agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("p_doc") * F.log(F.col("p_doc") / F.col("p_corpus"))),
                4,
            ).alias("kl_nats"),
        ),
    )


def _confusion_oracle() -> str:
    scores = ", ".join(
        f"CAST({_occ_sql(m)} AS BIGINT) AS s_{code}" for code, m in LANG_MARKERS
    )
    all_scores = ", ".join(f"s_{code}" for code, _ in LANG_MARKERS)
    case = " ".join(
        f"WHEN s_{code} >= greatest({all_scores}) THEN '{code}'"
        for code, _ in LANG_MARKERS
    )
    return f"""
    WITH scored AS (SELECT lang AS labeled_lang, {scores} FROM documents),
    pred AS (SELECT labeled_lang, CASE {case} END AS predicted_lang FROM scored)
    SELECT labeled_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY 1, 2
    """


@register(
    "text_langid_confusion",
    oracle=_confusion_oracle(),
    doc="Language-ID confusion matrix: the text_langid heuristic's "
    "predictions aggregated against the labeled lang column — (labeled, "
    "predicted) doc counts. Map-only scoring, one tiny-key shuffle.",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("lang").alias("labeled_lang"),
        *[
            _occurrences(F.col("text"), m).cast("bigint").alias(f"s_{code}")
            for code, m in LANG_MARKERS
        ],
    )
    best = F.greatest(*[F.col(f"s_{code}") for code, _ in LANG_MARKERS])
    pred = F.when(F.col(f"s_{LANG_MARKERS[0][0]}") >= best, LANG_MARKERS[0][0])
    for code, _ in LANG_MARKERS[1:]:
        pred = pred.when(F.col(f"s_{code}") >= best, code)
    return (
        scored.withColumn("predicted_lang", pred)
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


PAIR_TOPK = 50


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pairs AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(range(1, len(t))) u(i)
      WHERE len(t) >= 2
    )
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY w1, w2
    ORDER BY pair_count DESC, w1, w2
    LIMIT {PAIR_TOPK}
    """,
    doc=f"Adjacent-pair frequencies — the counting step of one BPE merge "
    "iteration (the inner loop of tokenizer training). Pair extraction is a "
    "map-side transform over the token array (no per-row Python, no "
    "self-join on position); the only shuffle is the (w1, w2) count, "
    f"partial-aggregated map-side, then a top-{PAIR_TOPK} "
    "TakeOrderedAndProject — per-partition heads merged on the driver, "
    "never a global sort.",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    toks = F.split("text", " ")
    pairs = docs.select(
        F.explode(
            # adjacent pairs via zip_with over two shifted slices — same
            # pairs, same order, ~8x cheaper than sequence+element_at
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).filter(F.size(toks) >= 2)
    return (
        pairs.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "w1", "w2")
        .limit(PAIR_TOPK)
    )


@register(
    "bigram_lm_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    inst AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM toks, unnest(range(1, len(t))) u(i)
      WHERE len(t) >= 2
    ),
    corpus_bg AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
      FROM inst GROUP BY w1, w2
    ),
    corpus_left AS (
      SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
      FROM corpus_bg GROUP BY w1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(b.c2 * 1.0 / l.c1)), 4) AS avg_surprisal_nats
    FROM inst d
    JOIN corpus_bg b USING (w1, w2)
    JOIN corpus_left l USING (w1)
    GROUP BY doc_id
    """,
    doc="Per-document average surprisal under the corpus bigram MLE model "
    "-ln C(w1,w2)/C(w1·) — the n-gram-LM quality score (documents that the "
    "corpus model finds surprising are outliers/noise). Plan: bigram "
    "instances are map-only (explode); the corpus model reduces them with "
    "map-side combine on (w1, w2) — the only shuffle proportional to the "
    "model, not the corpus; c1 folds into the model by a window over the "
    "already-tiny aggregate. Scoring joins the broadcast model back to the "
    "instance stream and aggregates once on doc_id, so the corpus-sized "
    "data shuffles only as per-doc partial rows. At trillion-token scale "
    "with an unpruned model, drop the broadcast and let the co-partitioned "
    "(w1, w2) shuffle join run instead.",
)
def bigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    toks = F.split("text", " ")
    inst = (
        docs.select(
            "doc_id",
            F.explode(
                # adjacent pairs via zip_with over two shifted slices —
                # same pairs, same order, ~8x cheaper than
                # sequence+element_at
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p"),
        )
        .filter(F.size(toks) >= 2)
        .select("doc_id", "p.w1", "p.w2")
    )
    corpus_bg = inst.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    model = corpus_bg.withColumn(
        "c1", F.sum("c2").over(Window.partitionBy("w1")).cast("bigint")
    )
    scored = inst.join(maybe_broadcast(model), ["w1", "w2"])
    return persist_until_collected(
        inst,
        scored.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(-F.log(F.col("c2") / F.col("c1"))), 4).alias(
                "avg_surprisal_nats"
            ),
        ),
    )


FUZZY_MIN_LEN = 4


@register(
    "fuzzy_join_blocked",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT unnest(string_split(p_name, ' ')) AS w FROM part
    ),
    misspells AS (
      SELECT DISTINCT substr(w, 1, 1) || substr(w, 3) AS m
      FROM words WHERE length(w) >= {FUZZY_MIN_LEN}
    ),
    blocked AS (
      SELECT m.m, w.w, levenshtein(m.m, w.w) AS dist
      FROM misspells m JOIN words w
        ON substr(m.m, 1, 1) = substr(w.w, 1, 1)
       AND abs(length(m.m) - length(w.w)) <= 1
    )
    SELECT m, w AS matched_word, CAST(dist AS INT) AS dist
    FROM blocked
    WHERE dist <= 1
    """,
    doc="Blocked fuzzy join (spell-correction / entity-resolution shape): "
    "probe strings (deterministic char-deletion misspellings of the part-"
    "name lexicon) matched to lexicon words within Levenshtein 1, blocked "
    "on (first char, ±1 length band) so Levenshtein only evaluates inside "
    "blocks — never the full cross product. The block join is an equi-join "
    "on the first-char key with a length-band residual; recall is exact for "
    "this edit class (deletions at position ≥ 2 preserve the first char). "
    "Both relations are DISTINCT lexicons — dimension-sized, so at 100 TB "
    "the blocks broadcast.",
)
def fuzzy_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    words = (
        part.select(F.explode(F.split("p_name", " ")).alias("w")).distinct()
    )
    misspells = (
        words.filter(F.length("w") >= FUZZY_MIN_LEN)
        .select(
            F.concat(
                F.substring("w", 1, 1), F.expr("substr(w, 3)")
            ).alias("m")
        )
        .distinct()
    )
    blocked = misspells.join(
        maybe_broadcast(words),
        (F.substring("m", 1, 1) == F.substring("w", 1, 1))
        & (F.abs(F.length("m") - F.length("w")) <= 1),
    ).withColumn("dist", F.levenshtein("m", "w"))
    return persist_until_collected(
        words,
        blocked.filter(F.col("dist") <= 1).select(
            "m",
            F.col("w").alias("matched_word"),
            F.col("dist").cast("int").alias("dist"),
        ),
    )


BPE_ROUNDS = 3


def _duck_merge(w_expr: str, p_expr: str, m_expr: str) -> str:
    """DuckDB expression: greedy left-to-right merge of symbol pair
    ``p_expr`` ('a b') into ``m_expr`` ('ab') within the space-joined
    symbol string ``w_expr`` — merging WHOLE symbols only (a fold over
    the token list, never a substring replace, so a pair can't match
    across a previously-merged symbol boundary)."""
    return (
        f"list_reduce(string_split({w_expr}, ' '), (acc, x) -> "
        f"CASE WHEN regexp_extract(acc, '[^ ]*$') = string_split({p_expr}, ' ')[1] "
        f"AND x = string_split({p_expr}, ' ')[2] "
        f"THEN regexp_replace(acc, '[^ ]*$', '') || {m_expr} "
        f"ELSE acc || ' ' || x END)"
    )


def _merge_pair_arr(arr, p1: str, p2: str, merged: str):
    """Spark expression: greedy left-to-right BPE merge of the adjacent
    symbol pair (p1, p2) -> merged over a symbol array — same whole-symbol
    fold semantics as :func:`_duck_merge` (validated pairwise in tests)."""
    return F.aggregate(
        arr,
        F.slice(arr, 1, 0),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(p1))
            & (x == F.lit(p2)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_oracle() -> str:
    cte = r"""
    WITH freq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      GROUP BY 1
    ),
    lex0 AS (SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS w, c FROM freq)"""
    for k in range(1, BPE_ROUNDS + 1):
        prev = f"lex{k - 1}"
        # DuckDB forbids subqueries inside lambdas: cross-join the 1-row
        # b{k} so its p/m are plain columns the fold lambda can capture
        merge_expr = _duck_merge("w", "p", "m")
        cte += f""",
    pr{k} AS (
      SELECT toks[i] || ' ' || toks[i + 1] AS p, sum(c) AS pc
      FROM (SELECT string_split(w, ' ') AS toks, c,
                   unnest(range(1, len(string_split(w, ' ')))) AS i
            FROM {prev}) t
      GROUP BY 1
    ),
    b{k} AS (SELECT p, replace(p, ' ', '') AS m, pc
             FROM pr{k} ORDER BY pc DESC, p LIMIT 1),
    lex{k} AS (SELECT {merge_expr} AS w, c FROM {prev}, b{k})"""
    sel = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_round, p AS pair, m AS merged, "
        f"CAST(pc AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, BPE_ROUNDS + 1)
    )
    return cte + "\n    " + sel


@register(
    "bpe_learn_merges",
    oracle=_bpe_oracle(),
    doc=f"BPE tokenizer training, {BPE_ROUNDS} merge rounds over the corpus "
    "word lexicon: each round counts adjacent symbol pairs weighted by "
    "word frequency (one shuffle over the DIMENSION-sized lexicon, never "
    "the corpus — the corpus reduces to (word, count) once up front), "
    "collects the argmax pair to the driver as a literal (the kmeans/"
    "PageRank driver-loop precedent: bytes moved per round = one row) and "
    "rewrites the lexicon map-side with a greedy left-to-right WHOLE-"
    "SYMBOL fold (true BPE: a pair never matches across a previously-"
    "merged symbol's boundary). Ties break on (count desc, pair asc). "
    "The oracle unrolls all rounds as chained CTEs whose lexicon rewrite "
    "is the identical fold via list_reduce.",
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_learn(spark, sf_dir)
    # Result rows are driver literals; build them as JVM literal expressions
    # (not createDataFrame, whose local-Python RDD costs a worker spin-up —
    # measured ~1.3 s cold on the bench for 3 rows)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("bigint").alias("merge_round"),
                F.lit(p).alias("pair"),
                F.lit(m).alias("merged"),
                F.lit(c).cast("bigint").alias("pair_count"),
            )
            for k, p, m, c in merges
        ]
    )
    return (
        spark.range(1)
        .select(F.explode(rows).alias("r"))
        .select("r.merge_round", "r.pair", "r.merged", "r.pair_count")
    )


def _bpe_merge_word(
    toks: list[str], p1: str, p2: str, merged: str
) -> list[str]:
    """Pure-Python greedy left-to-right whole-symbol BPE merge — the exact
    fold :func:`_merge_pair_arr` (and the oracle's list_reduce) performs:
    append each symbol unless the accumulator tail is p1 and the symbol is
    p2, in which case the tail becomes the merged symbol (so a pair never
    matches across a previously-merged symbol's boundary)."""
    acc: list[str] = []
    for x in toks:
        if acc and acc[-1] == p1 and x == p2:
            acc[-1] = merged
        else:
            acc.append(x)
    return acc


def _bpe_learn(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """The BPE merge-learning loop shared by bpe_learn_merges and
    bpe_apply_merges: returns [(round, pair, merged, pair_count), ...] as
    driver values.

    The corpus reduces to the (word, count) lexicon once up front. When
    the materialized lexicon is broadcast-sized, it is collected ONCE and
    all rounds run on the driver as exact integer counting + the identical
    greedy fold — same argmax tie-break (count DESC, space-joined pair
    string ASC; driver comparison on the joined string mirrors the SQL
    ORDER BY) — instead of paying per round a pair-count shuffle, an
    argmax collect, and a lexicon rewrite + persist churn. Above the
    threshold the distributed per-round loop executes unchanged (the
    lexicon is dimension-sized but unbounded in principle)."""
    docs = table(spark, sf_dir, "documents", parallel=True)
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lex = freq.select(
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("w"), "c"
    )
    lex.persist()
    merges: list[tuple[int, str, str, int]] = []
    if counted_fits_broadcast(lex, row_bytes=64):
        words = [(r["w"].split(" "), r["c"]) for r in lex.collect()]
        lex.unpersist()
        for k in range(1, BPE_ROUNDS + 1):
            pc: dict[str, int] = {}
            for toks, c in words:
                for i in range(len(toks) - 1):
                    p = toks[i] + " " + toks[i + 1]
                    pc[p] = pc.get(p, 0) + c
            best_p = min(pc, key=lambda p: (-pc[p], p))
            p1, p2 = best_p.split(" ")
            merged = best_p.replace(" ", "")
            merges.append((k, best_p, merged, int(pc[best_p])))
            words = [
                (_bpe_merge_word(toks, p1, p2, merged), c)
                for toks, c in words
            ]
        return merges
    for k in range(1, BPE_ROUNDS + 1):
        toks = F.split("w", " ")
        pairs = (
            lex.filter(F.size(toks) >= 2)
            .select(
                F.explode(
                    # adjacent pairs via zip_with over two shifted
                    # slices — same pairs, same order, ~8x cheaper than
                    # sequence+element_at
                    F.zip_with(
                        F.slice(toks, 1, F.size(toks) - 1),
                        F.slice(toks, 2, F.size(toks) - 1),
                        lambda a, b: F.concat_ws(" ", a, b),
                    )
                ).alias("p"),
                "c",
            )
            .groupBy("p")
            .agg(F.sum("c").alias("pc"))
        )
        best = pairs.orderBy(F.desc("pc"), "p").limit(1).collect()[0]
        merged = best["p"].replace(" ", "")
        p1, p2 = best["p"].split(" ")
        merges.append((k, best["p"], merged, int(best["pc"])))
        nxt = lex.select(
            F.array_join(
                _merge_pair_arr(F.split("w", " "), p1, p2, merged), " "
            ).alias("w"),
            "c",
        )
        nxt.persist()
        lex.unpersist()
        lex = nxt
    lex.unpersist()
    return merges


def _bpe_learned_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """Run the merge-learning loop (same arithmetic as bpe_learn_merges)
    and return [(pair, merged), ...] as driver literals."""
    return [(p, m) for _, p, m, _ in _bpe_learn(spark, sf_dir)]


def _bpe_apply_oracle() -> str:
    # reuse the learn CTEs; apply the three merges per word via lambdas that
    # capture the b_k scalars (cross-joined in as plain columns), each merge
    # the same whole-symbol list_reduce fold the learn loop uses
    learn = _bpe_oracle().split("SELECT 1 AS merge_round")[0].rstrip().rstrip(",")
    expr = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    for k in range(1, BPE_ROUNDS + 1):
        expr = _duck_merge(f"({expr})", f"p{k}", f"m{k}")
    word_expr = f"len(string_split({expr}, ' '))"
    m_cols = ", ".join(
        f"b{k}.p AS p{k}, b{k}.m AS m{k}" for k in range(1, BPE_ROUNDS + 1)
    )
    m_from = ", ".join(f"b{k}" for k in range(1, BPE_ROUNDS + 1))
    return f"""{learn},
    m AS (
      SELECT {m_cols}
      FROM {m_from}
    )
    SELECT doc_id,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_symbols_chars,
           CAST(list_sum(list_transform(string_split(text, ' '),
                w -> {word_expr})) AS BIGINT) AS n_tokens,
           round(length(replace(text, ' ', '')) * 1.0
                 / list_sum(list_transform(string_split(text, ' '),
                      w -> {word_expr})), 4) AS chars_per_token
    FROM documents, m
    """


@register(
    "bpe_apply_merges",
    oracle=_bpe_apply_oracle(),
    doc=f"Tokenizer application: the {BPE_ROUNDS} learned BPE merges are "
    "collected once as driver literals (the learn loop's arithmetic is "
    "shared with bpe_learn_merges) and applied corpus-wide as literal "
    "whole-symbol greedy folds per word — a MAP-ONLY pass at any corpus "
    "size; per-"
    "doc output is the char-level symbol count, the post-merge token "
    "count, and chars-per-token (the compression dial tokenizer teams "
    "actually tune). The oracle re-learns the merges in chained CTEs and "
    "applies them through lambda-captured scalars, so learn AND apply are "
    "verified end-to-end.",
)
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_learned_merges(spark, sf_dir)
    docs = table(spark, sf_dir, "documents", parallel=True)

    def tokenize(w):
        syms = F.split(F.trim(F.regexp_replace(w, "(.)", "$1 ")), " ")
        for pair, merged in merges:
            p1, p2 = pair.split(" ")
            syms = _merge_pair_arr(syms, p1, p2, merged)
        return F.size(syms)

    per_word = F.transform(F.split("text", " "), tokenize)
    n_tokens = F.aggregate(
        per_word, F.lit(0), lambda acc, x: acc + x
    ).cast("bigint")
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_symbols_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / n_tokens, 4).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# docs_topp_quality — per-source nucleus (top-p) selection
# ---------------------------------------------------------------------------

TOPP_PCT = 80  # keep documents covering the top 80% of per-source score mass


@register(
    "docs_topp_quality",
    oracle=f"""
    WITH scored AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS score
      FROM documents
    ), ranked AS (
      SELECT source, doc_id, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS rn,
             sum(score) OVER (PARTITION BY source
                              ORDER BY score DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum,
             sum(score) OVER (PARTITION BY source) AS total
      FROM scored
    )
    SELECT source, doc_id, score, CAST(rn AS BIGINT) AS rn
    FROM ranked
    WHERE (cum - score) * 100 < {TOPP_PCT} * total
    """,
    doc="Per-source nucleus (top-p) document selection: rank documents by a "
    "quality score (token count) within each source and keep the smallest "
    "prefix covering the top "
    f"{TOPP_PCT}% of the source's total score mass — the dataset-curation "
    "step that trims each domain's low-quality tail without a fixed count "
    "cutoff. One window partitioning (source) computes rank, running mass "
    "and total in a single shuffle; the keep decision is pure BIGINT "
    "arithmetic ((cum-score)*100 < p*total), so both engines agree exactly "
    "and the plan is one scan + one window at any corpus size.",
)
def docs_topp_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("score"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.select(
        "source",
        "doc_id",
        "score",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum("score").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("score").over(Window.partitionBy("source")).alias("total"),
    )
    return ranked.filter(
        (F.col("cum") - F.col("score")) * 100 < TOPP_PCT * F.col("total")
    ).select("source", "doc_id", "score", "rn")


# ---------------------------------------------------------------------------
# text_code_detect — code-vs-prose heuristic classifier
# ---------------------------------------------------------------------------

_CODE_SYMBOLS = r"[{}();=<>\[\]]"
_CODE_KEYWORDS = r"\b(def|class|return|import|function|var|const|void|int)\b"


@register(
    "text_code_detect",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_CODE_SYMBOLS}')) AS BIGINT)
             AS sym_cnt,
           CAST(len(regexp_extract_all(lower(text), '{_CODE_KEYWORDS}'))
             AS BIGINT) AS kw_cnt,
           CAST(CASE WHEN len(regexp_extract_all(text, '{_CODE_SYMBOLS}')) * 50
                          > n_chars
                       OR len(regexp_extract_all(lower(text), '{_CODE_KEYWORDS}'))
                          >= 3
                     THEN 1 ELSE 0 END AS BIGINT) AS is_code
    FROM documents
    """,
    doc="Code-vs-prose heuristic (the corpus-routing step before "
    "code-specific filters): per-document counts of code punctuation and "
    "language keywords, flagged as code when symbol density exceeds 2% of "
    "characters or >=3 keyword hits. Pure row-local regexp counting — "
    "map-only, JVM-side regex, no shuffle — and the decision is integer "
    "arithmetic (sym*50 > n_chars), exact in both engines. The same "
    "patterns compile identically under Java regex and RE2 (simple class "
    "+ \\b alternation).",
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    sym = F.regexp_count("text", F.lit(_CODE_SYMBOLS)).cast("bigint")
    kw = F.regexp_count(F.lower("text"), F.lit(_CODE_KEYWORDS)).cast("bigint")
    return docs.select(
        "doc_id",
        sym.alias("sym_cnt"),
        kw.alias("kw_cnt"),
        ((sym * 50 > F.col("n_chars")) | (kw >= 3)).cast("bigint").alias("is_code"),
    )


# ---------------------------------------------------------------------------
# text_perplexity_bucket — CCNet-style surprisal tertiles per language
# ---------------------------------------------------------------------------


@register(
    "text_perplexity_bucket",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), vocab AS (
      SELECT word, count(*) AS cnt FROM w GROUP BY word
    ), total AS (
      SELECT sum(cnt) AS n FROM vocab
    ), scored AS (
      SELECT w.doc_id,
             round(avg(-ln(vocab.cnt * 1.0 / total.n)), 4) AS avg_surprisal
      FROM w JOIN vocab USING (word) CROSS JOIN total
      GROUP BY w.doc_id
    ), bucketed AS (
      SELECT d.lang, s.doc_id, s.avg_surprisal,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY s.avg_surprisal, s.doc_id) AS tert
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT lang, doc_id, avg_surprisal,
           CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS ppl_bucket
    FROM bucketed
    """,
    doc="CCNet-style perplexity bucketing: score every document with the "
    "corpus unigram-LM mean surprisal (same broadcast-vocab single-shuffle "
    "shape as text_unigram_surprisal), then split each language into "
    "head/middle/tail tertiles by ntile(3). The tertile ordering uses the "
    "ROUNDED surprisal plus doc_id as tiebreak, so bucket assignment is "
    "deterministic across engines despite float scoring. Per-language "
    "windows shuffle only (doc_id, lang, score) — 20 bytes per document "
    "regardless of text size.",
)
def text_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    scored = (
        w.join(maybe_broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.round(F.avg(-F.log(F.col("cnt") / F.col("n"))), 4).alias("avg_surprisal"))
    )
    lang = docs.select("doc_id", "lang")
    tert_w = Window.partitionBy("lang").orderBy("avg_surprisal", "doc_id")
    return (
        scored.join(lang, "doc_id")
        .withColumn("tert", F.ntile(3).over(tert_w))
        .select(
            "lang",
            "doc_id",
            "avg_surprisal",
            F.when(F.col("tert") == 1, "head")
            .when(F.col("tert") == 2, "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# docs_ngram_novelty — first-occurrence novelty scoring
# ---------------------------------------------------------------------------


@register(
    "docs_ngram_novelty",
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
      SELECT doc_id, unnest(sh) AS g FROM d
    ), first_seen AS (
      SELECT g, min(doc_id) AS first_doc FROM u GROUP BY g
    )
    SELECT u.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = u.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams,
           round(sum(CASE WHEN f.first_doc = u.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS novelty_ratio
    FROM u JOIN first_seen f USING (g)
    GROUP BY u.doc_id
    """,
    doc="First-occurrence n-gram novelty (dedup-aware quality signal, the "
    "per-document form of RefinedWeb's repeated-span accounting): the "
    "fraction of a document's distinct word-3-grams whose FIRST corpus "
    "occurrence (min doc_id — deterministic under any partitioning) is "
    "this document. Low novelty = mostly-boilerplate/near-dup content "
    "even when no single pair crosses a dedup threshold. Two keyed "
    "aggregations (gram, then doc_id); at 100 TB the gram key hashes to "
    "64-bit ints exactly as the shared shingle relation in dedup.py does "
    "(string grams here keep the oracle engine-identical).",
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    words = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 3
    )
    grams = words.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.slice(F.col("ws"), 1, F.size("ws") - 2),
                    lambda x, i: F.concat_ws(
                        " ",
                        x,
                        F.element_at(F.col("ws"), i + 2),
                        F.element_at(F.col("ws"), i + 3),
                    ),
                )
            )
        ).alias("g"),
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("novel_grams"),
            F.round(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
                / F.count(F.lit(1)),
                6,
            ).alias("novelty_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# docs_quality_ensemble_rank — Borda-count ensemble of quality signals
# ---------------------------------------------------------------------------


@register(
    "docs_quality_ensemble_rank",
    oracle="""
    WITH sig AS (
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_uniq
      FROM documents WHERE text IS NOT NULL
    ),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r_chars,
             row_number() OVER (ORDER BY n_words DESC, doc_id) AS r_words,
             row_number() OVER (
               ORDER BY n_uniq * 1.0 / n_words DESC, doc_id) AS r_uniq
      FROM sig
    )
    SELECT doc_id, CAST(r_chars AS BIGINT) AS r_chars,
           CAST(r_words AS BIGINT) AS r_words,
           CAST(r_uniq AS BIGINT) AS r_uniq,
           CAST(r_chars + r_words + r_uniq AS BIGINT) AS borda,
           CAST(row_number() OVER (
             ORDER BY r_chars + r_words + r_uniq, doc_id) AS BIGINT)
             AS final_rank
    FROM ranked
    """,
    doc="Borda-count ensemble ranking of documents across three quality "
    "signals (length in chars, length in words, lexical diversity): each "
    "signal contributes its rank, the rank SUM orders the final list — "
    "rank aggregation is robust to signals with incomparable scales, "
    "which is why curation pipelines ensemble this way rather than "
    "averaging raw scores. Integer ranks end-to-end (exact parity). "
    "The per-doc signal relation is data-proportional, so each of the "
    "four ranks is the two-pass range-partitioned rank (plans/ranking.py: "
    "boundary literals — sketched for the signals, analytic [3, 3n] for "
    "the borda sum — per-bucket row_number + collected bucket-offset "
    "literals off the persisted signal relation) — no data-proportional "
    "single-partition sort anywhere; "
    "identical to row_number() by construction (the oracle keeps the "
    "window formulation).",
)
def docs_quality_ensemble_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared NULL-text guard on BOTH engines: two_pass_global_rank drops
    # NULL rank keys while the oracle's row_number() would keep them, so
    # a NULL text row must never reach the rank inputs on either side
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = F.split("text", " ")
    sig = docs.select(
        "doc_id",
        "n_chars",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_uniq"),
    ).withColumn("_lexdiv", F.col("n_uniq") * 1.0 / F.col("n_words"))
    # persisted NOW: FOUR chained two-pass boundary sketches run at
    # construction; without the cache each would re-tokenize the corpus.
    # Released on result GC.
    sig = sig.persist()
    # collected_offsets: sig is persisted, so the per-bucket count
    # collections are cheap cache scans at construction (the first three
    # calls' construction jobs column-prune earlier rank windows away),
    # and the executed plan loses all four offset broadcast subplans —
    # each was a serial broadcast-build job per execution, and the
    # borda one re-ran the three signal-rank windows inside it.
    ranked = two_pass_global_rank(
        sig, "n_chars", "doc_id", descending=True,
        rank_col="r_chars", total_col="_n1", collected_offsets=True,
    )
    ranked = two_pass_global_rank(
        ranked, "n_words", "doc_id", descending=True,
        rank_col="r_words", total_col="_n2", collected_offsets=True,
    )
    ranked = two_pass_global_rank(
        ranked, "_lexdiv", "doc_id", descending=True,
        rank_col="r_uniq", total_col="_n3", collected_offsets=True,
    )
    ranked = ranked.withColumn(
        "borda",
        (F.col("r_chars") + F.col("r_words") + F.col("r_uniq")).cast(
            "bigint"
        ),
    )
    # borda = sum of three permutations of 1..n, so its range [3, 3n] is
    # known analytically: explicit evenly-spaced boundaries skip the
    # sketch job that would otherwise execute all three rank windows a
    # second time at construction (any boundary set yields identical
    # ranks — boundaries only balance work).
    n_docs = sig.count()
    borda_bounds = [
        3 + ((3 * n_docs - 3) * (i + 1)) // 32 for i in range(31)
    ]
    ranked = two_pass_global_rank(
        ranked, "borda", "doc_id", descending=False,
        rank_col="final_rank", total_col="_n4",
        collected_offsets=True, boundaries=borda_bounds,
    )
    return release_on_gc(
        sig,
        ranked.select(
            "doc_id",
            "r_chars",
            "r_words",
            "r_uniq",
            "borda",
            F.col("final_rank").cast("bigint").alias("final_rank"),
        ),
    )


# ---------------------------------------------------------------------------
# docs_knn_classify — kNN majority-label classification on embeddings
# ---------------------------------------------------------------------------

KNN_QUERIES = 50  # labeled query set: vec_id < 50
KNN_K = 5


@register(
    "docs_knn_classify",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS true_label, v AS qv
          FROM e WHERE vec_id < {KNN_QUERIES}),
    scored AS (
      SELECT q.query_id, q.true_label, e.label,
             round(list_cosine_similarity(q.qv, e.v), 6) AS cos_sim,
             e.vec_id
      FROM q JOIN e ON e.vec_id <> q.query_id
      WHERE NOT isnan(round(list_cosine_similarity(q.qv, e.v), 6))
    ),
    top AS (
      SELECT query_id, true_label, label FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {KNN_K}
    ),
    votes AS (
      SELECT query_id, true_label, label,
             CAST(count(*) AS BIGINT) AS n_votes
      FROM top GROUP BY 1, 2, 3
    )
    SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
           CAST(label AS BIGINT) AS pred_label, n_votes,
           CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS BIGINT)
             AS correct
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY n_votes DESC, label) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
    doc=f"k-nearest-neighbor label assignment (k={KNN_K}) over the "
    "embedding table: each of the "
    f"{KNN_QUERIES} query vectors takes the majority label of its nearest "
    "neighbors by exact cosine (ties break to the smallest label) — the "
    "semi-supervised labeling / weak-supervision primitive a curation "
    "pipeline uses to propagate a seed taxonomy over an unlabeled corpus. "
    "This is the exact broadcast-NLJ baseline over a BOUNDED query set "
    "(same contract as similarity_topk_bruteforce); the corpus-scale path "
    "swaps the scorer for the IVF/LSH candidate generators "
    "(similarity_ann_ivf / similarity_ann_lsh) and keeps the vote stages "
    "unchanged — votes shuffle only (query_id, label) pairs.",
)
def docs_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mongodb_nats_connector_spark.functions.vectors import cosine_fast

    e = table(spark, sf_dir, "embeddings", parallel=True).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            "label",
            F.round(cosine_fast(F.col("qv"), F.col("v")), 6).alias("cos_sim"),
            "vec_id",
        )
        # NaN guard: Spark's DESC ordering puts NaN FIRST, so one
        # degenerate (zero-norm) vector would enter EVERY query's top-k
        # and shift the vote — drop it before ranking (oracle mirrors)
        .filter(~F.isnan(F.col("cos_sim")))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    top = scored.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= KNN_K
    )
    votes = top.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("bigint").alias("true_label"),
            F.col("label").cast("bigint").alias("pred_label"),
            "n_votes",
            (F.col("label") == F.col("true_label"))
            .cast("bigint")
            .alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# text_heaps_law_fit — vocabulary-growth exponent over the corpus
# ---------------------------------------------------------------------------


@register(
    "text_heaps_law_fit",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
            FROM w GROUP BY 1),
    firsts AS (
      SELECT min(doc_id) AS first_doc FROM w GROUP BY word
    ),
    new_per_doc AS (
      SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1
    ),
    curve AS (
      SELECT t.doc_id,
             sum(t.n_tok) OVER (ORDER BY t.doc_id) AS cum_tok,
             sum(coalesce(n.n_new, 0)) OVER (ORDER BY t.doc_id) AS cum_vocab
      FROM tok t LEFT JOIN new_per_doc n ON n.doc_id = t.doc_id
    )
    SELECT round(regr_slope(ln(cum_vocab), ln(cum_tok)), 4) AS beta,
           round(exp(regr_intercept(ln(cum_vocab), ln(cum_tok))), 4) AS k,
           CAST(max(cum_vocab) AS BIGINT) AS total_vocab,
           CAST(max(cum_tok) AS BIGINT) AS total_tokens,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM curve
    """,
    doc="Heaps-law fit of vocabulary growth: V(N) ~ k * N^beta, fit as a "
    "log-log linear regression over the cumulative (tokens, vocab) curve "
    "in doc_id order. The curve needs no per-row dedup state: each word's "
    "FIRST document (one min-aggregate per word) tells exactly where it "
    "adds 1 to the vocabulary, so cumulative vocab is a prefix sum of "
    "per-doc first-occurrence counts — both cumulative series are exact "
    "integers. beta (~0.5 for natural text) is the capacity-planning "
    "input for any vocabulary-keyed state (BPE lexicons, unigram LMs, "
    "surprisal filters): it says how the [[text-unigram-surprisal]]-style "
    "vocab relation grows when the corpus 100x-es. One explode shuffle "
    "per aggregation; the regression runs over the doc-count-sized curve.",
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tok = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    firsts = w.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    new_per_doc = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    wc = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        tok.join(new_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_tok").over(wc).alias("cum_tok"),
            F.sum(F.coalesce("n_new", F.lit(0))).over(wc).alias("cum_vocab"),
        )
    )
    ln_v, ln_n = F.log(F.col("cum_vocab")), F.log(F.col("cum_tok"))
    return curve.agg(
        F.round(F.regr_slope(ln_v, ln_n), 4).alias("beta"),
        F.round(F.exp(F.regr_intercept(ln_v, ln_n)), 4).alias("k"),
        F.max("cum_vocab").cast("bigint").alias("total_vocab"),
        F.max("cum_tok").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# docs_pmi_collocations — PMI-scored bigram collocations
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5


@register(
    "docs_pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    w AS (
      SELECT doc_id, unnest(t) AS word, generate_subscripts(t, 1) AS pos
      FROM toks
    ),
    big AS (
      SELECT word AS a,
             lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS b
      FROM w
    ),
    bc AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
      FROM big WHERE b IS NOT NULL GROUP BY 1, 2
    ),
    uc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM w),
    m AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_big FROM bc)
    SELECT bc.a, bc.b, bc.c_ab,
           round(ln((bc.c_ab * 1.0 / m.n_big)
                 / ((ua.c * 1.0 / n.n_tok) * (ub.c * 1.0 / n.n_tok))), 6)
             AS pmi
    FROM bc JOIN uc ua ON ua.word = bc.a
    JOIN uc ub ON ub.word = bc.b, n, m
    WHERE bc.c_ab >= {PMI_MIN_COUNT}
    """,
    doc=f"PMI-scored bigram collocations (count >= {PMI_MIN_COUNT}): "
    "pointwise mutual information ln(p(ab)/(p(a)p(b))) over adjacent word "
    "pairs — the phrase-mining signal behind multi-word tokenizer entries "
    "and stop-phrase lists. Adjacency comes from ONE per-doc ordered "
    "window (lead over token position — no self-join on position); both "
    "count relations reduce map-side; the PMI arithmetic runs on the "
    "thresholded bigram relation with the two 1-row totals broadcast. "
    "Identical division order keeps the doubles engine-exact at 6 "
    "decimals.",
)
def docs_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    lw = Window.partitionBy("doc_id").orderBy("pos")
    big = w.select(
        F.col("word").alias("a"), F.lead("word").over(lw).alias("b")
    ).filter(F.col("b").isNotNull())
    # the exploded corpus is scanned exactly TWICE (bigram count, unigram
    # count); the scalar totals derive from the count relations, not from
    # fresh corpus scans, and those relations persist for the result's
    # lifetime since each feeds 2-3 consumers
    bc0 = big.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    )
    bc = bc0.filter(F.col("c_ab") >= PMI_MIN_COUNT)
    uc = w.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    n = uc.agg(F.sum("c").cast("bigint").alias("n_tok"))
    m_tot = bc0.agg(F.sum("c_ab").cast("bigint").alias("n_big"))
    ua = uc.select(F.col("word").alias("wa"), F.col("c").alias("ca"))
    ub = uc.select(F.col("word").alias("wb"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log(
            (F.col("c_ab") * 1.0 / F.col("n_big"))
            / (
                (F.col("ca") * 1.0 / F.col("n_tok"))
                * (F.col("cb") * 1.0 / F.col("n_tok"))
            )
        ),
        6,
    )
    out = (
        bc.join(maybe_broadcast(ua), F.col("a") == F.col("wa"))
        .join(maybe_broadcast(ub), F.col("b") == F.col("wb"))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(m_tot))
        .select("a", "b", "c_ab", pmi.alias("pmi"))
    )
    return persist_until_collected(
        bc0, persist_until_collected(uc, out)
    )


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
# text_readability_flesch — readability scoring as a curation signal
# ---------------------------------------------------------------------------


@register(
    "text_readability_flesch",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, lang, source, n_words, n_sentences, n_syllables,
           206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
             AS flesch_score,
           0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
             - 15.59 AS fk_grade
    FROM f
    WHERE n_words > 0
    """,
    doc="Flesch reading-ease and Flesch-Kincaid grade level per document — "
    "the readability axis of the curation stack next to text_quality's "
    "Gopher-style gates (readability filters are standard in web-corpus "
    "pipelines for separating prose from boilerplate/code, and the FK "
    "grade is a routing feature for difficulty-staged training mixes). "
    "Words from the whitespace split, sentences from terminal-punctuation "
    "counts with the whole-doc-is-one-sentence fallback (greatest(1, .)), "
    "syllables by the vowel-group heuristic (one regexp_extract_all per "
    "doc — the character-class-only pattern both regex dialects agree "
    "on, the text_pii_scrub contract). All three counts are exact "
    "integers; each score is one fixed-order IEEE expression (the "
    "constants 206.835/1.015/84.6/0.39/11.8/15.59 parse to identical "
    "doubles on both engines). Pure map-side projection — zero shuffles, "
    "trivially scales.",
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    f = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")),
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
        )
        .cast("bigint")
        .alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return f.filter(F.col("n_words") > 0).select(
        "doc_id",
        "lang",
        "source",
        "n_words",
        "n_sentences",
        "n_syllables",
        (206.835 - 1.015 * wps - 84.6 * spw).alias("flesch_score"),
        (0.39 * wps + 11.8 * spw - 15.59).alias("fk_grade"),
    )


# ---------------------------------------------------------------------------
# text_yule_k — Yule's characteristic K vocabulary-richness per language
# ---------------------------------------------------------------------------


@register(
    "text_yule_k",
    oracle="""
    WITH w AS (
      SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t != '')) AS word
      FROM documents
    ),
    cnt AS (
      SELECT lang, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY 1, 2
    ),
    agg AS (
      SELECT lang,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM cnt GROUP BY lang
    )
    SELECT lang, n_tokens, n_types,
           CAST(s2 AS BIGINT) AS sum_c2,
           CAST((s2 - n_tokens) * 10000000 //
                (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
             AS yule_k_milli,
           CAST(CAST((s2 - n_tokens) * 10000000 //
                     (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
                AS DOUBLE) / 1000.0 AS yule_k
    FROM agg
    WHERE n_tokens > 0
    ORDER BY lang
    """,
    doc="Yule's characteristic K per language — the classic "
    "author/corpus-level vocabulary-richness constant (K = 1e4 * "
    "(sum m^2*V(m) - N)/N^2 over the frequency spectrum; repetitive "
    "vocabularies score high, and unlike raw type-token ratios K is "
    "approximately length-invariant, which is why stylometry uses it). "
    "The spectrum moment sum m^2*V(m) IS simply sum over the "
    "vocabulary of c^2, so one (lang, word) rollup plus one "
    "lang-rollup computes everything; s2 - N >= 0 always (c^2 >= c), "
    "so the milli-scaled statistic (s2 - N)*1e7 div N^2 floor-divides "
    "a non-negative HUGEINT/DECIMAL numerator to a sub-2^53 BIGINT "
    "before its one display division. Shuffle volume is "
    "vocabulary-sized (the text.py contract), never corpus-sized.",
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda t: t != ""
            )
        ).alias("word"),
    )
    cnt = w.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = cnt.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        _dsum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    km = F.expr(
        "CAST((s2 - n_tokens) * 10000000"
        " div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)"
    )
    return (
        agg.filter(F.col("n_tokens") > 0)
        .select(
            "lang",
            "n_tokens",
            "n_types",
            F.col("s2").cast("bigint").alias("sum_c2"),
            km.alias("yule_k_milli"),
            (km.cast("double") / 1000.0).alias("yule_k"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# text_readability_ari — ARI + Coleman-Liau character-based readability
# ---------------------------------------------------------------------------


@register(
    "text_readability_ari",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                  AS BIGINT) AS n_chars_an,
             CAST(len(list_filter(string_split(text, ' '), t -> t != ''))
                  AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences
      FROM documents
    )
    SELECT doc_id, lang, n_chars_an, n_words, n_sentences,
           4.71 * (CAST(n_chars_an AS DOUBLE) / n_words)
             + 0.5 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 21.43 AS ari_score,
           0.0588 * (100.0 * n_chars_an / n_words)
             - 0.296 * (100.0 * n_sentences / n_words)
             - 15.8 AS coleman_liau_index
    FROM f
    WHERE n_words > 0
    """,
    doc="Automated Readability Index and Coleman-Liau index per document "
    "— the CHARACTER-based readability pair next to "
    "text_readability_flesch's syllable heuristic (ARI/CLI were "
    "designed for machine scoring precisely because character counts "
    "are exact while syllable counts are guesses; routing on both "
    "families catches documents the vowel heuristic misjudges). "
    "Alphanumeric characters come from one global character-class "
    "regexp_replace (the dialect-safe pattern family), words from the "
    "empty-filtered whitespace split, sentences from terminal "
    "punctuation with the whole-doc fallback. All three counts are "
    "exact BIGINTs; each score is one fixed-order IEEE expression "
    "whose literal coefficients parse identically on both engines. "
    "Pure map-side projection — zero shuffles.",
)
def text_readability_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    f = docs.select(
        "doc_id",
        "lang",
        F.length(F.regexp_replace("text", "[^A-Za-z0-9]", ""))
        .cast("bigint")
        .alias("n_chars_an"),
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .cast("bigint")
        .alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")),
        )
        .cast("bigint")
        .alias("n_sentences"),
    )
    cpw = F.col("n_chars_an").cast("double") / F.col("n_words")
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    return f.filter(F.col("n_words") > 0).select(
        "doc_id",
        "lang",
        "n_chars_an",
        "n_words",
        "n_sentences",
        (4.71 * cpw + 0.5 * wps - 21.43).alias("ari_score"),
        (
            0.0588 * (100.0 * F.col("n_chars_an") / F.col("n_words"))
            - 0.296 * (100.0 * F.col("n_sentences") / F.col("n_words"))
            - 15.8
        ).alias("coleman_liau_index"),
    )


# ---------------------------------------------------------------------------
# text_mtld_diversity — MTLD lexical diversity via a per-document fold
# ---------------------------------------------------------------------------

MTLD_TTR_NUM = 72  # factor completes when 100*types < 72*tokens
MTLD_TOPK = 50


def _mtld_merge_spark() -> str:
    newty = (
        "(CASE WHEN array_contains(acc.ty, w) THEN acc.ty"
        " ELSE array_append(acc.ty, w) END)"
    )
    newtk = "(acc.tk + CAST(1 AS BIGINT))"
    cond = f"(100 * size({newty}) < {MTLD_TTR_NUM} * {newtk})"
    return (
        f"(acc, w) -> IF({cond},"
        " named_struct('f', acc.f + CAST(1 AS BIGINT),"
        " 'ty', CAST(array() AS ARRAY<STRING>), 'tk', CAST(0 AS BIGINT)),"
        f" named_struct('f', acc.f, 'ty', {newty}, 'tk', {newtk}))"
    )


def _mtld_oracle() -> str:
    """DuckDB twin as a RECURSIVE CTE over (doc, token index) — the fold
    state (factors, types-list, tokens) is fully interdependent, exactly
    the shape DuckDB's list_reduce struct-mutation hazard corrupts (see
    orders_holt_winters), so tuple-semantics recursion is mandatory."""
    newty = (
        "(CASE WHEN list_contains(f.ty, t.w) THEN f.ty"
        " ELSE list_append(f.ty, t.w) END)"
    )
    newtk = "(f.tk + 1)"
    cond = f"(100 * len({newty}) < {MTLD_TTR_NUM} * {newtk})"
    return f"""
    WITH RECURSIVE d AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t != '')
               AS words
      FROM documents
    ),
    wc AS (
      SELECT doc_id, CAST(len(words) AS BIGINT) AS nw FROM d WHERE
      len(words) > 0
    ),
    nums AS (
      SELECT unnest(generate_series(1, (SELECT max(len(words)) FROM d)))
        AS i
    ),
    tok AS (
      SELECT d.doc_id, CAST(n.i AS BIGINT) AS i,
             d.words[CAST(n.i AS INTEGER)] AS w
      FROM d JOIN nums n ON n.i <= len(d.words)
    ),
    f AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS fac,
             CAST([] AS VARCHAR[]) AS ty, CAST(0 AS BIGINT) AS tk
      FROM wc
      UNION ALL
      SELECT t.doc_id, t.i,
             CASE WHEN {cond} THEN f.fac + 1 ELSE f.fac END AS fac,
             CASE WHEN {cond} THEN CAST([] AS VARCHAR[])
                  ELSE {newty} END AS ty,
             CASE WHEN {cond} THEN CAST(0 AS BIGINT)
                  ELSE {newtk} END AS tk
      FROM f JOIN tok t ON t.doc_id = f.doc_id AND t.i = f.i + 1
    ),
    fin AS (
      SELECT f.doc_id, w.nw, f.fac,
             CAST(len(f.ty) AS BIGINT) AS ty_end, f.tk AS tk_end
      FROM f JOIN wc w ON w.doc_id = f.doc_id AND f.i = w.nw
    ),
    scored AS (
      SELECT doc_id, nw, fac,
             fac * 1000000
               + CASE WHEN tk_end > 0
                 THEN CAST((tk_end * 100 - ty_end * 100) * 1000000
                      // ((100 - {MTLD_TTR_NUM}) * tk_end) AS BIGINT)
                 ELSE 0 END AS factors_ppm
      FROM fin
    )
    SELECT doc_id, nw AS n_words, fac AS full_factors, factors_ppm,
           CAST(CAST(nw AS HUGEINT) * 1000000000 // factors_ppm AS BIGINT)
             AS mtld_milli,
           CAST(CAST(CAST(nw AS HUGEINT) * 1000000000 // factors_ppm
                     AS BIGINT) AS DOUBLE) / 1000.0 AS mtld
    FROM scored
    WHERE factors_ppm > 0
    ORDER BY mtld_milli DESC, doc_id
    LIMIT {MTLD_TOPK}
    """


@register(
    "text_mtld_diversity",
    oracle=_mtld_oracle(),
    doc="MTLD (Measure of Textual Lexical Diversity, McCarthy & Jarvis "
    "2010) per document: walk the token stream, and each time the "
    "running type-token ratio of the current segment drops below 0.72, "
    "close a 'factor' and reset; MTLD = tokens / factors (with the "
    "standard partial-factor remainder (1 - TTR_end)/(1 - 0.72) — the "
    "forward pass only, documented). Unlike raw TTR (text_stats) or "
    "Yule's K, MTLD is explicitly designed to be text-LENGTH invariant, "
    "which is what a curation mix needs when documents vary 100x in "
    "size. The threshold check is exact integer cross-multiplication "
    "(100*types < 72*tokens — no float TTR anywhere), the partial "
    "factor is ppm-scaled integer division on non-negative numerators "
    "(TTR_end <= 1 always), and mtld_milli = nw*1e9 div factors_ppm "
    "anchors the hash. Spark folds per document with the aggregate HOF "
    "(simultaneous-field semantics); the DuckDB twin is a RECURSIVE "
    "CTE over (doc, token index) because its fold state is exactly the "
    "interdependent-struct shape list_reduce corrupts (the "
    "orders_holt_winters finding). Per-document state never crosses "
    "documents — embarrassingly parallel at any scale; top-"
    f"{MTLD_TOPK} by diversity ship via TakeOrderedAndProject.",
)
def text_mtld_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    d = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda t: t != ""
        ).alias("words"),
    ).filter(F.size("words") > 0)
    folded = d.select(
        "doc_id",
        F.size("words").cast("bigint").alias("nw"),
        F.expr(
            "aggregate(words,"
            " named_struct('f', CAST(0 AS BIGINT),"
            " 'ty', CAST(array() AS ARRAY<STRING>),"
            " 'tk', CAST(0 AS BIGINT)),"
            f" {_mtld_merge_spark()})"
        ).alias("st"),
    )
    scored = folded.select(
        "doc_id",
        "nw",
        F.col("st.f").alias("fac"),
        (
            F.col("st.f") * 1000000
            + F.when(
                F.col("st.tk") > 0,
                F.expr(
                    "CAST((st.tk * 100 - size(st.ty) * 100) * 1000000"
                    f" div ((100 - {MTLD_TTR_NUM}) * st.tk) AS BIGINT)"
                ),
            ).otherwise(F.lit(0))
        ).alias("factors_ppm"),
    )
    mtld_milli = F.expr(
        "CAST(CAST(nw AS DECIMAL(38,0)) * 1000000000 div factors_ppm"
        " AS BIGINT)"
    )
    return (
        scored.filter(F.col("factors_ppm") > 0)
        .select(
            "doc_id",
            F.col("nw").alias("n_words"),
            F.col("fac").alias("full_factors"),
            "factors_ppm",
            mtld_milli.alias("mtld_milli"),
            (mtld_milli.cast("double") / 1000.0).alias("mtld"),
        )
        .orderBy(F.col("mtld_milli").desc(), "doc_id")
        .limit(MTLD_TOPK)
    )


# ---------------------------------------------------------------------------
# text_gunning_fog — complex-word readability per document
# ---------------------------------------------------------------------------


@register(
    "text_gunning_fog",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), t -> t != ''))
                  AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences,
             CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> len(regexp_extract_all(w, '[aeiouy]+')) >= 3))
                  AS BIGINT) AS n_complex
      FROM documents
    )
    SELECT doc_id, lang, n_words, n_sentences, n_complex,
           0.4 * (CAST(n_words AS DOUBLE) / n_sentences
                  + 100.0 * n_complex / n_words) AS fog_index
    FROM f
    WHERE n_words > 0
    """,
    doc="Gunning fog index per document: 0.4*(words/sentence + 100*"
    "complex/words) with 'complex' = three or more vowel groups (the "
    "same dialect-safe [aeiouy]+ heuristic as text_readability_flesch, "
    "applied per word) — the third readability family beside Flesch's "
    "per-syllable rate and ARI/CLI's character counts: fog keys on the "
    "TAIL of the syllable distribution (share of polysyllabic words), "
    "so it separates jargon-dense prose from merely long-winded prose "
    "the averages conflate. Word/sentence/complex counts are exact "
    "integers from one map-side projection (the per-word filter is a "
    "JVM higher-order function over the whitespace split — no UDF); "
    "the index is one fixed-order IEEE expression. Zero shuffles.",
)
def text_gunning_fog(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    f = docs.select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .cast("bigint")
        .alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")),
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.size(
            F.expr(
                "filter(split(lower(text), ' '),"
                " w -> size(regexp_extract_all(w, '[aeiouy]+', 0)) >= 3)"
            )
        )
        .cast("bigint")
        .alias("n_complex"),
    )
    return f.filter(F.col("n_words") > 0).select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_complex",
        (
            0.4
            * (
                F.col("n_words").cast("double") / F.col("n_sentences")
                + 100.0 * F.col("n_complex") / F.col("n_words")
            )
        ).alias("fog_index"),
    )


# ---------------------------------------------------------------------------
# text_lix_rix — LIX / RIX readability (long-word based, language-agnostic)
# ---------------------------------------------------------------------------


@register(
    "text_lix_rix",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), t -> t != ''))
                  AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences,
             CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 6))
                  AS BIGINT) AS n_long
      FROM documents
    )
    SELECT doc_id, lang, n_words, n_sentences, n_long,
           CAST(n_words AS DOUBLE) / n_sentences
             + 100.0 * n_long / n_words AS lix,
           CAST(n_long AS DOUBLE) / n_sentences AS rix
    FROM f
    WHERE n_words > 0
    """,
    doc="LIX and RIX readability per document: Bjornsson's LIX = "
    "words/sentence + 100*longwords/words and Anderson's RIX = "
    "longwords/sentence, with 'long' = more than 6 characters — the "
    "language-AGNOSTIC readability family (no syllable heuristic at "
    "all), which is why multilingual corpus pipelines prefer it over "
    "Flesch/fog for non-English shards. Counts are exact integers from "
    "one map-side projection (JVM higher-order filter over the "
    "whitespace split — no UDF); each index is a fixed-order IEEE "
    "expression over exact sub-2^53 integers. Zero shuffles.",
)
def text_lix_rix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    f = docs.select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .cast("bigint")
        .alias("n_words"),
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")),
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.size(F.expr("filter(split(text, ' '), w -> length(w) > 6)"))
        .cast("bigint")
        .alias("n_long"),
    )
    return f.filter(F.col("n_words") > 0).select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_long",
        (
            F.col("n_words").cast("double") / F.col("n_sentences")
            + F.lit(100.0) * F.col("n_long") / F.col("n_words")
        ).alias("lix"),
        (F.col("n_long").cast("double") / F.col("n_sentences")).alias("rix"),
    )


# ---------------------------------------------------------------------------
# text_smog_index — polysyllable readability per document
# ---------------------------------------------------------------------------


@register(
    "text_smog_index",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences,
             CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> len(regexp_extract_all(w, '[aeiouy]+')) >= 3))
                  AS BIGINT) AS n_poly
      FROM documents
    )
    SELECT doc_id, lang, n_sentences, n_poly,
           1.0430 * sqrt(30.0 * CAST(n_poly AS DOUBLE) / n_sentences)
             + 3.1291 AS smog_index
    FROM f
    """,
    doc="SMOG grade per document: 1.0430*sqrt(polysyllables * 30/"
    "sentences) + 3.1291, with polysyllabic = three or more vowel "
    "groups ([aeiouy]+, the same dialect-safe heuristic as "
    "text_gunning_fog's complex-word count) — SMOG is the readability "
    "formula health literacy standardized on, and unlike fog's linear "
    "blend it is PURELY tail-driven (sentence length never enters "
    "except as the normalizer). Counts are exact integers from one "
    "map-side projection (JVM higher-order filter — no UDF); the "
    "index is a fixed-order IEEE expression (one exact-int division, "
    "one sqrt, one multiply-add). Zero shuffles.",
)
def text_smog_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    f = docs.select(
        "doc_id",
        "lang",
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")),
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.size(
            F.expr(
                "filter(split(lower(text), ' '),"
                " w -> size(regexp_extract_all(w, '[aeiouy]+', 0)) >= 3)"
            )
        )
        .cast("bigint")
        .alias("n_poly"),
    )
    return f.select(
        "doc_id",
        "lang",
        "n_sentences",
        "n_poly",
        (
            F.lit(1.0430)
            * F.sqrt(
                F.lit(30.0)
                * F.col("n_poly").cast("double")
                / F.col("n_sentences")
            )
            + F.lit(3.1291)
        ).alias("smog_index"),
    )


# ---------------------------------------------------------------------------
# text_lexical_richness — vocabulary growth / hapax profile per document
# ---------------------------------------------------------------------------


@register(
    "text_lexical_richness",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                            t -> t != '')) AS word
      FROM documents
    ),
    wc AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY doc_id, word
    ),
    d AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dis
      FROM wc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types, n_hapax, n_dis,
           CAST(1000000000 * n_types // n_tokens AS BIGINT) AS ttr_ppb,
           CAST(1000000000 * n_hapax // n_tokens AS BIGINT) AS hapax_ppb,
           CAST(n_types AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE))
             AS guiraud_r
    FROM d WHERE n_tokens > 0
    """,
    doc="Lexical-richness profile per document: type count, hapax and dis "
    "legomena counts, type-token ratio, hapax ratio, and Guiraud's "
    "R = V/sqrt(N) (the length-corrected TTR that stays comparable "
    "across documents of different sizes without MTLD's sequential "
    "factor machinery) — the vocabulary-growth quality signals an LLM "
    "curation pipeline thresholds on (hapax-heavy docs are noisy/"
    "OCR-damaged; hapax-starved docs are boilerplate, complementing "
    "text_yule_k's repeat-rate view). One explode + per-(doc, word) "
    "count + per-doc rollup — both shuffles keyed, no global state; "
    "ratios are non-negative ppb floor-divisions and Guiraud is one "
    "fixed-order IEEE expression.",
)
def text_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("word"),
    )
    wc = w.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    d = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dis"),
    )
    return d.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        "n_dis",
        F.expr("1000000000 * n_types div n_tokens").alias("ttr_ppb"),
        F.expr("1000000000 * n_hapax div n_tokens").alias("hapax_ppb"),
        (
            F.col("n_types").cast("double")
            / F.sqrt(F.col("n_tokens").cast("double"))
        ).alias("guiraud_r"),
    )


# ---------------------------------------------------------------------------
# text_word_burstiness — Fano factor of top words across documents
# ---------------------------------------------------------------------------


@register(
    "text_word_burstiness",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                            t -> t != '')) AS word
      FROM documents
    ),
    dt AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents),
    wc AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY doc_id, word
    ),
    top AS (
      SELECT word, CAST(sum(c) AS BIGINT) AS total
      FROM wc GROUP BY word
      ORDER BY total DESC, word LIMIT 50
    ),
    st AS (
      SELECT wc.word,
             CAST(count(*) AS BIGINT) AS n_docs_present,
             CAST(sum(wc.c) AS BIGINT) AS s,
             CAST(sum(CAST(wc.c AS HUGEINT) * wc.c) AS BIGINT) AS ss
      FROM wc JOIN top ON top.word = wc.word
      GROUP BY wc.word
    )
    SELECT st.word, st.n_docs_present, st.s AS total_count,
           CAST(1000000000 * st.s // dt.d AS BIGINT) AS mean_ppb,
           CAST((1000000000 * (CAST(dt.d AS HUGEINT) * st.ss
                               - CAST(st.s AS HUGEINT) * st.s))
                // (CAST(dt.d AS HUGEINT) * st.s) AS BIGINT) AS fano_ppb
    FROM st CROSS JOIN dt
    ORDER BY st.s DESC, st.word
    """,
    doc="Church-Gale burstiness of the 50 most frequent words: the Fano "
    "factor Var/Mean of the per-document count (zeros included — the "
    "population moments use the FULL document count D, so absence "
    "carries weight), near 1.0e9 ppb for Poisson-scattered function "
    "words and far above it for bursty content words — the signal "
    "that separates topical vocabulary from glue without any stopword "
    "list, and flags template/boilerplate shards (uniformly LOW "
    "burstiness) in corpus curation. Fano = (D*SS - S^2)/(D*S) stays "
    "an exact HUGEINT/DECIMAL(38,0) rational floor-divided to ppb on "
    "non-negative operands. One explode into a keyed (doc, word) "
    "count, a top-50 TakeOrderedAndProject with a deterministic "
    "(total DESC, word) tie-break, and a broadcast semi-join back — "
    "vocabulary-sized shuffles only.",
)
def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("word"),
    )
    wc = w.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wc = wc.persist()
    top = (
        wc.groupBy("word")
        .agg(F.sum("c").cast("bigint").alias("total"))
        .orderBy(F.desc("total"), "word")
        .limit(50)
        .select("word")
    )
    dt = docs.agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    st = (
        wc.join(F.broadcast(top), "word")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_present"),
            F.sum("c").cast("bigint").alias("s"),
            _dsum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("bigint")
            .alias("ss"),
        )
    )
    _out = (
        st.crossJoin(F.broadcast(dt))
        .select(
            "word",
            "n_docs_present",
            F.col("s").alias("total_count"),
            F.expr("CAST(1000000000 * s div d AS BIGINT)").alias("mean_ppb"),
            F.expr(
                "CAST((1000000000 * (CAST(d AS DECIMAL(38,0)) * ss"
                "                    - CAST(s AS DECIMAL(38,0)) * s))"
                " div (CAST(d AS DECIMAL(38,0)) * s) AS BIGINT)"
            ).alias("fano_ppb"),
        )
        .orderBy(F.desc("total_count"), "word")
    )
    return release_on_gc(wc, _out)


# ---------------------------------------------------------------------------
# docs_winnowing_fingerprint — MOSS-style winnowed document fingerprints
# ---------------------------------------------------------------------------


@register(
    "docs_winnowing_fingerprint",
    oracle="""
    WITH arr AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> t != '') AS a
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             CAST(CAST('0x' || substr(md5(array_to_string(a[i+1:i+5], ' ')),
                                      1, 15) AS BIGINT) AS BIGINT) AS h
      FROM arr, unnest(range(0, greatest(len(a) - 4, 0))) AS t(i)
    ),
    wm AS (
      SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM g
    ),
    sel AS (
      SELECT DISTINCT doc_id, fp FROM wm WHERE pos >= 3
    )
    SELECT s.doc_id,
           CAST(max(g2.pos) + 1 AS BIGINT) AS n_grams,
           CAST(count(DISTINCT s.fp) AS BIGINT) AS n_fingerprints,
           CAST(min(s.fp) AS BIGINT) AS fp_min,
           CAST(max(s.fp) AS BIGINT) AS fp_max,
           CAST(sum(DISTINCT CAST(s.fp AS HUGEINT)) % 9007199254740993
                AS BIGINT) AS fp_checksum
    FROM sel s JOIN g g2 ON g2.doc_id = s.doc_id
    GROUP BY s.doc_id
    """,
    doc="Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the "
    "MOSS algorithm): hash every 5-word shingle, slide a window of 4 "
    "hashes, keep each window's minimum — the selection guarantees any "
    "match of 8+ words shares a fingerprint while storing only "
    "~2/(w+1) of the hashes, which is the property that makes "
    "plagiarism/near-dup detection INDEX-SIZED instead of text-sized "
    "(text_fingerprint keeps every rolling hash; winnowing is its "
    "sublinear production form). The shingle hash is the first 15 md5 "
    "hex chars as int64 (the dedup_simhash cross-engine idiom); "
    "window-min runs PARTITIONED per doc (never global), and the "
    "per-doc digest (count, min/max, sum-mod-prime checksum of the "
    "distinct fingerprint set) is order-independent exact integer "
    "arithmetic. Zero unkeyed shuffles.",
)
def docs_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    arr = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias(
            "a"
        ),
    )
    g = arr.select(
        "doc_id",
        F.posexplode(
            F.transform(
                # short docs must yield ZERO grams, not sequence(0,-1) —
                # Spark sequences DESCEND when stop < start and slice(_, 0,
                # 5) then throws; the oracle's range(0, greatest(len-4, 0))
                # is naturally empty
                F.when(
                    F.size("a") >= 5,
                    F.sequence(F.lit(0), F.size("a") - 5),
                ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)")),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.encode(
                                F.array_join(
                                    F.slice(F.col("a"), i + 1, 5), " "
                                ),
                                "utf-8",
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
        ).alias("pos", "h"),
    )
    g = g.persist()
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-3, 0)
    )
    wm = g.select("doc_id", "pos", F.min("h").over(w).alias("fp"))
    sel = wm.filter(F.col("pos") >= 3).select("doc_id", "fp").distinct()
    ng = g.groupBy("doc_id").agg(
        (F.max("pos") + 1).cast("bigint").alias("n_grams")
    )
    agg = sel.groupBy("doc_id").agg(
        F.countDistinct("fp").cast("bigint").alias("n_fingerprints"),
        F.min("fp").cast("bigint").alias("fp_min"),
        F.max("fp").cast("bigint").alias("fp_max"),
        F.expr(
            "CAST(sum(DISTINCT CAST(fp AS DECIMAL(38,0)))"
            " % 9007199254740993 AS BIGINT)"
        ).alias("fp_checksum"),
    )
    _out = agg.join(ng, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_fingerprints",
        "fp_min",
        "fp_max",
        "fp_checksum",
    )
    return release_on_gc(g, _out)


# ---------------------------------------------------------------------------
# text_dale_chall — familiar-word readability with a corpus-derived list
# ---------------------------------------------------------------------------


@register(
    "text_dale_chall",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                            t -> t != '')) AS word
      FROM documents
    ),
    easy AS (
      SELECT word FROM (
        SELECT word, count(*) AS cnt FROM w GROUP BY word
        ORDER BY cnt DESC, word LIMIT 200
      )
    ),
    per AS (
      SELECT w.doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(CASE WHEN e.word IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_difficult
      FROM w LEFT JOIN easy e ON e.word = w.word
      GROUP BY w.doc_id
    ),
    sent AS (
      SELECT doc_id,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                  AS BIGINT) AS n_sentences
      FROM documents
    )
    SELECT p.doc_id, p.n_words, p.n_difficult, s.n_sentences,
           0.1579 * (100.0 * CAST(p.n_difficult AS DOUBLE) / p.n_words)
             + 0.0496 * (CAST(p.n_words AS DOUBLE) / s.n_sentences)
             + CASE WHEN 20 * p.n_difficult > p.n_words
                    THEN 3.6365 ELSE 0.0 END AS dale_chall
    FROM per p JOIN sent s ON s.doc_id = p.doc_id
    WHERE p.n_words > 0
    """,
    doc="Dale-Chall readability with a corpus-derived familiar-word list: "
    "the 200 most frequent corpus words (deterministic count-desc, "
    "word-asc tie-break) stand in for the static Dale list — the "
    "familiarity-based readability family (word LOOKUP, not length "
    "or syllables), which is the strongest single predictor in the "
    "classic comprehension studies and, with a corpus-derived list, "
    "doubles as an out-of-domain detector: documents scoring high "
    "use vocabulary the corpus itself rarely sees. The raw-score "
    "adjustment (+3.6365 when difficult share exceeds 5%) gates on "
    "the EXACT integer comparison 20*difficult > words — no float "
    "threshold; the score is a fixed-order IEEE expression. One "
    "explode, a 200-row TakeOrderedAndProject, and a broadcast "
    "anti-style left join — vocabulary-sized shuffles.",
)
def text_dale_chall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("word"),
    )
    w = w.persist()
    easy = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(200)
        .select("word", F.lit(1).alias("is_easy"))
    )
    per = (
        w.join(F.broadcast(easy), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.when(F.col("is_easy").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_difficult"),
        )
    )
    sent = docs.select(
        "doc_id",
        F.greatest(
            F.lit(1),
            F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")),
        )
        .cast("bigint")
        .alias("n_sentences"),
    )
    _out = (
        per.join(sent, "doc_id")
        .filter(F.col("n_words") > 0)
        .select(
            "doc_id",
            "n_words",
            "n_difficult",
            "n_sentences",
            (
                F.lit(0.1579)
                * (
                    F.lit(100.0)
                    * F.col("n_difficult").cast("double")
                    / F.col("n_words")
                )
                + F.lit(0.0496)
                * (F.col("n_words").cast("double") / F.col("n_sentences"))
                + F.when(
                    20 * F.col("n_difficult") > F.col("n_words"),
                    F.lit(3.6365),
                ).otherwise(F.lit(0.0))
            ).alias("dale_chall"),
        )
    )
    return release_on_gc(w, _out)


# ---------------------------------------------------------------------------
# text_source_vocab_overlap — cross-source vocabulary Jaccard matrix
# ---------------------------------------------------------------------------


@register(
    "text_source_vocab_overlap",
    oracle="""
    WITH w AS (
      SELECT DISTINCT source,
             unnest(list_filter(string_split(lower(text), ' '),
                    t -> t != '')) AS word
      FROM documents
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM w GROUP BY 1
    ),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM w a JOIN w b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           sa.vocab AS vocab_a, sb.vocab AS vocab_b, i.n_shared,
           CAST(1000000000 * i.n_shared
                // (sa.vocab + sb.vocab - i.n_shared) AS BIGINT)
             AS jaccard_ppb
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    ORDER BY i.source_a, i.source_b
    """,
    doc="Pairwise vocabulary Jaccard between corpus sources: distinct-word "
    "sets per source, intersected through one word-keyed equi-join "
    "(source count is small, so the pair fan-out per word is bounded "
    "by a constant) — the corpus-drift matrix a curation pipeline "
    "watches across snapshots: a source whose overlap with every "
    "other source suddenly drops went off-distribution (scraper broke, "
    "language flipped), and a pair approaching 1e9 ppb is a mirror-"
    "site duplication signal at the SOURCE level, upstream of the "
    "per-document dedup_* operators. Vocabulary-sized shuffles; the "
    "Jaccard is one non-negative integer floor-division.",
)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("word"),
    ).distinct()
    w = w.persist()
    sizes = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab")
    )
    a = w.select(F.col("source").alias("source_a"), "word")
    bb = w.select(F.col("source").alias("source_b"), "word")
    inter = (
        a.join(bb, "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b")
    )
    _out = (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.expr(
                "CAST(1000000000 * n_shared"
                " div (vocab_a + vocab_b - n_shared) AS BIGINT)"
            ).alias("jaccard_ppb"),
        )
        .orderBy("source_a", "source_b")
    )
    return release_on_gc(w, _out)


# ---------------------------------------------------------------------------
# text_sttr_segments — standardized type-token ratio over fixed segments
# ---------------------------------------------------------------------------

STTR_SEG = 50  # words per segment (the corpus-linguistics default scale)


@register(
    "text_sttr_segments",
    oracle=f"""
    WITH arr AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(lower(text), ' '), t -> t != '') AS a
      FROM documents
    ),
    seg AS (
      SELECT doc_id, lang, source,
             CAST(len(a) AS BIGINT) AS n_words,
             CAST(len(a) // {STTR_SEG} AS BIGINT) AS fs,
             CAST(list_sum(list_transform(
                    range(0, len(a) // {STTR_SEG}),
                    i -> len(list_distinct(
                           a[{STTR_SEG} * i + 1 : {STTR_SEG} * i
                             + {STTR_SEG}]))))
                  AS BIGINT) AS ttr_sum
      FROM arr
      WHERE len(a) >= {STTR_SEG}
    )
    SELECT doc_id, lang, source, n_words,
           fs AS n_segments,
           CAST((1000000 * ttr_sum) // (fs * {STTR_SEG}) AS BIGINT)
             AS sttr_ppm
    FROM seg
    """,
    doc=f"Standardized type-token ratio (STTR) per document: mean "
    f"distinct-word ratio over consecutive full {STTR_SEG}-word "
    "segments — the corpus-linguistics fix for raw TTR's length "
    "dependence (longer texts repeat more, so raw TTR is "
    "incomparable across lengths; averaging fixed-size windows makes "
    "it comparable — text_mtld_diversity solves the same problem with "
    "an adaptive threshold fold, Yule's K with a frequency-spectrum "
    "moment; STTR is the fixed-window classic). Reported in exact ppm "
    "= (1e6 * sum of per-segment distinct counts) div (segments * "
    f"{STTR_SEG}), one non-negative floor-division. The entire "
    "computation is MAP-SIDE: tokenize, then a higher-order "
    "`aggregate` over the segment indices slices the word array and "
    "counts distincts per slice inside the row — ZERO shuffles, no "
    "explode, no per-word rows (the DuckDB twin is "
    "list_sum/list_transform over the same slices). Scales as a pure "
    "scan: 100 TB of documents stream through with no exchange at "
    "all.",
)
def text_sttr_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    arr = docs.select(
        "doc_id",
        "lang",
        "source",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias(
            "a"
        ),
    )
    seg = arr.filter(F.size("a") >= STTR_SEG).select(
        "doc_id",
        "lang",
        "source",
        F.size("a").cast("bigint").alias("n_words"),
        F.expr(f"CAST(size(a) div {STTR_SEG} AS BIGINT)").alias("fs"),
        F.expr(
            f"CAST(aggregate(sequence(0, size(a) div {STTR_SEG} - 1),"
            f" 0L, (acc, i) -> acc + size(array_distinct("
            f"slice(a, {STTR_SEG} * i + 1, {STTR_SEG})))) AS BIGINT)"
        ).alias("ttr_sum"),
    )
    return seg.select(
        "doc_id",
        "lang",
        "source",
        "n_words",
        F.col("fs").alias("n_segments"),
        F.expr(
            f"CAST((1000000 * ttr_sum) div (fs * {STTR_SEG}) AS BIGINT)"
        ).alias("sttr_ppm"),
    )


# ---------------------------------------------------------------------------
# text_mattr — moving-average type-token ratio (strided windows)
# ---------------------------------------------------------------------------

MATTR_WIN = 50
MATTR_STEP = 10


@register(
    "text_mattr",
    oracle=f"""
    WITH arr AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(lower(text), ' '), t -> t != '') AS a
      FROM documents
    ),
    seg AS (
      SELECT doc_id, lang, source,
             CAST(len(a) AS BIGINT) AS n_words,
             CAST((len(a) - {MATTR_WIN}) // {MATTR_STEP} + 1 AS BIGINT)
               AS n_windows,
             CAST(list_sum(list_transform(
                    range(0, (len(a) - {MATTR_WIN}) // {MATTR_STEP} + 1),
                    i -> len(list_distinct(
                           a[{MATTR_STEP} * i + 1 : {MATTR_STEP} * i
                             + {MATTR_WIN}]))))
                  AS BIGINT) AS ttr_sum
      FROM arr
      WHERE len(a) >= {MATTR_WIN}
    )
    SELECT doc_id, lang, source, n_words, n_windows,
           CAST((1000000 * ttr_sum) // (n_windows * {MATTR_WIN})
                AS BIGINT) AS mattr_ppm
    FROM seg
    """,
    doc=f"Moving-average type-token ratio (MATTR, Covington-McFall) per "
    f"document: mean distinct-word ratio over {MATTR_WIN}-word windows "
    f"slid at stride {MATTR_STEP} — the OVERLAPPING-window diversity "
    "measure that smooths text_sttr_segments' segment-boundary "
    "artifacts (STTR jumps when a repetition straddles a boundary; "
    "MATTR's sliding windows see it either way — MTLD is the "
    "adaptive-threshold third of the family). The stride bounds work "
    f"per document at ~{MATTR_WIN}/{MATTR_STEP}x the token count, and "
    "the whole computation stays MAP-SIDE: one higher-order "
    "`aggregate` over the window starts slices the word array in-row "
    "— ZERO shuffles, a pure scan at any corpus size. Exact ppm via "
    "one non-negative floor-division.",
)
def text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    arr = docs.select(
        "doc_id",
        "lang",
        "source",
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias(
            "a"
        ),
    )
    seg = arr.filter(F.size("a") >= MATTR_WIN).select(
        "doc_id",
        "lang",
        "source",
        F.size("a").cast("bigint").alias("n_words"),
        F.expr(
            f"CAST((size(a) - {MATTR_WIN}) div {MATTR_STEP} + 1 AS BIGINT)"
        ).alias("n_windows"),
        F.expr(
            f"CAST(aggregate(sequence(0,"
            f" (size(a) - {MATTR_WIN}) div {MATTR_STEP}),"
            f" 0L, (acc, i) -> acc + size(array_distinct("
            f"slice(a, {MATTR_STEP} * i + 1, {MATTR_WIN})))) AS BIGINT)"
        ).alias("ttr_sum"),
    )
    return seg.select(
        "doc_id",
        "lang",
        "source",
        "n_words",
        "n_windows",
        F.expr(
            f"CAST((1000000 * ttr_sum) div (n_windows * {MATTR_WIN})"
            " AS BIGINT)"
        ).alias("mattr_ppm"),
    )


# ---------------------------------------------------------------------------
# text_gries_dp — corpus-part dispersion of the top words
# ---------------------------------------------------------------------------

GRIES_TOPK = 50


@register(
    "text_gries_dp",
    oracle=f"""
    WITH w AS (
      SELECT source,
             unnest(list_filter(string_split(lower(text), ' '),
                                t -> t != '')) AS word
      FROM documents
    ),
    wc AS (
      SELECT word, source, CAST(count(*) AS BIGINT) AS v
      FROM w GROUP BY 1, 2
    ),
    parts AS (
      SELECT source, CAST(sum(v) AS BIGINT) AS s FROM wc GROUP BY source
    ),
    tot AS (SELECT CAST(sum(s) AS BIGINT) AS st FROM parts),
    topw AS (
      SELECT word, CAST(sum(v) AS BIGINT) AS f
      FROM wc GROUP BY word
      ORDER BY f DESC, word LIMIT {GRIES_TOPK}
    ),
    dev AS (
      SELECT t.word, t.f,
             CAST(sum(abs(CAST(coalesce(wc.v, 0) AS HUGEINT) * tot.st
                          - CAST(p.s AS HUGEINT) * t.f)) AS HUGEINT)
               AS sad
      FROM topw t
      CROSS JOIN parts p
      CROSS JOIN tot
      LEFT JOIN wc ON wc.word = t.word AND wc.source = p.source
      GROUP BY t.word, t.f
    )
    SELECT d.word, d.f AS corpus_count,
           CAST((500000000 * d.sad)
                // (CAST(d.f AS HUGEINT) * tot.st) AS BIGINT) AS dp_ppb
    FROM dev d CROSS JOIN tot
    ORDER BY corpus_count DESC, word
    """,
    doc=f"Gries' DP (deviation of proportions) for the top-{GRIES_TOPK} "
    "corpus words across the source parts: DP = (1/2) * sum_p "
    "|v_p/f - s_p/S| — 0 means the word spreads across sources exactly "
    "as their sizes predict, 1 means it lives in one source; THE "
    "corpus-linguistics dispersion measure that separates genuinely "
    "common words from one-source artifacts (text_word_burstiness "
    "measures doc-level clumping; text_source_vocab_overlap compares "
    "whole vocabularies; DP scores each word's spread). Exact "
    "cross-multiplication clears both denominators — per part "
    "|v_p*S - s_p*f| is an integer and DP = sum/(2*f*S) — so the ppb "
    "output is ONE non-negative floor-division per word. The "
    "(word, source) rollup is the only corpus-sized shuffle; the "
    f"top-{GRIES_TOPK} selection ships via TakeOrderedAndProject and "
    "the 20-row source sizes broadcast into the deviation join.",
)
def text_gries_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    w = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("word"),
    )
    wc = w.groupBy("word", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    wc = wc.persist()  # vocabulary-sized; feeds parts, topk, and deviations
    parts = wc.groupBy("source").agg(F.sum("v").cast("bigint").alias("s"))
    tot = parts.agg(F.sum("s").cast("bigint").alias("st"))
    topw = (
        wc.groupBy("word")
        .agg(F.sum("v").cast("bigint").alias("f"))
        .orderBy(F.col("f").desc(), "word")
        .limit(GRIES_TOPK)
    )
    dev = (
        topw.crossJoin(F.broadcast(parts))
        .crossJoin(F.broadcast(tot))
        .join(wc, ["word", "source"], "left")
        .groupBy("word", "f", "st")
        .agg(
            _dsum(
                F.abs(
                    F.coalesce(F.col("v"), F.lit(0)).cast("decimal(38,0)")
                    * F.col("st")
                    - F.col("s").cast("decimal(38,0)") * F.col("f")
                )
            ).alias("sad")
        )
    )
    out = dev.select(
        "word",
        F.col("f").alias("corpus_count"),
        F.expr(
            "CAST((500000000 * sad)"
            " div (CAST(f AS DECIMAL(38,0)) * st) AS BIGINT)"
        ).alias("dp_ppb"),
    ).orderBy(F.col("corpus_count").desc(), "word")
    return release_on_gc(wc, out)


# ---------------------------------------------------------------------------
# text_burrows_delta — stylometric Delta distance between sources
# ---------------------------------------------------------------------------

BURROWS_TOPK = 20  # marker-word panel size (the classical 'most frequent
# words' set); bounded so the source x word grid stays literal-sized


@register(
    "text_burrows_delta",
    oracle=f"""
    WITH tok AS (
      SELECT source, t.w
      FROM documents,
           unnest(list_filter(string_split(lower(text), ' '),
                              x -> x != '')) AS t(w)
    ),
    stot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY source
    ),
    wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ),
    topw AS (
      SELECT w FROM wc ORDER BY c DESC, w ASC LIMIT {BURROWS_TOPK}
    ),
    sw AS (
      SELECT s.source, t.w,
             CAST(coalesce(x.c, 0) AS BIGINT) AS c, s.n
      FROM stot s CROSS JOIN topw t
      LEFT JOIN (SELECT source, w, CAST(count(*) AS BIGINT) AS c
                 FROM tok GROUP BY source, w) x
        ON x.source = s.source AND x.w = t.w
    ),
    f AS (
      SELECT source, w, (1000000 * c) // n AS fppm FROM sw
    ),
    mom AS (
      SELECT w, CAST(count(*) AS BIGINT) AS ns,
             CAST(sum(fppm) AS BIGINT) AS sf,
             CAST(sum(fppm * fppm) AS BIGINT) AS sff
      FROM f GROUP BY w
    ),
    z AS (
      SELECT f.source, f.w, f.fppm, m.ns,
             m.ns * m.sff - m.sf * m.sf AS vnum
      FROM f JOIN mom m ON m.w = f.w
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(sum(CAST(floor(
               CAST(abs(a.fppm - b.fppm) * a.ns AS DOUBLE) * 1000000.0
               / sqrt(CAST(greatest(a.vnum, 1) AS DOUBLE))
             ) AS BIGINT)) AS BIGINT) AS dsum,
             CAST(count(*) AS BIGINT) AS k
      FROM z a JOIN z b ON b.w = a.w AND b.source > a.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(dsum // k AS BIGINT) AS delta_micro,
           CAST(dsum // k AS DOUBLE) / 1000000.0 AS burrows_delta
    FROM pairs ORDER BY src_a, src_b
    """,
    doc=f"Burrows' Delta stylometric distance between every pair of "
    "document sources: z-score each source's relative frequency of the "
    f"{BURROWS_TOPK} most frequent corpus words (count-desc, word-asc "
    "tie-break — the text_dale_chall panel rule) against the across-"
    "source mean/sd, then average the absolute z differences — THE "
    "standard authorship/registry-drift measure, here flagging crawl "
    "sources whose function-word profile diverges (template farms, "
    "machine translation) before any content-level dedup runs. "
    "Frequencies quantize to exact ppm integers (floor division by "
    "the source token count); per-word variance numerators "
    "S*sum(f^2) - (sum f)^2 are exact integers over the <= 20 "
    "sources; each pair-word term |f_a - f_b|*S*1e6/sqrt(vnum) is "
    "floor-quantized to an exact micro-unit integer — the sqrt and "
    "division see only integers below 2^53, so the two IEEE ops are "
    "bit-identical in both engines and the floor lands the same "
    "integer; the Delta is then an integer mean over the word panel. "
    "Fact work is one tokenize + two keyed rollups; the grid, "
    "moments, and the source-pair join are all bounded by "
    f"(sources x {BURROWS_TOPK}).",
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    tok = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
        ).alias("w"),
    )
    stot = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wc = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    topw = (
        wc.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(BURROWS_TOPK)
        .select("w")
    )
    swc = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = stot.join(F.broadcast(topw.withColumnRenamed("w", "gw")), F.lit(True))
    sw = grid.join(
        swc,
        (grid.source == swc.source) & (grid.gw == swc.w),
        "left",
    ).select(
        grid.source.alias("source"),
        F.col("gw").alias("w"),
        F.coalesce(swc.c, F.lit(0)).cast("bigint").alias("c"),
        "n",
    )
    f = sw.select(
        "source", "w", F.expr("(1000000 * c) div n").alias("fppm")
    )
    mom = f.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("fppm").cast("bigint").alias("sf"),
        F.sum(F.expr("fppm * fppm")).cast("bigint").alias("sff"),
    )
    z = f.join(F.broadcast(mom), "w").select(
        "source",
        "w",
        "fppm",
        "ns",
        F.expr("ns * sff - sf * sf").alias("vnum"),
    )
    za = z.select(
        F.col("w").alias("w"),
        F.col("source").alias("src_a"),
        F.col("fppm").alias("fa"),
        "ns",
        "vnum",
    )
    zb = z.select(
        F.col("w").alias("w"),
        F.col("source").alias("src_b"),
        F.col("fppm").alias("fb"),
    )
    pairs = (
        za.join(zb, "w")
        .filter(F.col("src_b") > F.col("src_a"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor("
                    "CAST(abs(fa - fb) * ns AS DOUBLE) * 1000000.0"
                    " / sqrt(CAST(greatest(vnum, 1) AS DOUBLE))"
                    ") AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("dsum"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )
    return pairs.select(
        "src_a",
        "src_b",
        F.expr("CAST(dsum div k AS BIGINT)").alias("delta_micro"),
        (
            F.expr("CAST(dsum div k AS BIGINT)").cast("double")
            / F.lit(1000000.0)
        ).alias("burrows_delta"),
    ).orderBy("src_a", "src_b")


# ---------------------------------------------------------------------------
# docs_eval_contamination — train/eval split 13-gram overlap audit
# ---------------------------------------------------------------------------

CONTAM_GRAM = 13  # the standard decontamination shingle width (GPT-3 paper)


@register(
    "docs_eval_contamination",
    oracle=f"""
    WITH arr AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS is_eval,
             list_filter(string_split(lower(text), ' '), t -> t != '') AS a
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, source, is_eval,
             CAST(CAST('0x' || substr(md5(array_to_string(
                    a[i+1:i+{CONTAM_GRAM}], ' ')), 1, 15) AS BIGINT)
                  AS BIGINT) AS h
      FROM arr,
           unnest(range(0, greatest(len(a) - {CONTAM_GRAM - 1}, 0))) AS t(i)
    ),
    train_grams AS (
      SELECT DISTINCT h FROM g WHERE is_eval = 0
    ),
    eval_docs AS (
      SELECT g.doc_id, g.source,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM g LEFT JOIN train_grams t ON t.h = g.h
      WHERE g.is_eval = 1
      GROUP BY g.doc_id, g.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_eval_docs,
           CAST(sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(sum(n_grams) AS BIGINT) AS eval_grams,
           CAST(sum(n_shared) AS BIGINT) AS shared_grams,
           CAST(1000000000 * sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS doc_contamination_ppb,
           CAST(1000000000 * sum(n_shared) // greatest(sum(n_grams), 1)
                AS BIGINT) AS gram_contamination_ppb
    FROM eval_docs GROUP BY source ORDER BY source
    """,
    doc=f"Train/eval contamination audit at the standard {CONTAM_GRAM}-gram "
    "decontamination width: split the corpus deterministically (doc_id "
    "% 10 = 0 is the held-out eval set), hash every distinct "
    f"{CONTAM_GRAM}-word shingle, and report per source how many eval "
    "documents share ANY shingle with the training split, plus the "
    "shingle-level overlap mass — the leakage gate an LLM benchmark "
    "pipeline runs BEFORE trusting an eval score (docs_ngram_novelty "
    "measures within-corpus novelty; this measures CROSS-SPLIT "
    "leakage, the thing that silently inflates benchmarks). Shingles "
    "reuse the winnowing md5-int64 hash idiom; the audit is one "
    "distinct (doc, gram) relation, one semi-join-shaped LEFT JOIN "
    "against the distinct train-gram set (gram-cardinality-sized, "
    "never pairwise), and two ppb floor-divisions per source. Zero "
    "windows; zero unkeyed shuffles.",
)
def docs_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", parallel=True)
    arr = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % 10 == 0).cast("int").alias("is_eval"),
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "").alias("a"),
    )
    g = arr.select(
        "doc_id",
        "source",
        "is_eval",
        F.explode(
            F.transform(
                F.when(
                    F.size("a") >= CONTAM_GRAM,
                    F.sequence(F.lit(0), F.size("a") - CONTAM_GRAM),
                ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)")),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.encode(
                                F.array_join(
                                    F.slice(F.col("a"), i + 1, CONTAM_GRAM),
                                    " ",
                                ),
                                "utf-8",
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
        ).alias("h"),
    ).distinct()
    train_grams = (
        g.filter(F.col("is_eval") == 0).select("h").distinct()
        .withColumn("hit", F.lit(1))
    )
    eval_docs = (
        g.filter(F.col("is_eval") == 1)
        .join(train_grams, "h", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_shared"),
        )
    )
    return (
        eval_docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_docs"),
            F.sum(F.when(F.col("n_shared") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.sum("n_grams").cast("bigint").alias("eval_grams"),
            F.sum("n_shared").cast("bigint").alias("shared_grams"),
            F.expr(
                "CAST(1000000000 * sum(CASE WHEN n_shared > 0 THEN 1"
                " ELSE 0 END) div count(*) AS BIGINT)"
            ).alias("doc_contamination_ppb"),
            F.expr(
                "CAST(1000000000 * sum(n_shared)"
                " div greatest(sum(n_grams), 1) AS BIGINT)"
            ).alias("gram_contamination_ppb"),
        )
        .orderBy("source")
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
# text_zipf_mandelbrot_grid — Zipf-Mandelbrot offset fit by exact grid search
# ---------------------------------------------------------------------------


@register(
    "text_zipf_mandelbrot_grid",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    topw AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY 1 ORDER BY c DESC, word LIMIT 200
    ),
    rk AS (
      SELECT CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT)
               AS r,
             CAST(floor(1000000.0 * ln(CAST(c AS DOUBLE))) AS BIGINT) AS y
      FROM topw
    ),
    grid AS (
      SELECT b, r, y,
             CAST(floor(1000000.0 * ln(CAST(r + b AS DOUBLE))) AS BIGINT)
               AS x
      FROM rk CROSS JOIN (SELECT unnest(range(0, 6)) AS b)
    ),
    s AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM grid GROUP BY 1
    ),
    sc AS (
      SELECT b, n, sx, sy, sxy, sxx, syy,
             CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                        * CAST(n * sxy - sx * sy AS DOUBLE)
                        / (CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0))
                  AS BIGINT) AS score
      FROM s
    ),
    best AS (
      SELECT * FROM sc ORDER BY score DESC, b LIMIT 1
    )
    SELECT CAST(b AS BIGINT) AS best_offset_b, n AS n_ranks,
           CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END AS BIGINT)
             AS slope_sign,
           CAST(floor(1000000.0 * abs(CAST(n * sxy - sx * sy AS DOUBLE))
                / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
             AS slope_abs_micro,
           CAST(floor(1000000000.0
                * CAST(n * sxy - sx * sy AS DOUBLE)
                * CAST(n * sxy - sx * sy AS DOUBLE)
                / (CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
             AS r2_ppb
    FROM best
    """,
    doc="Zipf-Mandelbrot fit ln f = C - s ln(r + b) of the top-200 corpus "
    "word spectrum with the offset b chosen by EXACT grid search over "
    "b in 0..5: because Syy is common to every candidate, the "
    "best-SSE offset is the argmax of Sxy^2/Sxx — compared on "
    "ppb-quantized integer scores with ties to the smaller b "
    "(declared; scores, slope and R^2 evaluate as fixed-shape doubles "
    "over the exact integer moments because the 1e35-scale cleared "
    "numerators overflow Spark's silent-wrapping integral divide — the "
    "pipeline15 lesson), no nonlinear optimizer anywhere. Mandelbrot's "
    "offset captures the flat head that makes plain Zipf regressions "
    "(text_zipf_slope) underfit rank 1-10; the fitted s and R^2 "
    "come from the same exact integer moments over micro-quantized "
    "log-log coordinates. Token work is one word rollup + "
    "TakeOrderedAndProject(200); the 6 x 200 grid is bounded.",
)
def text_zipf_mandelbrot_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(F.explode(F.split("text", " ")).alias("word"))
    topw = (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(200)
    )
    rk = topw.select(
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "word"))
        .cast("bigint")
        .alias("r"),
        F.floor(F.lit(1000000.0) * F.log(F.col("c").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    bs = docs.sparkSession.range(6).select(F.col("id").alias("b"))
    grid = rk.crossJoin(F.broadcast(bs)).select(
        "b",
        "y",
        F.floor(
            F.lit(1000000.0)
            * F.log((F.col("r") + F.col("b")).cast("double"))
        )
        .cast("bigint")
        .alias("x"),
    )
    s = grid.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _dsum(F.col("x")).alias("sx"),
        _dsum(F.col("y")).alias("sy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        _dsum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        _dsum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    sc = s.select(
        "*",
        F.expr(
            "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0))"
            " AS BIGINT)"
        ).alias("score"),
    )
    best = sc.orderBy(F.col("score").desc(), "b").limit(1)
    return best.select(
        F.col("b").cast("bigint").alias("best_offset_b"),
        F.col("n").alias("n_ranks"),
        F.expr(
            "CAST(CASE WHEN n * sxy >= sx * sy THEN 1 ELSE -1 END"
            " AS BIGINT)"
        ).alias("slope_sign"),
        F.expr(
            "CAST(floor(1000000.0 * abs(CAST(n * sxy - sx * sy AS DOUBLE))"
            " / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)"
        ).alias("slope_abs_micro"),
        F.expr(
            "CAST(floor(1000000000.0"
            " * CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (CAST(n * sxx - sx * sx AS DOUBLE)"
            "    * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)"
        ).alias("r2_ppb"),
    )


# ---------------------------------------------------------------------------
# text_good_turing — simple Good-Turing smoothing estimates per language
# ---------------------------------------------------------------------------


@register(
    "text_good_turing",
    oracle="""
    WITH w AS (
      SELECT lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT lang, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY 1, 2
    ),
    fof AS (
      SELECT lang,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             CAST(sum(CASE WHEN c = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n5
      FROM wc GROUP BY 1
    )
    SELECT lang, n AS n_tokens, n1 AS f1, n2 AS f2,
           CAST((1000000000 * n1) // n AS BIGINT) AS unseen_mass_ppb,
           CAST((1000000 * 2 * n2) // greatest(n1, 1) AS BIGINT)
             AS r1_star_micro,
           CAST((1000000 * 3 * n3) // greatest(n2, 1) AS BIGINT)
             AS r2_star_micro,
           CAST((1000000 * 4 * n4) // greatest(n3, 1) AS BIGINT)
             AS r3_star_micro,
           CAST((1000000 * 5 * n5) // greatest(n4, 1) AS BIGINT)
             AS r4_star_micro
    FROM fof ORDER BY lang
    """,
    doc="Simple Good-Turing smoothing panel per language: the adjusted "
    "counts r* = (r+1) N_{r+1} / N_r for r = 1..4 and the Good estimate "
    "of unseen-event probability mass p0 = N_1/N — the count-count "
    "machinery under every classical LM smoother (the discounting "
    "companion to text_kneser_ney_bigram, which fixes the discount "
    "instead of estimating it). Pure integer ratios of the frequency-"
    "of-frequencies spectrum, floor-divided (non-negative, no sign "
    "split); one (lang, word) map-combined rollup then a 5-group "
    "reduce; no windows, no joins.",
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
    wc = w.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    fof = wc.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n"),
        *[
            F.sum(F.when(F.col("c") == r, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n{r}")
            for r in (1, 2, 3, 4, 5)
        ],
    )
    return fof.select(
        "lang",
        F.col("n").alias("n_tokens"),
        F.col("n1").alias("f1"),
        F.col("n2").alias("f2"),
        F.expr("CAST((1000000000 * n1) div n AS BIGINT)").alias(
            "unseen_mass_ppb"
        ),
        F.expr(
            "CAST((1000000 * 2 * n2) div greatest(n1, 1) AS BIGINT)"
        ).alias("r1_star_micro"),
        F.expr(
            "CAST((1000000 * 3 * n3) div greatest(n2, 1) AS BIGINT)"
        ).alias("r2_star_micro"),
        F.expr(
            "CAST((1000000 * 4 * n4) div greatest(n3, 1) AS BIGINT)"
        ).alias("r3_star_micro"),
        F.expr(
            "CAST((1000000 * 5 * n5) div greatest(n4, 1) AS BIGINT)"
        ).alias("r4_star_micro"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# text_chao1_vocab — nonparametric vocabulary-size estimators per source
# ---------------------------------------------------------------------------


@register(
    "text_chao1_vocab",
    oracle="""
    WITH w AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT source, word,
             CAST(count(*) AS BIGINT) AS c,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS dc
      FROM w GROUP BY 1, 2
    ),
    ndoc AS (
      SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS d
      FROM documents GROUP BY 1
    ),
    s AS (
      SELECT w.source,
             CAST(count(*) AS BIGINT) AS v,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
             CAST(sum(CASE WHEN dc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS q1,
             CAST(max(nd.d) AS BIGINT) AS d
      FROM wc w JOIN ndoc nd ON nd.source = w.source
      GROUP BY 1
    )
    SELECT source, v AS n_types, f1, f2, q1 AS n_single_doc_types,
           CAST(1000 * v + CASE WHEN f2 > 0
                THEN (1000 * f1 * f1) // (2 * f2)
                ELSE (1000 * f1 * (f1 - 1)) // 2 END AS BIGINT)
             AS chao1_milli,
           CAST(1000 * v + (1000 * q1 * (d - 1)) // greatest(d, 1)
                AS BIGINT) AS jackknife1_milli
    FROM s ORDER BY source
    """,
    doc="Nonparametric 'how many word types does this source REALLY have' "
    "estimators: abundance-based Chao1 = V + f1^2/(2 f2) (bias-corrected "
    "f1(f1-1)/2 branch when no doubletons) from the token-count "
    "spectrum, and the first-order jackknife V + Q1 (d-1)/d on DOCUMENT "
    "incidence (Q1 = types confined to a single document, d = documents "
    "sampled) — the species-richness view of vocabulary growth that "
    "text_heaps_law_fit approaches by curve-fitting. Both estimators "
    "are exact integer ratios, milli-scaled, over one (source, word) "
    "rollup carrying both a token count and a distinct-doc count; the "
    "tiny per-source document totals join back broadcast.",
)
def text_chao1_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    wc = w.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.countDistinct("doc_id").cast("bigint").alias("dc"),
    )
    ndoc = docs.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("d")
    )
    s = (
        wc.join(F.broadcast(ndoc), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("v"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("f1"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("f2"),
            F.sum(F.when(F.col("dc") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("q1"),
            F.max("d").cast("bigint").alias("d"),
        )
    )
    return s.select(
        "source",
        F.col("v").alias("n_types"),
        "f1",
        "f2",
        F.col("q1").alias("n_single_doc_types"),
        F.expr(
            "CAST(1000 * v + CASE WHEN f2 > 0"
            " THEN (1000 * f1 * f1) div (2 * f2)"
            " ELSE (1000 * f1 * (f1 - 1)) div 2 END AS BIGINT)"
        ).alias("chao1_milli"),
        F.expr(
            "CAST(1000 * v + (1000 * q1 * (d - 1)) div greatest(d, 1)"
            " AS BIGINT)"
        ).alias("jackknife1_milli"),
    ).orderBy("source")
