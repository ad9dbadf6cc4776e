"""Round-6 fixes: whole-symbol BPE merge semantics, size-aware broadcast,
unpersist discipline, NTZ-guard zone equivalence, asof-nearest NULL gaps."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.operators.text import (
    _duck_merge,
    _merge_pair_arr,
)

# (word-as-spaced-symbols, pair, merged, expected greedy-BPE result).
# 'th t' + pair 'h t' is the boundary case: substring replace would
# rewrite it to 'tht' by matching the tail of merged symbol 'th'.
MERGE_CASES = [
    ("t h t h", "t h", "th", "th th"),
    ("t h t", "h t", "ht", "t ht"),
    ("th t", "h t", "ht", "th t"),
    ("a a a a a", "a a", "aa", "aa aa a"),
    ("a a a", "a a", "aa", "aa a"),
    ("", "a b", "ab", ""),
    ("x", "a b", "ab", "x"),
]


@pytest.mark.parametrize("w,pair,merged,expect", MERGE_CASES)
def test_bpe_merge_whole_symbols_spark(spark, w, pair, merged, expect):
    """The Spark fold merges whole symbols only, greedy left-to-right —
    never a substring match across a previously-merged symbol boundary."""
    p1, p2 = pair.split(" ")
    got = (
        spark.createDataFrame([(w,)], "w string")
        .select(
            F.array_join(
                _merge_pair_arr(F.split("w", " "), p1, p2, merged), " "
            ).alias("r")
        )
        .first()["r"]
    )
    assert got == expect


@pytest.mark.parametrize("w,pair,merged,expect", MERGE_CASES)
def test_bpe_merge_whole_symbols_duckdb(w, pair, merged, expect):
    """The DuckDB oracle fold implements the identical greedy semantics,
    so the parity gate actually exercises true BPE on both engines."""
    con = duckdb.connect()
    q = f"SELECT {_duck_merge(repr(w), repr(pair), repr(merged))} AS r"
    assert con.execute(q).fetchone()[0] == expect
    con.close()


def _greedy_merge_reference(tokens: list[str], p1: str, p2: str, merged: str) -> list[str]:
    """Plain-Python greedy left-to-right BPE pair merge — the semantics the
    SQL/Spark folds must reproduce."""
    out: list[str] = []
    for tok in tokens:
        if out and out[-1] == p1 and tok == p2:
            out[-1] = merged
        else:
            out.append(tok)
    return out


@given(
    tokens=st.lists(st.sampled_from(["a", "b", "ab", "ba", "c"]), min_size=0, max_size=12),
    pair=st.sampled_from([("a", "b"), ("b", "a"), ("a", "a"), ("ab", "a"), ("b", "ab")]),
)
@settings(max_examples=200, deadline=None)
def test_bpe_fold_matches_greedy_reference(tokens, pair):
    """Property: the DuckDB list_reduce fold equals plain greedy merging on
    arbitrary token sequences, including self-pairs and merged-symbol
    tokens (the boundary cases substring replace got wrong)."""
    p1, p2 = pair
    merged = p1 + p2
    w = " ".join(tokens)
    expect = " ".join(_greedy_merge_reference(tokens, p1, p2, merged))
    con = duckdb.connect()
    q = f"SELECT {_duck_merge(repr(w), repr(p1 + ' ' + p2), repr(merged))} AS r"
    got = con.execute(q).fetchone()[0]
    con.close()
    assert got == expect


@pytest.mark.parametrize(
    "tz,ok",
    [
        ("UTC", True),
        ("Etc/UTC", True),
        ("+00:00", True),
        ("GMT0", True),
        ("UTC0", True),
        ("Greenwich", True),
        ("America/New_York", False),
        ("+02:00", False),
        ("Etc/GMT-2", False),
        (None, False),
    ],
)
def test_ntz_guard_resolves_utc_equivalents(spark, tz, ok):
    """The NTZ fail-loud guard accepts every zero-offset zone spelling
    (resolved via ZoneId, not a string allowlist) and still rejects
    genuinely shifted zones."""
    from mongodb_nats_connector_spark.sources.tables import _is_utc_zone

    assert _is_utc_zone(spark, tz) is ok


def test_maybe_broadcast_hints_only_under_threshold(spark):
    """maybe_broadcast applies the hint when Catalyst's estimate is under
    the threshold and declines it (returning the frame unchanged, so AQE
    keeps the runtime decision) when the side is estimated too big."""
    from mongodb_nats_connector_spark.plans.hints import (
        estimated_size_bytes,
        maybe_broadcast,
    )

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    est = estimated_size_bytes(cust)
    assert est is not None and est > 0
    hinted = maybe_broadcast(cust, threshold_bytes=est + 1)
    assert hinted is not cust
    # a dangling hint is erased by the optimizer; the analyzed plan keeps it
    plan = hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan
    declined = maybe_broadcast(cust, threshold_bytes=1)
    assert declined is cust


def test_no_sql_cache_leak_after_results_dropped(spark):
    """Operators that persist() an intermediate referenced by the returned
    plan must release it once the caller drops the result — the SQL
    CacheManager entry count returns to its pre-call level (it is NOT
    GC-reclaimed on its own, so a missing finalizer would leak here)."""
    import gc

    from mongodb_nats_connector_spark.operators.text import (
        bigram_lm_surprisal,
        fuzzy_join_blocked,
    )
    from mongodb_nats_connector_spark.operators.dedup import dedup_prefix_boilerplate
    from mongodb_nats_connector_spark.operators.relational import join_bloom_semi
    from mongodb_nats_connector_spark.operators.graph import (
        graph_jaccard_neighbors,
        graph_triangle_count,
    )
    from mongodb_nats_connector_spark.operators.orders import orders_basket_lift
    from mongodb_nats_connector_spark.operators.events import events_seasonal_baseline
    from mongodb_nats_connector_spark.operators.orders import orders_pareto_curve
    from mongodb_nats_connector_spark.operators.stats import agg_chi_square
    from mongodb_nats_connector_spark.operators.relational import (
        q20_heavy_shippers,
        q21_waiting_suppliers,
    )

    sf = "/root/testdata/sf0.001"
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.cachedData().size()
    for fn in [
        graph_triangle_count,
        orders_basket_lift,
        graph_jaccard_neighbors,
        orders_pareto_curve,
        events_seasonal_baseline,
        agg_chi_square,
        join_bloom_semi,
        q20_heavy_shippers,
        q21_waiting_suppliers,
        dedup_prefix_boilerplate,
        bigram_lm_surprisal,
        fuzzy_join_blocked,
    ]:
        df = fn(spark, sf)
        df.collect()
        del df
        gc.collect()
        assert cm.cachedData().size() == before, (
            f"{fn.__name__} leaked a CacheManager entry"
        )


def _golden_png(w: int, h: int) -> bytes:
    """Minimal valid grayscale PNG built with stdlib only."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x80" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _golden_gif(w: int, h: int) -> bytes:
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 20


def _golden_jpeg(w: int, h: int) -> bytes:
    import struct

    # SOI + APP0 + SOF0 carrying the dimensions + EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def test_multimodal_real_header_decode(spark):
    """Image payloads get REAL header-parsed dimensions through the same
    mapInPandas operator; non-image payloads keep the stub fallback."""
    from mongodb_nats_connector_spark.operators.multimodal import (
        DECODED_SCHEMA,
        _decode_batches,
        fake_decode,
        sniff_image_dims,
    )

    assert sniff_image_dims(_golden_png(640, 360)) == (640, 360, "png")
    assert sniff_image_dims(_golden_gif(12, 7)) == (12, 7, "gif")
    assert sniff_image_dims(_golden_jpeg(800, 600)) == (800, 600, "jpeg")
    assert sniff_image_dims(b"just text") is None

    rows = [
        (1, _golden_png(640, 360)),
        (2, _golden_gif(12, 7)),
        (3, _golden_jpeg(800, 600)),
        (4, b"plain text payload"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in df.mapInPandas(_decode_batches, DECODED_SCHEMA).collect()
    }
    assert (out[1]["fake_width"], out[1]["fake_height"], out[1]["codec"]) == (
        640, 360, "png",
    )
    assert (out[2]["fake_width"], out[2]["fake_height"], out[2]["codec"]) == (
        12, 7, "gif",
    )
    assert (out[3]["fake_width"], out[3]["fake_height"], out[3]["codec"]) == (
        800, 600, "jpeg",
    )
    w, h = fake_decode(rows[3][1])
    assert (out[4]["fake_width"], out[4]["fake_height"], out[4]["codec"]) == (
        w, h, "stub",
    )


def test_asof_forward_never_before_purchase(spark):
    """Forward as-of matches only signups AT-OR-AFTER the purchase, and the
    nearest-direction gap is never larger than the forward-only gap."""
    from mongodb_nats_connector_spark.operators.relational import (
        join_asof_forward,
        join_asof_nearest,
    )

    sf = "/root/testdata/sf0.001"
    fwd = join_asof_forward(spark, sf).toPandas().set_index("event_id")
    has_next = fwd.dropna(subset=["next_signup_ts"])
    assert (has_next["next_signup_ts"] >= has_next["ts"]).all()

    near = join_asof_nearest(spark, sf).toPandas().set_index("event_id")
    joined = near.join(fwd[["next_signup_ts"]], how="inner").dropna(
        subset=["next_signup_ts", "gap_micros"]
    )
    fwd_gap = (
        joined["next_signup_ts"] - joined["ts"]
    ).dt.total_seconds() * 1e6
    assert (joined["gap_micros"] <= fwd_gap + 0.5).all()


def test_no_new_bare_persists():
    """Bare .persist() in an operator leaks a session-lifetime cache entry
    unless the function itself unpersists (driver-loop pattern) or the
    cache is a documented cross-query share. Every allowed site is pinned
    here; new intermediates that outlive the function must go through
    plans.caching.persist_until_collected instead."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    allowed = {
        # file -> bare-persist count, each paired with an in-function
        # unpersist (BPE/dedup-clusters driver loops), the documented
        # session-scoped shingle cache, or a release_on_gc /
        # persist_until_collected release on the returned result.
        # Two-pass-rank inputs are cached BEFORE the helper's
        # construction-time boundary-sketch job (else the upstream rollup
        # recomputes per pass).
        "operators/dedup.py": 3,  # shingle cache + dedup_clusters loop
        "operators/double_sums.py": 1,  # weibull gaps
        "operators/events.py": 2,  # hourly-profile 24x7 grid,
        # type-cooccurrence user-day grain
        "operators/graph.py": 7,  # triangle edges, jaccard deg (runtime-
        # stat broadcast gates), eccentricity's nation-sized relation,
        # harmonic-centrality distances, clustering-coefficient adjacency
        # + per-node relations, reciprocity edges
        "operators/orders.py": 21,  # basket-lift items (broadcast gate),
        # seasonal-decompose month series, tukey k-sized group stats,
        # decile-lift input, c-index duration x bucket cells,
        # regression-diagnostics month index + residual rows,
        # seasonality-strength detrended rows, cusum daily grid + scaled
        # increments, bartels day series, durbin-watson month index,
        # pacf month index + centered values, xmr moving ranges,
        # demand-class daily grid, association-metrics baskets, gini's
        # two-pass-rank input, skyline per_cust, abc rev, pareto
        # per-customer rollup
        "operators/relational.py": 2,  # ltv + rfm per-customer rollups
        "operators/similarity.py": 5,  # MMR candidate pool (cached
        # BEFORE its bounded driver-collect loop), PQ codebook + ANN-PQ
        # embedding relations (before their bounded k-means collects),
        # hubness's and TwoNN's quantized embedding relation
        "operators/stats.py": 20,  # ljung-box day series, cochran-q
        # presence matrix, friedman month x priority cells + rank sums,
        # trimmed-mean ranked day series, mann-kendall day series, JT
        # priority x price-domain cells, page-test monthly grid,
        # permutation-test daily series, quade monthly grid + gated grid
        # + score cells, siegel cells, breslow strata, winsorized
        # cumulative grid, concordance ranks, gamma's 2D grid cells,
        # welch's weight relation, hll's deduplicated user-day relation,
        # spearman fact projection
        "operators/text.py": 9,  # BPE learn loop (lex + nxt),
        # Kneser-Ney bigram-type rollup (unpersisted before return),
        # burstiness (doc, word) counts, winnowing gram hashes,
        # dale-chall tokens, vocab-overlap word sets, gries' (word,
        # source) counts, quality-ensemble sig
        # (graph_cc_bigstar's CC loop uses eager localCheckpoint per
        # round — plan truncation, not a bare persist)
    }
    pkg = root / "mongodb_nats_connector_spark"
    found = {}
    for sub in ("operators", "streaming", "sources", "functions"):
        for f in sorted((pkg / sub).glob("*.py")):
            n = f.read_text().count(".persist()")
            if n:
                found[f"{sub}/{f.name}"] = n
    assert found == allowed, (
        f"bare persist() sites changed: {found} != {allowed} — use "
        "persist_until_collected for intermediates the returned plan needs"
    )


def test_maybe_broadcast_conf_parsing():
    from mongodb_nats_connector_spark.plans.hints import _parse_bytes

    assert _parse_bytes("10485760b") == 10 << 20
    assert _parse_bytes("64MB") == 64 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("-1") == -1
    assert _parse_bytes("1048576") == 1 << 20


def test_sink_dedup_unbounded_across_epochs(spark, tmp_path):
    """A msg_id re-published in later epochs is delivered once, however many
    epochs later: the consumer view's dedup window is unbounded. The raw
    view keeps every stored copy."""
    from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink

    sink = JetStreamLikeSink(spark, str(tmp_path / "stream"), "COLL")
    sink.add_stream()
    batch = spark.createDataFrame(
        [("tok-1", "COLL.insert", "{}")], "msg_id string, subject string, payload string"
    )
    for epoch in (0, 2, 5):
        sink.publish_batch(batch, epoch)

    deduped = sink.read_messages().collect()
    assert len(deduped) == 1 and deduped[0]["epoch"] == 0
    assert sink.read_messages(deduped=False).count() == 3


def test_asof_nearest_null_gap_when_no_signup(spark, tmp_path):
    """A purchase whose user never signed up gets NULL nearest_signup_ts
    AND NULL gap_micros — not a Long.MAX sentinel that downstream latency
    aggregates would absorb as a real value."""
    import datetime as dt

    from mongodb_nats_connector_spark.operators.relational import join_asof_nearest

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("uA", t0, "e1", "signup"),
        ("uA", t0 + dt.timedelta(minutes=5), "e2", "purchase"),
        ("uB", t0, "e3", "purchase"),  # never signed up
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id string, event_type string"
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))
    out = (
        join_asof_nearest(spark, str(tmp_path)).toPandas().set_index("event_id")
    )
    assert out.loc["e2", "gap_micros"] == 5 * 60 * 1_000_000
    assert pd.isna(out.loc["e3", "nearest_signup_ts"])
    assert pd.isna(out.loc["e3", "gap_micros"])


def test_dedup_embedding_cosine_subset_of_exact(spark):
    """Precision is 1.0 by construction: the bucketing only GENERATES
    candidates, the exact cosine verify decides — so the emitted pair set
    must be a subset of the quadratic baseline's."""
    from mongodb_nats_connector_spark.operators.dedup import dedup_embedding_cosine
    from mongodb_nats_connector_spark.operators.similarity import (
        similarity_neardup_pairs,
    )

    sf_dir = "/root/testdata/sf0.01"
    lsh = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    exact = {
        (r.vec_a, r.vec_b)
        for r in similarity_neardup_pairs(spark, sf_dir).collect()
    }
    assert exact, "baseline found no near-dup pairs; threshold too high"
    assert lsh, "LSH path found no pairs at all"
    assert lsh <= exact, f"LSH emitted non-duplicate pairs: {lsh - exact}"


def test_dedup_embedding_cosine_recall_on_planted_dups(spark, tmp_path):
    """Recall on TRUE near-duplicates: plant 40 high-similarity pairs
    (cos >= 0.95 — tiny additive noise on a copy) among random vectors;
    the 10x8-bit sign-LSH misses such a pair with probability
    (1 - agree^8)^10 < 1e-3, so all-but-at-most-two must be recovered."""
    import random as _random

    from mongodb_nats_connector_spark.operators.dedup import dedup_embedding_cosine

    rng = _random.Random(99)
    rows = []
    n_base, dim = 40, 64
    for i in range(n_base):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        dup = [x + rng.gauss(0.0, 0.08) for x in v]
        rows.append((i, [float(x) for x in v], 0))
        rows.append((i + 1000, [float(x) for x in dup], 0))
    for i in range(200):  # background noise vectors
        rows.append(
            (i + 5000, [float(rng.gauss(0.0, 1.0)) for _ in range(dim)], 1)
        )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    emb.write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        (r.vec_a, r.vec_b)
        for r in dedup_embedding_cosine(spark, str(tmp_path)).collect()
    }
    planted = {(i, i + 1000) for i in range(n_base)}
    found = len(planted & got)
    assert found >= n_base - 2, (
        f"recall {found}/{n_base} on planted cos>=0.95 duplicates"
    )


def test_counted_fits_broadcast_requires_persist_and_gates_on_count(spark):
    """The runtime-count gate must (a) refuse un-persisted inputs — the
    count would recompute the full lineage and diverge from what the join
    reads, (b) hint small persisted relations, (c) decline when the
    materialized count exceeds the threshold."""
    from mongodb_nats_connector_spark.plans.hints import counted_fits_broadcast

    df = spark.range(100)
    with pytest.raises(ValueError, match="persisted"):
        counted_fits_broadcast(df)
    df = df.persist()
    try:
        assert counted_fits_broadcast(df, row_bytes=8)
        # 100 rows * 1 MiB/row >> 64 MiB session threshold -> declined
        assert not counted_fits_broadcast(df, row_bytes=1 << 20)
    finally:
        df.unpersist()


def test_topp_quality_invariants(spark):
    """Per-source nucleus selection: kept docs must (a) be a prefix of the
    score-desc ranking, (b) cover >= TOPP_PCT% of the source's score mass,
    (c) be minimal — dropping the last kept doc falls below the target."""
    from mongodb_nats_connector_spark.operators.text import (
        TOPP_PCT,
        docs_topp_quality,
    )

    sf = "/root/testdata/sf0.01"
    kept = docs_topp_quality(spark, sf).toPandas()
    full = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .selectExpr("source", "doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS score")
        .toPandas()
    )
    for source, grp in full.groupby("source"):
        grp = grp.sort_values(["score", "doc_id"], ascending=[False, True])
        total = grp["score"].sum()
        k = kept[kept["source"] == source]
        n = len(k)
        # (a) prefix of the deterministic ranking
        assert set(k["doc_id"]) == set(grp.head(n)["doc_id"])
        mass = grp.head(n)["score"].sum()
        # (b) coverage reaches the target
        assert mass * 100 >= TOPP_PCT * total
        # (c) minimality
        assert (mass - grp.head(n)["score"].iloc[-1]) * 100 < TOPP_PCT * total


def test_epoch_upsample_invariants(spark):
    """Every document appears exactly n_copies times with copy_idx 1..n,
    n_copies in {1,2,3}, and sample_id is unique."""
    from mongodb_nats_connector_spark.operators.curation import sample_epoch_upsample

    out = sample_epoch_upsample(spark, "/root/testdata/sf0.01").toPandas()
    assert out["n_copies"].isin([1, 2, 3]).all()
    assert out["sample_id"].is_unique
    per_doc = out.groupby("doc_id").agg(
        n=("copy_idx", "size"), declared=("n_copies", "first"),
        mx=("copy_idx", "max"), mn=("copy_idx", "min"),
    )
    assert (per_doc["n"] == per_doc["declared"]).all()
    assert (per_doc["mx"] == per_doc["declared"]).all()
    assert (per_doc["mn"] == 1).all()


def test_merge_upsert_invariants(spark):
    """MERGE row accounting: |result| = |base| - |deletes| + |inserts|;
    updated keys carry the new status, deleted keys are gone, inserted keys
    exist above the shift, untouched rows pass through unchanged."""
    from mongodb_nats_connector_spark.operators.cdc import merge_upsert_snapshot

    sf = "/root/testdata/sf0.01"
    out = merge_upsert_snapshot(spark, sf).toPandas().set_index("o_orderkey")
    base = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .selectExpr("o_orderkey", "o_orderstatus", "round(o_totalprice, 2) AS p")
        .toPandas()
        .set_index("o_orderkey")
    )
    deletes = {k for k in base.index if k % 10 == 0}
    updates = {k for k in base.index if k % 10 in (1, 2)}
    # the operator derives the insert shift from the data: max key + 1
    shift = max(base.index) + 1
    inserts = {k + shift for k in base.index if k % 10 == 7}
    assert len(out) == len(base) - len(deletes) + len(inserts)
    assert not (set(out.index) & deletes)
    assert inserts <= set(out.index)
    assert (out.loc[sorted(updates), "o_orderstatus"] == "UPDATED").all()
    untouched = sorted(set(base.index) - deletes - updates)[:100]
    assert (
        out.loc[untouched, "o_orderstatus"] == base.loc[untouched, "o_orderstatus"]
    ).all()


def test_label_propagation_labels_are_reachable_nodes(spark):
    """Every community label must itself be a nation key, and at least one
    community must contain more than one nation (the trade graph is
    connected enough that propagation actually groups)."""
    from mongodb_nats_connector_spark.operators.graph import graph_label_propagation

    out = graph_label_propagation(spark, "/root/testdata/sf0.01").toPandas()
    assert len(out) == 25
    assert out["community"].between(0, 24).all()
    assert (out.groupby("community").size() > 1).any()


def test_stickiness_bounds_and_wau_dominates_dau(spark):
    """stickiness = dau/wau must lie in (0, 1]; WAU >= DAU every day (the
    trailing window contains the day itself); and WAU never exceeds the
    total user population."""
    from mongodb_nats_connector_spark.operators.events import events_stickiness_dau_wau

    sf = "/root/testdata/sf0.01"
    out = events_stickiness_dau_wau(spark, sf).toPandas()
    users = (
        spark.read.parquet(f"{sf}/events.parquet").select("user_id").distinct().count()
    )
    assert len(out) > 0
    assert (out["wau"] >= out["dau"]).all()
    assert (out["dau"] >= 1).all()
    assert (out["wau"] <= users).all()
    assert ((out["stickiness"] > 0) & (out["stickiness"] <= 1)).all()


def test_ngram_novelty_bounds_and_first_doc_is_fully_novel(spark):
    """novelty_ratio in [0, 1]; novel_grams <= n_grams; and the smallest
    doc_id (nothing precedes it) is 100% novel."""
    from mongodb_nats_connector_spark.operators.text import docs_ngram_novelty

    out = docs_ngram_novelty(spark, "/root/testdata/sf0.01").toPandas()
    assert (out["novel_grams"] <= out["n_grams"]).all()
    assert ((out["novelty_ratio"] >= 0) & (out["novelty_ratio"] <= 1)).all()
    first = out.loc[out["doc_id"].idxmin()]
    assert first["novel_grams"] == first["n_grams"]


def test_max_concurrency_bounded_by_daily_actives(spark):
    """Peak concurrent sessions on a day can never exceed the number of
    users active that day, and is at least 1 on every reported day."""
    from mongodb_nats_connector_spark.operators.events import events_max_concurrency

    sf = "/root/testdata/sf0.01"
    out = events_max_concurrency(spark, sf).toPandas().set_index("day")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    dau = (
        ev.selectExpr("CAST(date_trunc('day', ts) AS TIMESTAMP) AS day", "user_id")
        .distinct()
        .groupBy("day")
        .count()
        .toPandas()
        .set_index("day")["count"]
    )
    assert (out["max_concurrent"] >= 1).all()
    joined = out.join(dau.rename("dau"), how="left")
    assert (joined["max_concurrent"] <= joined["dau"]).all()


def test_survivorship_report_accounts_for_every_document(spark):
    """kept + dropped = total per source, and totals sum to the corpus."""
    from mongodb_nats_connector_spark.operators.dedup import (
        dedup_survivorship_report,
    )

    sf = "/root/testdata/sf0.01"
    out = dedup_survivorship_report(spark, sf).toPandas()
    assert (out["docs_kept"] + out["docs_dropped"] == out["docs_total"]).all()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert out["docs_total"].sum() == n_docs
    assert (out.loc[out["docs_dropped"] == 0, "chars_saved"] == 0).all()
