"""Event-stream analytics (``operators/events.py``, ``events_*``): calendar
fills and rollups, conversion and funnels, activity streaks, burst
detection, series diagnostics and control rules, interval unions, change
points and experiment statistics (CUPED, difference-in-differences,
paired and Wilcoxon tests, effect sizes, power analysis).

Spark tests recompute a query's result on the smoke tables from its
definition. Pure-Python pins check the algebra both engines share
against an independent reference; ``test_stats.py`` says why.
"""

from __future__ import annotations

import itertools
import math
import random
from fractions import Fraction

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.operators.events import events_time_to_convert
from mongodb_nats_connector_spark.sources.tables import table

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_kleinberg_viterbi_is_optimal(spark):
    """The decoded path must (a) cost exactly the DP optimum computed by
    an independent costs-only value iteration, and (b) beat or tie every
    path in a large adversarial sample: all single-flip and
    segment-boundary perturbations of the decoded path, threshold
    baselines, and 100k seeded random paths. For short series (n <= 20)
    the check is the FULL 2^n enumeration instead."""
    from mongodb_nats_connector_spark.operators.events import events_kleinberg_burst

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["ts"].notna()]
    daily = ev.groupby(pd.to_datetime(ev["ts"]).dt.date).size()
    cs = [int(c) for c in daily.sort_index().values]
    days = sorted(daily.index)
    n = len(cs)
    r0 = sum(cs) // n
    r1 = (51 * r0) // 50
    gam = r0 // 100 + 1

    def path_cost(states):
        cost = gam if states[0] == 1 else 0
        prev = states[0]
        for t, s in enumerate(states):
            cost += abs(cs[t] - (r1 if s == 1 else r0))
            if t > 0 and prev == 0 and s == 1:
                cost += gam
            prev = s
        return cost

    # independent costs-only value iteration (no path bookkeeping)
    c0, c1 = abs(cs[0] - r0), gam + abs(cs[0] - r1)
    for t in range(1, n):
        c0, c1 = (
            min(c0, c1) + abs(cs[t] - r0),
            min(c0 + gam, c1) + abs(cs[t] - r1),
        )
    best = min(c0, c1)

    out = events_kleinberg_burst(spark, SF).orderBy("start_day").collect()
    decoded = []
    for r in out:
        span = (r["end_day"] - r["start_day"]).days + 1
        decoded += [int(r["burst_state"])] * span
        assert r["n_days"] == span
    assert len(decoded) == n
    assert path_cost(decoded) == best

    if n <= 20:
        assert best == min(
            path_cost(p) for p in itertools.product((0, 1), repeat=n)
        )
    else:
        rng = np.random.default_rng(13)
        challengers = [tuple([0] * n), tuple([1] * n)]
        challengers.append(tuple(1 if c > r0 else 0 for c in cs))
        for i in range(n):
            flip = list(decoded)
            flip[i] ^= 1
            challengers.append(tuple(flip))
        for i in range(n):
            for j in range(i + 1, n):
                seg = list(decoded)
                for t in range(i, j + 1):
                    seg[t] ^= 1
                challengers.append(tuple(seg))
        for _ in range(100_000):
            challengers.append(tuple(rng.integers(0, 2, n)))
        assert all(path_cost(p) >= best for p in challengers)

    assert sum(r["total_events"] for r in out) == sum(cs)
    assert out[0]["start_day"] == days[0]
    assert out[-1]["end_day"] == days[-1]


# ---------------------------------------------------------------------------
# Burstiness identity and sign split (events_gap_burstiness)
# ---------------------------------------------------------------------------


def test_burstiness_identity_and_sign_split():
    """num/den form == (CV^2 - 1)/(CV^2 + 1) with sample variance, and
    the ppb sign split matches truncation-toward-zero on both engines'
    non-negative floor-divisions."""
    rng = random.Random(3)
    for _ in range(40):
        n = rng.randint(2, 50)
        xs = [rng.randint(0, 10000) for _ in range(n)]
        sx = sum(xs)
        if sx == 0:
            continue
        sxx = sum(x * x for x in xs)
        num = n * (n * sxx - sx * sx)
        den = (n - 1) * sx * sx
        # identity: num/den = CV^2 with s^2 = sample variance
        mean = Fraction(sx, n)
        s2 = Fraction(sum((x - mean) ** 2 for x in xs), n - 1)
        cv2 = s2 / (mean * mean)
        assert Fraction(num, den) == cv2
        b = (cv2 - 1) / (cv2 + 1)
        numq, denq = num // (1 << 44), den // (1 << 44)
        if numq >= denq:
            ppb = (10**9 * (numq - denq)) // max(numq + denq, 1)
        else:
            ppb = -((10**9 * (denq - numq)) // max(numq + denq, 1))
        if numq + denq > 10**6:  # quantization headroom
            assert abs(ppb / 1e9 - float(b)) < 1e-4


# ---------------------------------------------------------------------------
# DFA box RSS closed form (events_dfa_alpha)
# ---------------------------------------------------------------------------


def test_dfa_box_rss_closed_form():
    rng = random.Random(229)
    for s in (8, 16, 32):
        for _ in range(10):
            ps = [rng.randint(-(10**6), 10**6) for _ in range(s)]
            sy = sum(ps)
            sjy = sum((j + 1) * p for j, p in enumerate(ps))
            syy = sum(p * p for p in ps)
            closed = (
                syy
                - sy * sy / s
                - (sjy - (s + 1) * sy / 2.0) ** 2
                / (s * (s * s - 1) / 12.0)
            )
            # explicit OLS residuals
            js = list(range(1, s + 1))
            jbar = sum(js) / s
            pbar = sy / s
            beta = sum(
                (j - jbar) * (p - pbar) for j, p in zip(js, ps)
            ) / sum((j - jbar) ** 2 for j in js)
            alpha = pbar - beta * jbar
            rss = sum(
                (p - alpha - beta * j) ** 2 for j, p in zip(js, ps)
            )
            assert abs(closed - rss) < 1e-3 * max(1.0, abs(rss))


def test_teager_kaiser_linear_and_sine_identities():
    # on a linear ramp x_t = a t + b the TKO is exactly a^2 everywhere
    rng = random.Random(389)
    for _ in range(40):
        a, b = rng.randint(-9, 9), rng.randint(-50, 50)
        xs = [a * t + b for t in range(12)]
        for t in range(1, 11):
            assert xs[t] * xs[t] - xs[t - 1] * xs[t + 1] == a * a
    # on a geometric series x_t = r^t the TKO is exactly 0
    for r in (2, 3, 5):
        xs = [r**t for t in range(10)]
        for t in range(1, 9):
            assert xs[t] * xs[t] - xs[t - 1] * xs[t + 1] == 0


def test_mean_crossing_nscaled_sign():
    rng = random.Random(397)
    for _ in range(60):
        xs = [rng.randint(0, 30) for _ in range(rng.randint(3, 40))]
        n, s = len(xs), sum(xs)
        mean = Fraction(s, n)
        crossings_float = sum(
            1
            for i in range(1, n)
            if (xs[i] - mean) * (xs[i - 1] - mean) < 0
        )
        crossings_int = sum(
            1
            for i in range(1, n)
            if (n * xs[i] - s) * (n * xs[i - 1] - s) < 0
        )
        assert crossings_int == crossings_float


def test_von_neumann_cleared_denominator():
    rng = random.Random(401)
    for _ in range(50):
        xs = [rng.randint(0, 50) for _ in range(rng.randint(4, 40))]
        n, s = len(xs), sum(xs)
        s2 = sum(x * x for x in xs)
        if n * s2 - s * s == 0:
            continue
        sd2 = sum((xs[i] - xs[i - 1]) ** 2 for i in range(1, n))
        mean = Fraction(s, n)
        vn_ref = Fraction(sd2) / sum((x - mean) ** 2 for x in xs)
        assert Fraction(n * sd2, n * s2 - s * s) == vn_ref


def test_ordinal_pattern_encoding_and_entropy_quantization():
    import itertools

    # distinct triples -> the 6 strict orderings get 6 distinct codes
    codes = set()
    for perm in itertools.permutations((1, 2, 3)):
        x1, x2, x3 = perm
        c = lambda a, b: 0 if a < b else (1 if a == b else 2)
        codes.add(9 * c(x1, x2) + 3 * c(x2, x3) + c(x1, x3))
    assert len(codes) == 6
    # tie patterns are distinct from all strict ones
    c = lambda a, b: 0 if a < b else (1 if a == b else 2)
    tie = 9 * c(1, 1) + 3 * c(1, 2) + c(1, 2)
    assert tie not in codes
    # quantized n-scaled entropy: each cell floors, so the integer sum is
    # within n_cells of the true 1e6 * n * H
    rng = random.Random(409)
    for _ in range(40):
        cells = [rng.randint(1, 100) for _ in range(rng.randint(2, 27))]
        n = sum(cells)
        true = sum(10**6 * ci * math.log(n / ci) for ci in cells)
        quant = sum(math.floor(10**6 * ci * math.log(n / ci)) for ci in cells)
        assert 0 <= true - quant <= len(cells)


def test_western_electric_cleared_sigma_zones():
    rng = random.Random(419)
    for _ in range(60):
        xs = [rng.randint(0, 40) for _ in range(rng.randint(5, 30))]
        n, s = len(xs), sum(xs)
        s2 = sum(x * x for x in xs)
        v2 = n * s2 - s * s
        mean = Fraction(s, n)
        var_pop = Fraction(v2, n * n)
        for x in xs:
            for k in (1, 2, 3):
                beyond_ref = (x - mean) ** 2 > k * k * var_pop
                beyond_int = (n * x - s) ** 2 > k * k * v2
                assert beyond_int == beyond_ref


def test_hampel_threshold_and_window_median():
    import statistics

    rng = random.Random(449)
    # 3 * 1.4826 scaled by 1e4 is exactly the 44478 literal
    assert round(3 * 1.4826 * 10000) == 44478
    for _ in range(80):
        win = [rng.randint(0, 100) for _ in range(7)]
        med = sorted(win)[3]
        assert med == statistics.median(win)
        mad = sorted(abs(v - med) for v in win)[3]
        assert mad == statistics.median([abs(v - med) for v in win])
        x = rng.randint(0, 100)
        flag_int = 10000 * abs(x - med) > 44478 * mad
        flag_frac = abs(x - med) > Fraction(44478, 10000) * mad
        assert flag_int == flag_frac


# ---------------------------------------------------------------------------
# Calendar fill and rollups (events_time_gap_fill, events_time_rollup,
# events_locf_fill)
# ---------------------------------------------------------------------------


def test_gap_fill_is_dense_and_consistent(spark):
    """Output must cover every (event_type, day) cell of the calendar; filled
    values on observed rows equal the daily aggregate."""
    from mongodb_nats_connector_spark.operators.events import events_time_gap_fill

    out = events_time_gap_fill(spark, SF).toPandas()
    n_types = out["event_type"].nunique()
    n_days = out["day"].nunique()
    assert len(out) == n_types * n_days
    # forward fill: an unobserved day carries some earlier day's value (or 0)
    assert (out.loc[~out["observed"], "filled_value"] >= 0).all()


def test_time_rollup_grand_total_matches(spark):
    """The grain-3 row is the grand total: its n_events equals the raw count."""
    from mongodb_nats_connector_spark.operators.events import events_time_rollup
    from mongodb_nats_connector_spark.sources.tables import table

    out = events_time_rollup(spark, SF).collect()
    grand = [r for r in out if r["grain"] == 3]
    assert len(grand) == 1
    raw = table(spark, SF, "events").count()
    assert grand[0]["n_events"] == raw
    # every grain's events sum to the same total
    for g in (0, 1, 2):
        assert sum(r["n_events"] for r in out if r["grain"] == g) == raw


def test_locf_matches_pandas_ffill(spark):
    from mongodb_nats_connector_spark.operators.events import events_locf_fill

    got = events_locf_fill(spark, SF).toPandas()
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    # match the operator's SQL semantics: event_type <> 'error' is NULL (not
    # true) for NULL event_type, so those rows must be gaps too
    ev["v"] = ev["value"].where(
        ev["event_type"].notna() & (ev["event_type"] != "error")
    )
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    ev["v_filled"] = ev.groupby("user_id")["v"].ffill()
    ref = ev.set_index("event_id")[["v", "v_filled"]]
    assert len(got) == len(ev)  # LOCF is 1:1 — no rows dropped
    g = got.set_index("event_id")[["v", "v_filled"]].reindex(ref.index)
    for col in ("v", "v_filled"):
        assert (
            (g[col] == ref[col]) | (g[col].isna() & ref[col].isna())
        ).all(), col


# ---------------------------------------------------------------------------
# Conversion and funnels (events_time_to_convert, events_funnel_paths_topk)
# ---------------------------------------------------------------------------


def test_time_to_convert_nonnegative_and_consistent(spark):
    out = events_time_to_convert(spark, SF).toPandas()
    ev = table(spark, SF, "events").toPandas()
    signups = set(ev[ev["event_type"] == "signup"]["user_id"])
    assert set(out["user_id"]) == signups
    conv = out.dropna(subset=["micros_to_convert"])
    assert (conv["micros_to_convert"] >= 0).all()
    assert (conv["first_purchase_ts"] >= conv["signup_ts"]).all()


def test_funnel_paths_counts_partition_users(spark):
    from mongodb_nats_connector_spark.operators.events import events_funnel_paths_topk

    out = events_funnel_paths_topk(spark, SF).toPandas()
    n_users = table(spark, SF, "events").select("user_id").distinct().count()
    assert out["n_users"].sum() <= n_users
    assert (np.diff(out["n_users"].values) <= 0).all()


# ---------------------------------------------------------------------------
# Activity (events_stickiness_dau_wau, events_max_concurrency,
# events_activity_streaks)
# ---------------------------------------------------------------------------


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


def test_streaks_match_pandas_rederivation(spark):
    from mongodb_nats_connector_spark.operators.events import events_activity_streaks

    got = {
        r["user_id"]: (r["streak_days"], r["streak_start"])
        for r in events_activity_streaks(spark, SF).collect()
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    pdf = ev.toPandas().drop_duplicates()
    ref = {}
    for uid, grp in pdf.groupby("user_id"):
        days = sorted(grp["day"])
        best_len, best_start = 0, None
        run_len, run_start = 0, None
        prev = None
        for d in days:
            if prev is not None and (d - prev) == pd.Timedelta(days=1):
                run_len += 1
            else:
                run_len, run_start = 1, d
            if run_len > best_len:
                best_len, best_start = run_len, run_start
            prev = d
        ref[uid] = (best_len, best_start)
    assert got == ref


def test_streaks_two_exchanges_only(spark):
    """The plan claim in the docstring: (user, day) distinct plus ONE
    user_id exchange that serves the window, the streak aggregation, and
    the per-user argmax."""
    from mongodb_nats_connector_spark.operators.events import events_activity_streaks
    from mongodb_nats_connector_spark.plans.explain import count_key_exchanges

    assert count_key_exchanges(events_activity_streaks(spark, SF)) == 2


# ---------------------------------------------------------------------------
# CUSUM changepoint (events_cusum_changepoint)
# ---------------------------------------------------------------------------


def test_cusum_telescopes_and_flags_unique_argmax(spark):
    from mongodb_nats_connector_spark.operators.events import events_cusum_changepoint

    rows = events_cusum_changepoint(spark, SF).orderBy("day").collect()
    # telescoping identity: S_n = prefix_n - n*mean = 0 exactly
    assert rows[-1]["cusum"] == 0.0
    flagged = [r for r in rows if r["is_changepoint"]]
    assert len(flagged) == 1
    peak = max(abs(r["cusum"]) for r in rows)
    assert abs(flagged[0]["cusum"]) == peak
    # ties break to the earliest day
    first_at_peak = min(r["day"] for r in rows if abs(r["cusum"]) == peak)
    assert flagged[0]["day"] == first_at_peak


# ---------------------------------------------------------------------------
# Experiment statistics, change points, interval unions and funnels,
# recomputed from their definitions
# ---------------------------------------------------------------------------


def test_cuped_reduces_variance(spark):
    """The CUPED-adjusted metric has variance <= the raw post metric (the
    whole point of the transform), and adjusted means match raw means."""
    from mongodb_nats_connector_spark.operators.events import events_cuped_adjust

    out = events_cuped_adjust(spark, SF).toPandas()
    assert out["post_adj"].var() <= out["post"].var() + 1e-9
    # theta*(pre - mean(pre)) has mean ~0, so means agree
    assert abs(out["post_adj"].mean() - out["post"].mean()) < 1e-2


def test_intervals_union_matches_sweep(spark):
    """Covered time and block count per user equal a plain-Python
    interval-merge sweep."""
    from mongodb_nats_connector_spark.operators.events import (
        INTERVAL_US,
        events_intervals_union,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["ts"].notna()].copy()
    ev["s"] = ev["ts"].astype("datetime64[us]").astype("int64")
    exp = {}
    for uid, g in ev.groupby("user_id"):
        ivs = sorted((s, s + INTERVAL_US) for s in g["s"])
        covered = blocks = 0
        cur_end = None
        for s, e in ivs:
            if cur_end is None or s >= cur_end:
                blocks += 1
                covered += e - s
                cur_end = e
            elif e > cur_end:
                covered += e - cur_end
                cur_end = e
        exp[uid] = (len(ivs), covered, blocks)
    got = {
        r["user_id"]: (r["n_events"], r["covered_us"], r["n_blocks"])
        for r in events_intervals_union(spark, SF).collect()
    }
    assert got == exp


def test_funnel_windowed_ordering_and_window(spark):
    """t1 <= t2 <= t3, every step within the window of t1, level counts
    monotone, and levels match a plain-pandas recompute."""
    from mongodb_nats_connector_spark.operators.events import (
        FUNNEL_WINDOW_DAYS,
        events_funnel_windowed,
    )

    out = events_funnel_windowed(spark, SF).toPandas()
    w = pd.Timedelta(days=FUNNEL_WINDOW_DAYS)
    got2 = out[out["t2"].notna()]
    assert (got2["t2"] >= got2["t1"]).all()
    assert (got2["t2"] <= got2["t1"] + w).all()
    got3 = out[out["t3"].notna()]
    assert (got3["t3"] >= got3["t2"]).all()
    assert (got3["t3"] <= got3["t1"] + w).all()
    n1, n2, n3 = (out["level"] >= 1).sum(), (out["level"] >= 2).sum(), (
        out["level"] >= 3
    ).sum()
    assert n1 >= n2 >= n3
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    exp_levels = {}
    for uid, g in ev.groupby("user_id"):
        views = g[g.event_type == "view"]["ts"]
        if views.empty:
            continue
        t1 = views.min()
        lvl = 1
        clicks = g[(g.event_type == "click") & (g.ts >= t1) & (g.ts <= t1 + w)]["ts"]
        if not clicks.empty:
            t2 = clicks.min()
            lvl = 2
            buys = g[(g.event_type == "purchase") & (g.ts >= t2) & (g.ts <= t1 + w)]["ts"]
            if not buys.empty:
                lvl = 3
        exp_levels[uid] = lvl
    got_levels = dict(zip(out["user_id"], out["level"]))
    assert got_levels == exp_levels


def _write_events(spark, path, rows):
    """rows: (event_id, ts str, user_id)."""
    df = spark.createDataFrame(
        [
            (i, pd.Timestamp(t).to_pydatetime(), u, "view", 1.0, "{}")
            for i, t, u in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_intervals_union_nesting_and_ties(spark, tmp_path):
    """Adversarial interval shapes: identical timestamps (fully nested),
    back-to-back touching intervals (half-open semantics: coverage never
    double counts; touching intervals are adjacent-but-disjoint, so they
    count as separate blocks), and a disjoint gap (two blocks)."""
    from mongodb_nats_connector_spark.operators.events import (
        INTERVAL_US,
        events_intervals_union,
    )

    ten_min = INTERVAL_US // 1_000_000  # 600 s
    rows = [
        # user 1: two identical events -> one 600 s block
        (1, "2024-01-01 00:00:00", 1),
        (2, "2024-01-01 00:00:00", 1),
        # user 2: touching intervals [0,600) + [600,1200): 1200 s covered,
        # TWO blocks (half-open — adjacent, not overlapping)
        (3, "2024-01-01 00:00:00", 2),
        (4, f"2024-01-01 00:{ten_min // 60:02d}:00", 2),
        # user 3: overlap by half -> one block, 900 s
        (5, "2024-01-01 00:00:00", 3),
        (6, "2024-01-01 00:05:00", 3),
        # user 4: disjoint -> two blocks, 1200 s total
        (7, "2024-01-01 00:00:00", 4),
        (8, "2024-01-01 01:00:00", 4),
    ]
    _write_events(spark, str(tmp_path), rows)
    got = {
        r["user_id"]: (r["n_events"], r["covered_us"], r["n_blocks"])
        for r in events_intervals_union(spark, str(tmp_path)).collect()
    }
    M = 1_000_000
    assert got[1] == (2, 600 * M, 1)
    assert got[2] == (2, 1200 * M, 2)
    assert got[3] == (2, 900 * M, 1)
    assert got[4] == (2, 1200 * M, 2)


def test_did_identity_and_cells(spark):
    """The DiD estimate equals (T_post-T_pre)-(C_post-C_pre) recomputed
    from the emitted cell means, and the 4 cells partition all valued
    events."""
    from mongodb_nats_connector_spark.operators.events import events_did_uplift

    out = events_did_uplift(spark, SF).toPandas()
    assert len(out) == 4
    cells = {(r["treat"], r["post"]): r["mean_v"] for _, r in out.iterrows()}
    did = round(
        (cells[(1, 1)] - cells[(1, 0)]) - (cells[(0, 1)] - cells[(0, 0)]), 6
    )
    assert (out["did"] - did).abs().max() < 1e-9
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    assert out["n"].sum() == ev["value"].notna().sum()


def test_paired_ttest_matches_pandas(spark):
    """t statistic recomputed from per-user pre/post sums in pandas
    matches; pairing uses the same split as CUPED (shared helper)."""
    from mongodb_nats_connector_spark.operators.events import (
        CUPED_SPLIT_DAYS,
        events_paired_ttest,
    )

    row = events_paired_ttest(spark, SF).collect()[0]
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["value"].notna()].copy()
    ev["day"] = ev["ts"].dt.date
    import datetime

    split = min(ev["day"]) + datetime.timedelta(days=CUPED_SPLIT_DAYS)
    diffs = []
    for _, g in ev.groupby("user_id"):
        pre = round(g[g["day"] < split]["value"].sum(), 4)
        post = round(g[g["day"] >= split]["value"].sum(), 4)
        diffs.append(round(post - pre, 4))
    s = pd.Series(diffs)
    t = s.mean() / (s.std(ddof=1) / (len(s) ** 0.5))
    assert row["n_users"] == len(diffs)
    assert abs(row["t_stat"] - round(t, 4)) < 1e-3


def test_pettitt_matches_sign_double_sum(spark):
    from mongodb_nats_connector_spark.operators.events import events_pettitt_changepoint

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["ts"].notna()]
    daily = (
        ev.groupby(ev["ts"].dt.date).size().sort_index().reset_index(name="cnt")
    )
    x = daily["cnt"].to_numpy()
    n = len(x)
    best_k, best_day = -1, None
    for t in range(1, n):  # split after position t-1 (1..n-1 prefix sizes)
        u = int(np.sign(x[:t][:, None] - x[t:][None, :]).sum())
        if abs(u) > best_k:
            best_k, best_day = abs(u), daily.iloc[t - 1, 0]
    row = events_pettitt_changepoint(spark, SF).collect()[0]
    assert row["n_days"] == n
    assert row["k_stat"] == best_k
    assert row["cp_day"] == best_day
    assert 0.0 <= row["p_approx"] <= 1.0


def test_odds_ratio_ci_brackets_point(spark):
    from mongodb_nats_connector_spark.operators.events import events_odds_ratio

    rows = events_odds_ratio(spark, SF01).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["ci_lo"] <= r["odds_ratio"] <= r["ci_hi"]
    expected = r["n11"] * r["n00"] / (r["n10"] * r["n01"])
    assert abs(r["odds_ratio"] - expected) < 1e-3
    # median split: conv=1 is the strict-majority-above side, so each
    # cohort keeps both converters and non-converters
    assert min(r["n11"], r["n10"], r["n01"], r["n00"]) > 0


def test_effect_size_matches_numpy(spark):
    from mongodb_nats_connector_spark.operators.events import events_effect_size

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["user_id"].notna() & ev["value"].notna()].copy()
    v = (ev["value"] * 10000).round() / 10000.0
    coh = (ev["user_id"] % 2).to_numpy()
    a, b = v[coh == 1].to_numpy(), v[coh == 0].to_numpy()
    n1, n0 = len(a), len(b)
    pooled = math.sqrt(
        ((n1 - 1) * a.var(ddof=1) + (n0 - 1) * b.var(ddof=1)) / (n1 + n0 - 2)
    )
    d = (a.mean() - b.mean()) / pooled
    g = d * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0))
    r = events_effect_size(spark, SF).collect()[0]
    assert r["n1"] == n1 and r["n0"] == n0
    assert abs(r["mean_diff"] - (a.mean() - b.mean())) < 1e-3
    assert abs(r["cohens_d"] - d) < 1e-4
    assert abs(r["hedges_g"] - g) < 1e-4
    assert abs(r["hedges_g"]) < abs(r["cohens_d"])


def _write_events9(spark, path, rows):
    """rows: (event_id, ts str, user_id, event_type)."""
    df = spark.createDataFrame(
        [
            (i, pd.Timestamp(t).to_pydatetime(), u, et, 1.0, "{}")
            for i, t, u, et in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_pettitt_argmax_tie_breaks_to_earliest_day(spark, tmp_path):
    """A symmetric step series where multiple split points share the max
    |U|: the changepoint must be the EARLIEST argmax day in both engines."""
    from mongodb_nats_connector_spark.operators.events import events_pettitt_changepoint

    # counts per day: 1,1,2,2 -> |U| peaks identically at t=2 (and t=2 only
    # by construction), then extend with a flat tail creating a tie plateau
    rows = []
    eid = 0
    counts = [1, 1, 3, 3, 3]
    for d, c in enumerate(counts, start=1):
        for _ in range(c):
            eid += 1
            rows.append((eid, f"2024-01-{d:02d} 12:00:00", 1, "view"))
    _write_events9(spark, str(tmp_path), rows)
    r = events_pettitt_changepoint(spark, str(tmp_path)).collect()[0]
    # brute force
    x = np.array(counts)
    n = len(x)
    us = [
        abs(int(np.sign(x[:t][:, None] - x[t:][None, :]).sum()))
        for t in range(1, n)
    ]
    k = max(us)
    first_t = us.index(k) + 1
    assert r["k_stat"] == k
    assert str(r["cp_day"]) == f"2024-01-{first_t:02d}"


def test_pettitt_constant_series_k_zero(spark, tmp_path):
    from mongodb_nats_connector_spark.operators.events import events_pettitt_changepoint

    rows = [
        (i * 10 + d, f"2024-02-{d:02d} 00:30:00", 1, "view")
        for d in range(1, 6)
        for i in range(2)
    ]
    _write_events9(spark, str(tmp_path), rows)
    r = events_pettitt_changepoint(spark, str(tmp_path)).collect()[0]
    assert r["k_stat"] == 0
    assert r["p_approx"] == 1.0  # capped: 2*exp(0) -> least(1, 2)


def test_power_analysis_formula_and_monotonicity(spark):
    from mongodb_nats_connector_spark.operators.events import (
        POWER_MDE_PP,
        POWER_Z_ALPHA,
        POWER_Z_BETA,
        events_power_analysis,
    )

    rows = sorted(
        events_power_analysis(spark, SF01).collect(),
        key=lambda r: r["lift_pp"],
    )
    assert len(rows) == len([m for m in POWER_MDE_PP])
    # bigger detectable lifts need fewer users per arm
    ns = [r["n_per_arm"] for r in rows]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        p1 = r["conv_users"] / r["n_users"]
        p2 = p1 + r["lift_pp"] / 100.0
        pbar = (p1 + p2) / 2
        num = POWER_Z_ALPHA * math.sqrt(
            2 * pbar * (1 - pbar)
        ) + POWER_Z_BETA * math.sqrt(p1 * (1 - p1) + p2 * (1 - p2))
        expect = math.ceil(num * num / (p2 - p1) ** 2)
        assert r["n_per_arm"] == expect
        assert r["currently_powered"] == (
            1 if r["n_users"] // 2 >= expect else 0
        )


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=20), min_size=2, max_size=40))
def test_pettitt_rank_identity_under_ties(xs):
    """The operator's rank formulation U_t = 2*S_t - t*(n+1) (with
    average-rank ties) must equal the defining sign double-sum
    U_t = sum_{i<=t, j>t} sign(x_i - x_j) for EVERY split point — the
    identity that lets the distributed plan avoid the O(n^2) pairs."""
    n = len(xs)
    # average ranks: min-rank + (ties - 1) / 2
    order = sorted(range(n), key=lambda i: xs[i])
    ranks = [0.0] * n
    i = 0
    while i < n:
        j = i
        while j < n and xs[order[j]] == xs[order[i]]:
            j += 1
        avg = (i + 1 + j) / 2.0  # mean of positions i+1 .. j
        for k in range(i, j):
            ranks[order[k]] = avg
        i = j
    s = 0.0
    for t in range(1, n):
        s += ranks[t - 1]
        u_rank = 2.0 * s - t * (n + 1)
        u_sign = sum(
            (xs[i] > xs[j]) - (xs[i] < xs[j])
            for i in range(t)
            for j in range(t, n)
        )
        assert abs(u_rank - u_sign) < 1e-9, (t, u_rank, u_sign)


def test_entropy_rate_matches_crosstab(spark):
    from mongodb_nats_connector_spark.operators.events import events_entropy_rate

    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    ev = ev[ev["user_id"].notna() & ev["ts"].notna() & ev["event_type"].notna()]
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    pairs = []
    for _, g in ev.groupby("user_id"):
        types = list(g["event_type"])
        pairs += list(zip(types, types[1:]))
    from collections import Counter

    nij = Counter(pairs)
    ni = Counter(p for p, _ in pairs)
    nn = len(pairs)
    h = sum(
        (c / nn) * math.log(ni[p] / c) for (p, _), c in nij.items()
    )
    r = events_entropy_rate(spark, SF).collect()[0]
    assert r["n_transitions"] == nn
    assert r["n_states"] == len(ni)
    assert abs(r["entropy_rate_nats"] - h) < 1e-5
    assert 0.0 <= r["efficiency"] <= 1.0 + 1e-9


def test_markov_stationary_sums_to_one(spark):
    """Fixed-point probabilities must sum to ~1e9 ppb (floor-division loss
    bounded by states x iterations) and every state must be emitted."""
    from mongodb_nats_connector_spark.operators.events import events_markov_stationary

    rows = events_markov_stationary(spark, SF).collect()
    assert len(rows) >= 2
    total = sum(r["stationary_ppb"] for r in rows)
    assert 1_000_000_000 - len(rows) * 10 <= total <= 1_000_000_000
    for r in rows:
        assert 0 <= r["stationary_ppb"] <= 1_000_000_000


def test_wilcoxon_matches_pure_python(spark):
    """W+ and z must equal the textbook signed-rank statistic (sorted
    midranks, tie-corrected variance) computed independently in numpy over
    the same quantized per-user differences."""
    from mongodb_nats_connector_spark.operators.events import (
        _valued_events_prepost,
        events_wilcoxon_signed_rank,
    )

    per_user = (
        _valued_events_prepost(spark, SF)
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
        .toPandas()
    )
    d4 = np.rint(
        (per_user["post"] - per_user["pre"]).to_numpy() * 10000
    ).astype(np.int64)
    d4 = d4[d4 != 0]
    n = len(d4)
    assert n > 10  # the sf0.001 sample must actually exercise the test
    ad = np.abs(d4)
    order = np.argsort(ad, kind="mergesort")
    ranks = np.empty(n, dtype="float64")
    sorted_ad = ad[order]
    i, next_rank = 0, 1
    while i < n:
        j = i
        while j < n and sorted_ad[j] == sorted_ad[i]:
            j += 1
        ranks[order[i:j]] = (next_rank + (next_rank + (j - i) - 1)) / 2.0
        next_rank += j - i
        i = j
    w_plus = float(ranks[d4 > 0].sum())
    _, counts = np.unique(ad, return_counts=True)
    c = counts.astype("int64")
    ties3 = int((c.astype(object) ** 3 - c).sum())
    var = n * (n + 1) * (2 * n + 1) / 24.0 - ties3 / 48.0
    z = (w_plus - n * (n + 1) / 4.0) / math.sqrt(var)
    row = events_wilcoxon_signed_rank(spark, SF).collect()[0]
    assert row["n_nonzero"] == n
    assert row["w_plus_x2"] == int(round(2 * w_plus))
    assert row["w_plus"] == pytest.approx(w_plus)
    assert row["z_stat"] == pytest.approx(z, rel=1e-12)


def test_wilcoxon_known_answer_and_degenerate(spark, tmp_path):
    """Classic hand-checkable case: diffs {+1,+2,+3,-4,+5} give W+ = 11,
    n = 5, no ties; and an all-zero-difference table emits zero rows."""
    import datetime

    from mongodb_nats_connector_spark.operators.events import (
        events_wilcoxon_signed_rank,
    )

    base = datetime.datetime(1995, 1, 1, 12, 0, 0)
    post_day = base + datetime.timedelta(days=20)  # past the +15 split
    diffs = {1: 1.0, 2: 2.0, 3: 3.0, 4: -4.0, 5: 5.0}
    rows = []
    for uid, d in diffs.items():
        rows.append((uid * 10, base, uid, "click", 10.0, None))
        rows.append((uid * 10 + 1, post_day, uid, "click", 10.0 + d, None))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    spark.createDataFrame(rows, schema).write.parquet(
        f"{tmp_path}/a/events.parquet", mode="overwrite"
    )
    r = events_wilcoxon_signed_rank(spark, f"{tmp_path}/a").collect()
    assert len(r) == 1
    assert r[0]["n_nonzero"] == 5
    assert r[0]["w_plus"] == pytest.approx(11.0)
    expected_z = (11.0 - 5 * 6 / 4.0) / math.sqrt(5 * 6 * 11 / 24.0)
    assert r[0]["z_stat"] == pytest.approx(expected_z)

    zero_rows = []
    for uid in range(1, 6):
        zero_rows.append((uid * 10, base, uid, "click", 7.0, None))
        zero_rows.append((uid * 10 + 1, post_day, uid, "click", 7.0, None))
    spark.createDataFrame(zero_rows, schema).write.parquet(
        f"{tmp_path}/b/events.parquet", mode="overwrite"
    )
    assert events_wilcoxon_signed_rank(spark, f"{tmp_path}/b").count() == 0


def test_page_hinkley_matches_recurrence_replay(spark):
    """The scaled PH columns must replay the textbook recurrence
    m_t = sum(x_i - mean), PH+ = m - min, PH- = max - m (scaled by T)."""
    from mongodb_nats_connector_spark.operators.events import events_page_hinkley

    rows = sorted(
        events_page_hinkley(spark, SF).collect(), key=lambda r: r["day"]
    )
    x = np.array([r["value_x10k"] for r in rows], dtype=object)
    t = len(x)
    s = int(x.sum())
    cum, mn, mx = 0, None, None
    for i, r in enumerate(rows):
        cum += int(x[i])
        m = t * cum - (i + 1) * s
        # running extremes over the OBSERVED prefix only (no virtual m_0)
        mn = m if mn is None else min(mn, m)
        mx = m if mx is None else max(mx, m)
        assert r["m_scaled"] == m
        # running extremes INCLUDE the current row (inclusive frame)
        assert r["ph_inc"] == m - mn and r["ph_inc"] >= 0
        assert r["ph_dec"] == mx - m and r["ph_dec"] >= 0
    assert rows[-1]["m_scaled"] == 0  # telescopes to zero at t = T
    assert sum(r["is_upshift_peak"] for r in rows) >= 1
    assert sum(r["is_downshift_peak"] for r in rows) >= 1


def test_burst_detection_hysteresis_replay(spark):
    """State, starts and burst ids must replay the two-threshold machine
    exactly from the daily counts."""
    from mongodb_nats_connector_spark.operators.events import (
        BURST_HI_NUM,
        BURST_LO_NUM,
        events_burst_detection,
    )

    rows = sorted(
        events_burst_detection(spark, SF).collect(), key=lambda r: r["day"]
    )
    t = len(rows)
    n = sum(r["n_events"] for r in rows)
    state, bid = 0, 0
    for r in rows:
        lhs = 50 * r["n_events"] * t
        prev = state
        if lhs > BURST_HI_NUM * n:
            state = 1
        elif lhs < BURST_LO_NUM * n:
            state = 0
        start = state == 1 and prev == 0
        if start:
            bid += 1
        assert r["state"] == state
        assert r["is_burst_start"] == start
        assert r["burst_id"] == (bid if state == 1 else 0)
    assert sum(r["is_burst_start"] for r in rows) >= 1  # machine fires
