"""Event-stream analytics (``operators/events.py``, ``events_*``): calendar
fills and rollups, conversion and funnels, activity streaks, burst
detection, series diagnostics and control rules.

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
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.operators.events import events_time_to_convert
from mongodb_nats_connector_spark.sources.tables import table

SF = "/root/testdata/sf0.001"


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
