"""Two-pass exact order-statistic selection (construction-time).

``F.percentile``/``F.median`` are exact but their aggregation state is a
value->count map of every distinct value in the group: at 100 TB a
fact-proportional value domain (prices, totals in cents) funnels a
fact-sized sorted map through ONE reducer per group — §2.2's skew shape
with extra memory pressure. The sketch-variant queries are registered
separately; for the queries whose CONTRACT is the exact statistic, this
module removes the single-reducer value map with the classic two-pass
range-partitioned selection:

job 1  count rows per (group, cell), where the cell index is the
       DATA-INDEPENDENT log-scale ruler floor(64*log2(|x|)) with
       sign/zero/NaN branches — monotone in x, O(1) codegen'd arithmetic
       per row (measured ~20x cheaper than a boundary-array higher-order
       filter, which is interpreted per row), needs no sketch or min/max
       job, and is trivially identical across passes because it has no
       data-dependent literals. ANY monotone binning is correct: cells
       only balance work, every rank is located from EXACT counts. The
       counts relation is bounded by the occupied cells — 64 cells per
       octave of value range, a few hundred to a few thousand for any
       real measure column — and is collected to the driver, which
       locates the cell + local offset of each requested global rank.
job 2  one filtered pass extracts exactly those rows (a row_number
       window over the target cells only — 1/64-octave value slices,
       never a group) and collects the <= 2 x fracs x groups values.

The percentile VALUE is then recomposed on the driver by replaying
Spark's own interpolation (Percentile.getPercentile) in IEEE doubles:

    position = (n - 1) * p                       # double multiply
    lower, higher = floor(position), ceil(position)
    if higher == lower or v[lower] == v[higher]: value = float(v[lower])
    else: value = (higher - position) * float(v[lower]) \
                  + (position - lower) * float(v[higher])

Python floats ARE IEEE doubles and +,-,* are correctly rounded, so the
replay is bit-identical to the JVM evaluation — pinned by the property
test in tests/test_plans.py, which compares the replay against
``F.percentile`` bit-for-bit on adversarial random multisets. For the
doubled-median integer family (``med2 = round(percentile(x, .5) * 2)``
over BIGINTs) no float ever appears: position's fraction is exactly 0 or
0.5, both interpolation weights are exactly 0.5, the midpoint of two
int64s well under 2^52 is exactly representable, so
``round(percentile*2) == v[lower] + v[higher]`` in exact integer
arithmetic (same-key branch included: 2*v == v + v).

Boundedness: every collect here is <= groups x occupied-cells rows —
``group_cols`` must be a domain-bounded key (returnflag, priority, or
None for a global statistic), never a data-proportional one. A
degenerate distribution (all mass in one 1.1%-wide cell) degrades to one
loaded select-window task — the same graceful behavior as any range
partitioner under total key skew. The selection runs at
query-construction time (billed to the bench's build window) and re-runs
on every construction — nothing is memoized.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql import types as T


def _p2(e: float) -> float:
    """2**e in doubles without OverflowError (saturate to inf/0)."""
    if e > 1023:
        return math.inf
    if e < -1074:
        return 0.0
    return 2.0 ** e


def _cell_value_prefilter(df: DataFrame, value_col: str, cells) -> Column:
    """A cheap value-range condition that is a guaranteed SUPERSET of the
    given ruler cells. Without it, Catalyst inlines the log2 cell
    expression into every OR branch of the slice filter and evaluates it
    |cells| times per row (measured 9x slower); the plain double-range
    check short-circuits the AND so the ruler runs only on candidate
    rows. Interval bounds invert floor(64*log2(|x|)) with a 1e-9 relative
    margin — ~1e7 x log2's ulp error — so no cell member can fall
    outside; the exact _bkt equality check after it keeps the window
    partitions precise."""
    x = F.col(value_col)
    conds = []
    for c in sorted(cells):
        if c == 400000:
            if isinstance(
                df.schema[value_col].dataType, (T.DoubleType, T.FloatType)
            ):
                conds.append(F.isnan(x))
        elif c == 0:
            conds.append(x == 0)
        elif c > 0:
            k = c - 200000
            lo = _p2(k / 64.0) * (1 - 1e-9)
            hi = _p2((k + 1) / 64.0) * (1 + 1e-9)
            conds.append((x >= F.lit(lo)) & (x <= F.lit(hi)))
        else:
            k = -(c + 200000)
            lo = -(_p2((k + 1) / 64.0) * (1 + 1e-9))
            hi = -(_p2(k / 64.0) * (1 - 1e-9))
            conds.append((x >= F.lit(lo)) & (x <= F.lit(hi)))
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def _median_ranks(n: int) -> list[int]:
    """0-based ranks Spark's percentile(x, 0.5) touches: floor/ceil of
    0.5 * (n - 1)."""
    return sorted({(n - 1) // 2, n // 2})


def _cell_expr(df: DataFrame, value_col: str) -> Column:
    """Deterministic, data-independent, monotone cell index: a log-scale
    ruler with 64 cells per octave. floor(64*log2(x)) spans [-68736,
    65536] over the full double range; positives sit above +131264,
    negatives mirror below -131264, zero at 0, NaN greatest (matching
    Percentile's NaN-greatest ordering and Spark SQL's NaN sort). No
    data-dependent literal exists, so the counts pass and the select
    pass provably bin identically."""
    x = F.col(value_col)

    def ruler(v: Column) -> Column:
        return F.greatest(
            F.least(F.floor(F.log2(v) * 64), F.lit(70000.0)),
            F.lit(-70000.0),
        )

    cell = (
        F.when(x > 0, F.lit(200000) + ruler(x))
        .when(x < 0, F.lit(-200000) - ruler(-x))
        .otherwise(F.lit(0))
    )
    if isinstance(df.schema[value_col].dataType, (T.DoubleType, T.FloatType)):
        cell = F.when(F.isnan(x), F.lit(400000)).otherwise(cell)
    return cell.cast("int")


def selected_order_stats(
    df: DataFrame,
    value_col: str,
    ranks_for_n,
    group_cols: list[str] | None = None,
) -> dict[tuple, tuple[int, dict[int, object]]]:
    """Exact order statistics by two-pass range selection.

    ``ranks_for_n(n) -> iterable of 0-based ranks`` names which order
    statistics each group needs once its row count ``n`` is known.
    Returns ``{group_key_tuple: (n, {rank: value})}`` with native Python
    values (ints stay exact ints; doubles stay the parquet doubles).
    NULL ``value_col`` rows are dropped, matching Percentile's semantics.
    Only a single group column is supported (the family's shapes).
    """
    group_cols = list(group_cols or [])
    assert len(group_cols) <= 1, "selection supports at most one group col"
    df = df.filter(F.col(value_col).isNotNull())
    assigned = df.withColumn("_bkt", _cell_expr(df, value_col))
    cnt_rows = (
        assigned.groupBy(*(group_cols + ["_bkt"]))
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .collect()
    )
    per_group: dict[tuple, dict[int, int]] = {}
    for r in cnt_rows:
        key = tuple(r[c] for c in group_cols)
        per_group.setdefault(key, {})[r["_bkt"]] = r["_cnt"]
    # driver: locate (cell, local 0-based rank) for each requested rank
    targets: dict[tuple, dict[int, list[tuple[int, int]]]] = {}
    totals: dict[tuple, int] = {}
    for key, buckets in per_group.items():
        n = sum(buckets.values())
        totals[key] = n
        want: dict[int, list[tuple[int, int]]] = {}
        offset = 0
        ranks = sorted(set(ranks_for_n(n)))
        i = 0
        for b in sorted(buckets):
            c = buckets[b]
            while i < len(ranks) and ranks[i] < offset + c:
                want.setdefault(b, []).append((ranks[i] - offset, ranks[i]))
                i += 1
            offset += c
        targets[key] = want
    # one filtered pass: only the needed (group, cell) slices are
    # windowed — each window partition holds ~1/n_buckets of one group
    slice_conds = []
    pick_conds = []
    locs = []  # (key, cell, local_rank, global_rank)
    for key, want in targets.items():
        for b, pairs in want.items():
            cond = F.col("_bkt") == F.lit(b)
            for c, v in zip(group_cols, key):
                cond = cond & (F.col(c) == F.lit(v))
            slice_conds.append(cond)
            local_ranks = [lc for lc, _ in pairs]
            pick_conds.append(cond & F.col("_rn").isin(local_ranks))
            locs.extend((key, b, lc, gr) for lc, gr in pairs)
    out: dict[tuple, tuple[int, dict[int, object]]] = {
        key: (totals[key], {}) for key in per_group
    }
    if slice_conds:
        any_cond = slice_conds[0]
        for c in slice_conds[1:]:
            any_cond = any_cond | c
        all_cells = {b for want in targets.values() for b in want}
        prefilter = _cell_value_prefilter(df, value_col, all_cells)
        w = Window.partitionBy(*(group_cols + ["_bkt"])).orderBy(
            F.col(value_col).asc()
        )
        picked = (
            assigned.filter(prefilter & any_cond)
            .withColumn("_rn", F.row_number().over(w) - 1)
            .select(*(group_cols + ["_bkt", "_rn", value_col]))
        )
        any_pick = pick_conds[0]
        for c in pick_conds[1:]:
            any_pick = any_pick | c
        rows = picked.filter(any_pick).collect()
        val_at: dict[tuple, object] = {}
        for r in rows:
            key = tuple(r[c] for c in group_cols)
            val_at[(key, r["_bkt"], r["_rn"])] = r[value_col]
        for key, b, lc, gr in locs:
            out[key][1][gr] = val_at[(key, b, lc)]
    return out


def spark_percentile_replay(
    n: int, values_at: dict[int, object], p: float
) -> float:
    """Replay Percentile.getPercentile for fraction ``p`` over a group of
    ``n`` rows given the values at ranks floor/ceil of ``(n-1)*p`` —
    bit-identical to the JVM (property-pinned, see module docstring)."""
    position = float(n - 1) * p
    lower = math.floor(position)
    higher = math.ceil(position)
    lo = float(values_at[lower])
    if higher == lower:
        return lo
    hi = float(values_at[higher])
    if hi == lo:
        return lo
    return (higher - position) * lo + (position - lower) * hi


def percentile_ranks(n: int, fracs: list[float]) -> list[int]:
    """All 0-based ranks percentile(x, fracs) touches for group size n."""
    ranks = set()
    for p in fracs:
        position = float(n - 1) * p
        ranks.add(math.floor(position))
        ranks.add(math.ceil(position))
    return sorted(ranks)


def doubled_median2(n: int, values_at: dict[int, object]) -> int:
    """``round(percentile(x, 0.5) * 2)`` over BIGINTs as exact integer
    arithmetic: v[lower] + v[higher] (see module docstring for the
    exactness argument)."""
    return int(values_at[(n - 1) // 2]) + int(values_at[n // 2])
