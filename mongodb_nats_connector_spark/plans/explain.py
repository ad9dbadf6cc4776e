"""Physical-plan inspection helpers.

Used by tests to enforce the plan properties that matter at 100 TB: filters
reach the parquet scan (PushedFilters), scans are column-pruned (ReadSchema),
dimension joins broadcast, aggregations are two-phase (partial before the
exchange), and global top-k avoids a full sort (TakeOrderedAndProject).
Catalyst gives all of these for free *if* the query is declared well — these
helpers are the regression net that keeps it that way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what df.explain(mode) prints)."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(explain_mode)


def pushed_filters(df: DataFrame) -> str:
    """Concatenated PushedFilters lines from every scan in the plan."""
    return "\n".join(
        line.strip()
        for line in plan_string(df).splitlines()
        if "PushedFilters" in line
    )


def read_schemas(df: DataFrame) -> str:
    return "\n".join(
        line.strip() for line in plan_string(df).splitlines() if "ReadSchema" in line
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df) or "BroadcastNestedLoopJoin" in plan_string(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    s = plan_string(df, "simple")
    return sum(1 for line in s.splitlines() if "Exchange" in line and "Broadcast" not in line)


def count_key_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges that move data BY KEY (hash/range partitioning).

    Round-robin exchanges are excluded: ``table(..., parallel=True)`` adds one
    to fan a single-file scan out across cores, which disappears at real scale
    (the scan itself yields splits) — it says nothing about the operator's
    algorithmic shuffle structure, which is what plan tests assert.
    """
    s = plan_string(df, "simple")
    return sum(
        1
        for line in s.splitlines()
        if "Exchange" in line
        and "Broadcast" not in line
        and "roundrobin" not in line.lower()
    )


def has_partial_aggregation(df: DataFrame) -> bool:
    """Two-phase agg: a HashAggregate below the exchange with partial funcs."""
    s = plan_string(df)
    return "partial_" in s


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in plan_string(df)


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """Window expressions evaluated with an EMPTY partition spec — each one
    funnels its whole input relation through a single task. Returns one
    string per offending logical Window node (its window expressions), so
    tests can assert the set is exactly the documented bounded-relation
    cases. Walks the optimized logical plan via py4j: the flattened explain
    string cannot distinguish partition columns from order columns inside
    ``windowspecdefinition(...)``.
    """
    out: list[str] = []
    seen_caches: set[int] = set()

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "Window":
            if node.partitionSpec().size() == 0:
                out.append(node.windowExpressions().mkString(", "))
        if name == "InMemoryRelation":
            # a persist() substitutes the cached subtree with this marker in
            # every downstream OPTIMIZED plan immediately (even before
            # materialization) — recover the cached subtree's LOGICAL plan
            # (via the physical root's logicalLink) and keep walking, so an
            # operator cannot hide a single-partition window from the lint
            # just by persisting the frame that contains it. The logical
            # form keeps the count occurrence-free (the physical tree
            # duplicates Window nodes across reused exchanges).
            # one logical descent per distinct cache entry: a cached frame
            # referenced N times downstream must not N-count its windows
            cp = node.cachedPlan()
            key = cp.hashCode()
            if key not in seen_caches:
                seen_caches.add(key)
                if cp.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                    cp = cp.inputPlan()  # AQE wrapper never carries the link
                link = cp.logicalLink()
                if link.isDefined():
                    walk(link.get())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))
        inner = node.innerChildren()
        for i in range(inner.size()):
            walk(inner.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out
