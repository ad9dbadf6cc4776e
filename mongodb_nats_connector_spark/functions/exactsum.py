"""Exact order-independent sums of integer-valued terms.

Terms and totals can exceed 2^53 (where a DOUBLE sum stops being exact) or
2^63 (where a BIGINT sum overflows), so both helpers accumulate as
DECIMAL(38,0), the Spark twin of the oracles' HUGEINT sums. The operator
modules import one of them as ``_dsum``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def decimal_sum(expr: Column) -> Column:
    """DECIMAL(38,0) sum. The caller must floor-divide below 2^53 before
    any double conversion."""
    return F.sum(expr.cast("decimal(38,0)"))


def double_sum(expr: Column) -> Column:
    """DECIMAL(38,0) sum, cast to DOUBLE once at the final scalar
    arithmetic.

    HASH-SURFACE BOUND: the final integer->double cast is only bit-portable
    while the total stays under 2^53 — above it DuckDB TRUNCATES
    HUGEINT/DECIMAL->DOUBLE while Spark rounds to nearest (caught live in
    orders_tukey_pairwise at sf0.1). For totals that can cross 2^53 at the
    verified scale, keep the numerator exact and integer-`div` it below
    2^53 first (the ssw_m recipe in orders_tukey_pairwise)."""
    return F.sum(expr.cast("decimal(38,0)")).cast("double")
