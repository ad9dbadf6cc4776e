"""Relational operators (``operators/relational.py``): ``agg_mad_outliers``'
output rounding must replicate DuckDB's ``round(x, 2)``.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_scaled_round_replays_duckdb_round2(spark):
    """agg_mad_outliers' output rounding (r15 parity fix): the scaled form
    round(x*100)/100 must replicate DuckDB's round(x, 2) — half away from
    zero on the *product's* integer ties — where F.round(x, 2)'s
    decimal-repr HALF_UP diverges. 52724.244999999995 is the real sf0.001
    flag-R median whose product is exactly 5272424.5."""
    cases = [
        (52724.244999999995, 52724.25),   # product tie: F.round(x,2) says .24
        (-52724.244999999995, -52724.25),
        (0.125, 0.13),
        (-0.125, -0.13),
        (2.675, 2.68),
        (0.005, 0.01),
        (104949.5, 104949.5),
        (936.12, 936.12),
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], "v double")
    got = {
        r["v"]: r["r"]
        for r in df.select(
            "v", (F.round(F.col("v") * 100) / 100).alias("r")
        ).collect()
    }
    for v, want in cases:
        assert got[v] == want, (v, got[v], want)
