"""Batch operator surface: every ``@register`` query, grouped by domain.

- ``relational`` — TPC-H queries (``q<N>_``), joins and relational
  aggregates; ``formats`` — JSON/CSV source round-trips;
- ``stats`` — statistical aggregates (``agg_``); ``orders`` — order and
  supply-chain analytics; ``events`` — event-stream analytics;
- ``graph`` — graph and PageRank operators, on the registration-free
  building blocks in ``graph_common``;
- ``text``, ``similarity``, ``multimodal``, ``dedup``, ``curation`` — corpus,
  embedding and payload operators of a training-data pipeline;
- ``cdc``, ``windows_batch``, ``udfs`` — the connector's CDC semantics, event-time
  windows and the Python UDF surface as batch-checkable queries;
- ``double_sums`` — the six queries whose ``_dsum`` is ``double_sum`` (its
  docstring says why they are kept apart).

``pipeline8``, ``pipeline10`` and ``pipeline14`` are one-name re-exports kept
for digested query bodies that import those names by module.

Cross-engine determinism rules. The driver hashes each query's raw result
bits against its DuckDB oracle, so both engines must compute the same bits:

- Outputs are integers wherever possible (cents, micros, counts, ranks, ppm).
  Per-row float terms are scaled to integers before any cross-row sum, so
  aggregation order cannot move a bit.
- Sums that can pass 2^63 accumulate as DECIMAL(38,0) in Spark and HUGEINT in
  DuckDB (``functions.exactsum.decimal_sum``), both exact. A total that can
  pass 2^53 is integer-divided below 2^53 before its one conversion to
  DOUBLE: integer-to-double casts above 2^53 differ (DuckDB truncates, Spark
  rounds).
- Integer division truncates toward zero on both engines: Spark's
  ``-7 div 2`` and DuckDB's ``-7 // 2`` are both -3 (Spark 4.1, DuckDB 1.0).
  Only Python's ``//`` floors. Signed divisions therefore match.
- IEEE ``+ - * /`` and ``sqrt`` are correctly rounded, so the final scalar
  expression is written with the same operand order on both sides.
  ``exp``/``ln``/``pow`` and ``round()`` of a libm result may differ by an
  ulp and stay off the hashed surface. The one exception is ``ln()``
  floor-quantized to integer micro-nats per distinct domain cell
  (``agg_mutual_information`` and its successors), which the parity suite
  and ``tools/bitexact_probe.py`` check cell by cell.
- Doubles are rounded with ``floor(x + 0.5)``, not ``round()``, and
  fractional oracle constants are ``CAST(c AS DOUBLE)``: a bare DuckDB
  decimal literal is an exact DECIMAL.
- Row-picking decisions (argmax, bucketing, sampling, tie-breaks) are made on
  integers or dates. The md5-prefix hash (``graph_common.md5_hash60``) is the
  one hash both engines compute identically.
- Rank statistics use doubled midranks (``2 * below + ties + 1``) over the
  distinct-value domain, never a per-row rank window. Sequential folds
  (exponential smoothing) round at every step so both engines walk the same
  sequence of doubles.
"""
