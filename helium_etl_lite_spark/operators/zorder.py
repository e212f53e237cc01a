"""Z-order (Morton curve) clustering for multi-dimensional data skipping.

A 100 TB table can be range-clustered on only ONE sort key; predicates
on any other column then scan every file. Interleaving the bits of two
key columns into a single Morton value and range-partitioning + sorting
on it bounds each file's min/max extent on BOTH dimensions at once, so
parquet footer stats (and Spark's row-group filter pushdown) skip data
for predicates on either key — the Delta/Iceberg `OPTIMIZE ZORDER BY`
layout, expressed with stock repartitionByRange + sortWithinPartitions.

The curve itself is pure integer bit arithmetic, generated here for
both engines from the same bit-layout loop (the round-8 generated-
oracle pattern): Spark gets shiftleft/shiftright calls, DuckDB gets
`<<`/`>>` operators, and both produce the identical BIGINT — which is
what lets a Z-order query be hash-exact against the oracle.
"""

from __future__ import annotations

ZBITS = 16  # bits kept per dimension; zval fits in 32 bits << BIGINT


def z_interleave_spark_sql(a_expr: str, b_expr: str) -> str:
    """Spark-SQL expression interleaving the low `ZBITS` of two
    non-negative integer expressions (a even positions, b odd)."""
    terms = []
    for i in range(ZBITS):
        terms.append(
            f"shiftleft(shiftright(CAST(({a_expr}) AS BIGINT), {i}) & 1, {2 * i})"
        )
        terms.append(
            f"shiftleft(shiftright(CAST(({b_expr}) AS BIGINT), {i}) & 1, {2 * i + 1})"
        )
    return "(" + " + ".join(terms) + ")"


def z_interleave_duckdb_sql(a_expr: str, b_expr: str) -> str:
    """DuckDB twin of z_interleave_spark_sql — same bit layout, same
    BIGINT result, operator syntax instead of shift functions."""
    terms = []
    for i in range(ZBITS):
        terms.append(f"(((CAST(({a_expr}) AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST(({b_expr}) AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def minmax_scale_sql(dialect: str, col: str, minv: str, maxv: str) -> str:
    """Min-max scale an integer expression onto [0, 2^ZBITS), integer
    arithmetic only (exact cross-engine). Z-ordering REQUIRES this
    normalization: raw keys with unequal ranges (say 2000 parts vs 100
    suppliers) make the wide dimension own every high Morton bit, and
    the curve degenerates into a single-key sort — measured on this
    very testdata before the fix. Scaling gives both dimensions equal
    weight at every bit level. Integer division differs by dialect
    (Spark `DIV`, DuckDB `//`); everything else is shared.

    The OPERANDS are cast to BIGINT before any subtraction or the
    * {top} blow-up: for a 32-bit INT key even `col - minv` itself
    (full-range keys) — not just the multiply — would wrap silently in
    Spark (non-ANSI) while DuckDB errors, i.e. divergent Morton values
    exactly when the engines disagree."""
    top = (1 << ZBITS) - 1
    diff = f"(CAST({col} AS BIGINT) - CAST({minv} AS BIGINT))"
    rng = f"GREATEST(CAST({maxv} AS BIGINT) - CAST({minv} AS BIGINT), 1)"
    if dialect == "spark":
        return f"CAST(({diff} * {top}) DIV {rng} AS BIGINT)"
    return f"CAST(({diff} * {top}) // {rng} AS BIGINT)"
