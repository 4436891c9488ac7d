"""Deterministic numeric helpers.

Floating-point SUM is order-dependent, and Spark's shuffle order differs
run-to-run and engine-to-engine. For money-like measures we route sums
through fixed-point decimals: cast each element to DECIMAL (exact,
deterministic rounding), sum exactly (order-independent), then cast the
final aggregate back to DOUBLE. The DuckDB oracle does the identical
cast chain, so value hashes match bit-for-bit at any scale and any
partitioning — this is also the right thing at 100 TB, where a 10k-task
double sum would otherwise be non-reproducible across runs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# precision 18 / scale 4 covers every fixture measure (< 1e14) exactly.
DEC = "decimal(18,4)"


def dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def money_sum(col: str | Column, alias: str) -> Column:
    """Order-independent exact sum of a money-like double column."""
    return F.sum(dec(col)).cast("double").alias(alias)


def money_avg(col: str | Column, alias: str) -> Column:
    """avg = exact decimal sum (as double) / count — deterministic."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)


def let(col: Column, fn) -> Column:
    """Bind a computed column once per row and reuse it.

    Catalyst inlines projection aliases and does NOT eliminate common
    subexpressions inside higher-order-function lambdas — so an
    expression like ``transform(seq, i -> element_at(split(text), i))``
    re-splits the text for every element. Wrapping the value in a
    1-element array and referencing it through the lambda variable
    forces a single evaluation:

        let(tokens_expr, lambda toks: ...use toks many times...)
    """
    return F.element_at(F.transform(F.array(col), fn), 1)
