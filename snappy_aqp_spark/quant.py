"""Reproducible-mode quantization helpers.

Floating-point aggregation is order-dependent, so a distributed Spark sum and
a single-threaded DuckDB sum of the same doubles differ in the last ulps —
and results would even change between runs of the *same* Spark job when
partitioning changes. Reproducible mode makes every aggregate order-
independent by flooring terms onto a power-of-two lattice and summing exact
BIGINTs:

    SUM(CAST(FLOOR(term * 2^s) AS BIGINT))          -- exact, associative

``term * 2^s`` is an exact IEEE operation (power-of-two scaling), FLOOR of a
double is exact, and integer sums are associative — so the result is
bit-identical regardless of execution order, cluster size, or engine. The
quantization error is bounded by #terms * 2^-s, which we keep many orders of
magnitude below the sampling error the AQP estimators report anyway.

This matters at 100 TB: it decouples answer bytes from physical planning
(AQE re-plans, skew splits, speculative tasks) and lets an exact-replay
oracle (DuckDB here) validate the distributed engine bit-for-bit.
"""

from __future__ import annotations

import math

# keep |scaled per-term values| <= 2^TERM_BITS so FLOOR is unambiguous and
# sums of millions of terms stay far from BIGINT overflow (ANSI mode raises).
TERM_BITS = 43


def scale_exponent(max_abs: float, term_bits: int = TERM_BITS) -> int:
    """Largest s with max_abs * 2^s <= 2^term_bits (s may be negative)."""
    if max_abs <= 0:
        return term_bits
    return term_bits - max(0, math.ceil(math.log2(max_abs))) - 1


def pow2_literal(s: int) -> str:
    """Exact SQL double literal for 2^s (string cast: correctly rounded and
    typed DOUBLE in both engines — see dialect.dlit)."""
    return f"CAST('{math.ldexp(1.0, s)!r}' AS DOUBLE)"


def qsum_sql(term_sql: str, s: int) -> str:
    """Order-independent sum fragment: SUM(CAST(FLOOR(term * 2^s) AS BIGINT))."""
    return f"SUM(CAST(FLOOR(({term_sql}) * {pow2_literal(s)}) AS BIGINT))"


def measure_scale(max_abs: float, max_bits: int = 21) -> int:
    """Scale for quantizing a *measure* column to integers.

    Quantized measures must square without losing exactness inside BIGINT
    sums, so they are capped at 2^max_bits (squares <= 2^42; 2^20 rows of
    squares stay under 2^62).
    """
    if max_abs <= 0:
        return max_bits
    return max_bits - max(0, math.ceil(math.log2(max_abs))) - 1
