"""Tiny dialect shims for the handful of constructs where Spark SQL and
DuckDB spell things differently. Everything else in the generated fragments
is shared ANSI text.

Known portability limit (documented, not shimmed): ``CAST(double AS
DECIMAL(p,s))`` rounds HALF_UP in Spark but half-even in DuckDB, so a
decimal cast of an ambiguous double used as a GROUP BY key can bucket
boundary rows differently across engines. Decimal MEASURES are unaffected
(the engine's decimal-widening path sums exact DECIMAL(38,s) in both
engines); avoid decimal casts in group keys of oracle-compared queries or
group on the pre-cast value.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"


def dlit(x: float) -> str:
    """Portable double literal.

    DuckDB parses bare decimal literals (``1.5``) as DECIMAL and
    double-rounds them through DECIMAL128 on cast; Spark parses them as
    DOUBLE. A *string* cast is correctly rounded in both engines, giving
    the identical IEEE double.
    """
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def array_lit(dialect: str, items: list[str]) -> str:
    inner = ", ".join(items)
    return f"array({inner})" if dialect == SPARK else f"[{inner}]"


def element_at(dialect: str, arr_sql: str, idx_sql: str) -> str:
    """1-based indexing in both engines."""
    if dialect == SPARK:
        return f"element_at({arr_sql}, CAST({idx_sql} AS INT))"
    return f"list_extract({arr_sql}, CAST({idx_sql} AS INT))"


def array_sort(dialect: str, arr_sql: str) -> str:
    return f"array_sort({arr_sql})" if dialect == SPARK else f"list_sort({arr_sql})"


def collect_list(dialect: str, expr_sql: str) -> str:
    return f"collect_list({expr_sql})" if dialect == SPARK else f"list({expr_sql})"


def nan_literal() -> str:
    return "CAST('NaN' AS DOUBLE)"


def epoch_us_ntz(dialect: str, ts_sql: str) -> str:
    """Naive (NTZ) timestamp column -> microseconds since the naive epoch.

    Parquet timestamps written without isAdjustedToUTC read as
    TIMESTAMP_NTZ in Spark 4 (inferTimestampNTZ default); ``unix_micros``
    rejects NTZ, so Spark diffs from the NTZ epoch instead —
    timezone-independent and identical to DuckDB's ``epoch_us`` on its
    naive timestamps. The cast is a no-op when the column is already NTZ.
    """
    if dialect == SPARK:
        return (f"timestampdiff(MICROSECOND, "
                f"TIMESTAMP_NTZ'1970-01-01 00:00:00', "
                f"CAST({ts_sql} AS TIMESTAMP_NTZ))")
    return f"epoch_us({ts_sql})"


def last_value_ignore_nulls(dialect: str, expr_sql: str, window_sql: str) -> str:
    """``last_value(expr) IGNORE NULLS OVER window`` — Spark spells the
    ignore-nulls flag as a second function argument, DuckDB as an inline
    keyword."""
    if dialect == SPARK:
        return f"last_value({expr_sql}, true) OVER {window_sql}"
    return f"last_value({expr_sql} IGNORE NULLS) OVER {window_sql}"
