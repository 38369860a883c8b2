"""Literal and identifier quoting for plans built as SQL text.

The pass-1 fold, the drift projections and the stats unpivot ship one
parsed string per expression instead of a py4j round-trip per Column
operator. Every user-supplied string that lands in that text goes through
these helpers, so it reads back exactly as the Column API would have
passed it.
"""

from __future__ import annotations


def sql_str(s: str) -> str:
    """String literal. Backslashes first: Spark's SQL parser treats ``\\``
    as an escape inside string literals by default."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier; any name (dots, hyphens, backticks)
    resolves to the column of exactly that name."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(v: float) -> str:
    """Exact double literal: repr round-trips the float and CAST(string AS
    DOUBLE) parses with Double.parseDouble, so the constant is bit-identical
    to ``F.lit(float)``."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"
