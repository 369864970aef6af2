"""Reference-semantics compatibility helpers.

The reference executes its query through SQLite 3 (fetch.go:222), whose
dialect differs from Spark SQL in a few silently-breaking ways documented in
SURVEY.md §7.4. Each helper pins one of those semantics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sqlite_like(col: Column | str, pattern: str) -> Column:
    """SQLite ``LIKE`` is case-insensitive for ASCII by default
    (select_point_to_point_links.sql:70 relies on it: ``licencecode LIKE
    'F%'`` matches ``f...`` rows). Spark ``like`` is case-sensitive, so the
    parity spelling is ``ilike``.

    Pushdown helper: ``ilike`` compiles to ``StartsWith(lower(col))``,
    which can NOT reach a parquet scan (function-wrapped column). For
    single-character prefix patterns ``X%`` we AND in the exactly-
    equivalent raw-column disjunction ``startswith('X') OR
    startswith('x')`` — Catalyst pushes the disjunction into
    ``PushedFilters`` (row-group skipping at 100 TB) while the ``ilike``
    remains the semantic predicate. Only bit-equivalent for 1-char
    prefixes (multi-char patterns would need 2^n case variants), so
    longer patterns keep the plain ``ilike``.
    """
    c = F.col(col) if isinstance(col, str) else col
    semantic = c.ilike(pattern)
    if (
        len(pattern) == 2
        and pattern.endswith("%")
        and pattern[0].isascii()
        and pattern[0].isalpha()
    ):
        p = pattern[0]
        return (c.startswith(p.upper()) | c.startswith(p.lower())) & semantic
    return semantic


def ilike_shadow_name(col: str) -> str:
    return f"_{col}_lower"


def with_ilike_shadow(df, col: str):
    """Store a lowercased shadow column alongside ``col`` at write time.

    The multi-char fix for the pushdown gap documented on
    :func:`sqlite_like`: ``ilike`` wraps the column in ``lower()`` and can
    never reach ``PushedFilters``, but a *stored* lowercase column makes a
    case-insensitive prefix predicate a plain ``StartsWith`` on a raw
    column — row-group skipping at 100 TB for any pattern length. Costs
    one extra string column at rest (dictionary-encoded parquet makes
    this cheap for low-cardinality codes like licence types)."""
    return df.withColumn(ilike_shadow_name(col), F.lower(F.col(col)))


def sqlite_like_indexed(col: str, pattern: str) -> Column:
    """SQLite-LIKE over a table that stores the :func:`with_ilike_shadow`
    column: same semantics as :func:`sqlite_like`, plus a pushdown-able
    ``StartsWith`` on the shadow for ANY-length literal prefix pattern
    (``abc%``). Falls back to plain ``ilike`` when the pattern isn't a
    literal prefix."""
    semantic = F.col(col).ilike(pattern)
    body = pattern[:-1]
    if pattern.endswith("%") and "%" not in body and "_" not in body:
        return F.col(ilike_shadow_name(col)).startswith(body.lower()) & semantic
    return semantic
