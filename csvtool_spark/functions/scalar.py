"""Scalar function builders for the csvtool dialect, as Column expressions.

Each builder reproduces a documented reference behavior (citations are to
/root/reference) as a pure ``pyspark.sql.functions`` tree — JVM-side, inside
whole-stage codegen; no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Date parts (reference function map: scanner.go:192-216, eval selector.go:218-238)
# ---------------------------------------------------------------------------


def csv_week(d: Column) -> Column:
    """Reference ``week(d)`` is integer division ``dayofyear(d)/7``
    (selector.go:225) — NOT ISO week. Positive operands, so truncation ==
    floor; cast to int matches the reference's integer result."""
    return (F.dayofyear(d) / F.lit(7)).cast("int")


def csv_dayofweek(d: Column) -> Column:
    """Reference ``day(d)``/``dayofweek(d)`` is Go ``Weekday()``: 0=Sunday..
    6=Saturday (selector.go:231); Spark dayofweek is 1-based Sunday."""
    return F.dayofweek(d) - F.lit(1)


def monthname(d: Column) -> Column:
    """Full month name, e.g. 'January' (selector.go:228)."""
    return F.date_format(d, "MMMM")


def dayname(d: Column) -> Column:
    """Full day-of-week name, e.g. 'Monday' (selector.go:237)."""
    return F.date_format(d, "EEEE")


# ---------------------------------------------------------------------------
# Predicates
# ---------------------------------------------------------------------------


def between_halfopen(x: Column, lo: Column, hi: Column) -> Column:
    """Reference BETWEEN (selector.go:480-495): if ``x >= lo`` the match is
    ``x < hi`` (upper bound EXCLUSIVE); if ``x < lo`` the match is ``x >= hi``
    (handles reversed bounds). Deliberately diverges from SQL BETWEEN."""
    return F.when(x >= lo, x < hi).otherwise(x >= hi)


def csv_like(x: Column, pattern: str) -> Column:
    """Reference LIKE compiles ``%``→``.*``, ``_``→``.`` into a
    case-insensitive anchored regex at parse time (parser.go:672-680)."""
    import re

    regex = "".join(
        ".*" if ch == "%" else "." if ch == "_" else re.escape(ch) for ch in pattern
    )
    return x.rlike(f"(?i)^{regex}$")


def null_eq(x: Column, y: Column) -> Column:
    """Reference ``=`` treats null as a first-class comparable: ``null = null``
    is true (value.go:282-287); ``where c = null`` is the idiomatic null test.
    Spark's null-safe equality operator has exactly these semantics."""
    return x.eqNullSafe(y)


# ---------------------------------------------------------------------------
# Arithmetic quirks (value.go:290-492)
# ---------------------------------------------------------------------------


def csv_div(a: Column, b: Column, int_result: bool) -> Column:
    """Division: by-zero yields null, not error (value.go:406-423); when either
    operand is an integer the result is a TRUNCATED integer — including
    ``integer / float`` (value.go:425-435)."""
    q = a / F.nullif(b, F.lit(0))
    return q.cast("long") if int_result else q


# ---------------------------------------------------------------------------
# Stateful / generator functions
# ---------------------------------------------------------------------------


def inc(order_by: Column, step: float = 1.0) -> Column:
    """Reference ``inc([step])`` is a stateful per-output-row auto-increment
    float (selector.go:204-207) — nondeterministic under parallelism. The
    deterministic Spark equivalent: row_number over an explicit ordering,
    scaled by step. Divergence (documented): requires an ordering column.

    At scale this convenience form is a single global window — acceptable
    only on small outputs. The dialect compiler does NOT use it: it
    provisions dense numbers via partition-offset arithmetic
    (dialect.compiler._attach_inc_base), which parallelizes. Prefer that
    pattern (or ``F.monotonically_increasing_id`` when density is not
    required) for large outputs."""
    w = Window.orderBy(order_by)
    return (F.row_number().over(w).cast("double") * F.lit(float(step)))
