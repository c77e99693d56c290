"""Plan-shaping helpers: keep Catalyst from re-evaluating expensive
projected expressions.

``PushPredicateThroughNonJoin`` pushes a filter below a projection by
substituting the projected aliases into the predicate — so a query that
projects an expensive column (a regex battery, a quality score) and then
filters on it evaluates the whole expression tree TWICE per row: once in
the pushed-down Filter and once in the Project above it (round-14
measurement: q_pii_scrub's 4-pattern progressive regex battery ran 2x,
1.19 s vs 0.46 s warm over sf0.1 documents). Codegen subexpression
elimination dedups within one operator but never across Filter/Project.

``filter_computed`` blocks that pushdown without materializing anything:
the rule's guard is ``fields.forall(_.deterministic)``, so staging the
projection with one non-deterministic sentinel column keeps the filter
ABOVE the projection, where the predicate reads the already-computed
attribute. The sentinel must survive ColumnPruning, so it is anchored by
an always-true conjunct in the filter itself (``rand(0)`` is in [0, 1),
always >= -1, and its fixed seed gives every build of a statement one
plan, so one set of generated classes; ``monotonically_increasing_id``
would also work in batch but is rejected by the streaming
UnsupportedOperationChecker, and the dialect per-row stages run on
streaming frames too) and dropped by the projection the caller puts on
top. Scale note: this is pure plan shaping — no extra pass, no state;
the sentinel is one double per in-flight row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: sentinel column name — double-underscore like the other staging columns
_ND = "__planshape_nd"


def filter_computed(df: DataFrame, cond: Column) -> DataFrame:
    """``df.filter(cond)`` with the predicate evaluated ABOVE ``df``'s
    projection (one evaluation of every projected expression per row)
    instead of being pushed below it (re-evaluation in the Filter).

    ``cond`` must reference ``df``'s output columns. The caller is
    expected to project the final column list on top (both to drop the
    staged helper columns and because that top projection is what keeps
    the sentinel out of the result schema)."""
    anchored = df.select("*", F.rand(0).alias(_ND))
    return anchored.filter(cond & (F.col(_ND) >= -1.0)).drop(_ND)
