"""Plan shaping: one rule decides where every per-row filter goes.

Per-row curation is a run of steps: a ``Select`` (columns added or
rewritten, by name) or a ``Where`` (a predicate and the columns it
reads). ``place`` applies them in order, tracks the columns computed so
far, and places each ``Where``:

- one that reads a computed column is gated ABOVE that projection, where
  it was written, so it reads the computed attribute;
- one that reads only the frame's own columns stays a plain ``filter``,
  so Catalyst still pushes it toward the scan;
- consecutive ``Where``s are one filter of each kind (one sentinel).

Why: ``PushPredicateThroughNonJoin`` pushes a filter below a projection
by substituting the projected aliases into the predicate, so a filter on
an expensive projected column (a regex battery, a quality score, an
Arrow UDF) evaluates the expression TWICE per row, in the Filter and in
the Project (round-14: q_pii_scrub's regex battery, 1.19 s vs 0.46 s
warm at sf0.1). Codegen subexpression elimination never spans the two.

How: the rule's guard is ``fields.forall(_.deterministic)``, so one
non-deterministic sentinel column on the projection keeps the filter
above it, materializing nothing. An always-true conjunct in the filter
keeps the sentinel from being pruned (``rand(0)`` is in [0, 1); the
fixed seed gives every build of a statement one plan, so one set of
generated classes; ``monotonically_increasing_id`` is rejected on
streaming frames, where the per-row stages also run); the sentinel is
dropped after. No extra pass, no state: one double per in-flight row.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Callable, Iterable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: sentinel column name — double-underscore like the other staging columns
_ND = "__planshape_nd"


class Select(NamedTuple):
    """Columns added or rewritten, by name; ``build`` makes them."""

    names: tuple[str, ...]
    build: Callable[[DataFrame], DataFrame]


class Where(NamedTuple):
    """A row predicate and the names of the columns it reads."""

    cond: Column
    reads: tuple[str, ...]


def columns(exprs: dict[str, Column]) -> Select:
    """A ``Select`` of named expressions (``withColumns``)."""
    return Select(tuple(exprs), lambda df: df.withColumns(exprs))


def place(
    df: DataFrame, stages: Iterable[Callable[[DataFrame], list[Select | Where]]]
) -> DataFrame:
    """Apply every stage's steps to ``df`` in order, placing each
    ``Where`` by the module's rule. A stage validates against the frame
    as it stands (pending ``Where``s change no column); a ``Select``'s
    ``build`` gets the frame with every earlier ``Where`` applied."""
    computed: set[str] = set()
    gated: list[Column] = []
    plain: list[Column] = []

    def flush(df: DataFrame) -> DataFrame:
        if plain:
            df = df.filter(reduce(and_, plain))
        if gated:
            df = _filter_computed(df, reduce(and_, gated))
        plain.clear()
        gated.clear()
        return df

    for stage in stages:
        for step in stage(df):
            if isinstance(step, Where):
                reads = {c.lower() for c in step.reads}
                (gated if reads & computed else plain).append(step.cond)
            else:
                df = step.build(flush(df))
                computed.update(c.lower() for c in step.names)
    return flush(df)


def _filter_computed(df: DataFrame, cond: Column) -> DataFrame:
    """``df.filter(cond)`` with the predicate evaluated ABOVE ``df``'s
    projection (one evaluation of every projected expression per row)
    instead of being pushed below it (re-evaluation in the Filter)."""
    anchored = df.select("*", F.rand(0).alias(_ND))
    return anchored.filter(cond & (F.col(_ND) >= -1.0)).drop(_ND)
