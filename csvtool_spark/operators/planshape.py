"""Plan shaping: one rule decides where every per-row filter goes.

Per-row curation is a run of steps: a ``Select`` (columns added or
rewritten, by name) or a ``Where`` (a predicate and the columns it
reads). ``place`` applies them in order, tracks the columns computed so
far, and places each ``Where``:

- one that reads a computed column is gated above that projection, where
  it was written, so it reads the computed attribute;
- one that reads only the frame's own columns is a plain ``filter`` at
  the start of its run (the steps since the last DataFrame stage), so it
  drops rows before any per-row projection runs and Catalyst pushes it
  toward the scan, also past a non-deterministic projection;
- the ``Where``s between two ``Select``s are one filter of each kind
  (one sentinel).

A DataFrame stage (``Select(..., barrier=True)``: dedup, a join, a
window) ends a run: no filter moves past it, because filters do not
commute with cross-row passes.

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
    """Columns added or rewritten, by name; ``build`` makes them.
    ``barrier`` marks a DataFrame stage, which ends the per-row run."""

    names: tuple[str, ...]
    build: Callable[[DataFrame], DataFrame]
    barrier: bool = False


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
    ``build`` gets the frame with every earlier ``Where`` applied. A run
    in which a plain ``Where`` follows a ``Select`` is built once more
    from its start; any other run builds each ``Select`` once."""
    computed: set[str] = set()
    base = df  # the frame the current run starts from
    plain: list[Column] = []  # the run's plain predicates, applied at base
    gated: list[Column] = []  # predicates waiting above the last Select
    run: list[Callable[[DataFrame], DataFrame]] = []  # the run's steps
    hoisted = False  # a plain Where came after a step of the run

    def start() -> DataFrame:
        return base.filter(reduce(and_, plain)) if plain else base

    def apply(cur: DataFrame, fn: Callable[[DataFrame], DataFrame]) -> DataFrame:
        cur = cur if run else start()
        run.append(fn)
        return fn(cur)

    def gate(cur: DataFrame) -> DataFrame:
        if not gated:
            return cur
        cond = reduce(and_, gated)
        gated.clear()
        return apply(cur, lambda d: _filter_computed(d, cond))

    def end(cur: DataFrame) -> DataFrame:
        cur = gate(cur)
        if hoisted:
            return reduce(lambda d, fn: fn(d), run, start())
        return cur if run else start()

    for stage in stages:
        for st in stage(df):
            if isinstance(st, Where):
                if {c.lower() for c in st.reads} & computed:
                    gated.append(st.cond)
                else:
                    plain.append(st.cond)
                    hoisted = hoisted or bool(run)
                continue
            if st.barrier:
                df = base = st.build(end(df))
                plain.clear()
                run.clear()
                hoisted = False
            else:
                df = apply(gate(df), st.build)
            computed.update(c.lower() for c in st.names)
    return end(df)


def _filter_computed(df: DataFrame, cond: Column) -> DataFrame:
    """``df.filter(cond)`` with the predicate evaluated ABOVE ``df``'s
    projection (one evaluation of every projected expression per row)
    instead of being pushed below it (re-evaluation in the Filter)."""
    anchored = df.select("*", F.rand(0).alias(_ND))
    return anchored.filter(cond & (F.col(_ND) >= -1.0)).drop(_ND)
