"""Run-scoped persist lifecycle for staging frames that outlive the
operator that persisted them (fuzzy linkage grams, BM25 tf, banded
MinHash signatures, the pack/inc offset frames, ...).

Such a stage must stay cached while the caller composes and executes the
returned lazy plan, so the operator cannot unpersist it itself. A
long-lived session (the HTTP server) would otherwise accumulate
corpus-sized cached blocks, one set per request. The rules:

- An operator persists such a frame with ``persist(df)``. Frames it
  persists AND unpersists itself (in its own ``finally``) keep calling
  ``DataFrame.persist`` directly.
- ``with persist_scope():`` wraps an ACTION — build plus collect/write,
  e.g. ``CsvEngine.save_csv`` or one server request — never a build
  whose lazy result escapes the block: on exit (normal or by exception)
  every frame persisted inside it is unpersisted, and a plan read after
  that recomputes its stages from scratch.
- Scopes are per thread (a ``ContextVar``): concurrent server requests
  each free only their own frames.
- Scopes nest; the innermost open scope owns what is persisted inside
  it.
- Outside any scope ``persist`` only persists: short-lived jobs keep
  relying on LRU eviction and session teardown.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar(
    "persist_scope", default=None
)


def persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.persist(level)``, registered with the innermost open
    ``persist_scope`` on this thread (if any) for release on its exit."""
    df = df.persist() if level is None else df.persist(level)
    staged = _SCOPE.get()
    if staged is not None:
        staged.append(df)
    return df


@contextmanager
def persist_scope() -> Iterator[list[DataFrame]]:
    """Yield the list of frames ``persist`` registers inside the block and
    unpersist every one of them on exit, including on an exception."""
    staged: list[DataFrame] = []
    token = _SCOPE.set(staged)
    try:
        yield staged
    finally:
        _SCOPE.reset(token)
        for s in staged:
            s.unpersist()
