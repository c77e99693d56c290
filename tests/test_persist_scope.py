"""Run-scoped persist lifecycle (functions.caching): the scope rules and
the engine sinks that wrap each action in one scope."""

from __future__ import annotations

import threading

import pytest

from csvtool_spark.engine import CsvEngine
from csvtool_spark.functions.caching import persist, persist_scope
from tests.conftest import SF_SMALL

DOCS = f" '{SF_SMALL}/documents.parquet' "


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_scope_releases_on_exit_and_on_error(spark):
    with persist_scope() as staged:
        a = persist(spark.range(7))
        assert a.count() == 7
        assert staged == [a] and a.storageLevel.useMemory
    assert not a.storageLevel.useMemory
    with pytest.raises(RuntimeError):
        with persist_scope() as staged:
            b = persist(spark.range(8))
            raise RuntimeError("boom")
    assert staged == [b] and not b.storageLevel.useMemory


def test_innermost_scope_owns_its_frames(spark):
    with persist_scope() as outer:
        a = persist(spark.range(9))
        with persist_scope() as inner:
            b = persist(spark.range(10))
        assert inner == [b] and not b.storageLevel.useMemory
        assert outer == [a] and a.storageLevel.useMemory
    assert not a.storageLevel.useMemory


def test_scopes_are_per_thread(spark):
    """A frame persisted on another thread never lands in this thread's
    scope (concurrent server requests free only their own frames)."""
    other = []
    with persist_scope() as staged:
        t = threading.Thread(target=lambda: other.append(persist(spark.range(11))))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    assert staged == []
    assert other[0].storageLevel.useMemory  # outside any scope: kept
    other[0].unpersist()


def test_engine_sinks_release_pipe_stages(spark, tmp_path):
    """Every CsvEngine sink frees the staging frames a neardup pipe
    persists: the cache holds no more entries after N runs than before."""
    eng = CsvEngine(spark)
    base = _cached_entries(spark)
    for i in range(3):
        q = (
            f"select doc_id, text from{DOCS}where doc_id > {i} "
            "|> neardup(text, id=doc_id, threshold=0.4)"
        )
        eng.save_parquet(q, str(tmp_path / f"out{i}.parquet"))
        eng.save_csv(q, str(tmp_path / f"out{i}.csv"))
        assert eng.to_json(q, limit=5)[0]
    assert _cached_entries(spark) == base
