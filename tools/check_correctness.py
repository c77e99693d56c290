"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables and compares exactly (csvtool_spark.oracle).

Usage: python tools/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from csvtool_spark.functions.caching import persist_scope
from csvtool_spark.oracle import compare, duck_connect


def _check(name, fn, spark, sf_dir, con, oracles) -> tuple[str | None, str]:
    """(error or None, PASS-line suffix) for one catalog entry: its SQL
    oracle when it has one, else its invariant oracle."""
    from csvtool_spark.queries import INVARIANT_ORACLES

    try:
        sdf = fn(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        return f"spark error: {e}", ""
    if name not in oracles:
        # xx64-family entries: invariant oracle instead of SQL equality
        inv = INVARIANT_ORACLES.get(name)
        if inv is None:
            return "neither SQL nor invariant oracle", ""
        try:
            return inv(sdf, con), " (invariant)"
        except Exception as e:  # noqa: BLE001
            return f"error: {e}", " (invariant)"
    try:
        return compare(sdf, con, oracles[name]), ""
    except Exception as e:  # noqa: BLE001
        return f"error: {e}", ""


def main() -> int:
    import __spark_entry__ as entrymod
    from csvtool_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("correctness-check")
    con = duck_connect(sf_dir)

    from csvtool_spark.queries import SHADOW_ORACLES, SHADOW_QUERIES

    qs = dict(entrymod.queries())
    oracles = dict(entrymod.oracle_sql())
    # shadow entries: oracle-paired but outside the driver's 50-slot window
    qs.update(SHADOW_QUERIES)
    oracles.update(SHADOW_ORACLES)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # operators that return lazy plans over persisted stages (recall
        # evals, BM25, linkage, ...) register them with this scope; a
        # 156-entry sweep in one session would otherwise accumulate
        # corpus-sized cached blocks until LRU eviction
        with persist_scope():
            err, label = _check(name, fn, spark, sf_dir, con, oracles)
        if err:
            failures.append(name)
            print(f"FAIL {name}: {err}")
        else:
            print(f"PASS {name}{label}")

    total = len(only) if only else len(qs)
    print(f"\n{total - len(failures)}/{total} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
