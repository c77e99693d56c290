"""NULL-text engine/oracle parity for the SQL-builder twins.

The driver-gate corpus contains no NULL-text documents, so a NULL-handling
divergence between an operator and its generated DuckDB twin passes the
gate silently — exactly how the round-8 second-review findings (pack span
arithmetic, langid CASE fallthrough) stayed hidden. This suite runs every
shared SQL builder against a tiny corpus WITH a NULL-text row on BOTH
engines and compares exactly, so the next builder cannot regress the
same way."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, None),
    (3, "the quick brown fox jumps over the lazy dog today"),
    (4, "completely different words appear inside this one text"),
    (5, ""),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


@pytest.fixture(scope="module")
def con(corpus):
    c = duckdb.connect()
    c.register("documents", corpus.toPandas())
    return c


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _sql(con, q, n):
    return sorted(tuple(r[:n]) for r in con.execute(q).fetchall())


def test_langid_null_parity(corpus, con):
    from csvtool_spark.operators.textstats import lang_id, langid_cte_sql

    got = _rows(
        corpus.select("doc_id", lang_id(F.col("text")).alias("g")),
        ["doc_id", "g"],
    )
    want = _sql(
        con,
        "WITH " + langid_cte_sql("documents", "doc_id")
        + " SELECT doc_id, lang_guess FROM lid",
        2,
    )
    assert got == want


def test_quality_null_parity(corpus, con):
    from csvtool_spark.operators.textstats import quality_cte_sql, quality_score

    got = _rows(
        corpus.select("doc_id", quality_score(F.col("text")).alias("q")),
        ["doc_id", "q"],
    )
    want = _sql(
        con,
        "WITH " + quality_cte_sql("documents", "doc_id")
        + " SELECT doc_id, quality FROM q",
        2,
    )
    assert got == want


def test_minhash_pairs_null_parity(corpus, con):
    from csvtool_spark.functions.caching import persist_scope
    from csvtool_spark.operators.dedup import (
        minhash_pairs_cte_sql,
        near_dup_pairs_minhash,
    )

    with persist_scope():
        pairs = near_dup_pairs_minhash(
            corpus, "text", "doc_id", threshold=0.4, n_hashes=32, bands=8,
            hash_family="md5",
        )
        got = _rows(pairs, ["id_a", "id_b", "jaccard"])
    want = _sql(
        con,
        "WITH " + minhash_pairs_cte_sql("documents", threshold=0.4)
        + " SELECT id_a, id_b, jaccard FROM mh_pairs",
        3,
    )
    assert got == want and len(got) >= 1  # the 1~3 exact pair must appear


def test_span_removal_null_parity(corpus, con):
    from csvtool_spark.operators.dedup import (
        remove_duplicate_spans,
        span_removal_oracle_sql,
    )

    got = _rows(
        remove_duplicate_spans(corpus, "text", "doc_id", k=3),
        ["doc_id", "text_dedup", "n_tokens", "n_removed"],
    )
    want = _sql(con, span_removal_oracle_sql(k=3), 4)
    assert got == want


def test_run_removal_null_parity(corpus, con):
    from csvtool_spark.operators.dedup import (
        remove_duplicate_runs,
        run_removal_oracle_sql,
    )

    got = _rows(
        remove_duplicate_runs(corpus, "text", "doc_id", k=3, min_run_tokens=5),
        ["doc_id", "text_dedup", "n_tokens", "n_removed"],
    )
    want = _sql(con, run_removal_oracle_sql(k=3, min_run_tokens=5), 4)
    assert got == want


def test_dup_runs_null_parity(corpus, con):
    from csvtool_spark.operators.dedup import (
        duplicate_run_oracle_sql,
        duplicate_run_stats,
    )

    got = _rows(
        duplicate_run_stats(corpus, "text", "doc_id", k=3),
        ["doc_id", "n_runs", "n_dup_positions", "longest_run_tokens"],
    )
    want = _sql(con, duplicate_run_oracle_sql(k=3), 4)
    assert got == want


def test_paragraph_dedup_null_parity(corpus, con):
    from csvtool_spark.operators.dedup import (
        paragraph_dedup,
        paragraph_dedup_oracle_sql,
    )

    got = _rows(
        paragraph_dedup(corpus, "text", "doc_id", sep=" ", min_docs=2),
        ["doc_id", "text_dedup", "n_paragraphs", "n_removed"],
    )
    want = _sql(
        con, "WITH base AS ("
        + paragraph_dedup_oracle_sql(sep=" ", min_docs=2)
        + ") SELECT * FROM base",
        4,
    )
    assert got == want


def test_c4_clean_null_parity(corpus, con):
    from csvtool_spark.operators.textstats import (
        c4_clean_lines,
        c4_clean_sql,
        c4_page_flags,
    )

    got = _rows(
        corpus.select(
            "doc_id",
            c4_clean_lines(F.col("text"), min_words=3,
                           require_terminal=False, sep=" ").alias("c"),
            c4_page_flags(F.col("text")).alias("d"),
        ),
        ["doc_id", "c", "d"],
    )
    want = _sql(
        con,
        "WITH " + c4_clean_sql("documents", "doc_id", min_words=3,
                               require_terminal=False, sep=" ")
        + " SELECT doc_id, text_clean, c4_drop FROM c4c",
        3,
    )
    assert got == want


def test_duplicate_span_stats_null_parity(corpus, con):
    from csvtool_spark.operators.dedup import (
        duplicate_span_oracle_sql,
        duplicate_span_stats,
    )

    got = _rows(
        duplicate_span_stats(corpus, "text", "doc_id", k=3),
        ["doc_id", "n_spans", "n_dup", "dup_frac"],
    )
    want = _sql(con, duplicate_span_oracle_sql(k=3), 4)
    assert got == want


def test_gopher_repetition_null_parity(corpus, con):
    from csvtool_spark.operators.textstats import (
        gopher_oracle_sql,
        gopher_repetition,
    )

    out = gopher_repetition(corpus, "text", "doc_id")
    got = _rows(out, out.columns)
    want = _sql(con, gopher_oracle_sql(), len(out.columns))
    assert got == want
    by_id = {r[0]: r for r in got}
    assert all(v is None for v in by_id[2][1:])  # NULL text -> NULL signals
