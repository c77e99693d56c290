"""minhash_recall_eval behavior (cross-engine exactness rides the
q_minhash_recall catalog gate): bounds, determinism, the everything-in-
one-band recall=1 identity, and the release contract."""

from __future__ import annotations

import pytest

from csvtool_spark.operators.dedup import minhash_recall_eval
from tests.conftest import SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_recall_row_shape_and_bounds(spark):
    d = _docs(spark)
    rows = minhash_recall_eval(
        d, "text", "doc_id", threshold=0.4, sample_frac=0.5
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert 0 <= r["n_found"] <= r["n_true"]
    if r["n_true"] > 0:
        assert 0.0 <= r["recall"] <= 1.0
    else:
        assert r["recall"] is None


def test_recall_deterministic(spark):
    d = _docs(spark)
    a = minhash_recall_eval(d, "text", "doc_id", sample_frac=0.4).collect()
    b = minhash_recall_eval(d, "text", "doc_id", sample_frac=0.4).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_recall_is_one_with_single_row_bands(spark):
    # bands == n_hashes → one-lane band keys; any pair sharing ONE lane
    # minimum collides. With near-identical duplicate docs the true pairs
    # share shingles, hence lane minima — banding cannot miss them.
    d = _docs(spark)
    r = minhash_recall_eval(
        d, "text", "doc_id", threshold=0.8, sample_frac=0.5,
        n_hashes=16, bands=16,
    ).collect()[0]
    if r["n_true"] > 0:
        assert r["recall"] == 1.0


def test_recall_rejects_bad_fraction(spark):
    d = _docs(spark)
    with pytest.raises(ValueError, match="sample_frac"):
        minhash_recall_eval(d, "text", "doc_id", sample_frac=0.0)
    with pytest.raises(ValueError, match="sample_frac"):
        minhash_recall_eval(d, "text", "doc_id", sample_frac=1.5)


def test_recall_rejects_bad_banding(spark):
    # rows = n_hashes // bands truncation would silently diverge the
    # engine and oracle pipelines — both builders must refuse
    from csvtool_spark.operators.dedup import minhash_recall_oracle_sql

    d = _docs(spark)
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_recall_eval(d, "text", "doc_id", n_hashes=16, bands=5)
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_recall_eval(d, "text", "doc_id", n_hashes=8, bands=16)
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_recall_oracle_sql(n_hashes=16, bands=5)


def test_recall_release_contract_frees_all_stages(spark):
    """persist_scope must free EVERY persisted stage the plan reads —
    the sampled projection plus the child operators' shingle and banded
    stages (leaking them per tuning-loop call was a review finding)."""
    from csvtool_spark.functions.caching import persist_scope

    d = _docs(spark)
    with persist_scope() as staged:
        minhash_recall_eval(d, "text", "doc_id", sample_frac=0.3).collect()
    assert len(staged) == 3  # sample + ngram shingles + banded
    assert all(not s.storageLevel.useMemory for s in staged)


def test_recall_tolerates_null_text(spark):
    """Null-text docs must produce no pairs in EITHER engine instead of
    crashing the oracle's md5 cast (review finding: CAST('0x' AS BIGINT)
    on the [NULL] placeholder shingle)."""
    import duckdb
    import pandas as pd

    from csvtool_spark.operators.dedup import minhash_recall_oracle_sql
    from csvtool_spark.oracle import compare

    pdf = _docs(spark).limit(60).toPandas()
    pdf.loc[pdf.index[:5], "text"] = None
    d = spark.createDataFrame(pdf)
    out = minhash_recall_eval(d, "text", "doc_id", threshold=0.4,
                              sample_frac=0.9)
    con = duckdb.connect()
    con.register("documents", pdf)
    sql = minhash_recall_oracle_sql(threshold=0.4, sample_frac=0.9)
    assert compare(out, con, sql) is None
