"""ann_recall_eval behavior (cross-engine exactness rides the
q_ann_recall catalog gate): recall bounds, the full-coverage identity,
and the persist-release contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from csvtool_spark.operators.similarity import ann_recall_eval
from tests.conftest import SF_SMALL


def _emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def _queries(e, n=3):
    return {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < n).collect()
    }


def test_recall_bounded_and_consistent(spark):
    e = _emb(spark)
    rows = ann_recall_eval(e, "embedding", "vec_id", _queries(e), k=10).collect()
    assert len(rows) == 3
    for r in rows:
        assert 0 <= r["n_hits"] <= 10
        assert abs(r["recall"] - r["n_hits"] / 10) < 1e-12
        assert 0.0 <= r["recall"] <= 1.0


def test_recall_is_one_when_probe_covers_every_bucket(spark):
    # n_planes=1 → 2 buckets per table; multiprobe=1 flips the only bit,
    # so the probe set covers BOTH buckets — every vector is a candidate
    # and the LSH top-k equals the exact top-k exactly
    e = _emb(spark)
    rows = ann_recall_eval(
        e, "embedding", "vec_id", _queries(e), k=10, n_planes=1, n_tables=1
    ).collect()
    assert all(r["recall"] == 1.0 for r in rows)


def test_recall_release_contract(spark):
    from csvtool_spark.functions.caching import persist_scope

    e = _emb(spark)
    with persist_scope() as staged:
        ann_recall_eval(e, "embedding", "vec_id", _queries(e, 2), k=5).collect()
    assert len(staged) == 1  # the persisted scored stage
    assert all(not s.storageLevel.useMemory for s in staged)


def test_recall_kernel_differential(spark):
    # round-13 optimization: the arrow scored lane (numpy column-wise
    # fold accumulation + JVM round) must match the Column-tree twin
    # bit-for-bit — k large enough that every (query, row) pair's cosine
    # ordering is exercised, so a single differing double flips the hits
    e = _emb(spark)
    qs = _queries(e)
    for k in (5, 10_000):
        a = sorted(
            map(tuple, ann_recall_eval(
                e, "embedding", "vec_id", qs, k=k, kernel="arrow"
            ).collect())
        )
        c = sorted(
            map(tuple, ann_recall_eval(
                e, "embedding", "vec_id", qs, k=k, kernel="column"
            ).collect())
        )
        assert a == c


def test_recall_kernel_null_and_ragged_rows(spark):
    # the arrow lane's invalid-row shape must equal the Column lane's:
    # NULL vector / wrong-dim vector -> NULL cosine, all-zero signatures
    from pyspark.sql import Row

    e = _emb(spark)
    dim = len(e.first()["embedding"])
    qs = _queries(e, 2)
    extra = spark.createDataFrame(
        [
            Row(vec_id=900001, embedding=None),
            Row(vec_id=900002, embedding=[1.0] * (dim - 1)),
        ],
        schema=e.select("vec_id", "embedding").schema,
    )
    df = e.select("vec_id", "embedding").unionByName(extra)
    a = sorted(map(tuple, ann_recall_eval(
        df, "embedding", "vec_id", qs, k=7, kernel="arrow").collect()))
    c = sorted(map(tuple, ann_recall_eval(
        df, "embedding", "vec_id", qs, k=7, kernel="column").collect()))
    assert a == c


def test_ivf_pq_kernel_differential(spark):
    # ann_ivf_pq now routes the encode through pq_encode's arrow kernel
    # by default; the full probe output must equal the Column-lane twin
    from csvtool_spark.operators.similarity import ann_ivf_pq

    e = _emb(spark)
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    kw = dict(k=10, n_cells=8, nprobe=3, m=8, n_cents=8, exclude_id=0)
    a = [tuple(r) for r in ann_ivf_pq(
        e, "embedding", "vec_id", qvec, kernel="arrow", **kw).collect()]
    c = [tuple(r) for r in ann_ivf_pq(
        e, "embedding", "vec_id", qvec, kernel="column", **kw).collect()]
    assert a == c


def test_ivf_cell_kernel_differential(spark):
    # ivf_cell's arrow dots lane (name-typed input) vs the pure Column
    # reference lane — identical assignments including NULL / wrong-dim
    # rows (both lanes null every cosine there, so the argmax tie rule
    # lands cell 0)
    from pyspark.sql import Row

    from csvtool_spark.operators.similarity import ivf_cell, ivf_centroids

    e = _emb(spark)
    cents = ivf_centroids(e, "embedding", "vec_id", 8)
    dim = len(e.first()["embedding"])
    extra = spark.createDataFrame(
        [
            Row(vec_id=900001, embedding=None),
            Row(vec_id=900002, embedding=[1.0] * (dim - 1)),
        ],
        schema=e.select("vec_id", "embedding").schema,
    )
    df = e.select("vec_id", "embedding").unionByName(extra)
    a = sorted(map(tuple, df.select(
        "vec_id", ivf_cell("embedding", cents).alias("cell")).collect()))
    c = sorted(map(tuple, df.select(
        "vec_id", ivf_cell(F.col("embedding"), cents).alias("cell")).collect()))
    assert a == c
