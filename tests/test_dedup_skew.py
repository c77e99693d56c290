"""Adversarial skew corpus for the dedup/neardup family (round-10
directive 3): thousands of byte-identical boilerplate docs drive every
LSH band into ONE hot bucket. At 100 TB the hot-band path IS the
workload — a nav-bar template or cookie banner repeated millions of
times — so this pins, at local scale:

(a) the candidate-join row bound MAX_BUCKET guarantees — per bucket at
    most C(MAX_BUCKET, 2) pairs, and a bucket BEYOND the cap
    contributes ZERO rows (pruned by the count-only phase before any id
    list materializes, dedup.candidate_pairs phase 1);
(b) the DOCUMENTED recall trade that prune implies — members of an
    over-cap bucket escape the MinHash pair generator entirely, so
    identical boilerplate is exact_dedup's job (hash groupBy, no pair
    expansion), not MinHash's; the two lanes compose, not compete;
(c) oracle-checked survivors on both lanes (min-id expectations
    computed in plain Python).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csvtool_spark.functions.caching import persist_scope
from csvtool_spark.operators.dedup import (
    MAX_BUCKET,
    _banded,
    _minhash_signatures,
    candidate_pairs,
    exact_dedup,
    near_dup_pairs_minhash,
)

BOILER = (
    "cookie notice this site uses cookies accept to continue "
    "terms privacy contact about careers sitemap"
)
N_HOT = 10_000
BANDS, ROWS = 8, 4  # 32 hashes


def _corpus(spark, n_hot: int):
    """n_hot identical boilerplate docs + 5 distinct docs (ids follow
    the hot block); two of the distinct docs are near-dups of each
    other so the pair path has a real signal to find."""
    distinct = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota lambda",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet white black grey",
        "spark shuffle partition broadcast executor driver stage task",
    ]
    rows = [(i, BOILER) for i in range(n_hot)] + [
        (n_hot + j, t) for j, t in enumerate(distinct)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_over_cap_bucket_contributes_zero_pairs(spark):
    df = _corpus(spark, N_HOT)
    sigs = _minhash_signatures(df, "text", "doc_id", BANDS * ROWS, 3,
                               "arrow", "xx64")
    banded = _banded(sigs, "doc_id", "__sig", BANDS, ROWS).persist()
    try:
        sizes = {
            (r["band_id"], r["band_key"]): r["n"]
            for r in banded.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # the attack worked: every band has a 10k-member hot bucket
        hot = [k for k, n in sizes.items() if n == N_HOT]
        assert len(hot) == BANDS
        with persist_scope():
            got = candidate_pairs(banded, "doc_id").collect()
        # (a) exact bound: only 2..MAX_BUCKET buckets expand
        bound = sum(
            n * (n - 1) // 2 for n in sizes.values() if 2 <= n <= MAX_BUCKET
        )
        assert len(got) <= bound
        # (b) the hot block is fully pruned: no candidate touches it
        assert all(
            r["id_a"] >= N_HOT and r["id_b"] >= N_HOT for r in got
        )
        # ...but the real near-dup pair among the distinct docs survives
        assert (N_HOT, N_HOT + 1) in {(r["id_a"], r["id_b"]) for r in got}
    finally:
        banded.unpersist()


def test_within_cap_hot_bucket_expands_bounded_and_verifies(spark):
    """A hot bucket at 300 members (inside the cap) must expand to
    EXACTLY C(300,2) distinct candidate pairs — the per-bucket quadratic
    cost MAX_BUCKET bounds at ≤ C(MAX_BUCKET,2) ≈ 5e5 — and every pair
    verifies at Jaccard 1.0."""
    n_hot = 300
    df = _corpus(spark, n_hot)
    with persist_scope():
        got = near_dup_pairs_minhash(
            df, "text", "doc_id", threshold=0.9, n_hashes=BANDS * ROWS,
            bands=BANDS,
        ).collect()
    hot_pairs = [r for r in got if r["id_a"] < n_hot and r["id_b"] < n_hot]
    assert len(hot_pairs) == n_hot * (n_hot - 1) // 2
    assert all(r["jaccard"] == 1.0 for r in hot_pairs)
    assert n_hot * (n_hot - 1) // 2 <= MAX_BUCKET * (MAX_BUCKET - 1) // 2


def test_exact_dedup_owns_the_identical_block(spark):
    """(c) survivor oracle: exact_dedup collapses the 10k-identical
    block to its min id with NO pair expansion (hash groupBy — the lane
    the over-cap prune hands this corpus to), keeping every distinct
    doc."""
    df = _corpus(spark, N_HOT)
    kept = sorted(
        r["doc_id"] for r in exact_dedup(df, "text", "doc_id").collect()
    )
    assert kept == [0] + [N_HOT + j for j in range(5)]


def test_neardup_stage_composes_after_exact_on_skew(spark):
    """The composed corpus-dedup recipe on the skew corpus: exact first
    (kills the boilerplate block), then transitive MinHash neardup
    (collapses the remaining near-pair) — survivor set oracle-checked:
    min ids of {boilerplate, near-pair cluster} + the 3 singletons."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages

    df = _corpus(spark, N_HOT)
    with persist_scope():
        out = apply_stages(
            df,
            parse_pipeline(
                "dedup(text, id=doc_id) "
                "|> neardup(text, id=doc_id, threshold=0.5, transitive=1, "
                f"n_hashes={BANDS * ROWS}, bands={BANDS})"
            ),
        )
        kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, N_HOT, N_HOT + 2, N_HOT + 3, N_HOT + 4]


def test_cross_corpus_over_cap_side_prunes(spark):
    """Cross-corpus decontamination under the same attack: 1,500 copies
    of the boilerplate in the NEW crawl (over MAX_BUCKET) against a ref
    set that contains the boilerplate too. The new side's hot buckets
    prune BEFORE the new x ref equi-join, so the join fan-out the
    degenerate block would cause (1500 x ref copies x bands) never
    materializes — while a genuine cross-corpus near-dup among the
    distinct docs still surfaces."""
    from csvtool_spark.operators.dedup import cross_corpus_neardup

    n_hot = MAX_BUCKET + 500
    new = _corpus(spark, n_hot)
    ref_rows = [(0, BOILER), (1, BOILER),
                (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    with persist_scope():
        got = cross_corpus_neardup(
            new, ref, "text", "doc_id", threshold=0.9,
            n_hashes=BANDS * ROWS, bands=BANDS,
        ).collect()
    # no pair touches the over-cap boilerplate block on the new side
    assert all(r["new_id"] >= n_hot for r in got)
    # the distinct near-dup still decontaminates (new id n_hot == ref 2)
    assert {(r["new_id"], r["ref_id"]) for r in got} == {(n_hot, 2)}


def test_cross_corpus_in_cap_fanout_is_exact(spark):
    """In-cap skew: 200 new copies x 2 ref copies of the boilerplate
    must yield EXACTLY 200*2 distinct verified pairs (jaccard 1.0) —
    the bounded MAX_BUCKET^2-per-bucket worst case the docstring
    promises, distinct-ed across bands."""
    from csvtool_spark.operators.dedup import cross_corpus_neardup

    n_hot = 200
    new = _corpus(spark, n_hot)
    ref = spark.createDataFrame(
        [(0, BOILER), (1, BOILER)], "doc_id long, text string"
    )
    with persist_scope():
        pairs = cross_corpus_neardup(
            new, ref, "text", "doc_id", threshold=0.9,
            n_hashes=BANDS * ROWS, bands=BANDS,
        )
        got = [r for r in pairs.collect() if r["new_id"] < n_hot]
    assert len(got) == n_hot * 2
    assert all(r["jaccard"] == 1.0 for r in got)


def test_degenerate_embedding_corpus_stays_correct(spark):
    """The embedding-side analogue of the boilerplate attack: 500
    IDENTICAL vectors collapse k-means/IVF structure (one hot cell,
    empty siblings). Unlike the LSH candidate generator, an ANN index
    must NOT drop hot-cell members (recall is its contract) — the
    documented posture is that a hot cell degrades to an in-cell scan
    with correctness intact. Pins: exact top-k stays exact, IVF probe
    of the degenerate layout finds the identical block, fixed-point
    k-means survives empty clusters and keeps every row."""
    from csvtool_spark.operators import clustering, similarity

    base = [0.5] * 8
    rows = [(i, base) for i in range(500)] + [
        (500 + i, [float(i + 1)] * 8) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bf = similarity.ann_bruteforce(df, "embedding", "vec_id", base, k=5)
    got = bf.collect()
    # every returned neighbour is an exact copy (cos 1.0), ids are the
    # deterministic tie-break (lowest first)
    assert [r["vec_id"] for r in got] == [0, 1, 2, 3, 4]
    assert all(abs(r["cos"] - 1.0) < 1e-12 for r in got)
    ivf = similarity.ann_ivf(
        df, "embedding", "vec_id", base, k=5, n_cells=8, nprobe=2
    ).collect()
    assert [r["vec_id"] for r in ivf] == [0, 1, 2, 3, 4]
    km = clustering.kmeans(df, "embedding", "vec_id", k=4, iters=2)
    assert km.count() == 504  # no row lost to an empty/degenerate cluster
