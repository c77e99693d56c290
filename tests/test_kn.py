"""Interpolated Kneser-Ney bigram LM (textstats.kn_bigram_model /
kn_score): probability-mass invariant, OOV/backoff arms, degenerate
discount, persist lifecycle, and randomized cross-engine differentials
(the catalog gate pins q_kn_score on the fixed corpus)."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from csvtool_spark.oracle import compare
from csvtool_spark.operators.textstats import (
    kn_bigram_model,
    kn_oracle_sql,
    kn_score,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "x", s, len(t or "")) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_kn_probability_mass_sums_to_one(spark):
    # for every seen context v, sum_w P(w|v) over the model vocabulary
    # must be 1 up to integer truncation (each of <=V divisions loses
    # <1 ppb) — the invariant that separates real KN from an ad-hoc score
    train = _docs(
        spark,
        [
            ("the cat sat on the mat", "tr"),
            ("the cat ran to the mat", "tr"),
            ("a dog sat on a log", "tr"),
        ],
    )
    m = kn_bigram_model(train, "text", "doc_id")
    try:
        cb = {r["bg"]: r["c_bg"] for r in m.cb.collect()}
        cx = {r["prev"]: (r["c_prev"], r["n1v"]) for r in m.cx.collect()}
        cw = {r["nxt"]: r["n1w"] for r in m.cw.collect()}
        vocab = set(cw) | {b.split(" ")[0] for b in cb}
        for v, (c_v, n1v) in cx.items():
            total = 0
            for w in vocab:
                c_vw = cb.get(f"{v} {w}", 0)
                n1w = cw.get(w, 0)
                t1 = max(c_vw * 10**9 - m.d_ppb, 0) // c_v
                t2 = ((m.d_ppb * n1v) // c_v) * n1w // m.nb
                total += t1 + t2
            assert 10**9 - (len(vocab) + 2) * 3 <= total <= 10**9, (v, total)
    finally:
        m.release()


def test_kn_backoff_arms_and_clamp(spark):
    train = _docs(spark, [("red blue red blue red green", "tr")])
    m = kn_bigram_model(train, "text", "doc_id")
    try:
        score = _docs(
            spark,
            [
                ("red blue red blue", "sc"),   # all transitions seen
                ("zz red", "sc"),              # unseen context, seen next
                ("zz qq", "sc"),               # nothing seen -> clamp
            ],
        )
        out = {r["doc_id"]: r for r in
               kn_score(score, m, "text", "doc_id").collect()}
        assert out[0]["n_unseen_bg"] == 0
        assert out[0]["kn_surprisal_ppb"] < out[1]["kn_surprisal_ppb"]
        # unseen context backs off to continuation prob of 'red':
        # N1+(.red)=1 (blue->red), NB=3 -> p=333333333 ppb -> inv ~3e9
        assert out[1]["n_unseen_bg"] == 1
        assert out[1]["kn_surprisal_ppb"] == 10**18 // 333_333_333
        # fully unseen transition: p=0 -> clamped max surprisal
        assert out[2]["kn_surprisal_ppb"] == 10**12
    finally:
        m.release()


def test_kn_degenerate_discount_and_empty_train(spark):
    # every bigram count >= 3 -> count-of-counts undefined -> D = 0.5
    train = _docs(spark, [("a b a b a b a b", "tr")])  # c(a b)=4, c(b a)=3
    m = kn_bigram_model(train, "text", "doc_id")
    m.release()
    assert m.d_ppb == 500_000_000
    with pytest.raises(ValueError, match="no bigrams"):
        kn_bigram_model(_docs(spark, [("solo", "tr"), (None, "tr")]),
                        "text", "doc_id")


def test_kn_release_contract(spark):
    from csvtool_spark.functions.caching import persist_scope

    train = _docs(spark, [("a b c a b", "tr")])
    with persist_scope() as staged:
        m = kn_bigram_model(train, "text", "doc_id")
        kn_score(_docs(spark, [("a b", "sc")]), m, "text", "doc_id").collect()
    assert len(staged) == 1  # the model's bigram stage
    assert all(not s.storageLevel.useMemory for s in staged)


@pytest.mark.parametrize("seed", range(3))
def test_kn_oracle_on_random_corpora(spark, seed):
    r = random.Random(seed * 31 + 5)
    words = ["red", "blue", "green", "tie", "x", "qq", "zz"]
    rows = []
    for i in range(90):
        k = r.randint(0, 9)
        rows.append(
            {
                "doc_id": i,
                "text": " ".join(r.choice(words) for _ in range(k)),
                "lang": "aa",
                "source": r.choice(["tr", "sc"]),
                "n_chars": r.randint(1, 99),
            }
        )
    pdf = pd.DataFrame(rows)
    d = spark.createDataFrame(pdf)
    model = kn_bigram_model(d.filter(F.col("source") == "tr"), "text", "doc_id")
    try:
        out = kn_score(d.filter(F.col("source") == "sc"), model, "text", "doc_id")
        con = duckdb.connect()
        con.register("documents", pdf)
        sql = kn_oracle_sql(train_where="source = 'tr'",
                            score_where="source = 'sc'")
        assert compare(out, con, sql) is None
    finally:
        model.release()


def test_kn_prune_unpruned_is_bit_identical_to_exploded(spark):
    from csvtool_spark.operators.textstats import kn_prune, kn_score_map

    r = random.Random(99)
    words = ["aa", "bb", "cc", "dd", "ee"]
    rows = [(i, " ".join(r.choice(words) for _ in range(r.randint(0, 8))),
             "x", "tr" if i % 2 else "sc", 9) for i in range(80)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    m = kn_bigram_model(d.filter(F.col("source") == "tr"), "text", "doc_id")
    try:
        sc = d.filter(F.col("source") == "sc")
        full = sorted(tuple(r) for r in kn_score(sc, m, "text", "doc_id").collect())
        pr = kn_prune(m, max_bigrams=10**6)
        mp = sorted(tuple(r) for r in kn_score_map(sc, pr, "text", "doc_id").collect())
        assert full == mp and full
        # pruned-away transitions count as model-unseen (monotone in the
        # cap); surprisal itself is NOT monotone — a transition whose
        # context left the pruned model re-routes to the continuation
        # arm, which can assign MORE probability than the interpolated
        # estimate did (inherent to hard pruning; KenLM re-normalizes
        # with stored backoff weights instead)
        pr2 = kn_prune(m, max_bigrams=3)
        assert len(pr2.cb) == 3
        m2 = {r[0]: r for r in mp}
        for row in kn_score_map(sc, pr2, "text", "doc_id").collect():
            assert row["n_unseen_bg"] >= m2[row["doc_id"]][2]
        # deterministic prune: same cap -> same surviving set
        assert kn_prune(m, max_bigrams=3).cb == pr2.cb
    finally:
        m.release()


def test_kn_score_map_is_shuffle_free(spark):
    """The map-only KN scorer must plan as a pure projection — no
    Exchange of the corpus (that is its reason to exist; the streaming
    gate depends on it)."""
    from csvtool_spark.operators.textstats import kn_prune, kn_score_map

    d = _docs(spark, [("a b c a b", "tr"), ("b c a", "sc")])
    m = kn_bigram_model(d, "text", "doc_id")
    try:
        pr = kn_prune(m, max_bigrams=100)
        out = kn_score_map(d, pr, "text", "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        m.release()


def test_kn_gated_stream_matches_batch(spark, tmp_path):
    from csvtool_spark.operators.textstats import kn_prune, kn_score_map
    from csvtool_spark.streaming.documents import (
        kn_gated_stream,
        stream_documents_dir,
    )
    from csvtool_spark.streaming.events import run_to_memory

    from tests.conftest import SF_SMALL

    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    m = kn_bigram_model(batch.filter(F.length("source") == 4), "text", "doc_id")
    try:
        pr = kn_prune(m, max_bigrams=5000)
    finally:
        m.release()
    score_part = batch.filter(F.length("source") == 5)
    score_part.write.parquet(str(tmp_path / "shard"))
    stream = stream_documents_dir(spark, str(tmp_path / "shard"))
    thr = 50_000_000_000  # mid-range cut so both sides of the gate occur
    run_to_memory(kn_gated_stream(stream, pr, thr), "kn_gate",
                  output_mode="append")
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM kn_gate").collect()
    )
    exp = sorted(
        tuple(r)
        for r in kn_score_map(
            score_part, pr, "text", "doc_id", extra_cols=("source",)
        )
        .filter(F.col("kn_surprisal_ppb") <= thr)
        .collect()
    )
    assert got == exp and got
    assert len(exp) < score_part.count()  # the gate actually dropped docs


def test_kn_pruned_artifact_roundtrip(spark, tmp_path):
    from csvtool_spark.operators.textstats import (
        kn_load_pruned,
        kn_prune,
        kn_save_pruned,
        kn_score_map,
    )

    d = _docs(spark, [("a b c a b d", "tr"), ("b c a e", "tr"),
                      ("c a b", "sc"), ("e f", "sc")])
    m = kn_bigram_model(d.filter(F.col("source") == "tr"), "text", "doc_id")
    try:
        pr = kn_prune(m, max_bigrams=4)
    finally:
        m.release()
    path = str(tmp_path / "kn_model")
    kn_save_pruned(spark, pr, path)
    back = kn_load_pruned(spark, path)
    assert (back.cb, back.cx, back.cw) == (pr.cb, pr.cx, pr.cw)
    assert (back.d_ppb, back.nb, back.max_bigrams) == (
        pr.d_ppb, pr.nb, pr.max_bigrams)
    sc = d.filter(F.col("source") == "sc")
    a = sorted(tuple(r) for r in kn_score_map(sc, pr, "text", "doc_id").collect())
    b = sorted(tuple(r) for r in kn_score_map(sc, back, "text", "doc_id").collect())
    assert a == b and a
    # save back onto the own load path must not truncate mid-scan
    kn_save_pruned(spark, back, path)
    again = kn_load_pruned(spark, path)
    assert again.cb == pr.cb


def test_kn_buckets_validation_and_labels(spark):
    from csvtool_spark.operators.textstats import kn_perplexity_buckets

    scored = spark.createDataFrame(
        [(i, "s", v) for i, v in enumerate([10, 20, 30, 40, 50, 60])],
        "doc_id long, source string, kn_surprisal_ppb long",
    )
    with pytest.raises(ValueError, match="qs"):
        kn_perplexity_buckets(scored, qs=(0.5, 0.2))
    with pytest.raises(ValueError, match="3 labels"):
        kn_perplexity_buckets(scored, labels=("a", "b"))
    got = {
        r["doc_id"]: r["bucket"]
        for r in kn_perplexity_buckets(scored, "source").collect()
    }
    # n=6: rank ceil(6/3)=2 -> c_lo=20, rank ceil(12/3)=4 -> c_hi=40
    assert got == {0: "head", 1: "head", 2: "middle", 3: "middle",
                   4: "tail", 5: "tail"}


def test_kn_buckets_tiny_group_and_ties(spark):
    from csvtool_spark.operators.textstats import kn_perplexity_buckets

    scored = spark.createDataFrame(
        # one-doc group: both cutoffs land on the single value -> head;
        # all-ties group: every doc <= c_lo -> all head
        [(0, "solo", 99)] + [(i, "tie", 7) for i in range(1, 5)],
        "doc_id long, source string, kn_surprisal_ppb long",
    )
    got = {(r["source"], r["doc_id"]): r["bucket"]
           for r in kn_perplexity_buckets(scored, "source").collect()}
    assert got[("solo", 0)] == "head"
    assert all(got[("tie", i)] == "head" for i in range(1, 5))


@pytest.mark.parametrize("seed", range(2))
def test_kn_buckets_oracle_on_random_corpora(spark, seed):
    from csvtool_spark.operators.textstats import (
        kn_buckets_oracle_sql,
        kn_perplexity_buckets,
    )

    r = random.Random(seed * 13 + 2)
    words = ["red", "blue", "green", "x", "qq"]
    rows = []
    for i in range(120):
        rows.append(
            {
                "doc_id": i,
                "text": " ".join(r.choice(words)
                                 for _ in range(r.randint(0, 8))),
                "lang": "aa",
                "source": "tr" if i % 3 == 0 else f"g{i % 2}",
                "n_chars": 1,
            }
        )
    pdf = pd.DataFrame(rows)
    d = spark.createDataFrame(pdf)
    model = kn_bigram_model(d.filter(F.col("source") == "tr"), "text", "doc_id")
    try:
        scored = kn_score(
            d.filter(F.col("source") != "tr"), model, "text", "doc_id"
        ).join(d.select("doc_id", "source"), "doc_id")
        out = (
            kn_perplexity_buckets(scored, "source")
            .groupBy("source", "bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.min("kn_surprisal_ppb").alias("min_ppb"),
                F.max("kn_surprisal_ppb").alias("max_ppb"),
            )
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        sql = kn_buckets_oracle_sql(
            train_where="source = 'tr'", score_where="source <> 'tr'"
        )
        assert compare(out, con, sql) is None
    finally:
        model.release()


def test_kn_buckets_keep_null_group(spark):
    # a NULL group is its own rank-rule partition; the cutoff join is
    # null-safe so those documents get buckets instead of vanishing
    from csvtool_spark.operators.textstats import kn_perplexity_buckets

    scored = spark.createDataFrame(
        [(0, None, 10), (1, None, 20), (2, None, 30),
         (3, "g", 5), (4, "g", 6), (5, "g", 7)],
        "doc_id long, source string, kn_surprisal_ppb long",
    )
    got = {r["doc_id"]: r["bucket"]
           for r in kn_perplexity_buckets(scored, "source").collect()}
    assert len(got) == 6  # nothing dropped
    assert (got[0], got[1], got[2]) == ("head", "middle", "tail")
    assert (got[3], got[4], got[5]) == ("head", "middle", "tail")


def test_kn_buckets_release_contract(spark):
    from csvtool_spark.functions.caching import persist_scope
    from csvtool_spark.operators.textstats import kn_perplexity_buckets

    d = _docs(spark, [("a b c a b", "tr"), ("b c a b", "sc"),
                      ("c a b c", "sc"), ("a c b a", "sc")])
    with persist_scope() as staged:
        m = kn_bigram_model(d.filter(F.col("source") == "tr"), "text", "doc_id")
        scored = kn_score(
            d.filter(F.col("source") == "sc"), m, "text", "doc_id"
        ).join(d.select("doc_id", "source"), "doc_id")
        kn_perplexity_buckets(scored, "source").collect()
    assert len(staged) == 1  # the model's bigram stage, through the join
    assert all(not s.storageLevel.useMemory for s in staged)


def test_kn_score_map_single_fold_plan(spark):
    """The packed-struct rewrite must evaluate the tokenization and the
    fold ONCE per row: zip_with (inside bigram_array) appears exactly
    once in the executed plan — naming the fold in three output columns
    used to inline it 3-4 times on the interpreted HOF path."""
    from csvtool_spark.operators.textstats import kn_prune, kn_score_map

    d = _docs(spark, [("a b c a b", "tr"), ("b c a", "sc")])
    m = kn_bigram_model(d, "text", "doc_id")
    try:
        pr = kn_prune(m, max_bigrams=100)
        plan = (
            kn_score_map(d, pr, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("zip_with") == 1, plan
    finally:
        m.release()
