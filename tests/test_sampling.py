"""hash_split / stratified_sample / rollup / cube behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from csvtool_spark.operators import reshape
from csvtool_spark.operators.sampling import hash_split, stratified_sample


def test_hash_split_deterministic_and_proportional(spark):
    df = spark.range(20_000).select(F.col("id").alias("k"))
    a = hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in a.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}     # no null bucket at sum=1
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["val"] / 20_000 - 0.1) < 0.01
    # determinism: a second evaluation assigns identical splits
    b = hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert a.join(b.withColumnRenamed("split", "s2"), "k") \
        .filter(F.col("split") != F.col("s2")).count() == 0


def test_hash_split_duplicates_travel_together(spark):
    # two rows sharing a key can never straddle train/test
    df = spark.createDataFrame([(i % 100, i) for i in range(1_000)], "k long, payload long")
    out = hash_split(df, "k", {"train": 0.5, "test": 0.5})
    leaky = (
        out.groupBy("k").agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1).count()
    )
    assert leaky == 0


def test_stratified_sample_seeded(spark):
    df = spark.createDataFrame(
        [("en", i) for i in range(2_000)] + [("fr", i) for i in range(2_000)],
        "lang string, id long",
    )
    s = stratified_sample(df, "lang", {"en": 0.1, "fr": 0.5}, seed=7)
    counts = {r.lang: r.n for r in s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["en"] / 2_000 - 0.1) < 0.05
    assert abs(counts["fr"] / 2_000 - 0.5) < 0.05
    # same seed → same sample
    s2 = stratified_sample(df, "lang", {"en": 0.1, "fr": 0.5}, seed=7)
    assert sorted(map(tuple, s.collect())) == sorted(map(tuple, s2.collect()))


def test_rollup_levels_and_single_pass(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], "g1 string, g2 string, v long"
    )
    out = reshape.rollup_agg(df, ["g1", "g2"], [F.sum("v").alias("s")])
    rows = {(r.g1, r.g2): r.s for r in out.collect()}
    assert rows[("a", "x")] == 1 and rows[("a", None)] == 3
    assert rows[(None, None)] == 7
    assert len(rows) == 6                              # 3 leaves + 2 mids + total
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]        # AQE prints both plans
    # one Expand over ONE scan of the input — not a scan per grouping level
    assert "Expand" in final
    assert final.count("LocalTableScan") + final.count("Scan ExistingRDD") == 1


def test_cube_includes_cross_totals(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], "g1 string, g2 string, v long"
    )
    rows = {(r.g1, r.g2): r.s for r in reshape.cube_agg(
        df, ["g1", "g2"], [F.sum("v").alias("s")]
    ).collect()}
    assert rows[(None, "x")] == 5                      # cube-only grouping set
    assert rows[(None, None)] == 7


def test_hash_split_thirds_leave_no_sliver(spark):
    # cumulative-boundary rounding: 1/3+1/3+1/3 must label every bucket
    df = spark.range(30_000).select(F.col("id").alias("k"))
    out = hash_split(df, "k", {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    assert out.filter(F.col("split").isNull()).count() == 0


def test_mixture_resample_hits_target_shares(spark):
    from csvtool_spark.operators.sampling import mixture_resample
    from csvtool_spark.operators import textstats
    from csvtool_spark.queries import load
    from pyspark.sql import functions as F
    from tests.conftest import SF_MED

    d = load(spark, SF_MED, "documents")
    staged = d.select(
        "doc_id", "source", textstats.token_count(F.col("text")).alias("__n")
    )
    target = {"src0": 500_000, "src1": 300_000, "src2": 200_000}
    out = mixture_resample(staged, "source", "doc_id", "__n", target)
    rates = {r.source: r.keep_ppm for r in out.select("source", "keep_ppm").distinct().collect()}
    # the binding source is kept (nearly) whole — floor(T) costs at most
    # share_ppm/tokens_s ppm, so don't demand exactly 1e6 (testdata regens
    # can change which source binds); every rate is a valid ppm
    assert max(rates.values()) >= 999_000
    assert all(0 < v <= 1_000_000 for v in rates.values())
    # sources without a target share are dropped entirely
    assert set(rates) == set(target)
    # deterministic: same rows on a re-run
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in mixture_resample(
        staged, "source", "doc_id", "__n", target).collect())
    assert a == b and a
    # realized token shares within sampling noise of the target (25 docs
    # per source at sf0.01 — loose 2x bounds, exactness is the oracle's job)
    toks = {r.source: r.t for r in out.groupBy("source").agg(F.sum("__n").alias("t")).collect()}
    tot = sum(toks.values())
    for s, share in target.items():
        if s in toks:
            assert 0.3 * share / 1e6 < toks[s] / tot < 2.5 * share / 1e6


def test_mixture_resample_rejects_bad_targets(spark):
    import pytest
    from csvtool_spark.operators.sampling import mixture_resample
    from pyspark.sql import functions as F

    staged = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
        "doc_id long, source string, __n long",
    )
    # a zero/negative share must fail up front, not as an ANSI ÷0 mid-job
    with pytest.raises(ValueError, match="must be > 0"):
        mixture_resample(staged, "source", "doc_id", "__n", {"a": 0, "b": 500_000})
    # a target source with no tokens in the input would silently skew the
    # realized mixture — fail with its name
    with pytest.raises(ValueError, match="ghost"):
        mixture_resample(
            staged, "source", "doc_id", "__n",
            {"a": 500_000, "b": 300_000, "ghost": 200_000},
        )
    zero = staged.withColumn("__n", F.when(F.col("source") == "b", 0).otherwise(F.col("__n")))
    with pytest.raises(ValueError, match="b"):
        mixture_resample(zero, "source", "doc_id", "__n", {"a": 700_000, "b": 300_000})


def test_negative_pairs_deterministic_and_well_formed(spark):
    from csvtool_spark.operators.sampling import negative_pairs

    df = spark.range(0, 200).select(F.col("id").alias("vec_id"))
    out = negative_pairs(df, "vec_id", k=4, n_buckets=16).collect()
    rows = {(r.anchor, r.j): r.neg_id for r in out}
    # no self-negatives, j in range, at most one pick per (anchor, j)
    assert all(rows[(a, j)] != a for a, j in rows)
    assert all(0 <= j < 4 for _, j in rows)
    assert len(out) == len(rows)
    # with 200 ids over 16 buckets every bucket is populated; a few rows
    # drop to the per-anchor distinct-negative dedup (bucket+pick
    # collisions between two j values)
    assert 200 * 4 * 0.9 <= len(rows) <= 200 * 4
    # negatives are DISTINCT per anchor
    per_anchor: dict[int, set] = {}
    for (a, j), n in rows.items():
        assert n not in per_anchor.setdefault(a, set())
        per_anchor[a].add(n)
    # deterministic across runs
    again = {(r.anchor, r.j): r.neg_id
             for r in negative_pairs(df, "vec_id", k=4, n_buckets=16).collect()}
    assert rows == again
    # negatives are spread out, not one hot member per bucket
    assert len(set(rows.values())) > 50
    # string ids keep their type and still produce pairs (no long cast)
    sdf = spark.createDataFrame([(f"doc_{i}",) for i in range(40)], "doc_id string")
    srows = negative_pairs(sdf, "doc_id", k=2, n_buckets=8).collect()
    assert srows and all(r.neg_id.startswith("doc_") for r in srows)


# --- weighted priority sampling -------------------------------------------


def test_priority_sample_deterministic_and_capped(spark):
    from csvtool_spark.operators.sampling import priority_sample

    d = spark.createDataFrame(
        [(i, (i % 7) + 1) for i in range(200)], "id long, w long"
    )
    a = {r.id for r in priority_sample(d, "w", "id", k=30).collect()}
    b = {r.id for r in priority_sample(d, "w", "id", k=30).collect()}
    assert a == b and len(a) == 30


def test_priority_sample_weight_bias(spark):
    from csvtool_spark.operators.sampling import priority_sample

    # half the keys carry 50x the weight — they should dominate the sample
    d = spark.createDataFrame(
        [(i, 50 if i % 2 == 0 else 1) for i in range(400)], "id long, w long"
    )
    heavy = sum(
        1 for r in priority_sample(d, "w", "id", k=50).collect() if r.w == 50
    )
    assert heavy >= 40


def test_priority_sample_drops_nonpositive_weights(spark):
    from csvtool_spark.operators.sampling import priority_sample

    d = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -1), (4, None), (5, 2)], "id long, w long"
    )
    out = priority_sample(d, "w", "id", k=10).collect()
    assert {r.id for r in out} == {1, 5}


def test_priority_sample_is_take_ordered(spark):
    from csvtool_spark.operators.sampling import priority_sample

    d = spark.createDataFrame([(i, i + 1) for i in range(100)], "id long, w long")
    plan = priority_sample(d, "w", "id", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# --- split leakage audit --------------------------------------------------


def test_split_label_matches_hash_split(spark):
    from csvtool_spark.operators.sampling import hash_split, split_label

    d = spark.createDataFrame([(i,) for i in range(500)], "id long")
    fr = {"train": 0.7, "eval": 0.3}
    a = {r.id: r.split for r in hash_split(d, "id", fr).collect()}
    b = {
        r.id: r.s
        for r in d.select("id", split_label(F.col("id"), fr).alias("s")).collect()
    }
    assert a == b and set(a.values()) == {"train", "eval"}


def test_split_leakage_finds_cross_split_neardups(spark):
    from csvtool_spark.operators.pipeline import split_leakage
    from csvtool_spark.operators.sampling import hash_split

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, text if i < 40 else f"unique content number {i} nothing shared here at all {i}")
            for i in range(80)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fr = {"train": 0.5, "eval": 0.5}
    out = split_leakage(d, "text", "doc_id", fr, "train", "eval", threshold=0.9)
    rowsout = out.collect()
    labels = {r.doc_id: r.split for r in hash_split(d, "doc_id", fr).collect()}
    n_train = sum(1 for i in range(40) if labels[i] == "train")
    n_eval = 40 - n_train
    # every identical-text pair straddling the split leaks
    assert len(rowsout) == n_train * n_eval and n_train > 0 and n_eval > 0
    for r in rowsout:
        assert labels[r.train_id] == "train" and labels[r.eval_id] == "eval"
        assert r.jaccard == 1.0


def test_priority_sample_is_nested_in_k(spark):
    """Top-k priority samples are nested: the k=10 sample is a subset of
    the k=25 sample (priorities are fixed per row — only the cutoff
    moves). This is the property that makes the sampler reusable for
    budget sweeps without re-hashing."""
    from csvtool_spark.operators.sampling import priority_sample

    d = spark.createDataFrame(
        [(i, (i * 7) % 13 + 1) for i in range(300)], "id long, w long"
    )
    s10 = {r.id for r in priority_sample(d, "w", "id", k=10).collect()}
    s25 = {r.id for r in priority_sample(d, "w", "id", k=25).collect()}
    assert s10 < s25


def test_quota_hot_group_and_monotone_prethin(spark):
    """Hot-GROUP skew for the quota family: one 50k-row group under a
    cap of 10 ranks in a single task and still keeps exactly the first
    cap by order. Also pins the corrected pre-thinning contract (this
    docstring claimed a HASH predicate preserved the result — round-10
    review): a range cut MONOTONE in the order key keeps a prefix, so
    quota-after-thin equals quota-direct; a hash-coin thin does NOT."""
    from csvtool_spark.functions.hashing import md5_prefix_long
    from csvtool_spark.operators.sampling import source_quota, token_quota

    df = spark.range(50_000).select(
        F.lit("hot").alias("g"), F.col("id")
    )
    direct = sorted(
        r["id"] for r in source_quota(df, "g", "id", 10).collect()
    )
    assert direct == list(range(10))
    # monotone range cut: prefix of the order -> identical first-cap set
    pre = sorted(
        r["id"]
        for r in source_quota(df.filter(F.col("id") < 1000), "g", "id", 10)
        .collect()
    )
    assert pre == direct
    # a hash predicate keeps a random subset -> the first-cap set CHANGES
    hashed = df.filter(
        md5_prefix_long(F.col("id").cast("string")) % 2 == 0
    )
    hash_pre = sorted(
        r["id"] for r in source_quota(hashed, "g", "id", 10).collect()
    )
    assert hash_pre != direct
    # token-budget mode on the hot group: budget 70 at 7 tokens/row
    t = df.withColumn("tok", F.lit(7))
    kept = sorted(
        r["id"] for r in token_quota(t, "g", "id", "tok", 70).collect()
    )
    assert kept == list(range(10))


def test_temperature_mixture_semantics_and_plan(spark):
    """alpha=1 keeps everything (natural proportions need no thinning);
    alpha=0.5 keeps the smallest source whole and thins larger sources
    with rates monotone-decreasing in source size (kept weight ~
    n^alpha); rates clamp to >=1 ppm (never a silent source drop); the
    corpus side never shuffles (broadcast rate table)."""
    import math

    from pyspark.sql import functions as F

    from csvtool_spark.operators.sampling import temperature_mixture

    rows = [(i, "big" if i < 900 else ("mid" if i < 990 else "small"), 10)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, tok long")

    kept1 = temperature_mixture(df, "source", "doc_id", "tok", alpha=1.0)
    assert kept1.count() == 1000  # every rate is exactly 1e6

    kept = temperature_mixture(df, "source", "doc_id", "tok", alpha=0.5)
    rates = {
        r["source"]: r["keep_ppm"]
        for r in kept.select("source", "keep_ppm").distinct().collect()
    }
    assert rates["small"] == 1_000_000  # smallest source kept whole
    # monotone in size, matching floor(1e6*sqrt(n_min/n_s)) exactly
    assert rates["small"] > rates["mid"] > rates["big"]
    assert rates["big"] == math.floor(1e6 * math.sqrt(100 / 9000))
    assert rates["mid"] == math.floor(1e6 * math.sqrt(100 / 900))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_mixture(df, "source", "doc_id", "tok", alpha=1.5)

    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(doc_id" not in plan


def test_temperature_mixture_edge_semantics(spark):
    """Round-11 second review: (a) a DEGENERATE size ratio (floor -> 0)
    still keeps >=1 ppm — the clamp is real, the giant source is
    thinned, never dropped; (b) a zero-token source raises with its
    name instead of silently collapsing every rate to the clamp
    (n_min=0); (c) NULL-source rows are dropped and their token mass
    excluded from the totals (matching the twin's inner filter)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from csvtool_spark.operators.sampling import temperature_mixture

    # (a) ratio 1/4e12 -> floor(1e6*sqrt(ratio)) = 0 -> clamped to 1
    df = spark.createDataFrame(
        [(1, "tiny", 1), (2, "giant", 4_000_000_000_000)],
        "doc_id long, source string, tok long",
    )
    rates = {
        r["source"]: r["keep_ppm"]
        for r in temperature_mixture(df, "source", "doc_id", "tok")
        .select("source", "keep_ppm").distinct().collect()
    }
    assert rates.get("tiny") == 1_000_000
    # the giant source's RATE is the 1-ppm clamp; whether its single
    # row survives is the coin's business — assert via the rate table
    # derived from a row that does survive, or recompute directly:
    from csvtool_spark.operators.sampling import mixture_coin

    giant_kept = temperature_mixture(df, "source", "doc_id", "tok").filter(
        F.col("source") == "giant"
    )
    # rate 1 ppm -> survives iff coin(doc_id=2) < 1
    coin2 = spark.range(1).select(
        mixture_coin(F.lit(2).cast("long")).alias("c")
    ).collect()[0]["c"]
    assert giant_kept.count() == (1 if coin2 < 1 else 0)

    # (b) zero-token source -> ValueError naming it
    z = spark.createDataFrame(
        [(1, "a", 10), (2, "empty", 0)],
        "doc_id long, source string, tok long",
    )
    with _pytest.raises(ValueError, match="empty"):
        temperature_mixture(z, "source", "doc_id", "tok")

    # (c) NULL source: rows dropped, token mass excluded from n_min
    n = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 400), (3, None, 1)],
        "doc_id long, source string, tok long",
    )
    kept = {
        r["doc_id"]: (r["source"], r["keep_ppm"])
        for r in temperature_mixture(n, "source", "doc_id", "tok").collect()
    }
    assert 3 not in kept  # NULL-source row dropped
    # n_min = 100, NOT the NULL row's 1: a's rate is exactly 1e6 (so doc
    # 1 always survives the coin) and b's is floor(1e6*sqrt(100/400))
    assert kept[1] == ("a", 1_000_000)
    if 2 in kept:  # b's survival is the coin's business; its RATE isn't
        assert kept[2] == ("b", 500_000)


def test_temperature_mixture_alpha_monotonicity(spark):
    """The pow lane (alpha != 0.5) has no bit-exact cross-engine twin,
    so pin its SEMANTICS Spark-side: for every source, keep rates are
    non-decreasing in alpha (alpha -> 1 approaches natural proportions,
    rate -> 1e6 for all), and any alpha keeps the smallest source
    whole."""
    from csvtool_spark.operators.sampling import temperature_mixture

    rows = [(i, "big" if i < 900 else ("mid" if i < 990 else "small"), 10)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, tok long")

    def rates(alpha):
        kept = temperature_mixture(df, "source", "doc_id", "tok", alpha=alpha)
        return {
            r["source"]: r["keep_ppm"]
            for r in kept.select("source", "keep_ppm").distinct().collect()
        }

    r3, r5, r7 = rates(0.3), rates(0.5), rates(0.7)
    for s in ("big", "mid", "small"):
        assert r3[s] <= r5[s] <= r7[s], (s, r3[s], r5[s], r7[s])
    assert r3["small"] == r5["small"] == r7["small"] == 1_000_000


def _temp_rate_corpus(spark, n_sources=40, seed=7):
    """A rate-boundary-rich corpus: many sources with pseudo-random
    token masses spanning 5 orders of magnitude (lots of distinct
    floor(1e6*ratio^e) values, so a one-ulp exponent difference has
    many chances to flip a floor)."""
    import random

    rng = random.Random(seed)
    rows = []
    did = 0
    for s in range(n_sources):
        tok = rng.randrange(10, 1_000_000)
        for _ in range(rng.randrange(1, 4)):
            rows.append((did, f"s{s:02d}", tok))
            did += 1
    return spark.createDataFrame(
        rows, "doc_id long, source string, tok long"
    )


def test_temperature_mixture_a75_bit_exact_vs_duckdb(spark):
    """alpha=0.75 (exponent 0.25) rides sqrt∘sqrt — two correctly-
    rounded IEEE ops, mirrored composition-for-composition by the twin
    — so the realized ppm rate table must be BIT-IDENTICAL to DuckDB's,
    exactly like the alpha=0.5 sqrt lane (round 12)."""
    import duckdb

    from csvtool_spark.operators.sampling import temperature_rates

    from csvtool_spark.functions.caching import persist_scope

    df = _temp_rate_corpus(spark)
    with persist_scope():
        rt = temperature_rates(df, "source", "tok", alpha=0.75)
        got = {(r["source"], r["keep_ppm"]) for r in rt.collect()}
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    want = set(con.execute("""
        WITH c AS (SELECT source, CAST(sum(tok) AS BIGINT) AS tok
                   FROM t GROUP BY source),
        m AS (SELECT min(tok) AS mn FROM c)
        SELECT source,
               greatest(CAST(1 AS BIGINT), least(CAST(1000000 AS BIGINT),
                 CAST(floor(1000000.0 *
                   sqrt(sqrt(CAST(m.mn AS DOUBLE) / CAST(tok AS DOUBLE))))
                 AS BIGINT)))
        FROM c, m
    """).fetchall())
    assert got == want


def test_temperature_mixture_pow_lane_one_ppm_band(spark):
    """The pow lane (alpha not in {0.5, 0.75}) is not correctly rounded
    cross-engine, so its oracle is TOLERANCE-BANDED: the engine's ppm
    rate must sit within ±1 ppm of DuckDB's pow for every source — the
    floor-boundary band the operator docstring documents
    (operators/sampling.py). A real derivation-rule bug (wrong
    exponent, swapped ratio, missing clamp) lands far outside 1 ppm."""
    import duckdb

    from csvtool_spark.operators.sampling import temperature_rates

    df = _temp_rate_corpus(spark)
    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    from csvtool_spark.functions.caching import persist_scope

    for alpha in (0.3, 0.62, 0.9):
        with persist_scope():
            rt = temperature_rates(df, "source", "tok", alpha=alpha)
            got = {r["source"]: r["keep_ppm"] for r in rt.collect()}
        want = dict(con.execute(f"""
            WITH c AS (SELECT source, CAST(sum(tok) AS BIGINT) AS tok
                       FROM t GROUP BY source),
            m AS (SELECT min(tok) AS mn FROM c)
            SELECT source,
                   greatest(CAST(1 AS BIGINT), least(CAST(1000000 AS BIGINT),
                     CAST(floor(1000000.0 * pow(
                       CAST(m.mn AS DOUBLE) / CAST(tok AS DOUBLE),
                       {1.0 - alpha!r})) AS BIGINT)))
            FROM c, m
        """).fetchall())
        assert set(got) == set(want)
        off = {s: (got[s], want[s]) for s in got
               if abs(got[s] - want[s]) > 1}
        assert not off, (alpha, off)
