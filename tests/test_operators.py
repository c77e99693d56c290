"""Unit/behavior tests for the scale operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from csvtool_spark.operators import dedup, multimodal, similarity, textstats


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (5, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_id = {r.doc_id: r.n_copies for r in out}
    assert by_id[1] == 2          # docs 1 and 4 collapse, min id kept
    assert 4 not in by_id
    assert len(out) == 4


def test_minhash_finds_near_dups(spark):
    pairs = dedup.near_dup_pairs_minhash(
        _docs(spark), "text", "doc_id", threshold=0.3
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 4) in found        # exact dup always survives
    assert (1, 2) in found or (2, 4) in found   # near-dup via shingles
    ja = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert ja[(1, 4)] == 1.0


def test_minhash_md5_family_finds_near_dups(spark):
    # the cross-engine-deterministic twin behaves like the xx64 family on
    # the canonical corpus: exact dup always survives, disjoint docs never
    # pair (the catalog oracle q_dedup_minhash_det checks full value parity)
    pairs = dedup.near_dup_pairs_minhash(
        _docs(spark), "text", "doc_id", threshold=0.3, hash_family="md5"
    ).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert found[(1, 4)] == 1.0
    assert (1, 3) not in found and (3, 4) not in found


def test_simhash_md5_family(spark):
    pairs = dedup.near_dup_pairs_simhash(
        _docs(spark), "text", "doc_id", max_hamming=10, hash_family="md5"
    ).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham[(1, 4)] == 0       # identical text → identical simhash
    assert all(v <= 10 for v in ham.values())


def test_ngram_jaccard_pairs(spark):
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark), "text", "doc_id", threshold=0.5, k=3
    ).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert found[(1, 4)] == 1.0
    assert (1, 3) not in found


def test_simhash_hamming(spark):
    pairs = dedup.near_dup_pairs_simhash(
        _docs(spark), "text", "doc_id", max_hamming=10
    ).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham[(1, 4)] == 0       # identical text → identical simhash
    if (1, 2) in ham:
        assert ham[(1, 2)] <= 10


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (5, [1.0, 0.01, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_bruteforce_orders_by_cosine(spark):
    out = similarity.ann_bruteforce(_vecs(spark), "embedding", "vec_id", [1.0, 0.0, 0.0], k=3).collect()
    assert [r.vec_id for r in out] == [1, 5, 2]
    assert out[0].cos == 1.0


def test_ann_lsh_finds_close_vectors(spark):
    out = similarity.ann_lsh(
        _vecs(spark), "embedding", "vec_id", [1.0, 0.0, 0.0], k=3, n_planes=8
    ).collect()
    assert out and out[0].vec_id == 1


def test_lang_id(spark):
    rows = [
        (1, "the cat and the dog went to the market in town"),
        (2, "le chat est dans la maison et la porte est ouverte pour le chien"),
        (3, "der hund ist mit der katze und das haus ist von den bäumen"),
        (4, "el perro y el gato es una historia de los animales en la casa"),
        (5, "这 是 一个 中文 文档 的 测试 文本 内容 示例"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r.lang for r in df.select("id", textstats.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {1: "en", 2: "fr", 3: "de", 4: "es", 5: "zh"}


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "b a c"), (2, "c a b"), (3, "a b x")], "id long, text string"
    )
    rows = df.select(
        "id",
        textstats.content_fingerprint(F.col("text")).alias("cfp"),
        textstats.rolling_fingerprint(F.col("text")).alias("rfp"),
    ).collect()
    by = {r.id: r for r in rows}
    assert by[1].cfp == by[2].cfp       # order-insensitive
    assert by[1].rfp != by[2].rfp       # order-sensitive
    assert by[1].cfp != by[3].cfp


def test_multimodal_decode_plumbing(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "xyz")], "doc_id long, text string")
    media = multimodal.attach_fake_media(df, "text", "doc_id")
    assert dict(media.dtypes)["media"] == "binary"
    feats = multimodal.decode_features(media).collect()
    assert len(feats) == 2
    by = {r.doc_id: r for r in feats}
    assert by[1].n_bytes == 11
    assert len(by[1].feature) == 8
    assert abs(sum(by[1].feature) - 1.0) < 1e-6
    frames = multimodal.frame_sample_plan(media, every_n=5).collect()
    assert len(frames) >= 2


def test_minhash_arrow_and_jvm_kernels_identical(spark):
    """The Arrow numpy kernel and the JVM Column fold implement the same
    KM lane family — signatures must be bit-identical, so the LSH pair
    set cannot depend on the kernel choice."""
    from pyspark.sql import functions as F
    from csvtool_spark.operators.textstats import tokens
    from tests.conftest import SF_SMALL

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    staged = d.select(
        F.col("doc_id"),
        dedup.hashed_shingles(
            tokens(dedup.normalized(F.col("text"))), 3
        ).alias("__sh"),
    )
    jvm = staged.select("doc_id", dedup.minhash_signature(F.col("__sh"), 32).alias("s"))
    arrow = staged.select(
        "doc_id", dedup.minhash_signature_arrow(32)(F.col("__sh")).alias("s")
    )
    assert jvm.join(arrow, "doc_id").filter(jvm["s"] != arrow["s"]).count() == 0
    # and degenerate inputs stay total in both kernels
    e = spark.createDataFrame([(1, ""), (2, "one")], "doc_id long, text string")
    es = e.select(
        "doc_id",
        dedup.hashed_shingles(tokens(dedup.normalized(F.col("text"))), 3).alias("__sh"),
    )
    ej = {r.doc_id: r.s for r in es.select("doc_id", dedup.minhash_signature(F.col("__sh"), 8).alias("s")).collect()}
    ea = {r.doc_id: r.s for r in es.select("doc_id", dedup.minhash_signature_arrow(8)(F.col("__sh")).alias("s")).collect()}
    assert ej == ea
    # raw-array battery the shingle path can't produce: null arrays and
    # empty arrays (incl. trailing empties — the reduceat boundary case
    # that once merged a neighbor's segment), big negative-hash values
    raw = spark.createDataFrame(
        [(1, [5, 7, 1]), (2, []), (3, None), (4, [-(2**63) + 11]),
         (5, [9, 3]), (6, [])],
        "doc_id long, arr array<long>",
    )
    rj = {r.doc_id: r.s for r in raw.select(
        "doc_id", dedup.minhash_signature(F.col("arr"), 4).alias("s")).collect()}
    ra = {r.doc_id: r.s for r in raw.select(
        "doc_id", dedup.minhash_signature_arrow(4)(F.col("arr")).alias("s")).collect()}
    assert rj == ra
    assert ra[3] is None and ra[2] == ra[6] == [dedup._MASK32] * 4
    # doc 1's lane minima must include its LAST shingle's contribution
    assert rj[1] == ra[1]


def test_langid_arrow_twin_identical(spark):
    """lang_id_arrow (the default kernel) must agree with the column-tree
    lang_id_jvm everywhere — all Unicode-sensitive steps (lower, split,
    CJK count, length) are the SAME JVM expressions in both variants, so
    the corpus rows below include the classic Java-lower() traps (Turkish
    dotted/dotless I, ß, full-width Latin, combining marks) to pin that
    the Arrow transport and Python-side set membership don't diverge on
    them either."""
    from pyspark.sql import functions as F
    from csvtool_spark.operators import textstats
    from tests.conftest import SF_SMALL

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    extra = spark.createDataFrame(
        [(90001, "le la les de des et est"), (90002, "der die das und ist"),
         (90003, ""), (90004, "一二三四五 the"), (90005, "xyzzy qwerty"),
         (90006, None),
         # Java lower() edge cases: dotted İ → i̇ (combining dot), dotless
         # I → ı, ß (no upper/lower change), full-width ＴＨＥ (lowers to
         # ｔｈｅ ≠ 'the'), combining-accent é vs precomposed é
         (90007, "İstanbul THE ısız Iı the and of to in is"),
         (90008, "STRASSE ß GROSS der und die das ist von"),
         (90009, "ＴＨＥ ＡＮＤ the and of is that for with on"),
         (90010, "café café le la de et est une dans"),
         (90011, "İİİİ III ıııı"),
        ],
        "doc_id long, text string",
    )
    both = d.select("doc_id", "text").union(extra)
    a = both.select("doc_id", textstats.lang_id_jvm(F.col("text")).alias("g"))
    b = both.select(
        "doc_id", textstats.lang_id(F.col("text")).alias("g2")  # arrow default
    )
    assert a.join(b, "doc_id").filter("g != g2").count() == 0


# --- duplicate passage spans ----------------------------------------------


def test_duplicate_span_stats(spark):
    rows = [
        (1, "a b c d e f"),        # shares the full 4-gram window set with 2
        (2, "a b c d e g"),        # spans 'a b c d'/'b c d e' duplicated
        (3, "x y z w v u"),        # unique spans
        (4, "a b"),                # shorter than k → zero spans
        (5, None),                 # null text → zero spans
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.duplicate_span_stats(d, "text", "doc_id", k=4).collect()}
    assert len(out) == 5
    assert out[1].n_spans == 3 and out[2].n_spans == 3
    assert out[1].n_dup == 2 and out[2].n_dup == 2   # 'a b c d', 'b c d e'
    assert out[3].n_dup == 0 and out[3].n_spans == 3
    assert out[4].n_spans == 0 and out[4].dup_frac == 0.0
    assert out[5].n_spans == 0 and out[5].n_dup == 0
    assert out[1].dup_frac == round(2 / 3, 6)


def test_duplicate_span_within_doc_repeat(spark):
    # min_docs=1 counts every span occurring ≥1 time... use a repeat inside
    # one doc with min_docs=2 across docs: the repeated span within doc 1
    # alone is NOT duplicated (distinct-doc criterion).
    rows = [(1, "p q r s p q r s"), (2, "t u v w x y z q")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.duplicate_span_stats(d, "text", "doc_id", k=4).collect()}
    assert out[1].n_dup == 0                        # repeats only within doc 1
    assert out[1].n_spans == 5


def test_duplicate_span_invariants(spark):
    # n_dup never exceeds n_spans; a doc duplicated wholesale has every
    # span duplicated (dup_frac 1.0) in both copies
    rows = [(1, "m n o p q r s t"), (2, "m n o p q r s t"), (3, "z y x w v u t s")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.duplicate_span_stats(d, "text", "doc_id", k=4).collect()}
    for r in out.values():
        assert 0 <= r.n_dup <= r.n_spans
    assert out[1].dup_frac == 1.0 and out[2].dup_frac == 1.0
    assert out[3].n_dup == 0


def test_histogram_clamps_and_zero_fills(spark):
    from csvtool_spark.operators.profiling import histogram

    d = spark.createDataFrame(
        [(None if v is None else float(v),) for v in [-5, 0, 1, 9.9, 10, 55, 99, 200, None]],
        "x double",
    )
    out = {r.bucket: (r.lo, r.n) for r in histogram(d, "x", 0.0, 100.0, 10).collect()}
    assert len(out) == 10                      # fixed shape, empties zero-filled
    assert out[0] == (0.0, 4)                  # -5 clamps in; 0, 1, 9.9
    assert out[1][1] == 1                      # 10
    assert out[5][1] == 1                      # 55
    assert out[9][1] == 2                      # 99 + 200 clamped
    assert sum(n for _, n in out.values()) == 8  # null dropped


def test_source_overlap_matrix(spark):
    rows = [
        (1, "a b c d e f g h", "s1"),
        (2, "a b c d e f g h", "s2"),   # full overlap with s1
        (3, "q r s t u v w x", "s3"),   # no overlap
        (4, "a b c d e f g z", "s1"),   # within-s1 overlap must NOT pair
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r.group_a, r.group_b): r.shared_spans
           for r in dedup.source_overlap_matrix(d, "text", "source", k=8).collect()}
    assert out == {("s1", "s2"): 1}   # one shared distinct 8-span


def test_histogram_drops_nan_and_clamps_infinity(spark):
    from csvtool_spark.operators.profiling import histogram

    d = spark.createDataFrame(
        [(float("nan"),), (float("inf"),), (float("-inf"),), (5.0,)], "x double"
    )
    out = {r.bucket: r.n for r in histogram(d, "x", 0.0, 100.0, 10).collect()}
    assert out[0] == 2      # 5.0 and -inf (clamped)
    assert out[9] == 1      # +inf (clamped)
    assert sum(out.values()) == 3  # NaN dropped


def test_simhash_arrow_and_jvm_kernels_identical(spark):
    """The Arrow vote-fold kernel and the JVM Column fold must produce
    bit-identical simhash signatures — the chunk-blocked pair set cannot
    depend on the kernel choice (VERDICT r3 #4)."""
    from pyspark.sql import functions as F
    from csvtool_spark.operators.textstats import tokens
    from tests.conftest import SF_SMALL

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    toks = tokens(dedup.normalized(F.col("text")))
    staged = d.select(
        "doc_id",
        toks.alias("__toks"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("__th"),
    )
    jvm = staged.select("doc_id", dedup.simhash64(F.col("__toks"), "xx64").alias("s"))
    arrow = staged.select("doc_id", dedup.simhash64_arrow()(F.col("__th")).alias("s"))
    assert jvm.join(arrow, "doc_id").filter(jvm["s"] != arrow["s"]).count() == 0
    assert jvm.count() == arrow.count() > 0
    # degenerate battery: null array, empty array, single huge-bit-63 hash
    raw = spark.createDataFrame(
        [(1, [5, 7, 1]), (2, []), (3, None), (4, [-(2**63) + 11]), (5, [-1])],
        "doc_id long, arr array<long>",
    )
    ra = {r.doc_id: r.s for r in raw.select(
        "doc_id", dedup.simhash64_arrow()(F.col("arr")).alias("s")).collect()}
    assert ra[3] is None and ra[2] == 0
    assert ra[5] == -1  # every bit votes +1 → all 64 sign bits set
    assert ra[4] == -(2**63) + 11  # single token → signature = its hash
    # pair-set equivalence end-to-end
    pa = {(r.id_a, r.id_b) for r in dedup.near_dup_pairs_simhash(
        d, "text", "doc_id", kernel="arrow").collect()}
    pj = {(r.id_a, r.id_b) for r in dedup.near_dup_pairs_simhash(
        d, "text", "doc_id", kernel="jvm").collect()}
    assert pa == pj


def _golden_corpus():
    """Fixed 200-doc corpus with planted structure: 15 near-dup pairs
    (one-token perturbation of docs 0,2,…,28 → ids 170-184) and 5 exact
    dups (copies of docs 100-104 → ids 185-189). Seeded generator — the
    corpus is a pure function of the seed, so the pair sets below are
    committed golden values."""
    import random

    r = random.Random(20260814)
    words = [f"w{i:03d}" for i in range(400)]
    docs = {}
    for i in range(170):
        docs[i] = " ".join(r.choice(words) for _ in range(r.randint(20, 60)))
    for j in range(15):
        toks = docs[j * 2].split()
        k = r.randrange(len(toks))
        toks[k] = r.choice(words)
        docs[170 + j] = " ".join(toks)
    for j in range(5):
        docs[185 + j] = docs[100 + j]
    return sorted(docs.items())


#: exactly the 20 planted pairs — no false positives, full recall
GOLDEN_MINHASH_PAIRS = (
    [(2 * j, 170 + j) for j in range(15)] + [(100 + j, 185 + j) for j in range(5)]
)

#: simhash at max_hamming=8 recovers 13/15 near-dups (ids 171 and 178's
#: perturbations flip >8 signature bits — expected for simhash's radius)
#: plus all 5 exact dups at hamming 0
GOLDEN_SIMHASH_PAIRS = [
    (0, 170, 4), (4, 172, 3), (6, 173, 2), (8, 174, 3), (10, 175, 3),
    (12, 176, 4), (14, 177, 2), (16, 178, 4), (18, 179, 1), (20, 180, 3),
    (22, 181, 7), (24, 182, 3), (26, 183, 4),
    (100, 185, 0), (101, 186, 0), (102, 187, 0), (103, 188, 0), (104, 189, 0),
]


def test_golden_pairs_minhash_xxhash_family(spark):
    """Direct value evidence for the xxhash64+Arrow PERFORMANCE defaults
    (VERDICT r3 #8): the md5 oracle twins prove the pipeline shape, this
    pins the exact pair set the fast family produces on a fixed corpus."""
    d = spark.createDataFrame(_golden_corpus(), "doc_id long, text string")
    got = sorted(
        (r.id_a, r.id_b)
        for r in dedup.near_dup_pairs_minhash(d, "text", "doc_id").collect()
    )
    assert got == sorted(GOLDEN_MINHASH_PAIRS)


def test_golden_pairs_simhash_xxhash_family(spark):
    d = spark.createDataFrame(_golden_corpus(), "doc_id long, text string")
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.near_dup_pairs_simhash(d, "text", "doc_id").collect()
    )
    assert got == GOLDEN_SIMHASH_PAIRS


def test_bm25_ranks_matching_docs_and_is_take_ordered(spark):
    from csvtool_spark.operators.retrieval import bm25_scores

    rows = [
        (1, "spark query engine spark spark"),
        (2, "spark query"),
        (3, "nothing relevant here at all"),
        (4, "query " * 30),
        (5, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_scores(d, "text", "doc_id", ["spark", "query"], top_k=10)
    got = {r.doc_id: r.score_fp for r in out.collect()}
    assert set(got) == {1, 2, 4}            # non-matching + null docs omitted
    assert got[1] == max(got.values())      # highest tf on both terms wins
    assert all(v > 0 for v in got.values())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, never a full sort


def test_bm25_rejects_empty_query_and_handles_no_hits(spark):
    from csvtool_spark.operators.retrieval import bm25_scores

    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    try:
        bm25_scores(d, "text", "doc_id", ["  ", ""])
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "at least one term" in str(e)
    # terms that hit nothing → empty result with the contract schema
    out = bm25_scores(d, "text", "doc_id", ["zzz-not-here"])
    assert out.columns == ["doc_id", "score_fp", "score"]
    assert out.count() == 0


def test_dsir_weights_favor_target_distribution(spark):
    """Docs written in the target vocabulary must out-weigh docs from a
    disjoint vocabulary, and the no-evidence cases (null/empty) sit at 0."""
    from csvtool_spark.operators.importance import dsir_logweights, dsir_sample

    rows = (
        [(i, "alpha beta gamma delta alpha beta", "tgt") for i in range(20)]
        + [(100 + i, "omega psi chi phi omega psi", "other") for i in range(20)]
        + [(200, None, "other"), (201, "", "other")]
    )
    d = spark.createDataFrame(rows, "doc_id long, text string, src string")
    # xx64 default (throughput lane) — semantics must hold on it too
    w = {r.doc_id: r.logw_fp for r in
         dsir_logweights(d, "text", "doc_id", "src = 'tgt'", n_buckets=64).collect()}
    assert w[200] == 0                      # null text → no evidence
    assert min(w[i] for i in range(20)) > max(w[100 + i] for i in range(20))
    top = dsir_sample(d, "text", "doc_id", "src = 'tgt'", k=20,
                      n_buckets=64, gumbel=False)
    assert {r.doc_id for r in top.collect()} == set(range(20))
    # plan shape checked on the lazy form (default materializes the
    # bounded top-k eagerly and releases the staged bucket cache)
    lazy = dsir_sample(d, "text", "doc_id", "src = 'tgt'", k=20,
                       n_buckets=64, gumbel=False, materialize=False)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, never a full sort


def test_group_quantiles_shares_one_exchange(spark):
    """Both window functions (rank + group count) must ride a single
    shuffle — a second Exchange would double the dominant cost."""
    from csvtool_spark.operators.stats import group_quantiles
    from tests.conftest import SF_SMALL

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = (
        group_quantiles(d, "n_chars", ["lang"], (0.5,))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    # semantics: rank rule on a known tiny group
    t = spark.createDataFrame(
        [("g", v) for v in [10, 20, 30, 40]], "lang string, n_chars long"
    )
    got = {r.q: r.value for r in
           group_quantiles(t, "n_chars", ["lang"], (0.25, 0.5, 1.0)).collect()}
    assert got == {0.25: 10, 0.5: 20, 1.0: 40}  # ceil(q*4) → ranks 1,2,4


def test_group_mode_tie_breaks_to_smallest(spark):
    from csvtool_spark.operators.stats import group_mode

    t = spark.createDataFrame(
        [("g", "b"), ("g", "a"), ("g", "b"), ("g", "a"), ("g", "c")],
        "k string, v string",
    )
    row = group_mode(t, "v", ["k"]).collect()[0]
    assert (row.mode_value, row.mode_count) == ("a", 2)  # tie a/b → smallest


def test_funnel_strict_progression_and_zero_steps(spark):
    from csvtool_spark.operators.funnel import funnel

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        # u1 completes in order
        (1, "a", t0), (1, "b", t0 + s), (1, "c", t0 + 2 * s),
        # u2: b BEFORE a → stops at a
        (2, "b", t0), (2, "a", t0 + s),
        # u3: a and b at the SAME ts → strict < rejects b
        (3, "a", t0), (3, "b", t0),
        # u4: only noise
        (4, "x", t0),
    ]
    d = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {r.step_name: r.users for r in
           funnel(d, "user_id", "ts", "event_type", ["a", "b", "c"]).collect()}
    assert got == {"a": 3, "b": 1, "c": 1}  # zero-user steps still emitted

    plan = (
        funnel(d, "user_id", "ts", "event_type", ["a", "b", "c"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") <= 3  # user groupBy + step count + grid join

    try:
        funnel(d, "user_id", "ts", "event_type", ["a", "a"])
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "distinct" in str(e)


def test_pii_redaction_semantics(spark):
    from csvtool_spark.operators.redact import STRICT_PATTERNS, pii_counts, redact_documents

    rows = [
        (1, "mail a@b.com ip 1.2.3.4 phone 212-555-0199 card 4111111111111111 ok"),
        (2, "pii@dense.net 9.9.9.9"),   # 2 matches / 3 tokens → dropped at 0.2
        (3, "clean prose with no personal data in it at all"),
        (4, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    from pyspark.sql import functions as F

    cols = pii_counts(F.col("text"), STRICT_PATTERNS)
    st = {r.doc_id: (r.n_email, r.n_ipv4, r.n_phone, r.n_digit_run)
          for r in d.select("doc_id", *[c.alias(f"n_{n}") for n, c in cols.items()]).collect()}
    assert st[1] == (1, 1, 1, 1)
    assert st[4] == (0, 0, 0, 0)        # null text → zero counts, not null
    out = {r.doc_id: r.text for r in
           redact_documents(d, "text", "doc_id", max_pii_fraction=0.5).collect()}
    assert 2 not in out                  # 2 matches / 3 tokens → dropped
    assert out[1] == "mail <EMAIL> ip <IP> phone <PHONE> card <NUM> ok"  # 4/9 kept
    assert out[4] is None                # null passes through (density 0)


def test_redact_clean_branch_differential(spark):
    """The round-14 clean-document short-circuit (probe the RAW text with
    rlike; skip the progressive count/replace battery when nothing
    matches) must be value-identical to the unconditional reference form
    on every row shape: clean, each single category, multi-category,
    replacement-adjacent digits, pii-dense (dropped), null and empty."""
    from pyspark.sql import functions as F

    from csvtool_spark.operators.redact import (
        STRICT_PATTERNS,
        pii_counts,
        redact_documents,
        redact_pii,
    )
    from csvtool_spark.operators.dedup import normalized
    from csvtool_spark.operators.textstats import tokens

    rows = [
        (1, "totally clean prose with plenty of ordinary words here"),
        (2, "mail a@b.com please"),
        (3, "server 10.0.0.1 rebooted"),
        (4, "call +4915112345678 now"),
        (5, "card 4111111111111111 on file"),
        (6, "a@b.com 1.2.3.4 +1234567890 4111111111111111 mixed"),
        (7, "dense a@b.com b@c.org"),          # 2 matches / 3 tokens
        (8, None),
        (9, ""),
        (10, "x" * 5000),                       # long clean doc
        (11, "777-7777-7777 dashed phone shape"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    # reference: the unconditional battery, exactly the pre-round-14 tree
    counts = pii_counts(F.col("text"), STRICT_PATTERNS)
    n_pii = None
    for name, _, _ in STRICT_PATTERNS:
        n_pii = counts[name] if n_pii is None else n_pii + counts[name]
    n_toks = F.greatest(F.size(tokens(normalized(F.col("text")))), F.lit(1))
    frac = F.round(n_pii.cast("double") / n_toks.cast("double"), 6)
    ref = (
        d.select(
            F.col("doc_id"),
            redact_pii(F.col("text"), STRICT_PATTERNS).alias("text"),
            n_pii.alias("n_pii"),
            frac.alias("pii_fraction"),
        )
        .filter(F.col("pii_fraction") <= 0.2)
    )
    got = redact_documents(d, "text", "doc_id", max_pii_fraction=0.2)
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())

    # dataset_report's raw-text rlike probe ⟺ progressive any-count > 0
    probe = None
    for _, pat, _ in STRICT_PATTERNS:
        p = F.col("text").rlike(pat)
        probe = p if probe is None else probe | p
    pairs = d.select(
        (n_pii > 0).alias("ref"), F.coalesce(probe, F.lit(False)).alias("new")
    ).collect()
    assert all(bool(r.ref) == bool(r.new) for r in pairs)


def test_dsir_hash_families_agree_on_ranking_shape(spark):
    """xx64 (throughput) and md5 (oracle) lanes share every stage except
    the bucket hash — both must rank target-vocabulary docs above the
    disjoint-vocabulary ones, and both must be deterministic run-to-run."""
    from csvtool_spark.operators.importance import dsir_logweights

    rows = (
        [(i, "alpha beta gamma delta alpha beta", "tgt") for i in range(15)]
        + [(100 + i, "omega psi chi phi omega psi", "other") for i in range(15)]
    )
    d = spark.createDataFrame(rows, "doc_id long, text string, src string")
    for fam in ("xx64", "md5"):
        a = {r.doc_id: r.logw_fp for r in dsir_logweights(
            d, "text", "doc_id", "src = 'tgt'", n_buckets=64, hash_family=fam
        ).collect()}
        b = {r.doc_id: r.logw_fp for r in dsir_logweights(
            d, "text", "doc_id", "src = 'tgt'", n_buckets=64, hash_family=fam
        ).collect()}
        assert a == b  # deterministic
        assert min(a[i] for i in range(15)) > max(a[100 + i] for i in range(15))


def test_cross_corpus_neardup_never_pairs_within_a_side(spark):
    """Candidates must come ONLY from the new×ref join: two exact dups
    inside the same side produce no pair, an exact dup across sides does;
    both hash families agree on the planted structure."""
    new = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),   # within-new dup of 1
         (3, "totally unrelated fresh content here now")],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),  # cross dup of 1,2
         (101, "other reference material entirely different words")],
        "doc_id long, text string",
    )
    for fam in ("xx64", "md5"):
        got = {(r.new_id, r.ref_id): r.jaccard for r in
               dedup.cross_corpus_neardup(new, ref, "text", "doc_id",
                                          threshold=0.5, hash_family=fam).collect()}
        assert got == {(1, 100): 1.0, (2, 100): 1.0}  # no (1,2), no ref-side pairs


def test_winsorize_semantics(spark):
    from csvtool_spark.operators.stats import winsorize

    rows = [("g", float(v)) for v in range(1, 11)] + [
        ("g", None), ("g", float("nan")), ("empty", None)
    ]
    d = spark.createDataFrame(rows, "k string, v double")
    out = winsorize(d, "v", ["k"], 0.2, 0.8)
    got = [(r.k, r.v, r.v_wins) for r in out.collect()]
    for k, v, w in got:
        if v is None:
            assert w is None                      # null passes through
        elif v != v:
            assert w != w                         # NaN preserved
        elif k == "g":
            assert 2.0 <= w <= 8.0                # clamped to [p20, p80]
            assert w == min(max(v, 2.0), 8.0)
    try:
        winsorize(d, "v", ["k"], 0.9, 0.1)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "p_lo < p_hi" in str(e)


def test_profile_drift_flags_changes_and_schema_diff(spark):
    from csvtool_spark.operators.profiling import profile_drift

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id long, v string"
    )
    new = spark.createDataFrame(
        [(1, 1.5), (2, 2.5), (9, 9.5), (10, 10.5)], "id long, w double"
    )
    rows = {(r.col_name, r.metric): (r.old_val, r.new_val, r.changed)
            for r in profile_drift(old, new).collect()}
    assert rows[("id", "n_rows")] == ("3", "4", True)
    assert rows[("id", "max")] == ("3", "10", True)
    assert rows[("id", "n_nulls")] == ("0", "0", False)
    assert rows[("v", "n_rows")][1] is None and rows[("v", "n_rows")][2]  # dropped col
    assert rows[("w", "n_rows")][0] is None and rows[("w", "n_rows")][2]  # added col
    assert all(r[2] is not None for r in rows.values())  # changed never null


def test_funnel_is_arrival_order_invariant(spark):
    """The greedy chain folds over (ts, type)-SORTED per-user events, so
    shuffling the input row order cannot change any user's depth."""
    import datetime as dt
    import random as _random

    from csvtool_spark.operators.funnel import funnel_user_depths

    r = _random.Random(99)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (r.randint(0, 15), r.choice(["a", "b", "c", "x"]),
         t0 + dt.timedelta(seconds=r.randint(0, 20)))
        for _ in range(300)
    ]
    shuffled = rows[:]
    r.shuffle(shuffled)
    mk = lambda rs: spark.createDataFrame(  # noqa: E731
        rs, "user_id long, event_type string, ts timestamp"
    )
    a = {x.user: x.depth for x in
         funnel_user_depths(mk(rows), "user_id", "ts", "event_type",
                            ["a", "b", "c"]).collect()}
    b = {x.user: x.depth for x in
         funnel_user_depths(mk(shuffled), "user_id", "ts", "event_type",
                            ["a", "b", "c"]).collect()}
    assert a == b and len(a) > 0


def test_fuzzy_linkage_semantics(spark):
    """Exact match → 1.0; one-char typo scores high; disjoint names never
    pair; a×a / b×b pairs never form."""
    from csvtool_spark.operators.linkage import fuzzy_string_pairs

    a = spark.createDataFrame(
        [(1, "anna schmidt"), (2, "acme gmbh"), (3, "zzz qqq vvv"), (4, None)],
        "aid long, name string",
    )
    b = spark.createDataFrame(
        [(10, "anna schmidt"), (11, "anna schmitd"), (12, "unrelated co")],
        "bid long, name string",
    )
    got = {(r.a_id, r.b_id): r.sim for r in fuzzy_string_pairs(
        a, b, "name", "name", "aid", "bid", threshold=0.4, max_gram_freq=None
    ).collect()}
    assert got[(1, 10)] == 1.0
    assert 0.4 <= got[(1, 11)] < 1.0          # typo still links
    assert all(k[0] != 3 for k in got)        # disjoint never pairs
    assert all(k[0] in (1, 2) or k[1] in (10, 11, 12) for k in got)


def test_group_quantiles_rejects_non_numeric(spark):
    """Misuse on a non-numeric column fails loudly at plan-build time —
    the NaN guard's cast would otherwise silently drop uncastable rows
    in Spark while the DuckDB oracle errors (round-4 ADVICE)."""
    import pytest

    from csvtool_spark.operators.stats import group_quantiles, winsorize

    d = spark.createDataFrame([("a", "x")], "g string, v string")
    with pytest.raises(ValueError, match="must be numeric"):
        group_quantiles(d, "v", ["g"])
    with pytest.raises(ValueError, match="must be numeric"):
        winsorize(d, "v", ["g"])


def test_fuzzy_linkage_scope_unpersists(spark):
    """fuzzy_string_pairs persists its gram tables through
    functions.caching; the enclosing persist_scope drops them all (a
    long-lived session must not accumulate corpus-sized cached
    blocks)."""
    from csvtool_spark.functions.caching import persist_scope
    from csvtool_spark.operators.linkage import fuzzy_string_pairs

    a = spark.createDataFrame(
        [(1, "acme corp"), (2, "zebra ltd")], "id long, name string"
    )
    b = spark.createDataFrame(
        [(10, "acme corp."), (20, "yak inc")], "id long, name string"
    )
    with persist_scope() as staged:
        out = fuzzy_string_pairs(a, b, "name", "name", "id", "id", threshold=0.3)
        pairs = {(r["a_id"], r["b_id"]) for r in out.collect()}
        assert all(s.storageLevel.useMemory for s in staged)
    assert (1, 10) in pairs
    assert len(staged) == 4  # raw + pruned per side
    assert all(not s.storageLevel.useMemory for s in staged)


def test_bm25_and_cross_dedup_attach_release_handles(spark):
    """The other two flagged persist sites register with the same scope."""
    from csvtool_spark.functions.caching import persist_scope
    from csvtool_spark.operators import dedup
    from csvtool_spark.operators.retrieval import bm25_scores

    docs = spark.createDataFrame(
        [(1, "red fox jumps"), (2, "red red wall"), (3, "blue sky")],
        "doc_id long, text string",
    )
    with persist_scope() as staged:
        ranked = bm25_scores(docs, "text", "doc_id", ["red", "fox"])
        assert ranked.count() >= 1
    assert len(staged) == 1
    assert all(not s.storageLevel.useMemory for s in staged)

    new = docs.filter("doc_id <= 2")
    ref = docs.filter("doc_id > 2")
    with persist_scope() as staged:
        dedup.cross_corpus_neardup(
            new, ref, "text", "doc_id", threshold=0.3, n_hashes=16, bands=4,
            hash_family="md5",
        ).count()
    assert len(staged) == 2
    assert all(not s.storageLevel.useMemory for s in staged)
