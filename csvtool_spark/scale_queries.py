"""Harness catalog entries for the beyond-reference scale operators
(dedup, similarity search, text analysis, multimodal plumbing).

Oracle strategy: text analytics and exact dedup are fully SQL-expressible in
DuckDB (same expression shapes, same left-fold accumulation via
list_reduce+prepend ⇒ bit-identical doubles). The LSH operators are
oracle-backed too: MinHash/SimHash run md5-lane deterministic twins
(`q_dedup_minhash_det`/`q_dedup_simhash_det` — the whole
signature→band→verify pipeline reproduced as DuckDB CTEs), and the SRP
operators (`q_embed_neardup`/`q_ann_lsh`) inline their literal seeded
hyperplanes into the SQL, so bucket membership is bit-identical. Only the
xxhash64 perf twins (shadow, bench-headline) stay rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csvtool_spark.operators import (
    bloomjoin,
    classify,
    clustering,
    contamination,
    dedup,
    funnel,
    importance,
    linkage,
    multimodal,
    pca,
    profiling,
    redact,
    retrieval,
    sampling,
    similarity,
    sketches,
    stats,
    textstats,
)
from csvtool_spark.queries import cents, load, register

# --- text analysis --------------------------------------------------------


@register(
    "q_text_tokens",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{textstats.BPE_REGEX}')) AS BIGINT) AS n_bpe,
           CAST(length(text) AS BIGINT) AS n_chars2
    FROM documents
    """,
    registered=False,  # shadow (round-3 swap for q_chunk_docs): token
    # counting stays driver-evidenced via q_text_quality / q_lm_score /
    # q_heavy_hitters; this entry remains oracle-checked in the local gate.
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        textstats.token_count(t).alias("n_tokens"),
        textstats.bpe_token_count(t).alias("n_bpe"),
        F.length(t).cast("long").alias("n_chars2"),
    )


@register(
    "q_text_quality",
    # ONE definition of the quality expression (textstats.quality_cte_sql,
    # generated from ENGLISH_STOPWORDS) shared with q_dialect_curate
    "WITH "
    + textstats.quality_cte_sql("documents", "doc_id")
    + "\n    SELECT doc_id, quality FROM q",
    registered=False,  # shadow (r8 swap for q_dialect_curate, whose
    # quality column is this same expression through the pipe surface)
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", textstats.quality_score(F.col("text")).alias("quality"))


@register(
    "q_text_langid",
    # ONE definition of the langid decision SQL (textstats.langid_cte_sql,
    # generated from LANG_MARKERS) shared with the dialect pipe twins
    "WITH "
    + textstats.langid_cte_sql("documents", "doc_id, lang")
    + "\n    SELECT doc_id, lang, lang_guess FROM lid",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", textstats.lang_id(F.col("text")).alias("lang_guess")
    )


@register(
    "q_text_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS content_fp,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(lower(text), ' '),
                 t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) AS rolling_fp
    FROM documents
    """,
    registered=False,  # shadow (r4 swap): window slot given to q_nb_classify
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.content_fingerprint(F.col("text")).alias("content_fp"),
        textstats.rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


@register(
    "q_heavy_hitters",
    """
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT 50
    """,
    registered=False,  # shadow (r6 swap: slot given to q_winsorize); text
    # analysis keeps q_text_quality + q_text_langid in-window
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return textstats.heavy_hitters(d, "text", k=50)


# --- dedup ----------------------------------------------------------------


@register(
    "q_dedup_exact",
    """
    SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS text_hash,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(lower(trim(text)))
    """,
    registered=False,  # shadow (r8 swap for q_paragraph_dedup): the exact
    # md5 identity + min-id keep stays driver-evidenced via
    # q_dialect_curate's dedup stage and q_dedup_clusters' grouping
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "text", "doc_id")


def _inv_register(con, name: str, sdf: DataFrame):
    """Stage a (small, catalog-scale) Spark result as a DuckDB view for
    invariant checking; caller unregisters."""
    con.register(name, sdf.toPandas())


def _inv_minhash_xx64(sdf, con):
    """Invariant oracle for the xx64 MinHash perf lane (32 lanes × 8
    bands, verify ≥ 0.4 — q_dedup_minhash's params): every emitted pair
    is re-derived exactly in DuckDB — the claimed jaccard must equal the
    exact token-set Jaccard and clear the threshold — plus the
    structural contract (id_a < id_b, no duplicate pairs, ids exist).
    Completeness is hash-family-dependent (measured: each family finds
    ~1 true pair the other's banding misses) and is pinned by the md5
    twin q_dedup_minhash_det + q_minhash_recall instead."""
    _inv_register(con, "__inv_mh", sdf)
    try:
        bad = con.execute(
            """
            SELECT
              (SELECT count(*) FROM __inv_mh WHERE id_a >= id_b),
              (SELECT count(*) - count(DISTINCT (id_a, id_b)) FROM __inv_mh),
              (SELECT count(*) FROM __inv_mh p
                WHERE p.id_a NOT IN (SELECT doc_id FROM documents)
                   OR p.id_b NOT IN (SELECT doc_id FROM documents))
            """
        ).fetchone()
        mism = con.execute(
            f"""
            WITH {dedup.shingle_cte_sql()},
            tokset AS (SELECT doc_id, list_distinct(t) AS ts FROM toks),
            chk AS (
              SELECT p.jaccard, {_JACC} AS truth
              FROM __inv_mh p JOIN tokset x ON x.doc_id = p.id_a
                              JOIN tokset y ON y.doc_id = p.id_b
            )
            SELECT count(*) FROM chk
            WHERE truth IS NULL OR truth <> jaccard OR truth < 0.4e0
            """
        ).fetchone()[0]
        if any(bad) or mism:
            return (
                f"minhash xx64 invariant: {bad[0]} misordered, {bad[1]} dup "
                f"pairs, {bad[2]} unknown ids, {mism} jaccard mismatches or "
                "below-threshold pairs"
            )
        return None
    finally:
        con.unregister("__inv_mh")


@register("q_dedup_minhash", registered=False, invariant=_inv_minhash_xx64)
# SHADOW: the xxhash64+Arrow perf family (bench-headline entry). Its
# value-level verification is the invariant oracle above (every emitted
# pair re-verified exactly in DuckDB) + the driver-registered md5-lane
# twin q_dedup_minhash_det — same pipeline, engine-neutral hashes — plus
# the kernel-differential pytest pinning xx64 arrow≡jvm signatures.
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 32 lanes × 8 bands keeps rows-per-band = 4, so the s-curve midpoint
    # stays ≈(1/8)^(1/4)≈0.6 Jaccard while halving signature + banding
    # cost vs the 64×16 operator default (which remains the right setting
    # when recall near the threshold matters more than throughput).
    d = load(spark, sf_dir, "documents")
    return dedup.near_dup_pairs_minhash(
        d, "text", "doc_id", threshold=0.4, n_hashes=32, bands=8
    )


# Shingle CTE shared with q_dedup_ngram / q_dedup_minhash_det /
# cross_dedup / q_minhash_recall (same tokenization / distinct). The
# builder lives in operators.dedup (shingle_cte_sql) so every oracle
# consumes ONE definition — copied SQL drifts silently (a .replace()
# would no-op if the formatting ever changed).
def _shingle_cte(table: str = "documents") -> str:
    return dedup.shingle_cte_sql(table)


_JACC = """round(CAST(len(list_intersect(x.ts, y.ts)) AS DOUBLE)
             / (CASE WHEN len(list_distinct(list_concat(x.ts, y.ts))) > 0
                     THEN CAST(len(list_distinct(list_concat(x.ts, y.ts))) AS DOUBLE)
                END), 6)"""

@register(
    "q_dedup_minhash_det",
    # The FULL MinHash-LSH pipeline, reproduced end to end in DuckDB:
    # md5-slice lane seeds → Kirsch-Mitzenmacher lane minima (32 lanes) →
    # 8 string band keys → band equi-join candidates → exact token-set
    # Jaccard verify ≥ 0.4. Bit-identical to the Spark md5 family
    # (hash arithmetic stays in non-negative int64, % 2^32 ≡ & mask).
    # ONE definition of the CTE chain — dedup.minhash_pairs_cte_sql — is
    # shared with the dialect neardup pipe twin (round-8 review: the
    # builder originally duplicated this SQL inline; copied SQL drifts).
    "WITH "
    + dedup.minhash_pairs_cte_sql(
        "documents", threshold=0.4, n_hashes=32, bands=8
    )
    + "\n    SELECT id_a, id_b, jaccard FROM mh_pairs",
)
def q_dedup_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-engine-deterministic md5-lane twin of q_dedup_minhash: same
    # params, same banding/verify pipeline, oracle-checked hash-exact.
    # (The oracle has no MAX_BUCKET cap; at oracle scale — 500 docs — no
    # bucket can reach the 1000 cap, so the pair sets are identical.)
    d = load(spark, sf_dir, "documents")
    return dedup.near_dup_pairs_minhash(
        d, "text", "doc_id", threshold=0.4, n_hashes=32, bands=8,
        hash_family="md5",
    )


def _inv_simhash_xx64(sdf, con):
    """Invariant oracle for the xx64 SimHash lane (max_hamming=6):
    Hamming distances between xx64 fingerprints are engine-local, so the
    checkable cross-engine properties are (1) the structural contract —
    id_a < id_b, no duplicate pairs, ids exist, 0 ≤ hamming ≤ 6 — and
    (2) completeness where completeness IS family-independent: any two
    docs with identical normalized text have identical fingerprints
    under EVERY family (and share all 4 blocking chunks), so every
    exact-duplicate pair must be present with hamming = 0. Near-the-
    threshold behavior is pinned by the md5 twin q_dedup_simhash_det."""
    _inv_register(con, "__inv_sh", sdf)
    try:
        bad = con.execute(
            """
            SELECT
              (SELECT count(*) FROM __inv_sh WHERE id_a >= id_b),
              (SELECT count(*) - count(DISTINCT (id_a, id_b)) FROM __inv_sh),
              (SELECT count(*) FROM __inv_sh
                WHERE hamming < 0 OR hamming > 6 OR hamming IS NULL),
              (SELECT count(*) FROM __inv_sh p
                WHERE p.id_a NOT IN (SELECT doc_id FROM documents)
                   OR p.id_b NOT IN (SELECT doc_id FROM documents))
            """
        ).fetchone()
        missing = con.execute(
            """
            WITH ed AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM documents a JOIN documents b
                ON a.doc_id < b.doc_id
               AND md5(lower(trim(a.text))) = md5(lower(trim(b.text)))
              WHERE a.text IS NOT NULL AND b.text IS NOT NULL
            )
            SELECT count(*) FROM ed LEFT JOIN __inv_sh p USING (id_a, id_b)
            WHERE p.hamming IS NULL OR p.hamming <> 0
            """
        ).fetchone()[0]
        if any(bad) or missing:
            return (
                f"simhash xx64 invariant: {bad[0]} misordered, {bad[1]} dup "
                f"pairs, {bad[2]} hamming out of [0,6], {bad[3]} unknown ids, "
                f"{missing} exact-duplicate pairs absent or hamming≠0"
            )
        return None
    finally:
        con.unregister("__inv_sh")


@register("q_dedup_simhash", registered=False, invariant=_inv_simhash_xx64)
# SHADOW: xxhash64 family; the invariant oracle above pins structure +
# exact-dup completeness; value-level near-threshold verification lives
# in q_dedup_simhash_det.
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.near_dup_pairs_simhash(d, "text", "doc_id", max_hamming=6)


@register(
    "q_dedup_simhash_det",
    # SimHash with md5-slice bit sources, reproduced end to end in DuckDB:
    # per-token ±1 votes per bit (bits 0-31 from md5 hex [1,8], 32-63 from
    # [9,16]), 4×16-bit chunk blocking, exact Hamming verify ≤ 6. The
    # oracle never packs the 64-bit word — it compares vote-sign lists,
    # which is what bit_count(xor) computes on the packed form.
    """
    WITH toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
                  FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(t, s -> {
               'h1': CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT),
               'h2': CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT)}) AS hs
      FROM toks
    ),
    bits AS (
      SELECT doc_id,
             list_transform(range(0, 64), b ->
               coalesce(list_sum(list_transform(hs, h ->
                 CASE WHEN ((CASE WHEN b < 32 THEN h.h1 >> b
                                  ELSE h.h2 >> (b - 32) END) & 1) = 1
                      THEN 1 ELSE -1 END)), 0) > 0) AS bits
      FROM hs
    ),
    chunks AS (
      SELECT doc_id, j AS chunk_id,
             list_sum(list_transform(range(0, 16), i ->
               CASE WHEN bits[j*16 + i + 1] THEN (1::BIGINT << i)
                    ELSE 0 END)) AS chunk_key
      FROM bits, unnest(generate_series(0, 3)) AS u(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM chunks a JOIN chunks b
        ON a.chunk_id = b.chunk_id AND a.chunk_key = b.chunk_key
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_filter(range(0, 64),
             b -> x.bits[b + 1] <> y.bits[b + 1])) AS INTEGER) AS hamming
    FROM cand c JOIN bits x ON x.doc_id = c.id_a
                JOIN bits y ON y.doc_id = c.id_b
    WHERE len(list_filter(range(0, 64), b -> x.bits[b + 1] <> y.bits[b + 1])) <= 6
    """,
    registered=False,  # shadow (r5 swap: slot given to q_cross_dedup)
)
def q_dedup_simhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.near_dup_pairs_simhash(
        d, "text", "doc_id", max_hamming=6, hash_family="md5"
    )


@register(
    "q_dedup_ngram",
    """
    WITH s AS (
      SELECT doc_id,
             CASE WHEN len(string_split(lower(trim(text)), ' ')) >= 3 THEN
               list_distinct(list_transform(
                 range(0, len(string_split(lower(trim(text)), ' ')) - 2),
                 i -> array_to_string((string_split(lower(trim(text)), ' '))[i+1:i+3], ' ')))
             ELSE [array_to_string(string_split(lower(trim(text)), ' '), ' ')] END AS sh
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                         THEN CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END),
                 6) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / (CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                        THEN CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END),
                6) >= 0.2
    """,
    # shadow: its exact pair CTE is embedded verbatim in the (registered)
    # q_dedup_clusters oracle, which cross-checks the same pairs; slot
    # freed for q_semantic_dedup
    registered=False,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shingle-blocking is lossless for threshold > 0 (any positive Jaccard
    # pair shares ≥1 shingle), so the O(n²) DuckDB oracle is equivalent.
    d = load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.2)


# pairs → transitive closure → min-id survivor. The edge set is the
# exact n-gram-Jaccard pair set (same CTE as q_dedup_ngram, so the two
# rows cross-check each other); the closure is an independent
# implementation — DuckDB computes min-reachable-id by recursive CTE,
# the engine by alternating-star contraction. Shared verbatim with the
# q_dedup_cluster_stats oracle, which aggregates this as a subquery.
_DEDUP_CLUSTERS_SQL = """
    WITH RECURSIVE s AS (
      SELECT doc_id,
             CASE WHEN len(string_split(lower(trim(text)), ' ')) >= 3 THEN
               list_distinct(list_transform(
                 range(0, len(string_split(lower(trim(text)), ' ')) - 2),
                 i -> array_to_string((string_split(lower(trim(text)), ' '))[i+1:i+3], ' ')))
             ELSE [array_to_string(string_split(lower(trim(text)), ' '), ' ')] END AS sh
      FROM documents
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                          THEN CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END),
                  6) >= 0.2
    ),
    e AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
    SELECT doc_id, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
           doc_id = component AS is_survivor
    FROM comp
    """


@register(
    "q_dedup_clusters",
    _DEDUP_CLUSTERS_SQL,
    registered=False,  # shadow (r9 swap: slot given to
    # q_dialect_pipe_ccdedup — same alternating-star closure + survivor
    # rule, reached through the pipe surface over verified MinHash
    # pairs; this entry keeps the ngram-Jaccard pair lane oracle-green
    # in the local gate)
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators import components

    d = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.2)
    return components.dedup_clusters(d, pairs, "doc_id")


@register(
    "q_dedup_cluster_stats",
    f"""
    SELECT cluster_size, CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM ({_DEDUP_CLUSTERS_SQL}) base
    GROUP BY cluster_size
    """,
    registered=False,  # shadow (r8 swap: slot given to q_kn_buckets; the
    # histogram is an aggregate of the in-window q_dedup_clusters output)
)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup graph (singletons included)
    — the duplicate-structure datasheet view; mega-cluster detection.
    components.cluster_size_stats."""
    from csvtool_spark.operators import components

    d = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.2)
    return components.cluster_size_stats(d, pairs, "doc_id")


@register(
    "q_cluster_split",
    # the q_hash_split md5-bucket coin, tossed on the CLUSTER id from the
    # recursive-closure oracle — both engines derive the same component
    # (min reachable id), so split assignment is bit-identical
    f"""
    SELECT doc_id, component, cluster_size,
           CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
                WHEN b < 10000 THEN 'test' END AS split
    FROM (SELECT doc_id, component, cluster_size,
                 CAST(concat('0x', substr(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 AS b
          FROM ({_DEDUP_CLUSTERS_SQL}) base)
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the md5 coin is tossed on the
    near-dup CLUSTER id, so no duplicate cluster straddles train/test —
    the split-time complement of the q_split_leakage audit.
    components.cluster_safe_split."""
    from csvtool_spark.operators import components

    d = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.2)
    return components.cluster_safe_split(
        d, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


_EMB_DIM = 64  # driver testdata embedding width (TESTDATA.md tables)


def _dot_sql(a: str, b: str) -> str:
    return f"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(range(1, len({a})+1),
          i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))),
        (a,b) -> a + b)"""


def _cos_sql(a: str, b: str) -> str:
    """round(cosine(a, b), 6) with the same left-to-right fold order as the
    Spark `similarity.cosine` Column fold — bit-identical doubles."""
    denom = f"sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})"
    return f"""
    round({_dot_sql(a, b)}
      / (CASE WHEN {denom} > 0 THEN {denom} END), 6)
"""


def _plane_lit(vec) -> str:
    """A hyperplane as a DuckDB DOUBLE[] literal. Python repr gives the
    shortest round-trip decimal; the e0 suffix forces DuckDB to parse it
    as DOUBLE directly (a bare literal goes through DECIMAL), so the
    parsed value is bit-identical to the F.lit double on the Spark side."""
    out = []
    for x in vec:
        s = repr(float(x))
        out.append(s if ("e" in s or "E" in s) else s + "e0")
    return "[" + ", ".join(out) + "]::DOUBLE[]"


def _plane_dot_sql(e: str, plane) -> str:
    """dot(e, plane-literal) with the same left-to-right fold order as the
    Spark `similarity.dot` Column fold — bit-identical doubles."""
    return f"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(range(1, {len(plane) + 1}),
          i -> CAST({e}[i] AS DOUBLE) * ({_plane_lit(plane)})[i])),
        (a,b) -> a + b)"""


def _srp_sig_sql(e: str, planes) -> str:
    """SRP signature of vector expression ``e`` against literal planes:
    bit p set iff plane_p · e > 0 — mirrors `similarity.srp_signature`."""
    bits = [
        f"(CASE WHEN {_plane_dot_sql(e, planes[p])} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(planes.shape[0])
    ]
    return "(" + "\n         + ".join(bits) + ")"


@register(
    "q_embed_neardup",
    # The SRP hyperplanes are a fixed-seed literal array — inlining their
    # exact double values into the SQL makes the bucket join reproducible:
    # sign(plane·v) uses the same sequential fold in both engines, so
    # bucket membership (and therefore the candidate set) is bit-identical.
    # Verify is the proven bit-exact cosine shape.
    f"""
    WITH s AS (
      SELECT vec_id, embedding,
             {_srp_sig_sql('embedding', similarity.hyperplanes(_EMB_DIM, 8, 42))} AS sig
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos
    FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.4e0
    """,
    registered=False,  # shadow (r8 swap: slot given to q_cross_embed,
    # same SRP-bucket + exact-verify shape plus the cross-corpus rule)
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic embeddings top out near cosine 0.51 — 0.4 exercises the
    # verify stage; production near-dup would use 0.9+.
    e = load(spark, sf_dir, "embeddings")
    return similarity.near_dup_pairs_embedding(
        e, "embedding", "vec_id", threshold=0.4, n_planes=8
    )


@register(
    "q_cross_embed",
    # the semantic twin of q_cross_dedup: only odd(new) x even(ref) pairs,
    # same inlined-hyperplane bucket reproducibility as q_embed_neardup.
    # NB: no max_bucket cap here (same deliberate omission as the
    # q_cross_dedup oracle) — at oracle scale no SRP bucket approaches
    # the 1000-member cap, so capped and uncapped results coincide.
    f"""
    WITH s AS (
      SELECT vec_id, embedding,
             {_srp_sig_sql('embedding', similarity.hyperplanes(_EMB_DIM, 8, 42))} AS sig
      FROM embeddings
    )
    SELECT a.vec_id AS new_id, b.vec_id AS ref_id,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos
    FROM s a JOIN s b ON a.sig = b.sig
    WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
      AND {_cos_sql('a.embedding', 'b.embedding')} >= 0.4e0
    """,
    # driver window (r8 swap: q_embed_neardup -> shadow): the SRP-bucket
    # plan family is now driver-evidenced through the cross-corpus form,
    # which additionally proves the new×ref-only pairing discipline
)
def q_cross_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination of the odd-id half (new) against
    the even-id half (reference): new x ref SRP-bucketed cosine pairs
    only — never ref x ref."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.cross_embedding_neardup(
        e.filter(F.col("vec_id") % 2 == 1),
        e.filter(F.col("vec_id") % 2 == 0),
        "embedding", "vec_id", threshold=0.4, n_planes=8,
    )


# --- similarity search ----------------------------------------------------

_COS_SQL = _cos_sql("e.embedding", "q.embedding")


def _ann_recall_oracle(n_q: int = 4, k: int = 10) -> str:
    """DuckDB twin of ``similarity.ann_recall_eval`` on the first ``n_q``
    vec_ids: the same literal hyperplanes (6×4, seed 42), the same
    sequential-fold signatures/cosines, multiprobe-1 candidacy as
    ``bit_count(xor) <= 1`` per table, identical (cos DESC, vec_id)
    rank rule on both the exact and the LSH side."""
    n_tables, n_planes = 6, 4
    planes = [
        similarity.hyperplanes(_EMB_DIM, n_planes, 42 + t) for t in range(n_tables)
    ]
    s_sigs = ",\n           ".join(
        f"{_srp_sig_sql('e.embedding', planes[t])} AS s{t}" for t in range(n_tables)
    )
    q_sigs = ",\n           ".join(
        f"{_srp_sig_sql('q.qe', planes[t])} AS q{t}" for t in range(n_tables)
    )
    hit = " OR ".join(
        f"bit_count(xor(s.s{t}, qs.q{t})) <= 1" for t in range(n_tables)
    )
    return f"""
    WITH qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {n_q}),
    s AS (
      SELECT e.vec_id, e.embedding,
           {s_sigs}
      FROM embeddings e
    ),
    qs AS (
      SELECT q.qid, q.qe,
           {q_sigs}
      FROM qv q
    ),
    sc AS (
      SELECT qs.qid, s.vec_id,
             {_cos_sql('s.embedding', 'qs.qe')} AS cos,
             ({hit}) AS cand
      FROM s CROSS JOIN qs WHERE s.vec_id <> qs.qid
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        FROM sc) WHERE rn <= {k}
    ),
    approx AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        FROM sc WHERE cand) WHERE rn <= {k}
    ),
    hits AS (
      SELECT qid, CAST(count(*) AS BIGINT) AS n
      FROM exact JOIN approx USING (qid, vec_id) GROUP BY qid
    )
    SELECT q.qid, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n, 0) AS DOUBLE) / CAST({float(k)!r} AS DOUBLE) AS recall
    FROM (SELECT qid FROM qv) q LEFT JOIN hits h USING (qid)
    """


@register(
    "q_ann_recall",
    _ann_recall_oracle(),
    # driver window (r7 swap: q_cms_estimate -> shadow)
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the SRP-LSH probe vs exact brute force for the first
    4 vectors as queries — the ANN tuning-loop eval harness.
    similarity.ann_recall_eval."""
    e = load(spark, sf_dir, "embeddings")
    qs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 4).collect()
    }
    return similarity.ann_recall_eval(e, "embedding", "vec_id", qs, k=10)


@register(
    "q_ann_bruteforce",
    f"""
    SELECT e.vec_id, {_COS_SQL} AS cos
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cos DESC, e.vec_id LIMIT 10
    """,
    registered=False,  # shadow (r10 swap: q_dialect_pipe_bestdedup ->
    # window): exact brute-force top-k stays in-window as the ground
    # truth INSIDE q_ann_recall, plus q_ann_ivf_pq / q_pq_compare
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.ann_bruteforce(e, "embedding", "vec_id", qvec, k=10)


def _ann_lsh_oracle() -> str:
    """Multi-table SRP-LSH probe in DuckDB with the same literal
    hyperplanes the Spark path generates (6 tables × 4 planes, seed 42).
    The ``sig IN {query sig ± 1-bit flips}`` probe set is exactly
    ``bit_count(xor(sig, qsig)) <= 1`` per table (multiprobe=1); both the
    corpus signatures and the query signature use the sequential-fold dot
    (`similarity.srp_signature` / `srp_signature_py`), so candidacy is
    bit-identical across engines."""
    n_tables, n_planes = 6, 4
    planes = [similarity.hyperplanes(_EMB_DIM, n_planes, 42 + t) for t in range(n_tables)]
    s_sigs = ",\n           ".join(
        f"{_srp_sig_sql('e.embedding', planes[t])} AS s{t}" for t in range(n_tables)
    )
    q_sigs = ",\n           ".join(
        f"{_srp_sig_sql('q.embedding', planes[t])} AS q{t}" for t in range(n_tables)
    )
    hit = " OR ".join(
        f"bit_count(xor(s.s{t}, qs.q{t})) <= 1" for t in range(n_tables)
    )
    return f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id, e.embedding,
           {s_sigs}
      FROM embeddings e
    ),
    qs AS (
      SELECT {q_sigs}
      FROM q
    )
    SELECT s.vec_id, {_cos_sql('s.embedding', 'q.embedding')} AS cos
    FROM s, qs, q
    WHERE {hit}
    ORDER BY cos DESC, s.vec_id LIMIT 10
    """


@register(
    "q_ann_lsh",
    _ann_lsh_oracle(),
    registered=False,  # shadow (r6 swap: slot given to q_profile_drift);
    # ANN keeps q_ann_bruteforce + q_ann_ivf in-window and SRP-LSH
    # bucketing stays driver-evidenced via q_embed_neardup
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.ann_lsh(e, "embedding", "vec_id", qvec, k=10)


_IVF_CELLS, _IVF_PROBE = 16, 4

@register(
    "q_ann_ivf",
    # IVF with the deterministic sampled coarse quantizer (centroids = the
    # 16 lowest-id vectors) is fully SQL-expressible: assignment is an
    # argmax of round(cos,6) with ties to the lowest cell, the probe ranks
    # cells the same way. All cosines share the sequential-fold shape, so
    # both engines compute bit-identical doubles end to end.
    f"""
    WITH cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, embedding
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_IVF_CELLS})
    ),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    qrank AS (
      SELECT c.cell FROM cent c, q
      ORDER BY {_cos_sql('c.embedding', 'q.embedding')} DESC, c.cell LIMIT {_IVF_PROBE}
    ),
    assign AS (
      SELECT e.vec_id, c.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_cos_sql('e.embedding', 'c.embedding')} DESC, c.cell) AS rn
      FROM embeddings e CROSS JOIN cent c
    )
    SELECT a.vec_id, a.cell, {_cos_sql('e.embedding', 'q.embedding')} AS cos
    FROM assign a
    JOIN qrank USING (cell)
    JOIN embeddings e ON e.vec_id = a.vec_id
    CROSS JOIN q
    WHERE a.rn = 1
    ORDER BY cos DESC, a.vec_id
    LIMIT 10
    """,
    registered=False,  # shadow (r8 swap: slot given to q_ann_ivf_pq,
    # which subsumes the cell-probe plan shape)
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.ann_ivf(
        e, "embedding", "vec_id", qvec, k=10, n_cells=_IVF_CELLS, nprobe=_IVF_PROBE
    )


# --- multimodal plumbing --------------------------------------------------


@register(
    "q_multimodal_meta",
    """
    SELECT doc_id, 'image/fake' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
    registered=False,  # 50-entry window: strict subset of the registered
    # q_multimodal_features; shadow keeps the oracle pair checked locally.
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return multimodal.attach_fake_media(d, "text", "doc_id").select(
        "doc_id", "media_type", "n_bytes"
    )


# --- as-of join -----------------------------------------------------------


@register(
    "q_asof_join",
    # independent check: DuckDB's NATIVE ASOF LEFT JOIN vs the engine's
    # union+window formulation. The marker side is pre-aggregated to one
    # row per (user_id, ts) so tie-breaks can't differ. events.ts is
    # TIMESTAMP(NANOS): Spark's reader floors it to micros, so the oracle
    # floors BOTH join sides the same way — otherwise an (event, signup)
    # pair straddling a microsecond boundary orders differently in the two
    # engines and flips the matched row.
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             make_timestamp(epoch_ns(ts) // 1000) AS ts
      FROM events
    )
    SELECT e.event_id, e.user_id,
           m.signup_id,
           CASE WHEN m.m_ts IS NULL THEN NULL
                ELSE date_diff('second', m.m_ts, e.ts) END AS age_sec
    FROM ev e
    ASOF LEFT JOIN (
      SELECT user_id, ts AS m_ts, CAST(max(event_id) AS BIGINT) AS signup_id
      FROM ev WHERE event_type = 'signup' GROUP BY user_id, ts
    ) m ON e.user_id = m.user_id AND e.ts >= m.m_ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators import asof

    ev = load(spark, sf_dir, "events")
    marker = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_id"))
    )
    joined = asof.asof_join(
        ev.select("event_id", "user_id", "ts"),
        marker,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
    )
    return joined.select(
        "event_id",
        "user_id",
        "signup_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("ts_r")).alias("age_sec"),
    )


# --- curation pipeline ----------------------------------------------------


# the SQL-expressible pipeline (quality filter + language filter + exact
# dedup, near-dup stage off) — the q_pipeline_curate oracle, also consumed
# as a subquery by the q_pipeline_curate_full invariant oracle
_CURATE_SQL = """
    WITH t AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  x -> x IN ('the','and','of','to','in','is','that','for','with','on'))) AS DOUBLE) AS stop,
             length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk,
             length(text) AS L
      FROM documents
    ), scored AS (
      SELECT doc_id, text,
             round((CASE WHEN n >= 10 AND n <= 5000 THEN 1.0 ELSE 0.3 END) * 0.4
                   + coalesce(nd / (CASE WHEN n > 0 THEN n END), 0.0) * 0.4
                   + (CASE WHEN coalesce(stop / (CASE WHEN n > 0 THEN n END), 0.0) > 0.02
                           THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality,
             CASE WHEN cjk * 4 > L THEN 'zh' ELSE 'latin' END AS zh_flag,
             CAST(len(list_filter(string_split(lower(text),' '), x -> x IN
               ('the','and','of','to','in','is','that','for','with','on'))) AS BIGINT) AS en,
             CAST(len(list_filter(string_split(lower(text),' '), x -> x IN
               ('le','la','les','de','des','et','est','une','dans','pour'))) AS BIGINT) AS fr,
             CAST(len(list_filter(string_split(lower(text),' '), x -> x IN
               ('der','die','das','und','ist','von','mit','den','ein','für'))) AS BIGINT) AS de,
             CAST(len(list_filter(string_split(lower(text),' '), x -> x IN
               ('el','la','los','de','y','es','una','en','por','que'))) AS BIGINT) AS es
      FROM t
    ), kept AS (
      SELECT doc_id, text, quality FROM scored
      WHERE quality >= 0.5
        AND zh_flag <> 'zh'
        AND greatest(en, fr, de, es) > 0
        AND en = greatest(en, fr, de, es)
    )
    SELECT k.doc_id, k.quality FROM kept k
    JOIN (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(lower(trim(text)))) s
      ON k.doc_id = s.doc_id
"""


@register("q_pipeline_curate", _CURATE_SQL)
def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators import pipeline

    d = load(spark, sf_dir, "documents")
    return pipeline.curate(
        d, min_quality=0.5, languages=("en",), near_dup_threshold=None
    ).select("doc_id", "quality")


def _inv_curate_full(sdf, con):
    """Invariant oracle for the full curation pipeline (adds the xx64
    MinHash near-dedup stage, threshold 0.5, to the SQL-expressible
    curate): (1) the output is a subset of the SQL-curate set with
    bit-equal quality scores and lang_guess='en'; (2) every DROPPED doc
    is justified — the near-dedup stage only drops a doc after an exact
    token-set-Jaccard verify, so each dropped doc must have a
    lower-id partner in the curate set with exact Jaccard ≥ 0.5
    (re-derived in DuckDB). Which true pairs the banding finds is
    hash-family-dependent (so equality of the kept SET is not sound);
    that dimension is pinned by q_dedup_minhash_det/q_minhash_recall."""
    _inv_register(con, "__inv_cur", sdf)
    try:
        bad_subset = con.execute(
            f"""
            WITH curate AS ({_CURATE_SQL})
            SELECT count(*) FROM __inv_cur f LEFT JOIN curate c USING (doc_id)
            WHERE c.quality IS NULL OR c.quality <> f.quality
               OR f.lang_guess <> 'en'
            """
        ).fetchone()[0]
        unjustified = con.execute(
            f"""
            WITH curate AS ({_CURATE_SQL}),
            dropped AS (
              SELECT doc_id FROM curate
              WHERE doc_id NOT IN (SELECT doc_id FROM __inv_cur)
            ),
            toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
                     FROM documents),
            tokset AS (SELECT doc_id, list_distinct(t) AS ts FROM toks
                       WHERE t IS NOT NULL)
            SELECT count(*) FROM dropped d
            WHERE NOT EXISTS (
              SELECT 1 FROM curate a
              JOIN tokset x ON x.doc_id = a.doc_id
              JOIN tokset y ON y.doc_id = d.doc_id
              WHERE a.doc_id < d.doc_id AND {_JACC} >= 0.5e0
            )
            """
        ).fetchone()[0]
        if bad_subset or unjustified:
            return (
                f"curate_full invariant: {bad_subset} rows outside the "
                f"SQL-curate set (or value drift), {unjustified} dropped "
                "docs without an exact near-dup justification"
            )
        return None
    finally:
        con.unregister("__inv_cur")


@register("q_pipeline_curate_full", registered=False,
          invariant=_inv_curate_full)
# SHADOW: includes xx64 MinHash near-dedup (driver perf row:
# q_dedup_minhash); the invariant oracle above pins subset/value
# exactness and drop justification.
def q_pipeline_curate_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators import pipeline

    d = load(spark, sf_dir, "documents")
    return pipeline.curate(
        d, min_quality=0.5, languages=("en",), near_dup_threshold=0.5
    ).select("doc_id", "quality", "lang_guess", "n_tokens")


# --- range join -----------------------------------------------------------


@register(
    "q_range_join",
    # overlapping price bands (each order lands in ≤2) — DuckDB evaluates
    # the raw inequality join; the engine's bucketed-equi-join form must
    # produce the identical pair set.
    """
    SELECT o.o_orderkey, b.band_id, o.o_totalprice
    FROM orders o
    JOIN (SELECT CAST(i AS BIGINT) AS band_id,
                 CAST(i * 40000 AS DOUBLE) AS lo,
                 CAST(i * 40000 + 80000 AS DOUBLE) AS hi
          FROM range(12) t(i)) b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.rangejoin import range_join

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bands = spark.range(12).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 40000).cast("double").alias("lo"),
        (F.col("id") * 40000 + 80000).cast("double").alias("hi"),
    )
    return range_join(
        o, bands, "o_totalprice", "lo", "hi", bucket_width=40000
    ).select("o_orderkey", "band_id", "o_totalprice")


@register(
    "q_hash_split",
    # shadow: deterministic md5-bucket train/val/test assignment — the
    # same row lands in the same split on every engine
    """
    SELECT o_orderkey,
           CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val'
                WHEN b < 10000 THEN 'test' END AS split
    FROM (SELECT o_orderkey,
                 CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 AS b
          FROM orders)
    """,
    registered=False,
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.sampling import hash_split

    o = load(spark, sf_dir, "orders").select("o_orderkey")
    return hash_split(o, "o_orderkey", {"train": 0.8, "val": 0.1, "test": 0.1})


@register(
    "q_rollup",
    # shadow: hierarchical subtotals; DuckDB ROLLUP emits the same NULL
    # indicator rows
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS sum_p_c
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    registered=False,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators import reshape
    from csvtool_spark.queries import cents

    o = load(spark, sf_dir, "orders")
    return reshape.rollup_agg(
        o,
        ["o_orderpriority", "o_orderstatus"],
        [
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents(F.col("o_totalprice"))).alias("sum_p_c"),
        ],
    )


# --- reshape + sketches ---------------------------------------------------

_PIVOT_MEASURES = ["F_qty_c", "F_base_c", "O_qty_c", "O_base_c"]

@register(
    "q_reshape_pivot",
    registered=False,  # shadow (r7 swap: slot given to q_kn_score); the
    # pivot/unpivot round trip stays oracle-gated locally — reshape is a
    # beyond-reference convenience, no §2 row cites it
    # pivot → unpivot round trip: conditional aggregation builds the wide
    # frame, UNION ALL melts it back — null cells (groups missing a
    # linestatus) survive both directions in both engines.
    oracle=f"""
    WITH w AS (
      SELECT l_returnflag,
        CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_quantity*100,0) AS BIGINT) END) AS BIGINT) AS F_qty_c,
        CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_extendedprice*100,0) AS BIGINT) END) AS BIGINT) AS F_base_c,
        CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_quantity*100,0) AS BIGINT) END) AS BIGINT) AS O_qty_c,
        CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_extendedprice*100,0) AS BIGINT) END) AS BIGINT) AS O_base_c
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'F_qty_c' AS measure, F_qty_c AS value FROM w
    UNION ALL SELECT l_returnflag, 'F_base_c', F_base_c FROM w
    UNION ALL SELECT l_returnflag, 'O_qty_c', O_qty_c FROM w
    UNION ALL SELECT l_returnflag, 'O_base_c', O_base_c FROM w
    """,
)
def q_reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators import reshape
    from csvtool_spark.queries import cents

    li = load(spark, sf_dir, "lineitem")
    wide = reshape.pivot_wide(
        li,
        ["l_returnflag"],
        "l_linestatus",
        ["F", "O"],
        [
            F.sum(cents(F.col("l_quantity"))).alias("qty_c"),
            F.sum(cents(F.col("l_extendedprice"))).alias("base_c"),
        ],
    )
    return reshape.unpivot_long(
        wide, ["l_returnflag"], _PIVOT_MEASURES, "measure", "value"
    )


@register(
    "q_distinct_sketch",
    sketches.kmv_oracle_sql("orders", "o_custkey", 256),
    registered=False,  # shadow (r4 swap): window slot given to q_priority_sample
)
def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators import sketches

    o = load(spark, sf_dir, "orders")
    return sketches.kmv_distinct(o, "o_custkey", k=256)


@register(
    "q_multimodal_features",
    # The decode is an Arrow-batched mapInPandas stub whose geometry is a
    # pure function of the byte length — so even the Python-worker path is
    # oracle-checkable.
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(greatest(1, octet_length(encode(text)) % 640) AS INTEGER) AS width,
           CAST(greatest(1, (octet_length(encode(text)) * 7) % 480) AS INTEGER) AS height
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    media = multimodal.attach_fake_media(d, "text", "doc_id")
    return multimodal.decode_features(media).select(
        "doc_id", "n_bytes", "width", "height"
    )


# --- sequence packing / source quota / tf-idf ----------------------------

_PACK_BUDGET = 2048


@register(
    "q_pack_sequences",
    # GPT-style concat-and-chunk packing: DuckDB computes the global token
    # prefix sum with ONE window (fine at oracle scale); the engine's
    # two-phase partition-offset scan must produce identical spans.
    f"""
    WITH t AS (
      -- coalesce: NULL text packs as a zero-token doc in BOTH lanes
      SELECT doc_id, CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             CAST(coalesce(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
      FROM t
    ),
    u AS (
      SELECT doc_id, s, s + n AS e,
             unnest(generate_series(s // {_PACK_BUDGET},
               greatest(s // {_PACK_BUDGET}, (s + n - 1) // {_PACK_BUDGET}))) AS seq_id
      FROM c
    )
    SELECT doc_id, seq_id,
           greatest(s, seq_id * {_PACK_BUDGET}) - seq_id * {_PACK_BUDGET} AS seq_offset,
           least(e, (seq_id + 1) * {_PACK_BUDGET})
             - greatest(s, seq_id * {_PACK_BUDGET}) AS n_tok
    FROM u
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.packing import pack_sequences

    d = load(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.coalesce(textstats.token_count(F.col("text")), F.lit(0)).alias("n"),
    )
    return pack_sequences(sized, "doc_id", "n", _PACK_BUDGET)


@register(
    "q_source_quota",
    # data-mixing quota: at most 30 docs per source, first-by-id
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 30
    """,
    registered=False,  # shadow (round-3 swap for q_pagerank): the sampling
    # family stays driver-evidenced via q_mixture; quota remains
    # oracle-checked in the local gate.
)
def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.sampling import source_quota

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return source_quota(d, "source", "doc_id", 30)


@register(
    "q_tfidf",
    # rational tf-idf (integer score_ppm — no transcendental, bit-exact)
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    sc AS (SELECT doc_id, term, tf, df, tf * 1000000 // df AS score_ppm
           FROM tf JOIN dft USING (term)),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score_ppm DESC, term) AS rn FROM sc)
    SELECT doc_id, term, tf, df, score_ppm FROM r WHERE rn <= 5
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return textstats.tfidf_top_terms(d, "text", "doc_id", k=5)


# --- Gopher-style repetition signals -------------------------------------


@register(
    "q_text_repetition",
    """
    WITH l AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CAST(CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 1 END AS BIGINT) AS n_3gram,
             CAST(CASE WHEN len(toks) >= 3 THEN len(list_distinct(list_transform(
                    generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                  ELSE 1 END AS BIGINT) AS n_distinct_3gram
      FROM l
    ),
    t AS (SELECT doc_id, unnest(toks) AS tok FROM l),
    c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY doc_id, tok),
    m AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top FROM c GROUP BY doc_id)
    SELECT s.doc_id,
           s.n_tokens,
           1.0 - CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) AS dup_word_frac,
           CAST(m.top AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) AS top_word_frac,
           1.0 - CAST(s.n_distinct_3gram AS DOUBLE) / CAST(s.n_3gram AS DOUBLE) AS dup_3gram_frac
    FROM s JOIN m USING (doc_id)
    """,
    registered=False,  # shadow (r4 swap): window slot given to q_pca_project
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return textstats.repetition_stats(d, "text", "doc_id")


@register(
    "q_gopher_repetition",
    textstats.gopher_oracle_sql(),
    # driver window (r11 swap: q_paragraph_dedup -> shadow): the
    # char-fraction Gopher Table-A1 family at line AND paragraph
    # granularity — twin GENERATED from GOPHER_TOP_NS/GOPHER_DUP_NS;
    # the stage form stays in-window via q_dialect_pipe_gopher
)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table A1 repetition signals, char-fraction form: duplicate
    lines, heaviest-{2,3,4}-gram character coverage, duplicated-{5..10}-
    gram character coverage — the thresholds real pretraining pipelines
    filter on. textstats.gopher_repetition."""
    d = load(spark, sf_dir, "documents")
    return textstats.gopher_repetition(d, "text", "doc_id")


# --- benchmark decontamination -------------------------------------------


@register(
    "q_contamination",
    # bench = the src0 "eval suite"; corpus = everything else; 4-gram overlap
    """
    WITH l AS (SELECT doc_id, source, string_split(lower(trim(text)), ' ') AS toks
               FROM documents),
    s AS (
      SELECT doc_id, source,
             CASE WHEN len(toks) >= 4 THEN list_distinct(list_transform(
                    generate_series(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+3], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
      FROM l
    ),
    b AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE source = 'src0'),
    c AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles, unnest(sh) AS shingle
          FROM s WHERE source <> 'src0')
    SELECT c.doc_id,
           CAST(max(c.n_shingles) AS BIGINT) AS n_shingles,
           CAST(count(*) AS BIGINT) AS n_contaminated,
           round(CAST(count(*) AS DOUBLE) / CAST(max(c.n_shingles) AS DOUBLE), 6)
             AS contaminated_frac
    FROM c JOIN b USING (shingle)
    GROUP BY c.doc_id
    """,
    registered=False,  # shadow (r8 swap: slot given to q_pq_compare;
    # text decontamination stays driver-evidenced via q_cross_dedup, and
    # the exact-shingle gate keeps its streaming pytest twin)
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == "src0")
    corpus = d.filter(F.col("source") != "src0")
    return contamination.contamination_report(corpus, bench, "text", "doc_id", k=4)


# --- Bloom-filter semi-join reduction ------------------------------------


@register(
    "q_bloom_join",
    # The Bloom prune only removes guaranteed-miss lineitem rows; the real
    # join removes false positives, so the oracle is the plain join.
    """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                         AS BIGINT)) AS BIGINT) AS revenue_c
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY o.o_orderpriority
    """,
    registered=False,  # shadow (r7 swap: slot given to q_dedup_cluster_stats);
    # the contamination/Bloom row keeps q_contamination in the window
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    pruned = bloomjoin.bloom_prune(
        li, o.select("o_orderkey"), "o_orderkey", "l_orderkey"
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        pruned.join(o, pruned["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(cents(disc)).alias("revenue_c"),
        )
    )


# --- count-min sketch point estimates ------------------------------------


@register(
    "q_cms_estimate",
    sketches.cms_oracle_sql("events", "user_id", "user_id % 7 = 0"),
    registered=False,  # shadow (r7 swap: slot given to q_ann_recall);
    # sketch family stays oracle-gated here and via q_distinct_sketch
)
def q_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    sk = sketches.cms_build(e, "user_id")
    keys = e.filter((F.col("user_id") % 7) == 0).select("user_id").distinct()
    return sketches.cms_estimate(sk, keys, "user_id")


# --- PII redaction (shadow: driver window is full at 50) ------------------


def _pii_sql_patterns():
    from csvtool_spark.operators.redact import PII_PATTERNS

    return {name: pat for name, pat, _ in PII_PATTERNS}


_P = _pii_sql_patterns()

@register(
    "q_pii_redact",
    # Synthesize PII-shaped text from customer rows (the real documents
    # table is clean), then redact — a cross-engine check that the SAME
    # pattern strings behave identically under Java regex and RE2.
    f"""
    WITH t AS (
      SELECT c_custkey,
             'reach ' || lower(c_name) || ' at ' || lower(c_name)
             || '@example.com or 10.' || CAST(c_custkey % 200 AS VARCHAR)
             || '.' || CAST(c_custkey % 250 AS VARCHAR)
             || '.' || CAST(c_custkey % 97 AS VARCHAR)
             || ' tel 555-01' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS txt
      FROM customer
    )
    , t1 AS (
      SELECT c_custkey, txt,
             CAST(len(regexp_extract_all(txt, '{_P["email"]}')) AS BIGINT) AS n_email,
             regexp_replace(txt, '{_P["email"]}', '<EMAIL>', 'g') AS r1
      FROM t
    ), t2 AS (
      SELECT c_custkey, n_email,
             CAST(len(regexp_extract_all(r1, '{_P["ipv4"]}')) AS BIGINT) AS n_ipv4,
             regexp_replace(r1, '{_P["ipv4"]}', '<IP>', 'g') AS r2
      FROM t1
    )
    SELECT c_custkey,
           regexp_replace(r2, '{_P["phone"]}', '<PHONE>', 'g') AS redacted,
           n_email, n_ipv4,
           CAST(len(regexp_extract_all(r2, '{_P["phone"]}')) AS BIGINT) AS n_phone
    FROM t2
    """,
    registered=False,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators import redact

    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    txt = F.concat(
        F.lit("reach "), F.lower(F.col("c_name")), F.lit(" at "),
        F.lower(F.col("c_name")), F.lit("@example.com or 10."),
        (k % 200).cast("string"), F.lit("."), (k % 250).cast("string"),
        F.lit("."), (k % 97).cast("string"), F.lit(" tel 555-01"),
        F.lpad((k % 100).cast("string"), 2, "0"),
    )
    staged = c.select(k.alias("c_custkey"), txt.alias("txt"))
    return redact.pii_report(staged, "txt", "c_custkey")


# --- JSON payload extraction ----------------------------------------------


@register(
    "q_json_props",
    """
    WITH x AS (
      -- json_valid guard: DuckDB ->> ERRORS on malformed JSON where Spark
      -- get_json_object nulls; the guard keeps the engines agreeing (and
      -- the gate alive) if a bad payload ever ships
      SELECT event_type,
             CAST(CASE WHEN json_valid(props) THEN props->>'k' END AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(k) AS BIGINT) AS k_min,
           CAST(max(k) AS BIGINT) AS k_max,
           CAST(sum(k) AS BIGINT) AS k_sum,
           CAST(count(DISTINCT k) AS BIGINT) AS k_card
    FROM x GROUP BY event_type
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semi-structured ingestion: per-event-type stats over a numeric field
    # extracted from the JSON props payload (get_json_object, JVM-side).
    from csvtool_spark.operators import semistructured

    e = load(spark, sf_dir, "events")
    return semistructured.props_stats(e, "props", "$.k", "event_type")


# --- unigram-LM document scoring ------------------------------------------


@register(
    "q_lm_score",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf * (1000000000 // c)) // sum(tf) AS BIGINT) AS surprisal_ppb
    FROM tf JOIN c USING (term) GROUP BY doc_id
    """,
    registered=False,  # shadow (r5 swap: slot given to q_funnel)
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return textstats.lm_surprisal(d, "text", "doc_id")


# --- int8 scalar-quantized ANN --------------------------------------------


@register(
    "q_ann_sq",
    """
    WITH b AS (
      SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS mn,
             CAST(max(list_max(embedding)) AS DOUBLE) AS mx
      FROM embeddings
    ),
    qv AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(least(255.0, floor((CAST(x AS DOUBLE) - b.mn)
                                       * (255.0 / (b.mx - b.mn)))) AS BIGINT)
               - 128) AS qvec
      FROM embeddings, b
    ),
    q AS (SELECT vec_id AS qid, qvec AS qq FROM qv
          WHERE vec_id = (SELECT min(vec_id) FROM embeddings))
    SELECT v.vec_id,
           CAST(list_sum(list_transform(generate_series(1, len(v.qvec)),
                                        i -> v.qvec[i] * q.qq[i])) AS BIGINT)
             AS score_q
    FROM qv v, q WHERE v.vec_id <> q.qid
    ORDER BY score_q DESC, v.vec_id LIMIT 10
    """,
    registered=False,  # shadow (r5 swap: slot given to q_bm25)
)
def q_ann_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # int8-code top-k: integer scores are exact, so ranking is bit-stable
    # across engines (the float-cosine twin q_ann_bruteforce needs rounding).
    e = load(spark, sf_dir, "embeddings")
    return similarity.ann_quantized(e, "embedding", "vec_id", k=10)


# --- product-quantized (PQ) ANN -------------------------------------------

_PQ_M, _PQ_DSUB, _PQ_CENTS = 8, 8, 16

# shared CTE block: SQ codes (the q_ann_sq quantization), the 16-lowest-id
# sampled codebook (the q_ann_ivf precedent), per-(vector, subspace)
# argmin assignment with ties to the lowest cell — everything integer, so
# both q_ann_pq and q_pq_recall are bit-stable against Spark.
_PQ_BASE_CTES = f"""
    b AS (
      SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS mn,
             CAST(max(list_max(embedding)) AS DOUBLE) AS mx
      FROM embeddings
    ),
    qv AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(least(255.0, floor((CAST(x AS DOUBLE) - b.mn)
                                       * (255.0 / (b.mx - b.mn)))) AS BIGINT)
               - 128) AS qvec
      FROM embeddings, b
    ),
    cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, qvec
      FROM (SELECT vec_id, qvec FROM qv ORDER BY vec_id LIMIT {_PQ_CENTS})
    ),
    ss AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
    assign AS (
      SELECT v.vec_id, ss.s, c.cell,
             list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
               i -> (v.qvec[ss.s*{_PQ_DSUB} + i] - c.qvec[ss.s*{_PQ_DSUB} + i])
                    * (v.qvec[ss.s*{_PQ_DSUB} + i] - c.qvec[ss.s*{_PQ_DSUB} + i]))) AS d
      FROM qv v CROSS JOIN ss CROSS JOIN cent c
    ),
    best AS (
      SELECT vec_id, s, cell FROM (
        SELECT vec_id, s, cell,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cell) AS rn
        FROM assign) WHERE rn = 1
    )
"""

def _pq_qtab_sql(qcte: str, qvec: str, extra: str = "") -> str:
    """The per-(subspace, cell) ADC-table CTE body against a query CTE —
    THE one definition shared by q_ann_pq / q_pq_recall / q_ann_ivf_pq so
    the ADC shape cannot drift between their oracles."""
    t = f"{qcte}.{qvec}[ss.s*{_PQ_DSUB} + i]"
    c = f"c.qvec[ss.s*{_PQ_DSUB} + i]"
    return f"""
      SELECT {extra}ss.s, c.cell,
             list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
               i -> ({t} - {c}) * ({t} - {c}))) AS qd
      FROM ss CROSS JOIN cent c CROSS JOIN {qcte}
    """


@register(
    "q_ann_pq",
    # PQ over the int8 SQ grid is exact integer math end to end: the ADC
    # score is a sum of 8 table lookups over the shared base CTEs, so
    # rankings are bit-stable and the twin matches exactly.
    f"""
    WITH {_PQ_BASE_CTES},
    q AS (SELECT qvec FROM qv WHERE vec_id = 0),
    qtab AS ({_pq_qtab_sql('q', 'qvec')})
    SELECT bb.vec_id, CAST(sum(qt.qd) AS BIGINT) AS adc_d2
    FROM best bb JOIN qtab qt USING (s, cell)
    WHERE bb.vec_id <> 0
    GROUP BY bb.vec_id
    ORDER BY adc_d2 ASC, bb.vec_id ASC
    LIMIT 10
    """,
    registered=False,  # shadow: the ANN family keeps q_ann_bruteforce +
    # q_ann_ivf in-window; PQ joins SQ/LSH/IVF in the local gate
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-10 around vector 0 (self excluded): the 8-subspace
    codebook compresses each 64-dim embedding to 8 small ints, the probe
    sums 8 exact integer table lookups per row — the memory-bound ANN
    scan path (Jégou et al. 2011)."""
    e = load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.ann_pq(
        e, "embedding", "vec_id", qvec,
        k=10, m=_PQ_M, n_cents=_PQ_CENTS, exclude_id=0,
    )


_PQ_EVAL_QIDS = (0, 1, 2, 3)

@register(
    "q_pq_recall",
    # recall@10 of the ADC ranking vs the exact ranking on the same int8
    # code grid, for 4 fixed query vectors — both rankings all-integer
    # with (distance, vec_id) tie-breaks, recall one exact double
    # division, so the twin is bit-stable.
    f"""
    WITH {_PQ_BASE_CTES},
    qs AS (SELECT vec_id AS qid, qvec AS qc FROM qv
           WHERE vec_id IN {_PQ_EVAL_QIDS}),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, v.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 list_sum(list_transform(generate_series(1, len(v.qvec)),
                   i -> (v.qvec[i] - q.qc[i]) * (v.qvec[i] - q.qc[i]))),
                 v.vec_id) AS rn
        FROM qv v JOIN qs q ON v.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    qtab AS ({_pq_qtab_sql('qs', 'qc', extra='qs.qid, ')}),
    adc AS (
      SELECT qt.qid, bb.vec_id, sum(qt.qd) AS d
      FROM best bb JOIN qtab qt USING (s, cell)
      WHERE bb.vec_id <> qt.qid
      GROUP BY qt.qid, bb.vec_id
    ),
    approx AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
        FROM adc
      ) WHERE rn <= 10
    ),
    hits AS (
      SELECT e.qid, CAST(count(*) AS BIGINT) AS n
      FROM exact e JOIN approx a ON e.qid = a.qid AND e.vec_id = a.vec_id
      GROUP BY e.qid
    )
    SELECT q.qid,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
    FROM qs q LEFT JOIN hits h ON h.qid = q.qid
    """,
    registered=False,  # shadow: the eval twin of q_ann_pq, mirroring the
    # q_ann_recall pattern for the SRP-LSH family
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much neighbor fidelity survives compressing 64 int8 codes to
    8 PQ codes: recall@10 of the ADC ranking vs the exact code-grid
    ranking for 4 sampled queries — the tuning dial for m/n_cents."""
    e = load(spark, sf_dir, "embeddings")
    qrows = e.filter(F.col("vec_id").isin(*_PQ_EVAL_QIDS)).collect()
    queries = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows}
    return similarity.pq_recall_eval(
        e, "embedding", "vec_id", queries, k=10, m=_PQ_M, n_cents=_PQ_CENTS
    )


_PQ_KM_ITERS = 2
_PQ_CMP_NQ = 16  # qids 0..15 — wide enough that the trained lane's mean
# recall edge over the sampled lane is signal, not 4-query noise


def _pq_trained_ctes(iters: int) -> str:
    """CTE block producing the Lloyd-TRAINED per-subspace codebook and
    its corpus assignment — the DuckDB twin of ``pq_train_kmeans`` +
    trained-lane encoding, mirroring ``kmeans_oracle_sql``'s unrolled
    rounds on the (subspace, cell, dim) long-form grid: exact integer
    distances, half-away centroid means on CAST(sum AS DOUBLE)/count,
    ties to the lowest cell, empty (s, cell) carried forward. Seeds are
    the sampled codebook (``cent`` from ``_PQ_BASE_CTES``), matching the
    Spark lane's pq_train seed. Yields ``tc{iters}`` (s, cell, d, cq)
    and ``tbest`` (vec_id, s, cell): the assignment vs the FINAL
    centroids, i.e. the trained-lane pq codes."""

    def ha(expr: str) -> str:
        return (
            f"CAST(CASE WHEN {expr} >= 0 THEN floor(({expr}) + 0.5) "
            f"ELSE -floor(-({expr}) + 0.5) END AS BIGINT)"
        )

    def assign(name: str, cent_cte: str) -> str:
        return (
            f"{name} AS (SELECT vec_id, s, cell FROM ("
            f"SELECT x.vec_id, x.s, t.cell, "
            f"row_number() OVER (PARTITION BY x.vec_id, x.s "
            f"ORDER BY sum((x.q - t.cq) * (x.q - t.cq)), t.cell) AS rn "
            f"FROM pxs x JOIN {cent_cte} t ON t.s = x.s AND t.d = x.d "
            f"GROUP BY x.vec_id, x.s, t.cell) WHERE rn = 1)"
        )

    its = []
    prev = "tc0"
    for t in range(1, iters + 1):
        its.append(assign(f"ta{t}", prev))
        its.append(
            f"tm{t} AS (SELECT a.s, a.cell, x.d, "
            f"{ha('CAST(sum(x.q) AS DOUBLE) / count(*)')} AS cq "
            f"FROM pxs x JOIN ta{t} a ON a.vec_id = x.vec_id AND a.s = x.s "
            f"GROUP BY a.s, a.cell, x.d)"
        )
        its.append(
            f"tc{t} AS (SELECT p.s, p.cell, p.d, coalesce(m.cq, p.cq) AS cq "
            f"FROM {prev} p LEFT JOIN tm{t} m "
            f"ON m.s = p.s AND m.cell = p.cell AND m.d = p.d)"
        )
        prev = f"tc{t}"
    iter_sql = ",\n    ".join(its)
    return f"""
    ds AS (SELECT unnest(generate_series(1, {_PQ_DSUB})) AS d),
    pxs AS (SELECT v.vec_id, ss.s, ds.d,
                   v.qvec[ss.s*{_PQ_DSUB} + ds.d] AS q
            FROM qv v CROSS JOIN ss CROSS JOIN ds),
    tc0 AS (SELECT ss.s, c.cell, ds.d, c.qvec[ss.s*{_PQ_DSUB} + ds.d] AS cq
            FROM cent c CROSS JOIN ss CROSS JOIN ds),
    {iter_sql},
    {assign('tbest', prev)}
    """


@register(
    "q_pq_compare",
    # sampled vs Lloyd-trained PQ codebooks against the SAME exact
    # code-grid ranking: the sampled lane reuses the q_pq_recall CTEs
    # verbatim; the trained lane unrolls the per-subspace fixed-point
    # k-means (kmeans_oracle_sql's discipline) so BOTH codebooks, both
    # ADC rankings and the recall division are bit-stable cross-engine.
    f"""
    WITH {_PQ_BASE_CTES},
    {_pq_trained_ctes(_PQ_KM_ITERS)},
    qs AS (SELECT vec_id AS qid, qvec AS qc FROM qv
           WHERE vec_id < {_PQ_CMP_NQ}),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, v.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 list_sum(list_transform(generate_series(1, len(v.qvec)),
                   i -> (v.qvec[i] - q.qc[i]) * (v.qvec[i] - q.qc[i]))),
                 v.vec_id) AS rn
        FROM qv v JOIN qs q ON v.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    qtab AS ({_pq_qtab_sql('qs', 'qc', extra='qs.qid, ')}),
    adc_s AS (
      SELECT qt.qid, bb.vec_id, sum(qt.qd) AS d
      FROM best bb JOIN qtab qt USING (s, cell)
      WHERE bb.vec_id <> qt.qid
      GROUP BY qt.qid, bb.vec_id
    ),
    ap_s AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
        FROM adc_s
      ) WHERE rn <= 10
    ),
    tqtab AS (
      SELECT qs.qid, t.s, t.cell,
             sum((qs.qc[t.s*{_PQ_DSUB} + t.d] - t.cq)
                 * (qs.qc[t.s*{_PQ_DSUB} + t.d] - t.cq)) AS qd
      FROM tc{_PQ_KM_ITERS} t CROSS JOIN qs
      GROUP BY qs.qid, t.s, t.cell
    ),
    adc_t AS (
      SELECT qt.qid, tb.vec_id, sum(qt.qd) AS d
      FROM tbest tb JOIN tqtab qt USING (s, cell)
      WHERE tb.vec_id <> qt.qid
      GROUP BY qt.qid, tb.vec_id
    ),
    ap_t AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
        FROM adc_t
      ) WHERE rn <= 10
    ),
    hits_s AS (
      SELECT e.qid, CAST(count(*) AS BIGINT) AS n
      FROM exact e JOIN ap_s a ON e.qid = a.qid AND e.vec_id = a.vec_id
      GROUP BY e.qid
    ),
    hits_t AS (
      SELECT e.qid, CAST(count(*) AS BIGINT) AS n
      FROM exact e JOIN ap_t a ON e.qid = a.qid AND e.vec_id = a.vec_id
      GROUP BY e.qid
    )
    SELECT q.qid,
           CAST(coalesce(hs.n, 0) AS BIGINT) AS n_hits_sampled,
           CAST(coalesce(hs.n, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
             AS recall_sampled,
           CAST(coalesce(ht.n, 0) AS BIGINT) AS n_hits_trained,
           CAST(coalesce(ht.n, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
             AS recall_trained
    FROM qs q
    LEFT JOIN hits_s hs ON hs.qid = q.qid
    LEFT JOIN hits_t ht ON ht.qid = q.qid
    """,
    registered=False,  # shadow (r11 swap: q_dialect_pipe_filter ->
    # window): the PQ family keeps q_ann_ivf_pq + q_ann_recall (exact
    # ground truth) in-window; this trained-vs-sampled codebook report
    # stays oracle-checked here in the local gate
)
def q_pq_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does Lloyd-training the PQ codebook beat the sampled one? recall@10
    of BOTH codebooks' ADC rankings vs the shared exact code-grid ranking
    for 16 queries, one corpus pass — the quality report justifying
    pq_train_kmeans (trained mean recall ≥ sampled, asserted in
    tests/test_pq_trained.py). similarity.pq_train_kmeans /
    pq_recall_compare."""
    e = load(spark, sf_dir, "embeddings")
    qrows = e.filter(F.col("vec_id") < _PQ_CMP_NQ).collect()
    queries = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows}
    cb_s = similarity.pq_train(e, "embedding", "vec_id", m=_PQ_M, n_cents=_PQ_CENTS)
    cb_t = similarity.pq_train_kmeans(
        e, "embedding", "vec_id", m=_PQ_M, n_cents=_PQ_CENTS,
        iters=_PQ_KM_ITERS, seed_codebook=cb_s,  # one seed pass, not two
    )
    return similarity.pq_recall_compare(
        e, "embedding", "vec_id", queries, 10,
        {"sampled": cb_s, "trained": cb_t},
    )


@register(
    "q_ivf_pq_recall",
    # recall@10 of the COMPOSED IVF x PQ probe (sampled metadata lanes)
    # vs the exact code-grid ranking: the probe's candidate set is
    # restricted to each query's nprobe best cells (q_ann_ivf_pq's
    # round(cos,6) ranking CTEs) and scored by the all-integer ADC — so
    # both loss terms (IVF pruning + PQ compression) are charged and the
    # whole chain stays bit-stable cross-engine.
    f"""
    WITH {_PQ_BASE_CTES},
    icent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS icell,
             embedding
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
            LIMIT {_IVF_CELLS})
    ),
    qs AS (SELECT v.vec_id AS qid, v.qvec AS qc, e.embedding AS qe
           FROM qv v JOIN embeddings e USING (vec_id)
           WHERE v.vec_id IN {_PQ_EVAL_QIDS}),
    qrank AS (
      SELECT qid, icell FROM (
        SELECT qs.qid, c.icell,
               row_number() OVER (PARTITION BY qs.qid
                 ORDER BY {_cos_sql('c.embedding', 'qs.qe')} DESC, c.icell) AS rn
        FROM icent c CROSS JOIN qs
      ) WHERE rn <= {_IVF_PROBE}
    ),
    cellof AS (
      SELECT vec_id, icell FROM (
        SELECT e.vec_id, c.icell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.embedding')} DESC, c.icell) AS rn
        FROM embeddings e CROSS JOIN icent c
      ) WHERE rn = 1
    ),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, v.vec_id,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 list_sum(list_transform(generate_series(1, len(v.qvec)),
                   i -> (v.qvec[i] - q.qc[i]) * (v.qvec[i] - q.qc[i]))),
                 v.vec_id) AS rn
        FROM qv v JOIN qs q ON v.vec_id <> q.qid
      ) WHERE rn <= 10
    ),
    qtab AS ({_pq_qtab_sql('qs', 'qc', extra='qs.qid, ')}),
    adc AS (
      SELECT qt.qid, bb.vec_id, sum(qt.qd) AS d
      FROM best bb JOIN qtab qt USING (s, cell)
      WHERE bb.vec_id <> qt.qid
      GROUP BY qt.qid, bb.vec_id
    ),
    ap AS (
      SELECT qid, vec_id FROM (
        SELECT a.qid, a.vec_id,
               row_number() OVER (PARTITION BY a.qid
                 ORDER BY a.d, a.vec_id) AS rn
        FROM adc a
        JOIN cellof co ON co.vec_id = a.vec_id
        JOIN qrank r ON r.qid = a.qid AND r.icell = co.icell
      ) WHERE rn <= 10
    ),
    hits AS (
      SELECT e.qid, CAST(count(*) AS BIGINT) AS n
      FROM exact e JOIN ap a ON e.qid = a.qid AND e.vec_id = a.vec_id
      GROUP BY e.qid
    )
    SELECT q.qid,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
    FROM qs q LEFT JOIN hits h ON h.qid = q.qid
    """,
    registered=False,  # shadow: the composed-stack eval twin of
    # q_ann_ivf_pq (which holds the family's in-window slot since r8)
)
def q_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much neighbor fidelity the FULL FAISS-shaped stack keeps:
    recall@10 of the IVF(4/16 cells) × PQ(8×16) probe vs the exact
    code-grid ranking for 4 queries — both the cell-pruning and the
    compression loss in one number. similarity.ivf_pq_recall_eval; the
    trained-stack report (ivf_train × pq_train_kmeans) rides
    tests/test_pq_trained.py."""
    e = load(spark, sf_dir, "embeddings")
    qrows = e.filter(F.col("vec_id").isin(*_PQ_EVAL_QIDS)).collect()
    queries = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows}
    return similarity.ivf_pq_recall_eval(
        e, "embedding", "vec_id", queries, k=10,
        n_cells=_IVF_CELLS, nprobe=_IVF_PROBE, m=_PQ_M, n_cents=_PQ_CENTS,
    )


@register(
    "q_ann_ivf_pq",
    # the FAISS IVF-PQ composition with a COMPLETE cross-engine twin:
    # cell assignment/probe ranking reuse q_ann_ivf's round(cos,6) CTEs
    # (sequential-fold doubles, bit-identical), the candidate scoring is
    # q_ann_pq's all-integer ADC over the shared base CTEs.
    f"""
    WITH {_PQ_BASE_CTES},
    icent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS icell,
             embedding
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
            LIMIT {_IVF_CELLS})
    ),
    q0 AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    qrank AS (
      SELECT c.icell FROM icent c, q0
      ORDER BY {_cos_sql('c.embedding', 'q0.embedding')} DESC, c.icell
      LIMIT {_IVF_PROBE}
    ),
    cellof AS (
      SELECT vec_id, icell FROM (
        SELECT e.vec_id, c.icell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.embedding')} DESC,
                          c.icell) AS rn
        FROM embeddings e CROSS JOIN icent c
      ) WHERE rn = 1
    ),
    qq AS (SELECT qvec FROM qv WHERE vec_id = 0),
    qtab AS ({_pq_qtab_sql('qq', 'qvec')}),
    adc AS (
      SELECT bb.vec_id, CAST(sum(qt.qd) AS BIGINT) AS adc_d2
      FROM best bb JOIN qtab qt USING (s, cell)
      GROUP BY bb.vec_id
    )
    SELECT a.vec_id, co.icell AS cell, a.adc_d2
    FROM adc a
    JOIN cellof co ON co.vec_id = a.vec_id
    JOIN qrank USING (icell)
    WHERE a.vec_id <> 0
    ORDER BY a.adc_d2 ASC, a.vec_id ASC
    LIMIT 10
    """,
    # driver window (r8 swap: q_ann_ivf -> shadow, its plan shape is
    # subsumed by this composed index — same cell probe, smaller payload)
)
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVF-PQ probe around vector 0: the 4 best of 16 cells
    by query cosine are scanned, candidates score by 8 integer ADC table
    lookups — bucket-pruned IO times ~32× fewer bytes per candidate."""
    e = load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.ann_ivf_pq(
        e, "embedding", "vec_id", qvec, k=10,
        n_cells=_IVF_CELLS, nprobe=_IVF_PROBE,
        m=_PQ_M, n_cents=_PQ_CENTS, exclude_id=0,
    )


# --- token-mixture resampling ---------------------------------------------


@register(
    "q_mixture",
    """
    WITH w(source, w_ppm) AS (
      VALUES ('src0', CAST(500000 AS BIGINT)),
             ('src1', CAST(300000 AS BIGINT)),
             ('src2', CAST(200000 AS BIGINT))
    ),
    c AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
          FROM documents GROUP BY source),
    s AS (SELECT c.source, tok, w_ppm FROM c JOIN w USING (source)),
    t AS (SELECT min(tok * 1000000 // w_ppm) AS T FROM s),
    r AS (SELECT source, least(1000000, w_ppm * t.T // tok) AS keep_ppm FROM s, t)
    SELECT d.doc_id, d.source, r.keep_ppm
    FROM documents d JOIN r USING (source)
    WHERE CAST(concat('0x',
            substr(md5('mixture:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 1000000 < r.keep_ppm
    """,
    registered=False,  # shadow (r5 swap: slot given to q_dsir_sample)
)
def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-level data mixing: downsample three sources to a 50/30/20
    # token budget with the deterministic hash coin.
    from csvtool_spark.operators.sampling import mixture_resample

    d = load(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", "source", textstats.token_count(F.col("text")).alias("__n")
    )
    return mixture_resample(
        staged, "source", "doc_id", "__n",
        {"src0": 500_000, "src1": 300_000, "src2": 200_000},
    ).select("doc_id", "source", "keep_ppm")


# --- curation: per-source quality gate, incremental dedup, chunking -------


@register(
    "q_quality_gate",
    """
    WITH t AS (
      SELECT doc_id, source,
             round((CASE WHEN n >= 10 AND n <= 5000 THEN 1.0 ELSE 0.3 END) * 0.4
                   + coalesce(nd / (CASE WHEN n > 0 THEN n END), 0.0) * 0.4
                   + (CASE WHEN coalesce(stop / (CASE WHEN n > 0 THEN n END), 0.0) > 0.02
                           THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality
      FROM (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
               CAST(len(list_filter(string_split(lower(text), ' '),
                    x -> x IN ('the','and','of','to','in','is','that','for','with','on'))) AS DOUBLE) AS stop
        FROM documents
      )
    ),
    thr AS (SELECT source, round(quantile_cont(quality, 0.25), 6) AS thr
            FROM t GROUP BY source)
    SELECT t.doc_id, t.source, t.quality
    FROM t JOIN thr USING (source) WHERE t.quality >= thr.thr
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.pipeline import quality_gate

    d = load(spark, sf_dir, "documents")
    return quality_gate(d, "text", "doc_id", "source", quantile=0.25)


@register(
    "q_incremental_dedup",
    # ingest batch = odd doc_ids, accumulated corpus = even doc_ids
    """
    WITH newb AS (SELECT doc_id, md5(lower(trim(text))) AS h
                  FROM documents WHERE doc_id % 2 = 1),
    seen AS (SELECT DISTINCT md5(lower(trim(text))) AS h
             FROM documents WHERE doc_id % 2 = 0)
    SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, h AS text_hash
    FROM newb WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = newb.h)
    GROUP BY h
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.pipeline import incremental_dedup

    d = load(spark, sf_dir, "documents")
    return incremental_dedup(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        "text",
        "doc_id",
    )


@register(
    "q_chunk_docs",
    # 128-token windows, 16-token overlap (stride 112)
    """
    WITH l AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
               FROM documents),
    s AS (SELECT doc_id, toks,
                 greatest(1, (len(toks) - 16 + 111) // 112) AS nc FROM l),
    c AS (SELECT doc_id, toks,
                 unnest(generate_series(0, nc - 1)) AS chunk_id FROM s)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           array_to_string(toks[chunk_id*112 + 1 : chunk_id*112 + 128], ' ')
             AS chunk_text,
           CAST(len(toks[chunk_id*112 + 1 : chunk_id*112 + 128]) AS BIGINT)
             AS n_chunk_tokens
    FROM c
    """,
    registered=False,  # shadow (r5 swap: slot given to q_pii_scrub)
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.pipeline import chunk_documents

    d = load(spark, sf_dir, "documents")
    return chunk_documents(d, "text", "doc_id", chunk_tokens=128, overlap=16)


# --- bigram collocations ---------------------------------------------------


@register(
    "q_colloc",
    # staged integer lift (see textstats.collocations docstring): both
    # engines evaluate ((c_ab*1e6 div c_a) * N) div c_b identically
    """
    WITH l AS (SELECT string_split(lower(trim(text)), ' ') AS t FROM documents),
    bg AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bg
      FROM l
    ),
    pairs AS (
      SELECT split_part(bg, ' ', 1) AS term_a, split_part(bg, ' ', 2) AS term_b,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM bg GROUP BY 1, 2 HAVING count(*) >= 5
    ),
    uni AS (SELECT unnest(t) AS tok FROM l),
    c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM c)
    SELECT term_a, term_b, c_ab, ca.c AS c_a, cb.c AS c_b,
           CAST(((c_ab * 1000000 // ca.c) * n.N) // cb.c AS BIGINT) AS lift_ppm
    FROM pairs JOIN c ca ON ca.tok = term_a JOIN c cb ON cb.tok = term_b, n
    ORDER BY lift_ppm DESC, term_a, term_b LIMIT 50
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_colloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return textstats.collocations(d, "text", k=50, min_count=5)


# --- SemDeDup: embedding-space duplicate clustering ------------------------


@register(
    "q_semantic_dedup",
    # cells via the deterministic sampled quantizer (same CTE as q_ann_ivf),
    # within-cell pairs at cos >= 0.35 (synthetic embeddings top out at
    # ~0.51 — real corpora use ~0.95+), closure by recursive CTE: an
    # independent implementation of the engine's alternating-star
    # contraction, like q_dedup_clusters.
    f"""
    WITH RECURSIVE cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, embedding
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.embedding')} DESC, c.cell) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    p AS (
      SELECT ax.vec_id AS id_a, ay.vec_id AS id_b
      FROM assign ax JOIN assign ay ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
      JOIN embeddings x ON x.vec_id = ax.vec_id
      JOIN embeddings y ON y.vec_id = ay.vec_id
      WHERE {_cos_sql('x.embedding', 'y.embedding')} >= 0.35
    ),
    e2 AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
    reach(id, r) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e2.u, reach.r FROM e2 JOIN reach ON reach.id = e2.v
    ),
    comp AS (SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id)
    SELECT vec_id, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
           vec_id = component AS is_survivor
    FROM comp
    """,
    registered=False,  # shadow (r6 swap: slot given to q_fuzzy_linkage);
    # embedding-similarity dedup keeps q_embed_neardup + q_cross_dedup
    # in-window (was itself swapped in r3 for q_orderby_topk et al.)
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(e, "embedding", "vec_id", threshold=0.35)


# --- bigram-conditional LM scoring ----------------------------------------


@register(
    "q_lm_score2",
    """
    WITH l AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
               FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bg
      FROM l
    ),
    tf AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf
           FROM bg GROUP BY doc_id, bg),
    cb AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS c_bg FROM tf GROUP BY bg),
    cx AS (SELECT split_part(bg, ' ', 1) AS prev,
                  CAST(sum(c_bg) AS BIGINT) AS c_prev
           FROM cb GROUP BY 1)
    SELECT tf.doc_id,
           CAST(sum(tf) AS BIGINT) AS n_bigrams,
           CAST(sum(tf * least(1000000000000, (cx.c_prev * 1000000) // cb.c_bg)) // sum(tf) AS BIGINT)
             AS surprisal2_ppm
    FROM tf JOIN cb USING (bg)
    JOIN cx ON cx.prev = split_part(tf.bg, ' ', 1)
    GROUP BY tf.doc_id
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_lm_score2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return textstats.lm_surprisal_bigram(d, "text", "doc_id")


# --- Kneser-Ney cross-corpus LM filter ------------------------------------


@register(
    "q_kn_score",
    textstats.kn_oracle_sql(
        train_where="length(source) = 4", score_where="length(source) = 5"
    ),
    # promoted to the driver window in round 7 (swap with q_reshape_pivot)
)
def q_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality filter: train an interpolated Kneser-Ney
    bigram LM on the src0-src9 half of the corpus (4-char source names),
    score the src10-src19 half — the train-on-reference / score-target
    split, with OOV transitions surfacing as ``n_unseen_bg`` and high
    ``kn_surprisal_ppb``."""
    d = load(spark, sf_dir, "documents")
    model = textstats.kn_bigram_model(
        d.filter(F.length("source") == 4), "text", "doc_id"
    )
    return textstats.kn_score(
        d.filter(F.length("source") == 5), model, "text", "doc_id"
    )


@register(
    "q_kn_buckets",
    textstats.kn_buckets_oracle_sql(
        train_where="length(source) = 4", score_where="length(source) = 5"
    ),
    registered=False,  # shadow (r10 swap: q_dialect_pipe_normalize ->
    # window): the KN family keeps q_kn_score in-window; the bucketing
    # composition stays oracle-checked here in the local gate
)
def q_kn_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partition of the scored half: per-source
    surprisal terciles label every document, reported as a per
    (source, bucket) histogram with the surprisal range each bucket
    spans — the handoff a bucket-weighted training mixture reads."""
    d = load(spark, sf_dir, "documents")
    model = textstats.kn_bigram_model(
        d.filter(F.length("source") == 4), "text", "doc_id"
    )
    scored = textstats.kn_score(
        d.filter(F.length("source") == 5), model, "text", "doc_id"
    )
    b = textstats.kn_perplexity_buckets(
        scored.join(d.select("doc_id", "source"), "doc_id"), "source"
    )
    return b.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("kn_surprisal_ppb").alias("min_ppb"),
        F.max("kn_surprisal_ppb").alias("max_ppb"),
    )


# --- contrastive negative mining ------------------------------------------


@register(
    "q_neg_pairs",
    # 4 deterministic negatives per embedding anchor via bucketed hash
    # pick — same md5-prefix arithmetic on both engines
    """
    WITH ids AS (SELECT vec_id AS id FROM embeddings),
    members AS (
      SELECT CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 64 AS b,
             id AS neg_id
      FROM ids
    ),
    req AS (
      SELECT id AS anchor, j,
             CAST(concat('0x', substr(md5(id || '#' || j), 1, 8)) AS BIGINT)
               % 64 AS b
      FROM ids, unnest(generate_series(0, 3)) AS u(j)
    ),
    joined AS (
      SELECT anchor, j, neg_id,
             row_number() OVER (
               PARTITION BY anchor, j
               ORDER BY CAST(concat('0x', substr(md5(anchor || '#' || j || '#' || neg_id), 1, 8)) AS BIGINT),
                        neg_id) AS rn
      FROM req JOIN members USING (b)
      WHERE neg_id <> anchor
    ),
    picked AS (
      SELECT anchor, j, neg_id,
             row_number() OVER (PARTITION BY anchor, neg_id ORDER BY j) AS rn2
      FROM joined WHERE rn = 1
    )
    SELECT anchor, CAST(j AS BIGINT) AS j, neg_id FROM picked WHERE rn2 = 1
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_neg_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.sampling import negative_pairs

    e = load(spark, sf_dir, "embeddings")
    return negative_pairs(e, "vec_id", k=4, n_buckets=64)


# --- graph: deterministic integer PageRank --------------------------------

_PR_EDGES_SQL = """
      SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION ALL
      SELECT 's' || CAST(l_suppkey AS VARCHAR),
             'c' || CAST(o_custkey AS VARCHAR)
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def _pagerank_oracle() -> str:
    from csvtool_spark.operators.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_PR_EDGES_SQL, iters=5)


@register(
    "q_pagerank",
    # 5 unrolled power iterations over the customer↔supplier order graph,
    # exact fixed-point BIGINT arithmetic on both engines (integer sums are
    # associative → partitioning/engine-proof). See operators/graph.py.
    _pagerank_oracle(),
    # driver-registered round 3 (swap with q_source_quota): iterative graph
    # computation is a new capability class for the driver window.
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.graph import pagerank_int

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank_int(edges, "src", "dst", iters=5)


# --- boilerplate detection ------------------------------------------------


@register(
    "q_boilerplate",
    # CCNet-style repeated-content signal: share of a doc's distinct
    # 3-word shingles that occur in ≥ 5 documents corpus-wide. Same shingle
    # shape as q_dedup_ngram, but over coalesce(text, '') — the Spark side
    # coalesces too, so NULL-text docs yield an '' shingle in BOTH engines
    # (array_to_string(NULL) would make a NULL shingle that never joins).
    """
    WITH toks AS (SELECT doc_id,
                         string_split(lower(trim(coalesce(text, ''))), ' ') AS t
                  FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN
               list_distinct(list_transform(range(0, len(t) - 2),
                 i -> array_to_string(t[i+1:i+3], ' ')))
             ELSE [array_to_string(t, ' ')] END AS sh
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    hot AS (SELECT s FROM ex GROUP BY s HAVING count(*) >= 5),
    flag AS (
      SELECT e.doc_id, count(*) AS n_boiler
      FROM ex e JOIN hot USING (s) GROUP BY e.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.sh) AS BIGINT) AS n_shingles,
           CAST(coalesce(f.n_boiler, 0) AS BIGINT) AS n_boiler,
           round(CAST(coalesce(f.n_boiler, 0) AS DOUBLE)
                 / (CASE WHEN len(t.sh) > 0 THEN CAST(len(t.sh) AS DOUBLE) END),
                 6) AS boiler_ratio
    FROM sh t LEFT JOIN flag f USING (doc_id)
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return textstats.boilerplate_stats(d, "text", "doc_id", k=3, min_docs=5)


# --- embedding centroids / outlier mining ---------------------------------


@register(
    "q_embed_outliers",
    # Per-label mean embedding via exact integer component sums (the cents
    # pattern, order-independent), then top-20 farthest-from-own-centroid
    # vectors; the distance fold shares the sequential list_reduce shape
    # with the Spark zip_with/aggregate fold → bit-identical doubles.
    """
    WITH pos AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS i, embedding
      FROM embeddings
    ),
    agg AS (
      SELECT label, i,
             CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
                           AS BIGINT)) AS BIGINT) AS sx,
             count(*) AS n
      FROM pos GROUP BY label, i
    ),
    cent AS (
      SELECT label,
             list((CAST(sx AS DOUBLE) / 1000000.0) / n ORDER BY i) AS centroid
      FROM agg GROUP BY label
    )
    SELECT e.vec_id, e.label,
           round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
                    * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))),
             (a, b) -> a + b)), 6) AS dist
    FROM embeddings e JOIN cent c USING (label)
    ORDER BY dist DESC, e.vec_id
    LIMIT 20
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return similarity.centroid_outliers(e, "embedding", "vec_id", "label", k=20)


# --- embedding normalization + deterministic shuffle ----------------------


@register(
    "q_embed_normalize",
    # unit-norm embeddings, rounded to 6 — the norm fold shares the
    # sequential list_reduce shape with the Spark let-bound norm
    """
    SELECT vec_id,
           list_transform(embedding, x ->
             round(CAST(x AS DOUBLE)
               / (CASE WHEN sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, len(embedding)+1),
                      i -> CAST(embedding[i] AS DOUBLE)
                           * CAST(embedding[i] AS DOUBLE))),
                    (a, b) -> a + b)) > 0
                  THEN sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(range(1, len(embedding)+1),
                      i -> CAST(embedding[i] AS DOUBLE)
                           * CAST(embedding[i] AS DOUBLE))),
                    (a, b) -> a + b)) END), 6)) AS unit
    FROM embeddings WHERE vec_id < 50
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    unit = similarity.l2_normalize(F.col("embedding"))
    return e.select(
        "vec_id", F.transform(unit, lambda x: F.round(x, 6)).alias("unit")
    )


@register(
    "q_det_shuffle",
    # the md5 epoch-shuffle key per document (the ORDER itself is the sort
    # by this key; the order-insensitive driver compare validates the key
    # mapping, pytest validates the realized ordering/sharding)
    """
    SELECT doc_id, md5('7#' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_det_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.sampling import deterministic_shuffle

    d = load(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(d, "doc_id", seed=7)


# --- table profiling ------------------------------------------------------


@register(
    "q_profile",
    # exact-distinct mode for the cross-engine comparison (the scale
    # default is HLL — see operators/profiling.py); columns restricted to
    # BIGINT/VARCHAR so min/max string casts format identically
    """
    SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_str,
           CAST(max(o_orderkey) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*),
           CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR),
           CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.profiling import profile_table

    o = load(spark, sf_dir, "orders")
    return profile_table(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        exact_distinct=True,
    )


# --- batch ANN ------------------------------------------------------------


@register(
    "q_ann_batch",
    # 4 query vectors (vec_id 0-3) scored against the whole corpus in one
    # pass; per-query top-5 with the usual round(cos,6)+id tie-break. The
    # oracle ranks with the same sequential-fold cosine per (query, row).
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4
    ),
    scored AS (
      SELECT q.qid, e.vec_id, {_cos_sql('e.embedding', 'q.qv')} AS cos,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY {_cos_sql('e.embedding', 'q.qv')} DESC, e.vec_id
             ) AS rn
      FROM embeddings e CROSS JOIN q
    )
    SELECT CAST(qid AS BIGINT) AS qid, vec_id, cos
    FROM scored WHERE rn <= 5
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    qs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 4).collect()
    }
    return similarity.ann_bruteforce_batch(e, "embedding", "vec_id", qs, k=5)


# --- Naive Bayes classification ------------------------------------------


@register(
    "q_nb_classify",
    # train-on-corpus / score-on-corpus language classifier: top-2000
    # vocabulary, add-one smoothing, fixed-point int64 log-probs (exact
    # integer score sums cross-engine). Classes are the 5 lang values.
    classify.nb_oracle_sql(["de", "en", "es", "fr", "zh"], vocab_size=2000),
    # promoted to the driver window in round 4 (swap with q_text_fingerprint)
)
def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    model = classify.nb_train(d, "text", "lang", vocab_size=2000)
    scored = classify.nb_score(d, model, "text", "doc_id")
    return scored.select("doc_id", "lang", "pred", "score_pred")


# --- duplicate passage spans ----------------------------------------------


@register(
    "q_dup_spans",
    dedup.duplicate_span_oracle_sql(k=8, min_docs=2),
    registered=False,  # shadow: driver window full; locally gated
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.duplicate_span_stats(d, "text", "doc_id", k=8, min_docs=2)


@register(
    "q_span_removal",
    dedup.span_removal_oracle_sql(k=8, min_docs=2, keep="first"),
    registered=False,  # shadow (r9 swap: slot given to q_run_removal,
    # the length-thresholded + exactness-verified member of the family;
    # was in-window r7-r8)
)
def q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(d, "text", "doc_id", k=8, min_docs=2,
                                        keep="first")


@register(
    "q_span_removal_all",
    dedup.span_removal_oracle_sql(k=8, min_docs=2, keep="none"),
    registered=False,  # shadow: the trim-boilerplate mode (keep='none')
)
def q_span_removal_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(d, "text", "doc_id", k=8, min_docs=2,
                                        keep="none")


@register(
    "q_span_removal_within",
    # k=3: the synthetic corpus has within-doc k-gram repeats only at
    # small k (33 affected docs at sf0.001 for k=3, none at k>=5)
    dedup.repeated_span_oracle_sql(k=3),
    registered=False,  # shadow: within-document repetition trimming
)
def q_span_removal_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.remove_repeated_spans(d, "text", "doc_id", k=3)


# The synthetic documents are single-line token soup (no '\n\n'), so the
# paragraph-dedup entry derives deterministic pseudo-paragraphs first:
# consecutive 25-token chunks re-joined with the separator — identical
# chunking on both engines, so the operator sees a real multi-paragraph
# corpus (40 duplicated chunks / 25 affected docs at sf0.01).
_PARA_CHUNK = 25

_PARA_DERIVE_SQL = f"""
    dtoks AS (
      SELECT doc_id, text AS __orig, string_split(text, ' ') AS t
      FROM documents
    ),
    docs2 AS (
      SELECT doc_id,
             CASE WHEN __orig IS NULL THEN NULL ELSE
               array_to_string(list_transform(
                 range(0, greatest(CAST(ceil(len(t) / {_PARA_CHUNK}.0) AS BIGINT), 1)),
                 j -> array_to_string(t[j*{_PARA_CHUNK}+1 : j*{_PARA_CHUNK}+{_PARA_CHUNK}], ' ')),
                 chr(10) || chr(10))
             END AS text
      FROM dtoks
    )
"""


@register(
    "q_paragraph_dedup",
    "WITH " + _PARA_DERIVE_SQL + ",\n    base AS ("
    + dedup.paragraph_dedup_oracle_sql(
        sep="\n\n", min_docs=2, keep="first", table="docs2"
    )
    + ") SELECT * FROM base",
    registered=False,  # shadow (r11 swap: q_gopher_repetition ->
    # window): the Lee-et-al exact-substring family keeps q_run_removal
    # in-window; the paragraph-granularity member stays oracle-checked
    # here in the local gate
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact paragraph dedup across the corpus: 25-token pseudo-paragraph
    chunks, min-id owner keeps its copy, every other document drops the
    duplicated paragraph — the fixed-boundary form of exact-substring
    dedup. dedup.paragraph_dedup."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nch = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(_PARA_CHUNK))).cast("int"), F.lit(1)
    )
    paras = F.transform(
        F.sequence(F.lit(0), nch - F.lit(1)),
        lambda j: F.array_join(
            F.slice(toks, j * _PARA_CHUNK + 1, _PARA_CHUNK), " "
        ),
    )
    d2 = d.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .otherwise(F.array_join(paras, "\n\n"))
        .alias("text"),
    )
    return dedup.paragraph_dedup(
        d2, "text", "doc_id", sep="\n\n", min_docs=2, keep="first"
    )


# --- weighted priority sampling -------------------------------------------


@register(
    "q_priority_sample",
    sampling.priority_sample_oracle_sql("n_chars", "doc_id", 100),
    registered=False,  # shadow (r11 swap: q_dialect_pipe_shard ->
    # window): the sampling family keeps q_dsir_sample, q_dialect_sample
    # and the quota stages in-window; the weighted priority sample stays
    # oracle-checked here in the local gate
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # coin_lane='libm': the gate hash-compares against the DuckDB oracle,
    # which shares glibc ln; production callers keep the 'jvm' default
    return sampling.priority_sample(d, "n_chars", "doc_id", k=100,
                                    coin_lane="libm")


# --- PCA power iteration --------------------------------------------------


@register(
    "q_pca_project",
    pca.pca_oracle_sql(dim=64, scale=1000, vscale=10000, iters=2),
    # promoted to the driver window in round 4 (swap with q_text_repetition)
)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    out = pca.pca_project(e, "embedding", dim=64, scale=1000, vscale=10000, iters=2)
    return out.select("vec_id", "label", "proj")


# --- train/eval split leakage ---------------------------------------------


@register(
    "q_split_leakage",
    # 80/20 hash split (md5 buckets, boundary 8000/10000) + the exact
    # n-gram-Jaccard pair CTE (q_dedup_ngram shape); pairs straddling the
    # split are the leaks. Labels recomputed from ids on both engines.
    """
    WITH s AS (
      SELECT doc_id,
             CASE WHEN len(string_split(lower(trim(text)), ' ')) >= 3 THEN
               list_distinct(list_transform(
                 range(0, len(string_split(lower(trim(text)), ' ')) - 2),
                 i -> array_to_string((string_split(lower(trim(text)), ' '))[i+1:i+3], ' ')))
             ELSE [array_to_string(string_split(lower(trim(text)), ' '), ' ')] END AS sh
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / (CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                           THEN CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END),
                   6) AS jaccard
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
    ),
    lab AS (
      SELECT id_a, id_b, jaccard,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(id_a AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 8000
                  THEN 'train' ELSE 'eval' END AS la,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(id_b AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 8000
                  THEN 'train' ELSE 'eval' END AS lb
      FROM pairs WHERE jaccard >= 0.2
    )
    SELECT CASE WHEN la = 'train' THEN id_a ELSE id_b END AS train_id,
           CASE WHEN la = 'train' THEN id_b ELSE id_a END AS eval_id,
           jaccard
    FROM lab WHERE la <> lb
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators.pipeline import split_leakage

    d = load(spark, sf_dir, "documents")
    return split_leakage(
        d, "text", "doc_id", {"train": 0.8, "eval": 0.2}, "train", "eval", 0.2
    )


@register(
    "q_nb_confusion",
    # classifier eval: the full NB pipeline (same CTE twin) aggregated to
    # a per-(true, predicted) confusion matrix — the quality check run
    # before trusting any model-based corpus filter.
    f"""
    SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
    FROM ({classify.nb_oracle_sql(["de", "en", "es", "fr", "zh"], vocab_size=2000)})
    GROUP BY lang, pred
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    model = classify.nb_train(d, "text", "lang", vocab_size=2000)
    return (
        classify.nb_score(d, model, "text", "doc_id")
        .groupBy("lang", "pred")
        .agg(F.count("*").cast("long").alias("n"))
    )


# --- histogram + source overlap -------------------------------------------


@register(
    "q_histogram",
    profiling.histogram_oracle_sql("n_chars", 0.0, 600.0, 12, "documents"),
    registered=False,  # shadow: driver window full; locally gated
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return profiling.histogram(d, "n_chars", 0.0, 600.0, 12)


@register(
    "q_source_overlap",
    """
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
      SELECT source, unnest(range(1, len(t) - 8 + 2)) AS i, t
      FROM toks WHERE len(t) >= 8
    ),
    gs AS (
      SELECT DISTINCT source, md5(array_to_string(t[i:i + 7], ' ')) AS h FROM g
    )
    SELECT a.source AS group_a, b.source AS group_b,
           CAST(count(*) AS BIGINT) AS shared_spans
    FROM gs a JOIN gs b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.source_overlap_matrix(d, "text", "source", k=8)


# --- BM25 retrieval --------------------------------------------------------


@register(
    "q_bm25",
    retrieval.bm25_oracle_sql(["spark", "query", "join", "vector"], top_k=25),
    # driver window (r5 swap: q_ann_sq -> shadow)
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k keyword retrieval (fixed-point exact ranking):
    corpus-bounded model artifacts, filter-before-shuffle tf pass,
    TakeOrderedAndProject top-k. operators/retrieval.py."""
    d = load(spark, sf_dir, "documents")
    return retrieval.bm25_scores(
        d, "text", "doc_id", ["spark", "query", "join", "vector"], top_k=25
    )


# --- DSIR importance resampling -------------------------------------------


@register(
    "q_dsir_sample",
    importance.dsir_oracle_sql("lang = 'en'", k=80, n_buckets=256),
    # driver window (r5 swap: q_mixture -> shadow)
)
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling toward the English sub-corpus:
    hashed unigram+bigram bucket models (one counting pass, bounded),
    zero-shuffle log-weight fold, Gumbel-top-k draw ∝ exp(logw).
    operators/importance.py."""
    d = load(spark, sf_dir, "documents")
    return importance.dsir_sample(
        d, "text", "doc_id", "lang = 'en'", k=80, n_buckets=256,
        hash_family="md5",   # determinism lane: the oracle replays md5 buckets
        coin_lane="libm",    # oracle-paired Gumbel coin (glibc ln, like DuckDB)
    )


# --- grouped order statistics ---------------------------------------------


@register(
    "q_group_quantiles",
    stats.quantiles_oracle_sql("n_chars", ["lang"], (0.25, 0.5, 0.9), "documents"),
    # driver window (r6 swap: q_agg_distinct -> shadow)
)
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (percentile_disc rank rule,
    one shared Exchange for both window functions). operators/stats.py."""
    d = load(spark, sf_dir, "documents")
    return stats.group_quantiles(d, "n_chars", ["lang"], (0.25, 0.5, 0.9))


@register(
    "q_group_mode",
    stats.mode_oracle_sql("o_orderpriority", ["o_orderstatus"], "orders"),
    registered=False,  # shadow: driver window full; locally gated
)
def q_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent order priority per status — two hash aggregations,
    deterministic (count DESC, value ASC) tie rule, no sort."""
    o = load(spark, sf_dir, "orders")
    return stats.group_mode(o, "o_orderpriority", ["o_orderstatus"])


# --- canonical-survivor selection -----------------------------------------


@register(
    "q_canonical_keep",
    # same recursive-closure oracle as q_dedup_clusters, but the survivor
    # is the arg-max by (n_chars DESC, doc_id ASC) — "keep the best, not
    # the first" curation policy. Null scores coalesce to -Infinity.
    """
    WITH RECURSIVE s AS (
      SELECT doc_id,
             CASE WHEN len(string_split(lower(trim(text)), ' ')) >= 3 THEN
               list_distinct(list_transform(
                 range(0, len(string_split(lower(trim(text)), ' ')) - 2),
                 i -> array_to_string((string_split(lower(trim(text)), ' '))[i+1:i+3], ' ')))
             ELSE [array_to_string(string_split(lower(trim(text)), ' '), ' ')] END AS sh
      FROM documents
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / (CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                          THEN CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END),
                  6) >= 0.2
    ),
    e AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    sc AS (
      SELECT c.doc_id, c.component,
             coalesce(CAST(d.n_chars AS DOUBLE), CAST('-infinity' AS DOUBLE)) AS score
      FROM comp c JOIN documents d USING (doc_id)
    ),
    k AS (
      SELECT component,
             first(doc_id ORDER BY score DESC, doc_id ASC) AS keep_id
      FROM sc GROUP BY component
    )
    SELECT sc.doc_id, sc.component, sc.score, k.keep_id,
           sc.doc_id = k.keep_id AS is_kept
    FROM sc JOIN k USING (component)
    """,
    registered=False,  # shadow: driver window full; locally gated
)
def q_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from csvtool_spark.operators import components

    d = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.2)
    return components.canonical_select(d, pairs, "doc_id", "n_chars")


# --- funnel analysis -------------------------------------------------------


@register(
    "q_funnel",
    funnel.funnel_oracle_sql(
        "user_id", "ts", "event_type", ["signup", "click", "purchase"]
    ),
    # driver window (r5 swap: q_lm_score -> shadow)
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → click → purchase funnel: strict event-time progression,
    greedy earliest-match chain as a single-shuffle array fold (the
    oracle is the independent k-pass min-chain). operators/funnel.py."""
    e = load(spark, sf_dir, "events")
    return funnel.funnel(e, "user_id", "ts", "event_type",
                         ["signup", "click", "purchase"])


# --- PII scrubbing ---------------------------------------------------------


@register(
    "q_pii_scrub",
    redact.pii_scrub_oracle_sql(max_pii_fraction=0.2),
    # driver window (r5 swap: q_chunk_docs -> shadow)
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub policy: density-gate then redact with the precision-
    biased battery (emails, IPv4, strict phones, long digit runs) — pure
    Column trees in the Java∩RE2 regex subset so the DuckDB twin matches
    byte-for-byte. operators/redact.py."""
    d = load(spark, sf_dir, "documents")
    return redact.redact_documents(d, "text", "doc_id", max_pii_fraction=0.2)


# --- dataset datasheet -----------------------------------------------------


from csvtool_spark.operators.pipeline import dataset_report_oracle_sql  # noqa: E402


@register(
    "q_dataset_report",
    dataset_report_oracle_sql(),
    # driver window (r5 swap: q_agg_implicit -> shadow)
)
def q_dataset_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet: docs/tokens/sources/langs, mean+median length,
    exact-dup rate, PII-doc rate — 8 rows from one aggregation pass plus
    the median rank pass. operators/pipeline.py:dataset_report."""
    from csvtool_spark.operators import pipeline as pipeline_ops2

    d = load(spark, sf_dir, "documents")
    return pipeline_ops2.dataset_report(d)


# --- cross-corpus decontamination ------------------------------------------


def cross_dedup_oracle_sql(
    new_pred: str,
    threshold: float = 0.4,
    n_hashes: int = 32,
    bands: int = 8,
    table: str = "documents",
) -> str:
    """The md5-lane cross-corpus pipeline end to end in DuckDB: both
    sides signed with the same KM lanes, banded, candidates from the
    new×ref band equi-join ONLY (never within a side), exact-Jaccard
    verified. ``new_pred`` is the SQL predicate naming the NEW side.
    Parameterized so the randomized differentials can replay it on
    arbitrary corpora, not just the fixed catalog split.
    NB: no MAX_BUCKET cap here (same deliberate omission as the
    within-corpus det twin q_dedup_minhash_det): at oracle scale no band
    bucket can approach the 1000-member cap the Spark side applies, so
    the pair sets are identical; a degenerate-boilerplate corpus would
    need the cap mirrored before the cand join."""
    rows = n_hashes // bands
    shingle_cte = _shingle_cte(table)
    return f"""
    WITH {shingle_cte},
    side AS (SELECT doc_id, ({new_pred}) AS is_new FROM {table}),
    hs AS (
      SELECT sh.doc_id,
             list_transform(sh.sh, s -> {{
               'h1': CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT),
               'h2': CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT)}}) AS hs
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, {n_hashes}), i ->
               list_min(list_transform(hs,
                 h -> (h.h1 + i * (h.h2 | 1)) % 4294967296))) AS sig
      FROM hs
    ),
    bands AS (
      SELECT s.doc_id, side.is_new, b AS band_id,
             array_to_string(list_transform(s.sig[b*{rows} + 1 : b*{rows} + {rows}],
               x -> CAST(x AS VARCHAR)), ',') AS band_key
      FROM sig s JOIN side USING (doc_id), unnest(generate_series(0, {bands - 1})) AS u(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
      WHERE a.is_new AND NOT b.is_new
    ),
    tokset AS (SELECT doc_id, list_distinct(t) AS ts FROM toks)
    SELECT c.new_id, c.ref_id, {_JACC} AS jaccard
    FROM cand c JOIN tokset x ON x.doc_id = c.new_id
                JOIN tokset y ON y.doc_id = c.ref_id
    WHERE {_JACC} >= CAST({float(threshold)!r} AS DOUBLE)
    """


@register(
    "q_cross_dedup",
    # "new" = src3/src4 documents, "ref" = the rest of the corpus.
    cross_dedup_oracle_sql("source IN ('src3', 'src4')"),
    # driver window (r5 swap: q_dedup_simhash_det -> shadow)
)
def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination (md5 determinism lane): near-dups
    BETWEEN the incoming src3/src4 shard and the existing corpus, never
    within a side. dedup.cross_corpus_neardup."""
    d = load(spark, sf_dir, "documents")
    new = d.filter(F.col("source").isin("src3", "src4"))
    ref = d.filter(~F.col("source").isin("src3", "src4"))
    return dedup.cross_corpus_neardup(
        new, ref, "text", "doc_id", threshold=0.4, n_hashes=32, bands=8,
        hash_family="md5",
    )


# --- winsorization ---------------------------------------------------------


@register(
    "q_winsorize",
    stats.winsorize_oracle_sql(
        "n_chars", ["lang"], 0.1, 0.9, "documents", ["doc_id", "lang", "n_chars"]
    ),
    registered=False,  # shadow (r7 swap: slot given to q_cluster_sample);
    # the stats row keeps q_group_quantiles in the window
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language winsorized document lengths ([p10, p90] clamp):
    rank-pass bounds broadcast back onto the scan. stats.winsorize."""
    d = load(spark, sf_dir, "documents")
    return stats.winsorize(d, "n_chars", ["lang"], 0.1, 0.9).select(
        "doc_id", "lang", "n_chars", "n_chars_wins"
    )


# --- profile drift ---------------------------------------------------------


@register(
    "q_profile_drift",
    profiling.profile_drift_oracle_sql(
        "orders", ["o_orderkey", "o_custkey", "o_orderstatus"],
        "(SELECT * FROM orders WHERE o_orderkey % 3 <> 0)",
        ["o_orderkey", "o_custkey", "o_orderpriority"],
    ),
    registered=False,  # shadow (r7 swap: slot given to q_dialect_sample);
    # profiling stays driver-evidenced via q_dataset_report
)
def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract drift between two snapshots (here: full orders vs a
    filtered next-day cut with one column swapped — row-count, null,
    cardinality, min/max and schema-presence changes all surface).
    profiling.profile_drift."""
    o = load(spark, sf_dir, "orders")
    return profiling.profile_drift(
        o, o.filter(F.col("o_orderkey") % 3 != 0),
        ["o_orderkey", "o_custkey", "o_orderstatus"],
        ["o_orderkey", "o_custkey", "o_orderpriority"],
    )


# --- fuzzy record linkage --------------------------------------------------


@register(
    "q_fuzzy_linkage",
    linkage.fuzzy_pairs_oracle_sql(
        "(SELECT doc_id, substr(text, 1, 40) AS title FROM documents "
        " WHERE source IN ('src0', 'src1'))",
        "(SELECT doc_id AS doc_id_b, substr(text, 1, 40) AS title_b "
        " FROM documents WHERE source NOT IN ('src0', 'src1'))",
        "title", "title_b", "doc_id", "doc_id_b",
        threshold=0.5, max_gram_freq=200,
    ),
    # driver window (r6 swap: q_semantic_dedup -> shadow)
)
def q_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution demo: link documents across source groups by
    char-trigram Jaccard of their 40-char title prefixes (near-dup docs
    share prefixes; the gram-frequency prune kills stop-grams).
    operators/linkage.py."""
    d = load(spark, sf_dir, "documents")
    a = d.filter(F.col("source").isin("src0", "src1")).select(
        "doc_id", F.substring("text", 1, 40).alias("title")
    )
    b = d.filter(~F.col("source").isin("src0", "src1")).select(
        F.col("doc_id").alias("doc_id_b"), F.substring("text", 1, 40).alias("title_b")
    )
    return linkage.fuzzy_string_pairs(
        a, b, "title", "title_b", "doc_id", "doc_id_b",
        threshold=0.5, max_gram_freq=200,
    )


@register(
    "q_nb_calibration",
    classify.nb_calibration_oracle_sql(
        ["de", "en", "es", "fr", "zh"], vocab_size=2000, n_buckets=8
    ),
    registered=False,  # shadow (r9 swap: slot given to
    # q_dialect_pipe_clean; the classify family keeps q_nb_classify in
    # the window, calibration stays oracle-green locally)
)
def q_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-bucketed accuracy of the NB language classifier — the
    calibration report behind a keep/drop margin cut.
    classify.nb_calibration."""
    d = load(spark, sf_dir, "documents")
    model = classify.nb_train(d, "text", "lang", vocab_size=2000)
    return classify.nb_calibration(d, model, "text", "doc_id", "lang",
                                   n_buckets=8)


@register(
    "q_minhash_recall",
    dedup.minhash_recall_oracle_sql(threshold=0.4, sample_frac=0.5),
    registered=False,  # shadow (r9 swap: slot given to
    # q_dialect_pipe_gopher — a new judged family; recall-eval machinery
    # stays in-window via q_ann_recall, and the minhash pair pipeline
    # via q_dedup_minhash_det; was in-window r7-r9)
)
def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall of the 8×4 MinHash banding vs exact SHINGLE-Jaccard ground
    truth (the similarity the s-curve is stated over) on a deterministic
    half-corpus sample — the banding tuning eval (dedup twin of
    q_ann_recall). dedup.minhash_recall_eval."""
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_recall_eval(
        d, "text", "doc_id", threshold=0.4, sample_frac=0.5,
        n_hashes=32, bands=8, hash_family="md5",
    )


# --- fixed-point k-means clustering ---------------------------------------


@register(
    "q_kmeans",
    clustering.kmeans_oracle_sql(k=8, iters=2),
    registered=False,  # shadow (r13 swap: slot given to
    # q_mixture_temperature_a75 — round-12 directive #2; the clustering
    # family keeps q_pca_project in-window and q_cluster_sample +
    # this row oracle-green in the local gate; was in-window r6-r12)
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-point Lloyd clustering of the embedding
    corpus: int64-quantized vectors, exact integer distances, half-away
    centroid means — bit-exact vs the unrolled DuckDB twin. The
    cluster-balanced-sampling / per-cluster-dedup building block.
    operators/clustering.py."""
    e = load(spark, sf_dir, "embeddings")
    return clustering.kmeans(
        e, "embedding", "vec_id", k=8, iters=2, extra_cols=("label",)
    )


@register(
    "q_cluster_sample",
    clustering.cluster_balanced_oracle_sql(k=8, per_cluster=10, iters=2),
    registered=False,  # shadow (r10 swap: q_dialect_pipe_quota_tokens ->
    # window): clustering keeps q_kmeans in-window; the balanced-sample
    # derivative stays oracle-checked here in the local gate
)
def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced curation sample: ≤10 vectors per k-means cluster,
    drawn by a deterministic md5 coin — flattens the topic mixture a
    uniform sample would skew. clustering.cluster_balanced_sample."""
    e = load(spark, sf_dir, "embeddings")
    return clustering.cluster_balanced_sample(
        e, "embedding", "vec_id", k=8, per_cluster=10, iters=2
    )


# --- duplicated-run diagnostic (round 8) -----------------------------------


@register(
    "q_dup_runs",
    dedup.duplicate_run_oracle_sql(k=3, min_docs=2),
    registered=False,  # shadow: the span family's run-level view; the
    # in-window slots stay with q_span_removal (the rewrite) and
    # q_paragraph_dedup (the paragraph member)
)
def q_dup_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length duplicated-substring diagnostic: maximal runs of
    consecutive duplicated 3-token windows per document — n_runs, window
    positions and the longest duplicated substring in tokens.
    dedup.duplicate_run_stats (k=3 so the corpus' near-dup families
    actually produce runs at catalog scale)."""
    d = load(spark, sf_dir, "documents")
    return dedup.duplicate_run_stats(d, "text", "doc_id", k=3)


@register(
    "q_run_removal",
    dedup.run_removal_oracle_sql(k=3, min_docs=2, min_run_tokens=8),
    # driver window (r9 swap: q_span_removal -> shadow): Lee et al.'s
    # actual >=L rule with the full-run exactness verification — the
    # strongest member of the span-removal family
)
def q_run_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-thresholded duplicate-substring removal (Lee et al.'s
    actual rule): only duplicated runs of ≥ 8 tokens are dropped —
    3-token windows merge into maximal islands first, so a shared long
    passage goes while a merely-common trigram stays.
    dedup.remove_duplicate_runs."""
    d = load(spark, sf_dir, "documents")
    return dedup.remove_duplicate_runs(
        d, "text", "doc_id", k=3, min_run_tokens=8
    )


# --- columnar format lane: ORC write+read round trip (round 11) ------------


@register(
    "q_orc_roundtrip",
    # the twin reads the ORIGINAL parquet: equality pins that the ORC
    # write+read round trip is value-exact (types, timestamps, doubles)
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
             AS sum_price_c,
           CAST(min(o_orderdate) AS TIMESTAMP) AS first_dt,
           CAST(max(o_orderdate) AS TIMESTAMP) AS last_dt
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY o_orderpriority
    """,
    # driver window (r13 swap: q_dialect_pipe_gopher -> shadow,
    # round-12 directive #2): the columnar sink->re-read contract —
    # the seam two consecutive review passes found issues in
    # (engine.py write_single_result / save_parquet dispatch) — gets
    # driver standing; was shadow r11-r12
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format-lane round trip: a filtered orders slice is written to
    ORC, read back through the ENGINE's columnar dispatch
    (CsvEngine.resolve_table -> _load's .orc lane), and aggregated —
    while the DuckDB twin reads the original parquet. A value or type
    lost by the ORC writer/reader (timestamp precision, double
    fidelity, priority strings) breaks the hash match. Exercises the
    same lane as OUT.ORC GUI saves (engine.write_single_result)."""
    import os
    import tempfile

    from csvtool_spark.engine import CsvEngine

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
    )
    # pid-keyed: a concurrent gate + soak pair on the same sf must not
    # overwrite each other's file mid-read (round-11 review)
    sfname = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = os.path.join(
        tempfile.gettempdir(),
        f"csvtool_spark_orc_roundtrip_{sfname}_{os.getpid()}.orc",
    )
    o.write.mode("overwrite").orc(path)
    back = CsvEngine(spark).resolve_table(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents(F.col("o_totalprice"))).alias("sum_price_c"),
        F.min("o_orderdate").alias("first_dt"),
        F.max("o_orderdate").alias("last_dt"),
    )


@register(
    "q_tsv_roundtrip",
    # twin reads the ORIGINAL parquet: equality pins the .tsv sink ->
    # CSV-INFERENCE read-back loop (types re-inferred from bytes: ints
    # back to int64, strings stay strings, NULL text -> empty field ->
    # null token -> NULL again)
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           min(text) AS first_text,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM documents
    GROUP BY source
    """,
    # driver window (r12 swap: q_dialect_pipe_bestdedup -> shadow): the
    # delimited format lane's standing oracle row — the sink->re-read
    # contract (engine.write_single_result -> _load .tsv inference)
    # where two round-11 review passes found the most seams; the chain
    # fuzzer's .tsv base covers the same lane under random stages
)
def q_tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited format-lane round trip: the documents table is written
    as a single TSV through the engine's sink dispatch and read back
    through the dialect's CSV-INFERENCE lane (no schema hints — types
    come from the 10k-row sample), then aggregated; the DuckDB twin
    reads the original parquet. A type mis-inferred (int64 column
    arriving as string) or a value mangled by the quote/sep round trip
    breaks the dtype-exact hash match."""
    import os
    import tempfile

    from csvtool_spark.engine import CsvEngine, write_single_result

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    # pid-keyed against concurrent gate/soak runs (round-11 review)
    sfname = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = os.path.join(
        tempfile.gettempdir(),
        f"csvtool_spark_tsv_roundtrip_{sfname}_{os.getpid()}.tsv",
    )
    write_single_result(d, path)
    back = CsvEngine(spark).resolve_table(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("text").alias("first_text"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )


@register(
    "q_mixture_temperature",
    # alpha=0.5 rides the correctly-rounded IEEE sqrt lane, so the rate
    # table (floor(1e6*sqrt(n_min/n_s)) clamped to [1, 1e6]) is
    # BIT-IDENTICAL cross-engine and the row set hash-matches exactly
    """
    WITH c AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tok
               FROM documents GROUP BY source),
    m AS (SELECT min(tok) AS mn FROM c),
    r AS (SELECT source,
                 greatest(CAST(1 AS BIGINT), least(CAST(1000000 AS BIGINT),
                   CAST(floor(1000000.0 *
                     sqrt(CAST(m.mn AS DOUBLE) / CAST(tok AS DOUBLE)))
                   AS BIGINT))) AS keep_ppm
          FROM c, m)
    SELECT d.doc_id, d.source, r.keep_ppm
    FROM documents d JOIN r USING (source)
    WHERE CAST(concat('0x',
            substr(md5('mixture:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 1000000 < r.keep_ppm
    """,
    # driver window (r12 swap: q_dialect_pipe_normalize -> shadow): the
    # mixture family's RATE-DERIVATION member (q_mixture pins explicit
    # target shares in shadow; this pins the temperature rule real
    # multilingual recipes use to SET them; q_dsir_sample keeps the
    # importance-sampling member in window)
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced source sampling (alpha=0.5): keep rates
    derived as 1e6*(n_min/n_s)^(1-alpha) from per-source n_chars
    weights, so kept weight ∝ n_s^alpha — the sampling-temperature rule
    multilingual pretraining recipes use to upweight small sources —
    applied through the shared deterministic mixture coin.
    sampling.temperature_mixture."""
    from csvtool_spark.operators.sampling import temperature_mixture

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return temperature_mixture(
        d, "source", "doc_id", "n_chars", alpha=0.5
    ).select("doc_id", "source", "keep_ppm")


@register(
    "q_mixture_temperature_a75",
    # alpha=0.75 -> exponent 0.25 rides sqrt(sqrt(x)): two correctly-
    # rounded IEEE ops, and the twin mirrors the engine's EXACT two-sqrt
    # composition (pow(x,0.25) would not be bit-identical), so the rate
    # table hash-matches exactly like the alpha=0.5 lane (round 12)
    """
    WITH c AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS tok
               FROM documents GROUP BY source),
    m AS (SELECT min(tok) AS mn FROM c),
    r AS (SELECT source,
                 greatest(CAST(1 AS BIGINT), least(CAST(1000000 AS BIGINT),
                   CAST(floor(1000000.0 *
                     sqrt(sqrt(CAST(m.mn AS DOUBLE) / CAST(tok AS DOUBLE))))
                   AS BIGINT))) AS keep_ppm
          FROM c, m)
    SELECT d.doc_id, d.source, r.keep_ppm
    FROM documents d JOIN r USING (source)
    WHERE CAST(concat('0x',
            substr(md5('mixture:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 1000000 < r.keep_ppm
    """,
    # driver window (r13 swap: q_kmeans -> shadow, round-12 directive
    # #2): the round-12 flagship exactness lane — the second
    # correctly-rounded exponent (alpha=0.75 as sqrt∘sqrt, bit-exact
    # cross-engine); the window also holds alpha=0.5
    # (q_mixture_temperature); was shadow in r12
)
def q_mixture_temperature_a75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced source sampling at alpha=0.75: the exponent
    0.25 lane (keep_ppm = 1e6*(n_min/n_s)^0.25) computed as sqrt∘sqrt so
    the realized rate table is bit-identical cross-engine.
    sampling.temperature_mixture."""
    from csvtool_spark.operators.sampling import temperature_mixture

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return temperature_mixture(
        d, "source", "doc_id", "n_chars", alpha=0.75
    ).select("doc_id", "source", "keep_ppm")
