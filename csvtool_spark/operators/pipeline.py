"""Corpus curation pipeline — the operators composed the way an LLM
training-data job actually runs them:

    score → filter (quality, language) → exact dedup → near-dedup → emit

One declarative plan end-to-end: Catalyst fuses the scoring/filter stages
into the scan, the two dedup stages are hash/LSH joins, and nothing
materializes until the sink. At 100 TB each stage is shuffle-bounded by
its own key (text hash, band key) — no stage is all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csvtool_spark.functions import caching
from csvtool_spark.operators import dedup, textstats


def curate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en",),
    near_dup_threshold: float | None = 0.6,
) -> DataFrame:
    """Return the curated corpus: one surviving row per kept document with
    its quality/language annotations.

    Stages:
    1. annotate: quality score, language guess, token count (pure scan);
    2. filter: quality ≥ min_quality AND language ∈ languages;
    3. exact dedup: keep the min-id representative per normalized text;
    4. near dedup (optional): drop the higher-id member of every
       MinHash-verified near-duplicate pair.
    """
    from pyspark.sql import Window

    from csvtool_spark.operators.planshape import Where, columns, place

    t = F.col(text_col)
    annotate = columns({
        "quality": textstats.quality_score(t),
        "lang_guess": textstats.lang_id(t),
        "n_tokens": textstats.token_count(t),
    })
    gate = Where(
        (F.col("quality") >= min_quality) & F.col("lang_guess").isin(*languages),
        ("quality", "lang_guess"),
    )
    kept = place(df.select(id_col, text_col), [lambda _: [annotate, gate]])

    # exact dedup: min-id survivor per hash, as ONE window over the hash
    # partition — the same one-pass shape as the dialect dedup stage. A
    # survivor aggregate joined back ran the annotate pass, Arrow
    # crossing included, twice (round-14 plan: 2 scans, 2
    # ArrowEvalPython); the window has one branch: one scan, one
    # crossing, one exchange (guide §2.1/§4). Ids are unique, so id ==
    # group min is exactly the min-id survivor. Skew: a viral duplicated
    # document makes its __h partition hot either way.
    kept = kept.withColumn("__h", F.md5(dedup.normalized(F.col(text_col))))
    kept = (
        kept.withColumn(
            "__min_id", F.min(id_col).over(Window.partitionBy("__h"))
        )
        .filter(F.col(id_col) == F.col("__min_id"))
        .drop("__h", "__min_id")
    )

    if near_dup_threshold is not None:
        pairs = dedup.near_dup_pairs_minhash(
            kept, text_col, id_col, threshold=near_dup_threshold
        )
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        kept = kept.join(losers, id_col, "left_anti")

    return kept


def quality_gate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    quantile: float = 0.25,
) -> DataFrame:
    """Keep documents at or above their GROUP's quality quantile — the
    relative variant of a fixed quality cut (a fixed threshold calibrated
    on web text guts a code or math source; per-source quantiles keep the
    best of every source). Returns (id, group, quality).

    Scale shape: score is a pure scan expression; thresholds are one
    combiner-backed aggregate (rows = #groups, exact interpolated
    percentile — swap in approx_percentile's t-digest when groups are
    huge); the tiny threshold table broadcasts back onto the scan. The
    corpus itself never shuffles."""
    # persisted: the scored frame feeds BOTH the threshold aggregate and
    # the gating join probe — without it the quality expression (three
    # string_split passes per row) runs over the corpus twice
    scored = caching.persist(df.select(
        F.col(id_col), F.col(group_col),
        textstats.quality_score(F.col(text_col)).alias("quality"),
    ))
    # The threshold is rounded to the 6-decimal precision quality_score
    # itself emits (and the oracle rounds identically): Spark `percentile`
    # and DuckDB `quantile_cont` interpolate with different expression
    # shapes, and a last-ulp difference would flip rows sitting exactly on
    # the boundary.
    thr = quality_thresholds(scored, group_col, quantile)
    return (
        scored.join(F.broadcast(thr), group_col)
        .filter(F.col("quality") >= F.col("__thr"))
        .select(id_col, group_col, "quality")
    )


def quality_thresholds(
    scored: DataFrame, group_col: str, quantile: float = 0.25
) -> DataFrame:
    """(group, __thr) per-group quality quantile from a frame carrying a
    ``quality`` column — the offline "training" half of the gate, reusable
    by the streaming twin (an unbounded stream has no global quantile, so
    production gates a stream against thresholds trained on a batch)."""
    return scored.groupBy(group_col).agg(
        F.round(F.expr(f"percentile(quality, {float(quantile)})"), 6).alias("__thr")
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    id_col: str,
    seen_hash_col: str | None = None,
) -> DataFrame:
    """Ingest-time dedup: drop arriving documents whose normalized text
    hash already exists in the seen corpus, then exact-dedup within the
    batch itself (min-id survivor). The incremental complement of
    ``dedup.exact_dedup``.

    Pass ``seen_hash_col`` when the accumulated corpus maintains a hash
    table (e.g. ``exact_dedup``'s ``text_hash`` output) — then the daily
    batch probes it without rescanning corpus text. Without it,
    ``seen_df[text_col]`` is hashed on the fly (a full corpus text pass —
    fine for one-off jobs, not for a daily ingest loop).

    Scale shape: both sides reduce to (hash) / (id, hash) BEFORE the
    left-anti join, so the shuffle carries 16-byte hashes, never text;
    the seen side is typically that maintained hash table read bucketed
    on the hash for a shuffle-free probe."""
    h = F.md5(dedup.normalized(F.col(text_col)))
    seen_h = F.col(seen_hash_col) if seen_hash_col else h
    seen = seen_df.select(seen_h.alias("__h")).distinct()
    batch = new_df.select(F.col(id_col), h.alias("__h"))
    fresh = batch.join(seen, "__h", "left_anti")
    return (
        fresh.groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, F.col("__h").alias("text_hash"))
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
    extras: tuple[str, ...] = (),
) -> DataFrame:
    """Split documents into overlapping token windows — the
    context-length prep step before packing/tokenization. Chunk i covers
    tokens [i·stride, i·stride + chunk_tokens) with stride =
    chunk_tokens − overlap; the last window may be short; documents
    shorter than one window yield exactly one chunk. Pure per-row
    explode — no shuffle, chunk count is derived arithmetic, and the
    window arithmetic is integer so the same chunks come out of any
    engine. Returns (id, *extras, chunk_id, chunk_text, n_chunk_tokens);
    ``extras`` columns ride the explode unchanged (a join-back would
    shuffle, and on a STREAMING frame would be an illegal
    stream-stream join — this is why the dialect chunk stage and the
    streaming pipe carry columns here instead)."""
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap {overlap} must be < chunk_tokens {chunk_tokens}")
    stride = chunk_tokens - overlap
    ex = [F.col(c) for c in extras]
    # null text ≡ empty text: one '' chunk (split('') is ['']) — without
    # the coalesce, null rows emit chunk_text '' with a NULL token count
    # (inconsistent), and DuckDB's array_to_string(NULL) disagrees
    toks = textstats.tokens(F.coalesce(F.col(text_col), F.lit("")))
    # ceil-div in INTEGER arithmetic (a float division would be exact only
    # under 2^53 and needs a truncation argument; div needs none)
    staged = df.select(F.col(id_col), *ex, toks.alias("__toks")).select(
        id_col,
        *extras,
        "__toks",
        F.expr(
            f"greatest(1L, (size(__toks) - {overlap} + {stride - 1}) div {stride})"
        ).alias("__nc"),
    )
    chunk = F.explode(F.sequence(F.lit(0).cast("long"), F.col("__nc") - 1))
    sliced = staged.select(
        F.col(id_col), *ex, F.col("__toks"), chunk.alias("chunk_id")
    ).select(
        F.col(id_col),
        *extras,
        F.col("chunk_id"),
        F.slice(
            F.col("__toks"), (F.col("chunk_id") * stride + 1).cast("int"), chunk_tokens
        ).alias("__ck"),
    )
    return sliced.select(
        id_col,
        *extras,
        "chunk_id",
        F.concat_ws(" ", F.col("__ck")).alias("chunk_text"),
        F.size("__ck").cast("long").alias("n_chunk_tokens"),
    )


def split_leakage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    fractions: dict[str, float],
    side_a: str,
    side_b: str,
    threshold: float = 0.2,
    k: int = 3,
) -> DataFrame:
    """Train/eval leakage audit: near-duplicate pairs that straddle a
    deterministic hash split — the check run before any held-out set is
    trusted (a test doc with a training near-dup inflates eval scores).

    Composition of existing primitives: exact n-gram-Jaccard pairs
    (shingle-blocked equi-join) + ``sampling.split_label``. Because the
    split is a pure function of the id, each pair's sides are labeled by
    *recomputing* the hash — no join against a label table. Returns one
    row per leaked pair: ``{side_a}_id``, ``{side_b}_id``, ``jaccard``.
    """
    from csvtool_spark.operators.sampling import split_label

    pairs = dedup.ngram_jaccard_pairs(df, text_col, id_col, threshold, k)
    la = split_label(F.col("id_a"), fractions)
    lb = split_label(F.col("id_b"), fractions)
    cross = pairs.filter(
        ((la == side_a) & (lb == side_b)) | ((la == side_b) & (lb == side_a))
    )
    return cross.select(
        F.when(la == side_a, F.col("id_a")).otherwise(F.col("id_b")).alias(f"{side_a}_id"),
        F.when(la == side_a, F.col("id_b")).otherwise(F.col("id_a")).alias(f"{side_b}_id"),
        "jaccard",
    )


def dataset_report(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    length_col: str = "n_chars",
) -> DataFrame:
    """One-pass dataset datasheet: the corpus-level numbers a training-run
    writeup (or a "datasheet for datasets") leads with, as (metric, value)
    rows — composition of the repo's curation primitives. The column
    parameters are the documents-schema defaults; any table with a text,
    a grouping/source, a language and a numeric length column fits.

    Metrics: n_docs, n_tokens, n_sources, n_langs, mean_n_chars,
    p50_n_chars (percentile_disc rank rule), exact_dup_rate (1 − distinct
    md5 / docs), pii_doc_rate (docs with ≥1 STRICT-battery match).

    Scale shape: everything except the median is ONE hash aggregation
    (count_distinct plans the documented Expand — swap in
    approx_count_distinct at 100 TB if ±2% is acceptable); the exact
    median comes from the VALUE HISTOGRAM — group by the length value
    (distinct lengths, a bounded set), then a cumulative count over that
    tiny histogram picks the smallest value whose running count reaches
    ``ceil(0.5·n)``, which is exactly the percentile_disc rank value. A
    corpus-wide rank window would move every row to one partition; the
    histogram window moves |distinct lengths| rows. The result is 8 rows
    regardless of corpus size (7 on an EMPTY snapshot: rate metrics go
    NULL via nullif — ANSI Spark would otherwise error where DuckDB's
    x/0 yields NULL — and the p50 row is skipped on both engines); all
    divisions are int-derived doubles in the same operation order as the
    oracle."""
    from pyspark.sql import Window

    from csvtool_spark.operators.dedup import normalized
    from csvtool_spark.operators.redact import STRICT_PATTERNS
    from csvtool_spark.operators.textstats import tokens

    # pii_doc_rate only needs "at least one match", so probe the RAW
    # text with rlike per pattern (stops at the first match; no match
    # arrays, no replaces). Equivalent to progressive-sum-of-counts > 0
    # by induction: the k-th progressive count is taken on text with
    # patterns 1..k-1 replaced, but whenever the earlier patterns did
    # not match, those replaces are the identity — so the first matching
    # pattern (in either formulation) sees the raw text, and "some count
    # > 0" ⟺ "some raw-text probe hits". Null text gives NULL rlike ->
    # the when() falls to 0, exactly like the coalesced zero counts
    # (round-14, guide §1.2; the oracle still runs the unconditional
    # progressive battery and re-proves value equality).
    has_pii = None
    for _, pat, _ in STRICT_PATTERNS:
        probe = F.col(text_col).rlike(pat)
        has_pii = probe if has_pii is None else has_pii | probe
    agg = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(normalized(F.col(text_col))))).alias("n_tokens"),
        F.count_distinct(F.col(source_col)).alias("n_sources"),
        F.count_distinct(F.col(lang_col)).alias("n_langs"),
        F.sum(length_col).alias("sum_chars"),
        F.count_distinct(F.md5(normalized(F.col(text_col)))).alias("n_distinct"),
        F.sum(F.when(has_pii, 1).otherwise(0)).alias("n_pii_docs"),
    )
    stacked = agg.select(
        F.expr(
            "stack(7,"
            " 'n_docs', CAST(n_docs AS DOUBLE),"
            " 'n_tokens', CAST(n_tokens AS DOUBLE),"
            " 'n_sources', CAST(n_sources AS DOUBLE),"
            " 'n_langs', CAST(n_langs AS DOUBLE),"
            " 'mean_n_chars', CAST(sum_chars AS DOUBLE) / nullif(n_docs, 0),"
            " 'exact_dup_rate', CAST(1.0 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / nullif(n_docs, 0),"
            " 'pii_doc_rate', CAST(n_pii_docs AS DOUBLE) / nullif(n_docs, 0)"
            ") AS (metric, value)"
        )
    )
    # exact p50 via the value histogram (the packing two-phase pattern):
    # corpus pass = one combinable groupBy; the window runs over the
    # bounded histogram, never the corpus
    v = F.col(length_col)
    hist = (
        df.filter(v.isNotNull() & ~F.isnan(v.cast("double")))
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_cum = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    p50 = (
        hist.select(
            "__v",
            F.sum("__c").over(w_cum).alias("__cum"),
            F.sum("__c").over(w_all).alias("__n"),
        )
        .filter(F.col("__cum") >= F.ceil(F.lit(0.5) * F.col("__n")))
        .agg(F.min("__v").alias("value"))
        # no measurable lengths (empty corpus / all-null) → NO p50 row,
        # matching the oracle's rank form which emits zero rows there —
        # a bare agg would otherwise emit a NULL-value row only on the
        # Spark side (round-4 ADVICE)
        .filter(F.col("value").isNotNull())
        .select(
            F.lit("p50_n_chars").alias("metric"), F.col("value").cast("double")
        )
    )
    return stacked.unionByName(p50)


def dataset_report_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    length_col: str = "n_chars",
) -> str:
    """DuckDB twin — same metric set, same int-derived double divisions
    (operation order mirrored), and the same STRICT pii battery
    (progressive counting). The median stays in the row_number rank form
    here — an INDEPENDENT implementation of the pinned percentile_disc
    semantics (the Spark side uses the value-histogram cumulative form;
    smallest value with running count ≥ ceil(0.5·n) ≡ the rank value)."""
    from csvtool_spark.operators.redact import STRICT_PATTERNS

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    cnt, cur = [], text_col
    for name, pat, repl in STRICT_PATTERNS:
        cnt.append(f"coalesce(len(regexp_extract_all({cur}, {lit(pat)})), 0)")
        cur = f"regexp_replace({cur}, {lit(pat)}, {lit(repl)}, 'g')"
    n_pii = " + ".join(cnt)
    return f"""
    WITH base AS (
      SELECT {text_col}, {lang_col} AS lang, {source_col} AS source,
             {length_col} AS n_chars,
             len(string_split(lower(trim({text_col})), ' ')) AS n_toks,
             md5(lower(trim({text_col}))) AS h,
             ({n_pii}) AS n_pii
      FROM {table}
    ),
    a AS (
      SELECT count(*) AS n_docs, sum(n_toks) AS n_tokens,
             count(DISTINCT source) AS n_sources,
             count(DISTINCT lang) AS n_langs,
             sum(n_chars) AS sum_chars,
             count(DISTINCT h) AS n_distinct,
             sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS n_pii_docs
      FROM base
    ),
    r AS (
      SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn,
             count(*) OVER () AS n
      FROM base WHERE n_chars IS NOT NULL
        AND NOT isnan(CAST(n_chars AS DOUBLE))
    )
    SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
    UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM a
    UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
    UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
    UNION ALL SELECT 'mean_n_chars', CAST(sum_chars AS DOUBLE) / n_docs FROM a
    UNION ALL SELECT 'exact_dup_rate',
              CAST(1.0 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_docs FROM a
    UNION ALL SELECT 'pii_doc_rate', CAST(n_pii_docs AS DOUBLE) / n_docs FROM a
    UNION ALL SELECT 'p50_n_chars', CAST(n_chars AS DOUBLE)
              FROM r WHERE rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)
    """
