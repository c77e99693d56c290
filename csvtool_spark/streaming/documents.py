"""Structured Streaming over the DOCUMENTS table — the training-data
ingest shape: crawl shards land in a directory, each new file becomes a
micro-batch, and the curation operators run incrementally.

- ``document_stream``: file-source stream of document shards.
- ``streaming_vocab``: running corpus token counts (update mode) — the
  incremental twin of ``textstats.heavy_hitters``. State is one row per
  distinct token (Zipf-bounded), with map-side partial combine per batch.
- ``curated_stream``: quality-gate + ingest-dedup chain — the
  ``quality(text, min=…)`` pipe (stateless scoring/filtering) plus
  ``dropDuplicatesWithinWatermark`` keyed on the content hash, so a
  shard replayed by an at-least-once source (or the same document
  arriving from two crawls inside the watermark) is emitted once. Documents carry no event time, so dedup state is bounded
  by PROCESSING-time watermark on an ingest timestamp — the standard
  ingest-dedup pattern when the payload has no clock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csvtool_spark.operators import dedup, textstats

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents_dir(spark: SparkSession, stream_dir: str) -> DataFrame:
    """File-source stream over a directory of document parquet shards."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .format("parquet")
        .load(stream_dir)
    )


def document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the testdata documents shard into a fresh stream directory
    (production points at the crawl-drop directory instead)."""
    import shutil
    import tempfile

    stream_dir = tempfile.mkdtemp(prefix="docs_stream_")
    shutil.copy(f"{sf_dir}/documents.parquet", f"{stream_dir}/documents.parquet")
    return stream_documents_dir(spark, stream_dir)


def streaming_vocab(stream: DataFrame) -> DataFrame:
    """Running token counts over the arriving corpus (update output mode):
    the SAME ``textstats.token_counts`` aggregate as batch heavy hitters,
    run incrementally; the sink ranks top-k — a streaming query cannot
    globally sort unbounded state."""
    return textstats.token_counts(stream, "text")


def curated_stream(
    stream: DataFrame,
    min_quality: float = 0.3,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Incremental ingest curation: the ``quality(text, min=…)`` pipe
    (stateless score and gate, ``piped_stream``) → content-hash dedup
    with processing-time-bounded state. Emits the surviving documents
    with their quality score and content hash."""
    from decimal import Decimal

    # the cut as an exact positional literal; a quality score is never
    # negative, so a negative cut keeps what 0 keeps
    cut = format(Decimal(max(float(min_quality), 0.0)), "f")
    scored = piped_stream(
        stream.select("doc_id", "source", "text"), f"quality(text, min={cut})"
    ).withColumn("text_hash", F.md5(dedup.normalized(F.col("text"))))
    return (
        scored.withColumn("__ingest_ts", F.current_timestamp())
        .withWatermark("__ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .drop("__ingest_ts")
    )


def quality_gated_stream(
    stream: DataFrame,
    thresholds: DataFrame,
    group_col: str = "source",
    default_threshold: float | None = None,
) -> DataFrame:
    """Streaming twin of ``pipeline.quality_gate``: per-source quantile
    thresholds are trained OFFLINE on a reference batch
    (``pipeline.quality_thresholds``) and applied online via a
    stream-static broadcast join — an unbounded stream has no global
    quantile, so the production shape is train-offline/apply-online.
    Stateless: no watermark, no state store; each micro-batch is a scan +
    broadcast probe. Streaming plans get no AQE, hence the explicit
    ``F.broadcast`` (a shuffle join would re-shuffle every micro-batch).
    Emits (doc_id, group, quality) for survivors.

    Sources ABSENT from ``thresholds`` — the one case only the online
    gate can meet (a new crawl source appears after training) — fall back
    to ``default_threshold``; with the default ``None`` they pass
    ungated (conservative: keep-and-flag beats silently discarding 100%
    of a new source; downstream can route by the null quality vs
    threshold comparison or retrain)."""
    scored = stream.select(
        "doc_id",
        F.col(group_col),
        textstats.quality_score(F.col("text")).alias("quality"),
    )
    thr = (
        F.coalesce(F.col("__thr"), F.lit(float(default_threshold)))
        if default_threshold is not None
        else F.col("__thr")
    )
    return (
        scored.join(F.broadcast(thresholds), group_col, "left")
        .filter(thr.isNull() | (F.col("quality") >= thr))
        .select("doc_id", group_col, "quality")
    )


def sampled_stream(
    stream: DataFrame,
    rates: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    default_ppm: int = 1_000_000,
) -> DataFrame:
    """Apply trained per-source mixture keep-rates to an arriving stream:
    ``rates`` is (source, keep_ppm) from an offline mixture computation
    (e.g. derived from ``sampling.mixture_resample`` realized shares). The
    keep decision is a DETERMINISTIC md5 coin on the document id — pure
    function of the key, so an at-least-once replay keeps exactly the same
    rows (idempotent under source re-delivery), unlike an RNG sample.
    Stateless stream-static broadcast join, same scale shape as the gate.

    Sources absent from ``rates`` keep at ``default_ppm`` (default: keep
    everything — a new source appearing after training must not silently
    vanish; set 0 to drop unknown sources explicitly)."""
    from csvtool_spark.operators.sampling import mixture_coin

    coin = mixture_coin(F.col(id_col))
    return (
        stream.join(F.broadcast(rates), group_col, "left")
        .filter(coin < F.coalesce(F.col("keep_ppm"), F.lit(int(default_ppm))))
        .drop("keep_ppm")
    )


def classified_stream(
    stream: DataFrame,
    model,
    keep: tuple[str, ...] | None = None,
) -> DataFrame:
    """Streaming language/quality classifier gate: a Naive Bayes model
    trained OFFLINE (``classify.nb_train`` on a reference batch) scores
    every arriving document ONLINE via the map-only form
    (``classify.nb_score_map`` — literal-map fold, no explode, no join, no
    aggregation), so the stream stays stateless: no watermark, no state
    store, each micro-batch is a pure projection. Same
    train-offline/apply-online shape as ``quality_gated_stream``.

    ``keep`` filters to documents whose predicted class is in the tuple
    (None keeps everything, annotated). Emits (doc_id, source, pred,
    score_pred). Deterministic — replayed shards classify identically."""
    from csvtool_spark.operators import classify
    from csvtool_spark.operators.planshape import Select, Where, place

    steps = [Select(("pred", "score_pred"), lambda d: classify.nb_score_map(d, model))]
    if keep is not None:
        steps.append(Where(F.col("pred").isin(*keep), ("pred",)))
    scored = place(stream, [lambda _: steps])
    return scored.select("doc_id", "source", "pred", "score_pred")


def confusion_stream(stream: DataFrame, model) -> DataFrame:
    """Running confusion matrix of an OFFLINE-trained NB classifier over
    the arriving labeled corpus — the streaming twin of the batch
    ``q_nb_confusion`` eval (VERDICT r3 #9's named growth item).

    Shape: stateless map-only scoring (``classify.nb_score_map`` — no
    join, no explode, legal in a micro-batch projection) followed by a
    running ``(lang, pred)`` count in update mode. Aggregation state is
    bounded by |classes|² rows regardless of stream length, so this runs
    forever on an unbounded crawl feed. Emits ``(lang, pred, n)``; the
    counts converge to the batch matrix once all shards have arrived
    (batch-equality pinned by test)."""
    from csvtool_spark.operators import classify

    scored = classify.nb_score_map(stream, model)
    return scored.groupBy("lang", "pred").agg(F.count("*").cast("long").alias("n"))


def scrubbed_stream(
    stream: DataFrame,
    max_pii_fraction: float = 0.2,
) -> DataFrame:
    """Streaming PII policy gate: the batch ``redact.redact_documents``
    density rule applied per micro-batch — pure Column trees (regex
    count + progressive replace), so the stream stays STATELESS: no
    watermark, no state store, deterministic on replay. Documents over
    the density cut are dropped in-flight; survivors flow on with
    ``text`` redacted plus (n_pii, pii_fraction)."""
    from csvtool_spark.operators.redact import redact_documents

    return redact_documents(stream, "text", "doc_id", max_pii_fraction)


def kn_gated_stream(
    stream: DataFrame,
    pruned,
    max_surprisal_ppb: int,
    max_unseen_frac: float | None = None,
) -> DataFrame:
    """Streaming twin of the Kneser-Ney quality filter (the CCNet shape,
    online half): a PRUNED KN model trained OFFLINE on a clean reference
    corpus (``textstats.kn_bigram_model`` → ``kn_prune``) scores every
    arriving document via the map-only fold (``textstats.kn_score_map``
    — literal maps, no join, no explode, no aggregation), so the stream
    stays stateless: no watermark, no state store, each micro-batch a
    pure projection. Same train-offline/apply-online shape as
    ``classified_stream``; scoring a batch of the same rows is
    bit-identical (test-pinned).

    Documents at or below ``max_surprisal_ppb`` survive (in-domain
    text); ``max_unseen_frac`` optionally also drops documents whose
    share of model-unseen transitions exceeds it (heavily OOV docs can
    still score mid-range when their seen transitions are common).
    Documents with no transitions (null/short text) are dropped — an
    LM filter has no evidence to keep them. Emits (doc_id, source,
    n_bigrams, n_unseen_bg, kn_surprisal_ppb)."""
    scored = textstats.kn_score_map(
        stream, pruned, "text", "doc_id", extra_cols=("source",)
    )
    out = scored.filter(F.col("kn_surprisal_ppb") <= int(max_surprisal_ppb))
    if max_unseen_frac is not None:
        out = out.filter(
            F.col("n_unseen_bg") * F.lit(1.0)
            <= F.col("n_bigrams") * F.lit(float(max_unseen_frac))
        )
    return out


def bench_shingle_bloom(
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_bits: int = 1 << 17,
    bloom_k: int = 5,
) -> dict[int, int]:
    """Driver-side Bloom bitmap over a benchmark's distinct k-gram
    shingles — the OFFLINE half of ``decontaminated_stream``. One batch
    job (explode → distinct → bit_or words); the collected dict holds at
    most num_bits/64 entries (2048 longs at the default 2^17 bits —
    sized for eval suites, whose distinct shingles are ~10^4-10^5; keep
    ≥10 bits per distinct shingle for ~1% false positives)."""
    from csvtool_spark.operators.bloomjoin import bloom_build
    from csvtool_spark.operators.contamination import shingle_set

    keys = shingle_set(bench, text_col, id_col, k).select("shingle").distinct()
    row = bloom_build(keys, "shingle", num_bits=num_bits, k=bloom_k).collect()[0]
    return dict(row["__bloom"] or {})


def decontaminated_stream(
    stream: DataFrame,
    bloom: dict[int, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_bits: int = 1 << 17,
    bloom_k: int = 5,
) -> DataFrame:
    """Streaming benchmark decontamination (the GPT-3 appendix-C filter,
    online half): drop arriving training documents that share ANY k-gram
    shingle with the benchmark set whose Bloom bitmap ``bloom`` was built
    offline by ``bench_shingle_bloom`` (same k/num_bits/bloom_k — the
    hash_family pairing rule).

    Stateless pure projection: the bitmap rides the plan as a LITERAL
    map (a stream-static anti-join is unsupported in Structured
    Streaming, and a per-doc aggregation would need a watermark), and
    membership is ``exists`` over the doc's shingles — bloom_k map
    lookups + bit tests each. Bloom errors only go the SAFE direction:
    false positives OVER-drop a clean document (~1% at 10 bits/key),
    false negatives are impossible, so every contaminated document is
    caught (test-pinned against the exact batch contamination_report).
    Null-text documents carry no shingles and pass through.

    Emits (id, source, n_shingles) for survivors."""
    from csvtool_spark.operators.bloomjoin import might_contain
    from csvtool_spark.operators.dedup import normalized, word_shingles
    from csvtool_spark.operators.textstats import tokens

    toks = tokens(normalized(F.col(text_col)))

    def packed(sh):
        """(n_shingles, hit) from ONE evaluation of the shingle fold —
        a separate filter + n_shingles projection would run the
        tokenize/k-gram HOF twice per row (the explode-barrier rule)."""
        if bloom:
            words = sorted(bloom)
            blit = F.map_from_arrays(
                F.lit([int(w) for w in words]),
                F.lit([int(bloom[w]) for w in words]),
            )
            hit = F.exists(
                sh,
                lambda s: might_contain(s, k=bloom_k, num_bits=num_bits, bloom=blit),
            )
        else:
            # empty benchmark: no bit is set, nothing can collide
            hit = F.lit(False)
        return F.struct(
            F.size(sh).cast("long").alias("n"),
            F.coalesce(hit, F.lit(False)).alias("hit"),
        )

    kept = F.filter(
        F.transform(F.array(word_shingles(toks, k)), packed),
        lambda p: ~p["hit"],
    )
    return stream.select(
        F.col(id_col), F.col("source"), F.explode(kept).alias("__p")
    ).select(
        F.col(id_col),
        F.col("source"),
        F.col("__p")["n"].alias("n_shingles"),
    )

def piped_stream(stream: DataFrame, pipe: str) -> DataFrame:
    """Apply a curation-pipe stage chain (dialect ``|>`` syntax, e.g.
    ``"langid(text, keep=en) |> quality(text, min=0.5) |>
    chunk(text, id=doc_id, size=128)"``) to a STREAMING frame — the same
    stage registry that drives the SQL surface, gated to the
    streaming-safe subset (dialect.stages.STREAM_SAFE), so one pipeline
    definition curates both the batch corpus and the ingest stream with
    pinned-equal semantics."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages_streaming

    return apply_stages_streaming(stream, parse_pipeline(pipe))
