"""Streaming operators: bounded batches through the real streaming engine,
cross-checked against their batch twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from csvtool_spark.streaming import (
    event_stream,
    run_to_memory,
    sessionized_stream,
    windowed_agg_stream,
)
from tests.conftest import SF_SMALL


def test_windowed_agg_matches_batch(spark):
    stream = event_stream(spark, SF_SMALL)
    assert stream.isStreaming
    run_to_memory(windowed_agg_stream(stream), "win_out")
    got = {
        (r.ws, r.event_type): (r.n, r.sum_v_c)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    from csvtool_spark.queries import QUERIES

    expected = {
        (r.ws, r.event_type): (r.n, r.sum_v_c)
        for r in QUERIES["q_events_window"](spark, SF_SMALL).collect()
    }
    assert got == expected


def test_stateful_error_monitor(spark):
    from csvtool_spark.sources.parquet import read_table
    from csvtool_spark.streaming.stateful import user_error_monitor

    stream = event_stream(spark, SF_SMALL)
    run_to_memory(user_error_monitor(stream), "err_out", output_mode="update")
    rows = spark.sql("SELECT * FROM err_out").collect()
    assert rows
    # final per-user counters must equal the batch ground truth
    got = {r.user_id: (r.n_events, r.n_errors) for r in rows}
    batch = {
        r.user_id: (r.n, r.e)
        for r in read_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("e"),
        )
        .collect()
    }
    assert got == batch


def test_sessionized_stream(spark):
    stream = event_stream(spark, SF_SMALL)
    run_to_memory(sessionized_stream(stream), "sess_out")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert rows
    # session integrity: end - start ≥ 0; per-user totals match raw counts
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1.0
    from csvtool_spark.sources.parquet import read_table

    n_events = read_table(spark, SF_SMALL, "events").count()
    assert sum(int(r.n_events) for r in rows) == n_events
    # session count per user matches the batch lag/cumsum sessionizer
    from csvtool_spark.queries import QUERIES

    batch = {
        r.user_id: r.n_sessions
        for r in QUERIES["q_sessionize"](spark, SF_SMALL).collect()
    }
    got: dict[int, int] = {}
    for r in rows:
        got[r.user_id] = got.get(r.user_id, 0) + 1
    assert got == batch


def test_streaming_dedup_bounded_state(spark):
    # an at-least-once source delivering every event TWICE (two copies of
    # the shard) must come out exactly-once
    import shutil
    import tempfile

    from csvtool_spark.streaming import deduped_stream
    from csvtool_spark.streaming.events import stream_events_dir

    d = tempfile.mkdtemp(prefix="dup_stream_")
    shutil.copy(f"{SF_SMALL}/events.parquet", f"{d}/a.parquet")
    shutil.copy(f"{SF_SMALL}/events.parquet", f"{d}/b.parquet")
    stream = stream_events_dir(spark, d)

    run_to_memory(deduped_stream(stream), "dedup_out", output_mode="append")
    got = spark.sql("SELECT count(*) n, count(DISTINCT event_id) d FROM dedup_out").first()
    expected = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert got.n == expected            # one row per original event
    assert got.d == expected            # and they are all distinct ids


def test_stream_events_dir_rejects_mixed_units_and_missing_ts(spark, tmp_path):
    # a directory whose shards disagree on the timestamp unit must fail at
    # stream-build time with the shard map, not mid-stream with a read
    # error; a shard without a ts field gets a descriptive error too
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from csvtool_spark.streaming.events import stream_events_dir

    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", d / "a.parquet")
    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    i = t.schema.get_field_index("ts")
    other_unit = "us" if t.schema.field("ts").type.unit == "ns" else "ns"
    recast = t.set_column(
        i, "ts", t.column("ts").cast(pa.timestamp(other_unit))
    )
    pq.write_table(recast, d / "b.parquet")
    with pytest.raises(ValueError, match="disagree on the ts unit"):
        stream_events_dir(spark, str(d))

    d2 = tmp_path / "nots"
    d2.mkdir()
    pq.write_table(t.drop_columns(["ts"]), d2 / "a.parquet")
    with pytest.raises(ValueError, match="no 'ts' field"):
        stream_events_dir(spark, str(d2))


def test_stream_static_join_matches_batch(spark):
    from csvtool_spark.streaming import enriched_stream

    tiers = spark.createDataFrame(
        [(u, "gold" if u % 3 == 0 else "basic") for u in range(150)],
        "user_id long, tier string",
    )
    stream = event_stream(spark, SF_SMALL)
    joined = enriched_stream(stream, tiers, "user_id").select(
        "event_id", "user_id", "tier"
    )
    run_to_memory(joined, "enrich_out", output_mode="append")
    got = {r.event_id: r.tier for r in spark.sql("SELECT * FROM enrich_out").collect()}

    from csvtool_spark.queries import load
    evb = load(spark, SF_SMALL, "events")
    expected = {
        r.event_id: r.tier
        for r in evb.join(tiers, "user_id", "left").select("event_id", "tier").collect()
    }
    assert got == expected


def test_stream_stream_interval_join_matches_batch(spark):
    from csvtool_spark.streaming import interval_join_streams

    clicks = event_stream(spark, SF_SMALL).filter(F.col("event_type") == "click")
    errors = event_stream(spark, SF_SMALL).filter(F.col("event_type") == "error")
    joined = interval_join_streams(
        clicks, errors, "user_id", upper="30 minutes"
    ).select("event_id", "r_event_id")
    run_to_memory(joined, "ssj_out", output_mode="append")
    got = {
        (r.event_id, r.r_event_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }

    from csvtool_spark.queries import load

    ev = load(spark, SF_SMALL, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("ce"), F.col("user_id").alias("cu"), F.col("ts").alias("ct")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("ee"), F.col("user_id").alias("eu"), F.col("ts").alias("et")
    )
    expected = {
        (r.ce, r.ee)
        for r in c.join(
            e,
            (F.col("cu") == F.col("eu"))
            & (F.col("et") >= F.col("ct"))
            & (F.col("et") <= F.col("ct") + F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_streaming_vocab_matches_batch_counts(spark):
    from csvtool_spark.streaming import document_stream, run_to_memory, streaming_vocab
    from csvtool_spark.operators import textstats

    stream = document_stream(spark, SF_SMALL)
    assert stream.isStreaming
    run_to_memory(streaming_vocab(stream), "vocab_out", output_mode="complete")
    got = {r.token: r.n for r in spark.sql("SELECT * FROM vocab_out").collect()}
    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    expected = {
        r.token: r.n
        for r in textstats.heavy_hitters(batch, "text", k=1 << 30).collect()
    }
    assert got == expected


def test_curated_stream_dedups_replayed_shard(spark):
    # the same shard delivered TWICE (at-least-once source): every
    # surviving document must come out exactly once
    import shutil
    import tempfile

    from csvtool_spark.operators import dedup, textstats
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.documents import curated_stream, stream_documents_dir
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="docs_dup_")
    shutil.copy(f"{SF_SMALL}/documents.parquet", f"{d}/a.parquet")
    shutil.copy(f"{SF_SMALL}/documents.parquet", f"{d}/b.parquet")
    stream = stream_documents_dir(spark, d)
    run_to_memory(curated_stream(stream, min_quality=0.3), "cur_out",
                  output_mode="append")
    rows = spark.sql("SELECT text_hash FROM cur_out").collect()
    hashes = [r.text_hash for r in rows]
    assert len(hashes) == len(set(hashes))  # exactly-once per content hash

    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    expected = (
        batch.filter(textstats.quality_score(F.col("text")) >= 0.3)
        .select(F.md5(dedup.normalized(F.col("text"))).alias("h"))
        .distinct()
        .count()
    )
    assert len(hashes) == expected


def test_quality_gated_stream_matches_batch_gate(spark):
    # thresholds trained on the batch, applied to the stream of the SAME
    # shard → survivors must equal the batch quality_gate exactly
    from csvtool_spark.operators import textstats
    from csvtool_spark.operators.pipeline import quality_gate, quality_thresholds
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.documents import (
        document_stream,
        quality_gated_stream,
    )
    from pyspark.sql import functions as F

    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    scored = batch.select(
        "doc_id", "source",
        textstats.quality_score(F.col("text")).alias("quality"),
    )
    thr = quality_thresholds(scored, "source", 0.25)

    stream = document_stream(spark, SF_SMALL)
    run_to_memory(
        quality_gated_stream(stream, thr), "qgate_out", output_mode="append"
    )
    got = {
        (r.doc_id, r.source) for r in spark.sql("SELECT * FROM qgate_out").collect()
    }
    want = {
        (r.doc_id, r.source)
        for r in quality_gate(batch, "text", "doc_id", "source", 0.25).collect()
    }
    assert got == want and len(got) > 0


def test_sampled_stream_replay_idempotent_and_matches_coin(spark):
    # same shard delivered twice: the deterministic md5 coin keeps the SAME
    # doc ids both times (duplicates allowed — dedup is a separate stage);
    # the kept set equals the batch coin filter
    import shutil
    import tempfile

    from csvtool_spark.functions.hashing import md5_prefix_long
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.documents import sampled_stream, stream_documents_dir
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="docs_samp_")
    shutil.copy(f"{SF_SMALL}/documents.parquet", f"{d}/a.parquet")
    shutil.copy(f"{SF_SMALL}/documents.parquet", f"{d}/b.parquet")
    rates = spark.createDataFrame(
        [("src0", 500_000), ("src1", 250_000), ("src2", 1_000_000)],
        ["source", "keep_ppm"],
    )
    stream = stream_documents_dir(spark, d)
    run_to_memory(sampled_stream(stream, rates), "samp_out", output_mode="append")
    got = [r.doc_id for r in spark.sql("SELECT doc_id FROM samp_out").collect()]
    # every id appears exactly twice (once per delivery) — replay-stable
    from collections import Counter

    counts = Counter(got)
    assert set(counts.values()) == {2}

    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    from csvtool_spark.operators.sampling import mixture_coin

    coin = mixture_coin(F.col("doc_id"))
    # mirror the stream's unseen-source policy: left join, absent → keep
    want = {
        r.doc_id
        for r in batch.join(rates, "source", "left")
        .filter(coin < F.coalesce(F.col("keep_ppm"), F.lit(1_000_000)))
        .collect()
    }
    assert set(counts) == want and len(want) > 0


def test_streaming_gate_and_sampler_unseen_source_policy(spark):
    # a source that appears only AFTER training must not silently vanish:
    # default policy keeps it (gate: pass ungated; sampler: keep_ppm=1e6),
    # and an explicit default_threshold gates it like any other source
    from csvtool_spark.streaming import (
        quality_gated_stream,
        run_to_memory,
        sampled_stream,
        stream_documents_dir,
    )
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="docs_unseen_")
    shutil.copy(f"{SF_SMALL}/documents.parquet", f"{d}/a.parquet")
    total = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()

    # thresholds/rates tables that know NONE of the stream's sources
    thr = spark.createDataFrame([("elsewhere", 0.99)], ["source", "__thr"])
    rates = spark.createDataFrame([("elsewhere", 0)], ["source", "keep_ppm"])

    run_to_memory(
        quality_gated_stream(stream_documents_dir(spark, d), thr),
        "unseen_gate_out", output_mode="append",
    )
    assert spark.sql("SELECT count(*) c FROM unseen_gate_out").first().c == total

    run_to_memory(
        sampled_stream(stream_documents_dir(spark, d), rates),
        "unseen_samp_out", output_mode="append",
    )
    assert spark.sql("SELECT count(*) c FROM unseen_samp_out").first().c == total

    # strict variant: unknown sources gated at an impossible threshold
    run_to_memory(
        quality_gated_stream(
            stream_documents_dir(spark, d), thr, default_threshold=2.0
        ),
        "unseen_strict_out", output_mode="append",
    )
    assert spark.sql("SELECT count(*) c FROM unseen_strict_out").first().c == 0


def test_classified_stream_matches_batch_and_is_stateless(spark):
    # model trained offline on the batch; the stream of the same shard must
    # classify identically, and non-kept languages must be gone
    from csvtool_spark.operators import classify
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.documents import classified_stream, document_stream
    from pyspark.sql import functions as F

    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    model = classify.nb_train(batch, vocab_size=500)
    stream = document_stream(spark, SF_SMALL)
    out = classified_stream(stream, model, keep=("en", "fr"))
    assert out.isStreaming
    run_to_memory(out, "cls_out", output_mode="append")
    got = {r.doc_id: (r.pred, r.score_pred)
           for r in spark.sql("SELECT * FROM cls_out").collect()}
    exp = {
        r.doc_id: (r.pred, r.score_pred)
        for r in classify.nb_score(batch, model)
        .filter(F.col("pred").isin("en", "fr"))
        .collect()
    }
    assert got == exp and len(got) > 0


def test_nb_score_map_equals_join_form(spark):
    from csvtool_spark.operators import classify

    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    model = classify.nb_train(batch, vocab_size=300)
    cols = ["doc_id", "pred", "score_pred"] + [f"score_{c}" for c in model.classes]
    a = sorted(tuple(r) for r in classify.nb_score(batch, model).select(*cols).collect())
    b = sorted(tuple(r) for r in classify.nb_score_map(batch, model).select(*cols).collect())
    assert a == b


def test_confusion_stream_matches_batch_matrix(spark):
    """The streaming confusion matrix (update mode, |classes|²-bounded
    state) must converge to exactly the batch q_nb_confusion counts after
    all shards arrive — and replaying a shard through a fresh stream dir
    must not change the per-batch determinism."""
    from csvtool_spark.operators import classify
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.documents import confusion_stream, document_stream
    from pyspark.sql import functions as F

    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    model = classify.nb_train(batch, vocab_size=500)
    out = confusion_stream(document_stream(spark, SF_SMALL), model)
    assert out.isStreaming
    run_to_memory(out, "conf_out", output_mode="complete")
    got = {(r.lang, r.pred): r.n for r in spark.sql("SELECT * FROM conf_out").collect()}
    exp = {
        (r.lang, r.pred): r.n
        for r in classify.nb_score_map(batch, model)
        .groupBy("lang", "pred")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }
    assert got == exp and sum(got.values()) == batch.count()


def test_error_monitor_state_carries_across_batches(spark, tmp_path):
    """Regression for the GroupState.get property bug: counts must
    ACCUMULATE when a user appears in two separate micro-batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from csvtool_spark.streaming.events import _events_schema
    from csvtool_spark.streaming.stateful import user_error_monitor

    src = pq.read_table(f"{SF_SMALL}/events.parquet")
    order = pa.compute.sort_indices(src, sort_keys=[("ts", "ascending")])
    src = src.take(order)
    half = src.num_rows // 2
    d = tmp_path / "err_shards"
    d.mkdir()
    pq.write_table(src.slice(0, half), str(d / "a.parquet"))
    pq.write_table(src.slice(half), str(d / "b.parquet"))
    raw = (
        spark.readStream.schema(_events_schema(T.TimestampNTZType()))
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        user_error_monitor(raw)
        .writeStream.format("memory").queryName("err_mem")
        .outputMode("update").trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = {r.user_id: r.n_events for r in spark.sql(
        "SELECT user_id, n_events FROM (SELECT user_id, n_events, "
        "row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn "
        "FROM err_mem) WHERE rn = 1").collect()}
    exp = {r.user_id: r.n for r in
           spark.read.parquet(f"{SF_SMALL}/events.parquet")
           .groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert got == exp  # totals, not per-batch counts


def test_scrubbed_stream_matches_batch_policy(spark):
    from csvtool_spark.operators.redact import redact_documents
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.documents import document_stream, scrubbed_stream

    stream = document_stream(spark, SF_SMALL)
    out = scrubbed_stream(stream, max_pii_fraction=0.3)
    assert out.isStreaming
    run_to_memory(out, "scrub_out", output_mode="append")
    got = {r.doc_id: (r.text, r.n_pii, float(r.pii_fraction))
           for r in spark.sql("SELECT * FROM scrub_out").collect()}
    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    exp = {r.doc_id: (r.text, r.n_pii, float(r.pii_fraction))
           for r in redact_documents(batch, "text", "doc_id", 0.3).collect()}
    assert got == exp and len(got) > 0


def test_decontaminated_stream_catches_all_and_matches_batch(spark, tmp_path):
    """The streaming benchmark-decontamination gate: zero false negatives
    (every document the exact contamination_report flags is dropped) and
    — at the test's generous bits-per-key — zero false positives, so the
    survivor set equals the exact clean set. Null-text docs pass."""
    import random

    from csvtool_spark.operators.contamination import contamination_report
    from csvtool_spark.streaming import run_to_memory
    from csvtool_spark.streaming.documents import (
        bench_shingle_bloom,
        decontaminated_stream,
        stream_documents_dir,
    )

    r = random.Random(7)
    words = [f"w{i}" for i in range(40)]

    def sent(n):
        return " ".join(r.choice(words) for _ in range(n))

    bench_rows = [(1000 + i, sent(12), "en", "bench", 1) for i in range(5)]
    bench = spark.createDataFrame(
        bench_rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # corpus: 20 clean docs, 4 contaminated (share a 5-gram span with a
    # bench doc), 1 null-text
    corpus_rows = [(i, sent(15), "en", "tr", 1) for i in range(20)]
    for j in range(4):
        span = " ".join(bench_rows[j][1].split()[2:9])  # 7-word shared span
        corpus_rows.append((100 + j, f"{sent(4)} {span} {sent(3)}", "en", "tr", 1))
    corpus_rows.append((999, None, "en", "tr", 1))
    corpus = spark.createDataFrame(
        corpus_rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    shard = str(tmp_path / "decon_shard")
    corpus.write.parquet(shard)

    bloom = bench_shingle_bloom(bench)
    out = decontaminated_stream(stream_documents_dir(spark, shard), bloom)
    assert out.isStreaming
    run_to_memory(out, "decon_out", output_mode="append")
    survivors = {r_.doc_id for r_ in spark.sql("SELECT * FROM decon_out").collect()}

    flagged = {
        r_.doc_id
        for r_ in contamination_report(corpus, bench, "text", "doc_id").collect()
    }
    assert {100, 101, 102, 103} <= flagged
    # zero false negatives: every exactly-flagged doc is dropped
    assert survivors.isdisjoint(flagged)
    # generous bitmap: exactly the clean set (incl. the null-text doc) survives
    assert survivors == {r_[0] for r_ in corpus_rows} - flagged

    # batch-equality: the same gate as a batch filter gives the same rows
    batch_out = {
        r_.doc_id
        for r_ in decontaminated_stream(corpus, bloom).collect()
    }
    assert batch_out == survivors


def test_decontaminated_stream_single_shingle_fold_plan(spark):
    """The shingle fold (tokenize + k-gram concat) must be evaluated once
    per row: word_shingles' zip_with chain (k-1 = 4 steps at the default
    k=5; round 13 replaced the position-`sequence` build) appears exactly
    once in the batch-equivalent plan — a filter + separate n_shingles
    column used to run it twice (8 zip_withs)."""
    from csvtool_spark.streaming.documents import (
        bench_shingle_bloom,
        decontaminated_stream,
    )

    bench = spark.createDataFrame(
        [(1, "a b c d e f", "en", "b", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    bloom = bench_shingle_bloom(bench)
    d = spark.createDataFrame(
        [(2, "x y z w v u", "en", "tr", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    plan = (
        decontaminated_stream(d, bloom)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("zip_with(") == 4, plan


def test_piped_stream_batch_equality(spark):
    """ONE pipe definition drives batch SQL and the ingest stream: the
    streaming result over the staged shards must equal the batch result
    of the same stage chain, row for row."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages
    from csvtool_spark.streaming import document_stream, piped_stream, run_to_memory

    pipe = (
        "langid(text, keep=en) |> quality(text, min=0.5) "
        "|> hash_sample(0.6, key=doc_id) "
        "|> chunk(text, id=doc_id, size=64, overlap=8) "
        "|> shard(n=4, key=doc_id)"
    )
    stream = document_stream(spark, SF_SMALL)
    run_to_memory(piped_stream(stream, pipe), "pipe_out", output_mode="append")
    got = {
        (r["doc_id"], r["chunk_id"], r["text"], r["shard"])
        for r in spark.sql(
            "SELECT doc_id, chunk_id, text, shard FROM pipe_out"
        ).collect()
    }
    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    expect = {
        (r["doc_id"], r["chunk_id"], r["text"], r["shard"])
        for r in apply_stages(batch, parse_pipeline(pipe))
        .select("doc_id", "chunk_id", "text", "shard")
        .collect()
    }
    assert got == expect and len(got) > 0


def test_piped_stream_rejects_stateful_stages(spark):
    import pytest

    from csvtool_spark.dialect.errors import SemanticError
    from csvtool_spark.streaming import document_stream
    from csvtool_spark.streaming.documents import piped_stream

    stream = document_stream(spark, SF_SMALL)
    for bad in (
        "dedup(text, id=doc_id)",
        "neardup(text, id=doc_id)",
        "quota(source, cap=5, order=doc_id)",
        "decontaminate(text, id=doc_id, ref=x)",
        "despan(text, id=doc_id)",
        # temperature mode derives rates from GLOBAL per-source counts —
        # batch-only, unlike the rates=1 apply mode below (round 11)
        "tokens(text) |> mixture(source, key=doc_id, tokens=n_tokens, "
        "temperature=0.5)",
    ):
        with pytest.raises(SemanticError, match="not streaming-safe"):
            piped_stream(stream, bad)


def test_piped_stream_mixture_rates(spark):
    """mixture(rates=1) — the streaming-legal apply mode — runs inside a
    real readStream pipe and equals the batch result of the same text."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages
    from csvtool_spark.streaming import document_stream, piped_stream, run_to_memory

    pipe = (
        "langid(text, keep=en) "
        "|> mixture(source, key=doc_id, rates=1, src0=900000, src1=400000)"
    )
    stream = document_stream(spark, SF_SMALL)
    run_to_memory(piped_stream(stream, pipe), "mix_out", output_mode="append")
    got = {
        (r["doc_id"], r["keep_ppm"])
        for r in spark.sql("SELECT doc_id, keep_ppm FROM mix_out").collect()
    }
    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    expect = {
        (r["doc_id"], r["keep_ppm"])
        for r in apply_stages(batch, parse_pipeline(pipe))
        .select("doc_id", "keep_ppm")
        .collect()
    }
    assert got == expect and len(got) > 0


def test_piped_stream_gopher(spark):
    """The gopher stage (Arrow kernel, pure per-row append) runs inside a
    real readStream pipe and equals the batch result of the same text."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages
    from csvtool_spark.streaming import document_stream, piped_stream, run_to_memory

    pipe = "gopher(text, filter=1) |> tokens(text)"
    stream = document_stream(spark, SF_SMALL)
    run_to_memory(piped_stream(stream, pipe), "gopher_out", output_mode="append")
    got = {
        (r["doc_id"], r["dup_line_frac"], r["n_tokens"])
        for r in spark.sql(
            "SELECT doc_id, dup_line_frac, n_tokens FROM gopher_out"
        ).collect()
    }
    batch = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    expect = {
        (r["doc_id"], r["dup_line_frac"], r["n_tokens"])
        for r in apply_stages(batch, parse_pipeline(pipe))
        .select("doc_id", "dup_line_frac", "n_tokens")
        .collect()
    }
    assert got == expect and len(got) > 0
