"""Curation-pipe ('|>') dialect surface: parse shapes, stage semantics
pinned against the underlying operators, the error battery, and the
persist-release contract. The cross-engine value gate rides the catalog
(q_dialect_curate / q_dialect_pipe_neardup, full DuckDB twins)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csvtool_spark.dialect.errors import ParseError, SemanticError
from csvtool_spark.dialect.parser import parse
from csvtool_spark.engine import CsvEngine
from csvtool_spark.functions.caching import persist_scope

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def eng(spark):
    e = CsvEngine(spark)
    e.register_dir(SF, ["documents", "orders"])
    return e


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# --- parsing ----------------------------------------------------------------


def test_parse_pipeline_shapes():
    q = parse(
        "select doc_id, text from documents |> langid(text) "
        "|> quality(text, min=0.5, as=qs) |> dedup(text, id=doc_id)"
    )
    assert [s.name for s in q.pipeline] == ["langid", "quality", "dedup"]
    st = q.pipeline[1]
    assert st.args[0].val == "text" and not st.args[0].quoted
    assert st.kwargs["min"].val == "0.5"
    assert st.kwargs["as"].val == "qs"


def test_parse_zero_arg_stage_and_quoted():
    q = parse("select text from d.parquet |> pii_scrub(text)")
    assert q.pipeline[0].args[0].val == "text"
    # quoted arg keeps its flag (string literal, not a column)
    q = parse("select text from d.parquet |> quality('text')")
    assert q.pipeline[0].args[0].quoted


def test_parse_errors():
    with pytest.raises(ParseError):
        parse("select a from f.csv |> ")  # missing stage name
    with pytest.raises(ParseError):
        parse("select a from f.csv |> quality(min=)")  # missing value
    with pytest.raises(ParseError):
        parse("select a from f.csv |> quality(min=1, min=2)")  # dup kwarg
    with pytest.raises(Exception):
        parse("select a | b from f.csv")  # bare '|' stays an error


def test_pipe_only_after_tail_clauses():
    q = parse(
        "select doc_id from documents order by doc_id asc limit 5 "
        "|> tokens(doc_id)"
    )
    assert q.limit == 5 and len(q.pipeline) == 1


# --- stage semantics vs the operators ---------------------------------------


def test_dedup_stage_matches_exact_dedup(eng, docs):
    out = eng.sql(
        "select doc_id, text from documents |> dedup(text, id=doc_id)"
    )
    from csvtool_spark.operators.dedup import exact_dedup

    expect = {r["doc_id"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    got = {r["doc_id"] for r in out.collect()}
    assert got == expect
    assert out.columns == ["doc_id", "text"]  # survivor keeps every column


def test_neardup_stage_matches_pairs(eng, docs):
    from csvtool_spark.operators.dedup import near_dup_pairs_minhash

    with persist_scope():
        pairs = near_dup_pairs_minhash(
            docs, "text", "doc_id", threshold=0.4, n_hashes=32, bands=8,
            hash_family="md5",
        )
        losers = {r["id_b"] for r in pairs.collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    with persist_scope() as staged:
        out = eng.sql(
            "select doc_id, text from documents "
            "|> neardup(text, id=doc_id, threshold=0.4)"
        )
        got = {r["doc_id"] for r in out.collect()}
    assert got == all_ids - losers
    assert len(staged) == 2  # the banded and token stages
    assert all(not s.storageLevel.useMemory for s in staged)


def test_column_stages_match_operators(eng, docs):
    out = eng.sql(
        "select doc_id, text from documents |> langid(text) "
        "|> quality(text) |> tokens(text) |> fingerprint(text)"
    ).collect()
    from csvtool_spark.operators import textstats

    expect = docs.select(
        "doc_id",
        textstats.lang_id(F.col("text"), kernel="jvm").alias("lang_guess"),
        textstats.quality_score(F.col("text")).alias("quality"),
        textstats.token_count(F.col("text")).alias("n_tokens"),
        textstats.content_fingerprint(F.col("text")).alias("content_fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in expect}
    for r in out:
        e = by_id[r["doc_id"]]
        assert (r["lang_guess"], r["quality"], r["n_tokens"], r["content_fp"]) == (
            e["lang_guess"], e["quality"], e["n_tokens"], e["content_fp"]
        )


def test_quality_min_filters(eng):
    base = eng.sql("select doc_id, text from documents |> quality(text)")
    cut = eng.sql(
        "select doc_id, text from documents |> quality(text, min=0.7)"
    )
    rows = base.collect()
    kept = {r["doc_id"] for r in rows if r["quality"] >= 0.7}
    assert {r["doc_id"] for r in cut.collect()} == kept
    assert len(kept) < len(rows)  # the cut actually bites on this corpus


def test_same_pipe_builds_the_same_plan(eng):
    """``filter_computed``'s sentinel has a fixed seed: two builds of one
    statement optimize to the same plan, so Spark reuses the generated
    classes of the first. Expression ids and pyspark's lambda-variable
    names count up per build and are masked."""
    import re

    q = "select doc_id, text from documents |> quality(text, min=0.7)"

    def plan() -> str:
        text = eng.sql(q)._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+|\bx_\d+", "#", text)

    first = plan()
    assert "__planshape_nd" in first
    assert plan() == first


def test_hash_sample_and_split(eng, docs):
    from csvtool_spark.functions.hashing import md5_prefix_long
    from csvtool_spark.operators.sampling import split_label

    out = eng.sql(
        "select doc_id from documents |> hash_sample(0.3, key=doc_id) "
        "|> split(key=doc_id, train=0.7, test=0.3)"
    ).collect()
    # hash_sample's coin is salted with its stage name (round-8 verdict
    # item 7); split stays the UNSALTED split_label so the hash_split /
    # split_leakage recompute-from-key contract holds (round-9 review)
    expect = (
        docs.filter(
            md5_prefix_long(
                F.concat(F.lit("hash_sample:"), F.col("doc_id").cast("string"))
            )
            < int(0.3 * 4294967296)
        )
        .select(
            "doc_id",
            split_label(F.col("doc_id"), {"train": 0.7, "test": 0.3}).alias(
                "split"
            ),
        )
        .collect()
    )
    assert sorted((r["doc_id"], r["split"]) for r in out) == sorted(
        (r["doc_id"], r["split"]) for r in expect
    )
    # nested-sample property: 0.3 sample is a subset of 0.5
    bigger = eng.sql(
        "select doc_id from documents |> hash_sample(0.5, key=doc_id)"
    )
    assert {r["doc_id"] for r in out} <= {r["doc_id"] for r in bigger.collect()}


def test_pii_scrub_stage(eng, spark, tmp_path):
    import csv

    p = tmp_path / "pii.csv"
    with open(p, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "note"])
        w.writerow([1, "mail me at a@b.com please"])
        w.writerow([2, "nothing here"])
    out = eng.sql(f"select id, note from '{p}' |> pii_scrub(note)").collect()
    notes = {r["id"]: r["note"] for r in out}
    assert "a@b.com" not in notes[1] and "<EMAIL>" in notes[1]
    assert notes[2] == "nothing here"


def test_stage_composes_with_full_query(eng):
    # stages apply AFTER where/order/limit, on the result schema
    out = eng.sql(
        "select doc_id, text from documents where doc_id < 100 "
        "order by doc_id asc limit 20 |> tokens(text, as=nt)"
    )
    rows = out.collect()
    assert len(rows) == 20 and out.columns == ["doc_id", "text", "nt"]
    assert all(r["doc_id"] < 100 for r in rows)


def test_case_insensitive_column_resolution(eng):
    out = eng.sql(
        "select doc_id as DocId, text from documents "
        "|> hash_sample(0.3, key=docid)"
    )
    assert out.columns[0] == "DocId" and out.count() > 0


# --- error battery -----------------------------------------------------------


BAD = [
    "select doc_id from documents |> frobnicate(doc_id)",  # unknown stage
    "select doc_id from documents |> tokens(nope)",  # unknown column
    "select doc_id from documents |> dedup(doc_id)",  # missing id=
    "select doc_id from documents |> tokens('doc_id')",  # quoted: literal
    "select doc_id, text from documents |> tokens(text, as=doc_id)",  # clash
    "select doc_id from documents |> hash_sample(2.0, key=doc_id)",  # frac
    "select doc_id from documents |> hash_sample(0.5)",  # missing key
    "select doc_id from documents |> split(key=doc_id)",  # no labels
    "select doc_id from documents |> split(key=doc_id, a=0.9, b=0.9)",  # >1
    "select doc_id, text from documents |> quality(text, bogus=1)",  # kwarg
    "select doc_id, text from documents |> quality(text, min=x)",  # number
]


@pytest.mark.parametrize("text", BAD)
def test_stage_errors(eng, text):
    with pytest.raises(SemanticError):
        eng.sql(text)


def test_decontaminate_stage_matches_report(eng, docs, spark):
    from csvtool_spark.operators.contamination import contamination_report

    eng.register("bench", docs.filter(F.col("source") == "src0"))
    out = eng.sql(
        "select doc_id, text from documents where source != src0 "
        "|> decontaminate(text, id=doc_id, ref=bench, k=4)"
    )
    corpus = docs.filter(F.col("source") != "src0")
    rep = contamination_report(
        corpus, docs.filter(F.col("source") == "src0"), "text", "doc_id", k=4
    )
    bad = {r["doc_id"] for r in rep.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert {r["doc_id"] for r in out.collect()} == all_ids - bad
    assert len(bad) > 0  # the screen bites on this corpus


def test_decontaminate_ref_is_file_path(eng):
    # ref= accepts a readable path, resolved like a FROM file
    out = eng.sql(
        "select doc_id, text from documents "
        f"|> decontaminate(text, id=doc_id, ref='{SF}/documents.parquet')"
    )
    # every doc overlaps itself at k=5 → self-screen drops everything
    assert out.count() == 0


def test_decontaminate_errors(eng, docs):
    eng.register("bench", docs.filter(F.col("source") == "src0"))
    with pytest.raises(SemanticError):  # missing ref
        eng.sql(
            "select doc_id, text from documents "
            "|> decontaminate(text, id=doc_id)"
        )
    with pytest.raises(SemanticError):  # unknown ref table
        eng.sql(
            "select doc_id, text from documents "
            "|> decontaminate(text, id=doc_id, ref=nope_nope)"
        )
    with pytest.raises(SemanticError):  # bad ref_text column
        eng.sql(
            "select doc_id, text from documents "
            "|> decontaminate(text, id=doc_id, ref=bench, ref_text=zzz)"
        )
    with pytest.raises(SemanticError):  # no engine context
        from csvtool_spark.dialect.parser import parse
        from csvtool_spark.dialect.stages import apply_stages

        q = parse(
            "select doc_id from d |> decontaminate(text, id=doc_id, ref=b)"
        )
        apply_stages(docs.select("doc_id", "text"), q.pipeline, engine=None)


def test_decontaminate_broadcast_plan(eng, docs):
    # the ref shingle set must broadcast: the corpus side is the 100 TB
    # side and must never shuffle for the semi-join
    eng.register("bench", docs.filter(F.col("source") == "src0"))
    out = eng.sql(
        "select doc_id, text from documents where source != src0 "
        "|> decontaminate(text, id=doc_id, ref=bench, k=4)"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_despan_stage_matches_operator(eng, docs):
    from csvtool_spark.operators.dedup import remove_duplicate_spans

    out = eng.sql(
        "select doc_id, lang, text from documents "
        "|> despan(text, id=doc_id, k=3)"
    )
    assert out.columns == ["doc_id", "lang", "text"]  # in-place, order kept
    expect = {
        r["doc_id"]: r["text_dedup"]
        for r in remove_duplicate_spans(docs, "text", "doc_id", k=3).collect()
    }
    rows = out.collect()
    assert len(rows) == docs.count()
    changed = 0
    for r in rows:
        assert r["text"] == expect[r["doc_id"]]
        changed += r["text"] != expect.get("__never__", r["text"])
    # the rewrite bites on this corpus (near-dup families share passages)
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert any(expect[i] != orig[i] for i in expect)


def test_despan_keep_none_and_errors(eng):
    out = eng.sql(
        "select doc_id, text from documents "
        "|> despan(text, id=doc_id, k=3, keep=none)"
    )
    assert out.count() > 0
    with pytest.raises(SemanticError):
        eng.sql(
            "select doc_id, text from documents "
            "|> despan(text, id=doc_id, keep=sometimes)"
        )


def test_quota_stage(eng, docs):
    out = eng.sql(
        "select doc_id, source, text from documents "
        "|> quota(source, cap=5, order=doc_id)"
    )
    rows = out.collect()
    from collections import Counter

    per = Counter(r["source"] for r in rows)
    assert max(per.values()) <= 5 and len(per) > 1
    # keeps the FIRST cap by order: per source, the 5 smallest doc_ids
    lowest = {}
    for r in docs.select("doc_id", "source").collect():
        lowest.setdefault(r["source"], []).append(r["doc_id"])
    expect = {
        (s, i) for s, ids in lowest.items() for i in sorted(ids)[:5]
    }
    assert {(r["source"], r["doc_id"]) for r in rows} == expect
    with pytest.raises(SemanticError):
        eng.sql("select doc_id, source from documents |> quota(source, order=doc_id)")
    with pytest.raises(SemanticError):
        eng.sql("select doc_id, source from documents |> quota(source, cap=5)")


def test_chunk_stage_matches_operator(eng, docs):
    from csvtool_spark.operators.pipeline import chunk_documents

    out = eng.sql(
        "select doc_id, source, text from documents "
        "|> chunk(text, id=doc_id, size=64, overlap=8)"
    )
    assert out.columns == [
        "doc_id", "source", "text", "chunk_id", "n_chunk_tokens"
    ]
    expect = {
        (r["doc_id"], r["chunk_id"]): r["chunk_text"]
        for r in chunk_documents(
            docs, "text", "doc_id", chunk_tokens=64, overlap=8
        ).collect()
    }
    rows = out.collect()
    assert len(rows) == len(expect) and len(rows) > docs.count()
    src = {r["doc_id"]: r["source"] for r in docs.collect()}
    for r in rows:
        assert r["text"] == expect[(r["doc_id"], r["chunk_id"])]
        assert r["source"] == src[r["doc_id"]]  # carried column rides


def test_langid_keep_gate(eng, docs):
    from csvtool_spark.operators.textstats import lang_id

    out = eng.sql(
        "select doc_id, text from documents |> langid(text, keep=en)"
    )
    expect = {
        r["doc_id"]
        for r in docs.select(
            "doc_id", lang_id(F.col("text"), kernel="jvm").alias("g")
        ).collect()
        if r["g"] == "en"
    }
    got = {r["doc_id"] for r in out.collect()}
    assert got == expect and 0 < len(got) < docs.count()


def test_chunk_errors(eng):
    with pytest.raises(SemanticError):  # overlap >= size
        eng.sql(
            "select doc_id, text from documents "
            "|> chunk(text, id=doc_id, size=8, overlap=8)"
        )
    with pytest.raises(SemanticError):  # chunk_id collision
        eng.sql(
            "select doc_id, text, doc_id as chunk_id from documents "
            "|> chunk(text, id=doc_id)"
        )


def test_despan_min_run_dispatch(eng, spark):
    from csvtool_spark.operators.dedup import remove_duplicate_runs

    shared10 = "a b c d e f g h i j"
    rows = [(1, f"x1 {shared10} p q"), (2, f"x2 {shared10} r s")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    eng.register("minidocs", d)
    out = {
        r["doc_id"]: r["text"]
        for r in eng.sql(
            "select doc_id, text from minidocs "
            "|> despan(text, id=doc_id, k=3, min_run=8)"
        ).collect()
    }
    expect = {
        r["doc_id"]: r["text_dedup"]
        for r in remove_duplicate_runs(
            d, "text", "doc_id", k=3, min_run_tokens=8
        ).collect()
    }
    assert out == expect
    assert shared10 in out[1] and shared10 not in out[2]


def test_stage_arg_validation_hardening(eng):
    with pytest.raises(SemanticError, match="must be a string"):
        eng.sql("select doc_id, text from documents |> tokens(doc_id)")
    with pytest.raises(SemanticError, match="positive multiple"):
        eng.sql(
            "select doc_id, text from documents "
            "|> neardup(text, id=doc_id, n_hashes=32, bands=5)"
        )
    with pytest.raises(SemanticError, match="threshold"):
        eng.sql(
            "select doc_id, text from documents "
            "|> neardup(text, id=doc_id, threshold=1.5)"
        )


def test_pack_stage_matches_operator(eng, docs):
    from csvtool_spark.operators import textstats
    from csvtool_spark.operators.packing import pack_sequences

    out = eng.sql(
        "select doc_id, text from documents "
        "|> tokens(text) |> pack(n_tokens, id=doc_id, budget=256)"
    )
    assert out.columns == [
        "doc_id", "text", "n_tokens", "seq_id", "seq_offset", "n_tok"
    ]
    sized = docs.select(
        "doc_id", textstats.token_count(F.col("text")).alias("n")
    )
    expect = {
        (r["doc_id"], r["seq_id"], r["seq_offset"], r["n_tok"])
        for r in pack_sequences(sized, "doc_id", "n", 256).collect()
    }
    got = {
        (r["doc_id"], r["seq_id"], r["seq_offset"], r["n_tok"])
        for r in out.collect()
    }
    assert got == expect and len(got) >= docs.count()
    with pytest.raises(SemanticError):  # missing budget
        eng.sql(
            "select doc_id, text from documents |> tokens(text) "
            "|> pack(n_tokens, id=doc_id)"
        )
    with pytest.raises(SemanticError, match="not streaming-safe"):
        from csvtool_spark.dialect.parser import parse_pipeline
        from csvtool_spark.dialect.stages import apply_stages_streaming

        apply_stages_streaming(
            docs, parse_pipeline("pack(n_chars, id=doc_id, budget=64)")
        )


def test_bpe_stage(eng, docs, spark, tmp_path):
    from csvtool_spark.operators.bpe import bpe_encode, bpe_train, save_merges

    merges = bpe_train(docs, "text", n_merges=40)
    path = str(tmp_path / "merges.parquet")
    save_merges(spark, merges, path)
    out = eng.sql(
        f"select doc_id, text from documents |> bpe(text, merges='{path}')"
    )
    assert out.columns == ["doc_id", "text", "bpe_tokens", "n_bpe_tokens"]
    got = {r["doc_id"]: list(r["bpe_tokens"]) for r in out.collect()}
    expect = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_encode(
            docs.select("doc_id", "text"), "text", merges
        ).collect()
    }
    assert got == expect
    with pytest.raises(SemanticError, match="cannot load merges"):
        eng.sql(
            "select doc_id, text from documents "
            "|> bpe(text, merges='/nope/missing.parquet')"
        )
    with pytest.raises(SemanticError, match="requires merges"):
        eng.sql("select doc_id, text from documents |> bpe(text)")


def test_review_fixes_round8(eng, spark):
    """Round-8 review regressions: (1) pack must keep null-text docs as
    zero-token spans instead of silently dropping them; (2) a result that
    already has text_dedup must not make despan's join ambiguous; (3) a
    wrong-case/unknown langid keep= raises instead of matching nothing."""
    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, "x y z")],
        "doc_id long, text string",
    )
    eng.register("nulldocs", d)
    rows = eng.sql(
        "select doc_id, text from nulldocs "
        "|> tokens(text) |> pack(n_tokens, id=doc_id, budget=4)"
    ).collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 3}
    assert [r["n_tok"] for r in rows if r["doc_id"] == 2] == [0]

    d2 = spark.createDataFrame(
        [(1, "p q r s t u v w", "x"), (2, "p q r s t u v w", "y")],
        "doc_id long, text string, text_dedup string",
    )
    eng.register("clashdocs", d2)
    out = eng.sql(
        "select doc_id, text, text_dedup from clashdocs "
        "|> despan(text, id=doc_id, k=3)"
    )
    assert out.columns == ["doc_id", "text", "text_dedup"]
    got = {r["doc_id"]: (r["text"], r["text_dedup"]) for r in out.collect()}
    assert got[2][0] == "" and got[2][1] == "y"  # user column untouched

    # wrong CASE is forgiven (lowered before the vocabulary check) ...
    a = eng.sql(
        "select doc_id, text from documents |> langid(text, keep=EN)"
    ).count()
    b = eng.sql(
        "select doc_id, text from documents |> langid(text, keep=en)"
    ).count()
    assert a == b > 0
    # ... an unknown code is not
    with pytest.raises(SemanticError, match="keep= must be one of"):
        eng.sql(
            "select doc_id, text from documents |> langid(text, keep=english)"
        )


def test_clean_stage_c4_rules(eng, spark):
    rows = [
        (1, "Good long sentence right here.\nshort\nNo terminal punct in this one\n"
            "Another perfectly fine sentence stays!\nthis long line mentions javascript sadly."),
        (2, "Totally fine page lorem ipsum inside."),
        (3, "A curly { bracket page stays not."),
        (4, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    eng.register("c4docs", d)
    out = {r["doc_id"]: r["text"] for r in eng.sql(
        "select doc_id, text from c4docs |> clean(text)"
    ).collect()}
    assert set(out) == {1, 4}  # pages 2/3 tripped the page blocklist
    assert out[1] == ("Good long sentence right here.\n"
                      "Another perfectly fine sentence stays!")
    assert out[4] is None  # null rides through, not page-dropped
    # terminal=0 waives the punctuation rule
    out2 = {r["doc_id"]: r["text"] for r in eng.sql(
        "select doc_id, text from c4docs |> clean(text, terminal=0)"
    ).collect()}
    assert "No terminal punct in this one" in out2[1]
    assert "javascript" not in out2[1]  # line blocklist still applies


def test_derep_stage(eng, spark):
    from csvtool_spark.operators.dedup import remove_repeated_spans

    d = spark.createDataFrame(
        [(1, "p q r s p q r s tail words here", "m")],
        "doc_id long, text string, meta string",
    )
    eng.register("repdocs", d)
    out = eng.sql(
        "select doc_id, meta, text from repdocs |> derep(text, id=doc_id, k=4)"
    ).collect()
    expect = remove_repeated_spans(d, "text", "doc_id", k=4).collect()[0]
    assert out[0]["text"] == expect["text_dedup"]
    assert out[0]["meta"] == "m"
    assert "p q r s p q r s" not in out[0]["text"]


def test_mixture_stage(eng, docs):
    from csvtool_spark.operators import textstats
    from csvtool_spark.operators.sampling import mixture_resample

    out = eng.sql(
        "select doc_id, source, text from documents "
        "|> tokens(text) |> mixture(source, key=doc_id, tokens=n_tokens, "
        "src0=500000, src1=500000)"
    )
    assert "keep_ppm" in out.columns
    staged = docs.select(
        "doc_id", "source",
        textstats.token_count(F.col("text")).alias("__n"),
    )
    expect = {
        r["doc_id"]
        for r in mixture_resample(
            staged, "source", "doc_id", "__n",
            {"src0": 500_000, "src1": 500_000},
        ).collect()
    }
    got = {r["doc_id"] for r in out.collect()}
    assert got == expect and 0 < len(got)
    with pytest.raises(SemanticError, match="positive ppm"):
        eng.sql(
            "select doc_id, source, text from documents |> tokens(text) "
            "|> mixture(source, key=doc_id, tokens=n_tokens, src0=0)"
        )
    with pytest.raises(SemanticError, match="at least one"):
        eng.sql(
            "select doc_id, source, text from documents |> tokens(text) "
            "|> mixture(source, key=doc_id, tokens=n_tokens)"
        )


def test_second_review_fixes_round8(eng, spark):
    """Second review pass: NULL-text pack oracle agreement, langid NULL ->
    unknown in the generated SQL twin, and the bpe as= collision guard."""
    import duckdb

    from csvtool_spark.operators.textstats import langid_cte_sql

    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, "x y z")],
        "doc_id long, text string",
    )
    # engine: NULL-text doc packs as one zero-token span (first pass);
    # the oracle formula with coalesce now matches (second pass) — pin
    # both numbers here so neither lane can drift again
    eng.register("nulldocs2", d)
    got = {
        r["doc_id"]: r["n_tok"]
        for r in eng.sql(
            "select doc_id, text from nulldocs2 "
            "|> tokens(text) |> pack(n_tokens, id=doc_id, budget=4)"
        ).collect()
    }
    assert got[2] == 0
    con = duckdb.connect()
    con.register("d", d.toPandas())
    oracle = con.execute(
        """
        WITH t AS (SELECT doc_id,
                          CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
                   FROM d),
        c AS (SELECT doc_id, coalesce(n_tokens, 0) AS n0,
                     CAST(coalesce(SUM(coalesce(n_tokens,0)) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
              FROM t),
        u AS (SELECT doc_id, s, s + n0 AS e,
                     unnest(generate_series(s // 4,
                       greatest(s // 4, (s + n0 - 1) // 4))) AS seq_id
              FROM c)
        SELECT doc_id, least(e, (seq_id+1)*4) - greatest(s, seq_id*4) AS n_tok
        FROM u ORDER BY doc_id
        """
    ).fetchall()
    assert {r[0]: r[1] for r in oracle}[2] == 0

    # langid SQL twin: NULL text is 'unknown' (was 'es' via NULL CASE
    # fallthrough), matching both Spark kernels
    rows = con.execute(
        "WITH " + langid_cte_sql("d", "doc_id")
        + " SELECT doc_id, lang_guess FROM lid ORDER BY doc_id"
    ).fetchall()
    assert dict(rows)[2] == "unknown"

    # bpe as= cannot shadow the stage's own count column
    with pytest.raises(SemanticError, match="n_bpe_tokens"):
        eng.sql(
            "select doc_id, text from documents "
            "|> bpe(text, merges='/tmp/x.parquet', as=n_bpe_tokens)"
        )


def test_neardup_transitive_keeps_one_per_cluster(eng, docs):
    from csvtool_spark.operators.components import dedup_clusters
    from csvtool_spark.operators.dedup import near_dup_pairs_minhash

    with persist_scope():
        pairs = near_dup_pairs_minhash(
            docs, "text", "doc_id", threshold=0.4, n_hashes=32, bands=8,
            hash_family="md5",
        )
        expect = {
            r["doc_id"]
            for r in dedup_clusters(docs.select("doc_id"), pairs, "doc_id")
            .filter("is_survivor").collect()
        }
    with persist_scope():
        out = eng.sql(
            "select doc_id, text from documents "
            "|> neardup(text, id=doc_id, threshold=0.4, transitive=1)"
        )
        got = {r["doc_id"] for r in out.collect()}
    assert got == expect
    # transitive removes at least as many rows as greedy
    with persist_scope():
        greedy = eng.sql(
            "select doc_id, text from documents "
            "|> neardup(text, id=doc_id, threshold=0.4)"
        )
        greedy_ids = {r["doc_id"] for r in greedy.collect()}
    assert got <= greedy_ids


def test_neardup_transitive_by_keeps_best_member(eng, docs):
    """by=<score> switches transitive=1's survivor from min-id to the
    SemDeDup-style best-scoring member (ties -> lowest id); survivor
    COUNT equals the min-id rule's (still exactly one per cluster)."""
    from csvtool_spark.operators.components import canonical_select
    from csvtool_spark.operators.dedup import near_dup_pairs_minhash

    with persist_scope():
        pairs = near_dup_pairs_minhash(
            docs, "text", "doc_id", threshold=0.4, n_hashes=32, bands=8,
            hash_family="md5",
        )
        expect = {
            r["doc_id"]
            for r in canonical_select(docs, pairs, "doc_id", "n_chars")
            .filter("is_kept").collect()
        }
    with persist_scope():
        out = eng.sql(
            "select doc_id, n_chars, text from documents "
            "|> neardup(text, id=doc_id, threshold=0.4, transitive=1, by=n_chars)"
        )
        got = {r["doc_id"] for r in out.collect()}
    assert got == expect
    with persist_scope():
        minid = eng.sql(
            "select doc_id, text from documents "
            "|> neardup(text, id=doc_id, threshold=0.4, transitive=1)"
        )
        minid_ids = {r["doc_id"] for r in minid.collect()}
    assert len(got) == len(minid_ids)


def test_quota_token_budget(spark):
    """quota(..., tokens=) keeps rows in order while the group's running
    token sum stays <= cap: a doc that would overflow the budget drops,
    as does everything after it in that group; an oversized first doc
    drops too (strict budget); NULL counts spend 0."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages

    df = spark.createDataFrame(
        [
            (1, "a", 40), (2, "a", 50), (3, "a", 20), (4, "a", 5),
            (5, "b", 200),              # first doc alone busts the cap
            (6, "c", None), (7, "c", 100),  # NULL spends 0
        ],
        "doc_id long, src string, n_tok long",
    )
    out = apply_stages(
        df, parse_pipeline("quota(src, cap=100, order=doc_id, tokens=n_tok)")
    )
    kept = {r["doc_id"] for r in out.collect()}
    # group a cumsums: 40, 90, 110, 115 -> only docs 1, 2 survive. Doc 4
    # (5 tokens) drops even though skipping doc 3 would leave room: the
    # budget is a PREFIX sum in order, not a knapsack — deterministic
    # and one-pass. Group b: 200 > 100, strict budget drops it. Group c:
    # cumsums 0, 100 -> both survive.
    assert kept == {1, 2, 6, 7}


def test_dedup_by_keeps_best_copy(spark):
    """dedup(text, id=k, by=score): among exact (normalized) copies the
    highest score survives, NULL scores lose, ties break to lowest id;
    non-duplicated rows always survive."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages

    df = spark.createDataFrame(
        [
            (1, "same text", 10), (2, "Same Text  ", 50), (3, "same text", None),
            (4, "other", 1),
            (5, "tie", 7), (6, "tie", 7),
        ],
        "doc_id long, text string, score long",
    )
    out = apply_stages(
        df, parse_pipeline("dedup(text, id=doc_id, by=score)")
    )
    assert {r["doc_id"] for r in out.collect()} == {2, 4, 5}


def test_shard_stage_balance_and_repartition(eng):
    """shard(n=8, key=doc_id): every row keeps its row (append-only),
    shards are ~uniform (md5 coin), NULL shard only for NULL keys, and
    repartition=1 physically lands each shard in its own partition."""
    out = eng.sql(
        "select doc_id, text from documents |> shard(n=8, key=doc_id)"
    )
    rows = out.collect()
    assert len(rows) == 500 and {"doc_id", "text", "shard"} == set(out.columns)
    by = {}
    for r in rows:
        by[r["shard"]] = by.get(r["shard"], 0) + 1
    # every shard occupied (min() over only the PRESENT keys would let a
    # broken coin that empties shards pass — round-9 review), then ~uniform
    assert set(by) == set(range(8))
    assert min(by.values()) > 500 / 8 * 0.5  # uniform within 2x
    rep = eng.sql(
        "select doc_id, text from documents "
        "|> shard(n=8, key=doc_id, repartition=1)"
    )
    assert rep.rdd.getNumPartitions() == 8
    # co-location: a shard value never straddles two physical partitions
    # (hash partitioning may still land two shard values together)
    per_part = rep.select("shard").rdd.mapPartitions(
        lambda it: [list({r["shard"] for r in it})]
    ).collect()
    flat = [v for part in per_part for v in part]
    assert len(flat) == len(set(flat))
    assert {r["doc_id"] for r in rep.collect()} == {r["doc_id"] for r in rows}


def test_parse_pipeline_rejects_trailing_pipe():
    """Round-8 ADVICE: a dangling '|>' must fail like the full-query
    parser's 'Expected a stage name', not silently parse."""
    from csvtool_spark.dialect.parser import parse_pipeline

    with pytest.raises(ParseError, match="stage name"):
        parse_pipeline("langid(text) |>")
    # the documented leading-'|>' form still parses
    assert [s.name for s in parse_pipeline("|> langid(text)")] == ["langid"]


def test_neardup_transitive_rejects_string_id(docs):
    """Round-8 ADVICE (medium): transitive=1 clusters on long ids — a
    string/UUID id used to cast to NULL inside dedup_clusters and
    silently return ZERO rows. Now it's a SemanticError up front, while
    transitive=0 keeps accepting string ids."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages

    sdocs = docs.withColumn("sid", F.format_string("doc-%d", "doc_id"))
    with pytest.raises(SemanticError, match="integral"):
        apply_stages(
            sdocs, parse_pipeline("neardup(text, id=sid, transitive=1)")
        )
    with persist_scope():
        out = apply_stages(
            sdocs.limit(20), parse_pipeline("neardup(text, id=sid)")
        )
        assert out.count() >= 1  # greedy pair removal still works on strings


def test_salted_coins_keep_split_fractions(eng, docs):
    """Round-8 verdict item 7: hash_sample and split derive their coins
    from the SAME key column — unsalted they'd correlate and a prior
    thinning could skew the split fractions. The stage-name salt makes
    them independent: after a 0.5 sample the 0.5/0.5 split stays ~even."""
    out = eng.sql(
        "select doc_id from documents |> hash_sample(0.5, key=doc_id) "
        "|> split(key=doc_id, train=0.5, test=0.5)"
    ).collect()
    n = len(out)
    assert n > 100
    tr = sum(1 for r in out if r["split"] == "train")
    assert abs(tr / n - 0.5) < 0.08, f"train share {tr}/{n} skewed"
    # and the two coins really differ: the sampled half is NOT the
    # train half (which is what an unsalted shared coin would produce
    # for matching fraction scales)
    splits = {r["split"] for r in out}
    assert splits == {"train", "test"}
    # audit contract (round-9 review): the pipe split assigns EXACTLY the
    # labels operators.sampling.hash_split / split_leakage recompute from
    # the key — the stage coin is deliberately unsalted
    from csvtool_spark.operators.sampling import hash_split

    expect = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", {"train": 0.5, "test": 0.5}).collect()
    }
    assert all(expect[r["doc_id"]] == r["split"] for r in out)


def test_mixture_rates_mode(eng, docs):
    """mixture(rates=1): pre-computed keep rates as a pure CASE + coin
    filter (sampling.mixture_apply) — applying the batch run's realized
    keep_ppm reproduces the batch survivors exactly, and it is the one
    mixture form the streaming gate admits."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages_streaming
    from csvtool_spark.operators.sampling import mixture_apply, mixture_resample

    toks = docs.withColumn("n_tokens", F.size(F.split("text", " ")).cast("long"))
    batch = mixture_resample(
        toks, "source", "doc_id", "n_tokens",
        {"src0": 500000, "src1": 500000},
    )
    rates = {
        r["source"]: int(r["keep_ppm"])
        for r in batch.select("source", "keep_ppm").distinct().collect()
    }
    applied = mixture_apply(toks, "source", "doc_id", rates)
    assert sorted(r["doc_id"] for r in applied.collect()) == sorted(
        r["doc_id"] for r in batch.collect()
    )
    assert dict(applied.dtypes)["keep_ppm"] == "bigint"  # audit column type
    # streaming gate: rates mode admitted, share mode rejected
    out = apply_stages_streaming(
        docs, parse_pipeline("mixture(source, key=doc_id, rates=1, src0=800000)")
    )
    assert out.columns[-1] == "keep_ppm" and out.count() > 0
    with pytest.raises(SemanticError, match="not streaming-safe"):
        apply_stages_streaming(
            toks,
            parse_pipeline(
                "mixture(source, key=doc_id, tokens=n_tokens, src0=500000)"
            ),
        )
    # rates mode rejects tokens= and rates outside (0, 1e6]
    with pytest.raises(SemanticError, match="tokens= applies only"):
        eng.sql(
            "select doc_id, source, text from documents |> tokens(text) "
            "|> mixture(source, key=doc_id, rates=1, tokens=n_tokens, src0=5)"
        )
    with pytest.raises(SemanticError, match="keep rate"):
        eng.sql(
            "select doc_id, source, text from documents "
            "|> mixture(source, key=doc_id, rates=1, src0=2000000)"
        )


def test_mixture_then_split_not_correlated(eng):
    """Round-9 review (2nd pass): 1e6 is a multiple of split_bucket's
    1e4, so an unsalted shared coin would send EVERY mixture survivor at
    keep_ppm=5000 into split buckets < 5000 (train only). The
    mixture-family salt keeps the composition sane: both labels appear
    at ~the requested fractions."""
    out = eng.sql(
        "select doc_id, source, text from documents "
        "|> mixture(source, key=doc_id, rates=1, src0=500000, src1=500000, "
        "src2=500000, src3=500000, src4=500000, src5=500000, src6=500000, "
        "src7=500000, src8=500000, src9=500000) "
        "|> split(key=doc_id, train=0.5, test=0.5)"
    ).collect()
    n = len(out)
    assert n > 80
    tr = sum(1 for r in out if r["split"] == "train")
    assert 0 < tr < n and abs(tr / n - 0.5) < 0.12, f"{tr}/{n} skewed"


def test_gopher_stage_appends_without_dropping(eng, docs, spark):
    """gopher (filter=0) is a pure per-row append (Arrow kernel, no
    join): row count preserved, NULL-id rows keep their signals,
    NULL-text rows get NULL signals; the streaming gate admits it."""
    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages, apply_stages_streaming

    d = spark.createDataFrame(
        [(1, "a b a b a b a b"), (None, "x y"), (3, None)],
        "doc_id long, text string",
    )
    out = apply_stages_streaming(d, parse_pipeline("gopher(text)"))
    rows = out.collect()
    assert len(rows) == 3  # NULL id and NULL text rows survive
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[1]["top_2gram_char_frac"] is not None
    assert by_id[None]["dup_line_frac"] == 0.0  # per-row: no join to miss
    assert by_id[3]["dup_line_frac"] is None  # NULL text -> NULL signals
    # the stage signals match the operator exactly
    op = {
        r["doc_id"]: r
        for r in __import__(
            "csvtool_spark.operators.textstats", fromlist=["x"]
        ).gopher_repetition(d, "text", "doc_id").collect()
        if r["doc_id"] is not None
    }
    from csvtool_spark.operators.textstats import GOPHER_THRESHOLDS

    for i in (1, 3):
        for c in GOPHER_THRESHOLDS:  # every signal column, not just one
            assert by_id[i][c] == op[i][c], (i, c)
    # filter=1 drops the heavy-repetition doc
    kept = apply_stages(
        d, parse_pipeline("gopher(text, filter=1)")
    ).collect()
    assert 1 not in {r["doc_id"] for r in kept}
    # a user column literally named __g must not break the struct expand
    # (round-9 third review: AMBIGUOUS_REFERENCE)
    clash = apply_stages(
        d.withColumn("__g", F.lit(7)), parse_pipeline("gopher(text)")
    )
    assert clash.count() == 3 and "__g" in clash.columns


def test_quota_tie_breaks_duplicate_order(eng, duck):
    """quota over a NON-unique order column: ``tie=<unique id>`` restores
    the determinism contract (sampling.source_quota/token_quota order by
    ``(order, tie)``) and the twin mirrors the two-column ORDER BY — an
    exact cross-engine match where order-only ranking is engine-chosen
    (round-9 ADVICE). Covers both the row-cap and token-budget modes."""
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql
    from csvtool_spark.oracle import compare

    base_text = "select doc_id, source, lang, text from documents"
    base_sql = "SELECT doc_id, source, lang, text FROM documents"
    cols = ["doc_id", "source", "lang", "text"]
    # lang repeats within every source -> order=lang alone is ambiguous
    sdf = eng.sql(f"{base_text} |> quota(source, cap=7, order=lang, tie=doc_id)")
    sql, _ = chain_oracle_sql(
        base_sql, cols,
        [("quota", {"group": "source", "order": "lang",
                    "tie": "doc_id", "cap": 7})],
    )
    err = compare(sdf, duck, sql)
    assert err is None, err
    sdf = eng.sql(
        f"{base_text} |> tokens(text) "
        "|> quota(source, cap=400, order=lang, tie=doc_id, tokens=n_tokens)"
    )
    sql, _ = chain_oracle_sql(
        base_sql, cols,
        [("tokens", {"text": "text"}),
         ("quota", {"group": "source", "order": "lang", "tie": "doc_id",
                    "cap": 400, "tokens": "n_tokens"})],
    )
    err = compare(sdf, duck, sql)
    assert err is None, err


def test_filter_integer_lane_beyond_double_precision(spark):
    """filter bounds with an integer lexeme compare in the exact int64
    lane (round-9 ADVICE): min=2^53+1 on a BIGINT column is not
    representable as a double (it rounds down to 2^53), so the old
    all-double lane would wrongly keep the 2^53 row. Twin mirrors the
    BIGINT literal; fractional bounds stay in the documented double
    lane; bounds outside int64 raise."""
    import duckdb
    import pandas as pd

    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stage_oracles import STAGE_TWINS
    from csvtool_spark.dialect.stages import apply_stages

    base = 2**53
    rows = [(1, base - 1), (2, base), (3, base + 1), (4, base + 2)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = apply_stages(df, parse_pipeline(f"filter(v, min={base + 1})"))
    assert sorted(r["id"] for r in out.collect()) == [3, 4]
    # the double lane (fractional lexeme) keeps the 2^53 row too — the
    # documented 2^53 precision bound for fractional gates
    out = apply_stages(df, parse_pipeline(f"filter(v, min={base + 1}.0)"))
    assert sorted(r["id"] for r in out.collect()) == [2, 3, 4]
    # twin emits the same BIGINT lane
    con = duckdb.connect()
    con.register("probe", pd.DataFrame(rows, columns=["id", "v"]))
    sql, _ = STAGE_TWINS["filter"](
        "SELECT * FROM probe", ["id", "v"], {"col": "v", "min": base + 1}
    )
    assert sorted(r[0] for r in con.execute(sql).fetchall()) == [3, 4]
    from csvtool_spark.dialect.errors import SemanticError

    with pytest.raises(SemanticError, match="BIGINT range"):
        apply_stages(df, parse_pipeline(f"filter(v, min={2**63})"))
    # Unicode digits pass str.isdigit() but not int() — must surface as
    # the dialect's SemanticError, not a raw ValueError (round-10 review)
    with pytest.raises(SemanticError, match="expects a number"):
        apply_stages(df, parse_pipeline("filter(v, min=²)"))


def test_quota_null_order_values_cross_engine(spark):
    """twin_quota emits ORDER BY ... NULLS FIRST claiming it mirrors
    Spark's ASC window default (DuckDB defaults NULLS LAST) — pin that
    claim with order values that ARE NULL, on both quota modes, with
    tie=id making the full order deterministic. A NULL-order row must
    rank FIRST (consuming budget ahead of every ranked row) identically
    on both engines."""
    import duckdb
    import pandas as pd

    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql
    from csvtool_spark.dialect.stages import apply_stages

    rows = [
        # (id, grp, score, tok) — score NULL on two rows per group
        (1, "a", None, 10), (2, "a", 5, 10), (3, "a", None, 10),
        (4, "a", 1, 10), (5, "b", 2, 10), (6, "b", None, 10),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "grp", "score", "tok"])
    df = spark.createDataFrame(
        pdf.astype({"doc_id": "int64", "tok": "int64"}),
        "doc_id long, grp string, score double, tok long",
    )
    con = duckdb.connect()
    con.register("probe", pdf)

    def both(chain_text, chain_spec):
        got = sorted(
            r["doc_id"]
            for r in apply_stages(df, parse_pipeline(chain_text)).collect()
        )
        sql, _ = chain_oracle_sql(
            "SELECT doc_id, grp, score, tok FROM probe",
            ["doc_id", "grp", "score", "tok"],
            [chain_spec],
        )
        want = sorted(r[0] for r in con.execute(sql).fetchall())
        assert got == want, (chain_text, got, want)
        return got

    # row-cap mode: NULL scores rank first -> a cap of 2 in group 'a'
    # keeps the two NULL rows (ids 1,3), not the best-scored ones
    kept = both(
        "quota(grp, cap=2, order=score, tie=doc_id)",
        ("quota", {"group": "grp", "order": "score", "tie": "doc_id",
                   "cap": 2}),
    )
    assert kept == [1, 3, 5, 6]
    # token-budget mode: same NULLS FIRST consumption order
    kept = both(
        "quota(grp, cap=25, order=score, tie=doc_id, tokens=tok)",
        ("quota", {"group": "grp", "order": "score", "tie": "doc_id",
                   "cap": 25, "tokens": "tok"}),
    )
    assert kept == [1, 3, 5, 6]
