"""ORC source: the second columnar self-describing format the engine
reads natively (engine extension — the reference reads CSV only,
files.go). Spark ships the ORC reader/writer in-distribution, so the
dispatch is the same typed-schema lane as parquet: no inference pass,
dialect types come from the file footer."""

from __future__ import annotations

from pyspark.sql import functions as F

from csvtool_spark.engine import CsvEngine


def _fixture(spark, tmp_path) -> str:
    p = str(tmp_path / "orders_slice.orc")
    (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice",
                "o_orderpriority", "o_orderdate")
        .write.orc(p)
    )
    return p


def test_engine_reads_orc_with_typed_schema(spark, tmp_path):
    p = _fixture(spark, tmp_path)
    eng = CsvEngine(spark)
    out = eng.sql(
        f"select o_orderkey, o_totalprice from '{p}' "
        "where o_totalprice > 100000 order by o_orderkey asc limit 10"
    )
    rows = out.collect()
    assert len(rows) == 10 and all(r["o_totalprice"] > 100000 for r in rows)
    # parity with the parquet lane on the same slice
    want = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(F.col("o_totalprice") > 100000)
        .orderBy("o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in want]


def test_orc_joins_typed_and_dates_work(spark, tmp_path):
    """Typed lanes survive the footer round trip: doubles aggregate,
    dates compare, and the ORC table joins a parquet table in one
    dialect statement (mixed-format N-file chain)."""
    p = _fixture(spark, tmp_path)
    eng = CsvEngine(spark)
    out = eng.sql(
        f"select o_orderpriority, count(*) as n, max(o_totalprice) as mx "
        f"from '{p}' where o_orderdate >= '1995-01-01' "
        "group by o_orderpriority"
    )
    rows = out.collect()
    assert len(rows) > 1 and all(r["mx"] > 0 for r in rows)
    mixed = eng.sql(
        f"select o.o_orderkey, c.c_name from '{p}' o join "
        "'/root/testdata/sf0.001/customer.parquet' c "
        "on o.o_custkey = c.c_custkey"
    )
    n = mixed.count()
    pq_orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    pq_cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    want = pq_orders.join(
        pq_cust, pq_orders.o_custkey == pq_cust.c_custkey
    ).count()
    assert n == want and n > 0


def test_orc_pipe_chain_runs(spark, tmp_path):
    """The curation pipe composes over an ORC scan like any source."""
    p = str(tmp_path / "docs.orc")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).write.orc(p)
    eng = CsvEngine(spark)
    out = eng.sql(
        f"select doc_id, text from '{p}' |> tokens(text) "
        "|> filter(n_tokens, min=30)"
    )
    rows = out.collect()
    assert len(rows) > 0 and all(r["n_tokens"] >= 30 for r in rows)


def test_orc_sink_round_trip_and_multi_statement(spark, tmp_path):
    """save_parquet's extension dispatch writes ORC for .orc paths; a
    two-statement text numbers every output (-1, -2) BEFORE the
    extension so both stay readable back through the read-side
    dispatch."""
    eng = CsvEngine(spark)
    src = "/root/testdata/sf0.001/orders.parquet"
    out = str(tmp_path / "out.orc")
    text = (
        f"select o_orderkey, o_totalprice from '{src}' where o_totalprice > 300000; "
        f"select o_orderpriority, count(*) as n from '{src}' group by o_orderpriority"
    )
    written = eng.save_parquet(text, out)
    assert written == [str(tmp_path / "out-1.orc"), str(tmp_path / "out-2.orc")]
    first = eng.sql(f"select o_orderkey, o_totalprice from '{written[0]}'")
    want = eng.sql(
        f"select o_orderkey, o_totalprice from '{src}' where o_totalprice > 300000"
    )
    assert sorted(map(tuple, first.collect())) == sorted(
        map(tuple, want.collect())
    )
    second = spark.read.orc(written[1])
    assert sorted(second.columns) == ["n", "o_orderpriority"]
    assert second.count() == 5


def test_txt_lines_feed_the_pipe(spark, tmp_path):
    """Raw .txt ingest (engine extension): one row per line, single
    string column `line` — the one-document-per-line corpus shape piped
    straight into curation stages."""
    p = tmp_path / "corpus.txt"
    p.write_text(
        "the quick brown fox jumps over the lazy dog again\n"
        "short\n"
        "spark reads raw text lines into the curation pipe cleanly\n",
        encoding="utf-8",
    )
    eng = CsvEngine(spark)
    out = eng.sql(
        f"select line as text from '{p}' |> tokens(text) "
        "|> filter(n_tokens, min=6)"
    )
    rows = out.collect()
    assert out.columns == ["text", "n_tokens"] and len(rows) == 2
    assert all(r["n_tokens"] >= 6 for r in rows)
    # dialect WHERE + LIKE work over the single line column
    got = eng.sql(
        f"select line from '{p}' where line like '%fox%'"
    ).collect()
    assert len(got) == 1 and "fox" in got[0]["line"]


def test_tsv_rides_the_csv_inference_lane(spark, tmp_path):
    """.tsv dispatches into the SAME sampling-inference reader with a
    tab separator: typed columns (int/float/date narrowing), WHERE and
    aggregates behave exactly as for the comma form."""
    p = tmp_path / "t.tsv"
    p.write_text(
        "id\tname\tprice\tday\n"
        "1\talpha\t10.5\t2024-01-02\n"
        "2\tbeta\t20.25\t2024-02-03\n"
        "3\tgamma, with comma\t30.0\t2024-03-04\n",
        encoding="utf-8",
    )
    eng = CsvEngine(spark)
    out = eng.sql(
        f"select id, name, price from '{p}' where price > 15 "
        "order by id asc"
    )
    rows = out.collect()
    assert [(r["id"], r["name"]) for r in rows] == [
        (2, "beta"), (3, "gamma, with comma")
    ]
    agg = eng.sql(f"select sum(price) as s from '{p}'").collect()
    assert abs(agg[0]["s"] - 60.75) < 1e-9


def test_compressed_txt_and_tsv_ride_the_codec_strip(spark, tmp_path):
    """.txt.gz / .tsv.gz reach their readers through the codec-extension
    strip (gzip ships in this distribution); Spark's line readers
    decompress transparently."""
    import gzip

    pt = tmp_path / "corpus.txt.gz"
    with gzip.open(pt, "wt", encoding="utf-8") as f:
        f.write("alpha beta gamma delta epsilon zeta\nshort\n")
    eng = CsvEngine(spark)
    rows = eng.sql(
        f"select line from '{pt}' |> tokens(line) |> filter(n_tokens, min=5)"
    ).collect()
    assert len(rows) == 1 and rows[0]["n_tokens"] == 6
    pv = tmp_path / "t.tsv.gz"
    with gzip.open(pv, "wt", encoding="utf-8") as f:
        f.write("id\tv\n1\t10.5\n2\t20.5\n")
    got = eng.sql(f"select id, v from '{pv}' where v > 15").collect()
    assert [(r["id"], r["v"]) for r in got] == [(2, 20.5)]


def test_sink_read_round_trips_close_review_findings(spark, tmp_path):
    """Round-10 third review: every path the sinks write must read back
    through _load. Pins (1) case-insensitive extension dispatch
    (OUT.ORC written by the lowered sink check reads back), (2) .tsv
    output writes TAB-separated so re-reading doesn't mangle columns,
    (3) .txt output writes raw lines (single column, no header) and
    re-reads as the same rows, (4) a multi-column .txt write fails with
    a clear dialect error, (5) a missing .orc path raises the dialect's
    'cannot open file', not a raw AnalysisException."""
    from csvtool_spark.dialect.errors import SemanticError

    eng = CsvEngine(spark)
    src = "/root/testdata/sf0.001/documents.parquet"
    # (1) upper-cased columnar path round trip
    up = str(tmp_path / "OUT.ORC")
    eng.save_parquet(f"select doc_id, source from '{src}'", up)
    assert eng.sql(f"select doc_id from '{up}'").count() == 500
    # (2) .tsv sink -> tab-separated -> identical values back
    tsv = str(tmp_path / "out.tsv")
    eng.save_csv(f"select doc_id, source from '{src}' where doc_id < 20", tsv)
    back = eng.sql(f"select doc_id, source from '{tsv}'").collect()
    want = eng.sql(
        f"select doc_id, source from '{src}' where doc_id < 20"
    ).collect()
    assert sorted(map(tuple, back)) == sorted(map(tuple, want))
    # (3) .txt sink: raw lines, no header, round trip
    txt = str(tmp_path / "out.txt")
    eng.save_csv(f"select source from '{src}' where doc_id < 5", txt)
    lines = open(txt, encoding="utf-8").read().splitlines()
    assert len(lines) == 5 and not lines[0].startswith("source")
    assert eng.sql(f"select line from '{txt}'").count() == 5
    # (4) multi-column .txt is a clear error, not silent mangling
    import pytest

    with pytest.raises(SemanticError, match="one string column"):
        eng.save_csv(f"select doc_id, source from '{src}'", str(tmp_path / "bad.txt"))
    # (5) missing columnar path -> dialect error like every other lane
    with pytest.raises(SemanticError, match="cannot open file"):
        eng.sql("select a from '/no/such/file.orc'")
    # (6) round-11 advice: a columnar path with a codec suffix gets a
    # targeted message (columnar files are internally compressed), not
    # the generic unknown-file fallthrough — even when the file exists
    gz = tmp_path / "data.parquet.gz"
    gz.write_bytes(b"\x1f\x8b\x08\x00junk")
    for p in (str(gz), str(tmp_path / "missing.orc.gz")):
        with pytest.raises(SemanticError, match="no .gz"):
            eng.sql(f"select a from '{p}'")
    # ...and the WRITE side rejects the same names (save_parquet would
    # otherwise write a directory _load can never read)
    # tightened (round-12 review): the columnar+codec name must get the
    # TARGETED internally-compressed message, not the generic line-format
    # allowlist advice (which would suggest switching a parquet sink to
    # CSV) — 'codec suffix' alone matched both
    with pytest.raises(SemanticError, match="internally.*compressed"):
        eng.save_parquet(f"select doc_id from '{src}'",
                         str(tmp_path / "w.orc.gz"))
    # (6b) round-12 advice: a codec over an UNKNOWN format extension
    # ('out.tar.gz' -> gzip comma-CSV the read side strips to '.tar' and
    # can never dispatch) is the same mangled-round-trip class — reject
    with pytest.raises(SemanticError, match="known line format"):
        eng.save_csv(f"select doc_id from '{src}'",
                     str(tmp_path / "out.tar.gz"))
    # (6c) round-12 advice: zero part files under the tmp dir surface a
    # clear SemanticError, not an IndexError
    from csvtool_spark.engine import _copy_single_part

    empty = tmp_path / "no_parts"
    empty.mkdir()
    with pytest.raises(SemanticError, match="no output part file"):
        _copy_single_part(str(empty), str(tmp_path / "never.csv"))
    # (7) engine.save_csv delegates .parquet/.orc to the columnar sink
    # (shared write_single_result dispatch with the GUI save flow)
    pq = str(tmp_path / "via_save_csv.parquet")
    eng.save_csv(f"select doc_id, source from '{src}' where doc_id < 7", pq)
    assert eng.sql(f"select doc_id from '{pq}'").count() == 7
    # (8) round-11: .jsonl and codec-suffixed line sinks round-trip
    # through save_csv's dispatch and _load's read side
    for name, col, n in (
        ("r.jsonl", "doc_id", 9),
        ("r.jsonl.gz", "doc_id", 9),
        ("r.tsv.bz2", "doc_id", 9),
        ("r.txt.gz", "line", 9),
    ):
        p = str(tmp_path / name)
        q = ("select source from" if name.startswith("r.txt")
             else "select doc_id, source from")
        eng.save_csv(f"{q} '{src}' where doc_id < 9", p)
        assert eng.sql(f"select {col} from '{p}'").count() == n, name
    # (9) round-13 advice: save_parquet's codec check matches
    # write_single_result's — 'out.csv.gz' / 'out.gz' would write a
    # parquet directory _load strips to .csv/unknown and can never
    # read back; line-format names are the same class without a codec
    for bad, pat in (
        ("out.csv.gz", "no codec suffix"),
        ("out.gz", "no codec suffix"),
        ("out.csv", "line format"),
        ("out.jsonl", "line format"),
    ):
        with pytest.raises(SemanticError, match=pat):
            eng.save_parquet(f"select doc_id from '{src}'",
                             str(tmp_path / bad))


def test_browser_lists_every_readable_format(spark, tmp_path):
    """The server file browser must show exactly what _load can read —
    .tsv/.txt/.orc were invisible after the format wave (round-10
    third review). Driven by the engine's format table: every format x
    codec name it accepts is written by save_csv, read back by eng.sql
    with the same row count and listed by browse_dir (a columnar
    directory lists as a file); every name it rejects fails on both the
    read and the write side and is not listed."""
    import pytest

    from csvtool_spark.dialect.errors import SemanticError
    from csvtool_spark.engine import CODECS, FORMATS
    from csvtool_spark.server import browse_dir

    static = tmp_path / "static"
    static.mkdir()
    names = [
        "a.csv", "b.tsv", "c.txt", "d.parquet", "e.orc", "f.jsonl",
        "g.txt.gz", "H.CSV", "skip.xyz", "i.parquet.gz",
    ]
    for n in names:
        (static / n).write_text("x")
    got = set(browse_dir(str(static))["files"])
    assert got == {
        "a.csv", "b.tsv", "c.txt", "d.parquet", "e.orc", "f.jsonl",
        "g.txt.gz", "H.CSV",
    }  # no .xyz; no .parquet.gz (columnar formats have no codec lane)

    eng = CsvEngine(spark)
    src = "/root/testdata/sf0.001/documents.parquet"
    out = tmp_path / "table"
    out.mkdir()
    accepted, rejected = [], ["out.tar.gz", "out.gz"]
    for i, (ext, fmt) in enumerate(FORMATS.items()):
        for codec in ("", *CODECS):
            name = f"t{i}{ext}{codec}"
            if codec and fmt.columnar:
                rejected.append(name)
                continue
            # upper-case every other name: the table is case-insensitive
            accepted.append(name.upper() if len(accepted) % 2 else name)
    for name in accepted:
        p = out / name
        eng.save_csv(f"select source from '{src}' where doc_id < 6", str(p))
        n = eng.sql(f"select count(*) as n from '{p}'").collect()[0][0]
        assert n == 6, name
    assert set(browse_dir(str(out))["files"]) == set(accepted)

    bad = tmp_path / "rejected"
    bad.mkdir()
    for name in rejected:
        p = bad / name
        with pytest.raises(SemanticError):
            eng.save_csv(f"select source from '{src}' where doc_id < 6", str(p))
        p.write_bytes(b"\x1f\x8b\x08\x00junk")
        with pytest.raises(SemanticError):
            eng.sql(f"select a from '{p}'")
    assert browse_dir(str(bad))["files"] == []
