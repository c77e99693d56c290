"""Schema-inference breadth: permissive date shapes (reference
utils.go:393 dateparse.ParseAny) and the full Go duration unit set
(utils.go:446-504 + time.ParseDuration), plus reader robustness for
header names Spark would otherwise parse as struct access."""

from __future__ import annotations

import datetime
import json
import os
from typing import Callable, NamedTuple

import pytest

from csvtool_spark.dialect.types import (
    T_DATE,
    T_DURATION,
    T_INT,
    T_STRING,
    narrowest_type,
)
from csvtool_spark.sources.csv import read_csv


def _write(tmp_path, name: str, text: str) -> str:
    p = tmp_path / name
    p.write_text(text)
    return str(p)


# ---------------------------------------------------------------------------
# driver-side inference lattice
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "value",
    [
        "2017-06-01T00:00:00Z",
        "2017-06-01T02:00:00+02:00",
        "2017-06-01T00:00:00+0200",
        "2017-06-01T00:00:00.123Z",
        "2017-06-01 00:00",
        "June 1 2017 15:04:05",
        "Jun 1 2017 15:04:05",
        "Mon, 2 Jan 2006 15:04:05",
        "2006.01.02",
    ],
)
def test_permissive_shapes_infer_date(value):
    assert narrowest_type(value) == T_DATE


@pytest.mark.parametrize(
    "value",
    ["100ms", "250us", "80ns", "-1h30m", "1h30.5m", "1m100ms", "-2 weeks"],
)
def test_duration_shapes_infer_duration(value):
    assert narrowest_type(value) == T_DURATION


def test_epoch_like_digits_stay_int():
    # bare digit strings are INT (Atoi wins before dateparse in the
    # reference lattice too) — epoch detection must NOT capture them
    assert narrowest_type("1332151919") != T_DATE


def test_garbage_stays_string():
    assert narrowest_type("not a date 123x") == T_STRING


# ---------------------------------------------------------------------------
# Spark-side casts agree with the driver-side inference
# ---------------------------------------------------------------------------


def test_zoned_iso_roundtrip(spark, tmp_path):
    # all four cells are the same instant; session tz is UTC
    path = _write(
        tmp_path,
        "zoned.csv",
        "id,ts\n"
        "1,2017-06-01T12:00:00Z\n"
        "2,2017-06-01T14:00:00+02:00\n"
        "3,2017-06-01T14:00:00+0200\n"
        "4,2017-06-01T12:00:00.000Z\n",
    )
    df, names, types = read_csv(spark, path)
    assert types[1] == T_DATE
    vals = {r.ts for r in df.collect()}
    assert vals == {datetime.datetime(2017, 6, 1, 12, 0, 0)}


def test_minute_precision_and_monthname_time(spark, tmp_path):
    path = _write(
        tmp_path,
        "shapes.csv",
        "a,b\n"
        "2020-03-04 10:30,June 1 2017 15:04:05\n"
        "2020-03-05 23:59,Jun 2 2017 08:00:00\n",
    )
    df, _, types = read_csv(spark, path)
    assert types == [T_DATE, T_DATE]
    rows = df.collect()
    assert rows[0].a == datetime.datetime(2020, 3, 4, 10, 30)
    assert rows[0].b == datetime.datetime(2017, 6, 1, 15, 4, 5)
    assert all(r.a is not None and r.b is not None for r in rows)


def test_subsecond_and_fractional_durations(spark, tmp_path):
    path = _write(
        tmp_path,
        "durs.csv",
        "task,dur\n"
        "a,100ms\n"
        "b,-1h30m\n"
        "c,1h30.5m\n"
        "d,1m100ms\n"
        "e,250us\n"
        "f,-2 weeks\n",
    )
    df, _, types = read_csv(spark, path)
    assert types[1] == T_DURATION
    by_task = {r.task: r.dur for r in df.collect()}
    td = datetime.timedelta
    assert by_task["a"] == td(milliseconds=100)
    assert by_task["b"] == -td(hours=1, minutes=30)
    assert by_task["c"] == td(hours=1, minutes=30, seconds=30)
    assert by_task["d"] == td(minutes=1, milliseconds=100)
    assert by_task["e"] == td(microseconds=250)
    assert by_task["f"] == -td(weeks=2)


def test_dotted_and_spaced_header_names(spark, tmp_path):
    # a header like 'a.b' must not be parsed as struct-field access
    path = _write(
        tmp_path,
        "dotted.csv",
        "a.b,c d,plain\n1,x,10\n2,y,20\n",
    )
    df, names, _ = read_csv(spark, path)
    assert names == ["a.b", "c d", "plain"]
    rows = df.collect()
    assert [r["a.b"] for r in rows] == [1, 2]
    assert [r["plain"] for r in rows] == [10, 20]


def test_gzipped_csv_and_jsonl_through_engine(spark, tmp_path):
    """Compressed crawl drops read through the same inference path as
    their plain twins (Spark decompresses by extension)."""
    import gzip
    import shutil

    from csvtool_spark.engine import CsvEngine

    src = "tests/data/violations.csv"
    gz = str(tmp_path / "violations.csv.gz")
    with open(src, "rb") as f, gzip.open(gz, "wb") as g:
        shutil.copyfileobj(f, g)
    eng = CsvEngine(spark)
    plain = eng.sql(f"select plate fine from '{src}' where fine > 400")
    comp = eng.sql(f"select plate fine from '{gz}' where fine > 400")
    assert sorted(map(tuple, comp.collect())) == sorted(map(tuple, plain.collect()))
    assert comp.dtypes == plain.dtypes  # same inferred schema

    import bz2 as bz2lib

    b2 = str(tmp_path / "violations.csv.bz2")
    with open(src, "rb") as f:
        raw = f.read()
    with open(b2, "wb") as g:
        g.write(bz2lib.compress(raw))
    comp2 = eng.sql(f"select plate fine from '{b2}' where fine > 400")
    assert sorted(map(tuple, comp2.collect())) == sorted(map(tuple, plain.collect()))

    jl = str(tmp_path / "docs.jsonl.gz")
    with gzip.open(jl, "wt") as g:
        g.write('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    rows = eng.sql(f"select a b from '{jl}'").collect()
    assert sorted((r.a, r.b) for r in rows) == [(1, "x"), (2, "y")]


def test_glob_reads_shards_as_one_table(spark, tmp_path):
    import shutil

    from csvtool_spark.dialect.errors import SemanticError
    from csvtool_spark.engine import CsvEngine

    src = "tests/data/violations.csv"
    with open(src) as f:
        lines = f.readlines()
    head, body = lines[0], lines[1:]
    mid = len(body) // 2
    (tmp_path / "part1.csv").write_text(head + "".join(body[:mid]))
    (tmp_path / "part2.csv").write_text(head + "".join(body[mid:]))
    eng = CsvEngine(spark)
    whole = eng.sql(f"select plate fine from '{src}' where fine > 400")
    shards = eng.sql(f"select plate fine from '{tmp_path}/part*.csv' where fine > 400")
    assert sorted(map(tuple, shards.collect())) == sorted(map(tuple, whole.collect()))
    assert shards.dtypes == whole.dtypes

    import pytest

    with pytest.raises(SemanticError):
        eng.sql(f"select * from '{tmp_path}/nomatch*.csv'")


# ---------------------------------------------------------------------------
# epoch-timestamp columns (dateparse.ParseAny numeric breadth, utils.go:393)
# ---------------------------------------------------------------------------


def test_epoch_seconds_column_promotes_to_date(spark, tmp_path):
    # unanimity-guarded column-level promotion: every sampled value is a
    # 10-digit epoch in 1990-2040 → DATE (single values still infer INT,
    # exactly like the reference's Atoi-first lattice)
    path = _write(
        tmp_path,
        "epoch.csv",
        "id,created\n1,1609459200\n2,1612137600\n3,null\n",
    )
    df, _, types = read_csv(spark, path)
    assert types[1] == T_DATE
    by_id = {r.id: r.created for r in df.collect()}
    assert by_id[1] == datetime.datetime(2021, 1, 1, 0, 0)
    assert by_id[2] == datetime.datetime(2021, 2, 1, 0, 0)
    assert by_id[3] is None


def test_epoch_millis_column_promotes_to_date(spark, tmp_path):
    path = _write(
        tmp_path,
        "epochms.csv",
        "id,t\n1,1609459200500\n2,1612137600000\n",
    )
    df, _, types = read_csv(spark, path)
    assert types[1] == T_DATE
    by_id = {r.id: r.t for r in df.collect()}
    assert by_id[1] == datetime.datetime(2021, 1, 1, 0, 0, 0, 500000)
    assert by_id[2] == datetime.datetime(2021, 2, 1, 0, 0)


def test_epoch_outside_range_or_mixed_widths_stay_int(spark, tmp_path):
    # 9999999999 (year 2286) violates the 1990-2040 guard; a column mixing
    # 10-digit and small ints is not unanimous — both stay INT
    path = _write(
        tmp_path,
        "notepoch.csv",
        "a,b\n9999999999,1609459200\n1609459200,42\n",
    )
    df, _, types = read_csv(spark, path)
    from csvtool_spark.dialect.types import T_INT

    assert types == [T_INT, T_INT]
    rows = df.collect()
    assert {r.a for r in rows} == {9999999999, 1609459200}


def test_mixed_date_and_epoch_cells_both_convert(spark, tmp_path):
    # widen(T_INT, T_DATE) = T_DATE: the reference converts every cell of a
    # DATE column via ParseAny, which accepts both shapes — so must we
    path = _write(
        tmp_path,
        "mixed.csv",
        "id,d\n1,2021-01-01\n2,1612137600\n3,1609459200500\n",
    )
    df, _, types = read_csv(spark, path)
    assert types[1] == T_DATE
    by_id = {r.id: r.d for r in df.collect()}
    assert by_id[1] == datetime.datetime(2021, 1, 1)
    assert by_id[2] == datetime.datetime(2021, 2, 1)
    assert by_id[3] == datetime.datetime(2021, 1, 1, 0, 0, 0, 500000)


def test_parse_date_literal_epoch():
    # dialect literal conversion breadth: '1609459200' enforced to DATE
    from csvtool_spark.dialect.types import parse_date

    assert parse_date("1609459200") == datetime.datetime(2021, 1, 1)
    assert parse_date("1609459200500") == datetime.datetime(2021, 1, 1, 0, 0, 0, 500000)
    assert parse_date("123") is None


def test_epoch_promotion_optout(spark, tmp_path):
    path = _write(
        tmp_path, "optout.csv", "id,created\n1,1609459200\n2,1612137600\n"
    )
    from csvtool_spark.dialect.types import T_INT

    df, _, types = read_csv(spark, path, epoch_promotion=False)
    assert types[1] == T_INT
    assert {r.created for r in df.collect()} == {1609459200, 1612137600}


def test_epoch_cast_range_guard(spark):
    # full-scan conversion carries the same range guard as detection: a
    # 10-digit value beyond 2040 (possible past the sampled head) → null
    from csvtool_spark.sources.csv import EPOCH_SECONDS, parse_date_col
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("1609459200",), ("9999999999",), ("0999999999",)], ["v"]
    )
    out = df.select(parse_date_col(F.col("v"), [EPOCH_SECONDS]).alias("t")).collect()
    vals = [r.t for r in out]
    assert vals[0] == datetime.datetime(2021, 1, 1)
    assert vals[1] is None and vals[2] is None


def test_observed_formats_keep_ladder_fallback_when_only_epoch_sampled():
    # cells that are all epoch must not narrow a DATE column off the
    # format ladder — the date string that made it DATE may not be among
    # them
    from csvtool_spark.sources.csv import (
        EPOCH_SECONDS,
        SPARK_DATE_FORMATS,
        observed_date_formats,
    )

    fmts = observed_date_formats(["1609459200"] * 200)
    assert fmts[-1] == EPOCH_SECONDS
    assert fmts[:-1] == SPARK_DATE_FORMATS
    # and a matched ladder entry narrows as before, epoch appended
    fmts2 = observed_date_formats(["2021-01-01", "1609459200"])
    assert "yyyy-MM-dd" in fmts2 and fmts2[-1] == EPOCH_SECONDS
    assert len(fmts2) < 6


def test_date_formats_seen_after_the_200th_sampled_cell(spark, tmp_path):
    # the full scan tries the formats of EVERY sampled date cell: a second
    # format first seen past the 200th cell must not read as null
    rows = [f"{i},2020-01-{i % 28 + 1:02d}" for i in range(250)]
    rows += [f"{i},3/{i % 28 + 1}/2021" for i in range(250, 300)]
    path = _write(tmp_path, "late_format.csv", "id,d\n" + "\n".join(rows) + "\n")
    df, _, types = read_csv(spark, path)
    assert types[1] == T_DATE
    by_id = {r.id: r.d for r in df.collect()}
    assert len(by_id) == 300 and None not in by_id.values()
    assert by_id[0] == datetime.datetime(2020, 1, 1)
    assert by_id[299] == datetime.datetime(2021, 3, 20)


# ---------------------------------------------------------------------------
# the engine's source cache: one inference per file version, every format
# ---------------------------------------------------------------------------

_VIOLATIONS = "tests/data/violations.csv"


def _csv_line(row: dict) -> str:
    return ",".join(map(str, row.values()))


def _write_csv(p, rows: list[dict]) -> None:
    p.write_text(",".join(rows[0]) + "\n" + "".join(_csv_line(r) + "\n" for r in rows))


def _write_jsonl(p, rows: list[dict]) -> None:
    p.write_text("".join(json.dumps(r) + "\n" for r in rows))


def _write_parquet(p, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows), str(p))


def _appender(line: Callable):
    def append(p, row: dict) -> None:
        with open(p, "a") as f:
            f.write(line(row) + "\n")

    return append


def _append_parquet(p, row: dict) -> None:
    # a parquet file cannot grow in place: rewrite it one row longer
    import pyarrow.parquet as pq

    _write_parquet(p, pq.read_table(str(p)).to_pylist() + [row])


class _Fmt(NamedTuple):
    """How a test writes one input format: ``extra`` is the ``name``
    value of an appended row or a new shard (a text value widens a line
    format's column; a parquet file keeps its column type), ``reader``
    the DataFrameReader method its inference calls."""

    ext: str
    write: Callable
    append: Callable
    extra: object
    reader: str


_FMTS = {
    "csv": _Fmt(".csv", _write_csv, _appender(_csv_line), "text", "csv"),
    "jsonl": _Fmt(".jsonl", _write_jsonl, _appender(json.dumps), "text", "json"),
    "parquet": _Fmt(".parquet", _write_parquet, _append_parquet, 9, "parquet"),
}

_ROWS = [{"id": 1, "name": 7}, {"id": 2, "name": 8}]


def _file(name: str, text: str, query: str):
    def write(tmp_path):
        (tmp_path / name).write_text(text)
        return lambda eng: eng.sql(query.format(d=tmp_path))

    return write


def _gzip_violations(tmp_path):
    import gzip
    import shutil

    with open(_VIOLATIONS, "rb") as f, gzip.open(tmp_path / "v.csv.gz", "wb") as g:
        shutil.copyfileobj(f, g)
    return lambda eng: eng.sql(f"select * from '{tmp_path}/v.csv.gz'")


def _shard_violations(tmp_path):
    with open(_VIOLATIONS) as f:
        head, *body = f.readlines()
    for k in range(3):
        (tmp_path / f"part{k}.csv").write_text(head + "".join(body[k::3]))
    return lambda eng: eng.sql(f"select * from '{tmp_path}/part*.csv'")


def _epoch(promote: bool):
    # the dialect has no epoch switch, so these read through read_csv with
    # the engine's cache
    def write(tmp_path):
        path = _write(tmp_path, "e.csv", "id,created\n1,1609459200\n2,1612137600\n")
        return lambda eng: read_csv(
            eng.spark, path, epoch_promotion=promote, cache=eng._sources
        )[0]

    return write


_MIXED_ROWS = [
    {"id": 1, "v": 1.5, "s": "a", "when": datetime.datetime(2021, 1, 2, 3, 4)},
    {"id": 2, "v": None, "s": None, "when": None},
    {"id": 3, "v": -2.0, "s": "c", "when": datetime.datetime(2022, 5, 6)},
]


def _columnar(ext: str):
    def write(tmp_path):
        import pyarrow as pa

        table = pa.Table.from_pylist(_MIXED_ROWS)
        if ext == ".orc":
            import pyarrow.orc as orc

            orc.write_table(table, str(tmp_path / "t.orc"))
        else:
            import pyarrow.parquet as pq

            pq.write_table(table, str(tmp_path / "t.parquet"))
        return lambda eng: eng.sql(f"select * from '{tmp_path}/t{ext}'")

    return write


def _jsonl_shards(tmp_path):
    for k in range(3):
        (tmp_path / f"part{k}.jsonl").write_text(
            f'{{"id": {k}, "tag": "t{k}"}}\n' + ('{"id": 9, "x": 1.5}\n' if k else "")
        )
    return lambda eng: eng.sql(f"select * from '{tmp_path}/part*.jsonl'")


#: name -> writes the case's files under a directory and returns a
#: reader of them through a given engine
_SHAPES = {
    "dotted_duplicate_empty_headers": _file(
        "h.csv", "a.b,a,a,,x\n1,p,2020-01-01,3,1.5\n2,q,2020-01-02,,NA\n",
        "select * from '{d}/h.csv'"),
    "nh_option": _file(
        "nh.csv", "1,x,10 days\n2,y,3h\n3,,NA\n", "nh select * from '{d}/nh.csv'"),
    "tsv": _file(
        "t.tsv", "id\tname\tts\n1\ta,b\t2021-03-04 10:00:00\n2\tc\t\n",
        "select * from '{d}/t.tsv'"),
    "csv_gz": _gzip_violations,
    "multiline_quoted": _file(
        "ml.csv", 'id,note,n\n1,"line one\nline two",3\n2,"a ""q""",4\n',
        "select * from '{d}/ml.csv' ml"),
    "ragged_rows": _file(
        "r.csv", "a,b,c\n1,2\n3,4,5,6\n7,8,9\n", "select * from '{d}/r.csv'"),
    "shard_glob": _shard_violations,
    "epoch_promotion_on": _epoch(True),
    "epoch_promotion_off": _epoch(False),
    "jsonl_mixed_and_missing_fields": _file(
        "j.jsonl",
        '{"id": 1, "v": 1.5, "s": "a"}\n{"id": 2, "v": 2}\n'
        '{"id": 3, "s": null, "extra": true}\nnot json\n',
        "select * from '{d}/j.jsonl'"),
    "jsonl_shard_glob": _jsonl_shards,
    "parquet": _columnar(".parquet"),
    "orc": _columnar(".orc"),
}


def _rows(df) -> list:
    return sorted(map(repr, df.collect()))


@pytest.fixture
def count_inference(monkeypatch):
    """The number of ``infer_types`` calls so far (one per inferred file)."""
    import csvtool_spark.sources.csv as csv_source

    calls = []
    infer = csv_source.infer_types

    def counted(*a, **k):
        calls.append(1)
        return infer(*a, **k)

    monkeypatch.setattr(csv_source, "infer_types", counted)
    return lambda: len(calls)


@pytest.fixture
def count_misses(monkeypatch):
    """The number of inferences any ``SourceCache`` ran so far, whatever
    the format."""
    from csvtool_spark.sources.cache import SourceCache

    calls = []
    lookup = SourceCache.lookup

    def counted(self, path, options, infer):
        return lookup(self, path, options, lambda: calls.append(1) or infer())

    monkeypatch.setattr(SourceCache, "lookup", counted)
    return lambda: len(calls)


@pytest.mark.parametrize("case", sorted(_SHAPES))
def test_warm_read_equals_cold_read(spark, tmp_path, count_misses, case):
    from csvtool_spark.engine import CsvEngine

    read = _SHAPES[case](tmp_path)
    eng = CsvEngine(spark)
    read(eng)
    inferred = count_misses()
    assert inferred >= 1
    warm = read(eng)
    assert count_misses() == inferred  # the second read is a cache hit
    cold = read(CsvEngine(spark))
    assert warm.columns == cold.columns
    assert warm.dtypes == cold.dtypes
    assert _rows(warm) == _rows(cold)


def test_epoch_promotion_settings_are_separate_entries(spark, tmp_path):
    from csvtool_spark.sources.cache import SourceCache

    path = _write(tmp_path, "e.csv", "id,created\n1,1609459200\n2,1612137600\n")
    cache = SourceCache()
    for _ in range(2):
        on = read_csv(spark, path, epoch_promotion=True, cache=cache)[2]
        off = read_csv(spark, path, epoch_promotion=False, cache=cache)[2]
        assert (on[1], off[1]) == (T_DATE, T_INT)
    assert len(cache.entries) == 2


def _rewrite_header(p, fmt):
    fmt.write(p, [{"id": 1, "when": "2021-01-01"}, {"id": 2, "when": "2021-01-02"}])


def _rewrite_types(p, fmt):
    fmt.write(p, [{"id": 1, "name": "x"}, {"id": 2, "name": "y"}])


def _same_size_then_utime(p, fmt):
    # a renamed column of the same length: only the ctime tells the
    # versions apart once the old mtime is restored
    st = p.stat()
    fmt.write(p, [{"id": r["id"], "nick": r["name"]} for r in _ROWS])
    assert p.stat().st_size == st.st_size
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))


def _append_rows(p, fmt):
    fmt.append(p, {"id": 3, "name": fmt.extra})


def _add_shard(p, fmt):
    fmt.write(p.with_name("f2" + fmt.ext), [{"id": 3, "name": fmt.extra}])


@pytest.mark.parametrize("fmt", sorted(_FMTS))
@pytest.mark.parametrize(
    "change",
    [_rewrite_header, _rewrite_types, _same_size_then_utime, _append_rows, _add_shard],
    ids=lambda f: f.__name__.strip("_"),
)
def test_changed_file_is_inferred_again(spark, tmp_path, count_misses, change, fmt):
    from csvtool_spark.engine import CsvEngine

    fmt = _FMTS[fmt]
    p = tmp_path / f"f{fmt.ext}"
    fmt.write(p, _ROWS)
    # a glob, so that a new matching shard is a change too
    q = f"select * from '{tmp_path}/f*{fmt.ext}'"
    eng = CsvEngine(spark)
    eng.sql(q)
    change(p, fmt)
    before = count_misses()
    got = eng.sql(q)
    assert count_misses() == before + 1
    fresh = CsvEngine(spark).sql(q)
    assert got.columns == fresh.columns and got.dtypes == fresh.dtypes
    assert _rows(got) == _rows(fresh)


def test_rewritten_parquet_table_with_restored_mtime_is_read_fresh(spark, tmp_path):
    """A rewrite that restores the old mtime is still a new file version:
    ``read_table`` returns its columns, not the old column all NULL."""
    from csvtool_spark.sources.parquet import read_table

    p = tmp_path / "t.parquet"
    _write_parquet(p, [{"a": 1}, {"a": 2}])
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    st = p.stat()
    _write_parquet(p, [{"b": 3, "c": "x"}, {"b": 4, "c": "y"}])
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "x"), (4, "y")]


@pytest.mark.parametrize("fmt", sorted(_FMTS))
def test_deleted_file_still_fails_to_open(spark, tmp_path, fmt):
    from csvtool_spark.dialect.errors import SemanticError
    from csvtool_spark.engine import CsvEngine

    fmt = _FMTS[fmt]
    p = tmp_path / f"gone{fmt.ext}"
    fmt.write(p, _ROWS)
    eng = CsvEngine(spark)
    eng.sql(f"select * from '{p}'")
    p.unlink()
    with pytest.raises(SemanticError, match="cannot open file"):
        eng.sql(f"select * from '{p}'")


@pytest.mark.parametrize("fmt", sorted(_FMTS))
def test_failed_inference_leaves_no_entry(spark, tmp_path, monkeypatch, fmt):
    from pyspark.sql.readwriter import DataFrameReader

    from csvtool_spark.engine import CsvEngine

    fmt = _FMTS[fmt]
    p = tmp_path / f"f{fmt.ext}"
    fmt.write(p, _ROWS)
    eng = CsvEngine(spark)

    def boom(*_a, **_k):
        raise RuntimeError("inference failed")

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, fmt.reader, boom)
        with pytest.raises(RuntimeError):
            eng.sql(f"select * from '{p}'")
    assert eng._sources.entries == {}
    assert eng.sql(f"select * from '{p}'").collect()[0].id == 1


def _add_part(d, fmt):
    fmt.write(d / f"part-2{fmt.ext}", [{"id": 4, "name": fmt.extra}])


def _rewrite_part(d, fmt):
    _same_size_then_utime(d / f"part-0{fmt.ext}", fmt)


def _delete_part(d, fmt):
    (d / f"part-1{fmt.ext}").unlink()


@pytest.mark.parametrize("fmt", sorted(_FMTS))
@pytest.mark.parametrize(
    "change", [_add_part, _rewrite_part, _delete_part],
    ids=lambda f: f.__name__.strip("_"),
)
def test_directory_table_is_inferred_once_per_version(
    spark, tmp_path, count_misses, change, fmt
):
    """A directory table (a ``save_csv_dir`` or ``save_parquet`` output)
    is one file version per listing of its part files: a warm read is a
    cache hit equal to a cold read, and any part file added, rewritten
    or deleted is a new version."""
    from csvtool_spark.engine import CsvEngine

    fmt = _FMTS[fmt]
    d = tmp_path / f"dir{fmt.ext}"
    d.mkdir()
    fmt.write(d / f"part-0{fmt.ext}", _ROWS)
    fmt.write(d / f"part-1{fmt.ext}", [{"id": 3, "name": fmt.extra}])
    q = f"select * from '{d}'"
    eng = CsvEngine(spark)
    cold = eng.sql(q)
    inferred = count_misses()
    assert inferred >= 1
    warm = eng.sql(q)
    assert count_misses() == inferred
    assert (warm.columns, warm.dtypes, _rows(warm)) == (
        cold.columns, cold.dtypes, _rows(cold)
    )
    change(d, fmt)
    got = eng.sql(q)
    assert count_misses() == inferred + 1
    fresh = CsvEngine(spark).sql(q)
    assert (got.columns, got.dtypes, _rows(got)) == (
        fresh.columns, fresh.dtypes, _rows(fresh)
    )


def test_partitioned_parquet_output_is_inferred_once_per_version(
    spark, tmp_path, count_misses
):
    """Spark's own partitioned write (``partition_by``: part files one
    directory down, plus ``_SUCCESS`` and ``.crc`` files): warm reads hit,
    and a new partition is a new version."""
    from csvtool_spark.engine import CsvEngine

    d = str(tmp_path / "out.parquet")
    spark.createDataFrame([(1, 0), (2, 1)], "id long, shard long").write.partitionBy(
        "shard"
    ).parquet(d)
    eng = CsvEngine(spark)
    q = f"select * from '{d}'"
    eng.sql(q)
    inferred = count_misses()
    assert inferred >= 1
    eng.sql(q)
    assert count_misses() == inferred
    spark.createDataFrame([(3, 2)], "id long, shard long").write.mode(
        "append"
    ).partitionBy("shard").parquet(d)
    got = eng.sql(q)
    assert count_misses() == inferred + 1
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]


def test_warm_sql_submits_no_jobs(spark, tmp_path, count_jobs, count_inference,
                                  monkeypatch):
    """Work-count guard: a cold read costs Spark's header job and the head
    collect per file; a warm ``engine.sql`` on unchanged files submits no
    job before its action, folds nothing and builds no cast."""
    import csvtool_spark.sources.csv as csv_source
    from csvtool_spark.engine import CsvEngine

    casts = []
    cast = csv_source.cast_column
    monkeypatch.setattr(
        csv_source, "cast_column", lambda *a, **k: casts.append(1) or cast(*a, **k)
    )

    a = _write(tmp_path, "a.csv", "k,v\n1,2021-01-01\n2,2021-01-02\n")
    b = _write(tmp_path, "b.csv", "k,w\n1,x\n2,y\n")
    q = f"select a.k a.v b.w from '{a}' a join '{b}' b on a.k = b.k"
    eng = CsvEngine(spark)
    _, cold_jobs = count_jobs(lambda: eng.sql(q))
    assert cold_jobs == 2 * 2 and count_inference() == 2 and len(casts) == 4
    df, warm_jobs = count_jobs(lambda: eng.sql(q))
    assert warm_jobs == 0 and count_inference() == 2 and len(casts) == 4
    assert len(df.collect()) == 2


@pytest.mark.parametrize("fmt, cold", [("jsonl", 2), ("parquet", 1)])
def test_warm_sql_over_jsonl_and_parquet_submits_no_jobs(
    spark, tmp_path, count_jobs, fmt, cold
):
    """A cold JSONL read costs the head collect and ``spark.read.json``
    over it, a cold parquet read the footer job; a warm one neither."""
    from csvtool_spark.engine import CsvEngine

    fmt = _FMTS[fmt]
    p = tmp_path / f"f{fmt.ext}"
    fmt.write(p, _ROWS)
    q = f"select id name from '{p}' where id > 1"
    eng = CsvEngine(spark)
    _, cold_jobs = count_jobs(lambda: eng.sql(q))
    df, warm_jobs = count_jobs(lambda: eng.sql(q))
    assert (cold_jobs, warm_jobs) == (cold, 0)
    assert [tuple(r) for r in df.collect()] == [(2, 8)]


def test_concurrent_reads_share_one_memo(spark, tmp_path):
    """Server threads race on a miss: each may infer, either write wins,
    and every read sees the file's own shape."""
    import sys
    import threading

    from csvtool_spark.engine import CsvEngine
    from csvtool_spark.sources.cache import file_signature

    p = _write(tmp_path, "f.csv", "id,d\n1,2021-01-01\n2,3/4/2021\n")
    eng = CsvEngine(spark)
    results, errors = [], []

    def query():
        try:
            for _ in range(2):
                df = eng.sql(f"select * from '{p}'")
                results.append((df.dtypes, _rows(df)))
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=query) for _ in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(results) == 12 and len(set(map(repr, results))) == 1
    assert results[0][0] == [("id", "bigint"), ("d", "timestamp")]
    (sig, (_shape, _projection)), = eng._sources.entries.values()
    assert sig == file_signature(p)
