"""Sink names: the one name rule every single-file sink shares
(``engine.sink_path`` behind ``save_csv``, CLI ``-o`` and the GUI save)
and the one multi-statement numbering rule every sink uses
(``engine.numbered_sink_path``, the reference's -1..-N, files.go:85-156)."""

from __future__ import annotations

import os

import pytest

from csvtool_spark import cli
from csvtool_spark.dialect.errors import SemanticError
from csvtool_spark.engine import CsvEngine
from csvtool_spark.server import query_response

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
V = f" '{DATA}/violations.csv' "
ONE = "select top 3 plate fine from" + V
TWO = ONE + "; select top 2 state from" + V


@pytest.fixture(scope="module")
def eng(spark):
    return CsvEngine(spark)


def _via_save_csv(eng, text, path):
    eng.save_csv(text, path)


def _via_cli(eng, text, path):
    assert cli.main(["-c", text, "-o", path]) == 0


SINGLE_FILE_SINKS = [
    pytest.param(_via_save_csv, id="save_csv"),
    pytest.param(_via_cli, id="cli"),
]


@pytest.mark.parametrize("save", SINGLE_FILE_SINKS)
def test_trailing_slash_on_columnar_name_writes_the_directory(
    eng, tmp_path, save
):
    save(eng, ONE, str(tmp_path / "a.parquet") + "/")
    assert (tmp_path / "a.parquet").is_dir()
    assert eng.sql(f"select plate from '{tmp_path / 'a.parquet'}'").count() == 3


@pytest.mark.parametrize("save", SINGLE_FILE_SINKS)
def test_trailing_slash_on_line_format_is_a_clean_error(eng, tmp_path, save):
    with pytest.raises(SemanticError, match="directory, need a file name"):
        save(eng, ONE, str(tmp_path / "s.csv") + "/")
    assert not (tmp_path / "s.csv").exists()


@pytest.mark.parametrize("save", SINGLE_FILE_SINKS)
def test_home_relative_name_expands(eng, tmp_path, monkeypatch, save):
    monkeypatch.setenv("HOME", str(tmp_path))
    save(eng, ONE, "~/home.tsv")
    assert eng.sql(f"select plate, fine from '{tmp_path / 'home.tsv'}'").count() == 3


def _numbered_save_csv(eng, d):
    eng.save_csv(TWO, str(d / "x.parquet"))


def _numbered_save_csv_dir(eng, d):
    eng.save_csv_dir(TWO, str(d / "x"))


def _numbered_save_parquet(eng, d):
    eng.save_parquet(TWO, str(d / "x.parquet"))


def _numbered_gui(eng, d):
    ret = query_response(eng, TWO, save_path=str(d / "x.parquet"))
    assert ret["savedTo"] == [str(d / "x-1.parquet"), str(d / "x-2.parquet")]


def _numbered_cli(eng, d):
    _via_cli(eng, TWO, str(d / "x.parquet"))


@pytest.mark.parametrize(
    "save, want",
    [
        pytest.param(_numbered_save_csv, ["x-1.parquet", "x-2.parquet"],
                     id="save_csv"),
        pytest.param(_numbered_save_csv_dir, ["x-1", "x-2"],
                     id="save_csv_dir"),
        pytest.param(_numbered_save_parquet, ["x-1.parquet", "x-2.parquet"],
                     id="save_parquet"),
        pytest.param(_numbered_gui, ["x-1.parquet", "x-2.parquet"],
                     id="gui"),
        pytest.param(_numbered_cli, ["x-1.parquet", "x-2.parquet"],
                     id="cli"),
    ],
)
def test_every_sink_numbers_multi_statement_outputs_alike(
    eng, tmp_path, save, want
):
    save(eng, tmp_path)
    assert sorted(os.listdir(tmp_path)) == want
