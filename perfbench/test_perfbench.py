"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime
import json
import os
import random
import sys

import duckdb
import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from oracle import Oracle, duration_seconds  # noqa: E402


def test_generator_is_deterministic(tmp_path):
    files = ("fact", "dim", "corpus")
    a = gen.generate(5, str(tmp_path / "a"), files)
    b = gen.generate(5, str(tmp_path / "b"), files)
    c = gen.generate(6, str(tmp_path / "c"), files)
    for name in files:
        assert a["files"][name]["md5"] == b["files"][name]["md5"]
        assert a["files"][name]["md5"] != c["files"][name]["md5"]
        pa = tmp_path / "a" / a["files"][name]["path"]
        pb = tmp_path / "b" / b["files"][name]["path"]
        assert pa.read_bytes() == pb.read_bytes()
    corpus = a["files"]["corpus"]
    assert 0.03 < corpus["exact_dup_rate"] < 0.09
    assert 0.03 < corpus["near_dup_rate"] < 0.09


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: (u, b) for k, (u, b, _needs) in layers.PER_LAYER.items()
    }


def test_measured_templates_do_not_depend_on_cycle_count():
    rows = {"fact": 3000, "bulk": 3000, "dim": gen.DIM_ROWS, "corpus": 1}
    plans = {
        "gui": W.gui_plan(4, "fact.csv", "dim.csv", 3000, gen.DIM_ROWS),
        "bulk": W.bulk_plan(4, "bulk.csv", "dim.csv", "corpus.jsonl", "out", rows),
    }
    for name, plan in plans.items():
        cycles = [[op.template for op in next(plan.cycles)] for _ in range(5)]
        assert all(c == cycles[0] for c in cycles), name
    assert cycles[0] == ["aggregate", "export_single", "export_dir"] * W.CSV_ROUNDS + ["pipe"]
    gui = [op.template for op in next(plans["gui"].cycles)]
    assert gui == W.GUI_TEMPLATES


def test_duration_rendering_parses():
    for td in (datetime.timedelta(hours=-1), datetime.timedelta(days=3, seconds=7),
               datetime.timedelta(seconds=5400.5)):
        assert duration_seconds(str(td)) == td.total_seconds()


def _json_cell(v):
    """The GUI server's JSON rendering of one value."""
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.timedelta):
        return str(v)
    return v


@pytest.fixture(scope="module")
def small_inputs(tmp_path_factory):
    d = tmp_path_factory.mktemp("in")
    rng = np.random.default_rng(1)
    (d / "fact.csv").write_text("\n".join(gen.fact_lines(rng, 3000)) + "\n")
    (d / "dim.csv").write_text("\n".join(gen.dim_lines(rng)) + "\n")
    con = duckdb.connect()
    W.load_duck_tables(con, {"fact": str(d / "fact.csv"), "dim": str(d / "dim.csv")})
    return d, Oracle(con)


@pytest.mark.parametrize("template", W.GUI_TEMPLATES)
def test_corrupted_gui_result_is_counted_as_failed(small_inputs, template):
    d, oracle = small_inputs
    op = W.gui_op(template, random.Random(3), str(d / "fact.csv"),
                  str(d / "dim.csv"), 3000, gen.DIM_ROWS)
    cur = oracle.con.execute(op.twin)
    cols = [c[0] for c in cur.description]
    rows = cur.fetchall()
    if template == "date_duration":
        # the engine returns the gap as a duration, the twin as seconds
        rows = [r[:2] + (datetime.timedelta(seconds=r[2]) if r[2] is not None
                         else None,) + r[3:] for r in rows]
    vals = [[_json_cell(v) for v in r] for r in rows]

    def rec(values, status=2):
        return {"op": op, "resp": {"status": status, "entries": [
            {"colnames": cols, "vals": values, "numrows": len(values)}]}}

    assert run.check_op(rec(vals), oracle) is None
    assert run.check_op(rec(vals + [vals[0] if vals else [None] * len(cols)]),
                        oracle) is not None
    if vals:
        bad = [list(r) for r in vals]
        i = next(i for i, v in enumerate(bad[0]) if v is not None)
        bad[0][i] = "corrupt" if isinstance(bad[0][i], str) else bad[0][i] + 1
        assert run.check_op(rec(bad), oracle) is not None
    assert run.check_op(rec(vals, status=1), oracle) is not None


def test_corrupted_export_is_counted_as_failed(small_inputs, tmp_path):
    d, oracle = small_inputs
    oracle.con.execute("CREATE OR REPLACE TABLE bulk AS SELECT * FROM fact")
    plan = W.bulk_plan(2, str(d / "fact.csv"), str(d / "dim.csv"),
                       "corpus.jsonl", str(tmp_path),
                       {"bulk": 3000, "dim": gen.DIM_ROWS, "corpus": 1})
    op = next(plan.cycles)[1]
    assert op.kind == "save_csv"
    rows = oracle.con.execute(op.twin).fetchall()

    def write(rs):
        # Spark's CSV writer: ISO timestamps with a zone suffix
        with open(op.out, "w") as f:
            f.write("id,due,price,qty\n")
            for i, due, price, qty in rs:
                t = due.isoformat(timespec="milliseconds") + "Z" if due else ""
                f.write(f"{i},{t},{'' if price is None else price},"
                        f"{'' if qty is None else qty}\n")

    write(rows)
    assert run.check_op({"op": op, "resp": {"ok": True}}, oracle) is None
    write(rows[:-1] + [(rows[-1][0] + 1,) + rows[-1][1:]])
    assert run.check_op({"op": op, "resp": {"ok": True}}, oracle) is not None
    assert run.check_op({"op": op, "resp": {"ok": False, "error": "x"}},
                        oracle) is not None
