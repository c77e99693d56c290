"""JSONL source/sink: bounded inference, corrupt tolerance, engine path."""

from __future__ import annotations

import json

from csvtool_spark.engine import CsvEngine
from csvtool_spark.sources.jsonl import infer_jsonl_schema, read_jsonl


def _write(path, lines):
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def test_read_jsonl_inferred(spark, tmp_path):
    p = str(tmp_path / "docs.jsonl")
    _write(p, [
        json.dumps({"doc_id": 1, "text": "hello world", "score": 0.5}),
        json.dumps({"doc_id": 2, "text": "bye", "score": 1.25}),
    ])
    df = read_jsonl(spark, p)
    assert dict(df.dtypes) == {"doc_id": "bigint", "text": "string", "score": "double"}
    assert df.count() == 2


def test_inference_is_bounded_to_sample(spark, tmp_path):
    # line 3 would widen doc_id to string, but sampling stops at 2 lines —
    # proof the full data is NOT re-scanned for inference
    p = str(tmp_path / "docs.jsonl")
    _write(p, [
        json.dumps({"doc_id": 1}),
        json.dumps({"doc_id": 2}),
        json.dumps({"doc_id": "not-a-number"}),
    ])
    schema = infer_jsonl_schema(spark, p, sample_lines=2)
    assert schema["doc_id"].dataType.simpleString() == "bigint"


def test_corrupt_lines_do_not_kill_the_read(spark, tmp_path):
    p = str(tmp_path / "docs.jsonl")
    _write(p, [
        json.dumps({"doc_id": 1, "text": "a"}),
        "{{{ this is not json",
        json.dumps({"doc_id": 3, "text": "c"}),
    ])
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
    ])
    ok = read_jsonl(spark, p, schema=schema)
    assert ok.count() == 3                      # permissive: corrupt row nulls
    kept = read_jsonl(spark, p, schema=schema, keep_corrupt=True)
    bad = kept.filter(kept["_corrupt_record"].isNotNull()).collect()
    assert len(bad) == 1 and "not json" in bad[0]["_corrupt_record"]


def test_jsonl_single_file_sink_roundtrip(spark, tmp_path):
    p = str(tmp_path / "in.jsonl")
    _write(p, [json.dumps({"a": i, "b": f"x{i}"}) for i in range(10)])
    out_file = str(tmp_path / "out.jsonl")
    eng = CsvEngine(spark)
    assert eng.save_csv(f"select a, b from '{p}' order by a asc", out_file) == [
        out_file
    ]
    lines = open(out_file).read().splitlines()
    assert len(lines) == 10
    assert json.loads(lines[0]) == {"a": 0, "b": "x0"}
    assert eng.sql(f"select a from '{out_file}'").count() == 10


def test_engine_reads_jsonl_in_dialect_query(spark, tmp_path):
    p = str(tmp_path / "docs.jsonl")
    _write(p, [
        json.dumps({"doc_id": 1, "text": "keep me", "score": 0.9}),
        json.dumps({"doc_id": 2, "text": "drop", "score": 0.1}),
    ])
    eng = CsvEngine(spark)
    rows = eng.sql(f"select doc_id text from '{p}' where score > 0.5").collect()
    assert [(r[0], r[1]) for r in rows] == [(1, "keep me")]
