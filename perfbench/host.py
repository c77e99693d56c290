"""Engine host process: one SparkSession behind either the GUI server or a
line protocol for ``CsvEngine`` calls.

    python3 perfbench/host.py --mode server|engine [--trace FILE]

It prints one JSON line when set-up is done (``ready``), then reads JSON
commands from stdin, one per line, and answers each with one JSON line:

- ``{"cmd": "op", "kind": "collect"|"save_csv"|"save_csv_dir"|"save_parquet",
  "text": ..., "out": ..., "partition_by": [...]}`` (engine mode) runs one
  statement through the public ``CsvEngine`` surface and reports its start
  and end times and, for ``collect``, the rows;
- ``{"cmd": "record", "on": bool}`` switches span recording (traced runs);
- ``{"cmd": "stop"}`` writes the trace, reports peak memory and exits.
"""

from __future__ import annotations

import argparse
import datetime
import json
import sys
import time


def _emit(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def _cell(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.timedelta):
        return v.total_seconds()
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _run_op(engine, cmd: dict) -> dict:
    kind, text = cmd["kind"], cmd["text"]
    t0 = time.time()
    out: dict = {}
    if kind == "collect":
        df = engine.sql(text)
        out["cols"] = df.columns
        out["rows"] = [[_cell(v) for v in r] for r in df.collect()]
    elif kind == "save_csv":
        out["paths"] = engine.save_csv(text, cmd["out"])
    elif kind == "save_csv_dir":
        out["paths"] = engine.save_csv_dir(text, cmd["out"])
    elif kind == "save_parquet":
        out["paths"] = engine.save_parquet(
            text, cmd["out"], partition_by=cmd.get("partition_by")
        )
    else:
        raise ValueError(f"unknown op kind {kind!r}")
    out.update(t0=t0, t1=time.time())
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["server", "engine"], required=True)
    ap.add_argument("--trace", default=None, help="trace output file")
    a = ap.parse_args()

    tracer = None
    if a.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()

    import csvtool_spark.session
    from csvtool_spark.engine import CsvEngine

    spark = csvtool_spark.session.get_spark(app_name="perfbench")
    engine = CsvEngine(spark)
    server = None
    port = None
    if a.mode == "server":
        from csvtool_spark.server import CsvToolServer

        server = CsvToolServer(engine, port=0)
        server.start()
        port = server.port
    jvm_pid = spark.sparkContext._gateway.proc.pid
    _emit({"ready": True, "port": port, "jvm_pid": jvm_pid,
           "spark_version": spark.version})
    if tracer is not None:
        tracer.spark = spark
        tracer.recording = False

    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "stop":
            break
        if cmd["cmd"] == "record":
            tracer.recording = bool(cmd["on"])
            _emit({"ok": True})
            continue
        before = tracer.cache_state() if tracer and tracer.recording else None
        try:
            res = _run_op(engine, cmd)
            res["ok"] = True
        except Exception as e:  # noqa: BLE001 — reported as a failed op
            res = {"ok": False, "error": f"{type(e).__name__}: {e}"[:2000]}
        if before is not None:
            tracer.note_caching(before)
        _emit(res)

    hwm = {"python_kb": _hwm_kb("self"), "jvm_kb": _hwm_kb(jvm_pid)}
    if tracer is not None:
        tracer.recording = False
        tracer.dump(a.trace, {"hwm": hwm})
    if server is not None:
        server.stop()
    spark.stop()
    _emit({"stopped": True, "hwm": hwm})


if __name__ == "__main__":
    main()
