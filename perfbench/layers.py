"""Per-layer metrics of a traced run: spans and Spark status-store records
(from ``spans.Tracer.dump``) attributed to the benchmark's operations by
time.

Each metric is a mean per traced operation unless its name says otherwise.
A span's self time is its duration minus its children's. Jobs, stages and
SQL executions belong to the operation during which they were submitted,
and a job belongs to the innermost span open at its submission.
"""

from __future__ import annotations

import statistics

from spans import TARGETS

SINK_SPANS = ("sink.write_single", "sink.save_csv", "sink.save_csv_dir",
              "sink.save_parquet")

#: self-time layers reported as ``self.<layer>_s``
SELF_LAYERS = tuple(TARGETS) + ("catalyst.optimize", "catalyst.plan")

#: per-layer metric -> (unit, better, wrap targets it needs)
PER_LAYER = {
    "sources.csv.read_s": ("s", "lower", ["sources.csv.read"]),
    "sources.csv.jobs": ("count", "lower", ["sources.csv.read"]),
    "dialect.parse_s": ("s", "lower", ["dialect.parse"]),
    "dialect.typecheck_s": ("s", "lower", ["dialect.typecheck"]),
    "dialect.compile_s": ("s", "lower", ["dialect.compile"]),
    "engine.sql_s": ("s", "lower", ["engine.sql"]),
    "catalyst.optimize_s": ("s", "lower", ["engine.sql"]),
    "catalyst.plan_s": ("s", "lower", ["engine.sql"]),
    "server.http_overhead_s": ("s", "lower", ["server.query_response"]),
    "server.response_kb": ("KB", "lower", []),
    "exec.action_s": ("s", "lower", []),
    "exec.jobs": ("count", "lower", []),
    "exec.stages": ("count", "lower", []),
    "exec.tasks": ("count", "lower", []),
    "exec.task_run_s": ("s", "lower", []),
    "exec.task_cpu_s": ("s", "lower", []),
    "exec.gc_s": ("s", "lower", []),
    "exec.busy_frac": ("ratio", "higher", []),
    "exec.shuffle_write_mb": ("MB", "lower", []),
    "exec.shuffle_read_mb": ("MB", "lower", []),
    "sources.scan_rows": ("count", "lower", []),
    "sources.scan_mb": ("MB", "lower", []),
    "sources.scan_rows_per_result_row": ("ratio", "lower", []),
    "sink.write_s": ("s", "lower", list(SINK_SPANS)),
    "sink.write_tasks": ("count", "lower", list(SINK_SPANS)),
    "sink.output_mb": ("MB", "lower", list(SINK_SPANS)),
    "dialect.stages_s": ("s", "lower", ["dialect.stages"]),
    "sources.jsonl.read_s": ("s", "lower", ["sources.jsonl.read"]),
    "operators.python_nodes": ("count", "lower", []),
    "caching.persisted_rdds_delta": ("count", "lower", []),
    "caching.cached_mb": ("MB", "lower", []),
    "session.get_spark_s": ("s", "lower", ["session.get_spark"]),
    "trace.overhead_s": ("s", "lower", []),
    "trace.overhead_frac": ("ratio", "lower", []),
    "trace.ops": ("count", "higher", []),
}
for _layer in SELF_LAYERS:
    _need = ["engine.sql"] if _layer.startswith("catalyst.") else [_layer]
    PER_LAYER[f"self.{_layer}_s"] = ("s", "lower", _need)
PER_LAYER["self.unspanned_s"] = ("s", "lower", [])


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _op_of(t: float, ops: list[dict]) -> dict | None:
    for o in ops:
        if o["t0"] <= t <= o["t1"]:
            return o
    return None


def per_layer(trace: dict, ops: list[dict], cores: int) -> dict:
    """``{metric: value}`` for every name in ``PER_LAYER``; the value is
    None for a metric whose wrap target is missing. ``ops`` are the
    benchmark's operations (``t0``, ``t1``, ``latency``, ``traced``,
    ``result_rows``, ``response_kb``)."""
    spans = [dict(s, idx=i) for i, s in enumerate(trace["spans"]) if s["t1"] is not None]
    traced = [o for o in ops if o["traced"]]
    for o in traced:
        o.update(spans=[], jobs=[], execs=[], caching=[])
    for s in spans:
        o = _op_of(s["t0"], traced)
        if o is not None:
            o["spans"].append(s)
    children: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["t1"] - s["t0"]
    stages: dict[int, list[dict]] = {}
    for st in trace["status"]["stages"]:
        stages.setdefault(st["id"], []).append(st)
    for j in trace["status"]["jobs"]:
        o = _op_of(j["t0"], traced) if j["t0"] is not None else None
        if o is None:
            continue
        inner = [s for s in o["spans"] if s["t0"] <= j["t0"] <= s["t1"]]
        j["span"] = max(inner, key=lambda s: s["t0"])["name"] if inner else None
        o["jobs"].append(j)
    for e in trace["status"]["executions"]:
        o = _op_of(e["t0"], traced)
        if o is not None:
            o["execs"].append(e)
    for c in trace["caching"]:
        o = _op_of(c["t0"], traced)
        if o is not None:
            o["caching"].append(c)

    sums: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        sums[k] = sums.get(k, 0.0) + v

    for o in traced:
        top = 0.0
        for s in o["spans"]:
            d = s["t1"] - s["t0"]
            add(f"span:{s['name']}", d)
            add(f"self:{s['name']}", d - children.get(s["idx"], 0.0))
            if s["parent"] is None:
                top += d
        add("unspanned", max(0.0, o["latency"] - top))
        add("http_overhead", max(0.0, o["latency"] - sum(
            s["t1"] - s["t0"] for s in o["spans"]
            if s["name"] == "server.query_response")))
        add("response_kb", o.get("response_kb") or 0.0)
        add("action", _union([(j["t0"], j["t1"]) for j in o["jobs"] if j["t1"]]))
        out_records = 0
        for j in o["jobs"]:
            add("jobs", 1)
            if j["span"] == "sources.csv.read":
                add("csv_jobs", 1)
            for sid in j["stages"]:
                for st in stages.get(sid, []):
                    if st["status"] != "COMPLETE":
                        continue
                    add("stages", 1)
                    add("tasks", st["tasks"])
                    add("run_s", st["run_ms"] / 1e3)
                    add("cpu_s", st["cpu_ns"] / 1e9)
                    add("gc_s", st["gc_ms"] / 1e3)
                    add("shuffle_w", st["shuffle_write_bytes"] / 1e6)
                    add("shuffle_r", st["shuffle_read_bytes"] / 1e6)
                    add("scan_rows", st["in_records"])
                    add("scan_mb", st["in_bytes"] / 1e6)
                    if j["span"] in SINK_SPANS:
                        add("sink_tasks", st["tasks"])
                        add("sink_mb", st["out_bytes"] / 1e6)
                        out_records += st["out_records"]
        rows = o.get("result_rows")
        add("result_rows", rows if rows is not None else out_records)
        add("python_nodes", sum(e["python_nodes"] for e in o["execs"]))
        add("persisted_delta", sum(c["persisted_delta"] for c in o["caching"]))
        if o["caching"]:
            sums["cached_mb"] = o["caching"][-1]["cached_mb"]

    n = max(1, len(traced))

    def mean(k: str) -> float:
        return sums.get(k, 0.0) / n

    # each traced operation ran again untraced on the same statement
    untraced = {id(o["op"]): o["latency"] for o in ops
                if not o["traced"] and not o["first"]}
    pairs = [(o["latency"], untraced[id(o["op"])]) for o in traced
             if id(o["op"]) in untraced]
    lat_u = [u for _t, u in pairs]
    overhead = statistics.median([t - u for t, u in pairs]) if pairs else 0.0
    get_spark = [s["t1"] - s["t0"] for s in spans if s["name"] == "session.get_spark"]
    vals = {
        "sources.csv.read_s": mean("span:sources.csv.read"),
        "sources.csv.jobs": mean("csv_jobs"),
        "dialect.parse_s": mean("span:dialect.parse"),
        "dialect.typecheck_s": mean("span:dialect.typecheck"),
        "dialect.compile_s": mean("span:dialect.compile"),
        "engine.sql_s": mean("span:engine.sql"),
        "catalyst.optimize_s": mean("span:catalyst.optimize"),
        "catalyst.plan_s": mean("span:catalyst.plan"),
        "server.http_overhead_s": mean("http_overhead") if any(
            o.get("response_kb") for o in traced) else 0.0,
        "server.response_kb": mean("response_kb"),
        "exec.action_s": mean("action"),
        "exec.jobs": mean("jobs"),
        "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"),
        "exec.task_run_s": mean("run_s"),
        "exec.task_cpu_s": mean("cpu_s"),
        "exec.gc_s": mean("gc_s"),
        "exec.busy_frac": (sums.get("run_s", 0.0) / (sums["action"] * cores)
                           if sums.get("action") else 0.0),
        "exec.shuffle_write_mb": mean("shuffle_w"),
        "exec.shuffle_read_mb": mean("shuffle_r"),
        "sources.scan_rows": mean("scan_rows"),
        "sources.scan_mb": mean("scan_mb"),
        "sources.scan_rows_per_result_row": (
            sums.get("scan_rows", 0.0) / sums["result_rows"]
            if sums.get("result_rows") else 0.0),
        "sink.write_s": sum(mean(f"self:{s}") for s in SINK_SPANS),
        "sink.write_tasks": mean("sink_tasks"),
        "sink.output_mb": mean("sink_mb"),
        "dialect.stages_s": mean("span:dialect.stages"),
        "sources.jsonl.read_s": mean("span:sources.jsonl.read"),
        "operators.python_nodes": mean("python_nodes"),
        "caching.persisted_rdds_delta": mean("persisted_delta"),
        "caching.cached_mb": sums.get("cached_mb", 0.0),
        "session.get_spark_s": get_spark[0] if get_spark else 0.0,
        "trace.overhead_s": overhead,
        "trace.overhead_frac": overhead / statistics.median(lat_u) if lat_u else 0.0,
        "trace.ops": float(len(traced)),
        "self.unspanned_s": mean("unspanned"),
    }
    for layer in SELF_LAYERS:
        vals[f"self.{layer}_s"] = mean(f"self:{layer}")
    missing = trace.get("missing", {})
    for name, (_unit, _better, needs) in PER_LAYER.items():
        if any(t in missing for t in needs):
            vals[name] = None
    return vals
