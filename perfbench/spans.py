"""Span tracing for the traced benchmark run, installed from outside the
package.

``Tracer.install()`` replaces each public function in ``TARGETS`` with a
wrapper at the place its callers look it up (``csvtool_spark.engine.read_csv``,
not ``csvtool_spark.sources.csv.read_csv``), so nothing under
``csvtool_spark/`` changes. A target that no longer exists is recorded in
``Tracer.missing`` and its metrics are reported as missing, never as zero.

Spans (name, start, end, parent) stay in memory until ``dump``.
``dump`` also reads Spark's status store once, after the listener bus has
drained: every job, stage and SQL execution with their task metrics and
final plans. ``layers.py`` attributes those to spans and operations by
time.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import threading
import time

#: layer name -> (module, attribute path) where the callers look it up
TARGETS = {
    "session.get_spark": ("csvtool_spark.session", "get_spark"),
    "server.query_response": ("csvtool_spark.server", "query_response"),
    "engine.sql": ("csvtool_spark.engine", "CsvEngine.sql"),
    "dialect.parse": ("csvtool_spark.engine", "parse"),
    "dialect.typecheck": ("csvtool_spark.engine", "check_query"),
    "dialect.compile": ("csvtool_spark.engine", "Compiler.compile"),
    "sources.csv.read": ("csvtool_spark.engine", "read_csv"),
    "sources.jsonl.read": ("csvtool_spark.sources.jsonl", "read_jsonl"),
    "dialect.stages": ("csvtool_spark.dialect.stages", "apply_stages"),
    "sink.write_single": ("csvtool_spark.engine", "write_single_result"),
    "sink.save_csv": ("csvtool_spark.engine", "CsvEngine.save_csv"),
    "sink.save_csv_dir": ("csvtool_spark.engine", "CsvEngine.save_csv_dir"),
    "sink.save_parquet": ("csvtool_spark.engine", "CsvEngine.save_parquet"),
}

#: plan node names that mark a Python/Arrow crossing
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.missing: dict[str, str] = {}
        self.recording = True
        self.caching: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spark = None

    # --- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {"name": name, "t0": time.time(), "t1": None,
               "parent": stack[-1] if stack else None}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            stack.pop()

    def _wrap(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            if name == "server.query_response":
                return tracer._query_response(fn, args, kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "engine.sql":
                tracer._plan_phases(out)
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    def _plan_phases(self, df) -> None:
        """Catalyst optimize and physical-plan time of the DataFrame the
        dialect compiled. The action later plans its own wrapper plan
        again, so this work is part of the tracing overhead."""
        qe = df._jdf.queryExecution()
        with self.span("catalyst.optimize"):
            qe.optimizedPlan()
        with self.span("catalyst.plan"):
            qe.executedPlan()

    def _query_response(self, fn, args, kwargs):
        before = self.cache_state()
        with self.span("server.query_response"):
            out = fn(*args, **kwargs)
        self.note_caching(before)
        return out

    # --- caching ----------------------------------------------------------

    def cache_state(self) -> dict:
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        return {"t": time.time(), "persisted": sc._jsc.getPersistentRDDs().size(),
                "cached_mb": mb}

    def note_caching(self, before: dict) -> None:
        after = self.cache_state()
        self.caching.append({
            "t0": before["t"], "t1": after["t"],
            "persisted_delta": after["persisted"] - before["persisted"],
            "cached_mb": after["cached_mb"],
        })

    # --- install ----------------------------------------------------------

    def install(self) -> None:
        for name, (mod_name, path) in TARGETS.items():
            try:
                owner = importlib.import_module(mod_name)
            except ImportError as e:
                self.missing[name] = f"module {mod_name}: {e}"
                continue
            parts = path.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p, None)
                if owner is None:
                    break
            fn = getattr(owner, parts[-1], None) if owner is not None else None
            if fn is None or not callable(fn):
                self.missing[name] = f"{mod_name}.{path} not found"
                continue
            setattr(owner, parts[-1], self._wrap(name, fn))

    # --- status store -----------------------------------------------------

    def status(self) -> dict:
        """Every job, stage and SQL execution Spark's status store still
        holds, read after the listener bus has drained."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm

        def opt_ms(o):
            return o.get().getTime() / 1000.0 if o.isDefined() else None

        jobs = []
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            sids = j.stageIds()
            jobs.append({
                "id": j.jobId(),
                "t0": opt_ms(j.submissionTime()),
                "t1": opt_ms(j.completionTime()),
                "stages": [sids.apply(k) for k in range(sids.size())],
            })
        stages = []
        sl = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(sl.size()):
            s = sl.apply(i)
            stages.append({
                "id": s.stageId(),
                "attempt": s.attemptId(),
                "status": s.status().toString(),
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "in_bytes": s.inputBytes(),
                "in_records": s.inputRecords(),
                "out_bytes": s.outputBytes(),
                "out_records": s.outputRecords(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
            })
        execs = []
        el = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        for i in range(el.size()):
            e = el.apply(i)
            execs.append({
                "id": e.executionId(),
                "t0": e.submissionTime() / 1000.0,
                "python_nodes": count_python_nodes(e.physicalPlanDescription()),
            })
        return {"jobs": jobs, "stages": stages, "executions": execs}

    def dump(self, path: str, extra: dict) -> None:
        rec = {
            "spans": self.spans,
            "missing": self.missing,
            "caching": self.caching,
            "status": self.status(),
        }
        rec.update(extra)
        with open(path, "w") as f:
            json.dump(rec, f)


def count_python_nodes(plan: str) -> int:
    """Python-crossing nodes in a formatted physical plan: the final AQE
    plan when there is one, else the whole operator tree (the numbered
    node details after the tree are not counted)."""
    tree = plan.split("\n\n(", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return sum(
        1 for line in tree.splitlines()
        if any(n in line for n in PYTHON_NODES)
    )
