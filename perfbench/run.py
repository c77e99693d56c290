"""Benchmark runner: one run of one workload.

    python3 perfbench/run.py --workload gui_csv_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts the engine in a host process (``host.py``) the way a user
would (the GUI server, or ``CsvEngine`` for the CLI's statements), drives
it for ``--seconds`` seconds, checks every answer against DuckDB, and
prints a run record line and then the result line:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs each cycle
of the workload traced and then again untraced, and reports the per-layer
metrics (``layers.py``) instead.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import importlib.metadata
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HOST = os.path.join(HERE, "host.py")

WORKLOADS = ("gui_csv_mix", "csv_bulk_export")
#: the driver JVM's heap: Spark's own default, and well below the physical
#: memory of a shared box without swap, where the engine's 16g default is not
DRIVER_MEM = "1g"
#: a run must end within this many seconds whatever happens
RUN_DEADLINE_S = 170.0

END_TO_END = {
    "setup_s": "s",
    "first_op_s": "s",
    "op_p50_s": "s",
    "op_p75_s": "s",
    "ops_per_s": "ops/s",
    "rows_per_s": "rows/s",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}

DAT_ERROR, DAT_GOOD = 1, 2


class HostDied(RuntimeError):
    pass


class Host:
    """One engine host process and its gateway JVM."""

    def __init__(self, mode: str, env: dict, cwd: str, log, deadline: float,
                 trace: str | None = None):
        cmd = [sys.executable, HOST, "--mode", mode]
        if trace:
            cmd += ["--trace", trace]
        self.deadline = deadline
        self.jvm_pid = None
        t0 = time.time()
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log,
            env=env, cwd=cwd, text=True, bufsize=1,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        try:
            ready = self.read()
        except HostDied:
            self.kill()
            raise
        self.setup_s = time.time() - t0
        self.jvm_pid = ready["jvm_pid"]
        self.port = ready["port"]
        self.spark_version = ready.get("spark_version")

    def _pump(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("{"):
                self._lines.put(json.loads(line))
        self._lines.put(None)

    def read(self) -> dict:
        try:
            msg = self._lines.get(timeout=max(1.0, self.deadline - time.time()))
        except queue.Empty:
            raise HostDied("host did not answer before the run deadline") from None
        if msg is None:
            raise HostDied(f"host exited with code {self.proc.wait()}")
        return msg

    def call(self, obj: dict) -> dict:
        self.proc.stdin.write(json.dumps(obj) + "\n")
        self.proc.stdin.flush()
        return self.read()

    def stop(self) -> dict:
        self.proc.stdin.write('{"cmd": "stop"}\n')
        self.proc.stdin.flush()
        while True:
            msg = self.read()
            if msg.get("stopped"):
                break
        self.wait()
        return msg

    def wait(self) -> None:
        """Wait for the host and its JVM to end (the JVM exits when the
        host's end of its stdin closes); kill them at the deadline."""
        try:
            self.proc.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        _wait_pid(self.jvm_pid, self.deadline)

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        if self.jvm_pid:
            try:
                os.kill(self.jvm_pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            _wait_pid(self.jvm_pid, time.time() + 10)


def _wait_pid(pid: int | None, deadline: float) -> None:
    """Wait until ``pid`` (not our child) has ended; SIGKILL it at the
    deadline."""
    if not pid:
        return
    while True:
        try:
            with open(f"/proc/{pid}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except (FileNotFoundError, ProcessLookupError):
            return
        if state in ("Z", "X"):
            return
        if time.time() > deadline:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                return
            deadline = time.time() + 5
        time.sleep(0.05)


# --- the GUI client -----------------------------------------------------------


def gui_query(port: int, qid: str, text: str,
              timeout: float) -> tuple[float, float, dict, int]:
    """One query the way the bundled UI sends it: POST /query with an id
    while reading /progress over SSE until ``done``."""
    sse_err: list[BaseException] = []

    def sse() -> None:
        try:
            c = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
            c.request("GET", f"/progress?id={qid}")
            r = c.getresponse()
            for line in r:
                if line.startswith(b"event: done"):
                    break
            c.close()
        except (OSError, http.client.HTTPException) as e:
            sse_err.append(e)

    t0 = time.time()
    th = threading.Thread(target=sse, daemon=True)
    th.start()
    c = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    c.request("POST", "/query", json.dumps({"query": text, "id": qid}),
              {"Content-Type": "application/json"})
    body = c.getresponse().read()
    c.close()
    th.join(timeout)
    t1 = time.time()
    resp = json.loads(body)
    if sse_err or th.is_alive():
        resp["status"] = resp.get("status", 0) | DAT_ERROR
        resp["message"] = f"progress stream failed: {sse_err}"
    return t0, t1, resp, len(body)


# --- run ------------------------------------------------------------------------


def _revision() -> dict:
    """The program's revision: git's, when the checkout is a repository,
    and always a digest of the package sources."""
    h = hashlib.md5()
    for d, _sub, files in sorted(os.walk(os.path.join(ROOT, "csvtool_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    try:
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        git = ""
    return {"git": git or None, "package_md5": h.hexdigest()}


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def check_op(rec: dict, oracle) -> str | None:
    """None when the operation in ``rec`` succeeded with the right answer,
    else why not. Sets ``rec["result_rows"]`` for query results."""
    op, resp = rec["op"], rec["resp"]
    if op.kind == "query":
        status = resp.get("status", 0)
        if status & DAT_ERROR or not status & DAT_GOOD:
            return resp.get("message", "error")
        e = resp["entries"][0]
        rec["result_rows"] = e["numrows"]
        return oracle.check_rows(op, e["colnames"], e["vals"])
    if not resp.get("ok"):
        return resp.get("error", "error")
    if op.kind == "collect":
        rec["result_rows"] = len(resp["rows"])
        return oracle.check_rows(op, resp["cols"], resp["rows"])
    return oracle.check_export(op)


def run(workload: str, seed: int, seconds: float, traced: bool,
        work: str) -> tuple[dict, dict]:
    """One run; returns the run record and the result line."""
    import duckdb

    import gen
    import workloads as W
    from oracle import Oracle

    deadline = time.time() + RUN_DEADLINE_S
    phases = {"start": time.time()}
    nproc = len(os.sched_getaffinity(0))
    inputs, out_dir, tmp = (os.path.join(work, d) for d in ("in", "out", "tmp"))
    for d in (inputs, out_dir, tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    files = {
        "gui_csv_mix": ("fact", "dim"),
        "csv_bulk_export": ("bulk", "dim", "corpus"),
    }[workload]
    manifest = gen.generate(seed, inputs, files)
    phases["generated"] = time.time()
    path = {k: os.path.join(inputs, v["path"]) for k, v in manifest["files"].items()}
    rows = {k: v["rows"] for k, v in manifest["files"].items()}

    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
    )
    mode = "server" if workload == "gui_csv_mix" else "engine"
    if workload == "gui_csv_mix":
        plan = W.gui_plan(seed, path["fact"], path["dim"], rows["fact"], rows["dim"])
    else:
        plan = W.bulk_plan(seed, path["bulk"], path["dim"], path["corpus"],
                           out_dir, rows)

    trace_file = os.path.join(work, "trace.json") if traced else None
    host = None
    ops: list[dict] = []
    with open(os.path.join(work, "host.log"), "w") as log:
        try:
            host = Host(mode, env, work, log, deadline, trace=trace_file)

            def one(op, first: bool, record: bool) -> None:
                if traced:
                    host.call({"cmd": "record", "on": record})
                k = len(ops)
                rec = {"op": op, "first": first, "traced": record}
                if mode == "server":
                    t0, t1, resp, nbytes = gui_query(
                        host.port, f"q{k}", op.text, max(1.0, deadline - time.time()))
                    rec.update(resp=resp, response_kb=nbytes / 1e3)
                else:
                    t0 = time.time()
                    resp = host.call({"cmd": "op", "kind": op.kind, "text": op.text,
                                      "out": op.out, "partition_by": op.partition_by})
                    t1 = time.time()
                    rec["resp"] = resp
                rec.update(t0=t0, t1=t1, latency=t1 - t0)
                ops.append(rec)

            one(plan.first, True, False)
            # the window runs whole cycles, each of the same statements, so
            # every run measures the same mix however fast the machine is.
            # A traced run runs each cycle traced and then again untraced,
            # so the pair measures the tracing overhead on equal work, for
            # twice as long
            t_start = time.time()
            ticks0 = _cpu_ticks()
            while True:
                cycle = next(plan.cycles)
                for record in ((True, False) if traced else (False,)):
                    for op in cycle:
                        one(op, False, record)
                if time.time() - t_start >= seconds * (2 if traced else 1):
                    break
            window = time.time() - t_start
            ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
            phases["measured"] = time.time()
            stopped = host.stop()
            phases["stopped"] = time.time()
        finally:
            if host is not None:
                host.kill()

    # --- checks (after the timed window, so DuckDB never competes) ------------
    con = duckdb.connect(config={"threads": nproc, "temp_directory": tmp})
    W.load_duck_tables(con, {k: path[k] for k in files})
    oracle = Oracle(con)
    failures = []
    for rec in ops:
        err = check_op(rec, oracle)
        rec["ok"] = err is None
        if err:
            failures.append({"template": rec["op"].template, "text": rec["op"].text,
                             "error": err})
    con.close()
    phases["checked"] = time.time()

    attempted = len(ops)
    failed = sum(1 for r in ops if not r["ok"])
    measured = [r for r in ops if not r["first"]]
    untraced = [r for r in measured if not r["traced"]]
    lat = [r["latency"] for r in untraced]
    # the CSV statements' throughput: the pipe reads a small corpus and has
    # its own latencies in the record
    csv = [r for r in untraced if r["op"].kind != "save_parquet"]
    hwm = stopped["hwm"]
    metrics = {
        "setup_s": host.setup_s,
        "first_op_s": ops[0]["latency"],
        "op_p50_s": _quantile(lat, 0.5),
        "op_p75_s": _quantile(lat, 0.75),
        "ops_per_s": len(measured) / window,
        "rows_per_s": (sum(r["op"].scan_rows for r in csv)
                       / sum(r["latency"] for r in csv)),
        "ok_frac": (attempted - failed) / attempted,
        "peak_rss_mb": (hwm["python_kb"] + hwm["jvm_kb"]) / 1024,
    }
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(traced),
        "revision": _revision(),
        "nproc": nproc,
        "versions": {
            "spark": host.spark_version,
            "pyspark": importlib.metadata.version("pyspark"),
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
        },
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS",
                                    "SPARK_GRAFT_DRIVER_MEM")},
        "inputs": manifest["files"],
        "peak_rss_kb": hwm,
        "phases_s": {k: round(v - phases["start"], 3) for k, v in phases.items()},
        # CPU time the hypervisor gave to other guests during the window:
        # wall-clock metrics rise with it
        "window_steal_frac": ticks[7] / max(1, sum(ticks)),
        "ops": [{"template": r["op"].template, "latency_s": round(r["latency"], 4),
                 "traced": r["traced"], "ok": r["ok"]} for r in ops],
        "failures": failures,
        "end_to_end": metrics,
    }
    if traced:
        from layers import PER_LAYER, per_layer

        with open(trace_file) as f:
            trace = json.load(f)
        vals = per_layer(trace, ops, nproc)
        # the saved trace: spans, jobs (each with the span it ran under)
        # and the operations that give spans and jobs their operation ids
        trace["ops"] = [{"id": i, "template": r["op"].template, "t0": r["t0"],
                         "t1": r["t1"], "traced": r["traced"]}
                        for i, r in enumerate(ops)]
        with open(os.path.join(os.path.dirname(work),
                               f"trace_{workload}.json"), "w") as f:
            json.dump(trace, f)
        record["missing_layers"] = trace["missing"]
        out = {}
        for name, (unit, _better, _needs) in PER_LAYER.items():
            out[name] = {"value": vals[name], "unit": unit}
            if vals[name] is None:
                out[name]["missing"] = True
        record["per_layer"] = {k: v["value"] for k, v in out.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": out}
    return record, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "csvtool_spark", "engine.py")):
        print(f"no csvtool_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-p{os.getpid()}")
    os.makedirs(work)
    try:
        record, result = run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(base, f"last_{a.workload}_trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
