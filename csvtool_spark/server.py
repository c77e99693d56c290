"""HTTP query surface — the Spark mapping of the reference's web server
(/root/reference/server.go:99-177): ``POST /query/`` runs ;-separated
dialect statements and returns the ReturnData JSON contract
(utils.go:590-608 — status bits, per-statement entries, browser row cap),
``GET /info?info=fileClick`` serves the directory browser, and ``GET /``
serves a minimal bundled browser UI (csvtool_spark.webui — original
single-file page over the same JSON contract).

Progress/cancel channel: the reference streams 1-second progress messages
and accepts cancel over a websocket (server.go:19-70, utils.go:803-834).
Here the same contract rides plain HTTP — a client that sends ``"id"``
with its ``POST /query/`` can follow ``GET /progress?id=…`` (Server-Sent
Events: one JSON line per active-stage tick, then a ``done`` event) and
abort via ``POST /cancel/`` ``{"id": …}``, which cancels the Spark job
group mid-flight (``progress.CancellableRun``). SSE over stdlib http —
no websocket dependency.

Scale note: the row cap exists because this surface is interactive — the
server clips each statement to ``SHOW_CAP/numcols`` rows exactly like the
reference's rowLimit (server.go:161-177); bulk extracts go through the
distributed sinks (engine.save_csv_dir / save_parquet), never HTTP.
"""

from __future__ import annotations

import datetime
import json
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from csvtool_spark.dialect.errors import DialectError, PasswordRequired

#: status bits (utils.go:603-608)
DAT_BLANK = 0
DAT_ERROR = 1
DAT_GOOD = 2
DAT_BADPATH = 4
DAT_IOERR = 8

#: total-cell browser budget; per-statement row cap = SHOW_CAP // numcols
#: (the reference's 20000-cell clip, server.go:161-177)
SHOW_CAP = 20_000


def _json_val(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.timedelta):
        return str(v)
    if isinstance(v, (list, tuple)):
        return [_json_val(x) for x in v]
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


class JobIdInUse(ValueError):
    """A client reused a query id while its previous job is still
    running — rejected rather than overwritten (round-4 ADVICE)."""

    def __init__(self, qid: str):
        super().__init__(f"query id {qid!r} is already running")


class QueryJob:
    """Progress/cancel state for one in-flight ``/query`` request: a
    monotonically growing event list (SSE readers replay from any offset,
    so a late-connecting client still sees every tick) plus the
    ``CancellableRun`` job group the statements execute under."""

    #: retained progress events per job: a multi-hour query at 1 tick/s
    #: with several active stages would otherwise grow driver memory (and
    #: every late SSE connect replays the history). The newest MAX_EVENTS
    #: are kept; readers that fall behind resume from the oldest retained.
    MAX_EVENTS = 10_000

    def __init__(self, spark, qid: str):
        from csvtool_spark.progress import CancellableRun

        self.id = qid
        self.run = CancellableRun(spark, f"http query {qid}")
        self._cond = threading.Condition()
        self._events: list[dict] = []
        self._dropped = 0  # count trimmed off the front (absolute offsets)
        self._done = False

    @property
    def done(self) -> bool:
        with self._cond:
            return self._done

    def post(self, stage_id: int, completed: int, total: int) -> None:
        """ProgressReporter callback — one event per active-stage tick."""
        with self._cond:
            self._events.append(
                {"stage": stage_id, "completed": completed, "total": total}
            )
            if len(self._events) > self.MAX_EVENTS:
                trim = len(self._events) - self.MAX_EVENTS
                del self._events[:trim]
                self._dropped += trim
            self._cond.notify_all()

    def finish(self) -> None:
        with self._cond:
            self._done = True
            self._cond.notify_all()

    def cancel(self) -> None:
        self.run.cancel()

    def stream(self, poll: float = 0.5):
        """Yield ``(new_events, done)`` tuples until the job finishes —
        the SSE writer loop, kept free of any HTTP details for tests.
        The cursor is an ABSOLUTE event offset so trimming old events
        never replays or corrupts a reader's position."""
        i = 0
        while True:
            with self._cond:
                while self._dropped + len(self._events) <= i and not self._done:
                    self._cond.wait(poll)
                lo = max(i - self._dropped, 0)  # fell behind a trim → skip
                evs = self._events[lo:]
                i = self._dropped + len(self._events)
                done = self._done
            yield evs, done
            if done:
                return


def query_response(engine, text: str, runner=None, password: str | None = None,
                   save_path: str | None = None) -> dict:
    """Run ``text`` and build the ReturnData dict (pure function — the
    HTTP handler is a thin wrapper, so this is directly testable).
    ``runner``: optional callable wrapping each collect (the server passes
    ``QueryJob.run`` so the statements execute under a cancellable job
    group).

    ``password``: the HTTP twin of the reference's websocket password
    flow (topbar.js:224-225 prompts on SK_PASS, server.go:40-60) —
    request/response instead of a socket push: a password-less
    ``encrypt()``/``decrypt()`` returns ``needPassword: true``; the UI
    prompts and re-POSTs with ``"password"``, installed as a
    THREAD-LOCAL provider for this request only (never stored, never
    global — a concurrent password-less query on another handler thread
    must keep raising PasswordRequired, not borrow this secret).

    ``save_path``: the GUI save flow (reference: the query request
    carries FileIO|F_CSV + SavePath, server.go:126-130 + main.go:124-131;
    the GUI re-runs the page's statements with the picked path,
    help.js:15). Each statement's FULL result is written by
    ``engine.write_single_result`` under ``engine.save_csv``'s name
    rule — multi-statement pages get ``-N`` suffixes before the
    extension (files.go:85-156) — and the success message becomes
    ``Saved to <path>``. Display entries are still returned (the
    reference streams rows to the GUI and the saver in the same pass)."""
    from csvtool_spark.engine import _dialect_type

    ret: dict = {
        "status": DAT_BLANK,
        "originalQuery": text,
        "entries": [],
        "message": "",
        "clipped": False,
    }
    if password is not None:
        from csvtool_spark.dialect.compiler import set_thread_password_provider

        try:
            set_thread_password_provider(lambda _fn: password)
            return query_response(engine, text, runner=runner, save_path=save_path)
        finally:
            set_thread_password_provider(None)
    try:
        from csvtool_spark.engine import (
            numbered_sink_path,
            sink_path,
            write_single_result,
        )

        stmts = [s for s in text.split(";") if s.strip()]
        out_paths: list[str | None] = [None] * len(stmts)
        if save_path:
            # engine.save_csv's name rule, plus the reference's check
            # that the target's directory exists (files.go:158-170)
            base = sink_path(save_path)
            if not os.path.isdir(os.path.dirname(os.path.abspath(base))):
                raise ValueError(f"Invalid path: {save_path}")
            out_paths = [
                numbered_sink_path(base, i, len(stmts))
                for i in range(len(stmts))
            ]
        from csvtool_spark.functions import caching

        # one scope per request: every staging frame the statements persist
        # (pipe neardup/decontaminate, BM25, linkage, inc(), pack, …) is
        # freed when the request ends, on success or error — a long-running
        # server must not leak cache per request
        with caching.persist_scope():
            for stmt, out_path in zip(stmts, out_paths):
                df = engine.sql(stmt)
                numcols = len(df.columns)
                show_limit = max(1, SHOW_CAP // max(1, numcols))
                collect = lambda: df.limit(show_limit + 1).collect()  # noqa: E731,B023
                if out_path is not None:
                    # One computation feeds both the file and the display:
                    # persist the plan, write the full result FIRST (fills the
                    # cache for every partition), then collect the clipped
                    # display rows from the cached partitions — so for a
                    # nondeterministic result the GUI rows are always a prefix
                    # of the saved file (the reference streams display and
                    # saver off the same scan, scanner.go). The write runs
                    # under the job wrapper so it's cancellable like collects.
                    df = caching.persist(df)
                    write = lambda: write_single_result(df, out_path)  # noqa: E731,B023
                    if runner is not None:
                        runner(write)
                    else:
                        write()
                rows = runner(collect) if runner is not None else collect()
                clipped = len(rows) > show_limit
                if clipped:
                    rows = rows[:show_limit]
                    ret["clipped"] = True
                ret["entries"].append(
                    {
                        "numrows": len(rows),
                        "showLimit": show_limit,
                        "numcols": numcols,
                        "types": [_dialect_type(f.dataType) for f in df.schema.fields],
                        "colnames": list(df.columns),
                        "vals": [[_json_val(v) for v in r] for r in rows],
                        "status": DAT_GOOD,
                        "query": stmt.strip(),
                        "clipped": clipped,
                    }
                )
        ret["status"] |= DAT_GOOD
        ret["message"] = "Query successful. Returning data"
        if ret["clipped"]:
            cap = max((e["showLimit"] for e in ret["entries"] if e["clipped"]), default=0)
            ret["message"] = f"Showing only top {cap}"
        if save_path:
            # server.go:130 — the save run reports the path, not the rows.
            # Report the paths actually WRITTEN (extension appended, -N
            # suffixes for multi-statement), not the raw request — a
            # script acting on the message must find the files.
            written = [p for p in out_paths if p is not None]
            ret["message"] = f"Saved to {', '.join(written)}"
            ret["savedTo"] = written
    except PasswordRequired as e:
        # signal the UI to prompt and retry with {"password": ...}
        ret["status"] |= DAT_ERROR
        ret["needPassword"] = True
        ret["message"] = str(e)
    except DialectError as e:
        ret["status"] |= DAT_ERROR
        ret["message"] = str(e)
    except Exception as e:  # noqa: BLE001 — surfaced to the client like the reference
        ret["status"] |= DAT_ERROR
        ret["message"] = f"{type(e).__name__}: {e}"
    return ret


def explain_response(engine, text: str, password: str | None = None) -> dict:
    """Formatted Catalyst plan(s) for the page's statements without
    collecting their results — the web twin of the CLI's ``--explain``
    flag. This deliberately exceeds the reference (its GUI shows results
    only, server.go:126-177): a Spark engine's users tune plans, so the
    plan belongs one click from the query box. Returns the
    ReturnData-shaped envelope with ``plans`` entries (statement text +
    plan string); compile errors (and the ``needPassword`` retry signal)
    report exactly like ``query_response`` so the UI's message pane
    behaves identically. NB: "no execution" means no result collection —
    stages that validate eagerly (mixture share mode, bpe merges load)
    still run their small plan-build jobs, which is why the HTTP route
    runs this under the same cancellable job group as ``/query``."""
    ret: dict = {
        "status": DAT_BLANK,
        "originalQuery": text,
        "plans": [],
        "message": "",
    }
    if password is not None:
        from csvtool_spark.dialect.compiler import set_thread_password_provider

        try:
            set_thread_password_provider(lambda _fn: password)
            return explain_response(engine, text)
        finally:
            set_thread_password_provider(None)
    try:
        from csvtool_spark.functions.caching import persist_scope

        jvm = engine.spark._jvm
        with persist_scope():
            for stmt in (s for s in text.split(";") if s.strip()):
                df = engine.sql(stmt)
                plan = jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                ret["plans"].append({"query": stmt.strip(), "plan": plan})
        ret["status"] |= DAT_GOOD
        ret["message"] = "Explain successful"
    except PasswordRequired as e:
        ret["status"] |= DAT_ERROR
        ret["needPassword"] = True
        ret["message"] = str(e)
    except DialectError as e:
        ret["status"] |= DAT_ERROR
        ret["message"] = str(e)
    except Exception as e:  # noqa: BLE001 — surfaced to the client like the reference
        ret["status"] |= DAT_ERROR
        ret["message"] = f"{type(e).__name__}: {e}"
    return ret


def browse_dir(path: str, mode: str = "open") -> dict:
    """Directory listing for the file browser — the behavior twin of the
    reference's fileBrowser (files.go:192-220): cleaned path, ``parent``
    for up-navigation, hidden directories skipped, files filtered to what
    the engine can open — by the engine's format table, which widens the
    reference's CSV-only filter (files.go:193); a columnar directory, as
    Spark writes it, lists as a file, since it opens as one table.
    Names are basenames (the UI joins with ``path``); the reference
    returns full paths — display plumbing only, no query semantics."""
    from csvtool_spark.engine import table_format

    # abspath, not just normpath: dirname('.') is '' which would report
    # the parent of the cwd as '/' — up-navigation must climb one level
    path = os.path.abspath(os.path.expanduser(path) or "/")
    out = {
        "path": path,
        "parent": os.path.dirname(path) or "/",
        "mode": mode,
        "dirs": [],
        "files": [],
    }
    try:
        for entry in sorted(os.listdir(path)):
            fmt = table_format(entry)
            if os.path.isdir(os.path.join(path, entry)) and not (
                fmt and fmt.columnar
            ):
                if not entry.startswith("."):
                    out["dirs"].append(entry)
            elif fmt:
                out["files"].append(entry)
    except OSError:
        out["status"] = DAT_BADPATH
    return out


class CsvToolServer:
    """Threaded stdlib HTTP server wrapping a CsvEngine.

        srv = CsvToolServer(engine, port=0)   # 0 → ephemeral
        srv.start()
        ... POST {"query": "select ..."} to /query/ ...
        srv.stop()
    """

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 8060,
        progress_interval: float = 1.0,
        idle_timeout: float | None = None,
    ):
        self.engine = engine
        self.progress_interval = progress_interval
        self._jobs: dict[str, QueryJob] = {}
        self._jobs_lock = threading.Lock()
        #: idle self-exit (reference main.go:79-97: os.Exit(2) after 120
        #: consecutive seconds with no browser connected, counted by the
        #: websocket loops, server.go:19-31; the -s flag disables it).
        #: This transport uses SSE streams that live only while a query
        #: runs, so "viewed in a browser" here = an open SSE subscriber
        #: OR any HTTP request inside the window — a page merely sitting
        #: open keeps itself alive through its requests. None (default
        #: for embedded/test use) disables, like the reference's -s.
        self.idle_timeout = idle_timeout
        self.idle_exited = False
        self._subscribers = 0
        self._activity = time.monotonic()
        self._act_lock = threading.Lock()
        self._watchdog: threading.Thread | None = None
        self._stopping = threading.Event()
        #: per-server GUI state echo (reference server.go:188-216): the
        #: browser round-trips {haveInfo, history, openDirList,
        #: saveDirList, ...} through setState/getState so a reloaded page
        #: restores its query history and browse positions. Presentation
        #: state only — never query semantics, never secrets.
        self._state: dict = {}
        self._state_lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Cache-control", "no-store")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length", 0))
                try:
                    return json.loads(self.rfile.read(n) or b"{}")
                except json.JSONDecodeError:
                    return {}

            def do_POST(self):
                outer._touch()
                if self.path.startswith("/query"):
                    req = self._body()
                    text = req.get("query", "")
                    qid = req.get("id")
                    password = req.get("password")
                    save_path = req.get("savePath") or None
                    if not qid:
                        self._send(
                            query_response(outer.engine, text, password=password,
                                           save_path=save_path)
                        )
                        return
                    from csvtool_spark.progress import ProgressReporter

                    try:
                        job = outer._register_job(str(qid))
                    except JobIdInUse as e:
                        self._send({"status": DAT_BADPATH, "message": str(e)})
                        return
                    try:
                        with ProgressReporter(
                            outer.engine.spark, job.post, outer.progress_interval
                        ):
                            resp = query_response(
                                outer.engine, text, runner=job.run,
                                password=password, save_path=save_path,
                            )
                    finally:
                        job.finish()
                    self._send(resp)
                elif self.path.startswith("/explain"):
                    req = self._body()
                    text = req.get("query", "")
                    password = req.get("password")
                    qid = req.get("id")
                    if not qid:
                        self._send(
                            explain_response(outer.engine, text,
                                             password=password)
                        )
                        return
                    # same cancellable job-group plumbing as /query: the
                    # plan build itself can launch jobs (eager stage
                    # validation), and those must answer POST /cancel
                    try:
                        job = outer._register_job(str(qid))
                    except JobIdInUse as e:
                        self._send({"status": DAT_BADPATH, "message": str(e)})
                        return
                    try:
                        resp = job.run(
                            lambda: explain_response(outer.engine, text,
                                                     password=password)
                        )
                    finally:
                        job.finish()
                    self._send(resp)
                elif self.path.startswith("/cancel"):
                    req = self._body()
                    job = outer._get_job(str(req.get("id", "")))
                    if job is None:
                        self._send({"status": DAT_BADPATH, "message": "unknown id"})
                    else:
                        job.cancel()
                        self._send({"status": DAT_GOOD, "message": "cancel requested"})
                elif self.path.startswith("/info"):
                    self._do_info()
                else:
                    self.send_error(404)

            def do_GET(self):
                outer._touch()
                if self.path.startswith("/progress"):
                    self._do_progress()
                elif self.path.startswith("/info"):
                    self._do_info()
                elif self.path in ("/", "/index.html"):
                    from csvtool_spark.webui import INDEX_HTML

                    body = INDEX_HTML.encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html; charset=utf-8")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                else:
                    self.send_error(404)

            def _do_info(self):
                from urllib.parse import parse_qs, urlparse

                params = parse_qs(urlparse(self.path).query)
                info = (params.get("info") or [""])[0]
                if info == "fileClick":
                    req = self._body()
                    listing = browse_dir(req.get("path", "."), req.get("mode", "open"))
                    # a browse click also updates the echoed state's dir
                    # list for its mode (server.go:222-228)
                    key = "saveDirList" if listing["mode"] == "save" else "openDirList"
                    with outer._state_lock:
                        outer._state[key] = listing
                    self._send(listing)
                elif info == "setState":
                    # merge, don't replace: the reference unmarshals into
                    # the LIVE struct, so absent fields keep their values.
                    # Values that can't fit the struct's field types are
                    # dropped (Go's unmarshal rejects them) — accepting
                    # e.g. a string openDirList would poison every later
                    # getState for every client until restart.
                    req = self._body()
                    shapes = {"openDirList": dict, "saveDirList": dict,
                              "history": list, "haveInfo": bool}
                    with outer._state_lock:
                        for k, v in (req.items() if isinstance(req, dict) else ()):
                            want = shapes.get(k)
                            if want is None or isinstance(v, want):
                                outer._state[k] = v
                    self._send(None)  # the reference returns JSON null here
                elif info == "getState":
                    with outer._state_lock:
                        st = dict(outer._state)
                    st.setdefault("haveInfo", False)
                    st.setdefault("history", [])
                    # empty browse positions default to the server's cwd
                    # (FPaths.OpenPath/SavePath defaults, main.go:55-61)
                    for key in ("openDirList", "saveDirList"):
                        v = st.get(key)
                        d = dict(v) if isinstance(v, dict) else {}
                        if not d.get("path"):
                            d["path"] = os.getcwd()
                        st[key] = d
                    self._send(st)
                else:
                    self._send({})

            def _do_progress(self):
                """SSE: stream the job's progress events, then ``done``.
                Waits briefly for the job to register — an EventSource
                opened in the same tick as the POST can win the race."""
                import time
                from urllib.parse import parse_qs, urlparse

                qid = (parse_qs(urlparse(self.path).query).get("id") or [""])[0]
                deadline = time.monotonic() + 2.0
                job = outer._get_job(qid)
                while job is None and time.monotonic() < deadline:
                    time.sleep(0.05)
                    job = outer._get_job(qid)
                if job is None:
                    self.send_error(404, "unknown query id")
                    return
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-control", "no-store")
                self.end_headers()
                # an open SSE stream counts as a connected browser for
                # the idle-exit watchdog (the reference's browsersOpen
                # websocket counter, server.go:19-31)
                outer._sub_inc()
                try:
                    for evs, done in job.stream():
                        for ev in evs:
                            self.wfile.write(
                                f"data: {json.dumps(ev)}\n\n".encode()
                            )
                        if done:
                            self.wfile.write(b"event: done\ndata: {}\n\n")
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass  # client went away — the query keeps running
                finally:
                    outer._sub_dec()

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    def _register_job(self, qid: str) -> QueryJob:
        job = QueryJob(self.engine.spark, qid)
        with self._jobs_lock:
            # a qid may only be reused once its previous job finished:
            # overwriting a RUNNING job would orphan its cancel/progress
            # handles (POST /cancel would kill the new job while the old
            # query kept running uncancellable)
            prev = self._jobs.get(qid)
            if prev is not None and not prev.done:
                raise JobIdInUse(qid)
            self._jobs[qid] = job
            # bounded registry: FINISHED jobs stay visible for late SSE
            # connects and are evicted oldest-first past the cap. Running
            # jobs are never evicted — dropping one would orphan its
            # /cancel and /progress handles mid-query — so under extreme
            # concurrency the registry may exceed the cap by the number
            # of in-flight queries (each of which also holds a handler
            # thread, the real bound).
            if len(self._jobs) > 64:
                for k in [k for k, j in self._jobs.items()
                          if j.done and k != qid]:
                    del self._jobs[k]
                    if len(self._jobs) <= 64:
                        break
        return job

    def _get_job(self, qid: str) -> QueryJob | None:
        with self._jobs_lock:
            return self._jobs.get(qid)

    def _touch(self) -> None:
        with self._act_lock:
            self._activity = time.monotonic()

    def _sub_inc(self) -> None:
        with self._act_lock:
            self._subscribers += 1

    def _sub_dec(self) -> None:
        with self._act_lock:
            self._subscribers -= 1
            # the stream just closed: restart the idle window from now,
            # matching the reference's counter reset while a browser
            # was connected (main.go:87-92)
            self._activity = time.monotonic()

    def _watch_idle(self) -> None:
        """Watchdog: shut the server down after ``idle_timeout`` seconds
        with no open SSE subscriber and no HTTP request — the reference's
        2-minute no-browser self-exit (main.go:79-97), rephrased for the
        SSE transport. Runs as a daemon thread started by ``start()``."""
        tick = min(0.2, self.idle_timeout / 5) if self.idle_timeout else 0.2
        while not self._stopping.wait(tick):
            with self._act_lock:
                idle = self._subscribers < 1 and (
                    time.monotonic() - self._activity > self.idle_timeout
                )
            if idle:
                self.idle_exited = True
                self._httpd.shutdown()
                return

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> None:
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        if self.idle_timeout is not None:
            self._touch()  # the window starts at serve time
            self._watchdog = threading.Thread(
                target=self._watch_idle, daemon=True
            )
            self._watchdog.start()

    def join(self, timeout: float | None = None) -> None:
        """Block until the serving thread exits (stop() from another
        thread, or the idle watchdog shutting the server down)."""
        if self._thread:
            self._thread.join(timeout)

    def stop(self) -> None:
        self._stopping.set()
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(5)
        if self._watchdog:
            self._watchdog.join(5)
