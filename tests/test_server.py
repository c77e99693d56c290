"""HTTP query surface tests — the ReturnData JSON contract
(reference server.go:112-177, utils.go:590-608)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from csvtool_spark.engine import CsvEngine
from csvtool_spark.server import (
    DAT_ERROR,
    DAT_GOOD,
    CsvToolServer,
    browse_dir,
    query_response,
)
from tests.conftest import SF_SMALL

V = " '/root/repo/tests/data/violations.csv' "


@pytest.fixture(scope="module")
def eng(spark):
    return CsvEngine(spark)


def test_query_response_contract(eng):
    ret = query_response(eng, "select plate fine from" + V + "where fine > 100")
    assert ret["status"] & DAT_GOOD
    assert not ret["status"] & DAT_ERROR
    assert len(ret["entries"]) == 1
    e = ret["entries"][0]
    assert e["colnames"] == ["plate", "fine"]
    assert e["numcols"] == 2
    assert e["numrows"] == len(e["vals"]) > 0
    assert e["showLimit"] == 10_000  # 20000-cell budget / 2 cols
    assert len(e["types"]) == 2


def test_to_json_default_is_capped(eng, spark):
    # default limit mirrors the reference's display clip (evaluator.go:27:
    # 20000 / num_cols) — an uncapped default would collect every row to
    # the driver. violations.csv has >4 rows and >1 col; a 2-col query
    # must clip at 10000 regardless of result size, and the cap must be
    # overridable both down (positive) and off (0).
    blocks = eng.to_json("select plate fine from" + V)
    assert 0 < len(blocks[0]) <= 10_000
    n_all = len(eng.to_json("select plate fine from" + V, limit=0)[0])
    assert n_all >= len(blocks[0])
    assert len(eng.to_json("select plate fine from" + V, limit=2)[0]) == 2
    # a 20000+-column result would make 20000 // num_cols zero — the
    # default still returns at least one row
    wide = eng.to_json("select * from" + V)
    assert len(wide[0]) >= 1


def test_query_response_multi_statement(eng):
    ret = query_response(
        eng, "select plate from" + V + "; select top 2 state from" + V
    )
    assert ret["status"] & DAT_GOOD
    assert len(ret["entries"]) == 2
    assert ret["entries"][1]["numrows"] == 2


def test_query_response_error_sets_bit(eng):
    # plate is a string column — '%' requires integers (typecheck error)
    ret = query_response(eng, "select plate % 2 from" + V)
    assert ret["status"] & DAT_ERROR
    assert ret["message"]
    assert ret["entries"] == []


def test_http_roundtrip(eng):
    srv = CsvToolServer(eng, port=0)
    srv.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query/",
            data=json.dumps(
                {"query": "select top 3 plate fine from" + V + "order by fine"}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert resp.headers["Cache-control"] == "no-store"
            ret = json.loads(resp.read())
        assert ret["status"] & DAT_GOOD
        assert ret["entries"][0]["numrows"] == 3
        # default-DESC dialect order: fines descending
        fines = [row[1] for row in ret["entries"][0]["vals"]]
        assert fines == sorted(fines, reverse=True)

        info = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/info?info=fileClick",
            data=json.dumps({"path": "/root/repo/tests/data", "mode": "open"}).encode(),
        )
        with urllib.request.urlopen(info, timeout=30) as resp:
            listing = json.loads(resp.read())
        assert "violations.csv" in listing["files"]
    finally:
        srv.stop()


def test_browse_dir_bad_path():
    from csvtool_spark.server import DAT_BADPATH

    out = browse_dir("/no/such/dir/anywhere")
    assert out.get("status") == DAT_BADPATH


def test_browse_dir_reference_shape(tmp_path):
    """fileBrowser parity (files.go:192-220): parent for up-navigation,
    hidden dirs skipped, files filtered to engine-readable extensions."""
    (tmp_path / "sub").mkdir()
    (tmp_path / ".hidden").mkdir()
    (tmp_path / "a.csv").write_text("x\n1\n")
    (tmp_path / "b.parquet").write_bytes(b"")
    (tmp_path / "c.jsonl.gz").write_bytes(b"")
    (tmp_path / "notes.rst").write_text("not a table")
    out = browse_dir(str(tmp_path))
    assert out["parent"] == str(tmp_path.parent)
    assert out["dirs"] == ["sub"]  # .hidden skipped
    # .rst filtered; .txt would now be listed (raw-line ingest is a
    # table since round 10 — see test_orc.test_browser_lists_every_...)
    assert out["files"] == ["a.csv", "b.parquet", "c.jsonl.gz"]


def test_query_response_password_flow(eng):
    """HTTP twin of the reference's websocket password prompt
    (server.go:40-60): password-less encrypt() signals needPassword, the
    retry with {"password": ...} succeeds request-scoped, and the global
    provider is untouched afterward."""
    from csvtool_spark.dialect import compiler

    q = "select decrypt(encrypt(plate), 's3cret') as rt from" + V + "limit 3"
    first = query_response(eng, "select encrypt(plate) as e from" + V + "limit 1")
    assert first["status"] & DAT_ERROR and first.get("needPassword") is True
    retry = query_response(eng, q, password="s3cret")
    assert retry["status"] & DAT_GOOD and not retry["status"] & DAT_ERROR
    assert retry["entries"][0]["numrows"] == 3
    assert compiler.PASSWORD_PROVIDER is None  # request-scoped, cleared
    # a WRONG password surfaces as a clean per-query error, not a crash
    bad = query_response(
        eng,
        "select decrypt(encrypt(plate, 'right')) as d from" + V + "limit 1",
        password="wrong",
    )
    assert bad["status"] & DAT_ERROR and not bad.get("needPassword")


def test_thread_password_provider_is_thread_scoped(eng):
    """A request-scoped password on one handler thread must NOT leak into
    a concurrent password-less query on another thread — that query keeps
    raising needPassword instead of silently using the other user's
    secret (review finding, round 6)."""
    import threading

    from csvtool_spark.dialect.compiler import set_thread_password_provider

    installed = threading.Event()
    release = threading.Event()

    def other_request():
        set_thread_password_provider(lambda _fn: "other-users-secret")
        installed.set()
        release.wait(10)
        set_thread_password_provider(None)

    t = threading.Thread(target=other_request)
    t.start()
    try:
        assert installed.wait(10)
        # this thread has no provider: must still signal needPassword
        ret = query_response(
            eng, "select encrypt(plate) as e from" + V + "limit 1"
        )
        assert ret.get("needPassword") is True
    finally:
        release.set()
        t.join()


def test_browse_dir_relative_path_parent(tmp_path, monkeypatch):
    # parent of '.' must be the cwd's parent, not '/' (review finding)
    monkeypatch.chdir(tmp_path)
    out = browse_dir(".")
    assert out["path"] == str(tmp_path)
    assert out["parent"] == str(tmp_path.parent)


def test_http_password_roundtrip(eng):
    srv = CsvToolServer(eng, port=0)
    srv.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query/",
            data=json.dumps(
                {"query": "select encrypt(plate) as e from" + V + "limit 1"}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            first = json.loads(resp.read())
        assert first.get("needPassword") is True
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query/",
            data=json.dumps(
                {
                    "query": "select decrypt(encrypt(plate), 'pw') as rt from"
                    + V + "limit 2",
                    "password": "pw",
                }
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            ret = json.loads(resp.read())
        assert ret["status"] & DAT_GOOD and ret["entries"][0]["numrows"] == 2
    finally:
        srv.stop()


def test_webui_served_at_root(eng):
    import urllib.request

    from csvtool_spark.server import CsvToolServer

    srv = CsvToolServer(eng, port=0)
    srv.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/", timeout=30
        ) as resp:
            assert resp.headers["Content-Type"].startswith("text/html")
            page = resp.read().decode()
        # the page drives the same JSON contract the API tests pin
        assert "/query/" in page and "csvtool-spark" in page
        assert "colnames" in page and "showLimit" in page
    finally:
        srv.stop()


def test_progress_events_stream_and_cancel_aborts(spark):
    """The SSE progress channel emits per-stage ticks during a slow query
    and POST /cancel aborts the job group mid-flight (reference parity:
    websocket progress+cancel, server.go:19-70 / utils.go:803-834)."""
    import threading
    import time
    import urllib.request

    from csvtool_spark.server import DAT_ERROR, CsvToolServer

    class SlowEngine:
        """Engine stub: every statement is a multi-second JVM-side scan
        (sha2 over 500M longs) — enough runtime for progress ticks and a
        meaningful cancel."""

        def __init__(self, s):
            self.spark = s

        def sql(self, stmt):
            return self.spark.range(500_000_000).selectExpr(
                "count(sha2(cast(id as string), 256)) as n"
            )

    srv = CsvToolServer(SlowEngine(spark), port=0, progress_interval=0.05)
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"
    resp_box: list[dict] = []
    try:
        qid = "t-cancel-1"

        def post_query():
            req = urllib.request.Request(
                f"{base}/query/",
                data=json.dumps({"query": "select slow", "id": qid}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=120) as r:
                resp_box.append(json.loads(r.read()))

        t = threading.Thread(target=post_query, daemon=True)
        t0 = time.monotonic()
        t.start()

        # SSE: wait for at least one progress tick
        events = []
        with urllib.request.urlopen(f"{base}/progress?id={qid}", timeout=60) as es:
            assert es.headers["Content-Type"].startswith("text/event-stream")
            for raw in es:
                line = raw.decode().strip()
                if line.startswith("data:") and line != "data: {}":
                    events.append(json.loads(line[5:]))
                    break  # got a live tick — now cancel

        creq = urllib.request.Request(
            f"{base}/cancel/",
            data=json.dumps({"id": qid}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(creq, timeout=30) as r:
            assert json.loads(r.read())["message"] == "cancel requested"

        t.join(60)
        elapsed = time.monotonic() - t0
        assert not t.is_alive() and resp_box, "query thread never returned"
        ret = resp_box[0]
        assert ret["status"] & DAT_ERROR  # aborted, surfaced as error
        assert "cancel" in ret["message"].lower()
        assert elapsed < 45  # came back early: 500M-row sha2 scan takes far longer
        assert events and events[0]["total"] > 0  # live tick observed mid-run

        # unknown id → DAT_BADPATH, not a crash
        breq = urllib.request.Request(
            f"{base}/cancel/",
            data=json.dumps({"id": "nope"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(breq, timeout=30) as r:
            assert json.loads(r.read())["status"] != 0
    finally:
        srv.stop()


def test_webui_wires_progress_channel(eng):
    from csvtool_spark.webui import INDEX_HTML

    assert "/progress?id=" in INDEX_HTML and "/cancel/" in INDEX_HTML
    assert "EventSource" in INDEX_HTML


def test_webui_wires_browser_and_password(eng):
    # the page drives the fileClick contract and the needPassword retry
    from csvtool_spark.webui import INDEX_HTML

    assert "info=fileClick" in INDEX_HTML
    assert "needPassword" in INDEX_HTML and "password" in INDEX_HTML


def test_job_registry_never_evicts_running_jobs(spark):
    """Past the 64-job cap only FINISHED jobs are evicted — evicting a
    live job would orphan its /cancel and /progress handles (review r4)."""
    from csvtool_spark.server import CsvToolServer

    class NullEngine:
        def __init__(self, s):
            self.spark = s

    srv = CsvToolServer(NullEngine(spark), port=0)
    live = srv._register_job("live-0")
    for i in range(70):
        srv._register_job(f"done-{i}").finish()
    srv._register_job("trigger")  # pushes past the cap → eviction sweep
    assert srv._get_job("live-0") is live        # running job survives
    assert len(srv._jobs) <= 66                  # finished ones trimmed
    live.finish()


def test_query_job_event_cap_keeps_readers_consistent():
    """The event list trims past MAX_EVENTS; a reader that connects late
    (or fell behind a trim) resumes from the oldest retained event with
    an intact absolute cursor."""
    from csvtool_spark.server import QueryJob

    job = QueryJob.__new__(QueryJob)  # no Spark needed for the buffer
    import threading

    job._cond = threading.Condition()
    job._events, job._dropped, job._done = [], 0, False
    job.MAX_EVENTS = 100
    for i in range(250):
        QueryJob.post(job, 0, i, 250)
    QueryJob.finish(job)
    got = []
    for evs, done in QueryJob.stream(job):
        got.extend(e["completed"] for e in evs)
        if done:
            break
    assert got == list(range(150, 250))  # newest 100, no dupes, in order
    assert job._dropped == 150


def test_register_job_rejects_live_qid_reuse(spark):
    """Reusing a query id while its job is RUNNING is rejected —
    overwriting would orphan the live job's cancel/progress handles
    (round-4 ADVICE). A finished id is free for reuse."""
    import pytest

    from csvtool_spark.server import CsvToolServer, JobIdInUse

    class NullEngine:
        def __init__(self, s):
            self.spark = s

    srv = CsvToolServer(NullEngine(spark), port=0)
    live = srv._register_job("dup")
    with pytest.raises(JobIdInUse):
        srv._register_job("dup")
    assert srv._get_job("dup") is live  # original handle intact
    live.finish()
    replacement = srv._register_job("dup")  # finished → reusable
    assert srv._get_job("dup") is replacement
    replacement.finish()


# --- GUI save flow (reference server.go:126-130, files.go:85-178) ---------


def test_save_flow_multi_statement_via_http(eng, tmp_path):
    """POST /query with savePath writes every statement's FULL result to
    csv (-N suffixes before the extension), returns 'Saved to ...', and
    still ships display entries."""
    import csv

    out = tmp_path / "result.csv"
    srv = CsvToolServer(eng, port=0)
    srv.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query/",
            data=json.dumps(
                {
                    "query": "select plate fine from" + V + "where fine > 100;"
                             " select top 2 state from" + V,
                    "savePath": str(out),
                    "id": "save-job-1",
                }
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            ret = json.loads(resp.read())
    finally:
        srv.stop()
    assert ret["status"] & DAT_GOOD
    p1, p2 = tmp_path / "result-1.csv", tmp_path / "result-2.csv"
    # the message reports the paths actually written (suffixed), not the
    # raw requested path — a script acting on it must find the files
    assert ret["message"] == f"Saved to {p1}, {p2}"
    assert len(ret["entries"]) == 2  # display entries still returned
    assert ret["savedTo"] == [str(p1), str(p2)]
    with open(p1) as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["plate", "fine"]
    assert len(rows) - 1 == query_response(
        eng, "select plate fine from" + V + "where fine > 100"
    )["entries"][0]["numrows"]
    with open(p2) as f:
        rows2 = list(csv.reader(f))
    assert rows2[0] == ["state"] and len(rows2) == 3


def test_save_flow_dispatches_on_extension(eng, tmp_path, spark):
    # round-11 advice: the GUI save must ride the SAME extension
    # dispatch as engine.save_csv — out.tsv gets a TAB body, out.txt
    # raw lines, out.parquet a readable columnar sink; a comma-CSV
    # body under those names would re-read as mangled rows
    tsv = tmp_path / "out.tsv"
    ret = query_response(eng, "select top 3 plate fine from" + V,
                         save_path=str(tsv))
    assert ret["status"] & DAT_GOOD
    body = tsv.read_text()
    assert "\t" in body.splitlines()[0] and "," not in body.splitlines()[0]
    # the written .tsv reads back through the engine's own dispatch
    back = eng.sql(f"select plate, fine from '{tsv}'").collect()
    assert len(back) == 3 and all(len(r) == 2 for r in back)

    txt = tmp_path / "out.txt"
    ret = query_response(eng, "select top 3 plate from" + V,
                         save_path=str(txt))
    assert ret["status"] & DAT_GOOD
    lines = txt.read_text().splitlines()
    assert len(lines) == 3 and "plate" not in lines[0]  # no header

    # multi-column .txt save -> the writer's SemanticError surfaces as
    # a client error, never a silent mangled file
    ret = query_response(eng, "select top 3 plate fine from" + V,
                         save_path=str(tmp_path / "bad.txt"))
    assert ret["status"] & DAT_ERROR and "one string column" in ret["message"]
    assert not (tmp_path / "bad.txt").exists()

    # .jsonl: one JSON object per line, explicit nulls, engine-readable
    jl = tmp_path / "out.jsonl"
    ret = query_response(eng, "select top 3 plate fine note from" + V,
                         save_path=str(jl))
    assert ret["status"] & DAT_GOOD
    import json as _json

    first = _json.loads(jl.read_text().splitlines()[0])
    assert first["plate"] and "note" in first  # null field present
    assert eng.sql(f"select plate, fine from '{jl}'").count() == 3

    # codec suffix on a line format -> REAL compressed body (a plain
    # body under out.csv.gz would re-read as garbage)
    import gzip as _gzip

    gz = tmp_path / "out.csv.gz"
    ret = query_response(eng, "select top 4 plate fine from" + V,
                         save_path=str(gz))
    assert ret["status"] & DAT_GOOD
    with _gzip.open(gz, "rt") as f:
        assert f.readline().strip() == "plate,fine"
    assert eng.sql(f"select plate from '{gz}'").count() == 4

    # columnar + codec suffix is rejected on the WRITE side too
    ret = query_response(eng, "select top 2 plate from" + V,
                         save_path=str(tmp_path / "x.parquet.gz"))
    assert ret["status"] & DAT_ERROR and "codec suffix" in ret["message"]

    # a bare codec name (out.gz) is rejected — _load could never
    # dispatch what it would write (round-11 review)
    ret = query_response(eng, "select top 2 plate from" + V,
                         save_path=str(tmp_path / "bare.gz"))
    assert ret["status"] & DAT_ERROR and "format" in ret["message"]

    # a codec over an UNKNOWN format extension (out.tar.gz) is rejected
    # too — _load strips the .gz, finds .tar matches no lane, and the
    # file could never read back (round-12 ADVICE)
    ret = query_response(eng, "select top 2 plate from" + V,
                         save_path=str(tmp_path / "out.tar.gz"))
    assert ret["status"] & DAT_ERROR and "format" in ret["message"]

    # multi-statement + codec name: -N goes BEFORE the format extension
    # (out-1.jsonl.gz), never between format and codec (round-11 review)
    ret = query_response(
        eng,
        "select top 2 plate fine from" + V + "; select top 3 state from" + V,
        save_path=str(tmp_path / "multi.jsonl.gz"),
    )
    assert ret["status"] & DAT_GOOD
    m1, m2 = tmp_path / "multi-1.jsonl.gz", tmp_path / "multi-2.jsonl.gz"
    assert m1.exists() and m2.exists()
    assert eng.sql(f"select plate from '{m1}'").count() == 2
    assert eng.sql(f"select state from '{m2}'").count() == 3

    pq = tmp_path / "out.parquet"
    ret = query_response(eng, "select top 3 plate fine from" + V,
                         save_path=str(pq))
    assert ret["status"] & DAT_GOOD
    assert spark.read.parquet(str(pq)).count() == 3
    # re-saving over your own columnar output must OVERWRITE, not hit
    # the sink name rule's existing-directory rejection
    ret = query_response(eng, "select top 2 plate fine from" + V,
                         save_path=str(pq))
    assert ret["status"] & DAT_GOOD
    assert spark.read.parquet(str(pq)).count() == 2
    # a plain directory (no columnar extension) is still invalid
    bad = query_response(eng, "select top 2 plate from" + V,
                         save_path=str(tmp_path))
    assert bad["status"] & DAT_ERROR and "Invalid path" in bad["message"]
    # trailing slash on the columnar dir target: still a parquet
    # OVERWRITE, not a hidden '.csv' inside the directory (round-11
    # review: splitext('out.parquet/') has no extension)
    ret = query_response(eng, "select top 1 plate fine from" + V,
                         save_path=str(pq) + "/")
    assert ret["status"] & DAT_GOOD
    assert spark.read.parquet(str(pq)).count() == 1
    assert not (pq / ".csv").exists() and not (tmp_path / ".csv").exists()
    # FIRST-TIME save with a trailing slash (no directory exists yet):
    # must also be a real parquet write, not a FileNotFoundError from a
    # '.csv' copy into the nonexistent dir (round-12 ADVICE)
    fresh = tmp_path / "fresh.parquet"
    ret = query_response(eng, "select top 2 plate fine from" + V,
                         save_path=str(fresh) + "/")
    assert ret["status"] & DAT_GOOD
    assert spark.read.parquet(str(fresh)).count() == 2
    # trailing slash on a LINE-format name is a directory request only
    # columnar sinks can satisfy -> clean Invalid path, not the raw
    # FileNotFoundError from copying into a nonexistent 'out.csv/' dir
    # (round-12 second review)
    ret = query_response(eng, "select top 2 plate from" + V,
                         save_path=str(tmp_path / "slash.csv") + "/")
    assert ret["status"] & DAT_ERROR and "Invalid path" in ret["message"]
    # columnar + codec on the GUI save side gets the targeted message,
    # not the line-format allowlist advice (round-12 second review)
    ret = query_response(eng, "select top 2 plate from" + V,
                         save_path=str(tmp_path / "y.parquet.gz"))
    assert ret["status"] & DAT_ERROR and "internally" in ret["message"]


def test_save_flow_bare_name_and_bad_path(eng, tmp_path):
    # no extension -> .csv appended (files.go:173-178); missing parent
    # dir / bare directory -> DAT_ERROR "Invalid path" (files.go:158-170)
    ret = query_response(
        eng, "select top 1 plate from" + V, save_path=str(tmp_path / "bare")
    )
    assert ret["status"] & DAT_GOOD
    assert (tmp_path / "bare.csv").exists()

    bad = query_response(
        eng, "select top 1 plate from" + V,
        save_path=str(tmp_path / "nosuchdir" / "x.csv"),
    )
    assert bad["status"] & DAT_ERROR and "Invalid path" in bad["message"]
    isdir = query_response(eng, "select top 1 plate from" + V,
                           save_path=str(tmp_path))
    assert isdir["status"] & DAT_ERROR and "Invalid path" in isdir["message"]


# --- GUI state echo (reference server.go:188-216) -------------------------


def test_state_echo_roundtrip(eng, tmp_path):
    srv = CsvToolServer(eng, port=0)
    srv.start()

    def info(q, body=None):
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/info?info={q}",
            data=json.dumps(body).encode() if body is not None else None,
            headers={"Content-Type": "application/json"},
            method="POST" if body is not None else "GET",
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())

    try:
        # fresh server: defaults (no history, cwd browse positions)
        st = info("getState")
        assert st["haveInfo"] is False and st["history"] == []
        assert st["openDirList"]["path"] and st["saveDirList"]["path"]

        # setState merges and echoes back on the next getState
        assert info(
            "setState",
            {"haveInfo": True, "currentQuery": "select 1",
             "history": [{"query": "select 1"}]},
        ) is None  # reference returns JSON null for setState
        st = info("getState")
        assert st["haveInfo"] is True
        assert st["history"] == [{"query": "select 1"}]
        assert st["currentQuery"] == "select 1"

        # a merge keeps absent fields (json.Unmarshal-into-live-struct)
        info("setState", {"currentQuery": "select 2"})
        st = info("getState")
        assert st["currentQuery"] == "select 2"
        assert st["history"] == [{"query": "select 1"}]

        # fileClick(mode=save) updates the echoed saveDirList
        listing = info("fileClick", {"path": str(tmp_path), "mode": "save"})
        assert listing["mode"] == "save"
        st = info("getState")
        assert st["saveDirList"]["path"] == str(tmp_path)
        assert st["openDirList"]["path"] != str(tmp_path)

        # a malformed payload must not poison state for later clients:
        # wrong-typed values are dropped (Go's unmarshal would reject
        # them), and getState keeps answering with the prior good state
        info("setState", {"openDirList": "oops", "history": "nope",
                          "haveInfo": 3, "extra": {"ok": 1}})
        st = info("getState")
        assert st["saveDirList"]["path"] == str(tmp_path)
        assert st["openDirList"]["path"]  # still a dict with a path
        assert st["history"] == [{"query": "select 1"}]
        assert st["haveInfo"] is True
        assert st["extra"] == {"ok": 1}  # unknown keys pass through
    finally:
        srv.stop()


def test_webui_wires_save_and_state(eng):
    from csvtool_spark.webui import INDEX_HTML

    assert "savePath" in INDEX_HTML
    assert "info=setState" in INDEX_HTML and "info=getState" in INDEX_HTML


def test_idle_exit_timeout(eng):
    """The reference self-exits after N seconds with no browser connected
    (main.go:79-97); here the serving thread must shut itself down after
    idle_timeout with no SSE subscriber and no request — and requests
    inside the window must keep it alive."""
    import time

    srv = CsvToolServer(eng, port=0, idle_timeout=1.0)
    srv.start()
    port = srv.port
    try:
        # activity inside the window resets the counter (main.go:87-92)
        for _ in range(3):
            time.sleep(0.6)
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/info?info=getState", timeout=5
            ) as r:
                assert r.status == 200
        assert srv._thread.is_alive() and not srv.idle_exited
        # silence past the window: the watchdog shuts the server down
        srv.join(timeout=5)
        assert not srv._thread.is_alive()
        assert srv.idle_exited
        with pytest.raises(Exception):
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/info?info=getState", timeout=2
            )
    finally:
        srv.stop()


def test_idle_exit_disabled_by_default(eng):
    """idle_timeout=None (the embedded/test default and the CLI's
    --persistent, the reference -s flag) must never self-exit."""
    import time

    srv = CsvToolServer(eng, port=0)
    srv.start()
    try:
        assert srv._watchdog is None
        time.sleep(1.2)
        assert srv._thread.is_alive() and not srv.idle_exited
    finally:
        srv.stop()


def test_query_response_curation_pipe(eng):
    """The '|>' pipe flows through the HTTP surface unchanged — stage
    columns appear in the ReturnData contract like any projection."""
    docs = " '/root/testdata/sf0.001/documents.parquet' "
    ret = query_response(
        eng,
        "select doc_id, text from" + docs +
        "|> langid(text) |> quality(text, min=0.7) |> tokens(text)",
    )
    assert ret["status"] & DAT_GOOD and not ret["status"] & DAT_ERROR
    e = ret["entries"][0]
    assert e["colnames"] == ["doc_id", "text", "lang_guess", "quality", "n_tokens"]
    assert e["numrows"] > 0
    # a stage error surfaces as the standard error bit + message
    bad = query_response(eng, "select doc_id from" + docs + "|> frobnicate(doc_id)")
    assert bad["status"] & DAT_ERROR
    assert "frobnicate" in bad["message"]


def test_query_response_releases_pipe_stages(spark):
    """A query whose plan reads persisted staging
    tables (pipe neardup / BM25 / linkage) must not leak cached blocks
    per HTTP request — query_response frees them after the collects."""
    from csvtool_spark.functions import caching

    staged = []

    class FakeEngine:
        def sql(self, stmt):
            stage = caching.persist(spark.range(5))
            stage.count()
            assert stage.storageLevel.useMemory
            staged.append(stage)
            return spark.range(3)

    ret = query_response(FakeEngine(), "select pretend-pipe-query")
    assert ret["status"] & DAT_GOOD
    assert len(staged) == 1
    assert not staged[0].storageLevel.useMemory  # released, not leaked


def _cached_entries(spark) -> int:
    """Entries in the session's CacheManager — one per persisted plan."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


_DOCS = f" '{SF_SMALL}/documents.parquet' "


@pytest.mark.parametrize(
    "query, fails",
    [
        ("select doc_id, text from" + _DOCS + "where doc_id > {i}", False),
        ("select inc() n, doc_id from" + _DOCS + "where doc_id > {i}", False),
        (
            "select doc_id, text from" + _DOCS + "where doc_id > {i} "
            "|> tokens(text) |> pack(n_tokens, id=doc_id, budget=256)",
            False,
        ),
        (
            "select doc_id, source, text from" + _DOCS + "where doc_id > {i} "
            "|> tokens(text) |> mixture(source, key=doc_id, tokens=n_tokens, "
            "src0=500000, src1=500000)",
            False,
        ),
        (
            "select doc_id, text from" + _DOCS + "where doc_id > {i} "
            "|> neardup(text, id=doc_id, threshold=0.4)",
            False,
        ),
        # a stage that raises after neardup persisted its staging frames
        (
            "select doc_id, text from" + _DOCS + "where doc_id > {i} "
            "|> neardup(text, id=doc_id) |> frobnicate(text)",
            True,
        ),
    ],
    ids=["plain", "inc", "pack", "mixture", "neardup", "neardup_then_error"],
)
def test_query_response_cache_returns_to_baseline(eng, spark, query, fails):
    """A long-lived server runs distinct queries back to back; every
    cache entry a request creates is gone when its response returns,
    whether the request succeeded or raised."""
    base = _cached_entries(spark)
    for i in range(3):
        ret = query_response(eng, query.format(i=i))
        assert bool(ret["status"] & DAT_ERROR) == fails, ret["message"]
    assert _cached_entries(spark) == base


def test_explain_response_contract(eng):
    """POST /explain — the web twin of the CLI's --explain: formatted
    Catalyst plan per statement, nothing executed, errors shaped like
    query_response (engine-exceeds-reference surface)."""
    from csvtool_spark.server import explain_response

    ret = explain_response(
        eng,
        "select plate fine from" + V + "where fine > 100; "
        "select count(*) from" + V,
    )
    assert ret["status"] & DAT_GOOD and not ret["status"] & DAT_ERROR
    assert len(ret["plans"]) == 2
    for p in ret["plans"]:
        assert "== Physical Plan ==" in p["plan"] and p["query"]
    # same compile error the /query surface reports (modulo is int-only)
    bad = explain_response(eng, "select plate % 2 from" + V)
    assert bad["status"] & DAT_ERROR and bad["plans"] == []
    assert bad["message"]


def test_http_explain_roundtrip_and_webui_wiring(eng):
    srv = CsvToolServer(eng, port=0)
    srv.start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/explain/",
            data=json.dumps(
                {"query": "select plate from" + V + "where fine > 100"}
            ).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            ret = json.loads(resp.read())
        assert ret["status"] & DAT_GOOD
        assert "== Physical Plan ==" in ret["plans"][0]["plan"]
    finally:
        srv.stop()
    from csvtool_spark.webui import INDEX_HTML

    assert 'id="explain"' in INDEX_HTML and "/explain/" in INDEX_HTML


def test_explain_surface_pins_parquet_pushdown(eng):
    """Plan-drift telemetry through the GUI surface (round-10 verdict
    item 8): the /explain plan for a filtered parquet scan must carry
    the predicate in PushedFilters and prune the read schema to the
    selected columns — if an engine change ever un-pushes the q1-shaped
    filter, this fails here, one click from the query box, not just in
    test_plans."""
    from csvtool_spark.server import explain_response

    ret = explain_response(
        eng,
        "select l_returnflag from "
        "'/root/testdata/sf0.001/lineitem.parquet' "
        "where l_quantity > 30",
    )
    assert ret["status"] & DAT_GOOD
    plan = ret["plans"][0]["plan"]
    assert "== Physical Plan ==" in plan
    pushed = plan.split("PushedFilters:", 1)
    assert len(pushed) == 2, plan
    assert "GreaterThan(l_quantity,30" in pushed[1].split("]", 1)[0], plan
    schema = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "l_returnflag" in schema and "l_shipdate" not in schema, schema


def test_query_response_warm_query_submits_only_the_collect(spark, tmp_path, count_jobs):
    """A repeated query reuses the file's inferred shape: it submits the
    display collect's jobs and neither of inference's two (Spark's header
    job and the head collect)."""
    import shutil

    src = tmp_path / "v.csv"
    shutil.copy("tests/data/violations.csv", src)
    q = f"select plate fine from '{src}' where fine > 100"
    eng = CsvEngine(spark)
    cold, cold_jobs = count_jobs(lambda: query_response(eng, q))
    warm, warm_jobs = count_jobs(lambda: query_response(eng, q))
    assert warm["entries"] == cold["entries"]
    show = cold["entries"][0]["showLimit"]
    _, collect_jobs = count_jobs(lambda: eng.sql(q).limit(show + 1).collect())
    assert warm_jobs == collect_jobs == cold_jobs - 2


def test_display_collect_of_a_selective_query_is_one_job(spark, count_jobs):
    """The display collect scans one wave of partitions first: rows that
    only the last partition holds arrive in one job, not in a one-partition
    probe followed by a second job over the rest."""
    from csvtool_spark.session import default_parallelism

    par = default_parallelism()
    df = spark.range(0, 100 * par, 1, par).filter(f"id >= {100 * par - 5}")
    rows, jobs = count_jobs(lambda: df.limit(10).collect())
    assert [r.id for r in rows] == list(range(100 * par - 5, 100 * par))
    assert jobs == 1
