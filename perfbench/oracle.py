"""Output checks: every operation's answer against DuckDB over the same
generated inputs.

- Query results (GUI and ``collect``) are compared cell by cell, order
  insensitively, after normalising numbers to 10 significant digits and
  durations to seconds.
- Exported files are read back and compared by row count, header and an
  order-insensitive hash of the typed values.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import re

_TD = re.compile(r"^(?:(-?\d+) days?, )?(-?\d+):(\d\d):(\d\d(?:\.\d+)?)$")


def duration_seconds(s: str) -> float:
    """Seconds in a ``str(datetime.timedelta)`` rendering, the GUI's JSON
    form of a duration (``'-1 day, 23:00:00'``)."""
    m = _TD.match(s)
    if not m:
        raise ValueError(f"not a duration: {s!r}")
    d, h, mi, sec = m.groups()
    return int(d or 0) * 86400 + int(h) * 3600 + int(mi) * 60 + float(sec)


def norm_cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        return f"{float(v):.10g}"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.timedelta):
        return f"{v.total_seconds():.10g}"
    return str(v)


def norm_rows(rows, cols, durations=()) -> list[tuple]:
    idx = [i for i, c in enumerate(cols) if c in durations]
    out = []
    for r in rows:
        r = list(r)
        for i in idx:
            if isinstance(r[i], str):
                r[i] = duration_seconds(r[i])
        out.append(tuple(norm_cell(v) for v in r))
    return sorted(out)


class Oracle:
    """DuckDB connection over the run's inputs, with answers cached per
    twin statement (the plans repeat statements)."""

    def __init__(self, con):
        self.con = con
        self._cache: dict[str, object] = {}

    def _answer(self, sql: str):
        if sql not in self._cache:
            cur = self.con.execute(sql)
            self._cache[sql] = ([d[0] for d in cur.description], cur.fetchall())
        return self._cache[sql]

    def check_rows(self, op, cols: list[str], rows: list) -> str | None:
        """None when ``rows`` (named ``cols``) equal the twin's answer."""
        dcols, drows = self._answer(op.twin)
        if [c.lower() for c in cols] != [c.lower() for c in dcols]:
            return f"columns {cols} != {dcols}"
        if len(rows) != len(drows):
            return f"rows {len(rows)} != {len(drows)}"
        got = norm_rows(rows, cols, op.durations)
        want = norm_rows(drows, dcols, op.durations)
        if got != want:
            diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
            return f"values differ, first: {diff}"
        return None

    @staticmethod
    def _typed(cols: list[str], spark_text: bool) -> str:
        """Typed, hashable projection of ``name:TYPE`` columns. Spark's CSV
        writer renders timestamps as ISO-8601 with a zone suffix, so text
        read back is parsed to the twin's TIMESTAMP first."""
        out = []
        for spec in cols:
            name, typ = spec.split(":")
            e = name
            if typ == "TIMESTAMP" and spark_text:
                e = (f"CAST(replace(replace({name}, 'T', ' '), 'Z', '') "
                     f"AS TIMESTAMP)")
            elif typ != "VARCHAR" or spark_text:
                e = f"CAST({name} AS {typ})"
            if typ == "DOUBLE":
                e = f"round({e}, 6)"
            out.append(e)
        return ", ".join(out)

    def _digest(self, rel: str, cols: list[str], spark_text: bool):
        n, h = self.con.execute(
            f"SELECT count(*), sum(hash({self._typed(cols, spark_text)})) "
            f"FROM {rel}"
        ).fetchone()
        return int(n), int(h or 0)

    def check_export(self, op) -> str | None:
        """None when the files ``op`` wrote hold the twin's rows."""
        names = [c.split(":")[0] for c in op.hash_cols]
        if op.kind == "save_parquet":
            files = glob.glob(f"{op.out}/**/*.parquet", recursive=True)
            rel = (f"read_parquet('{op.out}/**/*.parquet', "
                   f"hive_partitioning = true)")
            spark_text = False
        else:
            files = (glob.glob(op.out) if op.kind == "save_csv"
                     else glob.glob(f"{op.out}/*.csv"))
            spec = ", ".join(f"'{c}': 'VARCHAR'" for c in names)
            src = op.out if op.kind == "save_csv" else f"{op.out}/*.csv"
            rel = (f"read_csv('{src}', header = true, auto_detect = false, "
                   f"columns = {{{spec}}})")
            spark_text = True
        if not files:
            return f"no output files under {op.out}"
        header = [d[0] for d in self.con.execute(
            f"SELECT * FROM {rel} LIMIT 0").description]
        if op.kind != "save_parquet":
            with open(files[0]) as f:
                header = f.readline().rstrip("\n").split(",")
        if (sorted(header) if op.kind == "save_parquet" else header) != (
                sorted(names) if op.kind == "save_parquet" else names):
            return f"header {header} != {names}"
        got = self._digest(rel, op.hash_cols, spark_text)
        key = "digest:" + op.twin
        if key not in self._cache:
            self._cache[key] = self._digest(f"({op.twin})", op.hash_cols, False)
        want = self._cache[key]
        if got != want:
            return f"(rows, hash) {got} != {want}"
        return None
