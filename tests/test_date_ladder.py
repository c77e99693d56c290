"""The compiled date ladder against a plain strptime reference twin.

``dialect.types.date_ladder_hits`` tests each DATE_FORMATS regex before it
calls ``datetime.strptime``. The twin below is the loop it replaced: one
``datetime.strptime`` attempt per format, catching ValueError. Over a
seeded corpus both must agree on ``parse_date``, ``narrowest_type`` and
``observed_date_formats``; a work-count guard pins that inference calls
strptime only on hits and never rebuilds a format regex per cell.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import _strptime
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from csvtool_spark.dialect import types
from csvtool_spark.dialect.types import (
    DATE_FORMATS,
    EPOCH_S_MAX,
    EPOCH_S_MIN,
    T_DATE,
    T_NULL,
    narrowest_type,
    parse_date,
    widen,
)
from csvtool_spark.sources.csv import (
    SPARK_DATE_FORMATS,
    _epoch_shape,
    infer_types,
    observed_date_formats,
)
from perfbench import gen


# --- reference twin: one strptime attempt per ladder format -------------


def ref_parse_date(s: str) -> datetime | None:
    t = s.strip()
    for fmt in DATE_FORMATS:
        try:
            return datetime.strptime(t, fmt)
        except ValueError:
            continue
    if t.isdigit() and len(t) in (10, 13):
        n = int(t)
        secs = n // 1000 if len(t) == 13 else n
        if not (EPOCH_S_MIN <= secs < EPOCH_S_MAX):
            return None
        base = datetime.fromtimestamp(secs, tz=timezone.utc).replace(tzinfo=None)
        return base + timedelta(milliseconds=n % 1000) if len(t) == 13 else base
    return None


def ref_observed_date_formats(samples: list[str]) -> list[str]:
    hit: set[int] = set()
    epoch: list[str] = []
    for v in samples:
        sh = _epoch_shape(v)
        if sh is not None:
            if sh not in epoch:
                epoch.append(sh)
            continue
        for i, pyfmt in enumerate(DATE_FORMATS):
            if i in hit:
                continue
            try:
                datetime.strptime(v.strip(), pyfmt)
                hit.add(i)
            except ValueError:
                continue
    ladder = [SPARK_DATE_FORMATS[i] for i in sorted(hit)] or SPARK_DATE_FORMATS
    return ladder + epoch


# --- seeded corpus -------------------------------------------------------

_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
_DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]


def _cased(rng: random.Random, word: str) -> str:
    k = rng.randrange(4)
    if k == 0:
        return word.upper()
    if k == 1:
        return word.lower()
    if k == 2:
        return "".join(c.upper() if rng.random() < 0.5 else c.lower() for c in word)
    return word


def _num(rng: random.Random, lo: int, hi: int, width: int) -> str:
    """A number in [lo, hi], zero-padded to ``width`` half the time."""
    n = rng.randint(lo, hi)
    return f"{n:0{width}d}" if rng.random() < 0.5 else str(n)


def _directive(rng: random.Random, d: str) -> str:
    """One value for a strptime directive: mostly in range, sometimes not
    (month 0/13, day 0/30-32, hour 24, minute 60), so range checks run."""
    if d == "Y":
        return str(rng.choice([1999, 2001, 2017, 2020, 2024, 2038, 9999, rng.randint(1000, 2100)]))
    if d == "y":
        return _num(rng, 0, 99, 2)
    if d == "m":
        return _num(rng, 0, 13, 2) if rng.random() < 0.25 else _num(rng, 1, 12, 2)
    if d == "d":
        return _num(rng, 0, 32, 2) if rng.random() < 0.25 else _num(rng, 1, 28, 2)
    if d == "H":
        return _num(rng, 0, 25, 2)
    if d in "MS":
        return _num(rng, 0, 61, 2)
    if d == "f":
        return "".join(rng.choice("0123456789") for _ in range(rng.randint(1, 7)))
    if d == "z":
        return rng.choice(["Z", "z", "+02:00", "+0200", "-05:30", "-0530",
                           "+2400", "+02:0", "+02", "UTC"])
    if d == "b":
        m = rng.choice(_MONTHS)
        return _cased(rng, rng.choice([m[:3], m[:3], "Sept", "Foo"]))
    if d == "B":
        return _cased(rng, rng.choice(_MONTHS + ["Sept", "Juny"]))
    if d == "a":
        return _cased(rng, rng.choice(_DAYS + ["Tues", "Xyz"]))
    raise AssertionError(d)


def _render(rng: random.Random, fmt: str) -> str:
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%":
            out.append(_directive(rng, fmt[i + 1]))
            i += 2
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def _decorate(rng: random.Random, s: str) -> str:
    r = rng.random()
    if r < 0.08:
        return " " + s
    if r < 0.16:
        return s + "  "
    if r < 0.22:
        return s + rng.choice(["x", "Z", " 10", ".5", ":00", "T"])
    if r < 0.25:
        return s.replace(" ", "  ", 1)
    return s


def _epoch(rng: random.Random) -> str:
    if rng.random() < 0.5:
        n = rng.choice([rng.randint(EPOCH_S_MIN, EPOCH_S_MAX - 1), EPOCH_S_MIN,
                        EPOCH_S_MAX - 1, EPOCH_S_MAX, EPOCH_S_MIN - 1,
                        rng.randint(10**9, 10**10 - 1)])
        return str(n)
    n = rng.choice([rng.randint(EPOCH_S_MIN * 1000, EPOCH_S_MAX * 1000 - 1),
                    EPOCH_S_MAX * 1000, rng.randint(10**12, 10**13 - 1)])
    return str(n)


def _gen_cells(rows: int) -> list[str]:
    """The fact and dim cell shapes the benchmark generator writes."""
    rng = np.random.default_rng(11)
    lines = gen.fact_lines(rng, rows)[1:] + gen.dim_lines(rng)[1 : rows + 1]
    return [c for line in lines for c in line.split(",")]


@pytest.fixture(scope="module")
def corpus() -> list[str]:
    rng = random.Random(20_241)
    out: list[str] = []
    # runs of 30 cells per ladder shape: an observed_date_formats chunk of
    # 200 spans several shapes; the epoch and generator cells below give
    # chunks that narrow to one format or to none
    for _ in range(25):
        for fmt in dict.fromkeys(DATE_FORMATS):
            out += [_decorate(rng, _render(rng, fmt)) for _ in range(30)]
    out += ["2/30/2020", "13/1/2020", "0/5/2020", "2/29/2020", "2/29/2021",
            "2017-01-02x", " 2017-01-02 ", "JUNE 1 2017", "june 1, 2017",
            "jUnE 01 2017 10:00:00", "2017-06-01T00:00:00Z",
            "2017-06-01T00:00:00+02:00", "2017-06-01T00:00:00+0200",
            "2017-06-01T00:00:00.123456+02:00", "Thu, 01 Jun 2017 10:00:00",
            "1609459200", "1609459200500", "0999999999", "9999999999"]
    out += [_epoch(rng) for _ in range(1500)]
    words = ["hello", "June", "NA", "null", "", "3 days", "1h30m", "-1.5h",
             "2 weeks", "100ms", "12", "1.5", "007", "1e5", "a/b/c", "2017",
             "2017-", "T", "10:00", "Mon", "Z"]
    out += [rng.choice(words) for _ in range(1500)]
    out += _gen_cells(1500)
    assert len(out) >= 20_000
    return out


def _chunks(corpus: list[str]) -> list[list[str]]:
    return [corpus[i : i + 200] for i in range(0, len(corpus), 200)]


@pytest.fixture(scope="module")
def twin(corpus) -> dict:
    """The twin's answers, computed once. strptime's regex cache size only
    changes how fast the twin runs, not what it returns, so it is raised
    while the twin walks the corpus."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(_strptime, "_CACHE_MAX_SIZE", 2 * len(DATE_FORMATS))
        dates = {s: ref_parse_date(s) for s in corpus}
        fmts = [ref_observed_date_formats(c) for c in _chunks(corpus)]
    with pytest.MonkeyPatch.context() as m:
        # the reference lattice: narrowest_type with its date step on the twin
        m.setattr(types, "parse_date", dates.__getitem__)
        lattice = {s: types.narrowest_type(s) for s in dates}
    return {"dates": dates, "fmts": fmts, "types": lattice}


def test_parse_date_matches_strptime_twin(twin):
    dates = twin["dates"]
    # repr: equal value AND equal tz-awareness and offset
    assert [s for s, d in dates.items() if repr(parse_date(s)) != repr(d)] == []
    assert sum(d is not None for d in dates.values()) > 5000
    assert sum(d is None for d in dates.values()) > 5000


def test_narrowest_type_matches_strptime_twin(twin):
    assert {s: narrowest_type(s) for s in twin["types"]} == twin["types"]


def test_observed_date_formats_matches_strptime_twin(corpus, twin):
    got = [observed_date_formats(c) for c in _chunks(corpus)]
    assert got == twin["fmts"]
    # some chunks narrow the cast to one format, some keep several
    assert {len(g) == 1 for g in got} == {True, False}


def test_ladder_is_keyed_on_lc_time():
    ladder = types._date_ladder()
    assert [f for f, _ in ladder] == DATE_FORMATS
    assert types._LADDERS[_strptime._getlang()] is ladder
    assert types._date_ladder() is ladder


_CELLS = ["", "NA", "null", "12", "-3", "007", "1.5", "3 days", "1h30m",
          "2020-01-02", "1/2/2020", "2/30/2020", "June 1 2017", "1609459200",
          "text", "  2020-01-02 "]


@settings(max_examples=200, deadline=None)
@given(
    st.integers(0, 4),
    st.lists(st.lists(st.one_of(st.none(), st.sampled_from(_CELLS)), max_size=5), max_size=30),
)
def test_infer_types_equals_row_by_row_fold(width, rows):
    folded = [T_NULL] * width
    for row in rows:
        for i in range(min(width, len(row))):
            v = row[i]
            folded[i] = widen(folded[i], narrowest_type(v if v is not None else ""))
    assert infer_types(rows, width) == folded


def test_inference_work_is_bounded_by_distinct_date_cells(monkeypatch):
    """10k rows shaped like the benchmark's ``ts``/``day`` columns: strptime
    runs at most once per distinct date cell, and no format regex is built
    per cell (the stdlib keeps only five and clears them when full)."""
    rng = np.random.default_rng(5)
    base = np.datetime64("2020-01-01T00:00:00")
    ts = (base + rng.integers(0, 3 * 365 * 86400, 10_000).astype("timedelta64[s]"))
    ts_s = [s.replace("T", " ") for s in np.datetime_as_string(ts, unit="s").tolist()]
    days = (np.datetime64("2020-01-01") + rng.integers(0, 4 * 365, 10_000)
            .astype("timedelta64[D]")).tolist()
    day_s = [f"{d.month}/{d.day}/{d.year}" for d in days]
    rows = [[a, b] for a, b in zip(ts_s, day_s)]
    distinct = len(set(ts_s)) + len(set(day_s))

    parse_date("2020-01-01")  # the ladder is a one-time, per-locale build
    calls = {"strptime": 0, "builds": 0}
    strptime_datetime, pattern = _strptime._strptime_datetime, _strptime.TimeRE.pattern

    def counted_strptime(*a, **k):
        calls["strptime"] += 1
        return strptime_datetime(*a, **k)

    def counted_pattern(self, fmt):
        calls["builds"] += 1
        return pattern(self, fmt)

    monkeypatch.setattr(_strptime, "_strptime_datetime", counted_strptime)
    monkeypatch.setattr(_strptime.TimeRE, "pattern", counted_pattern)
    assert infer_types(rows, 2) == [T_DATE, T_DATE]
    assert 0 < calls["strptime"] <= distinct
    assert calls["builds"] <= len(DATE_FORMATS)
