"""The dialect's six-type system and literal type inference.

Reference semantics (/root/reference/utils.go:353-404):
- Narrowing order T_NULL < T_INT < T_FLOAT < T_DATE < T_DURATION < T_STRING.
- Null tokens: '' / 'null' / 'NA' (case-insensitive 'null').
- Digit strings with a leading zero stay STRING (zip codes).
- A value parseable as both date and duration prefers DURATION.
- Durations: Go syntax (1h2m3s) plus '<num> <unit>' where unit ∈ seconds/
  minutes/hours/days/weeks/years (s/m/h/d/w/y); year = exactly 52 weeks,
  months are impossible (utils.go:503).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import _strptime

T_NULL, T_INT, T_FLOAT, T_DATE, T_DURATION, T_STRING = range(6)

TYPE_NAMES = {
    T_NULL: "null",
    T_INT: "integer",
    T_FLOAT: "float",
    T_DATE: "date",
    T_DURATION: "duration",
    T_STRING: "string",
}

#: Epoch plausibility window, shared by the CSV reader's column promotion,
#: its full-scan cast guard, and dialect DATE-literal parsing — ONE
#: effective range everywhere. 10-digit seconds additionally imply a floor
#: of 1e9 (2001-09-09); millis use the same bounds × 1000.
EPOCH_S_MIN, EPOCH_S_MAX = 1_000_000_000, 2_208_988_800  # 2001-09-09 .. 2040-01-01

_LEADING_ZERO = re.compile(r"^0\d+$")
_INT = re.compile(r"^-?\d+$")
_FLOAT = re.compile(r"^-?(\d+\.\d*|\.\d+|\d+)([eE][-+]?\d+)?$")

#: '<number> <unit>' duration syntax (utils.go:446-504).
_DUR_UNIT = re.compile(
    r"^\s*(-?\d+(?:\.\d+)?)\s*"
    r"(seconds?|minutes?|hours?|days?|weeks?|years?|s|m|h|d|w|y)\s*$",
    re.IGNORECASE,
)
#: Go-style compound duration, e.g. '1h30m', '2h45m10s', '1.5h'.
_DUR_GO = re.compile(
    r"^\s*-?(?:(?:\d+(?:\.\d+)?)(?:ns|us|µs|ms|s|m|h))+\s*$"
)
_DUR_GO_PART = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")

_UNIT_SECONDS = {
    "s": 1.0, "second": 1.0, "seconds": 1.0,
    "m": 60.0, "minute": 60.0, "minutes": 60.0,
    "h": 3600.0, "hour": 3600.0, "hours": 3600.0,
    "d": 86400.0, "day": 86400.0, "days": 86400.0,
    "w": 604800.0, "week": 604800.0, "weeks": 604800.0,
    # year = 52 weeks exactly (utils.go:503)
    "y": 52 * 604800.0, "year": 52 * 604800.0, "years": 52 * 604800.0,
}
_GO_UNIT_SECONDS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

#: Ordered datetime formats approximating dateparse.ParseAny for the shapes
#: the reference tests exercise (M/D/YYYY, 'june 1 2017', ISO, etc.).
#: Python strptime side — the Spark-side twin list is in sources/csv.py.
DATE_FORMATS = [
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d",
    "%m/%d/%Y %H:%M:%S",
    "%m/%d/%Y %H:%M",
    "%m/%d/%Y",
    "%m/%d/%y",
    "%m-%d-%Y",
    "%d %b %Y",
    "%b %d %Y",
    "%b %d, %Y",
    "%B %d %Y",
    "%B %d, %Y",
    "%Y/%m/%d",
    # dateparse.ParseAny breadth (utils.go:393): zone-suffixed ISO
    # ('2017-06-01T00:00:00Z', '…+02:00', '…+0200' — %z accepts all three;
    # the Spark twins split by offset shape, so observed_date_formats
    # collects every matching ladder entry, not just the first),
    # fractional-second zoned ISO, minute-precision ISO, month-name-first
    # with time, RFC1123-ish, and dotted dates.
    "%Y-%m-%dT%H:%M:%S%z",
    "%Y-%m-%dT%H:%M:%S%z",
    "%Y-%m-%dT%H:%M:%S.%f%z",
    "%Y-%m-%dT%H:%M:%S.%f%z",
    "%Y-%m-%d %H:%M:%S%z",
    "%Y-%m-%d %H:%M",
    "%Y-%m-%dT%H:%M:%S.%f",
    "%B %d %Y %H:%M:%S",
    "%b %d %Y %H:%M:%S",
    "%a, %d %b %Y %H:%M:%S",
    "%Y.%m.%d",
]


def is_null_token(s: str) -> bool:
    return s == "" or s.lower() == "null" or s == "NA"


def parse_duration_seconds(s: str) -> float | None:
    """Return total seconds, or None if not a duration literal."""
    m = _DUR_UNIT.match(s)
    if m:
        return float(m.group(1)) * _UNIT_SECONDS[m.group(2).lower()]
    if _DUR_GO.match(s):
        total = 0.0
        for num, unit in _DUR_GO_PART.findall(s):
            total += float(num) * _GO_UNIT_SECONDS[unit]
        return -total if s.strip().startswith("-") else total
    return None


#: LC_TIME locale -> [(format, compiled strptime regex)] for DATE_FORMATS.
#: Threads racing on a missing key build equal ladders; either write wins.
_LADDERS: dict[object, list[tuple[str, re.Pattern]]] = {}


def _date_ladder() -> list[tuple[str, re.Pattern]]:
    """DATE_FORMATS paired with the regexes strptime itself compiles for
    them, built once per LC_TIME locale (the key the stdlib uses, so
    ``%b``/``%B``/``%a`` keep strptime's meaning). The stdlib keeps only
    five format regexes and clears them when full, so handing it the whole
    ladder cell by cell would recompile a regex on almost every attempt."""
    lang = _strptime._getlang()
    ladder = _LADDERS.get(lang)
    if ladder is None:
        time_re = _strptime.TimeRE()
        ladder = _LADDERS[lang] = [(fmt, time_re.compile(fmt)) for fmt in DATE_FORMATS]
    return ladder


def date_ladder_hits(t: str) -> Iterator[tuple[int, datetime]]:
    """Yield ``(index into DATE_FORMATS, parsed value)`` for every ladder
    format that parses the trimmed cell ``t``, in ladder order.

    A format is tried only when its regex matches the whole cell — exactly
    the case in which strptime gets past "does not match format" and
    "unconverted data remains" — so ``datetime.strptime`` runs only on hits
    and still applies its range checks (``2/30/2020`` parses nowhere)."""
    for i, (fmt, regex) in enumerate(_date_ladder()):
        m = regex.match(t)
        if m is None or m.end() != len(t):
            continue
        try:
            d = datetime.strptime(t, fmt)
        except ValueError:
            continue
        yield i, d


def parse_date(s: str) -> datetime | None:
    t = s.strip()
    for _, d in date_ladder_hits(t):
        return d
    # dateparse.ParseAny breadth (utils.go:393): bare epoch numerics —
    # 10 digits = seconds, 13 = milliseconds (naive UTC, matching the
    # Spark-side timestamp_seconds/timestamp_millis twins under a UTC
    # session). Inference never reaches here for digit strings (Atoi wins
    # first, exactly like the reference); this is conversion breadth for
    # literals compared against DATE columns.
    if t.isdigit() and len(t) in (10, 13):
        # exact integer arithmetic — float seconds would drift a microsecond
        # against Spark's timestamp_millis for some millisecond values;
        # range-guarded with the same window as the CSV reader so one
        # feature has one effective range everywhere
        n = int(t)
        secs = n // 1000 if len(t) == 13 else n
        if not (EPOCH_S_MIN <= secs < EPOCH_S_MAX):
            return None
        base = datetime.fromtimestamp(secs, tz=timezone.utc).replace(tzinfo=None)
        return base + timedelta(milliseconds=n % 1000) if len(t) == 13 else base
    return None


def narrowest_type(s: str) -> int:
    """The reference's getNarrowestType lattice for a single value."""
    if is_null_token(s):
        return T_NULL
    if _LEADING_ZERO.match(s):
        return T_STRING  # zip codes etc. (utils.go:380)
    if _INT.match(s):
        # Go's Atoi rejects values outside int64 (falls through to float);
        # mirroring that also keeps the Spark long cast from nulling them.
        if -(2**63) <= int(s) < 2**63:
            return T_INT
        return T_FLOAT
    if _FLOAT.match(s):
        return T_FLOAT
    # duration preferred over date when ambiguous (utils.go:392-397)
    if parse_duration_seconds(s) is not None:
        return T_DURATION
    if parse_date(s) is not None:
        return T_DATE
    return T_STRING


def widen(t1: int, t2: int) -> int:
    """Column-inference fold step: plain ``max`` over the narrowing order
    (utils.go:382-404 folds ``max(observedType, startType)``). Note the
    quirks this implies — a column mixing ints and dates infers DATE; cells
    that then fail the column-type conversion read as null."""
    return max(t1, t2)
