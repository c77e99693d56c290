"""CSV reading with the reference's sampling schema inference.

Reference behavior (/root/reference/utils.go:407-444): read ≤10,000 sample
rows, fold each column's type through the narrowing lattice (max over
NULL<INT<FLOAT<DATE<DURATION<STRING), header row supplies names unless
``noheader`` (then col1..colN). Spark's built-in inferSchema differs (no
duration type, no leading-zero rule), so inference is a small custom module:
sample via ``limit(N)`` (reads only the file head at any scale), infer
driver-side, then cast the full string-typed scan column-by-column with
JVM-side expressions:

- INT → LongType, FLOAT → DoubleType (cast; unparseable → null)
- DATE → TimestampType through an ordered list of try_to_timestamp formats
  (approximating the reference's permissive dateparse.ParseAny)
- DURATION → DayTimeIntervalType from '<num> <unit>' or Go 'XhYmZs' syntax
- null tokens ''/'null'/'NA' → real SQL nulls in every column type
  (utils.go:384, selector.go:302-304)

The cast pipeline is pure pyspark.sql.functions — no UDFs, so the casts
stay in codegen. Inference is not free, though: Spark's header job, the
head collect, and a Python fold over the head that visits each distinct
cell value of each column once. Each cell runs the int/float/duration
regexes and then one compiled-regex test per date-ladder format
(``dialect.types.date_ladder_hits``); ``datetime.strptime`` runs only on
a regex hit. So ``read_csv`` keeps the ``Shape`` and its cast projection
in the caller's ``SourceCache`` (``sources/cache.py``), once per file
version.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csvtool_spark.dialect.types import (
    EPOCH_S_MAX,
    EPOCH_S_MIN,
    T_DATE,
    T_DURATION,
    T_FLOAT,
    T_INT,
    T_NULL,
    T_STRING,
    date_ladder_hits,
    is_null_token,
    narrowest_type,
    widen,
)
from csvtool_spark.sources.cache import SourceCache

SAMPLE_ROWS = 10_000

#: Spark-side datetime format attempts (twin of dialect.types.DATE_FORMATS).
SPARK_DATE_FORMATS = [
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd",
    "M/d/yyyy H:m:s",
    "M/d/yyyy H:m",
    "M/d/yyyy",
    "M/d/yy",
    "M-d-yyyy",
    "d MMM yyyy",
    "MMM d yyyy",
    "MMM d, yyyy",
    "MMMM d yyyy",
    "MMMM d, yyyy",
    "yyyy/M/d",
    # dateparse.ParseAny breadth — indexes stay parallel with
    # dialect.types.DATE_FORMATS (one python %z shape fans out to the two
    # Java offset shapes XXX '+02:00'/'Z' and XX '+0200').
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ssXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXX",
    "yyyy-MM-dd HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "MMMM d yyyy HH:mm:ss",
    "MMM d yyyy HH:mm:ss",
    "EEE, d MMM yyyy HH:mm:ss",
    "yyyy.M.d",
]

#: Sentinel "formats" for unix-epoch numeric timestamps (reference
#: dateparse.ParseAny accepts bare epoch numerics, utils.go:393). They ride
#: the same per-column format list as real patterns so the full-scan cast
#: stays a single coalesce chain.
EPOCH_SECONDS = "epoch_seconds"
EPOCH_MILLIS = "epoch_millis"

_EPOCH_RE_S = r"^\d{10}$"
_EPOCH_RE_MS = r"^\d{13}$"


def _epoch_shape(v: str) -> str | None:
    """EPOCH_SECONDS / EPOCH_MILLIS / None for one trimmed cell. The
    10-digit requirement plus the range guard make the effective window
    [2001-09-09, 2040-01-01) UTC for seconds (13-digit millis reach back
    to 2001 too) — see dialect.types.EPOCH_S_MIN.

    KNOWN HAZARD (documented, promotion is opt-out via
    ``read_csv(epoch_promotion=False)``): any unanimous 10-digit numeric-ID
    column whose values land in ~1.0e9..2.2e9 — e.g. US phone numbers with
    area codes 100..220 — satisfies the shape test and would promote. The
    reference infers INT for such columns (Atoi wins, utils.go:389); our
    column-level promotion trades that fidelity for the common
    epoch-column shape and requires whole-sample unanimity."""
    t = v.strip()
    if len(t) == 10 and t.isdigit() and EPOCH_S_MIN <= int(t) < EPOCH_S_MAX:
        return EPOCH_SECONDS
    if (
        len(t) == 13
        and t.isdigit()
        and EPOCH_S_MIN * 1000 <= int(t) < EPOCH_S_MAX * 1000
    ):
        return EPOCH_MILLIS
    return None


def _nulled(col: Column) -> Column:
    """Null tokens → SQL null (case-insensitive 'null', exact 'NA', '')."""
    return F.when(
        F.lower(F.trim(col)).isin("null", "") | (F.trim(col) == "NA"), F.lit(None)
    ).otherwise(col)


def parse_date_col(col: Column, formats: list[str] | None = None) -> Column:
    """Chained try_to_timestamp over ``formats`` (default: all known).
    The reader narrows this to the formats observed in the sample — at
    100 TB, one format attempt per cell instead of fifteen."""
    c = F.trim(col)
    fmts = formats or SPARK_DATE_FORMATS

    def attempt(f: str) -> Column:
        # Epoch conversions carry the SAME range guard as detection — a
        # cell like '9999999999' beyond the sampled rows reads as null, not
        # as a year-2286 timestamp the sample never promised.
        if f == EPOCH_SECONDS:
            v = c.try_cast("long")
            return F.when(
                c.rlike(_EPOCH_RE_S) & v.between(EPOCH_S_MIN, EPOCH_S_MAX - 1),
                F.timestamp_seconds(v),
            )
        if f == EPOCH_MILLIS:
            v = c.try_cast("long")
            return F.when(
                c.rlike(_EPOCH_RE_MS)
                & v.between(EPOCH_S_MIN * 1000, EPOCH_S_MAX * 1000 - 1),
                F.timestamp_millis(v),
            )
        return F.try_to_timestamp(c, F.lit(f))

    return F.coalesce(*[attempt(f) for f in fmts])


#: Go-style compound duration part, mirrored from dialect.types._DUR_GO —
#: multi-char units FIRST so 'ms' never tokenizes as 'm'+'s'.
_GO_PART_RE = r"(\d+(?:\.\d+)?(?:ns|us|µs|ms|s|m|h))"
_GO_FULL_RE = r"^-?(\d+(?:\.\d+)?(?:ns|us|µs|ms|s|m|h))+$"


def parse_duration_col(col: Column) -> Column:
    """'<num> <unit>' / Go-style compound → DayTimeIntervalType.

    Exactly the shapes driver-side inference accepts (dialect.types
    _DUR_UNIT/_DUR_GO, reference utils.go:446-504 + Go time.ParseDuration):
    word units s..y ('3 days', '-2 weeks'), and Go compounds with the full
    unit set ns/us/µs/ms/s/m/h, fractional parts in any position, and a
    leading minus ('100ms', '-1h30.5m', '1m100ms'). Pure JVM expressions —
    one regexp_extract_all + aggregate fold, no UDF; sub-microsecond
    amounts round to the interval type's microsecond tick.
    """
    c = F.trim(col)
    num = F.regexp_extract(c, r"^(-?\d+(?:\.\d+)?)\s*([A-Za-zµ]+)$", 1)
    unit = F.lower(F.regexp_extract(c, r"^(-?\d+(?:\.\d+)?)\s*([A-Za-zµ]+)$", 2))
    unit_secs = (
        F.when(unit.isin("s", "second", "seconds"), 1.0)
        .when(unit.isin("m", "minute", "minutes"), 60.0)
        .when(unit.isin("h", "hour", "hours"), 3600.0)
        .when(unit.isin("d", "day", "days"), 86400.0)
        .when(unit.isin("w", "week", "weeks"), 604800.0)
        # year = exactly 52 weeks; months impossible (utils.go:503)
        .when(unit.isin("y", "year", "years"), 52 * 604800.0)
    )
    # try_cast: regexp_extract yields '' on no-match, and ANSI mode makes
    # ''.cast(double) a hard error rather than null.
    simple = num.try_cast("double") * unit_secs

    def _part_secs(x: Column) -> Column:
        n = F.regexp_extract(x, r"^(\d+(?:\.\d+)?)", 1).try_cast("double")
        u = F.regexp_extract(x, r"([a-zµ]+)$", 1)
        mult = (
            F.when(u == "h", 3600.0)
            .when(u == "m", 60.0)
            .when(u == "s", 1.0)
            .when(u == "ms", 1e-3)
            .when(u.isin("us", "µs"), 1e-6)
            .when(u == "ns", 1e-9)
        )
        return n * mult

    is_go = c.rlike(_GO_FULL_RE)
    parts = F.regexp_extract_all(c, F.lit(_GO_PART_RE), 1)
    magnitude = F.aggregate(parts, F.lit(0.0), lambda acc, x: acc + _part_secs(x))
    go_secs = F.when(c.startswith("-"), -magnitude).otherwise(magnitude)
    secs = F.coalesce(simple, F.when(is_go, go_secs))
    return F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), secs)


def cast_column(col: Column, t: int, date_formats: list[str] | None = None) -> Column:
    base = _nulled(col)
    if t == T_INT:
        return base.cast("long")
    if t == T_FLOAT:
        return base.cast("double")
    if t == T_DATE:
        return parse_date_col(base, date_formats)
    if t == T_DURATION:
        return parse_duration_col(base)
    return base.cast("string")  # STRING, and NULL: an all-null column


def observed_date_formats(samples: list[str]) -> list[str]:
    """The subset of the format ladder that parses ≥1 sampled value, in
    ladder order — the full-scan cast tries only these."""
    hit: set[int] = set()
    epoch: list[str] = []
    for t in dict.fromkeys(v.strip() for v in samples):
        # A DATE column can carry bare epoch numerics alongside formatted
        # dates (widen(T_INT, T_DATE) = T_DATE; the reference converts both
        # via dateparse.ParseAny) — collect the epoch sentinel for them.
        sh = _epoch_shape(t)
        if sh is not None:
            if sh not in epoch:
                epoch.append(sh)
            continue
        # Collect EVERY matching ladder entry (no break): one python shape
        # can fan out to several Java twins (e.g. %z → XXX and XX), and the
        # full-scan coalesce must be able to try each of them.
        hit.update(i for i, _ in date_ladder_hits(t))
    # If NO ladder format matched (the cells given may be all-epoch while
    # the date string that made the column T_DATE is not among them), keep
    # the full-ladder fallback — epoch sentinels alone must never narrow a
    # DATE column into silently nulling its formatted cells.
    ladder = [SPARK_DATE_FORMATS[i] for i in sorted(hit)] or SPARK_DATE_FORMATS
    return ladder + epoch


def infer_types(sample_rows: list[list[str | None]], width: int) -> list[int]:
    """Each column's type: the ``widen`` fold over its sampled cells.
    ``widen`` is ``max``, so the fold visits each distinct cell once
    (day, category and flag columns repeat most of their values) and
    stops once a column pins to STRING, the top of the lattice (a text
    cell would otherwise run the whole date ladder)."""
    columns: list[set[str | None]] = [set() for _ in range(width)]
    for row in sample_rows:
        for i, v in enumerate(row[:width]):
            columns[i].add(v)
    types = []
    for cells in columns:
        t = T_NULL
        for v in cells:
            t = widen(t, narrowest_type(v if v is not None else ""))
            if t == T_STRING:
                break
        types.append(t)
    return types


class Shape(NamedTuple):
    """What inference learns about one version of a CSV file: the column
    names (Spark's header names, with its own renaming of duplicate and
    empty headers, or ``col1..colN`` under ``noheader``), each column's
    dialect type, and the date formats of each DATE column."""

    names: list[str]
    types: list[int]
    date_formats: dict[int, list[str]]


def infer_shape(raw: DataFrame, epoch_promotion: bool) -> Shape:
    """The shape of the all-string scan ``raw``: its first
    ``SAMPLE_ROWS`` rows, collected and folded on the driver."""
    names = list(raw.columns)
    sample = [[row[i] for i in range(len(names))] for row in raw.limit(SAMPLE_ROWS).collect()]
    types = infer_types(sample, len(names))
    # Lock DATE casts to the observed formats (usually one) so the full
    # scan does a single parse attempt per cell.
    fmts: dict[int, list[str]] = {}
    for i, t in enumerate(types):
        if t == T_DATE:
            # every sampled cell: a format first seen late in the sample
            # would otherwise read as null in the full scan
            fmts[i] = observed_date_formats([r[i] for r in sample if r[i] is not None])
        elif t == T_INT and epoch_promotion:
            # Column-level epoch promotion: an INT column whose every
            # sampled value is a 10-digit epoch-second (or 13-digit milli)
            # in 2001-2040 is a timestamp column in all but name. The
            # reference infers INT here too (Atoi wins, utils.go:389) but
            # its ParseAny breadth is the declared intent; divergence is
            # deliberate, sample-unanimity-guarded, and opt-out (see
            # ``_epoch_shape`` for the numeric-ID hazard).
            vals = [
                r[i]
                for r in sample
                if r[i] is not None and not is_null_token(r[i].strip())
            ]
            kinds = {_epoch_shape(v) for v in vals}
            if vals and None not in kinds and len(kinds) == 1:
                types[i] = T_DATE
                fmts[i] = [kinds.pop()]
    return Shape(names, types, fmts)


def typed_projection(shape: Shape) -> list[Column]:
    """The cast of each all-string column of ``shape`` to its dialect
    type. The casts name their input columns unresolved, so one list
    serves every later scan of the same file version; building it costs
    hundreds of py4j calls."""
    # Backtick-quote raw column references: a header like 'a.b' would
    # otherwise parse as struct-field access and crash the read.
    return [
        cast_column(
            F.col("`" + n.replace("`", "``") + "`"),
            shape.types[i],
            shape.date_formats.get(i),
        ).alias(n)
        for i, n in enumerate(shape.names)
    ]


def read_csv(
    spark: SparkSession,
    path: str,
    noheader: bool = False,
    multiline: bool = False,
    epoch_promotion: bool = True,
    sep: str = ",",
    cache: SourceCache | None = None,
) -> tuple[DataFrame, list[str], list[int]]:
    """Read a CSV with inferred dialect types.

    ``multiline=True`` supports quoted fields containing newlines (the
    reference's encoding/csv always does) at the cost of intra-file split
    parallelism — Spark must read each multiline file as one unit, so keep
    it off for large single files and shard such data upstream.

    ``epoch_promotion=False`` disables the column-level epoch-timestamp
    promotion (see ``_epoch_shape`` for the numeric-ID hazard it trades
    against); epoch cells inside mixed DATE columns still convert.

    ``cache`` keeps the shape and its ``typed_projection`` per file
    version; without one every call infers. The scan gets the shape's
    all-string schema, so a hit runs no header job and samples nothing.

    Returns (typed DataFrame, display names, dialect type per column).
    """
    reader = (
        spark.read.option("header", "false" if noheader else "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("sep", sep)
        .option("multiLine", "true" if multiline else "false")
        .option("mode", "PERMISSIVE")
    )

    def infer() -> tuple[Shape, list[Column]]:
        raw = reader.csv(path)
        if noheader:
            raw = raw.toDF(*[f"col{i + 1}" for i in range(len(raw.columns))])
        shape = infer_shape(raw, epoch_promotion)
        return shape, typed_projection(shape)

    shape, projection = (cache or SourceCache()).lookup(
        path, ("csv", noheader, multiline, sep, epoch_promotion), infer
    )
    raw = reader.schema(
        T.StructType([T.StructField(n, T.StringType()) for n in shape.names])
    ).csv(path)
    # copies: a cached shape is shared by every later read
    return raw.select(*projection), list(shape.names), list(shape.types)
