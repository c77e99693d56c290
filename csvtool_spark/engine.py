"""CsvEngine — the user-facing entry point for the csvtool dialect.

    eng = CsvEngine(spark)
    df = eng.sql("select c1 c2 from '/data/file.csv' where c1 > 5")
    for df in eng.run("select ... ; select ..."):   # multi-statement
        ...

Tables come from these places (superset of the reference, which only
accepts ``.csv`` paths — utils.go:508,531):
- file paths (quoted or bare, ``~`` expanded, shard globs allowed), read
  by the format table ``FORMATS``: CSV / TSV through sampling schema
  inference (sources/csv.py), JSONL with bounded inference
  (sources/jsonl.py), raw text lines as one ``line`` column, and parquet
  / ORC typed from the file footer, each inferred once per file version
  (sources/cache.py); line formats may carry a ``CODECS`` suffix;
- names registered via ``register(name, df)`` (engine extension) — dialect
  types derived from the Spark schema.

The same table drives the sinks: ``write_single_result`` (behind
``save_csv``, the CLI's ``-o`` and the GUI save), ``save_parquet``'s
name check and the server's file browser, so every name a sink writes
reads back and shows in the browser."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csvtool_spark.dialect import ast
from csvtool_spark.dialect.compiler import Compiler
from csvtool_spark.dialect.errors import SemanticError
from csvtool_spark.dialect.parser import parse
from csvtool_spark.dialect.typecheck import Env, FileSchema, check_query
from csvtool_spark.dialect.types import (
    T_DATE,
    T_DURATION,
    T_FLOAT,
    T_INT,
    T_STRING,
)
from csvtool_spark.functions.caching import persist_scope
from csvtool_spark.sources.cache import SourceCache
from csvtool_spark.sources.csv import read_csv
from csvtool_spark.sources.parquet import read_columnar, read_table


def _dialect_type(dt: T.DataType) -> int:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return T_INT
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return T_FLOAT
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return T_DATE
    if isinstance(dt, T.DayTimeIntervalType):
        return T_DURATION
    return T_STRING


# --- the format table -----------------------------------------------------


class Format(NamedTuple):
    """One row of the format table. ``spark`` names the DataFrameReader
    and DataFrameWriter method, ``options`` the writer options (the CSV
    reader takes ``sep`` too). A columnar format is read and written as a
    Spark directory, a line format as one file."""

    spark: str
    options: dict = {}
    columnar: bool = False


_JSON_LINES = Format("json", {"ignoreNullFields": False})

#: the extension a bare sink name gets, and the format of a sink name the
#: table does not know — the reference's comma CSV (files.go:85-178)
DEFAULT_EXT = ".csv"

#: THE file-format table: the only code that knows file extensions.
#: ``_load`` reads through it, ``write_single_result`` writes through it,
#: ``save_parquet`` checks its names against it, and the server's file
#: browser lists what it reads. Every row but CSV is an engine extension
#: (the reference reads and writes CSV only, files.go).
FORMATS = {
    DEFAULT_EXT: Format("csv", {"header": True, "sep": ","}),
    ".tsv": Format("csv", {"header": True, "sep": "\t"}),
    # raw lines: one string column named ``line``, no header
    ".txt": Format("text"),
    # explicit nulls: Spark's default omits null fields, and a column that
    # is all-null in one result would vanish from the file
    ".jsonl": _JSON_LINES,
    ".ndjson": _JSON_LINES,
    ".json": _JSON_LINES,
    # internally compressed, so they take no codec suffix
    ".parquet": Format("parquet", columnar=True),
    ".orc": Format("orc", columnar=True),
}

#: codec suffix -> Spark compression name, for the line formats. Only
#: the codecs this distribution ships: without its Hadoop codec a zstd
#: or xz file would read back as raw compressed bytes, not an error.
CODECS = {".gz": "gzip", ".bz2": "bzip2", ".deflate": "deflate"}


def _exts(columnar: bool) -> str:
    return "/".join(e for e, f in FORMATS.items() if f.columnar == columnar)


def split_sink_name(path: str) -> tuple[str, str, str]:
    """``(stem, format_ext, codec_ext)`` for a file name — codec-AWARE:
    ``out.jsonl.gz`` → ``('out', '.jsonl', '.gz')``, where a naive
    splitext would number it ``out.jsonl-2.gz``, a name no dispatch
    reads back."""
    codec = ""
    base = path
    for cext in CODECS:
        if path.lower().endswith(cext):
            codec = path[-len(cext):]
            base = path[: -len(cext)]
            break
    stem, ext = os.path.splitext(base)
    return stem, ext, codec


def file_format(path: str, verb: str) -> tuple[Format | None, str | None]:
    """``(format, Spark codec)`` for a file name by the table, matched
    case-insensitively; the format is None when the extension is not in
    the table. A codec suffix over a columnar or an unknown format names
    a file no lane can round-trip, so it raises ``cannot {verb} …``."""
    _stem, ext, codec = split_sink_name(path)
    fmt = FORMATS.get(ext.lower())
    if codec and fmt is None:
        raise SemanticError(
            f"cannot {verb} {path}: a codec suffix needs a known line "
            f"format before it ({_exts(columnar=False)})"
        )
    if codec and fmt.columnar:
        raise SemanticError(
            f"cannot {verb} {path}: {_exts(columnar=True)} files are "
            f"internally compressed and take no {'/'.join(CODECS)} codec "
            f"suffix — drop it"
        )
    return fmt, CODECS.get(codec.lower())


def table_format(name: str) -> Format | None:
    """The format ``_load`` reads ``name`` as, or None."""
    try:
        return file_format(name, "open file")[0]
    except SemanticError:
        return None


def sink_path(path: str) -> str:
    """The name rule of every single-file sink (``save_csv``, so CLI
    ``-o``, and the GUI save) — the reference's pathChecker
    (files.go:158-178) without its parent-directory check, which stays
    with the server. ``~`` expands. A trailing slash or an existing
    directory is valid only for a columnar name, which Spark writes as a
    directory (re-saving over your own ``out.parquet`` overwrites it). A
    bare name gets ``DEFAULT_EXT``."""
    full = os.path.expanduser(path)
    p = full.rstrip("/")
    fmt = table_format(p)
    if (p != full or os.path.isdir(p)) and not (fmt and fmt.columnar):
        raise SemanticError(
            f"Invalid path: {path} (directory, need a file name)"
        )
    _stem, ext, codec = split_sink_name(p)
    return p if ext or codec else p + DEFAULT_EXT


def numbered_sink_path(path: str, i: int, n: int) -> str:
    """The sink path for statement ``i`` of ``n`` (0-based): a single
    statement keeps the requested name; multiple statements ALL get -N
    suffixes (-1, -2, ... — files.go:85-156), inserted before the FORMAT
    extension with any codec suffix kept outermost — ``out.jsonl.gz`` →
    ``out-2.jsonl.gz``. Every sink numbers its outputs this way."""
    if n == 1:
        return path
    stem, ext, codec = split_sink_name(path)
    return f"{stem}-{i + 1}{ext}{codec}"


def _typed(df: DataFrame) -> tuple[DataFrame, list[str], list[int]]:
    types = [_dialect_type(f.dataType) for f in df.schema.fields]
    return df, list(df.columns), types


class CsvEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._registry: dict[str, DataFrame] = {}
        #: what each reader inferred, per file version
        self._sources = SourceCache()

    def register(self, name: str, df: DataFrame) -> None:
        self._registry[name] = df

    def register_dir(self, sf_dir: str, names: list[str]) -> None:
        for n in names:
            self.register(n, read_table(self.spark, sf_dir, n))

    # --- table resolution -------------------------------------------------

    def _load(self, ref: ast.FileRef) -> tuple[DataFrame, list[str], list[int]]:
        if ref.path in self._registry:
            return _typed(self._registry[ref.path])
        # the format table's read dispatch: the name is matched
        # case-insensitively, every read uses the original path, and
        # Spark's line readers decompress by the codec suffix
        path = os.path.expanduser(ref.path)
        fmt, _codec = file_format(path, "open file")
        if fmt is None:
            raise SemanticError(f"unknown table or file {ref.path!r}")
        # Shard globs ('shards/*.csv') read as ONE table, which Spark lists
        # and splits. A path exists if the literal name does (a file named
        # 'data[1].csv') or its glob matches something; an empty pattern
        # fails here. Hadoop brace globs ('{a,b}') are not recognized.
        if not os.path.exists(path) and not glob.glob(path):
            raise SemanticError(f"cannot open file {ref.path}")
        if fmt.spark == "csv":
            return read_csv(
                self.spark, path, noheader=ref.noheader,
                multiline=ref.multiline, sep=fmt.options["sep"],
                cache=self._sources,
            )
        if fmt.spark == "json":
            from csvtool_spark.sources.jsonl import read_jsonl

            return _typed(read_jsonl(self.spark, path, cache=self._sources))
        if fmt.spark == "text":
            # one row per line, single string column ``line`` — the
            # one-document-per-line corpus shape the curation pipe ingests
            return _typed(
                self.spark.read.text(path).withColumnRenamed("value", "line")
            )
        # columnar formats are typed straight from the file footer
        return _typed(read_columnar(self.spark, path, fmt.spark, self._sources))

    # --- query execution --------------------------------------------------

    def sql(self, text: str) -> DataFrame:
        q = parse(text)
        env = Env()
        if "nh" in q.options:
            q.base.noheader = True
            for j in q.joins:
                j.file.noheader = True

        dfs: dict[str, DataFrame] = {}
        refs = [q.base] + [j.file for j in q.joins]
        for ref in refs:
            df, names, types = self._load(ref)
            internal = [f"{ref.key}__{i}" for i in range(len(names))]
            dfs[ref.key] = df.toDF(*internal)
            schema = FileSchema(
                key=ref.key, alias=ref.alias, display=names,
                internal=internal, types=types,
            )
            env.files.append(schema)
            env.by_alias[ref.key] = schema
            if ref.alias:
                env.by_alias[ref.alias] = schema
            base = os.path.basename(ref.path)
            env.by_alias.setdefault(base, schema)
            env.by_alias.setdefault(os.path.splitext(base)[0], schema)

        checked = check_query(q, env)
        df = Compiler(checked, dfs).compile()
        if q.pipeline:
            # curation pipe (engine extension): '|>'-chained stages apply
            # the LLM-corpus operators to the finished result
            from csvtool_spark.dialect.stages import apply_stages

            df = apply_stages(df, q.pipeline, engine=self)
        return df

    def resolve_table(self, name: str) -> DataFrame:
        """A registered table or a readable file path as a DataFrame with
        its ORIGINAL column names — the table-resolution surface for pipe
        stages that reference a second relation (``decontaminate(...,
        ref=t)``)."""
        df, _names, _types = self._load(ast.FileRef(path=name))
        return df

    def run(self, text: str) -> list[DataFrame]:
        """;-separated multi-statement execution (main.go:117-147)."""
        return [self.sql(s) for s in text.split(";") if s.strip()]

    # --- sinks ------------------------------------------------------------

    def save_csv_dir(
        self, text: str, out_dir: str, partition_by: list[str] | None = None
    ) -> list[str]:
        """Distributed CSV sink: one DIRECTORY per statement (one file per
        partition — the scale path; ``save_csv`` is the single-file
        interactive path). ``partition_by`` adds hive-style partitioning."""
        written = []
        with persist_scope():
            results = self.run(text)
            for i, df in enumerate(results):
                path = numbered_sink_path(out_dir, i, len(results))
                w = _intervals_as_strings(df).write.mode("overwrite").option(
                    "header", True
                )
                if partition_by:
                    w = w.partitionBy(*partition_by)
                w.csv(path)
                written.append(path)
        return written

    def save_parquet(
        self, text: str, out_dir: str, partition_by: list[str] | None = None
    ) -> list[str]:
        """Columnar sink (engine extension — the reference only writes
        CSV): one Spark directory per statement, in the columnar format
        the format table gives the name (parquet for a name it does not
        know), so a written path always reads back."""
        _stem, ext, codec = split_sink_name(out_dir)
        fmt = FORMATS.get(ext.lower())
        if codec or (fmt and not fmt.columnar):
            raise SemanticError(
                f"cannot save {out_dir}: save_parquet writes "
                f"{_exts(columnar=True)} directories, which are internally "
                f"compressed and take no codec suffix; line formats go "
                f"through save_csv"
            )
        written = []
        with persist_scope():
            results = self.run(text)
            for i, df in enumerate(results):
                path = numbered_sink_path(out_dir, i, len(results))
                w = df.write.mode("overwrite")
                if partition_by:
                    w = w.partitionBy(*partition_by)
                getattr(w, fmt.spark if fmt else "parquet")(path)
                written.append(path)
        return written

    def to_json(self, text: str, limit: int | None = None) -> list[list[str]]:
        """JSON result surface (reference marshals results to the GUI,
        server.go:112-157): one list of JSON-object strings per statement.

        ``limit`` caps rows per statement; the DEFAULT (None) applies the
        reference's display clip of ``20000 / num_cols`` rows
        (evaluator.go:27) — this method collects to the driver, so an
        unbounded default would invite a driver OOM on a big result. Pass
        ``limit=0`` to explicitly request every row (caller owns the
        memory), or any positive cap."""
        out = []
        with persist_scope():
            for df in self.run(text):
                eff = limit
                if eff is None:
                    eff = max(1, 20000 // max(1, len(df.columns)))
                if eff > 0:
                    df = df.limit(eff)
                out.append(df.toJSON().collect())
        return out

    def save_csv(self, text: str, out_path: str) -> list[str]:
        """Run statements and write each result through
        ``write_single_result`` — the single-file sink the CLI's ``-o``
        and the GUI save share. The name follows ``sink_path``;
        multi-statement outputs get -N suffixes before the extension
        (files.go:85-156)."""
        base = sink_path(out_path)
        written = []
        with persist_scope():
            results = self.run(text)
            for i, df in enumerate(results):
                p = numbered_sink_path(base, i, len(results))
                write_single_result(df, p)
                written.append(p)
        return written


def write_single_result(df: DataFrame, path: str) -> None:
    """Write one result to one user-named path through the format table,
    so a saved name always reads back through ``_load``. A columnar name
    writes Spark's directory. A line format writes ONE file (coalesce(1),
    the reference's one-file contract for interactive use; large
    extracts go through ``save_csv_dir``), compressed when the name has
    a codec suffix. A name the table does not know gets the reference's
    comma CSV (files.go:85-156)."""
    fmt, codec = file_format(path, "save")
    fmt = fmt or FORMATS[DEFAULT_EXT]
    if fmt.columnar:
        getattr(df.write.mode("overwrite"), fmt.spark)(path)
        return
    if fmt.spark == "text":
        out = _raw_lines(df, path)
    else:
        out = _intervals_as_strings(df)
    tmp = tempfile.mkdtemp(prefix="csvsink_")
    try:
        w = out.coalesce(1).write.mode("overwrite").options(**fmt.options)
        if codec:
            w = w.option("compression", codec)
        getattr(w, fmt.spark)(f"{tmp}/out")
        _copy_single_part(f"{tmp}/out", path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _intervals_as_strings(df: DataFrame) -> DataFrame:
    """Dialect durations (day-time intervals) as their string form, the
    shape the text sinks write."""
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DayTimeIntervalType):
            df = df.withColumn(f.name, F.col(f.name).cast("string"))
    return df


def _raw_lines(df: DataFrame, path: str) -> DataFrame:
    """The raw-line shape: exactly one string-typed column, one value per
    line, NO header — the inverse of ``_load``'s one-doc-per-line ingest.
    Round-trip caveats (the format has no escaping, so these are inherent
    to raw lines, not bugs): NULL is written as an empty line and reads
    back as ``""``, and a value containing an embedded newline splits
    into multiple rows on re-read — results needing exact NULL/newline
    fidelity must pick a delimited or columnar format. A multi-column
    result is an error, because a delimited body would re-read as
    mangled raw lines."""
    if len(df.columns) != 1:
        raise SemanticError(
            f"cannot save {path}: raw lines hold one string column; this "
            f"result has {len(df.columns)} columns ({', '.join(df.columns)})"
            f" — use a delimited or columnar format instead"
        )
    # NULL -> empty line (the text writer rejects nulls)
    return df.select(
        F.coalesce(F.col(df.columns[0]).cast("string"), F.lit("")).alias("value")
    )


def _copy_single_part(tmp_dir: str, path: str) -> None:
    """Copy the one part file Spark wrote under ``tmp_dir`` to ``path``
    (codec suffixes vary, so match any part-* data file)."""
    parts = [
        p for p in glob.glob(f"{tmp_dir}/part-*")
        if not p.endswith(".crc")
    ]
    if not parts:
        # a zero-partition plan can leave no part-* file at all
        raise SemanticError(
            f"cannot save {path}: Spark produced no output part file "
            f"(empty zero-partition result)"
        )
    shutil.copy(parts[0], path)
