"""CsvEngine — the user-facing entry point for the csvtool dialect.

    eng = CsvEngine(spark)
    df = eng.sql("select c1 c2 from '/data/file.csv' where c1 > 5")
    for df in eng.run("select ... ; select ..."):   # multi-statement
        ...

Tables come from these places (superset of the reference, which only
accepts ``.csv`` paths — utils.go:508,531):
- CSV / TSV paths (quoted or bare, ``~`` expanded) → sampling schema
  inference (sources/csv.py; tab separator for ``.tsv``);
- parquet / ORC paths (engine extensions — both columnar formats Spark
  ships natively, typed straight from the file footer);
- JSONL paths with bounded inference (sources/jsonl.py);
- raw ``.txt`` lines (one-document-per-line corpus ingest, single
  ``line`` column);
- names registered via ``register(name, df)`` (engine extension) — dialect
  types derived from the Spark schema.
"""

from __future__ import annotations

import os

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
from csvtool_spark.sources.csv import read_csv


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


class CsvEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._registry: dict[str, DataFrame] = {}

    def register(self, name: str, df: DataFrame) -> None:
        self._registry[name] = df

    def register_dir(self, sf_dir: str, names: list[str]) -> None:
        from csvtool_spark.sources.parquet import read_table

        for n in names:
            self.register(n, read_table(self.spark, sf_dir, n))

    # --- table resolution -------------------------------------------------

    def _load(self, ref: ast.FileRef) -> tuple[DataFrame, list[str], list[int]]:
        path = os.path.expanduser(ref.path)
        if ref.path in self._registry:
            df = self._registry[ref.path]
            names = list(df.columns)
            types = [_dialect_type(f.dataType) for f in df.schema.fields]
            return df, names, types
        # Shard globs ('shards/*.csv') read as ONE table — the multi-file
        # scan a single-process engine cannot do; Spark lists and splits
        # the matches. The existence check becomes "glob matches something
        # OR the literal name exists" (a file literally named 'data[1].csv'
        # must not be rejected because '[' looks like a glob); an empty
        # pattern still fails with a clear error. Hadoop brace globs
        # ('{a,b}') are not recognized here.
        def _missing(p: str) -> bool:
            import glob as _glob

            if any(ch in p for ch in "*?["):
                return not _glob.glob(p) and not os.path.exists(p)
            return not os.path.exists(p)

        # extension dispatch is CASE-INSENSITIVE (OUT.ORC written by the
        # sink's lowered dispatch must read back — round-10 review);
        # `low` is for matching only, every read uses the original path
        low = path.lower()
        if low.endswith((".parquet", ".orc")):
            # columnar self-describing formats Spark ships natively —
            # same typed-schema lane (engine extension; the reference
            # reads CSV only, files.go). Same clean missing-path error
            # as the line formats instead of a raw AnalysisException.
            if _missing(path):
                raise SemanticError(f"cannot open file {ref.path}")
            reader = (
                self.spark.read.parquet
                if low.endswith(".parquet")
                else self.spark.read.orc
            )
            df = reader(path)
            names = list(df.columns)
            types = [_dialect_type(f.dataType) for f in df.schema.fields]
            return df, names, types
        # Spark's text-based readers decompress by file extension —
        # ONLY for codecs this distribution actually ships (gzip, bzip2,
        # deflate). zstd/xz are deliberately not listed: without their
        # Hadoop codecs the reader would return raw compressed bytes as
        # garbage rows instead of erroring.
        base = low
        for codec_ext in (".gz", ".bz2", ".deflate"):
            if base.endswith(codec_ext):
                base = base[: -len(codec_ext)]
                break
        if base != low and base.endswith((".parquet", ".orc")):
            # data.parquet.gz slipped past the columnar check above and
            # would otherwise fall through every line-format branch to
            # the generic unknown-file error (round-10 advice): columnar
            # files are internally compressed — no codec suffix lane
            raise SemanticError(
                f"cannot open file {ref.path}: .parquet/.orc files are "
                f"internally compressed and take no .gz/.bz2/.deflate "
                f"suffix — drop the codec suffix"
            )
        if base.endswith((".jsonl", ".ndjson", ".json")):
            from csvtool_spark.sources.jsonl import read_jsonl

            if _missing(path):
                raise SemanticError(f"cannot open file {ref.path}")
            df = read_jsonl(self.spark, path)
            names = list(df.columns)
            types = [_dialect_type(f.dataType) for f in df.schema.fields]
            return df, names, types
        if base.endswith((".csv", ".tsv")):
            # .tsv rides the SAME inference lane with a tab separator
            # (engine extension; the reference is comma-only)
            if _missing(path):
                raise SemanticError(f"cannot open file {ref.path}")
            return read_csv(
                self.spark, path, noheader=ref.noheader,
                multiline=ref.multiline,
                sep="\t" if base.endswith(".tsv") else ",",
            )
        if base.endswith(".txt"):
            # raw line-oriented text (engine extension): one row per
            # line, single string column ``line`` — the ingest shape for
            # one-document-per-line LLM corpora, feeding the curation
            # pipe directly ("select line as text from 'corpus.txt' |>
            # ..."). Spark's text reader splits and decompresses like
            # the other line formats.
            if _missing(path):
                raise SemanticError(f"cannot open file {ref.path}")
            df = self.spark.read.text(path).withColumnRenamed("value", "line")
            return df, ["line"], [T_STRING]
        raise SemanticError(f"unknown table or file {ref.path!r}")

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
            for i, df in enumerate(self.run(text)):
                path = out_dir if i == 0 else f"{out_dir}-{i + 1}"
                for f in df.schema.fields:
                    if isinstance(f.dataType, T.DayTimeIntervalType):
                        df = df.withColumn(f.name, F.col(f.name).cast("string"))
                w = df.write.mode("overwrite").option("header", True)
                if partition_by:
                    w = w.partitionBy(*partition_by)
                w.csv(path)
                written.append(path)
        return written

    def save_parquet(
        self, text: str, out_dir: str, partition_by: list[str] | None = None
    ) -> list[str]:
        """Columnar sink (engine extension — the reference only writes
        CSV): parquet by default, ORC when ``out_dir`` ends in ``.orc``
        (the same extension dispatch the read side uses, so a written
        path is always readable back). Multi-statement -N suffixes go
        BEFORE the extension (``out-2.parquet``, mirroring
        ``save_csv``)."""
        # same rejection lane as write_single_result (round-13 ADVICE:
        # this sink's old check only caught x.parquet.gz/x.orc.gz, so
        # save_parquet('out.csv.gz') or 'out.gz' wrote a parquet
        # directory under a name _load strips to .csv/unknown and can
        # never read back — the mangled-round-trip class)
        _stem0, ext0, codec0 = split_sink_name(out_dir)
        if codec0:
            if ext0.lower() in (".parquet", ".orc"):
                # x.orc.gz keeps its TARGETED message
                raise SemanticError(
                    f"cannot save {out_dir}: .parquet/.orc are "
                    f"internally compressed and take no codec suffix — "
                    f"drop it"
                )
            raise SemanticError(
                f"cannot save {out_dir}: columnar sinks take no codec "
                f"suffix (.parquet/.orc are internally compressed) — "
                f"use save_csv for codec'd line formats"
            )
        if ext0.lower() in (
            ".csv", ".tsv", ".txt", ".jsonl", ".ndjson", ".json"
        ):
            # a parquet DIRECTORY under a line-format name re-reads
            # through the wrong lane — reject, mirroring the read side
            raise SemanticError(
                f"cannot save {out_dir}: {ext0} is a line format — "
                f"save_parquet writes .parquet/.orc directories; use "
                f"save_csv/save_csv_dir for line formats"
            )
        stem, ext = os.path.splitext(out_dir)
        written = []
        with persist_scope():
            for i, df in enumerate(self.run(text)):
                path = out_dir if i == 0 else f"{stem}-{i + 1}{ext}"
                w = df.write.mode("overwrite")
                if partition_by:
                    w = w.partitionBy(*partition_by)
                if ext.lower() == ".orc":
                    w.orc(path)
                else:
                    w.parquet(path)
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
        """Run statements and write each result as ONE delimited file;
        multi-query outputs get -N suffixes before the extension
        (files.go:85-156). The separator follows the extension so the
        written path always reads back through ``_load``'s dispatch
        (round-10 review: a comma-separated body under a ``.tsv`` name
        re-parsed as one mangled column): ``.tsv`` writes
        tab-separated, ``.txt`` writes RAW LINES (single string column
        required — no header, the one-doc-per-line ingest shape),
        ``.parquet``/``.orc`` delegate to the native columnar directory
        sink, anything else the reference's comma CSV (dispatch lives in
        ``write_single_result`` — one shared lane with the GUI save)."""
        # a bare name (no extension) gets '.csv' appended in EVERY
        # branch — the reference's pathChecker rule (files.go:173-178),
        # applied here too because the CLI's -o lane calls save_csv
        # directly without the server's check_save_path (round-11
        # second review: '-o out' wrote an extensionless file for one
        # statement but out-1.csv/out-2.csv for two)
        base = out_path
        _stem, ext, codec = split_sink_name(out_path)
        if not ext and not codec:
            base = out_path + ".csv"
        written = []
        with persist_scope():
            results = self.run(text)
            for i, df in enumerate(results):
                p = numbered_sink_path(base, i, len(results))
                write_single_result(df, p)
                written.append(p)
        return written


#: write-side codec map — the same three codecs ``_load`` strips on read,
#: so every name this dispatch accepts reads back through the same lane
_WRITE_CODECS = {".gz": "gzip", ".bz2": "bzip2", ".deflate": "deflate"}


def split_sink_name(path: str) -> tuple[str, str, str]:
    """``(stem, format_ext, codec_ext)`` for a sink path — codec-AWARE:
    ``out.jsonl.gz`` → ``('out', '.jsonl', '.gz')``. A naive splitext
    would put a multi-statement -N suffix between ``.jsonl`` and ``.gz``
    (``out.jsonl-2.gz``), a name neither dispatch can ever read back
    (round-11 review)."""
    codec = ""
    base = path
    for cext in _WRITE_CODECS:
        if path.lower().endswith(cext):
            codec = path[-len(cext):]
            base = path[: -len(cext)]
            break
    stem, ext = os.path.splitext(base)
    return stem, ext, codec


def numbered_sink_path(path: str, i: int, n: int) -> str:
    """The sink path for statement ``i`` of ``n`` (0-based): a single
    statement keeps the requested name; multiple statements ALL get -N
    suffixes (-1, -2, ... — files.go:85-156), inserted before the FORMAT
    extension with any codec suffix kept outermost — ``out.jsonl.gz`` →
    ``out-2.jsonl.gz``, never ``out.jsonl-2.gz`` (round-11 review)."""
    if n == 1:
        return path
    stem, ext, codec = split_sink_name(path)
    return f"{stem}-{i + 1}{ext}{codec}"


def write_single_result(df: DataFrame, path: str) -> None:
    """THE extension dispatch for writing one result to one user-named
    path — shared by ``CsvEngine.save_csv`` and the GUI save flow
    (server.query_response), so a saved name always reads back through
    ``_load``'s read-side dispatch (round-10/11 reviews: two divergent
    dispatches produced comma bodies under ``.tsv`` names):

    - ``.txt``    → raw lines (``write_single_text``, 1 string column)
    - ``.tsv``    → tab-separated single file
    - ``.jsonl``/``.ndjson``/``.json`` → JSON lines (explicit nulls, so
      an all-null column round-trips instead of vanishing)
    - ``.parquet``/``.orc`` → native columnar DIRECTORY sink (delegated
      to Spark; columnar data has no single-file text shape)
    - anything else → the reference's comma CSV (files.go:85-156)

    A trailing ``.gz``/``.bz2``/``.deflate`` on any LINE format writes
    that codec (out.csv.gz is a real gzip body — a plain-text body under
    a codec name would re-read as garbage, the same mangled-round-trip
    class the .tsv fix closed); columnar names reject codec suffixes
    exactly like the read side.
    """
    _stem, ext, codec_ext = split_sink_name(path)
    ext = ext.lower()
    codec = _WRITE_CODECS[codec_ext.lower()] if codec_ext else None
    if codec and ext in (".parquet", ".orc"):
        # columnar + codec keeps its TARGETED message (checked before
        # the line-format allowlist below, which would misadvise
        # switching a parquet sink to CSV — round-12 review)
        raise SemanticError(
            f"cannot save {path}: .parquet/.orc files are internally "
            f"compressed and take no codec suffix — drop it"
        )
    if codec and ext not in (
        ".csv", ".tsv", ".txt", ".jsonl", ".ndjson", ".json"
    ):
        # 'out.gz' (no format) or 'out.tar.gz' (unknown format under the
        # codec) — either would write bytes _load can never dispatch (it
        # strips the codec and finds no known format lane); reject
        # instead of silently writing unreadable data
        raise SemanticError(
            f"cannot save {path}: a codec suffix needs a known line "
            f"format before it (out.csv.gz, out.tsv.gz, out.txt.gz, "
            f"out.jsonl.gz, ...)"
        )
    if ext in (".parquet", ".orc"):
        w = df.write.mode("overwrite")
        (w.parquet if ext == ".parquet" else w.orc)(path)
    elif ext == ".txt":
        write_single_text(df, path, codec=codec)
    elif ext in (".jsonl", ".ndjson", ".json"):
        write_single_jsonl(df, path, codec=codec)
    else:
        write_single_csv(
            df, path, sep="\t" if ext == ".tsv" else ",", codec=codec
        )


def _copy_single_part(tmp_dir: str, path: str) -> None:
    """Copy the one part file Spark wrote under ``tmp_dir`` to ``path``
    (codec suffixes vary, so match any part-* data file)."""
    import glob
    import shutil

    parts = [
        p for p in glob.glob(f"{tmp_dir}/part-*")
        if not p.endswith(".crc")
    ]
    if not parts:
        # a zero-partition plan can leave no part-* file at all — surface
        # a real error, not an IndexError (round-12 ADVICE)
        raise SemanticError(
            f"cannot save {path}: Spark produced no output part file "
            f"(empty zero-partition result)"
        )
    shutil.copy(parts[0], path)


def write_single_csv(
    df: DataFrame, path: str, sep: str = ",", codec: str | None = None
) -> None:
    """Single-file CSV/TSV sink. coalesce(1) matches the reference's
    one-file contract for interactive use; large extracts should use
    ``df.write.csv(dir)`` (one file per partition) instead."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="csvsink_")
    try:
        out = df
        for f in df.schema.fields:
            if isinstance(f.dataType, T.DayTimeIntervalType):
                out = out.withColumn(f.name, F.col(f.name).cast("string"))
        w = out.coalesce(1).write.mode("overwrite").option(
            "header", True
        ).option("sep", sep)
        if codec:
            w = w.option("compression", codec)
        w.csv(f"{tmp}/out")
        _copy_single_part(f"{tmp}/out", path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_single_jsonl(
    df: DataFrame, path: str, codec: str | None = None
) -> None:
    """Single-file JSON-lines sink — the inverse of ``_load``'s .jsonl
    lane. Nulls are written EXPLICITLY (ignoreNullFields=false): Spark's
    default omits null fields, and a column that happens to be all-null
    in this result would otherwise vanish from the file entirely."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="jsonsink_")
    try:
        out = df
        for f in df.schema.fields:
            if isinstance(f.dataType, T.DayTimeIntervalType):
                out = out.withColumn(f.name, F.col(f.name).cast("string"))
        w = out.coalesce(1).write.mode("overwrite").option(
            "ignoreNullFields", False
        )
        if codec:
            w = w.option("compression", codec)
        w.json(f"{tmp}/out")
        _copy_single_part(f"{tmp}/out", path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_single_text(
    df: DataFrame, path: str, codec: str | None = None
) -> None:
    """Single-file raw-line sink for ``.txt`` outputs: exactly one
    string-typed column, one value per line, NO header — the inverse of
    ``_load``'s one-doc-per-line ingest. Round-trip caveats (the format
    has no escaping, so these are inherent to raw lines, not bugs):
    NULL is written as an empty line and reads back as ``""``, and a
    value containing an embedded newline splits into multiple rows on
    re-read — results needing exact NULL/newline fidelity must pick
    ``.csv``/``.tsv`` (quoted) or a columnar extension. Multi-column
    results must pick a delimited extension instead (a CSV body under a
    .txt name would re-read as mangled raw lines — round-10 review)."""
    import shutil
    import tempfile

    if len(df.columns) != 1:
        raise SemanticError(
            f".txt writes one string column as raw lines; this result has "
            f"{len(df.columns)} columns ({', '.join(df.columns)}) — use "
            f".csv/.tsv/.parquet/.orc instead"
        )
    tmp = tempfile.mkdtemp(prefix="txtsink_")
    try:
        # NULL -> empty line (the text writer rejects nulls)
        out = df.select(
            F.coalesce(
                F.col(df.columns[0]).cast("string"), F.lit("")
            ).alias("value")
        )
        w = out.coalesce(1).write.mode("overwrite")
        if codec:
            w = w.option("compression", codec)
        w.text(f"{tmp}/out")
        _copy_single_part(f"{tmp}/out", path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
