"""JSONL (newline-delimited JSON) source — the interchange format
of LLM training-data pipelines (one document object per line).

Scale design:
- **Bounded schema inference, once per file version.** ``spark.read.json``
  with no schema samples the WHOLE input to infer one (an extra full pass
  — at 100 TB that is the single most expensive mistake a pipeline can
  make with this format). ``read_jsonl`` infers from the first
  ``sample_lines`` lines only (one bounded driver-side read of the first
  file) into its ``cache`` (``sources/cache.py``), then applies that
  schema to the full scan. Pass ``schema=`` explicitly to skip inference
  entirely — the right call for production datasets with a contract.
- **Corrupt-line tolerance.** mode=PERMISSIVE with a ``_corrupt_record``
  column (selectable via ``keep_corrupt=True``) — a crawl shard with a few
  broken lines must not kill a 1000-executor job.
- **Compression-aware**: .gz/.zst shards decode transparently via Spark's
  codec registry, but gzip is NOT splittable — one giant .gz file is one
  task. Shard inputs (many files) rather than concatenating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from csvtool_spark.sources.cache import SourceCache

CORRUPT_COL = "_corrupt_record"


def infer_jsonl_schema(
    spark: SparkSession, path: str, sample_lines: int = 10_000
) -> T.StructType:
    """Infer a schema from the first ``sample_lines`` lines — a bounded
    text read (Spark stops the collect at the limit; with a multi-file
    glob only leading file(s) are touched), never a full-data pass."""
    lines = [r.value for r in spark.read.text(path).limit(sample_lines).collect()]
    if not lines:
        return T.StructType([])
    return spark.read.json(spark.sparkContext.parallelize(lines)).schema


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sample_lines: int = 10_000,
    keep_corrupt: bool = False,
    cache: SourceCache | None = None,
) -> DataFrame:
    """Read newline-delimited JSON with a bounded-inference or explicit
    schema (see module doc); without a ``cache`` every call infers."""
    if schema is None:
        schema = (cache or SourceCache()).lookup(
            path, ("json", sample_lines),
            lambda: infer_jsonl_schema(spark, path, sample_lines),
        )
    if keep_corrupt and CORRUPT_COL not in schema.fieldNames():
        # a new struct: ``add`` would grow a cached schema in place
        schema = T.StructType([*schema, T.StructField(CORRUPT_COL, T.StringType())])
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    if not keep_corrupt and CORRUPT_COL in df.columns:
        df = df.drop(CORRUPT_COL)
    return df

