"""Sequence packing: concatenate documents in a deterministic order and
chunk the token stream into fixed-budget training sequences (the GPT-style
"concat-and-chunk" batching step of an LLM data pipeline).

Every document needs its global token offset — a prefix sum over the
document order. A naive ``Window.orderBy(id)`` prefix sum collapses the
whole corpus into ONE partition (the same scale bug the dialect's
``inc()`` avoids); this operator uses the standard two-phase scan instead:

1. range-repartition by id and prefix-sum WITHIN each partition (a
   bounded window);
2. collect one row per partition (the partition token totals — a few
   thousand longs at any scale), turn the running totals into per-partition
   offsets, and broadcast-join them back.

The result is partitioning-independent: any range partitioning yields the
same global offsets, so determinism comes from the math, not the sampler.
The per-partition frame is persisted so the totals job and the main job
see the SAME shuffle output (range boundaries are sampled per job
otherwise).

A document that straddles a sequence boundary is split: one output row per
(document, sequence) span with the in-sequence offset and token count —
exactly what a loader needs to materialize packed sequences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from csvtool_spark.functions import caching


def pack_sequences(
    df: DataFrame, id_col: str, n_tokens_col: str, budget: int
) -> DataFrame:
    """Assign documents (ordered by ``id_col``) to fixed-``budget`` token
    sequences. Returns one row per (document, sequence) span:
    (id, seq_id, seq_offset, n_tok) where ``seq_offset`` is the span's
    start position inside the sequence. Zero-token documents land in the
    sequence that starts at their offset with n_tok = 0."""
    b = int(budget)
    if b <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    d = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(n_tokens_col).cast("long").alias("__n"),
        )
        .repartitionByRange("__id")
        .withColumn("__part", F.spark_partition_id())
    )
    w = Window.partitionBy("__part").orderBy("__id")
    d = caching.persist(d.withColumn("__local_end", F.sum("__n").over(w)))

    totals = sorted(
        d.groupBy("__part").agg(F.sum("__n").alias("__t")).collect(),
        key=lambda r: r["__part"],
    )
    offsets, acc = [], 0
    for r in totals:
        offsets.append((r["__part"], acc))
        acc += r["__t"] or 0
    spark = df.sparkSession
    if offsets:
        off = spark.createDataFrame(offsets, "__part int, __off long")
    else:
        off = spark.createDataFrame([], "__part int, __off long")

    start = F.col("__off") + F.col("__local_end") - F.col("__n")
    staged = d.join(F.broadcast(off), "__part").select(
        F.col("__id").alias(id_col),
        start.alias("__start"),
        (start + F.col("__n")).alias("__end"),
    )
    # `div` (integer division) keeps offsets exact past 2^53 tokens, where
    # a floor(double/double) formulation would round; offsets are
    # non-negative so truncation == floor.
    first_seq = F.expr(f"__start div {b}")
    last_seq = F.expr(f"(__end - 1) div {b}")
    span_start = F.greatest(F.col("__start"), F.col("seq_id") * b)
    span_end = F.least(F.col("__end"), (F.col("seq_id") + 1) * b)
    return (
        staged.select(
            id_col,
            "__start",
            "__end",
            F.explode(F.sequence(first_seq, F.greatest(first_seq, last_seq))).alias(
                "seq_id"
            ),
        )
        .select(
            id_col,
            "seq_id",
            (span_start - F.col("seq_id") * b).alias("seq_offset"),
            (span_end - span_start).alias("n_tok"),
        )
    )
