"""Ad-hoc interleaved A/B (not part of the suite): the FULL
q_dialect_pipe_ccdedup query with the CC round checkpoint eager vs lazy,
alternating reps in one session so ambient drift hits both variants
equally. Decides whether #16 helps the real query path."""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from csvtool_spark.operators import components
from csvtool_spark import queries as catalog
from csvtool_spark.functions.caching import persist_scope
from csvtool_spark.queries import load
from csvtool_spark.session import get_spark

sf_dir = "/root/testdata/sf0.1"
spark = get_spark("exp_cc_query_ab")

pool = {**catalog.SHADOW_QUERIES, **catalog.QUERIES}
q = pool["q_dialect_pipe_ccdedup"]


def noop(df):
    df.write.mode("overwrite").format("noop").save()


noop(load(spark, sf_dir, "documents"))

_orig_cc = components.connected_components


def make_cc(eager: bool):
    def cc(edges, src="src", dst="dst", max_iter=20):
        from csvtool_spark.operators.components import _canon, _large_star, _small_star, _sym

        e = _canon(
            edges.select(
                F.col(src).cast("long").alias("src"),
                F.col(dst).cast("long").alias("dst"),
            )
        ).localCheckpoint()
        sig = None
        for _ in range(max_iter):
            e2 = _canon(_small_star(_large_star(e))).localCheckpoint(eager=eager)
            row = e2.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("src", "dst")).alias("x"),
            ).first()
            new_sig = (row["n"], row["x"])
            e = e2
            if new_sig == sig:
                break
            sig = new_sig
        else:
            raise RuntimeError("no fixed point")
        s = _sym(e)
        return (
            s.groupBy("src")
            .agg(F.min("dst").alias("__mn"))
            .select(
                F.col("src").alias("node"),
                F.least("src", "__mn").alias("component"),
            )
        )

    return cc


def run_variant(eager: bool) -> float:
    components.connected_components = make_cc(eager)
    try:
        with persist_scope():
            t0 = time.perf_counter()
            noop(q(spark, sf_dir))
            return time.perf_counter() - t0
    finally:
        components.connected_components = _orig_cc


# warm both once
run_variant(True)
run_variant(False)

eager_xs, lazy_xs = [], []
for i in range(7):
    eager_xs.append(run_variant(True))
    lazy_xs.append(run_variant(False))

print(f"eager med {statistics.median(eager_xs):.3f} min {min(eager_xs):.3f} "
      f"max {max(eager_xs):.3f}  all {[round(x,2) for x in eager_xs]}", flush=True)
print(f"lazy  med {statistics.median(lazy_xs):.3f} min {min(lazy_xs):.3f} "
      f"max {max(lazy_xs):.3f}  all {[round(x,2) for x in lazy_xs]}", flush=True)
spark.stop()
