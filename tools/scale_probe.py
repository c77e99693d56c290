"""Work-counted scale probe for the candidate-generating lanes.

Why this exists (round-10 verdict): the sf0.1 bench is OVERHEAD-dominated
(SCALING.json max growth 1.86x across 100x data), so wall-time literally
cannot see an algorithmic regression in the dedup / cross-corpus / IVF
lanes — if MAX_BUCKET pruning silently broke, the sf0.1 total would barely
move while a 100 TB run exploded. This probe measures the lanes' *work*
(candidate pairs generated, shuffle bytes/records written, scan rows) on
synthetically scaled corpora at 1x / 10x / 50x the sf0.1 documents table
and records the growth curve: near-LINEAR growth is the contract; a
quadratic term shows up as a 10x point ~100x the 1x point.

Corpus construction (the non-adversarial scale-up the contract is about):
copy i of the base corpus token-prefixes every token with ``i~`` so the
copies' shingle spaces are DISJOINT — each copy preserves the base
corpus's internal near-dup structure (shingle sharing is isomorphic under
per-token prefixing) while sharing nothing across copies. Scaling m-fold
therefore multiplies the TRUE candidate/pair population by exactly m in
expectation (hash values differ per copy, so per-copy LSH draws are
independent — variance, not bias), unlike naive replication, where every
doc's m copies are mutual near-dups and the pair population itself grows
quadratically (that adversarial shape is tests/test_dedup_skew.py's
territory; MAX_BUCKET caps it).

Work metrics come from the executed plan's SQL metrics (summed over the
final AQE plan: shuffleBytesWritten / shuffleRecordsWritten / recordsRead
— local mode reads shuffles locally, so localBytesRead mirrors writes),
not from wall time.

Usage: python tools/scale_probe.py [out.json] [--base SF_DIR] [--scales 1,10,50]
  (default out: WORK_CURVE.json at the repo root, committed per round)

The pytest twin (tests/test_scale_probe.py) runs the 1x/10x points on the
sf0.001 corpus and pins the 10x candidate-pair and shuffle-byte growth
inside a linear-with-slack band.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from csvtool_spark.functions.caching import persist_scope
from csvtool_spark.operators.dedup import (
    _banded,
    _minhash_signatures,
    candidate_pairs,
    cross_corpus_neardup,
    near_dup_pairs_minhash,
    near_dup_pairs_simhash,
    ngram_jaccard_pairs,
)
from csvtool_spark.operators.similarity import ann_ivf, ivf_centroids

#: doc_id stride between copies — far above any real doc_id in testdata
ID_STRIDE = 10_000_000


def plan_work_metrics(df: DataFrame) -> dict[str, int]:
    """Sum the executed plan's SQL metrics after an action has run.

    Walks the FINAL adaptive plan (AQE re-plans at runtime; the
    pre-execution sparkPlan would show stale exchanges) plus query-stage
    wrappers. Metric instances are per-execution, so sums are this run's
    work, not session cumulative."""
    want = {
        "shuffleBytesWritten": "shuffle_bytes_written",
        "shuffleRecordsWritten": "shuffle_records_written",
        "recordsRead": "shuffle_records_read",
        "numOutputRows": "plan_output_rows",
    }
    acc = dict.fromkeys(want.values(), 0)
    acc["scan_output_rows"] = 0  # rows LEAVING scan nodes only — the
    # post-pushdown scan volume (round 12: the TPC-H lanes' primary
    # linear-growth signal; shuffle records there are #groups-bounded)

    def walk(node):
        cls = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            k = kv._1()
            if k in want:
                acc[want[k]] += kv._2().value()
            # file-source scans ONLY — InMemoryTableScanExec also ends
            # in 'ScanExec', and a lane run against a persisted input
            # (the dedup lanes cache docs in-session) would inflate the
            # post-pushdown file-read signal (round-13 ADVICE)
            if k == "numOutputRows" and cls in (
                "FileSourceScanExec", "BatchScanExec"
            ):
                acc["scan_output_rows"] += kv._2().value()
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            ch = node.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        for c in kids:
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return acc


def counted(df: DataFrame) -> tuple[int, dict[str, int], float]:
    """(row count, work metrics, wall sec) for one lane run — the count
    rides a single count(*) aggregate so the whole lane executes once."""
    out = df.agg(F.count(F.lit(1)).alias("n"))
    t0 = time.perf_counter()
    n = out.collect()[0]["n"]
    wall = time.perf_counter() - t0
    return n, plan_work_metrics(out), wall


def scaled_docs(base: DataFrame, m: int, contaminate_every: int = 0,
                perturb_all: bool = False) -> DataFrame:
    """m disjoint-shingle copies of ``base`` (see module doc). Copy 0 is
    the original corpus verbatim unless ``perturb_all`` (the cross-corpus
    lane perturbs EVERY copy — an unperturbed copy would wholly overlap
    the ref slice and swamp the 1x point). With ``contaminate_every=k``,
    every k-th doc of each perturbed copy keeps its ORIGINAL text — the
    planted cross-corpus contamination (a constant fraction per copy, so
    the decontamination join's true-match population grows linearly)."""
    # NOTE: F.transform lambdas must be 1-arg here — a second parameter
    # (even a defaulted one) is bound to the element INDEX column
    def _prefixer(tag: str):
        return lambda t: F.concat(F.lit(tag), t)

    parts = []
    for i in range(m):
        if i == 0 and not perturb_all:
            parts.append(base.select("doc_id", "text"))
            continue
        prefixed = F.array_join(
            F.transform(F.split(F.col("text"), " "), _prefixer(f"{i}~")),
            " ",
        )
        text = (
            F.when((F.col("doc_id") % contaminate_every) == 0, F.col("text"))
            .otherwise(prefixed)
            if contaminate_every
            else prefixed
        )
        parts.append(
            base.select(
                (F.col("doc_id") + F.lit(i * ID_STRIDE)).alias("doc_id"),
                text.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_embeddings(base: DataFrame, m: int) -> DataFrame:
    """m copies of the embeddings table, each nudged by a tiny per-copy
    constant — cell assignments stay balanced (cells grow ~m-fold), so
    the IVF probe's scanned-row count is the linear-growth signal."""
    def _nudger(eps: float):
        return lambda x: x + F.lit(eps)

    parts = [base.select("vec_id", "embedding")]
    for i in range(1, m):
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(i * ID_STRIDE)).alias("vec_id"),
                F.transform(
                    F.col("embedding"), _nudger(float(i) * 1e-3)
                ).alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def probe_minhash(docs: DataFrame) -> dict:
    """Within-corpus lane: the count-only candidate aggregate (the exact
    quantity MAX_BUCKET bounds) plus the full verified-pair pipeline."""
    with persist_scope():
        cand = candidate_pairs(
            _banded(
                _minhash_signatures(docs, "text", "doc_id", 64, 3, "arrow", "xx64"),
                "doc_id", "__sig", 16, 4, "xx64",
            ),
            "doc_id",
        )
        n_cand, cand_work, cand_wall = counted(cand)
    with persist_scope():
        pairs = near_dup_pairs_minhash(docs, "text", "doc_id", threshold=0.6)
        n_pairs, pair_work, pair_wall = counted(pairs)
    return {
        "candidate_pairs": n_cand,
        "verified_pairs": n_pairs,
        "wall_sec": round(cand_wall + pair_wall, 3),
        **{f"cand_{k}": v for k, v in cand_work.items()},
        **{f"pair_{k}": v for k, v in pair_work.items()},
    }


def probe_simhash(docs: DataFrame) -> dict:
    """SimHash lane: 16-bit chunk blocking then exact Hamming verify.
    VERIFIED-pair counts are inherently high-variance under per-copy
    hash relabeling (near-threshold pairs dominate; measured 124-3110
    across 10 isomorphic copies), so the linear-growth contract here is
    (a) ``cross_copy_pairs`` == 0 — disjoint sub-corpora never verify
    against each other — and (b) shuffle records ~linear; ``pairs`` is
    recorded raw for the curve, not ratio-normalized."""
    with persist_scope():
        pairs = near_dup_pairs_simhash(docs, "text", "doc_id", max_hamming=8)
        out = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.floor(F.col("id_a") / ID_STRIDE)
                    != F.floor(F.col("id_b") / ID_STRIDE),
                    1,
                ).otherwise(0)
            ).alias("cross"),
        )
        t0 = time.perf_counter()
        row = out.collect()[0]
        wall = time.perf_counter() - t0
        work = plan_work_metrics(out)
    return {
        "pairs": row["n"],
        "cross_copy_pairs": int(row["cross"] or 0),
        "wall_sec": round(wall, 3),
        **work,
    }


def probe_ngram(docs: DataFrame) -> dict:
    """Exact n-gram-Jaccard lane: the shingle equi-join is the EXACT
    operator (documented quadratic on hot shingles) — on the
    disjoint-shingle corpus its join work must still scale linearly."""
    with persist_scope():
        n, work, wall = counted(
            ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
        )
    return {"pairs": n, "wall_sec": round(wall, 3), **work}


def probe_cross(docs: DataFrame, ref: DataFrame) -> dict:
    """Decontamination lane: new side scales, ref side fixed — matches
    grow with the planted contamination (linear in corpus size)."""
    with persist_scope():
        n, work, wall = counted(
            cross_corpus_neardup(docs, ref, "text", "doc_id", threshold=0.6)
        )
    return {"matches": n, "wall_sec": round(wall, 3), **work}


def probe_ivf(emb: DataFrame, centroids) -> dict:
    """IVF lane with FIXED centroids (trained once on the 1x table, as a
    real index would be): scanned candidate rows in the probed cells is
    the work that must grow linearly with corpus size."""
    query = [float(v) for v in
             emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    top = ann_ivf(emb, "embedding", "vec_id", query, k=10,
                  n_cells=16, nprobe=4, centroids=centroids)
    t0 = time.perf_counter()
    rows = top.collect()
    wall = time.perf_counter() - t0
    # scanned rows = candidates in the probed cells (computed as its own
    # count; ann_ivf's TakeOrdered output is always k)
    from csvtool_spark.operators.similarity import _probe_cells, ivf_cell

    probe = _probe_cells(centroids, query, 4)
    kept = F.filter(
        F.array(ivf_cell(F.col("embedding"), centroids)),
        lambda c: c.isin(*[int(p) for p in probe]),
    )
    scanned = emb.select(F.explode(kept).alias("cell"))
    n_scanned, work, _ = counted(scanned)
    return {
        "topk_rows": len(rows),
        "scanned_rows": n_scanned,
        "wall_sec": round(wall, 3),
        **work,
    }


#: TPC-H tables that GROW with SF -> the join keys remapped per copy so
#: copy i joins only within itself (nation/region are SF-constant dims
#: and are copied verbatim — exactly TPC-H's own scaling rule)
TPCH_REMAP = {
    "lineitem": ("l_orderkey", "l_suppkey"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
}
TPCH_QUERIES = ("q1_pricing_summary", "q3_shipping_priority",
                "q5_local_suppliers")


def scaled_tpch_dir(spark, base_dir: str, m: int, out_dir: str) -> str:
    """Materialize an m-times scaled TPC-H slice as REAL parquet shaped
    like an sf dir, so the probe runs the catalog's own q1/q3/q5
    functions against it (no probe-local query twins to drift) and the
    scan metrics reflect genuine file scans with pushdown. Fact/growing
    tables get m disjoint key-remapped copies (copy 0 verbatim);
    nation/region stay single."""
    if m == 1:
        return base_dir
    os.makedirs(out_dir, exist_ok=True)
    for t, keys in TPCH_REMAP.items():
        base = spark.read.parquet(os.path.join(base_dir, f"{t}.parquet"))
        parts = [base]
        for i in range(1, m):
            p = base
            for k in keys:
                p = p.withColumn(k, F.col(k) + F.lit(i * ID_STRIDE))
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
    for t in ("nation", "region"):
        spark.read.parquet(
            os.path.join(base_dir, f"{t}.parquet")
        ).write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))
    return out_dir


def probe_tpch(spark, sf_dir: str) -> dict:
    """Headline dialect/TPC-H lanes (round-12 directive): run the
    catalog's OWN q1/q3/q5 against the scaled dir and record their work.
    Primary linear signal is scan_output_rows (post-pushdown scan
    volume — exactly m-fold by construction); shuffle records are
    recorded but are #groups- or AQE-strategy-bounded (q1's partial-agg
    output is #groups x #partitions, near-CONSTANT in data size — that
    sublinearity is the point of the map-side combine)."""
    from csvtool_spark import queries as catalog

    out = {}
    for name in TPCH_QUERIES:
        df = catalog.QUERIES[name](spark, sf_dir)
        n, work, wall = counted(df)
        out[name] = {"rows": n, "wall_sec": round(wall, 3), **work}
    return out


def run_probe(spark, base_dir: str, scales: list[int],
              contaminate_every: int = 20, ref_docs: int = 500) -> dict:
    docs_base = spark.read.parquet(os.path.join(base_dir, "documents.parquet"))
    emb_base = spark.read.parquet(os.path.join(base_dir, "embeddings.parquet"))
    ref = docs_base.filter(F.col("doc_id") < ref_docs).select("doc_id", "text")
    centroids = ivf_centroids(emb_base, "embedding", "vec_id", 16)
    out: dict = {
        "base_dir": base_dir,
        "base_docs": docs_base.count(),
        "base_vectors": emb_base.count(),
        "scales": scales,
        "lanes": {"minhash": {}, "simhash": {}, "ngram": {},
                  "cross_corpus": {}, "ivf": {},
                  "tpch_q1": {}, "tpch_q3": {}, "tpch_q5": {}},
    }
    import shutil
    import tempfile

    tpch_root = tempfile.mkdtemp(prefix="scale_probe_tpch_")
    try:
        for m in scales:
            sf_m = scaled_tpch_dir(
                spark, base_dir, m, os.path.join(tpch_root, f"m{m}")
            )
            tq = probe_tpch(spark, sf_m)
            out["lanes"]["tpch_q1"][str(m)] = tq["q1_pricing_summary"]
            out["lanes"]["tpch_q3"][str(m)] = tq["q3_shipping_priority"]
            out["lanes"]["tpch_q5"][str(m)] = tq["q5_local_suppliers"]
            if sf_m != base_dir:
                shutil.rmtree(sf_m, ignore_errors=True)
    finally:
        shutil.rmtree(tpch_root, ignore_errors=True)
    for m in scales:
        docs = scaled_docs(docs_base, m).persist()
        docs.count()
        out["lanes"]["minhash"][str(m)] = probe_minhash(docs)
        out["lanes"]["simhash"][str(m)] = probe_simhash(docs)
        out["lanes"]["ngram"][str(m)] = probe_ngram(docs)
        out["lanes"]["cross_corpus"][str(m)] = probe_cross(
            scaled_docs(docs_base, m, contaminate_every=contaminate_every,
                        perturb_all=True),
            ref,
        )
        docs.unpersist()
        emb = scaled_embeddings(emb_base, m).persist()
        emb.count()
        out["lanes"]["ivf"][str(m)] = probe_ivf(emb, centroids)
        emb.unpersist()
    # growth ratios vs the 1x point, normalized by the scale factor:
    # 1.0 = perfectly linear work growth, >> 1 = super-linear regression
    lo = str(scales[0])
    # shuffle RECORDS are the primary work measure: bytes can jump on an
    # AQE plan transition (e.g. the verify join's token-array side stops
    # broadcasting and starts shuffling WIDE rows at the largest scale)
    # while per-record work stays linear — record both, read records first
    for lane, keys in (
        ("minhash", ("candidate_pairs", "cand_shuffle_records_written",
                     "cand_shuffle_bytes_written")),
        ("simhash", ("shuffle_records_written",)),
        ("ngram", ("pairs", "shuffle_records_written")),
        ("cross_corpus", ("matches", "shuffle_records_written",
                          "shuffle_bytes_written")),
        ("ivf", ("scanned_rows", "shuffle_bytes_written")),
        # TPC-H lanes: scan rows are the linear signal; shuffle records
        # ride along (q1's are #groups-bounded — expected << 1.0 here)
        ("tpch_q1", ("scan_output_rows", "shuffle_records_written")),
        ("tpch_q3", ("scan_output_rows", "shuffle_records_written",
                     "shuffle_bytes_written")),
        ("tpch_q5", ("scan_output_rows", "shuffle_records_written",
                     "shuffle_bytes_written")),
    ):
        pts = out["lanes"][lane]
        norm = {}
        for key in keys:
            base_v = pts[lo][key]
            norm[key] = {
                str(m): round(pts[str(m)][key] / max(base_v, 1) / (m / scales[0]), 3)
                for m in scales
            }
        pts["per_scale_work_ratio"] = norm
        if lane.startswith("tpch_"):
            # regime-robust quadratic guard: AQE flips broadcast->shuffle
            # joins somewhere between scales (measured: q3 between 1x and
            # 10x, q5 between 10x and 50x), so records normalized to a
            # broadcast-regime 1x point read as a huge step. Records PER
            # POST-PUSHDOWN SCANNED ROW stay a small constant in either
            # regime (0 broadcast, ~0.4-2 shuffled) but GROW with scale
            # under quadratic work — that's the number to watch.
            pts["records_per_scan_row"] = {
                str(m): round(
                    pts[str(m)]["shuffle_records_written"]
                    / max(pts[str(m)]["scan_output_rows"], 1), 4,
                )
                for m in scales
            }
    return out


def main() -> int:
    args = [a for a in sys.argv[1:]]
    out_path = "WORK_CURVE.json"
    base_dir = "/root/testdata/sf0.1"
    scales = [1, 10, 50]
    rest = []
    it = iter(args)
    try:
        for a in it:
            if a == "--base":
                base_dir = next(it)
            elif a == "--scales":
                scales = [int(x) for x in next(it).split(",")]
            else:
                rest.append(a)
    except (StopIteration, ValueError):
        raise SystemExit(
            "usage: scale_probe.py [out.json] [--base SF_DIR] "
            "[--scales 1,10,50]"
        ) from None
    if rest:
        out_path = rest[0]

    from csvtool_spark.session import get_spark

    spark = get_spark("scale-probe")
    result = run_probe(spark, base_dir, scales)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: result["lanes"][k]["per_scale_work_ratio"]
                      for k in result["lanes"]}, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
