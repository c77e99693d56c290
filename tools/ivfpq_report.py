"""Trained-vs-sampled IVF×PQ composed recall report (the eval story for
the full FAISS-shaped stack).

Runs the 2×2 grid {sampled, trained-IVF} × {sampled, trained-PQ} through
``similarity.ivf_pq_recall_eval`` at one SF and prints one JSON line with
the mean recall@k per configuration — both ANN loss terms (cell pruning ×
ADC compression) charged at once.

Usage: python tools/ivfpq_report.py [sf_dir] [n_cells] [nprobe] [m] [n_cents]
Defaults: /root/testdata/sf0.1, 32, 8, 8, 64 — the recorded round-8
numbers (ROUND_NOTES.md): trained PQ buys ~+0.04 recall over sampled;
trained IVF at a FIXED nprobe can give it back (Lloyd concentrates mass,
so the same probe budget covers less of it) — raise nprobe when using
trained centroids.

Round-9 addition: the report also emits ``nprobe_sweep`` — mean recall
per probe budget for BOTH centroid lanes (sampled / trained IVF, both on
the trained PQ codebook), each lane ONE corpus pass via
``similarity.ivf_pq_nprobe_sweep``. This is the recall-per-probe-cost
frontier the trained-IVF compensation question needs: read off how many
probes the trained lane needs to match the sampled lane's recall.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")


def main() -> int:
    from csvtool_spark.functions.caching import persist_scope
    from csvtool_spark.operators.similarity import (
        ivf_centroids,
        ivf_pq_recall_eval,
        ivf_train,
        pq_train,
        pq_train_kmeans,
    )
    from csvtool_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_cells = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    nprobe = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    m = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    n_cents = int(sys.argv[5]) if len(sys.argv) > 5 else 64

    spark = get_spark("ivfpq-report")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = e.orderBy("vec_id").limit(8).collect()
    queries = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows
    }
    cents = {
        "sampled": ivf_centroids(e, "embedding", "vec_id", n_cells),
        "trained": ivf_train(e, "embedding", "vec_id", n_cells, iters=2),
    }
    sampled_cb = pq_train(e, "embedding", "vec_id", m, n_cents)
    cbs = {
        "sampled": sampled_cb,
        "trained": pq_train_kmeans(
            e, "embedding", "vec_id", m=m, n_cents=n_cents, iters=2,
            seed_codebook=sampled_cb,
        ),
    }
    grid = {}
    for ci, cv in cents.items():
        for bi, bv in cbs.items():
            with persist_scope():
                rows = ivf_pq_recall_eval(
                    e, "embedding", "vec_id", queries, k=10,
                    n_cells=n_cells, nprobe=nprobe, centroids=cv, codebook=bv,
                ).collect()
            grid[f"ivf_{ci}.pq_{bi}"] = round(
                sum(r["recall"] for r in rows) / len(rows), 4
            )
    # nprobe × {sampled, trained}-IVF frontier, trained PQ on both lanes,
    # one corpus pass per lane (similarity.ivf_pq_nprobe_sweep)
    from csvtool_spark.operators.similarity import ivf_pq_nprobe_sweep

    nps = sorted({p for p in (1, 2, 4, 8, 16, 32) if p <= n_cells})
    sweep = {}
    for ci, cv in cents.items():
        with persist_scope():
            rows = ivf_pq_nprobe_sweep(
                e, "embedding", "vec_id", queries, nprobes=nps, k=10,
                n_cells=n_cells, centroids=cv, codebook=cbs["trained"],
            ).collect()
        by_np: dict[int, list[float]] = {}
        for r in rows:
            by_np.setdefault(int(r["nprobe"]), []).append(r["recall"])
        sweep[f"ivf_{ci}"] = {
            str(np_): round(sum(v) / len(v), 4)
            for np_, v in sorted(by_np.items())
        }
    print(json.dumps({
        "metric": "ivfpq_mean_recall_at_10",
        "sf_dir": sf_dir,
        "n_cells": n_cells, "nprobe": nprobe, "m": m, "n_cents": n_cents,
        "n_queries": len(queries),
        "grid": grid,
        "nprobe_sweep": sweep,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
