"""Similarity search over embedding columns (``array<float>``).

- ``ann_bruteforce``: exact top-k by cosine — one scan + TakeOrderedAndProject.
  The correctness baseline and the right plan when k·queries is small.
- ``ann_lsh``: random-hyperplane (SRP) LSH bucketing — the scale path. Each
  vector maps to an n-bit signature; candidates share the query's bucket (or
  a 1-bit-flip neighbor, multiprobe). At 100 TB the bucket join prunes the
  scan to a small candidate set before exact re-ranking.
- ``near_dup_pairs_embedding``: all-pairs near-dup via the same buckets.

Hyperplanes are generated from a fixed seed (deterministic across runs) and
shipped as literal arrays — tiny (#planes × dim doubles), no broadcast join
needed. Dot products are ``zip_with``+``aggregate`` folds in double
precision, JVM-side.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csvtool_spark.functions import caching


def _vec_d(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.round(dot(a, b) / F.when(denom > 0, denom), 6)


def ann_bruteforce(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k cosine against one query vector. orderBy+limit compiles
    to TakeOrderedAndProject — no global sort, no shuffle of the corpus.

    The scored column is built as ONE ``F.expr`` string instead of the
    Column-API fold: constructing ``array(lit × dim)`` plus three lambda
    folds cost ~130+ py4j round trips per build (~0.15 s at dim=128,
    measured round 13 — driver-side, per query construction). The SQL text
    parses to the same zip_with/aggregate fold, so scores are
    bit-identical. The query-side norm is folded on the driver with the
    same sequential left-fold (float ops are IEEE doubles in both
    runtimes), which also stops the JVM re-deriving the constant norm per
    corpus row; ``repr`` literals round-trip doubles exactly."""
    vals = [float(x) for x in query]
    qarr = "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"
    s = 0.0
    for v in vals:
        s += v * v
    import math

    qnorm = math.sqrt(s)
    vd = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    dot_vq = (
        f"aggregate(zip_with({vd}, {qarr}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    norm_v = (
        f"sqrt(aggregate(zip_with({vd}, {vd}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    denom = f"({norm_v} * CAST({qnorm!r} AS DOUBLE))"
    # stage the two folds once: inlining them into the CASE would evaluate
    # the norm fold twice per row (condition + value) — the interpreted
    # higher-order-function fold is the per-row cost here
    staged = df.select(
        F.col(id_col),
        F.expr(dot_vq).alias("__dv"),
        F.expr(denom).alias("__dn"),
    )
    cos = "round(__dv / (CASE WHEN __dn > CAST(0.0 AS DOUBLE) THEN __dn END), 6)"
    return (
        staged.select(F.col(id_col), F.expr(cos).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).standard_normal((n_planes, dim))


def _seq_dot(a, b) -> float:
    """Driver-side dot product with the SAME left-to-right fold order as the
    `dot` Column fold and the oracle's ``list_reduce`` — bit-identical
    doubles, so a query signature bit computed here agrees with one the
    SQL oracle computes (numpy's BLAS dot may differ in the last ulp, which
    flips the bit when a plane is near-orthogonal to the query)."""
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def srp_signature_py(vec: list[float], planes: np.ndarray) -> int:
    """Driver-side twin of ``srp_signature`` (sequential fold — see
    ``_seq_dot``) for query-side probe computation."""
    sig = 0
    for p in range(planes.shape[0]):
        if _seq_dot(planes[p], vec) > 0:
            sig |= 1 << p
    return sig


def srp_signature(vec: Column | str, planes: np.ndarray) -> Column:
    """Sign-random-projection bucket id: bit p = sign(planes[p]·v).

    Accepts a column NAME for the single-``F.expr`` build fast path: the
    Column-API form costs ~(n_planes·dim) py4j round trips per build for
    the plane literals (~0.43 s at 8×64 — measured round 13, pure
    driver-side construction); the SQL text parses to the same
    fold/shiftleft tree, so signatures are bit-identical. Column-typed
    callers keep the Column-tree reference implementation."""
    if isinstance(vec, str):
        q = vec.replace("`", "``")
        vd = f"transform(`{q}`, x -> CAST(x AS DOUBLE))"
        bits = []
        for p in range(planes.shape[0]):
            arr = (
                "array("
                + ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in planes[p])
                + ")"
            )
            d = (
                f"aggregate(zip_with({vd}, {arr}, (x, y) -> x * y), "
                "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
            bits.append(
                f"(CASE WHEN {d} > CAST(0.0 AS DOUBLE) "
                f"THEN shiftleft(CAST(1 AS BIGINT), {p}) "
                "ELSE CAST(0 AS BIGINT) END)"
            )
        return F.expr("(" + " | ".join(bits) + ")")
    bits = []
    for p in range(planes.shape[0]):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        bits.append(
            F.when(dot(_vec_d(vec), plane) > 0, F.shiftleft(F.lit(1).cast("long"), p))
            .otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def ann_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 6,
    multiprobe: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Multi-table SRP-LSH ANN: L independent tables of n_planes bits; a
    vector is a candidate if it lands in the query's bucket (± multiprobe
    1-bit flips) in ANY table; candidates are exactly re-ranked by cosine.

    Recall/cost tuning: per-table collision prob for angle θ is
    (1-θ/π)^n_planes; any-of-L lifts recall, more planes cut candidates.
    The defaults (4×6, 1-bit probe) target weakly-similar corpora (θ≈60°);
    tight near-dup search wants n_planes 12-16, n_tables 2-4. At scale use
    the materialized twin — `ann_index_write` + `ann_lsh_indexed` — where
    the probe is a bucket-pruned point lookup instead of this full scan."""
    dim = len(query)
    cand = None
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + t)
        qsig = srp_signature_py(query, planes)
        probe = {qsig}
        if multiprobe >= 1:
            probe |= {qsig ^ (1 << p) for p in range(n_planes)}
        hit = srp_signature(vec_col, planes).isin(*[int(s) for s in probe])
        cand = hit if cand is None else cand | hit

    q = F.array(*[F.lit(float(x)) for x in query])
    v = _vec_d(F.col(vec_col))
    return (
        df.filter(cand)
        .select(F.col(id_col), cosine(v, q).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def _query_buckets(
    query: list[float],
    n_planes: int,
    n_tables: int,
    multiprobe: int,
    seed: int,
) -> list[int]:
    """The combined (table_id << n_planes) | signature bucket ids a query
    probes — driver-side arithmetic on the query vector only."""
    out: list[int] = []
    for t in range(n_tables):
        planes = hyperplanes(len(query), n_planes, seed + t)
        qsig = srp_signature_py(query, planes)
        probe = {qsig}
        if multiprobe >= 1:
            probe |= {qsig ^ (1 << p) for p in range(n_planes)}
        out.extend((t << n_planes) | s for s in probe)
    return sorted(out)


def ann_index_write(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    n_planes: int = 4,
    n_tables: int = 6,
    seed: int = 42,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Materialize the SRP-LSH index the `ann_lsh` docstring promises: one
    row per (table_id, vector), keyed by the combined bucket id
    ``(table_id << n_planes) | signature`` and written BUCKETED by that key
    (sources.bucketing.write_bucketed). A probe then compiles to a
    bucket-pruned scan — Spark reads only the file buckets holding the
    query's candidate ids (SelectedBucketsCount in the plan), no shuffle,
    no full-corpus signature recompute. This is the 100 TB read path: the
    one-time index write costs one pass + one shuffle; every subsequent
    query touches ~(n_tables·(1+multiprobe·n_planes)/2^n_planes) of the
    corpus files."""
    from csvtool_spark.sources.bucketing import write_bucketed

    first = df.select(vec_col).first()
    dim = len(first[0])
    entries = F.array(
        *[
            ((F.lit(t) * F.lit(1 << n_planes)).cast("long")).bitwiseOR(
                srp_signature(vec_col, hyperplanes(dim, n_planes, seed + t))
            )
            for t in range(n_tables)
        ]
    )
    indexed = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(entries).alias("__bucket"),
    )
    write_bucketed(indexed, table, "__bucket", n_buckets, path)


def _with_forced_bucketed_scan(spark, build):
    """Run ``build()`` (returning a probe DataFrame over a bucketed table)
    with ``autoBucketedScan`` disabled, then RESTORE the session conf.

    autoBucketedScan drops the bucketed layout (and with it bucket PRUNING)
    for scans with no bucket-keyed join/agg — exactly the probes' shape, so
    it must be off while the probe plan is formed. The physical plan is
    forced inside the window (Dataset caches its QueryExecution, so
    collect/count/toPandas on the returned frame reuse the pruned plan);
    without the restore every later query on the session would silently
    lose the auto-bucketed-scan optimization. A ``df.write`` action builds
    a fresh QueryExecution and may re-plan without pruning — still correct,
    just unpruned; probe consumers are read-path actions."""
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = build()
        df._jdf.queryExecution().executedPlan()
        return df
    finally:
        spark.conf.set(key, old)


def ann_lsh_indexed(
    spark,
    table: str,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 6,
    multiprobe: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Probe a materialized `ann_index_write` table: bucket-id IN-filter
    (bucket-pruned scan) → per-id dedup → exact cosine re-rank → top-k.
    Same LSH parameters must be passed as at index-write time."""
    buckets = _query_buckets(query, n_planes, n_tables, multiprobe, seed)
    q = F.array(*[F.lit(float(x)) for x in query])
    v = _vec_d(F.col(vec_col))
    return _with_forced_bucketed_scan(
        spark,
        lambda: (
            spark.table(table)
            .filter(F.col("__bucket").isin(buckets))
            .select(F.col(id_col), cosine(v, q).alias("cos"))
            # a vector can land in several probed buckets (one per table) —
            # groupBy on the candidate ids (a tiny set) dedups before top-k
            .groupBy(id_col)
            .agg(F.first("cos").alias("cos"))
            .orderBy(F.col("cos").desc(), F.col(id_col))
            .limit(k)
        ),
    )


# --- IVF (inverted-file) ANN ---------------------------------------------
#
# The second scale path next to SRP-LSH: a coarse quantizer maps every
# vector to a cell; a probe ranks cells against the query and scans only
# the best nprobe cells. At 100 TB the assignment is materialized once
# (`ivf_index_write`, bucketed by cell) and every probe is a bucket-pruned
# scan of ~nprobe/n_cells of the corpus.


def ivf_centroids(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int = 16
) -> list[tuple[int, list[float]]]:
    """Deterministic sampled coarse quantizer: the vectors with the n_cells
    smallest ids, as (cell, vector) with cell = rank in id order. Collecting
    n_cells rows is driver-sized by design (like the literal hyperplanes);
    `ivf_train` refines these with Lloyd iterations when centroid quality
    matters more than cross-engine reproducibility."""
    rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    return [(i, [float(x) for x in r[1]]) for i, r in enumerate(rows)]


def _py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the SAME left-to-right fold order as the
    Column/`list_reduce` forms — bit-identical doubles, so cell rankings
    computed on the driver agree with the SQL oracle."""
    num = na = nb = 0.0
    for x, y in zip(a, b):
        num += x * y
        na += x * x
        nb += y * y
    den = (na ** 0.5) * (nb ** 0.5)
    # -inf (not NaN) for zero-norm: NaN comparisons would make sorted()
    # input-order-dependent; -inf ranks last, like the SQL NULL cosine
    # under DuckDB's NULLS LAST
    return round(num / den, 6) if den > 0 else float("-inf")


def _probe_cells(
    centroids: list[tuple[int, list[float]]], query: list[float], nprobe: int
) -> list[int]:
    """The nprobe cell ids a query probes: cells ranked by centroid
    cosine (driver-side, same fold as the oracle), ties to the lowest
    cell — THE one definition of the probe ranking, shared by every
    inline and indexed IVF probe so their tie-breaks can never drift."""
    ranked = sorted(centroids, key=lambda e: (-_py_cosine(e[1], query), e[0]))
    return [cell for cell, _ in ranked[:nprobe]]


def _arrow_cell_dots_fn(cents_vecs: list[list[float]]):
    """pandas_udf closure for ``ivf_cell``'s arrow lane:
    struct<ds:array<double>, nv:double> — the n_cells centroid dots and
    the row norm, column-wise accumulation (identical IEEE fold order to
    the Column ``aggregate`` — the ``_arrow_ann_scored_fn`` contract).
    NULL / wrong-dim rows null out (the Column lane's zip_with null-pad
    shape). Self-contained imports for vanilla-driver unpickling."""
    dim = len(cents_vecs[0])

    def fn(s):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents_vecs, dtype=np.float64)  # (n_cells, dim)
        n = len(s)
        ok = np.zeros(n, dtype=bool)
        rows = []
        for i, v in enumerate(s):
            if v is not None and len(v) == dim:
                ok[i] = True
                rows.append(np.asarray(v, dtype=np.float64))
        ds_out: list = [None] * n
        nv_out: list = [None] * n
        if rows:
            V = np.stack(rows)
            m = V.shape[0]
            dots = np.zeros((m, C.shape[0]))
            nv = np.zeros(m)
            for j in range(dim):  # sequential across dims = fold order
                c = V[:, j]
                dots += c[:, None] * C[None, :, j]
                nv += c * c
            nv = np.sqrt(nv)
            for r, i in enumerate(np.flatnonzero(ok)):
                ds_out[int(i)] = [float(x) for x in dots[r]]
                nv_out[int(i)] = float(nv[r])
        return pd.DataFrame({"ds": ds_out, "nv": nv_out}, index=s.index)

    return fn


def ivf_cell(
    vec: Column | str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Cell assignment: argmax of round(cos,6) over the centroid
    literals, ties to the lowest cell id (struct-max over (cos, -cell)).

    Two lanes, bit-identical: a Column NAME selects the arrow lane —
    the n_cells dot folds and the row norm run as one numpy batch
    kernel with fold-order-preserving column-wise accumulation
    (``_arrow_cell_dots_fn``), while the division, round(…, 6) and the
    argmax stay JVM Column expressions so the rounding engine never
    changes (the ``ann_recall_eval`` pattern — the interpreted
    n_cells·dim HOF folds were the probe-side cost, round 13). A
    Column-typed ``vec`` keeps the pure column-expression reference
    lane: the row's norm fold runs ONCE via a one-element transform
    let-bind — a naive per-centroid ``cosine(v, c)`` re-evaluates
    norm(v) n_cells times once Catalyst inlines the projection.
    Centroid norms are Python-computed constants with the same
    sequential fold order as the SQL oracle's ``sqrt(list_reduce(...))``
    — bit-identical, and the denominator keeps the oracle's
    (row_norm × centroid_norm) multiplication order in BOTH lanes."""

    def entries_of(getcos) -> Column:
        entries = []
        for cell, cvec in centroids:
            cn = 0.0
            for x in cvec:
                cn += float(x) * float(x)
            entries.append(
                F.struct(
                    getcos(cell, cvec, cn ** 0.5).alias("c"),
                    F.lit(-cell).cast("long").alias("n"),
                )
            )
        return (-F.array_max(F.array(*entries))["n"]).cast("long")

    if isinstance(vec, str):
        from pyspark.sql.pandas.functions import pandas_udf

        udf = pandas_udf(
            _arrow_cell_dots_fn([list(map(float, cv)) for _, cv in centroids]),
            "struct<ds:array<double>,nv:double>",
        )
        b = udf(F.col(vec))

        def getcos(cell, cvec, cnorm):
            den = b["nv"] * F.lit(cnorm)
            i = next(j for j, (c, _) in enumerate(centroids) if c == cell)
            return F.round(
                F.element_at(b["ds"], i + 1) / F.when(den > 0, den), 6
            )

        return entries_of(getcos)

    def decide(bound: Column) -> Column:
        def getcos(cell, cvec, cnorm):
            c = F.array(*[F.lit(float(x)) for x in cvec])
            den = bound["nv"] * F.lit(cnorm)
            return F.round(dot(bound["v"], c) / F.when(den > 0, den), 6)

        return entries_of(getcos)

    v = _vec_d(vec)
    bound = F.array(F.struct(v.alias("v"), norm(v).alias("nv")))
    return F.transform(bound, decide)[0]


def ann_ivf(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF probe: rank cells by centroid-to-query cosine, scan the nprobe
    best cells, exact-rerank by cosine. nprobe = n_cells degrades gracefully
    to exact brute force (property-tested). Returns (id, cell, cos).

    The cell assignment is evaluated ONCE per row: a .filter on the cell
    alias would be pushed below the projection by RE-INLINING the whole
    n_cells-cosine HOF fold into the predicate (each row pays it twice);
    the HOF-filter + explode drops non-probed rows behind a Generate,
    which is a pushdown barrier (the ``kn_score_map`` fix pattern)."""
    cents = centroids if centroids is not None else ivf_centroids(df, vec_col, id_col, n_cells)
    probe = _probe_cells(cents, query, nprobe)
    q = F.array(*[F.lit(float(x)) for x in query])
    v = _vec_d(F.col(vec_col))
    kept = F.filter(
        F.array(ivf_cell(vec_col, cents)),
        lambda c: c.isin(*[int(p) for p in probe]),
    )
    return (
        df.select(F.col(id_col), F.col(vec_col), F.explode(kept).alias("cell"))
        .select(F.col(id_col), F.col("cell"), cosine(v, q).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the sampled centroids: assign → per-cell mean →
    repeat. Each iteration is one distributed pass (posexplode + groupBy on
    (cell, dim)); only the n_cells×dim centroid table is ever collected.
    Means are float-order dependent, so trained centroids are for quality,
    not cross-engine reproducibility — pair with rows-only checks."""
    cents = ivf_centroids(df, vec_col, id_col, n_cells)
    dim = len(cents[0][1])
    for _ in range(iters):
        # two selects: a generator (posexplode) in the same projection as the
        # struct-argmax strips the struct field names during analysis
        assigned = df.select(
            ivf_cell(F.col(vec_col), cents).alias("__cell"),
            _vec_d(F.col(vec_col)).alias("__v"),
        ).select(
            "__cell", F.posexplode(F.col("__v")).alias("__dim", "__x")
        )
        rows = (
            assigned.groupBy("__cell", "__dim")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_cell: dict[int, list[float]] = {}
        for r in rows:
            by_cell.setdefault(int(r["__cell"]), [0.0] * dim)[int(r["__dim"])] = float(r["__m"])
        # empty cells keep their previous centroid
        cents = [(c, by_cell.get(c, vec)) for c, vec in cents]
    return cents


def ivf_index_write(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    n_cells: int = 16,
    n_buckets: int = 16,
    path: str | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF inverted file: the corpus with its cell
    assignment, written bucketed by cell (one pass + one shuffle). Probes
    against the result are bucket-pruned scans — the 100 TB read path."""
    from csvtool_spark.sources.bucketing import write_bucketed

    cents = centroids if centroids is not None else ivf_centroids(df, vec_col, id_col, n_cells)
    indexed = df.select(
        F.col(id_col), F.col(vec_col), ivf_cell(F.col(vec_col), cents).alias("__cell")
    )
    write_bucketed(indexed, table, "__cell", n_buckets, path)
    return cents


def ann_ivf_indexed(
    spark,
    table: str,
    vec_col: str,
    id_col: str,
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe a materialized `ivf_index_write` table: cell IN-filter over the
    bucketed layout (SelectedBucketsCount pruning, same mechanics as
    `ann_lsh_indexed`) → exact cosine re-rank → top-k."""
    probe = _probe_cells(centroids, query, nprobe)
    q = F.array(*[F.lit(float(x)) for x in query])
    v = _vec_d(F.col(vec_col))
    return _with_forced_bucketed_scan(
        spark,
        lambda: (
            spark.table(table)
            .filter(F.col("__cell").isin(probe))
            .select(
                F.col(id_col), F.col("__cell").alias("cell"), cosine(v, q).alias("cos")
            )
            .orderBy(F.col("cos").desc(), F.col(id_col))
            .limit(k)
        ),
    )


def near_dup_pairs_embedding(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP bucket join then exact
    cosine verify. Recall is bounded by bucket collision probability
    (1 - θ/π)^n_planes per pair — raise n_planes bands for precision or add
    multiprobe joins for recall. An empty / all-NULL-vector corpus yields
    an empty pair frame."""
    dim = _vec_dim(df, vec_col)
    if dim is None:
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cos double"
        )
    dim_planes = hyperplanes(dim, n_planes, seed)
    # the norm fold is a per-VECTOR quantity: stage it before the bucket
    # self-join so each row folds it once instead of once per candidate
    # pair (same fold, same norm(a)*norm(b) multiply order — round-13)
    base = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        srp_signature(vec_col, dim_planes).alias("__sig"),
        norm(_vec_d(F.col(vec_col))).alias("__n"),
    )
    a = base.select(
        F.col("__sig"), F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = base.select(
        F.col("__sig"), F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    den = F.col("__na") * F.col("__nb")
    return (
        a.join(b, "__sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(_vec_d(F.col("__va")), _vec_d(F.col("__vb")))
                / F.when(den > 0, den),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# --- Scalar quantization (int8) -------------------------------------------
#
# The third scale lever next to LSH and IVF: shrink the vectors themselves.
# A float32 embedding column is the dominant byte-cost of a 100 TB corpus
# scan; global min-max int8 quantization cuts it 4x (and composes with IVF:
# quantize the residuals inside each cell). Scoring on int8 codes is exact
# integer arithmetic — deterministic, SIMD-friendly, and cross-engine
# reproducible, unlike float dot products whose summation order varies.


def sq_bounds(df: DataFrame, vec_col: str) -> DataFrame:
    """1-row (mn, mx) global value bounds across every dimension — the
    codebook of min-max scalar quantization. Single agg scan, no shuffle
    beyond the 1-row combine."""
    v = F.col(vec_col)
    return df.agg(
        F.min(F.array_min(v)).cast("double").alias("mn"),
        F.max(F.array_max(v)).cast("double").alias("mx"),
    )


def _sq_code(x: Column, mn: Column, mx: Column) -> Column:
    """Map one float to an int8 code in [-128, 127]:
    ``least(255, floor((x - mn) * (255 / (mx - mn)))) - 128``. The
    expression tree is mirrored verbatim in the DuckDB oracle — every step
    (float→double widen, subtract, one pre-rounded scale multiply, floor)
    is correctly-rounded IEEE double math, so codes are bit-identical
    across engines. ``least`` guards the x == mx edge where the rounded
    scale can push the product a hair past 255. A degenerate value range
    (mx == mn: constant embeddings) would make the scale Infinity and the
    product NaN — whose floor/least semantics differ between engines — so
    that case pins every code to 0 explicitly (all vectors identical ⇒
    all scores equal ⇒ ranking falls to the id tie-break, deterministic)."""
    scale = F.lit(255.0) / (mx - mn)
    code = (
        F.least(F.lit(255).cast("long"), F.floor((x.cast("double") - mn) * scale))
        - F.lit(128)
    ).cast("int")
    return F.when(mx > mn, code).otherwise(F.lit(0))


def quantize_embeddings(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, qvec array<int8-valued int>) for the whole corpus. The 1-row
    bounds side is cross-joined with an explicit broadcast — scalars riding
    to every task, no shuffle of the corpus."""
    b = sq_bounds(df, vec_col)
    return df.crossJoin(F.broadcast(b)).select(
        F.col(id_col),
        F.transform(
            F.col(vec_col), lambda x: _sq_code(x, F.col("mn"), F.col("mx"))
        ).alias("qvec"),
    )


def _idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two code arrays (|code| ≤ 128, so
    dim·128² stays far inside int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def ann_quantized(
    df: DataFrame, vec_col: str, id_col: str, k: int = 10
) -> DataFrame:
    """Top-k neighbors of the minimum-id vector by int8-code dot product.

    Whole pipeline is declarative: bounds → codes → 1-row query side
    broadcast → integer scores → TakeOrderedAndProject. At scale the code
    column is materialized once (4x smaller scan) and the query side is a
    point lookup; scores being exact integers makes the ranking stable
    across engines, which float cosine cannot guarantee.
    """
    # One stats pass carries bounds AND the query id (not sq_bounds +
    # a second agg — that would be two corpus scans for three scalars).
    stats = df.agg(
        F.min(F.array_min(vec_col)).cast("double").alias("mn"),
        F.max(F.array_max(vec_col)).cast("double").alias("mx"),
        F.min(id_col).alias("__qid"),
    )

    def codes(vec: Column) -> Column:
        return F.transform(vec, lambda x: _sq_code(x, F.col("mn"), F.col("mx")))

    # Query side: join the 1-row stats onto the corpus by id equality, so
    # only the surviving single row is quantized (the projection sits
    # above the join — the corpus is scanned but never transformed here).
    qrow = (
        df.join(F.broadcast(stats), F.col(id_col) == F.col("__qid"))
        .select(codes(F.col(vec_col)).alias("__qvec"))
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(qrow))
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            F.col(id_col), _idot(codes(F.col(vec_col)), F.col("__qvec")).alias("score_q")
        )
        .orderBy(F.col("score_q").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_sq_index_write(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    n_cells: int = 16,
    n_buckets: int = 16,
    path: str | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> tuple[list[tuple[int, list[float]]], tuple[float, float]]:
    """IVF × SQ composed index — the full 100 TB ANN recipe: every vector
    stored as (id, cell, int8 codes), bucketed by cell. A probe then pays
    (a) bucket-pruned IO on ~nprobe/n_cells of the corpus and (b) 4× fewer
    bytes per vector it does read, scoring with exact integer dots.
    Returns the probe-side metadata: (centroids, (mn, mx) bounds) — both
    driver-sized, like the hyperplane literals.
    """
    from csvtool_spark.sources.bucketing import write_bucketed

    cents = centroids if centroids is not None else ivf_centroids(df, vec_col, id_col, n_cells)
    b = sq_bounds(df, vec_col).first()
    mn, mx = float(b["mn"]), float(b["mx"])
    indexed = df.select(
        F.col(id_col),
        ivf_cell(F.col(vec_col), cents).alias("__cell"),
        F.transform(
            F.col(vec_col), lambda x: _sq_code(x, F.lit(mn), F.lit(mx))
        ).alias("qvec"),
    )
    write_bucketed(indexed, table, "__cell", n_buckets, path)
    return cents, (mn, mx)


def sq_code_py(x: float, mn: float, mx: float) -> int:
    """Driver-side twin of ``_sq_code`` (same IEEE double steps, so a
    query vector quantizes to exactly the codes the index stores).
    Non-finite query components are rejected up front — there is no
    meaningful code for them, and failing clearly beats math.floor's
    bare conversion error mid-probe."""
    import math

    if not math.isfinite(x):
        raise ValueError(f"query vector component is not finite: {x!r}")
    if not mx > mn:
        return 0
    return int(min(255, math.floor((float(x) - mn) * (255.0 / (mx - mn))))) - 128


def ann_ivf_sq(
    spark,
    table: str,
    id_col: str,
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    bounds: tuple[float, float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe an ``ivf_sq_index_write`` table: rank cells against the query
    (driver-side, n_cells-sized), bucket-pruned scan of the nprobe best,
    integer-dot scores against the quantized query, top-k. Returns
    (id, cell, score_q)."""
    mn, mx = bounds
    probe = _probe_cells(centroids, query, nprobe)
    qcodes = F.array(*[F.lit(sq_code_py(x, mn, mx)) for x in query])
    return _with_forced_bucketed_scan(
        spark,
        lambda: (
            spark.table(table)
            .filter(F.col("__cell").isin(probe))
            .select(
                F.col(id_col),
                F.col("__cell").alias("cell"),
                _idot(F.col("qvec"), qcodes).alias("score_q"),
            )
            .orderBy(F.col("score_q").desc(), F.col(id_col))
            .limit(k)
        ),
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 16,
    threshold: float = 0.95,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    near-duplicate CLUSTERING — coarse-quantize vectors into cells,
    compare pairs only within a cell, connect the ≥ threshold pairs, keep
    the min-id representative per component. Returns
    (id, component, cluster_size, is_survivor).

    Scale shape: the pairwise stage is quadratic ONLY within a cell
    (the published algorithm's property — n_cells is chosen so cells fit
    the pair budget; at 100 TB that means k-means cells of ~1e5 vectors,
    not 16); the cell join is an equi-join shuffled by cell, the closure
    is the alternating-star contraction (O(log n) rounds, bounded per-node
    state). The assigned table feeds both pair sides, so it is persisted —
    at cluster scale, materialize it (``ivf_index_write``) instead.

    Recall caveat (inherent to cell-local pairing, as published): a
    near-dup pair straddling a cell boundary is missed. Mitigate with
    trained centroids (``ivf_train``) so boundaries fall between true
    clusters, more/better cells, or a second pass with shifted centroids."""
    from csvtool_spark.operators.components import dedup_clusters

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(df, vec_col, id_col, n_cells)
    )
    assigned = caching.persist(df.select(
        F.col(id_col),
        _vec_d(F.col(vec_col)).alias("__v"),
        ivf_cell(F.col(vec_col), cents).alias("__cell"),
    ))
    a = assigned.select(
        "__cell", F.col(id_col).alias("id_a"), F.col("__v").alias("__va")
    )
    b = assigned.select(
        "__cell", F.col(id_col).alias("id_b"), F.col("__v").alias("__vb")
    )
    pairs = (
        a.join(b, "__cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("__va"), F.col("__vb")) >= threshold)
        .select("id_a", "id_b")
    )
    return dedup_clusters(df, pairs, id_col)


# --- per-label centroids + outlier mining ---------------------------------


def group_centroids(
    df: DataFrame, vec_col: str, label_col: str, scale: int = 1_000_000
) -> DataFrame:
    """(label, centroid array<double>, n) — per-label mean embedding with
    ORDER-INDEPENDENT exact arithmetic: each component sums as
    round(x·scale) BIGINTs (associative, partitioning-proof), the mean is
    then (int_sum / scale) / n in doubles — bit-identical across engines.

    Shape: posexplode → hash agg on (label, pos) → rebuild the ordered
    array. The agg state is |labels|·dim rows — tiny; the explode is the
    one pass over the data and combines map-side."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_vec_d(F.col(vec_col))).alias("pos", "x"),
    )
    agg = ex.groupBy("label", "pos").agg(
        F.sum(F.round(F.col("x") * scale, 0).cast("long")).alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sx", "n"))),
            lambda s: (s["sx"].cast("double") / F.lit(float(scale))) / s["n"],
        ).alias("centroid"),
        F.max("n").alias("n"),
    )


def centroid_outliers(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 20,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-k vectors farthest (euclidean) from their own label centroid —
    mislabel / outlier mining for embedding-labelled corpora. The centroid
    table is |labels| rows → broadcast; distance is the usual sequential
    zip_with/aggregate fold (DuckDB-reproducible); orderBy+limit compiles
    to TakeOrderedAndProject."""
    cent = group_centroids(df, vec_col, label_col, scale).select(
        F.col("label").alias("__lbl"), "centroid"
    )
    v = _vec_d(F.col(vec_col))
    d2 = F.aggregate(
        F.zip_with(v, F.col("centroid"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )
    return (
        df.join(F.broadcast(cent), df[label_col] == cent["__lbl"])
        .select(
            F.col(id_col),
            F.col(label_col),
            F.round(F.sqrt(d2), 6).alias("dist"),
        )
        .orderBy(F.col("dist").desc(), F.col(id_col))
        .limit(k)
    )


def l2_normalize(col: Column) -> Column:
    """Unit-L2-norm embedding; a zero vector normalizes to all-null (no
    ANSI divide error). The norm is LET-BOUND via the one-element-array
    transform trick so Catalyst evaluates the O(d) norm fold once per row,
    not once per element (O(d²) if inlined)."""
    v = _vec_d(col)
    return F.transform(
        F.array(norm(v)),
        lambda n: F.transform(v, lambda x: x / F.when(n > 0, n)),
    )[0]


# --- batch ANN: many queries in one corpus pass ---------------------------


def ann_bruteforce_batch(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: dict[int, list[float]],
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine for a BATCH of query vectors in ONE corpus scan:
    the queries ship as a literal array of (qid, vec) structs (like the
    SRP hyperplanes — driver-bounded, no broadcast join machinery), each
    corpus row explodes into |Q| scored rows, and a per-query window takes
    the top k. Returns (qid, id, cos) rows, k per query.

    Scale: cost is the unavoidable |corpus|·|Q| score matrix, but it runs
    as a map-only projection fused into the scan (no join, no cartesian
    operator) followed by ONE shuffle on qid for the per-query top-k —
    with rank<=k filtering inside the window aggregation
    (WindowGroupLimit pushes the limit into the sort). For large |Q| use
    the bucketed index twins instead (``ann_lsh_indexed``/``ann_ivf_sq``:
    each query probes its buckets, not the whole corpus)."""
    from pyspark.sql import Window

    qarr = F.array(
        *[
            F.struct(
                # long, not int: the oracle emits BIGINT qid and the
                # driver hash is type-sensitive (dtype-parity rule)
                F.lit(int(qid)).cast("long").alias("qid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("qv"),
            )
            for qid, vec in sorted(queries.items())
        ]
    )
    v = _vec_d(F.col(vec_col))
    scored = (
        df.select(F.col(id_col), v.alias("__v"), F.explode(qarr).alias("q"))
        .select(
            F.col("q.qid").alias("qid"),
            F.col(id_col),
            cosine(F.col("__v"), F.col("q.qv")).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


# --- ANN recall evaluation ------------------------------------------------


def _arrow_ann_scored_fn(
    qvecs: list[list[float]], planes_l: list[list[list[float]]], n_planes: int
):
    """pandas_udf closure for ``ann_recall_eval``'s per-row heavy math:
    struct(dots array<double>, nv double, rb array<long>) — the |Q|
    query dots, the row norm, and the packed SRP bucket ids, one numpy
    pass per batch. Bit-identical to the Column folds: every fold is
    accumulated COLUMN-WISE (vectorized across rows, sequential across
    dims — per row the identical IEEE mul/add sequence as the
    ``aggregate`` left fold), sqrt is correctly rounded in both
    runtimes, and the sign test/bit packing are exact. NaN elements
    propagate through the folds and fail ``> 0`` exactly as in the JVM.
    Rows that are NULL or not exactly dim elements take the Column
    lane's null shape: NULL dots/norm (a zip_with against a
    length-mismatched array null-pads and the fold nulls out) and
    all-zero signatures (``when(NULL > 0, bit)`` falls to otherwise-0).
    Self-contained imports — the ``minhash_signature_arrow`` unpickle
    contract."""
    dim = len(qvecs[0])
    n_tables = len(planes_l)

    def fn(s):
        import numpy as np
        import pandas as pd

        Q = np.asarray(qvecs, dtype=np.float64)  # (|Q|, dim)
        P = np.asarray(planes_l, dtype=np.float64)  # (T, n_planes, dim)
        zero_rb = [int(t) << n_planes for t in range(n_tables)]
        n = len(s)
        ok = np.zeros(n, dtype=bool)
        rows = []
        for i, v in enumerate(s):
            if v is not None and len(v) == dim:
                ok[i] = True
                rows.append(np.asarray(v, dtype=np.float64))
        dots_out: list = [None] * n
        nv_out: list = [None] * n
        rb_out: list = [zero_rb] * n
        if rows:
            V = np.stack(rows)  # (m, dim)
            m = V.shape[0]
            dots = np.zeros((m, len(qvecs)))
            nv = np.zeros(m)
            for j in range(dim):  # sequential across dims = fold order
                c = V[:, j]
                dots += c[:, None] * Q[None, :, j]
                nv += c * c
            nv = np.sqrt(nv)
            sig = np.zeros((m, n_tables), dtype=np.int64)
            for t in range(n_tables):
                for p in range(n_planes):
                    acc = np.zeros(m)
                    for j in range(dim):
                        acc += V[:, j] * P[t, p, j]
                    sig[:, t] |= (acc > 0).astype(np.int64) << p
                sig[:, t] |= t << n_planes
            idx = np.flatnonzero(ok)
            for r, i in enumerate(idx):
                dots_out[int(i)] = [float(x) for x in dots[r]]
                nv_out[int(i)] = float(nv[r])
                rb_out[int(i)] = [int(x) for x in sig[r]]
        return pd.DataFrame(
            {"dots": dots_out, "nv": nv_out, "rb": rb_out},
            index=s.index,
        )

    return fn


def ann_recall_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: dict[int, list[float]],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 6,
    multiprobe: int = 1,
    seed: int = 42,
    kernel: str = "arrow",
) -> DataFrame:
    """recall@k of the SRP-LSH probe against exact brute force, per query
    — the eval harness an ANN deployment owes its tuning loop (how much
    recall do n_planes/n_tables/multiprobe actually buy on THIS corpus?).

    Returns (qid, n_hits, recall): ``n_hits`` = |LSH top-k ∩ exact top-k|
    (self-matches excluded on both sides), ``recall`` = n_hits / k.

    ONE corpus pass: per-table signatures are computed once per row (not
    per query) and packed as a combined ``(table << n_planes) | sig``
    bucket array; each query ships its probe-bucket set in the same
    struct literal as its vector, so LSH candidacy is an
    ``arrays_overlap`` during the same scan that scores the exact side.
    Ground truth NEEDS the full |corpus|·|Q| cosine matrix, so the scan
    is the floor — the eval is meant for a BOUNDED sampled query set
    (|Q| literals ride the task closure). Two qid-partitioned windows
    rank both sides; WindowGroupLimit keeps only k rows per query alive.

    Cross-engine exactness: signatures use the sequential-fold dot
    (``srp_signature``/``srp_signature_py`` — bit-identical to the
    oracle's ``list_reduce``), cosine the shared ``_cos_sql`` shape, and
    ``recall`` is one exact double division by the integer literal k.

    Two scored lanes, bit-identical and differential-tested:
    ``kernel='arrow'`` (default) computes the |Q| dots, the row norm and
    the SRP buckets in one numpy batch kernel (column-wise accumulation
    preserves the fold order — see ``_arrow_ann_scored_fn``) and leaves
    the division + round(…, 6) on the JVM so the rounding engine never
    changes; ``kernel='column'`` is the pure Column-tree twin the DuckDB
    oracle mirrors. The Column lane's ~(n_tables·n_planes + 3·|Q|)
    interpreted HOF folds per row were the dominant cost (~1 ms/row
    measured round 13); the query-side norm is folded on the driver with
    the same sequential order either way (the ``ann_bruteforce``
    precedent — it is a constant, so the JVM must not re-derive it per
    row)."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("ann_recall_eval: queries must be non-empty")
    dim = len(next(iter(queries.values())))
    planes = [hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    if kernel not in ("arrow", "column"):
        raise ValueError(f"ann_recall_eval: unknown kernel {kernel!r}")

    # persisted: the exact and the LSH branch both read this scan (their
    # pre-window filters differ, so Spark cannot reuse the exchange) —
    # without the persist the corpus scan + |corpus|·|Q| cosine matrix
    # (the dominant cost) would compute twice. Persisted through
    # functions.caching, so an enclosing persist_scope releases it after
    # the bounded |Q|-row output is consumed (the bm25 pattern).
    if kernel == "arrow":
        from pyspark.sql.pandas.functions import pandas_udf

        items = sorted(queries.items())
        qmeta = F.array(
            *[
                F.struct(
                    F.lit(int(qid)).cast("long").alias("qid"),
                    F.lit(i + 1).cast("int").alias("ix"),
                    F.lit(math.sqrt(_seq_dot(vec, vec))).alias("qn"),
                    F.array(
                        *[
                            F.lit(int(b)).cast("long")
                            for b in _query_buckets(
                                vec, n_planes, n_tables, multiprobe, seed
                            )
                        ]
                    ).alias("probes"),
                )
                for i, (qid, vec) in enumerate(items)
            ]
        )
        udf = pandas_udf(
            _arrow_ann_scored_fn(
                [[float(x) for x in v] for _, v in items],
                [[[float(x) for x in row] for row in p] for p in planes],
                n_planes,
            ),
            "struct<dots:array<double>,nv:double,rb:array<long>>",
        )
        den = F.col("__s.nv") * F.col("q.qn")
        scored = caching.persist(
            df.select(F.col(id_col), udf(F.col(vec_col)).alias("__s"))
            .select(F.col(id_col), "__s", F.explode(qmeta).alias("q"))
            .filter(F.col(id_col) != F.col("q.qid"))  # self never counts
            .select(
                F.col("q.qid").alias("qid"),
                F.col(id_col),
                F.round(
                    F.element_at(F.col("__s.dots"), F.col("q.ix"))
                    / F.when(den > 0, den),
                    6,
                ).alias("cos"),
                F.arrays_overlap(
                    F.col("__s.rb"), F.col("q.probes")
                ).alias("__cand"),
            )
        )
    else:
        qarr = F.array(
            *[
                F.struct(
                    F.lit(int(qid)).cast("long").alias("qid"),
                    F.array(*[F.lit(float(x)) for x in vec]).alias("qv"),
                    F.array(
                        *[
                            F.lit(int(b)).cast("long")
                            for b in _query_buckets(
                                vec, n_planes, n_tables, multiprobe, seed
                            )
                        ]
                    ).alias("probes"),
                )
                for qid, vec in sorted(queries.items())
            ]
        )
        v = _vec_d(F.col(vec_col))
        row_buckets = F.array(
            *[
                F.lit(t << n_planes).cast("long").bitwiseOR(
                    srp_signature(F.col(vec_col), planes[t])
                )
                for t in range(n_tables)
            ]
        )
        scored = caching.persist(
            df.select(
                F.col(id_col), v.alias("__v"), row_buckets.alias("__rb"),
                F.explode(qarr).alias("q"),
            )
            .filter(F.col(id_col) != F.col("q.qid"))  # self never counts
            .select(
                F.col("q.qid").alias("qid"),
                F.col(id_col),
                cosine(F.col("__v"), F.col("q.qv")).alias("cos"),
                F.arrays_overlap(F.col("__rb"), F.col("q.probes")).alias("__cand"),
            )
        )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col(id_col))
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    approx = (
        scored.filter("__cand")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    return _recall_output(df, id_col, exact, approx, queries, k)


def _recall_output(
    df: DataFrame,
    id_col: str,
    exact: DataFrame,
    approx: DataFrame,
    queries: dict,
    k: int,
) -> DataFrame:
    """(qid, n_hits, recall) from two per-query top-k id sets — THE one
    recall@k output contract, shared by ``ann_recall_eval`` and
    ``pq_recall_eval`` so the null-hits convention and the exact double
    division by k can never drift between evals."""
    hits = exact.join(approx, ["qid", id_col]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    qids = df.sparkSession.createDataFrame(
        [(int(q),) for q in sorted(queries)], "qid long"
    )
    return qids.join(hits, "qid", "left").select(
        "qid",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.lit(float(k))
        ).alias("recall"),
    )


# --- product quantization (PQ) --------------------------------------------


class PQCodebook:
    """Product-quantization codebook (Jégou et al. 2011, TPAMI "Product
    quantization for nearest neighbor search"), built on top of the int8
    scalar-quantization grid so every distance is EXACT integer math
    (the ``ann_quantized`` contract — bit-stable rankings across engines,
    no float-fold ordering anywhere).

    ``cents`` holds ``n_cents`` full-dimension code vectors — either the
    deterministic sampled codebook (``pq_train``: the lowest-id corpus
    vectors, the ``ivf_centroids`` precedent) or the Lloyd-trained one
    (``pq_train_kmeans``: per-subspace fixed-point k-means, ALSO exactly
    reproducible cross-engine thanks to the integer grid — unlike float
    ``ivf_train`` means); subspace ``s`` of centroid ``c`` is the slice
    ``cents[c][s*dsub:(s+1)*dsub]``. ``mn``/``mx`` are the global scalar
    bounds the codes were built with — encoding MUST reuse them (a
    subset's own bounds would shift every code)."""

    def __init__(self, mn: float, mx: float, m: int, cents: list[list[int]]):
        if not cents:
            raise ValueError("PQCodebook: need at least one centroid")
        dim = len(cents[0])
        if any(len(c) != dim for c in cents):
            # a short centroid's trailing-subspace slices would zip_with
            # null-pad to a NULL distance that wins every argmin —
            # silently corrupting codes for ALL encoded vectors
            raise ValueError("PQCodebook: centroids have unequal lengths")
        if m < 1 or dim % m != 0:
            raise ValueError(
                f"PQCodebook: dim {dim} not divisible into m={m} subspaces"
            )
        self.mn, self.mx, self.m, self.cents = float(mn), float(mx), int(m), cents
        self.dim, self.dsub = dim, dim // m


def pq_train(
    df: DataFrame, vec_col: str, id_col: str, m: int = 8, n_cents: int = 16
) -> PQCodebook:
    """Deterministic PQ codebook: global SQ bounds (one agg scan) + the
    ``n_cents`` lowest-id vectors' int8 codes (one TakeOrdered — driver
    state is n_cents×dim ints, bounded by design). Sampled, not
    Lloyd-trained, for the same reason as ``ivf_centroids``: cross-engine
    reproducibility; swap in trained centroids when quality matters more
    (pair with rows-only checks, like ``ivf_train``)."""
    b = sq_bounds(df, vec_col).collect()[0]
    if b["mn"] is None or b["mx"] is None:
        raise ValueError(
            "pq_train: corpus has no usable vectors (empty frame or "
            "all-NULL embedding column) — nothing to derive bounds from"
        )
    mn, mx = float(b["mn"]), float(b["mx"])
    rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(int(n_cents))
        .collect()
    )
    cents = [[sq_code_py(float(x), mn, mx) for x in r[1]] for r in rows]
    return PQCodebook(mn, mx, m, cents)


def _pq_assign_codes(cb: PQCodebook, codes: Column) -> Column:
    """``array<int>`` of length m: each subspace's nearest centroid by
    exact integer distance, ties to the lowest centroid id — the
    assignment step of ``_packed_codes`` factored over a MATERIALIZED
    codes column. Here ``codes`` is an attribute reference behind a
    projection barrier, so no let-binding transform trick is needed
    (``_packed_codes`` keeps its nested-transform form because there the
    code array is computed inline and HOFs run interpreted without
    subexpression elimination)."""
    cols = []
    for s in range(cb.m):
        sub = F.slice(codes, s * cb.dsub + 1, cb.dsub)
        entries = [
            F.struct(
                _isub_d2(
                    sub, cb.cents[c][s * cb.dsub : (s + 1) * cb.dsub]
                ).alias("d"),
                F.lit(c).cast("int").alias("c"),
            )
            for c in range(len(cb.cents))
        ]
        cols.append(F.array_min(F.array(*entries))["c"])
    return F.array(*cols)


def _arrow_pq_partial_sums_fn(
    mn: float, mx: float, m: int, cents: list[list[int]], vec_name: str
):
    """mapInPandas closure for one trained-PQ Lloyd round: quantize each
    batch to the int8 grid (the exact ``_arrow_pq_encode_fn`` steps),
    assign every (row, subspace) to its nearest centroid, and emit
    per-(subspace, centroid) partial sums ``(s, c, n, sums array<long>)``
    — at most m·n_cents rows per batch, so the shuffle that combines them
    is codebook-sized, never corpus-sized. All-integer accumulation
    (int64 sums of int8 codes), so partials combine exactly in any order.
    Invalid vectors raise (the ``pq_encode`` batch contract — a silently
    skipped vector would bias every centroid). Self-contained imports so
    vanilla sessions can unpickle on workers (the
    ``minhash_signature_arrow`` contract)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.int64)
        n_cents, dim = C.shape
        dsub = dim // m
        Csub = C.reshape(n_cents, m, dsub)
        cn = (Csub * Csub).sum(axis=2)  # (n_cents, m)
        for pdf in batches:
            if not len(pdf):
                continue
            vec = pdf[vec_name]
            try:
                V = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vec]
                )
            except (ValueError, TypeError) as e:
                raise ValueError(
                    "pq_train_kmeans: NULL/ragged/null-element embedding "
                    "— impute or drop those rows first"
                ) from e
            if V.ndim != 2 or V.shape[1] != dim:
                raise ValueError(
                    f"pq_train_kmeans: invalid vector (dim != codebook "
                    f"dim {dim})"
                )
            if not np.isfinite(V).all():
                raise ValueError(
                    "pq_train_kmeans: non-finite embedding value — the "
                    "int8 grid is undefined for NaN/Infinity"
                )
            if mx > mn:
                scale = 255.0 / (mx - mn)
                Q = np.minimum(255.0, np.floor((V - mn) * scale)).astype(
                    np.int64
                ) - 128
            else:
                Q = np.zeros(V.shape, dtype=np.int64)
            Qs = Q.reshape(len(Q), m, dsub)
            qn = (Qs * Qs).sum(axis=2)  # (n, m)
            cross = np.einsum("nmd,cmd->ncm", Qs, Csub)  # int64 exact
            dist = qn[:, None, :] + cn[None, :, :] - 2 * cross
            best = dist.argmin(axis=1)  # (n, m); first occurrence = lowest c
            rows = []
            for s in range(m):
                cnt = np.bincount(best[:, s], minlength=n_cents)
                sums = np.zeros((n_cents, dsub), dtype=np.int64)
                np.add.at(sums, best[:, s], Qs[:, s, :])
                for j in np.flatnonzero(cnt):
                    rows.append(
                        (int(s), int(j), int(cnt[j]), sums[j].tolist())
                    )
            yield pd.DataFrame(rows, columns=["s", "c", "n", "sums"])

    return fn


def pq_train_kmeans(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    n_cents: int = 16,
    iters: int = 2,
    kernel: str = "arrow",
    seed_codebook: PQCodebook | None = None,
) -> PQCodebook:
    """Lloyd-TRAINED PQ codebook: per-subspace fixed-point k-means over
    the int8 code grid, seeded from the sampled ``pq_train`` codebook
    (``iters=0`` IS the sampled codebook — property-tested).
    ``seed_codebook`` skips the seed's own corpus passes when the caller
    already trained the sampled lane (q_pq_compare trains both — without
    the handoff it paid the bounds aggregate + seed collect twice). This is the
    quality lane the sampled codebook trades away: sampled centroids are
    whatever the n_cents lowest-id vectors happened to be, trained
    centroids minimize the per-subspace quantization error that bounds
    ADC recall (Jégou et al. 2011 §III trains exactly this way).

    Deterministic across runs AND engines, unlike float k-means: codes
    are exact int8, distances exact int64, centroid updates are
    ``half_away(sum/count)`` on an exact integer sum — the
    ``kmeans_fit`` fixed-point discipline — with ties to the lowest
    centroid id and empty (subspace, centroid) cells carrying forward.
    So the trained lane pairs with a full DuckDB twin (q_pq_compare),
    not the rows-only checks float ``ivf_train`` needs.

    Scale shape: each round is ONE map-only pass (the Arrow partial-sums
    kernel) + a codebook-sized shuffle (≤ m·n_cents groups) + a bounded
    collect (m·n_cents·(dsub+1) ints). ``kernel='column'`` is the pure
    Column twin (``_packed_codes`` assignment + explode/groupBy),
    bit-identical (differential-tested)."""
    from csvtool_spark.functions.fixedpoint import half_away

    if iters < 0:
        raise ValueError(f"pq_train_kmeans: need iters >= 0, got {iters}")
    if kernel not in ("arrow", "column"):
        raise ValueError(f"pq_train_kmeans: unknown kernel {kernel!r}")
    if seed_codebook is not None:
        if seed_codebook.m != m or len(seed_codebook.cents) > n_cents:
            raise ValueError(
                "pq_train_kmeans: seed_codebook shape mismatch "
                f"(m {seed_codebook.m} vs {m}, "
                f"{len(seed_codebook.cents)} cents vs n_cents {n_cents})"
            )
        frame_dim = _vec_dim(df, vec_col)
        seed_dim = len(seed_codebook.cents[0])
        if frame_dim is not None and frame_dim != seed_dim:
            raise ValueError(
                "pq_train_kmeans: seed_codebook dim "
                f"{seed_dim} != corpus vector dim {frame_dim}"
            )
    cb = seed_codebook or pq_train(df, vec_col, id_col, m, n_cents)
    if iters == 0:
        return cb
    dsub = cb.dsub
    # the corpus is read every round: persist the projection once (the
    # kmeans_fit discipline — always released before returning, since the
    # fit output is a driver-side codebook, nothing lazy reads the cache)
    vecs = df.select(F.col(vec_col)).persist()
    try:
        for _ in range(iters):
            if kernel == "arrow":
                part = vecs.mapInPandas(
                    _arrow_pq_partial_sums_fn(
                        cb.mn, cb.mx, cb.m, cb.cents, vec_col
                    ),
                    schema="s int, c int, n long, sums array<long>",
                )
            else:
                enc = vecs.select(
                    _packed_codes(cb, vec_col).alias("__pc")
                ).select(
                    F.col("__pc")["codes"].alias("__codes"),
                    F.col("__pc")["pq"].alias("__pq"),
                )
                part = enc.select(
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(s).cast("int").alias("s"),
                                    F.col("__pq")[s].alias("c"),
                                    F.transform(
                                        F.slice(
                                            "__codes", s * dsub + 1, dsub
                                        ),
                                        lambda x: x.cast("long"),
                                    ).alias("sums"),
                                )
                                for s in range(cb.m)
                            ]
                        )
                    ).alias("e")
                ).select(
                    "e.s", "e.c", F.lit(1).cast("long").alias("n"), "e.sums"
                )
            rows = (
                part.groupBy("s", "c")
                .agg(
                    F.sum("n").alias("n"),
                    *[
                        F.sum(F.element_at("sums", d + 1)).alias(f"s_{d}")
                        for d in range(dsub)
                    ],
                )
                .collect()
            )
            by_sc = {(int(r["s"]), int(r["c"])): r for r in rows}
            new_cents = []
            for c in range(len(cb.cents)):
                vec = list(cb.cents[c])
                for s in range(cb.m):
                    r = by_sc.get((s, c))
                    if r is None:
                        continue  # empty cell: carry the centroid forward
                    n = int(r["n"])
                    for d in range(dsub):
                        vec[s * dsub + d] = half_away(
                            float(r[f"s_{d}"]) / n
                        )
                new_cents.append(vec)
            cb = PQCodebook(cb.mn, cb.mx, cb.m, new_cents)
        return cb
    finally:
        vecs.unpersist()


def _isub_d2(sub: Column, cvals: list[int]) -> Column:
    """Exact integer squared L2 distance between a code-array slice and a
    centroid-slice literal (|code| ≤ 128 ⇒ per-dim square ≤ 65025; any
    realistic dsub stays far inside int64) — the literal-argument wrapper
    over ``_izdist2``."""
    return _izdist2(sub, F.array(*[F.lit(int(x)) for x in cvals]))


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cb: PQCodebook,
    kernel: str = "arrow",
    on_invalid: str = "raise",
    extras: tuple[str, ...] = (),
) -> DataFrame:
    """(id, pq_codes array<int> of length m) — each subspace's nearest
    centroid by exact integer distance, ties to the lowest centroid id.
    Codes use the codebook's OWN bounds, so encoding a different frame
    than the one trained on (new shards, a query batch) stays consistent.

    Two lanes, bit-identical and differential-tested (the
    ``kmeans_assign`` precedent): ``kernel='arrow'`` (default) encodes
    each Arrow batch as one numpy kernel — the 100 TB lane, since the
    Column form's m·n_cents distance folds run on Spark's interpreted
    HOF path; ``kernel='column'`` is the pure Column-tree twin
    (struct-min argmin, no UDF) that the DuckDB oracles mirror and the
    streaming literal projection composes from. Both are map-only: no
    shuffle, no collect; the output is the 100 TB artifact — m ints per
    vector instead of dim floats (~32× smaller scan for dim=64, m=8).

    ``on_invalid``: 'raise' (default — a NULL/ragged/non-finite vector
    is a pipeline bug; see ``_packed_codes`` for why such vectors must
    never encode) or 'null' (null pq_codes — the streaming contract).
    ``extras`` ride through unchanged: (id, *extras, pq_codes)."""
    if kernel == "arrow":
        from pyspark.sql import types as T

        if on_invalid not in ("raise", "null"):
            raise ValueError(f"pq_encode: unknown on_invalid {on_invalid!r}")
        fields = {f.name: f for f in df.schema.fields}
        out_schema = T.StructType(
            [fields[id_col]]
            + [fields[c] for c in extras]
            + [T.StructField("pq_codes", T.ArrayType(T.IntegerType()))]
        )
        return df.select(id_col, *extras, vec_col).mapInPandas(
            _arrow_pq_encode_fn(
                cb.mn, cb.mx, cb.m, cb.cents, vec_col, id_col,
                on_invalid=on_invalid, extras=list(extras),
            ),
            schema=out_schema,
        )
    if kernel != "column":
        raise ValueError(f"pq_encode: unknown kernel {kernel!r}")
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extras],
        _packed_codes(cb, vec_col, on_invalid=on_invalid)["pq"].alias(
            "pq_codes"
        ),
    )


def _arrow_pq_encode_fn(
    mn: float,
    mx: float,
    m: int,
    cents: list[list[int]],
    vec_name: str,
    id_name: str,
    on_invalid: str = "raise",
    extras: list[str] | None = None,
):
    """mapInPandas closure for the Arrow PQ-encode lane: quantize to the
    int8 grid + per-subspace nearest-centroid as one numpy kernel per
    batch. Bit-identical to the Column lane (differential-tested): the
    quantization runs the SAME float64 steps (subtract, one pre-rounded
    scale multiply, floor, min-255) — correctly-rounded IEEE either way —
    distances are exact int64, and ``argmin``'s first-occurrence tie rule
    equals the struct-min lowest-c rule. NULL vector → null codes;
    ragged/non-finite raise by default, or null out under
    ``on_invalid='null'`` (the streaming contract — see
    ``_packed_codes``). Self-contained (imports inline) so a vanilla
    driver session can unpickle it on workers without this package
    importable — the ``minhash_signature_arrow`` contract."""

    extra_names = list(extras or [])

    def fn(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.int64)
        n_cents, dim = C.shape
        dsub = dim // m
        Csub = C.reshape(n_cents, m, dsub)
        for pdf in batches:
            n = len(pdf)
            out = pdf[[id_name, *extra_names]].copy()
            vec = pdf[vec_name]
            mask = np.fromiter((v is not None for v in vec), dtype=bool, count=n)
            codes: list = [None] * n
            idx = np.flatnonzero(mask)
            V = np.empty((0, dim))
            if on_invalid == "null":
                rows, good = [], []
                for i in idx:
                    try:
                        a = np.asarray(vec.iat[int(i)], dtype=np.float64)
                    except (ValueError, TypeError):
                        continue
                    if a.ndim != 1 or a.shape[0] != dim or not np.isfinite(a).all():
                        continue
                    rows.append(a)
                    good.append(int(i))
                idx = np.asarray(good, dtype=np.int64)
                V = np.stack(rows) if rows else np.empty((0, dim))
            elif n:
                if not mask.all():
                    # unlike kmeans_assign (where a null vector rides as a
                    # null assignment), an index artifact with silently
                    # missing rows is a pipeline bug — match the Column
                    # lane, which raises on NULL vectors too
                    raise ValueError(
                        f"pq_encode: invalid vector (dim NULL != codebook "
                        f"dim {dim}, or null/non-finite element)"
                    )
                try:
                    V = np.stack(
                        [np.asarray(vec.iat[int(i)], dtype=np.float64) for i in idx]
                    )
                except (ValueError, TypeError) as e:
                    raise ValueError(
                        "pq_encode: ragged or null-element embedding — "
                        "impute or drop those rows first"
                    ) from e
                if V.shape[1] != dim:
                    raise ValueError(
                        f"pq_encode: invalid vector (dim {V.shape[1]} != "
                        f"codebook dim {dim}, or null/non-finite element)"
                    )
                if not np.isfinite(V).all():
                    raise ValueError(
                        "pq_encode: invalid vector (non-finite element — "
                        "the int8 grid is undefined for NaN/Infinity)"
                    )
            if idx.size:
                if mx > mn:
                    scale = 255.0 / (mx - mn)
                    Q = np.minimum(255.0, np.floor((V - mn) * scale)).astype(
                        np.int64
                    ) - 128
                else:
                    Q = np.zeros(V.shape, dtype=np.int64)
                Qs = Q.reshape(len(idx), m, dsub)
                # expanded square ||q||² + ||c||² - 2·q·c: identical int64
                # values to the (q-c)² fold, but O(n·n_cents·m) memory —
                # the naive (n, n_cents, m, dsub) difference tensor would
                # peak at ~2.6 GB/task for 10k-row batches at dim=64,
                # n_cents=256
                qn = (Qs * Qs).sum(axis=2)  # (n, m)
                cn = (Csub * Csub).sum(axis=2)  # (n_cents, m)
                cross = np.einsum("nmd,cmd->ncm", Qs, Csub)  # int64 exact
                dist = qn[:, None, :] + cn[None, :, :] - 2 * cross
                best = dist.argmin(axis=1)  # first occurrence = lowest c
                for j, i in enumerate(idx):
                    codes[int(i)] = [int(x) for x in best[j]]
            out["pq_codes"] = pd.Series(codes, dtype=object, index=out.index)
            yield out

    return fn


def _packed_codes(
    cb: PQCodebook, vec_col: str, on_invalid: str = "raise"
) -> Column:
    """One struct column ``(codes array<int>, pq array<int>)`` — the full
    int8 code vector and its PQ assignment, each computed ONCE per row.
    HOF expressions run interpreted where subexpression elimination does
    not apply, so naming the code transform inside every centroid slice
    would quantize the vector m·n_cents times; two nested transform
    lambdas let-bind the code array and its m slices instead (the
    ``ivf_cell`` trick — lambda variables evaluate once; plan-tested:
    one floor).

    ``on_invalid``: 'raise' (batch default — an invalid vector is a
    pipeline bug) or 'null' (streaming lane — the whole struct nulls out
    so a poison record cannot crash-loop a micro-batch; the
    ``clustered_stream`` rationale). Invalid = NULL vector, wrong dim,
    NULL element, or non-finite element: a NaN would quietly pin to code
    127 (``least(255, NaN)`` keeps NaN, floor converts) and a NULL
    element's NULL distance would win every argmin — both land
    confidently-wrong codes in the index, so they must never encode
    (the ``kmeans_assign`` finiteness rule; ``sq_code_py`` rejects the
    same on the query side)."""
    if on_invalid not in ("raise", "null"):
        raise ValueError(f"on_invalid must be 'raise' or 'null', got {on_invalid!r}")
    v = F.col(vec_col)
    valid = _valid_vector(v, cb.dim)
    if on_invalid == "null":
        # the outer when(valid, ...) below is the only guard needed —
        # re-checking inside would run the O(dim) validity fold twice
        checked = v
    else:
        checked = F.when(valid, v).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("pq_encode: invalid vector (dim "),
                    F.coalesce(F.size(v).cast("string"), F.lit("NULL")),
                    F.lit(f" != codebook dim {cb.dim}, or null/non-finite element)"),
                )
            )
        )
    codes_expr = F.transform(
        checked, lambda x: _sq_code(x, F.lit(cb.mn), F.lit(cb.mx))
    )

    def assign(a: Column) -> Column:
        subs = F.array(
            *[F.slice(a, s * cb.dsub + 1, cb.dsub) for s in range(cb.m)]
        )

        def codes_of(sv: Column) -> Column:
            cols = []
            for s in range(cb.m):
                entries = [
                    F.struct(
                        _isub_d2(
                            sv[s], cb.cents[c][s * cb.dsub : (s + 1) * cb.dsub]
                        ).alias("d"),
                        F.lit(c).cast("int").alias("c"),
                    )
                    for c in range(len(cb.cents))
                ]
                cols.append(F.array_min(F.array(*entries))["c"])
            return F.array(*cols)

        return F.struct(
            a.alias("codes"),
            F.transform(F.array(subs), codes_of)[0].alias("pq"),
        )

    expr = F.transform(F.array(codes_expr), assign)[0]
    if on_invalid == "null":
        # the when() guards evaluation, so the raise branch inside
        # `checked` can never fire on this lane
        return F.when(valid, expr)
    return expr


def _valid_vector(v: Column, dim: int) -> Column:
    """True iff ``v`` is non-NULL, has exactly ``dim`` elements, and every
    element is a non-NULL finite number (NULL for a NULL vector — use in
    a when() so both NULL and false fall to the invalid branch)."""
    bad_el = F.exists(
        v,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
    return (F.size(v) == dim) & ~bad_el


def _adc_table(cb: PQCodebook, query: list[float]) -> list[list[int]]:
    """Asymmetric-distance lookup table: table[s][c] = exact integer
    squared distance between the query's subspace-s codes and centroid c's
    — m × n_cents ints, computed on the driver with the same
    ``sq_code_py`` grid the index used."""
    if len(query) != cb.dim:
        raise ValueError(
            f"ann_pq: query dim {len(query)} != codebook dim {cb.dim}"
        )
    qcodes = [sq_code_py(float(x), cb.mn, cb.mx) for x in query]
    return [
        [
            sum(
                (qcodes[s * cb.dsub + i] - cent[s * cb.dsub + i]) ** 2
                for i in range(cb.dsub)
            )
            for cent in cb.cents
        ]
        for s in range(cb.m)
    ]


def ann_pq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    m: int = 8,
    n_cents: int = 16,
    codebook: PQCodebook | None = None,
    exclude_id: int | None = None,
    kernel: str = "arrow",
) -> DataFrame:
    """Top-k by PQ asymmetric distance (ADC): encode the corpus (map-only,
    ``pq_encode``'s Arrow kernel by default), ship the m×n_cents ADC
    table as literals, score each row with m array lookups,
    TakeOrderedAndProject by (adc_d2 ASC, id ASC). Returns (id, adc_d2).

    All-integer end to end, so the ranking is bit-stable and the DuckDB
    twin matches exactly (lane differential). At scale, encode once with
    ``pq_index_write`` and probe the materialized codes
    (``ann_pq_indexed``) — the scan then reads m ints per vector instead
    of the full embedding."""
    cb = codebook or pq_train(df, vec_col, id_col, m, n_cents)
    enc = pq_encode(df, vec_col, id_col, cb, kernel=kernel)
    if exclude_id is not None:
        enc = enc.filter(F.col(id_col) != int(exclude_id))
    return _adc_score(enc, id_col, cb, query, k)


def _adc_score(
    enc: DataFrame, id_col: str, cb: PQCodebook, query: list[float], k: int
) -> DataFrame:
    table = _adc_table(cb, query)
    return (
        # Spark sorts NULLS FIRST ascending, so null pq_codes rows (the
        # pq_coded_stream on_invalid='null' quarantine lane) would
        # otherwise occupy the top-k with NULL distances
        enc.filter(F.col("pq_codes").isNotNull())
        .select(
            F.col(id_col),
            _adc_sum(table, F.col("pq_codes")).alias("adc_d2"),
        )
        .orderBy(F.col("adc_d2").asc(), F.col(id_col))
        .limit(int(k))
    )


def pq_index_write(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    m: int = 8,
    n_cents: int = 16,
    codebook: PQCodebook | None = None,
    kernel: str = "arrow",
) -> PQCodebook:
    """Materialize the PQ codes as a parquet dataset (one map-only pass —
    the Arrow kernel by default — no shuffle; the codes inherit the
    corpus partitioning). Unlike the IVF index there is nothing to
    bucket: ADC probes read EVERY code row by design; the win is the
    ~dim·4/m-fold smaller scan. Returns the codebook the probe side
    needs (persist it with the index — n_cents×dim ints)."""
    cb = codebook or pq_train(df, vec_col, id_col, m, n_cents)
    pq_encode(df, vec_col, id_col, cb, kernel=kernel).write.mode(
        "overwrite"
    ).parquet(path)
    return cb


def ann_pq_indexed(
    spark,
    path: str,
    id_col: str,
    query: list[float],
    codebook: PQCodebook,
    k: int = 10,
) -> DataFrame:
    """Probe a materialized ``pq_index_write`` dataset: scan (id, codes)
    only, m lookups per row, top-k. Identical results to ``ann_pq`` with
    the same codebook (differential-tested)."""
    return _adc_score(spark.read.parquet(path), id_col, codebook, query, k)


def _izdist2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two code-array columns
    (the column-column twin of ``_isub_d2``). Operands are widened to
    long BEFORE the subtract/multiply: codes have no lower clamp (a
    cross-frame encode of an extreme outlier far below the codebook's mn
    produces codes < -128), and an int32 square of such a value could
    silently wrap in non-ANSI mode while the Arrow lane stays exact
    int64 — widening keeps the two lanes bit-identical everywhere."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("long") - y.cast("long"))
            * (x.cast("long") - y.cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def pq_recall_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: dict[int, list[float]],
    k: int = 10,
    m: int = 8,
    n_cents: int = 16,
    codebook: PQCodebook | None = None,
) -> DataFrame:
    """recall@k of the PQ-ADC ranking against the exact ranking on the
    same int8 code grid, per query — the quantization-error dial for
    tuning m/n_cents (the ``ann_recall_eval`` shape: how much neighbor
    fidelity does compressing dim codes to m survive on THIS corpus?).

    Returns (qid, n_hits, recall): ``n_hits`` = |ADC top-k ∩ exact
    top-k| (self-matches excluded on both sides), ``recall`` = n_hits/k.
    With n_cents ≥ |corpus| every vector reconstructs exactly and recall
    is 1.0 (property-tested).

    ONE corpus pass: the packed codes struct is computed once per row and
    each query ships (qid, codes, ADC table) as one literal struct, so
    both distances score during the same scan; the exact side NEEDS the
    full |corpus|·|Q| matrix, so the eval is meant for a BOUNDED sampled
    query set. Two qid-partitioned windows rank both sides
    (WindowGroupLimit keeps k rows per query alive); the scored frame is
    persisted because both windows read it (``caching.persist`` — an
    enclosing ``persist_scope`` releases it).

    All-integer distances and one exact double division by the literal k
    — bit-stable cross-engine, full DuckDB twin (q_pq_recall)."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("pq_recall_eval: queries must be non-empty")
    cb = codebook or pq_train(df, vec_col, id_col, m, n_cents)
    qlits = []
    for qid, vec in sorted(queries.items()):
        table = _adc_table(cb, vec)  # validates the query dim
        qcodes = [sq_code_py(float(x), cb.mn, cb.mx) for x in vec]
        qlits.append(
            F.struct(
                F.lit(int(qid)).cast("long").alias("qid"),
                F.lit(qcodes).alias("qc"),
                F.lit(table).alias("tbl"),
            )
        )
    base = df.select(
        F.col(id_col), _packed_codes(cb, vec_col).alias("__pc")
    )
    adc = F.lit(0).cast("long")
    for s in range(cb.m):
        adc = adc + F.element_at(
            F.element_at(F.col("q")["tbl"], s + 1),
            F.col("__pc")["pq"][s] + 1,
        ).cast("long")
    scored = caching.persist(
        base.select(F.col(id_col), F.col("__pc"), F.explode(F.array(*qlits)).alias("q"))
        .filter(F.col(id_col) != F.col("q")["qid"])
        .select(
            F.col("q")["qid"].alias("qid"),
            F.col(id_col),
            _izdist2(F.col("__pc")["codes"], F.col("q")["qc"]).alias("exact_d2"),
            adc.alias("adc_d2"),
        )
    )
    we = Window.partitionBy("qid").orderBy(
        F.col("exact_d2").asc(), F.col(id_col).asc()
    )
    wa = Window.partitionBy("qid").orderBy(
        F.col("adc_d2").asc(), F.col(id_col).asc()
    )
    exact = (
        scored.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    approx = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    return _recall_output(df, id_col, exact, approx, queries, k)


def pq_recall_compare(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: dict[int, list[float]],
    k: int,
    codebooks: dict[str, PQCodebook],
) -> DataFrame:
    """recall@k of SEVERAL PQ codebooks against the shared exact
    code-grid ranking, in ONE corpus pass — the sampled-vs-trained
    quality report ``pq_train_kmeans`` exists for. Returns one row per
    query: ``(qid, n_hits_<name>, recall_<name>, ...)`` with lanes in
    sorted name order.

    All codebooks must share the quantization grid (mn/mx/dim — true by
    construction for ``pq_train`` vs ``pq_train_kmeans`` on the same
    corpus), so the int8 code array is computed ONCE per row and each
    lane's m-lookup ADC plus the exact distance score during the same
    scan; the scored frame persists because every lane's window reads it
    (``caching.persist`` — an enclosing ``persist_scope`` releases it
    after the bounded |Q|-row output is consumed). All-integer rankings with (distance, id)
    tie-breaks, one exact double division by k — bit-stable
    cross-engine, full DuckDB twin (q_pq_compare)."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("pq_recall_compare: queries must be non-empty")
    if not codebooks:
        raise ValueError("pq_recall_compare: codebooks must be non-empty")
    names = sorted(codebooks)
    cb0 = codebooks[names[0]]
    for name in names[1:]:
        c = codebooks[name]
        if (c.mn, c.mx, c.dim) != (cb0.mn, cb0.mx, cb0.dim):
            raise ValueError(
                "pq_recall_compare: codebooks disagree on the "
                f"quantization grid (lane {name!r})"
            )
    qlits = []
    for qid, vec in sorted(queries.items()):
        qcodes = [sq_code_py(float(x), cb0.mn, cb0.mx) for x in vec]
        qlits.append(
            F.struct(
                F.lit(int(qid)).cast("long").alias("qid"),
                F.lit(qcodes).alias("qc"),
                *[
                    F.lit(_adc_table(codebooks[n], vec)).alias(f"tbl_{n}")
                    for n in names
                ],
            )
        )
    # projection barrier: codes materialize once, every lane's assignment
    # then reads the attribute reference (no recompute on the HOF path)
    base = df.select(
        F.col(id_col), _packed_codes(cb0, vec_col)["codes"].alias("__codes")
    ).select(
        F.col(id_col),
        F.col("__codes"),
        *[
            _pq_assign_codes(codebooks[n], F.col("__codes")).alias(f"pq_{n}")
            for n in names
        ],
    )
    lane_adc = []
    for n in names:
        adc = F.lit(0).cast("long")
        for s in range(codebooks[n].m):
            adc = adc + F.element_at(
                F.element_at(F.col("q")[f"tbl_{n}"], s + 1),
                F.col(f"pq_{n}")[s] + 1,
            ).cast("long")
        lane_adc.append(adc.alias(f"adc_{n}"))
    scored = caching.persist(
        base.select(
            F.col(id_col),
            F.col("__codes"),
            *[F.col(f"pq_{n}") for n in names],
            F.explode(F.array(*qlits)).alias("q"),
        )
        .filter(F.col(id_col) != F.col("q")["qid"])
        .select(
            F.col("q")["qid"].alias("qid"),
            F.col(id_col),
            _izdist2(F.col("__codes"), F.col("q")["qc"]).alias("exact_d2"),
            *lane_adc,
        )
    )
    we = Window.partitionBy("qid").orderBy(
        F.col("exact_d2").asc(), F.col(id_col).asc()
    )
    exact = (
        scored.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    out = None
    for n in names:
        wa = Window.partitionBy("qid").orderBy(
            F.col(f"adc_{n}").asc(), F.col(id_col).asc()
        )
        approx = (
            scored.withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") <= k)
            .select("qid", id_col)
        )
        lane = _recall_output(
            df, id_col, exact, approx, queries, k
        ).select(
            "qid",
            F.col("n_hits").alias(f"n_hits_{n}"),
            F.col("recall").alias(f"recall_{n}"),
        )
        out = lane if out is None else out.join(lane, "qid")
    return out.orderBy("qid")


# --- IVF × PQ composed index ----------------------------------------------


def _adc_sum(table: list[list[int]], codes: Column) -> Column:
    """Sum of per-subspace ADC lookups: table[s][codes[s]] — m integer
    array accesses against a materialized code column."""
    adc = F.lit(0).cast("long")
    for s, row in enumerate(table):
        adc = adc + F.element_at(F.lit(row), codes[s] + 1).cast("long")
    return adc


def ann_ivf_pq(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_cents: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebook: PQCodebook | None = None,
    exclude_id: int | None = None,
    kernel: str = "arrow",
) -> DataFrame:
    """IVF × PQ probe, inline form (cell assignment + PQ codes computed in
    the scan — the plan the materialized twin ``ann_ivf_pq_indexed``
    freezes into its index): rank cells against the query driver-side,
    keep the nprobe best, ADC-score only those rows, top-k by
    (adc_d2 ASC, id ASC). Returns (id, cell, adc_d2).

    This is the FAISS IVF-PQ architecture on the repo's exact-integer
    contract: the cell filter cuts the candidate IO to ~nprobe/n_cells,
    PQ cuts the bytes per candidate to m ints, and the score is m table
    lookups — fully SQL-expressible, so the composition has a complete
    DuckDB twin (q_ann_ivf_pq), unlike the rows-only IVF×SQ pytest pair.
    Codes are whole-vector (not residual) quantizations, matching
    ``ivf_sq_index_write``'s convention.

    The cell fold is evaluated once per row behind an explode barrier
    (the ``ann_ivf`` pattern — a .filter on the alias would re-inline the
    n_cells-cosine HOF into the pushed predicate), and only rows in the
    probed cells pay the PQ encode. The encode goes through
    ``pq_encode`` — ``kernel='arrow'`` (default) for the batch numpy
    lane, ``'column'`` for the pure Column-tree twin; the m·n_cents
    distance folds of the Column lane run on Spark's interpreted HOF
    path (~2.3 ms/row measured round 13 — the dominant cost of this
    probe), and the two lanes are bit-identical by ``pq_encode``'s own
    differential contract (this is exactly the composition
    ``ivf_pq_index_write`` already uses)."""
    cents = centroids if centroids is not None else ivf_centroids(df, vec_col, id_col, n_cells)
    cb = codebook or pq_train(df, vec_col, id_col, m, n_cents)
    probe = _probe_cells(cents, query, nprobe)
    table = _adc_table(cb, query)
    kept = F.filter(
        F.array(ivf_cell(vec_col, cents)),
        lambda c: c.isin(*[int(p) for p in probe]),
    )
    assigned = df.select(
        F.col(id_col), F.col(vec_col), F.explode(kept).alias("cell")
    )
    if exclude_id is not None:
        assigned = assigned.filter(F.col(id_col) != int(exclude_id))
    enc = pq_encode(
        assigned, vec_col, id_col, cb, kernel=kernel, extras=("cell",)
    )
    return (
        enc.select(
            F.col(id_col),
            F.col("cell"),
            _adc_sum(table, F.col("pq_codes")).alias("adc_d2"),
        )
        .orderBy(F.col("adc_d2").asc(), F.col(id_col))
        .limit(int(k))
    )


def ivf_pq_index_write(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    n_cells: int = 16,
    n_buckets: int = 16,
    path: str | None = None,
    m: int = 8,
    n_cents: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebook: PQCodebook | None = None,
    kernel: str = "arrow",
) -> tuple[list[tuple[int, list[float]]], PQCodebook]:
    """Materialize the IVF × PQ index: every vector stored as
    (id, cell, pq_codes), bucketed by cell. A probe then pays (a)
    bucket-pruned IO on ~nprobe/n_cells of the corpus and (b) m ints per
    vector it does read (~32× fewer bytes at dim=64/m=8) — the smallest
    scan in the ANN family. Returns the probe-side metadata
    (centroids, codebook), both driver-sized."""
    from csvtool_spark.sources.bucketing import write_bucketed

    cents = centroids if centroids is not None else ivf_centroids(df, vec_col, id_col, n_cells)
    cb = codebook or pq_train(df, vec_col, id_col, m, n_cents)
    # the cell fold stays on the Column lane (its round(cos,6) sequential
    # fold is the cross-engine-reproducible form; numpy dot is not
    # bit-identical); the PQ encode — the dominant per-row cost — runs
    # pq_encode's kernel of choice with __cell riding through as an extra
    assigned = df.select(
        F.col(id_col),
        ivf_cell(F.col(vec_col), cents).alias("__cell"),
        F.col(vec_col),
    )
    indexed = pq_encode(
        assigned, vec_col, id_col, cb, kernel=kernel, extras=("__cell",)
    )
    write_bucketed(indexed, table, "__cell", n_buckets, path)
    return cents, cb


def ann_ivf_pq_indexed(
    spark,
    table: str,
    id_col: str,
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    codebook: PQCodebook,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe an ``ivf_pq_index_write`` table: cell IN-filter over the
    bucketed layout (SelectedBucketsCount pruning), m ADC lookups per
    surviving row, top-k. Identical results to the inline ``ann_ivf_pq``
    with the same metadata (differential-tested)."""
    probe = _probe_cells(centroids, query, nprobe)
    table_adc = _adc_table(codebook, query)
    return _with_forced_bucketed_scan(
        spark,
        lambda: (
            spark.table(table)
            .filter(F.col("__cell").isin(probe))
            .select(
                F.col(id_col),
                F.col("__cell").alias("cell"),
                _adc_sum(table_adc, F.col("pq_codes")).alias("adc_d2"),
            )
            .orderBy(F.col("adc_d2").asc(), F.col(id_col))
            .limit(int(k))
        ),
    )


def ivf_pq_recall_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: dict[int, list[float]],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_cents: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebook: PQCodebook | None = None,
) -> DataFrame:
    """recall@k of the COMPOSED IVF×PQ probe against the exact code-grid
    ranking — the eval for the full FAISS-shaped stack, charging BOTH
    loss terms at once: candidates outside the nprobe probed cells are
    unreachable (the IVF pruning loss) and reachable candidates rank by
    m-lookup ADC (the PQ compression loss). With nprobe = n_cells and
    n_cents ≥ |corpus| both terms vanish and recall pins to 1.0
    (property-tested, the ``pq_recall_eval`` degenerate regime).

    Returns (qid, n_hits, recall) — the shared ``_recall_output``
    contract. Metadata defaults to the deterministic sampled lanes
    (``ivf_centroids`` + ``pq_train``), which pair with a full DuckDB
    twin (q_ivf_pq_recall); pass ``ivf_train``/``pq_train_kmeans``
    outputs to evaluate the trained stack (the trained-IVF cell means
    are float — rows-only evidence, like ``ivf_train`` itself).

    ONE corpus pass (the ``ann_recall_eval`` shape): per row, the int8
    codes, its PQ assignment and its IVF cell compute once; each query
    ships (qid, qcodes, ADC table, probe list) as one literal struct.
    The exact side needs the full |corpus|·|Q| distance matrix, so the
    query set must be BOUNDED — this is an eval, not a serving path."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("ivf_pq_recall_eval: queries must be non-empty")
    cents = (
        centroids if centroids is not None
        else ivf_centroids(df, vec_col, id_col, n_cells)
    )
    cb = codebook or pq_train(df, vec_col, id_col, m, n_cents)
    qlits = []
    for qid, vec in sorted(queries.items()):
        table = _adc_table(cb, vec)  # validates the query dim
        qcodes = [sq_code_py(float(x), cb.mn, cb.mx) for x in vec]
        probes = _probe_cells(cents, vec, nprobe)
        qlits.append(
            F.struct(
                F.lit(int(qid)).cast("long").alias("qid"),
                F.lit(qcodes).alias("qc"),
                F.lit(table).alias("tbl"),
                F.lit([int(p) for p in probes]).alias("probes"),
            )
        )
    base = df.select(
        F.col(id_col),
        _packed_codes(cb, vec_col)["codes"].alias("__codes"),
        ivf_cell(F.col(vec_col), cents).alias("__cell"),
    ).select(
        F.col(id_col),
        F.col("__codes"),
        F.col("__cell"),
        _pq_assign_codes(cb, F.col("__codes")).alias("__pq"),
    )
    adc = F.lit(0).cast("long")
    for s in range(cb.m):
        adc = adc + F.element_at(
            F.element_at(F.col("q")["tbl"], s + 1),
            F.col("__pq")[s] + 1,
        ).cast("long")
    scored = caching.persist(
        base.select(
            F.col(id_col), "__codes", "__cell", "__pq",
            F.explode(F.array(*qlits)).alias("q"),
        )
        .filter(F.col(id_col) != F.col("q")["qid"])
        .select(
            F.col("q")["qid"].alias("qid"),
            F.col(id_col),
            _izdist2(F.col("__codes"), F.col("q")["qc"]).alias("exact_d2"),
            adc.alias("adc_d2"),
            F.array_contains(
                F.col("q")["probes"], F.col("__cell")
            ).alias("__cand"),
        )
    )
    we = Window.partitionBy("qid").orderBy(
        F.col("exact_d2").asc(), F.col(id_col).asc()
    )
    wa = Window.partitionBy("qid").orderBy(
        F.col("adc_d2").asc(), F.col(id_col).asc()
    )
    exact = (
        scored.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    approx = (
        scored.filter("__cand")
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    return _recall_output(df, id_col, exact, approx, queries, k)


def ivf_pq_nprobe_sweep(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: dict[int, list[float]],
    nprobes: list[int],
    k: int = 10,
    n_cells: int = 16,
    m: int = 8,
    n_cents: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebook: PQCodebook | None = None,
) -> DataFrame:
    """``ivf_pq_recall_eval`` at SEVERAL probe budgets in ONE corpus pass
    — the nprobe compensation study (round-8 verdict item 3: trained-IVF
    centroids concentrate mass, so a FIXED nprobe covers less of it; the
    question is how many extra probes buy the recall back).

    Returns (nprobe, qid, n_hits, recall) — one ``_recall_output`` block
    per requested budget, row-identical to running the one-shot eval at
    that nprobe (pinned by test).

    Scale shape: the corpus is scored ONCE — each query ships its FULL
    probe ranking (cells ordered by centroid cosine, ``_probe_cells`` at
    max(nprobes)) and every row materializes its probe RANK
    (``array_position`` of its cell in that ranking); the per-budget
    passes are then window ranks over the persisted scored frame with a
    ``rank <= nprobe`` filter — no re-encode, no re-scan. Exact top-k
    computes once and is shared across budgets."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("ivf_pq_nprobe_sweep: queries must be non-empty")
    nps = sorted({int(p) for p in nprobes})
    if not nps or nps[0] < 1:
        raise ValueError("ivf_pq_nprobe_sweep: nprobes must be >= 1")
    cents = (
        centroids if centroids is not None
        else ivf_centroids(df, vec_col, id_col, n_cells)
    )
    if not cents:
        raise ValueError(
            "ivf_pq_nprobe_sweep: no centroids (empty/all-NULL corpus)"
        )
    # clamp to the cells that exist, like the one-shot eval's
    # _probe_cells ranked[:nprobe] — a small corpus (fewer centroids
    # than requested) must not crash the sweep (round-9 review); the
    # clamped budgets collapse into one full-coverage entry
    nps = sorted({min(p, len(cents)) for p in nps})
    cb = codebook or pq_train(df, vec_col, id_col, m, n_cents)
    qlits = []
    for qid, vec in sorted(queries.items()):
        table = _adc_table(cb, vec)
        qcodes = [sq_code_py(float(x), cb.mn, cb.mx) for x in vec]
        probes = _probe_cells(cents, vec, nps[-1])
        qlits.append(
            F.struct(
                F.lit(int(qid)).cast("long").alias("qid"),
                F.lit(qcodes).alias("qc"),
                F.lit(table).alias("tbl"),
                F.lit([int(p) for p in probes]).alias("probes"),
            )
        )
    base = df.select(
        F.col(id_col),
        _packed_codes(cb, vec_col)["codes"].alias("__codes"),
        ivf_cell(F.col(vec_col), cents).alias("__cell"),
    ).select(
        F.col(id_col),
        F.col("__codes"),
        F.col("__cell"),
        _pq_assign_codes(cb, F.col("__codes")).alias("__pq"),
    )
    adc = F.lit(0).cast("long")
    for s in range(cb.m):
        adc = adc + F.element_at(
            F.element_at(F.col("q")["tbl"], s + 1),
            F.col("__pq")[s] + 1,
        ).cast("long")
    scored = caching.persist(
        base.select(
            F.col(id_col), "__codes", "__cell", "__pq",
            F.explode(F.array(*qlits)).alias("q"),
        )
        .filter(F.col(id_col) != F.col("q")["qid"])
        .select(
            F.col("q")["qid"].alias("qid"),
            F.col(id_col),
            _izdist2(F.col("__codes"), F.col("q")["qc"]).alias("exact_d2"),
            adc.alias("adc_d2"),
            # 1-based rank of this row's cell in the query's probe order;
            # 0 = outside every requested budget
            F.array_position(
                F.col("q")["probes"], F.col("__cell")
            ).alias("__prank"),
        )
    )
    we = Window.partitionBy("qid").orderBy(
        F.col("exact_d2").asc(), F.col(id_col).asc()
    )
    wa = Window.partitionBy("qid").orderBy(
        F.col("adc_d2").asc(), F.col(id_col).asc()
    )
    exact = (
        scored.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= k)
        .select("qid", id_col)
    )
    out = None
    for np_ in nps:
        approx = (
            scored.filter(
                (F.col("__prank") >= 1) & (F.col("__prank") <= np_)
            )
            .withColumn("rn", F.row_number().over(wa))
            .filter(F.col("rn") <= k)
            .select("qid", id_col)
        )
        block = _recall_output(df, id_col, exact, approx, queries, k).select(
            F.lit(np_).cast("long").alias("nprobe"), "qid", "n_hits", "recall"
        )
        out = block if out is None else out.union(block)
    return out


def _vec_dim(df: DataFrame, vec_col: str) -> int | None:
    """Length of the first NON-NULL vector, or None when the frame has no
    usable vector (empty frame / all-NULL column) — the operators that
    size hyperplane literals from the data must degrade to an empty
    result instead of crashing on ``first()[0]`` of nothing."""
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return None if row is None else len(row[0])


def cross_embedding_neardup(
    new: DataFrame,
    ref: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-space cross-corpus decontamination — the semantic twin of
    ``dedup.cross_corpus_neardup`` (text MinHash): (new_id, ref_id, cos)
    for every NEW-corpus vector whose cosine to a REFERENCE vector (the
    eval/held-out set) clears the threshold, candidates restricted to
    shared SRP buckets. Only new×ref pairs are generated — never new×new
    or ref×ref, so adding a batch to a decontamination check never
    re-pairs the reference against itself. An empty (or all-NULL-vector)
    new or reference side yields an empty result, not a crash — the
    realistic incremental-crawl edge.

    Scale shape: one signature pass per side, then a bucket equi-join —
    the reference side is typically eval-suite-sized, so AQE broadcasts
    it; the new corpus never self-joins and nothing is quadratic beyond
    within-bucket pairs. Each side's hot buckets are capped at
    ``max_bucket`` members before the join (the text twin's MAX_BUCKET
    contract — NULL/zero vectors all land in bucket 0, so one degenerate
    bucket would otherwise fan out quadratically; documented recall
    trade). Recall per pair is (1 - θ/π)^n_planes — same dial as
    ``near_dup_pairs_embedding``."""
    dim = _vec_dim(new, vec_col)
    if dim is None or _vec_dim(ref, vec_col) is None:
        spark = new.sparkSession
        id_type = new.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"new_id {id_type}, ref_id {id_type}, cos double"
        )
    planes = hyperplanes(dim, n_planes, seed)

    def capped(side: DataFrame) -> DataFrame:
        # the signed side is read twice (bucket-size agg + the bucket
        # join), so persist it once — without this each side pays its
        # O(dim·n_planes) SRP fold twice (the cross_corpus_neardup
        # caching.persist pattern)
        side = caching.persist(side)
        sizes = side.groupBy("__sig").agg(F.count(F.lit(1)).alias("__bn"))
        return side.join(
            sizes.filter(F.col("__bn") <= int(max_bucket)), "__sig"
        ).drop("__bn")

    # per-row norms staged into the persisted sides (folded once per
    # vector, not once per candidate pair — the near_dup_pairs_embedding
    # rationale; same fold, same norm(a)*norm(b) multiply order)
    a = capped(
        new.select(
            srp_signature(vec_col, planes).alias("__sig"),
            F.col(id_col).alias("new_id"),
            F.col(vec_col).alias("__va"),
            norm(_vec_d(F.col(vec_col))).alias("__na"),
        )
    )
    b = capped(
        ref.select(
            srp_signature(vec_col, planes).alias("__sig"),
            F.col(id_col).alias("ref_id"),
            F.col(vec_col).alias("__vb"),
            norm(_vec_d(F.col(vec_col))).alias("__nb"),
        )
    )
    den = F.col("__na") * F.col("__nb")
    return (
        a.join(b, "__sig")
        .select(
            "new_id",
            "ref_id",
            F.round(
                dot(_vec_d(F.col("__va")), _vec_d(F.col("__vb")))
                / F.when(den > 0, den),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
