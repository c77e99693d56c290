"""BM25 full-text retrieval over the document corpus — the standard
keyword-scoring operator an analytics engine owes a training-data
pipeline (benchmark-query mining, targeted corpus slicing, weak-label
retrieval). Beyond-reference extension: the reference has no retrieval
surface; the formula is the published Okapi/Lucene BM25
(Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework").

Scale shape (the part that must survive 100 TB):

- tokens are filtered to the ≤|q| query terms BEFORE any shuffle, so the
  grouped rows are ``matching docs × |q|``, never corpus tokens;
- corpus statistics (N, avgdl) are one linear aggregate collected as two
  scalars; per-term document frequencies collect ≤|q| rows — all model
  artifacts are bounded by the query, not the corpus;
- idf weights ship back as a literal map (broadcast with the task
  closure), so scoring is a pure projection + one bounded groupBy;
- top-k is ``TakeOrderedAndProject`` on the int64 score — no full sort.

Cross-engine exactness (the repo's fixed-point pattern): each per-
(doc, term) BM25 part is computed in double with an IDENTICAL operation
order on both engines, then rounded half-away to a 1e-6 grid as int64;
per-doc scores are exact integer sums — invariant to aggregation order,
so the DuckDB oracle twin is hash-exact.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csvtool_spark.functions import caching
from csvtool_spark.functions.fixedpoint import half_away

from csvtool_spark.operators.dedup import normalized
from csvtool_spark.operators.textstats import tokens

#: fixed-point grid for score parts (6 decimal places)
_SCALE = 1_000_000.0




def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k documents by BM25 against ``query_terms``.

    Returns ``(id_col, score_fp, score)`` — ``score_fp`` is the exact
    int64 fixed-point sum (the deterministic ranking/compare key),
    ``score`` its 6-dp double rendering. Ties break on ascending id.
    Documents matching no query term are omitted (their score is 0).

    idf uses the Lucene non-negative variant
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``; N counts docs with non-null
    text, avgdl is their mean token length.

    Transcendental pairing: ``idf6`` is computed here with Python
    ``math.log`` while ``bm25_oracle_sql`` recomputes ``ln`` in DuckDB —
    BOTH route through the platform libm (glibc on this stack) on
    bit-identical double arguments (same formula, same parenthesization,
    integer-exact inputs), so the pair is the same-library case, not the
    JVM-vs-glibc one; no Spark-side ``F.log`` is involved anywhere.  On a
    hypothetical platform where Python linked a different libm than
    DuckDB, the exposure is bounded by half-grid boundary distance —
    ≤|q| idf values on a 1e-6 grid (measured ≥1e5 ulps from the nearest
    boundary on the catalog corpora).
    """
    terms = sorted({t.strip().lower() for t in query_terms if t and t.strip()})
    if not terms:
        raise ValueError("bm25_scores: query_terms must contain at least one term")
    toks = tokens(normalized(F.col(text_col)))

    # corpus stats: one linear pass, two scalars to the driver (bounded)
    st = df.filter(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size(toks)).alias("total")
    ).collect()[0]
    n_docs = int(st["n"])
    if n_docs == 0:
        raise ValueError("bm25_scores: corpus has no non-null documents")
    avgdl = int(st["total"]) / n_docs  # Python int/int ≡ DuckDB DOUBLE/BIGINT

    # per-(doc, term) tf — tokens filtered to query terms BEFORE the
    # shuffle. Persisted: the dfreq collect below AND the returned scoring
    # plan both read it; without the persist the corpus tokenize + explode
    # + shuffle (the dominant cost) would run twice (the near_dup_pairs
    # pattern). Tiny: matching docs × |q| rows. Persisted through
    # functions.caching, so an enclosing persist_scope releases it once
    # the ranking is consumed.
    tf = caching.persist(
        df.select(
            F.col(id_col),
            F.size(toks).alias("__dl"),
            F.explode(toks).alias("__tok"),
        )
        .filter(F.col("__tok").isin(*terms))
        .groupBy(id_col, "__dl", "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )

    # per-term df → idf6 literal map (≤|q| rows; same ln formula as oracle)
    dfreq = {r["__tok"]: int(r["n"]) for r in
             tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("n")).collect()}
    idf6 = {
        t: half_away(
            math.log(1.0 + (n_docs - dfn + 0.5) / (dfn + 0.5)) * _SCALE
        )
        for t, dfn in dfreq.items()
    }
    if not idf6:  # no term matched any document
        tf.unpersist()
        return (
            df.select(F.col(id_col))
            .limit(0)
            .withColumn("score_fp", F.lit(0).cast("long"))
            .withColumn("score", F.lit(0.0))
        )
    idf_map = F.map_from_arrays(
        F.array(*[F.lit(t) for t in sorted(idf6)]),
        F.array(*[F.lit(idf6[t]).cast("long") for t in sorted(idf6)]),
    )

    # the per-(doc, term) part — operation order mirrored EXACTLY in the
    # oracle SQL so the doubles agree bit-for-bit before the grid rounding
    k1p1 = float(k1 + 1.0)
    one_minus_b = float(1.0 - b)
    tfd = F.col("__tf").cast("double")
    dld = F.col("__dl").cast("double")
    tfpart = (tfd * F.lit(k1p1)) / (
        tfd + F.lit(float(k1)) * (F.lit(one_minus_b) + (F.lit(float(b)) * dld) / F.lit(avgdl))
    )
    part = (idf_map[F.col("__tok")].cast("double") / F.lit(_SCALE)) * tfpart
    part6 = F.floor(part * F.lit(_SCALE) + F.lit(0.5)).cast("long")  # part ≥ 0

    return (
        tf.select(F.col(id_col), part6.alias("__p6"))
        .groupBy(id_col)
        .agg(F.sum("__p6").alias("score_fp"))
        .select(
            id_col,
            "score_fp",
            F.round(F.col("score_fp") / F.lit(_SCALE), 6).alias("score"),
        )
        .orderBy(F.desc("score_fp"), F.asc(id_col))
        .limit(int(top_k))
    )


def bm25_oracle_sql(
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: identical tokenization, stats, idf grid, part formula
    (same parenthesization — IEEE doubles agree), grid rounding and
    integer sum. Float literals CAST to DOUBLE (DuckDB parses bare
    decimals as DECIMAL — the repo's established rule)."""
    terms = sorted({t.strip().lower() for t in query_terms if t and t.strip()})
    tlist = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    k1p1 = float(k1 + 1.0)
    one_minus_b = float(1.0 - b)

    def d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    return f"""
    WITH t AS (
      SELECT {id_col}, string_split(lower(trim({text_col})), ' ') AS toks
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    st AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
      FROM t
    ),
    x AS (SELECT {id_col}, len(toks) AS dl, unnest(toks) AS tok FROM t),
    tf AS (
      SELECT {id_col}, dl, tok, count(*) AS tf
      FROM x WHERE tok IN ({tlist}) GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT tok, count(*) AS dfn FROM tf GROUP BY tok),
    idf AS (
      SELECT tok,
             CAST(floor(ln({d(1.0)} + (st.n - dfn + {d(0.5)}) / (dfn + {d(0.5)}))
                        * {d(1_000_000.0)} + {d(0.5)}) AS BIGINT) AS idf6
      FROM dfq, st
    ),
    part AS (
      SELECT tf.{id_col},
             CAST(floor(((idf.idf6 / {d(1_000_000.0)}) *
               ((tf.tf * {d(k1p1)}) /
                (tf.tf + {d(float(k1))} * ({d(one_minus_b)} + ({d(float(b))} * tf.dl) / st.avgdl))))
               * {d(1_000_000.0)} + {d(0.5)}) AS BIGINT) AS p6
      FROM tf JOIN idf USING (tok), st
    ),
    sc AS (SELECT {id_col}, CAST(sum(p6) AS BIGINT) AS score_fp FROM part GROUP BY {id_col})
    SELECT {id_col}, score_fp, round(score_fp / {d(1_000_000.0)}, 6) AS score
    FROM sc ORDER BY score_fp DESC, {id_col} ASC LIMIT {int(top_k)}
    """
