"""Fuzzy string record linkage: join two tables on SIMILAR short strings
(names, titles, emails after canonicalization) — the entity-resolution
primitive corpus curation needs for author/source/site canonicalization.
Beyond-reference extension.

Method: character n-gram (default trigram) Jaccard, computed EXACTLY by
the arithmetic the repo's ``ngram_jaccard_pairs`` uses for word shingles:
``|A∩B|`` from an equi-join on distinct grams, ``|A∪B| = |A|+|B|−|A∩B|``
from tiny per-row gram-count tables — no gram arrays ship through the
join, no all-pairs comparison ever materializes. Blocking IS the gram
join: only string pairs sharing ≥1 gram are scored.

Skew guard: ``max_gram_freq`` drops grams occurring in more than that
many rows on a side ('ing', ' th' — quadratic candidate generators with
no discriminative power). Semantics are then Jaccard over the PRUNED
gram sets on both engines — a pinned, deterministic definition (rows
whose grams are all pruned simply produce no candidates).

Cross-engine exactness: grams are plain substrings of lower(trim(s));
counts are integers; the score is one int-derived double division
rounded to 6 dp — the DuckDB twin is hash-exact (randomized
differentials with typo-perturbed names).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csvtool_spark.functions import caching


def char_grams(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of ``lower(trim(col))``; strings shorter
    than ``n`` grams yield one whole-string gram; null → null (no
    candidates — the ``word_shingles`` contract)."""
    s = F.lower(F.trim(col))
    ln = F.length(s)
    grams = F.transform(
        F.sequence(F.lit(1), ln - F.lit(n - 1)),
        lambda i: s.substr(i, F.lit(n)),
    )
    return F.when(
        col.isNotNull(),
        F.when(ln >= n, F.array_distinct(grams)).otherwise(F.array(s)),
    )


def fuzzy_string_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: str,
    col_b: str,
    id_a: str,
    id_b: str,
    threshold: float = 0.5,
    n: int = 3,
    max_gram_freq: int | None = 1000,
) -> DataFrame:
    """(a_id, b_id, sim) — cross-table pairs with pruned-gram Jaccard
    ≥ ``threshold``. a×a and b×b pairs never form (two-sided join, the
    ``cross_corpus_neardup`` shape).

    Scale shape: one gram-explode per side, per-side frequency prune,
    per-row gram counts (tiny), the (gram → pair) equi-join, a
    (pair, shared-count) aggregation, and two id-keyed joins back to the
    count tables (AQE broadcasts them when small). Join rows are
    (gram, id) pairs — never the strings, never gram arrays.

    Persist lifecycle: up to four gram tables stay cached for the life
    of the returned lazy result (multi-consumer stages — freq aggregate,
    prune join, sizes, cross-side join). They are persisted through
    ``functions.caching.persist``, so an enclosing ``persist_scope``
    releases them once the action that consumes the pairs is done."""

    def side(df: DataFrame, idc: str, colc: str, alias: str):
        g = df.select(
            F.col(idc).alias(alias), char_grams(F.col(colc), n).alias("__g")
        ).select(alias, F.explode("__g").alias("g"))
        # persisted: the gram explode feeds the freq aggregate, the prune
        # join, the per-row sizes AND the cross-side join — different
        # shuffles, so without the persist the scan+explode re-runs per
        # consumer (the ngram_jaccard_pairs precedent; BM25's tf had the
        # same review finding).
        g = caching.persist(g)
        if max_gram_freq is not None:
            freq = g.groupBy("g").agg(F.count(F.lit(1)).alias("__f"))
            g = caching.persist(g.join(
                freq.filter(F.col("__f") <= int(max_gram_freq)), "g"
            ).drop("__f"))
        sizes = g.groupBy(alias).agg(F.count(F.lit(1)).alias(f"__n_{alias}"))
        return g, sizes

    ga, sa = side(df_a, id_a, col_a, "a_id")
    gb, sb = side(df_b, id_b, col_b, "b_id")
    inter = (
        ga.join(gb, "g")
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    sim = F.round(
        F.col("__i").cast("double")
        / (F.col("__n_a_id") + F.col("__n_b_id") - F.col("__i")).cast("double"),
        6,
    )
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", sim.alias("sim"))
        .filter(F.col("sim") >= float(threshold))
    )


def fuzzy_pairs_oracle_sql(
    table_a: str,
    table_b: str,
    col_a: str,
    col_b: str,
    id_a: str,
    id_b: str,
    threshold: float = 0.5,
    n: int = 3,
    max_gram_freq: int | None = 1000,
) -> str:
    """DuckDB twin — identical grams (substr over lower(trim)), prune
    rule, integer intersection/union arithmetic and rounding.
    ``table_a``/``table_b`` may be subquery expressions."""

    def grams_cte(tbl: str, idc: str, alias: str) -> str:
        c = col_a if alias == "a_id" else col_b
        base = f"""
      sel_{alias} AS (SELECT {idc} AS {alias}, lower(trim(t_{alias}.{c})) AS s
                      FROM {tbl} AS t_{alias} WHERE t_{alias}.{c} IS NOT NULL),
      g0_{alias} AS (
        SELECT {alias}, unnest(
          CASE WHEN len(s) >= {n}
               THEN list_distinct(list_transform(range(1, len(s) - {n} + 2),
                                                 i -> s[i:i+{n - 1}]))
               ELSE [s] END) AS g
        FROM sel_{alias}
      )"""
        if max_gram_freq is None:
            return base + f""",
      g_{alias} AS (SELECT * FROM g0_{alias})"""
        return base + f""",
      f_{alias} AS (SELECT g FROM g0_{alias} GROUP BY g
                    HAVING count(*) <= {int(max_gram_freq)}),
      g_{alias} AS (SELECT g0_{alias}.* FROM g0_{alias} JOIN f_{alias} USING (g))"""

    return f"""
    WITH {grams_cte(table_a, id_a, 'a_id')},
    {grams_cte(table_b, id_b, 'b_id')},
    sz_a AS (SELECT a_id, count(*) AS na FROM g_a_id GROUP BY a_id),
    sz_b AS (SELECT b_id, count(*) AS nb FROM g_b_id GROUP BY b_id),
    inter AS (
      SELECT a.a_id, b.b_id, count(*) AS i
      FROM g_a_id a JOIN g_b_id b USING (g)
      GROUP BY a.a_id, b.b_id
    )
    SELECT inter.a_id, inter.b_id,
           round(CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE), 6) AS sim
    FROM inter JOIN sz_a USING (a_id) JOIN sz_b USING (b_id)
    WHERE round(CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE), 6)
          >= CAST({float(threshold)!r} AS DOUBLE)
    """
