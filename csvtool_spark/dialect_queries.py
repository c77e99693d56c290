"""Harness entries that exercise the DIALECT FRONT-END end-to-end: each
query is csvtool-SQL text compiled by CsvEngine against the parquet tables,
hash-checked against a DuckDB oracle that mirrors the dialect's quirk
semantics (count→double, half-open BETWEEN, default-DESC order, null-safe
'=', truncating integer division, first-row DISTINCT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from csvtool_spark.engine import CsvEngine
from csvtool_spark.operators.textstats import langid_cte_sql
from csvtool_spark.queries import register

_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents",
]


def _engine(spark: SparkSession, sf_dir: str) -> CsvEngine:
    eng = CsvEngine(spark)
    eng.register_dir(sf_dir, _TABLES)
    return eng


def dialect(name: str, text: str, oracle: str | None, registered: bool = True):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _engine(spark, sf_dir).sql(text)

    fn.__name__ = name
    fn.__doc__ = f"dialect: {text}"
    register(name, oracle, registered=registered)(fn)


dialect(
    "q_dialect_filter",
    "select o_orderkey o_totalprice o_orderpriority from orders "
    "where o_totalprice > 400000 and o_orderstatus = F "
    "and o_orderpriority like '%g%' and o_orderkey not in (4, 8)",
    # bare word F is a literal (parser.go:446-511); '=' is null-safe;
    # LIKE is a case-insensitive anchored regex and IN is per-element
    # null-safe equality (selector.go:480-516) — widened in round 8 so
    # LIKE/IN keep in-window driver evidence after the round-7 swaps
    # demoted q_like_in/q_dialect_predicates to shadow
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_totalprice > 400000 AND o_orderstatus IS NOT DISTINCT FROM 'F'
      AND o_orderpriority ILIKE '%g%' AND o_orderkey NOT IN (4, 8)
    """,
)

dialect(
    "q_dialect_agg",
    "select o_orderpriority count(*) as cnt max(o_totalprice) as mx "
    "min(o_totalprice) as mn from orders group by o_orderpriority",
    # dialect count() returns FLOAT (treeProcess.go:81-84); min/max of
    # doubles are order-independent (float-sum aggregates live in the
    # direct-DataFrame catalog with integer-cents determinism instead)
    """
    SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS cnt,
           max(o_totalprice) AS mx, min(o_totalprice) AS mn
    FROM orders GROUP BY o_orderpriority
    """,
)

dialect(
    "q_dialect_join",
    "select c_custkey c_name n_name from customer c "
    "join nation n on c.c_nationkey = n.n_nationkey where n_name = NATION_3",
    # bare word NATION_3 is a string literal ('_' is a word character,
    # scanner.go:163)
    """
    SELECT c_custkey, c_name, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IS NOT DISTINCT FROM 'NATION_3'
    """,
    # shadow: dialect front-end stays driver-evidenced via q_dialect_filter
    # and q_dialect_agg, join semantics via q_join_left/q3/q5; slot freed
    # for q_mixture
    registered=False,
)

dialect(
    "q_dialect_leftjoin",
    # left join null-fill PLUS the scalar battery: '+' on strings
    # concatenates (value.go:330-335); int/int division truncates with
    # div-by-zero → null (value.go:406-435); '%' int-only
    "select c_custkey o_orderkey c_name + '-' + c_mktsegment as tag "
    "coalesce(c_name, unknown) as nm abs(c_acctbal) as ab "
    "c_custkey / c_nationkey as q c_custkey % 7 as m from customer c "
    "left join orders o on c.c_custkey = o.o_custkey",
    """
    SELECT c_custkey, o_orderkey, c_name || '-' || c_mktsegment AS tag,
           coalesce(c_name, 'unknown') AS nm, abs(c_acctbal) AS ab,
           CAST(trunc(CAST(c_custkey AS DOUBLE) / nullif(c_nationkey, 0)) AS BIGINT) AS q,
           c_custkey % 7 AS m
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    # shadow: left-join semantics stay driver-checked via q_join_left; the
    # scalar battery rides q_dialect_scalars in the local gate (window slot
    # freed for the round-2 scale operators)
    registered=False,
)

dialect(
    "q_dialect_topk",
    # o_totalprice has duplicate values → sort on the unique key for a
    # deterministic top-k row set (dialect default DESC)
    "select top 25 o_orderkey o_totalprice from orders order by o_orderkey",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey DESC LIMIT 25
    """,
    # shadow: q_orderby_topk is ALSO shadow now (session-4 swap), so
    # top-k/default-DESC has no driver row — evidence is the local gate
    # (both entries oracle-checked) plus the tests/test_dialect.py
    # ordering battery; TakeOrdered plan shape rides q_heavy_hitters /
    # q_ann_bruteforce driver rows
    registered=False,
)

dialect(
    "q_dialect_predicates",
    # LIKE is a case-insensitive anchored regex; IN uses null-safe equality
    # per element; BETWEEN is half-open (selector.go:480-516)
    "select p_partkey p_type p_brand from part "
    "where p_type like '%o%' and p_brand in ('Brand#1', 'Brand#2') "
    "and p_partkey not in (1, 2) and p_partkey between 100 and 1500",
    """
    SELECT p_partkey, p_type, p_brand FROM part
    WHERE p_type ILIKE '%o%' AND p_brand IN ('Brand#1', 'Brand#2')
      AND p_partkey NOT IN (1, 2)
      AND CASE WHEN p_partkey >= 100 THEN p_partkey < 1500 ELSE p_partkey >= 1500 END
    """,
    # shadow: LIKE/IN/half-open-BETWEEN stay driver-checked through the
    # direct-DataFrame twins (q_like_in, q_null_semantics); window slot
    # freed for q_dedup_clusters
    registered=False,
)

# shadow entries (outside the driver's 50-slot window, checked locally):
# first-row DISTINCT through the dialect compile path, and the standalone
# scalar battery whose registered twin rides q_dialect_leftjoin
dialect(
    "q_dialect_distinct",
    "select distinct c_mktsegment from customer",
    "SELECT DISTINCT c_mktsegment FROM customer",
    registered=False,
)

dialect(
    "q_dialect_scalars",
    "select c_custkey c_name + '-' + c_mktsegment as tag "
    "coalesce(c_name, unknown) as nm abs(c_acctbal) as ab "
    "c_custkey / c_nationkey as q c_custkey % 7 as m from customer",
    """
    SELECT c_custkey, c_name || '-' || c_mktsegment AS tag,
           coalesce(c_name, 'unknown') AS nm, abs(c_acctbal) AS ab,
           CAST(trunc(CAST(c_custkey AS DOUBLE) / nullif(c_nationkey, 0)) AS BIGINT) AS q,
           c_custkey % 7 AS m
    FROM customer
    """,
    registered=False,
)

dialect(
    "q_dialect_events_hour",
    # hour() over the nanos-timestamp events table (normalized to micros by
    # the engine's parquet reader); xor in the predicate
    "select event_id hour(ts) as h from events "
    "where (value > 50) xor (event_type = error)",
    """
    SELECT event_id, CAST(hour(ts) AS BIGINT) AS h FROM events
    WHERE (value > 50) <> (event_type IS NOT DISTINCT FROM 'error')
    """,
    # shadow: xor rides q_filter_bool, the events nanos path q_events_window
    registered=False,
)

dialect(
    "q_dialect_case_week",
    # dialect week() = dayofyear/7 integer division; year() is INT in the
    # dialect (compiled to long); date + '30 days' duration literal
    "select o_orderkey year(o_orderdate) as y week(o_orderdate) as wk "
    "o_orderdate + '30 days' as due dayofmonth(o_orderdate) as dom "
    "case when o_totalprice > 300000 then big else small end as bucket "
    "from orders where o_orderkey < 2000",
    """
    SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(dayofyear(o_orderdate) // 7 AS BIGINT) AS wk,
           o_orderdate + INTERVAL 30 DAY AS due,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
           CASE WHEN o_totalprice > 300000 THEN 'big' ELSE 'small' END AS bucket
    FROM orders WHERE o_orderkey < 2000
    """,
    # shadow: date parts / CASE stay driver-checked via q_dates_case
    registered=False,
)

_SMP_COIN = (
    "CAST(concat('0x', substr(md5('smp#' || CAST(__i AS VARCHAR)), 1, 8)) "
    "AS BIGINT)"
)

dialect(
    "q_dialect_sample",
    # deterministic TABLESAMPLE (engine extension, no reference analog):
    # scan rows numbered 0-based in file order, kept iff the 32-bit md5
    # coin md5('smp#' || i) < floor(0.2 * 2^32) = 858993459 — a pure
    # filter, reproducible cross-engine/run; composes with where
    "select o_orderkey o_totalprice from orders sample 0.2 "
    "where o_totalprice > 100000",
    f"""
    WITH numbered AS (
      SELECT o_orderkey, o_totalprice, row_number() OVER () - 1 AS __i
      FROM orders
    )
    SELECT o_orderkey, o_totalprice FROM numbered
    WHERE {_SMP_COIN} < 858993459 AND o_totalprice > 100000
    """,
    # driver window (r7 swap: q_profile_drift -> shadow)
)

dialect(
    "q_dialect_sample_n",
    # reservoir form: exactly N rows — the N smallest (coin, i) pairs, so
    # 'sample 10' is a subset of 'sample 20' (nested samples)
    "select o_orderkey o_orderstatus from orders sample 200",
    f"""
    WITH numbered AS (
      SELECT o_orderkey, o_orderstatus, row_number() OVER () - 1 AS __i
      FROM orders
    )
    SELECT o_orderkey, o_orderstatus FROM numbered
    ORDER BY {_SMP_COIN} ASC, __i ASC LIMIT 200
    """,
    # shadow: driver window full; locally gated
    registered=False,
)

# --- curation pipe ('|>' stages — engine extension, dialect/stages.py) -----
#
# The LLM-corpus operators reachable from the SQL surface: each stage is a
# thin adapter over csvtool_spark.operators, so these twins reuse the SAME
# DuckDB expression shapes as the operators' own catalog entries
# (q_text_langid / q_text_quality / q_dedup_exact / q_dedup_minhash_det /
# q_hash_split) — one definition per semantic, composed.

def _curate_oracle() -> str:
    # langid and quality SQL come from the textstats builders (generated
    # from LANG_MARKERS / ENGLISH_STOPWORDS) — one definition per
    # semantic, shared with q_text_langid / q_text_quality (round-8
    # review: the CTEs had been copy-pasted here)
    from csvtool_spark.operators.textstats import langid_cte_sql, quality_cte_sql

    return f"""
    WITH {langid_cte_sql("documents", "doc_id, lang, text")},
    {quality_cte_sql("lid", "doc_id, lang, text, lang_guess")},
    hk AS (SELECT *, md5(lower(trim(text))) AS __h FROM q
           WHERE quality >= 0.45e0),
    keep AS (SELECT __h, min(doc_id) AS doc_id FROM hk GROUP BY __h)
    SELECT doc_id, lang, text, lang_guess, quality
    FROM hk JOIN keep USING (__h, doc_id)
    WHERE CAST(concat('0x',
               substr(md5('hash_sample:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) < 3435973836
    """


dialect(
    "q_dialect_curate",
    # langid → quality cut → exact dedup (keep lowest id) → keyed sample:
    # the canonical cheap curation pass, all deterministic md5 machinery
    "select doc_id, lang, text from documents "
    "|> langid(text) |> quality(text, min=0.45) "
    "|> dedup(text, id=doc_id) |> hash_sample(0.8, key=doc_id)",
    _curate_oracle(),
    # driver window (r8 swap: q_text_quality -> shadow — its quality
    # expression is this entry's quality column, plus langid / exact-dedup
    # / keyed-sample all through the pipe surface in one row)
)


def _pipe_neardup_oracle() -> str:
    from csvtool_spark.operators.dedup import minhash_pairs_cte_sql

    return f"""
    WITH {minhash_pairs_cte_sql("documents", threshold=0.4)},
    losers AS (SELECT DISTINCT id_b FROM mh_pairs)
    SELECT d.doc_id, d.text,
           CASE WHEN CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 10000 < 8000 THEN 'train'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN losers l ON d.doc_id = l.id_b
    WHERE l.id_b IS NULL
    """


dialect(
    "q_dialect_pipe_neardup",
    # MinHash-LSH near-dup removal from the SQL surface (md5 lane — the
    # q_dedup_minhash_det pipeline, anti-joined as greedy lower-id keeps)
    # then a leakage-safe key-hash split label
    "select doc_id, text from documents "
    "|> neardup(text, id=doc_id, threshold=0.4) "
    "|> split(key=doc_id, train=0.8, test=0.2)",
    _pipe_neardup_oracle(),
    registered=False,  # shadow: the pair pipeline itself is in-window via
    # q_dedup_minhash_det; this entry pins the pipe-surface composition
)


def _q_dialect_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dialect: select doc_id, source, text from documents where source
    != src0 |> decontaminate(text, id=doc_id, ref=bench, k=4) — the
    GPT-3-style any-collision eval screen from the SQL surface, ref
    resolved through the engine registry (bench = the src0 slice)."""
    from pyspark.sql import functions as F

    from csvtool_spark.sources.parquet import read_table

    eng = _engine(spark, sf_dir)
    d = read_table(spark, sf_dir, "documents")
    eng.register("bench", d.filter(F.col("source") == "src0"))
    return eng.sql(
        "select doc_id, source, text from documents where source != src0 "
        "|> decontaminate(text, id=doc_id, ref=bench, k=4)"
    )


register(
    "q_dialect_decontaminate",
    # the q_contamination shingle CTEs (4-gram, same short-doc guard),
    # flipped from report to filter: survivors = non-src0 docs with zero
    # overlapping shingles against the src0 "eval suite"
    """
    WITH l AS (SELECT doc_id, source, text,
                      string_split(lower(trim(text)), ' ') AS toks
               FROM documents),
    s AS (
      SELECT doc_id, source, text,
             CASE WHEN len(toks) >= 4 THEN list_distinct(list_transform(
                    generate_series(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+3], ' ')))
                  ELSE [array_to_string(toks, ' ')] END AS sh
      FROM l
    ),
    b AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE source = 'src0'),
    c AS (SELECT doc_id, unnest(sh) AS shingle FROM s
          WHERE NOT (source IS NOT DISTINCT FROM 'src0')),
    bad AS (SELECT DISTINCT c.doc_id FROM c JOIN b USING (shingle))
    SELECT s.doc_id, s.source, s.text
    FROM s LEFT JOIN bad ON s.doc_id = bad.doc_id
    WHERE NOT (s.source IS NOT DISTINCT FROM 'src0') AND bad.doc_id IS NULL
    """,
    registered=False,  # shadow: contamination semantics are in-window via
    # q_cross_dedup; this entry pins the table-referencing pipe stage
)(_q_dialect_decontaminate)


def _despan_oracle() -> str:
    from csvtool_spark.operators.dedup import span_removal_oracle_sql

    inner = span_removal_oracle_sql(k=3, min_docs=2, keep="first")
    return f"""
    WITH base AS ({inner})
    SELECT doc_id, text_dedup AS text FROM base
    """


dialect(
    "q_dialect_pipe_despan",
    # duplicate-passage removal from the SQL surface: text rewritten in
    # place (k=3 windows so the corpus' near-dup families actually cover
    # positions at catalog scale), other columns untouched
    "select doc_id, text from documents |> despan(text, id=doc_id, k=3)",
    _despan_oracle(),
    registered=False,  # shadow: the rewrite semantics hold the in-window
    # q_span_removal slot; this entry pins the pipe-stage in-place form
)


dialect(
    "q_dialect_pipe_quota",
    # per-source cap (data-mixing): first 10 docs per source by doc_id
    "select doc_id, source from documents "
    "|> quota(source, cap=10, order=doc_id)",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
    registered=False,  # shadow: source_quota semantics also ride
    # q_source_quota in the local gate; this pins the pipe-stage form
)


dialect(
    "q_dialect_pipe_chunk",
    # 64-token windows / 8 overlap (stride 56) with a carried column and
    # the C4-style language gate upstream
    "select doc_id, source, text from documents "
    "|> langid(text, keep=en) |> chunk(text, id=doc_id, size=64, overlap=8)",
    "\n    WITH "
    + langid_cte_sql("documents", "doc_id, source, text")
    + """,
    l AS (SELECT doc_id, source, lang_guess,
                 string_split(coalesce(text, ''), ' ') AS toks
          FROM lid WHERE lang_guess = 'en'),
    s AS (SELECT *, greatest(1, (len(toks) - 8 + 55) // 56) AS nc FROM l),
    c AS (SELECT doc_id, source, lang_guess, toks,
                 unnest(generate_series(0, nc - 1)) AS chunk_id FROM s)
    SELECT doc_id, source,
           array_to_string(toks[chunk_id*56 + 1 : chunk_id*56 + 64], ' ')
             AS text,
           lang_guess,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(toks[chunk_id*56 + 1 : chunk_id*56 + 64]) AS BIGINT)
             AS n_chunk_tokens
    FROM c
    """,
    registered=False,  # shadow: chunking semantics also ride q_chunk_docs;
    # this pins the pipe-stage carried-column + language-gate composition
)


dialect(
    "q_dialect_pipe_pack",
    # tokens -> pack: the sequence-prep path from SQL. The oracle's one
    # global prefix-sum window is fine at oracle scale; the engine side
    # is the two-phase partition-offset scan (packing.pack_sequences)
    "select doc_id, source, text from documents "
    "|> tokens(text) |> pack(n_tokens, id=doc_id, budget=512)",
    """
    WITH t AS (
      SELECT doc_id, source, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      -- coalesce: the engine packs a NULL token count as a zero-token
      -- doc (stages.py _stage_pack); DuckDB least/greatest ignore NULLs,
      -- so raw NULL arithmetic here would emit a WRONG nonzero span
      SELECT doc_id, coalesce(n_tokens, 0) AS n0,
             CAST(coalesce(SUM(coalesce(n_tokens, 0)) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
      FROM t
    ),
    u AS (
      SELECT doc_id, s, s + n0 AS e,
             unnest(generate_series(s // 512,
               greatest(s // 512, (s + n0 - 1) // 512))) AS seq_id
      FROM c
    )
    SELECT t.doc_id, t.source, t.text, t.n_tokens, u.seq_id,
           greatest(u.s, u.seq_id * 512) - u.seq_id * 512 AS seq_offset,
           least(u.e, (u.seq_id + 1) * 512) - greatest(u.s, u.seq_id * 512)
             AS n_tok
    FROM u JOIN t USING (doc_id)
    """,
    registered=False,  # shadow: packing semantics hold the in-window
    # q_pack_sequences slot; this pins the pipe composition tokens->pack
)


def _q_dialect_pipe_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dialect: select doc_id, text from linedocs |> clean(text) — C4
    line-level cleaning through the pipe. The corpus is single-line token
    soup, so linedocs derives deterministic 25-token lines first (the
    q_paragraph_dedup derivation, single-newline separator)."""
    from pyspark.sql import functions as F

    from csvtool_spark.sources.parquet import read_table

    d = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nch = F.greatest(F.ceil(F.size(toks) / F.lit(25.0)).cast("int"), F.lit(1))
    lines = F.transform(
        F.sequence(F.lit(0), nch - F.lit(1)),
        lambda j: F.array_join(F.slice(toks, j * 25 + 1, 25), " "),
    )
    eng = _engine(spark, sf_dir)
    eng.register(
        "linedocs",
        d.select(
            "doc_id",
            F.when(F.col("text").isNull(), F.lit(None).cast("string"))
            .otherwise(F.array_join(lines, "\n"))
            .alias("text"),
        ),
    )
    return eng.sql(
        "select doc_id, text from linedocs |> clean(text, min_words=10, terminal=0)"
    )


def _pipe_clean_oracle() -> str:
    from csvtool_spark.operators.textstats import c4_clean_sql

    return f"""
    WITH dtoks AS (
      SELECT doc_id, text AS __orig, string_split(text, ' ') AS t
      FROM documents
    ),
    docs2 AS (
      SELECT doc_id,
             CASE WHEN __orig IS NULL THEN NULL ELSE
               array_to_string(list_transform(
                 range(0, greatest(CAST(ceil(len(t) / 25.0) AS BIGINT), 1)),
                 j -> array_to_string(t[j*25+1 : j*25+25], ' ')),
                 chr(10))
             END AS text
      FROM dtoks
    ),
    {c4_clean_sql("docs2", "doc_id", min_words=10, require_terminal=False)}
    SELECT doc_id, text_clean AS text FROM c4c WHERE NOT coalesce(c4_drop, false)
    """


register(
    "q_dialect_pipe_clean",
    _pipe_clean_oracle(),
    registered=False,  # shadow (r12 swap: -> q_dialect_pipe_mixture_temp):
    # the C4 clean stage end to end (line word-count + terminal-
    # punctuation + blocklist rules vs the generated DuckDB twin); the
    # per-row rewrite family keeps driver standing via q_dialect_curate
)(_q_dialect_pipe_clean)


dialect(
    "q_dialect_pipe_mixture",
    # token-budget data mixing from SQL: 50/30/20 target shares, the
    # q_mixture integer-arithmetic rate rule, deterministic hash coin
    "select doc_id, source, text from documents "
    "|> tokens(text) |> mixture(source, key=doc_id, tokens=n_tokens, "
    "src0=500000, src1=300000, src2=200000)",
    """
    WITH w(source, w_ppm) AS (
      VALUES ('src0', CAST(500000 AS BIGINT)),
             ('src1', CAST(300000 AS BIGINT)),
             ('src2', CAST(200000 AS BIGINT))
    ),
    n AS (SELECT doc_id, source, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
    c AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok
          FROM n GROUP BY source),
    s AS (SELECT c.source, tok, w_ppm FROM c JOIN w USING (source)),
    t AS (SELECT min(tok * 1000000 // w_ppm) AS T FROM s),
    r AS (SELECT source, least(1000000, w_ppm * t.T // tok) AS keep_ppm FROM s, t)
    SELECT n.doc_id, n.source, n.text, n.n_tokens, r.keep_ppm
    FROM n JOIN r USING (source)
    WHERE CAST(concat('0x',
            substr(md5('mixture:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 1000000 < r.keep_ppm
    """,
    registered=False,  # shadow: the mixing rule also rides q_mixture;
    # this pins the pipe-stage composition tokens -> mixture
)


dialect(
    "q_dialect_pipe_mixture_rates",
    # streaming-legal APPLY mode (r9): pre-computed keep rates, pure
    # CASE + coin filter — no global counts (sampling.mixture_apply)
    "select doc_id, source, text from documents "
    "|> mixture(source, key=doc_id, rates=1, "
    "src0=750000, src1=250000, src2=1000000)",
    """
    WITH r AS (
      SELECT doc_id, source, text,
             CASE source WHEN 'src0' THEN CAST(750000 AS BIGINT)
                         WHEN 'src1' THEN CAST(250000 AS BIGINT)
                         WHEN 'src2' THEN CAST(1000000 AS BIGINT)
             END AS keep_ppm
      FROM documents
    )
    SELECT doc_id, source, text, keep_ppm
    FROM r
    WHERE keep_ppm IS NOT NULL
      AND CAST(concat('0x',
            substr(md5('mixture:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 1000000 < keep_ppm
    """,
    registered=False,  # shadow: the share-mode twin above holds the
    # mixture slot; this pins the rates lane's CASE+coin semantics
)


def _pipe_mixture_temp_oracle() -> str:
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql

    sql, _ = chain_oracle_sql(
        "SELECT doc_id, source, text FROM documents",
        ["doc_id", "source", "text"],
        [
            ("tokens", {"text": "text"}),
            ("mixture", {"source": "source", "key": "doc_id",
                         "tokens": "n_tokens", "temperature": 0.5}),
        ],
    )
    return sql


dialect(
    "q_dialect_pipe_mixture_temp",
    # temperature rate-DERIVATION mode (r11): no explicit shares —
    # keep_ppm = 1e6*sqrt(n_min/n_s) from the corpus's own per-source
    # token totals (kept tokens ~ n^0.5, the multilingual upweighting
    # rule); alpha=0.5 rides the IEEE-sqrt lane so the twin is bit-exact
    "select doc_id, source, text from documents "
    "|> tokens(text) |> mixture(source, key=doc_id, tokens=n_tokens, "
    "temperature=0.5)",
    _pipe_mixture_temp_oracle(),
    # driver window (r12 swap: q_dialect_pipe_clean -> shadow): the
    # round-11 flagship — temperature rate DERIVATION through the pipe,
    # the rule multilingual recipes use to set mixing rates; the
    # composable twin builder generates this oracle, so the fuzzer's
    # shape is driver-pinned too
)


def _pipe_mixture_temp75_oracle() -> str:
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql

    sql, _ = chain_oracle_sql(
        "SELECT doc_id, source, text FROM documents",
        ["doc_id", "source", "text"],
        [
            ("tokens", {"text": "text"}),
            ("mixture", {"source": "source", "key": "doc_id",
                         "tokens": "n_tokens", "temperature": 0.75}),
        ],
    )
    return sql


dialect(
    "q_dialect_pipe_mixture_temp75",
    # the SECOND correctly-rounded exponent lane through the pipe:
    # alpha=0.75 -> exponent 0.25 as sqrt∘sqrt on both engines (round 12)
    "select doc_id, source, text from documents "
    "|> tokens(text) |> mixture(source, key=doc_id, tokens=n_tokens, "
    "temperature=0.75)",
    _pipe_mixture_temp75_oracle(),
    registered=False,  # shadow: standing gate row for the generated
    # twin's sqrt∘sqrt branch (the fuzzer draws it; this pins the exact
    # registered shape every run); alpha=0.5 holds the window slot
)


def _pipe_gopher_oracle() -> str:
    # twin WHERE generated from the SAME threshold constants as the
    # stage's filter — column order is the dict's order, which is also
    # the operator's output order
    from csvtool_spark.operators.textstats import (
        GOPHER_THRESHOLDS,
        gopher_oracle_sql,
    )

    cols = ", ".join(GOPHER_THRESHOLDS)
    conds = "\n      AND ".join(
        f"coalesce({c}, 0) <= {t}" for c, t in GOPHER_THRESHOLDS.items()
    )
    return f"""
    SELECT d.doc_id, d.text, {cols}
    FROM documents d JOIN ({gopher_oracle_sql()}) g USING (doc_id)
    WHERE {conds}
    """


dialect(
    "q_dialect_pipe_gopher",
    # Gopher Table A1 repetition gate from SQL: append the char-fraction
    # signals and drop documents exceeding any paper threshold
    "select doc_id, text from documents |> gopher(text, filter=1)",
    _pipe_gopher_oracle(),
    registered=False,  # shadow (r13 swap: slot given to
    # q_orc_roundtrip — round-12 directive #2; the gopher family keeps
    # q_gopher_repetition oracle-green in shadow and this row stays in
    # the 156-entry local gate; was in-window r9-r12)
)


def _pipe_ccdedup_oracle() -> str:
    from csvtool_spark.operators.dedup import minhash_pairs_cte_sql

    return f"""
    WITH RECURSIVE {minhash_pairs_cte_sql("documents", threshold=0.4)},
    e AS (SELECT id_a AS u, id_b AS v FROM mh_pairs
          UNION ALL SELECT id_b, id_a FROM mh_pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
    SELECT d.doc_id, d.text
    FROM documents d JOIN comp USING (doc_id)
    WHERE doc_id = component
    """


def _pipe_filter_oracle() -> str:
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql

    sql, _ = chain_oracle_sql(
        "SELECT doc_id, text FROM documents",
        ["doc_id", "text"],
        [
            ("tokens", {"text": "text"}),
            # int literals in the query text -> int params, so the twin
            # mirrors the engine's exact int64 lane (_num_kwarg)
            ("filter", {"col": "n_tokens", "min": 30, "max": 90}),
        ],
    )
    return sql


dialect(
    "q_dialect_pipe_filter",
    # range gate on a STAGE-APPENDED column (the query's WHERE runs
    # before the pipe and cannot see n_tokens)
    "select doc_id, text from documents "
    "|> tokens(text) |> filter(n_tokens, min=30, max=90)",
    _pipe_filter_oracle(),
    # driver window (r11 swap: q_pq_compare -> shadow): the post-append
    # range gate every curation recipe ends with, carrying the int64 /
    # 2^53-double literal-lane contract pinned in test_properties
)


def _pipe_normalize_oracle() -> str:
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql

    sql, _ = chain_oracle_sql(
        "SELECT doc_id, text FROM documents",
        ["doc_id", "text"],
        [
            ("normalize", {"text": "text"}),
            ("fingerprint", {"text": "text"}),
        ],
    )
    return sql


dialect(
    "q_dialect_pipe_normalize",
    # the motivating composition: normalize BEFORE hashing so byte-variant
    # copies of one text fingerprint identically (ICU4J NFC in the JVM
    # vs DuckDB's utf8proc — unicode probes pinned in pytest)
    "select doc_id, text from documents |> normalize(text) "
    "|> fingerprint(text)",
    _pipe_normalize_oracle(),
    registered=False,  # shadow (r12 swap: -> q_mixture_temperature):
    # NFC cleanup ahead of fingerprinting (utf8proc twin, probe-pinned);
    # per-row rewrite coverage stays driver-evidenced via
    # q_dialect_curate + q_pii_scrub, and the unicode probes stay pytest
)


def _pipe_quota_tokens_oracle() -> str:
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql

    sql, _ = chain_oracle_sql(
        "SELECT doc_id, source, text FROM documents",
        ["doc_id", "source", "text"],
        [
            ("tokens", {"text": "text"}),
            ("quota", {"group": "source", "order": "doc_id",
                       "cap": 300, "tokens": "n_tokens"}),
        ],
    )
    return sql


dialect(
    "q_dialect_pipe_quota_tokens",
    # token-BUDGET quota from SQL ("at most N tokens per domain"): keep
    # docs per source, in id order, while the running token sum <= cap
    "select doc_id, source, text from documents "
    "|> tokens(text) |> quota(source, cap=300, order=doc_id, tokens=n_tokens)",
    _pipe_quota_tokens_oracle(),
    # driver window (r10 swap: q_cluster_sample -> shadow): the
    # token-BUDGET quota — the mixing rule training recipes state
    # ("at most N tokens per domain"), one shuffle + running prefix sum
)


def _pipe_shard_oracle() -> str:
    # generated by the COMPOSABLE twin builder (dialect.stage_oracles) —
    # the same machinery the pipe-chain fuzzer uses, so the catalog pins
    # that composer's shard shape too
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql

    sql, _ = chain_oracle_sql(
        "SELECT doc_id, source FROM documents",
        ["doc_id", "source"],
        [("shard", {"n": 16, "key": "doc_id"})],
    )
    return sql


dialect(
    "q_dialect_pipe_shard",
    # deterministic balanced output sharding from SQL: salted key coin
    # mod 16 — the write-layout step before partitionBy('shard')
    "select doc_id, source from documents |> shard(n=16, key=doc_id)",
    _pipe_shard_oracle(),
    # driver window (r11 swap: q_priority_sample -> shadow): the
    # write-layout stage — salted-coin shard assignment now carrying the
    # exactly-N-dirs x one-file disk contract (tests/test_writer_layout)
)


def _pipe_bestdedup_oracle() -> str:
    from csvtool_spark.operators.dedup import minhash_pairs_cte_sql

    return f"""
    WITH RECURSIVE {minhash_pairs_cte_sql("documents", threshold=0.4)},
    e AS (SELECT id_a AS u, id_b AS v FROM mh_pairs
          UNION ALL SELECT id_b, id_a FROM mh_pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, reach.r FROM e JOIN reach ON reach.id = e.v
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
    SELECT d.doc_id, d.n_chars, d.text
    FROM documents d JOIN comp USING (doc_id)
    QUALIFY row_number() OVER (
      PARTITION BY component
      ORDER BY coalesce(CAST(d.n_chars AS DOUBLE),
                        CAST('-infinity' AS DOUBLE)) DESC,
               d.doc_id ASC) = 1
    """


dialect(
    "q_dialect_pipe_bestdedup",
    # the SemDeDup-style survivor rule from SQL: transitive closure over
    # the verified MinHash pairs, keep the BEST-scoring member per
    # cluster (by=n_chars here; ties -> lowest id, NULL scores lose) —
    # components.canonical_select under the ccdedup closure twin
    "select doc_id, n_chars, text from documents "
    "|> neardup(text, id=doc_id, threshold=0.4, transitive=1, by=n_chars)",
    _pipe_bestdedup_oracle(),
    registered=False,  # shadow (r12 swap: -> q_tsv_roundtrip): the
    # SemDeDup keep-best survivor rule (closure + QUALIFY-argmax twin);
    # the near-dup family keeps q_dedup_minhash_det + the ccdedup
    # closure in window, and this row stays dtype-exact in the local gate
)


dialect(
    "q_dialect_pipe_ccdedup",
    # transitive-closure near-dup from SQL: connected components over the
    # verified MinHash pairs, exactly one survivor per duplicate cluster
    "select doc_id, text from documents "
    "|> neardup(text, id=doc_id, threshold=0.4, transitive=1)",
    _pipe_ccdedup_oracle(),
    # driver window (r9 swap: q_dedup_clusters -> shadow): the canonical
    # corpus dedup — transitive closure over verified MinHash pairs with
    # one survivor per cluster, reached from SQL, with a WITH RECURSIVE
    # closure twin
)
