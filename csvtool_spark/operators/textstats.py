"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

Everything here is a pure ``pyspark.sql.functions`` Column tree (no UDFs) —
stays inside whole-stage codegen and scales linearly with the scan. Each
builder has a DuckDB-equivalent SQL shape used by the harness oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from csvtool_spark.functions import caching

#: BPE-ish token pattern: word pieces, digit runs, or single punctuation.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Small per-language marker-word sets for the n-gram/stopword language
#: heuristic. Real pipelines plug in fastText or CLD3 via mapInPandas; the
#: heuristic keeps language-ID expressible as a pure column tree.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "une", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "für"],
    "es": ["el", "la", "los", "de", "y", "es", "una", "en", "por", "que"],
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"]


def tokens(col: Column) -> Column:
    """Whitespace tokens (documents are single-space separated)."""
    return F.split(col, " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("long")


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish regex tokens — a cheap proxy for subword token
    counts when no tokenizer model is available."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_REGEX), F.lit(0))).cast("long")


def stopword_count(col: Column, words: list[str] | None = None) -> Column:
    ws = words or ENGLISH_STOPWORDS
    return F.size(
        F.filter(tokens(F.lower(col)), lambda t: t.isin(*ws))
    ).cast("long")


def distinct_token_ratio(col: Column) -> Column:
    """Distinct/total token ratio — low values flag repetitive spam."""
    n = F.size(tokens(col))
    return F.when(n > 0, F.size(F.array_distinct(tokens(col))).cast("double") / n.cast("double"))


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]: favors documents with a sane
    token count, word diversity and stopword presence — the standard cheap
    pre-filter shape for LLM training corpora (C4-style)."""
    n = token_count(col).cast("double")
    length_ok = F.when((n >= 10) & (n <= 5000), 1.0).otherwise(0.3)
    diversity = F.coalesce(distinct_token_ratio(col), F.lit(0.0))
    stop = F.coalesce(
        stopword_count(col).cast("double") / F.when(n > 0, n), F.lit(0.0)
    )
    stop_ok = F.when(stop > 0.02, 1.0).otherwise(0.5)
    return F.round((length_ok * 0.4 + diversity * 0.4 + stop_ok * 0.2), 6)


def _packed_marker_total(col: Column) -> Column:
    """All marker counts in ONE pass over the token array, bit-packed into
    an array of two longs: a literal map sends each marker word to its
    increment pair — language i lives in long i//2, bits 0..31 or 32..63
    (words on several lists — 'la', 'de', 'en' — carry the sum of their
    languages' increments) — and one aggregate fold zip-adds them. 32 bits
    per field means a single document would need 2³¹ marker tokens to
    overflow a field (beyond any array size), and the per-long sum stays
    < 2⁶³ — ANSI-safe. (16-bit fields in one long would crash the top
    field at 2¹⁵ tokens: the sign bit.)"""
    langs = list(LANG_MARKERS)
    packed: dict[str, list[int]] = {}
    for i, lang in enumerate(langs):
        for w in LANG_MARKERS[lang]:
            pair = packed.setdefault(w, [0, 0])
            pair[i // 2] += 1 << (32 * (i % 2))
    entries = []
    for w, (v0, v1) in sorted(packed.items()):
        entries.extend(
            [F.lit(w), F.array(F.lit(v0).cast("long"), F.lit(v1).cast("long"))]
        )
    m = F.create_map(*entries)
    zero = F.array(F.lit(0).cast("long"), F.lit(0).cast("long"))
    return F.aggregate(
        tokens(F.lower(col)),
        zero,
        lambda acc, t: F.zip_with(
            acc,
            F.coalesce(F.try_element_at(m, t), zero),
            lambda a, b: a + b,
        ),
    )


def _unpack_count(tot: Column, i: int) -> Column:
    return (
        F.call_function("shiftrightunsigned", tot[i // 2], F.lit(32 * (i % 2)))
        .bitwiseAND(F.lit(0xFFFFFFFF))
        .cast("long")
    )


def cjk_char_count(col: Column) -> Column:
    return F.length(F.regexp_replace(col, r"[^一-鿿]", "")).cast("long")


def lang_id(col: Column, kernel: str = "arrow") -> Column:
    """Language guess per document. ``kernel``:

    - 'arrow' (default): ``lang_id_arrow`` — tokens are lowered/split and
      CJK-counted JVM-side, then a vectorized Arrow kernel does the
      marker-set counting + argmax. Spark runs higher-order-function
      lambdas interpreted, so the packed-fold column tree pays a per-token
      map lookup; the numpy-side membership count is ~0.3-0.5 s cheaper on
      the sf0.1 bench corpus. Decision-rule-identical to 'jvm'
      (differential-tested, incl. Unicode lower() edge cases — both
      variants lower with the same JVM expression, so they cannot drift).
    - 'jvm': ``lang_id_jvm`` — the pure column tree (whole-stage codegen,
      no Python workers); the right choice inside larger column
      expressions or UDF-free environments."""
    if kernel == "arrow":
        return lang_id_arrow(col)
    if kernel == "jvm":
        return lang_id_jvm(col)
    raise ValueError(f"kernel must be 'arrow' or 'jvm', got {kernel!r}")


def lang_id_jvm(col: Column) -> Column:
    """Argmax over marker-word counts, with a CJK-character override.
    Deterministic tie-break: language key order en > fr > de > es.

    The marker counts come from the single-pass packed fold; wrapping the
    decision in a one-element ``transform`` let-binds the fold result so
    the argmax references a computed variable instead of re-inlining the
    fold per comparison (Catalyst CollapseProject would otherwise expand
    it ~8× — measured 4× slower than even the four-filter formulation)."""

    def decide(tot: Column) -> Column:
        # winner = first language (en,fr,de,es order) achieving the max
        best = F.lit("unknown")
        best_n = F.lit(0).cast("long")
        for i, lang in enumerate(LANG_MARKERS):
            c = _unpack_count(tot, i)
            take = c > best_n
            best = F.when(take, F.lit(lang)).otherwise(best)
            best_n = F.when(take, c).otherwise(best_n)
        return best

    best = F.transform(F.array(_packed_marker_total(col)), decide)[0]
    return F.when(cjk_char_count(col) * 4 > F.length(col), F.lit("zh")).otherwise(best)


def token_counts(df, text_col: str):
    """Corpus token counts (token, n) — the word-count aggregate shared by
    batch heavy hitters and the streaming vocabulary (one definition so
    the twins cannot drift on tokenization or count dtype). Explode →
    hash-aggregate with map-side partial combine: the shuffle carries one
    row per DISTINCT token per task, not per occurrence."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def heavy_hitters(df, text_col: str, k: int = 50):
    """Exact corpus-level top-k tokens — the vocabulary/heavy-hitters stat
    every training-data pipeline reports: ``token_counts`` topped with
    TakeOrdered k. Deterministic tie-break: count desc, token asc."""
    return token_counts(df, text_col).orderBy(F.col("n").desc(), F.col("token")).limit(k)


def repetition_stats(df, text_col: str, id_col: str = "doc_id"):
    """Gopher-style repetition signals per document: duplicate-word
    fraction, top-word fraction, duplicate-3-gram fraction (Rae et al.
    2021 §A1.1 use these to drop boilerplate/spam before LLM training).

    Scale shape: the array-derivable stats (token count, distinct tokens,
    distinct 3-grams) are pure per-row column expressions — zero shuffle.
    Only the top-word count needs cross-row state per document, and that is
    the classic word-count two-level hash aggregate: explode → partial
    combine on (doc, token) → max per doc. Shuffle rows are bounded by
    distinct (doc, token) pairs, never raw token occurrences, and the small
    per-doc stats ride along instead of paying a second join shuffle.
    """
    toks = tokens(F.lower(F.col(text_col)))
    from csvtool_spark.operators.dedup import word_shingles

    carried = ["n_tokens", "n_distinct", "n_3gram", "n_distinct_3gram"]
    staged = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.greatest(F.size(toks) - F.lit(2), F.lit(1)).cast("long").alias("n_3gram"),
        F.size(word_shingles(toks, 3)).cast("long").alias("n_distinct_3gram"),
        F.explode(toks).alias("__tok"),
    )
    per_tok = staged.groupBy(id_col, "__tok").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.first(c).alias(c) for c in carried],
    )
    agg = per_tok.groupBy(id_col).agg(
        F.max("__n").cast("long").alias("__top"),
        *[F.first(c).alias(c) for c in carried],
    )
    nt = F.col("n_tokens").cast("double")
    return agg.select(
        id_col,
        F.col("n_tokens"),
        (F.lit(1.0) - F.col("n_distinct").cast("double") / nt).alias("dup_word_frac"),
        (F.col("__top").cast("double") / nt).alias("top_word_frac"),
        (
            F.lit(1.0)
            - F.col("n_distinct_3gram").cast("double") / F.col("n_3gram").cast("double")
        ).alias("dup_3gram_frac"),
    )


#: Gopher repetition-filter families (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher", Table A1):
#: duplicate line AND paragraph fractions (paragraphs = '\n\n'-split,
#: same Counter math at both granularities), most-frequent-n-gram
#: character coverage for small n, duplicated-n-gram character coverage
#: for large n. ONE definition shared by the operator, the pipe stage's
#: filter and the generated DuckDB twin, so they can never drift (the
#: r8 lesson). Threshold values are Table A1's.
GOPHER_TOP_NS = (2, 3, 4)
GOPHER_DUP_NS = (5, 6, 7, 8, 9, 10)
GOPHER_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_frac": 0.30,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def _rep_fold(arr: Column) -> Column:
    """(top, dupall, dupx) over a string multiset, computed per row with
    NO shuffle: sort the array, then one linear fold over equal-adjacent
    runs — ``top`` = max run_count·len (heaviest element's char
    coverage), ``dupall`` = Σ run_count·len over elements occurring ≥ 2
    times, ``dupx`` = Σ (run_count−1)·len (beyond-first occurrences).
    ``run == 0`` marks "no previous element", so a REAL empty-string
    element (blank line) is never confused with the initial state."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dupall"),
        F.lit(0).cast("long").alias("dupx"),
    )

    def flush(acc):
        cover = acc["run"] * F.length(acc["prev"])
        zero = F.lit(0).cast("long")
        dup = acc["run"] >= 2
        return (
            F.greatest(acc["top"], cover),
            acc["dupall"] + F.when(dup, cover).otherwise(zero),
            acc["dupx"]
            + F.when(
                dup, (acc["run"] - 1) * F.length(acc["prev"])
            ).otherwise(zero),
        )

    def step(acc, g):
        same = (acc["run"] > 0) & (acc["prev"] == g)
        t, da, dx = flush(acc)
        one = F.lit(1).cast("long")
        return F.struct(
            g.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(one).alias("run"),
            F.when(same, acc["top"]).otherwise(t).alias("top"),
            F.when(same, acc["dupall"]).otherwise(da).alias("dupall"),
            F.when(same, acc["dupx"]).otherwise(dx).alias("dupx"),
        )

    def finish(acc):
        t, da, dx = flush(acc)
        return F.struct(t.alias("top"), da.alias("dupall"), dx.alias("dupx"))

    return F.aggregate(F.array_sort(arr), init, step, finish)


def _gopher_arrow(text_col: Column) -> Column:
    """Arrow kernel for ``gopher_repetition``: one batch-transferred
    pandas_udf computing every signal per document. Since round 13 the
    per-batch math is vectorized numpy instead of per-document Python
    Counters (guide §4.2 — hand whole batches to native code): parts and
    tokens are pandas-``factorize``d to int codes once per batch, n-gram
    identities build iteratively by pairing the (n-1)-gram id with the
    next token code (one ``np.unique`` per n — injective, so counts
    equal the string-Counter's exactly), window char lengths come from a
    token-length prefix sum (``len(' '.join(w)) == Σlen + n-1``), and
    the per-document max/sum reduce with ``np.maximum/add.reduceat``.
    All counts and lengths are int64 — bit-identical values to the
    Counter form (differential-pinned); only the final divisions are
    float, with the same operand values and order. ~2× per-batch over
    the Counter kernel (sf0.1: 1.57 s → 0.8 s). Self-contained closure
    (worker processes import nothing from this module)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    top_ns = tuple(GOPHER_TOP_NS)
    dup_ns = tuple(GOPHER_DUP_NS)
    names = tuple(GOPHER_THRESHOLDS)
    ddl = ", ".join(f"{c} double" for c in names)

    @pandas_udf(ddl)
    def kernel(s):
        import numpy as np

        def seg_stats(parts_all, doc_of, nd):
            """Per-(doc, distinct part): counts + a first-occurrence
            index, for dup-part and dup-char stats. Returns arrays
            (doc id per unique, count, first flat index)."""
            codes, _ = pd.factorize(np.asarray(parts_all, dtype=object))
            ncodes = np.int64(codes.max()) + 1 if len(codes) else np.int64(1)
            dk = doc_of * ncodes + codes
            u, first, cnt = np.unique(dk, return_index=True, return_counts=True)
            return (u // ncodes).astype(np.int64), cnt, first

        n_rows = len(s)
        rows: list = [None] * n_rows
        valid, texts = [], []
        for i, t in enumerate(s):
            if t is None:
                rows[i] = {c: None for c in names}
            else:
                valid.append(i)
                texts.append(t)
        if texts:
            nd = len(texts)
            res: list[dict] = [dict() for _ in range(nd)]
            # --- line / paragraph duplication ---
            for unit, sep in (("line", "\n"), ("para", "\n\n")):
                parts_l = [t.split(sep) for t in texts]
                np_arr = np.asarray([len(p) for p in parts_l], dtype=np.int64)
                flat = [x for p in parts_l for x in p]
                doc_of = np.repeat(np.arange(nd, dtype=np.int64), np_arr)
                plens = np.fromiter(map(len, flat), np.int64, len(flat))
                dids, cnt, first = seg_stats(flat, doc_of, nd)
                # distinct count per doc
                bnd = np.flatnonzero(np.r_[True, np.diff(dids) > 0])
                ndis = np.add.reduceat(np.ones_like(cnt), bnd)
                dupx = np.add.reduceat(
                    np.where(cnt >= 2, (cnt - 1) * plens[first], 0), bnd
                )
                docs_with = dids[bnd]
                ndis_d = np.zeros(nd, dtype=np.int64)
                dupx_d = np.zeros(nd, dtype=np.int64)
                ndis_d[docs_with] = ndis
                dupx_d[docs_with] = dupx
                allch = np.zeros(nd, dtype=np.int64)
                np.add.at(allch, doc_of, plens)
                for d in range(nd):
                    npd = int(np_arr[d])
                    res[d][f"dup_{unit}_frac"] = (npd - int(ndis_d[d])) / npd
                    ac = int(allch[d])
                    res[d][f"dup_{unit}_char_frac"] = (
                        int(dupx_d[d]) / ac if ac > 0 else None
                    )
            # --- n-gram coverage ---
            toks_l = [t.lower().split(" ") for t in texts]
            chars_d = [len(t) for t in texts]
            nt_np = np.asarray([len(x) for x in toks_l], dtype=np.int64)
            flat = [x for p in toks_l for x in p]
            W = len(flat)
            codes, _ = pd.factorize(np.asarray(flat, dtype=object))
            codes = codes.astype(np.int64)
            ncodes = np.int64(codes.max()) + 1 if W else np.int64(1)
            starts = np.zeros(nd + 1, dtype=np.int64)
            np.cumsum(nt_np, out=starts[1:])
            doc_of = np.repeat(np.arange(nd, dtype=np.int64), nt_np)
            tok_lens = np.fromiter(map(len, flat), np.int64, W)
            prefix = np.zeros(W + 1, dtype=np.int64)
            np.cumsum(tok_lens, out=prefix[1:])
            pos_in_doc = np.arange(W, dtype=np.int64) - starts[doc_of]
            prev = codes
            nprev = ncodes
            for n in range(2, max(*top_ns, *dup_ns) + 1):
                wanted = n in top_ns or n in dup_ns
                key = (
                    f"top_{n}gram_char_frac"
                    if n in top_ns
                    else f"dup_{n}gram_char_frac"
                )
                L = W - n + 1
                if L <= 0:
                    if wanted:
                        for d in range(nd):
                            res[d][key] = None
                    prev = prev[:0]
                    continue
                keys = prev[:L] * ncodes + codes[n - 1:]
                u, inv = np.unique(keys, return_inverse=True)
                prev = inv.astype(np.int64)
                nprev = np.int64(len(u))
                if not wanted:
                    continue
                mask = pos_in_doc[:L] + n <= nt_np[doc_of[:L]]
                p = np.flatnonzero(mask)
                vals: dict[int, int] = {}
                if len(p):
                    dk = doc_of[p] * nprev + prev[p]
                    u2, first, cnt = np.unique(
                        dk, return_index=True, return_counts=True
                    )
                    p0 = p[first]
                    lens = prefix[p0 + n] - prefix[p0] + (n - 1)
                    v = cnt * lens
                    dids = (u2 // nprev).astype(np.int64)
                    bnd = np.flatnonzero(np.r_[True, np.diff(dids) > 0])
                    if n in top_ns:
                        agg = np.maximum.reduceat(v, bnd)
                    else:
                        agg = np.add.reduceat(np.where(cnt >= 2, v, 0), bnd)
                    vals = {int(d): int(x) for d, x in zip(dids[bnd], agg)}
                for d in range(nd):
                    chars = chars_d[d]
                    if chars == 0 or int(nt_np[d]) < n:
                        res[d][key] = None
                    elif n in top_ns:
                        res[d][key] = vals.get(d, 0) / chars
                    else:
                        res[d][key] = min(1.0, vals.get(d, 0) / chars)
            for i, r in zip(valid, res):
                rows[i] = r
        return pd.DataFrame(rows, columns=list(names))

    return kernel(text_col)


def gopher_repetition(
    df, text_col: str, id_col: str = "doc_id", kernel: str = "arrow"
):
    """Gopher repetition filters, char-fraction form (Rae et al. 2021
    Table A1) — the signals real pretraining pipelines threshold on,
    complementing ``repetition_stats``' word-fraction trio:

    - ``dup_line_frac``: line occurrences beyond their first distinct
      line / total lines ('\\n'-split);
    - ``dup_line_char_frac``: characters of those beyond-first line
      occurrences / total line characters (NULL when the doc has no
      line characters);
    - ``dup_para_frac`` / ``dup_para_char_frac``: the same pair at
      paragraph granularity ('\\n\\n'-split — Table A1 specifies both
      granularities; round-10 directive 5);
    - ``top_{n}gram_char_frac`` (n in GOPHER_TOP_NS): the character
      coverage ``count·len(gram)`` of the heaviest word n-gram divided
      by ``len(text)`` — max of coverage, so count ties are
      deterministic without a lexicographic tie-break;
    - ``dup_{n}gram_char_frac`` (n in GOPHER_DUP_NS): summed coverage of
      n-grams occurring ≥ 2 times / ``len(text)``, capped at 1.0 (the
      overlap-agnostic form — Gopher's exact non-double-counting needs
      positional interval union; documented simplification).

    NULL text → every signal NULL; a doc shorter than n words has NULL
    for that n (signal undefined, not zero). Every doc in ``df`` appears
    exactly once.

    Scale shape — the signals are PER-DOCUMENT, so two of the three
    kernels compute them with ZERO shuffle; pick by context (all three
    bit-identical, randomized-tested against a Python reference):

    - ``kernel='arrow'`` (default): one batch-transferred pandas_udf,
      hash-Counter per document — shuffle-free, streaming-legal and the
      fastest measured (sf0.1 warm: 0.2 s vs 1.4 s explode vs 2.0 s
      column; the repo's pq_encode/kmeans precedent — interpreted HOF
      evaluation loses to an Arrow batch kernel);
    - ``kernel='column'``: per n, sort the row's gram array and run one
      linear fold over equal-adjacent runs (``_rep_fold``) — pure Column
      tree, no Python workers, streaming-legal; the oracle-shaped lane;
    - ``kernel='explode'``: the relational formulation (ONE explode over
      lines + n-tagged grams, an (id, n, gram) count, an (id, n) fold, a
      per-id pivot). It shuffles ~(families × tokens) rows — corpus-
      sized traffic for a per-row metric — kept ONLY as the differential
      twin; at 100 TB the shuffle-free kernels are the right shape."""
    if kernel == "arrow":
        return df.select(
            F.col(id_col), _gopher_arrow(F.col(text_col)).alias("__g")
        ).select(id_col, "__g.*")
    if kernel not in ("column", "explode"):
        raise ValueError(
            f"kernel must be 'arrow', 'column' or 'explode', got {kernel!r}"
        )
    txt = F.col(text_col)
    toks = tokens(F.lower(txt))
    lines = F.split(txt, "\n")
    paras = F.split(txt, "\n\n")
    nt = F.size(toks)

    if kernel == "column":
        def gram_arr(n: int) -> Column:
            return F.when(
                nt >= n,
                F.transform(
                    F.sequence(F.lit(0), nt - F.lit(n)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                ),
            )  # NULL (not empty) when too short → that n's signals stay NULL

        chars = F.length(txt)
        chars_ok = chars > 0
        cols = []
        for unit, arr in (("line", lines), ("para", paras)):
            uf = _rep_fold(arr)
            allch = F.aggregate(
                arr,
                F.lit(0).cast("long"),
                lambda acc, l: acc + F.length(l),
            )
            cols.extend([
                (
                    (F.size(arr) - F.size(F.array_distinct(arr))).cast("double")
                    / F.size(arr)
                ).alias(f"dup_{unit}_frac"),
                F.when(allch > 0, uf["dupx"].cast("double") / allch).alias(
                    f"dup_{unit}_char_frac"
                ),
            ])
        for n in GOPHER_TOP_NS:
            cols.append(
                F.when(
                    chars_ok,
                    _rep_fold(gram_arr(n))["top"].cast("double") / chars,
                ).alias(f"top_{n}gram_char_frac")
            )
        for n in GOPHER_DUP_NS:
            cols.append(
                F.when(
                    # the nt >= n guard matters: least(1.0, NULL) is 1.0
                    # (least SKIPS nulls), so an unguarded short doc
                    # would read as maximally duplicated instead of
                    # undefined (round-9 third review, verified live)
                    chars_ok & (nt >= n),
                    F.least(
                        F.lit(1.0),
                        _rep_fold(gram_arr(n))["dupall"].cast("double") / chars,
                    ),
                ).alias(f"dup_{n}gram_char_frac")
            )
        return df.select(F.col(id_col), *cols)

    def grams(n: int) -> Column:
        sh = F.transform(
            F.sequence(F.lit(0), nt - F.lit(n)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        return F.when(nt >= n, sh).otherwise(F.array().cast("array<string>"))

    def tag(n: int, arr: Column) -> Column:
        return F.transform(
            arr,
            lambda g: F.struct(
                F.lit(n).cast("int").alias("n"), g.alias("g")
            ),
        )

    entries = F.flatten(
        F.array(
            tag(0, lines),
            tag(-1, paras),  # paragraphs ride the same pipeline, n = -1
            *[tag(n, grams(n)) for n in (*GOPHER_TOP_NS, *GOPHER_DUP_NS)],
        )
    )
    occ = df.select(
        F.col(id_col),
        F.length(txt).cast("long").alias("__chars"),
        F.explode(entries).alias("__e"),
    ).select(
        id_col,
        "__chars",
        F.col("__e")["n"].alias("__n"),
        F.col("__e")["g"].alias("__g"),
    )
    pg = occ.groupBy(id_col, "__n", "__g").agg(
        F.count(F.lit(1)).alias("__c"), F.first("__chars").alias("__chars")
    ).select(
        id_col, "__n", "__c", "__chars", F.length("__g").cast("long").alias("__l")
    )
    dup_c = F.when(F.col("__c") >= 2, F.col("__c"))
    pn = pg.groupBy(id_col, "__n").agg(
        F.first("__chars").alias("__chars"),
        F.sum("__c").alias("__tot"),
        F.sum(F.coalesce(dup_c - 1, F.lit(0))).alias("__dupocc"),
        F.sum(F.coalesce((dup_c - 1) * F.col("__l"), F.lit(0))).alias("__dupx"),
        F.sum(F.coalesce(dup_c * F.col("__l"), F.lit(0))).alias("__dupall"),
        F.sum(F.col("__c") * F.col("__l")).alias("__allchars"),
        F.max(F.col("__c") * F.col("__l")).alias("__topcover"),
    )
    n_is = lambda n: F.col("__n") == F.lit(n)  # noqa: E731
    chars_ok = F.col("__chars") > 0
    cols = []
    for unit, tag_n in (("line", 0), ("para", -1)):
        cols.extend([
            F.max(
                F.when(
                    n_is(tag_n),
                    F.col("__dupocc").cast("double") / F.col("__tot"),
                )
            ).alias(f"dup_{unit}_frac"),
            F.max(
                F.when(
                    n_is(tag_n) & (F.col("__allchars") > 0),
                    F.col("__dupx").cast("double") / F.col("__allchars"),
                )
            ).alias(f"dup_{unit}_char_frac"),
        ])
    for n in GOPHER_TOP_NS:
        cols.append(
            F.max(
                F.when(
                    n_is(n) & chars_ok,
                    F.col("__topcover").cast("double") / F.col("__chars"),
                )
            ).alias(f"top_{n}gram_char_frac")
        )
    for n in GOPHER_DUP_NS:
        cols.append(
            F.max(
                F.when(
                    n_is(n) & chars_ok,
                    F.least(
                        F.lit(1.0),
                        F.col("__dupall").cast("double") / F.col("__chars"),
                    ),
                )
            ).alias(f"dup_{n}gram_char_frac")
        )
    stats = pn.groupBy(id_col).agg(*cols)
    return df.select(F.col(id_col)).join(stats, id_col, "left")


def gopher_oracle_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of ``gopher_repetition`` — GENERATED from the same
    GOPHER_TOP_NS/GOPHER_DUP_NS constants (no copy-paste drift)."""
    ns = (*GOPHER_TOP_NS, *GOPHER_DUP_NS)
    gram_ctes = ",\n    ".join(
        f"g{n} AS (SELECT {id_col}, unnest(range(1, len(t) - {n} + 2)) AS i, t"
        f" FROM base WHERE len(t) >= {n})"
        for n in ns
    )
    occ_parts = "\n      UNION ALL\n      ".join(
        f"SELECT {id_col}, {n} AS n, array_to_string(t[i:i + {n - 1}], ' ')"
        f" AS g FROM g{n}"
        for n in ns
    )
    top_cols = ",\n        ".join(
        f"max(CASE WHEN n = {n} AND chars > 0 THEN"
        f" CAST(topcover AS DOUBLE) / chars END) AS top_{n}gram_char_frac"
        for n in GOPHER_TOP_NS
    )
    dup_cols = ",\n        ".join(
        f"max(CASE WHEN n = {n} AND chars > 0 THEN"
        f" least(1.0, CAST(dupall AS DOUBLE) / chars) END)"
        f" AS dup_{n}gram_char_frac"
        for n in GOPHER_DUP_NS
    )
    return f"""
    WITH base AS (
      SELECT {id_col}, string_split(lower({text_col}), ' ') AS t,
             string_split({text_col}, chr(10)) AS ls,
             string_split({text_col}, chr(10) || chr(10)) AS ps,
             length({text_col}) AS chars
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    {gram_ctes},
    occ AS (
      SELECT {id_col}, 0 AS n, unnest(ls) AS g FROM base
      UNION ALL
      SELECT {id_col}, -1 AS n, unnest(ps) AS g FROM base
      UNION ALL
      {occ_parts}
    ),
    pg AS (
      SELECT {id_col}, n, g, count(*) AS c, length(g) AS l
      FROM occ GROUP BY {id_col}, n, g
    ),
    pn AS (
      SELECT {id_col}, n, sum(c) AS tot,
             sum(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS dupocc,
             sum(CASE WHEN c >= 2 THEN (c - 1) * l ELSE 0 END) AS dupx,
             sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dupall,
             sum(c * l) AS allchars,
             max(c * l) AS topcover
      FROM pg GROUP BY {id_col}, n
    ),
    m AS (
      SELECT pn.{id_col},
        max(CASE WHEN n = 0 THEN CAST(dupocc AS DOUBLE) / tot END)
          AS dup_line_frac,
        max(CASE WHEN n = 0 AND allchars > 0 THEN
            CAST(dupx AS DOUBLE) / allchars END) AS dup_line_char_frac,
        max(CASE WHEN n = -1 THEN CAST(dupocc AS DOUBLE) / tot END)
          AS dup_para_frac,
        max(CASE WHEN n = -1 AND allchars > 0 THEN
            CAST(dupx AS DOUBLE) / allchars END) AS dup_para_char_frac,
        {top_cols},
        {dup_cols}
      FROM pn JOIN (SELECT {id_col}, chars FROM base) b USING ({id_col})
      GROUP BY pn.{id_col}
    )
    SELECT d.{id_col}, m.dup_line_frac, m.dup_line_char_frac,
           m.dup_para_frac, m.dup_para_char_frac,
           {", ".join("m.top_%dgram_char_frac" % n for n in GOPHER_TOP_NS)},
           {", ".join("m.dup_%dgram_char_frac" % n for n in GOPHER_DUP_NS)}
    FROM {table} d LEFT JOIN m USING ({id_col})
    """


#: control characters stripped by text normalization — C0 controls and
#: DEL, KEEPING tab/newline/carriage-return (document structure). The
#: Java-regex ∩ RE2 hex-class form, so the DuckDB twin runs the SAME
#: pattern string (the redact.py battery convention).
NORMALIZE_CTRL = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_text(col: Column) -> Column:
    """Unicode/whitespace text normalization (the ftfy-lite ingest pass
    every crawl pipeline runs before hashing or dedup — unnormalized
    text makes byte-identical documents hash differently): strip C0
    controls + DEL (tab/newline kept), THEN NFC composition, then
    collapse space/tab runs to one space and trim.

    Controls strip FIRST: a stray control between a base char and its
    combining mark is a starter that blocks composition, so NFC-then-
    strip would leave 'cafe<NUL>´' decomposed while the clean copy
    composes — exactly the byte-variance this stage exists to remove
    (round-9 second review).

    NFC is ICU4J's ``Normalizer.compose(s, false)``, called through
    Spark's ``reflect`` (icu4j ships in Spark's jars), so the stage is
    JVM-only: no Python worker, no Arrow crossing. ``reflect`` is
    non-deterministic to Catalyst, so no filter is pushed below this
    projection; ``planshape.place`` puts filters over the frame's own
    columns before it. The guard is on the INPUT column (NULL stays
    NULL; ``reflect`` would raise on it), not on the regex result, which
    would evaluate the control-char regex twice. Per-row and stateless
    → streaming-safe.

    Unicode version: the engine follows the JVM's ICU tables (ICU 77).
    The DuckDB twin ``normalize_sql_expr`` (utf8proc ``nfc_normalize``,
    the same pattern strings) and CPython 3.11's ``unicodedata`` are at
    Unicode 14, so they differ only on composition pairs added after it,
    which they leave decomposed (U+1611E U+1611E → U+16121 Gurung Khema,
    U+113C2 U+113C2 → U+113C5 Tulu-Tigalari; pinned in tests)."""
    stripped = F.regexp_replace(col, NORMALIZE_CTRL, "")
    nfc = F.reflect(
        F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), stripped, F.lit(False)
    )
    x = F.when(col.isNotNull(), nfc)
    return F.trim(F.regexp_replace(x, r"[ \t]+", " "))


def normalize_sql_expr(text_col: str) -> str:
    """DuckDB twin expression of ``normalize_text`` — same pattern
    strings (Java-regex ∩ RE2), utf8proc NFC vs ICU4J NFC (both
    implement the Unicode algorithm, utf8proc at an older Unicode
    version; pinned in tests, see ``normalize_text``)."""
    return (
        f"trim(regexp_replace(nfc_normalize(regexp_replace({text_col}, "
        f"'{NORMALIZE_CTRL}', '', 'g')), '[ \\t]+', ' ', 'g'))"
    )


def content_fingerprint(col: Column) -> Column:
    """Order-insensitive content hash: md5 over the sorted distinct token
    set. Survives token reordering; the standard 'bag fingerprint'."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.lower(col)))))
    )


def _token_int(tok: Column) -> Column:
    """Deterministic cross-engine 32-bit integer per token: first 8 md5 hex
    digits as an integer (identical in DuckDB via substr(md5(),1,8))."""
    from csvtool_spark.functions.hashing import md5_prefix_long

    return md5_prefix_long(tok)


def rolling_fingerprint(col: Column, mod: int = 1_000_000_007) -> Column:
    """Order-SENSITIVE polynomial rolling hash over tokens:
    ``h = (h*31 + int(md5(tok)[:8])) % m``. ANSI-safe: the accumulator stays
    < m ≈ 2^30, so h*31 + token < 2^36 never overflows int64."""
    return F.aggregate(
        tokens(F.lower(col)),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + _token_int(t)) % F.lit(mod),
    )


def _doc_term_tf(df, text_col: str, id_col: str):
    """(id, term, tf) term frequencies — the shared front half of
    tfidf_top_terms and lm_surprisal (one definition so their oracles can
    never drift apart on tokenization). Normalization: lower+trim, split
    on single spaces. Shuffle rows bounded by distinct (doc, term) pairs."""
    tok = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.trim(F.col(text_col))))).alias("term"),
    )
    return tok.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def tfidf_top_terms(df, text_col: str, id_col: str = "doc_id", k: int = 5):
    """Top-k characteristic terms per document, ranked by a rational
    tf-idf: score_ppm = (tf * 1_000_000) div df_t. Integer arithmetic is
    deliberate — a float idf (ln N/df) is not correctly-rounded across
    engines and would break bit-exact oracle comparison; within one
    document N is constant, so ranking by tf/df equals ranking by
    tf·ln-idf for any monotone idf. Raw tf and df ride along for callers
    that want a different weighting.

    Scale shape: word-count aggregate on (doc, term) → term-keyed count
    for df_t (partial combine bounds hot-term skew) → term equi-join
    (AQE broadcasts the vocabulary side when it fits) → per-doc top-k
    window. Deterministic tie-break: score desc, term asc."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tf = _doc_term_tf(df, text_col, id_col)
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = tf.join(dft, "term").withColumn(
        "score_ppm", F.expr("tf * 1000000L div df")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score_ppm").desc(), "term")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .select(id_col, "term", "tf", "df", "score_ppm")
    )


def lm_surprisal(df, text_col: str, id_col: str = "doc_id"):
    """Per-document rarity score under a unigram LM trained on the corpus
    itself — the cheap stand-in for the KenLM-perplexity quality filter
    (CCNet-style): documents full of rare tokens score high, boilerplate
    scores low. Real pipelines plug a pretrained LM in via mapInPandas;
    this keeps the signal cross-engine checkable.

    Rational arithmetic is deliberate: ``surprisal_ppb =
    sum(tf · (1e9 div c_term)) div n_tokens`` where ``c_term`` is the
    corpus occurrence count. ``1e9 div c`` is a monotone proxy for
    ``-log p(term)`` (exact inverse probability, scaled); integer div
    keeps the result bit-exact across engines where a float ``ln`` would
    not be correctly-rounded. Bounded: tf·(1e9 div c) ≤ n_tokens·1e9 —
    a billion-token document would still fit int64.

    Scale shape: word-count aggregate on (doc, term) FIRST, so both the
    vocabulary count and the scoring join carry one row per distinct
    (doc, term) pair, never per occurrence; the vocabulary side is
    Zipf-bounded and AQE broadcasts it when it fits. Three keyed
    shuffles total, each combiner-backed.
    """
    tf = _doc_term_tf(df, text_col, id_col)
    c = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("c"))
    return (
        tf.join(c, "term")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.expr("CAST(sum(tf * (1000000000L div c)) div sum(tf) AS BIGINT)").alias(
                "surprisal_ppb"
            ),
        )
    )


def collocations(df, text_col: str, k: int = 50, min_count: int = 5):
    """Top-k bigram collocations ranked by a rational PMI-style lift:
    ``lift_ppm = ((c_ab·1e6 div c_a)·N) div c_b`` — how much more often
    the pair occurs than independence predicts, in ppm. The two-step
    integer division is deliberate: a float PMI (log) is not
    correctly-rounded across engines, and the one-step rational form
    ``c_ab·N·1e6 div (c_a·c_b)`` overflows int64 at corpus scale
    (c_ab·N ~ 10²⁴ at a trillion tokens); the staged form keeps every
    intermediate ≤ N·1e6 and both engines evaluate the identical tree.
    Ranking is monotone in true PMI for fixed c_a·c_b ordering — for
    collocation mining the lift ordering IS the deliverable.

    Scale shape: bigrams come from a zip of the token array with its
    shift (per-row, shuffle-free), then word-count aggregates for pair
    and unigram counts; the unigram side joins twice, Zipf-bounded so
    AQE broadcasts it when it fits. ``min_count`` prunes the pair table
    before any join — the long tail of singleton bigrams never shuffles
    twice. Returns (term_a, term_b, c_ab, c_a, c_b, lift_ppm)."""
    toks = tokens(F.lower(F.trim(F.col(text_col))))
    m = F.size(toks) - 1
    bigram = F.when(
        m >= 1,
        F.zip_with(
            F.slice(toks, 1, F.greatest(m, F.lit(1))),
            F.slice(toks, 2, F.greatest(m, F.lit(1))),
            lambda a, b: F.struct(a.alias("ta"), b.alias("tb")),
        ),
    ).otherwise(F.array())
    pairs = (
        df.select(F.explode(bigram).alias("bg"))
        .select(F.col("bg.ta").alias("term_a"), F.col("bg.tb").alias("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= int(min_count))
    )
    # persisted: the vocabulary aggregate feeds three consumers (two
    # joins + the total-count fold) — unpersisted, each re-explodes the
    # full token stream from the scan
    uni = caching.persist(
        df.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_tot = uni.agg(F.sum("c").cast("long").alias("__N"))
    scored = (
        pairs.join(uni.select(F.col("t").alias("term_a"), F.col("c").alias("c_a")), "term_a")
        .join(uni.select(F.col("t").alias("term_b"), F.col("c").alias("c_b")), "term_b")
        .crossJoin(F.broadcast(n_tot))
        .withColumn("lift_ppm", F.expr("((c_ab * 1000000L div c_a) * __N) div c_b"))
    )
    return (
        scored.select("term_a", "term_b", "c_ab", "c_a", "c_b", "lift_ppm")
        .orderBy(F.col("lift_ppm").desc(), "term_a", "term_b")
        .limit(int(k))
    )


def lang_id_arrow(col: Column) -> Column:
    """Arrow-vectorized twin of ``lang_id``. Everything Unicode-sensitive
    stays JVM-side so the two variants CANNOT diverge on locale/encoding
    semantics: tokens arrive already lowered (JVM ``lower``+``split``),
    the CJK count and UTF-16 length are JVM expressions riding alongside.
    The kernel is pure set-membership counting + first-max argmax over a
    tiny dict — the part the interpreted HOF fold made expensive
    (per-token map lookup allocating a packed pair per step). Same
    decision rule, differential-tested equal to ``lang_id``."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    markers = {lang: set(ws) for lang, ws in LANG_MARKERS.items()}

    @pandas_udf(T.StringType())
    def decide(toks, cjk, length):
        import pandas as pd

        out = []
        for tok_arr, c, n in zip(toks, cjk, length):
            if tok_arr is None:
                # null text: the column tree's when-chain falls through to
                # 'unknown' (every condition evaluates null) — match it
                out.append("unknown")
                continue
            counts = {lang: 0 for lang in markers}
            for t in tok_arr:
                for lang, ws in markers.items():
                    if t in ws:
                        counts[lang] += 1
            best, best_n = "unknown", 0
            for lang, cnt in counts.items():  # dict order = en,fr,de,es
                if cnt > best_n:
                    best, best_n = lang, cnt
            zh = c is not None and n is not None and not pd.isna(c) and not pd.isna(n) and c * 4 > n
            out.append("zh" if zh else best)
        return pd.Series(out)

    return decide(tokens(F.lower(col)), cjk_char_count(col), F.length(col))


def bigram_array(text_col: str) -> Column:
    """Adjacent-token transition strings ``["a b", "b c", ...]`` for a
    document — the ONE definition of tokenization + transition extraction
    shared by the MLE (``lm_surprisal_bigram``) and Kneser-Ney scorers
    (exploded and map-only forms alike), so the twins and their oracles
    can never drift on what a bigram is. Null text → null; <2 tokens →
    empty array."""
    toks = tokens(F.lower(F.trim(F.col(text_col))))
    m = F.size(toks) - 1
    bigram = F.zip_with(
        F.slice(toks, 1, F.greatest(m, F.lit(1))),
        F.slice(toks, 2, F.greatest(m, F.lit(1))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(m >= 1, bigram).otherwise(
        F.when(F.col(text_col).isNotNull(), F.array())
    )


def _doc_bigram_tf(df, text_col: str, id_col: str):
    """Per-document bigram term frequencies ``(id, bg, tf)`` over
    ``bigram_array``. Null text and <2-token documents yield no rows
    (explode of null / empty drops them)."""
    pairs = df.select(
        F.col(id_col), F.explode(bigram_array(text_col)).alias("bg")
    )
    return pairs.groupBy(id_col, "bg").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def lm_surprisal_bigram(df, text_col: str, id_col: str = "doc_id"):
    """Bigram-conditional rarity per document — one step closer to the
    KenLM-perplexity filter than ``lm_surprisal``: each transition is
    scored by the inverse conditional probability
    ``inv_ppm(t_i | t_{i-1}) = least(1e12, c(t_{i-1})·1e6 div c(t_{i-1} t_i))``
    from counts over the corpus itself (no OOV: every transition it
    scores also trained the counts), and a document scores the mean
    transition inverse probability: ``sum(tf_bg · inv_ppm) div
    n_bigrams``. Predictable running text scores near 1e6; documents
    full of novel transitions score high. All integer and bounded so the
    oracle compare stays bit-exact at any corpus size: the 1e12
    saturation (a transition a million times rarer than its context is
    "maximally surprising" — the same clamp KenLM filters apply) caps
    the per-doc sum at n_bigrams·1e12, inside int64 up to a
    million-bigram document; without it a rare bigram under a
    billion-count context overflows Spark's long SUM while DuckDB's
    HUGEINT keeps going.

    Scale shape mirrors ``lm_surprisal``: per-doc bigram counts FIRST
    (shuffle rows bounded by distinct (doc, bigram) pairs), Zipf-bounded
    corpus count tables joined in (AQE broadcasts when they fit), one
    per-doc aggregate. Single-token documents have no transitions and
    drop out (same as a 0-bigram row set)."""
    tf = _doc_bigram_tf(df, text_col, id_col)
    c_bg = tf.groupBy("bg").agg(F.sum("tf").cast("long").alias("c_bg"))
    # true MLE context counts — occurrences of t_{i-1} WITH a successor —
    # derived from the bigram table itself (no second corpus scan), so
    # inv_ppm is an exact inverse conditional: sum_t p(t|ctx) = 1
    ctx = (
        c_bg.withColumn("__prev", F.split(F.col("bg"), " ")[0])
        .groupBy("__prev")
        .agg(F.sum("c_bg").cast("long").alias("c_prev"))
    )
    scored = (
        tf.join(c_bg, "bg")
        .withColumn("__prev", F.split(F.col("bg"), " ")[0])
        .join(ctx, "__prev")
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.expr(
            "CAST(sum(tf * least(1000000000000L, (c_prev * 1000000L) div c_bg))"
            " div sum(tf) AS BIGINT)"
        ).alias("surprisal2_ppm"),
    )


class KNModel:
    """Interpolated Kneser-Ney bigram model — three Zipf-bounded count
    DataFrames plus two integer constants (see ``kn_bigram_model``). The
    tables stay DISTRIBUTED (a bigram table over a 100 TB corpus does not
    fit a driver); only the two scalars are collected. ``release()`` drops
    the persisted bigram-count stage once every scorer built from the
    model has been materialized."""

    def __init__(self, cb, cx, cw, d_ppb: int, nb: int):
        self.cb = cb          # (bg, c_bg)        bigram counts
        self.cx = cx          # (prev, c_prev, n1v) context totals + fanout
        self.cw = cw          # (nxt, n1w)         continuation counts
        self.d_ppb = d_ppb    # absolute discount D in parts-per-billion
        self.nb = nb          # total distinct bigrams (Pcont denominator)

    def release(self) -> None:
        self.cb.unpersist()


def kn_bigram_model(train, text_col: str, id_col: str = "doc_id") -> KNModel:
    """Train an interpolated Kneser-Ney bigram LM (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.25) over ``train`` — the model half of the
    CCNet-style quality filter (Wenzek et al. 2020 train KenLM on a clean
    reference corpus and filter web text by its perplexity; this is that
    train/score split with a bigram model, where ``lm_surprisal_bigram``
    can only score the corpus it counted).

    Everything is exact integer arithmetic so the DuckDB oracle matches
    bit-for-bit (the repo's fixed-point contract): the discount
    ``D = n1/(n1+2*n2)`` (count-of-counts estimate) is truncated to
    parts-per-billion, and scoring (``kn_score``) evaluates

        P(w|v) = max(c(vw) - D, 0)/c(v) + D*N1+(v·)/c(v) * N1+(·w)/NB

    in ppb with the same division order both engines. Degenerate corpora
    where no bigram has count 1 or 2 take D=0.5 (the count-of-counts
    estimate is undefined there; documented constant, same CASE in the
    oracle).

    Scale shape: one explode pass over the train corpus into per-doc
    bigram counts (map-side combine bounds the shuffle by distinct
    (doc, bg) pairs), then three Zipf-bounded aggregates of the bigram
    table; the bigram table is persisted because all three read it (and
    the count-of-counts scalar forces it once) — call ``release()`` when
    done scoring. Envelope: counts must stay below 2^63/1e9 ≈ 9.2e9 per
    bigram/context (the ppb products; same honest bound as
    ``lm_surprisal_bigram``'s) — shard the train corpus or lower the
    scale factor beyond that."""
    cb = caching.persist(
        _doc_bigram_tf(train, text_col, id_col)
        .groupBy("bg")
        .agg(F.sum("tf").cast("long").alias("c_bg"))
    )
    consts = cb.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum((F.col("c_bg") == 1).cast("long")).alias("n1"),
        F.sum((F.col("c_bg") == 2).cast("long")).alias("n2"),
    ).collect()[0]
    nb, n1, n2 = int(consts["nb"]), int(consts["n1"] or 0), int(consts["n2"] or 0)
    if nb == 0:
        cb.unpersist()
        raise ValueError("kn_bigram_model: train corpus has no bigrams")
    d_ppb = 500_000_000 if n1 + 2 * n2 == 0 else (n1 * 1_000_000_000) // (n1 + 2 * n2)
    cx = (
        cb.groupBy(F.split(F.col("bg"), " ")[0].alias("prev"))
        .agg(
            F.sum("c_bg").cast("long").alias("c_prev"),
            F.count(F.lit(1)).cast("long").alias("n1v"),
        )
    )
    cw = cb.groupBy(F.split(F.col("bg"), " ")[1].alias("nxt")).agg(
        F.count(F.lit(1)).cast("long").alias("n1w")
    )
    return KNModel(cb, cx, cw, d_ppb, nb)


def kn_score(df, model: KNModel, text_col: str, id_col: str = "doc_id"):
    """Score ``df`` against a Kneser-Ney model trained on a DIFFERENT
    corpus (the CCNet filter shape) — per document: ``n_bigrams``,
    ``n_unseen_bg`` (transitions absent from the model — the OOV signal),
    and ``kn_surprisal_ppb`` (mean inverse KN transition probability,
    clamped at 1e12 like ``lm_surprisal_bigram``'s "maximally
    surprising"; predictable in-domain text scores low, out-of-domain or
    garbled text high).

    Backoff rules, all pure-Column CASE arms (no UDF):
    - bigram seen: full interpolated estimate;
    - bigram unseen, context seen: discount mass times the continuation
      probability (0 if the next word is also unseen → clamp);
    - context unseen: continuation probability alone ``N1+(·w)/NB``.

    Scale shape: per-doc bigram counts first (same bound as the model
    pass), then three LEFT equi-joins against the Zipf-bounded model
    tables (AQE broadcasts them when they fit) and one per-doc aggregate.
    No collect, no window, no all-pairs. The model's bigram table is
    persisted through ``functions.caching``: a model trained inside a
    ``persist_scope`` is released when the scope exits; outside one,
    call ``model.release()`` after the LAST scorer."""
    tf = _doc_bigram_tf(df, text_col, id_col)
    j = (
        tf.join(model.cb, "bg", "left")
        .withColumn("__prev", F.split(F.col("bg"), " ")[0])
        .withColumn("__nxt", F.split(F.col("bg"), " ")[1])
        .join(model.cx, F.col("__prev") == F.col("prev"), "left")
        .join(model.cw, F.col("__nxt") == F.col("nxt"), "left")
    )
    d_ppb, nb = int(model.d_ppb), int(model.nb)
    p_ppb = F.expr(
        f"CASE WHEN c_prev IS NULL THEN (coalesce(n1w, 0L) * 1000000000L) div {nb}L"
        f" ELSE greatest(coalesce(c_bg, 0L) * 1000000000L - {d_ppb}L, 0L) div c_prev"
        f" + (({d_ppb}L * n1v) div c_prev) * coalesce(n1w, 0L) div {nb}L END"
    )
    inv = F.expr(
        "least(1000000000000L, 1000000000000000000L div greatest(__p, 1L))"
    )
    out = (
        j.withColumn("__p", p_ppb)
        .withColumn("__inv", inv)
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("c_bg").isNull(), F.col("tf")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_unseen_bg"),
            F.expr("CAST(sum(tf * __inv) div sum(tf) AS BIGINT)").alias(
                "kn_surprisal_ppb"
            ),
        )
    )
    return out


def kn_oracle_sql(
    train_where: str,
    score_where: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB CTE twin of ``kn_bigram_model`` + ``kn_score`` — identical
    tokenization (the ``lm_surprisal_bigram`` oracle's), the same ppb
    discount truncation, CASE backoff arms and division order, so the
    compare is bit-exact. ``train_where``/``score_where`` are SQL
    predicates selecting the two corpora (the CCNet train/score split).
    Null-text guards mirror Spark's explode-drops-null behavior."""
    return f"""
    WITH tr AS (
      SELECT string_split(lower(trim({text_col})), ' ') AS t
      FROM {table} WHERE ({train_where}) AND {text_col} IS NOT NULL
    ),
    tbg AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bg
      FROM tr WHERE len(t) >= 2
    ),
    cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM tbg GROUP BY bg),
    cx AS (SELECT split_part(bg, ' ', 1) AS prev,
                  CAST(sum(c_bg) AS BIGINT) AS c_prev,
                  CAST(count(*) AS BIGINT) AS n1v
           FROM cb GROUP BY 1),
    cw AS (SELECT split_part(bg, ' ', 2) AS nxt,
                  CAST(count(*) AS BIGINT) AS n1w
           FROM cb GROUP BY 1),
    kk AS (
      SELECT CAST(count(*) AS BIGINT) AS nb,
             CASE WHEN sum(CASE WHEN c_bg = 1 THEN 1 ELSE 0 END)
                     + 2 * sum(CASE WHEN c_bg = 2 THEN 1 ELSE 0 END) = 0
                  THEN CAST(500000000 AS BIGINT)
                  ELSE CAST(sum(CASE WHEN c_bg = 1 THEN 1 ELSE 0 END)
                            * 1000000000 AS BIGINT)
                       // CAST(sum(CASE WHEN c_bg = 1 THEN 1 ELSE 0 END)
                               + 2 * sum(CASE WHEN c_bg = 2 THEN 1 ELSE 0 END)
                               AS BIGINT)
             END AS d_ppb
      FROM cb
    ),
    sc AS (
      SELECT {id_col}, string_split(lower(trim({text_col})), ' ') AS t
      FROM {table} WHERE ({score_where}) AND {text_col} IS NOT NULL
    ),
    sbg AS (
      SELECT {id_col},
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS bg
      FROM sc WHERE len(t) >= 2
    ),
    tf AS (SELECT {id_col}, bg, CAST(count(*) AS BIGINT) AS tf
           FROM sbg GROUP BY {id_col}, bg),
    j AS (
      SELECT tf.{id_col}, tf.tf, cb.c_bg, cx.c_prev, cx.n1v, cw.n1w,
             kk.nb, kk.d_ppb
      FROM tf
      LEFT JOIN cb USING (bg)
      LEFT JOIN cx ON cx.prev = split_part(tf.bg, ' ', 1)
      LEFT JOIN cw ON cw.nxt = split_part(tf.bg, ' ', 2)
      CROSS JOIN kk
    ),
    p AS (
      SELECT {id_col}, tf, c_bg,
             CASE WHEN c_prev IS NULL
                  THEN (coalesce(n1w, 0) * 1000000000) // nb
                  ELSE greatest(coalesce(c_bg, 0) * 1000000000 - d_ppb, 0)
                       // c_prev
                       + ((d_ppb * n1v) // c_prev) * coalesce(n1w, 0) // nb
             END AS p_ppb
      FROM j
    )
    SELECT {id_col},
           CAST(sum(tf) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN c_bg IS NULL THEN tf ELSE 0 END) AS BIGINT)
             AS n_unseen_bg,
           CAST(sum(tf * least(1000000000000,
                               1000000000000000000 // greatest(p_ppb, 1)))
                // sum(tf) AS BIGINT) AS kn_surprisal_ppb
    FROM p GROUP BY {id_col}
    """


class PrunedKNModel:
    """Driver-side BOUNDED Kneser-Ney model — the KenLM-pruning analogue:
    only the ``max_bigrams`` most frequent transitions survive (ties
    broken on the bigram string, deterministic), everything else scores
    through the backoff arms. Holds plain dicts sized by the prune cap,
    so it ships to scoring nodes inside a task closure / literal map —
    the shape a production filter deploys (full counts live in the
    training job; scorers get the pruned artifact)."""

    def __init__(self, cb, cx, cw, d_ppb: int, nb: int, max_bigrams: int):
        self.cb = cb          # {bg: c_bg}
        self.cx = cx          # {prev: (c_prev, n1v)}
        self.cw = cw          # {nxt: n1w}
        self.d_ppb = d_ppb
        self.nb = nb
        self.max_bigrams = max_bigrams


def kn_prune(model: KNModel, max_bigrams: int = 50_000) -> PrunedKNModel:
    """Prune a distributed ``KNModel`` to its ``max_bigrams`` most
    frequent transitions and collect the bounded result to the driver.

    The context/continuation tables are restricted to the words the
    surviving bigrams mention, but keep their FULL-model counts (and the
    full-model ``D``/``NB``), so surviving transitions score identically
    to the unpruned model; pruned-away transitions fall through the same
    backoff arms an unseen transition does and count toward
    ``n_unseen_bg`` (monotone in the cap). Note surprisal itself is not
    monotone under pruning: a transition whose context left the model
    re-routes to the continuation arm, which can assign more probability
    than the interpolated estimate did — hard pruning, not KenLM's
    renormalized-backoff pruning. With ``max_bigrams`` ≥ the
    distinct-bigram count the pruned scorer is bit-identical to
    ``kn_score`` (differential-tested).

    Scale shape: one TakeOrdered top-M over the bigram table (no full
    sort), then ONE job unioning the two broadcast-joined membership
    filters (kind-tagged) to collect the ≤2M context/continuation rows.
    Everything collected is bounded by M."""
    if max_bigrams < 1:
        raise ValueError("kn_prune: max_bigrams must be >= 1")
    top = (
        model.cb.orderBy(F.col("c_bg").desc(), F.col("bg").asc())
        .limit(int(max_bigrams))
        .collect()
    )
    cb = {r["bg"]: int(r["c_bg"]) for r in top}
    spark = model.cb.sparkSession
    # every surviving bigram has both words, and cb is non-empty
    # (kn_bigram_model refuses empty corpora), so both sets are non-empty
    prevs = sorted({bg.split(" ")[0] for bg in cb})
    nxts = sorted({bg.split(" ")[1] for bg in cb})
    pv = spark.createDataFrame([(p,) for p in prevs], "prev string")
    nx = spark.createDataFrame([(n,) for n in nxts], "nxt string")
    both = (
        model.cx.join(F.broadcast(pv), "prev")
        .select(
            F.lit("x").alias("kind"),
            F.col("prev").alias("key"),
            F.col("c_prev").alias("a"),
            F.col("n1v").alias("b"),
        )
        .unionByName(
            model.cw.join(F.broadcast(nx), "nxt").select(
                F.lit("w").alias("kind"),
                F.col("nxt").alias("key"),
                F.col("n1w").alias("a"),
                F.lit(0).cast("long").alias("b"),
            )
        )
        .collect()
    )
    cx = {r["key"]: (int(r["a"]), int(r["b"])) for r in both if r["kind"] == "x"}
    cw = {r["key"]: int(r["a"]) for r in both if r["kind"] == "w"}
    return PrunedKNModel(cb, cx, cw, model.d_ppb, model.nb, int(max_bigrams))


def kn_save_pruned(spark, pruned: PrunedKNModel, path: str) -> None:
    """Persist a pruned KN model as ONE parquet dataset (any Hadoop
    filesystem) — the artifact a train-offline job ships to scoring /
    streaming jobs (``classify.save_model`` precedent). The FULL model's
    tables are corpus-vocabulary-sized and stay where distributed tables
    belong (write ``model.cb``/``cx``/``cw`` as ordinary datasets if you
    need them); the pruned artifact is bounded by ``max_bigrams``, so it
    rides one coalesced part file. Rows are (kind, key, a, b): 'cb'
    bigram counts, 'cx' context (c_prev, n1v), 'cw' continuation counts,
    'meta' the scalars. Safe to save back onto its own load path — the
    rows originate from driver memory, not a scan of ``path``."""
    rows = (
        [("meta", "", int(pruned.d_ppb), int(pruned.nb))]
        + [("max", "", int(pruned.max_bigrams), 0)]
        + [("cb", k, v, 0) for k, v in sorted(pruned.cb.items())]
        + [("cx", k, c, n) for k, (c, n) in sorted(pruned.cx.items())]
        + [("cw", k, v, 0) for k, v in sorted(pruned.cw.items())]
    )
    df = spark.createDataFrame(rows, "kind string, key string, a long, b long")
    df.coalesce(1).write.mode("overwrite").parquet(path)


def kn_load_pruned(spark, path: str) -> PrunedKNModel:
    """Inverse of ``kn_save_pruned`` — scoring-ready (bit-identical
    scores, round-trip-tested)."""
    rows = spark.read.parquet(path).collect()
    by_kind: dict[str, list] = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    (meta,) = by_kind["meta"]
    (mx,) = by_kind["max"]
    return PrunedKNModel(
        cb={r["key"]: int(r["a"]) for r in by_kind.get("cb", [])},
        cx={r["key"]: (int(r["a"]), int(r["b"])) for r in by_kind.get("cx", [])},
        cw={r["key"]: int(r["a"]) for r in by_kind.get("cw", [])},
        d_ppb=int(meta["a"]),
        nb=int(meta["b"]),
        max_bigrams=int(mx["a"]),
    )


def kn_score_map(
    df,
    pruned: PrunedKNModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
):
    """Map-only scoring twin of ``kn_score`` over a PRUNED model: the
    bounded dicts become LITERAL maps (constant-folded by Catalyst) and
    each row folds its own transition array through them — no explode, no
    join, no aggregation shuffle, so the plan is a pure projection. That
    makes it legal in a stateless streaming micro-batch (the
    ``nb_score_map`` precedent) and fusable into any scan.

    Same integer formula and backoff arms as ``kn_score``; on a model
    pruned with ``max_bigrams`` ≥ the bigram count the outputs are
    bit-identical (differential-tested). Documents with no transitions
    (null text, <2 tokens) drop out, matching ``kn_score``.

    Trade-off vs ``kn_score``: the fold runs on Spark's interpreted HOF
    path and the literal maps ride the plan (keep ``max_bigrams`` in the
    tens of thousands); for huge BATCH corpora the explode+join form
    wins — this form wins where a shuffle is unavailable (streams) or
    unwanted."""
    d_ppb, nb = int(pruned.d_ppb), int(pruned.nb)
    cb_keys = sorted(pruned.cb)
    cb_map = F.map_from_arrays(
        F.lit(cb_keys), F.lit([pruned.cb[k] for k in cb_keys])
    )
    cx_keys = sorted(pruned.cx)
    cx_map = F.map_from_arrays(
        F.lit(cx_keys), F.lit([list(pruned.cx[k]) for k in cx_keys])
    )
    cw_keys = sorted(pruned.cw)
    cw_map = F.map_from_arrays(
        F.lit(cw_keys), F.lit([pruned.cw[k] for k in cw_keys])
    )
    div = lambda a, b: F.call_function("div", a, b)  # noqa: E731 — exact
    # integer division (Spark's `div`), matching the oracle's `//`

    def inv_unseen(bg):
        """Clamped inverse KN transition probability + unseen flag for
        one transition — the same ppb formula, division order and CASE
        arms as ``kn_score`` / ``kn_oracle_sql``, over literal-map
        lookups instead of joins."""
        c_bg = cb_map[bg]
        cxv = cx_map[F.split(bg, " ")[0]]  # [c_prev, n1v] array
        c_prev = cxv.getItem(0).cast("long")
        n1v = cxv.getItem(1).cast("long")
        n1w = F.coalesce(cw_map[F.split(bg, " ")[1]], F.lit(0)).cast("long")
        p = F.when(
            cxv.isNull(), div(n1w * F.lit(10**9), F.lit(nb))
        ).otherwise(
            div(
                F.greatest(
                    F.coalesce(c_bg, F.lit(0)).cast("long") * F.lit(10**9)
                    - F.lit(d_ppb),
                    F.lit(0).cast("long"),
                ),
                c_prev,
            )
            + div(div(F.lit(d_ppb) * n1v, c_prev) * n1w, F.lit(nb))
        )
        inv = F.least(
            F.lit(10**12).cast("long"),
            div(F.lit(10**18), F.greatest(p, F.lit(1).cast("long"))),
        )
        return F.struct(
            inv.alias("inv"), c_bg.isNull().cast("long").alias("unseen")
        )

    # single evaluation of the tokenization AND the fold: HOF expressions
    # run interpreted where subexpression elimination does not apply, so
    # naming sums/arr in three output columns would tokenize + fold each
    # row 3-4 times. The transform-lambda binds the bigram array once
    # (LambdaVariables evaluate once per element — the ivf_cell let-bind
    # trick), the fold lands in ONE packed struct column, and the final
    # projection only picks struct fields (plan-tested: one zip_with).
    def packed(a):
        sums = F.aggregate(
            F.transform(a, inv_unseen),
            F.struct(
                F.lit(0).cast("long").alias("s"),
                F.lit(0).cast("long").alias("u"),
            ),
            lambda acc, x: F.struct(
                (acc["s"] + x["inv"]).alias("s"),
                (acc["u"] + x["unseen"]).alias("u"),
            ),
        )
        return F.struct(F.size(a).cast("long").alias("n"), sums.alias("f"))

    # no-transition rows (null text, <2 tokens) are dropped by a HOF
    # filter + explode of the one-element array rather than a DataFrame
    # .filter on the output column: Catalyst would push that filter below
    # the projection by RE-INLINING the whole packed expression, running
    # the fold a second time per row — a Generate is a pushdown barrier,
    # and it also guarantees the div never sees n = 0 under ANSI
    kept = F.filter(
        F.transform(F.array(bigram_array(text_col)), packed),
        lambda p: p["n"] > 0,
    )
    mid = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(kept).alias("__p"),
    )
    n = F.col("__p")["n"]
    return mid.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        n.alias("n_bigrams"),
        F.col("__p")["f"]["u"].alias("n_unseen_bg"),
        div(F.col("__p")["f"]["s"], n).alias("kn_surprisal_ppb"),
    )


def kn_perplexity_buckets(
    scored,
    group_col: str = "source",
    value_col: str = "kn_surprisal_ppb",
    qs: tuple[float, float] = (1 / 3, 2 / 3),
    labels: tuple[str, str, str] = ("head", "middle", "tail"),
):
    """CCNet's perplexity partition (Wenzek et al. 2020 §4.4): split each
    group's documents into head/middle/tail by per-group surprisal
    cutoffs — the curation step downstream of the KN scorer (train
    mixtures are then drawn per bucket, e.g. head-heavy). Adds a
    ``bucket`` column: ``labels[0]`` for value ≤ the qs[0] percentile
    (most in-domain), ``labels[1]`` up to the qs[1] percentile,
    ``labels[2]`` above. Cutoffs use the repo's exact percentile_disc
    rank rule (``stats.group_quantiles``), so the labeling is
    deterministic and the DuckDB twin bit-matches.

    Scale shape: cutoffs cost one group-partitioned rank window over the
    SCORED frame (doc_id + two longs per row — not the corpus text);
    labeling is a broadcast join of the per-group cutoff table plus a
    CASE. At corpus scale where even the scored frame is too big to
    window, compute the cutoffs on a deterministic document sample (the
    ``minhash_recall_eval`` tune-on-sample precedent) and pass them
    through this same labeling by unioning the sample's cutoffs — the
    rank rule itself is unchanged."""
    from csvtool_spark.operators.stats import group_quantiles

    if len(qs) != 2 or not (0.0 < qs[0] < qs[1] <= 1.0):
        raise ValueError(f"kn_perplexity_buckets: need 0 < qs[0] < qs[1] <= 1, got {qs!r}")
    if len(labels) != 3:
        raise ValueError("kn_perplexity_buckets: need exactly 3 labels")
    cuts = group_quantiles(scored, value_col, [group_col], qs=qs)
    piv = cuts.groupBy(group_col).agg(
        F.min(F.when(F.col("q") == float(qs[0]), F.col("value"))).alias("__c_lo"),
        F.min(F.when(F.col("q") == float(qs[1]), F.col("value"))).alias("__c_hi"),
    ).withColumnRenamed(group_col, "__g")
    v = F.col(value_col)
    # null-safe group match: a NULL group is its own window partition in
    # the rank rule, so its documents must reach their own cutoffs too —
    # a plain equi-join would silently drop them (oracle twin uses
    # IS NOT DISTINCT FROM)
    return (
        scored.join(
            F.broadcast(piv), F.col(group_col).eqNullSafe(F.col("__g"))
        )
        .withColumn(
            "bucket",
            F.when(v <= F.col("__c_lo"), F.lit(labels[0]))
            .when(v <= F.col("__c_hi"), F.lit(labels[1]))
            .otherwise(F.lit(labels[2])),
        )
        .drop("__g", "__c_lo", "__c_hi")
    )


def kn_buckets_oracle_sql(
    train_where: str,
    score_where: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    qs: tuple[float, float] = (1 / 3, 2 / 3),
) -> str:
    """DuckDB twin of ``kn_score`` → join group column → bucket → per
    (group, bucket) report: the full KN oracle rides as a subquery (the
    ``q_dedup_cluster_stats`` precedent), the cutoffs use the
    ``quantiles_oracle_sql`` rank formula verbatim (row_number, double
    q·n, ceil), and the float literals are CAST to DOUBLE (DuckDB parses
    bare decimals as DECIMAL — repo rule)."""
    kn = kn_oracle_sql(train_where, score_where, table, text_col, id_col)
    q_lo, q_hi = (f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return f"""
    WITH scored AS (
      SELECT s.{id_col}, s.kn_surprisal_ppb, d.{group_col}
      FROM ({kn}) s
      JOIN (SELECT {id_col}, {group_col} FROM {table}) d USING ({id_col})
    ),
    r AS (
      SELECT {group_col}, kn_surprisal_ppb AS value,
             row_number() OVER (PARTITION BY {group_col}
                                ORDER BY kn_surprisal_ppb) AS rn,
             count(*) OVER (PARTITION BY {group_col}) AS n
      FROM scored
    ),
    cuts AS (
      SELECT {group_col},
             min(CASE WHEN rn = CAST(ceil({q_lo} * n) AS BIGINT)
                      THEN value END) AS c_lo,
             min(CASE WHEN rn = CAST(ceil({q_hi} * n) AS BIGINT)
                      THEN value END) AS c_hi
      FROM r GROUP BY {group_col}
    ),
    lab AS (
      SELECT s.{group_col},
             CASE WHEN s.kn_surprisal_ppb <= c.c_lo THEN 'head'
                  WHEN s.kn_surprisal_ppb <= c.c_hi THEN 'middle'
                  ELSE 'tail' END AS bucket,
             s.kn_surprisal_ppb
      FROM scored s JOIN cuts c
        ON s.{group_col} IS NOT DISTINCT FROM c.{group_col}
    )
    SELECT {group_col}, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(kn_surprisal_ppb) AS BIGINT) AS min_ppb,
           CAST(max(kn_surprisal_ppb) AS BIGINT) AS max_ppb
    FROM lab GROUP BY {group_col}, bucket
    """


def boilerplate_stats(
    df, text_col: str, id_col: str = "doc_id", k: int = 3, min_docs: int = 5
):
    """Per-document boilerplate ratio: the fraction of a document's distinct
    k-word shingles that occur in ≥ ``min_docs`` documents corpus-wide
    (CCNet-style repeated-content detection — navigation chrome, license
    footers, templated text — without needing line structure).

    Scale shape: shingles are distinct per doc (``word_shingles``), so the
    doc-frequency aggregate is a plain count per shingle; only the HOT
    shingles (df ≥ min_docs) survive into the join-back, which therefore
    ships a small fraction of the exploded rows. Two shuffles on the
    shingle key, one hash agg per doc — no all-pairs anything.
    """
    from csvtool_spark.operators.dedup import normalized, word_shingles

    # coalesce NULL text to '' BEFORE shingling: Spark's concat_ws would
    # otherwise emit an '' shingle for null docs while a SQL oracle's
    # array_to_string(NULL) emits a NULL shingle that never equi-joins —
    # with the coalesce both engines agree ('' shingle, countable).
    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = caching.persist(df.select(
        F.col(id_col),
        word_shingles(tokens(normalized(txt)), k).alias("__sh"),
    ))  # two consumers: per-doc totals + the exploded table
    ex = base.select(id_col, F.explode("__sh").alias("__s"))
    hot = (
        ex.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
    )
    flagged = ex.join(hot, "__s").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_boiler")
    )
    n_sh = F.col("n_shingles").cast("double")
    return (
        base.select(id_col, F.size("__sh").cast("long").alias("n_shingles"))
        .join(flagged, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
            F.round(
                F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double")
                / F.when(n_sh > 0, n_sh),
                6,
            ).alias("boiler_ratio"),
        )
    )

def _sql_word_list(words: list[str]) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


def langid_cte_sql(
    table: str, cols: str, text_col: str = "text",
    out_col: str = "lang_guess",
) -> str:
    """DuckDB CTE pair ``lidc``/``lid`` (no leading WITH): ``lid`` carries
    ``cols`` (a comma-separated pass-through list, which should include
    ``text_col`` if downstream CTEs need it) plus ``lang_guess`` computed
    with the EXACT ``lang_id`` decision rule — marker lists and the
    greatest-chain tie-break are GENERATED from ``LANG_MARKERS``, so the
    SQL twin cannot drift from the Column implementation (round-8 review:
    the CASE chain had been copy-pasted into four oracle sites).

    NB (round-8 verdict advisory): the generated greatest-chain is
    quadratic in ``len(LANG_MARKERS)`` — WHEN clause i compares against
    the remaining len-i languages. Fine at 5 languages; if the marker
    set is ever widened substantially, switch the twin to an
    argmax-over-struct-list form instead of growing this chain.

    ``out_col`` renames the guess column — required when ``cols`` already
    carries a ``lang_guess`` from an earlier langid application: DuckDB
    silently binds the duplicate name to the FIRST occurrence, so a fixed
    name would return the STALE guess (round-9 review, composable-twin
    fuzzer)."""
    langs = list(LANG_MARKERS)
    counts = ",\n             ".join(
        f"CAST(len(list_filter(string_split(lower({text_col}),' '), x -> x IN"
        f" ({_sql_word_list(LANG_MARKERS[lang])}))) AS BIGINT) AS {lang}"
        for lang in langs
    )
    chain = "\n                  ".join(
        f"WHEN {lang} = greatest({', '.join(langs[i:])}) THEN '{lang}'"
        for i, lang in enumerate(langs[:-1])
    )
    return f"""lidc AS (
      SELECT {cols}, length({text_col}) AS __L,
             length(regexp_replace({text_col}, '[^一-鿿]', '', 'g')) AS __cjk,
             {counts}
      FROM {table}
    ),
    lid AS (
      SELECT {cols},
             CASE WHEN __L IS NULL THEN 'unknown'
                  WHEN __cjk * 4 > __L THEN 'zh'
                  WHEN greatest({', '.join(langs)}) = 0 THEN 'unknown'
                  {chain}
                  ELSE '{langs[-1]}' END AS {out_col}
      FROM lidc
    )"""


def quality_cte_sql(
    table: str, cols: str, text_col: str = "text", out_col: str = "quality"
) -> str:
    """DuckDB CTE pair ``qt``/``q`` (no leading WITH): ``q`` carries
    ``cols`` plus ``quality`` — the exact ``quality_score`` expression
    (length band, diversity, stopword share; stopword list generated from
    ``ENGLISH_STOPWORDS``). One definition for every oracle twin.
    ``out_col`` renames the score — required when ``cols`` already holds
    a ``quality`` (same duplicate-bind hazard as ``langid_cte_sql``)."""
    stops = _sql_word_list(ENGLISH_STOPWORDS)
    return f"""qt AS (
      SELECT {cols},
             CAST(len(string_split({text_col}, ' ')) AS DOUBLE) AS __n,
             CAST(len(list_distinct(string_split({text_col}, ' '))) AS DOUBLE) AS __nd,
             CAST(len(list_filter(string_split(lower({text_col}), ' '),
                  x -> x IN ({stops}))) AS DOUBLE) AS __stop
      FROM {table}
    ),
    q AS (
      SELECT {cols},
             round((CASE WHEN __n >= 10 AND __n <= 5000 THEN 1.0 ELSE 0.3 END) * 0.4
                   + coalesce(__nd / (CASE WHEN __n > 0 THEN __n END), 0.0) * 0.4
                   + (CASE WHEN coalesce(__stop / (CASE WHEN __n > 0 THEN __n END), 0.0) > 0.02
                           THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS {out_col}
      FROM qt
    )"""

#: C4 rules (Raffel et al. 2020 §2.2), lowercased substring matches:
#: LINE-level blocklist (the paper drops any line with the word
#: "javascript") and PAGE-level blocklist ("lorem ipsum" phrase, curly
#: bracket). Pages tripping the page list are dropped whole.
C4_LINE_BLOCKLIST = ["javascript"]
C4_PAGE_BLOCKLIST = ["lorem ipsum", "{"]

#: Terminal punctuation a kept line must end with (C4's "terminal
#: punctuation mark" rule).
C4_TERMINALS = [".", "!", "?", '"']


def _any_of(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def c4_clean_lines(
    col: Column,
    min_words: int = 3,
    require_terminal: bool = True,
    sep: str = "\n",
) -> Column:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2) as a pure
    Column expression: split on ``sep``, keep lines with at least
    ``min_words`` whitespace words (the paper's 3), a terminal
    punctuation ending (optional), and no line-blocklist hit
    ("javascript"); re-join. NULL text stays NULL; a fully-filtered
    document becomes ``''``. Page-level rules live in ``c4_page_flags``
    so callers can drop whole documents separately."""

    def line_ok(ln: Column) -> Column:
        ok = F.size(F.split(F.trim(ln), " ")) >= min_words
        if require_terminal:
            ok = ok & _any_of(
                [F.endswith(F.trim(ln), F.lit(t)) for t in C4_TERMINALS]
            )
        ok = ok & ~_any_of(
            [F.lower(ln).contains(F.lit(m)) for m in C4_LINE_BLOCKLIST]
        )
        return ok

    lines = F.split(col, "\\Q" + sep + "\\E")
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.array_join(F.filter(lines, line_ok), sep)
    )


def c4_page_flags(col: Column) -> Column:
    """True when the page trips a C4 page-level drop rule: any page
    blocklist substring (lowercased match). Callers filter ``~flag``."""
    low = F.lower(col)
    return _any_of([low.contains(F.lit(m)) for m in C4_PAGE_BLOCKLIST])


def c4_clean_sql(
    table: str,
    cols: str,
    text_col: str = "text",
    min_words: int = 3,
    require_terminal: bool = True,
    sep: str = "\n",
) -> str:
    """DuckDB CTE ``c4c`` (no leading WITH): ``cols`` plus the cleaned
    ``text_clean`` and the page-drop flag ``c4_drop`` — generated from
    the same constants as the Column lanes, so the twins cannot drift.
    The coalesce on text_clean covers the fully-filtered edge:
    ``array_to_string([])`` is NULL in DuckDB where Spark's
    ``array_join`` gives ''."""
    sep_expr = "chr(10)" if sep == "\n" else "'" + sep.replace("'", "''") + "'"
    terms = " OR ".join(
        "ends_with(trim(ln), '" + t.replace("'", "''") + "')"
        for t in C4_TERMINALS
    )
    term_clause = f"AND ({terms})" if require_terminal else ""
    line_blocks = " OR ".join(
        "contains(lower(ln), '" + m.replace("'", "''") + "')"
        for m in C4_LINE_BLOCKLIST
    )
    page_blocks = " OR ".join(
        f"contains(lower({text_col}), '" + m.replace("'", "''") + "')"
        for m in C4_PAGE_BLOCKLIST
    )
    return f"""c4c AS (
      SELECT {cols},
             CASE WHEN {text_col} IS NULL THEN NULL ELSE
               coalesce(array_to_string(
                 list_filter(string_split({text_col}, {sep_expr}),
                   ln -> len(string_split(trim(ln), ' ')) >= {min_words}
                         {term_clause}
                         AND NOT ({line_blocks})), {sep_expr}), '')
             END AS text_clean,
             ({page_blocks}) AS c4_drop
      FROM {table}
    )"""
