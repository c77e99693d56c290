"""PII scrubbing for training corpora: regex redaction of emails, IPv4
addresses and phone-like digit runs, plus per-document match counts.

The standard pre-training privacy pass (C4 and The Pile both strip or mask
contact-info patterns). Everything is a chained ``regexp_replace`` /
``regexp_extract_all`` column tree — whole-stage codegen, zero shuffle,
scales linearly with the scan; at 100 TB this runs as a map-only stage
fused into whatever scan feeds it.

Patterns deliberately use the Java-regex ∩ RE2 common subset (character
classes, bounded quantifiers, ``\\b`` — no lookaround or backrefs) so the
DuckDB oracle can run the *same* pattern strings and the redacted text
compares bit-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: (name, pattern, replacement) — applied in order; email first so a phone
#: pattern can never eat the digits of user123@host. RECALL-biased: the
#: permissive phone pattern catches spaced/parenthesised formats at the
#: cost of eating prose like "1999 - 2024 - 2025".
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9() .-]{6,}[0-9]", "<PHONE>"),
]

#: PRECISION-biased battery for the drop-vs-scrub density policy
#: (``redact_documents``): a false positive there doesn't just mask a
#: span, it can DELETE a clean document, so phone requires an explicit
#: international (+NNNNNNN…) or dashed shape, and card/account-shaped
#: digit runs get their own category instead of riding the phone net.
STRICT_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,15}\b|\b\d{3}-\d{3,4}-\d{4}\b", "<PHONE>"),
    ("digit_run", r"\b\d{13,19}\b", "<NUM>"),
]


def redact_pii(
    col: Column, patterns: list[tuple[str, str, str]] | None = None
) -> Column:
    """Text with every PII match replaced by its ``<TYPE>`` token."""
    out = col
    for _, pat, repl in patterns or PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(
    col: Column, patterns: list[tuple[str, str, str]] | None = None
) -> dict[str, Column]:
    """Per-category match counts (long) — the audit metric that decides
    whether a source is droppable vs scrubbable.

    Counts follow the same sequential semantics as ``redact_pii``: each
    category is counted on text with the earlier categories already
    replaced, so an IPv4 octet run is never double-counted as a phone
    number. Null text yields zero counts, not nulls."""
    out: dict[str, Column] = {}
    cur = col
    for name, pat, repl in patterns or PII_PATTERNS:
        # regexp_count ≡ size(regexp_extract_all(..)) — same left-to-right
        # non-overlapping match walk — without materializing the match
        # array (round-14, guide §1.2); coalesce keeps null text at 0
        out[name] = F.coalesce(
            F.regexp_count(cur, F.lit(pat)), F.lit(0)
        ).cast("long")
        cur = F.regexp_replace(cur, pat, repl)
    return out


def pii_report(
    df, text_col: str, id_col: str,
    patterns: list[tuple[str, str, str]] | None = None,
):
    """(id, redacted text, one count column per category)."""
    counts = pii_counts(F.col(text_col), patterns)
    return df.select(
        F.col(id_col),
        redact_pii(F.col(text_col), patterns).alias("redacted"),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
    )


def redact_documents(
    df,
    text_col: str,
    id_col: str,
    max_pii_fraction: float = 0.2,
    patterns: list[tuple[str, str, str]] | None = None,
):
    """The full scrubbing policy: documents whose PII density (matches
    per whitespace token) exceeds ``max_pii_fraction`` are DROPPED (they
    are address books / logs, not prose); the rest pass through with
    ``text_col`` redacted. Defaults to the precision-biased
    ``STRICT_PATTERNS``. Returns (id, text, n_pii, pii_fraction); null
    text passes (density 0)."""
    from csvtool_spark.operators.dedup import normalized
    from csvtool_spark.operators.planshape import Where, columns, place
    from csvtool_spark.operators.textstats import tokens

    pats = patterns or STRICT_PATTERNS
    counts = pii_counts(F.col(text_col), pats)
    n_pii = counts[pats[0][0]]
    for name, _, _ in pats[1:]:
        n_pii = n_pii + counts[name]
    # null text → size null → greatest picks 1; empty text → [''] → 1
    n_toks = F.greatest(F.size(tokens(normalized(F.col(text_col)))), F.lit(1))
    # Stage the per-row work ONCE; the density gate reads the staged
    # counts (planshape places it). The staged text carries the first
    # len(pats)-1 replaces (the shared prefix of the progressive count
    # chain, so codegen CSE covers it); only the last replace runs after
    # the gate, on surviving rows. The fraction is recomputed above the
    # gate from the two staged longs — bit-identical, trivially cheap.
    #
    # Clean-document short-circuit: if NO pattern matches the RAW text,
    # every progressive replace is the identity, so the counts are all
    # zero and the redacted text IS the input — provable by induction
    # (disjunct k of the probe is only reached when patterns 1..k-1 did
    # not match, in which case the progressively-replaced text equals
    # the raw text). Probing with rlike stops at the first match and
    # never materializes match arrays, so a clean document (the
    # overwhelming majority of a curated corpus; 100% of the sf test
    # tables) costs 4 regex probes + one split instead of the full
    # count-and-replace battery. Null text: rlike gives NULL, when()
    # falls to the battery branch, which yields the same NULLs/zeros as
    # before. The DuckDB oracle still runs the unconditional battery, so
    # the gate re-proves value equality.
    dirty = None
    for _, pat, _ in pats:
        probe = F.col(text_col).rlike(pat)
        dirty = probe if dirty is None else dirty | probe
    staged = columns({
        "__t_prefix": F.when(~dirty, F.col(text_col)).otherwise(
            redact_pii(F.col(text_col), pats[:-1])
        ),
        "__n_pii": F.when(~dirty, F.lit(0).cast("long")).otherwise(n_pii),
        "__n_toks": n_toks,
        "__clean": F.coalesce(~dirty, F.lit(False)),
    })
    frac = F.round(
        F.col("__n_pii").cast("double") / F.col("__n_toks").cast("double"), 6
    )
    gate = Where(frac <= float(max_pii_fraction), ("__n_pii", "__n_toks"))
    gated = place(df.select(id_col, text_col), [lambda _: [staged, gate]])
    _, last_pat, last_repl = pats[-1]
    return gated.select(
        F.col(id_col),
        F.when(F.col("__clean"), F.col("__t_prefix"))
        .otherwise(F.regexp_replace(F.col("__t_prefix"), last_pat, last_repl))
        .alias(text_col),
        F.col("__n_pii").alias("n_pii"),
        frac.alias("pii_fraction"),
    )


def pii_scrub_oracle_sql(
    max_pii_fraction: float = 0.2,
    patterns: list[tuple[str, str, str]] | None = None,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of ``redact_documents``: identical sequential
    regexp_replace ('g' flag ≡ Spark's replace-all), progressive
    counting via regexp_extract_all lengths (coalesced so null text
    yields 0 and survives the gate like Spark), same density rule and
    rounding. The patterns are the SAME strings — the Java∩RE2 subset
    guarantee lives in the battery definitions above."""
    pats = patterns or STRICT_PATTERNS

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    cnt_exprs, cur = [], text_col
    for name, pat, repl in pats:
        cnt_exprs.append(
            f"coalesce(len(regexp_extract_all({cur}, {lit(pat)})), 0) AS n_{name}"
        )
        cur = f"regexp_replace({cur}, {lit(pat)}, {lit(repl)}, 'g')"
    n_sum = " + ".join(f"n_{name}" for name, _, _ in pats)
    return f"""
    WITH s AS (
      SELECT {id_col}, {text_col},
             {", ".join(cnt_exprs)},
             {cur} AS redacted
      FROM {table}
    ),
    t AS (
      SELECT {id_col}, redacted, CAST({n_sum} AS BIGINT) AS n_pii,
             round(CAST({n_sum} AS DOUBLE) /
                   greatest(coalesce(len(string_split(lower(trim({text_col})), ' ')), 1), 1), 6)
                   AS pii_fraction
      FROM s
    )
    SELECT {id_col}, redacted AS {text_col}, n_pii, pii_fraction
    FROM t WHERE pii_fraction <= CAST({float(max_pii_fraction)!r} AS DOUBLE)
    """
