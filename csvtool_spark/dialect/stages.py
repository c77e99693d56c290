"""Curation-pipe stages for the dialect front-end (engine extension — the
reference dialect ends at ``limit``; there is no analog in
/root/reference/parser.go).

``select ... from corpus.parquet |> langid(text) |> quality(text, min=0.5)
|> dedup(text, id=doc_id)`` chains the engine's LLM-corpus operators onto
the finished query result, so the curation pipeline is reachable from the
SQL surface without writing Python. Stages run AFTER the query's own
select/where/group/order/limit and see the user-visible output columns.

Design rules:
- every stage is a thin adapter over ``csvtool_spark.operators`` — no
  semantics live here, so the SQL surface and the Python API cannot drift;
- a per-row stage returns steps (``planshape.Select``/``Where``) and
  never filters itself: ``planshape.place`` places every predicate. The
  per-row stages are the streaming-safe set; a DataFrame stage (dedup,
  neardup, ...) declares only the columns it adds or rewrites;
- stages stay deterministic and cross-engine oracle-pairable (md5 coins,
  md5 MinHash lanes, pure Column expressions) — the dialect surface is the
  reproducibility lane, same policy as the ``sample`` clause;
- column args are the RESULT schema's names: unquoted stage args resolve
  against ``df.columns`` case-insensitively (the dialect's addressing
  rule), quoted args are string literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csvtool_spark.dialect import ast
from csvtool_spark.dialect.errors import SemanticError
from csvtool_spark.operators.planshape import Select, Where, columns, place


def apply_stages(
    df: DataFrame, stages: list[ast.Stage], engine=None
) -> DataFrame:
    """Apply the parsed ``|>`` chain. ``engine`` is the calling CsvEngine —
    table-referencing stages (``decontaminate(..., ref=t)``) resolve their
    ref through it; column-only stages ignore it."""

    def bound(st: ast.Stage):
        if st.name not in STAGES:
            raise SemanticError(
                f"unknown pipeline stage '{st.name}' (available: "
                f"{', '.join(sorted(STAGES))})"
            )
        return lambda cur: STAGES[st.name](cur, st, engine)

    return place(df, map(bound, stages))


# --- arg plumbing -----------------------------------------------------------


def _resolve_col(df: DataFrame, st: ast.Stage, arg: ast.StageArg) -> str:
    if arg.quoted:
        raise SemanticError(
            f"stage '{st.name}': expected a column name, got the string "
            f"literal '{arg.val}'"
        )
    lower = {c.lower(): c for c in df.columns}
    got = lower.get(arg.val.lower())
    if got is None:
        raise SemanticError(
            f"stage '{st.name}': no column '{arg.val}' in the result "
            f"(have: {', '.join(df.columns)})"
        )
    return got


def _text_arg(df: DataFrame, st: ast.Stage) -> str:
    if len(st.args) != 1:
        raise SemanticError(
            f"stage '{st.name}' takes exactly one column argument"
        )
    return _typed(df, st, st.args[0], T.StringType, "the column must be a string")


def _typed(df: DataFrame, st: ast.Stage, arg, kind: type, what: str) -> str:
    """``arg``'s column when its type is a ``kind``, else an error saying
    ``what``."""
    col = _resolve_col(df, st, arg)
    dt = df.schema[col].dataType
    if not isinstance(dt, kind):
        raise SemanticError(
            f"stage '{st.name}': {what}; '{col}' is {dt.simpleString()}"
        )
    return col


def _col_kwarg(df: DataFrame, st: ast.Stage, key: str, why: str = "") -> str:
    arg = st.kwargs.get(key)
    if arg is None:
        raise SemanticError(f"stage '{st.name}' requires {key}=<column>{why}")
    return _resolve_col(df, st, arg)


def _id_kwarg(df: DataFrame, st: ast.Stage) -> str:
    return _col_kwarg(
        df, st, "id", " (the keep-lowest representative rule needs a unique id)"
    )


def _float_kwarg(st: ast.Stage, key: str, default: float | None) -> float | None:
    arg = st.kwargs.get(key)
    if arg is None:
        return default
    try:
        return float(arg.val)
    except ValueError:
        raise SemanticError(
            f"stage '{st.name}': {key}= expects a number, got '{arg.val}'"
        ) from None


def _num_kwarg(
    st: ast.Stage, key: str, default: float | int | None
) -> float | int | None:
    """Numeric kwarg preserving the literal's LANE: an integer lexeme
    stays a Python int (both engines then compare integral columns in
    the exact int64 lane), anything else parses as float (double lane —
    exact only to 2^53, the documented bound for fractional gates on
    BIGINT columns). Twin builders mirror the same isinstance branch."""
    arg = st.kwargs.get(key)
    if arg is None:
        return default
    v = arg.val
    sign = v[1:] if v[:1] in "+-" else v
    # isascii() guards str.isdigit()'s wider Unicode notion — int('²')
    # raises even though '²'.isdigit() is True (round-10 review)
    if sign.isascii() and sign.isdigit():
        iv = int(v)
        if not -(2**63) <= iv <= 2**63 - 1:
            raise SemanticError(
                f"stage '{st.name}': {key}={v} is outside the BIGINT "
                f"range [-2^63, 2^63)"
            )
        return iv
    return _float_kwarg(st, key, default)


def _int_kwarg(st: ast.Stage, key: str, default: int) -> int:
    arg = st.kwargs.get(key)
    if arg is None:
        return default
    if not arg.val.isdigit():
        raise SemanticError(
            f"stage '{st.name}': {key}= expects an integer, got '{arg.val}'"
        )
    return int(arg.val)


def _out_name(df: DataFrame, st: ast.Stage, default: str) -> str:
    arg = st.kwargs.get("as")
    name = arg.val if arg is not None else default
    if name.lower() in {c.lower() for c in df.columns}:
        raise SemanticError(
            f"stage '{st.name}': output column '{name}' already exists "
            "(rename it with as=<name>)"
        )
    return name


def _fresh(st: ast.Stage, have: list[str], *names: str) -> None:
    """Reject a fixed output column name the stage appends that ``have``
    already holds."""
    taken = {c.lower() for c in have}
    for n in names:
        if n.lower() in taken:
            raise SemanticError(
                f"stage '{st.name}': output column '{n}' already exists"
            )


def _no_extra_kwargs(st: ast.Stage, allowed: set[str]) -> None:
    extra = set(st.kwargs) - allowed
    if extra:
        raise SemanticError(
            f"stage '{st.name}': unknown keyword(s) {', '.join(sorted(extra))} "
            f"(allowed: {', '.join(sorted(allowed)) or 'none'})"
        )


# --- stages -----------------------------------------------------------------


def _join_back_rewritten(
    df: DataFrame, rewritten: DataFrame, text: str, idc: str
) -> DataFrame:
    """Shared tail of the in-place text-rewrite stages (despan, derep):
    join the (id, text_dedup) frame back and splice the rewritten text
    into the original column order. The rewrite column travels under a
    reserved alias so a user column named text_dedup cannot make the
    join ambiguous (round-8 review)."""
    r = rewritten.select(
        F.col(idc), F.col("text_dedup").alias("__rw_txt")
    )
    return df.drop(text).join(r, idc).select(
        *[
            F.col("__rw_txt").alias(text) if c == text else F.col(c)
            for c in df.columns
        ]
    )


def _stage_dedup(df: DataFrame, st: ast.Stage, ctx=None) -> DataFrame:
    """``dedup(text, id=k [, by=score])`` — exact dedup: keep the
    lowest-id row per normalized text (operators.dedup.exact_dedup's
    identity — md5 of lower/trim — but row-preserving: the survivor
    keeps every column). ONE pass: rank within each 128-bit hash
    partition by id and keep rank 1 — a single shuffle on the hash, no
    self-join (the groupBy-min + semi-join alternative computes the
    upstream twice and shuffles both sides). Partitions are bounded by a
    text's copy count; ids are assumed unique (the _id_kwarg contract).

    ``by=<numeric column>`` keeps the BEST-scoring copy instead (score
    DESC NULLS LAST, ties → lowest id) — the neardup ``by=`` rule at
    exact granularity. Numeric-only: a string score would ride each
    engine's collation."""
    from csvtool_spark.operators.dedup import normalized

    _no_extra_kwargs(st, {"id", "by"})
    text, idc = _text_arg(df, st), _id_kwarg(df, st)
    by = st.kwargs.get("by")
    order = [F.col(idc)]
    if by is not None:
        byc = _typed(df, st, by, T.NumericType, "by= needs a numeric score column")
        order = [F.col(byc).desc_nulls_last(), F.col(idc)]
    w = Window.partitionBy("__h").orderBy(*order)
    return (
        df.withColumn("__h", F.md5(normalized(F.col(text))))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def _stage_neardup(df: DataFrame, st: ast.Stage, ctx=None) -> DataFrame:
    """``neardup(text, id=k [, threshold=0.5, n_hashes=32, bands=8,
    transitive=0])`` — MinHash-LSH near-dup removal, md5 hash family so
    the whole pipeline stays cross-engine reproducible (the
    q_dedup_minhash_det lane). Two keep rules:

    - default (``transitive=0``): greedy pairwise — drop every row that
      verifies ≥ threshold Jaccard against a LOWER-id row (B goes even
      when its partner A was itself removed by an earlier pair);
    - ``transitive=1``: connected components over the verified pairs
      (operators.components alternating-star, O(log n) rounds) and keep
      exactly ONE row per duplicate cluster — the min-id survivor. The
      canonical corpus-dedup rule; strictly fewer survivors on chains
      A~B~C where A~C itself fails the threshold.

    ``by=<numeric column>`` (transitive=1 only) switches the survivor
    rule to KEEP THE BEST member per cluster — highest ``by`` value,
    ties to the lowest id (operators.components.canonical_select; the
    SemDeDup-style curation policy: of near-identical pages keep the
    highest-quality one, not the accidentally-lowest-id one). NULL
    scores lose to every real score. Compose as ``|> quality(text) |>
    neardup(text, id=doc_id, transitive=1, by=quality)``."""
    from csvtool_spark.operators.dedup import near_dup_pairs_minhash

    _no_extra_kwargs(
        st, {"id", "threshold", "n_hashes", "bands", "transitive", "by"}
    )
    text, idc = _text_arg(df, st), _id_kwarg(df, st)
    n_hashes = _int_kwarg(st, "n_hashes", 32)
    bands = _int_kwarg(st, "bands", 8)
    if bands < 1 or n_hashes % bands != 0:
        raise SemanticError(
            f"stage 'neardup': n_hashes ({n_hashes}) must be a positive "
            f"multiple of bands ({bands})"
        )
    thr = _float_kwarg(st, "threshold", 0.5)
    if not 0.0 < thr <= 1.0:
        raise SemanticError(
            f"stage 'neardup': threshold must be in (0, 1], got {thr}"
        )
    transitive = _int_kwarg(st, "transitive", 0)
    by = st.kwargs.get("by")
    byc = None
    if by is not None:
        if not transitive:
            raise SemanticError(
                "stage 'neardup': by= (keep the best-scoring cluster "
                "member) applies only with transitive=1 — the pairwise "
                "rule has no cluster to pick a best member from"
            )
        byc = _typed(df, st, by, T.NumericType, "by= needs a numeric score column")
    if transitive:
        # validated with the other arguments, before the pair pipeline
        # is built: a rejected stage builds nothing
        _typed(
            df, st, st.kwargs["id"], T.IntegralType,
            "transitive=1 needs an integral id column (derive a surrogate "
            "long id first, or use transitive=0)",
        )
    pairs = near_dup_pairs_minhash(
        df,
        text,
        idc,
        threshold=thr,
        n_hashes=n_hashes,
        bands=bands,
        hash_family="md5",
    )
    if transitive and byc is not None:
        from csvtool_spark.operators.components import canonical_select

        survivors = (
            canonical_select(df, pairs, idc, byc)
            .filter("is_kept")
            .select(idc)
        )
        out = df.join(survivors, idc, "left_semi")
    elif transitive:
        from csvtool_spark.operators.components import dedup_clusters

        survivors = (
            dedup_clusters(df.select(F.col(idc)), pairs, idc)
            .filter("is_survivor")
            .select(idc)
        )
        out = df.join(survivors, idc, "left_semi")
    else:
        losers = pairs.select(F.col("id_b").alias(idc)).distinct()
        out = df.join(losers, idc, "left_anti")
    return out


def _stage_langid(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``langid(text [, as=lang_guess] [, keep=en])`` — append the
    n-gram-marker language guess (operators.textstats.lang_id, JVM
    kernel: the dialect surface stays whole-stage-codegen, no Python
    workers); ``keep=`` also filters to that guess (the C4 language
    gate)."""
    from csvtool_spark.operators.textstats import lang_id

    _no_extra_kwargs(st, {"as", "keep"})
    text = _text_arg(df, st)
    name = _out_name(df, st, "lang_guess")
    steps = [columns({name: lang_id(F.col(text), kernel="jvm")})]
    keep = st.kwargs.get("keep")
    if keep is not None:
        # C4-style language gate: keep only the requested guess. Validate
        # against the guesser's actual vocabulary — 'keep=EN' or
        # 'keep=english' would otherwise silently return zero rows
        from csvtool_spark.operators.textstats import LANG_MARKERS

        allowed = set(LANG_MARKERS) | {"zh", "unknown"}
        want = keep.val.lower()
        if want not in allowed:
            raise SemanticError(
                f"stage 'langid': keep= must be one of "
                f"{', '.join(sorted(allowed))}; got '{keep.val}'"
            )
        steps.append(Where(F.col(name) == F.lit(want), (name,)))
    return steps


def _stage_quality(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``quality(text [, min=x] [, as=quality])`` — append the composite
    quality heuristic; with min= also drop rows below the cut (the
    C4-style pre-filter)."""
    from csvtool_spark.operators.textstats import quality_score

    _no_extra_kwargs(st, {"as", "min"})
    text = _text_arg(df, st)
    name = _out_name(df, st, "quality")
    steps = [columns({name: quality_score(F.col(text))})]
    lo = _float_kwarg(st, "min", None)
    if lo is not None:
        steps.append(Where(F.col(name) >= F.lit(lo), (name,)))
    return steps


def _stage_tokens(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``tokens(text [, as=n_tokens])`` — whitespace token count."""
    from csvtool_spark.operators.textstats import token_count

    _no_extra_kwargs(st, {"as"})
    text = _text_arg(df, st)
    name = _out_name(df, st, "n_tokens")
    return [columns({name: token_count(F.col(text))})]


def _stage_fingerprint(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``fingerprint(text [, as=content_fp])`` — order-independent content
    fingerprint (md5 of the sorted distinct token set)."""
    from csvtool_spark.operators.textstats import content_fingerprint

    _no_extra_kwargs(st, {"as"})
    text = _text_arg(df, st)
    name = _out_name(df, st, "content_fp")
    return [columns({name: content_fingerprint(F.col(text))})]


def _stage_pii_scrub(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``pii_scrub(text)`` — replace the column in place with every PII
    match substituted by its <TYPE> token (operators.redact patterns)."""
    from csvtool_spark.operators.redact import redact_pii

    _no_extra_kwargs(st, set())
    text = _text_arg(df, st)
    return [columns({text: redact_pii(F.col(text))})]


def _stage_hash_sample(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``hash_sample(frac, key=k)`` — deterministic keyed Bernoulli thinning:
    keep rows whose 32-bit md5 coin on the KEY falls under frac. Unlike the
    ``sample`` clause (scan-order numbering — a range shuffle + count job),
    this is a pure filter on a real column: the 100 TB-shaped form.

    The coin is salted with the stage name (``md5('hash_sample:' || key)``)
    so it is independent of the ``split`` stage's coin on the SAME key
    column — unsalted, sampling then splitting on doc_id would correlate
    (the kept 30% would all land in the same split buckets; round-8
    verdict item 7). NULL keys still drop (NULL propagates through the
    concat into a NULL coin), matching the unsalted behavior. Nested
    samples on one key stay nested: the coin is shared across fractions."""
    from csvtool_spark.functions.hashing import md5_prefix_long

    _no_extra_kwargs(st, {"key"})
    if len(st.args) != 1:
        raise SemanticError("stage 'hash_sample' takes exactly one fraction")
    try:
        frac = float(st.args[0].val)
    except ValueError:
        raise SemanticError(
            f"stage 'hash_sample': expected a fraction, got "
            f"'{st.args[0].val}'"
        ) from None
    if not 0.0 <= frac <= 1.0:
        raise SemanticError("stage 'hash_sample': fraction must be in [0, 1]")
    keyc = _col_kwarg(df, st, "key")
    coin = md5_prefix_long(
        F.concat(F.lit("hash_sample:"), F.col(keyc).cast("string"))
    )
    return [Where(coin < F.lit(int(frac * 4294967296)), (keyc,))]


def _stage_split(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``split(key=k, train=0.9, test=0.1 [, as=split])`` — deterministic
    key-hash split labels (operators.sampling.hash_split buckets). Every
    non-reserved kwarg is a label=fraction pair.

    The label is DELIBERATELY the unsalted ``split_label(key)``: the
    split family has a recompute-from-key contract (``hash_split``,
    ``split_leakage``, ``cluster_safe_split`` all re-derive a row's
    split from its key with the same coin), so the pipe stage must
    assign exactly the labels those auditors recompute (round-9 review).
    Coin independence from a prior ``hash_sample`` on the same key is
    achieved by salting THAT stage's coin instead (round-8 verdict
    item 7). NULL keys get a NULL label."""
    from csvtool_spark.operators.sampling import split_label

    keyc = _col_kwarg(df, st, "key")
    if st.args:
        raise SemanticError("stage 'split' takes keyword arguments only")
    name = _out_name(df, st, "split")
    fractions: dict[str, float] = {}
    for k, v in st.kwargs.items():
        if k in ("key", "as"):
            continue
        try:
            fractions[k] = float(v.val)
        except ValueError:
            raise SemanticError(
                f"stage 'split': {k}= expects a fraction, got '{v.val}'"
            ) from None
    if not fractions:
        raise SemanticError(
            "stage 'split' needs at least one label=fraction pair"
        )
    try:
        expr = split_label(F.col(keyc), fractions)
    except ValueError as e:  # fractions sum > 1
        raise SemanticError(f"stage 'split': {e}") from None
    return [columns({name: expr})]


def _stage_decontaminate(df: DataFrame, st: ast.Stage, ctx=None) -> DataFrame:
    """``decontaminate(text, id=k, ref=<table> [, ref_text=col, k=5])`` —
    benchmark decontamination as a filter: drop every row whose normalized
    k-word shingle set overlaps the REF relation's (the GPT-3-style
    any-collision rule; ``operators.contamination`` shapes). ``ref`` is a
    registered table name or a readable file path, resolved through the
    calling engine; ``ref_text`` defaults to the corpus text column's
    name.

    100 TB shape (contamination_report's): the eval-suite shingles are
    tiny → broadcast; the corpus side explodes per-document shingles and
    probes the broadcast set with a LEFT SEMI, then the ids anti-join —
    the big side is never shuffled."""
    from csvtool_spark.operators.contamination import shingle_set

    _no_extra_kwargs(st, {"id", "ref", "ref_text", "k"})
    text, idc = _text_arg(df, st), _id_kwarg(df, st)
    ref = st.kwargs.get("ref")
    if ref is None:
        raise SemanticError(
            "stage 'decontaminate' requires ref=<table or file> (the "
            "benchmark/eval relation to screen against)"
        )
    if ctx is None:
        raise SemanticError(
            "stage 'decontaminate' needs an engine context to resolve "
            "ref= (run it through CsvEngine.sql)"
        )
    ref_df = ctx.resolve_table(ref.val)
    rt_arg = st.kwargs.get("ref_text")
    rt_want = rt_arg.val if rt_arg is not None else text
    rlower = {c.lower(): c for c in ref_df.columns}
    rt = rlower.get(rt_want.lower())
    if rt is None:
        raise SemanticError(
            f"stage 'decontaminate': no column '{rt_want}' in ref "
            f"'{ref.val}' (have: {', '.join(ref_df.columns)}; set "
            "ref_text=<column>)"
        )
    k = _int_kwarg(st, "k", 5)
    # ref id column is irrelevant — only the distinct shingle set matters
    ref_sh = F.broadcast(
        shingle_set(
            ref_df.select(F.lit(0).alias("__rid"), F.col(rt)), rt, "__rid", k
        )
        .select("shingle")
        .distinct()
    )
    corp_sh = shingle_set(df.select(F.col(idc), F.col(text)), text, idc, k)
    contaminated = (
        corp_sh.join(ref_sh, "shingle", "left_semi").select(idc).distinct()
    )
    return df.join(contaminated, idc, "left_anti")


def _stage_despan(df: DataFrame, st: ast.Stage, ctx=None) -> DataFrame:
    """``despan(text, id=k [, k=8, min_docs=2, keep=first])`` —
    cross-document duplicate-PASSAGE removal (Lee et al. 2021 span
    dedup, ``operators.dedup.remove_duplicate_spans``): token positions
    covered by a k-window duplicated across ≥ min_docs documents are
    dropped from the text column IN PLACE (keep=first leaves the
    min-id owner's copy; keep=none trims boilerplate everywhere).
    Other columns and their order are preserved.

    ``min_run=L`` switches to the length-thresholded rule
    (``remove_duplicate_runs`` — Lee et al.'s actual form): only maximal
    duplicated runs of at least L tokens are dropped, so a merely-common
    k-gram survives.

    Cost note: the operator already reads its input twice (span
    occurrences + the rewrite join); carrying the non-text columns adds
    a third read of the upstream result. Fine after a filtering pipe at
    any scale — but a 100 TB corpus-wide despan should run
    ``remove_duplicate_spans`` directly on a materialized table."""
    from csvtool_spark.operators.dedup import (
        remove_duplicate_runs,
        remove_duplicate_spans,
    )

    _no_extra_kwargs(st, {"id", "k", "min_docs", "keep", "min_run", "exact"})
    text, idc = _text_arg(df, st), _id_kwarg(df, st)
    keep_arg = st.kwargs.get("keep")
    keep = keep_arg.val.lower() if keep_arg is not None else "first"
    if keep not in ("first", "none"):
        raise SemanticError(
            f"stage 'despan': keep= must be first or none, got '{keep}'"
        )
    min_run = _int_kwarg(st, "min_run", 0)
    if min_run > 0:
        rewritten = remove_duplicate_runs(
            df,
            text,
            idc,
            k=_int_kwarg(st, "k", 8),
            min_docs=_int_kwarg(st, "min_docs", 2),
            min_run_tokens=min_run,
            keep=keep,
            # exact=0 opts out of full-run verification (the cheap
            # window lane); default matches the operator's exact lane
            verify_exact=bool(_int_kwarg(st, "exact", 1)),
        )
    else:
        if "exact" in st.kwargs:
            raise SemanticError(
                "stage 'despan': exact= applies only with min_run="
            )
        rewritten = remove_duplicate_spans(
            df,
            text,
            idc,
            k=_int_kwarg(st, "k", 8),
            min_docs=_int_kwarg(st, "min_docs", 2),
            keep=keep,
        )
    return _join_back_rewritten(df, rewritten, text, idc)


def _stage_quota(df: DataFrame, st: ast.Stage, ctx=None) -> DataFrame:
    """``quota(group, cap=N, order=col [, tokens=col])`` — cap rows per
    group, keeping the first N by deterministic ``order``
    (operators.sampling.source_quota): the source-balancing /
    data-mixing step, so one crawl host cannot dominate the mixture.

    With ``tokens=<numeric column>`` the cap is a TOKEN budget instead
    (``sampling.token_quota``): keep rows in order while the group's
    running token sum stays ≤ cap — the rule a mixing recipe actually
    states ("at most N tokens per domain"). Compose as ``|> tokens(text)
    |> quota(source, cap=100000, order=doc_id, tokens=n_tokens)``.

    DETERMINISM: the keep rule is only run-to-run stable when the order
    column (or ``(order, tie)`` with the optional ``tie=<unique id>``
    kwarg) is unique within each group — duplicate order values rank in
    engine-chosen tie order (see sampling.source_quota/token_quota).
    Pass ``tie=`` whenever ``order=`` can repeat (e.g. ordering by a
    score: ``quota(source, cap=100, order=n_tokens, tie=doc_id)``)."""
    from csvtool_spark.operators.sampling import source_quota, token_quota

    _no_extra_kwargs(st, {"cap", "order", "tokens", "tie"})
    if len(st.args) != 1:
        raise SemanticError(
            "stage 'quota' takes exactly one group column argument"
        )
    group = _resolve_col(df, st, st.args[0])
    cap = _int_kwarg(st, "cap", 0)
    if cap < 1:
        raise SemanticError("stage 'quota' requires cap=<positive integer>")
    order = _col_kwarg(df, st, "order", " (the deterministic keep rule)")
    tie = st.kwargs.get("tie")
    tiec = _resolve_col(df, st, tie) if tie is not None else None
    tok = st.kwargs.get("tokens")
    if tok is not None:
        tokc = _typed(
            df, st, tok, T.NumericType, "tokens= needs a numeric count column"
        )
        return token_quota(df, group, order, tokc, cap, tie_col=tiec)
    return source_quota(df, group, order, cap, tie_col=tiec)


def _stage_chunk(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``chunk(text, id=k [, size=128, overlap=16])`` — split documents
    into overlapping token windows (operators.pipeline.chunk_documents):
    the context-length prep before packing/tokenization. One output row
    per chunk; the text column is REPLACED by the chunk's text, every
    other column rides along (chunk_documents ``extras`` — carried
    through the explode itself, so there is NO join and the stage is
    shuffle-free and streaming-safe), and ``chunk_id`` +
    ``n_chunk_tokens`` append."""
    from csvtool_spark.operators.pipeline import chunk_documents

    _no_extra_kwargs(st, {"id", "size", "overlap"})
    text, idc = _text_arg(df, st), _id_kwarg(df, st)
    size = _int_kwarg(st, "size", 128)
    overlap = _int_kwarg(st, "overlap", 16)
    if overlap >= size:
        raise SemanticError(
            f"stage 'chunk': overlap ({overlap}) must be < size ({size})"
        )
    _fresh(st, df.columns, "chunk_id", "n_chunk_tokens")
    others = tuple(c for c in df.columns if c not in (idc, text))

    def build(d: DataFrame) -> DataFrame:
        ch = chunk_documents(
            d, text, idc, chunk_tokens=size, overlap=overlap, extras=others
        )
        return ch.select(
            *[
                F.col("chunk_text").alias(text) if c == text else F.col(c)
                for c in d.columns
            ],
            F.col("chunk_id"),
            F.col("n_chunk_tokens"),
        )

    return [Select((text, "chunk_id", "n_chunk_tokens"), build)]


def apply_stages_streaming(
    df: DataFrame, stages: list[ast.Stage], engine=None
) -> DataFrame:
    """``apply_stages`` with the streaming gate: reject stages whose
    batch semantics cannot hold per micro-batch, so the SAME stage chain
    text drives batch SQL and a readStream frame with equal results
    (batch-equality pinned in tests/test_streaming.py). Besides
    STREAM_SAFE, ``mixture(rates=1)`` passes: a pure CASE + coin filter,
    while share mode needs global token counts. A malformed ``rates=``
    passes on purpose, so the user sees the stage's own error."""
    for st in stages:
        r = st.kwargs.get("rates")
        rates = r is not None and (not r.val.isdigit() or int(r.val) != 0)
        if st.name in FRAME_STAGES and not (st.name == "mixture" and rates):
            raise SemanticError(
                f"stage '{st.name}' is not streaming-safe (needs cross-row "
                f"state; streaming twins: dedup -> curated_stream, "
                f"decontaminate -> decontaminated_stream, mixture -> "
                f"mixture(rates=1)). Streaming "
                f"stages: {', '.join(sorted(STREAM_SAFE))}"
            )
    return apply_stages(df, stages, engine)


def _stage_bpe(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``bpe(text, merges='path' [, as=bpe_tokens])`` — subword-tokenize
    the text column with a TRAINED merge artifact (operators.bpe:
    ``bpe_train`` + ``save_merges`` produce it; the stage loads it with
    ``load_merges`` and applies the Arrow-batched encoder). Appends
    ``as``-named array<string> tokens and ``n_bpe_tokens``. Per-row and
    stateless → streaming-safe. Not SQL-expressible (sequential merge
    priority), so no oracle twin — the operator's own pytest battery is
    the gate."""
    from csvtool_spark.operators.bpe import bpe_encode, load_merges

    _no_extra_kwargs(st, {"merges", "as"})
    text = _text_arg(df, st)
    marg = st.kwargs.get("merges")
    if marg is None:
        raise SemanticError(
            "stage 'bpe' requires merges=<path> (a saved bpe_train "
            "artifact; see operators.bpe.save_merges)"
        )
    name = _out_name(df, st, "bpe_tokens")
    # the stage appends n_bpe_tokens alongside the token array
    _fresh(st, [*df.columns, name], "n_bpe_tokens")
    try:
        merges = load_merges(df.sparkSession, marg.val)
    except Exception as e:  # noqa: BLE001 — surface a dialect-shaped error
        raise SemanticError(
            f"stage 'bpe': cannot load merges from '{marg.val}': {e}"
        ) from None
    return [
        Select(
            (name, "n_bpe_tokens"),
            lambda d: bpe_encode(d, text, merges, out_col=name),
        )
    ]


def _stage_pack(df: DataFrame, st: ast.Stage, ctx=None) -> DataFrame:
    """``pack(n_tokens, id=k, budget=N)`` — GPT-style concat-and-chunk
    sequence packing (operators.packing.pack_sequences): documents in id
    order fill fixed-``budget`` token sequences; one output row per
    (document, sequence) span with ``seq_id``/``seq_offset``/``n_tok``
    appended and every input column carried (id equi-join back). The
    argument is the token-count column — compose as ``|> tokens(text)
    |> pack(n_tokens, id=doc_id, budget=512)``. Batch-only (global
    prefix sum), like the operator."""
    from csvtool_spark.operators.packing import pack_sequences

    _no_extra_kwargs(st, {"id", "budget"})
    if len(st.args) != 1:
        raise SemanticError(
            "stage 'pack' takes exactly one token-count column argument"
        )
    ncol = _resolve_col(df, st, st.args[0])
    idc = _id_kwarg(df, st)
    budget = _int_kwarg(st, "budget", 0)
    if budget < 1:
        raise SemanticError("stage 'pack' requires budget=<positive integer>")
    _fresh(st, df.columns, "seq_id", "seq_offset", "n_tok")
    # NULL counts (a null-text document through the tokens stage) pack as
    # zero-token docs — without the coalesce the explode over a NULL
    # sequence silently DROPS the document (review-confirmed), while the
    # oracle keeps it
    spans = pack_sequences(
        df.select(
            F.col(idc), F.coalesce(F.col(ncol), F.lit(0)).alias(ncol)
        ),
        idc, ncol, budget,
    )
    return df.join(spans, idc).select(
        *df.columns, "seq_id", "seq_offset", "n_tok"
    )


def _stage_clean(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``clean(text [, min_words=3, terminal=1])`` — C4-style cleaning
    (Raffel et al. 2020 §2.2, operators.textstats): the text column is
    rewritten keeping only lines with ≥ min_words words, a
    terminal-punctuation ending (``terminal=0`` waives it — e.g. for
    code/log corpora) and no "javascript" mention; pages tripping the
    page-level blocklist ("lorem ipsum", curly bracket) are DROPPED.
    Pure projection + filter — streaming-safe."""
    from csvtool_spark.operators.textstats import c4_clean_lines, c4_page_flags

    _no_extra_kwargs(st, {"min_words", "terminal"})
    text = _text_arg(df, st)
    mw = _int_kwarg(st, "min_words", 3)
    if mw < 1:
        raise SemanticError("stage 'clean': min_words must be >= 1")
    term = _int_kwarg(st, "terminal", 1) != 0
    # NULL text is not a page-drop (the flag is NULL there) — it rides
    # through as NULL, same as the Column lane
    return [
        Where(~F.coalesce(c4_page_flags(F.col(text)), F.lit(False)), (text,)),
        columns({
            text: c4_clean_lines(
                F.col(text), min_words=mw, require_terminal=term
            )
        }),
    ]


def _stage_derep(df: DataFrame, st: ast.Stage, ctx=None) -> DataFrame:
    """``derep(text, id=k [, k=8])`` — WITHIN-document repetition removal
    (operators.dedup.remove_repeated_spans): any k-window whose hash
    already occurred earlier in the same document drops its covered
    positions, keeping the first occurrence — trims loops/boilerplate
    echoes where the Gopher-style repetition filters would drop the whole
    document. Text rewritten in place, other columns preserved (the
    despan join-back plumbing)."""
    from csvtool_spark.operators.dedup import remove_repeated_spans

    _no_extra_kwargs(st, {"id", "k"})
    text, idc = _text_arg(df, st), _id_kwarg(df, st)
    rewritten = remove_repeated_spans(df, text, idc, k=_int_kwarg(st, "k", 8))
    return _join_back_rewritten(df, rewritten, text, idc)


def _stage_gopher(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``gopher(text [, filter=1])`` — Gopher repetition signals
    (Rae et al. 2021 Table A1, line AND paragraph granularity;
    ``textstats.gopher_repetition``): append ``dup_line_frac``,
    ``dup_line_char_frac``, ``dup_para_frac``, ``dup_para_char_frac``
    ('\\n\\n'-split), ``top_{2,3,4}gram_char_frac`` and
    ``dup_{5..10}gram_char_frac``; ``filter=1`` also DROPS documents
    exceeding ANY paper threshold (GOPHER_THRESHOLDS — one shared
    constant with the operator and the SQL twin). NULL signals pass the
    filter: a too-short document is undefined, not spam.

    The signals are per-row (the operator's Arrow kernel), so the stage
    is a pure column append — no join, no shuffle, streaming-legal; a
    NULL-id row keeps its row and its signals (round-9 review: an
    append-only stage must not change the row count)."""
    from csvtool_spark.operators.textstats import (
        GOPHER_THRESHOLDS,
        _gopher_arrow,
    )

    _no_extra_kwargs(st, {"filter"})
    text = _text_arg(df, st)
    _fresh(st, df.columns, *GOPHER_THRESHOLDS)
    # collision-proof struct alias: a user column literally named '__g'
    # would otherwise make the second select's '__g.*' ambiguous
    # (round-9 third review, verified AnalysisException)
    tmp = "__g"
    while tmp in {c.lower() for c in df.columns}:
        tmp += "_"
    steps = [
        Select(
            tuple(GOPHER_THRESHOLDS),
            lambda d: d.select(
                *d.columns, _gopher_arrow(F.col(text)).alias(tmp)
            ).select(*d.columns, f"{tmp}.*"),
        )
    ]
    if _int_kwarg(st, "filter", 0):
        keep = F.lit(True)
        for c, thr in GOPHER_THRESHOLDS.items():
            keep = keep & (F.coalesce(F.col(c), F.lit(0.0)) <= F.lit(thr))
        steps.append(Where(keep, tuple(GOPHER_THRESHOLDS)))
    return steps


def _stage_filter(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``filter(col, min=x [, max=y])`` — inclusive numeric range gate on
    ANY current column, including ones earlier stages appended (the
    query's own WHERE runs before the pipe, so it cannot see
    ``n_tokens``/gopher signals/``shard``/``keep_ppm``; ``quality`` has
    only its built-in ``min=``). At least one bound required; NULL
    values drop (a NULL comparison is not true on either engine).
    Pure per-row predicate → streaming-safe.

    Lane rule: integer-lexeme bounds (``min=30``) compare in the exact
    int64 lane on integral columns; fractional bounds (``min=0.5``)
    compare in the double lane, exact only to 2^53 (_num_kwarg)."""
    _no_extra_kwargs(st, {"min", "max"})
    if len(st.args) != 1:
        raise SemanticError(
            "stage 'filter' takes exactly one column argument"
        )
    col = _typed(df, st, st.args[0], T.NumericType, "the column must be numeric")
    lo = _num_kwarg(st, "min", None)
    hi = _num_kwarg(st, "max", None)
    if lo is None and hi is None:
        raise SemanticError(
            "stage 'filter' requires min= and/or max= (inclusive bounds)"
        )
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(col) >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(col) <= F.lit(hi))
    return [Where(cond, (col,))]


def _stage_normalize(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``normalize(text)`` — rewrite the column in place with
    ``textstats.normalize_text``: C0-control strip (tab/newline kept),
    then NFC composition, then space/tab-run collapse + trim. The pass
    that makes byte-variant copies of the same text hash identically —
    run it BEFORE dedup/fingerprint stages. Per-row (ICU4J NFC + JVM
    regexes, no Python worker) → streaming-safe."""
    from csvtool_spark.operators.textstats import normalize_text

    _no_extra_kwargs(st, set())
    text = _text_arg(df, st)
    return [columns({text: normalize_text(F.col(text))})]


def _stage_shard(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``shard(n=N, key=k [, as=shard, repartition=0])`` — deterministic
    output sharding: append ``shard`` = 32-bit md5 coin of
    ``'shard:' + key`` mod N, the balanced write-layout step (md5 is
    uniform, so N shards get ~equal row counts regardless of key skew —
    e.g. ``|> shard(n=1024, key=doc_id)`` then ``partitionBy('shard')``
    or one output file per shard at any corpus size). Salted like the
    other coin families so it is independent of hash_sample/split/
    mixture coins on the same key; a NULL key gets a NULL shard (the
    append-only row-count contract). ``repartition=1`` also hash-
    repartitions the frame into exactly N partitions on the new column
    — same rows, physically co-located shards for the writer (one
    shuffle; leave 0 when a downstream stage would shuffle anyway)."""
    from csvtool_spark.functions.hashing import md5_prefix_long

    _no_extra_kwargs(st, {"n", "key", "as", "repartition"})
    if st.args:
        raise SemanticError("stage 'shard' takes keyword arguments only")
    n = _int_kwarg(st, "n", 0)
    if n < 1:
        raise SemanticError("stage 'shard' requires n=<positive integer>")
    keyc = _col_kwarg(df, st, "key")
    name = _out_name(df, st, "shard")
    coin = md5_prefix_long(
        F.concat(F.lit("shard:"), F.col(keyc).cast("string"))
    )
    step = columns({name: (coin % F.lit(n)).cast("long")})
    if _int_kwarg(st, "repartition", 0):
        return [Select(step.names, lambda d: step.build(d).repartition(n, name))]
    return [step]


def _stage_mixture(df: DataFrame, st: ast.Stage, ctx=None) -> list:
    """``mixture(source, key=k, tokens=n_col, <src>=<ppm>, ...)`` —
    token-budget data mixing (operators.sampling.mixture_resample):
    downsample sources to target ppm shares with the deterministic
    key-hash coin (sources without a share are dropped); appends the
    audit ``keep_ppm`` column. Compose as ``|> tokens(text) |>
    mixture(source, key=doc_id, tokens=n_tokens, src0=500000,
    src1=500000)``. NB: the parser lowercases keyword names, so source
    labels with uppercase characters are not addressable from the SQL
    surface, and sources literally named 'key' or 'tokens' collide with
    the reserved kwargs — use ``sampling.mixture_resample`` directly for
    those.

    ``rates=1`` switches to the streaming-legal APPLY mode
    (``sampling.mixture_apply``): the <src>=<ppm> values are
    PRE-COMPUTED keep rates (e.g. a prior batch run's ``keep_ppm``
    audit) rather than target shares — a pure CASE + coin filter with
    no global counts, so the stage is per-row steps
    (``sampling.mixture_apply_steps``) and passes the streaming gate. The
    ``tokens=`` kwarg is batch/share mode only (rates need no token
    totals); 'rates' joins the reserved source names above.

    ``temperature=a`` (0 < a <= 1) switches to the RATE-DERIVATION mode
    (``sampling.temperature_mixture``): no <src>= values at all — keep
    rates come from the per-source token totals as
    ``1e6*(n_min/n_s)^(1-a)``, the multilingual sampling-temperature
    rule (kept tokens ∝ n_s^a, smallest source kept whole). Batch-only
    like share mode (global counts); a=0.5 is bit-exact cross-engine
    (IEEE sqrt), other exponents ride pow. Mutually exclusive with
    rates= and with explicit <src>=<ppm> values."""
    from csvtool_spark.operators.sampling import (
        mixture_apply_steps,
        mixture_resample,
        temperature_mixture,
    )

    def frame(body):
        return [Select(("keep_ppm",), body, barrier=True)]

    if len(st.args) != 1:
        raise SemanticError(
            "stage 'mixture' takes exactly one source column argument"
        )
    source = _resolve_col(df, st, st.args[0])
    _fresh(st, df.columns, "keep_ppm")
    rates_mode = bool(_int_kwarg(st, "rates", 0))
    temp = _float_kwarg(st, "temperature", None)
    key = st.kwargs.get("key")
    tok = st.kwargs.get("tokens")
    if temp is not None:
        if rates_mode:
            raise SemanticError(
                "stage 'mixture': temperature= and rates= are mutually "
                "exclusive (derive rates OR apply pre-computed ones)"
            )
        if not 0.0 < temp <= 1.0:
            raise SemanticError(
                f"stage 'mixture': temperature= expects a value in "
                f"(0, 1], got {temp}"
            )
        if key is None or tok is None:
            raise SemanticError(
                "stage 'mixture' temperature mode requires key=<column> "
                "and tokens=<column>"
            )
        extra = sorted(
            set(st.kwargs) - {"key", "tokens", "temperature"}
        )
        if extra:
            raise SemanticError(
                f"stage 'mixture': temperature mode derives every rate "
                f"from the corpus — explicit <source>=<ppm> values "
                f"({', '.join(extra)}) are not allowed"
            )
        keyc, tokc = _resolve_col(df, st, key), _resolve_col(df, st, tok)
        return frame(
            lambda d: temperature_mixture(d, source, keyc, tokc, alpha=temp)
        )
    if rates_mode:
        if tok is not None:
            raise SemanticError(
                "stage 'mixture': tokens= applies only to share mode "
                "(rates=1 takes pre-computed keep rates, no token totals)"
            )
        if key is None:
            raise SemanticError("stage 'mixture' requires key=<column>")
    elif key is None or tok is None:
        raise SemanticError(
            "stage 'mixture' requires key=<column> and tokens=<column>"
        )
    keyc = _resolve_col(df, st, key)
    target: dict[str, int] = {}
    for k2, v in st.kwargs.items():
        if k2 in ("key", "tokens", "rates"):
            continue
        if (
            not v.val.isdigit()
            or int(v.val) <= 0
            or (rates_mode and int(v.val) > 1_000_000)
        ):
            what = "keep rate in (0, 1000000]" if rates_mode else "ppm share"
            raise SemanticError(
                f"stage 'mixture': {k2}= expects a positive {what}, "
                f"got '{v.val}'"
            )
        target[k2] = int(v.val)
    if not target:
        what = "keep rate" if rates_mode else "share"
        raise SemanticError(
            f"stage 'mixture' needs at least one <source>=<ppm> {what}"
        )
    if rates_mode:
        return mixture_apply_steps(source, keyc, target)
    tokc = _resolve_col(df, st, tok)
    return frame(lambda d: mixture_resample(d, source, keyc, tokc, target))


def _frame(body, computes=lambda st: ()):
    """A DataFrame stage as one ``Select``: ``body`` builds the frame,
    ``computes(st)`` names the columns it adds or rewrites."""

    def stage(df: DataFrame, st: ast.Stage, ctx=None) -> list:
        return [Select(computes(st), lambda d: body(d, st, ctx), barrier=True)]

    return stage


def _text_rewrite(st: ast.Stage) -> tuple[str, ...]:
    return tuple(a.val for a in st.args[:1])


#: per-row stages, built from steps only: legal and IDENTICAL on a
#: Structured Streaming frame
ROW_STAGES = {
    "langid": _stage_langid,
    "quality": _stage_quality,
    "tokens": _stage_tokens,
    "fingerprint": _stage_fingerprint,
    "pii_scrub": _stage_pii_scrub,
    "hash_sample": _stage_hash_sample,
    "split": _stage_split,
    "chunk": _stage_chunk,
    "bpe": _stage_bpe,
    "clean": _stage_clean,
    "gopher": _stage_gopher,
    "shard": _stage_shard,
    "normalize": _stage_normalize,
    "filter": _stage_filter,
}

#: DataFrame stages: cross-row passes a micro-batch cannot see past (the
#: streaming gate's error names the twins of dedup, decontaminate, mixture;
#: ``mixture(rates=1)`` alone is per-row steps)
FRAME_STAGES = {
    "dedup": _frame(_stage_dedup),
    "neardup": _frame(_stage_neardup),
    "decontaminate": _frame(_stage_decontaminate),
    "despan": _frame(_stage_despan, _text_rewrite),
    "quota": _frame(_stage_quota),
    "pack": _frame(_stage_pack, lambda st: ("seq_id", "seq_offset", "n_tok")),
    "derep": _frame(_stage_derep, _text_rewrite),
    "mixture": _stage_mixture,
}

STAGES = {**ROW_STAGES, **FRAME_STAGES}

#: the streaming-safe stages, derived: exactly the ones built from steps
STREAM_SAFE = frozenset(ROW_STAGES)
