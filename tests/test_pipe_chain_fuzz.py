"""Pipe-chain differential fuzzer: RANDOM `|>` stage chains vs a
compositional DuckDB oracle (dialect.stage_oracles.chain_oracle_sql).

The catalog pins fixed chains; this locks the COMPOSITION surface — a
rewrite stage feeding a filter stage, stacked coin stages on one key,
repeated appends under as= renames, cardinality changes mid-chain — on
the same exact compare (rows, names, dtypes, values) as the gate."""

from __future__ import annotations

import random

import pytest

from csvtool_spark.dialect.stage_oracles import STAGE_TWINS, chain_oracle_sql
from csvtool_spark.dialect_queries import _SMP_COIN
from csvtool_spark.engine import CsvEngine
from csvtool_spark.functions.caching import persist_scope
from csvtool_spark.oracle import compare

SF = "/root/testdata/sf0.001"
BASE_TEXT = "select doc_id, text, source from documents"
BASE_SQL = "SELECT doc_id, text, source FROM documents"
BASE_COLS = ["doc_id", "text", "source"]

#: file-read bases (round-11 directive): the CSV-inference x
#: stage-typecheck seam — schema-INFERRED int/string columns flowing into
#: pipe stages. PID-keyed paths (static within a process, which is all
#: the BASES strings need): a concurrent fuzz/pytest pair running against
#: DIFFERENT sf dirs must not clobber each other's fixtures mid-run
#: (round-11 review). The files are (re)written from the CURRENT sf
#: parquet by ensure_file_bases(), so a driver testdata regeneration can
#: never strand stale fixtures either.
import os as _os
import tempfile as _tempfile

FUZZ_TSV = _os.path.join(
    _tempfile.gettempdir(), f"csvtool_fuzz_docs_{_os.getpid()}.tsv"
)
FUZZ_TXT = _os.path.join(
    _tempfile.gettempdir(), f"csvtool_fuzz_docs_{_os.getpid()}.txt"
)
FUZZ_TSV_ISRC = _os.path.join(
    _tempfile.gettempdir(), f"csvtool_fuzz_docs_isrc_{_os.getpid()}.tsv"
)


def ensure_file_bases(sf_dir: str = SF) -> None:
    """Write the .tsv / .txt twin fixtures of the documents table.

    TSV has no escaping beyond what both parsers share, so this asserts
    the corpus is hazard-free (no tabs/newlines/quotes in the written
    columns) rather than silently producing parser-divergent bytes. NULL
    text is written as the empty field/line; the oracle bases mirror
    that with coalesce."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/documents.parquet",
        columns=["doc_id", "text", "source", "n_chars"],
    )
    rows = sorted(
        zip(
            t["doc_id"].to_pylist(),
            t["text"].to_pylist(),
            t["source"].to_pylist(),
            t["n_chars"].to_pylist(),
        )
    )
    for _d, x, s, _n in rows:
        for v in (x or "", s or ""):
            assert "\t" not in v and "\n" not in v and '"' not in v, (
                "documents corpus gained TSV-hazard characters; the file "
                "bases need an escaping-aware writer now"
            )
    with open(FUZZ_TSV, "w") as f:
        f.write("doc_id\ttext\tsource\tn_chars\n")
        for d, x, s, n in rows:
            f.write(f"{d}\t{x or ''}\t{s or ''}\t{n}\n")
    with open(FUZZ_TXT, "w") as f:
        for _d, x, _s, _n in rows:
            f.write((x or "") + "\n")
    # int-SOURCE variant (round-12 directive): the mixture grouping
    # column itself arrives through inference as an int64 ('src7' -> 7),
    # covering the inference x rate-table seam on the group key
    with open(FUZZ_TSV_ISRC, "w") as f:
        f.write("doc_id\ttext\tsrcnum\tn_chars\n")
        for d, x, s, n in rows:
            # the [3:] slice below and the oracle's
            # CAST(substr(source, 4) AS BIGINT) are one shared mapping
            # ONLY for 'srcN'-shaped (or NULL) sources — a future
            # testdata change to any other shape would produce a
            # confusing data-dependent fuzz failure downstream; fail
            # loudly at fixture-write time instead (round-13 ADVICE)
            assert s is None or (
                s.startswith("src") and s[3:].isdigit()
            ), f"documents.source no longer 'srcN'-shaped: {s!r}"
            f.write(f"{d}\t{x or ''}\t{(s or 'src')[3:]}\t{n}\n")

#: base-query variety: the chain must compose with whatever the dialect
#: query upstream produced, not just the bare projection — (dialect text,
#: oracle SQL, columns, integer count columns present). The where-clause
#: twins mirror the dialect's null-safe '='/'!=' (selector.go semantics).
BASES = [
    (BASE_TEXT, BASE_SQL, BASE_COLS, []),
    (
        "select doc_id, text, source, n_chars from documents",
        "SELECT doc_id, text, source, n_chars FROM documents",
        ["doc_id", "text", "source", "n_chars"],
        ["n_chars"],
    ),
    (
        "select doc_id, text, source from documents where n_chars > 250",
        "SELECT doc_id, text, source FROM documents WHERE n_chars > 250",
        BASE_COLS,
        [],
    ),
    (
        "select doc_id, text, lang, source from documents "
        "where source != src3",
        "SELECT doc_id, text, lang, source FROM documents "
        "WHERE NOT (source IS NOT DISTINCT FROM 'src3')",
        ["doc_id", "text", "lang", "source"],
        [],
    ),
    (
        # dialect arithmetic upstream of the pipe: truncating int
        # division (value.go semantics) feeding the token/score slots
        "select doc_id, text, source, n_chars / 7 as bucket "
        "from documents",
        "SELECT doc_id, text, source, "
        "CAST(trunc(CAST(n_chars AS DOUBLE) / nullif(7, 0)) AS BIGINT) "
        "AS bucket FROM documents",
        ["doc_id", "text", "source", "bucket"],
        ["bucket"],
    ),
    (
        # JOIN upstream (round-10 directive): a pipe over an aliased
        # self-join exercises the column-provenance paths where the
        # round-9 stale-bind bug class lived — every column reaching the
        # chain was resolved through a join-side alias
        "select d.doc_id, d.text, d.source, e.n_chars from documents d "
        "join documents e on d.doc_id = e.doc_id",
        "SELECT d.doc_id, d.text, d.source, e.n_chars FROM documents d "
        "JOIN documents e ON d.doc_id = e.doc_id",
        ["doc_id", "text", "source", "n_chars"],
        ["n_chars"],
    ),
    (
        # GROUP BY upstream (round-10 directive): quality/langid/dedup
        # over AGGREGATED text — min(text) per source, dialect count()
        # -> FLOAT (n_docs is double, so not a tokens= candidate), and
        # the id slot is itself an aggregate (min(doc_id), unique
        # because doc_ids partition across sources)
        "select source, min(doc_id) as doc_id, min(text) as text, "
        "count(*) as n_docs from documents group by source",
        "SELECT source, min(doc_id) AS doc_id, min(text) AS text, "
        "CAST(count(*) AS DOUBLE) AS n_docs FROM documents "
        "GROUP BY source",
        ["source", "doc_id", "text", "n_docs"],
        [],
    ),
    (
        # ORDER BY + LIMIT upstream: a sorted-and-clipped base ('asc'
        # flips the dialect's default DESC; unique sort key -> the 200
        # rows are deterministic) feeding the chain
        "select doc_id, text, source from documents "
        "order by doc_id asc limit 200",
        "SELECT doc_id, text, source FROM documents "
        "ORDER BY doc_id ASC LIMIT 200",
        BASE_COLS,
        [],
    ),
    (
        # HAVING upstream: the agg-hoist path between group-by and the
        # pipe — same provenance class as the grouped base plus the
        # post-aggregation filter
        "select source, min(doc_id) as doc_id, min(text) as text, "
        "count(*) as n_docs from documents group by source "
        "having count(*) > 10",
        "SELECT source, min(doc_id) AS doc_id, min(text) AS text, "
        "CAST(count(*) AS DOUBLE) AS n_docs FROM documents "
        "GROUP BY source HAVING count(*) > 10",
        ["source", "doc_id", "text", "n_docs"],
        [],
    ),
    (
        # SAMPLE clause upstream: the deterministic TABLESAMPLE (md5
        # scan-position coin) thinning the corpus before the chain —
        # the q_dialect_sample twin shape over documents, built from the
        # SHARED _SMP_COIN constant so the two oracles drift together
        "select doc_id, text, source from documents sample 0.5",
        "WITH numbered AS (SELECT doc_id, text, source, "
        "row_number() OVER () - 1 AS __i FROM documents) "
        "SELECT doc_id, text, source FROM numbered "
        f"WHERE {_SMP_COIN} < {int(0.5 * 2**32)}",
        BASE_COLS,
        [],
    ),
    (
        # .tsv FILE base (round-11 directive): every column arrives
        # through the CSV INFERENCE lane (doc_id/n_chars sampled to
        # int64, text/source to string) instead of the parquet footer —
        # the inference x stage-typecheck seam. Twin reads the parquet
        # view the file was written from (ensure_file_bases).
        f"select doc_id, text, source, n_chars from '{FUZZ_TSV}'",
        "SELECT doc_id, coalesce(text, '') AS text, source, n_chars "
        "FROM documents",
        ["doc_id", "text", "source", "n_chars"],
        ["n_chars"],
    ),
    (
        # .txt RAW-LINE base: one string column from the one-doc-per-line
        # ingest lane, with the dialect's inc() providing the unique id
        # the coin/dedup stages key on — doc_id is a DOUBLE here
        # (reference inc() semantics), so every id-keyed twin also gets
        # fuzzed against double ids. Lines were written in doc_id order;
        # inc() numbers in scan order, so row_number() OVER (ORDER BY
        # doc_id) is the exact twin.
        f"select inc() as doc_id, line as text from '{FUZZ_TXT}'",
        "SELECT CAST(row_number() OVER (ORDER BY doc_id) AS DOUBLE) "
        "AS doc_id, coalesce(text, '') AS text FROM documents",
        ["doc_id", "text"],
        [],
    ),
]

#: stages whose TWIN groups by id (gopher, neardup) or breaks ties by id
#: (dedup/quota) — only legal while doc_id is still unique (pre-chunk)
NEEDS_UNIQUE_ID = {"dedup", "quota", "gopher", "neardup"}
#: stages that hard-reference the `source` column — skipped for bases
#: that don't carry one (the .txt raw-line base)
NEEDS_SOURCE = {"quota", "mixture"}
#: stages allowed at most once per chain (fixed output/CTE names)
ONCE = {"chunk", "gopher", "mixture", "neardup"}


def _gen_chain(rng: random.Random, base_cols=None, base_tokens=()):
    """One random chain: returns (dialect stage text, twin chain spec).

    Tracks the engine's column/uniqueness state so every generated chain
    is VALID — the negative battery owns the error paths."""
    base_cols = base_cols or BASE_COLS
    n_stages = rng.randint(2, 5)
    parts: list[str] = []
    chain: list[tuple[str, dict]] = []
    used_names = {c.lower() for c in base_cols}
    unique_id = True
    used_once: set[str] = set()
    # integer count columns usable as tokens=
    token_cols: list[str] = list(base_tokens)
    score_cols: list[str] = []  # double score columns (quality) for filter
    fp_cols: list[str] = []  # fingerprint columns usable as dedup keys
    pool = list(STAGE_TWINS)

    def fresh(default: str) -> tuple[str, str]:
        """(output name, dialect as= suffix) avoiding collisions."""
        if default.lower() not in used_names:
            used_names.add(default.lower())
            return default, ""
        i = 2
        while f"{default}{i}".lower() in used_names:
            i += 1
        name = f"{default}{i}"
        used_names.add(name.lower())
        return name, f", as={name}"

    for _ in range(n_stages):
        choices = [
            s
            for s in pool
            if not (s in NEEDS_UNIQUE_ID and not unique_id)
            and not (s in NEEDS_SOURCE
                     and "source" not in {c.lower() for c in base_cols})
            and not (s in ONCE and s in used_once)
            # fixed appended names -> once per chain unless as= exists
            and not (s == "chunk" and (
                "chunk_id" in used_names or "n_chunk_tokens" in used_names))
        ]
        s = rng.choice(choices)
        used_once.add(s)
        if s == "langid":
            name, asfx = fresh("lang_guess")
            keep = rng.choice([None, None, "en", "unknown"])
            kfx = f", keep={keep}" if keep else ""
            parts.append(f"langid(text{asfx}{kfx})")
            p = {"text": "text", "as": name}
            if keep:
                p["keep"] = keep
            chain.append(("langid", p))
        elif s == "quality":
            name, asfx = fresh("quality")
            lo = rng.choice([None, 0.3, 0.45, 0.6])
            lfx = f", min={lo}" if lo is not None else ""
            parts.append(f"quality(text{asfx}{lfx})")
            chain.append(("quality", {"text": "text", "as": name, "min": lo}))
            score_cols.append(name)
        elif s == "tokens":
            name, asfx = fresh("n_tokens")
            parts.append(f"tokens(text{asfx})")
            chain.append(("tokens", {"text": "text", "as": name}))
            token_cols.append(name)
        elif s == "fingerprint":
            name, asfx = fresh("content_fp")
            parts.append(f"fingerprint(text{asfx})")
            chain.append(("fingerprint", {"text": "text", "as": name}))
            fp_cols.append(name)
        elif s == "pii_scrub":
            parts.append("pii_scrub(text)")
            chain.append(("pii_scrub", {"text": "text"}))
        elif s == "normalize":
            parts.append("normalize(text)")
            chain.append(("normalize", {"text": "text"}))
        elif s == "filter":
            # range-gate a numeric column appended earlier (or a base
            # integer column); sometimes the DOUBLE quality score — the
            # bounds then stay in the float lane with [0,1]-scale cuts.
            # Integer columns draw BOTH literal lanes: int lexemes ride
            # the exact int64 lane, fractional the double (_num_kwarg)
            if score_cols and rng.random() < 0.3:
                col = rng.choice(score_cols)
                lo, hi = sorted(
                    rng.sample([0.15, 0.3, 0.45, 0.6, 0.75, 0.9], 2)
                )
                lane = float
            else:
                col = rng.choice(token_cols) if token_cols else "doc_id"
                lo, hi = sorted(rng.sample(range(0, 400), 2))
                lane = int if rng.random() < 0.5 else float
            form = rng.choice(["both", "min", "max"])
            p = {"col": col}
            if form in ("both", "min"):
                p["min"] = lane(lo)
            if form in ("both", "max"):
                p["max"] = lane(hi)
            kw = ", ".join(
                f"{k}={v}" for k, v in p.items() if k in ("min", "max")
            )
            parts.append(f"filter({col}, {kw})")
            chain.append(("filter", p))
        elif s == "hash_sample":
            frac = rng.choice([0.25, 0.5, 0.8, 0.95])
            parts.append(f"hash_sample({frac}, key=doc_id)")
            chain.append(("hash_sample", {"frac": frac, "key": "doc_id"}))
        elif s == "split":
            name, asfx = fresh("split")
            fr = rng.choice(
                [
                    {"train": 0.8, "test": 0.2},
                    {"train": 0.7, "dev": 0.1, "test": 0.2},
                    {"a": 0.5, "b": 0.3},  # remainder -> NULL label
                ]
            )
            kw = ", ".join(f"{k}={v}" for k, v in fr.items())
            parts.append(f"split(key=doc_id, {kw}{asfx})")
            chain.append(
                ("split", {"key": "doc_id", "fractions": fr, "as": name})
            )
        elif s == "dedup":
            # sometimes dedup on a FINGERPRINT column instead of the raw
            # text — the order-insensitive dedup composition (fingerprint
            # is a string column, so the stage accepts it unchanged) —
            # and sometimes keep the BEST-scoring copy via by= (integer
            # count columns only, same reasoning as quota tokens=)
            key = rng.choice(fp_cols) if fp_cols and rng.random() < 0.5 else "text"
            p = {"text": key, "id": "doc_id"}
            byfx = ""
            if token_cols and rng.random() < 0.4:
                p["by"] = rng.choice(token_cols)
                byfx = f", by={p['by']}"
            parts.append(f"dedup({key}, id=doc_id{byfx})")
            chain.append(("dedup", p))
        elif s == "neardup":
            thr = rng.choice([0.3, 0.4, 0.5])
            parts.append(f"neardup(text, id=doc_id, threshold={thr})")
            chain.append(
                ("neardup", {"text": "text", "id": "doc_id",
                             "threshold": thr})
            )
        elif s == "quota":
            # sometimes order by a NON-unique score column with the
            # tie=doc_id determinism restore ("shortest docs first" —
            # the shape the round-9 ADVICE flagged as never fuzzed)
            order, tiefx, tie = "doc_id", "", None
            if token_cols and rng.random() < 0.35:
                order = rng.choice(token_cols)
                tie, tiefx = "doc_id", ", tie=doc_id"
            if token_cols and rng.random() < 0.5:
                # token-budget mode (integer counts only — double sums
                # would be at the mercy of window-accumulation order)
                cap = rng.randint(40, 800)
                tc = rng.choice(token_cols)
                parts.append(
                    f"quota(source, cap={cap}, order={order}, tokens={tc}{tiefx})"
                )
                chain.append(
                    ("quota", {"group": "source", "order": order,
                               "cap": cap, "tokens": tc, "tie": tie})
                )
            else:
                cap = rng.randint(1, 25)
                parts.append(f"quota(source, cap={cap}, order={order}{tiefx})")
                chain.append(
                    ("quota", {"group": "source", "order": order,
                               "cap": cap, "tie": tie})
                )
        elif s == "chunk":
            size = rng.choice([16, 32, 64])
            overlap = rng.choice([0, 4, size // 2 - 1])
            parts.append(f"chunk(text, id=doc_id, size={size}, overlap={overlap})")
            chain.append(
                ("chunk", {"text": "text", "id": "doc_id",
                           "size": size, "overlap": overlap})
            )
            used_names.update({"chunk_id", "n_chunk_tokens"})
            unique_id = False
        elif s == "clean":
            mw = rng.randint(1, 6)
            term = rng.choice([0, 1])
            parts.append(f"clean(text, min_words={mw}, terminal={term})")
            chain.append(
                ("clean", {"text": "text", "min_words": mw,
                           "terminal": bool(term)})
            )
        elif s == "gopher":
            filt = rng.choice([0, 1])
            parts.append(f"gopher(text, filter={filt})")
            chain.append(
                ("gopher", {"text": "text", "id": "doc_id", "filter": filt})
            )
            from csvtool_spark.operators.textstats import GOPHER_THRESHOLDS

            used_names.update(GOPHER_THRESHOLDS)
        elif s == "shard":
            name, asfx = fresh("shard")
            n = rng.choice([4, 16, 64])
            rep = rng.choice([0, 0, 1])
            rfx = ", repartition=1" if rep else ""
            parts.append(f"shard(n={n}, key=doc_id{asfx}{rfx})")
            chain.append(("shard", {"n": n, "key": "doc_id", "as": name}))
        elif s == "mixture":
            if token_cols and rng.random() < 0.35:
                # temperature rate-derivation mode (alpha drawn from the
                # two exponents with bit-exact cross-engine twins: 0.5
                # rides IEEE sqrt, 0.75 rides sqrt∘sqrt — round 12)
                tc = rng.choice(token_cols)
                alpha = rng.choice([0.5, 0.75])
                parts.append(
                    f"mixture(source, key=doc_id, tokens={tc}, "
                    f"temperature={alpha})"
                )
                chain.append(
                    ("mixture", {"source": "source", "key": "doc_id",
                                 "tokens": tc, "temperature": alpha})
                )
            else:
                srcs = rng.sample(
                    [f"src{i}" for i in range(20)], rng.randint(4, 12)
                )
                rates = {x: rng.randrange(100_000, 1_000_001) for x in srcs}
                kw = ", ".join(f"{k}={v}" for k, v in sorted(rates.items()))
                parts.append(f"mixture(source, key=doc_id, rates=1, {kw})")
                chain.append(
                    ("mixture", {"source": "source", "key": "doc_id",
                                 "rates": rates})
                )
            used_names.add("keep_ppm")
        else:  # pragma: no cover — keep the pool and this dispatch in sync
            raise AssertionError(f"unhandled stage {s}")
    return " |> ".join(parts), chain


@pytest.fixture(scope="module")
def engine(spark):
    eng = CsvEngine(spark)
    eng.register_dir(SF, ["documents"])
    ensure_file_bases(SF)
    return eng


def test_twin_registry_covers_generator():
    """Every STAGE_TWINS entry is reachable from the generator (a twin
    nobody fuzzes is dead weight; a generated stage without a twin is a
    KeyError in chain_oracle_sql)."""
    rng = random.Random(0)
    seen: set[str] = set()
    for _ in range(300):
        _, chain = _gen_chain(rng)
        seen.update(name for name, _ in chain)
    assert seen == set(STAGE_TWINS)


def test_normalize_cross_engine_on_unicode_probes(spark):
    """normalize(text) pinned cross-engine on the inputs that matter:
    decomposed vs composed accents (NFC must merge them), C0 controls
    (stripped) while newlines survive and space/tab runs collapse to one
    space, CJK (untouched), NULL/empty (preserved). ICU4J NFC and
    DuckDB's utf8proc NFC must agree byte for byte, except on pairs
    composed after Unicode 14."""
    import duckdb
    import pandas as pd

    from csvtool_spark.dialect.parser import parse_pipeline
    from csvtool_spark.dialect.stages import apply_stages
    from csvtool_spark.operators.textstats import normalize_sql_expr

    rows = [
        (0, "café con leche"),          # decomposed -> café
        (1, "café con leche"),            # composed stays
        (2, "a\x00b\x07c"),                    # C0 controls strip
        (3, "keep\tthis\nline"),               # tab/newline kept...
        (4, "a  \t b\t\tc"),                   # ...but runs collapse
        (5, "  padded  "),                     # trim
        (6, "中文 text"),              # CJK untouched
        (7, None),
        (8, ""),
        (9, "Å ring"),                   # decomposed Å
        # stray control BETWEEN base char and combining mark: controls
        # must strip BEFORE NFC or the mark can never compose (round-9
        # second review) — must normalize equal to row 0's clean copy
        (10, "cafe\x00\u0301 con leche"),
        # pairs composed after Unicode 14: the engine follows the JVM's
        # ICU tables, DuckDB's utf8proc (and CPython 3.11) leave them
        # decomposed, so they are pinned as literal engine outputs
        (11, "\U0001611e\U0001611e"),          # Gurung Khema
        (12, "\U000113c2\U000113c2"),          # Tulu-Tigalari
    ]
    newer = {11: "\U00016121", 12: "\U000113c5"}
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    sdf = apply_stages(
        spark.createDataFrame(pdf.astype({"doc_id": "int64"})),
        parse_pipeline("normalize(text)"),
    )
    con = duckdb.connect()
    con.register("probe", pdf)
    got = {r["doc_id"]: r["text"] for r in sdf.collect()}
    want = dict(
        con.execute(
            f"SELECT doc_id, {normalize_sql_expr('text')} FROM probe"
        ).fetchall()
    )
    assert {k: got.pop(k) for k in newer} == newer
    assert got == {k: v for k, v in want.items() if k not in newer}
    assert got[0] == got[1]                      # NFC merged the accents
    assert got[10] == got[0]                     # control couldn't block NFC
    assert got[2] == "abc"                       # controls stripped
    assert got[3] == "keep this\nline"           # tab -> space, \n kept
    assert got[4] == "a b c" and got[5] == "padded"
    assert got[7] is None and got[8] == ""


def test_repeated_stage_after_rewrite_recomputes(engine, duck):
    """langid/quality applied AGAIN after a text rewrite (chunk) must
    recompute over the new text — the twin used to bind the duplicate
    column name to the FIRST (stale) value because langid_cte_sql /
    quality_cte_sql hardcoded their output names (round-9 review; DuckDB
    resolves duplicate names silently instead of erroring)."""
    chain = [
        ("langid", {"text": "text", "as": "lang_guess"}),
        ("quality", {"text": "text", "as": "quality", "min": None}),
        ("chunk", {"text": "text", "id": "doc_id", "size": 16, "overlap": 0}),
        ("langid", {"text": "text", "as": "lang_guess2"}),
        ("quality", {"text": "text", "as": "quality2", "min": 0.3}),
    ]
    stage_text = (
        "langid(text) |> quality(text) "
        "|> chunk(text, id=doc_id, size=16, overlap=0) "
        "|> langid(text, as=lang_guess2) |> quality(text, as=quality2, min=0.3)"
    )
    sdf = engine.sql(f"{BASE_TEXT} |> {stage_text}")
    sql, _ = chain_oracle_sql(BASE_SQL, BASE_COLS, chain)
    err = compare(sdf, duck, sql)
    assert err is None, err


#: temperature-mixture bases for the dedicated file-base fuzz (round-12
#: directive): every column — including the mixture GROUP column —
#: arrives through the CSV inference lane (string source on FUZZ_TSV,
#: int64 srcnum on FUZZ_TSV_ISRC), composing inference with the
#: broadcast rate-table derivation. (dialect text, oracle SQL, cols,
#: source column name)
TEMP_BASES = [
    (
        f"select doc_id, text, source, n_chars from '{FUZZ_TSV}'",
        "SELECT doc_id, coalesce(text, '') AS text, source, n_chars "
        "FROM documents",
        ["doc_id", "text", "source", "n_chars"],
        "source",
    ),
    (
        f"select doc_id, text, srcnum, n_chars from '{FUZZ_TSV_ISRC}'",
        "SELECT doc_id, coalesce(text, '') AS text, "
        "CAST(substr(source, 4) AS BIGINT) AS srcnum, n_chars "
        "FROM documents",
        ["doc_id", "text", "srcnum", "n_chars"],
        "srcnum",
    ),
]


def _gen_temp_chain(rng: random.Random):
    """One random temperature-mixture chain over a FILE base: optional
    upstream thinning, the rate derivation itself (alpha drawn from the
    two bit-exact exponent lanes), optional downstream rewrite — shared
    by the 30 suite seeds and the offline soak (tools/fuzz_pipe.py
    --temperature)."""
    base_text, base_sql, cols, src = rng.choice(TEMP_BASES)
    parts: list[str] = []
    chain: list[tuple[str, dict]] = []
    if rng.random() < 0.5:
        # upstream range gate on the INFERRED int column — can reshape
        # (or empty) per-source token mass before the derivation
        lo = rng.randrange(0, 200)
        hi = lo + rng.randrange(200, 2000)
        parts.append(f"filter(n_chars, min={lo}, max={hi})")
        chain.append(("filter", {"col": "n_chars", "min": lo, "max": hi}))
    if rng.random() < 0.5:
        parts.append("tokens(text)")
        chain.append(("tokens", {"text": "text"}))
        tok = "n_tokens"
    else:
        tok = "n_chars"  # the inferred int64 column as the token weight
    alpha = rng.choice([0.5, 0.75])
    parts.append(
        f"mixture({src}, key=doc_id, tokens={tok}, temperature={alpha})"
    )
    chain.append(("mixture", {"source": src, "key": "doc_id",
                              "tokens": tok, "temperature": alpha}))
    if rng.random() < 0.4:
        parts.append("fingerprint(text)")
        chain.append(("fingerprint", {"text": "text"}))
    return base_text, base_sql, cols, " |> ".join(parts), chain


@pytest.mark.parametrize("seed", range(30))
def test_temperature_mixture_over_file_bases(engine, duck, seed):
    """round-12 directive #7: the temperature stage composed with the
    .tsv inference bases — the rate table derived from columns (and a
    group key) that arrived as inferred string/int64, vs the composable
    DuckDB twin."""
    rng = random.Random(2400 + seed)
    base_text, base_sql, cols, stage_text, chain = _gen_temp_chain(rng)
    sql, _ = chain_oracle_sql(base_sql, cols, chain)
    # every temperature chain persists a rate-counts frame — the scope
    # frees it even when the build or compare raises, so 30 seeds against
    # the module-scoped session don't accumulate cached blocks (same
    # discipline as test_random_pipe_chain_matches_oracle)
    with persist_scope():
        try:
            sdf = engine.sql(f"{base_text} |> {stage_text}")
        except ValueError as e:
            if "no positive token mass" in str(e):
                pytest.skip(f"zero-mass source under temperature mixture: {e}")
            raise
        err = compare(sdf, duck, sql)
    assert err is None, f"base `{base_text}` chain `{stage_text}`: {err}"


@pytest.mark.parametrize("seed", range(30))
def test_random_pipe_chain_matches_oracle(engine, duck, seed):
    rng = random.Random(1000 + seed)
    base_text, base_sql, base_cols, base_tokens = rng.choice(BASES)
    stage_text, chain = _gen_chain(rng, base_cols, base_tokens)
    sql, _ = chain_oracle_sql(base_sql, base_cols, chain)
    # a drawn neardup persists MinHash staging frames — the scope frees
    # them even when the build or compare RAISES, so a failing seed
    # doesn't leave the remaining seeds under accumulated cached blocks
    with persist_scope():
        try:
            sdf = engine.sql(f"{base_text} |> {stage_text}")
        except ValueError as e:
            # documented engine/twin divergence: upstream
            # stages can empty one source's token mass, and the engine's
            # temperature mixture REFUSES (n_min=0 would clamp every rate
            # to 1 ppm) while the SQL twin can only clamp — an expected
            # skip, but only for that exact error under a drawn
            # temperature stage
            if "no positive token mass" in str(e) and any(
                n == "mixture" and "temperature" in p for n, p in chain
            ):
                pytest.skip(f"zero-mass source under temperature mixture: {e}")
            raise
        err = compare(sdf, duck, sql)
    assert err is None, f"base `{base_text}` chain `{stage_text}`: {err}"
