"""Seeded input generator for the benchmark.

Every file the program under test reads is written here, from the seed
alone: the same seed gives byte-identical files. ``python3 perfbench/gen.py
--seed 7 --out DIR`` writes them and prints the manifest.

Files:
- ``fact.csv`` / ``bulk.csv``: one fact table at two sizes. Columns carry
  int, float, two date formats, a duration in three spellings, strings,
  NULL tokens (``NA``, ``null``) and empty cells.
- ``dim.csv``: the dimension table the fact rows join to.
- ``corpus.jsonl``: a document corpus in four languages with exact and
  near duplicates injected at the rates the manifest records.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np

FACT_ROWS = 200_000
BULK_ROWS = 300_000
DIM_ROWS = 5_000
CORPUS_DOCS = 2_000

FACT_HEADER = "id,cat,region_id,qty,price,ts,day,dur,note"
DIM_HEADER = "region_id,rname,country,opened"

CATS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima",
]
COUNTRIES = [
    "aland", "borduria", "carpania", "drusselstein", "elbonia", "freedonia",
    "genovia", "hyrkania", "illyria", "jamaica", "kreplachistan", "latveria",
    "molvania", "nambutu", "orsinia", "pottsylvania", "qumar", "ruritania",
    "sokovia", "tomainia",
]
WORDS = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "join", "vector", "customer", "late", "early", "rush", "hold",
    "ship", "return", "credit", "debit", "audit", "refund", "bulk", "retail",
]
#: stopword markers per language (the words the engine's language-id
#: counts), mixed into each sentence so ``langid`` has a real split
LANG_WORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "fr": ["le", "les", "des", "et", "est", "une", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein"],
    "es": ["el", "los", "y", "una", "por", "que"],
}
#: corpus content words: two- and three-syllable words drawn with Zipf-like
#: weights, so unrelated documents share few shingles (as real text does)
_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
VOCAB = [a + b for a in _SYL for b in _SYL[::3]] + [
    a + b + c for a in _SYL[::5] for b in _SYL[::7] for c in _SYL[::9]]
VOCAB_P = 1.0 / np.arange(1, len(VOCAB) + 1)
VOCAB_P /= VOCAB_P.sum()
LANGS = ["en", "fr", "de", "es"]
LANG_P = [0.6, 0.14, 0.13, 0.13]
SOURCES = [f"src{i}" for i in range(8)]

#: share of documents that copy an earlier document's text exactly (up to
#: case and surrounding spaces) / with a one-word edit
EXACT_DUP_RATE = 0.06
NEAR_DUP_RATE = 0.06


def _with_nulls(rng, values: list, rate: float, token: str) -> list:
    hit = rng.random(len(values)) < rate
    return [token if h else v for v, h in zip(values, hit)]


def fact_lines(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` fact rows in file order (``id`` = 1..n, so file order is id
    order)."""
    cat = _with_nulls(rng, [CATS[i] for i in rng.integers(0, len(CATS), n)], 0.02, "")
    region = _with_nulls(rng, rng.integers(1, DIM_ROWS + 1, n).tolist(), 0.01, "NA")
    qty = _with_nulls(rng, rng.integers(0, 1000, n).tolist(), 0.02, "")
    cents = rng.integers(1, 100_000, n).tolist()
    price = _with_nulls(rng, [f"{c // 100}.{c % 100:02d}" for c in cents], 0.01, "null")
    ts = np.datetime64("2020-01-01T00:00:00") + rng.integers(
        0, 3 * 365 * 86400, n
    ).astype("timedelta64[s]")
    ts_s = [s.replace("T", " ") for s in np.datetime_as_string(ts, unit="s").tolist()]
    ts_s = _with_nulls(rng, ts_s, 0.01, "")
    days = (
        np.datetime64("2020-01-01")
        + rng.integers(0, 4 * 365, n).astype("timedelta64[D]")
    ).tolist()
    day_s = _with_nulls(rng, [f"{d.month}/{d.day}/{d.year}" for d in days], 0.01, "")
    kind = rng.integers(0, 3, n).tolist()
    a = rng.integers(1, 73, n).tolist()
    b = rng.integers(0, 60, n).tolist()
    dur = [
        f"{x % 30 + 1} days" if k == 0 else f"{x} hours" if k == 1 else f"{x % 48}h{y}m"
        for k, x, y in zip(kind, a, b)
    ]
    dur = _with_nulls(rng, dur, 0.01, "")
    w = rng.integers(0, len(WORDS), (n, 3)).tolist()
    note = _with_nulls(rng, [" ".join(WORDS[i] for i in t) for t in w], 0.01, "NA")
    return [FACT_HEADER] + [
        f"{i},{c},{r},{q},{p},{t},{d},{u},{o}"
        for i, c, r, q, p, t, d, u, o in zip(
            range(1, n + 1), cat, region, qty, price, ts_s, day_s, dur, note
        )
    ]


def dim_lines(rng: np.random.Generator) -> list[str]:
    n = DIM_ROWS
    country = _with_nulls(
        rng, [COUNTRIES[i] for i in rng.integers(0, len(COUNTRIES), n)], 0.02, ""
    )
    opened = (
        np.datetime64("2010-01-01")
        + rng.integers(0, 10 * 365, n).astype("timedelta64[D]")
    ).astype(str).tolist()
    return [DIM_HEADER] + [
        f"{i},r{i:05d}x,{c},{o}"
        for i, c, o in zip(range(1, n + 1), country, opened)
    ]


def _sentence(rng: np.random.Generator, lang: str) -> str:
    k = int(rng.integers(6, 15))
    stop = LANG_WORDS[lang]
    words = rng.choice(len(VOCAB), size=k, p=VOCAB_P).tolist()
    stops = rng.integers(0, len(stop), size=k).tolist()
    is_stop = (rng.random(k) < 0.3).tolist()
    toks = [stop[s] if f else VOCAB[w] for w, s, f in zip(words, stops, is_stop)]
    return " ".join(toks) + "."


def corpus_records(rng: np.random.Generator, n: int) -> tuple[list[dict], dict]:
    docs: list[dict] = []
    n_exact = n_near = 0
    for i in range(n):
        r = rng.random()
        if i > 10 and r < EXACT_DUP_RATE:
            src = docs[int(rng.integers(0, i))]["text"]
            text = src.upper() if rng.random() < 0.3 else "  " + src + " "
            n_exact += 1
        elif i > 10 and r < EXACT_DUP_RATE + NEAR_DUP_RATE:
            toks = docs[int(rng.integers(0, i))]["text"].split(" ")
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            text = " ".join(toks)
            n_near += 1
        else:
            lang = LANGS[int(rng.choice(4, p=LANG_P))]
            lines = [_sentence(rng, lang) for _ in range(int(rng.integers(2, 6)))]
            u = rng.random()
            if u < 0.03:
                lines.append("lorem ipsum dolor sit amet.")
            elif u < 0.08:
                lines[-1] = lines[-1].rstrip(".")
            elif u < 0.14:
                lines[0] = lines[0].replace(" ", "  \t", 2) + "\x07"
            text = "\n".join(lines)
        docs.append({
            "doc_id": i,
            "text": text,
            "source": SOURCES[int(rng.integers(0, len(SOURCES)))],
        })
    return docs, {"exact_dup_docs": n_exact, "near_dup_docs": n_near}


def _write(path: str, lines: list[str], rows: int) -> dict:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return {
        "path": os.path.basename(path),
        "rows": rows,
        "bytes": len(data),
        "md5": hashlib.md5(data).hexdigest(),
    }


def generate(seed: int, out_dir: str, which: tuple[str, ...]) -> dict:
    """Write the inputs ``which`` names (``fact``, ``bulk``, ``dim``,
    ``corpus``) under ``out_dir``; return the manifest. Each file has its
    own stream derived from the seed, so generating one file never changes
    another."""
    os.makedirs(out_dir, exist_ok=True)
    manifest: dict = {"seed": seed, "files": {}}
    streams = {k: np.random.default_rng([seed, i]) for i, k in
               enumerate(("fact", "bulk", "dim", "corpus"))}
    for name in which:
        rng = streams[name]
        if name == "fact":
            rec = _write(f"{out_dir}/fact.csv", fact_lines(rng, FACT_ROWS), FACT_ROWS)
        elif name == "bulk":
            rec = _write(f"{out_dir}/bulk.csv", fact_lines(rng, BULK_ROWS), BULK_ROWS)
        elif name == "dim":
            rec = _write(f"{out_dir}/dim.csv", dim_lines(rng), DIM_ROWS)
        else:
            docs, dups = corpus_records(rng, CORPUS_DOCS)
            rec = _write(
                f"{out_dir}/corpus.jsonl", [json.dumps(d) for d in docs],
                CORPUS_DOCS,
            )
            rec.update(dups)
            rec["exact_dup_rate"] = round(dups["exact_dup_docs"] / CORPUS_DOCS, 6)
            rec["near_dup_rate"] = round(dups["near_dup_docs"] / CORPUS_DOCS, 6)
        manifest["files"][name] = rec
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out, ("fact", "bulk", "dim", "corpus")),
                     indent=1))


if __name__ == "__main__":
    main()
