"""The benchmark's operations: dialect text for the program, with the DuckDB
twin that gives the expected answer.

The twins encode the dialect's semantics independently of the engine
(``count`` returns a double, ``=`` is null-safe, BETWEEN is half-open,
``order by`` defaults to descending, DISTINCT keeps the first row per value
in file order) and read the generated CSVs with their own parser
(``DUCK_TABLES``), so the engine's CSV inference is checked too.
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from dataclasses import dataclass, field

from gen import CATS, COUNTRIES, WORDS

#: DuckDB parse of the generated CSVs, mirroring the dialect's null tokens
#: ('', 'null' in any case, 'NA') and the column types inference must reach
_NUL = "CASE WHEN x IS NULL OR lower(trim(x)) IN ('', 'null') OR trim(x) = 'NA' THEN NULL ELSE x END"

DUCK_TABLES = {
    "fact": """
        SELECT CAST(nul(id) AS BIGINT) AS id, nul(cat) AS cat,
               CAST(nul(region_id) AS BIGINT) AS region_id,
               CAST(nul(qty) AS BIGINT) AS qty,
               CAST(nul(price) AS DOUBLE) AS price,
               strptime(nul(ts), '%Y-%m-%d %H:%M:%S') AS ts,
               strptime(nul(day), '%m/%d/%Y') AS day,
               to_seconds(CASE
                 WHEN regexp_matches(dur, '^[0-9]+ days$')
                   THEN CAST(split_part(dur, ' ', 1) AS BIGINT) * 86400
                 WHEN regexp_matches(dur, '^[0-9]+ hours$')
                   THEN CAST(split_part(dur, ' ', 1) AS BIGINT) * 3600
                 WHEN regexp_matches(dur, '^[0-9]+h[0-9]+m$')
                   THEN CAST(regexp_extract(dur, '^([0-9]+)h', 1) AS BIGINT) * 3600
                      + CAST(regexp_extract(dur, 'h([0-9]+)m$', 1) AS BIGINT) * 60
               END) AS dur,
               nul(note) AS note
        FROM read_csv('{path}', header = true, auto_detect = false,
             columns = {{'id': 'VARCHAR', 'cat': 'VARCHAR',
                         'region_id': 'VARCHAR', 'qty': 'VARCHAR',
                         'price': 'VARCHAR', 'ts': 'VARCHAR', 'day': 'VARCHAR',
                         'dur': 'VARCHAR', 'note': 'VARCHAR'}})
    """,
    "dim": """
        SELECT CAST(nul(region_id) AS BIGINT) AS region_id, nul(rname) AS rname,
               nul(country) AS country,
               strptime(nul(opened), '%Y-%m-%d') AS opened
        FROM read_csv('{path}', header = true, auto_detect = false,
             columns = {{'region_id': 'VARCHAR', 'rname': 'VARCHAR',
                         'country': 'VARCHAR', 'opened': 'VARCHAR'}})
    """,
    "corpus": """
        SELECT * FROM read_json('{path}', format = 'newline_delimited',
             columns = {{'doc_id': 'BIGINT', 'text': 'VARCHAR',
                         'source': 'VARCHAR'}})
    """,
}


def load_duck_tables(con, paths: dict[str, str]) -> None:
    """Create the ``fact``/``bulk``/``dim``/``corpus`` tables ``paths``
    names in a DuckDB connection."""
    con.execute(f"CREATE OR REPLACE MACRO nul(x) AS {_NUL}")
    for name, path in paths.items():
        shape = "fact" if name in ("fact", "bulk") else name
        con.execute(
            f"CREATE OR REPLACE TABLE {name} AS "
            + DUCK_TABLES[shape].format(path=path)
        )


@dataclass
class Op:
    """One operation: dialect ``text`` for the engine and ``twin`` SQL for
    DuckDB over the same inputs. ``kind`` is the public call that runs it.
    ``durations`` names result columns holding durations (compared as
    seconds); ``scan_rows`` is the input rows the statement reads."""

    template: str
    kind: str
    text: str
    twin: str
    scan_rows: int
    durations: tuple[str, ...] = ()
    out: str | None = None
    partition_by: list[str] | None = None
    hash_cols: list[str] = field(default_factory=list)


def _halfopen(col: str, lo, hi) -> str:
    return f"CASE WHEN {col} >= {lo} THEN {col} < {hi} ELSE {col} >= {hi} END"


def gui_op(template: str, rng: random.Random, fact: str, dim: str,
           fact_rows: int, dim_rows: int) -> Op:
    """One GUI query drawn from ``template`` with seeded parameters. Every
    result stays under the GUI's display clip, so the full answer is
    compared."""
    F, D = f"'{fact}'", f"'{dim}'"
    if template == "filter":
        w = rng.choice(WORDS)
        c1, c2 = rng.sample(CATS, 2)
        lo = rng.randrange(0, 900)
        hi = lo + rng.randrange(20, 80)
        return Op(template, "query",
                  f"select id cat qty price from {F} where note like '%{w}%' "
                  f"and cat in ({c1}, {c2}) and qty between {lo} and {hi}",
                  f"SELECT id, cat, qty, price FROM fact WHERE note ILIKE '%{w}%' "
                  f"AND cat IN ('{c1}', '{c2}') AND {_halfopen('qty', lo, hi)}",
                  fact_rows)
    if template == "group_having":
        k = rng.randrange(10_000, 17_000)
        return Op(template, "query",
                  f"select cat count(*) as n sum(qty) as sq avg(price) as ap "
                  f"from {F} group by cat having count(*) > {k}",
                  f"SELECT cat, CAST(count(*) AS DOUBLE) AS n, sum(qty) AS sq, "
                  f"avg(price) AS ap FROM fact GROUP BY cat HAVING count(*) > {k}",
                  fact_rows)
    if template == "join":
        c = rng.choice(COUNTRIES)
        q = rng.randrange(900, 990)
        return Op(template, "query",
                  f"select f.id d.rname f.price from {F} f join {D} d "
                  f"on f.region_id = d.region_id where d.country = {c} "
                  f"and f.qty > {q}",
                  f"SELECT f.id, d.rname, f.price FROM fact f JOIN dim d "
                  f"ON f.region_id = d.region_id "
                  f"WHERE d.country IS NOT DISTINCT FROM '{c}' AND f.qty > {q}",
                  fact_rows + dim_rows)
    if template == "top_n":
        n = rng.randrange(10, 60)
        c = rng.choice(CATS)
        p = rng.randrange(100, 900)
        return Op(template, "query",
                  f"select top {n} id price qty from {F} where cat = {c} "
                  f"and price > {p} order by id",
                  f"SELECT id, price, qty FROM fact WHERE cat IS NOT DISTINCT "
                  f"FROM '{c}' AND price > {p} ORDER BY id DESC LIMIT {n}",
                  fact_rows)
    if template == "distinct":
        k = rng.randrange(5, 200)
        return Op(template, "query",
                  f"select distinct cat id qty from {F} where qty < {k}",
                  f"SELECT cat, id, qty FROM (SELECT cat, id, qty, row_number() "
                  f"OVER (PARTITION BY cat ORDER BY id) AS rn FROM fact "
                  f"WHERE qty < {k}) WHERE rn = 1",
                  fact_rows)
    if template == "date_duration":
        lo = rng.randrange(1, fact_rows - 300)
        hi = lo + rng.randrange(100, 300)
        return Op(template, "query",
                  f"select id ts + dur as due day - ts as gap year(ts) as y "
                  f"from {F} where id between {lo} and {hi}",
                  f"SELECT id, ts + dur AS due, epoch(day) - epoch(ts) AS gap, "
                  f"year(ts) AS y FROM fact WHERE {_halfopen('id', lo, hi)}",
                  fact_rows, durations=("gap",))
    if template == "case":
        r = rng.randrange(1, 5001)
        p1 = rng.randrange(500, 900)
        p2 = rng.randrange(100, 400)
        return Op(template, "query",
                  f"select id case when price > {p1} then high when price > {p2} "
                  f"then mid else low end as band qty from {F} "
                  f"where region_id = {r}",
                  f"SELECT id, CASE WHEN price > {p1} THEN 'high' WHEN price > "
                  f"{p2} THEN 'mid' ELSE 'low' END AS band, qty FROM fact "
                  f"WHERE region_id IS NOT DISTINCT FROM {r}",
                  fact_rows)
    if template == "count_distinct":
        p = rng.randrange(50, 500)
        return Op(template, "query",
                  f"select cat count(distinct region_id) as nr "
                  f"count(distinct qty) as nq from {F} where price < {p} "
                  f"group by cat",
                  f"SELECT cat, CAST(count(DISTINCT region_id) AS DOUBLE) AS nr, "
                  f"CAST(count(DISTINCT qty) AS DOUBLE) AS nq FROM fact "
                  f"WHERE price < {p} GROUP BY cat",
                  fact_rows)
    raise ValueError(template)


#: every measured GUI cycle runs each template once, in this order; the
#: cold first query is the first template
GUI_TEMPLATES = [
    "filter", "join", "group_having", "date_duration", "top_n", "distinct",
    "case", "count_distinct",
]


@dataclass
class Plan:
    """A workload's operations: the cold ``first`` one and endless
    ``cycles`` of the statements the window measures. Every cycle holds the
    same templates with fresh seeded parameters, so a run that fits more
    cycles repeats the mix rather than changing it."""

    first: Op
    cycles: Iterator[list[Op]]


def gui_plan(seed: int, fact: str, dim: str, fact_rows: int,
             dim_rows: int) -> Plan:
    """The GUI queries: cycles of every template with seeded parameters."""
    rng = random.Random(seed)

    def cycles():
        while True:
            yield [gui_op(t, rng, fact, dim, fact_rows, dim_rows)
                   for t in GUI_TEMPLATES]

    first = gui_op(GUI_TEMPLATES[0], rng, fact, dim, fact_rows, dim_rows)
    return Plan(first, cycles())


def bulk_plan(seed: int, bulk: str, dim: str, corpus: str, out_dir: str,
              rows: dict[str, int]) -> Plan:
    """The CLI's statements. The first is the curation pipe through the
    partitioned parquet sink, so its cold start (the Python workers) is
    ``first_op_s`` and the timed pipes find the workers started. Each cycle
    is ``CSV_ROUNDS`` rounds of a full aggregate collected to the driver, a
    filtered projection with date + duration arithmetic through the
    single-file sink and a join through the directory sink, then the
    pipe."""
    pipe_sql = pipe_twin()  # before the first operation, outside any timing
    rng = random.Random(seed)
    B, D = f"'{bulk}'", f"'{dim}'"

    def pipe(i: int) -> Op:
        return Op("pipe", "save_parquet",
                  f"select doc_id text source from '{corpus}' |> {PIPE_STAGES}",
                  pipe_sql, rows["corpus"], out=f"{out_dir}/pipe_{i}.parquet",
                  partition_by=["shard"], hash_cols=PIPE_HASH_COLS)

    def csv_round(i: int) -> list[Op]:
        q = rng.choice([150, 200, 250, 300])
        p = rng.choice([600, 700, 800])
        return [
            Op("aggregate", "collect",
               f"select cat count(*) as n sum(qty) as sq max(price) as mp "
               f"min(ts) as t0 from {B} group by cat",
               "SELECT cat, CAST(count(*) AS DOUBLE) AS n, sum(qty) AS sq, "
               "max(price) AS mp, min(ts) AS t0 FROM bulk GROUP BY cat",
               rows["bulk"]),
            Op("export_single", "save_csv",
               f"select id ts + dur as due price qty from {B} where qty < {q}",
               f"SELECT id, ts + dur AS due, price, qty FROM bulk WHERE qty < {q}",
               rows["bulk"], out=f"{out_dir}/single_{i}.csv",
               hash_cols=["id:BIGINT", "due:TIMESTAMP", "price:DOUBLE",
                          "qty:BIGINT"]),
            Op("export_dir", "save_csv_dir",
               f"select f.id d.rname d.country f.qty from {B} f join {D} d "
               f"on f.region_id = d.region_id where f.price > {p}",
               f"SELECT f.id, d.rname, d.country, f.qty FROM bulk f JOIN dim d "
               f"ON f.region_id = d.region_id WHERE f.price > {p}",
               rows["bulk"] + rows["dim"], out=f"{out_dir}/dir_{i}",
               hash_cols=["id:BIGINT", "rname:VARCHAR", "country:VARCHAR",
                          "qty:BIGINT"]),
        ]

    def cycles():
        i = 1
        while True:
            ops = []
            for r in range(CSV_ROUNDS):
                ops += csv_round(i * CSV_ROUNDS + r)
            yield ops + [pipe(i)]
            i += 1

    return Plan(pipe(0), cycles())


#: rounds of the CSV statements per CLI cycle: a statement's latency
#: varies by about a tenth between two runs of it, so a run times each twice
CSV_ROUNDS = 2

#: the curation pipe and its DuckDB twin chain (stage_oracles parameters)
PIPE_QUALITY_MIN = 0.6
PIPE_STAGES = (
    "normalize(text) |> clean(text, min_words=3, terminal=1) "
    f"|> langid(text, keep=en) |> quality(text, min={PIPE_QUALITY_MIN}) "
    "|> dedup(text, id=doc_id) |> neardup(text, id=doc_id, threshold=0.7) "
    "|> tokens(text) |> shard(n=8, key=doc_id)"
)


def pipe_chain() -> list[tuple[str, dict]]:
    return [
        ("normalize", {"text": "text"}),
        ("clean", {"text": "text", "min_words": 3, "terminal": True}),
        ("langid", {"text": "text", "keep": "en"}),
        ("quality", {"text": "text", "min": PIPE_QUALITY_MIN}),
        ("dedup", {"text": "text", "id": "doc_id"}),
        ("neardup", {"text": "text", "id": "doc_id", "threshold": 0.7}),
        ("tokens", {"text": "text"}),
        ("shard", {"n": 8, "key": "doc_id"}),
    ]


def pipe_twin() -> str:
    """The pipe's answer: ``stage_oracles.chain_oracle_sql`` over the
    corpus table."""
    from csvtool_spark.dialect.stage_oracles import chain_oracle_sql

    sql, _cols = chain_oracle_sql(
        "SELECT doc_id, text, source FROM corpus",
        ["doc_id", "text", "source"], pipe_chain())
    return sql


PIPE_HASH_COLS = [
    "doc_id:BIGINT", "text:VARCHAR", "source:VARCHAR", "lang_guess:VARCHAR",
    "quality:DOUBLE", "n_tokens:BIGINT", "shard:BIGINT",
]
