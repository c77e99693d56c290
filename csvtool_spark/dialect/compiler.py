"""Compile a type-checked dialect query into a Spark DataFrame plan.

Everything is declared through the DataFrame API so Catalyst owns the
physical strategy: the reference's four hand-written execution modes
(normal / ordered / join / ordered-join scans, evaluator.go:49-58) all
disappear into stock physical operators — filters/projections push into the
scan, ``orderBy().limit()`` becomes TakeOrderedAndProject, joins pick
broadcast vs sort-merge via AQE (with explicit hints for the dialect's
``sjoin``/``bjoin`` overrides, parser.go:856-864).

Reference semantics preserved here:
- ``=`` is null-safe (null = null true, value.go:282-287) — but join keys
  use plain equality so null keys never match (evaluator.go:423-427);
- BETWEEN is the half-open/reversed-bounds form (selector.go:480-495);
- LIKE is a case-insensitive anchored regex (parser.go:672-680);
- integer division truncates, ÷0 → null (value.go:406-435);
- DISTINCT keeps the first row per value in scan order (evaluator.go:105);
- bare columns under grouping yield the last row seen (selector.go:54-63) —
  compiled to F.last (per-group order is partition-dependent, as is the
  reference's under re-ordered input);
- ORDER BY defaults to DESC (parser.go:938-941).
"""

from __future__ import annotations

import functools
import operator as pyop

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from csvtool_spark.dialect import ast
from csvtool_spark.dialect.errors import PasswordRequired, SemanticError
from csvtool_spark.dialect.typecheck import Checked
from csvtool_spark.dialect.types import (
    T_DATE,
    T_DURATION,
    T_FLOAT,
    T_INT,
    T_NULL,
    T_STRING,
    parse_date,
    parse_duration_seconds,
)
from csvtool_spark.functions import caching
from csvtool_spark.functions.crypto import decrypt as crypto_decrypt
from csvtool_spark.functions.crypto import encrypt as crypto_encrypt
from csvtool_spark.functions.scalar import (
    between_halfopen,
    csv_dayofweek,
    csv_like,
    csv_week,
    dayname,
    monthname,
)

ROWID = "__rowid"

_SPARK_TYPES = {
    T_INT: "long",
    T_FLOAT: "double",
    T_DATE: "timestamp",
    T_DURATION: "interval day to second",
    T_STRING: "string",
    T_NULL: "string",
}


#: Interactive password source for encrypt()/decrypt() with the password
#: omitted — mirrors the reference's prompt (parser.go:979-1007). ``None``
#: (the default) keeps programmatic paths strict: omitting the password
#: raises SemanticError. The CLI installs a getpass-backed provider.
#: Signature: provider(func_name) -> password.
PASSWORD_PROVIDER = None

#: per-THREAD provider override (``_tl_provider.provider``): the HTTP
#: server compiles each request in its own handler thread, so a
#: request-scoped password must never touch the process-global slot — a
#: concurrent password-LESS query on another thread would silently
#: compile with this request's secret instead of raising PasswordRequired
#: (cross-request password leak).  Lookup order: thread-local, then
#: global (the CLI's getpass provider).
import threading as _threading  # noqa: E402 — scoped import, stdlib only

_tl_provider = _threading.local()


def set_password_provider(provider) -> None:
    """Install (or clear, with ``None``) the process-global interactive
    password source (CLI scope — single-threaded use)."""
    global PASSWORD_PROVIDER
    PASSWORD_PROVIDER = provider


def set_thread_password_provider(provider) -> None:
    """Install (or clear) a provider visible ONLY to the calling thread —
    the HTTP request scope."""
    _tl_provider.provider = provider


def _active_password_provider():
    return getattr(_tl_provider, "provider", None) or PASSWORD_PROVIDER


def _cast(col: Column, t: int | None) -> Column:
    if t is None:
        return col
    return col.cast(_SPARK_TYPES[t])


class Compiler:
    def __init__(self, checked: Checked, dfs: dict[str, DataFrame]):
        self.c = checked
        self.q = checked.query
        self.env = checked.env
        self.dfs = dfs

    # --- expressions ------------------------------------------------------

    def lit(self, node: ast.Lit) -> Column:
        t = node.dtype
        raw = node.raw
        if t == T_NULL or (t is None):
            return F.lit(None)
        try:
            if t == T_INT:
                return F.lit(int(raw))
            if t == T_FLOAT:
                return F.lit(float(raw))
            if t == T_DATE:
                d = parse_date(raw)
                return F.lit(d) if d is not None else F.lit(None).cast("timestamp")
            if t == T_DURATION:
                secs = parse_duration_seconds(raw)
                if secs is None:
                    return F.lit(None).cast("interval day to second")
                return F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.lit(secs))
        except ValueError:
            # literal failed the enforced type's parse → null (the reference
            # converts literals at compile time and errors; null is gentler)
            return F.lit(None).cast(_SPARK_TYPES[t])
        return F.lit(raw)

    def expr(self, node: ast.Expr, agg: bool = False) -> Column:
        col = self._expr(node, agg)
        target = getattr(node, "cast_to", None)
        return _cast(col, target)

    def _expr(self, node: ast.Expr, agg: bool) -> Column:
        if isinstance(node, ast.Lit):
            return self.lit(node)
        if isinstance(node, ast.Col):
            base = F.col(node.resolved_name)
            if agg:
                # bare column under aggregation → last row seen per group
                return F.last(base, ignorenulls=False)
            return base
        if isinstance(node, ast.Neg):
            return -self.expr(node.operand, agg)
        if isinstance(node, ast.BinOp):
            return self.binop(node, agg)
        if isinstance(node, ast.Func):
            return self.func(node, agg)
        if isinstance(node, ast.CaseWhenPred):
            out = None
            for pred, res in node.whens:
                cond = self.pred(pred, agg=False)
                r = _cast(self.expr(res, agg), node.dtype)
                out = F.when(cond, r) if out is None else out.when(cond, r)
            if node.else_ is not None:
                out = out.otherwise(_cast(self.expr(node.else_, agg), node.dtype))
            return out
        if isinstance(node, ast.CaseWhenExpr):
            cmp_t = getattr(node, "cmp_type", None)
            base = _cast(self.expr(node.base, agg), cmp_t)
            out = None
            for cmp, res in node.whens:
                cond = base.eqNullSafe(_cast(self.expr(cmp, agg), cmp_t))
                r = _cast(self.expr(res, agg), node.dtype)
                out = F.when(cond, r) if out is None else out.when(cond, r)
            if node.else_ is not None:
                out = out.otherwise(_cast(self.expr(node.else_, agg), node.dtype))
            return out
        raise SemanticError(f"cannot compile {type(node).__name__}")

    def binop(self, node: ast.BinOp, agg: bool) -> Column:
        a = self.expr(node.left, agg)
        b = self.expr(node.right, agg)
        op, t = node.op, node.dtype
        if op == "+":
            if t == T_STRING:
                # '+' on strings concatenates (value.go:330-335)
                return F.concat(a.cast("string"), b.cast("string"))
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        if op == "/":
            safe = F.nullif(b, F.lit(0)) if t in (T_INT, T_FLOAT) else b
            q = a / safe
            # integer division truncates — including int/float (value.go:425-435)
            return q.cast("long") if t == T_INT else q
        if op == "%":
            return a % F.nullif(b, F.lit(0))
        if op == "^":
            p = F.pow(a, b)
            return p.cast("long") if t == T_INT else p
        raise SemanticError(f"unknown operator {op}")

    def func(self, node: ast.Func, agg: bool) -> Column:
        name = node.name
        if name in ("sum", "avg", "min", "max", "count", "stdev", "stdevp"):
            return self.agg_func(node)
        arg0 = self.expr(node.args[0], agg) if node.args else None
        if name == "year":
            return F.year(arg0).cast("long")
        if name == "month":
            return F.month(arg0).cast("long")
        if name == "monthname":
            return monthname(arg0)
        if name == "week":
            return csv_week(arg0).cast("long")
        if name in ("day", "dayofweek"):
            return csv_dayofweek(arg0).cast("long")
        if name == "dayname":
            return dayname(arg0)
        if name == "dayofyear":
            return F.dayofyear(arg0).cast("long")
        if name == "dayofmonth":
            return F.dayofmonth(arg0).cast("long")
        if name == "hour":
            return F.hour(arg0).cast("long")
        if name == "abs":
            return F.abs(arg0)
        if name == "coalesce":
            return F.coalesce(*[
                _cast(self.expr(a, agg), node.dtype) for a in node.args
            ])
        if name == "inc":
            # INCBASE is a dense 0-based global row number provisioned by
            # compile() via partition-offset arithmetic — NOT a
            # single-partition global window (see _attach_inc_base).
            step = getattr(node, "step", 1.0)
            return (F.col(INCBASE).cast("double") + F.lit(1.0)) * F.lit(float(step))
        if name == "encrypt" or name == "decrypt":
            if len(node.args) < 2:
                # Reference prompts interactively when the password is
                # omitted (parser.go:979-1007; websocket prompt
                # server.go:40-60). Programmatic/oracle paths stay strict
                # (clean SemanticError); the CLI installs a getpass-backed
                # provider for interactive runs (cli.py).
                provider = _active_password_provider()
                if provider is not None:
                    password = provider(name)
                else:
                    raise PasswordRequired(
                        f"{name}() requires an explicit password in this "
                        "engine (the reference prompts interactively; the "
                        "CLI prompts via getpass, the web UI via a "
                        "password dialog)"
                    )
            else:
                password = node.args[1].raw
            if name == "encrypt":
                return crypto_encrypt(arg0, password)
            return crypto_decrypt(arg0, password)
        raise SemanticError(f"cannot compile function {name}")

    def agg_func(self, node: ast.Func) -> Column:
        name = node.name
        if node.star:
            return F.count(F.lit(1)).cast("double")
        arg = self.expr(node.args[0], agg=False)
        if node.distinct:
            if name == "count":
                return F.countDistinct(arg).cast("double")
            if name == "sum":
                return F.sum_distinct(arg)
            if name == "avg":
                return F.sum_distinct(arg) / F.countDistinct(arg)
            if name in ("min", "max"):
                pass  # distinct is a no-op for min/max
            else:
                raise SemanticError(f"{name}(distinct) is not supported")
        if name == "sum":
            return F.sum(arg)
        if name == "avg":
            return F.avg(arg)
        if name == "min":
            return F.min(arg)
        if name == "max":
            return F.max(arg)
        if name == "count":
            return F.count(arg).cast("double")
        if name == "stdev":
            return F.stddev_samp(arg)
        if name == "stdevp":
            return F.stddev_pop(arg)
        raise SemanticError(f"unknown aggregate {name}")

    # --- predicates -------------------------------------------------------

    def pred(self, node: ast.Pred, agg: bool) -> Column:
        if isinstance(node, ast.Logic):
            a, b = self.pred(node.left, agg), self.pred(node.right, agg)
            if node.op == "and":
                return a & b
            if node.op == "or":
                return a | b
            return a != b  # xor
        if isinstance(node, ast.PredGroup):
            inner = self.pred(node.inner, agg)
            return ~inner if node.negated else inner
        if isinstance(node, ast.Compare):
            t = getattr(node, "cmp_type", None)
            a = _cast(self.expr(node.left, agg), t)
            if node.op == "like":
                out = csv_like(a.cast("string"), node.right.raw)
            else:
                b = _cast(self.expr(node.right, agg), t)
                if node.op == "=":
                    out = a.eqNullSafe(b)  # null = null is true
                elif node.op in ("!=", "<>"):
                    out = ~a.eqNullSafe(b)
                elif node.op == "<":
                    out = a < b
                elif node.op == "<=":
                    out = a <= b
                elif node.op == ">":
                    out = a > b
                else:
                    out = a >= b
            return ~out if node.negated else out
        if isinstance(node, ast.Between):
            t = getattr(node, "cmp_type", None)
            x = _cast(self.expr(node.expr, agg), t)
            lo = _cast(self.expr(node.lo, agg), t)
            hi = _cast(self.expr(node.hi, agg), t)
            out = between_halfopen(x, lo, hi)
            return ~out if node.negated else out
        if isinstance(node, ast.InList):
            t = getattr(node, "cmp_type", None)
            x = _cast(self.expr(node.expr, agg), t)
            items = [_cast(self.expr(e, agg), t) for e in node.items]
            out = functools.reduce(pyop.or_, [x.eqNullSafe(i) for i in items])
            return ~out if node.negated else out
        raise SemanticError(f"cannot compile predicate {type(node).__name__}")

    # --- joins ------------------------------------------------------------

    def _bind_join_sides(self, join: ast.Join, earlier: set[str], new_key: str):
        """The join predicate must be a single equality whose sides each
        reference exactly one file: one the newly joined file, the other an
        earlier file (joinExprFinder, treeProcess.go:749-819)."""
        pred = join.raw_pred
        while isinstance(pred, ast.PredGroup) and not pred.negated:
            pred = pred.inner
        if isinstance(pred, ast.Logic):
            raise SemanticError("join accepts exactly one equality condition")
        if not isinstance(pred, ast.Compare) or pred.op != "=" or pred.negated:
            raise SemanticError("join condition must be a single equality")

        def files_of(e: ast.Expr) -> set[str]:
            out: set[str] = set()
            stack = [e]
            while stack:
                n = stack.pop()
                if isinstance(n, ast.Col):
                    out.add(n.file_alias)
                for attr in ("left", "right", "operand", "base", "else_"):
                    v = getattr(n, attr, None)
                    if isinstance(v, (ast.Expr,)):
                        stack.append(v)
                if isinstance(n, ast.Func):
                    stack.extend(n.args)
                if isinstance(n, (ast.CaseWhenExpr, ast.CaseWhenPred)):
                    for pair in n.whens:
                        stack.extend(x for x in pair if isinstance(x, ast.Expr))
            return out

        lf, rf = files_of(pred.left), files_of(pred.right)
        if len(lf) != 1 or len(rf) != 1:
            raise SemanticError("each join side must reference exactly one file")
        if lf == {new_key} and rf <= earlier:
            join.left_expr, join.right_expr = pred.right, pred.left
        elif rf == {new_key} and lf <= earlier:
            join.left_expr, join.right_expr = pred.left, pred.right
        else:
            raise SemanticError(
                "join condition must compare the joined file with an earlier file"
            )

    # --- query assembly ---------------------------------------------------

    def compile(self) -> DataFrame:
        q = self.q
        df = self.dfs[q.base.key]
        if q.sample_frac is not None or q.sample_n is not None:
            df = _apply_sample(df, q.sample_frac, q.sample_n)
        needs_rowid = any(s.distinct for s in q.selections) or _uses_inc(q)
        if needs_rowid:
            df = df.withColumn(ROWID, F.monotonically_increasing_id())

        earlier = {q.base.key}
        for join in q.joins:
            self._bind_join_sides(join, earlier, join.file.key)
            other = self.dfs[join.file.key]
            cond = self.expr(join.left_expr) == self.expr(join.right_expr)
            if join.size_hint == "broadcast":
                other = F.broadcast(other)
            elif join.size_hint == "merge":
                other = other.hint("merge")
            df = df.join(other, cond, join.join_type)
            earlier.add(join.file.key)

        if q.where is not None:
            df = df.filter(self.pred(q.where, agg=False))

        # first-row DISTINCT (pre-aggregation row selector)
        dsel = next((s for s in q.selections if s.distinct), None)
        if dsel is not None:
            w = Window.partitionBy(self.expr(dsel.expr)).orderBy(ROWID)
            df = df.withColumn("__rn", F.row_number().over(w)).filter(
                F.col("__rn") == 1
            ).drop("__rn")

        if _uses_inc(q):
            df = _attach_inc_base(df)

        visible = [s for s in q.selections if not s.hidden]
        out_cols = [f"__out{i}" for i in range(len(visible))]

        if self.c.is_aggregate:
            # A bare selection that IS one of the group keys needs no
            # aggregate at all — emitting the key directly (instead of
            # F.last, whose string buffer would force SortAggregate) keeps
            # the plan a HashAggregate.
            def _group_idx(e) -> int | None:
                if e.has_agg:
                    return None
                for i, g in enumerate(q.groupby):
                    if g == e:
                        return i
                return None

            agg_exprs, from_key = [], {}
            for s, c in zip(visible, out_cols):
                gi = _group_idx(s.expr)
                if gi is not None:
                    from_key[c] = f"__g{gi}"
                else:
                    agg_exprs.append(self.expr(s.expr, agg=True).alias(c))
            extra = []
            if q.having is not None:
                extra.append(self.pred(q.having, agg=True).alias("__having"))
            if q.orderby is not None:
                ogi = _group_idx(q.orderby)
                if ogi is not None:
                    from_key["__ord"] = f"__g{ogi}"
                else:
                    # Sort expr is computed per group like a hidden selection
                    # (parser.go:96-105).
                    extra.append(self.expr(q.orderby, agg=True).alias("__ord"))
            if not agg_exprs and not extra:
                extra.append(F.count(F.lit(1)).alias("__dummy"))
            keys = [self.expr(g).alias(f"__g{i}") for i, g in enumerate(q.groupby)]
            if keys:
                df = df.groupBy(*keys).agg(*agg_exprs, *extra)
            else:
                df = df.agg(*agg_exprs, *extra)
            for c, g in from_key.items():
                df = df.withColumn(c, F.col(g))
            if q.having is not None:
                df = df.filter(F.col("__having"))
            df = df.drop(
                "__having", "__dummy", *[f"__g{i}" for i in range(len(keys))]
            )
            # restore declared output order (withColumn appends)
            order = [c for c in out_cols] + (
                ["__ord"] if q.orderby is not None else []
            )
            df = df.select(*order)
        else:
            sel = [self.expr(s.expr).alias(c) for s, c in zip(visible, out_cols)]
            if q.orderby is not None:
                sel.append(self.expr(q.orderby).alias("__ord"))
            df = df.select(*sel)

        if q.orderby is not None:
            key = F.col("__ord")
            df = df.orderBy(key.asc() if q.order_asc else key.desc()).drop("__ord")
        if q.limit is not None:
            df = df.limit(q.limit)
        return df.toDF(*self.c.out_names)


def _apply_sample(df: DataFrame, frac: float | None, n: int | None) -> DataFrame:
    """Deterministic TABLESAMPLE on the base scan (engine extension; the
    reference dialect has no sampling).  Each scan row gets the dense
    0-based scan-order number ``i`` (the ``inc()`` machinery — partition
    offsets, no global window) and the 32-bit md5 coin
    ``md5('smp#' || i)``:

    - fraction: keep rows with ``coin < floor(frac · 2^32)`` — a pure
      filter, reproducible on any engine/run, and the DuckDB twin is
      ``row_number() OVER () - 1`` + the same coin threshold;
    - count: the n smallest ``(coin, i)`` rows — a deterministic
      reservoir via TakeOrderedAndProject (nested: ``sample 10`` ⊆
      ``sample 20``).

    Scale note: scan-order keying needs the global numbering pass (one
    range shuffle + a per-partition count job — the documented ``inc()``
    cost).  Corpus-scale pipelines sample on a REAL key column instead
    (``operators.sampling.hash_split`` / ``priority_sample``); this
    surface exists so ad-hoc dialect queries can thin a file
    deterministically."""
    from csvtool_spark.functions.hashing import md5_prefix_long

    df = df.withColumn(ROWID, F.monotonically_increasing_id())
    df = _attach_inc_base(df)
    coin = md5_prefix_long(
        F.concat_ws("#", F.lit("smp"), F.col(INCBASE).cast("string"))
    )
    if frac is not None:
        df = df.filter(coin < F.lit(int(frac * 4294967296)))
    else:
        df = (
            df.withColumn("__coin", coin)
            .orderBy(F.col("__coin").asc(), F.col(INCBASE).asc())
            .limit(int(n))
            .drop("__coin")
        )
    return df.drop(ROWID, INCBASE)


INCBASE = "__incbase"


def _attach_inc_base(df: DataFrame) -> DataFrame:
    """Provision a dense 0-based global row number in ROWID (scan) order,
    scalably: range-partition by ROWID so partition order == scan order,
    row_number WITHIN each partition (parallel, no single-task sort), then
    add per-partition offsets computed by one tiny count job (one row per
    partition reaches the driver). Replaces the previous
    ``Window.orderBy(ROWID)`` global window, which funnels every row
    through ONE task — the classic 100×-scale bottleneck. Values are
    identical: ROWID (monotonically_increasing_id) is unique and monotone
    with scan order, and range partitioning preserves its global order
    across partitions. The input is persisted so the count job and the
    main query share one computation of the upstream plan."""
    staged = caching.persist(
        df.repartitionByRange(F.col(ROWID)).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    counts = {
        r["__pid"]: r["count"] for r in staged.groupBy("__pid").count().collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        pairs: list = []
        for pid, off in offsets.items():
            pairs.extend([F.lit(int(pid)), F.lit(int(off))])
        off_col = F.coalesce(
            F.try_element_at(F.create_map(*pairs), F.col("__pid")),
            F.lit(0),
        )
    else:
        off_col = F.lit(0)
    w = Window.partitionBy("__pid").orderBy(ROWID)
    return staged.withColumn(
        INCBASE, F.row_number().over(w).cast("long") - F.lit(1) + off_col
    ).drop("__pid")


def _uses_inc(q: ast.Query) -> bool:
    from csvtool_spark.dialect.typecheck import contains_inc

    # selections AND order by — both compile inc() to a window over the
    # scan rowid, so both need the rowid column provisioned.
    return any(contains_inc(s.expr) for s in q.selections) or (
        q.orderby is not None and contains_inc(q.orderby)
    )


