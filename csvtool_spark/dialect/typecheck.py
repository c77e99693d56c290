"""Semantic analysis for the csvtool dialect: column resolution, type
synthesis/coercion, and the expected-error battery.

Reproduces (behaviorally, citations to /root/reference):
- the 12×12 type chart over (type × column/literal) pairs
  (treeProcess.go:15-40) — literals adopt column types, mixed columns widen
  toward string, date columns dominate;
- keepSubtreeTypes (treeProcess.go:41-65): duration×numeric→duration,
  date-date→duration, date±duration→date keep their subtree types;
- checkOperatorSemantics (utils.go:226-257): date+date illegal, %
  requires ints, × and ÷ require numerics (or duration×numeric),
  int÷duration illegal;
- function argument/result typing (utils.go:160-222): date parts require a
  DATE argument; sum/avg/abs take numbers+durations; stdev numbers only;
  count→FLOAT (treeProcess.go:81-84);
- aggregate placement (aggCheck, treeProcess.go:313-380): aggregates cannot
  nest, cannot appear in WHERE or anywhere inside CASE, and combine only
  with aggregates or literals in expressions;
- column resolution (parser.go:446-511): alias.col, cN, bare number under
  the 'c' option, case-insensitive names; otherwise the token is a literal
  typed by the narrowing lattice.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from csvtool_spark.dialect import ast
from csvtool_spark.dialect.errors import SemanticError
from csvtool_spark.dialect.types import (
    T_DATE,
    T_DURATION,
    T_FLOAT,
    T_INT,
    T_NULL,
    T_STRING,
    TYPE_NAMES,
    narrowest_type,
)

_CINT = re.compile(r"^c\d+$")

# typeChart[2*t1 + literal1][2*t2 + literal2] → result type
# (transcribed from treeProcess.go:15-40; see module docstring for the rules
# it encodes).
_CHART = [
    [5, 5, 5, 5, 5, 5, 5, 5, 5, 5, 5, 5],
    [5, 5, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5],
    [5, 1, 1, 1, 2, 2, 3, 1, 4, 4, 5, 1],
    [5, 1, 1, 1, 2, 2, 3, 1, 4, 4, 5, 5],
    [5, 2, 2, 2, 2, 2, 3, 2, 4, 2, 5, 2],
    [5, 2, 2, 2, 2, 2, 3, 2, 4, 4, 5, 5],
    [5, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3],
    [5, 3, 1, 1, 2, 2, 3, 3, 3, 3, 5, 5],
    [5, 4, 4, 4, 4, 4, 3, 3, 4, 4, 5, 4],
    [5, 4, 4, 4, 2, 4, 3, 3, 4, 4, 5, 5],
    [5, 5, 5, 5, 5, 5, 3, 5, 5, 5, 5, 5],
    [5, 5, 1, 5, 2, 5, 3, 5, 4, 5, 5, 5],
]


def type_compute(l1: bool, l2: bool, t1: int, t2: int) -> int:
    return _CHART[2 * t1 + (1 if l1 else 0)][2 * t2 + (1 if l2 else 0)]


def keep_subtree_types(t1: int, t2: int, op: str) -> tuple[bool, int]:
    if op in ("*", "/"):
        if {t1, t2} == {T_DURATION, T_INT} or {t1, t2} == {T_DURATION, T_FLOAT}:
            return True, T_DURATION
    if op == "-" and t1 == T_DATE and t2 == T_DATE:
        return True, T_DURATION
    if op in ("+", "-"):
        if {t1, t2} == {T_DATE, T_DURATION}:
            return True, T_DATE
    return False, 0


@dataclass
class FileSchema:
    key: str                       # _f1, _f2, ...
    alias: str | None
    display: list[str]             # original column names
    internal: list[str]            # unique internal column names in the df
    types: list[int]               # dialect T_* per column

    def lookup(self, name: str) -> int | None:
        low = name.lower()
        for i, n in enumerate(self.display):
            if n.lower() == low:
                return i
        return None


@dataclass
class Env:
    files: list[FileSchema] = field(default_factory=list)   # in _fN order
    by_alias: dict[str, FileSchema] = field(default_factory=dict)
    int_column: bool = False       # 'c' option: bare numbers are columns

    def file(self, key: str) -> FileSchema:
        for f in self.files:
            if f.key == key:
                return f
        raise SemanticError(f"unknown file key {key}")


def err(msg: str) -> SemanticError:
    return SemanticError(msg)


# --- column resolution ----------------------------------------------------


def resolve_value(node: ast.Lit, env: Env) -> ast.Expr:
    """Turn a raw token into a Col (resolved) or a typed literal."""
    tok = node.raw
    fdata: FileSchema | None = None
    value = tok
    if not node.quoted and "." in tok and len(env.files) > 1:
        prefix, rest = tok.split(".", 1)
        f = env.by_alias.get(prefix)
        if f is not None:
            fdata = f
            value = rest
    candidates = [fdata] if fdata is not None else env.files

    first = candidates[0]
    # bare column number under the 'c' option (unquoted only)
    if env.int_column and not node.quoted and value.lstrip("-").isdigit():
        num = int(value)
        if num < 1 or num > len(first.display):
            raise err(f"Column number out of bounds: {num}")
        return _col(first, num - 1)
    # cN form (unquoted only)
    if not node.quoted and _CINT.match(value):
        num = int(value[1:])
        if num < 1 or num > len(first.display):
            raise err(f"Column number out of bounds: {num}")
        return _col(first, num - 1)
    # case-insensitive name lookup (quoted tokens may be column names too);
    # reference looks only in _f1 for unqualified names — we extend the
    # search to later files (first match wins) for usability.
    for f in candidates:
        idx = f.lookup(value)
        if idx is not None:
            return _col(f, idx)
    # literal
    node.dtype = narrowest_type(value)
    return node


def _col(f: FileSchema, idx: int) -> ast.Col:
    return ast.Col(
        name=f.display[idx],
        file_alias=f.key,
        index=idx,
        resolved_name=f.internal[idx],
        dtype=f.types[idx],
    )


# --- expression typing ----------------------------------------------------


@dataclass
class Info:
    dtype: int
    literal: bool      # subtree is built purely from literals
    agg: bool          # subtree contains an aggregate call
    #: target type each child must be cast to (filled on BinOp nodes)
    keep_subtrees: bool = False


def check_expr(node: ast.Expr, env: Env, in_case: bool = False) -> tuple[ast.Expr, Info]:
    """Resolve + type an expression; returns (possibly replaced node, Info)."""
    if isinstance(node, ast.Lit):
        node2 = resolve_value(node, env)
        if isinstance(node2, ast.Col):
            return node2, Info(node2.dtype, literal=False, agg=False)
        return node2, Info(node2.dtype, literal=True, agg=False)

    if isinstance(node, ast.Col):  # already resolved
        return node, Info(node.dtype, literal=False, agg=False)

    if isinstance(node, ast.Neg):
        node.operand, i = check_expr(node.operand, env, in_case)
        if i.dtype not in (T_INT, T_FLOAT, T_DURATION, T_NULL):
            raise err(f"Cannot negate type {TYPE_NAMES[i.dtype]}")
        node.dtype = i.dtype
        node.has_agg = i.agg
        return node, Info(i.dtype, i.literal, i.agg)

    if isinstance(node, ast.BinOp):
        node.left, i1 = check_expr(node.left, env, in_case)
        node.right, i2 = check_expr(node.right, env, in_case)
        _check_op_semantics(node.op, i1, i2)
        _check_agg_combo(i1, i2)
        keep, t = keep_subtree_types(i1.dtype, i2.dtype, node.op)
        if not keep:
            t = type_compute(i1.literal, i2.literal, i1.dtype, i2.dtype)
            if node.op in ("*", "/", "%", "^") and t == T_STRING:
                raise err("Cannot multiply or divide strings")
        node.dtype = t
        node.has_agg = i1.agg or i2.agg
        info = Info(t, i1.literal and i2.literal, node.has_agg, keep_subtrees=keep)
        if not keep:
            _enforce(node.left, t)
            _enforce(node.right, t)
        return node, info

    if isinstance(node, ast.Func):
        return _check_func(node, env, in_case)

    if isinstance(node, (ast.CaseWhenPred, ast.CaseWhenExpr)):
        return _check_case(node, env)

    raise err(f"Unexpected expression node {type(node).__name__}")


def _enforce(node: ast.Expr, t: int) -> None:
    """Top-down type enforcement: children adopt the computed type (the
    reference parses literals into typed values at this point —
    treeProcess.go:383-539; we record the target for the compiler)."""
    if isinstance(node, ast.BinOp) and getattr(node, "dtype", None) is not None:
        if node.dtype == t:
            return
    if getattr(node, "dtype", None) in (None, t):
        node.dtype = t
        return
    # wrap-free cast: record target type; compiler emits the cast
    node.cast_to = t  # type: ignore[attr-defined]


def _check_op_semantics(op: str, i1: Info, i2: Info) -> None:
    t1, t2 = i1.dtype, i2.dtype
    both = {t1, t2}
    if op == "+" and t1 == T_DATE and t2 == T_DATE:
        raise err("Cannot add 2 dates")
    # "numeric" means BOTH operands are int/float (isOneOfType,
    # treeProcess.go:737-739)
    numeric = t1 in (T_INT, T_FLOAT) and t2 in (T_INT, T_FLOAT)
    if op in ("+", "-"):
        if (
            not numeric
            and type_compute(i1.literal, i2.literal, t1, t2) != T_STRING
            and both != {T_DATE, T_DURATION}
            and both != {T_DATE}
            and both != {T_DURATION}
        ):
            raise err(
                f"Cannot add or subtract types {TYPE_NAMES[t1]} and {TYPE_NAMES[t2]}"
            )
    if op == "%" and (t1 != T_INT or t2 != T_INT):
        raise err("Modulus operator requires integers")
    if op == "/" and t1 == T_INT and t2 == T_DURATION:
        raise err("Cannot divide integer by time duration")
    if op in ("*", "/"):
        if not numeric and not (
            T_DURATION in both and both & {T_INT, T_FLOAT}
        ):
            raise err(
                f"Cannot multiply or divide types {TYPE_NAMES[t1]} and {TYPE_NAMES[t2]}"
            )


def _check_agg_combo(i1: Info, i2: Info) -> None:
    """Aggregates combine only with aggregates or literals
    (treeProcess.go:741-746)."""
    if i1.agg and not (i2.agg or i2.literal):
        raise err("Aggregates can only be combined with other aggregates or literals")
    if i2.agg and not (i1.agg or i1.literal):
        raise err("Aggregates can only be combined with other aggregates or literals")


_DATE_FUNCS = {
    "year": T_INT, "month": T_INT, "monthname": T_STRING, "week": T_INT,
    "day": T_INT, "dayofweek": T_INT, "dayname": T_STRING,
    "dayofyear": T_INT, "dayofmonth": T_INT, "hour": T_INT,
}
_AGG_FUNCS = {"sum", "avg", "min", "max", "count", "stdev", "stdevp"}


def _check_func(node: ast.Func, env: Env, in_case: bool) -> tuple[ast.Expr, Info]:
    name = node.name
    if name == "format":
        raise err("format() is not implemented")  # scanner.go:62, no eval case

    if name in _AGG_FUNCS:
        if in_case:
            raise err("Aggregates are not allowed inside case expressions")
        if node.star:
            if name != "count":
                raise err(f"{name}(*) is not supported")
            node.dtype = T_FLOAT
            node.has_agg = True
            return node, Info(T_FLOAT, literal=False, agg=True)
        if len(node.args) != 1:
            raise err(f"{name}() takes exactly one argument")
        node.args[0], ai = check_expr(node.args[0], env)
        if ai.agg:
            raise err("Cannot nest aggregate functions")
        t = ai.dtype
        if name in ("stdev", "stdevp"):
            if t not in (T_INT, T_FLOAT):
                raise err("can only find standard deviation of numbers")
            t = T_FLOAT
        elif name == "sum":
            if t not in (T_INT, T_FLOAT, T_DURATION):
                raise err("can only sum numbers")
        elif name == "avg":
            if t not in (T_INT, T_FLOAT, T_DURATION):
                raise err("can only average numbers")
            if t == T_INT:
                t = T_FLOAT
        elif name == "count":
            t = T_FLOAT  # count returns float (treeProcess.go:81-84)
        # min/max preserve type
        node.dtype = t
        node.has_agg = True
        return node, Info(t, literal=False, agg=True)

    # scalar functions
    if name in _DATE_FUNCS:
        if len(node.args) != 1:
            raise err(f"{name}() takes exactly one argument")
        node.args[0], ai = check_expr(node.args[0], env, in_case)
        if ai.dtype != T_DATE:
            kind = "date/time" if name == "hour" else "date"
            raise err(f"can only find {name} of {kind} type")
        node.dtype = _DATE_FUNCS[name]
        node.has_agg = ai.agg
        return node, Info(node.dtype, ai.literal, ai.agg)

    if name == "abs":
        node.args[0], ai = check_expr(node.args[0], env, in_case)
        if ai.dtype not in (T_INT, T_FLOAT, T_DURATION):
            raise err("can only find absolute value of numbers")
        node.dtype = ai.dtype
        node.has_agg = ai.agg
        return node, Info(ai.dtype, ai.literal, ai.agg)

    if name == "coalesce":
        if not node.args:
            raise err("coalesce() needs at least one argument")
        infos = []
        for k in range(len(node.args)):
            node.args[k], ai = check_expr(node.args[k], env, in_case)
            infos.append(ai)
        t = infos[0].dtype
        lit = all(i.literal for i in infos)
        for i2 in infos[1:]:
            t = type_compute(False, i2.literal, t, i2.dtype)
        for a in node.args:
            _enforce(a, t)
        node.dtype = t
        node.has_agg = any(i.agg for i in infos)
        return node, Info(t, lit, node.has_agg)

    if name == "inc":
        step = 1.0
        if node.args:
            a, ai = check_expr(node.args[0], env, in_case)
            if not ai.literal or ai.dtype not in (T_INT, T_FLOAT):
                raise err("inc() takes an optional numeric literal step")
            node.args[0] = a
            step = float(a.raw)
        node.dtype = T_FLOAT
        node.step = step  # type: ignore[attr-defined]
        return node, Info(T_FLOAT, literal=False, agg=False)

    if name in ("encrypt", "decrypt"):
        if not node.args or len(node.args) > 2:
            raise err(f"{name}() takes an expression and an optional password")
        node.args[0], ai = check_expr(node.args[0], env, in_case)
        if len(node.args) == 2:
            node.args[1], pi = check_expr(node.args[1], env, in_case)
            # must be a single Lit token, not merely a literal-only subtree
            # like 'a'+'b' — the compiler reads the password from Lit.raw
            if not pi.literal or not isinstance(node.args[1], ast.Lit):
                raise err(f"{name}() password must be a single literal value")
        node.dtype = T_STRING
        node.has_agg = ai.agg
        return node, Info(T_STRING, ai.literal, ai.agg)

    raise err(f"Unknown function {name}")


def contains_inc(node) -> bool:
    """True if an Expr/Pred tree contains an inc() call, walking every
    child slot of both expression and predicate nodes."""
    if isinstance(node, ast.Func):
        return node.name == "inc" or any(contains_inc(a) for a in node.args)
    for attr in ("left", "right", "operand", "base", "else_", "inner",
                 "expr", "lo", "hi"):
        v = getattr(node, attr, None)
        if v is not None and contains_inc(v):
            return True
    if isinstance(node, ast.InList) and any(contains_inc(x) for x in node.items):
        return True
    if isinstance(node, (ast.CaseWhenExpr, ast.CaseWhenPred)):
        return any(
            contains_inc(x)
            for pair in node.whens
            for x in pair
            if x is not None
        )
    return False


def _check_case(node: ast.Expr, env: Env) -> tuple[ast.Expr, Info]:
    """CASE: no aggregates anywhere inside (reference error battery);
    result branches unify to one type; simple-case comparisons unify with
    the base expression."""
    results: list[ast.Expr] = []
    agg_err = "Aggregates are not allowed inside case expressions"
    if isinstance(node, ast.CaseWhenPred):
        for k, (pred, res) in enumerate(node.whens):
            check_pred(pred, env, allow_agg=False, in_case=True)
            res2, ri = check_expr(res, env, in_case=True)
            if ri.agg:
                raise err(agg_err)
            node.whens[k] = (pred, res2)
            results.append(res2)
    else:
        node.base, bi = check_expr(node.base, env, in_case=True)
        if bi.agg:
            raise err(agg_err)
        cmp_t = bi.dtype
        cmps: list[ast.Expr] = []
        for k, (cmp, res) in enumerate(node.whens):
            cmp2, ci = check_expr(cmp, env, in_case=True)
            if ci.agg:
                raise err(agg_err)
            cmp_t = type_compute(False, ci.literal, cmp_t, ci.dtype)
            res2, ri = check_expr(res, env, in_case=True)
            if ri.agg:
                raise err(agg_err)
            node.whens[k] = (cmp2, res2)
            cmps.append(cmp2)
            results.append(res2)
        _enforce(node.base, cmp_t)
        for c in cmps:
            _enforce(c, cmp_t)
        node.cmp_type = cmp_t  # type: ignore[attr-defined]
    if node.else_ is not None:
        node.else_, ei = check_expr(node.else_, env, in_case=True)
        if ei.agg:
            raise err(agg_err)
        results.append(node.else_)
    if not results:
        raise err("case expression needs at least one branch")
    t = results[0].dtype
    for r in results[1:]:
        t = type_compute(False, False, t, r.dtype)
    for r in results:
        _enforce(r, t)
    node.dtype = t
    node.has_agg = False
    return node, Info(t, literal=False, agg=False)


# --- predicate typing -----------------------------------------------------


def check_pred(node: ast.Pred, env: Env, allow_agg: bool, in_case: bool = False) -> None:
    """Type a predicate tree. ``allow_agg=False`` (WHERE, case-when): any
    aggregate is an error. ``allow_agg=True`` (HAVING): every compared
    expression must be an aggregate or literal."""
    if isinstance(node, ast.Logic):
        check_pred(node.left, env, allow_agg, in_case)
        check_pred(node.right, env, allow_agg, in_case)
        node.has_agg = node.left.has_agg or node.right.has_agg
        return
    if isinstance(node, ast.PredGroup):
        check_pred(node.inner, env, allow_agg, in_case)
        node.has_agg = node.inner.has_agg
        return
    if isinstance(node, ast.Compare):
        node.left, i1 = check_expr(node.left, env, in_case)
        if node.op == "like":
            if i1.agg:
                raise err("Aggregates are not allowed here")
            # LIKE pattern stays a raw string literal
            node.has_agg = False
            return
        node.right, i2 = check_expr(node.right, env, in_case)
        _check_pred_aggs(allow_agg, i1, i2)
        t = type_compute(i1.literal, i2.literal, i1.dtype, i2.dtype)
        _enforce(node.left, t)
        _enforce(node.right, t)
        node.cmp_type = t  # type: ignore[attr-defined]
        node.has_agg = i1.agg or i2.agg
        return
    if isinstance(node, ast.Between):
        node.expr, i1 = check_expr(node.expr, env, in_case)
        node.lo, i2 = check_expr(node.lo, env, in_case)
        node.hi, i3 = check_expr(node.hi, env, in_case)
        _check_pred_aggs(allow_agg, i1, i2, i3)
        t = type_compute(i1.literal, i2.literal, i1.dtype, i2.dtype)
        t = type_compute(False, i3.literal, t, i3.dtype)
        for e in (node.expr, node.lo, node.hi):
            _enforce(e, t)
        node.cmp_type = t  # type: ignore[attr-defined]
        node.has_agg = i1.agg or i2.agg or i3.agg
        return
    if isinstance(node, ast.InList):
        node.expr, i1 = check_expr(node.expr, env, in_case)
        infos = [i1]
        for k in range(len(node.items)):
            node.items[k], ik = check_expr(node.items[k], env, in_case)
            infos.append(ik)
        _check_pred_aggs(allow_agg, *infos)
        t = i1.dtype
        for ik in infos[1:]:
            t = type_compute(False, ik.literal, t, ik.dtype)
        _enforce(node.expr, t)
        for e in node.items:
            _enforce(e, t)
        node.cmp_type = t  # type: ignore[attr-defined]
        node.has_agg = any(i.agg for i in infos)
        return
    raise err(f"Unexpected predicate node {type(node).__name__}")


def _check_pred_aggs(allow_agg: bool, *infos: Info) -> None:
    any_agg = any(i.agg for i in infos)
    if not allow_agg and any_agg:
        raise err("Aggregates are not allowed in this clause")
    if allow_agg and any_agg:
        # HAVING: every side must be aggregate or literal (mixing an
        # aggregate with a bare column is the reference's between/compare
        # error battery).
        for i in infos:
            if not i.agg and not i.literal:
                raise err(
                    "Aggregates can only be compared with aggregates or literals"
                )


# --- whole-query check ----------------------------------------------------


@dataclass
class Checked:
    query: ast.Query
    env: Env
    is_aggregate: bool
    #: display name per visible output column, in order
    out_names: list[str] = field(default_factory=list)


def check_query(q: ast.Query, env: Env) -> Checked:
    env.int_column = "c" in q.options

    # expand select-all (empty select list, or positional '*' markers)
    if q.select_all and not q.selections:
        q.selections = [ast.Selection(expr=ast.Star())]
        q.select_all = False
    expanded: list[ast.Selection] = []
    for sel in q.selections:
        if isinstance(sel.expr, ast.Star):
            for f in env.files:
                for i in range(len(f.display)):
                    expanded.append(ast.Selection(expr=_col(f, i)))
        else:
            expanded.append(sel)
    q.selections = expanded

    seen_distinct = 0
    for sel in q.selections:
        sel.expr, info = check_expr(sel.expr, env)
        if sel.distinct:
            seen_distinct += 1
    if seen_distinct > 1:
        raise err("Only one distinct expression is supported")

    for join in q.joins:
        check_pred(join.raw_pred, env, allow_agg=False)

    if q.where is not None:
        check_pred(q.where, env, allow_agg=False)
    for k in range(len(q.groupby)):
        q.groupby[k], gi = check_expr(q.groupby[k], env)
        if gi.agg:
            raise err("Aggregates are not allowed in group by")
    if q.having is not None:
        if not q.groupby and not any(s.expr.has_agg for s in q.selections):
            raise err("having clause requires aggregation")
        check_pred(q.having, env, allow_agg=True)

    # inc() placement: evaluable in selections and order by (a row-number
    # window over the scan rowid), but meaningless inside a filter — the
    # reference evaluates it anywhere, this engine rejects it up front with
    # a clear error instead of Spark's raw "window functions not allowed".
    if q.where is not None and contains_inc(q.where):
        raise err("inc() is not allowed in the where clause")
    if q.having is not None and contains_inc(q.having):
        raise err("inc() is not allowed in the having clause")

    is_agg = bool(q.groupby) or any(s.expr.has_agg for s in q.selections)
    if is_agg:
        if any(contains_inc(s.expr) for s in q.selections):
            raise err("inc() is not supported in aggregate queries")
    if q.orderby is not None:
        # Engine extension: ORDER BY <selection alias> substitutes the
        # aliased expression (the reference would treat the bare word as a
        # constant literal — a silent no-op sort).
        substituted = False
        if isinstance(q.orderby, ast.Lit):
            for sel in q.selections:
                if sel.alias and sel.alias.lower() == q.orderby.raw.lower():
                    q.orderby = sel.expr
                    substituted = True
                    break
        if not substituted:
            q.orderby, _oi = check_expr(q.orderby, env)

    # output naming (columnNamer, treeProcess.go:588-608)
    names: list[str] = []
    for i, sel in enumerate(q.selections):
        if sel.hidden:
            continue
        if sel.alias:
            names.append(sel.alias)
        elif isinstance(sel.expr, ast.Col):
            names.append(sel.expr.name)
        else:
            names.append(f"col{i + 1}")
    # uniquify duplicate output names for Spark friendliness
    seen: dict[str, int] = {}
    for i, n in enumerate(names):
        if n in seen:
            seen[n] += 1
            names[i] = f"{n}_{seen[n]}"
        else:
            seen[n] = 0
    return Checked(query=q, env=env, is_aggregate=is_agg, out_names=names)
