"""MATCH_RECOGNIZE through the SQL front door.

Translates the SQL-standard row-pattern-matching clause (Calcite:
SqlMatchRecognize / rel/core/Match.java; the TICKER queries in the
reference's match.iq lineage) onto the engine's distributed operator
(operators/match_recognize.py — applyInPandas per partition). The
operator itself has been complete since r7; this module closes the
last §3.1 parse-path gap — a user can now TYPE the reference's
MATCH_RECOGNIZE SQL instead of calling the Python surface.

Supported surface (loud-fail contract — anything outside raises
MatchRecognizeUnsupported, never a silently wrong result):
- PARTITION BY / ORDER BY (column lists)
- MEASURES with: FIRST(X.col[, n]) / LAST(X.col[, n]), X.col (= FINAL
  LAST per the standard's ONE-ROW semantics), bare col (last matched
  row), SUM/MIN/MAX/AVG/COUNT over X.col or X.*, COUNT(*),
  MATCH_NUMBER(), CLASSIFIER() (the latter two in ALL ROWS mode, where
  the operator materializes them)
- ONE ROW PER MATCH (default) / ALL ROWS PER MATCH
- AFTER MATCH SKIP PAST LAST ROW / TO NEXT ROW / TO [FIRST|LAST] var
- PATTERN (...) passed through to the operator's parser (quantifiers,
  alternation, PERMUTE, {-exclusions-}, anchors are its contract)
- SUBSET S = (A, B)
- WITHIN INTERVAL 'n' <unit>
- DEFINE with comparisons/arithmetic over X.col, PREV/NEXT(X.col[, n]),
  literals, AND/OR/NOT

The outer statement (projection, WHERE, ORDER BY around the
MATCH_RECOGNIZE table expression) is handled by substituting the
operator's result as a temp view and running the REST of the text
through the normal Calcite-dialect rewrite — so the full outer SQL
surface keeps working.

DEFINE/MEASURE compilation: SQL expressions become VECTORIZED pandas
expressions (`X.col` → ``p["col"]``, ``PREV(X.col, n)`` →
``p["col"].shift(n)``) evaluated once per partition — the same
vectorized-predicate discipline the hand-written define lambdas use;
nothing row-at-a-time.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from drill_calcite_spark import sqltext


class MatchRecognizeUnsupported(Exception):
    pass


_MR_HEAD = re.compile(r"\bmatch_recognize\s*\(", re.I)


def _mr_head(text: str) -> "re.Match[str] | None":
    """The first MATCH_RECOGNIZE keyword outside quotes."""
    mask = sqltext.mask(text)
    return next((m for m in _MR_HEAD.finditer(text) if not mask[m.start()]),
                None)


def has_match_recognize(text: str) -> bool:
    return _mr_head(text) is not None


_CLAUSE = re.compile(
    r"\b(partition\s+by|order\s+by|measures|one\s+row\s+per\s+match|"
    r"all\s+rows\s+per\s+match|after\s+match|pattern|subset|within|define)\b",
    re.I)


def _split_clauses(body: str) -> "list[tuple[str, str]]":
    """Split the MR body into (clause_keyword, clause_text) pairs at
    paren depth 0."""
    marks = sqltext.top(body, _CLAUSE)
    return [(re.sub(r"\s+", " ", m.group(1).lower()),
             body[m.end():nxt.start() if nxt else len(body)].strip())
            for m, nxt in zip(marks, marks[1:] + [None])]


# ---------------------------------------------------------------- DEFINE

# symbol/column groups must START WITH A LETTER — `\w+` would match the
# halves of a decimal literal (`1.5` → sym "1", col "5") and reject any
# DEFINE with a non-integer constant
_NAV = re.compile(r"\b(prev|next)\s*\(\s*([A-Za-z_]\w*)\s*\.\s*"
                  r"([A-Za-z_]\w*)(?:\s*,\s*(\d+))?\s*\)", re.I)
_SYMREF = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\b")


def _assert_safe_expr(expr: str, original: str) -> None:
    """Whitelist-validate the TRANSLATED condition before it is
    compiled: only the node shapes the translator itself emits —
    ``p["col"]`` subscripts, ``.shift(n)`` navigation, comparisons,
    arithmetic, ``& | ~`` boolean algebra, and plain literals — may
    appear. The DEFINE text reaches this module from arbitrary SQL
    (including the reference's untrusted quidem corpus via resweep), so
    anything outside the grammar — names, calls, attributes,
    f-strings, comprehensions — is rejected loudly instead of being
    handed to the compiler."""
    import ast

    try:
        tree = ast.parse(expr, mode="eval")
    except SyntaxError as exc:
        raise MatchRecognizeUnsupported(
            f"cannot compile DEFINE condition: {original!r} -> {expr!r}"
        ) from exc

    def is_col(node) -> bool:
        return (isinstance(node, ast.Subscript)
                and isinstance(node.value, ast.Name)
                and node.value.id == "p"
                and isinstance(node.slice, ast.Constant)
                and isinstance(node.slice.value, str))

    def is_int(node) -> bool:
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            node = node.operand
        return (isinstance(node, ast.Constant)
                and isinstance(node.value, int))

    _BINOPS = (ast.Add, ast.Sub, ast.Mult, ast.Div, ast.Mod,
               ast.BitAnd, ast.BitOr)
    _UNOPS = (ast.USub, ast.UAdd, ast.Invert)
    _CMPS = (ast.Lt, ast.Gt, ast.LtE, ast.GtE, ast.Eq, ast.NotEq)

    def check(node) -> None:
        if is_col(node):
            return
        if isinstance(node, ast.Constant) and isinstance(
                node.value, (int, float, str, bool, type(None))):
            return
        if isinstance(node, ast.Call):
            # the only call the translator emits: <col>.shift(±n)
            f = node.func
            if not (isinstance(f, ast.Attribute) and f.attr == "shift"
                    and is_col(f.value) and not node.keywords
                    and len(node.args) == 1 and is_int(node.args[0])):
                raise MatchRecognizeUnsupported(
                    f"unsupported DEFINE condition: {original!r}")
            return
        if isinstance(node, ast.BinOp) and isinstance(node.op, _BINOPS):
            check(node.left)
            check(node.right)
            return
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, _UNOPS):
            check(node.operand)
            return
        if isinstance(node, ast.Compare) and all(
                isinstance(op, _CMPS) for op in node.ops):
            check(node.left)
            for c in node.comparators:
                check(c)
            return
        raise MatchRecognizeUnsupported(
            f"unsupported DEFINE condition: {original!r}")

    check(tree.body)


def _compile_define(cond: str, columns: "set[str]"):
    """SQL boolean condition → vectorized ``lambda p: Series``."""
    # shield '...' string literals for the whole transform pipeline —
    # a dot or `=` INSIDE a literal ('x.y', 'a=b') must not be read as
    # a symbol reference or comparison. Placeholders are plain
    # identifiers with no dot, invisible to every pattern below; the
    # bodies are restored as Python string constants just before the
    # AST whitelist runs (which accepts Constant str).
    lit_bodies: "list[str]" = []

    def _shield(m):
        lit_bodies.append(m.group(0)[1:-1].replace("''", "'"))
        return f" __mrlit{len(lit_bodies) - 1}x "

    expr = re.sub(r"'(?:[^']|'')*'", _shield, cond)
    def nav(m):
        fn, _sym, col, n = (m.group(1).lower(), m.group(2),
                            m.group(3), m.group(4) or "1")
        if col not in columns:
            raise MatchRecognizeUnsupported(f"unknown column {col}")
        shift = n if fn == "prev" else f"-{n}"
        return f'p["{col}"].shift({shift})'
    expr = _NAV.sub(nav, expr)
    def symref(m):
        sym, col = m.group(1), m.group(2)
        if sym == "p":  # already-translated fragment
            return m.group(0)
        if col not in columns:
            raise MatchRecognizeUnsupported(
                f"unknown column {col} in DEFINE")
        return f'p["{col}"]'
    expr = _SYMREF.sub(symref, expr)
    expr = _sql_ops_to_pandas(expr)
    expr = re.sub(r"__mrlit(\d+)x",
                  lambda m: repr(lit_bodies[int(m.group(1))]), expr)
    _assert_safe_expr(expr, cond)
    fn = eval(f"lambda p: ({expr})")  # noqa: S307 - whitelist-validated
    return fn


def _bool_to_pandas(e: str) -> str:
    """AND/OR → & / | with every operand parenthesized (& and | bind
    TIGHTER than comparisons in Python, the classic pandas trap);
    recurses into parenthesized groups so NOT/AND/OR nested under
    parens — ``(NOT (c <= 4)) AND ...`` — translate too (r10; the MR
    fuzzer surfaced the gap)."""
    e = e.strip()
    ors = sqltext.split(e, r"\bor\b")
    if len(ors) > 1:
        return " | ".join(f"({_bool_to_pandas(p)})" for p in ors)
    ands = sqltext.split(e, r"\band\b")
    if len(ands) > 1:
        return " & ".join(f"({_bool_to_pandas(p)})" for p in ands)
    # NOT binds looser than comparison in SQL: NOT c = 3 is NOT (c = 3),
    # so the negation applies to the WHOLE remaining operand
    m = re.match(r"^\s*not\b(.*)$", e, re.I | re.S)
    if m:
        return _negate(m.group(1).strip())
    if sqltext.wrapped(e):
        return f"({_bool_to_pandas(e[1:-1].strip())})"
    return e


_CMP_FLIP = {"<=": ">", ">=": "<", "<": ">=", ">": "<=",
             "==": "!=", "!=": "=="}
_CMP_TOK = re.compile(r"<=|>=|==|!=|<|>")


def _negate(e: str) -> str:
    """SQL-3VL negation: NOT distributes by De Morgan and lands on each
    comparison atom as an OPERATOR FLIP (``NOT (a <= b)`` ≡ ``a > b``
    — both UNKNOWN when an operand is null, e.g. PREV on a partition's
    first row). A pandas ``~`` would instead turn the null comparison's
    False into True and admit rows SQL rejects."""
    e = e.strip()
    ors = sqltext.split(e, r"\bor\b")
    if len(ors) > 1:
        return " & ".join(f"({_negate(p)})" for p in ors)
    ands = sqltext.split(e, r"\band\b")
    if len(ands) > 1:
        return " | ".join(f"({_negate(p)})" for p in ands)
    m = re.match(r"^\s*not\b(.*)$", e, re.I | re.S)
    if m:  # double negation
        return _bool_to_pandas(m.group(1).strip())
    if sqltext.wrapped(e):
        return f"({_negate(e[1:-1].strip())})"
    cmps = sqltext.top(e, _CMP_TOK)
    if cmps:
        mt = cmps[0]
        return e[:mt.start()] + _CMP_FLIP[mt.group(0)] + e[mt.end():]
    raise MatchRecognizeUnsupported(
        f"cannot negate DEFINE term: {e!r}")


def _sql_ops_to_pandas(expr: str) -> str:
    """SQL operators → pandas: <> to !=, = to ==, AND/OR/NOT to & | ~."""
    expr = re.sub(r"<>", "!=", expr)
    expr = re.sub(r"(?<![<>!=])=(?!=)", "==", expr)
    return _bool_to_pandas(expr)


# --------------------------------------------------------------- MEASURES

_AGG = re.compile(r"^(sum|min|max|avg|count)\s*\((.*)\)$", re.I | re.S)
_FL = re.compile(r"^(first|last)\s*\(\s*(\w+)\s*\.\s*(\w+)"
                 r"(?:\s*,\s*(\d+))?\s*\)$", re.I)
_QREF = re.compile(r"^(\w+)\s*\.\s*(\w+)$")


def _measure_body(expr: str, types: "dict[str, str]"):
    """One measure expression → (py_body_over(p,m), spark_type)."""
    e = expr.strip()
    low = e.lower()
    if low == "match_number()":
        return ("__MATCH_NO__", "long")
    if low == "classifier()":
        return ("__CLASSIFIER__", "string")
    # literal measures — ``MEASURES 1 AS m1`` (the shape of the
    # reference's first disabled match.iq block, :44-52)
    if re.fullmatch(r"-?\d+", e):
        return (e, "long")
    if re.fullmatch(r"-?\d+\.\d+", e):
        return (e, "double")
    lm = re.fullmatch(r"'((?:[^']|'')*)'", e)
    if lm:
        return (repr(lm.group(1).replace("''", "'")), "string")
    m = _FL.match(e)
    if m:
        fn, sym, col, n = (m.group(1).lower(), m.group(2).upper(),
                           m.group(3), int(m.group(4) or 0))
        if col not in types:
            raise MatchRecognizeUnsupported(f"unknown column {col}")
        idx = (f'm["{sym}"][{n}]' if fn == "first"
               else f'm["{sym}"][-1 - {n}]' if n else f'm["{sym}"][-1]')
        return (f'p["{col}"].iloc[{idx}]', types[col])
    m = _AGG.match(e)
    if m:
        fn, arg = m.group(1).lower(), m.group(2).strip()
        if arg == "*":
            if fn != "count":
                raise MatchRecognizeUnsupported(f"{fn}(*) in MEASURES")
            return ('len(m["*"])', "long")
        star = re.match(r"^(\w+)\s*\.\s*\*$", arg)
        if star:
            if fn != "count":
                raise MatchRecognizeUnsupported(f"{fn}(X.*) in MEASURES")
            return (f'len(m["{star.group(1).upper()}"])', "long")
        q = _QREF.match(arg)
        if not q:
            raise MatchRecognizeUnsupported(
                f"unsupported aggregate arg in MEASURES: {arg!r}")
        sym, col = q.group(1).upper(), q.group(2)
        if col not in types:
            raise MatchRecognizeUnsupported(f"unknown column {col}")
        sel = f'p["{col}"].iloc[m["{sym}"]]'
        if fn == "count":
            return (f"{sel}.count()", "long")
        # SQL aggregates over an EMPTY set are NULL, not pandas'
        # identity (sum() -> 0) — reachable under RUNNING semantics
        # before the symbol's first row
        guard = f'None if not m["{sym}"] else '
        if fn == "avg":
            return (f"{guard}{sel}.mean()", "double")
        return (f"{guard}{sel}.{fn}()", types[col])
    q = _QREF.match(e)
    if q:
        sym, col = q.group(1).upper(), q.group(2)
        if col not in types:
            raise MatchRecognizeUnsupported(f"unknown column {col}")
        # X.col in MEASURES = FINAL LAST(X.col) (the standard's ONE-ROW
        # reading, which the reference's TICKER queries rely on)
        return (f'p["{col}"].iloc[m["{sym}"][-1]]', types[col])
    if re.fullmatch(r"\w+", e) and e in types:
        # bare column: last matched row (partition keys are constant)
        return (f'p["{e}"].iloc[m["*"][-1]]', types[e])
    raise MatchRecognizeUnsupported(
        f"unsupported MEASURES expression: {expr!r}")


_SPARK_TYPES = {
    "bigint": "long", "int": "long", "smallint": "long", "tinyint": "long",
    "long": "long", "double": "double", "float": "double",
    "string": "string", "boolean": "boolean", "date": "date",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp_ntz",
}


def _norm_type(dt: str) -> str:
    base = dt.split("(")[0].lower()
    if base.startswith("decimal"):
        return dt
    return _SPARK_TYPES.get(base, dt)


_WITHIN = re.compile(
    r"^interval\s+'(\d+)'\s+(second|minute|hour|day)s?$", re.I)

_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


# ------------------------------------------------- stateful DEFINE (aggs)

_DEF_AGG = re.compile(r"\b(sum|count|min|max|avg)\s*\(", re.I)

_DEF_TOK = re.compile(
    r"\s*(?:(\d+\.\d+|\d+)|('(?:[^']|'')*')|([A-Za-z_]\w*)"
    r"|(\|\||<=|>=|<>|[+\-*/%().,<>=]))")


def _tokenize_def(cond: str):
    cond = cond.strip()
    toks, i = [], 0
    while i < len(cond):
        m = _DEF_TOK.match(cond, i)
        if not m or m.end() == i:
            raise MatchRecognizeUnsupported(
                f"cannot tokenize DEFINE condition at {cond[i:i + 20]!r}")
        i = m.end()
        if m.group(1) is not None:
            txt = m.group(1)
            toks.append(("num", float(txt) if "." in txt else int(txt)))
        elif m.group(2) is not None:
            toks.append(("str", m.group(2)[1:-1].replace("''", "'")))
        elif m.group(3) is not None:
            toks.append(("id", m.group(3)))
        else:
            toks.append(("op", m.group(4)))
    return toks


def _null(v):
    """pandas NA/NaN → None (SQL NULL)."""
    return None if v is None or (not isinstance(v, str) and pd.isna(v)) \
        else v


def _cell(ctx, r, col):
    return _null(ctx["pdf"][col].iloc[r])


_DEF_CMP = {
    "=": lambda a, b: a == b, "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
}


class _StatefulDefParser:
    """Recursive-descent compiler for DEFINE conditions containing
    RUNNING AGGREGATES (SQL:2016 aggregates-in-DEFINE — the construct
    the reference DISABLES at match.iq:57-82: its Enumerable NFA
    evaluates DEFINE as static per-row predicates). Produces closures
    over ``ctx = {pdf, rows, j, rowvar, rowidx}`` — NO eval() anywhere,
    so untrusted corpus SQL can only ever drive this fixed grammar:
    numeric/string literals, column and var.col references, ``||``
    concat, + - * / % arithmetic, CHAR_LENGTH, SUM/COUNT/MIN/MAX/AVG
    over a single pattern variable, comparisons, AND/OR/NOT (Kleene
    3VL; None = UNKNOWN, which never matches).

    Reference semantics: inside an aggregate, ``var.col`` iterates the
    rows mapped to ``var`` so far (candidate row included — the
    operator's StatefulDef contract); outside, ``var.col`` is the LAST
    row mapped to ``var`` (running LAST), and a bare column is the
    candidate row."""

    AGGS = {"sum", "count", "min", "max", "avg"}

    def __init__(self, toks, columns):
        self.toks, self.i, self.columns = toks, 0, columns
        self._varrefs: "list[set]" = []

    # --- token plumbing
    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) \
            else (None, None)

    def _take(self):
        t = self._peek()
        self.i += 1
        return t

    def _expect(self, val):
        k, v = self._take()
        if v != val:
            raise MatchRecognizeUnsupported(
                f"expected {val!r} in DEFINE, got {v!r}")

    # --- grammar
    def parse(self):
        fn = self._or()
        if self._peek() != (None, None):
            raise MatchRecognizeUnsupported(
                f"trailing tokens in DEFINE: {self.toks[self.i:]!r}")
        return fn

    def _or(self):
        left = self._and()
        while (self._peek()[0] == "id"
               and self._peek()[1].lower() == "or"):
            self._take()
            right = self._and()

            def f(ctx, a=left, b=right):
                va, vb = a(ctx), b(ctx)
                if va is True or vb is True:
                    return True
                if va is None or vb is None:
                    return None
                return False
            left = f
        return left

    def _and(self):
        left = self._not()
        while (self._peek()[0] == "id"
               and self._peek()[1].lower() == "and"):
            self._take()
            right = self._not()

            def f(ctx, a=left, b=right):
                va, vb = a(ctx), b(ctx)
                if va is False or vb is False:
                    return False
                if va is None or vb is None:
                    return None
                return True
            left = f
        return left

    def _not(self):
        if self._peek()[0] == "id" and self._peek()[1].lower() == "not":
            self._take()
            inner = self._not()

            def f(ctx, a=inner):
                v = a(ctx)
                return None if v is None else (not v)
            return f
        return self._cmp()

    def _cmp(self):
        left = self._add()
        k, v = self._peek()
        if k == "op" and v in _DEF_CMP:
            self._take()
            right = self._add()
            cmp_fn = _DEF_CMP[v]

            def f(ctx, a=left, b=right, c=cmp_fn):
                va, vb = a(ctx), b(ctx)
                if va is None or vb is None:
                    return None
                return bool(c(va, vb))
            return f
        return left

    def _add(self):
        left = self._mul()
        while True:
            k, v = self._peek()
            if k == "op" and v in ("+", "-", "||"):
                self._take()
                right = self._mul()

                def f(ctx, a=left, b=right, op=v):
                    va, vb = a(ctx), b(ctx)
                    if va is None or vb is None:
                        return None
                    if op == "||":
                        return str(va) + str(vb)
                    return va + vb if op == "+" else va - vb
                left = f
            else:
                return left

    def _mul(self):
        left = self._unary()
        while True:
            k, v = self._peek()
            if k == "op" and v in ("*", "/", "%"):
                self._take()
                right = self._unary()

                def f(ctx, a=left, b=right, op=v):
                    va, vb = a(ctx), b(ctx)
                    if va is None or vb is None:
                        return None
                    if op == "*":
                        return va * vb
                    if op == "%":
                        return None if vb == 0 else va % vb
                    return None if vb == 0 else va / vb
                left = f
            else:
                return left

    def _unary(self):
        k, v = self._peek()
        if k == "op" and v in ("+", "-"):
            self._take()
            inner = self._unary()
            if v == "-":
                return lambda ctx, a=inner: (
                    None if a(ctx) is None else -a(ctx))
            return inner
        return self._primary()

    def _primary(self):
        k, v = self._take()
        if k in ("num", "str"):
            return lambda ctx, c=v: c
        if k == "op" and v == "(":
            fn = self._or()
            self._expect(")")
            return fn
        if k != "id":
            raise MatchRecognizeUnsupported(
                f"unexpected token in DEFINE: {v!r}")
        low = v.lower()
        nk, nv = self._peek()
        if (nk, nv) == ("op", "("):
            self._take()
            if low in ("char_length", "character_length"):
                arg = self._add()
                self._expect(")")

                def f(ctx, a=arg):
                    s = a(ctx)
                    return None if s is None else len(str(s))
                return f
            if low in self.AGGS:
                return self._aggregate(low)
            raise MatchRecognizeUnsupported(
                f"unsupported function in DEFINE: {v!r}")
        if (nk, nv) == ("op", "."):
            self._take()
            ck, col = self._take()
            if ck != "id" or col not in self.columns:
                raise MatchRecognizeUnsupported(
                    f"unknown column {col!r} in DEFINE")
            var = v.upper()
            if self._varrefs:
                self._varrefs[-1].add(var)

            def f(ctx, _var=var, _col=col):
                if ctx["rowidx"] is not None and _var == ctx["rowvar"]:
                    return _cell(ctx, ctx["rowidx"], _col)
                mapped = ctx["rows"].get(_var)
                if not mapped:
                    return None
                return _cell(ctx, mapped[-1], _col)
            return f
        if v in self.columns:
            return lambda ctx, _col=v: _cell(ctx, ctx["j"], _col)
        raise MatchRecognizeUnsupported(
            f"unknown identifier in DEFINE: {v!r}")

    def _aggregate(self, agg: str):
        if agg == "count" and self._peek() == ("op", "*"):
            self._take()
            self._expect(")")
            return lambda ctx: len(ctx["rows"].get("*", ())) or sum(
                len(r) for r in ctx["rows"].values())
        self._varrefs.append(set())
        inner = self._add()
        used = self._varrefs.pop()
        self._expect(")")
        if len(used) != 1:
            raise MatchRecognizeUnsupported(
                f"aggregate in DEFINE must reference exactly one "
                f"pattern variable, saw {sorted(used)!r}")
        var = next(iter(used))

        def f(ctx, _var=var, _inner=inner, _agg=agg):
            vals = []
            for r in ctx["rows"].get(_var, ()):
                sub = dict(ctx)
                sub["rowvar"], sub["rowidx"] = _var, r
                x = _inner(sub)
                if x is not None:
                    vals.append(x)
            if _agg == "count":
                return len(vals)
            if not vals:
                return None
            if _agg == "sum":
                return sum(vals)
            if _agg == "min":
                return min(vals)
            if _agg == "max":
                return max(vals)
            return sum(vals) / len(vals)  # avg
        return f


def _compile_stateful_define(cond: str, columns: "set[str]"):
    """SQL DEFINE condition with running aggregates → StatefulDef."""
    from drill_calcite_spark.operators.match_recognize import StatefulDef

    parser = _StatefulDefParser(_tokenize_def(cond), columns)
    expr = parser.parse()

    def fn(pdf, j, rows):
        ctx = {"pdf": pdf, "rows": rows, "j": j,
               "rowvar": None, "rowidx": None}
        return expr(ctx) is True
    return StatefulDef(fn)


def translate_match_recognize(spark: SparkSession, text: str) -> DataFrame:
    """Execute a statement containing ``<table> MATCH_RECOGNIZE (...)``:
    run the pattern clause through the distributed operator, then the
    remaining outer SQL through the normal dialect rewrite over the
    operator's result (registered as a temp view)."""
    from drill_calcite_spark.operators.match_recognize import match_recognize
    from drill_calcite_spark.sql import rewrite

    head = _mr_head(text)
    end = sqltext.close(text, head.end() - 1)
    if end is None:
        raise MatchRecognizeUnsupported(
            "unbalanced parens in MATCH_RECOGNIZE")
    body = text[head.end():end - 1]

    # the table expression feeding MATCH_RECOGNIZE: the word before it
    src_m = re.search(r"\bfrom\s+(\w+)\s*$", text[:head.start()], re.I)
    if not src_m:
        raise MatchRecognizeUnsupported(
            "MATCH_RECOGNIZE input must be a plain table/view name")
    src = src_m.group(1)
    df_in = spark.table(src)
    types = {f.name: _norm_type(f.dataType.simpleString())
             for f in df_in.schema.fields}

    clauses = dict(_split_clauses(body))
    if "pattern" not in clauses or "define" not in clauses:
        raise MatchRecognizeUnsupported("PATTERN and DEFINE are required")

    part_cols = ([c.strip() for c in sqltext.split(clauses["partition by"])]
                 if "partition by" in clauses else [])
    if "order by" not in clauses:
        raise MatchRecognizeUnsupported("ORDER BY is required")
    order_cols = [re.sub(r"\s+(asc|desc)$", "", c.strip(), flags=re.I)
                  for c in sqltext.split(clauses["order by"])]
    for c in sqltext.split(clauses["order by"]):
        if re.search(r"\bdesc\b", c, re.I):
            raise MatchRecognizeUnsupported("DESC ordering in MR ORDER BY")

    # PATTERN (...) — strip the outer parens, operator parses the rest
    pat_txt = clauses["pattern"].strip()
    if not (pat_txt.startswith("(") and pat_txt.endswith(")")):
        raise MatchRecognizeUnsupported("PATTERN must be parenthesized")
    pattern = pat_txt[1:-1].strip()

    # WITHIN — either its own clause or trailing the pattern clause
    within = None
    win_txt = clauses.get("within")
    if win_txt:
        m = _WITHIN.match(win_txt.strip())
        if not m:
            raise MatchRecognizeUnsupported(
                f"unsupported WITHIN interval: {win_txt!r}")
        import pandas as pd
        span = pd.Timedelta(
            seconds=int(m.group(1)) * _UNIT_SECONDS[m.group(2).lower()])
        within = (order_cols[0], span)

    # SUBSET S = (A, B), T = (C)
    subset = None
    if "subset" in clauses:
        subset = {}
        for item in sqltext.split(clauses["subset"]):
            sm = re.match(r"^(\w+)\s*=\s*\(([^)]*)\)$", item.strip())
            if not sm:
                raise MatchRecognizeUnsupported(f"bad SUBSET item: {item!r}")
            subset[sm.group(1).upper()] = [
                s.strip().upper() for s in sm.group(2).split(",")]

    # AFTER MATCH
    after = "skip_past_last_row"
    if "after match" in clauses:
        am = re.sub(r"\s+", " ", clauses["after match"].strip().lower())
        if am == "skip past last row":
            after = "skip_past_last_row"
        elif am == "skip to next row":
            after = "skip_to_next_row"
        else:
            m = re.match(r"^skip to (first|last) (\w+)$", am)
            if not m:
                raise MatchRecognizeUnsupported(
                    f"unsupported AFTER MATCH: {clauses['after match']!r}")
            after = f"skip_to_{m.group(1)} {m.group(2)}"

    rows_all = "all rows per match" in clauses

    # DEFINE
    define = {}
    for item in sqltext.split(clauses["define"]):
        dm = re.match(r"^(\w+)\s+as\s+(.*)$", item.strip(), re.I | re.S)
        if not dm:
            raise MatchRecognizeUnsupported(f"bad DEFINE item: {item!r}")
        cond = dm.group(2).strip()
        if _DEF_AGG.search(cond):
            # running aggregates: match-state-dependent, compiled to a
            # StatefulDef evaluated inside the backtracking matcher
            define[dm.group(1).upper()] = _compile_stateful_define(
                cond, set(types))
        else:
            define[dm.group(1).upper()] = _compile_define(cond, set(types))

    # MEASURES — (alias, python body, spark type)
    meas = []
    if "measures" in clauses:
        for item in sqltext.split(clauses["measures"]):
            mm = re.match(r"^(.*)\s+as\s+(\w+)$", item.strip(), re.I | re.S)
            if not mm:
                raise MatchRecognizeUnsupported(
                    f"MEASURES items need AS aliases: {item!r}")
            body_txt, alias = mm.group(1).strip(), mm.group(2)
            # SQL:2016 FINAL/RUNNING prefix operators (Calcite
            # SqlStdOperatorTable FINAL/RUNNING): RUNNING selects the
            # cumulative per-row view in ALL ROWS mode; FINAL (and the
            # engine's documented default) the per-match value
            is_running = False
            km = re.match(r"^(running|final)\b(.*)$", body_txt,
                          re.I | re.S)
            if km:
                is_running = km.group(1).lower() == "running"
                body_txt = km.group(2).strip()
            py, dt = _measure_body(body_txt, types)
            meas.append((alias, py, dt, is_running))

    measures = {}
    schema_parts = []
    renames: "dict[str, str]" = {}
    if rows_all:
        # operator resolves the RESERVED names match_no / classifier
        for alias, py, dt, is_running in meas:
            if py == "__MATCH_NO__":
                renames[alias] = "match_no"
            elif py == "__CLASSIFIER__":
                renames[alias] = "classifier"
            else:
                fn = eval(f"lambda p, m: ({py})")  # noqa: S307
                if is_running:
                    from drill_calcite_spark.operators.match_recognize \
                        import RunningMeasure

                    def _guard(p, m, _f=fn):
                        # RUNNING over an empty prefix (no row of the
                        # navigated symbol yet) is NULL, not an error
                        try:
                            return _f(p, m)
                        except IndexError:
                            return None
                    fn = RunningMeasure(_guard)
                measures[alias] = fn
        out_cols = []
        for c in df_in.columns:
            out_cols.append((c, types[c]))
        for alias, py, dt, _run in meas:
            name = renames.get(alias, alias)
            if name not in [c for c, _ in out_cols]:
                out_cols.append((name, dt))
        schema_parts = [f"{c} {dt}" for c, dt in out_cols]
    else:
        for alias, py, dt, _run in meas:
            if py in ("__MATCH_NO__", "__CLASSIFIER__"):
                raise MatchRecognizeUnsupported(
                    "MATCH_NUMBER()/CLASSIFIER() need ALL ROWS PER MATCH "
                    "(the one-row mode has no per-row classifier; match "
                    "numbering is not exposed by the operator there)")
        # ONE ROW PER MATCH output = partition keys + measures
        for c in part_cols:
            measures[c] = eval(  # noqa: S307
                f'lambda p, m: p["{c}"].iloc[0]')
            schema_parts.append(f"{c} {types[c]}")
        for alias, py, dt, _run in meas:
            # ONE ROW mode: RUNNING == FINAL at the match's last row
            measures[alias] = eval(f"lambda p, m: ({py})")  # noqa: S307
            schema_parts.append(f"{alias} {dt}")

    out = match_recognize(
        df_in, part_cols, order_cols, pattern, define, measures,
        output_schema=", ".join(schema_parts),
        after_match=after,
        rows_per_match="all" if rows_all else "one",
        subset=subset, within=within,
    )
    # user-facing aliases for the reserved ALL-mode names
    for alias, internal in renames.items():
        if alias != internal:
            out = out.withColumnRenamed(internal, alias)

    # splice the operator result back into the outer statement: the
    # replaced span runs from the source table name through the closing
    # paren of MATCH_RECOGNIZE; any alias / WHERE / ORDER BY tail
    # survives verbatim and goes through the normal dialect rewrite.
    view = f"_mr_out_{len(text)}_{len(body)}"
    out.createOrReplaceTempView(view)
    outer = text[:src_m.start(1)] + view + text[end:]
    return spark.sql(rewrite(outer))
