"""Expression fuzzer: the reference's fuzzing test layer (SURVEY.md §5
layer 5 — core/src/test/java/org/apache/calcite/test/fuzzer/, a random
Rex expression generator validating that planner simplification preserves
semantics) re-expressed for this engine: generate random, type-correct
scalar expressions in the ANSI subset BOTH engines parse, evaluate each
over a NULL-rich fixture through Spark SQL (where Catalyst constant-folds
/ simplifies them) and through DuckDB, and require identical results.

What this pins that the per-function batteries can't: arbitrary
COMPOSITIONS — three-valued logic threading through nested CASE/COALESCE/
NULLIF, null-safe comparison chains, string/numeric coercions — the same
class of bug RexProgramFuzzyTest hunts in RexSimplify.

Determinism: seeds are fixed; every expression is reproducible from its
(seed, index). Each seed's 20 expressions evaluate as ONE projection per
engine (one Spark job), so the layer stays cheap.

Dialect-subset rules (deliberate exclusions, each a known cross-engine
divergence, NOT a bug): no division (0/0 NaN-vs-NULL), no ROUND
(half-even vs half-away), no trig (libm ulps), FLOOR/CEIL wrapped in
CAST AS DOUBLE (Spark returns BIGINT, DuckDB DOUBLE), ASCII-only strings
(collation/locale), int arithmetic lifted to DOUBLE (overflow behavior).
"""

from __future__ import annotations

import math
import random

import pytest

# ---------------------------------------------------------------- fixture

_N_ROWS = 60


def _fixture_rows():
    rows = []
    for k in range(_N_ROWS):
        i = None if k % 7 == 0 else (k * 13) % 201 - 100
        j = (k * 29) % 61 - 30
        d = None if k % 11 == 3 else round((k * 37 % 997) / 8.0 - 50, 3)
        e = round((k * 53 % 499) / 16.0 - 12, 4)
        s = None if k % 13 == 5 else f"str{k % 17:02d}{'x' * (k % 4)}"
        t = f"T{(k * 7) % 23:02d}"
        b = None if k % 17 == 9 else (k % 3 == 0)
        rows.append((k, i, j, d, e, s, t, b))
    return rows


_FIXTURE_SCHEMA = ("id bigint, i bigint, j bigint, d double, e double, "
                   "s string, t string, b boolean")


# ------------------------------------------------------------- generator
# Each production emits SQL text valid and identically-defined in BOTH
# engines. Three type families: num (DOUBLE), str (VARCHAR), bool.


def _lit_num(rng: random.Random) -> str:
    v = rng.choice([0.0, 1.0, -1.5, 2.25, 10.0, -0.75, 42.0])
    return repr(v)


def _lit_str(rng: random.Random) -> str:
    return "'" + rng.choice(["", "a", "abc", "str07", "Zz", "hello"]) + "'"


def _num(rng: random.Random, depth: int) -> str:
    if depth <= 0:
        return rng.choice(["d", "e", "CAST(i AS DOUBLE)", "CAST(j AS DOUBLE)",
                           _lit_num(rng)])
    pick = rng.randrange(9)
    a, b = _num(rng, depth - 1), _num(rng, depth - 1)
    if pick == 0:
        return f"({a} + {b})"
    if pick == 1:
        return f"({a} - {b})"
    if pick == 2:
        return f"({a} * {b})"
    if pick == 3:
        return f"abs({a})"
    if pick == 4:
        return f"CAST(floor({a}) AS DOUBLE)"
    if pick == 5:
        return f"least({a}, {b})"
    if pick == 6:
        return f"greatest({a}, {b})"
    if pick == 7:
        return f"coalesce(nullif({a}, {b}), {_lit_num(rng)})"
    c = _bool(rng, depth - 1)
    return f"(CASE WHEN {c} THEN {a} ELSE {b} END)"


def _str(rng: random.Random, depth: int) -> str:
    if depth <= 0:
        return rng.choice(["s", "t", _lit_str(rng)])
    pick = rng.randrange(6)
    a = _str(rng, depth - 1)
    if pick == 0:
        return f"upper({a})"
    if pick == 1:
        return f"lower({a})"
    if pick == 2:
        b = _str(rng, depth - 1)
        return f"({a} || {b})"
    if pick == 3:
        start, ln = rng.randrange(1, 4), rng.randrange(1, 5)
        return f"substr({a}, {start}, {ln})"
    if pick == 4:
        b = _str(rng, depth - 1)
        return f"coalesce(nullif({a}, {b}), {_lit_str(rng)})"
    c = _bool(rng, depth - 1)
    b = _str(rng, depth - 1)
    return f"(CASE WHEN {c} THEN {a} ELSE {b} END)"


def _bool(rng: random.Random, depth: int) -> str:
    if depth <= 0:
        return rng.choice(["b", "(i IS NULL)", "(s IS NOT NULL)",
                           "(j > 0)", "(d < 1.5)"])
    pick = rng.randrange(7)
    if pick == 0:
        a, b = _num(rng, depth - 1), _num(rng, depth - 1)
        op = rng.choice(["<", "<=", ">", ">=", "="])
        return f"({a} {op} {b})"
    if pick == 1:
        a, b = _str(rng, depth - 1), _str(rng, depth - 1)
        op = rng.choice(["<", ">", "="])
        return f"({a} {op} {b})"
    if pick == 2:
        return f"(NOT {_bool(rng, depth - 1)})"
    if pick == 3:
        return f"({_bool(rng, depth - 1)} AND {_bool(rng, depth - 1)})"
    if pick == 4:
        return f"({_bool(rng, depth - 1)} OR {_bool(rng, depth - 1)})"
    if pick == 5:
        return f"({_num(rng, depth - 1)} IS NULL)"
    return (f"(CASE WHEN {_bool(rng, depth - 1)} THEN "
            f"{_bool(rng, depth - 1)} ELSE {_bool(rng, depth - 1)} END)")


def _exprs_for_seed(seed: int, n: int = 20) -> list[str]:
    rng = random.Random(seed)
    out = []
    for k in range(n):
        fam = k % 3
        depth = 2 + (k % 3)
        if fam == 0:
            out.append(_num(rng, depth))
        elif fam == 1:
            out.append(_str(rng, depth))
        else:
            out.append(_bool(rng, depth))
    return out


# ------------------------------------------------------------- the check


def _cells_equal(x, y) -> bool:
    if x is None and y is None:
        return True
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) and math.isnan(y):
            return True
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    return x == y


_SEEDS = [101, 202, 303, 404, 505, 606]


@pytest.fixture(scope="module")
def fuzz_tables(spark, duck):
    import pandas as pd

    rows = _fixture_rows()
    sdf = spark.createDataFrame(rows, _FIXTURE_SCHEMA)
    sdf.createOrReplaceTempView("fuzz_t")
    cols = ["id", "i", "j", "d", "e", "s", "t", "b"]
    pdf = pd.DataFrame(rows, columns=cols)
    duck.register("fuzz_pd", pdf)
    duck.execute("CREATE OR REPLACE VIEW fuzz_t AS SELECT * FROM fuzz_pd")
    yield
    duck.execute("DROP VIEW IF EXISTS fuzz_t")


@pytest.mark.parametrize("seed", _SEEDS)
def test_random_expressions_agree(spark, duck, fuzz_tables, seed):
    exprs = _exprs_for_seed(seed)
    select = ", ".join(f"{e} AS c{k}" for k, e in enumerate(exprs))
    sql = f"SELECT id, {select} FROM fuzz_t ORDER BY id"
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    drows = duck.execute(sql).fetchall()
    assert len(srows) == len(drows) == _N_ROWS
    for sr, dr in zip(srows, drows):
        for k, (x, y) in enumerate(zip(sr, dr)):
            assert _cells_equal(x, y), (
                f"seed {seed} col {k - 1} id {sr[0]}: spark={x!r} "
                f"duck={y!r}\n expr: {exprs[k - 1] if k else 'id'}")


# ------------------------------------------- front-door round-trip layer
# Round 8 (VERDICT r7 item 9): pin the calcite_sql token-rewrites against
# inputs the quidem corpus doesn't cover — string literals containing
# keyword-looking text ('has pi here', 'floor(d to day)', '(table t2)':
# the r8 literal-shielding fix), nested parens, and random
# quantified / LISTAGG / ORDER BY forms. Each seed builds dialect-free
# expressions (so rewrite() must be a byte-identity on everything outside
# the dialect constructs) plus paired dialect forms with a hand-built
# DuckDB twin.

_KEYWORD_LITS = [
    "has pi here", "floor(d to day)", "ceil(d to hour)", "collect(x)",
    "row(1,2)", "group by ()", "array[1,2]", "(table t2)",
    "cast(x as varchar)", "a -> b", "multiset[1]", "values (1)",
]


def _kw_str(rng: random.Random, depth: int) -> str:
    """A _str expression whose leaves sometimes inject keyword literals
    and extra nested parens."""
    if rng.random() < 0.4:
        base = "'" + rng.choice(_KEYWORD_LITS) + "'"
    else:
        base = _str(rng, depth)
    return f"(({base}))" if rng.random() < 0.3 else base


def _rt_exprs_for_seed(seed: int, n: int = 12) -> list[str]:
    rng = random.Random(seed * 7919)
    out = []
    for k in range(n):
        if k % 3 == 0:
            out.append(f"({_kw_str(rng, 1)} || {_kw_str(rng, 1)})")
        elif k % 3 == 1:
            out.append(
                f"(CASE WHEN {_bool(rng, 1)} THEN {_kw_str(rng, 1)} "
                f"ELSE {_kw_str(rng, 1)} END)")
        else:
            out.append(f"coalesce(nullif({_kw_str(rng, 1)}, "
                       f"{_kw_str(rng, 1)}), {_kw_str(rng, 0)})")
    return out


@pytest.mark.parametrize("seed", _SEEDS)
def test_front_door_roundtrip_keyword_literals(spark, duck, fuzz_tables,
                                               seed):
    """rewrite() must be a byte-identity on dialect-free text whatever
    the literals and quoted aliases contain (a quoted name only trades
    its double quotes for backticks), and the rewritten SQL must execute
    on Spark with results identical to DuckDB running the ORIGINAL
    text."""
    from drill_calcite_spark.sql import calcite_sql, rewrite

    exprs = _rt_exprs_for_seed(seed)
    names = random.Random(seed).sample(_KEYWORD_LITS, len(exprs) // 3)

    def statement(quote: str) -> str:
        select = ", ".join(
            f"{e} AS {quote}{names[k // 3]}{quote}" if k % 3 == 2
            else f"{e} AS c{k}" for k, e in enumerate(exprs))
        return f"select id, {select} from fuzz_t order by id"

    sql = statement('"')
    assert rewrite(sql, nulls_high=False) == statement("`"), (
        "token rewrites altered dialect-free text (literal corruption?)")
    srows = [tuple(r)
             for r in calcite_sql(spark, sql, nulls_high=False).collect()]
    drows = duck.execute(sql).fetchall()
    assert len(srows) == len(drows) == _N_ROWS
    for sr, dr in zip(srows, drows):
        for k, (x, y) in enumerate(zip(sr, dr)):
            assert _cells_equal(x, y), (
                f"seed {seed} col {k - 1} id {sr[0]}: spark={x!r} "
                f"duck={y!r}\n expr: {exprs[k - 1] if k else 'id'}")


_QUANT_FORMS = [
    # (calcite operator form, DuckDB equivalent builder)
    ("> all", lambda a, b: f"greatest({a}, {b})", ">"),
    ("< all", lambda a, b: f"least({a}, {b})", "<"),
    (">= some", lambda a, b: f"least({a}, {b})", ">="),
    ("< some", lambda a, b: f"greatest({a}, {b})", "<"),
]


@pytest.mark.parametrize("seed", _SEEDS)
def test_front_door_quantified_and_listagg_forms(spark, duck, fuzz_tables,
                                                 seed):
    """Random quantified comparisons against value lists (rewritten by
    _rewrite_quantified) and LISTAGG WITHIN GROUP with random separators
    (rewritten by _rewrite_listagg), each against a hand-spelled DuckDB
    twin."""
    from drill_calcite_spark.sql import calcite_sql

    rng = random.Random(seed * 104729)
    op, duck_reduce, cmp_op = rng.choice(_QUANT_FORMS)
    v1, v2 = (round(rng.uniform(-20, 20), 2) for _ in range(2))
    num = _num(rng, 1)
    csql = (f"select id from fuzz_t where ({num}) {op} ({v1}, {v2}) "
            f"order by id")
    dsql = (f"select id from fuzz_t where ({num}) {cmp_op} "
            f"{duck_reduce(v1, v2)} order by id")
    s = [r[0] for r in calcite_sql(spark, csql, nulls_high=False).collect()]
    d = [r[0] for r in duck.execute(dsql).fetchall()]
    assert s == d, f"quantified form {op!r} diverged (seed {seed})"

    sep = rng.choice(["|", ";", "~~", ","])
    csql = (f"select listagg(t) within group (order by t) as a, "
            f"listagg(s, '{sep}') within group (order by s) as b "
            f"from fuzz_t")
    dsql = (f"select string_agg(t, ',' order by t) as a, "
            f"string_agg(s, '{sep}' order by s) as b from fuzz_t")
    srow = calcite_sql(spark, csql, nulls_high=False).collect()[0]
    drow = duck.execute(dsql).fetchone()
    assert tuple(srow) == tuple(drow), f"listagg diverged (seed {seed})"


@pytest.mark.parametrize("seed", _SEEDS)
def test_front_door_row_in_null_tuples(spark, duck, fuzz_tables, seed):
    """Random row-valued [NOT] IN predicates over tuple lists with NULL
    members (rewritten by _rewrite_row_in_nulllist), optionally with the
    predicate's UNKNOWN-ness observed by IS NULL. The DuckDB twin is the
    HAND-SPELLED elementwise OR-of-AND form — the SQL-standard row
    comparison algebra (any pair FALSE → FALSE, else any pair UNKNOWN →
    UNKNOWN) — evaluated independently; DuckDB's native row-IN is NOT
    used because it returns UNKNOWN where the standard says FALSE
    (pair-FALSE + pair-UNKNOWN)."""
    from drill_calcite_spark.sql import calcite_sql

    rng = random.Random(seed * 15485863)

    def val():
        return "null" if rng.random() < 0.35 else str(rng.randrange(-30, 31))

    tuples = []
    for k in range(rng.randrange(2, 5)):
        a, b = val(), val()
        if k == 0 and a != "null" and b != "null":
            a = "null"  # guarantee the rewrite triggers
        tuples.append((a, b))
    lst = ", ".join(f"({a}, {b})" for a, b in tuples)
    neg = rng.random() < 0.5
    pred = f"(i, j) {'not ' if neg else ''}in ({lst})"
    hand = " or ".join(f"((i = {a}) and (j = {b}))" for a, b in tuples)
    hand = f"(not ({hand}))" if neg else f"({hand})"
    observe = rng.random() < 0.5
    if observe:
        csql = f"select id from fuzz_t where ({pred}) is null order by id"
        dsql = f"select id from fuzz_t where ({hand}) is null order by id"
    else:
        csql = f"select id from fuzz_t where {pred} order by id"
        dsql = f"select id from fuzz_t where {hand} order by id"
    s = [r[0] for r in calcite_sql(spark, csql, nulls_high=False).collect()]
    d = [r[0] for r in duck.execute(dsql).fetchall()]
    assert s == d, (
        f"row-IN expansion diverged (seed {seed}): {pred!r} "
        f"spark={len(s)} duck={len(d)} rows")


def test_half_up_integer_average_identity_fuzz():
    """The half-up average identity used across the TPC-DS shapes —
    ``avg = (2·s + n) div (2·n)`` — must equal ROUND_HALF_UP(s/n)
    computed in exact rational arithmetic, for any non-negative sum and
    positive count (including exact .5 boundaries, where float AVG is
    engine quicksand)."""
    from fractions import Fraction

    cases = [(s, n) for s in range(0, 2000, 7) for n in (1, 2, 3, 8, 10)]
    cases += [(10**17 + k, 3) for k in range(9)]  # far beyond float53
    cases += [(5, 2), (15, 2), (25, 2), (1, 3), (2, 3)]  # .5 and thirds
    for s, n in cases:
        got = (2 * s + n) // (2 * n)
        q = Fraction(s, n)
        frac = q - int(q)
        exp = int(q) + (1 if frac >= Fraction(1, 2) else 0)
        assert got == exp, (s, n, got, exp)
