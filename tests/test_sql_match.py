"""MATCH_RECOGNIZE SQL front door (drill_calcite_spark/sql_match.py).

The registry row sql_match_recognize pins the ALL-ROWS TICKER form
against the gaps-and-islands oracle; these tests pin the translator
itself: SQL-text path ≡ hand-built operator call, ONE-ROW mode, the
measure/define compilation surface, and the loud-fail contract.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

from drill_calcite_spark.catalog import register_tables
from drill_calcite_spark.sql import calcite_sql
from drill_calcite_spark.sql_match import (
    MatchRecognizeUnsupported, _measure_body, _sql_ops_to_pandas,
)


def test_sql_text_equals_operator_call(spark):
    from drill_calcite_spark.queries.custom import (
        _MR_SQL_TEXT, match_vshape_all_rows)

    register_tables(spark, SF_DIR)
    via_sql = calcite_sql(spark, _MR_SQL_TEXT)
    direct = match_vshape_all_rows(spark, SF_DIR)
    cols = ["user_id", "event_id", "value", "classifier",
            "match_no", "bottom", "vv_n"]
    a = sorted(map(tuple, via_sql.select(cols).collect()))
    b = sorted(map(tuple, direct.select(cols).collect()))
    assert a == b and len(a) > 0


_XY_DEFINE = "DEFINE DOWN AS DOWN.value < PREV(DOWN.value),"


@pytest.mark.parametrize("lit", ["'x,y'", "'a within b'", "')'"])
def test_define_literal_is_opaque_to_clause_scans(spark, lit):
    """A DEFINE literal holding a comma, a clause keyword or a paren
    stays one literal. No event_type equals any of these literals, so
    each variant returns the rows of the plain 'xy' variant."""
    from drill_calcite_spark.queries.custom import _MR_SQL_TEXT

    register_tables(spark, SF_DIR)

    def rows(literal):
        text = _MR_SQL_TEXT.replace(_XY_DEFINE, _XY_DEFINE.replace(
            ",", f" AND DOWN.event_type <> {literal},"))
        return sorted(map(tuple, calcite_sql(spark, text).collect()))

    want = rows("'xy'")
    assert len(want) > 0 and rows(lit) == want


def test_match_recognize_inside_a_literal_is_text(spark):
    df = calcite_sql(spark, "select 'see match_recognize(x)' as s")
    assert [r.s for r in df.collect()] == ["see match_recognize(x)"]


def test_one_row_per_match_with_aggregates(spark):
    register_tables(spark, SF_DIR)
    df = calcite_sql(spark, """
        SELECT user_id, start_id, bottom, n_down, total_up
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(DOWN.event_id) AS start_id,
                   LAST(DOWN.value)     AS bottom,
                   COUNT(DOWN.value)    AS n_down,
                   SUM(UP.value)        AS total_up
          ONE ROW PER MATCH
          PATTERN (DOWN+ UP+)
          DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
                 UP   AS UP.value > PREV(UP.value)
        )
        WHERE n_down >= 2
        ORDER BY user_id, start_id
    """)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["user_id", "start_id", "bottom",
                          "n_down", "total_up"]
    assert all(r.n_down >= 2 for r in rows)
    # cross-check one partition against the direct operator
    from drill_calcite_spark.operators.match_recognize import (
        match_recognize)
    from drill_calcite_spark.queries.common import t

    direct = match_recognize(
        t(spark, SF_DIR, "events").select(
            "user_id", "event_id", "ts", "value"),
        ["user_id"], ["ts", "event_id"], "DOWN+ UP+",
        define={
            "DOWN": lambda p: p["value"] < p["value"].shift(1),
            "UP": lambda p: p["value"] > p["value"].shift(1),
        },
        measures={
            "user_id": lambda p, m: p["user_id"].iloc[0],
            "start_id": lambda p, m: p["event_id"].iloc[m["DOWN"][0]],
            "n_down": lambda p, m: len(m["DOWN"]),
        },
        output_schema="user_id long, start_id long, n_down long",
    ).filter("n_down >= 2")
    a = sorted((r.user_id, r.start_id, r.n_down) for r in rows)
    b = sorted(map(tuple, direct.collect()))
    assert a == b


def test_within_clause_restricts_matches(spark):
    register_tables(spark, SF_DIR)
    base = """
        SELECT user_id, start_id
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(DOWN.event_id) AS start_id
          ONE ROW PER MATCH
          PATTERN (DOWN+ UP+)
          {within}
          DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
                 UP   AS UP.value > PREV(UP.value)
        )
    """
    unbounded = calcite_sql(spark, base.format(within="")).count()
    tight = calcite_sql(spark, base.format(
        within="WITHIN INTERVAL '1' MINUTE")).count()
    assert 0 <= tight < unbounded


def test_unsupported_forms_fail_loudly(spark):
    register_tables(spark, SF_DIR)
    with pytest.raises(MatchRecognizeUnsupported):  # MATCH_NUMBER, one-row
        calcite_sql(spark, """
            SELECT user_id FROM events MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              MEASURES MATCH_NUMBER() AS mn
              ONE ROW PER MATCH
              PATTERN (D+) DEFINE D AS D.value < PREV(D.value))
        """)
    with pytest.raises(MatchRecognizeUnsupported):  # DESC ordering
        calcite_sql(spark, """
            SELECT user_id FROM events MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts DESC
              MEASURES FIRST(D.event_id) AS s
              PATTERN (D+) DEFINE D AS D.value < PREV(D.value))
        """)
    with pytest.raises(MatchRecognizeUnsupported):  # unknown column
        calcite_sql(spark, """
            SELECT user_id FROM events MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts
              MEASURES FIRST(D.nope) AS s
              PATTERN (D+) DEFINE D AS D.value < PREV(D.value))
        """)


def test_define_compiler_rejects_non_grammar_code():
    """The DEFINE compiler only accepts the translator's own grammar
    (column refs, shift navigation, comparisons, arithmetic, boolean
    algebra, literals). Arbitrary Python reaching the compiler — e.g.
    `__import__('os')` smuggled through a DEFINE condition from an
    untrusted .iq corpus — must be rejected BEFORE compilation, not
    executed (ADVICE r9, high)."""
    from drill_calcite_spark.sql_match import _compile_define

    cols = {"value", "price"}
    for hostile in (
        "__import__('os').getpid() > 0",
        "A.value > (lambda: 1)()",
        "[x for x in (1,)][0] = 1",
        "A.value > p.__class__",
        "open('/etc/passwd') and A.value > 1",
    ):
        with pytest.raises(MatchRecognizeUnsupported):
            _compile_define(hostile, cols)

    # ...while the documented grammar still compiles and vectorizes
    import pandas as pd

    fn = _compile_define("A.value > PREV(A.value) AND A.price >= 1.5",
                         cols)
    p = pd.DataFrame({"value": [1.0, 2.0, 0.5], "price": [2.0, 3.0, 0.1]})
    assert list(fn(p).fillna(False)) == [False, True, False]

    # non-integer literals are literals, not symbol references
    # (the old `\w+ . \w+` symref matched the halves of `1.5`)
    fn2 = _compile_define("A.value > 1.5", cols)
    assert list(fn2(p)) == [False, True, False]

    # negative shifts (NEXT) and NOT still pass the whitelist
    fn3 = _compile_define("NOT NEXT(A.value, 2) = 0.5", cols)
    assert list(fn3(p).fillna(True)) == [False, True, True]


def test_bool_and_measure_compilation():
    # NOT lands on the comparison as an operator FLIP, not pandas ~ —
    # 3VL: NOT (c = 3) ≡ c <> 3 (both UNKNOWN on null), whereas ~ would
    # turn a null comparison's False into True (r10)
    assert _sql_ops_to_pandas("a > 1 AND b < 2 OR NOT c = 3") == \
        "((a > 1) & (b < 2)) | (c != 3)"
    assert _sql_ops_to_pandas("(NOT (a <= 4)) AND b < 2") == \
        "(((a > 4))) & (b < 2)"
    assert _sql_ops_to_pandas("NOT (a <= 4 OR NOT b < 2)") == \
        "((a > 4) & (b < 2))"
    body, dt = _measure_body("SUM(UP.value)", {"value": "double"})
    # the None-guard makes RUNNING aggregates NULL before the symbol's
    # first row (SQL empty-set semantics), a no-op under FINAL
    assert body == ('None if not m["UP"] else '
                    'p["value"].iloc[m["UP"]].sum()') and dt == "double"
    body, dt = _measure_body("COUNT(*)", {"value": "double"})
    assert body == 'len(m["*"])' and dt == "long"
    body, dt = _measure_body("STRT.price", {"price": "double"})
    assert body == 'p["price"].iloc[m["STRT"][-1]]'


def test_ticker_skip_to_last_up_as_verbatim_sql_text(spark):
    """The reference's canonical TICKER query (match.iq:164-180), which
    Calcite itself DISABLES, executed as VERBATIM SQL TEXT through the
    front door — including the table alias MR, the outer ORDER BY over
    MR.*, SKIP TO LAST UP, and the STRT/LAST measures. Expected rows are
    the hand-derived SQL:2016 results test_operators.py pins on the
    Python surface; match 2 starting on match 1's final rise
    (2017-12-10) is the overlap only SKIP TO LAST UP produces.
    Exceeds-reference, now at the SQL parse path too."""
    from drill_calcite_spark.sources.test_schemas import register_post

    register_post(spark)
    df = calcite_sql(spark, """
        SELECT *
        FROM ticker
           MATCH_RECOGNIZE (
             PARTITION BY symbol
             ORDER BY tstamp
             MEASURES  STRT.tstamp AS start_tstamp,
                       LAST(DOWN.tstamp) AS bottom_tstamp,
                       LAST(UP.tstamp) AS end_tstamp
             ONE ROW PER MATCH
             AFTER MATCH SKIP TO LAST UP
             PATTERN (STRT DOWN+ UP+)
             DEFINE
                DOWN AS DOWN.price < PREV(DOWN.price),
                UP AS UP.price > PREV(UP.price)
             ) MR
             ORDER BY MR.symbol, MR.start_tstamp
    """)
    rows = [(r.symbol, str(r.start_tstamp), str(r.bottom_tstamp),
             str(r.end_tstamp)) for r in df.collect()]
    assert rows == [
        ("ACME", "2017-12-05", "2017-12-06", "2017-12-10"),
        ("ACME", "2017-12-10", "2017-12-12", "2017-12-13"),
        ("ACME", "2017-12-14", "2017-12-16", "2017-12-18"),
    ]


def test_define_string_literals_shielded():
    """Dots and comparison operators INSIDE a DEFINE string literal
    must not be read as symbol refs or SQL operators."""
    import pandas as pd

    from drill_calcite_spark.sql_match import _compile_define

    fn = _compile_define("A.job = 'x.y and z=1'", {"job"})
    p = pd.DataFrame({"job": ["x.y and z=1", "other"]})
    assert list(fn(p)) == [True, False]

    # SQL '' escape restores to a single quote
    fn2 = _compile_define("A.job <> 'it''s'", {"job"})
    p2 = pd.DataFrame({"job": ["it's", "x"]})
    assert list(fn2(p2)) == [False, True]


def test_packing_query_running_aggregate_define_as_verbatim_sql_text(spark):
    """The SECOND query the reference disables (match.iq:57-82) —
    Oracle's canonical name-packing query with a RUNNING AGGREGATE in
    DEFINE — executed as verbatim SQL text (modulo the quidem runner's
    '"scott".' -> scott_ catalog rewrite). The DEFINE compiler routes
    the aggregate-bearing condition to the no-eval stateful parser;
    expected rows are the disabled block's own Oracle expected table."""
    from drill_calcite_spark.sources.test_schemas import register_scott

    register_scott(spark)
    sql = """SELECT * FROM scott_emp MATCH_RECOGNIZE(
  PARTITION BY deptno ORDER BY empno
  MEASURES
    match_number() AS mno,
    classifier() as pattern_vrb
  ALL ROWS PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (S B+)
  DEFINE B AS CHAR_LENGTH(S.ename) + SUM(CHAR_LENGTH(b.ename || ';')) \
+ CHAR_LENGTH(';') <= 15)"""
    from drill_calcite_spark.sql_match import translate_match_recognize

    df = translate_match_recognize(spark, sql)
    rows = sorted((r.deptno, r.empno, r.mno, r.pattern_vrb, r.ename)
                  for r in df.collect())
    assert rows == [
        (10, 7782, 1, "S", "CLARK"), (10, 7839, 1, "B", "KING"),
        (20, 7369, 1, "S", "SMITH"), (20, 7566, 1, "B", "JONES"),
        (20, 7788, 2, "S", "SCOTT"), (20, 7876, 2, "B", "ADAMS"),
        (30, 7499, 1, "S", "ALLEN"), (30, 7521, 1, "B", "WARD"),
        (30, 7654, 2, "S", "MARTIN"), (30, 7698, 2, "B", "BLAKE"),
        (30, 7844, 3, "S", "TURNER"), (30, 7900, 3, "B", "JAMES"),
    ]


def test_stateful_define_rejects_arbitrary_code(spark):
    """The stateful DEFINE path must hold the same security bar as the
    vectorized one: no identifier outside the grammar compiles, so
    corpus-driven SQL cannot reach eval (there IS no eval on this
    path)."""
    import pytest

    from drill_calcite_spark.sql_match import (
        MatchRecognizeUnsupported, _compile_stateful_define,
    )

    for hostile in [
        "SUM(__import__('os').system('x')) > 0",
        "SUM(b.v) > 0 OR open('/etc/passwd')",
        "count(exec.x) > foo(1)",
    ]:
        with pytest.raises(MatchRecognizeUnsupported):
            _compile_stateful_define(hostile, {"v"})


def test_running_measures_all_rows(spark):
    """SQL:2016 RUNNING measures in ALL ROWS mode: the RUNNING prefix
    selects the cumulative per-row view (cumulative SUM over a SUBSET,
    running LAST that is NULL before the symbol's first row), checked
    against hand-derived goldens on the TICKER fixture; the unprefixed
    FINAL twin repeats the per-match value on every row."""
    from drill_calcite_spark.sources.test_schemas import register_post
    from drill_calcite_spark.sql_match import translate_match_recognize

    register_post(spark)
    sql = """SELECT symbol, tstamp, price, rsum, rlast, flast, match_no
    FROM ticker MATCH_RECOGNIZE(
      PARTITION BY symbol ORDER BY tstamp
      MEASURES MATCH_NUMBER() AS match_no,
               RUNNING SUM(U.price) AS rsum,
               RUNNING LAST(DOWN.tstamp) AS rlast,
               FINAL LAST(DOWN.tstamp) AS flast
      ALL ROWS PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (STRT DOWN+ UP+)
      SUBSET U = (DOWN, UP)
      DEFINE DOWN AS DOWN.price < PREV(DOWN.price),
             UP AS UP.price > PREV(UP.price))"""
    rows = sorted(
        ((r.symbol, str(r.tstamp), r.price, r.rsum,
          str(r.rlast), str(r.flast), r.match_no)
         for r in translate_match_recognize(spark, sql).collect()))
    # match 1: STRT 12-05(25), DOWN 12-06(12), UP 12-07..12-10
    assert rows[:6] == [
        ("ACME", "2017-12-05", 25, None, "None", "2017-12-06", 1),
        ("ACME", "2017-12-06", 12, 12, "2017-12-06", "2017-12-06", 1),
        ("ACME", "2017-12-07", 15, 27, "2017-12-06", "2017-12-06", 1),
        ("ACME", "2017-12-08", 20, 47, "2017-12-06", "2017-12-06", 1),
        ("ACME", "2017-12-09", 24, 71, "2017-12-06", "2017-12-06", 1),
        ("ACME", "2017-12-10", 25, 96, "2017-12-06", "2017-12-06", 1),
    ]
    # RUNNING LAST is NULL on every match's STRT row (prefix empty)
    strt_rows = [r for r in rows if r[3] is None]
    assert all(r[4] == "None" for r in strt_rows)


def test_literal_measures_first_disabled_block_shape(spark):
    """Literal MEASURES (``MEASURES 1 AS m1, 2.5 AS m2, 'x' AS m3``) —
    the shape of the reference's FIRST disabled match.iq block
    (:44-52, which carries no expected table). The block's own
    hiredate-only ordering has a 1981-12-03 tie (JAMES/FORD), so this
    golden pins a deterministic (hiredate, empno) ordering: each
    (s up) match is one strict deptno drop between adjacent rows — 7
    matches on the Scott fixture."""
    from drill_calcite_spark.sources.test_schemas import register_scott
    from drill_calcite_spark.sql_match import translate_match_recognize

    register_scott(spark)
    sql = """SELECT * FROM scott_emp MATCH_RECOGNIZE(
      ORDER BY hiredate, empno
      MEASURES 1 AS m1, 2.5 AS m2, 'x' AS m3
      PATTERN (s up)
      DEFINE up AS up.deptno < prev(up.deptno))"""
    rows = translate_match_recognize(spark, sql).collect()
    assert all((r.m1, r.m2, r.m3) == (1, 2.5, "x") for r in rows)
    assert len(rows) == 7
