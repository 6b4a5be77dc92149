"""Unit tests for the Calcite-dialect SQL rewrites
(drill_calcite_spark/sql.py). End-to-end conformance evidence for the
same surface is tests/test_quidem.py (618 reference quidem cases)."""

from __future__ import annotations

import pytest

from drill_calcite_spark.sql import rewrite


def test_nulls_high_asc_desc():
    assert rewrite("select * from t order by a, b desc") == (
        "select * from t order by a NULLS LAST, b desc NULLS FIRST")


def test_nulls_high_respects_explicit():
    sql = "select * from t order by a nulls first"
    assert rewrite(sql) == sql


def test_nulls_high_window_and_within_group():
    out = rewrite("select rank() over (partition by g order by x desc), "
                  "listagg(s) within group (order by k) from t")
    assert "order by x desc NULLS FIRST" in out
    assert "order by k NULLS LAST" in out


def test_nulls_high_stops_at_frame_and_limit():
    out = rewrite("select sum(x) over (order by y rows between 1 preceding "
                  "and current row) from t order by z limit 2")
    assert "order by y NULLS LAST rows between" in out
    assert "order by z NULLS LAST limit 2" in out


def test_nulls_high_subquery_and_ordinals():
    out = rewrite("select * from (select * from t order by a) order by 1, 2")
    assert out.count("NULLS LAST") == 3


def test_listagg_default_separator_one_arg_only():
    assert rewrite("select listagg(x) from t", nulls_high=False) == (
        "select listagg(x, ',') from t")
    sql = "select listagg(x, '; ') from t"
    assert rewrite(sql, nulls_high=False) == sql


def test_listagg_nested_parens():
    out = rewrite("select listagg(upper(trim(x))) from t", nulls_high=False)
    assert out == "select listagg(upper(trim(x)), ',') from t"


def test_floor_to_unit():
    out = rewrite("select floor(ts to hour) from t group by floor(ts to hour)",
                  nulls_high=False)
    assert out == ("select date_trunc('HOUR', ts) from t "
                   "group by date_trunc('HOUR', ts)")


def test_ceil_to_unit_rewrites():
    """CEIL(x TO unit) → aligned guard + one interval step (round-8
    implementation of the reference's SqlStdOperatorTable.java:1773-1778
    ceiling; previously rejected outright)."""
    out = rewrite("select ceil(ts to hour) from t")
    assert out == ("select (case when date_trunc('HOUR', ts) = ts "
                   "then date_trunc('HOUR', ts) "
                   "else date_trunc('HOUR', ts) + INTERVAL 1 HOUR end) "
                   "from t")
    # QUARTER steps 3 months; CEILING is an alias
    out = rewrite("select ceiling(ts to quarter) from t")
    assert "INTERVAL 3 MONTH" in out and "date_trunc('QUARTER', ts)" in out


def test_string_literals_untouched_identifiers_backticked():
    out = rewrite("select 'order by x' as s, \"order\" from t")
    assert out == "select 'order by x' as s, `order` from t"


def test_schema_views_mapping_explicit_alias():
    out = rewrite('select * from "scott".emp e join "scott".dept d '
                  "on e.deptno = d.deptno", schema_views={"scott": "scott_"},
                  nulls_high=False)
    assert out == ("select * from scott_emp e join scott_dept d "
                   "on e.deptno = d.deptno")


def test_schema_views_mapping_implicit_alias():
    """Calcite gives '"scott".emp' the implicit alias 'emp'; the rewrite
    must preserve it so emp.col references still resolve."""
    out = rewrite('select emp.job from "scott".emp where emp.sal > 1000',
                  schema_views={"scott": "scott_"}, nulls_high=False)
    assert out == ("select emp.job from scott_emp AS emp "
                   "where emp.sal > 1000")


def test_quantified_eq_any_to_in():
    out = rewrite("select * from t where x = any (select y from u)",
                  nulls_high=False)
    assert "IN (select y from u)" in out


def test_quantified_neq_all_to_not_in():
    out = rewrite("select * from t where x <> all (select y from u)",
                  nulls_high=False)
    assert "NOT IN (select y from u)" in out


def test_quantified_gt_any_expansion():
    out = rewrite("select * from t where x > any (select y from u)",
                  nulls_high=False)
    assert "min(__c)" in out and "count(__c)" in out
    assert "CASE WHEN" in out and "THEN FALSE" in out


def test_quantified_lt_all_expansion():
    out = rewrite("select * from t where x < all (select y from u)",
                  nulls_high=False)
    assert "min(__c)" in out and "THEN TRUE" in out


def test_collect_and_fusion_renames():
    out = rewrite("select collect(distinct d) as a, fusion(arr) as b from t",
                  nulls_high=False)
    assert out == ("select collect_list(distinct d) as a, "
                   "flatten(collect_list(arr)) as b from t")


def test_group_by_unit_removed():
    out = rewrite("select count(1) from t where false group by ()",
                  nulls_high=False)
    assert "group by" not in out.lower()


def test_niladic_pi():
    out = rewrite("values (degrees(pi), degrees(-pi / 2))", nulls_high=False)
    assert out == "values (degrees(pi()), degrees(-pi() / 2))"


def test_niladic_pi_alias_suppresses_statement_wide():
    """`as pi` anywhere makes every bare `pi` a column reference — the
    alias itself, ORDER BY pi, and outer selects over the aliased
    sub-query (ADVICE r7: the old guard only covered the token right
    after 'as')."""
    out = rewrite("select atan2(2,2) * 4 as pi from t order by pi",
                  nulls_high=False)
    assert out == "select atan2(2,2) * 4 as pi from t order by pi"
    out = rewrite("select pi from (select 3.14 as pi from t)",
                  nulls_high=False)
    assert "pi()" not in out


def test_quantified_value_list():
    out = rewrite("select * from t where sal > all (4000, 2000)",
                  nulls_high=False)
    assert "VALUES (4000), (2000)" in out and "max(__c)" in out


def test_array_and_multiset_literals():
    assert rewrite("select array[1,null,2] as a from t",
                   nulls_high=False) == \
        "select array(1,null,2) as a from t"
    assert rewrite("select multiset[1, array[2, 3]] as m from t",
                   nulls_high=False) == \
        "select array(1, array(2, 3)) as m from t"


def test_row_constructor():
    out = rewrite("select ROW(1, 2) as r, row_number() over (order by x) "
                  "from t", nulls_high=False)
    assert out.startswith("select struct(1, 2) as r, row_number() over")


def test_multiarg_count():
    out = rewrite("select count(deptno, ename, 1, deptno) as c from emp",
                  nulls_high=False)
    assert out == ("select count(CASE WHEN (deptno) IS NOT NULL AND "
                   "(ename) IS NOT NULL AND (1) IS NOT NULL AND "
                   "(deptno) IS NOT NULL THEN 1 END) as c from emp")
    # single-arg and DISTINCT forms untouched
    for sql in ("select count(x) from t", "select count(*) from t",
                "select count(distinct a, b) from t"):
        assert rewrite(sql, nulls_high=False) == sql


def test_multiset_binary_ops():
    from drill_calcite_spark.sql import rewrite as rw

    out = rw("values multiset ['a','c','a'] multiset except multiset ['a']",
             nulls_high=False)
    assert out.startswith("select flatten(transform(array_distinct(")
    assert "greatest(" in out
    out2 = rw("select a multiset union distinct b from t", nulls_high=False)
    assert "array_distinct(concat(a, b))" in out2
    out3 = rw("select a multiset intersect distinct b from t",
              nulls_high=False)
    assert "array_intersect(a, b)" in out3


def test_table_operator():
    out = rewrite('select * from (table "scott".emp) where deptno = 10',
                  schema_views={"scott": "scott_"}, nulls_high=False)
    assert out == ("select * from (select * from scott_emp AS emp) "
                   "where deptno = 10")


def test_json_object_literal_keys_hashmap_order():
    """JSON_OBJECT emits keys in Java-HashMap iteration order (Calcite
    renders from a HashMap), computed at rewrite time for literal keys:
    bucket('employees')=12 < bucket('deptno')=14, so 'employees' renders
    first even though 'deptno' is written first (agg.iq:2608)."""
    from drill_calcite_spark.sql import _java_hash_bucket

    assert _java_hash_bucket("ename") == 2
    assert _java_hash_bucket("deptno") == 14
    assert _java_hash_bucket("employees") == 12
    out = rewrite("select json_object('deptno': d, 'employees': e) from t",
                  nulls_high=False)
    assert out.index("employees") < out.index("deptno")
    assert "json_object" not in out


def test_json_objectagg_rewrites_to_stable_bucket_sort():
    out = rewrite("select json_objectagg(k: v absent on null) from t",
                  nulls_high=False)
    assert "collect_list" in out and "array_sort" in out
    assert "(v) IS NOT NULL" in out          # absent on null filter
    out2 = rewrite("select json_objectagg(k: v) from t", nulls_high=False)
    assert "(v) IS NOT NULL" not in out2     # null on null keeps nulls


def test_json_arrayagg_order_and_null_clauses():
    out = rewrite("select json_arrayagg(d order by d desc) from t",
                  nulls_high=False)
    assert "array_sort" in out and "THEN 1" in out
    out2 = rewrite("select json_arrayagg(d null on null) from t",
                   nulls_high=False)
    assert "IS NOT NULL" not in out2


def test_tumble_rewrites_to_epoch_micros_buckets():
    out = rewrite(
        "select tumble_start(ts, interval '2' hour) as ws, count(*) "
        "from events group by tumble(ts, interval '2' hour)",
        nulls_high=False)
    assert "tumble" not in out.lower()
    assert out.count(
        "timestamp_micros(unix_micros(ts) - pmod(unix_micros(ts), "
        "7200000000))") == 2  # select key == group key, tree-identical
    # unquoted interval form too (Spark spelling)
    out2 = rewrite("select tumble(ts, interval 90 second) from t group by 1",
                   nulls_high=False)
    assert "pmod(unix_micros(ts), 90000000)" in out2


def test_tumble_end_wraps_start_expression():
    out = rewrite("select tumble_end(ts, interval '1' day) from t group by 1",
                  nulls_high=False)
    # end = start shifted a window INSIDE a fresh timestamp_micros, so
    # the start subtree stays intact for grouping-tree matching
    assert ("timestamp_micros(unix_micros(timestamp_micros("
            "unix_micros(ts) - pmod(unix_micros(ts), 86400000000))) "
            "+ 86400000000)") in out


def test_tumble_rejects_unsupported_forms():
    from drill_calcite_spark.sql import TumbleUnsupported

    with pytest.raises(TumbleUnsupported):  # variable-width unit
        rewrite("select tumble(ts, interval '1' month) from t group by 1",
                nulls_high=False)
    with pytest.raises(TumbleUnsupported):  # 3-arg offset form
        rewrite("select tumble(ts, interval '1' hour, time '00:30:00') "
                "from t group by 1", nulls_high=False)
    with pytest.raises(TumbleUnsupported):  # non-constant interval
        rewrite("select tumble(ts, iv) from t group by 1",
                nulls_high=False)


def test_tumble_literal_shielding_does_not_leak():
    # a string literal containing 'tumble(' must survive verbatim
    out = rewrite("select 'call tumble(x) here' as s from t",
                  nulls_high=False)
    assert out == "select 'call tumble(x) here' as s from t"


def test_hop_rewrites_to_sliding_window():
    out = rewrite(
        "select hop_start(ts, interval '1' hour, interval '3' hour) as ws, "
        "hop_end(ts, interval '1' hour, interval '3' hour) as we, count(*) "
        "from events "
        "group by hop(ts, interval '1' hour, interval '3' hour)",
        nulls_high=False)
    assert "hop" not in out.lower()
    assert ("window(ts, '10800000000 microseconds', "
            "'3600000000 microseconds')") in out
    assert "window.start" in out and "window.end" in out


def test_hop_rejects_bad_forms():
    from drill_calcite_spark.sql import TumbleUnsupported

    with pytest.raises(TumbleUnsupported):  # slide > size
        rewrite("select hop(ts, interval '2' hour, interval '1' hour) "
                "from t group by 1", nulls_high=False)
    with pytest.raises(TumbleUnsupported):  # 4-arg offset form
        rewrite("select hop(ts, interval '1' hour, interval '2' hour, "
                "time '00:30:00') from t group by 1", nulls_high=False)
    with pytest.raises(TumbleUnsupported):  # mixed triples cross-wire
        rewrite("select hop_start(ts, interval '1' hour, interval '2' hour) "
                "from t group by hop(ts, interval '1' hour, "
                "interval '3' hour)", nulls_high=False)
    with pytest.raises(TumbleUnsupported):  # variable-width unit
        rewrite("select hop(ts, interval '1' month, interval '2' month) "
                "from t group by 1", nulls_high=False)
    with pytest.raises(TumbleUnsupported):  # `window` name shadow (r9)
        rewrite("select window, hop_start(ts, interval '1' hour, "
                "interval '2' hour) from t group by window, "
                "hop(ts, interval '1' hour, interval '2' hour)",
                nulls_high=False)
    with pytest.raises(TumbleUnsupported):  # the same name, quoted
        rewrite('select "window", hop_start(ts, interval \'1\' hour, '
                'interval \'2\' hour) from t group by "window", '
                'hop(ts, interval \'1\' hour, interval \'2\' hour)',
                nulls_high=False)


def test_session_rejects_name_shadow():
    from drill_calcite_spark.sql import TumbleUnsupported

    with pytest.raises(TumbleUnsupported):  # `session_window` shadow (r9)
        rewrite("select t.session_window, session_start(ts, "
                "interval '30' minute) from t group by t.session_window, "
                "session(ts, interval '30' minute)", nulls_high=False)
    with pytest.raises(TumbleUnsupported):  # the same name, quoted
        rewrite('select t."session_window", session_start(ts, '
                'interval \'30\' minute) from t group by '
                't."session_window", session(ts, interval \'30\' minute)',
                nulls_high=False)


def test_session_rewrites_to_session_window():
    out = rewrite(
        "select session_start(ts, interval '30' minute) as ss, "
        "session_end(ts, interval '30' minute) as se, count(*) "
        "from events group by session(ts, interval '30' minute), user_id",
        nulls_high=False)
    assert "session_window(ts, '1800000000 microseconds')" in out
    assert "session_window.start" in out and "session_window.end" in out
    # the emitted session_window(...) text must not be re-matched as a
    # SESSION( call by the rescan
    assert "session_window(session_window" not in out


def test_session_rejects_bad_forms():
    from drill_calcite_spark.sql import TumbleUnsupported

    with pytest.raises(TumbleUnsupported):  # non-constant gap
        rewrite("select session(ts, g) from t group by 1", nulls_high=False)
    with pytest.raises(TumbleUnsupported):  # mixed gaps
        rewrite("select session_start(ts, interval '1' hour) from t "
                "group by session(ts, interval '2' hour)", nulls_high=False)


def test_hop_session_literal_shielding():
    out = rewrite("select 'hop(x) and session(y)' as s from t",
                  nulls_high=False)
    assert out == "select 'hop(x) and session(y)' as s from t"


def test_distinct_orderby_alias_rewrite_robustness():
    """CALCITE-634 rewrite hardening (ADVICE r9): the statement-level
    ORDER BY is located at paren depth 0 (not inside an OVER clause),
    items are split depth-aware (commas inside calls survive), and the
    alias lookup is word-anchored to the SELECT list."""
    # order by inside OVER must NOT be rewritten (it is not the
    # statement-level sort); the statement-level one still is
    out = rewrite(
        "select distinct rank() over (order by sum(s)) as r, d as x "
        "from t group by d order by sum(s)",
        nulls_high=False)
    assert "over (order by sum(s))" in out
    assert out.rstrip().endswith("order by sum(s)")  # no alias in SELECT

    # commas inside a function call in the ORDER BY list stay intact
    out = rewrite(
        "select distinct coalesce(a, b) as c from t order by "
        "coalesce(a, b), d desc",
        nulls_high=False)
    assert out.endswith("order by c, d desc")

    # the alias search is anchored: ORDER BY r must not bind to the
    # tail of another expression ('...var as x')
    out = rewrite(
        "select distinct powvar as x, r from t order by r",
        nulls_high=False)
    assert out.endswith("order by r")

    # the aliased-aggregate case the rewrite exists for (sort.iq:189)
    out = rewrite(
        "select distinct count(*) as c from t group by d order by count(*)",
        nulls_high=False)
    assert out.endswith("order by c")


def test_projected_in_and_quantified_skip_correlated_subqueries():
    """ADVICE r9: the 3VL projected-IN and quantified rewrites carry an
    uncorrelated-only contract — a subquery referencing an outer alias
    must be left verbatim for Spark, not expanded into standalone
    scalar aggregates."""
    from drill_calcite_spark.sql import _subquery_has_outer_refs

    assert _subquery_has_outer_refs(
        "select o.x from inner_t i where i.k = o.k")
    assert not _subquery_has_outer_refs(
        "select i.x from inner_t i where i.k = 3")
    assert not _subquery_has_outer_refs(
        "select t.x from sch.inner_t t join u on t.k = u.k")
    # derived-table alias counts as defined
    assert not _subquery_has_outer_refs(
        "select d.x from (select 1 as x) d")

    # correlated projected IN: left verbatim (Spark's plan is correct
    # in filter context; here it must at least not be mangled)
    q = ("select e.a, e.a in (select t.a from t where t.k = e.k) as f "
         "from e")
    assert rewrite(q, nulls_high=False).count("__in3c") == 0
    # uncorrelated projected IN still expands
    q2 = "select e.a, e.a in (select t.a from t) as f from e"
    assert rewrite(q2, nulls_high=False).count("__in3c") == 1

    # correlated quantified: no expansion, no error
    q3 = ("select * from e where e.a > all "
          "(select t.a from t where t.k = e.k)")
    assert "min(" not in rewrite(q3, nulls_high=False).lower()


def test_having_and_orderby_grouping_lift():
    """GROUPING()/GROUPING_ID() in HAVING or ORDER BY (agg.iq:651/:683):
    Spark resolves grouping functions only in the aggregate's own
    projection — the front door lifts the condition/sort key into a
    subquery projection and filters/orders outside."""
    out = rewrite(
        "select count(*) as c from emp group by rollup(deptno) "
        "having grouping(deptno) <= grouping_id(deptno, gender)",
        nulls_high=False)
    assert "__hv" in out and out.strip().endswith("where __hv")

    out = rewrite(
        "select count(*) as c from emp group by rollup(deptno) "
        "order by grouping(deptno), c",
        nulls_high=False)
    assert "__ob0" in out and out.rstrip().endswith("order by __ob0, c")

    # unaliased expression select items: fall through verbatim
    q = ("select count(*) + 1 from emp group by rollup(deptno) "
         "having grouping(deptno) = 0")
    assert "__hv" not in rewrite(q, nulls_high=False)

    # HAVING without grouping functions: untouched
    q2 = "select deptno, count(*) as c from emp group by deptno having c > 2"
    assert "__hv" not in rewrite(q2, nulls_high=False)


def test_row_in_nulllist_expansion():
    """Row-valued [NOT] IN over a literal list with a NULL member
    (conditions.iq:262, CALCITE-2726): expanded elementwise to
    OR-of-AND pairwise comparisons — exact 3VL equivalence; every
    other IN shape stays native."""
    out = rewrite("select * from t where (a, b) in ((1, 2), (null, 3))",
                  nulls_high=False)
    assert "in" not in out.lower().replace("into", "")
    assert "((a) = (1)) and ((b) = (2))" in out
    assert "((a) = (null)) and ((b) = (3))" in out

    out = rewrite(
        "select * from t where (a, b) not in ((null, 3))",
        nulls_high=False)
    assert out.count("not (") == 1

    # no NULL member: untouched (Spark's struct-IN is the scale path)
    q = "select * from t where (a, b) in ((1, 2), (3, 4))"
    assert rewrite(q, nulls_high=False) == q
    # scalar IN: untouched
    q2 = "select * from t where a in (1, null)"
    assert rewrite(q2, nulls_high=False) == q2


def test_json_exists_rewrite():
    out = rewrite(
        "values json_exists('{\"foo\":1}', 'strict $.foo' false on error)",
        nulls_high=False)
    assert "get_json_object" in out and "is not null" in out
    assert "strict" not in out and "on error" not in out
    out2 = rewrite("select json_exists(j, 'lax $.a.b') from t",
                   nulls_high=False)
    assert "get_json_object(j, '$.a.b')" in out2


def test_jdbc_escape_syntax():
    out = rewrite("select * from t where c >= {ts '1969-01-01 00:00:00'}",
                  nulls_high=False)
    assert "timestamp '1969-01-01 00:00:00'" in out and "{" not in out
    out = rewrite("select {d '2020-01-02'}, {fn abs(-3)}",
                  nulls_high=False)
    assert "date '2020-01-02'" in out and "abs(-3)" in out
    # braces inside string literals survive (shielded)
    q = "select '{ts not an escape}' as s from t"
    assert rewrite(q, nulls_high=False) == q


def test_row_in_nulllist_skips_function_call_lhs():
    """`f(a, b) IN ((1, 2), (null, 3))` — the paren group before IN is
    a call's ARGUMENT LIST, not a row constructor; must stay native."""
    q = "select * from t where point(a, b) in ((1, 2), (null, 3))"
    assert rewrite(q, nulls_high=False) == q


def test_interval_product_rendering():
    """CALCITE-922 (misc.iq:1372): col * INTERVAL literal renders in
    Calcite's canonical signed form — sign outside and/or inside the
    quotes, single-field / HOUR TO MINUTE / YEAR TO MONTH shapes."""
    out = rewrite("select deptno * interval '2' day as d2 from d",
                  nulls_high=False)
    assert "* 2)" in out and "concat" in out and "interval" not in out
    out = rewrite("select deptno * interval -'3' hour as h3 from d",
                  nulls_high=False)
    assert "* -3)" in out
    out = rewrite("select deptno * interval -'-4' hour as h4 from d",
                  nulls_high=False)
    assert "* 4)" in out
    out = rewrite(
        "select deptno * interval -'4:30' hour to minute as x from d",
        nulls_high=False)
    assert "* -270)" in out and "div 60" in out
    out = rewrite(
        "select deptno * interval -'-1-3' year to month as y from d",
        nulls_high=False)
    assert "* 15)" in out and "div 12" in out
    # a plain interval literal (no product) is untouched
    q = "select interval '2' day from d"
    assert rewrite(q, nulls_high=False) == q


def test_date_range_rewrite_extract_year():
    """DateRangeRules port (r13): every comparison direction of
    EXTRACT(YEAR ...) / year() becomes a sargable half-open range;
    non-rewritable forms survive verbatim."""
    out = rewrite("select * from o where extract(year from d) = 1996")
    assert out == ("select * from o where (d >= date '1996-01-01' "
                   "and d < date '1997-01-01')")
    assert rewrite("select * from o where extract(year from d) > 1996") \
        .endswith("d >= date '1997-01-01'")
    assert rewrite("select * from o where extract(year from d) <= 1996") \
        .endswith("d < date '1997-01-01'")
    assert rewrite("select * from o where year(d) < 1996") \
        .endswith("d < date '1996-01-01'")
    # literal on the left flips the comparison
    assert rewrite("select * from o where 1996 <= extract(year from d)") \
        .endswith("d >= date '1996-01-01'")
    # projection (no comparison), MONTH, <>, huge years: untouched
    q = "select extract(year from d) as y from o"
    assert rewrite(q) == q
    q = "select * from o where extract(month from d) = 3"
    assert rewrite(q) == q
    # <> becomes the two-range Sarg complement (r13 late): parquet
    # pushes Or(LessThan, GreaterThanOrEqual)
    out = rewrite("select * from o where extract(year from d) <> 1996")
    assert out.endswith(
        "(d < date '1996-01-01' or d >= date '1997-01-01')")
    out = rewrite("select * from t where ceil(ts to month) != "
                  "timestamp '1996-03-01 00:00:00'")
    assert out.endswith("(ts <= timestamp '1996-02-01 00:00:00' "
                        "or ts > timestamp '1996-03-01 00:00:00')")
    q = "select * from o where a <> b"
    assert rewrite(q) == q
    q = "select * from o where extract(year from d) = 9999"
    assert rewrite(q) == q
    # inside a string literal: untouched
    q = "select * from o where s = 'extract(year from d) = 1996'"
    assert rewrite(q) == q


def test_date_range_rewrite_floor_aligned():
    """FLOOR(ts TO unit) vs an ALIGNED literal becomes a range; an
    unaligned literal falls back to the date_trunc rewrite."""
    out = rewrite("select * from t where floor(ts to month) = "
                  "timestamp '1996-03-01 00:00:00'")
    assert out == ("select * from t where (ts >= timestamp "
                   "'1996-03-01 00:00:00' and ts < timestamp "
                   "'1996-04-01 00:00:00')")
    out = rewrite(
        "select * from t where floor(ts to day) > date '1996-02-28'")
    assert out.endswith("ts >= date '1996-02-29'")  # 1996 is a leap year
    out = rewrite(
        "select * from t where date '1996-03-02' <= floor(ts to day)")
    assert out.endswith("ts >= date '1996-03-02'")
    out = rewrite("select * from t where floor(ts to quarter) >= "
                  "timestamp '1996-10-01 00:00:00'")
    assert out.endswith("ts >= timestamp '1996-10-01 00:00:00'")
    # unaligned → conservative date_trunc comparison, not a range
    out = rewrite("select * from t where floor(ts to month) = "
                  "timestamp '1996-03-02 00:00:00'")
    assert "date_trunc('MONTH', ts)" in out and ">=" not in out
    # a FLOOR with no comparison still date_truncs
    out = rewrite("select floor(ts to day) as d from t group by "
                  "floor(ts to day)")
    assert out.count("date_trunc('DAY', ts)") == 2


def test_date_range_rewrite_year_month_conjunction():
    """Adjacent YEAR = y AND MONTH = m on the same column folds to ONE
    month-wide range (both orders, December wraps the year); different
    columns or invalid months keep the residual month predicate on top
    of the year range."""
    out = rewrite("select * from o where extract(year from d) = 1996 "
                  "and extract(month from d) = 12")
    assert out.endswith("(d >= date '1996-12-01' and d < date '1997-01-01')")
    out = rewrite("select * from o where extract(month from d) = 3 "
                  "and extract(year from d) = 1996")
    assert out.endswith("(d >= date '1996-03-01' and d < date '1996-04-01')")
    # different columns: year range + month residual
    out = rewrite("select * from o where extract(year from d) = 1996 "
                  "and extract(month from x) = 3")
    assert "d >= date '1996-01-01'" in out \
        and "extract(month from x) = 3" in out
    # invalid month: year range still lands, month stays residual
    out = rewrite("select * from o where extract(month from d) = 13 "
                  "and extract(year from d) = 1996")
    assert "extract(month from d) = 13" in out \
        and "d >= date '1996-01-01'" in out
    # trailing conjuncts survive
    out = rewrite("select * from o where extract(year from d) = 1996 "
                  "and extract(month from d) = 3 and k = 1")
    assert out.endswith("and k = 1") and "'1996-03-01'" in out


def test_date_range_rewrite_ceil_aligned():
    """CEIL(ts TO unit) vs an ALIGNED literal becomes a half-open range
    from the other side (a value on the boundary is its own ceiling,
    SqlStdOperatorTable.java:1773-1778); unaligned falls back to the
    already-aligned-guard CASE form."""
    out = rewrite("select * from t where ceil(ts to month) = "
                  "timestamp '1996-03-01 00:00:00'")
    assert out.endswith("(ts > timestamp '1996-02-01 00:00:00' "
                        "and ts <= timestamp '1996-03-01 00:00:00')")
    assert rewrite("select * from t where ceil(ts to day) >= "
                   "date '1996-03-02'").endswith("ts > date '1996-03-01'")
    assert rewrite("select * from t where date '1996-03-02' > "
                   "ceiling(ts to day)").endswith("ts <= date '1996-03-01'")
    # January wraps the previous year for the lower bound
    out = rewrite("select * from t where ceil(ts to month) = "
                  "timestamp '1996-01-01 00:00:00'")
    assert "'1995-12-01 00:00:00'" in out
    # unaligned / projection / numeric ceil: untouched by the range pass
    out = rewrite("select * from t where ceil(ts to month) = "
                  "timestamp '1996-03-02 00:00:00'")
    assert "case when" in out
    q = "select * from t where ceil(x) = 5"
    assert rewrite(q) == q


def test_date_range_rewrite_semantics_on_data(spark):
    """The sargable ranges must return EXACTLY the rows the original
    date-part predicates return, on real data, for every rewritten
    comparison shape (the rewrite is a semantics-preserving rule, not
    just a plan improvement)."""
    from drill_calcite_spark.catalog import register_tables
    from drill_calcite_spark.sql import calcite_sql
    from tests.conftest import SMALL_SF_DIR

    register_tables(spark, SMALL_SF_DIR)
    pairs = [
        ("extract(year from o_orderdate) = 1996",
         "year(o_orderdate) = 1996"),
        ("extract(year from o_orderdate) <= 1996",
         "year(o_orderdate) <= 1996"),
        ("1997 < extract(year from o_orderdate)",
         "year(o_orderdate) > 1997"),
        ("extract(year from o_orderdate) = 1996 "
         "and extract(month from o_orderdate) = 12",
         "year(o_orderdate) = 1996 and month(o_orderdate) = 12"),
        ("floor(o_orderdate to month) = timestamp '1996-03-01 00:00:00'",
         "date_trunc('MONTH', o_orderdate) = "
         "timestamp '1996-03-01 00:00:00'"),
        ("ceil(o_orderdate to month) = timestamp '1996-03-01 00:00:00'",
         "(o_orderdate > timestamp '1996-02-01' and "
         "o_orderdate <= timestamp '1996-03-01')"),
        ("extract(year from o_orderdate) between 1996 and 1997",
         "year(o_orderdate) between 1996 and 1997"),
        ("extract(year from o_orderdate) in (1995, 1997)",
         "year(o_orderdate) in (1995, 1997)"),
    ]
    for calcite_pred, spark_pred in pairs:
        got = calcite_sql(
            spark, f"select count(*) as n from orders "
                   f"where {calcite_pred}").collect()[0].n
        want = spark.sql(
            f"select count(*) as n from orders "
            f"where {spark_pred}").collect()[0].n
        assert got == want and want > 0, (calcite_pred, got, want)


def test_date_range_rewrite_between_and_in():
    """BETWEEN folds to one range; IN-lists coalesce adjacent years and
    become an OR of ranges otherwise (parquet pushes Or(And(...)));
    NOT forms stay verbatim."""
    out = rewrite(
        "select * from o where extract(year from d) between 1996 and 1998")
    assert out.endswith("(d >= date '1996-01-01' and d < date '1999-01-01')")
    out = rewrite("select * from o where year(d) in (1996, 1997, 1998)")
    assert out.endswith("(d >= date '1996-01-01' and d < date '1999-01-01')")
    out = rewrite(
        "select * from o where extract(year from d) in (1995, 1997, 2000)")
    assert out.count(" or ") == 2 and "'1998-01-01'" in out
    q = "select * from o where extract(year from d) not in (1996, 1997)"
    assert rewrite(q) == q
    q = "select * from o where extract(year from d) not between 1996 and 1998"
    assert rewrite(q) == q


def test_date_range_not_bound_conjunction_stays_unfolded():
    """r13 advisory (medium): an unparenthesized NOT before the first
    conjunct binds only that comparison (SQL precedence), so the
    pair/triple fold must bail — each comparison is then rewritten
    SEPARATELY, keeping the NOT's scope. The parenthesized form still
    folds (the NOT negates the whole conjunction either way)."""
    out = rewrite("select * from o where not extract(year from d) = 1995 "
                  "and extract(quarter from d) = 2")
    assert ("not (d >= date '1995-01-01' and d < date '1996-01-01') "
            "and extract(quarter from d) = 2") in out
    out = rewrite("select * from o where not year(d) = 1995 "
                  "and month(d) = 3")
    assert ("not (d >= date '1995-01-01' and d < date '1996-01-01') "
            "and extract(month from d) = 3") in out
    out = rewrite("select * from o where not year(d) = 1995 and "
                  "month(d) = 3 and day(d) = 7")
    assert "not (d >= date '1995-01-01'" in out
    # parenthesized NOT: fold inside the parens is correct and kept
    out = rewrite("select * from o where not (year(d) = 1995 "
                  "and quarter(d) = 2)")
    assert ("not ((d >= date '1995-04-01' and d < date '1995-07-01'))"
            in out)


def test_date_shorthand_projection_name_caveat():
    """r13 advisory (low), documented behavior pinned: a
    comparison-free projection keeps the year()/month() shorthand
    spelling (and so its display name); an UNALIASED boolean
    projection is normalized to extract form — values identical, only
    the auto-generated name shifts (alias to pin a name)."""
    q = "select year(d), month(d) from o"
    assert rewrite(q) == q
    # the comparison normalizes to extract form and then folds to the
    # range — same boolean value row-for-row, different display name
    out = rewrite("select year(d) = 1995 from o")
    assert out == ("select (d >= date '1995-01-01' "
                   "and d < date '1996-01-01') from o")


def test_date_range_pair_inequality_folds():
    """r14: YEAR = y composed with an INEQUALITY month/quarter conjunct
    (any direction, both orders) folds to one sub-year range; <> folds
    to the two-range complement WITHIN the year (the Sarg form the
    substitution's bounded-OR grammar and parquet's Or() pushdown both
    consume); out-of-domain units degenerate to empty/whole-year
    ranges with identical three-valued logic."""
    out = rewrite("select * from o where extract(year from d) = 1995 "
                  "and extract(month from d) > 6")
    assert out.endswith("(d >= date '1995-07-01' and d < date '1996-01-01')")
    out = rewrite("select * from o where month(d) <= 2 and year(d) = 1995")
    assert out.endswith("(d >= date '1995-01-01' and d < date '1995-03-01')")
    out = rewrite("select * from o where year(d) = 1995 "
                  "and quarter(d) >= 3")
    assert out.endswith("(d >= date '1995-07-01' and d < date '1996-01-01')")
    out = rewrite("select * from o where year(d) = 1995 "
                  "and month(d) <> 6")
    assert ("((d >= date '1995-01-01' and d < date '1995-06-01') "
            "or (d >= date '1995-07-01' and d < date '1996-01-01'))") in out
    # out-of-domain month: > 12 degenerates to the empty range
    out = rewrite("select * from o where year(d) = 1995 and month(d) > 12")
    assert out.endswith("(d >= date '1996-01-01' and d < date '1996-01-01')")
    # constant-false equality stays visible (conservative)
    q = "select * from o where extract(month from d) = 13 " \
        "and extract(year from d) = 1995"
    assert "extract(month from d) = 13" in rewrite(q)


def test_group_by_integer_keys_are_constants():
    """Calcite reads GROUP BY 1 as the constant, so every integer key,
    including those in ROLLUP, CUBE and GROUPING SETS, is cast to stay out
    of Spark's ordinal rule; ORDER BY ordinals are left as they are."""
    out = rewrite("select count(*) from t where false group by 1 order by 1",
                  nulls_high=False)
    assert out == ("select count(*) from t where false "
                   "group by CAST(1 AS INT) order by 1")
    out = rewrite("select a from t group by rollup(1, a), cube((2, b)), "
                  "grouping sets ((3), (a, -4), ()) having count(*) > 5",
                  nulls_high=False)
    assert out == ("select a from t group by rollup(CAST(1 AS INT), a), "
                   "cube((CAST(2 AS INT), b)), grouping sets "
                   "((CAST(3 AS INT)), (a, CAST(-4 AS INT)), ()) "
                   "having count(*) > 5")
    # nested GROUP BY lists, and keys that are not int literals
    out = rewrite("select a from (select a from t group by 1) s "
                  "group by a, 'x', 99999999999, a + 1 limit 2",
                  nulls_high=False)
    assert out == ("select a from (select a from t group by CAST(1 AS INT)) "
                   "s group by a, 'x', 99999999999, a + 1 limit 2")


def test_front_door_leaves_group_by_ordinal_to_other_clients(spark):
    """One thread runs plain spark.sql with GROUP BY 1 (an ordinal under
    the session's default) while another runs calcite_sql with GROUP BY 1
    (a constant): neither sees the other's meaning, and the session's
    conf is the same afterwards."""
    import threading

    from drill_calcite_spark.sql import calcite_sql

    spark.range(12).selectExpr("id % 3 AS k").createOrReplaceTempView(
        "ordinal_probe")
    before = spark.conf.get("spark.sql.groupByOrdinal")
    barrier, errors = threading.Barrier(2), []

    def plain():
        barrier.wait()
        try:
            for _ in range(40):  # analysis is eager: a constant key fails
                spark.sql("SELECT k, count(*) AS n FROM ordinal_probe "
                          "GROUP BY 1")
        except Exception as e:  # noqa: BLE001  reported below
            errors.append(e)

    def front_door():
        barrier.wait()
        try:
            for _ in range(40):
                df = calcite_sql(spark, "SELECT count(*) AS n "
                                 "FROM ordinal_probe GROUP BY 1")
            assert [r.n for r in df.collect()] == [12]
        except Exception as e:  # noqa: BLE001  reported below
            errors.append(e)

    threads = [threading.Thread(target=f) for f in (plain, front_door)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(r.n for r in spark.sql(
        "SELECT k, count(*) AS n FROM ordinal_probe GROUP BY 1").collect()) \
        == [4, 4, 4]
    assert spark.conf.get("spark.sql.groupByOrdinal") == before


def test_quoted_identifiers_are_opaque_to_scans(spark):
    """Brackets and commas inside a quoted identifier are part of the
    name: they neither end an ORDER BY item, nor add a LISTAGG argument,
    nor end a GROUP BY key; a quoted name is never a function call."""
    from drill_calcite_spark.sql import calcite_sql

    df = calcite_sql(spark, 'select "a)" from (values (2), (1)) '
                     'as t("a)") order by "a)"')
    assert [r[0] for r in df.collect()] == [1, 2]
    df = calcite_sql(spark, "select listagg(\"x,y\") as s "
                     "from (values ('p'), ('q')) as t(\"x,y\")")
    assert sorted(df.collect()[0].s.split(",")) == ["p", "q"]
    assert rewrite('select "c(", count(*) from t group by "c(", 1') \
        .endswith("group by `c(`, CAST(1 AS INT)")
    # a quoted name is never read as code, here the niladic PI
    df = calcite_sql(spark, 'select "pi" from (values (1)) as t("pi")')
    assert df.columns == ["pi"] and [r[0] for r in df.collect()] == [1]


def test_order_by_non_ascii_name():
    """A non-ASCII letter in an ORDER BY item is part of the item (the
    list scan used to spin on it forever)."""
    assert rewrite("select a as é from t order by é desc") == (
        "select a as é from t order by é desc NULLS FIRST")


def test_quote_inside_quoted_identifier_opens_no_literal():
    assert rewrite("""select 1 as "it's", 'x' as y from t""") == (
        "select 1 as `it's`, 'x' as y from t")


# quoted identifiers whose names read as the dialect forms that a pass
# rewrites (or, for the sequence, looks up); each stays one name
_CODE_LIKE_NAMES = [
    "pi", "floor(d to day)", "row(x)", "collect(x)", "map[1,2]", "array[1]",
    "tumble_start(ts, interval '1' hour)", "period(a, b)",
    "grouping_id(a, b)", "st_srid(g)", "a is unknown", "(table u)",
    "as varchar)", "group by ()", "next value for s",
]


@pytest.mark.parametrize("name", _CODE_LIKE_NAMES)
def test_quoted_identifier_is_never_rewritten(name):
    assert rewrite(f'select "{name}" from t') == f"select `{name}` from t"


def test_many_calls_rewrite_without_recursion():
    """The calls of a statement are walked by a loop: a statement with
    more calls than Python's recursion limit rewrites."""
    text = ("select " + ", ".join(["greatest(a, b)"] * 1200)
            + " from t")
    assert rewrite(text) == text
