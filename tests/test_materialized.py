"""Materialized-view tile rewrite tests: subsumption, rollup algebra,
fallback, and avg derivation."""

from __future__ import annotations

from pyspark.sql import functions as F

from drill_calcite_spark.plans.materialized import MaterializedViews


def _base(spark):
    return spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0), ("b", "x", 5.0)],
        "k string, sub string, v double",
    )


def _mvs(spark, tmp_path):
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", _base(spark), ["k", "sub"],
               [("sum", "v"), ("min", "v"), ("max", "v"), ("avg", "v")],
               str(tmp_path / "tile"))
    return mvs


def test_rollup_equals_base(spark, tmp_path):
    mvs = _mvs(spark, tmp_path)
    measures = [("s", "sum", "v"), ("n", "count", "*"),
                ("lo", "min", "v"), ("hi", "max", "v"), ("m", "avg", "v")]
    tile = mvs.summarize("t", _base(spark), ["k"], measures)
    assert all("tile" in f for f in tile.inputFiles())
    base = MaterializedViews(spark).summarize("t", _base(spark), ["k"], measures)
    assert sorted(map(tuple, tile.collect())) == sorted(map(tuple, base.collect()))
    got = {r.k: (r.s, r.n, r.lo, r.hi, r.m) for r in tile.collect()}
    assert got == {"a": (3.0, 2, 1.0, 2.0, 1.5), "b": (8.0, 2, 3.0, 5.0, 4.0)}


def test_rollup_count_distinct_from_tile_grain(spark, tmp_path):
    """Builder-API parity with the front door's count-distinct serve:
    summarize() with a ('count_distinct', dim) measure is served from
    the tile when the column is a tile dim (the probe adds it to the
    dim requirement), equals the base plan exactly, and falls back to
    the base scan when the column is a measure (no tile grain)."""
    mvs = _mvs(spark, tmp_path)
    measures = [("ds", "count_distinct", "sub"), ("s", "sum", "v")]
    out = mvs.summarize("t", _base(spark), ["k"], measures)
    assert all("tile" in f for f in out.inputFiles()), \
        "count-distinct rollup fell back to the base scan"
    base = MaterializedViews(spark).summarize(
        "t", _base(spark), ["k"], measures)
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, base.collect()))
    got = {r.k: (r.ds, r.s) for r in out.collect()}
    assert got == {"a": (2, 3.0), "b": (1, 8.0)}
    # v is a measure column — no tile carries its grain → base scan
    fallback = mvs.summarize("t", _base(spark), ["k"],
                             [("dv", "count_distinct", "v")])
    assert not any("tile" in f for f in fallback.inputFiles())


def test_no_tile_falls_back(spark, tmp_path):
    mvs = _mvs(spark, tmp_path)
    # dims not a subset of any tile → base scan
    out = mvs.summarize("t", _base(spark), ["v"], [("n", "count", "*")])
    assert not any("tile" in f for f in out.inputFiles())
    # unknown table → base scan
    out2 = mvs.summarize("other", _base(spark), ["k"], [("n", "count", "*")])
    assert not any("tile" in f for f in out2.inputFiles())


def test_measure_not_stored_falls_back(spark, tmp_path):
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", _base(spark), ["k", "sub"],
               [("sum", "v")], str(tmp_path / "tile"))
    # min(v) is not in the tile → must fall back to base
    out = mvs.summarize("t", _base(spark), ["k"], [("lo", "min", "v")])
    assert not any("tile" in f for f in out.inputFiles())


def test_null_measures_tile_matches_base(spark, tmp_path):
    # avg/count(col) must re-aggregate from the per-column non-null count
    # tile — count(*) would divide by too many rows when v has NULLs.
    base = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", None), ("b", "x", 3.0), ("b", "y", None)],
        "k string, sub string, v double",
    )
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", base, ["k", "sub"],
               [("avg", "v"), ("count", "v")], str(tmp_path / "tile"))
    measures = [("m", "avg", "v"), ("nv", "count", "v"), ("n", "count", "*")]
    tile = mvs.summarize("t", base, ["k"], measures)
    assert all("tile" in f for f in tile.inputFiles())
    got = {r.k: (r.m, r.nv, r.n) for r in tile.collect()}
    assert got == {"a": (1.0, 1, 2), "b": (3.0, 1, 2)}
    ref = MaterializedViews(spark).summarize("t", base, ["k"], measures)
    assert sorted(map(tuple, tile.collect())) == sorted(map(tuple, ref.collect()))


def test_prefers_smallest_tile(spark, tmp_path):
    mvs = MaterializedViews(spark)
    mvs.create("big", "t", _base(spark), ["k", "sub"], [("sum", "v")],
               str(tmp_path / "big"))
    mvs.create("small", "t", _base(spark), ["k"], [("sum", "v")],
               str(tmp_path / "small"))
    hit = mvs.find_tile("t", ["k"], [("s", "sum", "v")])
    assert hit is not None and hit[0].name == "small"


# ------------------------------------------------------- filter subsumption
def test_filter_subsumption_residual_on_dim(spark, tmp_path):
    # tile WHERE v > 1; query WHERE v > 2 (tighter, v is a dim) → tile
    # serves with the residual re-applied, results equal the base path
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", _base(spark), ["k", "v"], [("sum", "v")],
               str(tmp_path / "tile"), where=[("v", ">", 1.0)])
    measures = [("s", "sum", "v"), ("n", "count", "*")]
    q = [("v", ">", 2.0)]
    out = mvs.summarize("t", _base(spark), ["k"], measures, where=q)
    assert all("tile" in f for f in out.inputFiles())
    ref = MaterializedViews(spark).summarize("t", _base(spark), ["k"],
                                             measures, where=q)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))
    assert {r.k: (r.s, r.n) for r in out.collect()} == {"b": (8.0, 2)}


def test_filter_subsumption_exact_predicate_no_residual(spark, tmp_path):
    # query predicate textually equals the tile predicate on a NON-dim
    # column → already enforced by the tile, no residual needed
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", _base(spark), ["k"], [("sum", "v")],
               str(tmp_path / "tile"), where=[("sub", "=", "x")])
    out = mvs.summarize("t", _base(spark), ["k"], [("s", "sum", "v")],
                        where=[("sub", "=", "x")])
    assert all("tile" in f for f in out.inputFiles())
    assert {r.k: r.s for r in out.collect()} == {"a": 1.0, "b": 8.0}


def test_filter_not_subsumed_falls_back(spark, tmp_path):
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", _base(spark), ["k", "v"], [("sum", "v")],
               str(tmp_path / "tile"), where=[("v", ">", 2.0)])
    # query is WIDER than the tile (v > 1 includes rows the tile dropped)
    out = mvs.summarize("t", _base(spark), ["k"], [("s", "sum", "v")],
                        where=[("v", ">", 1.0)])
    assert not any("tile" in f for f in out.inputFiles())
    assert {r.k: r.s for r in out.collect()} == {"a": 2.0, "b": 8.0}
    # residual on a non-dim, non-enforced column → fall back too
    out2 = mvs.summarize("t", _base(spark), ["k"], [("s", "sum", "v")],
                         where=[("v", ">", 2.0), ("sub", "=", "x")])
    assert not any("tile" in f for f in out2.inputFiles())


# ------------------------------------------------------------- join-MV
def test_join_mv_serves_matching_signature(spark, tmp_path):
    left = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)], "fk long, seg string, v double"
    )
    dim = spark.createDataFrame([(1, "x"), (2, "y"), (3, "x")], "pk long, grp string")
    mvs = MaterializedViews(spark)
    tables = {"fact": left, "dim": dim}
    on = [("fk", "pk")]
    mvs.create_join("jmv", tables, on, ["grp", "seg"], [("sum", "v")],
                    str(tmp_path / "jmv"))
    out = mvs.summarize_join(tables, on, ["grp"],
                             [("s", "sum", "v"), ("n", "count", "*")])
    assert all("jmv" in f for f in out.inputFiles())
    assert {r.grp: (r.s, r.n) for r in out.collect()} == {"x": (40.0, 2), "y": (20.0, 1)}
    # different join keys → different signature → executes the join
    out2 = mvs.summarize_join(tables, [("fk", "fk")], ["grp"],
                              [("s", "sum", "v")])
    assert not any("jmv" in f for f in out2.inputFiles())


def test_unfiltered_query_rejects_filtered_tile(spark, tmp_path):
    # tile stores WHERE v > 2; a query with NO predicate must not use it
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", _base(spark), ["k"], [("sum", "v")],
               str(tmp_path / "tile"), where=[("v", ">", 2.0)])
    out = mvs.summarize("t", _base(spark), ["k"], [("s", "sum", "v")])
    assert not any("tile" in f for f in out.inputFiles())
    assert {r.k: r.s for r in out.collect()} == {"a": 3.0, "b": 8.0}


# ------------------------------------------------------------------- lattice
def test_suggest_tiles_greedy(spark):
    """Greedy TileSuggester selection: the wide (status, priority) tile
    serves 3 of the 4 queries and wins first; custkey's query is only
    coverable by its own huge tile, chosen second; nothing else adds
    coverage so selection stops at 2 tiles."""
    from drill_calcite_spark.plans.lattice import (
        WorkloadQuery, lattice_algebra, suggest_tiles,
    )
    from tests.conftest import SF_DIR
    from drill_calcite_spark.queries.common import t as load

    workload = [
        WorkloadQuery("qA", ("o_orderstatus",), ("sum:o_totalprice",)),
        WorkloadQuery("qB", ("o_orderstatus", "o_orderpriority"),
                      ("sum:o_totalprice", "count:*")),
        WorkloadQuery("qC", ("o_orderpriority",), ("count:*",)),
        WorkloadQuery("qD", ("o_custkey",), ("sum:o_totalprice",)),
    ]
    fact = load(spark, SF_DIR, "orders")
    rows = suggest_tiles(spark, fact, workload).collect()
    assert [r.tile_dims for r in rows] == [
        "o_orderpriority,o_orderstatus", "o_custkey"]
    assert rows[0].serves == "qA,qB,qC"
    assert rows[1].serves == "qD"
    # max_tiles honors the cap
    capped = suggest_tiles(spark, fact, workload, max_tiles=1).collect()
    assert len(capped) == 1

    # algebra invariants: every tile serves at least the query that
    # contributed its grouping
    cands, serves = lattice_algebra(workload)
    for q in workload:
        assert q.name in {s.name
                          for s in serves[tuple(sorted(q.group_by))]}


def test_incremental_refresh_equals_full_rebuild(spark, tmp_path):
    """Delta-merge ≡ full recompute for every stored algebra — including
    NULL measure values (per-column count tiles must count non-nulls in
    the delta too), new grouping keys arriving only in the delta, and a
    SECOND refresh on the already-versioned snapshot."""
    import pytest

    old = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", None), ("b", "x", 3.0)],
        "k string, sub string, v double")
    d1 = spark.createDataFrame(
        [("a", "x", 10.0), ("b", "x", None), ("c", "z", 7.0)],
        "k string, sub string, v double")
    d2 = spark.createDataFrame(
        [("c", "z", -1.0)], "k string, sub string, v double")
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", old, ["k", "sub"],
               [("sum", "v"), ("min", "v"), ("max", "v"), ("avg", "v")],
               str(tmp_path / "tile"))
    mvs.incremental_refresh("tile", d1)
    mvs.incremental_refresh("tile", d2)
    assert mvs.tiles[0].path.endswith("__v2")

    full = old.unionByName(d1).unionByName(d2)
    measures = [("s", "sum", "v"), ("n", "count", "*"),
                ("nv", "count", "v"), ("lo", "min", "v"),
                ("hi", "max", "v"), ("m", "avg", "v")]
    served = mvs.summarize("t", full, ["k"], measures)
    assert all("__v2" in f for f in served.inputFiles()), \
        "not served from the refreshed snapshot"
    base = MaterializedViews(spark).summarize("t", full, ["k"], measures)
    assert sorted(map(tuple, served.collect())) == \
        sorted(map(tuple, base.collect()))

    with pytest.raises(KeyError):
        mvs.incremental_refresh("nope", d1)


def test_incremental_refresh_respects_tile_predicate(spark, tmp_path):
    """A filtered tile applies its WHERE to the delta batch — rows the
    tile never covered must not leak into the refreshed snapshot."""
    old = spark.createDataFrame(
        [("a", 5.0), ("b", 1.0)], "k string, v double")
    delta = spark.createDataFrame(
        [("a", 9.0), ("a", 0.5)], "k string, v double")  # 0.5 fails P
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", old, ["k"], [("sum", "v")],
               str(tmp_path / "ftile"), where=[("v", ">=", 1.0)])
    mvs.incremental_refresh("tile", delta)
    tdf = spark.read.parquet(mvs.tiles[0].path)
    got = {r.k: r["__sum_v"] for r in tdf.collect()}
    assert got == {"a": 14.0, "b": 1.0}  # 0.5 excluded by the predicate


# ------------------------------------------- SQL front-door substitution

def _sql(spark, mvs, text):
    from drill_calcite_spark.sql import calcite_sql
    return calcite_sql(spark, text, materializations=mvs)


def test_sql_substitution_serves_tile_not_base(spark, tmp_path):
    """The user's SQL names only the base table; the plan must scan the
    tile parquet and NEVER the base — and values must equal spark.sql
    over the base view."""
    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    text = ("SELECT k, count(*) AS n, sum(v) AS s, avg(v) AS m "
            "FROM t GROUP BY k")
    out = _sql(spark, mvs, text)
    files = out.inputFiles()
    assert files and all("tile" in f for f in files), \
        "substitution fell back to the base scan"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "tile" in plan
    base = {tuple(r) for r in spark.sql(text).collect()}
    assert {tuple(r) for r in out.collect()} == base


def test_sql_substitution_residual_atom_on_dim(spark, tmp_path):
    """A WHERE atom on a tile dim is re-applied on the tile; results
    match the base plan exactly."""
    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    text = ("SELECT k, min(v) AS lo, max(v) AS hi FROM t "
            "WHERE sub = 'x' GROUP BY k")
    out = _sql(spark, mvs, text)
    assert all("tile" in f for f in out.inputFiles())
    assert {tuple(r) for r in out.collect()} \
        == {tuple(r) for r in spark.sql(text).collect()}


def test_sql_substitution_count_distinct_and_paren_where(spark, tmp_path):
    """COUNT(DISTINCT dim) is served from TILE GRAIN when the column is
    a tile dim (the AggregateStarTableRule count-distinct rollup,
    materialize/Lattice.java:93), and a paren-grouped WHERE conjunction
    — the exact shape the DateRangeRules rewrite emits upstream — is
    flattened before atom parsing. DISTINCT over a measure column, any
    other DISTINCT aggregate, and function calls in WHERE fall through."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    for text in (
        "SELECT k, count(distinct sub) AS ds, sum(v) AS s FROM t "
        "WHERE (sub >= 'x' AND sub <= 'y') GROUP BY k",
        # count-distinct as the ONLY aggregate item
        "SELECT k, count(distinct sub) AS ds FROM t GROUP BY k",
    ):
        out = try_substitute(spark, text, mvs)
        assert out is not None, f"serveable query fell through: {text}"
        assert all("tile" in f for f in out.inputFiles()), text
        assert {tuple(r) for r in out.collect()} \
            == {tuple(r) for r in spark.sql(text).collect()}, text
    # v is a measure column, not a tile dim → no tile carries its grain
    assert try_substitute(
        spark, "SELECT k, count(distinct v) AS dv FROM t GROUP BY k",
        mvs) is None
    # only COUNT may take DISTINCT — sum(distinct) falls through
    assert try_substitute(
        spark, "SELECT k, sum(distinct v) AS s FROM t GROUP BY k",
        mvs) is None
    # a function call in WHERE flattens into a non-atom → fall through
    assert try_substitute(
        spark, "SELECT k, sum(v) AS s FROM t WHERE upper(sub) = 'X' "
        "GROUP BY k", mvs) is None
    # BETWEEN on a tile dim = two closed-bound residual atoms
    text = ("SELECT k, sum(v) AS s FROM t WHERE sub BETWEEN 'x' AND 'y' "
            "GROUP BY k")
    out = try_substitute(spark, text, mvs)
    assert out is not None and all("tile" in f for f in out.inputFiles())
    assert {tuple(r) for r in out.collect()} \
        == {tuple(r) for r in spark.sql(text).collect()}
    # NOT BETWEEN is a disjunction → fall through
    assert try_substitute(
        spark, "SELECT k, sum(v) AS s FROM t "
        "WHERE sub NOT BETWEEN 'x' AND 'y' GROUP BY k", mvs) is None
    # BETWEEN against a column operand is not a literal atom → fall through
    assert try_substitute(
        spark, "SELECT k, sum(v) AS s FROM t "
        "WHERE sub BETWEEN k AND 'y' GROUP BY k", mvs) is None


def test_sql_substitution_year_slice_tile_absorption(spark, tmp_path):
    """A tile REGISTERED with a year-range predicate serves the user's
    EXTRACT(YEAR)=k query with NO residual: the front door first folds
    the extract to the half-open range (DateRangeRules), then the
    substitution's Q ⟹ P check absorbs both atoms as the tile's own
    predicate (textually enforced — SubstitutionVisitor's filter
    unification). The adjacent year falls through: its range cannot
    imply the tile's, so the fall-through path keeps correctness."""
    from drill_calcite_spark.plans.materialized import MaterializedViews

    import datetime as dt

    rows = [("a" if i % 2 else "b",
             dt.datetime(1995 + i % 3, 1 + i % 12, 1 + i % 28),
             float(i % 7)) for i in range(60)]
    base = spark.createDataFrame(rows, "k string, d timestamp, v double")
    base.createOrReplaceTempView("t2")
    mvs = MaterializedViews(spark)
    mvs.create("t2_1996", "t2", base, ["k"], [("sum", "v")],
               str(tmp_path / "t2_1996"),
               where=[("d", ">=", "1996-01-01"), ("d", "<", "1997-01-01")])
    text = ("SELECT k, sum(v) AS s, count(*) AS n FROM t2 "
            "WHERE extract(year from d) = 1996 GROUP BY k")
    out = _sql(spark, mvs, text)
    assert all("t2_1996" in f for f in out.inputFiles()), \
        "year-slice tile did not absorb the rewritten range"
    assert {tuple(r) for r in out.collect()} \
        == {tuple(r) for r in spark.sql(text).collect()}
    # 1995 does not imply the 1996 slice → base scan, same values
    other = ("SELECT k, sum(v) AS s FROM t2 "
             "WHERE extract(year from d) = 1995 GROUP BY k")
    out2 = _sql(spark, mvs, other)
    assert not any("t2_1996" in f for f in out2.inputFiles())
    assert {tuple(r) for r in out2.collect()} \
        == {tuple(r) for r in spark.sql(other).collect()}


def test_lattice_to_front_door_loop(spark, tmp_path):
    """The FULL Calcite lattice loop in one pass — LatticeSuggester
    grows candidates from the workload, TileSuggester picks the tile,
    the tile is materialized, and the SQL front door then serves each
    workload query from it transparently (LatticeSuggester.addQuery →
    TileSuggester → AggregateStarTableRule): every piece is already
    proven alone; this pins that the suggester's output is directly
    consumable by create()/try_substitute with no glue."""
    from drill_calcite_spark.plans.lattice import (
        WorkloadQuery, suggest_tiles)
    from drill_calcite_spark.plans.materialized import MaterializedViews

    base = _base(spark)
    base.createOrReplaceTempView("t")
    workload = [
        WorkloadQuery("qA", ("k",), ("sum:v",)),
        WorkloadQuery("qB", ("k", "sub"), ("sum:v", "count:*")),
        WorkloadQuery("qC", ("sub",), ("count:*",)),
    ]
    picked = suggest_tiles(spark, base, workload, max_tiles=1).collect()
    assert len(picked) == 1
    dims = picked[0].tile_dims.split(",")
    measures = [tuple(m.split(":")) for m in
                picked[0].tile_measures.split(",") if
                not m.startswith("count:")]
    mvs = MaterializedViews(spark)
    mvs.create("suggested", "t", base, dims, measures,
               str(tmp_path / "suggested"))
    texts = [
        "SELECT k, sum(v) AS s FROM t GROUP BY k",
        "SELECT k, sub, sum(v) AS s, count(*) AS n FROM t GROUP BY k, sub",
        "SELECT sub, count(*) AS n FROM t GROUP BY sub",
    ]
    for text in texts:
        out = _sql(spark, mvs, text)
        assert all("suggested" in f for f in out.inputFiles()), \
            f"suggested tile did not serve: {text}"
        assert {tuple(r) for r in out.collect()} \
            == {tuple(r) for r in spark.sql(text).collect()}, text


def test_sql_substitution_falls_through_out_of_shape(spark, tmp_path):
    """Joins, HAVING, expressions and unknown measures must all fall
    through to spark.sql (base scan) — the closed-world prover never
    guesses. (A dim-only OR disjunction now SUBSTITUTES since r14 —
    the positive path is test_sql_substitution_or_disjunction; an OR
    touching a measure column still falls through below.)"""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    for text in (
        "SELECT t.k AS k, count(*) AS n FROM t JOIN t t2 ON t.k = t2.k "
        "GROUP BY t.k",
        # a servable HAVING now SUBSTITUTES (r13 late) — only the
        # non-aggregate-comparison form stays out of shape here; the
        # positive HAVING path is test_sql_substitution_having
        "SELECT k, count(*) AS n FROM t GROUP BY k "
        "HAVING count(*) > sum(v)",
        # OR touching the measure column: not applicable on the tile
        "SELECT k, count(*) AS n FROM t WHERE v = 1.0 OR v = 3.0 "
        "GROUP BY k",
        # NOT and nested disjunctions stay out of grammar
        "SELECT k, count(*) AS n FROM t WHERE not sub = 'x' GROUP BY k",
        "SELECT k, count(*) AS n FROM t "
        "WHERE ((sub = 'x' OR sub = 'y') OR k = 'a') AND k = 'a' "
        "GROUP BY k",
        "SELECT k, sum(v + 1) AS s FROM t GROUP BY k",
        "SELECT k, stddev(v) AS s FROM t GROUP BY k",
        "SELECT upper(k) AS k2, count(*) AS n FROM t GROUP BY k2",
        # ORDER BY an output alias now substitutes (r13 late) — only a
        # sort key that is NOT an output column name stays out of shape
        "SELECT k, count(*) AS n FROM t GROUP BY k ORDER BY sum(v)",
        "SELECT k, count(*) AS n FROM t GROUP BY k ORDER BY max(v) DESC",
        "SELECT DISTINCT k FROM t GROUP BY k",
    ):
        assert try_substitute(spark, text, mvs) is None, text
        out = _sql(spark, mvs, text)  # still executes via spark.sql
        assert not any("tile" in f for f in out.inputFiles()), text


def test_sql_substitution_no_matching_tile_falls_through(spark, tmp_path):
    """In-shape but unservable (dim not in tile / measure not stored /
    predicate not subsumed on a filtered tile) → spark.sql path."""
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    assert try_substitute(
        spark, "SELECT v, count(*) AS n FROM t GROUP BY v", mvs) is None
    assert try_substitute(
        spark, "SELECT k, sum(k) AS s FROM t GROUP BY k", mvs) is None
    filt = MaterializedViews(spark)
    filt.create("ftile", "t", _base(spark), ["k"], [("sum", "v")],
                str(tmp_path / "ftile"), where=[("v", ">=", 2.0)])
    assert try_substitute(
        spark, "SELECT k, sum(v) AS s FROM t GROUP BY k", filt) is None
    # a residual atom on a MEASURE column is undecidable on the tile
    # (the pre-agg column no longer exists) — must fall through too
    assert try_substitute(
        spark,
        "SELECT k, sum(v) AS s FROM t WHERE v >= 3 GROUP BY k",
        filt) is None
    # the exactly-enforced predicate (v >= 2 ≡ the tile's own atom) is
    # absorbed — served with no residual
    out = try_substitute(
        spark,
        "SELECT k, sum(v) AS s FROM t WHERE v >= 2 GROUP BY k", filt)
    assert out is not None and all("ftile" in f for f in out.inputFiles())


def test_sql_join_substitution_unifies_reversed_keys(spark, tmp_path):
    """A literal SQL join unifies with a join-MV even when the key
    equality is written the other way round; aliased/outer joins and a
    different key pair fall through."""
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    left = spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", 3.0), (3, "a", 5.0)],
        "id bigint, k string, v double")
    right = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x")], "rid bigint, grp string")
    left.createOrReplaceTempView("lt")
    right.createOrReplaceTempView("rt")
    mvs = MaterializedViews(spark)
    mvs.create_join("j", {"lt": left, "rt": right}, [("id", "rid")],
                    ["grp", "k"], [("sum", "v")], str(tmp_path / "jtile"))

    text = ("SELECT grp, sum(v) AS s, count(*) AS n FROM lt "
            "JOIN rt ON rid = id GROUP BY grp")
    out = try_substitute(spark, text, mvs)
    assert out is not None and all(
        "jtile" in f for f in out.inputFiles()), "reversed keys failed"
    assert {tuple(r) for r in out.collect()} \
        == {tuple(r) for r in spark.sql(text).collect()}
    # different key pair → different signature → fall through
    assert try_substitute(
        spark, "SELECT grp, sum(v) AS s FROM lt JOIN rt ON id = rid "
               "AND k = grp GROUP BY grp", mvs) is None
    # outer join → fall through
    assert try_substitute(
        spark, "SELECT grp, sum(v) AS s FROM lt LEFT JOIN rt "
               "ON id = rid GROUP BY grp", mvs) is None
    # aliased self-join → fall through
    assert try_substitute(
        spark, "SELECT grp, sum(v) AS s FROM lt JOIN lt l2 "
               "ON id = rid GROUP BY grp", mvs) is None


def test_sql_substitution_follows_incremental_refresh(spark, tmp_path):
    """Front door × incremental refresh: after a delta batch is merged
    (which REPOINTS the tile to a new versioned snapshot), the same SQL
    must be served from the NEW tile version and reflect the delta —
    the registry handle, not a stale path, is what the door consults,
    and the memoized read plan of the old snapshot is dropped."""
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    base = _base(spark)
    base.createOrReplaceTempView("t")
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", base, ["k", "sub"],
               [("sum", "v"), ("min", "v")], str(tmp_path / "tile"))
    text = "SELECT k, sum(v) AS s, min(v) AS lo FROM t GROUP BY k"
    before = {r.k: (r.s, r.lo)
              for r in try_substitute(spark, text, mvs).collect()}
    v0 = mvs.tile_frame(mvs.tiles[0])

    delta = spark.createDataFrame(
        [("a", "z", 0.5), ("c", "x", 7.0)], "k string, sub string, v double")
    mvs.incremental_refresh("tile", delta)
    assert mvs.tile_frame(mvs.tiles[0]) is not v0
    assert list(mvs._frames) == [mvs.tiles[0].path], \
        "the swapped-out snapshot's plan stayed in the memo"
    out = try_substitute(spark, text, mvs)
    assert out is not None
    files = out.inputFiles()
    assert files and all("__v1" in f for f in files), \
        "door served a stale tile version"
    got = {r.k: (r.s, r.lo) for r in out.collect()}
    assert got != before, "delta invisible through the front door"
    full = {r.k: (r.s, r.lo) for r in base.unionByName(delta)
            .groupBy("k").agg(F.sum("v").alias("s"), F.min("v").alias("lo"))
            .collect()}
    assert got == full, "refreshed tile diverges from base+delta"


def test_sql_substitution_having(spark, tmp_path):
    """HAVING conjuncts ride the tile probe as hidden measures: a
    servable HAVING filters the rollup and matches spark.sql exactly;
    a HAVING whose aggregate the tile does not store, or that is not
    an aggregate comparison at all, falls through."""
    from drill_calcite_spark.plans.materialized import MaterializedViews
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    _base(spark).createOrReplaceTempView("t")
    mvs = MaterializedViews(spark)
    mvs.create("htile", "t", _base(spark), ["k", "sub"],
               [("sum", "v"), ("avg", "v")], str(tmp_path / "htile"))

    text = ("SELECT k, sum(v) AS s FROM t GROUP BY k "
            "HAVING count(*) > 1 AND avg(v) < 4")
    out = try_substitute(spark, text, mvs)
    assert out is not None and all(
        "htile" in f for f in out.inputFiles())
    assert {tuple(r) for r in out.collect()} \
        == {tuple(r) for r in spark.sql(text).collect()}
    # the hidden HAVING measures must not leak into the output schema
    assert out.columns == ["k", "s"]
    # min(v) is not stored → the probe (measures + hidden) must miss
    assert try_substitute(
        spark, "SELECT k, sum(v) AS s FROM t GROUP BY k "
               "HAVING min(v) < 2", mvs) is None
    # non-aggregate or unsupported HAVING shapes fall through
    for text in (
        "SELECT k, sum(v) AS s FROM t GROUP BY k HAVING k = 'a'",
        "SELECT k, sum(v) AS s FROM t GROUP BY k "
        "HAVING stddev(v) > 0",
        "SELECT k, sum(v) AS s FROM t GROUP BY k "
        "HAVING sum(v) > count(*)",
    ):
        assert try_substitute(spark, text, mvs) is None, text


def test_sql_substitution_orderby_limit(spark, tmp_path):
    """ORDER BY output aliases + LIMIT ride above the tile rollup — the
    dashboard top-N shape keeps the substitution instead of falling
    back to the fact scan; row ORDER and the LIMIT cut both match
    spark.sql exactly (deterministic tie-break key included)."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    text = ("SELECT k, sub, sum(v) AS s FROM t GROUP BY k, sub "
            "ORDER BY s DESC, k ASC, sub LIMIT 2")
    out = try_substitute(spark, text, mvs)
    assert out is not None and all(
        "tile" in f for f in out.inputFiles())
    assert [tuple(r) for r in out.collect()] \
        == [tuple(r) for r in spark.sql(text).collect()]
    # HAVING + ORDER BY + LIMIT compose
    text = ("SELECT k, sum(v) AS s FROM t GROUP BY k "
            "HAVING count(*) > 1 ORDER BY s DESC LIMIT 1")
    out = try_substitute(spark, text, mvs)
    assert out is not None
    assert [tuple(r) for r in out.collect()] \
        == [tuple(r) for r in spark.sql(text).collect()]


def test_sql_substitution_grouping_sets_family(spark, tmp_path):
    """ROLLUP / CUBE / GROUPING SETS through the front door (r14 —
    AggregateStarTableRule's rollup-query serve): every grouping set is
    a rollup of tile grain, so the plain (k, sub) tile serves each
    multi-set aggregate; values (incl. grouping-set NULL markers and
    grouping() indicators) equal spark.sql over the base exactly."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    for text in (
        "SELECT k, sub, count(*) AS n, sum(v) AS s FROM t "
        "GROUP BY ROLLUP(k, sub)",
        "SELECT k, sub, grouping(k) AS gk, count(*) AS n FROM t "
        "GROUP BY CUBE(k, sub)",
        "SELECT k, sub, sum(v) AS s FROM t "
        "GROUP BY GROUPING SETS ((k, sub), (k), ())",
        # expanded grouping_id arithmetic (the form the grouping-func
        # rewrite hands the parser) + WHERE residual + HAVING
        "SELECT k, sub, (grouping(k) * 2 + grouping(sub)) AS gid, "
        "sum(v) AS s FROM t WHERE sub = 'x' GROUP BY ROLLUP(k, sub) "
        "HAVING sum(v) > 1",
    ):
        out = try_substitute(spark, text, mvs)
        assert out is not None, text
        assert all("tile" in f for f in out.inputFiles()), text
        assert sorted(map(repr, map(tuple, out.collect()))) \
            == sorted(map(repr, map(tuple, spark.sql(text).collect()))), text
    # grouping() under a PLAIN group by is not a servable shape
    assert try_substitute(
        spark, "SELECT k, grouping(k) AS g, sum(v) AS s FROM t "
               "GROUP BY k", mvs) is None


def _join_fixture(spark, tmp_path):
    """fact(fk, kind, v) ⋈ dim(pk, grp): every fact row matches exactly
    one dim row (the register_fk contract holds)."""
    fact = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", 2.0), (2, "x", 3.0), (3, "y", 5.0)],
        "fk int, kind string, v double")
    dim = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g2"), (4, "g3")], "pk int, grp string")
    fact.createOrReplaceTempView("fact")
    dim.createOrReplaceTempView("dim")
    mvs = MaterializedViews(spark)
    mvs.create_join("jt", {"fact": fact, "dim": dim}, [("fk", "pk")],
                    dims=["grp", "kind"], measures=[("sum", "v")],
                    path=str(tmp_path / "jtile"))
    return mvs


def test_sql_substitution_alias_and_fk_subset(spark, tmp_path):
    """r14: (a) `FROM t alias` with qualified references serves like
    the unqualified spelling; (b) a SINGLE-TABLE aggregate unifies with
    a JOIN-MV that joins MORE tables when the dropped table hangs off a
    registered FK and no dropped-table column is referenced (Calcite's
    join-derivability via RelReferentialConstraint,
    SubstitutionVisitor.java:120)."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    mvs = _join_fixture(spark, tmp_path)
    mvs.register_fk("fk", "dim", "pk")
    # aliased join query unifies with the join tile
    text = ("SELECT d.grp, count(*) AS n, sum(f.v) AS s "
            "FROM fact f JOIN dim AS d ON f.fk = d.pk GROUP BY d.grp")
    out = try_substitute(spark, text, mvs)
    assert out is not None and all("jtile" in f for f in out.inputFiles())
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, spark.sql(text).collect()))
    # single-table subset served from the join tile: the FK join
    # neither drops nor duplicates fact rows
    text = ("SELECT kind, count(*) AS n, sum(v) AS s "
            "FROM fact WHERE kind = 'x' GROUP BY kind")
    out = try_substitute(spark, text, mvs)
    assert out is not None and all("jtile" in f for f in out.inputFiles())
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, spark.sql(text).collect()))
    # aliased spelling of the subset query too
    text2 = ("SELECT f.kind, count(*) AS n, sum(f.v) AS s "
             "FROM fact f WHERE f.kind = 'x' GROUP BY f.kind")
    out2 = try_substitute(spark, text2, mvs)
    assert out2 is not None and sorted(map(tuple, out2.collect())) \
        == sorted(map(tuple, out.collect()))


def test_sql_substitution_fk_subset_unsound_variants_fall_through(
        spark, tmp_path):
    """The derivability preconditions each bite: no FK registered, a
    dropped-table column referenced, an FK registered on the WRONG
    column pair, and a self-join (aliases carry row identity) all fall
    through to the base plan."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    sub = "SELECT kind, sum(v) AS s FROM fact GROUP BY kind"
    # (a) no FK: the join could drop/duplicate fact rows
    mvs = _join_fixture(spark, tmp_path)
    assert try_substitute(spark, sub, mvs) is None
    # (b) FK on the wrong pair
    mvs.register_fk("v", "dim", "pk")
    assert try_substitute(spark, sub, mvs) is None
    # (c) dropped-table column referenced — ownership check rejects
    mvs.register_fk("fk", "dim", "pk")
    assert try_substitute(
        spark, "SELECT grp, sum(v) AS s FROM fact GROUP BY grp",
        mvs) is None
    # (d) with the right FK the same statement from (a)/(b) now serves
    assert try_substitute(spark, sub, mvs) is not None
    # (e) self-join: aliases DO carry identity — rejected outright
    assert try_substitute(
        spark, "SELECT a.kind, count(*) AS n FROM fact a "
               "JOIN fact b ON a.fk = b.fk GROUP BY a.kind",
        mvs) is None


def test_sql_substitution_or_disjunction(spark, tmp_path):
    """r14: a bounded dim-only disjunction — the shape DateRangeRules
    emits for `<>` years and disjoint IN-lists — is applied wholesale
    on the tile as a residual and the substitution survives; values
    equal spark.sql over the base exactly. Composes with plain atoms,
    BETWEEN inside a branch, and or-of-conjunction branches."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    for text in (
        "SELECT k, count(*) AS n FROM t WHERE sub = 'x' OR sub = 'y' "
        "GROUP BY k",
        "SELECT k, sum(v) AS s FROM t "
        "WHERE (sub < 'y' OR sub >= 'y') AND k = 'a' GROUP BY k",
        # or-of-conjunctions (the disjoint IN-list range shape)
        "SELECT k, sum(v) AS s FROM t WHERE "
        "((k >= 'a' AND k <= 'a') OR (k >= 'b' AND k <= 'b')) "
        "GROUP BY k",
        # BETWEEN inside an OR branch keeps its own grouping
        "SELECT k, count(*) AS n FROM t "
        "WHERE k BETWEEN 'a' AND 'a' OR sub = 'y' GROUP BY k",
    ):
        out = try_substitute(spark, text, mvs)
        assert out is not None, f"dim-only OR fell through: {text}"
        assert all("tile" in f for f in out.inputFiles()), text
        assert sorted(map(tuple, out.collect())) \
            == sorted(map(tuple, spark.sql(text).collect())), text


def test_probe_index_consistent_across_refresh(spark, tmp_path):
    """r14 stretch: the per-table probe index stores tile POSITIONS, so
    the in-place snapshot swap incremental_refresh performs keeps the
    probe serving the NEW snapshot (a stale object reference would keep
    reading the v0 path), and join-MV metadata survives the swap."""
    base = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "k string, v double")
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", base, ["k"], [("sum", "v")],
               str(tmp_path / "itile"))
    delta = spark.createDataFrame([("a", 10.0)], "k string, v double")
    mvs.incremental_refresh("tile", delta)
    hit = mvs.find_tile("t", ["k"], [("s", "sum", "v")])
    assert hit is not None and hit[0].path.endswith("__v1"), \
        "probe index served a stale snapshot"
    # join metadata carried through dataclasses.replace on refresh
    fact = spark.createDataFrame([(1, 1.0)], "fk int, v double")
    dim = spark.createDataFrame([(1, "g")], "pk int, grp string")
    mvs.create_join("jt", {"fact": fact, "dim": dim}, [("fk", "pk")],
                    ["grp"], [("sum", "v")], str(tmp_path / "ijt"))
    mvs.incremental_refresh("jt", fact.join(dim, fact.fk == dim.pk))
    jtile = next(t for t in mvs.tiles if t.name == "jt")
    assert jtile.join_tables == ("dim", "fact") and jtile.join_pairs
    assert jtile.path.endswith("__v1")


def test_variance_family_tile_rollup(spark, tmp_path):
    """r14: the variance family (VAR_POP/VAR_SAMP/STDDEV_POP/
    STDDEV_SAMP) rolls up from the (sum, sumsq, count) decomposition
    (AggregateReduceFunctionsRule): tile-served values agree with
    Spark's native (Welford) aggregates at 1e-9 relative tolerance
    over NULL-bearing data, a constant column never goes NaN (the
    ulp-negative clamp), n=1 groups give NULL for the _SAMP forms and
    0 for the _POP forms, and a tile without the sumsq decomposition
    falls back to the base scan."""
    import math

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", None), ("a", 4.0),
         ("b", 7.0), ("b", 7.0), ("b", 7.0),   # constant group
         ("c", 9.0)],                           # single-value group
        "k string, v double")
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", base, ["k"], [("var_samp", "v")],
               str(tmp_path / "vtile"))
    measures = [("vp", "var_pop", "v"), ("vs", "var_samp", "v"),
                ("sp", "stddev_pop", "v"), ("ss", "stddev_samp", "v"),
                ("n", "count", "v")]
    out = mvs.summarize("t", base, ["k"], measures)
    assert all("vtile" in f for f in out.inputFiles())
    got = {r.k: r for r in out.collect()}
    nat = {r.k: r for r in MaterializedViews(spark)
           .summarize("t", base, ["k"], measures).collect()}

    def close(a, b):
        if a is None or b is None:
            return a == b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)

    for k in ("a", "b", "c"):
        for fld in ("vp", "vs", "sp", "ss"):
            assert close(got[k][fld], nat[k][fld]), (k, fld, got[k], nat[k])
    assert got["b"].vp == 0.0 and got["b"].sp == 0.0, "constant → NaN?"
    assert got["c"].vs is None and got["c"].ss is None, "n=1 _SAMP"
    assert got["c"].vp == 0.0, "n=1 VAR_POP is 0"
    # a sum/count-only tile cannot serve the family → base scan
    mvs2 = MaterializedViews(spark)
    mvs2.create("plain", "t", base, ["k"], [("avg", "v")],
                str(tmp_path / "ptile"))
    fb = mvs2.summarize("t", base, ["k"], [("vs", "var_samp", "v")])
    assert not any("ptile" in f for f in fb.inputFiles())


def test_sql_substitution_limit_offset(spark, tmp_path):
    """r14: LIMIT k OFFSET m above the tile rollup (Calcite's
    Sort.offset); OFFSET without ORDER BY is nondeterministic and
    falls through."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    text = ("SELECT k, sub, sum(v) AS s FROM t GROUP BY k, sub "
            "ORDER BY s DESC, k, sub LIMIT 2 OFFSET 1")
    out = try_substitute(spark, text, mvs)
    assert out is not None and all("tile" in f for f in out.inputFiles())
    assert [tuple(r) for r in out.collect()] \
        == [tuple(r) for r in spark.sql(text).collect()]
    # offset alone (no limit) also rides above the sort
    text2 = ("SELECT k, sum(v) AS s FROM t GROUP BY k "
             "ORDER BY s DESC OFFSET 1")
    out2 = try_substitute(spark, text2, mvs)
    assert out2 is not None
    assert [tuple(r) for r in out2.collect()] \
        == [tuple(r) for r in spark.sql(text2).collect()]
    assert try_substitute(
        spark, "SELECT k, sum(v) AS s FROM t GROUP BY k OFFSET 1",
        mvs) is None


def test_sql_substitution_having_grouping_gate(spark, tmp_path):
    """r14: HAVING grouping(col) cmp k — the ROLLUP companion gate —
    filters subtotal rows above the tile re-aggregation via a hidden
    grouping indicator (no stored measure needed), composing with an
    aggregate HAVING conjunct; under a plain GROUP BY it falls
    through."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    mvs = _mvs(spark, tmp_path)
    _base(spark).createOrReplaceTempView("t")
    for text in (
        # keep only detail rows (drop all subtotals)
        "SELECT k, sub, sum(v) AS s FROM t GROUP BY ROLLUP(k, sub) "
        "HAVING grouping(sub) = 0",
        # keep only the subtotal layer, composed with an agg gate
        "SELECT k, sub, sum(v) AS s FROM t GROUP BY CUBE(k, sub) "
        "HAVING grouping(sub) = 1 AND sum(v) > 2",
    ):
        out = try_substitute(spark, text, mvs)
        assert out is not None, text
        assert all("tile" in f for f in out.inputFiles()), text
        assert sorted(map(repr, map(tuple, out.collect()))) \
            == sorted(map(repr, map(tuple, spark.sql(text).collect()))), text
    assert try_substitute(
        spark, "SELECT k, sum(v) AS s FROM t GROUP BY k "
               "HAVING grouping(k) = 0", mvs) is None


def test_fk_subset_snowflake_chain_peels_leaf_first(spark, tmp_path):
    """r14: a SNOWFLAKE join-MV (fact → dim1 → dim2) serves the
    fact-only aggregate when BOTH FKs are registered — dim2 peels
    first (its only pair hangs off dim1), then dim1; with only the
    outer FK registered the chain cannot fully peel and the statement
    falls through."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    fact = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (2, "x", 3.0)],
        "fk int, kind string, v double")
    dim1 = spark.createDataFrame([(1, 10), (2, 20)], "pk int, fk2 int")
    dim2 = spark.createDataFrame([(10, "g"), (20, "h")], "pk2 int, g string")
    for n, df in (("sfact", fact), ("sdim1", dim1), ("sdim2", dim2)):
        df.createOrReplaceTempView(n)
    mvs = MaterializedViews(spark)
    mvs.create_join(
        "snow", {"sfact": fact, "sdim1": dim1, "sdim2": dim2},
        [("fk", "pk"), ("fk2", "pk2")],
        dims=["g", "kind"], measures=[("sum", "v")],
        path=str(tmp_path / "snowtile"))
    sub = "SELECT kind, count(*) AS n, sum(v) AS s FROM sfact GROUP BY kind"
    mvs.register_fk("fk2", "sdim2", "pk2")
    assert try_substitute(spark, sub, mvs) is None, \
        "inner FK alone must not peel the whole chain"
    mvs.register_fk("fk", "sdim1", "pk")
    out = try_substitute(spark, sub, mvs)
    assert out is not None and all("snowtile" in f for f in out.inputFiles())
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, spark.sql(sub).collect()))


# ------------------------------------------------ tile read-plan memo

def test_tile_frame_memo_is_one_lazy_plan_per_tile(spark, tmp_path):
    """tile_frame hands out ONE read plan per tile snapshot, and that
    plan is never a data cache (same contract as the catalog's table
    memo, test_catalog_memo.py)."""
    mvs = _mvs(spark, tmp_path)
    mvs.create("tile2", "t", _base(spark), ["k"], [("sum", "v")],
               str(tmp_path / "tile2"))
    t1, t2 = mvs.tiles
    f1 = mvs.tile_frame(t1)
    assert mvs.tile_frame(t1) is f1
    assert mvs.tile_frame(t2) is not f1
    assert f1.storageLevel.useMemory is False
    assert f1.storageLevel.useDisk is False


def test_tile_frame_memo_dropped_when_create_overwrites(spark, tmp_path):
    """Re-running create at the SAME path (mode overwrite) must serve
    the new contents — a memoized plan would hold the old file listing."""
    from drill_calcite_spark.plans.sql_substitution import try_substitute

    path = str(tmp_path / "otile")
    old = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    new = spark.createDataFrame(
        [("a", 10.0), ("c", 3.0), ("c", 4.0)], "k string, v double")
    text = "SELECT k, count(*) AS n, sum(v) AS s FROM t GROUP BY k"
    mvs = MaterializedViews(spark)
    mvs.create("tile", "t", old, ["k"], [("sum", "v")], path)
    served_old = try_substitute(spark, text, mvs).collect()
    assert sorted(map(tuple, served_old)) == [("a", 1, 1.0), ("b", 1, 2.0)]
    mvs.create("tile", "t", new, ["k"], [("sum", "v")], path)
    out = try_substitute(spark, text, mvs)
    assert out is not None and all("otile" in f for f in out.inputFiles())
    new.createOrReplaceTempView("t")
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, spark.sql(text).collect())) \
        == [("a", 1, 10.0), ("c", 2, 7.0)]
