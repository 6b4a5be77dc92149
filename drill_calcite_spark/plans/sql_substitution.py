"""Transparent materialized-view substitution for the SQL front door.

Reference parity: Calcite consults every registered materialization
during planning and unifies a query's aggregate onto a matching view —
the six AbstractMaterializedViewRule instances wired in
plan/RelOptRules.java:189-197, driven by the unification engine in
plan/SubstitutionVisitor.java:120. The user's SQL never names the view;
the planner proves the view subsumes the query and swaps the scan.
Spark/Catalyst has no such rule, so this module ports the DECIDABLE
subset our tile registry already rewrites through the builder API
(plans/materialized.py): GROUP-BY aggregates over one table or an
INNER equi-join chain, filtered by a conjunction of simple comparison
atoms.

The parser is deliberately closed-world: any construct outside the
shape below makes ``try_substitute`` return None and the statement
falls through to ``spark.sql`` untouched. Substitution therefore can
only ever replace a plan it can PROVE equivalent — the same soundness
posture as ``_implies`` (False means "cannot prove", never "wrong").

Supported statement shape (whitespace-insensitive, case-insensitive):

    SELECT item [, item ...]
    FROM table [[AS] alias]
         [JOIN table [[AS] alias] ON col = col [AND col = col ...] ...]
    [WHERE bool]
    GROUP BY col [, col ...]
           | ROLLUP(col, ...) | CUBE(col, ...)
           | GROUPING SETS ((col, ...) | col | (), ...)
    [HAVING agg(col|*) cmp number [AND ...]]
    [ORDER BY out_col [ASC|DESC] [, ...]] [LIMIT k] [OFFSET m]
    (OFFSET requires an ORDER BY — an un-ordered offset is
    nondeterministic and falls through)

    item ::= col [AS alias]
           | sum|count|min|max|avg ( col | * ) AS alias
           | var_pop|var_samp|stddev_pop|stddev_samp|stddev|variance
             ( col ) AS alias     (AggregateReduceFunctionsRule: the
             tile's (sum, sumsq, count) triple rolls up; the formula
             computes above — STDDEV/VARIANCE canonicalize to _SAMP)
           | count ( DISTINCT col ) AS alias
           | grouping ( col ) AS alias          (non-plain GROUP BY)
           | ( grouping(col) [* k] [+ ...] ) AS alias   (the expanded
             GROUPING_ID arithmetic _rewrite_grouping_funcs emits)
    bool ::= conj [AND conj ...]
    conj ::= atom | ( bool ) | disj
    disj ::= branch OR branch [OR ...]     -- bounded disjunction: each
             branch is an atom or a parenthesized atom-conjunction;
             disjunctions never nest (out of grammar falls through)
    atom ::= col (= | < | <= | > | >=) literal
           | col BETWEEN literal AND literal   (→ two closed bounds,
             parenthesized so a branch-local BETWEEN binds correctly)
    literal ::= number | 'string' | DATE 'lit' | TIMESTAMP 'lit'

Table aliases are stripped from column references before item parsing
(column names are unique per table in this closed world; self-joins,
where an alias carries row identity, are rejected). Disjunctions are
residual-ONLY: they never help prove a filtered tile's own predicate,
must touch only tile dims, and re-apply wholesale on the tile — never
as a union of rollups, which would double-count aggregate rows. This
is exactly the shape DateRangeRules emits for ``EXTRACT(YEAR d) <> k``
(two half-open ranges) and disjoint IN-list years.

ROLLUP / CUBE / GROUPING SETS serve from a plain tile covering the
UNION of the grouped columns — every grouping set is a rollup of tile
grain (AggregateStarTableRule's rollup-query serve); grouping()
indicators compute above the tile re-aggregation because they depend
only on the grouping-set structure, never the relation underneath.

A single-table aggregate may also be served from a JOIN-MV joining
MORE tables when every extra table hangs off a registered FK
(MaterializedViews.register_fk — RelReferentialConstraint join
derivability) and the query references only the base table's own
columns (checked against its schema).

COUNT(DISTINCT col) is served when ``col`` is a TILE DIM: the tile
holds one row per (dims) combination, so distinct-counting the dim
over the rolled group is exactly the base-table distinct count —
Calcite's AggregateStarTableRule serves COUNT(DISTINCT) from lattice
tiles the same way (roll up to a grain that still carries the column,
materialize/Lattice.java:93). Any other DISTINCT form falls through.

HAVING conjuncts must themselves be tile-servable aggregates — they
join the find_tile measure probe as hidden columns and are applied as
a filter ABOVE the rollup, exactly where Calcite leaves the HAVING
when it unifies the aggregate underneath it.

An INNER equi-join chain is looked up by its canonical join signature
(sorted tables + sorted key pairs, key qualifiers stripped) — the same
identity ``create_join`` registers, so a query spelling the join
either way round unifies with the join-MV and never re-executes the
join. Aliased, outer, or non-equi joins fall through.

Serving: ``MaterializedViews.find_tile`` decides (dims ⊇ query dims,
measures stored, tile predicate implied by the query predicate);
residual atoms are re-applied on the tile and the rollup re-aggregation
algebra produces the SELECT list in its original order and names.

Scale notes: the substituted plan scans ONLY the tile parquet —
typically 10^3-10^6× smaller than the fact table — and its rollup
shuffles tile rows, not base rows. The probe itself is driver-side
string work plus dict lookups per statement. A hit starts from the
tile's memoized read plan (``MaterializedViews.tile_frame``: a plan,
never data; snapshot paths are immutable while registered, and the
memo entry is dropped on ``create`` and ``incremental_refresh``), so
it pays no file listing or schema inference, only the py4j calls that
build the rollup. A miss costs no Spark call unless a join-MV indexes
the statement's table, when the FK-derivable check reads that table's
schema.
"""

from __future__ import annotations

import functools
import operator
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drill_calcite_spark import sqltext
from drill_calcite_spark.plans.materialized import (
    Atom,
    MaterializedViews,
    _atom_cond,
    _conj,
)

# longest-first so the regex alternation can't truncate a suffixed op;
# STDDEV/VARIANCE are Calcite's aliases for the _SAMP forms
# (SqlStdOperatorTable) and canonicalize at parse time
_AGG_OPS = ("stddev_samp", "stddev_pop", "var_samp", "var_pop",
            "stddev", "variance", "sum", "count", "min", "max", "avg")
_AGG_CANON = {"stddev": "stddev_samp", "variance": "var_samp"}

# FROM clause: one table, optionally INNER-joined to more via a chain
# of `JOIN t ON a = b [AND c = d ...]` (the join-MV signature shape;
# outer joins and non-equi conditions fall out of the match). Every
# table may carry an `[AS] alias` — qualifiers are stripped from the
# rest of the statement before item parsing (column names are unique
# per table in this closed world, so a qualifier adds no information;
# self-joins, where it would, are rejected in _parse_from).
_KW_GUARD = (r"(?!join\b|on\b|where\b|group\b|having\b|order\b|"
             r"limit\b|as\b)")
_ALIAS_OPT = rf"(?:\s+(?:as\s+)?{_KW_GUARD}[a-z_]\w*)?"
_FROM_CHAIN = (
    rf"[a-z_]\w*{_ALIAS_OPT}"
    rf"(?:\s+join\s+[a-z_]\w*{_ALIAS_OPT}\s+on\s+[\w.]+\s*=\s*[\w.]+"
    r"(?:\s+and\s+[\w.]+\s*=\s*[\w.]+)*)*")

_SHAPE = re.compile(
    rf"^\s*select\s+(?P<select>.+?)\s+from\s+(?P<from>{_FROM_CHAIN})"
    r"(?:\s+where\s+(?P<where>.+?))?"
    r"\s+group\s+by\s+(?P<group>[\w\s,.()]+?)"
    r"(?:\s+having\s+(?P<having>.+?))?"
    r"(?:\s+order\s+by\s+(?P<order>[\w\s,.]+?))?"
    r"(?:\s+limit\s+(?P<limit>\d+))?"
    r"(?:\s+offset\s+(?P<offset>\d+))?\s*;?\s*$",
    re.I | re.S)

# GROUP BY ROLLUP(...) / CUBE(...) / GROUPING SETS ((..), ..) — each
# grouping set is a rollup of tile grain, so a plain tile covering the
# UNION of the grouped columns serves the whole multi-set aggregate
# (Calcite's AggregateStarTableRule serves ROLLUP queries from lattice
# tiles the same way, rel/rules/AggregateStarTableRule.java;
# materialize/Lattice.java:93). The re-aggregation runs Spark's own
# rollup/cube/groupingSets over the TILE rows with the rollup algebra
# measures — grouping-set NULL markers and grouping() indicators come
# out identical to the base-table plan because they depend only on the
# grouping-set structure, never on which relation is underneath.
_GB_ROLLCUBE = re.compile(
    r"^(rollup|cube)\s*\(\s*([\w\s,.]+?)\s*\)$", re.I)
_GB_SETS = re.compile(r"^grouping\s+sets\s*\((.*)\)\s*$", re.I | re.S)
_GB_ONE_SET = re.compile(r"^\(\s*([\w\s,.]*?)\s*\)$", re.S)

# the front door's nulls-high collation rewrite may have annotated the
# items with explicit NULLS FIRST/LAST before substitution sees them
_ORDER_ITEM = re.compile(
    r"^([a-z_]\w*)(?:\s+(asc|desc))?(?:\s+nulls\s+(first|last))?$", re.I)

_JOIN_STEP = re.compile(
    rf"\s+join\s+([a-z_]\w*)((?:\s+(?:as\s+)?{_KW_GUARD}[a-z_]\w*)?)"
    r"\s+on\s+(.+?)(?=\s+join\s+|\s*$)",
    re.I | re.S)
_FROM_HEAD = re.compile(
    rf"^([a-z_]\w*)((?:\s+(?:as\s+)?{_KW_GUARD}[a-z_]\w*)?)", re.I)
_ON_PAIR = re.compile(r"^([\w.]+)\s*=\s*([\w.]+)$")

_AGG_ITEM = re.compile(
    rf"^({'|'.join(_AGG_OPS)})\s*\(\s*(\*|[a-z_]\w*)\s*\)"
    r"\s+as\s+([a-z_]\w*)$", re.I)

_DIM_ITEM = re.compile(r"^([a-z_]\w*)(?:\s+as\s+([a-z_]\w*))?$", re.I)

# COUNT(DISTINCT col) — servable iff col is a tile dim (see module
# docstring); every other DISTINCT aggregate falls through via the
# item-parse failure
_CD_ITEM = re.compile(
    r"^count\s*\(\s*distinct\s+([a-z_]\w*)\s*\)\s+as\s+([a-z_]\w*)$",
    re.I)

# grouping(col) AS alias — the grouping-set indicator; computable above
# the tile re-aggregation because it depends only on which grouping set
# produced the row, never on the underlying relation. GROUPING_ID(...)
# never reaches this parser in its spelled form: the front door's
# _rewrite_grouping_funcs (sql.py) has already expanded it into the
# weighted grouping() sum, which _GEXPR_ITEM below consumes.
_GFN_ITEM = re.compile(
    r"^grouping\s*\(\s*([a-z_]\w*)\s*\)\s+as\s+([a-z_]\w*)$", re.I)
_GEXPR_TERM = r"grouping\s*\(\s*[a-z_]\w*\s*\)(?:\s*\*\s*\d+)?"
_GEXPR_ITEM = re.compile(
    rf"^\(\s*({_GEXPR_TERM}(?:\s*\+\s*{_GEXPR_TERM})*)\s*\)"
    r"\s+as\s+([a-z_]\w*)$", re.I)
_GEXPR_PART = re.compile(
    r"grouping\s*\(\s*([a-z_]\w*)\s*\)(?:\s*\*\s*(\d+))?", re.I)

_ATOM = re.compile(
    r"^([a-z_]\w*)\s*(<=|>=|=|<|>)\s*"
    r"(?:(?:date|timestamp)\s+)?('(?:[^']|'')*'|-?\d+(?:\.\d+)?)$", re.I)

# col BETWEEN lit AND lit — normalized to the two closed-bound atoms
# BEFORE the conjunction split (whose \band\b would otherwise cut the
# BETWEEN itself in half); NOT BETWEEN disqualifies the statement
# (its complement is a disjunction, which this prover never serves)
_LIT_PAT = r"(?:(?:date|timestamp)\s+)?(?:'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
_BETWEEN_ATOM = re.compile(
    rf"\b([a-z_]\w*)\s+between\s+({_LIT_PAT})\s+and\s+({_LIT_PAT})",
    re.I)

# HAVING conjunct: a servable aggregate compared to a numeric literal —
# Calcite applies HAVING above the rewritten aggregate, so the tile
# path applies it post-rollup (AggregateFilterTransposeRule territory;
# the aggregate itself must be computable from stored measures)
_HAVING_ATOM = re.compile(
    rf"^({'|'.join(_AGG_OPS)})\s*\(\s*(\*|[a-z_]\w*)\s*\)"
    r"\s*(<=|>=|=|<|>)\s*(-?\d+(?:\.\d+)?)$", re.I)

# HAVING grouping(col) cmp k — the ROLLUP companion gate (keep or drop
# subtotal rows); valid only under a non-plain GROUP BY, computed as a
# hidden grouping indicator and filtered above the re-aggregation
_HAVING_GFN = re.compile(
    r"^grouping\s*\(\s*([a-z_]\w*)\s*\)\s*(<=|>=|=|<|>)\s*(\d+)$",
    re.I)

# constructs that disqualify a statement outright (sub-queries, set
# ops, post-aggregate clauses, outer joins) — probed before the shape
# match so a HAVING/ORDER BY can never be silently swallowed into the
# GROUP BY list. OR is NOT disqualified since r14: the WHERE grammar
# parses bounded disjunctions structurally (_parse_bool) — the shape
# DateRangeRules emits for `EXTRACT(YEAR ...) <> k` and disjoint
# IN-lists — and an OR anywhere else fails the item regexes and falls
# through.
_DISQUALIFY = re.compile(
    r"\(\s*select\b|\bunion\b|\bintersect\b|\bexcept\b|"
    r"\bselect\s+distinct\b|\bover\s*\(|"
    r"\b(?:left|right|full|cross|outer|semi|anti)\s+join\b", re.I)


def _parse_bool(text: str):
    """Structural parse of the WHERE grammar: a conjunction whose
    conjuncts are simple atoms, parenthesized sub-conjunctions, or
    BOUNDED DISJUNCTIONS — an OR of pure atom-conjunctions, the shape
    DateRangeRules emits for `EXTRACT(YEAR d) <> k` (two half-open
    ranges) and for disjoint IN-list years (an OR of year ranges).
    Returns (atoms, oratoms) where the predicate is AND over all
    atoms and oratoms; an oratom is a list of branches, each a list of
    atoms (OR of ANDs). Disjunctions never nest inside branches — out
    of grammar returns None (the statement falls through untouched)."""
    atoms: list[Atom] = []
    ors: list[list[list[Atom]]] = []
    for conj in sqltext.split(text, r"\band\b"):
        conj = conj.strip()
        if sqltext.wrapped(conj):
            sub = _parse_bool(conj[1:-1].strip())  # strictly shrinks
            if sub is None:
                return None
            atoms.extend(sub[0])
            ors.extend(sub[1])
            continue
        branches = sqltext.split(conj, r"\bor\b")
        if len(branches) > 1:
            br: list[list[Atom]] = []
            for b in branches:
                sub = _parse_bool(b)
                if sub is None or sub[1]:
                    return None  # nested disjunction: out of grammar
                br.append(sub[0])
            ors.append(br)
            continue
        if "(" in conj or ")" in conj:
            return None  # function call etc. — wrapping parens were
            #              already stripped, so this can't be a group
        am = _ATOM.match(conj)
        if not am:
            return None
        atoms.append((am.group(1), am.group(2),
                      _parse_literal(am.group(3))))
    return atoms, ors


def _parse_literal(tok: str) -> object:
    if tok.startswith("'"):
        return tok[1:-1].replace("''", "'")
    return float(tok) if "." in tok else int(tok)


def _strip_qual(col: str) -> str:
    return col.rsplit(".", 1)[-1]


def _parse_from(clause: str):
    """FROM chain → (table_key, tables_or_None, quals): quals is every
    name (table or alias) that may qualify a column reference in the
    statement; tables_or_None is None for a single table."""
    head = _FROM_HEAD.match(clause)
    tables = [head.group(1).lower()]
    quals = {tables[0]}

    def alias_of(tok: str) -> "str | None":
        tok = re.sub(r"^\s*(?:as\s+)?", "", tok.strip(), flags=re.I)
        return tok.lower() or None

    a = alias_of(head.group(2) or "")
    if a:
        quals.add(a)
    pairs: list[tuple[str, str]] = []
    for jm in _JOIN_STEP.finditer(clause):
        tables.append(jm.group(1).lower())
        quals.add(jm.group(1).lower())
        a = alias_of(jm.group(2) or "")
        if a:
            quals.add(a)
        for cond in re.split(r"\band\b", jm.group(3), flags=re.I):
            pm = _ON_PAIR.match(cond.strip())
            if not pm:
                return None
            pairs.append((_strip_qual(pm.group(1)),
                          _strip_qual(pm.group(2))))
    if len(tables) == 1:
        return tables[0], None, quals
    if len(set(tables)) != len(tables):
        return None  # self-join: aliases DO carry row identity — bail
    return MaterializedViews.join_signature(tables, pairs), tables, quals


def _strip_quals(text: str, quals: set) -> str:
    """Remove `qual.` prefixes from column references, outside string
    literals — after the self-join rejection a qualifier carries no
    information (column names are unique per table here), so the
    closed-world item grammar can stay qualifier-free."""
    if not quals:
        return text
    pat = re.compile(
        r"\b(" + "|".join(sorted(map(re.escape, quals))) + r")\s*\.\s*"
        r"(?=[a-z_])", re.I)
    mask = sqltext.mask(text)
    return pat.sub(lambda m: m.group(0) if mask[m.start()] else "", text)


def _parse_group(clause: str):
    """GROUP BY clause → (mode, sets, cols). mode ∈ {"plain", "rollup",
    "cube", "gsets"}; ``cols`` is the union of grouped columns in first
    appearance order (the probe dims and the output grouping columns);
    ``sets`` is the explicit set list for "gsets", None otherwise.
    Returns None on anything outside the closed-world shape."""
    clause = clause.strip()

    def cols_of(s: str) -> "list[str] | None":
        out = []
        for g in map(str.strip, sqltext.split(s)) if s.strip() else []:
            if not re.match(r"^[a-z_]\w*$", g, re.I):
                return None
            out.append(g)
        return out

    rm = _GB_ROLLCUBE.match(clause)
    if rm:
        cols = cols_of(rm.group(2))
        if not cols:
            return None
        return rm.group(1).lower(), None, cols
    sm = _GB_SETS.match(clause)
    if sm:
        sets, union = [], []
        for part in sqltext.split(sm.group(1)):
            pm = _GB_ONE_SET.match(part.strip())
            members = (cols_of(pm.group(1)) if pm
                       else cols_of(part))   # bare col ≡ ((col))
            if members is None:
                return None
            sets.append(members)
            union.extend(c for c in members if c not in union)
        if not sets or not union:
            return None
        return "gsets", sets, union
    cols = cols_of(clause)
    if not cols:
        return None
    return "plain", None, cols


def _parse(text: str):
    """Parse the supported aggregate shape; None on anything else."""
    if _DISQUALIFY.search(text):
        return None
    m = _SHAPE.match(text)
    if not m:
        return None
    parsed_from = _parse_from(m.group("from"))
    if parsed_from is None:
        return None
    table, join_tables, quals = parsed_from

    def unq(s: "str | None") -> "str | None":
        return _strip_quals(s, quals) if s else s

    gb = _parse_group(unq(m.group("group")))
    if gb is None:
        return None
    gb_mode, gb_sets, group_cols = gb
    items: list[tuple] = []       # ("dim", col, out) | ("agg", op, col, out)
    #                             # | ("cd", col, out)  [count(distinct)]
    #                             # | ("gfn", col, out)  [grouping(col)]
    #                             # | ("gexpr", ((col, mult), ...), out)
    measures: list[tuple[str, str, str]] = []
    for item in map(str.strip, sqltext.split(unq(m.group("select")))):
        cm = _CD_ITEM.match(item)
        if cm:
            items.append(("cd", cm.group(1), cm.group(2)))
            continue
        gm = _GFN_ITEM.match(item)
        if gm:
            if gb_mode == "plain" or gm.group(1) not in group_cols:
                return None
            items.append(("gfn", gm.group(1), gm.group(2)))
            continue
        ge = _GEXPR_ITEM.match(item)
        if ge:
            terms = tuple(
                (c, int(mult) if mult else 1)
                for c, mult in _GEXPR_PART.findall(ge.group(1)))
            if gb_mode == "plain" or \
                    any(c not in group_cols for c, _ in terms):
                return None
            items.append(("gexpr", terms, ge.group(2)))
            continue
        am = _AGG_ITEM.match(item)
        if am:
            op, col, out = (am.group(1).lower(), am.group(2),
                            am.group(3))
            op = _AGG_CANON.get(op, op)
            if col == "*" and op != "count":
                return None
            measures.append((out, op, col))
            items.append(("agg", op, col, out))
            continue
        dm = _DIM_ITEM.match(item)
        if dm and dm.group(1).lower() not in ("null", "true", "false"):
            col, alias = dm.group(1), dm.group(2) or dm.group(1)
            if col not in group_cols:
                return None
            items.append(("dim", col, alias))
            continue
        return None
    if not measures and not any(it[0] == "cd" for it in items):
        return None
    atoms: list[Atom] = []
    oratoms: list[list[list[Atom]]] = []
    if m.group("where"):
        w = unq(m.group("where"))
        if re.search(r"\bnot\s+between\b", w, re.I):
            return None
        # BETWEEN → two closed bounds, PARENTHESIZED: inside an OR
        # branch the bare conjunction would rebind against the OR
        w = _BETWEEN_ATOM.sub(
            lambda b: (f"({b.group(1)} >= {b.group(2)} and "
                       f"{b.group(1)} <= {b.group(3)})"), w)
        parsed_w = _parse_bool(w)
        if parsed_w is None:
            return None
        atoms, oratoms = parsed_w
    havings: list[tuple[str, str, str, float]] = []
    if m.group("having"):
        for part in re.split(r"\band\b", unq(m.group("having")),
                             flags=re.I):
            part = part.strip()
            gm = _HAVING_GFN.match(part)
            if gm:
                if gb_mode == "plain" or gm.group(1) not in group_cols:
                    return None
                havings.append(("grouping", gm.group(1), gm.group(2),
                                int(gm.group(3))))
                continue
            hm = _HAVING_ATOM.match(part)
            if not hm:
                return None
            op, col = hm.group(1).lower(), hm.group(2)
            op = _AGG_CANON.get(op, op)
            if col == "*" and op != "count":
                return None
            havings.append((op, col, hm.group(3),
                            float(hm.group(4))))
    # ORDER BY / LIMIT above the aggregate: sort keys must be OUTPUT
    # columns (dim aliases or measure aliases) — the sort reorders the
    # rollup result, it never reaches inside the aggregate
    out_names = {it[-1] for it in items}
    order: list[tuple[str, bool, "str | None"]] = []
    if m.group("order"):
        for part in sqltext.split(unq(m.group("order"))):
            om = _ORDER_ITEM.match(part.strip())
            if not om or om.group(1) not in out_names:
                return None
            order.append((om.group(1),
                          (om.group(2) or "asc").lower() == "asc",
                          om.group(3) and om.group(3).lower()))
    limit = int(m.group("limit")) if m.group("limit") else None
    offset = int(m.group("offset")) if m.group("offset") else None
    if offset is not None and not order:
        return None  # offset without a total order is nondeterministic
    return (table, group_cols, measures, atoms, items, havings,
            order, (limit, offset), gb_mode, gb_sets, join_tables,
            oratoms)


def try_substitute(spark: SparkSession, text: str,
                   mvs: "MaterializedViews") -> "DataFrame | None":
    """Rewrite ``text`` onto a registered tile when one provably serves
    it; None when the statement is out of shape or no tile matches (the
    caller then runs the statement unmodified)."""
    parsed = _parse(text)
    if parsed is None:
        return None
    (table, group_cols, measures, atoms, items, havings,
     order, (limit, offset), gb_mode, gb_sets, join_tables,
     oratoms) = parsed
    # HAVING aggregates must also be servable from the tile — probe
    # find_tile with them included (hidden output columns); a
    # grouping() gate needs no stored measure (the indicator computes
    # from the grouping-set structure) so it stays out of the probe
    hidden = [(f"__h{i}", op, col)
              for i, (op, col, _cmp, _v) in enumerate(havings)
              if op != "grouping"]
    ghidden = [(f"__g{i}", col)
               for i, (op, col, _cmp, _v) in enumerate(havings)
               if op == "grouping"]
    # COUNT(DISTINCT col) needs the column AT TILE GRAIN: probe with it
    # as an extra dim — the tile's one-row-per-dims layout then makes
    # countDistinct over the rolled group exact (module docstring)
    cd_cols = [it[1] for it in items if it[0] == "cd"]
    probe_dims = group_cols + [c for c in dict.fromkeys(cd_cols)
                               if c not in group_cols]
    hit = mvs.find_tile(table, probe_dims, measures + hidden, atoms)
    if hit is None and join_tables is None and table in mvs._by_member:
        # FK-derivable subset unification: a single-table aggregate can
        # be served from a JOIN-MV that joins the table to more tables,
        # when every extra table hangs off a registered FK (the join
        # preserves the kept rows 1:1) AND the query references only
        # the base table's own columns — checked against the table's
        # actual schema (driver-side metadata, no job), so a dropped-
        # table column can never be silently served. The schema read
        # is a Spark call, so it runs only when some join-MV indexes
        # this table; otherwise find_derivable_tile cannot hit.
        refs = (set(probe_dims)
                | {col for _o, _op, col in measures + hidden
                   if col != "*"}
                | {a[0] for a in atoms}
                | {a[0] for branches in oratoms
                   for br in branches for a in br})
        try:
            owned = {c.lower() for c in spark.table(table).columns}
        except Exception:
            owned = None
        if owned is not None and all(c.lower() in owned for c in refs):
            hit = mvs.find_derivable_tile(table, probe_dims,
                                          measures + hidden, atoms)
    if hit is None:
        return None
    tile, residual = hit
    # bounded disjunctions (the `<>`-year / disjoint-IN-list range
    # shapes) are residual-only: they never help prove the tile's own
    # predicate (the plain atoms alone must imply it — conservative),
    # and they re-apply wholesale on the tile, so every column they
    # touch must be a tile dim or the serve is off
    if any(a[0] not in tile.dims
           for branches in oratoms for br in branches for a in br):
        return None
    tdf = mvs.tile_frame(tile)
    conds = [_conj(residual)] if residual else []
    conds += [functools.reduce(operator.or_, map(_conj, branches))
              for branches in oratoms]
    if conds:
        tdf = tdf.filter(functools.reduce(operator.and_, conds))
    aggs = [MaterializedViews._rollup_agg(op, col).alias(out)
            for out, op, col in measures + hidden]
    aggs += [F.grouping(col).cast("bigint").alias(g)
             for g, col in ghidden]
    aggs += [F.countDistinct(F.col(it[1])).alias(it[2])
             for it in items if it[0] == "cd"]
    # grouping-set indicators live in the agg list (Spark resolves
    # grouping()/grouping_id only inside the aggregation); the values
    # depend only on the grouping-set structure, so computing them over
    # the TILE rollup equals computing them over the base table
    for it in items:
        if it[0] == "gfn":
            aggs.append(F.grouping(it[1]).cast("bigint").alias(it[2]))
        elif it[0] == "gexpr":
            e = None
            for c, mult in it[1]:
                term = F.grouping(c).cast("bigint") * F.lit(mult)
                e = term if e is None else e + term
            aggs.append(e.alias(it[2]))
    if gb_mode == "rollup":
        grouped = tdf.rollup(*group_cols)
    elif gb_mode == "cube":
        grouped = tdf.cube(*group_cols)
    elif gb_mode == "gsets":
        grouped = tdf.groupingSets(gb_sets, *group_cols)
    else:
        grouped = tdf.groupBy(*group_cols)
    rolled = grouped.agg(*aggs)
    hiter, giter = iter(hidden), iter(ghidden)
    for op, _col, cmp, val in havings:
        h = next(giter)[0] if op == "grouping" else next(hiter)[0]
        rolled = rolled.filter(_atom_cond((h, cmp, val)))
    # the rollup already is the SELECT list when its columns carry the
    # item names in item order (no dim alias, no hidden HAVING column):
    # then the projection would only cost an analysis pass and a py4j
    # round trip per column
    names = [it[-1] for it in items]
    sources = [it[1] if it[0] == "dim" else it[-1] for it in items]
    out = rolled
    if not sources == names == rolled.columns:
        out = rolled.select(*[F.col(it[1]).alias(it[2]) if it[0] == "dim"
                              else F.col(it[-1]) for it in items])
    if order:
        def key(c: str, asc: bool, nulls: "str | None"):
            col = F.col(c)
            if nulls is None:
                return col.asc() if asc else col.desc()
            if asc:
                return (col.asc_nulls_first() if nulls == "first"
                        else col.asc_nulls_last())
            return (col.desc_nulls_first() if nulls == "first"
                    else col.desc_nulls_last())

        out = out.orderBy(*[key(*o) for o in order])
    if offset is not None:
        # SQL applies OFFSET below LIMIT: skip m rows, then take k
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out
