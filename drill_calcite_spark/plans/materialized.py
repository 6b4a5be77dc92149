"""Materialized-view / lattice-tile rewrite.

Reference parity: Calcite rewrites queries onto registered materialized
views when the view subsumes the query (AbstractMaterializedViewRule ×6,
plan/RelOptMaterializations.java:70-105) and rolls aggregates up from
lattice tiles (AggregateStarTableRule, materialize/Lattice.java:93). OSS
Catalyst has neither, so this is a custom layer (SURVEY.md §4.1 ❌ rows).

Scope (v1, the useful 80%): AGGREGATE tiles. A view is a pre-aggregated
tile over (dims, measures); a query asking for a dim subset with
re-aggregable measures is served by rolling the tile up instead of
scanning the base table. Re-aggregation algebra:

    sum      → sum(sum_tile)        count(*)   → sum(count_*_tile)
    min      → min(min_tile)        count(col) → sum(count_col_tile)
    max      → max(max_tile)
    avg(col) → sum(sum_col_tile) / sum(count_col_tile)   (derived, never stored)
    count(distinct col) → countDistinct(col) over tile rows — served when
                          col is a tile DIM (tile grain carries it;
                          AggregateStarTableRule, materialize/Lattice.java:93)

NULL fidelity: avg and count(col) re-aggregate from a *per-column*
non-null count tile (count(col)), never from count(*) — so tile-served
and base-served results are identical even when the measure column
contains NULLs.

Filter subsumption (MaterializedViewFilterScanRule,
plan/RelOptRules.java:189-197 / SubstitutionVisitor.java:120): a tile may
carry a WHERE predicate P; a query WHERE Q is served by the tile iff
Q ⟹ P (every base row the query wants is in the tile) and the residual
atoms of Q are decidable on the tile (they reference tile dims, or are
textually enforced by P already). Predicates are conjunctions of atoms
``(col, op, value)`` with op ∈ {=, <, <=, >, >=} — the declarative subset
over which implication is decidable without a full RexImplication engine.

Scale notes: tiles are parquet, typically 10^3-10^6× smaller than the
fact table; the rollup is a shuffle over the tile only. Tile freshness is
the caller's contract (rebuild on data change), exactly as with Calcite's
materializations. Each tile snapshot's read plan is built once per
registry (``MaterializedViews.tile_frame``), so a serve pays no file
listing or schema inference.
"""

from __future__ import annotations

import dataclasses
import functools
import operator
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# measure spec: out_name -> (op, source_col); op ∈ SUPPORTED_OPS ∪
# {"avg"} ∪ VARIANCE_OPS. avg stores its (sum, count) pair; the
# variance family stores (sum, count, sumsq) — Calcite's
# AggregateReduceFunctionsRule decomposition (rel/rules/
# AggregateReduceFunctionsRule.java reduces STDDEV/VAR to SUM(x),
# SUM(x*x), COUNT(x)), which is exactly what makes the measures
# tile-rollable: the three sums re-aggregate, the variance formula
# computes above the rollup.
SUPPORTED_OPS = {"sum", "count", "min", "max", "sumsq"}
VARIANCE_OPS = {"var_pop", "var_samp", "stddev_pop", "stddev_samp"}

# predicate atom: (col, op, value)
Atom = tuple[str, str, object]


def _tile_col(op: str, col: str) -> str:
    return f"__{op}_{col}"


# each Column operator is a py4j round trip: build only the one asked for
_CMP = {"=": operator.eq, "<": operator.lt, "<=": operator.le,
        ">": operator.gt, ">=": operator.ge}


def _atom_cond(atom: Atom) -> Column:
    c, op, v = atom
    return _CMP[op](F.col(c), v)


def _conj(atoms: list[Atom] | tuple[Atom, ...]) -> Column:
    """AND of a NON-EMPTY atom list."""
    return functools.reduce(operator.and_, map(_atom_cond, atoms))


def _implies(q: Atom, p: Atom) -> bool:
    """Does atom q imply atom p? (x satisfies q ⇒ x satisfies p).
    Sound, not complete — False means 'cannot prove', never 'wrong'."""
    qc, qo, qv = q
    pc, po, pv = p
    if qc != pc:
        return False
    if (qo, qv) == (po, pv):
        return True
    try:
        if po == ">=":
            return qo in (">=", ">", "=") and qv >= pv
        if po == ">":
            return (qo == ">" and qv >= pv) or (qo in (">=", "=") and qv > pv)
        if po == "<=":
            return qo in ("<=", "<", "=") and qv <= pv
        if po == "<":
            return (qo == "<" and qv <= pv) or (qo in ("<=", "=") and qv < pv)
        if po == "=":
            return False  # only the identical atom (handled above) implies =
    except TypeError:
        return False
    return False


@dataclass
class _Tile:
    name: str
    table: str
    dims: tuple[str, ...]
    ops: frozenset  # of (op, col) pairs stored in the tile
    path: str
    where: tuple[Atom, ...] = ()
    # join-MVs record their composition so a query over a SUBSET of
    # the joined tables can unify when the dropped tables are
    # FK-derivable (see find_derivable_tile)
    join_tables: "tuple[str, ...] | None" = None
    join_pairs: "tuple[tuple[str, str], ...] | None" = None


@dataclass
class MaterializedViews:
    """Registry + rewriter for aggregate tiles."""

    spark: SparkSession
    tiles: list[_Tile] = field(default_factory=list)
    # registered referential constraints: (fk_col, dim_table, pk_col).
    # Column names are unique across this closed world's tables, so the
    # fact side is identified by column ownership.
    fks: set = field(default_factory=set)
    # probe indexes (r13 advisory stretch): tile POSITIONS keyed by
    # table/signature, and join-tile positions keyed by member table —
    # ``calcite_sql`` probes every statement, so the per-statement cost
    # must be a dict lookup, not a scan of every registered tile.
    # Positions (not tile objects) stay valid across the in-place
    # snapshot swap incremental_refresh performs.
    _by_table: dict = field(default_factory=dict)
    _by_member: dict = field(default_factory=dict)
    # tile snapshot path -> its lazy read plan (tile_frame)
    _frames: dict = field(default_factory=dict, repr=False, compare=False)

    def tile_frame(self, tile: _Tile) -> DataFrame:
        """The lazy ``spark.read.parquet`` plan of ``tile``'s snapshot,
        built once per path: ``spark.read.parquet`` lists the files and
        infers the schema on every call, which costs a tile hit more
        than its rollup plan does. Memo contract (the same as
        catalog.read_table's table-plan memo): it holds PLANS, never
        data, so every action re-scans the parquet; a snapshot path is
        immutable while registered, and the entry is dropped when
        ``create`` (re)writes the path or ``incremental_refresh`` swaps
        in a new snapshot."""
        df = self._frames.get(tile.path)
        if df is None:
            df = self._frames.setdefault(
                tile.path, self.spark.read.parquet(tile.path))
        return df

    def _tiles_for(self, table: str):
        return (self.tiles[i] for i in self._by_table.get(table, ()))

    def register_fk(self, fk_col: str, dim_table: str,
                    pk_col: str) -> None:
        """Declare a foreign key: every base row's ``fk_col`` is
        non-NULL and matches EXACTLY ONE ``dim_table`` row's ``pk_col``
        (the dim key is unique). Under this constraint an INNER
        equi-join to the dim neither drops nor duplicates fact rows —
        Calcite models the same metadata as RelReferentialConstraint
        on RelOptTable, and AbstractMaterializedViewRule uses it to
        unify a query with a join-MV that joins MORE tables than the
        query names (join derivability, SubstitutionVisitor.java:120
        context). The constraint is declared, not checked — exactly the
        reference's posture (constraints are catalog metadata)."""
        self.fks.add((fk_col.lower(), dim_table.lower(),
                      pk_col.lower()))

    def create(
        self, name: str, table: str, base: DataFrame,
        dims: list[str], measures: list[tuple[str, str]], path: str,
        where: list[Atom] | None = None,
        if_not_exists: bool = False,
    ) -> None:
        """CREATE MATERIALIZED VIEW name AS SELECT dims, aggs FROM table
        [WHERE atoms] GROUP BY dims (server/.../SqlCreateMaterializedView.java).
        A ``count(*)`` tile is always added; an ``avg`` measure stores its
        (sum, count(col)) pair so NULL-aware re-aggregation is exact.
        ``if_not_exists`` mirrors Calcite's CREATE MATERIALIZED VIEW IF
        NOT EXISTS (SqlCreateMaterializedView.java ifNotExists flag):
        when the parquet snapshot is already on disk, the build is
        skipped and the existing snapshot is registered as-is — the
        caller owns the staleness contract, same as the reference."""
        ops: set[tuple[str, str]] = set()
        for op, col in measures:
            if op == "avg":
                ops |= {("sum", col), ("count", col)}
            elif op in VARIANCE_OPS:
                ops |= {("sum", col), ("count", col), ("sumsq", col)}
            elif op in SUPPORTED_OPS:
                ops.add((op, col))
        ops |= {("count", "*")}
        aggs = []
        for op, col in sorted(ops):
            if op == "count":
                aggs.append(F.count(F.lit(1) if col == "*" else F.col(col))
                            .alias(_tile_col(op, col)))
            elif op == "sumsq":
                aggs.append(F.sum(F.col(col) * F.col(col))
                            .alias(_tile_col(op, col)))
            else:
                aggs.append(getattr(F, op)(col).alias(_tile_col(op, col)))
        watoms = tuple(where or ())
        import os as _os
        if not (if_not_exists
                and _os.path.exists(_os.path.join(path, "_SUCCESS"))):
            src = base.filter(_conj(watoms)) if watoms else base
            (src.groupBy(*dims).agg(*aggs)
             .write.mode("overwrite").parquet(path))
            self._frames.pop(path, None)
        self.tiles.append(
            _Tile(name, table, tuple(dims), frozenset(ops), path, watoms)
        )
        self._by_table.setdefault(table, []).append(len(self.tiles) - 1)

    def _needed_ops(self, measures: list[tuple[str, str, str]]) -> set:
        need = set()
        for _out, op, col in measures:
            if op == "avg":
                need |= {("sum", col), ("count", col)}
            elif op in VARIANCE_OPS:
                need |= {("sum", col), ("count", col), ("sumsq", col)}
            elif op == "count_distinct":
                pass  # served from tile GRAIN, not a stored op
            else:
                need.add((op, col))
        return need

    @staticmethod
    def _distinct_dims(measures: list[tuple[str, str, str]]) -> list[str]:
        """COUNT(DISTINCT col) measures need ``col`` AT TILE GRAIN —
        the tile's one-row-per-dims layout then makes distinct-counting
        the dim over a rolled group exactly the base-table distinct
        count (AggregateStarTableRule's count-distinct serve,
        materialize/Lattice.java:93; same rule the SQL front door
        applies in plans/sql_substitution.py)."""
        return [col for _out, op, col in measures
                if op == "count_distinct"]

    def find_tile(
        self, table: str, dims: list[str],
        measures: list[tuple[str, str, str]],
        where: list[Atom] | None = None,
    ) -> tuple[_Tile, list[Atom]] | None:
        """A tile serves the query iff its dims ⊇ query dims (rollup is
        possible), it stores every needed measure, AND its stored predicate
        is implied by the query predicate (filter subsumption):

        - every tile atom p must be implied by some query atom (Q ⟹ P —
          otherwise the tile is missing rows the query wants);
        - every query atom not textually identical to a tile atom is a
          RESIDUAL that must be re-applied on the tile, so it must
          reference a tile dim (measure columns no longer exist pre-agg).

        Returns (tile, residual_atoms); prefers the fewest-dims match."""
        need = self._needed_ops(measures)
        q_atoms = list(where or ())
        out: list[tuple[_Tile, list[Atom]]] = []
        for t in self._tiles_for(table):
            residual = self._tile_residual(t, dims, need, q_atoms)
            if residual is not None:
                out.append((t, residual))
        return min(out, key=lambda tr: len(tr[0].dims)) if out else None

    @staticmethod
    def _tile_residual(t: _Tile, dims: list[str], need: set,
                       q_atoms: list) -> "list[Atom] | None":
        """The find_tile subsumption check for ONE tile (dims ⊇ query
        dims, measures stored, predicate implied); returns the residual
        atoms on a match, None otherwise."""
        if not set(dims) <= set(t.dims) or not need <= t.ops:
            return None
        if not all(any(_implies(qa, pa) for qa in q_atoms)
                   for pa in t.where):
            return None
        enforced = set(t.where)
        residual = [qa for qa in q_atoms if qa not in enforced]
        if any(qa[0] not in t.dims for qa in residual):
            return None
        return residual

    def find_derivable_tile(
        self, table: str, dims: list[str],
        measures: list[tuple[str, str, str]],
        where: list[Atom] | None = None,
    ) -> "tuple[_Tile, list[Atom]] | None":
        """Serve a SINGLE-TABLE aggregate from a JOIN-MV that joins
        ``table`` to MORE tables — sound when every extra table is
        FK-derivable: peeled one at a time, an extra table must hang
        off the remaining join by exactly ONE equi-pair whose fact
        side column belongs to a remaining table and which is a
        registered FK into the peeled table (register_fk contract: the
        join neither drops nor duplicates the kept rows). The CALLER
        must ensure the query references no column of a dropped table
        (sql_substitution checks ownership against the base table's
        schema). This is AbstractMaterializedViewRule's
        join-derivability case driven by RelReferentialConstraint
        metadata (SubstitutionVisitor.java:120)."""
        need = self._needed_ops(measures)
        q_atoms = list(where or ())
        out: list[tuple[_Tile, list[Atom]]] = []
        for i in self._by_member.get(table, ()):
            t = self.tiles[i]
            extra = set(t.join_tables) - {table}
            if not extra or not self._fk_peelable(extra, t.join_pairs):
                continue
            residual = self._tile_residual(t, dims, need, q_atoms)
            if residual is not None:
                out.append((t, residual))
        return min(out, key=lambda tr: len(tr[0].dims)) if out else None

    def _fk_peelable(self, extra: set, pairs) -> bool:
        """Can every table in ``extra`` be peeled off the join leaf-
        first via registered FKs? Column→table ownership is resolved
        by matching the FK registry's dim/pk declarations."""
        # pk-side columns of each droppable table, per the registry
        remaining = list(pairs or ())
        extra = set(extra)
        while extra:
            for d in list(extra):
                pk_cols = {pk for fk, dim, pk in self.fks if dim == d}
                touching = [p for p in remaining
                            if p[0].lower() in pk_cols
                            or p[1].lower() in pk_cols]
                if len(touching) != 1:
                    continue
                a, b = touching[0]
                fk, pk = ((b, a) if a.lower() in pk_cols else (a, b))
                if (fk.lower(), d, pk.lower()) not in self.fks:
                    continue
                # the fk side must not itself belong to the peeled
                # table's pk set of ANOTHER still-extra table — i.e.
                # it must survive in the remaining join; peeling
                # leaf-first guarantees this because a pair whose fk
                # side is a not-yet-peeled extra table will be handled
                # when that table becomes the leaf
                remaining = [p for p in remaining if p != touching[0]]
                extra.discard(d)
                break
            else:
                return False  # no peelable leaf this round
        return True

    def summarize(
        self, table: str, base: DataFrame, dims: list[str],
        measures: list[tuple[str, str, str]],
        where: list[Atom] | None = None,
    ) -> DataFrame:
        """The rewrite entry point: GROUP BY ``dims`` computing ``measures``
        (list of (out_name, op, col)) over rows WHERE the atoms hold —
        served from a tile when one subsumes the query (residual atoms
        re-applied on the tile), else from the base table. Both paths
        produce identical schemas and values. A ``count_distinct``
        measure is served when its column is a tile DIM (the probe adds
        it to the dim requirement; see _distinct_dims)."""
        probe = dims + [c for c in dict.fromkeys(self._distinct_dims(measures))
                        if c not in dims]
        hit = self.find_tile(table, probe, measures, where)
        if hit is None:
            aggs = [self._base_agg(op, col).alias(out)
                    for out, op, col in measures]
            src = base.filter(_conj(list(where))) if where else base
            return src.groupBy(*dims).agg(*aggs)
        tile, residual = hit
        tdf = self.tile_frame(tile)
        if residual:
            tdf = tdf.filter(_conj(residual))
        aggs = [self._rollup_agg(op, col).alias(out)
                for out, op, col in measures]
        return tdf.groupBy(*dims).agg(*aggs)

    # ------------------------------------------------- incremental refresh
    def incremental_refresh(self, name: str, delta: DataFrame) -> None:
        """Apply an INSERT-ONLY batch of new base rows to a tile without
        recomputing it from the base table.

        The reference's MV lifecycle leaves freshness to the caller
        (module docstring; Calcite's SqlCreateMaterializedView stores a
        snapshot and MaterializationService re-populates it wholesale).
        At 100 TB a full re-population is exactly the cost the tile was
        built to avoid, so this is the scale-path maintenance step: the
        delta batch is aggregated to tile granularity (reading ONLY the
        new rows) and merged into the stored tile with the same
        re-aggregation algebra the rollup uses — sum/count tiles add,
        min/max tiles take min/max (valid because inserts only GROW the
        set; a delete could retract the current extremum, which is why
        deletes are out of contract and callers with updates must
        rebuild). The tile's WHERE predicate is re-applied to the delta
        so a filtered tile stays consistent. NULL fidelity carries over:
        per-column count tiles count non-nulls in the delta too.

        The merged tile is written as a NEW versioned snapshot and the
        registry repointed — Spark cannot overwrite a parquet path it is
        reading, and in production this swap is a transactional-table
        commit (Delta/Iceberg); versioned paths are the plain-parquet
        equivalent. Cost: one shuffle of the delta at tile granularity +
        one tile-sized merge; the base table is never touched
        (unit-pinned by test_materialized.py's inputFiles assertion)."""
        tile = next((tl for tl in self.tiles if tl.name == name), None)
        if tile is None:
            raise KeyError(f"no tile named {name!r}")
        src = delta.filter(_conj(list(tile.where))) if tile.where else delta
        aggs = []
        for op, col in sorted(tile.ops):
            if op == "count":
                aggs.append(F.count(F.lit(1) if col == "*" else F.col(col))
                            .alias(_tile_col(op, col)))
            elif op == "sumsq":
                aggs.append(F.sum(F.col(col) * F.col(col))
                            .alias(_tile_col(op, col)))
            else:
                aggs.append(getattr(F, op)(col).alias(_tile_col(op, col)))
        delta_tile = src.groupBy(*tile.dims).agg(*aggs)
        old = self.tile_frame(tile)
        merge = []
        for op, col in sorted(tile.ops):
            tc = _tile_col(op, col)
            fold = F.min(tc) if op == "min" else (
                F.max(tc) if op == "max" else F.sum(tc))
            merge.append(fold.alias(tc))
        merged = (
            old.unionByName(delta_tile.select(*old.columns))
            .groupBy(*tile.dims).agg(*merge)
        )
        base_path = tile.path.rsplit("__v", 1)[0]
        version = int(tile.path.rsplit("__v", 1)[1]) + 1 \
            if "__v" in tile.path else 1
        new_path = f"{base_path}__v{version}"
        merged.write.mode("overwrite").parquet(new_path)
        for p in (tile.path, new_path):
            self._frames.pop(p, None)
        # in-place positional swap keeps the probe index valid; replace()
        # carries every field (incl. join composition metadata) — only
        # the snapshot path changes
        self.tiles[self.tiles.index(tile)] = dataclasses.replace(
            tile, path=new_path)

    # ---------------------------------------------------- join-MV unification
    @staticmethod
    def _build_join(tables: "dict[str, DataFrame]",
                    on: Sequence[tuple[str, str]]) -> DataFrame:
        """Execute the equi-join chain in declaration order, applying
        each key pair at the FIRST step where both of its columns are
        resolvable — so a snowflake chain (fact → dim1 → dim2) builds
        correctly instead of referencing dim2 keys at the fact⋈dim1
        step. A pair left over at the end means the chain as declared
        is disconnected — refuse rather than cross-join."""
        names = list(tables)
        base = tables[names[0]]
        remaining = list(on)
        for nm in names[1:]:
            cols = set(base.columns) | set(tables[nm].columns)
            step = [p for p in remaining
                    if p[0] in cols and p[1] in cols]
            if not step:
                raise ValueError(
                    f"join chain disconnected at {nm!r}: no declared "
                    f"key pair is resolvable")
            base = base.join(
                tables[nm], [F.col(a) == F.col(b) for a, b in step])
            remaining = [p for p in remaining if p not in step]
        if remaining:
            raise ValueError(f"unapplied join pairs: {remaining}")
        return base

    @staticmethod
    def join_signature(tables: Sequence[str],
                       on: Sequence[tuple[str, str]]) -> str:
        """Canonical identity of an equi-join: sorted table names ⋈ sorted
        key pairs. Two queries joining the same tables on the same keys
        unify with the same join-MV — the decidable core of
        AbstractMaterializedViewRule's join unification
        (SubstitutionVisitor.java:120), without a RexNode equivalence
        engine."""
        ts = "⋈".join(sorted(tables))
        # within-pair sort: `a = b` and `b = a` are the same equi-join
        # predicate, so both spellings must produce the same signature
        # (the SQL front door sees whichever way the user wrote it)
        ks = ",".join(sorted("=".join(sorted((a, b))) for a, b in on))
        return f"{ts}[{ks}]"

    def create_join(
        self, name: str, tables: dict[str, DataFrame],
        on: Sequence[tuple[str, str]], dims: list[str],
        measures: list[tuple[str, str]], path: str,
        where: list[Atom] | None = None,
    ) -> None:
        """CREATE MATERIALIZED VIEW name AS SELECT dims, aggs FROM
        t1 JOIN t2 ON … GROUP BY dims — a JOIN-MV: the join is paid once
        at materialization; queries over the same join signature roll up
        the tile and never re-execute the join (at 100 TB the fact⋈dim
        shuffle is usually the dominant query cost)."""
        base = self._build_join(tables, on)
        names = list(tables)
        self.create(name, self.join_signature(names, on), base, dims,
                    measures, path, where)
        # record the composition for FK-derivable subset unification,
        # and index the tile under every member table
        t = self.tiles[-1]
        t.join_tables = tuple(sorted(n.lower() for n in names))
        t.join_pairs = tuple((a, b) for a, b in on)
        for member in t.join_tables:
            self._by_member.setdefault(member, []).append(
                len(self.tiles) - 1)

    def summarize_join(
        self, tables: dict[str, DataFrame], on: Sequence[tuple[str, str]],
        dims: list[str], measures: list[tuple[str, str, str]],
        where: list[Atom] | None = None,
    ) -> DataFrame:
        """GROUP BY over an equi-join — served from a join-MV whose
        signature matches (tables + keys), else by executing the join."""
        sig = self.join_signature(list(tables), on)
        probe = dims + [c for c in dict.fromkeys(self._distinct_dims(measures))
                        if c not in dims]
        hit = self.find_tile(sig, probe, measures, where)
        if hit is not None:
            tile, residual = hit
            tdf = self.tile_frame(tile)
            if residual:
                tdf = tdf.filter(_conj(residual))
            aggs = [self._rollup_agg(op, col).alias(out)
                    for out, op, col in measures]
            return tdf.groupBy(*dims).agg(*aggs)
        base = self._build_join(tables, on)
        if where:
            base = base.filter(_conj(list(where)))
        aggs = [self._base_agg(op, col).alias(out) for out, op, col in measures]
        return base.groupBy(*dims).agg(*aggs)

    @staticmethod
    def _base_agg(op: str, col: str):
        if op == "count":
            return F.count(F.lit(1)) if col == "*" else F.count(col)
        if op == "avg":
            return F.avg(col)
        if op == "count_distinct":
            return F.countDistinct(F.col(col))
        return getattr(F, op)(col)

    @staticmethod
    def _variance_num(col: str):
        """The sum-of-squares numerator S2 − S·S/n over rolled tile
        sums, clamped at zero with an explicit CASE (never greatest():
        its NULL handling differs between engines) — numerical
        cancellation on a constant column can land an ulp below zero,
        and sqrt of that would be NaN. The exact operation ORDER here
        is the replayable contract: an oracle spelling the identical
        IEEE expression over exact integer sums hashes bit-equal."""
        s = F.sum(_tile_col("sum", col)).cast("double")
        s2 = F.sum(_tile_col("sumsq", col)).cast("double")
        n = F.sum(_tile_col("count", col))
        num = s2 - s * s / n
        return F.when(num < 0, F.lit(0.0)).otherwise(num), n

    @staticmethod
    def _rollup_agg(op: str, col: str):
        if op == "sum":
            return F.sum(_tile_col("sum", col))
        if op == "count":
            return F.sum(_tile_col("count", col))
        if op == "min":
            return F.min(_tile_col("min", col))
        if op == "max":
            return F.max(_tile_col("max", col))
        if op in VARIANCE_OPS:
            # AggregateReduceFunctionsRule's reduction evaluated above
            # the rollup: pop divides by n, samp by n−1 (NULL when
            # n ≤ 1, Calcite/Spark/DuckDB agree); stddev is the sqrt
            num, n = MaterializedViews._variance_num(col)
            var = (num / n if op.endswith("_pop")
                   else F.when(n > 1, num / (n - 1)))
            return F.sqrt(var) if op.startswith("stddev") else var
        if op == "avg":
            # sum(col)/count(col): NULL-aware, identical to F.avg on the base
            # (all-NULL group → NULL/0 → NULL in Spark, matching avg()).
            return (F.sum(_tile_col("sum", col))
                    / F.sum(_tile_col("count", col)))
        if op == "count_distinct":
            # col is a tile DIM (probe guaranteed it): one tile row per
            # dims combination, so distinct-counting the dim column over
            # the rolled group IS the base distinct count (NULL groups
            # are excluded by countDistinct on both paths)
            return F.countDistinct(F.col(col))
        raise ValueError(f"unsupported measure op {op!r}")
