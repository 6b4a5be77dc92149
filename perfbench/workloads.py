"""The two workloads. Each yields operations in whole seeded cycles, so
every run executes the same mix of operation kinds whatever its length,
and each operation's expected answer comes from DuckDB outside the timed
region.

- ``interactive_sql`` (sf0.1 fixtures): 2 closed-loop clients send
  Calcite-dialect statements from 12 templates through ``calcite_sql``
  with the MV tiles registered; 3 of the 12 are GROUP BYs a tile can
  serve.
- ``batch_dml`` (sf0.01 fixtures): 1 closed-loop client runs 11 heavy
  registry queries (TPC-H, TPC-DS-style rewrites, dedup,
  MATCH_RECOGNIZE) checked against the registry's own DuckDB oracles,
  interleaved with INSERT / UPDATE / DELETE / MERGE / compaction and
  current and historical snapshot reads on a copy-on-write versioned copy
  of ``orders``, replayed in DuckDB.
"""

from __future__ import annotations

import datetime
import os
import random
from dataclasses import dataclass
from typing import Callable

from perfbench import oracle

# ------------------------------------------------------------ operations


@dataclass
class Op:
    """One operation: ``run`` executes it and returns ``(columns, rows)``
    (rows fully collected on the client) or None for a write; ``check``
    returns whether the result is the expected one."""

    kind: str
    run: Callable
    check: Callable
    writes: bool = False
    rows_changed: int = 0


def _collect(tracer, df):
    """Plan then execute ``df``, each under its own span. The plan span
    forces ``executedPlan`` (the collect reuses it); the execution span is
    named after the layer that built the plan."""
    if tracer is not None and tracer.enabled:
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        used = tracer.seen("operators.call")
        with tracer.span("operators.exec" if used else "spark.exec"):
            rows = df.collect()
    else:
        rows = df.collect()
    return df.columns, rows


def _checker(want):
    def check(result) -> bool:
        cols, rows = result
        return oracle.same(oracle.spark_rows(rows, cols), want)
    return check


# ---------------------------------------------------------------- set-up


def build_tiles(spark, dfs: dict, out_dir: str):
    """The MV tiles interactive_sql's tile-served statements hit; every
    workload builds them, so the set-up cost they add shows everywhere."""
    from drill_calcite_spark.plans.materialized import MaterializedViews

    mvs = MaterializedViews(spark)
    mvs.create("orders_tile", "orders", dfs["orders"],
               dims=["o_orderpriority", "o_orderstatus", "o_orderdate"],
               measures=[("sum", "o_custkey"), ("max", "o_totalprice")],
               path=os.path.join(out_dir, "orders_tile"))
    mvs.create("lineitem_tile", "lineitem", dfs["lineitem"],
               dims=["l_returnflag", "l_linestatus", "l_shipdate"],
               measures=[("sum", "l_quantity"), ("avg", "l_discount")],
               path=os.path.join(out_dir, "lineitem_tile"))
    return mvs


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class Workload:
    name = ""
    clients = 1
    data = ""  # fixture scale, a directory under perfbench/data
    min_cycles = 1

    def __init__(self, data_dir: str, seed: int) -> None:
        import pyarrow.parquet as pq

        self.data_dir = data_dir
        self.sizes = {t: pq.read_metadata(
            os.path.join(data_dir, f"{t}.parquet")).num_rows for t in TABLES}
        self.seed = seed

    def prepare(self) -> None:
        """Compute expected answers (DuckDB, before any timing)."""

    def fixtures(self, spark, out_dir: str) -> None:
        """Workload-owned fixtures, built in every set-up."""

    def cycle(self, client: int, n: int, ctx) -> "list[Op]":
        raise NotImplementedError

    def close(self) -> None:
        pass


# ------------------------------------------------------- interactive_sql

# (template, Calcite-dialect text, DuckDB twin or None when identical,
#  parameter generator). Dates compare timestamp columns.
_YEARS = list(range(1995, 2002))
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

TEMPLATES = [
    ("point_lookup",
     "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
     "o_orderpriority FROM orders WHERE o_orderkey = {k}", None,
     lambda r, n: {"k": r.randrange(n["orders"])}),
    ("extract_range_agg",
     "SELECT l_returnflag, l_linestatus, count(*) AS n, "
     "sum(l_quantity) AS qty, sum(l_extendedprice * (1 - l_discount)) AS rev "
     "FROM lineitem WHERE EXTRACT(YEAR FROM l_shipdate) = {y} "
     "AND EXTRACT(MONTH FROM l_shipdate) = {m} "
     "GROUP BY l_returnflag, l_linestatus", None,
     lambda r, n: {"y": r.choice(_YEARS), "m": r.randint(1, 12)}),
    ("floor_month_agg",
     "SELECT FLOOR(o_orderdate TO MONTH) AS mon, count(*) AS n, "
     "sum(o_totalprice) AS total FROM orders "
     "WHERE o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
     "AND o_orderdate < TIMESTAMP '{y1}-01-01 00:00:00' "
     "GROUP BY FLOOR(o_orderdate TO MONTH)",
     "SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, "
     "count(*) AS n, sum(o_totalprice) AS total FROM orders "
     "WHERE o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
     "AND o_orderdate < TIMESTAMP '{y1}-01-01 00:00:00' "
     "GROUP BY date_trunc('month', o_orderdate)",
     lambda r, n: (lambda y: {"y": y, "y1": y + 1})(r.choice(_YEARS[:-1]))),
    ("star_join_topn",
     "SELECT n_name, count(*) AS orders_n, sum(o_totalprice) AS revenue "
     "FROM orders JOIN customer ON o_custkey = c_custkey "
     "JOIN nation ON c_nationkey = n_nationkey "
     "WHERE c_mktsegment = '{seg}' "
     "AND o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
     "AND o_orderdate < TIMESTAMP '{y1}-01-01 00:00:00' "
     "GROUP BY n_name ORDER BY revenue DESC LIMIT 5", None,
     lambda r, n: (lambda y: {"y": y, "y1": y + 1,
                              "seg": r.choice(_SEGMENTS)})(
         r.choice(_YEARS[:-1]))),
    ("some_subquery",
     "SELECT count(*) AS n FROM part WHERE p_retailprice > SOME "
     "(SELECT p_retailprice FROM part WHERE p_brand = 'Brand#{b}' "
     "AND p_size = {s})",
     "SELECT count(*) AS n FROM part WHERE p_retailprice > ANY "
     "(SELECT p_retailprice FROM part WHERE p_brand = 'Brand#{b}' "
     "AND p_size = {s})",
     lambda r, n: {"b": r.randint(1, 25), "s": r.randint(1, 50)}),
    ("in_subquery",
     "SELECT c_custkey, c_name, c_acctbal FROM customer "
     "WHERE c_nationkey = {nk} AND c_custkey IN (SELECT o_custkey "
     "FROM orders WHERE o_totalprice > {x} "
     "AND o_orderpriority = '1-URGENT')", None,
     lambda r, n: {"nk": r.randrange(25), "x": r.randrange(400_000, 490_000)}),
    ("rollup",
     "SELECT c_mktsegment, c_nationkey, count(*) AS n, "
     "sum(c_acctbal) AS bal FROM customer WHERE c_nationkey < {k} "
     "GROUP BY ROLLUP(c_mktsegment, c_nationkey)", None,
     lambda r, n: {"k": r.randint(3, 25)}),
    ("grouping_sets",
     "SELECT l_returnflag, l_linestatus, count(*) AS n, "
     "avg(l_discount) AS disc FROM lineitem "
     "WHERE l_shipdate < TIMESTAMP '{y}-07-01 00:00:00' "
     "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())", None,
     lambda r, n: {"y": r.choice(_YEARS)}),
    ("nulls_high_order",
     "SELECT c_mktsegment, sum(c_acctbal) AS bal FROM customer "
     "WHERE c_nationkey = {nk} GROUP BY ROLLUP(c_mktsegment) "
     "ORDER BY c_mktsegment DESC LIMIT 3",
     "SELECT c_mktsegment, sum(c_acctbal) AS bal FROM customer "
     "WHERE c_nationkey = {nk} GROUP BY ROLLUP(c_mktsegment) "
     "ORDER BY c_mktsegment DESC NULLS FIRST LIMIT 3",
     lambda r, n: {"nk": r.randrange(25)}),
    ("mv_orders_year",
     "SELECT o_orderpriority, count(*) AS n, sum(o_custkey) AS ck, "
     "max(o_totalprice) AS mx FROM orders "
     "WHERE EXTRACT(YEAR FROM o_orderdate) = {y} GROUP BY o_orderpriority",
     None, lambda r, n: {"y": r.choice(_YEARS)}),
    ("mv_lineitem_quarter",
     "SELECT l_returnflag, l_linestatus, count(*) AS n, "
     "sum(l_quantity) AS qty, avg(l_discount) AS disc FROM lineitem "
     "WHERE EXTRACT(YEAR FROM l_shipdate) = {y} "
     "AND EXTRACT(QUARTER FROM l_shipdate) = {q} "
     "GROUP BY l_returnflag, l_linestatus", None,
     lambda r, n: {"y": r.choice(_YEARS), "q": r.randint(1, 4)}),
    ("mv_orders_priority",
     "SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS mx "
     "FROM orders WHERE o_orderpriority = '{p}' GROUP BY o_orderstatus",
     None, lambda r, n: {"p": r.choice(_PRIORITIES)}),
]
PARAMS_PER_TEMPLATE = 6


class InteractiveSQL(Workload):
    name = "interactive_sql"
    clients = 2
    data = "sf0.1"

    def prepare(self) -> None:
        rng = random.Random(self.seed)
        self.pool: list[list[tuple[str, list]]] = []
        con = oracle.connect(self.data_dir, ("orders", "lineitem", "customer",
                                             "nation", "part"))
        try:
            for _name, text, twin, gen in TEMPLATES:
                stmts = []
                for _ in range(PARAMS_PER_TEMPLATE):
                    p = gen(rng, self.sizes)
                    stmts.append((text.format(**p),
                                  oracle.query(con, (twin or text).format(**p))))
                self.pool.append(stmts)
        finally:
            con.close()

    def cycle(self, client: int, n: int, ctx) -> "list[Op]":
        from drill_calcite_spark.sql import calcite_sql

        rng = random.Random(f"{self.seed}/{client}/{n}")
        order = list(range(len(TEMPLATES)))
        rng.shuffle(order)
        ops = []
        for t in order:
            text, want = rng.choice(self.pool[t])
            ops.append(Op(
                TEMPLATES[t][0],
                lambda spark, text=text: _collect(ctx.tracer, calcite_sql(
                    spark, text, materializations=ctx.mvs)),
                _checker(want)))
        return ops


# -------------------------------------------------------------- batch_dml

# ann_cosine_topk is left out: its latency at sf0.01 varies 2.7-5.0 s
# between runs on 4 cores, more than any bound allows, and it would take
# a fifth of every cycle
BATCH_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_type_profit", "q18_large_volume_customer",
    "q21_suppliers_kept_waiting", "ds_cross_sales_yoy",
    "ds_iceberg_cross_channel", "ds_county_active_profile",
    "dedup_minhash_lsh", "match_vshape",
]
DML_CYCLE = ["insert", "snapshot", "update", "delete", "merge", "history",
             "compact"]
ROWS_PER_CHANGE = 50
_AGG = ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total, "
        "sum(o_custkey) AS ck, max(o_orderkey) AS mk FROM {t} "
        "GROUP BY o_orderstatus")
_SRC_DDL = ("CREATE OR REPLACE TEMP TABLE src (o_orderkey BIGINT, "
            "o_custkey BIGINT, o_orderstatus VARCHAR, o_totalprice DOUBLE, "
            "o_orderdate TIMESTAMP, o_orderpriority VARCHAR)")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class BatchDML(Workload):
    """One client: each cycle runs the 11 heavy registry queries and the
    DML_CYCLE operations on a versioned copy of ``orders``, interleaved in
    a seeded order. Query answers come from the registry's DuckDB
    oracles. Every write targets ROWS_PER_CHANGE keys (an UPDATE/DELETE
    window can hit keys already deleted; DuckDB counts the rows really
    changed); the DuckDB replay of each DML operation runs when its cycle
    is built, off the measured clock, in the order the engine executes
    them."""

    name = "batch_dml"
    # sf0.1 does not fit the run: on 4 cores ann_cosine_topk alone takes
    # ~47 s there, and q9 does not match its oracle
    data = "sf0.01"
    # one cycle's 18 operations give too few samples for a steady median
    # and p90 (run-to-run spread up to 0.3 of the median on 4 cores)
    min_cycles = 2

    def prepare(self) -> None:
        from drill_calcite_spark.queries import all_oracles, all_queries

        self.queries = all_queries()
        oracles = all_oracles()
        self.con = oracle.connect(self.data_dir, TABLES)
        self.want = {q: oracle.query(self.con, oracles[q])
                     for q in BATCH_QUERIES}
        self.con.execute("CREATE TABLE t AS SELECT * FROM orders")
        self.next_key = self.sizes["orders"]
        self.rng = random.Random(self.seed)
        self.prev_agg = self.cur_agg = oracle.query(
            self.con, _AGG.format(t="t"))

    def close(self) -> None:
        self.con.close()

    def fixtures(self, spark, out_dir: str) -> None:
        from drill_calcite_spark.sources.modify import create_table

        self.path = os.path.join(out_dir, "orders_versioned")
        src = spark.read.parquet(os.path.join(self.data_dir,
                                              "orders.parquet"))
        create_table(spark, self.path, src)
        self.schema = src.schema
        self.bytes_per_row = dir_bytes(os.path.join(self.path, "v0")) \
            / self.sizes["orders"]

    def version(self) -> int:
        with open(os.path.join(self.path, "_current_version")) as fh:
            return int(fh.read())

    def write_stats(self) -> "tuple[int, int]":
        """(bytes of the live version, bytes under the table dir)."""
        return (dir_bytes(os.path.join(self.path, f"v{self.version()}")),
                dir_bytes(self.path))

    def _new_rows(self, keys: "list[int]") -> "list[tuple]":
        r = self.rng
        base = datetime.datetime(1995, 1, 1)
        return [(k, r.randrange(self.sizes["customer"]), r.choice("FOP"),
                 round(r.uniform(1000, 500_000), 2),
                 base + datetime.timedelta(days=r.randrange(2404)),
                 r.choice(_PRIORITIES)) for k in keys]

    def _frame(self, spark, rows: "list[tuple]"):
        """The client's new rows as a DataFrame, shipped as one Arrow
        batch (a local relation; no Python worker job)."""
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(rows, columns=self.schema.names), self.schema)

    def _window(self) -> "tuple[int, int]":
        lo = self.rng.randrange(0, self.next_key - ROWS_PER_CHANGE)
        return lo, lo + ROWS_PER_CHANGE - 1

    def _count(self, sql: str, *params) -> int:
        return self.con.execute(sql, *params).fetchone()[0]

    def cycle(self, client: int, n: int, ctx) -> "list[Op]":
        """The queries in a seeded order; after every second one, the next
        DML operation in DML_CYCLE order (fixed, so the table's file count
        when each write runs does not depend on the seed)."""
        queries = list(BATCH_QUERIES)
        random.Random(f"{self.seed}/{n}").shuffle(queries)
        dml = iter(DML_CYCLE)
        kinds = []
        for i, q in enumerate(queries, 1):
            kinds += [q, next(dml)] if i % 2 == 0 else [q]
        return [self._op(k, ctx) for k in kinds + list(dml)]

    def _op(self, kind: str, ctx) -> Op:
        from pyspark.sql import functions as F

        from drill_calcite_spark.sources import modify
        from drill_calcite_spark.sql import calcite_sql

        if kind in self.want:
            return Op(kind, lambda spark: _collect(
                ctx.tracer, self.queries[kind](spark, self.data_dir)),
                _checker(self.want[kind]))
        path = self.path
        if kind in ("snapshot", "history"):
            def read(spark, hist=kind == "history"):
                v = self.version()
                df = modify.read_versioned(
                    spark, path, max(v - 1, 0) if hist else None)
                df.createOrReplaceTempView("dml_snapshot")
                return _collect(ctx.tracer, calcite_sql(
                    spark, _AGG.format(t="dml_snapshot")))
            want = self.prev_agg if kind == "history" else self.cur_agg
            return Op(kind, read, _checker(want))

        key = F.col("o_orderkey")
        if kind == "insert":
            keys = range(self.next_key, self.next_key + ROWS_PER_CHANGE)
            self.next_key += ROWS_PER_CHANGE
            rows = self._new_rows(list(keys))
            self.con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)",
                                 rows)
            changed = len(rows)

            def write(spark):
                modify.insert_into(spark, path, self._frame(spark, rows))
        elif kind == "update":
            lo, hi = self._window()
            changed = self._count(
                "UPDATE t SET o_totalprice = o_totalprice + 1.5, "
                "o_orderstatus = 'F' WHERE o_orderkey BETWEEN ? AND ?",
                (lo, hi))

            def write(spark):
                modify.update_where(
                    spark, path, key.between(lo, hi),
                    {"o_totalprice": F.col("o_totalprice") + F.lit(1.5),
                     "o_orderstatus": F.lit("F")})
        elif kind == "delete":
            lo, hi = self._window()
            changed = self._count(
                "DELETE FROM t WHERE o_orderkey BETWEEN ? AND ?", (lo, hi))

            def write(spark):
                modify.delete_where(spark, path, key.between(lo, hi))
        elif kind == "merge":
            half = ROWS_PER_CHANGE // 2
            lo, _hi = self._window()
            keys = list(range(lo, lo + half)) + list(
                range(self.next_key, self.next_key + half))
            self.next_key += half
            rows = self._new_rows(keys)
            self.con.execute(_SRC_DDL)
            self.con.executemany("INSERT INTO src VALUES (?, ?, ?, ?, ?, ?)",
                                 rows)
            changed = self._count(
                "UPDATE t SET o_totalprice = src.o_totalprice FROM src "
                "WHERE t.o_orderkey = src.o_orderkey")
            changed += self._count(
                "INSERT INTO t SELECT * FROM src WHERE o_orderkey NOT IN "
                "(SELECT o_orderkey FROM t)")

            def write(spark):
                modify.merge_into(
                    spark, path, self._frame(spark, rows), ["o_orderkey"],
                    when_matched_update={
                        "o_totalprice": F.col("__src.o_totalprice")},
                    when_not_matched_insert=True)
        else:  # compact rewrites the live version and changes no user row
            changed = 0

            def write(spark):
                modify.compact(spark, path, 2)

        self.prev_agg = self.cur_agg
        self.cur_agg = oracle.query(self.con, _AGG.format(t="t"))
        before = []

        def run(spark):
            before.append(self.version())
            write(spark)

        return Op(kind, run, lambda _r: self.version() == before[0] + 1,
                  writes=True, rows_changed=changed)


WORKLOADS = {w.name: w for w in (InteractiveSQL, BatchDML)}
