"""Driver-side cost of one MV-served statement, in py4j round trips.

Building the tile rollup is pure plan construction, so its cost is the
number of JVM calls it makes. The engine session turns off PySpark's
per-Column call-site capture (session.get_spark), the rollup is built
with only the Column calls it needs, and the front door reads and writes
no session conf around the statement. Measured on the
mv_lineitem_quarter shape at sf0.01: 358 calls with call-site capture
on, 101 with it off, 64 with the leaner rollup as well, 60 without the
four groupByOrdinal conf calls; turning call-site capture back on alone
gives 150. The budget keeps the margin of 36 it had at 64 calls. The
memoized tile read is guarded in test_materialized.py instead: the file
listing it saves happens inside the JVM, not in round trips.
"""
from __future__ import annotations

import gc

import pytest
from py4j.java_gateway import GatewayClient
from pyspark.errors import AnalysisException

from drill_calcite_spark.catalog import register_tables
from drill_calcite_spark.plans.materialized import MaterializedViews
from drill_calcite_spark.sql import calcite_sql

from .conftest import SF_DIR

BUDGET = 96

_TILE_SERVED = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "sum(l_quantity) AS qty, avg(l_discount) AS disc FROM lineitem "
    "WHERE EXTRACT(YEAR FROM l_shipdate) = 1995 "
    "AND EXTRACT(QUARTER FROM l_shipdate) = 2 "
    "GROUP BY l_returnflag, l_linestatus")


@pytest.fixture(scope="module")
def mvs(spark, tmp_path_factory):
    dfs = register_tables(spark, SF_DIR)
    reg = MaterializedViews(spark)
    reg.create("lineitem_tile", "lineitem", dfs["lineitem"],
               dims=["l_returnflag", "l_linestatus", "l_shipdate"],
               measures=[("sum", "l_quantity"), ("avg", "l_discount")],
               path=str(tmp_path_factory.mktemp("mv") / "lineitem_tile"))
    return reg


def _count_round_trips(monkeypatch, fn):
    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counting)
        out = fn()
    return calls[0], out


def test_tile_served_statement_round_trip_budget(spark, mvs, monkeypatch):
    calcite_sql(spark, _TILE_SERVED, materializations=mvs)  # warm the memo
    gc.collect()  # earlier garbage would send its py4j detach calls inside
    n, df = _count_round_trips(
        monkeypatch,
        lambda: calcite_sql(spark, _TILE_SERVED, materializations=mvs))
    assert all("lineitem_tile" in f for f in df.inputFiles()), \
        "statement was not tile-served"
    assert n <= BUDGET, f"{n} py4j round trips to build one MV hit"


def test_unknown_column_still_raises(spark, mvs):
    """Without call-site capture errors lose only their Python origin;
    they still raise through the front door."""
    with pytest.raises(AnalysisException):
        calcite_sql(spark, "SELECT l_nope, count(*) AS n FROM lineitem "
                    "GROUP BY l_nope", materializations=mvs)
