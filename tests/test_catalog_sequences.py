"""The session sequence catalog (catalog.create_sequence /
advance_sequence) under concurrent clients: no increment may be lost."""
from __future__ import annotations

import threading
import time

from drill_calcite_spark.catalog import (
    advance_sequence, create_sequence, get_sequence)


class _Yielding(int):
    """A row count whose multiply gives up the GIL, so a thread switch
    lands inside advance_sequence's read-modify-write of the counter —
    the interleaving two clients on one session can hit."""

    def __mul__(self, other):
        time.sleep(0)
        return int(self) * other


def test_concurrent_advance_loses_no_increments():
    name = "concurrency_probe_seq"
    create_sequence(name, start=1, increment=3)
    per_thread = 2_000
    barrier = threading.Barrier(2)

    def client():
        barrier.wait()
        for _ in range(per_thread):
            advance_sequence(name, _Yielding(1))

    threads = [threading.Thread(target=client) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert get_sequence(name)["next"] == 1 + 2 * per_thread * 3


def test_quoted_sequence_name(spark):
    """NEXT VALUE FOR reads a quoted sequence name the way Calcite does
    (case folded for the flat registry), and the statement advances
    that sequence by its row count; the words inside a string literal
    advance nothing."""
    from drill_calcite_spark.sql import calcite_sql

    create_sequence("quoted_probe_seq", start=10, increment=2)
    df = calcite_sql(spark, 'select next value for "Quoted_Probe_Seq" as v '
                     "from (values (1), (2)) as t(x)")
    assert sorted(r.v for r in df.collect()) == [10, 12]
    assert get_sequence("quoted_probe_seq")["next"] == 14
    df = calcite_sql(spark, "select 'next value for quoted_probe_seq' as s")
    assert df.collect()[0].s == "next value for quoted_probe_seq"
    assert get_sequence("quoted_probe_seq")["next"] == 14
