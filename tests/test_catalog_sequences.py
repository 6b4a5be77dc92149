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
