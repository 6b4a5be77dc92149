"""Answer checking: DuckDB computes every expected result outside the
timed region, and each operation's rows are compared to it as an
order-insensitive multiset, column-matched by name. Floating-point values
match to a relative tolerance of 1e-9, because summation order differs
between the engines; nothing else is tolerated."""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb

REL_TOL = 1e-9


def _value(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def _sort_key(row):
    out = []
    for v in row:
        if v is None:
            out.append((0, ""))
        elif isinstance(v, float):
            out.append((1, float(f"{v:.9g}")))
        elif isinstance(v, (int, bool)):
            out.append((1, float(v)))
        else:
            out.append((2, str(v)))
    return out


def canon(names: "list[str]", rows) -> "list[tuple]":
    """Rows as tuples with columns in name order, sorted."""
    order = sorted(range(len(names)), key=lambda i: names[i].lower())
    out = [tuple(_value(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return out


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_close, a, b))
    return a == b


def same(got: "list[tuple]", want: "list[tuple]") -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(map(_close, g, w))
        for g, w in zip(got, want))


def spark_rows(df_rows, columns: "list[str]") -> "list[tuple]":
    return canon(columns, [tuple(r) for r in df_rows])


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per fixture parquet table."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def query(con: duckdb.DuckDBPyConnection, sql: str) -> "list[tuple]":
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return canon(names, cur.fetchall())
