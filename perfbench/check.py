"""Correctness twins: DuckDB over the same generated files.

Rows are compared as multisets after canonicalizing values: numbers
become floats rounded to 10 significant digits (Spark and DuckDB sum
doubles in different orders), timestamps become ISO strings, and
columns are ordered by name.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os

import duckdb


def connect(data_dir: str = "", tables: tuple[str, ...] = ()) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _value(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(f"{float(v):.10g}")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    return str(v)


def canonical(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by name; rows re-ordered to match and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_value(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return tuple(columns[i] for i in order), out


def duck_rows(con, sql: str) -> tuple[tuple[str, ...], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canonical(cols, cur.fetchall())


def spark_rows(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    return canonical(list(columns), [tuple(r) for r in rows])
