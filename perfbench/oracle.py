"""Correctness checks against DuckDB, run outside the timed region.

Registry keys are compared the way the engine's verify recipe does: scalar
values normalised to strings, columns in name order, rows sorted, then the
two row lists hashed. Pipeline tables are compared row by row with a
relative tolerance on floating-point columns, because Spark and DuckDB sum
doubles in different orders.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import duckdb


def connect(inputs) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in inputs.rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs.path(t)}'")
    return con


def norm(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(" ", "microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _digest(cols: list[str], rows) -> str:
    h = hashlib.sha256("|".join(cols).encode())
    for r in sorted(rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def spark_digest(df) -> str:
    cols = sorted(df.columns)
    rows = (tuple(norm(r[c]) for c in cols) for r in df.collect())
    return _digest(cols, rows)


def duckdb_digest(con, sql: str) -> str:
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = (tuple(norm(r[i]) for i in order) for r in res.fetchall())
    return _digest([names[i] for i in order], rows)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def tables_match(spark_rows, duck_rows) -> bool:
    """Same multiset of rows, floats compared with a relative tolerance.
    Rows are tuples in the same column order on both sides."""
    def key(row):  # floats may differ in the last digits, so never sort on them
        return tuple("" if isinstance(v, float) else norm(v) for v in row)

    if len(spark_rows) != len(duck_rows):
        return False
    for a, b in zip(sorted(spark_rows, key=key), sorted(duck_rows, key=key)):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return False
    return True
