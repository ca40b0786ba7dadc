"""Correctness checks, run outside the timed region.

Query results are compared with their recomputing DuckDB oracle from the
registry by row count, column names and an order-insensitive value hash.
Values are canonicalised the way the oracles are written: every float is
rounded to 6 decimals on both sides, so numbers compare as 6-decimal
strings.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal, localcontext

import duckdb


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, Decimal)):
        if isinstance(v, float) and not math.isfinite(v):
            return repr(v)
        with localcontext() as ctx:
            ctx.prec = 400  # room for the largest double with 6 decimals
            return str(Decimal(str(v)).quantize(Decimal("0.000001")) + 0)  # + 0 folds -0
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (struct value)
        return _canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def result_digest(rows, columns) -> tuple[int, list[str], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(lines), [columns[i] for i in order], h


def duckdb_views(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def duckdb_digest(con, sql: str):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return result_digest(cur.fetchall(), cols)
