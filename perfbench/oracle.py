"""Expected query results from DuckDB over the same generated source.

Each declared query's oracle SQL runs against views named after the source
tables. A Spark result matches when it has the same column set, the same
row count and the same multiset of rows, cells compared after the value
normalization below (columns ordered by name).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
from collections import Counter

import duckdb

import gen


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_cell(r[i]) for i in order) for r in rows)


def expected_rows(src: str, oracles: dict[str, str | None]) -> dict:
    """name -> (sorted column names, row count, row multiset)."""
    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            path = os.path.join(gen.table_dir(src, t), "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in oracles.items():
            if sql is None:
                raise ValueError(f"{name} declares no oracle")
            rel = con.sql(sql)
            cols = list(rel.columns)
            rows = rel.fetchall()
            out[name] = (sorted(cols), len(rows), _multiset(cols, rows))
        return out
    finally:
        con.close()


def matches(cols: list[str], rows, expected) -> tuple[bool, str]:
    want_cols, want_n, want_set = expected
    if sorted(cols) != want_cols:
        return False, f"columns {sorted(cols)} != {want_cols}"
    if len(rows) != want_n:
        return False, f"{len(rows)} rows, oracle has {want_n}"
    got = _multiset(cols, rows)
    if got != want_set:
        diff = list((got - want_set).items())[:2]
        return False, f"values differ, e.g. {diff}"
    return True, "ok"
