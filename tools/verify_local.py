"""Local mirror of the driver's correctness gate.

Runs each declared query in PySpark and its oracle in DuckDB over the same
parquet fixtures; compares row count, column-name set, and the order-
insensitive multiset of value-normalized rows (columns sorted by name). This
is stricter than a hash compare — if this passes, a value-hash passes.

Usage: python tools/verify_local.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import math
import os
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_to_clickhouse_sync_spark.catalog import TABLES
from mysql_to_clickhouse_sync_spark.registry import REGISTRY, queries
from mysql_to_clickhouse_sync_spark.session import get_spark


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def to_multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_cell(row[i]) for i in order) for row in rows)


def canon_pandas(pdf):
    """Mirror of the driver's pandas canonicalization: columns sorted by
    name, rows sorted by all columns. Raises the same TypeError the driver
    raises on unhashable cells (e.g. a raw array column)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def canon_cell(v) -> str:
    # Deliberately dtype-sensitive: the driver hashes the canonicalized
    # pandas frame, where numpy int64(5) and float64(5.0) differ. repr()
    # preserves that distinction ('5' vs '5.0'), so a dtype drift between
    # the Spark and DuckDB sides fails here exactly as it fails the driver.
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        return "ts:" + v.isoformat()
    return f"{type(v).__name__}:{v!r}"


def canon_diff(s_pdf, d_pdf) -> list[str]:
    """Compare two canonicalized frames the way the driver's hash would:
    same shape, same dtypes-as-values cell by cell."""
    problems = []
    if list(s_pdf.columns) != list(d_pdf.columns):
        problems.append(
            f"schema spark={list(s_pdf.columns)} duckdb={list(d_pdf.columns)}"
        )
        return problems
    if len(s_pdf) != len(d_pdf):
        problems.append(f"rowcount spark={len(s_pdf)} duckdb={len(d_pdf)}")
        return problems
    for col in s_pdf.columns:
        s_vals = [canon_cell(v) for v in s_pdf[col]]
        d_vals = [canon_cell(v) for v in d_pdf[col]]
        if s_vals != d_vals:
            bad = next(
                (s, d) for s, d in zip(s_vals, d_vals) if s != d
            )
            problems.append(f"col {col!r}: spark={bad[0]} duckdb={bad[1]}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--canon",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="also compare through the driver's pandas canonicalization "
        "(dtype-sensitive; catches int64-vs-float64 and unhashable-cell "
        "failures the multiset compare forgives). ON by default — "
        "--no-canon only for quick value-level iteration",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    qs = queries()
    names = args.names or list(qs)
    spark = get_spark("verify_local")

    con = duckdb.connect()
    for t in TABLES:
        # Fixtures are single files; Spark-written tables (e.g. the
        # scale-stress output) are directories of part files — glob those.
        path = f"{args.sf}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    failures = []
    for name in names:
        decl = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = decl.fn(spark, args.sf)
            s_cols = sdf.columns
            s_rows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if decl.oracle is None:
            print(f"ok*   {name}: rows-only ({len(s_rows)} rows, {t_spark:.1f}s spark)")
            continue
        t0 = time.time()
        try:
            rel = con.sql(decl.oracle)
            d_cols = list(rel.columns)
            d_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        t_duck = time.time() - t0

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"schema spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if not problems:
            ms, md = to_multiset(s_cols, s_rows), to_multiset(d_cols, d_rows)
            if ms != md:
                only_s = list((ms - md).items())[:3]
                only_d = list((md - ms).items())[:3]
                problems.append(f"values spark-only={only_s} duckdb-only={only_d}")
        if not problems and args.canon:
            try:
                s_pdf = canon_pandas(sdf.toPandas())
                d_pdf = canon_pandas(con.sql(decl.oracle).df())
                problems.extend(canon_diff(s_pdf, d_pdf))
            except Exception as e:  # noqa: BLE001 — the driver dies here too
                problems.append(f"canon error: {type(e).__name__}: {e}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(
                f"ok    {name}: {len(s_rows)} rows match"
                f" (spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)"
            )

    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
