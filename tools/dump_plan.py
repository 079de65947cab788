"""Dump .explain('formatted') for named declared queries to stdout or a file.

Usage: python tools/dump_plan.py [--sf DIR] [--out FILE] name
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_to_clickhouse_sync_spark.registry import queries
from mysql_to_clickhouse_sync_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("name")
    args = ap.parse_args()
    spark = get_spark("dump_plan")
    df = queries()[args.name](spark, args.sf)
    txt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(txt)
    else:
        print(txt)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
