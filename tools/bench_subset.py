"""A/B timing harness for individual declared queries (round-10 opt work).

Times named queries with the noop sink (guide §1.4), optionally repeated
(--runs N, min kept — the bench.py interference-repair rationale), and
optionally with Spark conf overrides (--conf k=v, repeatable) layered on top
of the standard session so config experiments never touch session.py until
they win an A/B.

Usage:
  python tools/bench_subset.py [--runs 3] [--conf k=v ...] name [name ...]
  python tools/bench_subset.py --top 20          # slowest from a bench json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_to_clickhouse_sync_spark.registry import REGISTRY, queries
from mysql_to_clickhouse_sync_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("bench_subset")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)

    # Same warmup as bench.py so first-query numbers are comparable.
    spark.read.parquet(f"{args.sf}/region.parquet").count()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    qs = queries()
    out: dict[str, list[float]] = {}
    for name in args.names:
        if name not in qs:
            print(f"unknown query {name}", file=sys.stderr)
            return 2
        times = []
        for _ in range(args.runs):
            t0 = time.time()
            df = qs[name](spark, args.sf)
            if REGISTRY[name].tier == "P3":
                df.count()
            else:
                df.write.mode("overwrite").format("noop").save()
            times.append(round(time.time() - t0, 3))
        out[name] = times
        print(json.dumps({"name": name, "min": min(times), "times": times}))
    print(
        json.dumps(
            {
                "total_min": round(sum(min(v) for v in out.values()), 3),
                "confs": args.conf,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
