"""Shuffle audit: MEASURED (not guessed) data-movement numbers per declared
query. Runs each query, then walks the executed (post-AQE) physical plan
collecting SQLMetric values: total shuffle bytes/records written, rows
scanned, rows output, and spill bytes. These are the numbers behind
PLANS.md's scale claims — e.g. a star join whose shuffle volume equals the
aggregated-group count (not the fact-row count) is proof the dims broadcast
and partial aggregation ran map-side.

Usage: python tools/shuffle_audit.py [--sf DIR] [names...]
Prints one markdown table row per query (batch queries only — streaming
queries execute eagerly inside their function and leave no single plan).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_to_clickhouse_sync_spark.registry import queries
from mysql_to_clickhouse_sync_spark.session import get_spark


def plan_metrics(df) -> dict[str, int]:
    """Sum interesting SQLMetrics over the executed plan (AQE-aware)."""
    totals = {
        "shuffle_bytes": 0,
        "shuffle_records": 0,
        "scan_rows": 0,
        "spill_bytes": 0,
    }

    def walk(node):
        cls = node.getClass().getName()
        if "Adaptive" in cls:
            walk(node.executedPlan())
            return
        if "QueryStage" in cls:
            walk(node.plan())
            return
        m = node.metrics()
        it = m.iterator()
        vals = {}
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        name = node.nodeName()
        if name == "Exchange":
            totals["shuffle_bytes"] += max(vals.get("shuffleBytesWritten", 0), 0)
            totals["shuffle_records"] += max(vals.get("shuffleRecordsWritten", 0), 0)
        if name.startswith("Scan"):
            totals["scan_rows"] += max(vals.get("numOutputRows", 0), 0)
        totals["spill_bytes"] += max(vals.get("spillSize", 0), 0)
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return totals


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    spark = get_spark("shuffle_audit")
    qs = queries()
    names = args.names or [n for n in sorted(qs) if not n.startswith("s_")]
    print("| query | scan rows | shuffle records | shuffle bytes | spill |")
    print("| --- | --- | --- | --- | --- |")
    for name in names:
        if name.startswith("s_"):
            continue
        df = qs[name](spark, args.sf)
        n = df.count() if True else None  # force full execution
        df.collect()
        t = plan_metrics(df)
        print(
            f"| {name} | {t['scan_rows']:,} | {t['shuffle_records']:,} "
            f"| {t['shuffle_bytes']:,} | {t['spill_bytes']:,} |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
