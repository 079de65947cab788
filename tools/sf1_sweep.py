"""Standing ~sf1 full-roster correctness gate (r5 VERDICT #3).

Synthesizes the ~sf1 corpus (tools/scale_stress.py, 10x the sf0.1
fixtures: 60k documents, 20k vectors, 6M lineitem, 10M events) and runs
the ENTIRE declared roster through tools/verify_local.py --canon against
it — the per-round proof that every oracle still hash-matches DuckDB
beyond the fixture SFs, where the 2^53 decimal boundary, dynamic-K
growth, and window-funnel regressions actually live. Log the result in
PLANS.md each round.

Usage:
  python tools/sf1_sweep.py [--copies 10] [names...]   # default: all
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--out", default="/tmp/sf1_corpus")  # OWN dir:
    # scale_stress --copies N reuses /tmp/sf_stress and would clobber a
    # sweep in flight (learned the hard way round 6)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from mysql_to_clickhouse_sync_spark.session import get_spark
    from tools.scale_stress import synthesize

    spark = get_spark()
    synthesize(spark, "/root/testdata/sf0.1", args.out, args.copies)
    spark.stop()

    # verify_local owns its own SparkSession lifecycle; run it as the
    # driver would, from a neutral process.
    cmd = [
        sys.executable,
        os.path.join(ROOT, "tools", "verify_local.py"),
        "--sf",
        args.out,
        "--canon",
        *args.names,
    ]
    return subprocess.call(cmd, cwd="/tmp")


if __name__ == "__main__":
    raise SystemExit(main())
