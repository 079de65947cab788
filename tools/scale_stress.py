"""10x scale stress: performance evidence beyond the largest fixture.

Synthesizes a ~sf1 dataset from the sf0.1 fixtures (PERFORMANCE ONLY —
correctness stays on the driver's fixtures): fact tables are replicated
COPIES times with key offsets so cardinalities and join fan-outs scale
realistically (6M lineitem rows, 1M events, 50k documents, 20k vectors);
dimension tables stay as-is, exactly like a real warehouse growing facts
against stable dims. Declared queries then run unchanged against the
stressed directory, timing cold and warm runs.

Usage:
  python tools/scale_stress.py [--copies 10] [--out /tmp/sf_stress]
         [names...]

The point is to catch plans that only look fine at fixture scale: a
broadcast that should flip to shuffle, a window that funnels a whole
partition into one task, candidate blowup in the LSH joins.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import TABLES, load_table
from mysql_to_clickhouse_sync_spark.registry import REGISTRY, queries
from mysql_to_clickhouse_sync_spark.session import get_spark

# Per-table (key columns to offset, rows-per-copy stride source). Dims are
# replicated once (copy 0 only).
FACTS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

DEFAULT_QUERIES = [
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q18",
    "q_topk_value",
    "q_dedup_latest",
    "q_salted_join",
    "q_minhash_dedup",
    "q_embedding_neardup",
    "q_agg_state_merge",
    "q_token_budget_sample",
    "q_sequence_pack",
]


def synthesize(spark, src_dir: str, out_dir: str, copies: int) -> None:
    # Marker records the multiplier the data was synthesized at — a rerun
    # with a different --copies must re-synthesize, or the stress timings
    # would silently measure stale data at the old scale.
    marker = f"{out_dir}/_COPIES"
    stale = True
    if os.path.exists(marker):
        with open(marker) as fh:
            stale = fh.read().strip() != str(copies)
    if stale and os.path.exists(marker):
        # Invalidate BEFORE touching any table: a crash mid-resynthesis
        # must leave the dir marked dirty, not claiming the old multiplier
        # over a mix of old- and new-scale tables.
        os.remove(marker)
    for name in TABLES:
        dst = f"{out_dir}/{name}.parquet"
        if os.path.exists(dst):
            if not stale:
                continue
            shutil.rmtree(dst, ignore_errors=True)
        df = load_table(spark, src_dir, name)
        if name not in FACTS:
            df.write.mode("overwrite").parquet(dst)
            continue
        keys = FACTS[name]
        strides = {
            k: df.agg(F.max(k)).collect()[0][0] + 1 for k in keys
        }
        out = df.withColumn(
            "_copy", F.explode(F.sequence(F.lit(0), F.lit(copies - 1)))
        )
        for k in keys:
            out = out.withColumn(k, F.col(k) + F.col("_copy") * F.lit(strides[k]))
        out.drop("_copy").write.mode("overwrite").parquet(dst)
    with open(marker, "w") as fh:
        fh.write(str(copies))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--out", default="/tmp/sf_stress")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("scale_stress")
    os.makedirs(args.out, exist_ok=True)
    synthesize(spark, args.src, args.out, args.copies)

    qs = queries()  # populates REGISTRY (lazy module load)
    names = args.names or [n for n in DEFAULT_QUERIES if n in REGISTRY]
    print(f"| query | cold s | warm s | rows |")
    print(f"| --- | --- | --- | --- |")
    for name in names:
        t0 = time.time()
        df = qs[name](spark, args.out)
        df.write.mode("overwrite").format("noop").save()
        cold = time.time() - t0
        t0 = time.time()
        df = qs[name](spark, args.out)
        df.write.mode("overwrite").format("noop").save()
        warm = time.time() - t0
        n = qs[name](spark, args.out).count()
        print(f"| {name} | {cold:.1f} | {warm:.1f} | {n:,} |")


if __name__ == "__main__":
    main()
