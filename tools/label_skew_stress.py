"""Label-skew / hot-list stress for FILTERED bulk retrieval (round-8 #6).

Synthesizes an embeddings corpus — optionally with a near-duplicate hot
BLOB occupying one inverted list — under two label distributions, then
times q_ann_filtered's two physically different plans:

  * label-partitioned lists: cogroup key (centroid_id, label) —
    rejected candidates are never scored, hot lists split by label
  * masked kernel: cogroup key centroid_id — every candidate scored,
    non-matching labels masked to -inf before top-k

Both return identical rows (pinned by unit test); this measures the
regimes that decide q_ann_filtered's adaptive switch:

  --blob 0                 healthy ~250-row lists: masked wins ~1.8x
                           (per-block Arrow overhead > 18% compute save)
  --blob 30000 --labels skew90   90/10 labels in the hot list:
                           partitioned wins 1.2x (majority label still
                           owns 81% of the quadratic block)
  --blob 30000 --labels uniform  10 uniform labels in the hot list:
                           partitioned wins 11.7x (5.7 s vs 66.9 s
                           measured) — the case the switch exists for

Usage: python tools/label_skew_stress.py [--n 40000] [--blob 30000]
       [--labels skew90|uniform] [--out /tmp/label_skew]
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from mysql_to_clickhouse_sync_spark.session import get_spark

DIM = 64


def synthesize(spark, out_dir: str, n: int, blob: int, labels: str) -> None:
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )

    def lab(i: int) -> int:
        if labels == "uniform":
            return i % 10
        return 1 if i % 10 else 2 + (i // 10) % 9  # 90% label 1

    def rows():
        for i in range(n - blob):
            v = [math.sin(0.7 * i + 1.3 * d) for d in range(DIM)]
            yield (i, [float(x) for x in v], lab(i) if blob == 0 else 1)
        for i in range(blob):
            v = [0.5] * DIM
            v[i % DIM] += 1e-3 * (1 + i % 5)
            yield (10_000_000 + i, [float(x) for x in v], lab(i))

    spark.createDataFrame(list(rows()), schema).repartition(32).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/embeddings.parquet")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=40_000)
    ap.add_argument("--blob", type=int, default=30_000)
    ap.add_argument("--labels", choices=["skew90", "uniform"], default="skew90")
    ap.add_argument("--out", default="/tmp/label_skew")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mysql_to_clickhouse_sync_spark.catalog import load_table
    from mysql_to_clickhouse_sync_spark.operators.ivf import (
        _bulk_index,
        _bulk_score,
    )

    shutil.rmtree(args.out, ignore_errors=True)
    spark = get_spark("label_skew_stress")
    synthesize(spark, args.out, args.n, args.blob, args.labels)

    base, ranked = _bulk_index(spark, args.out)
    labels = load_table(spark, args.out, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    max_list = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("centroid_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    print(f"n={args.n} blob={args.blob} labels={args.labels} "
          f"max inverted list={max_list}")

    def run(label_partition: bool, name: str):
        df = _bulk_score(
            base, ranked, labels=labels, label_partition=label_partition
        )
        t0 = time.time()
        n = df.count()
        t = time.time() - t0
        print(f"{name}: {n} result rows in {t:.1f}s")
        return t

    t_part = run(True, "label-partitioned (centroid_id, label) cogroup")
    t_mask = run(False, "masked kernel (centroid_id) cogroup")
    print(f"partitioned win: {t_mask / t_part:.2f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())
