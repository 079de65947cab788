"""Planted hot-cluster stress for the SemDeDup guard (VERDICT r3 item #1).

Synthesizes an embeddings corpus whose dominant feature is a DEGENERATE
SEMANTIC BLOB — ``--blob`` near-identical vectors (pairwise cosine ~1.0)
among ``--n`` total — the exact corpus region SemDeDup exists to clean and
the one that defeats dynamic K: every blob vector lands in ONE cluster, so
the within-cluster pair join goes quadratic (blob^2 / 2 scored pairs) no
matter how K scales. The guarded path (q_semantic_guarded) must stay
sub-quadratic by routing the blob's cluster to the audit table.

Reports, for guarded and (optionally, --unguarded) unguarded runs:
  * wall time to full materialization (count())
  * per-cluster sizes and the ANALYTIC pair counts each plan scores —
    sum(n_c^2/2) over joined clusters — the quadratic term itself, so the
    melt is visible even without running the unguarded join.

Usage:
  python tools/hot_cluster_stress.py [--n 20000] [--blob 10000]
         [--out /tmp/hot_cluster] [--unguarded]
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


def synthesize(spark, out_dir: str, n: int, blob: int) -> None:
    """blob near-identical vectors + (n - blob) spread background, written
    as {out_dir}/embeddings.parquet in the fixture schema."""
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )

    def rows():
        # Background gets the LOW ids: min-id seeding then plants no seed
        # inside the blob, so the whole blob collapses into its single
        # nearest cluster — the worst case (with blob ids low, the seeds
        # themselves subdivide the blob and soften the quadratic term;
        # measured 3.7k max cluster vs the full 10k this way).
        for i in range(n - blob):
            v = [math.sin(0.7 * i + 1.3 * d) for d in range(DIM)]
            yield (i, [float(x) for x in v], 1)
        for i in range(blob):
            v = [0.5] * DIM
            v[i % DIM] += 1e-3 * (1 + i % 5)
            yield (10_000_000 + i, [float(x) for x in v], 0)

    spark.createDataFrame(list(rows()), schema).repartition(32).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/embeddings.parquet")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=20_000)
    ap.add_argument("--blob", type=int, default=10_000)
    ap.add_argument("--out", default="/tmp/hot_cluster")
    ap.add_argument(
        "--unguarded",
        action="store_true",
        help="also time q_semantic_dedup (the quadratic melt — slow)",
    )
    ap.add_argument(
        "--ann",
        action="store_true",
        help="time capped vs uncapped bulk ANN on the blob corpus"
        " (round-8: the inverted-list cap's O(list^2) guard)",
    )
    args = ap.parse_args()

    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        KMEANS_K,
        SEMDEDUP_TARGET_CLUSTER,
        _semdedup_assignment,
        q_semantic_dedup,
        q_semantic_guarded,
    )

    shutil.rmtree(args.out, ignore_errors=True)
    spark = get_spark("hot_cluster_stress")
    synthesize(spark, args.out, args.n, args.blob)
    k = max(KMEANS_K, args.n // SEMDEDUP_TARGET_CLUSTER)
    cap = args.n // k
    print(
        f"corpus n={args.n} blob={args.blob} -> dynamic K={k}, "
        f"guard cap={cap} (mean cluster size)"
    )

    asg, _, _ = _semdedup_assignment(spark, args.out)
    sizes = sorted(
        (r["n"], r["cid"])
        for r in asg.groupBy("cid").count().withColumnRenamed("count", "n").collect()
    )
    top = sizes[-5:]
    all_pairs = sum(s * (s - 1) // 2 for s, _ in sizes)
    kept_pairs = sum(s * (s - 1) // 2 for s, _ in sizes if s <= cap)
    dropped = [(c, s) for s, c in sizes if s > cap]
    print(f"top clusters (n, cid): {top}")
    print(
        f"analytic scored pairs: unguarded={all_pairs:,} "
        f"guarded={kept_pairs:,} ({len(dropped)} clusters capped)"
    )

    from pyspark.sql import functions as F

    def run(q):
        # NOT .count(): the final left join's right side is keyed-unique,
        # so the optimizer would ELIMINATE the whole dup subtree under a
        # bare count. Aggregating the dup columns forces the pair join.
        df = q(spark, args.out)
        t0 = time.time()
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_dup").cast("int")).alias("n_dup"),
        ).collect()[0]
        return row["n"], row["n_dup"], time.time() - t0

    n_out, n_dup, t_g = run(q_semantic_guarded)
    print(f"q_semantic_guarded: {n_out} rows, {n_dup} dups in {t_g:.1f}s")

    if args.unguarded:
        n_out, n_dup, t_u = run(q_semantic_dedup)
        print(
            f"q_semantic_dedup (unguarded): {n_out} rows, {n_dup} dups "
            f"in {t_u:.1f}s"
        )
        print(f"melt factor: {t_u / t_g:.1f}x")

    if args.ann:
        from mysql_to_clickhouse_sync_spark.operators.ivf import (
            q_ann_bulk_topk,
            q_ann_cap_audit,
            q_ann_capped,
        )

        def run_ann(q, name):
            t0 = time.time()
            n = q(spark, args.out).count()
            t = time.time() - t0
            print(f"{name}: {n} result rows in {t:.1f}s")
            return t

        t_cap = run_ann(q_ann_capped, "q_ann_capped")
        audit = q_ann_cap_audit(spark, args.out)
        row = audit.agg(
            F.max("cap").alias("cap"),
            F.max("n_before").alias("max_before"),
            F.max("n_after").alias("max_after"),
            F.sum("n_dropped").alias("dropped"),
        ).collect()[0]
        print(
            f"cap audit: cap={row['cap']} max list before={row['max_before']}"
            f" after={row['max_after']} dropped={row['dropped']}"
        )
        if row["max_after"] > row["cap"]:
            print("VIOLATION: a list exceeds the cap", file=sys.stderr)
            return 1
        t_un = run_ann(q_ann_bulk_topk, "q_ann_bulk_topk (uncapped)")
        print(f"ann melt factor: {t_un / t_cap:.1f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())
