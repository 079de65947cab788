"""Standing stress GATE for the armed-guard policy (VERDICT r4 item #3).

Rounds 3-4 established by measurement that every banded/bucketed
candidate generator melts on skewed corpora unless its degenerate-bucket
guard is armed (52k-doc simhash hot cell -> 186M pairs; 1.04B-pair
embedding disk-death; 10k-vector SemDeDup blob DNF). Those measurements
lived in one-shot tools; this gate re-runs the CAPPED paths on reduced
skew corpora with PASS/FAIL thresholds so the policy cannot silently rot
— if someone edits a generator and drops its default cap, candidate
counts and wall times blow through the bounds and the gate exits 1.

Checks per stage (all on synthesized skew corpora, never the fixtures):
  * armed-by-default: calling the generator with NO max_bucket argument
    must produce no more candidates than the analytic capped bound
    sum_{bucket n <= cap} n(n-1)/2 computed from the raw band table —
    an uncapped run on these corpora exceeds the bound by construction.
  * the corpus really exercises the guard: the raw band table's max
    bucket exceeds DEFAULT_MAX_BUCKET (else the stage proves nothing).
  * wall-clock bound per stage (generous: the melt is 10-100x it).

Stages:   lang-skew docs (MinHash* + SimHash)   [*minhash's band key
resists language skew by design; its stage checks bounds + armed
default but not the hot-bucket precondition]; label-skew embeddings
(sign-LSH); planted-blob embeddings (SemDeDup guarded path).

Usage:
  python tools/stress_gate.py --quick     # reduced factors, < 5 min
  python tools/stress_gate.py             # round-scale factors

Each round's run is recorded in PLANS.md (the standing-gate ledger).
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.session import get_spark

LANGS = ["de", "fr", "es", "ja", "zh"]


def synth_skew_docs(spark, sf: str, out: str, copies: int, pct: int) -> None:
    """lang_skew_stress's corpus: sf docs replicated verbatim (each doc
    becomes a `copies`-strong near-dup class) with pct% forced 'en'."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n = docs.count()
    rep = (
        docs.crossJoin(spark.range(copies).select(F.col("id").alias("copy")))
        .withColumn("doc_id", F.col("doc_id") + F.col("copy") * (n * 10))
        .drop("copy")
    )
    bucket = F.abs(F.hash("doc_id")) % 100
    tail = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.abs(F.hash("doc_id")) % len(LANGS) + 1).cast("int"),
    )
    rep.withColumn(
        "lang", F.when(bucket < pct, F.lit("en")).otherwise(tail)
    ).repartition(32).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )


def synth_skew_embeddings(
    spark, sf: str, out: str, copies: int, pct: int
) -> None:
    """Label-skew embeddings: sf vectors replicated VERBATIM (identical
    vectors share every sign-LSH band) with pct% forced into label 0 —
    the (label, band, bucket) key concentration that melted round 4's
    uncapped run."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n = emb.count()
    rep = (
        emb.crossJoin(spark.range(copies).select(F.col("id").alias("copy")))
        .withColumn("vec_id", F.col("vec_id") + F.col("copy") * (n * 10))
        .drop("copy")
    )
    bucket = F.abs(F.hash("vec_id")) % 100
    rep.withColumn(
        "label",
        F.when(bucket < pct, F.lit(0)).otherwise(F.col("label")).cast("int"),
    ).repartition(32).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )


def synth_blob_embeddings(spark, out: str, n: int, blob: int) -> None:
    """hot_cluster_stress's corpus: `blob` near-identical vectors at HIGH
    vec_ids (so min-id k-means seeding plants no seed inside the blob)
    over a spread background."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    dim = 64

    def rows():
        for i in range(n - blob):
            yield (
                i,
                [float(math.sin(0.7 * i + 1.3 * d)) for d in range(dim)],
                1,
            )
        for i in range(blob):
            v = [0.5] * dim
            v[i % dim] += 1e-3 * (1 + i % 5)
            yield (10_000_000 + i, [float(x) for x in v], 0)

    spark.createDataFrame(list(rows()), schema).repartition(32).write.mode(
        "overwrite"
    ).parquet(f"{out}/embeddings.parquet")


def bucket_bounds(bands, key_cols, cap: int) -> tuple[int, int, int]:
    """(max bucket, analytic uncapped pairs, analytic capped pairs) from a
    raw banding table — the capped number is the gate's candidate bound:
    the self-join over guarded buckets cannot emit more (distinct-merge
    across bands only shrinks it)."""
    sizes = bands.groupBy(*key_cols).agg(F.count("*").alias("n"))
    row = sizes.agg(
        F.max("n").alias("max_n"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("all_pairs"),
        F.sum(
            F.when(
                F.col("n") <= cap, F.col("n") * (F.col("n") - 1) / 2
            ).otherwise(F.lit(0))
        ).alias("cap_pairs"),
    ).collect()[0]
    return int(row.max_n), int(row.all_pairs), int(row.cap_pairs)


class Gate:
    def __init__(self) -> None:
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str) -> None:
        print(f"  [{'PASS' if ok else 'FAIL'}] {name}: {detail}")
        if not ok:
            self.failures.append(f"{name}: {detail}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true", help="reduced factors")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/stress_gate")
    ap.add_argument("--wall", type=float, default=120.0,
                    help="per-generator wall bound, seconds")
    args = ap.parse_args()

    copies = 6 if args.quick else 25
    pct = 90
    blob_n, blob = (6000, 3000) if args.quick else (20000, 10000)

    from mysql_to_clickhouse_sync_spark.functions.lsh_guard import (
        DEFAULT_MAX_BUCKET as CAP,
    )
    from mysql_to_clickhouse_sync_spark.operators.dedup import (
        MINHASH_CELL,
        NUM_HASHES,
        SIMHASH_CELL,
        minhash_band_table,
        minhash_lsh_candidates,
        minhash_signatures_table,
        simhash_band_table,
        simhash_banded_pairs,
        simhash_table,
    )
    from mysql_to_clickhouse_sync_spark.operators.similarity import (
        EMB_CELL,
        banded_neardup_pairs,
        embedding_band_table,
        with_norm,
    )

    gate = Gate()
    spark = get_spark("stress_gate")
    shutil.rmtree(args.out, ignore_errors=True)
    t_all = time.time()

    # --- Stage 1: language-skew documents (MinHash + SimHash) ------------
    print(f"stage 1: lang-skew docs ({copies}x, {pct}% en) ...")
    synth_skew_docs(spark, args.sf, args.out + "/docs", copies, pct)
    docs = spark.read.parquet(f"{args.out}/docs/documents.parquet").cache()
    docs.count()

    sigs = minhash_signatures_table(docs, "doc_id", "text", NUM_HASHES)
    mbands = minhash_band_table(sigs).cache()
    max_n, all_p, cap_p = bucket_bounds(mbands, MINHASH_CELL, CAP)
    t0 = time.time()
    n_cand = minhash_lsh_candidates(docs).count()  # DEFAULT arguments
    dt = time.time() - t0
    gate.check(
        "minhash armed-default bound",
        n_cand <= cap_p,
        f"default-call candidates {n_cand:,} <= capped bound {cap_p:,} "
        f"(uncapped analytic {all_p:,}, max bucket {max_n})",
    )
    gate.check("minhash wall", dt <= args.wall, f"{dt:.1f}s <= {args.wall}s")
    mbands.unpersist()

    sh = simhash_table(docs, extra_cols=("lang",)).cache()
    sh.count()
    sbands = simhash_band_table(sh)
    max_n, all_p, cap_p = bucket_bounds(sbands, SIMHASH_CELL, CAP)
    gate.check(
        "simhash corpus exercises guard",
        max_n > CAP,
        f"max bucket {max_n} > cap {CAP} "
        f"(uncapped analytic pairs {all_p:,})",
    )
    t0 = time.time()
    n_cand = simhash_banded_pairs(sh).count()  # DEFAULT arguments
    dt = time.time() - t0
    gate.check(
        "simhash armed-default bound",
        n_cand <= cap_p,
        f"default-call candidates {n_cand:,} <= capped bound {cap_p:,}",
    )
    gate.check("simhash wall", dt <= args.wall, f"{dt:.1f}s <= {args.wall}s")
    sh.unpersist()
    docs.unpersist()

    # --- Stage 2: label-skew embeddings (sign-LSH) ------------------------
    print(f"stage 2: label-skew embeddings ({copies}x, {pct}% label 0) ...")
    synth_skew_embeddings(spark, args.sf, args.out + "/emb", copies, pct)
    emb = spark.read.parquet(f"{args.out}/emb/embeddings.parquet").cache()
    emb.count()
    normed = with_norm(emb).filter(F.col("norm") > 0)
    ebands = embedding_band_table(normed)
    max_n, all_p, cap_p = bucket_bounds(ebands, EMB_CELL, CAP)
    gate.check(
        "embedding corpus exercises guard",
        max_n > CAP,
        f"max bucket {max_n} > cap {CAP} "
        f"(uncapped analytic pairs {all_p:,})",
    )
    t0 = time.time()
    n_cand = banded_neardup_pairs(emb, threshold=-2.0).count()  # DEFAULTS
    dt = time.time() - t0
    gate.check(
        "embedding armed-default bound",
        n_cand <= cap_p,
        f"default-call candidates {n_cand:,} <= capped bound {cap_p:,}",
    )
    gate.check("embedding wall", dt <= args.wall, f"{dt:.1f}s <= {args.wall}s")
    emb.unpersist()

    # --- Stage 2b: the composed pipeline at PRODUCTION caps ---------------
    # q_neardup_pipeline's library form with DEFAULT_MAX_BUCKET on a dir
    # carrying BOTH skew corpora — the end-to-end melt check: every
    # generator runs in ladder order; exact reps collapse the verbatim
    # replica mass first, so even the hot simhash cells deflate.
    print("stage 2b: neardup_pipeline at production caps on skew corpora ...")
    from mysql_to_clickhouse_sync_spark.operators.neardup_pipeline import (
        neardup_pipeline,
    )

    import os

    os.makedirs(args.out + "/pipe", exist_ok=True)
    for src, dst in (
        (f"{args.out}/docs/documents.parquet", "documents.parquet"),
        (f"{args.out}/emb/embeddings.parquet", "embeddings.parquet"),
    ):
        tgt = f"{args.out}/pipe/{dst}"
        if not os.path.exists(tgt):
            shutil.copytree(src, tgt)
    t0 = time.time()
    ledger = {
        r.stage: r for r in neardup_pipeline(spark, args.out + "/pipe").collect()
    }
    dt = time.time() - t0
    gate.check(
        "pipeline completes all four stages",
        set(ledger) == {"exact", "minhash", "simhash", "embedding"}
        and ledger["exact"].n_out > 0,
        f"stages {sorted(ledger)} in {dt:.1f}s; "
        f"exact removed {ledger.get('exact') and ledger['exact'].n_out:,}",
    )
    gate.check(
        "pipeline wall", dt <= 2 * args.wall, f"{dt:.1f}s <= {2 * args.wall}s"
    )

    # --- Stage 3: planted-blob embeddings (SemDeDup guarded path) ---------
    print(f"stage 3: planted blob ({blob}/{blob_n}) SemDeDup guarded ...")
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        KMEANS_K,
        SEMDEDUP_TARGET_CLUSTER,
        _semdedup_assignment,
        q_semantic_guarded,
    )

    synth_blob_embeddings(spark, args.out + "/blob", blob_n, blob)
    k = max(KMEANS_K, blob_n // SEMDEDUP_TARGET_CLUSTER)
    cap_c = blob_n // k
    asg, _, _ = _semdedup_assignment(spark, args.out + "/blob")
    sizes = [
        r["n"]
        for r in asg.groupBy("cid")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    dropped = [s for s in sizes if s > cap_c]
    kept_pairs = sum(s * (s - 1) // 2 for s in sizes if s <= cap_c)
    gate.check(
        "semdedup blob lands in a capped cluster",
        bool(dropped) and max(dropped) >= blob // 2,
        f"clusters over cap {cap_c}: {sorted(dropped, reverse=True)[:3]} "
        f"(guarded analytic pairs {kept_pairs:,})",
    )
    t0 = time.time()
    row = (
        q_semantic_guarded(spark, args.out + "/blob")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_dup").cast("int")).alias("n_dup"),
        )
        .collect()[0]
    )
    dt = time.time() - t0
    gate.check(
        "semdedup guarded wall",
        dt <= args.wall,
        f"{row['n']} rows / {row['n_dup']} dups in {dt:.1f}s <= {args.wall}s",
    )

    shutil.rmtree(args.out, ignore_errors=True)
    print(f"total {time.time() - t_all:.1f}s")
    if gate.failures:
        print(f"STRESS GATE FAILED ({len(gate.failures)}):")
        for f in gate.failures:
            print(f"  - {f}")
        return 1
    print("STRESS GATE PASSED")
    return 0


if __name__ == "__main__":
    sys.exit(main())
