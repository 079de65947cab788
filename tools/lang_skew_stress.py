"""Language-skew stress for the banded dedup paths (VERDICT r3 item #3).

The 10x/25x/50x scaling curves replicate the fixture UNIFORMLY; real
corpora are 90%-one-language, and both banded candidate generators key
their buckets on (lang, band/chunk, value) — so a dominant language
concentrates every bucket key into one lang partition. This tool
synthesizes that corpus: the sf0.1 documents replicated ``--copies``
times with doc_id offsets, langs reassigned so ``--dominant-pct`` of
docs are 'en' (deterministic by doc_id). Text is kept VERBATIM across
copies — each source doc becomes a ``copies``-strong near-dup class,
exactly the boilerplate-rich regime that melts LSH buckets.

For each generator (MinHash-LSH bands, SimHash pigeonhole chunks) it
reports, unguarded vs cap_buckets(DEFAULT_MAX_BUCKET):
  * the bucket-size distribution top (the hot keys themselves),
  * candidate-pair count and wall time to a forced full count (MinHash:
    band_pairs over the cached band table; SimHash: simhash_banded_pairs,
    including its hamming re-score).

Usage:
  python tools/lang_skew_stress.py [--copies 25] [--dominant-pct 90]
         [--out /tmp/lang_skew] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.session import get_spark

LANGS = ["de", "fr", "es", "ja", "zh"]  # the 10% tail


def synthesize(spark, sf: str, out_dir: str, copies: int, dominant_pct: int):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n = docs.count()
    rep = (
        docs.crossJoin(
            spark.range(copies).select(F.col("id").alias("copy"))
        )
        .withColumn("doc_id", F.col("doc_id") + F.col("copy") * (n * 10))
        .drop("copy")
    )
    # Deterministic skew: dominant_pct% 'en', remainder spread over LANGS.
    bucket = F.abs(F.hash("doc_id")) % 100
    tail = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.abs(F.hash("doc_id")) % len(LANGS) + 1).cast("int"),
    )
    rep = rep.withColumn(
        "lang", F.when(bucket < dominant_pct, F.lit("en")).otherwise(tail)
    )
    rep.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    return n * copies


def bucket_stats(bands, key_cols):
    sizes = bands.groupBy(*key_cols).agg(F.count("*").alias("n"))
    row = sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("n").alias("max_n"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
    ).collect()[0]
    top = sizes.orderBy(F.col("n").desc()).limit(3).collect()
    return row, top


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=25)
    ap.add_argument("--dominant-pct", type=int, default=90)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/lang_skew")
    args = ap.parse_args()

    from mysql_to_clickhouse_sync_spark.functions.lsh_guard import (
        DEFAULT_MAX_BUCKET,
        band_pairs,
    )
    from mysql_to_clickhouse_sync_spark.operators.dedup import (
        MINHASH_CELL,
        NUM_HASHES,
        SIMHASH_CELL,
        minhash_band_table,
        minhash_signatures_table,
        simhash_band_table,
        simhash_banded_pairs,
        simhash_table,
    )

    shutil.rmtree(args.out, ignore_errors=True)
    spark = get_spark("lang_skew_stress")
    total = synthesize(
        spark, args.sf, args.out, args.copies, args.dominant_pct
    )
    docs = spark.read.parquet(f"{args.out}/documents.parquet").cache()
    by_lang = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    print(
        f"corpus {total} docs x{args.copies}, lang mix "
        f"{sorted(by_lang.items(), key=lambda kv: -kv[1])[:3]}..."
    )

    # --- MinHash bands (keys carry no lang — skew enters via content) -----
    # the PRODUCTION banding (minhash_band_table), so these measurements
    # describe exactly the scheme the guard sees
    sigs = minhash_signatures_table(docs, "doc_id", "text", NUM_HASHES)
    bands = minhash_band_table(sigs).cache()
    row, top = bucket_stats(bands, MINHASH_CELL)
    print(
        f"minhash buckets: {row.n_buckets:,}, max={row.max_n}, "
        f"analytic pairs={int(row.pairs):,}; "
        f"top={[(r.band_idx, r.n) for r in top]}"
    )
    for cap in (None, DEFAULT_MAX_BUCKET):
        t0 = time.time()
        # the band self-join alone: minhash_lsh_candidates returns exactly
        # these pairs (its re-score keeps every candidate)
        n_cand = band_pairs(bands, "doc_id", MINHASH_CELL, cap).count()
        print(
            f"minhash candidates (cap={cap}): {n_cand:,} "
            f"in {time.time() - t0:.1f}s"
        )

    # --- SimHash chunks ---------------------------------------------------
    sh = simhash_table(docs, extra_cols=("lang",)).cache()
    sh.count()
    sbands = simhash_band_table(sh)
    row, top = bucket_stats(sbands, SIMHASH_CELL)
    print(
        f"simhash buckets: {row.n_buckets:,}, max={row.max_n}, "
        f"analytic pairs={int(row.pairs):,}; "
        f"top={[(r.lang, r.chunk_idx, r.n) for r in top]}"
    )
    for cap in (None, DEFAULT_MAX_BUCKET):
        t0 = time.time()
        n_cand = simhash_banded_pairs(sh, max_bucket=cap).count()
        print(
            f"simhash candidates (cap={cap}): {n_cand:,} "
            f"in {time.time() - t0:.1f}s"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
