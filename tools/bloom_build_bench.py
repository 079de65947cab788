"""Measure the q_bloom_join filter BUILD at a >=10M-key synthetic scale:
old path (collect one Row per populated 64-bit word, lay out a Python
list, pickle it into the rebroadcast) vs shipped path (_bj_build_bitmap:
one JVM aggregate lays the words out as a single array<long> value;
nothing per-word ever exists in Python). Both produce bit-identical
bitmaps; this script pins the driver-side assembly-time and
transfer-shape difference that made the old path a multi-GB driver
bottleneck at the query's stated 100M-key design regime.

Usage: python tools/bloom_build_bench.py [n_keys=10_000_000]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.operators.joins import (
    BJ_BITS_PER_KEY,
    BJ_SLICES,
    _bj_build_bitmap,
    _bj_pos_spark,
)


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    keys = spark.range(n_keys).select(F.col("id").alias("o_orderkey"))
    m = max(64, BJ_BITS_PER_KEY * n_keys)
    n_words = (m + 63) // 64

    def word_rows_df():
        return (
            keys.select(
                F.explode(
                    F.array(
                        *[
                            _bj_pos_spark(F.col("o_orderkey"), s, m)
                            for s in BJ_SLICES
                        ]
                    )
                ).alias("p")
            )
            .distinct()
            .select(
                (F.col("p") / 64).cast("int").alias("w"),
                F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("mask"),
            )
            .groupBy("w")
            .agg(F.expr("bit_or(mask)").alias("word"))
        )

    # -- OLD: one collected Row per populated word + Python-list pickle
    rss0 = rss_mb()
    t0 = time.monotonic()
    rows = word_rows_df().collect()
    t_collect_old = time.monotonic() - t0
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["word"]
    bitmap_old = spark.createDataFrame([(words,)], "bits array<long>")
    checksum_old = bitmap_old.select(
        F.expr("aggregate(bits, 0L, (a, x) -> a ^ x)")
    ).collect()[0][0]
    t_old = time.monotonic() - t0
    rss_after_old = rss_mb()
    n_rows_old = len(rows)
    del rows, words, bitmap_old

    # -- NEW: executor-side binary stripes, bytes to the driver
    t0 = time.monotonic()
    bitmap_new = _bj_build_bitmap(spark, keys, "o_orderkey", m)
    checksum_new = bitmap_new.select(
        F.expr("aggregate(bits, 0L, (a, x) -> a ^ x)")
    ).collect()[0][0]
    t_new = time.monotonic() - t0
    rss_after_new = rss_mb()

    assert checksum_old == checksum_new, (checksum_old, checksum_new)
    print(
        json.dumps(
            {
                "n_keys": n_keys,
                "m_bits": m,
                "n_words": n_words,
                "old_rows_collected": n_rows_old,
                "old_total_sec": round(t_old, 2),
                "old_collect_sec": round(t_collect_old, 2),
                "new_total_sec": round(t_new, 2),
                "rss_mb_start": round(rss0, 1),
                "rss_mb_after_old": round(rss_after_old, 1),
                "rss_mb_after_new": round(rss_after_new, 1),
                "checksum": checksum_new,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
